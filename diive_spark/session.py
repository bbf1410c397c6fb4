"""SparkSession factory with scale-oriented defaults.

All defaults are safe for both a local master and a large cluster: AQE
(runtime re-planning + skew-join splitting), Arrow for pandas UDF
transfer, UTC session time zone so timestamp semantics are deterministic,
one shuffle partition per core of the context's default parallelism, and
no DataFrame call-site capture.

PySpark 4.1 wraps every Column function in call-site capture
(``pyspark/errors/utils.py::_with_origin``): about 20 py4j calls per
function, so ``F.col`` costs 25 calls and building ``add_qcf`` 629.
``spark.python.sql.dataFrameDebugging.enabled=false`` turns it off; the
cost is that an analysis error no longer names the Python line that built
the failing expression.  The conf is static, and PySpark reads it once per
process, at the first Column call: a session that already runs (the one
``tune_session`` gets) turns the capture off through PySpark's cached
copy of the flag.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# PySpark's per-Column-call call-site capture (see the module docstring)
DEBUGGING_CONF = "spark.python.sql.dataFrameDebugging.enabled"


def _no_call_site_capture() -> None:
    """Turn off call-site capture for this process, also under a session
    created without ``DEBUGGING_CONF`` (a static conf, fixed at start)."""
    import pyspark.errors.utils as origin

    origin._enable_debugging_cache = False


def get_spark(
    master: str | None = None,
    app_name: str = "diive-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession tuned for the rollup engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox; on a
    real cluster the caller leaves it unset and ``spark-submit`` provides it.
    ``shuffle_partitions`` defaults to the context's default parallelism
    (one partition per core on a local master).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # large Arrow batches amortize Python worker round-trips in kernels
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config(DEBUGGING_CONF, "false")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    # queries may run under a driver-provided session: enforce runtime confs
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    _no_call_site_capture()
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(shuffle_partitions or spark.sparkContext.defaultParallelism),
    )
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally created session
    (the correctness driver passes its own SparkSession to ``entry``),
    and switch off DataFrame call-site capture (see the module
    docstring)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    _no_call_site_capture()
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    return spark


def kernel_partition(df, *cols):
    """Repartition a DataFrame by key for a CPU-bound grouped kernel.

    AQE's coalescePartitions sizes post-shuffle partitions by BYTES, which
    collapses small-but-CPU-heavy Python kernel stages (bootstrap fits,
    iterated outlier kernels, per-series ML) onto 1-2 tasks and idles the
    rest of the cluster.  An explicit user repartition with a stated
    partition count is exempt from AQE coalescing, and because
    HashPartitioning(cols, N) satisfies the downstream groupBy's
    ClusteredDistribution there is still exactly ONE exchange — the same
    shuffle, just with its width pinned to the configured parallelism
    instead of the byte estimate.
    """
    spark = df.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *cols)
