"""Outlier-detection operators (SURVEY §2.4 T1/T2, §2.8 F2-F4).

Two tiers per SURVEY §7.1:
  * expression tier — single-pass flags as pure window/aggregate expressions
    (whole-stage codegen, scales to any series length);
  * kernel tier — the reference's iterate-until-clean loops
    (/root/reference/diive/core/base/flagbase.py:122-140) run INSIDE a
    grouped Arrow kernel (``applyInPandas``): convergence is local to one
    series, so the cluster sees a single pass regardless of iteration count.

The kernels reuse the pandas-oracle functions verbatim, which by
construction makes them bit-exact with the reference algorithms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ByteType, StructField, StructType

from diive_spark.oracle import pandas_oracle as _oracle

from diive_spark.session import kernel_partition


def zscore_flag_expr(
    df: DataFrame,
    key_col: str = "url",
    value_col: str = "value",
    thres_zscore: float = 4.0,
    flag_col: str = "flag_zscore",
) -> DataFrame:
    """Single-iteration z-score flag: 2 where
    ``abs((v - mean) / stddev_pop) > thres`` per series
    (/root/reference/diive/core/funcs/funcs.py:37-41 — POPULATION std,
    np.std ddof=0; strict > per zscore.py:195-196). Null values get 0."""
    w = Window.partitionBy(key_col)
    v = F.col(value_col)
    mean = F.avg(value_col).over(w)
    sd = F.stddev_pop(value_col).over(w)
    z = F.abs((v - mean) / sd)
    return df.withColumn(
        flag_col,
        F.when(v.isNotNull() & (z > thres_zscore), F.lit(2))
        .otherwise(F.lit(0))
        .cast("tinyint"),
    )


def zscore_flag_daynight_expr(
    df: DataFrame,
    key_col: str,
    value_col: str,
    daytime_col: str,
    thres_zscore: float = 4.0,
    flag_col: str = "flag_zscore_dn",
) -> DataFrame:
    """z-score flag computed SEPARATELY within the daytime and nighttime
    populations of each series (SURVEY §2.8 F4,
    /root/reference/diive/pkgs/outlierdetection/zscore.py:25-136): same
    population-σ test as :func:`zscore_flag_expr` but partitioned by
    ``(key, daytime)`` — day/night each get their own mean/σ."""
    w = Window.partitionBy(key_col, daytime_col)
    v = F.col(value_col)
    z = F.abs((v - F.avg(value_col).over(w)) / F.stddev_pop(value_col).over(w))
    return df.withColumn(
        flag_col,
        F.when(v.isNotNull() & (z > thres_zscore), F.lit(2))
        .otherwise(F.lit(0))
        .cast("tinyint"),
    )


def zscore_increments_flag_expr(
    df: DataFrame,
    key_col: str = "url",
    ts_col: str = "ts",
    value_col: str = "value",
    thres_zscore: float = 4.0,
    flag_col: str = "flag_zscore_incr",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """z-score on first differences
    (/root/reference/diive/pkgs/outlierdetection/incremental.py:62-88):
    ``increment = v - lag(v)`` per series in timestamp order, then the
    population-σ z-score test on the increments."""
    order = [F.col(c) for c in (order_cols or [ts_col])]
    w_lag = Window.partitionBy(key_col).orderBy(*order)
    w = Window.partitionBy(key_col)
    inc = F.col(value_col) - F.lag(value_col, 1).over(w_lag)
    out = df.withColumn("__inc", inc)
    z = F.abs((F.col("__inc") - F.avg("__inc").over(w)) / F.stddev_pop("__inc").over(w))
    return out.withColumn(
        flag_col,
        F.when(F.col("__inc").isNotNull() & (z > thres_zscore), F.lit(2))
        .otherwise(F.lit(0))
        .cast("tinyint"),
    ).drop("__inc")


def hampel_flag_expr(
    df: DataFrame,
    key_col: str = "url",
    ts_col: str = "ts",
    value_col: str = "value",
    winsize: int = 15,
    n_sd: float = 7.0,
    flag_col: str = "flag_hampel",
    chunk_rows: int | None = None,
) -> DataFrame:
    """Single-pass LocalSD/Hampel flag, JVM-side (SURVEY §2.4 T1 scale path):
    centered rolling median (exact ``percentile`` over a row frame — Spark
    has no rolling-median builtin but allows the exact percentile aggregate
    in a window frame) ± ``n_sd`` × rolling sample std, ``min_periods=3``,
    over the NON-NULL record positions (localsd.py:77-91 rolls over the
    dropna'd series). ``winsize`` must be odd (centered frame).

    One window over every row: ordered by ``(value IS NULL, ts)``, so each
    key's null rows sort after all of its non-null rows. A non-null row's
    ``±winsize//2`` frame then holds only its dropna'd neighbours, plus —
    near the end of the series — trailing null rows that ``percentile``,
    ``stddev_samp`` and ``count`` skip. Each aggregate is computed once per
    row. Null rows get flag 0.

    ``chunk_rows``: halo-chunk the per-key window so a monster series never
    lands in one task — exact global row numbers (no per-key-wide window),
    winsize//2 halo rows duplicated across each chunk edge, window runs per
    (key, chunk), own rows kept.  Chunked output == unchunked output for
    ANY null distribution (the row frame rolls over non-null positions and
    chunking happens on exactly those positions); pytest-pinned. Only this
    path filters out the null rows and unions them back with flag 0."""
    half = winsize // 2
    v = F.col(value_col)
    if chunk_rows:
        from diive_spark.operators.chunking import (
            explode_halo_chunks,
            with_global_rn,
        )

        src = explode_halo_chunks(
            with_global_rn(df.filter(v.isNotNull()), key_col, ts_col),
            "__rn",
            chunk_rows,
            half,
        )
        w = (
            Window.partitionBy(key_col, "__chunk")
            .orderBy(ts_col)
            .rowsBetween(-half, half)
        )
    else:
        src = df
        w = (
            Window.partitionBy(key_col)
            .orderBy(v.isNull(), ts_col)
            .rowsBetween(-half, half)
        )
    stats = src.withColumns(
        {
            "__med": F.expr(f"percentile({value_col}, 0.5)").over(w),
            "__sd": F.stddev_samp(value_col).over(w),
            "__cnt": F.count(value_col).over(w),
        }
    )
    med, sd = F.col("__med"), F.col("__sd")
    flagged = stats.withColumn(
        flag_col,
        F.when(
            (F.col("__cnt") >= 3) & ((v > med + n_sd * sd) | (v < med - n_sd * sd)),
            F.lit(2),
        )
        .otherwise(F.lit(0))
        .cast("tinyint"),
    ).drop("__med", "__sd", "__cnt")
    if not chunk_rows:
        return flagged
    flagged = flagged.filter(
        F.col("__chunk") == F.floor(F.col("__rn") / chunk_rows)
    ).drop("__rn", "__chunk")
    nulls = df.filter(v.isNull()).withColumn(flag_col, F.lit(0).cast("tinyint"))
    return flagged.unionByName(nulls)


def _grouped_flag_kernel(
    df: DataFrame,
    fn,
    key_col: str,
    ts_col: str,
    value_col: str,
    flag_col: str,
    grid_step: int | None = None,
    chunk_slots: int | None = None,
    halo_slots: int | None = None,
    **kw,
):
    """Run a pandas per-series flag function as a grouped Arrow kernel.

    One Arrow batch per series; the kernel sorts by ts (Spark groups are
    unordered) and appends the tinyint flag column.

    ``grid_step``: reindex each series onto its complete [min, max] grid
    INSIDE the kernel (the reference's ``reindex``) — callers pass the
    sparse aggregate instead of a distributed sequence/explode + join grid,
    saving two shuffles and a 2x-row join.

    ``chunk_slots``/``halo_slots`` (grid units; requires ``grid_step``):
    halo-chunk each series so one 10⁹-point key cannot OOM a task — rows
    within ``halo_slots`` of a chunk edge are duplicated into the adjacent
    chunk, the kernel runs per (key, chunk) and keeps only own-chunk rows.
    For the single-pass rolling kernels halo = winsize//2 is exact when
    every chunk edge has observations within the halo; for the ITERATED
    kernels (repeat-until-clean) flag influence can travel one winsize per
    iteration, so size halo ≥ winsize × the expected iteration count
    (tests pin equality on convergent series — the documented residual is
    pathological non-local convergence)."""
    # copy: StructType.add mutates in place and df.schema is cached
    schema = StructType(list(df.schema.fields) + [StructField(flag_col, ByteType())])

    chunked = chunk_slots is not None
    if chunked:
        if grid_step is None or halo_slots is None:
            raise ValueError("chunk_slots requires grid_step and halo_slots")
        from diive_spark.operators.chunking import explode_halo_chunks

        df = explode_halo_chunks(
            df.withColumn("__slotpos", F.col(ts_col) / grid_step),
            "__slotpos",
            chunk_slots,
            halo_slots,
        ).drop("__slotpos")
        group_cols = [key_col, "__chunk"]
    else:
        group_cols = [key_col]

    def apply(pdf):
        chunk_id = int(pdf["__chunk"].iloc[0]) if chunked else None
        if chunked:
            pdf = pdf.drop(columns="__chunk")
        pdf = pdf.sort_values(ts_col).reset_index(drop=True)
        if grid_step is not None and len(pdf):
            import numpy as np

            full = np.arange(
                int(pdf[ts_col].iloc[0]),
                int(pdf[ts_col].iloc[-1]) + grid_step,
                grid_step,
                dtype=np.int64,
            )
            key = pdf[key_col].iloc[0]
            pdf = (
                pdf.set_index(ts_col)
                .reindex(full)
                .rename_axis(ts_col)
                .reset_index()
            )
            pdf[key_col] = key
        s = pdf[value_col]
        flag = fn(s, **kw)
        pdf[flag_col] = flag.to_numpy().astype("int8")
        if chunked:
            lo = chunk_id * chunk_slots * grid_step
            hi = lo + chunk_slots * grid_step
            pdf = pdf[(pdf[ts_col] >= lo) & (pdf[ts_col] < hi)]
        return pdf

    return (
        kernel_partition(df, *group_cols)
        .groupBy(*group_cols)
        .applyInPandas(apply, schema)
    )


def zscore_flag_iterated(
    df: DataFrame,
    key_col: str = "url",
    ts_col: str = "ts",
    value_col: str = "value",
    thres_zscore: float = 4.0,
    flag_col: str = "flag_zscore",
    grid_step: int | None = None,
) -> DataFrame:
    """Reference-exact iterated z-score (repeat-until-clean,
    flagbase.py:122-140 + zscore.py:185-204) as a grouped Arrow kernel."""
    return _grouped_flag_kernel(
        df,
        _oracle.zscore_flag,
        key_col,
        ts_col,
        value_col,
        flag_col,
        grid_step=grid_step,
        thres_zscore=thres_zscore,
        repeat=True,
    )


def localsd_flag_kernel(
    df: DataFrame,
    key_col: str = "url",
    ts_col: str = "ts",
    value_col: str = "value",
    n_sd: float = 7.0,
    winsize: int | None = None,
    flag_col: str = "flag_localsd",
    grid_step: int | None = None,
    chunk_slots: int | None = None,
    halo_slots: int | None = None,
) -> DataFrame:
    """Reference-exact LocalSD outlier flag (rolling median ± n_sd*sd over
    dropna'd positions, iterated until clean; localsd.py:73-101) as a
    grouped Arrow kernel."""
    return _grouped_flag_kernel(
        df,
        _oracle.localsd_flag,
        key_col,
        ts_col,
        value_col,
        flag_col,
        grid_step=grid_step,
        chunk_slots=chunk_slots,
        halo_slots=halo_slots,
        n_sd=n_sd,
        winsize=winsize,
    )
