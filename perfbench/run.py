"""Rollup-engine benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload screen|ingest --seed N \\
        --seconds S --trace 0|1

Run from the repository root.  One closed-loop client (this process)
drives the engine's public functions on ``local[<cpus>]``; the next
operation starts only after the previous one finished and was checked.

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` replays every
operation once untraced and once traced (spans at each layer boundary) and
reports the per-layer metrics, each layer's self time, and the tracing
overhead.  The spans are written to ``.perfbench_work/trace-*.json``.
The last line of standard output is the result object; the lines before
it list every metric with its unit.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

from spans import NullTracer, Tracer, layer_report, self_times

ROOT = Path(__file__).resolve().parent.parent

SETUP_REPS = 3  # setup_s is the median of this many set-ups


# per-layer metrics: (name, unit, span selector, span value); a selector
# ending in "." matches every span under that prefix, "" every span but the
# trace layer's own bookkeeping;
# value "s" is span seconds, anything else a span count.  Reported as the
# mean per traced operation.
PER_LAYER = [
    ("sanitize.dedup_s", "s", "sanitize.dedup", "s"),
    ("sanitize.rows_in", "count", "sanitize.dedup", "rows_in"),
    ("sanitize.rows_dropped", "count", "sanitize.dedup", "rows_dropped"),
    ("outliers.zscore_kernel_s", "s", "outliers.zscore_kernel", "s"),
    ("outliers.zscore_groups", "count", "outliers.zscore_kernel", "groups"),
    ("outliers.hampel_s", "s", "outliers.hampel", "s"),
    ("outliers.flagged_rows", "count", "outliers.hampel", "flagged_rows"),
    ("flags.qcf_s", "s", "flags.qcf", "s"),
    ("gapfill.interp_s", "s", "gapfill.interp", "s"),
    ("gapfill.filled_rows", "count", "gapfill.interp", "filled_rows"),
    ("resample.rollup_1m_s", "s", "resample.rollup_1m", "s"),
    ("resample.rollup_1h_s", "s", "resample.rollup_1h", "s"),
    ("resample.rollup_1d_s", "s", "resample.rollup_1d", "s"),
    ("resample.buckets_out", "count", "resample.", "buckets_out"),
    ("tiers.apply_batch_s", "s", "tiers.apply_batch", "s"),
    ("tiers.merged_partitions", "count", "tiers.apply_batch", "merged_partitions"),
    ("tiers.files_written", "count", "tiers.", "files_written"),
    ("tiers.bytes_written", "bytes", "tiers.", "bytes_written"),
    ("tiers.skipped_batches", "count", "tiers.apply_batch", "skipped"),
    ("tiers.compact_s", "s", "tiers.compact", "s"),
    ("tiers.expire_s", "s", "tiers.expire", "s"),
    ("tiers.read_tier_s", "s", "tiers.read_tier", "s"),
    ("tiers.files_scanned", "count", "tiers.read_tier", "files_scanned"),
    ("compression.encode_s", "s", "compression.encode", "s"),
    ("compression.decode_s", "s", "compression.decode", "s"),
    ("compression.points", "count", "compression.encode", "points"),
    ("spark.jobs", "count", "", "jobs"),
    ("spark.stages", "count", "", "stages"),
    ("spark.tasks", "count", "", "tasks"),
    ("spark.tasks_failed", "count", "", "tasks_failed"),
]
# (name, numerator count, denominator count, span selector)
RATIOS = [
    ("resample.gate_pass_ratio", "buckets_out", "buckets_in", "resample."),
    ("compression.ratio", "enc_bytes", "raw_bytes", "compression."),
]
SELF_LAYERS = ["op", "sanitize", "outliers", "flags", "gapfill", "resample", "tiers", "compression"]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("screen", "ingest"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_session(work: Path):
    from diive_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    # one shuffle partition per core, as the test suite's session uses: the
    # engine's default (32) is sized for local[32], and on fewer cores every
    # Python-kernel stage then pays its per-task cost in many waves
    return get_spark(
        master=f"local[{cpus}]",
        app_name="perfbench",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # -Xms: a heap that starts at its full size, so the garbage
            # collection between operations cannot shrink it and no
            # operation pays for faulting its pages back in.
            # TieredStopAtLevel=1 (C1 only): with the default C2 tier,
            # `screen` latency kept falling by ~30% over the first dozen
            # operations, and where a run's few timed operations sat on
            # that slope decided its median; under C1 it is flat from the
            # third operation (perfbench/README.md, "Steadiness")
            "spark.driver.extraJavaOptions": (
                f"-Xms2g -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={work / 'tmp'}"
            ),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Loop:
    """Closed-loop client: runs, times and checks operations."""

    def __init__(self, spark, name: str):
        self.spark, self.name = spark, name
        self.lat: list[float] = []
        self.check_s = 0.0  # untimed: checks, cache clearing, collection
        self.points = 0
        self.attempted = self.failed = 0

    def once(self, wl, i: int, tr, count: bool = True) -> float:
        """Run operation ``i``; returns its latency.  Checks run untimed."""
        t0 = time.perf_counter()
        dt = None
        try:
            with tr.span(f"op.{self.name}", i):
                out = wl.run(i, tr)
            dt = time.perf_counter() - t0
            errs = wl.check(i, out)
        except Exception:  # an operation or check that raises counts as failed
            dt = time.perf_counter() - t0 if dt is None else dt
            errs = [traceback.format_exc()]
        finally:
            self.spark.catalog.clearCache()
            # collect garbage between operations, not during the next one
            self.spark.sparkContext._jvm.java.lang.System.gc()
            gc.collect()
            self.check_s += time.perf_counter() - t0 - dt
        for e in errs[:3]:
            print(f"CHECK FAILED op {i}: {e}", file=sys.stderr)
        if count:
            self.attempted += 1
            self.failed += bool(errs)
            self.lat.append(dt)
            self.points += wl.points(i)
        return dt

    def finish(self, wl, tr) -> None:
        t0 = time.perf_counter()
        extra, errs = wl.finish(tr)
        self.check_s += time.perf_counter() - t0
        for e in errs[:3]:
            print(f"CHECK FAILED at finish: {e}", file=sys.stderr)
        self.attempted += extra
        # a wrong final state cannot be attributed: every operation failed
        if errs:
            self.failed = self.attempted


def per_layer_metrics(tracer, n_ops: int, extra: dict) -> dict:
    def sel(s, selector):
        if selector == "":
            return s.layer != "trace"
        if selector.endswith("."):
            return s.name.startswith(selector)
        return s.name == selector

    spans = tracer.spans
    out = {}
    for name, unit, selector, what in PER_LAYER:
        total = sum(
            (s.duration if what == "s" else s.counts.get(what, 0))
            for s in spans
            if sel(s, selector)
        )
        out[name] = (total / n_ops, unit)
    for name, num, den, selector in RATIOS:
        a = sum(s.counts.get(num, 0) for s in spans if sel(s, selector))
        b = sum(s.counts.get(den, 0) for s in spans if sel(s, selector))
        out[name] = (a / b if b else 0.0, "ratio")
    selfs = self_times(spans)
    for layer in SELF_LAYERS:
        out[f"{layer}.self_s"] = (
            sum(t for s, t in zip(spans, selfs) if s.layer == layer) / n_ops,
            "s",
        )
    for name, value in extra.items():
        out[name] = (value, "s")
    # what the operation's stages would cost if each were a trivial job
    out["spark.stage_floor_s"] = (out["spark.stages"][0] * extra["trace.empty_stage_s"], "s")
    return out


def empty_stage_s(spark, reps: int = 15) -> float:
    """Median wall time of a job of one stage with one empty task per core:
    the scheduler's fixed cost per stage, outside every span."""
    cpus = spark.sparkContext.defaultParallelism
    lat = []
    for _ in range(reps):
        t0 = time.perf_counter()
        spark.range(cpus, numPartitions=cpus).write.format("noop").mode("overwrite").save()
        lat.append(time.perf_counter() - t0)
    return statistics.median(lat)


def bench(args, work: Path) -> dict:
    import workloads

    t0 = time.perf_counter()
    spark = start_session(work)
    session_s = time.perf_counter() - t0
    try:
        setups = []
        for r in range(SETUP_REPS):
            rep_dir = work / f"setup{r}"
            rep_dir.mkdir()
            wl = workloads.WORKLOADS[args.workload](spark, rep_dir, args.seed)
            t0 = time.perf_counter()
            shape = wl.setup()
            setups.append(time.perf_counter() - t0)
            if r + 1 < SETUP_REPS:
                shutil.rmtree(rep_dir)
        setup_s = session_s + statistics.median(setups)
        print(f"traffic shape: {json.dumps(shape)}")
        print(f"set-up: session {session_s:.3f} s, inputs {[round(x, 3) for x in setups]} s")

        null = NullTracer()
        loop = Loop(spark, args.workload)
        if args.trace:
            tracer = Tracer(spark.sparkContext)
            lanes = [wl.lane("untraced"), wl.lane("traced")]
        else:
            lanes = [wl]
        warm = [
            loop.once(lane, i, null, count=False)
            for lane in {id(x): x for x in lanes}.values()
            for i in range(-wl.warmup_ops, 0)
        ]
        print(f"warm-up: {sum(warm):.3f} s: {[round(x, 3) for x in warm]}")

        spent, i = 0.0, 0
        untraced, traced = [], []
        while (spent < args.seconds or i < wl.min_ops) and wl.available(i):
            if args.trace:
                # alternate which replay goes first, so neither pays every
                # first use of a code path
                pair = [(lanes[0], null, untraced), (lanes[1], tracer, traced)]
                for lane, tr, lats in pair[:: 1 if i % 2 == 0 else -1]:
                    lats.append(loop.once(lane, i, tr))
                spent += untraced[-1] + traced[-1]
            else:
                spent += loop.once(wl, i, null)
            i += 1
        if args.trace:
            loop.finish(lanes[0], null)
            loop.finish(lanes[1], tracer)
            stage_s = empty_stage_s(spark)
        else:
            loop.finish(wl, null)
    finally:
        stop_session(spark)

    print(f"operations: {loop.attempted} attempted, {loop.failed} failed, "
          f"failed_frac {loop.failed / max(loop.attempted, 1):.4f}; checks {loop.check_s:.3f} s")
    if args.trace:
        n = len(traced)
        extra = {
            "session.start_s": session_s,
            "trace.untraced_op_s": sum(untraced) / n,
            "trace.traced_op_s": sum(traced) / n,
            "trace.overhead_s": (sum(traced) - sum(untraced)) / n,
            "trace.empty_stage_s": stage_s,
        }
        metrics = per_layer_metrics(tracer, n, extra)
        dump = ROOT / ".perfbench_work" / f"trace-{args.workload}-s{args.seed}.json"
        tracer.dump(str(dump), {"workload": args.workload, "seed": args.seed, "traced_ops": n, **extra})
        print(f"spans: {len(tracer.spans)} written to {dump.relative_to(ROOT)}")
        for layer, r in layer_report(tracer.spans).items():
            print(f"layer {layer:12s} spans {r['spans']:4d}  total {r['total_s']:8.3f} s  self {r['self_s']:8.3f} s")
    else:
        timed = sum(loop.lat)
        metrics = {
            "setup_s": (setup_s, "s"),
            "pts_per_s": (loop.points / timed, "1/s"),
            "op_p50_s": (statistics.median(loop.lat), "s"),
            "storage_bytes": (wl.storage_bytes(), "bytes"),
        }
        print(f"timed: {len(loop.lat)} operations in {timed:.3f} s: {[round(x, 3) for x in loop.lat]}")
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    return {
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    # Spark's Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    work = ROOT / ".perfbench_work" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    # keep every scratch file of Spark and its Python workers in the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    try:
        result = bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
