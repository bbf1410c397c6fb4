"""The benchmark workloads.

Each workload owns its generated inputs and exposes

* ``setup()``        — generate inputs and write them to parquet; returns
                       the traffic shape it produced;
* ``run(i, tr)``     — operation ``i`` (timed by the caller; ``i < 0`` are
                       the ``warmup_ops`` warm-up operations), calling the
                       engine's public functions; ``tr`` is the tracer;
* ``check(i, out)``  — untimed correctness check of ``run``'s output;
* ``finish(tr)``     — end-of-run checks on accumulated state; returns
                       (extra operations attempted, errors);
* ``lane(tag)``      — an independent copy for the traced run, which
                       replays every operation once untraced and once traced;
* ``available(i)``, ``points(i)``, ``storage_bytes()`` and ``min_ops`` —
                       what the loop needs to pace and report.

An operation always starts from a fresh DataFrame lineage (a parquet read)
and materialises every output column: a ``noop`` write or a collect of the
checked result — never a ``count()``, which lets Catalyst prune the flag
and window columns no output references.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from diive_spark.compression.blocks import compress_blocks, decompress_blocks
from diive_spark.config import DEFAULT_TIERS
from diive_spark.operators.flags import add_qcf
from diive_spark.operators.gapfill import linear_interp_limited
from diive_spark.operators.outliers import hampel_flag_expr, zscore_flag_iterated
from diive_spark.operators.resample import cascade_tiers, resample_gated
from diive_spark.operators.sanitize import dedup_keep_last
from diive_spark.plans.tiers import TierEngine

import check
import gen

TIERS = DEFAULT_TIERS  # 1m / 1h / 1d
TIER_BY_NAME = {t.name: t for t in TIERS}
DAY_S = gen.DAY_S


def dir_bytes(*roots: Path) -> int:
    return sum(f.stat().st_size for r in roots if r.exists() for f in r.rglob("*") if f.is_file())


def list_files(root: Path) -> dict[str, int]:
    return {str(f): f.stat().st_size for f in root.rglob("*.parquet")} if root.exists() else {}


def window_end_s(col: str = "window_end"):
    return (F.unix_micros(F.col(col).cast("timestamp")) / 1_000_000).cast("long").alias("window_end_s")


def rollup_pdf(df: DataFrame, ts_col: str = "window_end") -> pd.DataFrame:
    """Collect a gated rollup as ``url, window_end_s, agg_mean, agg_sum, n_vals``."""
    ws = window_end_s(ts_col) if ts_col != "window_end_s" else F.col("window_end_s")
    return df.select("url", ws, "agg_mean", "agg_sum", "n_vals").toPandas()


def day_iso(day: int) -> str:
    return (gen.T0 + pd.Timedelta(days=day)).date().isoformat()


def day_points(eng: TierEngine, day: int) -> DataFrame:
    """The 1m tier's points of simulated ``day`` (window_day semantics:
    window ends in ``(day start, next day start]``) as ``url, ts, value``."""
    lo = int(gen.T0.timestamp()) + day * DAY_S
    return (
        eng.read_tier("1m", gated=False)
        .filter((F.col("window_end_s") > lo) & (F.col("window_end_s") <= lo + DAY_S))
        .select("url", F.timestamp_seconds("window_end_s").alias("ts"), F.col("agg_mean").alias("value"))
    )


def points_pdf(df: DataFrame) -> pd.DataFrame:
    """``url, ts, value`` -> pandas ``url, ts_us, value`` (the decode shape)."""
    return df.select("url", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"), "value").toPandas()


# -- screen --------------------------------------------------------------------

SCREEN_SHARDS = 8


@dataclass
class ScreenOut:
    screened: DataFrame
    rolled: dict


class Screen:
    """Per-sensor QC-and-rollup batch job: one input shard per operation
    through dedup -> z-score kernel + Hampel window -> QCF -> limited
    linear gap-fill -> 1m/1h/1d gated rollups."""

    name = "screen"
    # the first operation pays the Python workers' start and the chain's
    # code generation, the second the rest of the (C1-only) JIT's warm-up
    warmup_ops = 2
    min_ops = 5

    def __init__(self, spark: SparkSession, work: Path, seed: int):
        self.spark, self.work, self.seed = spark, work, seed

    def setup(self) -> dict:
        self.shards = gen.screen_shards(self.seed, SCREEN_SHARDS)
        self.paths, self.input_bytes = [], 0
        for i, shard in enumerate(self.shards):
            path = str(self.work / f"shard{i:03d}.parquet")
            self.input_bytes += gen.write_parquet(shard, path)
            self.paths.append(path)
        return gen.traffic_shape(pd.concat(self.shards))

    def lane(self, tag: str) -> "Screen":
        return self

    def available(self, i: int) -> bool:
        return True

    def shard_index(self, i: int) -> int:
        # warm-up operations (i < 0) take the last shards
        return i % SCREEN_SHARDS

    def points(self, i: int) -> int:
        return len(self.shards[self.shard_index(i)])

    def storage_bytes(self) -> int:
        # nothing is stored: the size of the parquet input, constant per seed
        return self.input_bytes

    def run(self, i: int, tr) -> ScreenOut:
        k = self.shard_index(i)
        src = self.spark.read.parquet(self.paths[k])
        with tr.span("sanitize.dedup", i) as sp:
            d = tr.cut(dedup_keep_last(src, "url", "ts", order_col="ingest_seq"))
        if tr.enabled:
            with tr.span("trace.count", i):
                n_in = len(self.shards[k])
                sp.counts.update(rows_in=n_in, rows_dropped=n_in - d.count())
        with tr.span("outliers.zscore_kernel", i) as sp:
            z = tr.cut(
                zscore_flag_iterated(d, "url", "ts", "value", thres_zscore=check.ZSCORE_THRES)
            )
        sp.counts["groups"] = int(self.shards[k]["url"].nunique())
        with tr.span("outliers.hampel", i) as sp:
            h = tr.cut(
                hampel_flag_expr(
                    z, "url", "ts", "value", winsize=check.HAMPEL_WINSIZE, n_sd=check.HAMPEL_NSD
                )
            )
        if tr.enabled:
            with tr.span("trace.count", i):
                sp.counts["flagged_rows"] = h.filter(
                    (F.col("flag_zscore") == 2) | (F.col("flag_hampel") == 2)
                ).count()
        with tr.span("flags.qcf", i):
            q = tr.cut(add_qcf(h, ["flag_zscore", "flag_hampel"]))
        with tr.span("gapfill.interp", i) as sp:
            f = tr.cut(
                linear_interp_limited(
                    q, "url", "ts", "value_qcf", gap_limit=check.GAP_LIMIT,
                    out_col="value_filled", flag_col="flag_gapfilled",
                )
            )
        if tr.enabled:
            with tr.span("trace.count", i):
                sp.counts["filled_rows"] = f.filter(F.col("flag_gapfilled") == 1).count()
        # every per-record output column, computed once: the rollups and the
        # check read the cached frame (cleared after the operation)
        f = f.persist()
        f.write.format("noop").mode("overwrite").save()
        tiers = cascade_tiers(
            f, TIERS, "url", "ts", "value_filled",
            mincounts_perc=check.MINCOUNTS_PERC, source_freq_seconds=gen.SCREEN_SHAPE.freq_s,
        )
        rolled = {}
        for name, df in tiers.items():
            with tr.span(f"resample.rollup_{name}", i) as sp:
                rolled[name] = rollup_pdf(df)
            if tr.enabled:
                with tr.span("trace.count", i):
                    candidates = resample_gated(
                        f, "url", "ts", "value_filled", TIER_BY_NAME[name].seconds,
                        mincounts_perc=0.0, source_freq_seconds=gen.SCREEN_SHAPE.freq_s,
                    ).count()
                sp.counts.update(buckets_out=len(rolled[name]), buckets_in=candidates)
        return ScreenOut(f, rolled)

    def check(self, i: int, out: ScreenOut) -> list[str]:
        k = self.shard_index(i)
        shard = self.shards[k]
        counts = shard["url"].value_counts()
        rng = np.random.default_rng([self.seed, 11, k])
        # the hottest url plus three sampled ones
        urls = [counts.index[0]] + list(rng.choice(counts.index[1:], size=3, replace=False))
        rows = (
            out.screened.filter(F.col("url").isin(urls))
            .select(
                "url",
                F.unix_seconds(F.col("ts").cast("timestamp")).alias("ts_s"),
                "flag_zscore", "flag_hampel", "qcf", "value_filled", "flag_gapfilled",
            )
            .toPandas()
        )
        return check.check_screen(
            shard, urls, rows, out.rolled, gen.SCREEN_SHAPE.freq_s, TIERS
        )

    def finish(self, tr) -> tuple[int, list[str]]:
        return 0, []


# -- ingest --------------------------------------------------------------------

INGEST_URLS = 64  # far below the `small` scale: the time budget (README)
# micro-batches per simulated day; day 0's are the warm-up
DAY_BATCHES = (1, 4, 4)
# batch -> the day it rolls over to: the second batch of each day d >= 1
ROLLOVER_AT = {sum(DAY_BATCHES[:d]) + 1: d for d in range(1, len(DAY_BATCHES))}
LATE_FRAC = 0.05  # rows delayed by one batch


class Ingest:
    """Continuous-aggregate maintenance: one ``apply_batch`` per operation.
    Rows arrive at most one batch late, so once the first batch of day
    ``d`` is merged, day ``d-1`` is final: the second batch of each day
    ``d >= 1`` first moves the 1m tier's day ``d-1`` to cold Gorilla
    blocks (read back and decoded, as an archive write is verified),
    rewrites (compacts) that day, and expires the 1m tier's day ``d-2``
    (moved one rollover ago).

    Day 0's batch is the warm-up and a run times every later batch: a
    fixed mix whatever the engine's speed, six plain merges and two
    rollovers, so the median operation is a merge.  The first timed batch
    runs nearly as slowly as a rollover: its late rows rewrite the whole
    of day 0, which arrived in one batch."""

    name = "ingest"
    warmup_ops = DAY_BATCHES[0]
    min_ops = sum(DAY_BATCHES[1:])

    def __init__(self, spark: SparkSession, work: Path, seed: int, tag: str = "a"):
        self.spark, self.work, self.seed, self.tag = spark, work, seed, tag
        self.root = work / f"tiers-{tag}"
        self.cold = work / f"cold-{tag}"
        self.eng = TierEngine(
            spark, str(self.root), TIERS, "url", "ts", "value", source_freq_seconds=gen.STORE_FREQ_S
        )
        self.applied: list[int] = []
        self.decoded: pd.DataFrame | None = None  # this operation's cold day

    def setup(self) -> dict:
        rng = np.random.default_rng([self.seed, 2])
        pdf = gen.store_series(rng, INGEST_URLS, len(DAY_BATCHES), 0.3, "ing-")
        ts_s = check.epoch_s(pdf["ts"])
        # the batch a row belongs to is that of its window_day partition
        sec = ts_s - gen.STORE_FREQ_S - int(gen.T0.timestamp())
        per_day = np.array(DAY_BATCHES)
        first = np.cumsum(per_day) - per_day
        day = sec // DAY_S
        natural = first[day] + sec % DAY_S * per_day[day] // DAY_S
        self.n_batches = int(per_day.sum())
        # the last batch has no later one to be late into
        late = (rng.random(len(pdf)) < LATE_FRAC) & (natural < self.n_batches - 1)
        arrival = natural + late
        self.paths, self.sizes = [], []
        for b in range(self.n_batches):
            path = str(self.work / f"batch{b:03d}.parquet")
            part = pdf[arrival == b]
            gen.write_parquet(part, path)
            self.paths.append(path)
            self.sizes.append(len(part))
        return gen.traffic_shape(pdf, late)

    def lane(self, tag: str) -> "Ingest":
        other = Ingest(self.spark, self.work, self.seed, tag)
        other.n_batches, other.paths, other.sizes = self.n_batches, self.paths, self.sizes
        return other

    def batch_index(self, i: int) -> int:
        # warm-up operations have i < 0
        return i + self.warmup_ops

    def available(self, i: int) -> bool:
        return self.batch_index(i) < self.n_batches

    def points(self, i: int) -> int:
        return self.sizes[self.batch_index(i)]

    def storage_bytes(self) -> int:
        return dir_bytes(self.root, self.cold)

    def run(self, i: int, tr) -> dict:
        b = self.batch_index(i)
        self.decoded = None
        if b in ROLLOVER_AT:
            self._rollover(ROLLOVER_AT[b], i, tr)
        if tr.enabled:
            with tr.span("trace.list_files", i):
                before = list_files(self.root)
        with tr.span("tiers.apply_batch", i) as sp:
            m = self.eng.apply_batch(self.spark.read.parquet(self.paths[b]), batch_id=f"b{b}")
        if tr.enabled:
            with tr.span("trace.list_files", i):
                new = {f: s for f, s in list_files(self.root).items() if f not in before}
            sp.counts.update(
                merged_partitions=sum(t.get("merged_partitions", 0) for t in m.values()),
                skipped=sum(1 for t in m.values() if t.get("skipped")),
                files_written=len(new),
                bytes_written=sum(new.values()),
            )
        self.applied.append(b)
        if i == -1:
            # start the archive path's Python kernels before timing starts:
            # a throwaway archive of day 0 as merged so far
            self._archive(0, str(self.work / f"rehearsal-{self.tag}"), i, tr)
        return m

    def _rollover(self, day: int, i: int, tr) -> None:
        x = day - 1
        self.decoded = self._archive(x, str(self.cold / f"day={day_iso(x)}"), i, tr)
        if tr.enabled:
            with tr.span("trace.list_files", i):
                before = list_files(self.root)
        with tr.span("tiers.compact", i) as sp:
            # at this input size a merged day is already one file, so the
            # archived day's rewrite (stage, swap, commit) is forced
            self.eng.compact("1m", max_files_per_day=0, days=[day_iso(x)])
        if tr.enabled:
            with tr.span("trace.list_files", i):
                new = {f: s for f, s in list_files(self.root).items() if f not in before}
            sp.counts.update(files_written=len(new), bytes_written=sum(new.values()))
        with tr.span("tiers.expire", i):
            self.eng.expire("1m", keep_days=0, now_day=day_iso(x))
        self.cold_day = x

    def _archive(self, x: int, path: str, i: int, tr) -> pd.DataFrame:
        """The 1m tier's day ``x`` -> Gorilla blocks at ``path``; returns
        the blocks read back and decoded."""
        with tr.span("tiers.read_tier", i) as sp:
            points = day_points(self.eng, x)
            pts = tr.cut(points)
        if tr.enabled:
            with tr.span("trace.list_files", i):
                sp.counts["files_scanned"] = len(points.inputFiles())
        with tr.span("compression.encode", i) as sp:
            blocks = compress_blocks(pts, "url", "ts", "value", block_seconds=DAY_S)
            blocks.write.mode("overwrite").parquet(path)
        if tr.enabled:
            with tr.span("trace.count", i):
                stats = self.spark.read.parquet(path).agg(
                    F.sum("n_points"), F.sum("raw_bytes"), F.sum("enc_bytes")
                ).first()
            sp.counts.update(points=stats[0], raw_bytes=stats[1], enc_bytes=stats[2])
        with tr.span("compression.decode", i):
            return decompress_blocks(self.spark.read.parquet(path)).toPandas()

    def check(self, i: int, out: dict) -> list[str]:
        if self.decoded is None:
            return []
        # the day is still live in the 1m tier until the next rollover
        want = points_pdf(day_points(self.eng, self.cold_day))
        return check.check_bits(self.decoded, want, f"ingest.cold[{day_iso(self.cold_day)}]")

    def finish(self, tr) -> tuple[int, list[str]]:
        """Re-apply a committed batch (must be skipped), then compare every
        tier with a one-shot ``resample_gated`` over the surviving data.
        Returns (extra operations attempted, errors)."""
        errs = []
        with tr.span("tiers.apply_batch", -1) as sp:
            m = self.eng.apply_batch(self.spark.read.parquet(self.paths[0]), batch_id="b0")
        sp.counts["skipped"] = sum(1 for t in m.values() if t.get("skipped"))
        if not all(t.get("skipped") for t in m.values()):
            errs.append(f"ingest: re-applied batch b0 was not skipped: {m}")
        src = self.spark.read.parquet(*[self.paths[b] for b in self.applied])
        live_1m = self.eng.stores["1m"].partitions()
        first_day = (pd.Timestamp(live_1m[0]) - gen.T0).days
        lo = int(gen.T0.timestamp()) + first_day * DAY_S
        for tier in TIERS:
            s = src
            if tier.name == "1m":  # older 1m days were expired
                s = src.filter(F.unix_seconds(F.col("ts").cast("timestamp")) > lo)
            want = rollup_pdf(
                resample_gated(
                    s, "url", "ts", "value", tier.seconds, tier.mincounts_perc,
                    source_freq_seconds=gen.STORE_FREQ_S,
                )
            )
            got = rollup_pdf(self.eng.read_tier(tier.name), "window_end_s")
            errs += check.check_tier(got, want, f"ingest.{tier.name}")
        return 1, errs


WORKLOADS = {"screen": Screen, "ingest": Ingest}
