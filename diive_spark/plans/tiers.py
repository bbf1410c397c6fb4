"""Continuous-aggregate tier engine: incremental partition-scoped merge,
lineage manifest, idempotent crash resume, compaction and expiry.

Reference analog: diive's multi-tier resample family
(``diive/core/times/resampling.py``, re-run per resolution) and its
file-at-a-time merge (``filereader.py``).  The reference recomputes
everything per run; this engine is INCREMENTAL:

  * Tier tables store PARTIAL aggregates per (key, window), by default
    ``(psum, pcount, pslots)``.  Late or new source rows aggregate into
    deltas that MERGE by summation — associative and commutative, so any
    batch order yields the same tables (mean = psum/pcount recomposed after
    the merge, the min-count gate re-evaluated over merged counts at read
    time, exactly like the reference re-running resample).  Other
    mergeable summaries (M4 tuples, t-digests, KLL / Frequent-Directions
    sketches) plug in as partial specs.
  * One partial pass per batch, shared across tiers (the sub-aggregate
    sharing of *Factor Windows*, ICDE 2022): the finest tier's partials are
    computed once, and each coarser nested tier's delta is those rows
    relabelled to its own window, summed by the merge.  One Spark action
    finds every tier's affected days.
  * One staged write per batch: every tier's delta and live affected days
    go through one exchange, one merge and one parquet write partitioned
    by (tier, window_day); each tier's subtree then moves into that tier's
    staging dir.  Staged row counts, the watermark and the snapshot
    summary come from the staged files' footers and listing.
  * Storage: one partitioned parquet table per tier
    (``<root>/<tier>/data/window_day=YYYY-MM-DD/``) plus a snapshot/lineage
    manifest — the Iceberg semantics of ``MERGE INTO`` with dynamic
    partition overwrite, snapshot summary properties and
    ``expire_snapshots``.
  * Lineage: every applied source batch records (batch_id, rows,
    per-partition row counts, watermark, summary) in each tier's manifest;
    re-applying a recorded batch_id is a no-op, and a pending intent lets a
    killed run resume without merging twice.
  * Expiry drops whole day partitions older than a cutoff, recorded in the
    manifest.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import time
import uuid
from dataclasses import asdict
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from diive_spark.config import TierSpec

PARTIALS = ["psum", "pcount", "pslots"]
# snapshot-summary fields a pending intent carries from staging to commit
SUMMARY_KEYS = ("added_files", "added_bytes", "removed_files", "stage_s")


# The label expressions below are SQL text: apply_batch builds them for every
# tier of every batch, and one parsed expression costs one py4j call where
# the equivalent Column chain costs one per operator.


def _window_day(window_end_s: str) -> str:
    """The ``window_day`` partition of a window ending at ``window_end_s``
    (the day holding the window's last instant)."""
    return f"date_format(timestamp_seconds({window_end_s} - 1), 'yyyy-MM-dd')"


def _relabel(base: TierSpec, tier: TierSpec) -> str:
    """``tier``'s window end for a row of ``base`` partials, exact in
    integers when ``tier.seconds`` is a multiple of ``base.seconds``: the
    base window ``(e - b, e]`` lies in the tier window that holds its start
    ``e - b``."""
    start = f"(window_end_s - {base.seconds})"
    return f"({start} - pmod({start}, {tier.seconds}) + {tier.seconds})"


def _footer_stats(staging: Path) -> dict:
    """Per-day row counts, the max ``window_end_s`` and the number and
    bytes of the data files of a staged write, read from the parquet
    footers and the directory listing (no Spark job)."""
    counts: dict[str, int] = {}
    watermark = None
    files = size = 0
    for f in sorted(staging.glob("window_day=*/*.parquet")):
        day = f.parent.name.split("=", 1)[1]
        meta = pq.read_metadata(f)
        counts[day] = counts.get(day, 0) + meta.num_rows
        files += 1
        size += f.stat().st_size
        paths = [meta.schema.column(j).path for j in range(meta.num_columns)]
        j = paths.index("window_end_s")
        for i in range(meta.num_row_groups):
            stats = meta.row_group(i).column(j).statistics
            if stats is not None and stats.has_min_max:
                watermark = stats.max if watermark is None else max(watermark, stats.max)
    return {
        "staged_rows": counts,
        "watermark_s": watermark,
        "added_files": files,
        "added_bytes": size,
    }


class SumCountPartials:
    """Default mergeable-aggregate spec: (psum, pcount, pslots) merged by
    summation — mean/sum/count tiers with the min-count gate re-evaluable
    at read time (the reference resample semantics).

    A spec supplies the tier engine's two aggregate stages (delta partials
    and merge) plus how to present merged rows; everything else — lineage,
    intent-log resume, partition-scoped swap, expiry, compaction — is
    aggregate-agnostic, so new mergeable summaries (M4 tuples below; the
    histogram/HLL/CMS sketches run standalone today) ride the same
    machinery.
    """

    columns = tuple(PARTIALS)
    supports_gating = True

    def partial_exprs(self, value_col: str, ts_s_col: str):
        return [
            F.sum(value_col).alias("psum"),
            F.count(value_col).alias("pcount"),
            F.count(F.lit(1)).alias("pslots"),
        ]

    def merge_exprs(self):
        return [F.sum(c).alias(c) for c in self.columns]


class M4Partials:
    """M4 downsample tuples as a tier aggregate: every component is an
    associative extreme (operators/downsample.py::m4_merge), so partials
    merge bit-exactly.  Stored as four (a, b) structs + n_in; ``finalize``
    flattens to the standard M4 row."""

    columns = ("_f", "_l", "_mn", "_mx", "n_in")
    supports_gating = False

    def partial_exprs(self, value_col: str, ts_s_col: str):
        x, y = F.col(ts_s_col), F.col(value_col)
        return [
            F.min(F.struct(x.alias("a"), y.alias("b"))).alias("_f"),
            F.max(F.struct(x.alias("a"), y.alias("b"))).alias("_l"),
            F.min(F.struct(y.alias("a"), x.alias("b"))).alias("_mn"),
            F.max(F.struct(y.alias("a"), x.alias("b"))).alias("_mx"),
            F.count(F.lit(1)).cast("long").alias("n_in"),
        ]

    def merge_exprs(self):
        return [
            F.min("_f").alias("_f"),
            F.max("_l").alias("_l"),
            F.min("_mn").alias("_mn"),
            F.max("_mx").alias("_mx"),
            F.sum("n_in").alias("n_in"),
        ]

    def finalize(self, df: DataFrame) -> DataFrame:
        return df.select(
            *[c for c in df.columns if c not in self.columns],
            F.col("_f.a").alias("x_first"),
            F.col("_f.b").alias("y_first"),
            F.col("_l.a").alias("x_last"),
            F.col("_l.b").alias("y_last"),
            F.col("_mn.b").alias("x_ymin"),
            F.col("_mn.a").alias("y_min"),
            F.col("_mx.b").alias("x_ymax"),
            F.col("_mx.a").alias("y_max"),
            "n_in",
        )


class TierStore:
    """Filesystem layout + snapshot/lineage manifest for one tier table.

    Layout::

        root/<tier>/data/window_day=YYYY-MM-DD/*.parquet
        root/<tier>/_lineage.json
    """

    def __init__(self, root: str, tier: TierSpec):
        self.root = Path(root) / tier.name
        self.tier = tier
        self.data_dir = self.root / "data"
        self.manifest_path = self.root / "_lineage.json"

    # -- manifest ----------------------------------------------------------
    def read_manifest(self) -> dict:
        if self.manifest_path.exists():
            return json.loads(self.manifest_path.read_text())
        return {"tier": asdict(self.tier), "snapshots": [], "expired": []}

    def write_manifest(self, manifest: dict) -> None:
        self.root.mkdir(parents=True, exist_ok=True)
        tmp = self.manifest_path.with_suffix(".json.tmp")
        tmp.write_text(json.dumps(manifest, indent=1))
        os.replace(tmp, self.manifest_path)  # atomic

    # -- data --------------------------------------------------------------
    def read(self, spark: SparkSession) -> DataFrame | None:
        if not self.data_dir.exists() or not any(self.data_dir.iterdir()):
            return None
        df = spark.read.parquet(str(self.data_dir))
        # partition-column type inference reads window_day back as DATE;
        # normalize to the string form used by the writer and the manifest
        return df.withColumn("window_day", F.col("window_day").cast("string"))

    def partitions(self) -> list[str]:
        if not self.data_dir.exists():
            return []
        return sorted(
            p.name.split("=", 1)[1]
            for p in self.data_dir.iterdir()
            if p.is_dir() and p.name.startswith("window_day=")
        )


class TierEngine:
    """Cascaded incremental rollup into one or more retention tiers."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        tiers: tuple[TierSpec, ...],
        key_col: str = "url",
        ts_col: str = "ts",
        value_col: str = "value",
        source_freq_seconds: int | None = None,
        partials=None,
    ):
        self.spark = spark
        self.root = Path(root)
        self.tiers = tiers
        self.stores = {t.name: TierStore(root, t) for t in tiers}
        self.key_col = key_col
        self.ts_col = ts_col
        self.value_col = value_col
        self.source_freq_seconds = source_freq_seconds
        # pluggable mergeable-aggregate spec; default = reference-shaped
        # sum/count partials (see SumCountPartials)
        self.partials = partials or SumCountPartials()

    # -- partial aggregation -------------------------------------------------
    def _window_end(self, tier: TierSpec) -> str:
        """A source row's ``window_end_s`` in ``tier`` (epoch seconds), with
        the END→MIDDLE shift (``-source_freq_seconds / 2``, in µs) applied
        before bucketing."""
        shift = int(-(self.source_freq_seconds or 0) / 2 * 1_000_000)
        us = tier.seconds * 1_000_000
        return (
            f"CAST((FLOOR((unix_micros(CAST(`{self.ts_col}` AS TIMESTAMP)) + {shift})"
            f" / {us}) + 1) * {tier.seconds} AS BIGINT)"
        )

    def _partials(self, df: DataFrame, tier: TierSpec) -> DataFrame:
        """Map-side partial aggregates per (key, window_end).

        A spec normally supplies Column aggregates (``partial_exprs``);
        kernel specs whose partial state is not expressible as built-in
        aggregates (KLL / Frequent-Directions sketches,
        ``plans/sketch_partials.py``) instead supply ``partial_frame``, an
        applyInPandas grouped transform over the same (key, window_end_s)
        grouping — the rest of the engine (lineage, intent-log resume,
        partition-scoped swap, expiry, compaction) is unchanged either way.
        """
        base = df.selectExpr(
            "*",
            f"{self._window_end(tier)} AS window_end_s",
            f"CAST(FLOOR(unix_micros(CAST(`{self.ts_col}` AS TIMESTAMP)) / 1000000) AS BIGINT)"
            " AS _ts_s",
        )
        if hasattr(self.partials, "partial_frame"):
            agg = self.partials.partial_frame(
                base, self.key_col, self.value_col, "_ts_s",
                ["window_end_s"],
            )
        else:
            agg = base.groupBy(self.key_col, "window_end_s").agg(
                *self.partials.partial_exprs(self.value_col, "_ts_s")
            )
        return agg.selectExpr("*", f"{_window_day('window_end_s')} AS window_day")

    # -- incremental apply ----------------------------------------------------
    def apply_batch(self, source: DataFrame, batch_id: str | None = None) -> dict:
        """MERGE one source batch into every tier — PARTITION-SCOPED, with
        one partial pass and one staged write shared by all tiers.

        Only the batch's ``affected_days`` partitions are merged, staged
        and swapped; untouched ``window_day=`` directories stay in place
        on disk.  Iceberg analog: ``MERGE INTO`` with dynamic partition
        overwrite.

        Each tier's manifest is read once and decides that tier's mode:
        *skip* (batch_id already in ``snapshots``), *replay* (batch_id in
        ``pending``) or *fresh*.  Every fresh tier is staged by ONE plan
        and ONE parquet write (:meth:`_stage`):

        * one Spark action (a ``collect_set`` of each tier's window ends
          over the source) yields every fresh tier's affected days;
        * one partial pass: ``_partials(source, base)`` with ``base`` the
          finest fresh tier.  A coarser tier whose width is a multiple of
          ``base``'s takes the base rows relabelled to its own
          ``window_end_s``/``window_day`` as its delta; the merge sums
          them.  Widths nest and the END→MIDDLE shift precedes bucketing,
          so every base window lies in exactly one coarse window: counts
          stay exact, sums change only in float association.  A width
          that does not nest, and a kernel spec (``partial_frame``),
          computes its delta from the source through ``_partials``;
        * every tier's live affected days (read by explicit path with the
          delta's schema) and delta are tagged with a literal ``tier``
          column and unioned; one merge (whose exchange also spreads each
          day's rows over tasks by key) and one
          ``partitionBy("tier", "window_day")`` write stage them all
          under ``<root>/_staging_<batch_id>``, and each ``tier=<name>``
          subtree then moves to ``<root>/<name>/_staging_<batch_id>``;
        * staged row counts, the watermark and the added files/bytes come
          from the staged files' parquet footers, not from a Spark
          read-back.

        From the moved staging dir on, crash safety is an intent log per
        tier:

        1. record a ``pending`` intent (batch_id, days, staged counts,
           watermark, snapshot summary) in the manifest;
        2. swap each staged day directory into the live table;
        3. commit the snapshot record and clear the intent.

        A replayed tier finishes its swaps FROM STAGING without
        recomputing — recomputing would re-read already-swapped days and
        double-merge the delta.  A staging dir with no intent record (the
        shared one, or a fresh tier's) is a pre-intent crash leftover:
        discarded on entry and recomputed from unchanged live data.
        """
        batch_id = batch_id or uuid.uuid4().hex
        shared = self.root / f"_staging_{batch_id}"
        if shared.exists():  # crash before every subtree moved
            shutil.rmtree(shared)
        metrics: dict[str, dict] = {}
        manifests: dict[str, dict] = {}
        intents: dict[str, dict | None] = {}
        for tier in self.tiers:
            manifest = self.stores[tier.name].read_manifest()
            if any(s["batch_id"] == batch_id for s in manifest["snapshots"]):
                metrics[tier.name] = {"skipped": True}
                continue
            manifests[tier.name] = manifest
            intents[tier.name] = next(
                (p for p in manifest.get("pending", []) if p["batch_id"] == batch_id),
                None,
            )
        fresh = [t for t in self.tiers if t.name in intents and intents[t.name] is None]
        if fresh:
            t0 = time.perf_counter()
            days = self._stage(source, fresh, batch_id)
            stage_s = time.perf_counter() - t0
        for tier in self.tiers:
            if tier.name not in manifests:
                continue
            store, manifest = self.stores[tier.name], manifests[tier.name]
            intent = intents[tier.name]
            if intent is None:
                affected = days[tier.name]
                intent = {
                    "batch_id": batch_id,
                    "affected_days": affected,
                    **_footer_stats(store.root / f"_staging_{batch_id}"),
                    "removed_files": sum(
                        1
                        for d in affected
                        for _ in (store.data_dir / f"window_day={d}").glob("*.parquet")
                    ),
                    "stage_s": stage_s,
                }
                manifest.setdefault("pending", []).append(intent)
                store.write_manifest(manifest)
            t0 = time.perf_counter()
            self._swap_days(store, batch_id, intent["affected_days"])
            metrics[tier.name] = self._commit(
                store, manifest, intent, time.perf_counter() - t0
            )
        return metrics

    def _stage(self, source: DataFrame, fresh: list, batch_id: str) -> dict:
        """Merge every fresh tier's delta into its live affected days with
        one plan and one parquet write, then move each tier's subtree of
        the write to ``<root>/<tier>/_staging_<batch_id>``; returns each
        tier's sorted affected days."""
        # collect the distinct window ends (integers) and label only those
        row = source.selectExpr(
            *[
                f"transform(collect_set({self._window_end(t)}), w -> {_window_day('w')})"
                for t in fresh
            ]
        ).first()
        days = {t.name: sorted(set(row[i])) for i, t in enumerate(fresh)}
        base_tier = min(fresh, key=lambda t: t.seconds)
        base = self._partials(source, base_tier)
        kernel = hasattr(self.partials, "partial_frame")
        merge, keep = [], []
        for tier in fresh:
            # a relabelled delta holds several rows per (key, window), so it
            # needs the merge even when no live day is touched
            relabel = (
                tier is not base_tier
                and tier.seconds % base_tier.seconds == 0
                and not kernel
            )
            if tier is base_tier:
                delta = base
            elif relabel:
                wend = _relabel(base_tier, tier)
                relabelled = {"window_end_s": wend, "window_day": _window_day(wend)}
                delta = base.selectExpr(
                    *[f"{relabelled.get(c, f'`{c}`')} AS `{c}`" for c in base.columns]
                )
            else:
                delta = self._partials(source, tier)
            store = self.stores[tier.name]
            # read ONLY the touched day directories — explicit paths, so
            # pruning cannot be defeated by the date->string cast
            live_paths = [
                str(store.data_dir / f"window_day={d}")
                for d in days[tier.name]
                if (store.data_dir / f"window_day={d}").exists()
            ]
            frame = delta
            if live_paths:
                frame = (
                    self.spark.read.schema(delta.schema)
                    .option("basePath", str(store.data_dir))
                    .parquet(*live_paths)
                    .unionByName(delta)
                )
            tagged = frame.selectExpr(
                f"'{tier.name}' AS tier", *[f"`{c}`" for c in frame.columns]
            )
            # rows with no live day and no relabel skip the merge, so a spec
            # whose merge is not the identity on one row (t-digest
            # re-compression) stores them exactly as the partial pass made them
            (merge if live_paths or relabel else keep).append(tagged)
        # Staged rows are hashed on their key as well as their (tier, day):
        # (tier, day) alone would funnel a whole day into a single task and a
        # single giant file, where this keeps day writes parallel (the writer
        # still splits per-tier, per-day directories via partitionBy; cold
        # days re-coalesce via compact()).  For merged rows that is the
        # merge's own exchange, after a map-side partial merge that folds a
        # relabelled delta's many rows per coarse window; rows that skip the
        # merge get the same spread from one repartition.
        staged = []
        if merge:
            frame = functools.reduce(DataFrame.unionByName, merge)
            group = ["tier", self.key_col, "window_end_s", "window_day"]
            if hasattr(self.partials, "merge_frame"):
                staged.append(self.partials.merge_frame(frame, group))
            else:
                staged.append(frame.groupBy(*group).agg(*self.partials.merge_exprs()))
        if keep:
            staged.append(
                functools.reduce(DataFrame.unionByName, keep).repartition(
                    "tier", "window_day", self.key_col
                )
            )
        shared = self.root / f"_staging_{batch_id}"
        functools.reduce(DataFrame.unionByName, staged).write.mode(
            "overwrite"
        ).partitionBy("tier", "window_day").parquet(str(shared))
        for tier in fresh:
            store = self.stores[tier.name]
            staging = store.root / f"_staging_{batch_id}"
            if staging.exists():  # pre-intent crash leftover
                shutil.rmtree(staging)
            subtree = shared / f"tier={tier.name}"
            if subtree.exists():  # a tier with no rows writes no subtree
                store.root.mkdir(parents=True, exist_ok=True)
                os.replace(subtree, staging)
        shutil.rmtree(shared)
        return days

    def _commit(
        self, store: TierStore, manifest: dict, intent: dict, swap_s: float
    ) -> dict:
        """Append the snapshot record for a swapped intent and clear it:
        staged per-day counts fold into the previous snapshot's
        partition_rows (untouched partitions are not re-read).

        The snapshot's ``summary`` (Iceberg analog: snapshot summary
        properties) holds the data files and bytes the batch added and the
        files it swapped out, all counted from the staging listing and the
        footers, plus the staging and swap wall times; it costs no Spark
        job."""
        batch_id, affected_days = intent["batch_id"], intent["affected_days"]
        prev = manifest["snapshots"][-1]["partition_rows"] if manifest["snapshots"] else {}
        part_counts = {**prev, **intent["staged_rows"]}
        live_days = set(store.partitions())
        part_counts = {d: c for d, c in part_counts.items() if d in live_days}
        snap = {
            "batch_id": batch_id,
            "snapshot_id": uuid.uuid4().hex,
            "committed_at": time.time(),
            "rows": sum(part_counts.values()),
            "partition_rows": part_counts,
            "merged_partitions": affected_days,
            # high-water mark of merged window ends — the "resume reading
            # the source from here" cursor (Iceberg analog: a snapshot
            # summary property)
            "watermark_s": intent.get("watermark_s"),
            "summary": {
                **{k: intent.get(k) for k in SUMMARY_KEYS},
                "swap_s": swap_s,
            },
        }
        manifest["snapshots"].append(snap)
        manifest["pending"] = [
            p for p in manifest.get("pending", []) if p["batch_id"] != batch_id
        ]
        store.write_manifest(manifest)
        return {
            "rows": snap["rows"],
            "partitions": len(part_counts),
            "merged_partitions": len(affected_days),
            **snap["summary"],
        }

    @staticmethod
    def _swap_days(store: TierStore, tag: str, days: list[str]) -> None:
        """Swap ``_staging_<tag>``'s day dirs into the live table
        (live→trash→staged per day), then drop staging and trash.

        Idempotent replay: a day missing from staging was already swapped
        on a previous (crashed) attempt; the crash may have landed between
        the two ``os.replace`` calls, leaving that day's trash orphaned,
        so every ``_trash_<tag>_*`` is swept at the end."""
        staging = store.root / f"_staging_{tag}"
        store.data_dir.mkdir(parents=True, exist_ok=True)
        for day in days:
            staged_day = staging / f"window_day={day}"
            if not staged_day.exists():
                continue
            live_day = store.data_dir / f"window_day={day}"
            trash = store.root / f"_trash_{tag}_{day}"
            if live_day.exists():
                os.replace(live_day, trash)
            os.replace(staged_day, live_day)
            if trash.exists():
                shutil.rmtree(trash)
        for orphan in store.root.glob(f"_trash_{tag}_*"):
            shutil.rmtree(orphan, ignore_errors=True)
        shutil.rmtree(staging, ignore_errors=True)

    # -- reads -----------------------------------------------------------------
    def read_tier(
        self, name: str, mincounts_perc: float | None = None, gated: bool = True
    ) -> DataFrame:
        """Tier as the reference-shaped output: (key, window_end_s, agg_mean,
        agg_sum, n_vals), min-count gate evaluated over the MERGED counts —
        identical to running the reference resample over all data at once."""
        store = self.stores[name]
        df = store.read(self.spark)
        if df is None:
            raise FileNotFoundError(f"tier {name} is empty")
        if not self.partials.supports_gating:
            # custom mergeable aggregates present their own row shape; the
            # min-count gate is a sum/count-tier concept
            return self.partials.finalize(df)
        perc = mincounts_perc if mincounts_perc is not None else store.tier.mincounts_perc
        out = df.select(
            self.key_col,
            "window_end_s",
            F.when(F.col("pcount") > 0, F.col("psum") / F.col("pcount")).alias("agg_mean"),
            F.col("psum").alias("agg_sum"),
            F.col("pcount").alias("n_vals"),
            "pslots",
        )
        if not gated:
            return out.drop("pslots")
        w = Window.partitionBy(self.key_col)
        return (
            out.withColumn("__maxcount", F.max("pslots").over(w))
            .withColumn(
                "__mincount",
                F.when(F.floor(F.col("__maxcount") * perc) < 3, F.lit(1)).otherwise(
                    F.floor(F.col("__maxcount") * perc)
                ),
            )
            .filter(F.col("n_vals") >= F.col("__mincount"))
            .drop("pslots", "__maxcount", "__mincount")
        )

    # -- compaction -------------------------------------------------------------
    def compact(
        self,
        name: str,
        max_files_per_day: int = 8,
        target_files: int = 1,
        days: list[str] | None = None,
    ) -> list[str]:
        """Small-file compaction (Iceberg ``rewrite_data_files`` analog).

        Parallel day writes and streamed micro-batches leave day partitions
        with one file per writing task; at crawl scale a cold day holding
        hundreds of small files costs a scan task per file forever after.
        Rewrites every day partition holding more than ``max_files_per_day``
        data files down to ``target_files``, purely physical (row content
        unchanged — asserted in tests/test_tiers.py).

        Crash-safe like :meth:`apply_batch`: the rewritten days are fully
        staged, an intent is recorded, then each day is swapped
        live→trash→staged; a pending compaction found on entry is replayed
        from staging first.  Re-running compact on an already-compacted day
        is a no-op (its file count is at or under the threshold).  A staging
        dir that no pending intent names was left by a crash while staging;
        it is swept on entry.
        """
        store = self.stores[name]

        # replay a pending compaction left by a crash mid-swap
        manifest = store.read_manifest()
        for intent in manifest.get("pending_compactions", []):
            self._swap_compaction(store, intent)
        # every pending compaction's staging dir is swapped away by now
        for leftover in store.root.glob("_staging_compact_*"):
            shutil.rmtree(leftover)

        victims = []
        for day in days or store.partitions():
            day_dir = store.data_dir / f"window_day={day}"
            n_files = sum(1 for f in day_dir.glob("*.parquet"))
            if n_files > max_files_per_day:
                victims.append(day)
        if not victims:
            return []

        compact_id = uuid.uuid4().hex
        staging = store.root / f"_staging_compact_{compact_id}"
        for day in victims:
            day_dir = store.data_dir / f"window_day={day}"
            (
                self.spark.read.parquet(str(day_dir))
                .coalesce(target_files)
                .write.mode("overwrite")
                .parquet(str(staging / f"window_day={day}"))
            )
        manifest = store.read_manifest()
        intent = {"compact_id": compact_id, "days": victims}
        manifest.setdefault("pending_compactions", []).append(intent)
        store.write_manifest(manifest)
        self._swap_compaction(store, intent)
        return victims

    def _swap_compaction(self, store: TierStore, intent: dict) -> None:
        """Swap a fully-staged compaction into the live table and commit."""
        compact_id, days = intent["compact_id"], intent["days"]
        self._swap_days(store, f"compact_{compact_id}", days)
        manifest = store.read_manifest()
        manifest.setdefault("compactions", []).append(
            {"at": time.time(), "compact_id": compact_id, "partitions": days}
        )
        manifest["pending_compactions"] = [
            p
            for p in manifest.get("pending_compactions", [])
            if p["compact_id"] != compact_id
        ]
        store.write_manifest(manifest)

    # -- expiry ------------------------------------------------------------------
    def expire(self, name: str, keep_days: int, now_day: str) -> list[str]:
        """Drop partitions strictly older than ``now_day - keep_days``
        (partition-level delete, recorded in lineage — Iceberg analog:
        ``DELETE WHERE window_day < cutoff`` + ``expire_snapshots``)."""
        import datetime as dt

        store = self.stores[name]
        cutoff = (
            dt.date.fromisoformat(now_day) - dt.timedelta(days=keep_days)
        ).isoformat()
        dropped = []
        for day in store.partitions():
            if day < cutoff:
                shutil.rmtree(store.data_dir / f"window_day={day}")
                dropped.append(day)
        if dropped:
            manifest = store.read_manifest()
            manifest["expired"].append(
                {"at": time.time(), "cutoff": cutoff, "partitions": dropped}
            )
            store.write_manifest(manifest)
        return dropped
