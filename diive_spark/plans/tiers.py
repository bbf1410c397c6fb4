"""Continuous-aggregate tier engine: merge-on-read partial aggregates,
lineage manifest, idempotent crash resume, compaction and expiry.

Reference analog: diive's multi-tier resample family
(``diive/core/times/resampling.py``, re-run per resolution) and its
file-at-a-time merge (``filereader.py``).  The reference recomputes
everything per run; this engine is INCREMENTAL:

  * Tier tables store PARTIAL aggregates per (key, window), by default
    ``(psum, pcount, pslots)``.  Partials merge by summation — associative
    and commutative, so any batch order yields the same tables (mean =
    psum/pcount recomposed after the merge, the min-count gate evaluated
    over merged counts at read time, exactly like the reference re-running
    resample).  Other mergeable summaries (M4 tuples, t-digests, KLL /
    Frequent-Directions sketches) plug in as partial specs.
  * Merge-on-read (Iceberg's merge-on-read ``MERGE INTO``): a batch never
    rewrites a live day.  Its own partials, folded to one row per
    (tier, key, window), are APPENDED as new files named by the batch.
    Reads fold the rows of a (key, window) that several batches appended;
    compaction folds a day's files into one.
  * One partial pass per batch, shared across tiers (the sub-aggregate
    sharing of *Factor Windows*, ICDE 2022): the finest tier's partials are
    computed once, and each coarser nested tier's delta is those rows
    relabelled to its own window and folded.
  * One staged write per batch for every tier, partitioned by
    (tier, window_day): the finest tier's day stays spread over the
    partial pass's tasks, and each coarser tier's day is written as one
    file.  The affected days, row counts, watermark and snapshot summary
    come from the staged listing and footers (no Spark job).
  * Storage: one partitioned parquet table per tier
    (``<root>/<tier>/data/window_day=YYYY-MM-DD/<seq>-<batch_id>-part-*``)
    plus a snapshot/lineage manifest.  ``<seq>`` orders the writes of a
    tier (batches and compactions); files of one write never repeat a
    (key, window), so a day whose files share one ``<seq>`` is read
    without a fold.
  * Lineage: every applied source batch records (batch_id, rows,
    per-partition stored rows, watermark, summary) in each tier's manifest;
    re-applying a recorded batch_id is a no-op, and a pending intent lets a
    killed run resume without appending twice.
  * Expiry drops whole day partitions older than a cutoff, recorded in the
    manifest; a late batch never re-creates an expired day.
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
SUMMARY_KEYS = ("added_files", "added_bytes", "removed_files", "late_dropped", "stage_s")


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


def _seq(data_file: Path) -> str:
    """The write (``<seq>`` name prefix) a live data file belongs to."""
    return data_file.name.split("-", 1)[0]


def _data_files(day_dir: Path) -> list[Path]:
    return sorted(day_dir.glob("*.parquet"))


def _move(src: Path, dst_dir: Path, name: str) -> None:
    """Move a data file and its checksum sidecar to ``dst_dir/name``."""
    crc = src.with_name(f".{src.name}.crc")
    if crc.exists():
        os.replace(crc, dst_dir / f".{name}.crc")
    os.replace(src, dst_dir / name)


def _footer_stats(staging: Path, cutoff: str | None = None) -> dict:
    """Per-day row counts, the max ``window_end_s`` and the number and
    bytes of the data files of a staged write, read from the parquet
    footers and the directory listing (no Spark job).  Days before
    ``cutoff`` (expired) are deleted from staging; their rows are counted
    as ``late_dropped``."""
    counts: dict[str, int] = {}
    watermark = None
    files = size = dropped = 0
    for day_dir in sorted(staging.glob("window_day=*")):
        day = day_dir.name.split("=", 1)[1]
        for f in _data_files(day_dir):
            meta = pq.read_metadata(f)
            if cutoff is not None and day < cutoff:
                dropped += meta.num_rows
                continue
            counts[day] = counts.get(day, 0) + meta.num_rows
            files += 1
            size += f.stat().st_size
            paths = [meta.schema.column(j).path for j in range(meta.num_columns)]
            j = paths.index("window_end_s")
            for i in range(meta.num_row_groups):
                stats = meta.row_group(i).column(j).statistics
                if stats is not None and stats.has_min_max:
                    watermark = stats.max if watermark is None else max(watermark, stats.max)
        if cutoff is not None and day < cutoff:
            shutil.rmtree(day_dir)
    return {
        "affected_days": sorted(counts),
        "staged_rows": counts,
        "watermark_s": watermark,
        "added_files": files,
        "added_bytes": size,
        "late_dropped": dropped,
    }


class SumCountPartials:
    """Default mergeable-aggregate spec: (psum, pcount, pslots) merged by
    summation — mean/sum/count tiers with the min-count gate re-evaluable
    at read time (the reference resample semantics).

    A spec supplies the tier engine's two aggregate stages (delta partials
    and merge) plus how to present merged rows; everything else — lineage,
    intent-log resume, append, fold-on-read, expiry, compaction — is
    aggregate-agnostic, so new mergeable summaries (M4 tuples below; the
    histogram/HLL/CMS sketches run standalone today) ride the same
    machinery.  A merge must return a lone row unchanged: reads and
    compaction fold every (key, window) of a day that holds several
    writes, most of which have one row.  A sum is exact on one row (a
    partial sum is never ``-0.0``).
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

        root/<tier>/data/window_day=YYYY-MM-DD/<seq>-<tag>-part-*.parquet
        root/<tier>/_lineage.json

    ``<seq>`` numbers the tier's writes (batch appends and compactions) in
    commit order; ``<tag>`` is the batch id or ``compact_<id>``.
    """

    def __init__(self, root: str, tier: TierSpec, partials, key_col: str):
        self.root = Path(root) / tier.name
        self.tier = tier
        self.partials = partials
        self.key_col = key_col
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

    @staticmethod
    def next_seq(manifest: dict) -> int:
        """Take the tier's next write number (persisted with the intent)."""
        manifest["seq"] = manifest.get("seq", 0) + 1
        return manifest["seq"]

    # -- data --------------------------------------------------------------
    def read(self, spark: SparkSession, days: list[str] | None = None) -> DataFrame | None:
        """The tier's partials (of ``days``, default all), folded to one
        row per (key, window).

        A day whose files all come from one write holds each (key, window)
        once and is read as stored; the other days are folded with the
        spec's merge (``merge_exprs``, or ``merge_frame`` in write order
        for a kernel spec, so a fold equals the merges one batch at a time
        would have made)."""
        clean, mixed = [], []
        for day in self.partitions() if days is None else days:
            files = self.files(day)
            if files:
                writes = {_seq(f) for f in files}
                (mixed if len(writes) > 1 else clean).append(
                    str(self.data_dir / f"window_day={day}")
                )
        frames = []
        if clean:
            frames.append(self._scan(spark, clean))
        if mixed:
            frames.append(self._fold(self._scan(spark, mixed)))
        return functools.reduce(DataFrame.unionByName, frames) if frames else None

    def _scan(self, spark: SparkSession, paths: list[str]) -> DataFrame:
        df = spark.read.option("basePath", str(self.data_dir)).parquet(*paths)
        # partition-column type inference reads window_day back as DATE;
        # normalize to the string form used by the writer and the manifest
        return df.withColumn("window_day", F.col("window_day").cast("string"))

    def _fold(self, df: DataFrame) -> DataFrame:
        group = [self.key_col, "window_end_s", "window_day"]
        if hasattr(self.partials, "merge_frame"):
            seq = F.regexp_extract(F.col("_metadata.file_name"), r"^(\d+)-", 1)
            return self.partials.merge_frame(
                df.withColumn("_seq", seq.cast("long")), group, "_seq"
            )
        return df.groupBy(*group).agg(*self.partials.merge_exprs())

    def partitions(self) -> list[str]:
        if not self.data_dir.exists():
            return []
        return sorted(
            p.name.split("=", 1)[1]
            for p in self.data_dir.iterdir()
            if p.is_dir() and p.name.startswith("window_day=")
        )

    def files(self, day: str) -> list[Path]:
        """The data files of one live day."""
        return _data_files(self.data_dir / f"window_day={day}")


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
        self.key_col = key_col
        self.ts_col = ts_col
        self.value_col = value_col
        self.source_freq_seconds = source_freq_seconds
        # pluggable mergeable-aggregate spec; default = reference-shaped
        # sum/count partials (see SumCountPartials)
        self.partials = partials or SumCountPartials()
        self.stores = {t.name: TierStore(root, t, self.partials, key_col) for t in tiers}

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
        append, fold, expiry, compaction) is unchanged either way.
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
        """APPEND one source batch's partials to every tier — merge-on-read,
        with one partial pass and one staged write shared by all tiers.

        A batch never reads or rewrites a live day: the merge happens when
        a day is read (:meth:`read_tier`) or compacted (:meth:`compact`).
        Iceberg analog: ``MERGE INTO`` in merge-on-read mode.

        Each tier's manifest is read once and decides that tier's mode:
        *skip* (batch_id already in ``snapshots``), *replay* (batch_id in
        ``pending``) or *fresh*.  Every fresh tier is staged by ONE plan
        and ONE parquet write (:meth:`_stage`) under
        ``<root>/_staging_<batch_id>``, whose ``tier=<name>`` subtrees then
        move to ``<root>/<name>/_staging_<batch_id>``.  The affected days,
        per-day row counts, watermark and added files/bytes come from that
        staging listing and the parquet footers, not from a Spark job.

        From the moved staging dir on, crash safety is an intent log per
        tier:

        1. drop staged days before the tier's latest expiry cutoff (their
           rows are counted in the summary's ``late_dropped``), then record
           a ``pending`` intent (batch_id, write number ``seq``, days,
           staged counts, watermark, snapshot summary) in the manifest;
        2. move each staged data file into its live day as
           ``<seq>-<batch_id>-<name>``;
        3. commit the snapshot record and clear the intent.

        A replayed tier moves the files still in staging: a file already
        moved is gone from there, so each file is moved exactly once.  A
        staging dir with no intent record (the shared one, or a fresh
        tier's) is a pre-intent crash leftover: discarded on entry and
        recomputed.
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
            self._stage(source, fresh, batch_id)
            stage_s = time.perf_counter() - t0
        for tier in self.tiers:
            if tier.name not in manifests:
                continue
            store, manifest = self.stores[tier.name], manifests[tier.name]
            staging = store.root / f"_staging_{batch_id}"
            intent = intents[tier.name]
            if intent is None:
                cutoff = max((e["cutoff"] for e in manifest["expired"]), default=None)
                intent = {
                    "batch_id": batch_id,
                    "seq": store.next_seq(manifest),
                    **_footer_stats(staging, cutoff),
                    "removed_files": 0,
                    "stage_s": stage_s,
                }
                manifest.setdefault("pending", []).append(intent)
                store.write_manifest(manifest)
            t0 = time.perf_counter()
            prefix = f"{intent['seq']:08d}-{batch_id}"
            for day in intent["affected_days"]:
                live = store.data_dir / f"window_day={day}"
                live.mkdir(parents=True, exist_ok=True)
                for f in _data_files(staging / f"window_day={day}"):
                    _move(f, live, f"{prefix}-{f.name}")
            shutil.rmtree(staging, ignore_errors=True)
            metrics[tier.name] = self._commit(
                store, manifest, intent, time.perf_counter() - t0
            )
        return metrics

    def _stage(self, source: DataFrame, fresh: list, batch_id: str) -> None:
        """Write every fresh tier's partials of ``source`` with one plan and
        one parquet write, then move each tier's subtree of the write to
        ``<root>/<tier>/_staging_<batch_id>``.

        One partial pass (``_partials(source, base)``, ``base`` the finest
        fresh tier) is one row per (key, window) and is written as is,
        spread over the pass's tasks.  A coarser tier whose width is a
        multiple of ``base``'s takes the base rows relabelled to its own
        ``window_end_s``/``window_day``, folded by the spec's merge.  Widths
        nest and the END→MIDDLE shift precedes bucketing, so every base
        window lies in exactly one coarse window: counts stay exact, sums
        change only in float association.  A width that does not nest, and
        a kernel spec (``partial_frame``), computes its partials from the
        source.  Every coarser tier's rows are hashed on (tier, day) alone,
        so each of its days is written by one task, as one file."""
        base_tier = min(fresh, key=lambda t: t.seconds)
        base = self._partials(source, base_tier)
        kernel = hasattr(self.partials, "partial_frame")

        def tagged(frame: DataFrame, tier: TierSpec) -> DataFrame:
            return frame.selectExpr(f"'{tier.name}' AS tier", *[f"`{c}`" for c in frame.columns])

        relabelled, own = [], []
        for tier in fresh:
            if tier is base_tier:
                continue
            if tier.seconds % base_tier.seconds == 0 and not kernel:
                wend = _relabel(base_tier, tier)
                label = {"window_end_s": wend, "window_day": _window_day(wend)}
                relabelled.append(tagged(base.selectExpr(
                    *[f"{label.get(c, f'`{c}`')} AS `{c}`" for c in base.columns]
                ), tier))
            else:
                own.append(tagged(self._partials(source, tier), tier))
        staged = [tagged(base, base_tier)]
        # the fold runs on the (tier, day) exchange: a partitioning on a
        # subset of its group satisfies the aggregate, so there is no second
        # exchange
        if relabelled:
            frame = functools.reduce(DataFrame.unionByName, relabelled)
            group = ["tier", self.key_col, "window_end_s", "window_day"]
            staged.append(
                frame.repartition("tier", "window_day")
                .groupBy(*group)
                .agg(*self.partials.merge_exprs())
            )
        if own:
            staged.append(
                functools.reduce(DataFrame.unionByName, own).repartition("tier", "window_day")
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

    def _commit(
        self, store: TierStore, manifest: dict, intent: dict, move_s: float
    ) -> dict:
        """Append the snapshot record for a moved intent and clear it:
        staged per-day counts add to the previous snapshot's
        ``partition_rows`` (untouched partitions are not re-read).
        ``partition_rows`` counts STORED rows, unfolded: a (key, window)
        that two batches appended counts twice until compaction folds it.

        The snapshot's ``summary`` (Iceberg analog: snapshot summary
        properties) holds the data files and bytes the batch added (an
        append removes none), the late rows dropped for expired days, and
        the staging and move wall times; it costs no Spark job."""
        batch_id, affected_days = intent["batch_id"], intent["affected_days"]
        prev = manifest["snapshots"][-1]["partition_rows"] if manifest["snapshots"] else {}
        part_counts = dict(prev)
        for day, n in intent["staged_rows"].items():
            part_counts[day] = part_counts.get(day, 0) + n
        live_days = set(store.partitions())
        part_counts = {d: c for d, c in part_counts.items() if d in live_days}
        snap = {
            "batch_id": batch_id,
            "snapshot_id": uuid.uuid4().hex,
            "committed_at": time.time(),
            "rows": sum(part_counts.values()),
            "partition_rows": part_counts,
            "merged_partitions": affected_days,
            # high-water mark of appended window ends — the "resume reading
            # the source from here" cursor (Iceberg analog: a snapshot
            # summary property)
            "watermark_s": intent.get("watermark_s"),
            "summary": {
                **{k: intent.get(k) for k in SUMMARY_KEYS},
                "move_s": move_s,
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
        identical to running the reference resample over all data at once.

        The stored rows are first folded per (key, ``window_end_s``) with
        the spec's merge (:meth:`TierStore.read`); a day written by one
        batch or one compaction is read without the fold."""
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
        """The fold of merge-on-read storage (Iceberg ``rewrite_data_files``
        analog), for any tier.

        Every batch appends files to the days it touches, so a day's files
        and its repeated (key, window) rows grow until compaction.  Rewrites
        every day partition holding more than ``max_files_per_day`` data
        files down to ``target_files``, folded to one row per (key, window)
        by the same fold a read applies (:meth:`TierStore.read`), so
        :meth:`read_tier` output is unchanged (asserted in
        tests/test_tiers.py).  The rewrite takes the tier's next write
        number, so later appends fold after it.

        Crash-safe: the rewritten days are fully staged, an intent is
        recorded, then each day is swapped live→trash→staged; a pending
        compaction found on entry is replayed from staging first.
        Re-running compact on an already-compacted day is a no-op (its file
        count is at or under the threshold).  A staging dir that no pending
        intent names was left by a crash while staging; it is swept on
        entry.
        """
        store = self.stores[name]

        # replay a pending compaction left by a crash mid-swap
        manifest = store.read_manifest()
        for intent in manifest.get("pending_compactions", []):
            self._swap_compaction(store, intent)
        # every pending compaction's staging dir is swapped away by now
        for leftover in store.root.glob("_staging_compact_*"):
            shutil.rmtree(leftover)

        victims = [
            day for day in days or store.partitions()
            if len(store.files(day)) > max_files_per_day
        ]
        if not victims:
            return []

        compact_id = uuid.uuid4().hex
        staging = store.root / f"_staging_compact_{compact_id}"
        manifest = store.read_manifest()
        seq = store.next_seq(manifest)
        for day in victims:
            staged_day = staging / f"window_day={day}"
            (
                store.read(self.spark, [day])
                .drop("window_day")
                .coalesce(target_files)
                .write.mode("overwrite")
                .parquet(str(staged_day))
            )
            for f in _data_files(staged_day):
                _move(f, staged_day, f"{seq:08d}-compact_{compact_id}-{f.name}")
        intent = {
            "compact_id": compact_id,
            "days": victims,
            "staged_rows": _footer_stats(staging)["staged_rows"],
        }
        manifest.setdefault("pending_compactions", []).append(intent)
        store.write_manifest(manifest)
        self._swap_compaction(store, intent)
        return victims

    def _swap_compaction(self, store: TierStore, intent: dict) -> None:
        """Swap a fully-staged compaction into the live table and commit:
        the latest snapshot's ``partition_rows`` takes the folded days'
        stored row counts."""
        compact_id, days = intent["compact_id"], intent["days"]
        self._swap_days(store, f"compact_{compact_id}", days)
        manifest = store.read_manifest()
        manifest.setdefault("compactions", []).append(
            {"at": time.time(), "compact_id": compact_id, "partitions": days}
        )
        if manifest["snapshots"]:
            head = manifest["snapshots"][-1]
            head["partition_rows"].update(intent.get("staged_rows", {}))
            head["rows"] = sum(head["partition_rows"].values())
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
        ``DELETE WHERE window_day < cutoff`` + ``expire_snapshots``).  Later
        batches drop their rows for days before the latest cutoff."""
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
