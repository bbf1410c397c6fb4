"""Gap analysis and gap-filling (SURVEY §2.3 A5, §2.4 T3/T4).

All operators are pure window expressions (gaps-and-islands): no kernels,
no joins — one sort-shuffle per series ordering that Catalyst shares across
the chained windows (none at all when the input is already hash-partitioned
by the key). The fills look a bounded number of rows back and ahead
(``rowsBetween(-n, n)``), never to the end of the series: Spark evaluates
an ``unboundedFollowing`` frame afresh for every row, which is quadratic in
the series length.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _run_id(key_col: str, ts_col: str, value_col: str) -> Column:
    """Consecutive-NaN run id: cumulative count of non-null records
    (/root/reference/diive/pkgs/analyses/gapfinder.py:58-75 — valid records
    flagged 1, cumsum constant across a gap run)."""
    w = Window.partitionBy(key_col).orderBy(ts_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return F.count(value_col).over(w)


def gap_runs(
    df: DataFrame,
    key_col: str = "url",
    ts_col: str = "ts",
    value_col: str = "value",
    limit: int | None = None,
) -> DataFrame:
    """One row per NaN gap run: (key, gap_start, gap_end, gap_len)
    (/root/reference/diive/pkgs/analyses/gapfinder.py:58-117). With
    ``limit``, keep only runs with gap_len <= limit (gapfinder.py:105-117)."""
    runid = _run_id(key_col, ts_col, value_col)
    gaps = (
        df.withColumn("__run", runid)
        .filter(F.col(value_col).isNull())
        .groupBy(key_col, "__run")
        .agg(
            F.min(ts_col).alias("gap_start"),
            F.max(ts_col).alias("gap_end"),
            F.count(F.lit(1)).alias("gap_len"),
        )
        .drop("__run")
    )
    if limit is not None:
        gaps = gaps.filter(F.col("gap_len") <= limit)
    return gaps


def linear_interp_limited(
    df: DataFrame,
    key_col: str = "url",
    ts_col: str = "ts",
    value_col: str = "value",
    gap_limit: int = 3,
    out_col: str | None = None,
    flag_col: str | None = "flag_gapfilled",
    chunk_slots: int | None = None,
    grid_step: int = 1,
) -> DataFrame:
    """Linear interpolation of interior gaps with run-length <= gap_limit
    (/root/reference/diive/pkgs/gapfilling/interpolate.py:8-36).

    pandas ``interpolate(method='linear')`` weights by ROW POSITION (equally
    spaced), not elapsed time; on the engine's regular per-series grid the
    two coincide, and we use row position to match the reference exactly
    even on irregular grids.

    ``limit_area='inside'`` ⇒ only gaps with a valid value on BOTH sides.

    Bounded frames, exact: a fillable gap holds at most ``gap_limit``
    nulls, so both of its anchors lie within ``reach = gap_limit + 1`` rows
    of every row in it. The nearest valid value and its row position are
    ``last(ignorenulls)`` over the ``reach`` rows before and
    ``first(ignorenulls)`` over the ``reach`` rows after; the gap length is
    ``next_pos - prev_pos - 1``. A longer gap either leaves an anchor out of
    reach (null) or measures longer than ``gap_limit`` — unfilled either
    way, as in the reference. The interpolation evaluates in
    ``np.interp``'s order (slope first), so values equal pandas' bit for
    bit.

    ``chunk_slots`` (with ``grid_step`` = the grid spacing of ``ts_col``):
    halo-chunk the per-key windows so one monster series never lands in a
    single task.  halo = gap_limit+1 slots is EXACT: a fillable gap (≤
    gap_limit) plus both anchors fits inside the halo, and a gap that
    extends past the halo leaves prev/next null inside the visible window,
    so it is (correctly) left unfilled on both paths.  The interpolation
    weights use row positions local to the visible window — only position
    DIFFERENCES enter the formula, so they match the global ones."""
    if chunk_slots:
        from diive_spark.operators.chunking import explode_halo_chunks

        d0 = df.withColumn("__slotpos", F.col(ts_col) / grid_step)
        d0 = explode_halo_chunks(d0, "__slotpos", chunk_slots, gap_limit + 1)
        out = linear_interp_limited(
            d0,
            key_col=[key_col, "__chunk"],  # type: ignore[arg-type]
            ts_col=ts_col,
            value_col=value_col,
            gap_limit=gap_limit,
            out_col=out_col,
            flag_col=flag_col,
        )
        return out.filter(
            F.col("__chunk") == F.floor(F.col("__slotpos") / chunk_slots)
        ).drop("__slotpos", "__chunk")
    part = key_col if isinstance(key_col, list) else [key_col]
    w_ord = Window.partitionBy(*part).orderBy(ts_col)
    reach = gap_limit + 1
    w_prev = w_ord.rowsBetween(-reach, -1)
    w_next = w_ord.rowsBetween(1, reach)
    v = F.col(value_col)
    vpos = F.when(v.isNotNull(), F.col("__pos"))
    d = df.withColumn("__pos", F.row_number().over(w_ord)).withColumns(
        {
            "__prev_v": F.last(value_col, ignorenulls=True).over(w_prev),
            "__prev_p": F.last(vpos, ignorenulls=True).over(w_prev),
            "__next_v": F.first(value_col, ignorenulls=True).over(w_next),
            "__next_p": F.first(vpos, ignorenulls=True).over(w_next),
        }
    )
    prev_v, prev_p = F.col("__prev_v"), F.col("__prev_p")
    next_v, next_p = F.col("__next_v"), F.col("__next_p")

    # np.interp's order of operations (slope first), which pandas uses
    interp = (next_v - prev_v) / (next_p - prev_p) * (F.col("__pos") - prev_p) + prev_v
    fillable = (
        v.isNull()
        & prev_v.isNotNull()
        & next_v.isNotNull()
        & (next_p - prev_p - 1 <= gap_limit)
    )
    cols = {}
    if flag_col:
        cols[flag_col] = F.when(fillable, F.lit(1)).otherwise(F.lit(0)).cast("tinyint")
    cols[out_col or value_col] = F.when(fillable, interp).otherwise(v)
    return d.withColumns(cols).drop(
        "__pos", "__prev_v", "__prev_p", "__next_v", "__next_p"
    )


def ffill_limited(
    df: DataFrame,
    key_col: str = "url",
    ts_col: str = "ts",
    value_col: str = "value",
    limit: int = 3,
    out_col: str | None = None,
) -> DataFrame:
    """Forward-fill with limit: pandas ``ffill(limit=n)`` — a null is filled
    iff a valid value exists within the previous ``limit`` rows. Used by the
    upsampling harmonization
    (/root/reference/diive/pkgs/qaqc/meteoscreening.py:571-631, which uses
    backfill for END-stamped data; see :func:`bfill_limited`)."""
    w = Window.partitionBy(key_col).orderBy(ts_col).rowsBetween(-limit, 0)
    filled = F.coalesce(F.col(value_col), F.last(value_col, ignorenulls=True).over(w))
    return df.withColumn(out_col or value_col, filled)


def bfill_limited(
    df: DataFrame,
    key_col: str = "url",
    ts_col: str = "ts",
    value_col: str = "value",
    limit: int = 3,
    out_col: str | None = None,
) -> DataFrame:
    """Backward-fill with limit (pandas ``bfill(limit=n)``) — the fill used
    to harmonize mixed-resolution groups onto the finest grid
    (meteoscreening.py:571-631: END-labeled timestamps ⇒ backfill)."""
    w = Window.partitionBy(key_col).orderBy(ts_col).rowsBetween(0, limit)
    filled = F.coalesce(F.col(value_col), F.first(value_col, ignorenulls=True).over(w))
    return df.withColumn(out_col or value_col, filled)
