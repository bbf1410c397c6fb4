"""Min-count-gated downsampling — the heart of the rollup engine.

Re-expresses ``resample_series_to_30MIN``
(/root/reference/diive/core/times/resampling.py:13-132) and the generalized
``resample_df`` (/root/reference/diive/core/dfun/frames.py:323-393) as a
grouped tumbling-window aggregation:

  1. (optional) convert END-labeled input to MIDDLE (``ts - freq/2``) so
     records land in the correct bin (resampling.py:67-68);
  2. bucket into ``[start, end)`` windows — pandas ``closed='left'`` — and
     label each bucket with its END — pandas ``label='right'``
     (resampling.py:86);
  3. aggregate mean/sum/count per (key, bucket) (resampling.py:88-89);
  4. per key: ``maxcount = max(bucket count)``, ``mincount =
     int(maxcount * mincounts_perc)``, floored to 1 when < 3
     (resampling.py:76-83);
  5. keep buckets with ``count >= mincount`` (resampling.py:96-97).

Scale notes: step 3 is one shuffle on (key, bucket) with map-side partial
aggregation; step 4 is a window over the *aggregated* (small) result — no
second pass over raw data. For hot keys, :func:`resample_gated` supports
salted two-phase aggregation (``salt_buckets``): partials are computed per
(key, bucket, salt) then merged, so a single key's raw rows never all land
on one task. Mean is recomposed exactly as sum/count so salting does not
change semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from diive_spark.operators.sanitize import ts_shift


def bucket_end(ts: str | Column, seconds: int) -> Column:
    """END label of the ``[start, start+seconds)`` bucket containing ``ts``
    (a column name or expression).

    Equivalent to ``F.window(ts, dur).end`` but as a plain expression so it
    stays inside whole-stage codegen and composes with arbitrary column types
    (timestamp and timestamp_ntz).
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    epoch = F.unix_micros(c.cast("timestamp"))
    end_us = (F.floor(epoch / (seconds * 1_000_000)) + 1) * (seconds * 1_000_000)
    return F.timestamp_micros(end_us.cast("long"))


def resample_gated(
    df: DataFrame,
    key_col: str = "url",
    ts_col: str = "ts",
    value_col: str = "value",
    bucket_seconds: int = 1800,
    mincounts_perc: float = 0.9,
    source_freq_seconds: int | None = None,
    salt_buckets: int = 0,
    window_col: str = "window_end",
) -> DataFrame:
    """Downsample ``value`` per series with the reference's min-count gate.

    Returns ``(key, window_end, agg_mean, agg_sum, n_vals)`` — only buckets
    that pass the gate. ``agg_mean``/``agg_sum`` ignore nulls, and ``n_vals``
    counts non-null values, exactly like pandas ``resample().count()``.

    ``salt_buckets > 0`` enables two-phase salted aggregation for skewed
    keys (SURVEY.md §4.1 item 5).
    """
    ts_eff = F.col(ts_col)
    if source_freq_seconds:
        # END -> MIDDLE for correct bin assignment (resampling.py:67-68)
        ts_eff = ts_shift(ts_eff, -source_freq_seconds / 2)
    binned = df.withColumn(window_col, bucket_end(ts_eff, bucket_seconds))

    if salt_buckets > 0:
        salt = (F.crc32(F.col(ts_col).cast("string")) % salt_buckets).alias("__salt")
        partial = binned.groupBy(key_col, window_col, salt).agg(
            F.sum(value_col).alias("__s"),
            F.count(value_col).alias("__c"),
            F.count(F.lit(1)).alias("__n"),
        )
        agg = partial.groupBy(key_col, window_col).agg(
            F.sum("__s").alias("agg_sum"),
            F.sum("__c").alias("n_vals"),
            F.sum("__n").alias("__n_slots"),
        )
        agg = agg.withColumn(
            "agg_mean", F.when(F.col("n_vals") > 0, F.col("agg_sum") / F.col("n_vals"))
        )
    else:
        agg = binned.groupBy(key_col, window_col).agg(
            F.avg(value_col).alias("agg_mean"),
            F.sum(value_col).alias("agg_sum"),
            F.count(value_col).alias("n_vals"),
            F.count(F.lit(1)).alias("__n_slots"),
        )

    # gate: per-key maxcount over the aggregated (already small) result.
    # The reference derives maxcounts from a dummy ONES series over ALL index
    # slots — including records whose value is NaN (resampling.py:76-79) —
    # while the gate itself compares the NON-null count (resampling.py:88,96).
    w = Window.partitionBy(key_col)
    floor_count = F.floor(F.col("__maxcount") * mincounts_perc)
    mincount = F.when(floor_count < 3, F.lit(1)).otherwise(floor_count)
    return (
        agg.withColumn("__maxcount", F.max("__n_slots").over(w))
        .filter(F.col("n_vals") >= mincount)
        .select(key_col, window_col, "agg_mean", "agg_sum", "n_vals")
    )


def cascade_tiers(
    df: DataFrame,
    tiers,
    key_col: str = "url",
    ts_col: str = "ts",
    value_col: str = "value",
    mincounts_perc: float | None = None,
    source_freq_seconds: int | None = None,
) -> dict[str, DataFrame]:
    """Multi-resolution continuous aggregates: resample the SOURCE at every
    tier (the reference re-runs resample per resolution rather than
    aggregating aggregates — the min-count gate must see raw counts per
    level; SURVEY.md §2.3 note after A17).

    Returns ``{tier.name: gated DataFrame}``. Each tier is its own plan
    over ``df``: nothing is shared between tiers, so persist ``df`` when it
    is expensive — each tier then reads the cached rows and aggregates them
    with no exchange beyond its own (key, bucket) aggregation.
    """
    out = {}
    for tier in tiers:
        out[tier.name] = resample_gated(
            df,
            key_col=key_col,
            ts_col=ts_col,
            value_col=value_col,
            bucket_seconds=tier.seconds,
            mincounts_perc=(
                mincounts_perc if mincounts_perc is not None else tier.mincounts_perc
            ),
            source_freq_seconds=source_freq_seconds,
        )
    return out
