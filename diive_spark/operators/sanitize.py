"""Timestamp sanitation — the Spark re-expression of the reference's
``TimestampSanitizer`` pipeline (/root/reference/diive/core/times/times.py:148-244):

    validate -> sort ascending -> dedup (keep last) -> detect frequency ->
    regularize onto a continuous grid -> convert convention (END -> MIDDLE)

In Spark there is no index, so every step is an explicit column transform.
All steps are pure DataFrame ops (no Python UDFs): sorting is deferred to the
window operators that need order, so ``sanitize`` costs exactly one shuffle
plus one more for the grid join when ``regularize=True``. That shuffle
hash-partitions on the key alone (:func:`kernel_partition`), which also
satisfies the dedup window's (key, ts) clustering — so a per-key grouped
kernel after the dedup (e.g. ``zscore_flag_iterated``) reuses it instead of
shuffling again.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from diive_spark.session import kernel_partition


def dedup_keep_last(
    df: DataFrame,
    key_col: str = "url",
    ts_col: str = "ts",
    order_col: str | None = None,
) -> DataFrame:
    """Drop duplicate (key, ts) rows keeping the LAST occurrence.

    Mirrors ``remove_index_duplicates(keep='last')``
    (/root/reference/diive/core/times/times.py:804-821). pandas "last" means
    last in file order; ``order_col`` supplies that order (e.g. an ingest
    sequence number or file mtime). Without one, ties are broken
    deterministically by a stable hash of the whole row so reruns agree.
    """
    if order_col is None:
        order = F.xxhash64(*[F.col(c) for c in df.columns])
    else:
        order = F.col(order_col)
    w = Window.partitionBy(key_col, ts_col).orderBy(order.desc())
    return (
        kernel_partition(df, key_col)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def ts_shift(ts: Column, seconds: float) -> Column:
    """``ts + seconds`` with sub-second precision (µs arithmetic)."""
    return F.timestamp_micros(
        (F.unix_micros(ts) + F.lit(int(seconds * 1_000_000))).cast("long")
    )


def end_to_middle(df: DataFrame, ts_col: str, freq_seconds: int) -> DataFrame:
    """Convert END-of-interval timestamps to MIDDLE: ``ts - freq/2``
    (/root/reference/diive/core/times/times.py:1023-1027)."""
    return df.withColumn(ts_col, ts_shift(F.col(ts_col), -freq_seconds / 2))


def middle_to_end(df: DataFrame, ts_col: str, freq_seconds: int) -> DataFrame:
    """Inverse of :func:`end_to_middle`."""
    return df.withColumn(ts_col, ts_shift(F.col(ts_col), freq_seconds / 2))


def regularize_grid(
    df: DataFrame,
    key_col: str = "url",
    ts_col: str = "ts",
    freq_seconds: int = 60,
    align_to_grid: bool = True,
) -> DataFrame:
    """Reindex every series onto a continuous per-key timestamp grid from its
    first to its last record; missing grid points become all-null rows.

    Mirrors ``continuous_timestamp_freq``
    (/root/reference/diive/core/times/times.py:824-849): pandas
    ``date_range(first, last, freq)`` + ``reindex``.

    Implementation: per-key min/max -> ``sequence()`` + ``explode`` to build
    the grid distributed (never on the driver), then a left join back. The
    join is on (key, ts) which co-partitions with the grid's own groupBy key,
    so AQE turns this into a cheap co-located join; at 100 TB the grid side
    is tiny relative to data (one row per expected sample).

    With ``align_to_grid`` the grid starts at the first timestamp rounded up
    to a multiple of ``freq_seconds`` (epoch-aligned), which is what a
    END-labeled regular sensor grid looks like; set False to anchor exactly
    at the observed first timestamp like pandas ``date_range(start=first)``.
    """
    interval = F.expr(f"INTERVAL {freq_seconds} SECONDS")
    agg = df.groupBy(key_col).agg(
        F.min(ts_col).alias("__t0"), F.max(ts_col).alias("__t1")
    )
    if align_to_grid:
        agg = agg.withColumn(
            "__t0",
            F.timestamp_seconds(
                F.ceil(F.unix_timestamp(F.col("__t0").cast("timestamp")) / freq_seconds)
                * freq_seconds
            ).cast(dict(df.dtypes)[ts_col]),
        )
    grid = agg.select(
        key_col,
        F.explode(F.sequence(F.col("__t0"), F.col("__t1"), interval)).alias(ts_col),
    )
    return grid.join(df, on=[key_col, ts_col], how="left")


def sanitize(
    df: DataFrame,
    key_col: str = "url",
    ts_col: str = "ts",
    order_col: str | None = None,
    freq_seconds: int | None = None,
    regularize: bool = False,
    to_middle: bool = False,
) -> DataFrame:
    """Full ``TimestampSanitizer`` pipeline
    (/root/reference/diive/core/times/times.py:148-244). Sorting is omitted:
    Spark DataFrames are unordered; every downstream window orders explicitly.
    """
    out = df.filter(F.col(ts_col).isNotNull())
    out = dedup_keep_last(out, key_col, ts_col, order_col)
    if regularize and freq_seconds:
        out = regularize_grid(out, key_col, ts_col, freq_seconds)
    if to_middle and freq_seconds:
        out = end_to_middle(out, ts_col, freq_seconds)
    return out


def add_timezone_info(ts: Column, timezone_of_timestamp: str) -> Column:
    """S-tier tz localization (reference ``add_timezone_info``,
    /root/reference/diive/core/times/times.py:1047-1060): the reference
    tz-localizes a naive index at a fixed UTC offset like 'UTC+01:00'
    (so InfluxDB uploads in UTC). Spark timestamps are instants, so the
    equivalent is shifting the naive local reading to its UTC instant:
    instant = naive - offset."""
    sign = 1 if "+" in timezone_of_timestamp else -1
    hh, mm = timezone_of_timestamp.split("UTC")[1][1:].split(":")
    offset_s = sign * (int(hh) * 3600 + int(mm) * 60)
    # microsecond arithmetic: the reference's tz_localize keeps full
    # resolution, so flooring to whole seconds here would silently drop the
    # 50 ms-rounded fractions produced by timestamps_from_file_start
    # (ADVICE r2 low #4)
    return F.timestamp_micros(
        F.unix_micros(ts.cast("timestamp")) - offset_s * 1_000_000
    )


def timestamps_from_file_start(
    df: DataFrame,
    order_col: str,
    file_start: str,
    data_nominal_res: float,
    expected_duration: int,
    out_col: str = "ts",
) -> DataFrame:
    """Rebuild raw-file timestamps from the file start (reference
    ``insert_datetimerange`` path, times.py:1200-1224): the TRUE
    resolution stretches the nominal one when the record count deviates
    >0.1% from the expected count (times.py:1143-1172), timestamps are
    ``file_start + rn * true_resolution`` rounded to 50 ms.

    SCOPE GUARD: the row number comes from a window over ``order_col``
    partitioned by NOTHING — correct here because the contract is
    per-file (raw logger files are single-file-sized by construction, the
    reference operates on one file's frame).  Do NOT lift this into a
    multi-file/multi-key path: partition by a file-id column upstream, or
    use :func:`diive_spark.operators.rank.global_row_number` for an exact
    distributed global rank."""
    from pyspark.sql import Window

    n = df.count()
    expected_records = int(expected_duration / data_nominal_res)
    ratio = n / expected_records
    if 0.999 < ratio < 1.001:
        true_res = expected_duration / n
    else:
        true_res = data_nominal_res
    w = Window.orderBy(order_col)
    sec = (F.row_number().over(w) - 1).cast("double") * true_res
    ts_us = (
        F.unix_micros(F.to_timestamp(F.lit(file_start)))
        + (sec * 1_000_000).cast("long")
    )
    # round to 50 ms accuracy (times.py:1223)
    rounded = (F.round(ts_us / 50_000) * 50_000).cast("long")
    return df.withColumn(out_col, F.timestamp_micros(rounded))
