"""Quality-flag operator family (SURVEY §2.8) — expression tier.

Flag semantics follow the reference protocol
(/root/reference/diive/core/base/flagbase.py:80-88): per test one flag
column with 0 = ok, 2 = hard-rejected (1 = soft, used by correction flags);
the overall QCF flag combines per-test flags via the ladder in
/root/reference/diive/pkgs/qaqc/qcf.py:241-292.

Everything here is pure column expressions — whole-stage codegen, no
shuffles beyond those of any window the caller already has.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def flag_missing(df: DataFrame, value_col: str = "value", flag_col: str = "flag_missing") -> DataFrame:
    """Flag missing records: 2 where null, 0 otherwise
    (/root/reference/diive/pkgs/qaqc/flags.py:48-67)."""
    return df.withColumn(
        flag_col,
        F.when(F.col(value_col).isNull(), F.lit(2)).otherwise(F.lit(0)).cast("tinyint"),
    )


def flag_abslim(
    df: DataFrame,
    value_col: str = "value",
    minval: float = float("-inf"),
    maxval: float = float("inf"),
    flag_col: str = "flag_abslim",
) -> DataFrame:
    """Absolute-limits flag: 2 where value < min or value > max
    (/root/reference/diive/pkgs/outlierdetection/absolutelimits.py:138-194).

    NOTE the reference's ``ok`` mask uses ``|`` instead of ``&``
    (absolutelimits.py:189) which would mark everything ok; its ``rejected``
    mask is correct and is what drives the flag, so the net behavior matches
    this implementation. Documented deviation: we implement the correct
    boolean algebra for both.
    """
    v = F.col(value_col)
    return df.withColumn(
        flag_col,
        F.when(v.isNull(), F.lit(0))
        .when((v < minval) | (v > maxval), F.lit(2))
        .otherwise(F.lit(0))
        .cast("tinyint"),
    )


def flag_abslim_daynight(
    df: DataFrame,
    value_col: str,
    daytime_col: str,
    daytime_minmax: tuple[float, float],
    nighttime_minmax: tuple[float, float],
    flag_col: str = "flag_abslim_dn",
) -> DataFrame:
    """Absolute-limits flag with separate day/night limits (SURVEY §2.8 F6,
    /root/reference/diive/pkgs/outlierdetection/absolutelimits.py:20-134):
    the active (min, max) pair is chosen by the daytime flag (1=day)."""
    is_day = F.col(daytime_col) == 1
    vmin = F.when(is_day, F.lit(daytime_minmax[0])).otherwise(
        F.lit(nighttime_minmax[0])
    )
    vmax = F.when(is_day, F.lit(daytime_minmax[1])).otherwise(
        F.lit(nighttime_minmax[1])
    )
    v = F.col(value_col)
    return df.withColumn(
        flag_col,
        F.when(v.isNull(), F.lit(0))
        .when((v < vmin) | (v > vmax), F.lit(2))
        .otherwise(F.lit(0))
        .cast("tinyint"),
    )


def flag_manual(
    df: DataFrame,
    ts_col: str = "ts",
    ranges: list[tuple[str, str]] | None = None,
    flag_col: str = "flag_manual",
) -> DataFrame:
    """Flag explicit [start, end] datetime ranges as rejected
    (/root/reference/diive/pkgs/outlierdetection/manualremoval.py:71-99)."""
    cond = F.lit(False)
    for a, b in ranges or []:
        cond = cond | F.col(ts_col).between(F.lit(a), F.lit(b))
    return df.withColumn(
        flag_col, F.when(cond, F.lit(2)).otherwise(F.lit(0)).cast("tinyint")
    )


def setto_threshold(
    df: DataFrame,
    value_col: str = "value",
    threshold: float = 0.0,
    mode: str = "above",
    out_col: str | None = None,
    flag_col: str = "flag_setto",
) -> DataFrame:
    """Clamp values above/below a threshold to the threshold and soft-flag
    (1) the corrected records
    (/root/reference/diive/pkgs/corrections/setto_threshold.py:9-73)."""
    v = F.col(value_col)
    out_col = out_col or value_col
    if mode == "above":
        corrected = v > threshold
        clamped = F.least(v, F.lit(float(threshold)))
    else:
        corrected = v < threshold
        clamped = F.greatest(v, F.lit(float(threshold)))
    return df.withColumn(
        flag_col,
        F.when(v.isNotNull() & corrected, F.lit(1)).otherwise(F.lit(0)).cast("tinyint"),
    ).withColumn(out_col, clamped)


def _sum_where(flag_cols: list[str], flag_value: int) -> Column:
    """Sum of flag VALUES equal to ``flag_value`` across columns — mirrors
    ``df[df == v].sum(axis=1)`` (qcf.py:284-292): each matching hard flag
    contributes 2, each soft flag 1."""
    total = F.lit(0)
    for c in flag_cols:
        total = total + F.when(F.col(c) == flag_value, F.lit(flag_value)).otherwise(F.lit(0))
    return total


def add_qcf(
    df: DataFrame,
    flag_cols: list[str],
    value_col: str = "value",
    qcf_col: str = "qcf",
    suffix: str = "",
) -> DataFrame:
    """Flag sums + overall QCF ladder + filtered series
    (/root/reference/diive/pkgs/qaqc/qcf.py:241-292,108-115).

    Ladder (pandas assignment order → first-match-wins reversal):
      1 where 1 <= softsum <= 3 and hardsum == 0   (last pandas write)
      2 where hardsum >= 2 or softsum > 3
      0 where total == 0
      null otherwise (unreachable for integer flags).
    ``value_qcf`` nulls QCF==2 records; ``value_qcf0`` keeps QCF==0 only.
    """
    h = _sum_where(flag_cols, 2).cast("int")
    s = _sum_where(flag_cols, 1).cast("int")
    qcf = (
        F.when(s.between(1, 3) & (h == 0), F.lit(1))
        .when((h >= 2) | (s > 3), F.lit(2))
        .when((h + s) == 0, F.lit(0))
        .otherwise(F.lit(None))
        .cast("tinyint")
    )
    return df.withColumns(
        {
            f"sum_hardflags{suffix}": h,
            f"sum_softflags{suffix}": s,
            qcf_col: qcf,
            **_filtered_series(qcf, value_col),
        }
    )


def _filtered_series(qcf: Column, value_col: str) -> dict[str, Column]:
    """``value_qcf`` (QCF==2 nulled) and ``value_qcf0`` (QCF==0 kept)."""
    v = F.col(value_col)
    return {
        f"{value_col}_qcf": F.when(qcf == 2, F.lit(None)).otherwise(v),
        f"{value_col}_qcf0": F.when(qcf > 0, F.lit(None)).otherwise(v),
    }


def add_qcf_daynight(
    df: DataFrame,
    flag_cols: list[str],
    value_col: str = "value",
    daytime_col: str | None = None,
    nighttime_col: str | None = None,
    daytime_accept_qcf_below: int = 2,
    nighttime_accept_qcf_below: int = 2,
    qcf_col: str = "qcf",
    suffix: str = "",
) -> DataFrame:
    """QCF ladder with daytime/nighttime acceptance thresholds
    (/root/reference/diive/pkgs/qaqc/qcf.py:264-282): after the base
    ladder, DAYTIME records with ``qcf >= daytime_accept_qcf_below`` are
    rejected (set to 2), then NIGHTTIME records likewise against the
    UPDATED flag — sequential overwrites exactly like the reference's
    two ``.loc`` assignments. The filtered series columns are rebuilt
    from the final flag."""
    out = add_qcf(df, flag_cols, value_col=value_col, qcf_col=qcf_col, suffix=suffix)
    q = F.col(qcf_col)
    if daytime_col is not None:
        q = F.when(
            (q >= daytime_accept_qcf_below) & (F.col(daytime_col) == 1), F.lit(2)
        ).otherwise(q)
    if nighttime_col is not None:
        q = F.when(
            (q >= nighttime_accept_qcf_below) & (F.col(nighttime_col) == 1), F.lit(2)
        ).otherwise(q)
    q = q.cast("tinyint")
    return out.withColumns({qcf_col: q, **_filtered_series(q, value_col)})
