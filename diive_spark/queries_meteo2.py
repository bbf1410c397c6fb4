"""Round-4 meteo/flux battery #2: energy-balance closure regression,
agronomic degree-days, FAO-56 Penman-Monteith reference ET0, and the
Lloyd-Taylor nighttime-respiration E0 grid fit — the standard
post-processing analyses an eddy-covariance site runs downstream of the
reference's flux chain (diive stops at Level-3; these are the published
Level-4 companions: Wilson et al. 2002 energy-balance closure, Allen et
al. FAO-56, Lloyd & Taylor 1994 / Reichstein 2005 partitioning).

Physical columns are synthesized DETERMINISTICALLY from the events
table (identical arithmetic in Spark and DuckDB), as everywhere in
queries_meteo.py. House oracle conventions: inputs floor-scaled to
exact integers with the 1/pi offset BEFORE any cross-row aggregation,
every DuckDB integer SUM wrapped in CAST(... AS BIGINT), doubles only
in per-row/per-group closed forms evaluated identically by both
engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from diive_spark.queries_trend import _OFF

# ---------------------------------------------------------------------------
# energy_balance_closure — Wilson et al. (2002, AgForMet) closure audit
# ---------------------------------------------------------------------------
# Turbulent fluxes (H + LE) regressed on available energy (Rn - G) per
# day: OLS slope + intercept + the energy-balance ratio EBR =
# sum(H+LE)/sum(Rn-G).  All four synthetic fluxes are exact integers in
# centi-W/m2 (floor-scaled value + event_id residues), so Sx/Sy/Sxx/Sxy
# are exact BIGINTs; slope/intercept/EBR are single closed-form doubles
# from those integers.  Per-day groupBy = combinable partial agg, no
# window, scales linearly.


def q_energy_balance_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    rn = F.floor(F.col("value") * 100 + F.lit(_OFF)).cast("long")
    g = F.floor(F.col("value") * 10 + F.lit(_OFF)).cast("long")
    h = (
        F.floor(F.col("value") * 55 + F.lit(_OFF)).cast("long")
        + F.col("event_id") % 97
        - F.lit(48)
    )
    le = (
        F.floor(F.col("value") * 30 + F.lit(_OFF)).cast("long")
        + F.col("event_id") % 53
        - F.lit(26)
    )
    t = ev.select(
        F.to_date("ts").alias("day"),
        (rn - g).alias("x"),
        (h + le).alias("y"),
    )
    agg = t.groupBy("day").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num.cast("double") / den.cast("double")
    intercept_c = (F.col("sy").cast("double") - slope * F.col("sx")) / F.col(
        "n"
    ).cast("double")
    ebr = F.col("sy").cast("double") / F.col("sx").cast("double")
    out = agg.select(
        F.col("day").cast("string").alias("day"),
        F.col("n").cast("long").alias("n"),
        F.floor(slope * 1_000_000 + F.lit(_OFF)).cast("long").alias("slope_e6"),
        # intercept is in centi-W/m2; /100 to W/m2, e4-floored
        F.floor(intercept_c * 100 + F.lit(_OFF)).cast("long").alias(
            "intercept_wm2_e4"
        ),
        F.floor(ebr * 1_000_000 + F.lit(_OFF)).cast("long").alias("ebr_e6"),
    )
    return out.orderBy("day")


SQL_EBC = f"""
WITH t AS (
  SELECT CAST(ts AS DATE) AS day,
         (CAST(floor(value * 100 + {_OFF}) AS BIGINT)
          - CAST(floor(value * 10 + {_OFF}) AS BIGINT)) AS x,
         (CAST(floor(value * 55 + {_OFF}) AS BIGINT) + event_id % 97 - 48
          + CAST(floor(value * 30 + {_OFF}) AS BIGINT) + event_id % 53 - 26)
           AS y
  FROM events
), agg AS (
  SELECT day, count(*) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM t GROUP BY 1
)
SELECT CAST(day AS VARCHAR) AS day,
       CAST(n AS BIGINT) AS n,
       CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * sxx - sx * sx AS DOUBLE)
                  * 1000000 + {_OFF}) AS BIGINT) AS slope_e6,
       CAST(floor((CAST(sy AS DOUBLE)
                   - CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE) * sx)
                  / CAST(n AS DOUBLE) * 100 + {_OFF}) AS BIGINT)
         AS intercept_wm2_e4,
       CAST(floor(CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE)
                  * 1000000 + {_OFF}) AS BIGINT) AS ebr_e6
FROM agg
ORDER BY day
"""


# ---------------------------------------------------------------------------
# degree_days — growing / heating / cooling degree days (standard
# (Tmin+Tmax)/2 convention, e.g. McMaster & Wilhelm 1997)
# ---------------------------------------------------------------------------
# TA synthesized in exact centi-degC: floor(value*10 + OFF) - 500, i.e.
# value/10 - 5 degC (range about -5..44).  Daily Tmin/Tmax are exact
# integer mins/maxes; GDD base 10 / HDD+CDD base 18 are computed on the
# DOUBLED sum (tmin_c + tmax_c) so the half never leaves integers.
# Units of gdd/hdd/cdd columns: half-centi-degC-days (divide by 200 for
# degC-days).  Pure combinable agg per day.


def q_degree_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ta_c = (F.floor(F.col("value") * 10 + F.lit(_OFF)).cast("long") - 500).alias(
        "ta_c"
    )
    t = ev.select(F.to_date("ts").alias("day"), ta_c)
    d = t.groupBy("day").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("ta_c").alias("tmin_c"),
        F.max("ta_c").alias("tmax_c"),
    )
    dbl = F.col("tmin_c") + F.col("tmax_c")
    out = d.select(
        F.col("day").cast("string").alias("day"),
        F.col("n").cast("long").alias("n"),
        F.col("tmin_c").cast("long").alias("tmin_c"),
        F.col("tmax_c").cast("long").alias("tmax_c"),
        F.greatest(F.lit(0).cast("long"), (dbl - 2000).cast("long")).alias(
            "gdd10_h"
        ),
        F.greatest(F.lit(0).cast("long"), (F.lit(3600) - dbl).cast("long")).alias(
            "hdd18_h"
        ),
        F.greatest(F.lit(0).cast("long"), (dbl - 3600).cast("long")).alias(
            "cdd18_h"
        ),
    )
    return out.orderBy("day")


SQL_DEGREE_DAYS = f"""
WITH t AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(floor(value * 10 + {_OFF}) AS BIGINT) - 500 AS ta_c
  FROM events
), d AS (
  SELECT day, count(*) AS n,
         min(ta_c) AS tmin_c, max(ta_c) AS tmax_c
  FROM t GROUP BY 1
)
SELECT CAST(day AS VARCHAR) AS day,
       CAST(n AS BIGINT) AS n,
       CAST(tmin_c AS BIGINT) AS tmin_c,
       CAST(tmax_c AS BIGINT) AS tmax_c,
       CAST(greatest(0, tmin_c + tmax_c - 2000) AS BIGINT) AS gdd10_h,
       CAST(greatest(0, 3600 - (tmin_c + tmax_c)) AS BIGINT) AS hdd18_h,
       CAST(greatest(0, tmin_c + tmax_c - 3600) AS BIGINT) AS cdd18_h
FROM d
ORDER BY day
"""


# ---------------------------------------------------------------------------
# penman_monteith_et0 — FAO-56 daily reference evapotranspiration
# (Allen, Pereira, Raes, Smith 1998, Eq. 6)
# ---------------------------------------------------------------------------
# Daily means of TA/RH/u2/Rs are exact integer sums divided by exact
# counts (identical doubles in both engines); the FAO-56 closed form
# (saturation vapour pressure, slope of the es curve, psychrometric
# constant 0.0665 kPa/degC, net radiation proxy 0.75*Rs - 2.0, G = 0)
# is then evaluated per day — one exp() per group, same double math in
# both engines, e4-floored output.  Per-day groupBy only.


def q_penman_monteith_et0(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    t = ev.select(
        F.to_date("ts").alias("day"),
        # TA in centi-degC: value/10 + 5 degC
        (F.floor(F.col("value") * 10 + F.lit(_OFF)).cast("long") + 500).alias(
            "ta_c"
        ),
        (F.lit(40) + F.col("event_id") % 60).cast("long").alias("rh_p"),
        # u2 in deci-m/s: 1.0 + (event_id % 40)/10
        (F.lit(10) + F.col("event_id") % 40).cast("long").alias("u2_d"),
        # Rs in centi-MJ/m2/day: value/25 + 5
        (F.floor(F.col("value") * 4 + F.lit(_OFF)).cast("long") + 500).alias(
            "rs_c"
        ),
    )
    d = t.groupBy("day").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("ta_c").alias("s_ta"),
        F.sum("rh_p").alias("s_rh"),
        F.sum("u2_d").alias("s_u2"),
        F.sum("rs_c").alias("s_rs"),
    )
    nd = F.col("n").cast("double")
    ta = F.col("s_ta").cast("double") / nd / 100.0
    rh = F.col("s_rh").cast("double") / nd
    u2 = F.col("s_u2").cast("double") / nd / 10.0
    rs = F.col("s_rs").cast("double") / nd / 100.0
    es = 0.6108 * F.exp(F.lit(17.27) * ta / (ta + F.lit(237.3)))
    delta = F.lit(4098.0) * es / F.pow(ta + F.lit(237.3), 2)
    ea = es * rh / 100.0
    rn = F.lit(0.75) * rs - F.lit(2.0)
    gamma = F.lit(0.0665)
    et0 = (
        F.lit(0.408) * delta * rn
        + gamma * F.lit(900.0) / (ta + F.lit(273.0)) * u2 * (es - ea)
    ) / (delta + gamma * (F.lit(1.0) + F.lit(0.34) * u2))
    out = d.select(
        F.col("day").cast("string").alias("day"),
        F.col("n").cast("long").alias("n"),
        F.floor(es * 10_000 + F.lit(_OFF)).cast("long").alias("es_kpa_e4"),
        F.floor(delta * 10_000 + F.lit(_OFF)).cast("long").alias("delta_e4"),
        F.floor(et0 * 10_000 + F.lit(_OFF)).cast("long").alias("et0_mm_e4"),
    )
    return out.orderBy("day")


SQL_PM_ET0 = f"""
WITH t AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(floor(value * 10 + {_OFF}) AS BIGINT) + 500 AS ta_c,
         CAST(40 + event_id % 60 AS BIGINT) AS rh_p,
         CAST(10 + event_id % 40 AS BIGINT) AS u2_d,
         CAST(floor(value * 4 + {_OFF}) AS BIGINT) + 500 AS rs_c
  FROM events
), d AS (
  SELECT day, count(*) AS n,
         CAST(sum(ta_c) AS BIGINT) AS s_ta,
         CAST(sum(rh_p) AS BIGINT) AS s_rh,
         CAST(sum(u2_d) AS BIGINT) AS s_u2,
         CAST(sum(rs_c) AS BIGINT) AS s_rs
  FROM t GROUP BY 1
), m AS (
  SELECT day, n,
         CAST(s_ta AS DOUBLE) / n / 100.0 AS ta,
         CAST(s_rh AS DOUBLE) / n AS rh,
         CAST(s_u2 AS DOUBLE) / n / 10.0 AS u2,
         CAST(s_rs AS DOUBLE) / n / 100.0 AS rs
  FROM d
), f AS (
  SELECT day, n, ta, rh, u2, rs,
         0.6108 * exp(17.27 * ta / (ta + 237.3)) AS es
  FROM m
), g AS (
  SELECT day, n, es,
         4098.0 * es / ((ta + 237.3) * (ta + 237.3)) AS delta,
         es * rh / 100.0 AS ea,
         0.75 * rs - 2.0 AS rn,
         ta, u2
  FROM f
)
SELECT CAST(day AS VARCHAR) AS day,
       CAST(n AS BIGINT) AS n,
       CAST(floor(es * 10000 + {_OFF}) AS BIGINT) AS es_kpa_e4,
       CAST(floor(delta * 10000 + {_OFF}) AS BIGINT) AS delta_e4,
       CAST(floor((0.408 * delta * rn
                   + 0.0665 * 900.0 / (ta + 273.0) * u2 * (es - ea))
                  / (delta + 0.0665 * (1.0 + 0.34 * u2))
                  * 10000 + {_OFF}) AS BIGINT) AS et0_mm_e4
FROM g
ORDER BY day
"""


# ---------------------------------------------------------------------------
# lloyd_taylor_grid — Lloyd & Taylor (1994) respiration model, E0 by
# grid search with closed-form rb (the Reichstein 2005 partitioning
# inner loop)
# ---------------------------------------------------------------------------
# reco = rb * exp(E0 * (1/(Tref - T0) - 1/(Ta - T0))), Tref = 10 degC,
# T0 = -46.02 degC.  A synthetic observed reco is generated from the
# model at E0 = 308.56, rb = 2.5 with +-10% multiplicative structured
# "noise" from event_id.  For each candidate E0 in {100..450 step 50}
# the least-squares rb given E0 is closed-form rb = S_yf / S_ff; the
# best E0 minimizes SSE = S_yy - S_yf^2/S_ff.  y and f are e4/e6
# floor-scaled integers per row BEFORE aggregation, so S_yy/S_yf/S_ff
# are exact BIGINTs and the argmin compares identical doubles in both
# engines.  Plan: events x 8-row literal grid (broadcast), one
# combinable groupBy — no window, no driver loop; at 100 TB the grid
# explode is a constant 8x map-side fanout.


def q_lloyd_taylor_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ta = F.floor(F.col("value") * 8 + F.lit(_OFF)).cast("long").cast(
        "double"
    ) / 100.0  # 0..39.2 degC, exact centi input
    arg = F.lit(1.0 / 56.02) - F.lit(1.0) / (ta + F.lit(46.02))
    noise = (F.col("event_id") % 21 - F.lit(10)).cast("double") / 100.0
    y = F.lit(2.5) * F.exp(F.lit(308.56) * arg) * (F.lit(1.0) + noise)
    base = ev.select(
        F.col("event_type"),
        F.floor(y * 10_000 + F.lit(_OFF)).cast("long").alias("y_s"),
        arg.alias("arg"),
    )
    grid = spark.range(2, 10).select(
        (F.col("id") * 50).cast("double").alias("e0")
    )
    t = base.crossJoin(F.broadcast(grid)).select(
        "event_type",
        F.col("e0"),
        "y_s",
        F.floor(F.exp(F.col("e0") * F.col("arg")) * 1_000_000 + F.lit(_OFF))
        .cast("long")
        .alias("f_s"),
    )
    agg = t.groupBy("event_type", "e0").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("y_s") * F.col("f_s")).alias("s_yf"),
        F.sum(F.col("f_s") * F.col("f_s")).alias("s_ff"),
        F.sum(F.col("y_s") * F.col("y_s")).alias("s_yy"),
    )
    sse = F.col("s_yy").cast("double") - F.col("s_yf").cast("double") * F.col(
        "s_yf"
    ).cast("double") / F.col("s_ff").cast("double")
    scored = agg.withColumn("sse", sse).withColumn(
        "rb_e6",
        # rb_scaled = S_yf/S_ff carries y_e4/f_e6 units: *100 -> true rb,
        # e6-floored => *1e8 on the scaled ratio
        F.floor(
            F.col("s_yf").cast("double")
            / F.col("s_ff").cast("double")
            * 100_000_000
            + F.lit(_OFF)
        ).cast("long"),
    )
    best = scored.groupBy("event_type").agg(
        F.min_by(
            F.struct(F.col("e0"), F.col("rb_e6"), F.col("sse"), F.col("n")),
            F.struct(F.col("sse"), F.col("e0")),
        ).alias("b")
    )
    out = best.select(
        "event_type",
        F.col("b.n").cast("long").alias("n"),
        F.col("b.e0").cast("long").alias("e0_best"),
        F.col("b.rb_e6").alias("rb_e6"),
        F.floor(F.col("b.sse") / 1_000_000 + F.lit(_OFF))
        .cast("long")
        .alias("sse_e6dn"),
    )
    return out.orderBy("event_type")


SQL_LLOYD_TAYLOR = f"""
WITH base AS (
  SELECT event_type,
         CAST(floor(2.5 * exp(308.56 * (1.0/56.02
                  - 1.0 / (CAST(floor(value * 8 + {_OFF}) AS BIGINT) / 100.0
                           + 46.02)))
              * (1.0 + CAST(event_id % 21 - 10 AS DOUBLE) / 100.0)
              * 10000 + {_OFF}) AS BIGINT) AS y_s,
         (1.0/56.02
          - 1.0 / (CAST(floor(value * 8 + {_OFF}) AS BIGINT) / 100.0
                   + 46.02)) AS arg
  FROM events
), grid AS (
  SELECT CAST(i * 50 AS DOUBLE) AS e0 FROM generate_series(2, 9) AS s(i)
), t AS (
  SELECT event_type, e0, y_s,
         CAST(floor(exp(e0 * arg) * 1000000 + {_OFF}) AS BIGINT) AS f_s
  FROM base CROSS JOIN grid
), agg AS (
  SELECT event_type, e0, count(*) AS n,
         CAST(sum(y_s * f_s) AS BIGINT) AS s_yf,
         CAST(sum(f_s * f_s) AS BIGINT) AS s_ff,
         CAST(sum(y_s * y_s) AS BIGINT) AS s_yy
  FROM t GROUP BY 1, 2
), scored AS (
  SELECT event_type, e0, n,
         CAST(s_yy AS DOUBLE)
           - CAST(s_yf AS DOUBLE) * CAST(s_yf AS DOUBLE)
             / CAST(s_ff AS DOUBLE) AS sse,
         CAST(floor(CAST(s_yf AS DOUBLE) / CAST(s_ff AS DOUBLE)
                    * 100000000 + {_OFF}) AS BIGINT) AS rb_e6
  FROM agg
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY sse, e0) AS rk
  FROM scored
)
SELECT event_type,
       CAST(n AS BIGINT) AS n,
       CAST(e0 AS BIGINT) AS e0_best,
       rb_e6,
       CAST(floor(sse / 1000000 + {_OFF}) AS BIGINT) AS sse_e6dn
FROM ranked
WHERE rk = 1
ORDER BY event_type
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "energy_balance_closure": q_energy_balance_closure,
    "degree_days": q_degree_days,
    "penman_monteith_et0": q_penman_monteith_et0,
    "lloyd_taylor_grid": q_lloyd_taylor_grid,
}

ORACLE_SQL: dict[str, str] = {
    "energy_balance_closure": SQL_EBC,
    "degree_days": SQL_DEGREE_DAYS,
    "penman_monteith_et0": SQL_PM_ET0,
    "lloyd_taylor_grid": SQL_LLOYD_TAYLOR,
}


# ---------------------------------------------------------------------------
# stability_parameter — Monin-Obukhov stability z/L and class census
# (Monin & Obukhov 1954; Foken 2008 class conventions)
# ---------------------------------------------------------------------------
# zeta = -kappa z g H / (rho cp T ustar^3) with kappa = 0.4, z = 2 m;
# H and ustar synthesized deterministically (exact integer inputs);
# daily class counts for unstable (zeta < -0.0625), neutral
# (|zeta| <= 0.0625) and stable.


def q_stability_parameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    h_c = (
        F.floor(F.col("value") * 55 + F.lit(_OFF)).cast("long")
        + F.col("event_id") % 97
        - F.lit(48)
    )  # sensible heat, centi-W/m2, may be negative
    us_d = (F.lit(15) + F.col("event_id") % 70).cast("long")  # u* deci-m/s*100
    ta_c = (F.floor(F.col("value") * 10 + F.lit(_OFF)).cast("long") + 27315)
    t = ev.select(
        F.to_date("ts").alias("day"),
        h_c.alias("h_c"),
        us_d.alias("us_d"),
        ta_c.alias("ta_c"),
    )
    h = F.col("h_c").cast("double") / 100.0
    ustar = F.col("us_d").cast("double") / 100.0
    tk = F.col("ta_c").cast("double") / 100.0
    KAPPA, Z, G, RHO_CP = 0.4, 2.0, 9.81, 1231.0
    zeta = -KAPPA * Z * G * h / (RHO_CP * tk * F.pow(ustar, 3))
    cls = (
        F.when(zeta < -0.0625, F.lit("unstable"))
        .when(zeta > 0.0625, F.lit("stable"))
        .otherwise(F.lit("neutral"))
    )
    t = t.withColumn(
        "zeta_e6", F.floor(zeta * 1_000_000 + F.lit(_OFF)).cast("long")
    ).withColumn("cls", cls)
    out = t.groupBy("day").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("cls") == "unstable").cast("long")).alias("n_unstable"),
        F.sum((F.col("cls") == "neutral").cast("long")).alias("n_neutral"),
        F.sum((F.col("cls") == "stable").cast("long")).alias("n_stable"),
        F.min("zeta_e6").alias("zeta_min_e6"),
        F.max("zeta_e6").alias("zeta_max_e6"),
    )
    return out.select(
        F.col("day").cast("string").alias("day"),
        F.col("n").cast("long").alias("n"),
        F.col("n_unstable").cast("long").alias("n_unstable"),
        F.col("n_neutral").cast("long").alias("n_neutral"),
        F.col("n_stable").cast("long").alias("n_stable"),
        "zeta_min_e6",
        "zeta_max_e6",
    ).orderBy("day")


SQL_STABILITY = f"""
WITH t AS (
  SELECT CAST(ts AS DATE) AS day,
         (CAST(floor(value * 55 + {_OFF}) AS BIGINT)
          + event_id % 97 - 48) AS h_c,
         CAST(15 + event_id % 70 AS BIGINT) AS us_d,
         CAST(floor(value * 10 + {_OFF}) AS BIGINT) + 27315 AS ta_c
  FROM events
), z AS (
  SELECT day,
         CAST(floor(-0.4 * 2.0 * 9.81 * (CAST(h_c AS DOUBLE) / 100.0)
                    / (1231.0 * (CAST(ta_c AS DOUBLE) / 100.0)
                       * (CAST(us_d AS DOUBLE) / 100.0) ^ 3)
                    * 1000000 + {_OFF}) AS BIGINT) AS zeta_e6
  FROM t
)
SELECT CAST(day AS VARCHAR) AS day,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN zeta_e6 < -62500 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unstable,
       CAST(sum(CASE WHEN zeta_e6 >= -62500 AND zeta_e6 <= 62500
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_neutral,
       CAST(sum(CASE WHEN zeta_e6 > 62500 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_stable,
       CAST(min(zeta_e6) AS BIGINT) AS zeta_min_e6,
       CAST(max(zeta_e6) AS BIGINT) AS zeta_max_e6
FROM z
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# footprint_schuepp — analytical flux footprint (Schuepp et al. 1990):
# peak distance and 80% fetch per record, daily profile
# ---------------------------------------------------------------------------
# CDF(x) = exp(-U zm / (kappa ustar x)); x_peak = U zm / (2 kappa
# ustar), x_80 = U zm / (kappa ustar ln(1/0.8)).  U and ustar
# synthesized as exact integers; closed forms identical.


def q_footprint_schuepp(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    u_d = (F.lit(10) + F.col("event_id") % 80).cast("long")   # wind deci-m/s
    us_d = (F.lit(15) + F.col("event_id") % 70).cast("long")  # u* centi-m/s
    t = ev.select(
        F.to_date("ts").alias("day"), u_d.alias("u_d"), us_d.alias("us_d")
    )
    KAPPA, ZM = 0.4, 2.0
    u = F.col("u_d").cast("double") / 10.0
    ustar = F.col("us_d").cast("double") / 100.0
    xpeak = u * ZM / (2.0 * KAPPA * ustar)
    import math

    x80 = u * ZM / (KAPPA * ustar * math.log(1.0 / 0.8))
    t = t.withColumn(
        "xp_e2", F.floor(xpeak * 100 + F.lit(_OFF)).cast("long")
    ).withColumn("x80_e2", F.floor(x80 * 100 + F.lit(_OFF)).cast("long"))
    out = t.groupBy("day").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xp_e2").alias("s_xp"),
        F.max("x80_e2").alias("max_x80_e2"),
    )
    return out.select(
        F.col("day").cast("string").alias("day"),
        F.col("n").cast("long").alias("n"),
        F.floor(
            F.col("s_xp").cast("double") / F.col("n").cast("double")
            + F.lit(_OFF)
        )
        .cast("long")
        .alias("mean_xpeak_e2"),
        F.col("max_x80_e2").cast("long").alias("max_x80_e2"),
    ).orderBy("day")


SQL_FOOTPRINT = f"""
WITH t AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(10 + event_id % 80 AS BIGINT) AS u_d,
         CAST(15 + event_id % 70 AS BIGINT) AS us_d
  FROM events
), f AS (
  SELECT day,
         CAST(floor((CAST(u_d AS DOUBLE) / 10.0) * 2.0
                    / (2.0 * 0.4 * (CAST(us_d AS DOUBLE) / 100.0))
                    * 100 + {_OFF}) AS BIGINT) AS xp_e2,
         CAST(floor((CAST(u_d AS DOUBLE) / 10.0) * 2.0
                    / (0.4 * (CAST(us_d AS DOUBLE) / 100.0)
                       * ln(1.0 / 0.8))
                    * 100 + {_OFF}) AS BIGINT) AS x80_e2
  FROM t
)
SELECT CAST(day AS VARCHAR) AS day,
       CAST(count(*) AS BIGINT) AS n,
       CAST(floor(CAST(sum(xp_e2) AS DOUBLE) / count(*) + {_OFF})
            AS BIGINT) AS mean_xpeak_e2,
       CAST(max(x80_e2) AS BIGINT) AS max_x80_e2
FROM f
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# wpl_correction — Webb-Pearman-Leuning (1980) density correction for
# the CO2 flux, the standard open-path eddy-covariance adjustment
# ---------------------------------------------------------------------------
# Fc_corr = Fc_raw + mu (E/rho_d) rho_c + (1 + mu sigma) rho_c H /
# (rho cp T); implemented with the usual simplification Fc_corr =
# Fc_raw + 0.000064 * LE + 0.000040 * H * rhoc_factor(T) — here kept
# in the EXPLICIT two-term form with mu = 1.6077, sigma = rho_v/rho_d
# from synthesized integer inputs; daily corrected sums.


def q_wpl_correction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    fc_c = (
        F.floor(F.col("value") * 3 + F.lit(_OFF)).cast("long")
        - F.lit(500)
        + F.col("event_id") % 41
        - 20
    )  # raw CO2 flux, centi-umol/m2/s
    le_c = (
        F.floor(F.col("value") * 30 + F.lit(_OFF)).cast("long")
        + F.col("event_id") % 53
        - 26
    )
    h_c = (
        F.floor(F.col("value") * 55 + F.lit(_OFF)).cast("long")
        + F.col("event_id") % 97
        - 48
    )
    ta_c = (F.floor(F.col("value") * 10 + F.lit(_OFF)).cast("long") + 27315)
    q_m = (F.lit(40) + F.col("event_id") % 60).cast("long")  # rho_v, e-4 kg/m3*100
    t = ev.select(
        F.to_date("ts").alias("day"),
        fc_c.alias("fc_c"),
        le_c.alias("le_c"),
        h_c.alias("h_c"),
        ta_c.alias("ta_c"),
        q_m.alias("q_m"),
    )
    MU, RHO_D, CP, LV, RHO_C = 1.6077, 1.20, 1004.0, 2.45e6, 0.76
    fc = F.col("fc_c").cast("double") / 100.0
    le = F.col("le_c").cast("double") / 100.0
    h = F.col("h_c").cast("double") / 100.0
    tk = F.col("ta_c").cast("double") / 100.0
    rho_v = F.col("q_m").cast("double") / 10_000.0
    sigma = rho_v / RHO_D
    e_flux = le / LV  # kg/m2/s
    term1 = MU * e_flux / RHO_D * RHO_C * 1e6 / 44.0  # to umol units
    term2 = (
        (1.0 + MU * sigma) * RHO_C * h / (RHO_D * CP * tk) * 1e6 / 44.0
    )
    fc_corr = fc + term1 + term2
    t = t.withColumn(
        "fcc_e4", F.floor(fc_corr * 10_000 + F.lit(_OFF)).cast("long")
    ).withColumn("fc_e4", F.floor(fc * 10_000 + F.lit(_OFF)).cast("long"))
    out = t.groupBy("day").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("fc_e4").alias("s_raw"),
        F.sum("fcc_e4").alias("s_corr"),
    )
    return out.select(
        F.col("day").cast("string").alias("day"),
        F.col("n").cast("long").alias("n"),
        F.col("s_raw").cast("long").alias("sum_fc_raw_e4"),
        F.col("s_corr").cast("long").alias("sum_fc_wpl_e4"),
        (F.col("s_corr") - F.col("s_raw")).cast("long").alias(
            "wpl_delta_e4"
        ),
    ).orderBy("day")


SQL_WPL = f"""
WITH t AS (
  SELECT CAST(ts AS DATE) AS day,
         (CAST(floor(value * 3 + {_OFF}) AS BIGINT) - 500
          + event_id % 41 - 20) AS fc_c,
         (CAST(floor(value * 30 + {_OFF}) AS BIGINT)
          + event_id % 53 - 26) AS le_c,
         (CAST(floor(value * 55 + {_OFF}) AS BIGINT)
          + event_id % 97 - 48) AS h_c,
         CAST(floor(value * 10 + {_OFF}) AS BIGINT) + 27315 AS ta_c,
         CAST(40 + event_id % 60 AS BIGINT) AS q_m
  FROM events
), f AS (
  SELECT day,
         CAST(floor(CAST(fc_c AS DOUBLE) / 100.0 * 10000 + {_OFF})
              AS BIGINT) AS fc_e4,
         CAST(floor((CAST(fc_c AS DOUBLE) / 100.0
                + 1.6077 * (CAST(le_c AS DOUBLE) / 100.0 / 2.45e6)
                  / 1.20 * 0.76 * 1e6 / 44.0
                + (1.0 + 1.6077 * (CAST(q_m AS DOUBLE) / 10000.0 / 1.20))
                  * 0.76 * (CAST(h_c AS DOUBLE) / 100.0)
                  / (1.20 * 1004.0 * (CAST(ta_c AS DOUBLE) / 100.0))
                  * 1e6 / 44.0)
               * 10000 + {_OFF}) AS BIGINT) AS fcc_e4
  FROM t
)
SELECT CAST(day AS VARCHAR) AS day,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(fc_e4) AS BIGINT) AS sum_fc_raw_e4,
       CAST(sum(fcc_e4) AS BIGINT) AS sum_fc_wpl_e4,
       CAST(sum(fcc_e4) - sum(fc_e4) AS BIGINT) AS wpl_delta_e4
FROM f
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# bowen_ratio_profile — Bowen ratio and evaporative fraction per day
# (Bowen 1926), the energy-balance partitioning summary
# ---------------------------------------------------------------------------
# beta = sum H / sum LE, EF = sum LE / (sum H + sum LE) from exact
# daily integer sums (never per-row ratios, which are unstable at
# small LE).


def q_bowen_ratio_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    h_c = (
        F.floor(F.col("value") * 55 + F.lit(_OFF)).cast("long")
        + F.col("event_id") % 97
        - 48
    )
    le_c = (
        F.floor(F.col("value") * 30 + F.lit(_OFF)).cast("long")
        + F.col("event_id") % 53
        - 26
    )
    t = ev.select(
        F.to_date("ts").alias("day"), h_c.alias("h_c"), le_c.alias("le_c")
    )
    d = t.groupBy("day").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("h_c").alias("sh"),
        F.sum("le_c").alias("sle"),
    )
    beta = F.col("sh").cast("double") / F.col("sle").cast("double")
    ef = F.col("sle").cast("double") / (F.col("sh") + F.col("sle")).cast(
        "double"
    )
    return d.select(
        F.col("day").cast("string").alias("day"),
        F.col("n").cast("long").alias("n"),
        F.col("sh").cast("long").alias("sum_h_c"),
        F.col("sle").cast("long").alias("sum_le_c"),
        F.floor(beta * 1_000_000 + F.lit(_OFF)).cast("long").alias(
            "bowen_e6"
        ),
        F.floor(ef * 1_000_000 + F.lit(_OFF)).cast("long").alias("ef_e6"),
    ).orderBy("day")


SQL_BOWEN = f"""
WITH t AS (
  SELECT CAST(ts AS DATE) AS day,
         (CAST(floor(value * 55 + {_OFF}) AS BIGINT)
          + event_id % 97 - 48) AS h_c,
         (CAST(floor(value * 30 + {_OFF}) AS BIGINT)
          + event_id % 53 - 26) AS le_c
  FROM events
), d AS (
  SELECT day, count(*) AS n,
         CAST(sum(h_c) AS BIGINT) AS sh,
         CAST(sum(le_c) AS BIGINT) AS sle
  FROM t GROUP BY 1
)
SELECT CAST(day AS VARCHAR) AS day,
       CAST(n AS BIGINT) AS n,
       sh AS sum_h_c,
       sle AS sum_le_c,
       CAST(floor(CAST(sh AS DOUBLE) / sle * 1000000 + {_OFF}) AS BIGINT)
         AS bowen_e6,
       CAST(floor(CAST(sle AS DOUBLE) / (sh + sle) * 1000000 + {_OFF})
            AS BIGINT) AS ef_e6
FROM d
ORDER BY day
"""


QUERIES.update(
    {
        "stability_parameter": q_stability_parameter,
        "footprint_schuepp": q_footprint_schuepp,
        "wpl_correction": q_wpl_correction,
        "bowen_ratio_profile": q_bowen_ratio_profile,
    }
)

ORACLE_SQL.update(
    {
        "stability_parameter": SQL_STABILITY,
        "footprint_schuepp": SQL_FOOTPRINT,
        "wpl_correction": SQL_WPL,
        "bowen_ratio_profile": SQL_BOWEN,
    }
)
