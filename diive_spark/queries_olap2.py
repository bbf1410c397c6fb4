"""Round-4 OLAP battery #2 over the TPC-H-ish tables: log-log price
elasticity per brand, ABC inventory classification, price-volume-mix
revenue decomposition, and customer spend-segment migration — classic
retail/FP&A analyses not previously in the registry (lorenz_curve is
the curve itself, not the ABC classing; markov_transitions is event
types, not customer segments).

House conventions: floor-scaled exact integers before any cross-row
aggregation, cross-multiplied rational comparisons for class
boundaries, BIGINT casts on every DuckDB integer sum.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from diive_spark.queries_trend import _OFF


# ---------------------------------------------------------------------------
# log_log_elasticity — constant-elasticity demand fit per brand
# ---------------------------------------------------------------------------
# ln(quantity) on ln(unit price) per p_brand; both logs e6-floored so
# the OLS sums are exact BIGINTs; the broadcast part join is the
# standard small-dim shape.


def q_log_log_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_partkey",
        F.floor(
            F.log(F.col("l_extendedprice") / F.col("l_quantity")) * 1_000_000
            + F.lit(_OFF)
        )
        .cast("long")
        .alias("lp"),
        F.floor(F.log("l_quantity") * 1_000_000 + F.lit(_OFF))
        .cast("long")
        .alias("lq"),
    )
    part = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    t = li.join(F.broadcast(part), "l_partkey")
    g = t.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("lp").alias("sx"),
        F.sum("lq").alias("sy"),
        F.sum(F.col("lp") * F.col("lp")).alias("sxx"),
        F.sum(F.col("lp") * F.col("lq")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    beta = (
        nd * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        nd * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    alpha = (F.col("sy").cast("double") - beta * F.col("sx").cast("double")) / nd
    return g.select(
        "p_brand",
        F.col("n").cast("long").alias("n"),
        F.floor(beta * 1_000_000 + F.lit(_OFF)).cast("long").alias("beta_e6"),
        # alpha is in ln-micro units; /1e6 back to ln scale, e4-floored
        F.floor(alpha / 100.0 + F.lit(_OFF)).cast("long").alias("alpha_e4"),
    ).orderBy("p_brand")


SQL_ELASTICITY = f"""
WITH li AS (
  SELECT l_partkey,
         CAST(floor(ln(l_extendedprice / l_quantity) * 1000000 + {_OFF})
              AS BIGINT) AS lp,
         CAST(floor(ln(l_quantity) * 1000000 + {_OFF}) AS BIGINT) AS lq
  FROM lineitem
), t AS (
  SELECT p.p_brand, li.lp, li.lq
  FROM li JOIN part p ON p.p_partkey = li.l_partkey
), g AS (
  SELECT p_brand, count(*) AS n,
         CAST(sum(lp) AS BIGINT) AS sx,
         CAST(sum(lq) AS BIGINT) AS sy,
         CAST(sum(lp * lp) AS BIGINT) AS sxx,
         CAST(sum(lp * lq) AS BIGINT) AS sxy
  FROM t GROUP BY 1
)
SELECT p_brand,
       CAST(n AS BIGINT) AS n,
       CAST(floor((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                  / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                  * 1000000 + {_OFF}) AS BIGINT) AS beta_e6,
       CAST(floor((CAST(sy AS DOUBLE)
                   - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                     / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                     * sx) / n / 100.0 + {_OFF}) AS BIGINT) AS alpha_e4
FROM g
ORDER BY p_brand
"""


# ---------------------------------------------------------------------------
# abc_analysis — ABC inventory classification of parts by revenue
# (the 80/95 cumulative-share convention)
# ---------------------------------------------------------------------------
# Revenue per part in exact centi units; parts ordered by (revenue
# desc, partkey); class boundaries compared by CROSS-MULTIPLICATION
# (cum * 100 vs 80/95 * total) so no division enters the classing.


def q_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_partkey",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(_OFF))
        .cast("long")
        .alias("rev_c"),
    )
    p = li.groupBy("l_partkey").agg(F.sum("rev_c").alias("rev"))
    wo = Window.orderBy(F.col("rev").desc(), F.col("l_partkey")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy(F.lit(1))
    t = p.withColumn("cum", F.sum("rev").over(wo)).withColumn(
        "tot", F.sum("rev").over(wt)
    )
    cls = (
        F.when(F.col("cum") * 100 <= F.col("tot") * 80, F.lit("A"))
        .when(F.col("cum") * 100 <= F.col("tot") * 95, F.lit("B"))
        .otherwise(F.lit("C"))
    )
    out = t.withColumn("abc", cls).groupBy("abc").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("rev").alias("class_rev"),
        F.max("tot").alias("tot"),
    )
    return out.select(
        "abc",
        F.col("n_parts").cast("long").alias("n_parts"),
        F.col("class_rev").cast("long").alias("class_rev_c"),
        F.floor(
            F.col("class_rev").cast("double") / F.col("tot").cast("double")
            * 1_000_000
            + F.lit(_OFF)
        )
        .cast("long")
        .alias("share_e6"),
    ).orderBy("abc")


SQL_ABC = f"""
WITH li AS (
  SELECT l_partkey,
         CAST(floor(l_extendedprice * 100 + {_OFF}) AS BIGINT) AS rev_c
  FROM lineitem
), p AS (
  SELECT l_partkey, CAST(sum(rev_c) AS BIGINT) AS rev
  FROM li GROUP BY 1
), t AS (
  SELECT *,
         CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
         CAST(sum(rev) OVER () AS BIGINT) AS tot
  FROM p
), cl AS (
  SELECT *,
         CASE WHEN cum * 100 <= tot * 80 THEN 'A'
              WHEN cum * 100 <= tot * 95 THEN 'B'
              ELSE 'C' END AS abc
  FROM t
)
SELECT abc,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(rev) AS BIGINT) AS class_rev_c,
       CAST(floor(CAST(sum(rev) AS DOUBLE) / max(tot) * 1000000 + {_OFF})
            AS BIGINT) AS share_e6
FROM cl
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# price_volume_mix — two-factor revenue bridge 1995 -> 1996 per brand
# (the standard FP&A PVM decomposition: price effect at current volume,
# volume effect at base price, residual = mix)
# ---------------------------------------------------------------------------
# p = e4-floored average unit price per (brand, year); q = exact total
# quantity.  price_eff = (p1 - p0) q1, volume_eff = (q1 - q0) p0, and
# mix closes the bridge exactly by construction (reported for audit).


def q_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_partkey",
        F.year("l_shipdate").alias("yr"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(_OFF))
        .cast("long")
        .alias("rev_c"),
        F.col("l_quantity").cast("long").alias("qty"),
    ).filter(F.col("yr").isin(1995, 1996))
    part = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    t = li.join(F.broadcast(part), "l_partkey")
    g = t.groupBy("p_brand", "yr").agg(
        F.sum("rev_c").alias("rev"),
        F.sum("qty").alias("q"),
    )
    g = g.withColumn(
        "p_e4",
        F.floor(
            F.col("rev").cast("double") / F.col("q").cast("double") * 100
            + F.lit(_OFF)
        ).cast("long"),
    )
    y0 = g.filter(F.col("yr") == 1995).select(
        "p_brand",
        F.col("rev").alias("rev0"),
        F.col("q").alias("q0"),
        F.col("p_e4").alias("p0"),
    )
    y1 = g.filter(F.col("yr") == 1996).select(
        "p_brand",
        F.col("rev").alias("rev1"),
        F.col("q").alias("q1"),
        F.col("p_e4").alias("p1"),
    )
    j = y0.join(y1, "p_brand")
    price_eff = (F.col("p1") - F.col("p0")) * F.col("q1")
    vol_eff = (F.col("q1") - F.col("q0")) * F.col("p0")
    drev_e4 = (F.col("rev1") - F.col("rev0")) * 100
    return j.select(
        "p_brand",
        F.col("rev0").cast("long").alias("rev0_c"),
        F.col("rev1").cast("long").alias("rev1_c"),
        F.col("q0").cast("long").alias("q0"),
        F.col("q1").cast("long").alias("q1"),
        price_eff.cast("long").alias("price_eff_e4"),
        vol_eff.cast("long").alias("volume_eff_e4"),
        (drev_e4 - price_eff - vol_eff).cast("long").alias("mix_eff_e4"),
    ).orderBy("p_brand")


SQL_PVM = f"""
WITH li AS (
  SELECT l_partkey,
         EXTRACT(year FROM l_shipdate) AS yr,
         CAST(floor(l_extendedprice * 100 + {_OFF}) AS BIGINT) AS rev_c,
         CAST(l_quantity AS BIGINT) AS qty
  FROM lineitem
  WHERE EXTRACT(year FROM l_shipdate) IN (1995, 1996)
), t AS (
  SELECT p.p_brand, li.yr, li.rev_c, li.qty
  FROM li JOIN part p ON p.p_partkey = li.l_partkey
), g AS (
  SELECT p_brand, yr,
         CAST(sum(rev_c) AS BIGINT) AS rev,
         CAST(sum(qty) AS BIGINT) AS q
  FROM t GROUP BY 1, 2
), gp AS (
  SELECT *,
         CAST(floor(CAST(rev AS DOUBLE) / q * 100 + {_OFF}) AS BIGINT)
           AS p_e4
  FROM g
)
SELECT a.p_brand,
       a.rev AS rev0_c, b.rev AS rev1_c,
       a.q AS q0, b.q AS q1,
       CAST((b.p_e4 - a.p_e4) * b.q AS BIGINT) AS price_eff_e4,
       CAST((b.q - a.q) * a.p_e4 AS BIGINT) AS volume_eff_e4,
       CAST((b.rev - a.rev) * 100 - (b.p_e4 - a.p_e4) * b.q
            - (b.q - a.q) * a.p_e4 AS BIGINT) AS mix_eff_e4
FROM gp a JOIN gp b ON b.p_brand = a.p_brand
WHERE a.yr = 1995 AND b.yr = 1996
ORDER BY a.p_brand
"""


# ---------------------------------------------------------------------------
# segment_migration — customer spend-tercile transition matrix
# 1995 -> 1996 (the CRM migration report)
# ---------------------------------------------------------------------------
# Terciles by (spend desc, custkey) row_number * 3 / n per year
# (deterministic); the 3x3 matrix plus 'new'/'churned' margins are
# exact counts.  Spend via the orders table only — no fan-out join.


def q_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_custkey",
        F.year("o_orderdate").alias("yr"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(_OFF))
        .cast("long")
        .alias("spend_c"),
    ).filter(F.col("yr").isin(1995, 1996))
    g = o.groupBy("o_custkey", "yr").agg(F.sum("spend_c").alias("spend"))
    wr = Window.partitionBy("yr").orderBy(
        F.col("spend").desc(), F.col("o_custkey")
    )
    wn = Window.partitionBy("yr")
    seg = (
        g.withColumn("rk", F.row_number().over(wr))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .withColumn(
            "seg",
            F.least(
                F.lit(2),
                F.floor((F.col("rk") - 1) * 3 / F.col("n")).cast("int"),
            ),
        )
    )
    s0 = seg.filter(F.col("yr") == 1995).select(
        "o_custkey", F.col("seg").alias("seg0")
    )
    s1 = seg.filter(F.col("yr") == 1996).select(
        "o_custkey", F.col("seg").alias("seg1")
    )
    m = s0.join(s1, "o_custkey", "full_outer").select(
        F.coalesce(F.col("seg0").cast("string"), F.lit("new")).alias("from_seg"),
        F.coalesce(F.col("seg1").cast("string"), F.lit("churned")).alias(
            "to_seg"
        ),
    )
    out = m.groupBy("from_seg", "to_seg").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    return out.select(
        "from_seg",
        "to_seg",
        F.col("n_customers").cast("long").alias("n_customers"),
    ).orderBy("from_seg", "to_seg")


SQL_SEGMENT_MIGRATION = f"""
WITH o AS (
  SELECT o_custkey,
         EXTRACT(year FROM o_orderdate) AS yr,
         CAST(floor(o_totalprice * 100 + {_OFF}) AS BIGINT) AS spend_c
  FROM orders
  WHERE EXTRACT(year FROM o_orderdate) IN (1995, 1996)
), g AS (
  SELECT o_custkey, yr, CAST(sum(spend_c) AS BIGINT) AS spend
  FROM o GROUP BY 1, 2
), seg AS (
  SELECT o_custkey, yr,
         least(2, CAST(floor(
           (row_number() OVER (PARTITION BY yr
                               ORDER BY spend DESC, o_custkey) - 1) * 3.0
           / count(*) OVER (PARTITION BY yr)) AS INT)) AS seg
  FROM g
), m AS (
  SELECT COALESCE(CAST(a.seg AS VARCHAR), 'new') AS from_seg,
         COALESCE(CAST(b.seg AS VARCHAR), 'churned') AS to_seg
  FROM (SELECT * FROM seg WHERE yr = 1995) a
  FULL OUTER JOIN (SELECT * FROM seg WHERE yr = 1996) b
    ON b.o_custkey = a.o_custkey
)
SELECT from_seg, to_seg,
       CAST(count(*) AS BIGINT) AS n_customers
FROM m
GROUP BY 1, 2
ORDER BY 1, 2
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "log_log_elasticity": q_log_log_elasticity,
    "abc_analysis": q_abc_analysis,
    "price_volume_mix": q_price_volume_mix,
    "segment_migration": q_segment_migration,
}

ORACLE_SQL: dict[str, str] = {
    "log_log_elasticity": SQL_ELASTICITY,
    "abc_analysis": SQL_ABC,
    "price_volume_mix": SQL_PVM,
    "segment_migration": SQL_SEGMENT_MIGRATION,
}
