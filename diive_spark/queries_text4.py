"""Round-4i query registry: dedup economics, asymmetric containment,
heavy-tail index, and calendar seasonality — duplicate-cluster savings,
source-pair shingle containment, the Hill tail-index estimator, and
day-of-week seasonal indices.

Oracle conventions as everywhere in this repo: identical column names,
CAST every DuckDB integer SUM to BIGINT, floor-scale derived doubles
with the house 1/pi offset; ln-sum statistics (Hill) use the coarser
e4 half-up scaling that absorbs summation-order ulps (the heaps_law
precedent).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from diive_spark.queries_text import _documents
from diive_spark.queries_trend import _OFF

# ---------------------------------------------------------------------------
# dedup_savings — duplicate-cluster size distribution and byte savings
# ---------------------------------------------------------------------------
# The economics readout behind dedup_exact: per language, how many
# exact-duplicate clusters exist, how many docs are redundant, and how
# many bytes dropping them would save (sum over clusters of
# (size-1) * doc_bytes — exact text duplicates share n_chars, so the
# per-cluster term is exact).  One hash-group agg + one combinable
# rollup; all integers.


def q_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _documents(spark, sf_dir).select("lang", "text", "n_chars")
    g = d.groupBy("lang", F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).alias("sz"),
        F.max("n_chars").alias("bytes_each"),
    )
    agg = g.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_unique"),
        F.sum("sz").alias("n_docs"),
        F.sum((F.col("sz") > 1).cast("long")).alias("n_dup_clusters"),
        F.sum(F.when(F.col("sz") > 1, F.col("sz") - 1).otherwise(F.lit(0))).alias(
            "n_redundant"
        ),
        F.sum(
            F.when(
                F.col("sz") > 1, (F.col("sz") - 1) * F.col("bytes_each")
            ).otherwise(F.lit(0))
        ).alias("bytes_saved"),
    )
    frac = F.col("n_redundant").cast("double") / F.col("n_docs").cast("double")
    return agg.select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_unique").cast("long").alias("n_unique"),
        F.col("n_dup_clusters").cast("long").alias("n_dup_clusters"),
        F.col("n_redundant").cast("long").alias("n_redundant"),
        F.col("bytes_saved").cast("long").alias("bytes_saved"),
        F.floor(frac * 1_000_000 + F.lit(_OFF)).cast("long").alias(
            "redundant_frac_e6"
        ),
    ).orderBy("lang")


SQL_DEDUP_SAVINGS = f"""
WITH g AS (
  SELECT lang, md5(text) AS h, count(*) AS sz, max(n_chars) AS bytes_each
  FROM documents GROUP BY 1, 2
), agg AS (
  SELECT lang, count(*) AS n_unique,
         CAST(sum(sz) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_clusters,
         CAST(sum(CASE WHEN sz > 1 THEN sz - 1 ELSE 0 END) AS BIGINT)
           AS n_redundant,
         CAST(sum(CASE WHEN sz > 1 THEN (sz - 1) * bytes_each ELSE 0 END)
              AS BIGINT) AS bytes_saved
  FROM g GROUP BY 1
)
SELECT lang, n_docs, CAST(n_unique AS BIGINT) AS n_unique, n_dup_clusters,
       n_redundant, bytes_saved,
       CAST(floor(CAST(n_redundant AS DOUBLE) / CAST(n_docs AS DOUBLE)
                  * 1000000 + {_OFF}) AS BIGINT) AS redundant_frac_e6
FROM agg
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# source_containment — asymmetric shingle containment between sources
# ---------------------------------------------------------------------------
# containment(A in B) = |S_A ∩ S_B| / |S_A| over distinct word 3-gram
# vocabularies (Broder 1997's containment, the asymmetric complement of
# source_overlap's Jaccard — catches "B superset of A" relationships
# Jaccard dilutes).  Intersections via ONE equi-self-join on the
# SHINGLE (never source pairs); |sources|^2 bounded output; exact
# integers.


def q_source_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _documents(spark, sf_dir).select(
        "source", F.split(F.trim("text"), r"\s+").alias("toks")
    )
    sh = toks.select(
        "source",
        F.explode(
            F.when(
                F.size("toks") >= 3,
                F.expr(
                    "transform(sequence(1, size(toks) - 2),"
                    " i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("sh"),
    ).distinct()
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), "sh")
        .filter(F.col("a.source") != F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("sa"), F.col("b.source").alias("sb")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = inter.join(
        F.broadcast(sizes.withColumnRenamed("source", "sa").withColumnRenamed("n_sh", "n_a")),
        "sa",
    )
    cont = F.col("n_common").cast("double") / F.col("n_a").cast("double")
    return (
        out.filter(cont >= 0.01)
        .select(
            "sa",
            "sb",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_common").cast("long").alias("n_common"),
            F.floor(cont * 1_000_000 + F.lit(_OFF)).cast("long").alias(
                "containment_e6"
            ),
        )
        .orderBy("sa", "sb")
    )


SQL_SOURCE_CONTAINMENT = f"""
WITH t AS (
  SELECT source, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
), sh AS (
  SELECT DISTINCT source,
         unnest(CASE WHEN len(toks) >= 3
                     THEN list_transform(generate_series(1, len(toks) - 2),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                     ELSE CAST([] AS VARCHAR[]) END) AS sh
  FROM t
), sizes AS (
  SELECT source, count(*) AS n_sh FROM sh GROUP BY 1
), inter AS (
  SELECT a.source AS sa, b.source AS sb, count(*) AS n_common
  FROM sh a JOIN sh b ON b.sh = a.sh AND a.source <> b.source
  GROUP BY 1, 2
)
SELECT sa, sb, CAST(sizes.n_sh AS BIGINT) AS n_a,
       CAST(n_common AS BIGINT) AS n_common,
       CAST(floor(CAST(n_common AS DOUBLE) / CAST(sizes.n_sh AS DOUBLE)
                  * 1000000 + {_OFF}) AS BIGINT) AS containment_e6
FROM inter JOIN sizes ON sizes.source = inter.sa
WHERE CAST(n_common AS DOUBLE) / CAST(sizes.n_sh AS DOUBLE) >= 0.01
ORDER BY sa, sb
"""


# ---------------------------------------------------------------------------
# hill_tail_index — Hill estimator of the doc-length tail per language
# ---------------------------------------------------------------------------
# Hill (1975): alpha_hat = k / sum_{i=1..k} ln(x_(n-i+1) / x_(n-k)),
# k = 50 top order statistics — the heavy-tail gauge for length
# distributions (complements powerlaw_alpha's discrete CSN MLE on token
# counts).  Order stats via one per-lang rank window (WindowGroupLimit
# prunes to k+1); the ln-ratio sum is <= k doubles, e4 half-up scaled
# (heaps_law precedent for ln-sum tolerance).

_HILL_K = 50


def q_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _documents(spark, sf_dir).select("lang", "n_chars")
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"))
    r = d.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= _HILL_K + 1
    )
    kth = r.filter(F.col("rk") == _HILL_K + 1).select(
        "lang", F.col("n_chars").alias("x_k")
    )
    top = r.filter(F.col("rk") <= _HILL_K)
    j = top.join(F.broadcast(kth), "lang").filter(F.col("x_k") > 0)
    agg = j.groupBy("lang").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(
            F.log(F.col("n_chars").cast("double") / F.col("x_k"))
        ).alias("lsum"),
        F.max("x_k").alias("x_k"),
    )
    alpha = F.col("k").cast("double") / F.col("lsum")
    return (
        agg.filter(F.col("lsum") > 0)
        .select(
            "lang",
            F.col("k").cast("long").alias("k"),
            F.col("x_k").cast("long").alias("x_k"),
            F.floor(alpha * 10_000 + F.lit(0.5)).cast("long").alias("alpha_e4"),
        )
        .orderBy("lang")
    )


SQL_HILL = f"""
WITH r AS (
  SELECT lang, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC) AS rk
  FROM documents
), kth AS (
  SELECT lang, n_chars AS x_k FROM r WHERE rk = {_HILL_K + 1}
), top AS (
  SELECT lang, n_chars FROM r WHERE rk <= {_HILL_K}
), agg AS (
  SELECT top.lang, count(*) AS k,
         sum(ln(CAST(top.n_chars AS DOUBLE) / kth.x_k)) AS lsum,
         max(kth.x_k) AS x_k
  FROM top JOIN kth ON kth.lang = top.lang
  WHERE kth.x_k > 0
  GROUP BY 1
)
SELECT lang, CAST(k AS BIGINT) AS k, CAST(x_k AS BIGINT) AS x_k,
       CAST(floor(CAST(k AS DOUBLE) / lsum * 10000 + 0.5) AS BIGINT)
         AS alpha_e4
FROM agg
WHERE lsum > 0
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# dow_seasonal_index — day-of-week seasonal index per event type
# ---------------------------------------------------------------------------
# index(dow) = mean daily count on that weekday / overall mean daily
# count (the classical ratio-to-moving-average seasonal index reduced
# to the weekly cycle).  Day-of-week from epoch days ((day + 4) % 7 —
# 1970-01-01 was a Thursday; 0 = Monday in both engines by the same
# arithmetic).  All exact integers; the index is a ratio of two exact
# ratios — one deterministic expression.


def q_dow_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        "event_type",
        (F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 86_400_000_000))
        .cast("long")
        .alias("day"),
    ).agg(F.count(F.lit(1)).alias("c"))
    daily = daily.withColumn("dow", ((F.col("day") + 3) % 7).cast("long"))
    per = daily.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("n_days"), F.sum("c").alias("sc")
    )
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_all"), F.sum("c").alias("sc_all")
    )
    j = per.join(F.broadcast(tot), "event_type")
    idx = (
        F.col("sc").cast("double") / F.col("n_days").cast("double")
    ) / (F.col("sc_all").cast("double") / F.col("n_all").cast("double"))
    return j.select(
        "event_type",
        "dow",
        F.col("n_days").cast("long").alias("n_days"),
        F.col("sc").cast("long").alias("sc"),
        F.floor(idx * 10_000 + F.lit(_OFF)).cast("long").alias("index_e4"),
    ).orderBy("event_type", "dow")


SQL_DOW_INDEX = f"""
WITH daily AS (
  SELECT event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         count(*) AS c
  FROM events GROUP BY 1, 2
), d AS (
  SELECT event_type, (day + 3) % 7 AS dow, c FROM daily
), per AS (
  SELECT event_type, dow, count(*) AS n_days, CAST(sum(c) AS BIGINT) AS sc
  FROM d GROUP BY 1, 2
), tot AS (
  SELECT event_type, count(*) AS n_all, CAST(sum(c) AS BIGINT) AS sc_all
  FROM d GROUP BY 1
)
SELECT per.event_type, CAST(per.dow AS BIGINT) AS dow,
       CAST(per.n_days AS BIGINT) AS n_days, per.sc,
       CAST(floor((CAST(per.sc AS DOUBLE) / CAST(per.n_days AS DOUBLE))
                  / (CAST(tot.sc_all AS DOUBLE) / CAST(tot.n_all AS DOUBLE))
                  * 10000 + {_OFF}) AS BIGINT) AS index_e4
FROM per JOIN tot ON tot.event_type = per.event_type
ORDER BY per.event_type, per.dow
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dedup_savings": q_dedup_savings,
    "source_containment": q_source_containment,
    "hill_tail_index": q_hill_tail_index,
    "dow_seasonal_index": q_dow_seasonal_index,
}

ORACLE_SQL: dict[str, str] = {
    "dedup_savings": SQL_DEDUP_SAVINGS,
    "source_containment": SQL_SOURCE_CONTAINMENT,
    "hill_tail_index": SQL_HILL,
    "dow_seasonal_index": SQL_DOW_INDEX,
}
