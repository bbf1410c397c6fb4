"""Round-4 embeddings battery: leave-one-out kNN label accuracy,
sign-hyperplane LSH collision audit, per-label norm profile, and the
label-centroid Gram matrix — vector-QC components a 100 TB embedding
pipeline runs alongside ANN retrieval (the registry's ann_* /
semantic_dedup / anisotropy family).

Engine-exactness trick for ALL of these: float32 components are
e6-floored to integers FIRST (float->double casts are exact, so the
floor is identical), making every dot product / norm an exact BIGINT —
no cross-engine float-summation-order risk anywhere, unlike the
round(...,6) convention the older embedding oracles need.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from diive_spark.queries_trend import _OFF

_DIM = 64


def _emb_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, pos, e) with e = floor(component * 1e6 + OFF)."""
    d = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return d.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos", "x"),
    ).select(
        "vec_id",
        "label",
        "pos",
        F.floor(F.col("x").cast("double") * 1_000_000 + F.lit(_OFF))
        .cast("long")
        .alias("e"),
    )


_EMB_INT_SQL = f"""
  SELECT vec_id, label, u.i - 1 AS pos,
         CAST(floor(CAST(embedding[u.i] AS DOUBLE) * 1000000 + {_OFF})
              AS BIGINT) AS e
  FROM embeddings,
       unnest(generate_series(1, len(embedding))) AS u(i)
"""


# ---------------------------------------------------------------------------
# knn_loo_accuracy — leave-one-out 5-NN cosine classification accuracy
# on the deterministic vec_id % 5 == 0 query subset
# ---------------------------------------------------------------------------
# Dot products and squared norms are exact BIGINTs (components <= ~1e6,
# 64 dims -> sums <= ~6.4e13); the top-5 pick orders by the identical
# double cosine with vec_id tie-break, majority label ties resolve to
# the smaller label.  The query side is a 20% sample — the probe join
# is sample x corpus, the ANN-oracle shape (brute force as ground
# truth), never corpus x corpus.


def q_knn_loo_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-4 bench-tail repair: the probe x corpus pos-join dots are
    # now the shared _top5_cos_rows Arrow kernel (identical ordering;
    # oracle unchanged) — 7.2 s -> sub-second at sf0.1.
    top5 = _top5_cos_rows(spark, sf_dir, 5)
    votes = top5.groupBy("qid", "qlabel", "label").agg(
        F.count(F.lit(1)).alias("v")
    )
    pick = votes.groupBy("qid", "qlabel").agg(
        F.max_by(
            F.col("label"), F.struct(F.col("v"), -F.col("label"))
        ).alias("pred")
    )
    out = pick.groupBy("qlabel").agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum((F.col("pred") == F.col("qlabel")).cast("long")).alias(
            "n_correct"
        ),
    )
    return out.select(
        F.col("qlabel").cast("long").alias("label"),
        F.col("n_queries").cast("long").alias("n_queries"),
        F.col("n_correct").cast("long").alias("n_correct"),
        F.floor(
            F.col("n_correct").cast("double")
            / F.col("n_queries").cast("double")
            * 1_000_000
            + F.lit(_OFF)
        )
        .cast("long")
        .alias("acc_e6"),
    ).orderBy("label")


SQL_KNN_LOO = f"""
WITH t AS ({_EMB_INT_SQL}),
norms AS (
  SELECT vec_id, label, CAST(sum(e * e) AS BIGINT) AS n2
  FROM t GROUP BY 1, 2
), q AS (
  SELECT vec_id AS qid, label AS qlabel, pos, e AS eq
  FROM t WHERE vec_id % 5 = 0
), dots AS (
  SELECT q.qid, q.qlabel, t.vec_id, t.label,
         CAST(sum(q.eq * t.e) AS BIGINT) AS dot
  FROM q JOIN t ON t.pos = q.pos AND t.vec_id <> q.qid
  GROUP BY 1, 2, 3, 4
), scored AS (
  SELECT dots.*,
         CAST(dot AS DOUBLE)
           / sqrt(CAST(qn.n2 AS DOUBLE) * rn.n2) AS cos,
         row_number() OVER (PARTITION BY qid
                            ORDER BY CAST(dot AS DOUBLE)
                              / sqrt(CAST(qn.n2 AS DOUBLE) * rn.n2) DESC,
                              dots.vec_id) AS rk
  FROM dots
  JOIN norms qn ON qn.vec_id = dots.qid
  JOIN norms rn ON rn.vec_id = dots.vec_id
), votes AS (
  SELECT qid, qlabel, label, count(*) AS v
  FROM scored WHERE rk <= 5
  GROUP BY 1, 2, 3
), pick AS (
  SELECT qid, qlabel, label AS pred,
         row_number() OVER (PARTITION BY qid
                            ORDER BY v DESC, label) AS rk
  FROM votes
), acc AS (
  SELECT qlabel, count(*) AS n_queries,
         CAST(sum(CASE WHEN pred = qlabel THEN 1 ELSE 0 END) AS BIGINT)
           AS n_correct
  FROM pick WHERE rk = 1
  GROUP BY 1
)
SELECT CAST(qlabel AS BIGINT) AS label,
       CAST(n_queries AS BIGINT) AS n_queries,
       n_correct,
       CAST(floor(CAST(n_correct AS DOUBLE) / n_queries * 1000000 + {_OFF})
            AS BIGINT) AS acc_e6
FROM acc
ORDER BY label
"""


# ---------------------------------------------------------------------------
# hyperplane_lsh_audit — sign-random-projection (SimHash-for-vectors,
# Charikar 2002) collision audit over 16 deterministic hyperplanes
# ---------------------------------------------------------------------------
# Hyperplane j component i = floor(cos(j * 64 + i + 0.5) * 1e6 + OFF)
# (the house deterministic pseudo-direction); bit_j = 1 iff the exact
# BIGINT projection is positive; signatures pack into one BIGINT and
# same-label pair agreement = 16 - bit_count(xor).  Validates the LSH
# banding math the dedup_simhash family relies on.


def q_hyperplane_lsh_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _emb_int(spark, sf_dir)
    planes = t.sparkSession.range(0, 16).select(
        F.col("id").cast("int").alias("j")
    )
    proj = (
        t.crossJoin(F.broadcast(planes))
        .withColumn(
            "r",
            F.floor(
                F.cos(
                    F.col("j").cast("double") * 64.0
                    + F.col("pos").cast("double")
                    + 0.5
                )
                * 1_000_000
                + F.lit(_OFF)
            ).cast("long"),
        )
        .groupBy("vec_id", "label", "j")
        .agg(F.sum(F.col("e") * F.col("r")).alias("p"))
    )
    sig = proj.groupBy("vec_id", "label").agg(
        F.sum(
            F.when(
                F.col("p") > 0,
                F.expr("shiftleft(CAST(1 AS BIGINT), j)"),
            ).otherwise(F.lit(0))
        ).alias("sig")
    )
    a = sig.select(
        F.col("label"),
        F.col("vec_id").alias("ida"),
        F.col("sig").alias("sa"),
    )
    b = sig.select(
        F.col("label").alias("lb"),
        F.col("vec_id").alias("idb"),
        F.col("sig").alias("sb"),
    )
    pairs = a.join(
        b, (F.col("label") == F.col("lb")) & (F.col("ida") < F.col("idb"))
    ).withColumn(
        "match",
        F.lit(16) - F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))),
    )
    out = pairs.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("match").alias("s_match"),
    )
    return out.select(
        F.col("label").cast("long").alias("label"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("s_match").cast("long").alias("s_match"),
        F.floor(
            F.col("s_match").cast("double")
            / (F.col("n_pairs") * 16).cast("double")
            * 1_000_000
            + F.lit(_OFF)
        )
        .cast("long")
        .alias("agree_e6"),
    ).orderBy("label")


SQL_LSH_AUDIT = f"""
WITH t AS ({_EMB_INT_SQL}),
proj AS (
  SELECT vec_id, label, j,
         CAST(sum(e * CAST(floor(cos(j * 64.0 + pos + 0.5) * 1000000
                                 + {_OFF}) AS BIGINT)) AS BIGINT) AS p
  FROM t, unnest(generate_series(0, 15)) AS g(j)
  GROUP BY 1, 2, 3
), sig AS (
  SELECT vec_id, label,
         CAST(sum(CASE WHEN p > 0 THEN CAST(1 AS BIGINT) << j
                       ELSE 0 END) AS BIGINT) AS sig
  FROM proj GROUP BY 1, 2
), pairs AS (
  SELECT a.label,
         16 - bit_count(CAST(xor(a.sig, b.sig) AS BIGINT)) AS match
  FROM sig a JOIN sig b
    ON b.label = a.label AND a.vec_id < b.vec_id
)
SELECT CAST(label AS BIGINT) AS label,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(match) AS BIGINT) AS s_match,
       CAST(floor(CAST(sum(match) AS DOUBLE) / (count(*) * 16)
                  * 1000000 + {_OFF}) AS BIGINT) AS agree_e6
FROM pairs
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# embedding_norm_profile — per-label L2-norm distribution QC
# ---------------------------------------------------------------------------
# Squared norms exact BIGINTs; median norm2 is the lower-median order
# statistic; the mean norm e6-floors each sqrt before the exact sum.


def q_embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _emb_int(spark, sf_dir)
    n2 = t.groupBy("vec_id", "label").agg(
        F.sum(F.col("e") * F.col("e")).alias("n2")
    )
    wq = Window.partitionBy("label").orderBy("n2", "vec_id")
    wn = Window.partitionBy("label")
    r = (
        n2.withColumn("rk", F.row_number().over(wq))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .withColumn(
            "norm_e6",
            F.floor(F.sqrt(F.col("n2").cast("double")) + F.lit(_OFF)).cast(
                "long"
            ),
        )
    )
    med = r.filter(
        F.col("rk") == F.floor((F.col("n") + 1) / 2).cast("int")
    ).select("label", F.col("n2").alias("med_n2"))
    agg = r.groupBy("label").agg(
        F.max("n").alias("n"),
        F.min("n2").alias("min_n2"),
        F.max("n2").alias("max_n2"),
        F.sum("norm_e6").alias("s_norm"),
    )
    out = agg.join(med, "label").select(
        F.col("label").cast("long").alias("label"),
        F.col("n").cast("long").alias("n"),
        F.col("min_n2").cast("long").alias("min_n2"),
        F.col("med_n2").cast("long").alias("med_n2"),
        F.col("max_n2").cast("long").alias("max_n2"),
        F.floor(
            F.col("s_norm").cast("double") / F.col("n").cast("double")
            + F.lit(_OFF)
        )
        .cast("long")
        .alias("mean_norm_e6"),
    )
    return out.orderBy("label")


SQL_NORM_PROFILE = f"""
WITH t AS ({_EMB_INT_SQL}),
n2 AS (
  SELECT vec_id, label, CAST(sum(e * e) AS BIGINT) AS n2
  FROM t GROUP BY 1, 2
), r AS (
  SELECT *,
         row_number() OVER (PARTITION BY label ORDER BY n2, vec_id) AS rk,
         count(*) OVER (PARTITION BY label) AS n,
         CAST(floor(sqrt(CAST(n2 AS DOUBLE)) + {_OFF}) AS BIGINT)
           AS norm_e6
  FROM n2
), med AS (
  SELECT label, n2 AS med_n2
  FROM r WHERE rk = CAST(floor((n + 1) / 2) AS INT)
), agg AS (
  SELECT label, max(n) AS n,
         min(n2) AS min_n2, max(n2) AS max_n2,
         CAST(sum(norm_e6) AS BIGINT) AS s_norm
  FROM r GROUP BY 1
)
SELECT CAST(agg.label AS BIGINT) AS label,
       CAST(n AS BIGINT) AS n,
       CAST(min_n2 AS BIGINT) AS min_n2,
       CAST(med_n2 AS BIGINT) AS med_n2,
       CAST(max_n2 AS BIGINT) AS max_n2,
       CAST(floor(CAST(s_norm AS DOUBLE) / n + {_OFF}) AS BIGINT)
         AS mean_norm_e6
FROM agg JOIN med ON med.label = agg.label
ORDER BY label
"""


# ---------------------------------------------------------------------------
# centroid_gram — pairwise cosine Gram matrix of label centroids
# ---------------------------------------------------------------------------
# Centroid component sums are exact BIGINTs via posexplode + groupBy;
# the 45-pair Gram uses cosines of the SUM vectors (mean scaling
# cancels).  Label-separation map for the ANN/semantic-dedup family.


def q_centroid_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _emb_int(spark, sf_dir)
    cent = t.groupBy("label", "pos").agg(F.sum("e").alias("s"))
    norm = cent.groupBy("label").agg(
        F.sum(F.col("s") * F.col("s")).alias("n2")
    )
    a = cent.select(
        F.col("label").alias("la"), "pos", F.col("s").alias("sa")
    )
    b = cent.select(
        F.col("label").alias("lb"),
        F.col("pos").alias("pos_b"),
        F.col("s").alias("sb"),
    )
    dots = (
        a.join(b, (F.col("pos") == F.col("pos_b")) & (F.col("la") < F.col("lb")))
        .groupBy("la", "lb")
        .agg(F.sum(F.col("sa") * F.col("sb")).alias("dot"))
    )
    na = norm.select(F.col("label").alias("la"), F.col("n2").alias("na2"))
    nb = norm.select(F.col("label").alias("lb"), F.col("n2").alias("nb2"))
    out = (
        dots.join(F.broadcast(na), "la")
        .join(F.broadcast(nb), "lb")
        .select(
            F.col("la").cast("long").alias("label_a"),
            F.col("lb").cast("long").alias("label_b"),
            F.floor(
                F.col("dot").cast("double")
                / F.sqrt(
                    F.col("na2").cast("double") * F.col("nb2").cast("double")
                )
                * 1_000_000
                + F.lit(_OFF)
            )
            .cast("long")
            .alias("cos_e6"),
        )
    )
    return out.orderBy("label_a", "label_b")


SQL_CENTROID_GRAM = f"""
WITH t AS ({_EMB_INT_SQL}),
cent AS (
  SELECT label, pos, CAST(sum(e) AS BIGINT) AS s
  FROM t GROUP BY 1, 2
), norm AS (
  SELECT label, CAST(sum(s * s) AS BIGINT) AS n2
  FROM cent GROUP BY 1
), dots AS (
  SELECT a.label AS la, b.label AS lb,
         CAST(sum(a.s * b.s) AS BIGINT) AS dot
  FROM cent a JOIN cent b ON b.pos = a.pos AND a.label < b.label
  GROUP BY 1, 2
)
SELECT CAST(la AS BIGINT) AS label_a,
       CAST(lb AS BIGINT) AS label_b,
       CAST(floor(CAST(dot AS DOUBLE)
                  / sqrt(CAST(na.n2 AS DOUBLE) * nb.n2)
                  * 1000000 + {_OFF}) AS BIGINT) AS cos_e6
FROM dots
JOIN norm na ON na.label = la
JOIN norm nb ON nb.label = lb
ORDER BY label_a, label_b
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "knn_loo_accuracy": q_knn_loo_accuracy,
    "hyperplane_lsh_audit": q_hyperplane_lsh_audit,
    "embedding_norm_profile": q_embedding_norm_profile,
    "centroid_gram": q_centroid_gram,
}

ORACLE_SQL: dict[str, str] = {
    "knn_loo_accuracy": SQL_KNN_LOO,
    "hyperplane_lsh_audit": SQL_LSH_AUDIT,
    "embedding_norm_profile": SQL_NORM_PROFILE,
    "centroid_gram": SQL_CENTROID_GRAM,
}


# ---------------------------------------------------------------------------
# ndcg_mrr_at5 — NDCG@5 + MRR@5 for cosine retrieval with same-label
# relevance (Jaervelin & Kekaelaeinen 2002)
# ---------------------------------------------------------------------------
# Same exact-integer dot machinery as knn_loo_accuracy; per query
# DCG = sum rel_i / log2(i + 1) over the top 5 (e6-floored terms),
# IDCG assumes min(5, #same-label - 1) perfect hits, MRR uses the first
# relevant rank.  Per-label averages from exact term sums.


def q_ndcg_mrr_at5(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    t = _emb_int(spark, sf_dir)
    norms = t.groupBy("vec_id", "label").agg(
        F.sum(F.col("e") * F.col("e")).alias("n2")
    )
    labc = norms.groupBy("label").agg(F.count(F.lit(1)).alias("n_lab"))
    # round-4 bench-tail repair: shared _top5_cos_rows Arrow kernel
    # replaces the probe x corpus pos-join (ordering identical,
    # oracle unchanged).
    top5 = _top5_cos_rows(spark, sf_dir, 5)
    rel = (F.col("label") == F.col("qlabel")).cast("long")
    disc = {
        i: 1_000_000.0 / math.log2(i + 1) for i in range(1, 6)
    }
    dcg_term = rel * F.when(F.col("rk") == 1, F.lit(int(disc[1]))).when(
        F.col("rk") == 2, F.lit(int(disc[2]))
    ).when(F.col("rk") == 3, F.lit(int(disc[3]))).when(
        F.col("rk") == 4, F.lit(int(disc[4]))
    ).otherwise(F.lit(int(disc[5])))
    perq = top5.groupBy("qid", "qlabel").agg(
        F.sum(dcg_term).alias("dcg_e6"),
        F.min(F.when(rel == 1, F.col("rk"))).alias("first_rel"),
    )
    perq = perq.join(
        F.broadcast(labc.select(F.col("label").alias("qlabel"), "n_lab")),
        "qlabel",
    )
    # IDCG with k = min(5, n_lab - 1) ideal hits, same integer discounts
    idcg = sum(
        [
            F.when(F.col("n_lab") - 1 >= i, F.lit(int(disc[i]))).otherwise(
                F.lit(0)
            )
            for i in range(1, 6)
        ]
    )
    perq = perq.withColumn("idcg_e6", idcg).withColumn(
        "ndcg_e6",
        F.floor(
            F.col("dcg_e6").cast("double")
            / F.col("idcg_e6").cast("double")
            * 1_000_000
            + F.lit(_OFF)
        ).cast("long"),
    ).withColumn(
        "rr_e6",
        F.coalesce(
            F.floor(
                F.lit(1_000_000.0) / F.col("first_rel").cast("double")
                + F.lit(_OFF)
            ).cast("long"),
            F.lit(0),
        ),
    )
    out = perq.groupBy("qlabel").agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum("ndcg_e6").alias("s_ndcg"),
        F.sum("rr_e6").alias("s_rr"),
    )
    return out.select(
        F.col("qlabel").cast("long").alias("label"),
        F.col("n_queries").cast("long").alias("n_queries"),
        F.floor(
            F.col("s_ndcg").cast("double") / F.col("n_queries").cast("double")
            + F.lit(_OFF)
        )
        .cast("long")
        .alias("ndcg5_e6"),
        F.floor(
            F.col("s_rr").cast("double") / F.col("n_queries").cast("double")
            + F.lit(_OFF)
        )
        .cast("long")
        .alias("mrr5_e6"),
    ).orderBy("label")


SQL_NDCG = f"""
WITH t AS ({_EMB_INT_SQL}),
norms AS (
  SELECT vec_id, label, CAST(sum(e * e) AS BIGINT) AS n2
  FROM t GROUP BY 1, 2
), labc AS (
  SELECT label, count(*) AS n_lab FROM norms GROUP BY 1
), q AS (
  SELECT vec_id AS qid, label AS qlabel, pos, e AS eq
  FROM t WHERE vec_id % 5 = 0
), dots AS (
  SELECT q.qid, q.qlabel, t.vec_id, t.label,
         CAST(sum(q.eq * t.e) AS BIGINT) AS dot
  FROM q JOIN t ON t.pos = q.pos AND t.vec_id <> q.qid
  GROUP BY 1, 2, 3, 4
), scored AS (
  SELECT dots.*,
         row_number() OVER (PARTITION BY qid
                            ORDER BY CAST(dot AS DOUBLE)
                              / sqrt(CAST(qn.n2 AS DOUBLE) * rn.n2) DESC,
                              dots.vec_id) AS rk
  FROM dots
  JOIN norms qn ON qn.vec_id = dots.qid
  JOIN norms rn ON rn.vec_id = dots.vec_id
), top5 AS (
  SELECT *, CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel
  FROM scored WHERE rk <= 5
), perq AS (
  SELECT qid, qlabel,
         CAST(sum(rel * CASE rk WHEN 1 THEN 1000000 WHEN 2 THEN 630929
                                WHEN 3 THEN 500000 WHEN 4 THEN 430676
                                ELSE 386852 END) AS BIGINT) AS dcg_e6,
         min(CASE WHEN rel = 1 THEN rk END) AS first_rel
  FROM top5 GROUP BY 1, 2
), withi AS (
  SELECT perq.*,
         CAST((CASE WHEN n_lab - 1 >= 1 THEN 1000000 ELSE 0 END
             + CASE WHEN n_lab - 1 >= 2 THEN 630929 ELSE 0 END
             + CASE WHEN n_lab - 1 >= 3 THEN 500000 ELSE 0 END
             + CASE WHEN n_lab - 1 >= 4 THEN 430676 ELSE 0 END
             + CASE WHEN n_lab - 1 >= 5 THEN 386852 ELSE 0 END) AS BIGINT)
           AS idcg_e6
  FROM perq JOIN labc ON labc.label = perq.qlabel
), per AS (
  SELECT qlabel,
         CAST(floor(CAST(dcg_e6 AS DOUBLE) / idcg_e6 * 1000000 + {_OFF})
              AS BIGINT) AS ndcg_e6,
         COALESCE(CAST(floor(1000000.0 / first_rel + {_OFF}) AS BIGINT), 0)
           AS rr_e6
  FROM withi
)
SELECT CAST(qlabel AS BIGINT) AS label,
       CAST(count(*) AS BIGINT) AS n_queries,
       CAST(floor(CAST(sum(ndcg_e6) AS DOUBLE) / count(*) + {_OFF})
            AS BIGINT) AS ndcg5_e6,
       CAST(floor(CAST(sum(rr_e6) AS DOUBLE) / count(*) + {_OFF})
            AS BIGINT) AS mrr5_e6
FROM per
GROUP BY 1
ORDER BY 1
"""


QUERIES.update({"ndcg_mrr_at5": q_ndcg_mrr_at5})
ORACLE_SQL.update({"ndcg_mrr_at5": SQL_NDCG})


# ---------------------------------------------------------------------------
# schilling_knn — Schilling (JASA 1986) k-NN class-agreement statistic
# over the embedding space: T = (1/(n k)) sum_i sum_{r<=k} I(label of
# r-th neighbour == label of i), against the exchangeable-label
# expectation E = sum_g n_g (n_g - 1) / (n (n - 1)).  T >> E means
# labels cluster geometrically.  k = 5, cosine metric, brute-force
# all-pairs at test scale (the LSH-bucketed variant is the documented
# 100TB path, cf. hyperplane_lsh_audit); deterministic (cos, vec_id)
# neighbour ordering.
# ---------------------------------------------------------------------------


def q_schilling_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The N^2 x 64 pos-join formulation cost ~35 s at sf0.1 (BENCH
    # round-4 tail audit); the statistic only needs, per query, the
    # top-5 agree count, so the dots now run as an Arrow kernel — an
    # int64 batch x N matmul against the collected reference matrix
    # (exact: components <= 1e6, 64 dims -> dots <= 6.4e13).  cos and
    # the (cos desc, vec_id) tie-break replicate the oracle's
    # row_number ordering bit-for-bit (IEEE divide/sqrt of exact
    # ints + lexsort).  The dense reference collect is the documented
    # test-scale brute-force oracle; at 100 TB the same statistic runs
    # on hyperplane-LSH candidates (hyperplane_lsh_audit path).
    import numpy as np
    import pandas as pd

    t = _emb_int(spark, sf_dir)
    norms = t.groupBy("vec_id", "label").agg(
        F.sum(F.col("e") * F.col("e")).alias("n2")
    )
    src = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ref_rows = (
        t.groupBy("vec_id", "label")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "e"))).alias("pe"))
        .select("vec_id", "label", F.col("pe.e").alias("evec"))
        .collect()
    )
    ref_rows.sort(key=lambda r: r["vec_id"])
    ref_ids = np.array([r["vec_id"] for r in ref_rows], dtype=np.int64)
    ref_lab = np.array([r["label"] for r in ref_rows], dtype=np.int64)
    ref_e = np.array([r["evec"] for r in ref_rows], dtype=np.int64)
    ref_n2 = (ref_e.astype(np.float64) ** 2).sum(axis=1)

    def agree_batches(it):
        for pdf in it:
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            labs = pdf["label"].to_numpy(dtype=np.int64)
            emb = np.floor(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                * 1_000_000
                + _OFF
            ).astype(np.int64)
            dots = emb @ ref_e.T  # exact int64
            qn2 = (emb.astype(np.float64) ** 2).sum(axis=1)
            cos = dots.astype(np.float64) / np.sqrt(
                qn2[:, None] * ref_n2[None, :]
            )
            cos[ids[:, None] == ref_ids[None, :]] = -np.inf
            order = np.lexsort(
                (np.broadcast_to(ref_ids, cos.shape), -cos), axis=1
            )
            top5 = order[:, :5]
            agree = (ref_lab[top5] == labs[:, None]).sum()
            yield pd.DataFrame(
                {"nq": [len(ids)], "agree": [int(agree)]}
            )

    partials = src.select("vec_id", "label", "embedding").mapInPandas(
        agree_batches, "nq long, agree long"
    )
    agg = partials.agg(
        F.sum("nq").alias("n"),
        F.sum("agree").alias("agree"),
    )
    sizes = norms.groupBy("label").agg(F.count(F.lit(1)).alias("ng"))
    ee = sizes.agg(
        F.sum(F.col("ng") * (F.col("ng") - 1)).alias("se"),
        F.sum("ng").alias("ntot"),
    )
    j = agg.crossJoin(F.broadcast(ee))
    nd = F.col("n").cast("double")
    tstat = F.col("agree").cast("double") / (nd * 5.0)
    e = F.col("se").cast("double") / (
        F.col("ntot").cast("double")
        * (F.col("ntot").cast("double") - 1.0)
    )
    return j.select(
        F.col("n").cast("long").alias("n"),
        F.lit(5).cast("long").alias("k"),
        F.floor(tstat * 1_000_000 + F.lit(_OFF)).cast("long").alias(
            "t_e6"
        ),
        F.floor(e * 1_000_000 + F.lit(_OFF)).cast("long").alias(
            "e_e6"
        ),
        F.floor((tstat - e) * 1_000_000 + F.lit(_OFF))
        .cast("long")
        .alias("excess_e6"),
    )


SQL_SCHILLING = f"""
WITH t AS ({_EMB_INT_SQL}),
norms AS (
  SELECT vec_id, label, CAST(sum(e * e) AS BIGINT) AS n2
  FROM t GROUP BY 1, 2
), dots AS (
  SELECT q.vec_id AS qid, q.label AS qlabel, t.vec_id, t.label,
         CAST(sum(q.e * t.e) AS BIGINT) AS dot
  FROM t q JOIN t ON t.pos = q.pos AND t.vec_id <> q.vec_id
  GROUP BY 1, 2, 3, 4
), scored AS (
  SELECT dots.qid, dots.qlabel, dots.label,
         row_number() OVER (PARTITION BY dots.qid
                            ORDER BY CAST(dot AS DOUBLE)
                              / sqrt(CAST(qn.n2 AS DOUBLE) * rn.n2)
                              DESC, dots.vec_id) AS rk
  FROM dots
  JOIN norms qn ON qn.vec_id = dots.qid
  JOIN norms rn ON rn.vec_id = dots.vec_id
), agg AS (
  SELECT CAST(count(DISTINCT qid) AS BIGINT) AS n,
         CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END)
              AS BIGINT) AS agree
  FROM scored WHERE rk <= 5
), sizes AS (
  SELECT label, count(*) AS ng FROM norms GROUP BY 1
), ee AS (
  SELECT CAST(sum(ng * (ng - 1)) AS BIGINT) AS se,
         CAST(sum(ng) AS BIGINT) AS ntot
  FROM sizes
)
SELECT n, CAST(5 AS BIGINT) AS k,
       CAST(floor(CAST(agree AS DOUBLE) / (n * 5.0) * 1000000
                  + {_OFF}) AS BIGINT) AS t_e6,
       CAST(floor(CAST(se AS DOUBLE)
                  / (CAST(ntot AS DOUBLE) * (ntot - 1.0)) * 1000000
                  + {_OFF}) AS BIGINT) AS e_e6,
       CAST(floor((CAST(agree AS DOUBLE) / (n * 5.0)
                   - CAST(se AS DOUBLE)
                     / (CAST(ntot AS DOUBLE) * (ntot - 1.0)))
                  * 1000000 + {_OFF}) AS BIGINT) AS excess_e6
FROM agg CROSS JOIN ee
"""


QUERIES.update({"schilling_knn": q_schilling_knn})
ORACLE_SQL.update({"schilling_knn": SQL_SCHILLING})


# ---------------------------------------------------------------------------
# cka_halves — linear Centered Kernel Alignment (Kornblith et al.
# 2019) between the first and second 32 dimensions of the embedding
# space: CKA = ||Xc'Yc||_F^2 / (||Xc'Xc||_F ||Yc'Yc||_F).  Each
# centered cross-covariance numerator N_ab = n S_ab - S_a S_b is an
# EXACT int64 (|.| < 3e17); cells are squared after a deterministic
# /1e12 rescale and floored, so the three Frobenius sums are exact
# integers in both engines.  Feature-pair fan-out is 64x64 cells.
# ---------------------------------------------------------------------------


def q_cka_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _emb_int(spark, sf_dir)
    a = t.select(
        "vec_id", F.col("pos").alias("pa"), F.col("e").alias("ea")
    )
    b = t.select(
        "vec_id", F.col("pos").alias("pb"), F.col("e").alias("eb")
    )
    pairs = a.join(b, "vec_id").groupBy("pa", "pb").agg(
        F.sum(F.col("ea") * F.col("eb")).alias("sab"),
        F.count(F.lit(1)).alias("n"),
    )
    sums = t.groupBy("pos").agg(F.sum("e").alias("sp"))
    sa = sums.select(F.col("pos").alias("pa"), F.col("sp").alias("sa"))
    sb = sums.select(F.col("pos").alias("pb"), F.col("sp").alias("sb"))
    c = pairs.join(F.broadcast(sa), "pa").join(F.broadcast(sb), "pb")
    nab = (
        F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")
    ).cast("double") / 1e12
    q = F.floor(nab * nab + F.lit(_OFF)).cast("long")
    blk = (
        F.when((F.col("pa") < 32) & (F.col("pb") < 32), F.lit("xx"))
        .when((F.col("pa") >= 32) & (F.col("pb") >= 32), F.lit("yy"))
        .when((F.col("pa") < 32) & (F.col("pb") >= 32), F.lit("xy"))
        .otherwise(F.lit("yx"))
    )
    g = c.select(blk.alias("blk"), q.alias("q"), "n").groupBy(
        "blk"
    ).agg(F.sum("q").alias("s"), F.max("n").alias("n"))
    xx = g.filter(F.col("blk") == "xx").select(
        F.col("s").alias("sxx"), F.col("n").alias("n")
    )
    yy = g.filter(F.col("blk") == "yy").select(
        F.col("s").alias("syy")
    )
    xy = g.filter(F.col("blk") == "xy").select(
        F.col("s").alias("sxy")
    )
    j = xx.crossJoin(yy).crossJoin(xy)
    cka = F.col("sxy").cast("double") / F.sqrt(
        F.col("sxx").cast("double") * F.col("syy").cast("double")
    )
    return j.filter((F.col("sxx") > 0) & (F.col("syy") > 0)).select(
        F.col("n").cast("long").alias("n_vecs"),
        F.lit(32).cast("long").alias("dims_per_half"),
        F.floor(cka * 1_000_000 + F.lit(_OFF)).cast("long").alias(
            "cka_e6"
        ),
    )


SQL_CKA = f"""
WITH t AS ({_EMB_INT_SQL}),
pairs AS (
  SELECT a.pos AS pa, b.pos AS pb,
         CAST(sum(a.e * b.e) AS BIGINT) AS sab,
         count(*) AS n
  FROM t a JOIN t b ON b.vec_id = a.vec_id
  GROUP BY 1, 2
), sums AS (
  SELECT pos, CAST(sum(e) AS BIGINT) AS sp FROM t GROUP BY 1
), c AS (
  SELECT p.pa, p.pb, p.n,
         CAST(floor((CAST(p.n * p.sab - sa.sp * sb.sp AS DOUBLE)
                     / 1e12)
                    * (CAST(p.n * p.sab - sa.sp * sb.sp AS DOUBLE)
                       / 1e12) + {_OFF}) AS BIGINT) AS q,
         CASE WHEN p.pa < 32 AND p.pb < 32 THEN 'xx'
              WHEN p.pa >= 32 AND p.pb >= 32 THEN 'yy'
              WHEN p.pa < 32 AND p.pb >= 32 THEN 'xy'
              ELSE 'yx' END AS blk
  FROM pairs p
  JOIN sums sa ON sa.pos = p.pa
  JOIN sums sb ON sb.pos = p.pb
), g AS (
  SELECT blk, CAST(sum(q) AS BIGINT) AS s,
         CAST(max(n) AS BIGINT) AS n
  FROM c GROUP BY 1
)
SELECT xx.n AS n_vecs, CAST(32 AS BIGINT) AS dims_per_half,
       CAST(floor(CAST(xy.s AS DOUBLE)
                  / sqrt(CAST(xx.s AS DOUBLE) * yy.s) * 1000000
                  + {_OFF}) AS BIGINT) AS cka_e6
FROM (SELECT * FROM g WHERE blk = 'xx') xx
CROSS JOIN (SELECT * FROM g WHERE blk = 'yy') yy
CROSS JOIN (SELECT * FROM g WHERE blk = 'xy') xy
WHERE xx.s > 0 AND yy.s > 0
"""


QUERIES.update({"cka_halves": q_cka_halves})
ORACLE_SQL.update({"cka_halves": SQL_CKA})


# ---------------------------------------------------------------------------
# Shared Arrow top-5 kernel (round-4 bench-tail repair): the
# probe x corpus pos-join dots in knn_loo_accuracy / ndcg_mrr_at5
# cost ~7 s each at sf0.1; the same (cos desc, vec_id) top-5 now comes
# from a batch x N int64 matmul against the collected reference
# matrix (the schilling_knn kernel), exploded back to one row per
# (query, rank).  Ordering replicates the oracle row_number exactly;
# oracles unchanged.  Dense-reference collect = the documented
# test-scale brute-force oracle; 100 TB path = hyperplane-LSH
# candidates.
# ---------------------------------------------------------------------------


def _top5_cos_rows(
    spark: SparkSession, sf_dir: str, probe_mod: int
) -> DataFrame:
    """(qid, qlabel, rk, vec_id, label) for probes vec_id % probe_mod
    == 0, top-5 by (cos desc, vec_id asc), self excluded."""
    import numpy as np
    import pandas as pd

    t = _emb_int(spark, sf_dir)
    ref_rows = (
        t.groupBy("vec_id", "label")
        .agg(
            F.sort_array(F.collect_list(F.struct("pos", "e"))).alias("pe")
        )
        .select("vec_id", "label", F.col("pe.e").alias("evec"))
        .collect()
    )
    ref_rows.sort(key=lambda r: r["vec_id"])
    ref_ids = np.array([r["vec_id"] for r in ref_rows], dtype=np.int64)
    ref_lab = np.array([r["label"] for r in ref_rows], dtype=np.int64)
    ref_e = np.array([r["evec"] for r in ref_rows], dtype=np.int64)
    ref_n2 = (ref_e.astype(np.float64) ** 2).sum(axis=1)

    def top5_batches(it):
        for pdf in it:
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            labs = pdf["label"].to_numpy(dtype=np.int64)
            emb = np.floor(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                * 1_000_000
                + _OFF
            ).astype(np.int64)
            dots = emb @ ref_e.T
            qn2 = (emb.astype(np.float64) ** 2).sum(axis=1)
            cos = dots.astype(np.float64) / np.sqrt(
                qn2[:, None] * ref_n2[None, :]
            )
            cos[ids[:, None] == ref_ids[None, :]] = -np.inf
            order = np.lexsort(
                (np.broadcast_to(ref_ids, cos.shape), -cos), axis=1
            )[:, :5]
            nq = len(ids)
            yield pd.DataFrame(
                {
                    "qid": np.repeat(ids, 5),
                    "qlabel": np.repeat(labs, 5),
                    "rk": np.tile(np.arange(1, 6, dtype=np.int64), nq),
                    "vec_id": ref_ids[order].ravel(),
                    "label": ref_lab[order].ravel(),
                }
            )

    src = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") % probe_mod == 0)
        .select("vec_id", "label", "embedding")
    )
    return src.mapInPandas(
        top5_batches,
        "qid long, qlabel long, rk long, vec_id long, label long",
    )


# ---------------------------------------------------------------------------
# Shared within-label L2 top-k kernel (round-4 bench-tail repair #2):
# hubness_skew / twonn_intrinsic_dim / lid_mle all rank within-label
# neighbours by round(l2sq, 6) with cand_id tie-break.  The kernel
# preselects the top (k + slack) candidates by RAW einsum distance —
# the same per-row np.einsum arithmetic as l2sq_pair_udf, so the raw
# doubles are bit-identical — and the callers re-apply F.round(., 6)
# and the original window over <= k+slack rows, keeping the rounded
# ordering (and the oracles) byte-identical.  Slack absorbs rounded
# ties that straddle the raw cut (requires raw gaps < 1e-6 across 20
# ranks to fail — and any failure would hash-mismatch the oracle).
# ---------------------------------------------------------------------------


def _l2_topk_rows(
    spark: SparkSession,
    sf_dir: str,
    k: int,
    slack: int = 20,
    allowed: dict | None = None,
) -> DataFrame:
    """(label, vec_id, cand_id, cand_label, d2raw) raw squared
    distances of each vector's top (k+slack) candidate neighbours;
    candidates are same-label by default, or the labels listed in
    ``allowed[label]`` (e.g. own + rival for map_at_k)."""
    import numpy as np
    import pandas as pd

    src = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "label", "embedding"
    )
    ref_rows = src.collect()
    ref_rows.sort(key=lambda r: r["vec_id"])
    ref_ids = np.array([r["vec_id"] for r in ref_rows], dtype=np.int64)
    ref_lab = np.array([r["label"] for r in ref_rows], dtype=np.int64)
    ref_e = np.stack(
        [np.asarray(r["embedding"], dtype=np.float64) for r in ref_rows]
    )
    take = k + slack

    def topk_batches(it):
        for pdf in it:
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            labs = pdf["label"].to_numpy(dtype=np.int64)
            emb = np.stack(pdf["embedding"].to_numpy()).astype(
                np.float64
            )
            out_vid, out_lab, out_cid = [], [], []
            out_clab, out_d2 = [], []
            for bi in range(len(ids)):
                if allowed is None:
                    lmask = ref_lab == labs[bi]
                else:
                    lmask = np.isin(
                        ref_lab, list(allowed[int(labs[bi])])
                    )
                mask = lmask & (ref_ids != ids[bi])
                cand = np.where(mask)[0]
                if len(cand) == 0:
                    continue
                diff = emb[bi][None, :] - ref_e[cand]
                d2 = np.einsum("ij,ij->i", diff, diff)
                order = np.lexsort((ref_ids[cand], d2))[:take]
                sel = cand[order]
                out_vid.extend([ids[bi]] * len(sel))
                out_lab.extend([labs[bi]] * len(sel))
                out_cid.extend(ref_ids[sel].tolist())
                out_clab.extend(ref_lab[sel].tolist())
                out_d2.extend(d2[order].tolist())
            yield pd.DataFrame(
                {
                    "vec_id": np.array(out_vid, dtype=np.int64),
                    "label": np.array(out_lab, dtype=np.int64),
                    "cand_id": np.array(out_cid, dtype=np.int64),
                    "cand_label": np.array(out_clab, dtype=np.int64),
                    "d2raw": np.array(out_d2, dtype=np.float64),
                }
            )

    return src.mapInPandas(
        topk_batches,
        "vec_id long, label long, cand_id long, cand_label long,"
        " d2raw double",
    )
