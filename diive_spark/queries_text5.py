"""Round-4 text battery #5: SymSpell deletion-neighborhood density,
Craig's Zeta stylometric markers, out-of-vocabulary rate against a
frequency-capped lexicon, and top-term document co-occurrence Jaccard —
none previously in the registry (burrows_delta is the z-score
stylometry; term_pmi is token-adjacency association, not doc-level
co-occurrence).

House conventions: whitespace tokenization (`split(trim(text), '\\s+')`
== DuckDB `string_split_regex`), every integer SUM cast to BIGINT,
rationals compared by cross-multiplication where order matters,
deterministic tie orders documented per query.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from diive_spark.queries_trend import _OFF


def _words(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select(
        "doc_id",
        "source",
        "lang",
        F.explode(F.split(F.trim("text"), r"\s+")).alias("w"),
    ).filter(F.length("w") > 0)


_WORDS_SQL = """
  SELECT doc_id, source, lang, w
  FROM documents,
       unnest(string_split_regex(trim(text), '\\s+')) AS u(w)
  WHERE length(w) > 0
"""


# ---------------------------------------------------------------------------
# symspell_neighbors — deletion-neighborhood (edit-distance-1) density
# (the SymSpell symmetric-delete trick, Garbe 2012; covers del/ins/sub,
# not transposition, at depth 1)
# ---------------------------------------------------------------------------
# Every vocabulary word emits itself plus each single-character
# deletion as keys; two distinct words are neighbors iff they share a
# key.  The key join is the SCALE path (bucketed equi-join, never
# all-pairs edit distance); neighbor pairs are deduped before counting.
# Output: the 20 most frequent words (count desc, word) with their
# neighbor counts — exact integers end-to-end.


def q_symspell_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = _words(spark, sf_dir)
    vocab = w.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    keys = vocab.select(
        "w",
        F.explode(
            F.concat(
                F.array(F.col("w")),
                F.transform(
                    F.sequence(F.lit(1), F.length("w")),
                    lambda i: F.concat(
                        F.col("w").substr(F.lit(1), i - 1),
                        F.col("w").substr(i + 1, F.length("w")),
                    ),
                ),
            )
        ).alias("k"),
    ).distinct()
    a = keys.select(F.col("w").alias("w1"), "k")
    b = keys.select(F.col("w").alias("w2"), F.col("k").alias("k2"))
    pairs = (
        a.join(b, (F.col("k") == F.col("k2")) & (F.col("w1") < F.col("w2")))
        .select("w1", "w2")
        .distinct()
    )
    nbrs = pairs.select(F.col("w1").alias("w"), F.col("w2").alias("nb")).union(
        pairs.select(F.col("w2").alias("w"), F.col("w1").alias("nb"))
    )
    ncnt = nbrs.groupBy("w").agg(F.count(F.lit(1)).alias("n_neighbors"))
    top = vocab.join(ncnt, "w", "left").select(
        "w",
        F.col("c").cast("long").alias("freq"),
        F.coalesce(F.col("n_neighbors"), F.lit(0))
        .cast("long")
        .alias("n_neighbors"),
    )
    wtop = Window.orderBy(F.col("freq").desc(), F.col("w"))
    return (
        top.withColumn("rk", F.row_number().over(wtop))
        .filter(F.col("rk") <= 20)
        .select("w", "freq", "n_neighbors")
        .orderBy(F.col("freq").desc(), F.col("w"))
    )


SQL_SYMSPELL = f"""
WITH words AS ({_WORDS_SQL}),
vocab AS (
  SELECT w, count(*) AS c FROM words GROUP BY 1
), keys AS (
  SELECT DISTINCT w, w AS k FROM vocab
  UNION
  SELECT DISTINCT w,
         substr(w, 1, i - 1) || substr(w, i + 1) AS k
  FROM vocab, unnest(generate_series(1, length(w))) AS g(i)
), pairs AS (
  SELECT DISTINCT a.w AS w1, b.w AS w2
  FROM keys a JOIN keys b ON b.k = a.k AND a.w < b.w
), nbrs AS (
  SELECT w1 AS w FROM pairs
  UNION ALL
  SELECT w2 AS w FROM pairs
), ncnt AS (
  SELECT w, count(*) AS n_neighbors FROM nbrs GROUP BY 1
), top AS (
  SELECT vocab.w, CAST(vocab.c AS BIGINT) AS freq,
         CAST(COALESCE(ncnt.n_neighbors, 0) AS BIGINT) AS n_neighbors,
         row_number() OVER (ORDER BY vocab.c DESC, vocab.w) AS rk
  FROM vocab LEFT JOIN ncnt ON ncnt.w = vocab.w
)
SELECT w, freq, n_neighbors
FROM top WHERE rk <= 20
ORDER BY freq DESC, w
"""


# ---------------------------------------------------------------------------
# craigs_zeta — Craig's Zeta marker words, English vs the rest
# (Craig & Kinney 2009; Burrows 2007)
# ---------------------------------------------------------------------------
# zeta(w) = docfrac_A(w) + (1 - docfrac_B(w)) - 1 over doc-level
# presence.  With fixed group sizes na/nb the order statistic is the
# exact integer z_num = da*nb + (nb - db)*na - na*nb (common
# denominator na*nb cancels), so the top-|zeta| pick is pure BIGINT
# comparisons; the e6 value is derived from the same integers.
# Output: top 10 by |zeta| (tie -> word).


def q_craigs_zeta(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = _words(spark, sf_dir).withColumn(
        "grp", (F.col("lang") == "en").cast("int")
    )
    pres = w.select("doc_id", "grp", "w").distinct()
    sizes = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            (F.col("lang") == "en").cast("int").alias("grp"), "doc_id"
        )
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    na = sizes.filter(F.col("grp") == 1).select(
        F.col("n").alias("na")
    )
    nb = sizes.filter(F.col("grp") == 0).select(
        F.col("n").alias("nb")
    )
    df = pres.groupBy("w").agg(
        F.sum(F.col("grp").cast("long")).alias("da"),
        F.sum((1 - F.col("grp")).cast("long")).alias("db"),
    )
    t = df.crossJoin(F.broadcast(na)).crossJoin(F.broadcast(nb))
    znum = (
        F.col("da") * F.col("nb")
        + (F.col("nb") - F.col("db")) * F.col("na")
        - F.col("na") * F.col("nb")
    )
    t = t.withColumn("z_num", znum)
    wtop = Window.orderBy(F.abs(F.col("z_num")).desc(), F.col("w"))
    out = (
        t.withColumn("rk", F.row_number().over(wtop))
        .filter(F.col("rk") <= 10)
        .select(
            "w",
            F.col("da").cast("long").alias("da"),
            F.col("db").cast("long").alias("db"),
            F.col("z_num").cast("long").alias("z_num"),
            F.floor(
                F.col("z_num").cast("double")
                / (F.col("na") * F.col("nb")).cast("double")
                * 1_000_000
                + F.lit(_OFF)
            )
            .cast("long")
            .alias("zeta_e6"),
        )
    )
    return out.orderBy(F.abs(F.col("z_num")).desc(), F.col("w"))


SQL_ZETA = f"""
WITH words AS ({_WORDS_SQL}),
pres AS (
  SELECT DISTINCT doc_id,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS grp, w
  FROM words
), sizes AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS grp,
         count(*) AS n
  FROM documents GROUP BY 1
), df AS (
  SELECT w,
         CAST(sum(grp) AS BIGINT) AS da,
         CAST(sum(1 - grp) AS BIGINT) AS db
  FROM pres GROUP BY 1
), t AS (
  SELECT w, da, db,
         CAST(da * nb.n + (nb.n - db) * na.n - na.n * nb.n AS BIGINT)
           AS z_num,
         na.n AS na, nb.n AS nb
  FROM df
  CROSS JOIN (SELECT n FROM sizes WHERE grp = 1) na
  CROSS JOIN (SELECT n FROM sizes WHERE grp = 0) nb
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY abs(z_num) DESC, w) AS rk
  FROM t
)
SELECT w, da, db, z_num,
       CAST(floor(CAST(z_num AS DOUBLE) / (na * nb) * 1000000 + {_OFF})
            AS BIGINT) AS zeta_e6
FROM ranked
WHERE rk <= 10
ORDER BY abs(z_num) DESC, w
"""


# ---------------------------------------------------------------------------
# oov_rate — out-of-vocabulary token share per source against the
# top-K corpus lexicon (the coverage audit every tokenizer pipeline
# runs before committing a vocab size)
# ---------------------------------------------------------------------------
# Lexicon = top 20 words by (count desc, word); the lexicon is a
# broadcast build side, the probe is one hash join over the token
# stream — the 100 TB-correct shape.  Exact integers.


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = _words(spark, sf_dir)
    vocab = w.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    wtop = Window.orderBy(F.col("c").desc(), F.col("w"))
    lex = (
        vocab.withColumn("rk", F.row_number().over(wtop))
        .filter(F.col("rk") <= 20)
        .select("w", F.lit(1).alias("in_lex"))
    )
    t = w.join(F.broadcast(lex), "w", "left")
    out = t.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("in_lex").isNull(), 1).otherwise(0)).alias(
            "n_oov"
        ),
    )
    return out.select(
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_oov").cast("long").alias("n_oov"),
        F.floor(
            F.col("n_oov").cast("double")
            / F.col("n_tokens").cast("double")
            * 1_000_000
            + F.lit(_OFF)
        )
        .cast("long")
        .alias("oov_e6"),
    ).orderBy("source")


SQL_OOV = f"""
WITH words AS ({_WORDS_SQL}),
vocab AS (
  SELECT w, count(*) AS c FROM words GROUP BY 1
), lex AS (
  SELECT w FROM (
    SELECT w, row_number() OVER (ORDER BY c DESC, w) AS rk FROM vocab) s
  WHERE rk <= 20
), t AS (
  SELECT words.source,
         CASE WHEN lex.w IS NULL THEN 1 ELSE 0 END AS oov
  FROM words LEFT JOIN lex ON lex.w = words.w
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(oov) AS BIGINT) AS n_oov,
       CAST(floor(CAST(sum(oov) AS DOUBLE) / count(*) * 1000000 + {_OFF})
            AS BIGINT) AS oov_e6
FROM t
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# cooccurrence_jaccard — document-level co-occurrence Jaccard for the
# top-10 terms (co-occurrence network edge weights)
# ---------------------------------------------------------------------------
# Presence sets per term; the bounded 45-pair join counts
# intersections, |union| = da + db - inter.  Exact integers.


def q_cooccurrence_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = _words(spark, sf_dir)
    vocab = w.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    wtop = Window.orderBy(F.col("c").desc(), F.col("w"))
    lex = (
        vocab.withColumn("rk", F.row_number().over(wtop))
        .filter(F.col("rk") <= 10)
        .select("w")
    )
    pres = (
        w.join(F.broadcast(lex), "w")
        .select("w", "doc_id")
        .distinct()
    )
    dfc = pres.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    a = pres.select(F.col("w").alias("w1"), "doc_id")
    b = pres.select(F.col("w").alias("w2"), F.col("doc_id").alias("d2"))
    inter = (
        a.join(b, (F.col("doc_id") == F.col("d2")) & (F.col("w1") < F.col("w2")))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    da = dfc.select(F.col("w").alias("w1"), F.col("df").alias("df1"))
    db = dfc.select(F.col("w").alias("w2"), F.col("df").alias("df2"))
    out = (
        inter.join(F.broadcast(da), "w1")
        .join(F.broadcast(db), "w2")
        .select(
            "w1",
            "w2",
            F.col("df1").cast("long").alias("df1"),
            F.col("df2").cast("long").alias("df2"),
            F.col("inter").cast("long").alias("inter"),
            F.floor(
                F.col("inter").cast("double")
                / (F.col("df1") + F.col("df2") - F.col("inter")).cast(
                    "double"
                )
                * 1_000_000
                + F.lit(_OFF)
            )
            .cast("long")
            .alias("jaccard_e6"),
        )
    )
    return out.orderBy("w1", "w2")


SQL_COOC = f"""
WITH words AS ({_WORDS_SQL}),
vocab AS (
  SELECT w, count(*) AS c FROM words GROUP BY 1
), lex AS (
  SELECT w FROM (
    SELECT w, row_number() OVER (ORDER BY c DESC, w) AS rk FROM vocab) s
  WHERE rk <= 10
), pres AS (
  SELECT DISTINCT words.w, doc_id
  FROM words JOIN lex ON lex.w = words.w
), dfc AS (
  SELECT w, count(*) AS df FROM pres GROUP BY 1
), inter AS (
  SELECT a.w AS w1, b.w AS w2, count(*) AS inter
  FROM pres a JOIN pres b ON b.doc_id = a.doc_id AND a.w < b.w
  GROUP BY 1, 2
)
SELECT w1, w2,
       CAST(d1.df AS BIGINT) AS df1,
       CAST(d2.df AS BIGINT) AS df2,
       CAST(inter AS BIGINT) AS inter,
       CAST(floor(CAST(inter AS DOUBLE) / (d1.df + d2.df - inter)
                  * 1000000 + {_OFF}) AS BIGINT) AS jaccard_e6
FROM inter
JOIN dfc d1 ON d1.w = w1
JOIN dfc d2 ON d2.w = w2
ORDER BY w1, w2
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "symspell_neighbors": q_symspell_neighbors,
    "craigs_zeta": q_craigs_zeta,
    "oov_rate": q_oov_rate,
    "cooccurrence_jaccard": q_cooccurrence_jaccard,
}

ORACLE_SQL: dict[str, str] = {
    "symspell_neighbors": SQL_SYMSPELL,
    "craigs_zeta": SQL_ZETA,
    "oov_rate": SQL_OOV,
    "cooccurrence_jaccard": SQL_COOC,
}


# ---------------------------------------------------------------------------
# fairness_metrics — demographic parity + equalized-odds audit
# (Hardt, Price & Srebro 2016) of a length-threshold classifier
# ---------------------------------------------------------------------------
# Protected group g = lang in (en, de) vs rest; ground truth y =
# n_chars > corpus median (exact order stat); classifier yhat = token
# count > corpus median token count.  Positive rate / TPR / FPR per
# group are exact counts — the standard pre-deployment fairness audit
# for a filtering pipeline.


def q_fairness_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("long").alias("nc"),
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("tok"),
    )
    wc = Window.orderBy("nc", "doc_id")
    wt = Window.orderBy("tok", "doc_id")
    wn = Window.partitionBy(F.lit(1))
    r = (
        d.withColumn("rc", F.row_number().over(wc))
        .withColumn("rt", F.row_number().over(wt))
        .withColumn("n", F.count(F.lit(1)).over(wn))
    )
    med_nc = r.filter(
        F.col("rc") == F.floor((F.col("n") + 1) / 2).cast("int")
    ).select(F.col("nc").alias("med_nc"))
    med_tok = r.filter(
        F.col("rt") == F.floor((F.col("n") + 1) / 2).cast("int")
    ).select(F.col("tok").alias("med_tok"))
    t = (
        d.crossJoin(F.broadcast(med_nc))
        .crossJoin(F.broadcast(med_tok))
        .select(
            F.when(F.col("lang").isin("en", "de"), F.lit("en_de"))
            .otherwise(F.lit("other"))
            .alias("grp"),
            (F.col("nc") > F.col("med_nc")).cast("long").alias("y"),
            (F.col("tok") > F.col("med_tok")).cast("long").alias("yhat"),
        )
    )
    agg = t.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("yhat").alias("n_pos"),
        F.sum(F.col("y") * F.col("yhat")).alias("tp"),
        F.sum("y").alias("n_y1"),
        F.sum((1 - F.col("y")) * F.col("yhat")).alias("fp"),
    )
    return agg.select(
        "grp",
        F.col("n").cast("long").alias("n"),
        F.floor(
            F.col("n_pos").cast("double") / F.col("n").cast("double")
            * 1_000_000
            + F.lit(_OFF)
        )
        .cast("long")
        .alias("pos_rate_e6"),
        F.floor(
            F.col("tp").cast("double") / F.col("n_y1").cast("double")
            * 1_000_000
            + F.lit(_OFF)
        )
        .cast("long")
        .alias("tpr_e6"),
        F.floor(
            F.col("fp").cast("double")
            / (F.col("n") - F.col("n_y1")).cast("double")
            * 1_000_000
            + F.lit(_OFF)
        )
        .cast("long")
        .alias("fpr_e6"),
    ).orderBy("grp")


SQL_FAIRNESS = f"""
WITH d AS (
  SELECT doc_id, lang,
         CAST(n_chars AS BIGINT) AS nc,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS tok
  FROM documents
), r AS (
  SELECT *,
         row_number() OVER (ORDER BY nc, doc_id) AS rc,
         row_number() OVER (ORDER BY tok, doc_id) AS rt,
         count(*) OVER () AS n
  FROM d
), med_nc AS (
  SELECT nc AS med_nc FROM r
  WHERE rc = CAST(floor((n + 1) / 2) AS INT)
), med_tok AS (
  SELECT tok AS med_tok FROM r
  WHERE rt = CAST(floor((n + 1) / 2) AS INT)
), t AS (
  SELECT CASE WHEN lang IN ('en', 'de') THEN 'en_de'
              ELSE 'other' END AS grp,
         CASE WHEN nc > med_nc THEN 1 ELSE 0 END AS y,
         CASE WHEN tok > med_tok THEN 1 ELSE 0 END AS yhat
  FROM d CROSS JOIN med_nc CROSS JOIN med_tok
), agg AS (
  SELECT grp, count(*) AS n,
         CAST(sum(yhat) AS BIGINT) AS n_pos,
         CAST(sum(y * yhat) AS BIGINT) AS tp,
         CAST(sum(y) AS BIGINT) AS n_y1,
         CAST(sum((1 - y) * yhat) AS BIGINT) AS fp
  FROM t GROUP BY 1
)
SELECT grp,
       CAST(n AS BIGINT) AS n,
       CAST(floor(CAST(n_pos AS DOUBLE) / n * 1000000 + {_OFF}) AS BIGINT)
         AS pos_rate_e6,
       CAST(floor(CAST(tp AS DOUBLE) / n_y1 * 1000000 + {_OFF}) AS BIGINT)
         AS tpr_e6,
       CAST(floor(CAST(fp AS DOUBLE) / (n - n_y1) * 1000000 + {_OFF})
            AS BIGINT) AS fpr_e6
FROM agg
ORDER BY grp
"""


QUERIES.update({"fairness_metrics": q_fairness_metrics})
ORACLE_SQL.update({"fairness_metrics": SQL_FAIRNESS})
