"""Round-4g text/embedding registry: rank-biased overlap of source term
rankings, interpolated Kneser-Ney bigram probabilities, moving-average
type-token ratio (MATTR), and a Johnson-Lindenstrauss Rademacher
projection with per-pair distance-distortion audit.

Oracle conventions as everywhere in this repo: identical column names,
every DuckDB integer SUM wrapped in ``CAST(... AS BIGINT)``, derived
doubles floor-scaled with the house 1/pi offset.  Every statistic is a
single double expression over exact-integer aggregates: RBO weights are
pre-scaled e12 integers, KN terms are pure counts with one literal
discount, MATTR is an integer sum of window-distinct counts, and the JL
audit quantizes embeddings to e6 integers BEFORE projecting so both
distances are exact BIGINTs.

Reference parity notes: the reference's text surface is frequency/
histogram analytics over sensor columns; these are the corpus-quality
analogues for a web-scale training-data pipeline (list-stability
monitoring, LM smoothing, lexical-diversity QA, embedding-compression
audit) — public literature cited per query.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from diive_spark.queries_text import _documents
from diive_spark.queries_trend import _OFF

# whitespace tokens — same tokenizer pair as queries_text.py
DUCK_TOKS = r"regexp_split_to_array(trim(text), '\s+')"


def _toks(col: str = "text"):
    return F.split(F.trim(F.col(col)), r"\s+")


# ---------------------------------------------------------------------------
# rbo_sources — rank-biased overlap of per-source vs global top terms
# ---------------------------------------------------------------------------
# Truncated RBO@20 with p=0.9 (Webber, Moffat & Zobel TOIS 2010):
# RBO = (1-p) * sum_{d=1..20} p^(d-1) * |S_d ∩ G_d| / d.  A matched
# term with ranks (r_s, r_g) enters every depth d >= max(r_s, r_g), so
# its total contribution is W[m] = sum_{d=m..20} p^(d-1)/d — a 20-entry
# literal weight table, pre-scaled to e12 INTEGERS so the per-source
# fold is an exact BIGINT sum and the final RBO is one double division.
# Rankings are (count desc, term asc) — fully deterministic.  Plan: one
# token explode feeds both rankings; per-source top-20 via
# WindowGroupLimit (rank <= 20 partial top-k), the global top-20 is a
# broadcast side.

_RBO_P = 0.9
_RBO_DEPTH = 20
# W[m] * 1e12, m = 1..20 (exact same integers embedded in the SQL twin)
_RBO_W_E12 = [
    int(round(sum(_RBO_P ** (d - 1) / d for d in range(m, _RBO_DEPTH + 1)) * 1e12))
    for m in range(1, _RBO_DEPTH + 1)
]


def q_rbo_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _documents(spark, sf_dir).select(
        "source", F.explode(_toks()).alias("w")
    )
    per = toks.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    glob = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    ws = Window.partitionBy("source").orderBy(F.desc("c"), F.asc("w"))
    wg = Window.orderBy(F.desc("c"), F.asc("w"))
    top_s = per.withColumn("r_s", F.row_number().over(ws)).filter(
        F.col("r_s") <= _RBO_DEPTH
    )
    # global top-20: the partition-less window is bounded here — input is
    # the distinct-term count table and WindowGroupLimit prunes to 20
    # rows per partition before the single-partition rank
    top_g = (
        glob.withColumn("r_g", F.row_number().over(wg))
        .filter(F.col("r_g") <= _RBO_DEPTH)
        .select("w", "r_g")
    )
    wtab = F.array(*[F.lit(v) for v in _RBO_W_E12])
    j = top_s.join(F.broadcast(top_g), "w").withColumn(
        "wgt", F.element_at(wtab, F.greatest("r_s", "r_g").cast("int"))
    )
    agg = j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_overlap"),
        F.sum("wgt").alias("wsum"),
    )
    rbo = (1.0 - _RBO_P) * F.col("wsum").cast("double") / 1e12
    return agg.select(
        "source",
        F.col("n_overlap").cast("long").alias("n_overlap"),
        F.floor(rbo * 1_000_000 + F.lit(_OFF)).cast("long").alias("rbo_e6"),
    ).orderBy("source")


SQL_RBO_SOURCES = f"""
WITH toks AS (
  SELECT source, unnest({DUCK_TOKS}) AS w FROM documents
), per AS (
  SELECT source, w, count(*) AS c FROM toks GROUP BY 1, 2
), gtab AS (
  SELECT w, count(*) AS c FROM toks GROUP BY 1
), top_s AS (
  SELECT source, w, r_s FROM (
    SELECT source, w,
           row_number() OVER (PARTITION BY source ORDER BY c DESC, w) AS r_s
    FROM per
  ) WHERE r_s <= {_RBO_DEPTH}
), top_g AS (
  SELECT w, r_g FROM (
    SELECT w, row_number() OVER (ORDER BY c DESC, w) AS r_g FROM gtab
  ) WHERE r_g <= {_RBO_DEPTH}
), j AS (
  SELECT top_s.source,
         ({_RBO_W_E12})[greatest(top_s.r_s, top_g.r_g)] AS wgt
  FROM top_s JOIN top_g USING (w)
), agg AS (
  SELECT source, count(*) AS n_overlap, CAST(sum(wgt) AS BIGINT) AS wsum
  FROM j GROUP BY 1
)
SELECT source, CAST(n_overlap AS BIGINT) AS n_overlap,
       CAST(floor({1.0 - _RBO_P} * CAST(wsum AS DOUBLE) / 1e12
                  * 1000000 + {_OFF}) AS BIGINT) AS rbo_e6
FROM agg
ORDER BY source
"""


# ---------------------------------------------------------------------------
# kneser_ney_top — interpolated Kneser-Ney bigram probabilities
# ---------------------------------------------------------------------------
# P_KN(w2|w1) = max(c(w1 w2) - D, 0)/c(w1 .)
#             + D * N1+(w1 .)/c(w1 .) * N1+(. w2)/|bigram types|
# with absolute discount D = 0.75 (Kneser & Ney ICASSP 1995; Chen &
# Goodman 1999 interpolated form), per language.  Every term is an
# exact integer count from combinable groupBys over the bigram count
# table (continuation counts = distinct-neighbor counts); the output is
# the per-lang top-20 bigrams (count desc, bigram asc) with their
# smoothed probability — one double expression each.  Scale posture:
# model state is count tables keyed by n-grams (the lm.py design);
# per-lang top-k via WindowGroupLimit partial rank.

_KN_D = 0.75
_KN_TOP = 20


def q_kneser_ney_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _documents(spark, sf_dir).select("lang", _toks().alias("toks"))
    bg = d.select(
        "lang",
        F.explode(
            F.when(
                F.size("toks") >= 2,
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> concat(toks[i-1], ' ', toks[i]))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bigram"),
    ).withColumn("w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1))).withColumn(
        "w2", F.split_part(F.col("bigram"), F.lit(" "), F.lit(2))
    )
    cb = bg.groupBy("lang", "w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    cw1 = cb.groupBy("lang", "w1").agg(
        F.sum("c").alias("c_start"), F.count(F.lit(1)).alias("n1_fwd")
    )
    cw2 = cb.groupBy("lang", "w2").agg(F.count(F.lit(1)).alias("n1_bwd"))
    nt = cb.groupBy("lang").agg(F.count(F.lit(1)).alias("n_types"))
    wr = Window.partitionBy("lang").orderBy(F.desc("c"), F.asc("w1"), F.asc("w2"))
    top = (
        cb.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= _KN_TOP)
        .join(cw1, ["lang", "w1"])
        .join(cw2, ["lang", "w2"])
        .join(F.broadcast(nt), "lang")
    )
    p_kn = (
        F.greatest(F.col("c").cast("double") - _KN_D, F.lit(0.0))
        / F.col("c_start").cast("double")
        + _KN_D
        * F.col("n1_fwd").cast("double")
        / F.col("c_start").cast("double")
        * (F.col("n1_bwd").cast("double") / F.col("n_types").cast("double"))
    )
    return top.select(
        "lang",
        F.col("rank").cast("long").alias("rank"),
        "w1",
        "w2",
        F.col("c").cast("long").alias("c"),
        F.col("c_start").cast("long").alias("c_start"),
        F.floor(p_kn * 1_000_000 + F.lit(_OFF)).cast("long").alias("p_kn_e6"),
    ).orderBy("lang", "rank")


SQL_KNESER_NEY = f"""
WITH t AS (
  SELECT lang, {DUCK_TOKS} AS toks FROM documents
), bg AS (
  SELECT lang,
         unnest(CASE WHEN len(toks) >= 2
                     THEN list_transform(generate_series(1, len(toks) - 1),
                                         i -> toks[i] || ' ' || toks[i+1])
                     ELSE CAST([] AS VARCHAR[]) END) AS bigram
  FROM t
), sp AS (
  SELECT lang, split_part(bigram, ' ', 1) AS w1,
         split_part(bigram, ' ', 2) AS w2
  FROM bg
), cb AS (
  SELECT lang, w1, w2, count(*) AS c FROM sp GROUP BY 1, 2, 3
), cw1 AS (
  SELECT lang, w1, CAST(sum(c) AS BIGINT) AS c_start,
         count(*) AS n1_fwd
  FROM cb GROUP BY 1, 2
), cw2 AS (
  SELECT lang, w2, count(*) AS n1_bwd FROM cb GROUP BY 1, 2
), nt AS (
  SELECT lang, count(*) AS n_types FROM cb GROUP BY 1
), top AS (
  SELECT * FROM (
    SELECT lang, w1, w2, c,
           row_number() OVER (PARTITION BY lang
                              ORDER BY c DESC, w1, w2) AS rank
    FROM cb
  ) WHERE rank <= {_KN_TOP}
)
SELECT top.lang, CAST(top.rank AS BIGINT) AS rank, top.w1, top.w2,
       CAST(top.c AS BIGINT) AS c, cw1.c_start,
       CAST(floor((greatest(CAST(top.c AS DOUBLE) - {_KN_D}, 0.0)
                   / CAST(cw1.c_start AS DOUBLE)
                   + {_KN_D} * CAST(cw1.n1_fwd AS DOUBLE)
                     / CAST(cw1.c_start AS DOUBLE)
                     * (CAST(cw2.n1_bwd AS DOUBLE) / CAST(nt.n_types AS DOUBLE)))
                  * 1000000 + {_OFF}) AS BIGINT) AS p_kn_e6
FROM top
JOIN cw1 ON cw1.lang = top.lang AND cw1.w1 = top.w1
JOIN cw2 ON cw2.lang = top.lang AND cw2.w2 = top.w2
JOIN nt ON nt.lang = top.lang
ORDER BY top.lang, top.rank
"""


# ---------------------------------------------------------------------------
# mattr — moving-average type-token ratio, window 50
# ---------------------------------------------------------------------------
# MATTR_w = mean over all w-token windows of (distinct tokens / w)
# (Covington & McFall, JQL 2010) — the length-independent lexical-
# diversity score (plain TTR shrinks with doc length; see
# `lexical_diversity`).  The per-doc kernel slides a Counter in O(n);
# the exact integer SUM of window-distinct counts crosses the wire, so
# mattr is one division.  ZERO shuffles — a pure scan at crawl scale
# (same posture as lexical_diversity).  The DuckDB twin recomputes each
# window by list-slicing (O(n*w), fine at oracle scale).

_MATTR_W = 50


def _mattr_kernel():
    # lazy: pandas_udf needs an active session (repo convention)
    @F.pandas_udf("long")
    def sum_window_distinct(toks: pd.Series) -> pd.Series:
        out = np.zeros(len(toks), dtype=np.int64)
        w = _MATTR_W
        for i, lst in enumerate(toks):
            n = len(lst)
            if n < w:
                continue
            from collections import Counter

            cnt = Counter(lst[:w])
            total = len(cnt)
            for j in range(w, n):
                cnt[lst[j]] += 1
                left = lst[j - w]
                cnt[left] -= 1
                if cnt[left] == 0:
                    del cnt[left]
                total += len(cnt)
            out[i] = total
        return pd.Series(out)

    return sum_window_distinct


def q_mattr(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = _mattr_kernel()
    d = _documents(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), _toks().alias("toks")
    )
    out = (
        d.withColumn("n_tokens", F.size("toks").cast("long"))
        .filter(F.col("n_tokens") >= _MATTR_W)
        .withColumn("sum_distinct", k(F.col("toks")))
    )
    n_win = (F.col("n_tokens") - _MATTR_W + 1).cast("double")
    mattr = F.col("sum_distinct").cast("double") / (n_win * float(_MATTR_W))
    return out.select(
        "doc_id",
        "n_tokens",
        "sum_distinct",
        F.floor(mattr * 1_000_000 + F.lit(_OFF)).cast("long").alias("mattr_e6"),
    ).orderBy("doc_id")


SQL_MATTR = f"""
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, {DUCK_TOKS} AS toks
  FROM documents
), f AS (
  SELECT doc_id, toks, len(toks) AS n_tokens FROM t
  WHERE len(toks) >= {_MATTR_W}
), s AS (
  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         CAST(list_sum(list_transform(
                generate_series(1, n_tokens - {_MATTR_W} + 1),
                i -> len(list_distinct(toks[i:i + {_MATTR_W - 1}]))))
              AS BIGINT) AS sum_distinct
  FROM f
)
SELECT doc_id, n_tokens, sum_distinct,
       CAST(floor(CAST(sum_distinct AS DOUBLE)
                  / (CAST(n_tokens - {_MATTR_W} + 1 AS DOUBLE) * {float(_MATTR_W)})
                  * 1000000 + {_OFF}) AS BIGINT) AS mattr_e6
FROM s
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# jl_distortion — Johnson-Lindenstrauss projection distance audit
# ---------------------------------------------------------------------------
# Project 64-dim embeddings to k=8 with a fixed Rademacher sign matrix
# (Achlioptas JCSS 2003: +/-1 entries satisfy the JL lemma); audit the
# distortion ratio ||S(x-y)||^2 / (k ||x-y||^2) on consecutive-id pairs
# (expectation 1).  Embeddings are quantized to e6 INTEGERS before
# projecting, so projections, differences, and both squared distances
# are exact BIGINTs — order-free sums, bit-identical across engines;
# the ratio is one double division.  The sign matrix is a literal
# (deterministic LCG, embedded identically in both engines).  Array
# math stays JVM-side via transform/aggregate over the 64-element
# arrays (bounded per-row work, no Python in the hot path).

_JL_K = 8
_JL_DIM = 64


def _jl_signs() -> list[list[int]]:
    # deterministic LCG (public-domain constants, Numerical Recipes)
    state = 20_250_819
    rows = []
    for _ in range(_JL_K):
        row = []
        for _ in range(_JL_DIM):
            state = (1_664_525 * state + 1_013_904_223) % 2**32
            row.append(1 if (state >> 16) & 1 else -1)
        rows.append(row)
    return rows


_JL_S = _jl_signs()


def q_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.expr(
            f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000"
            f" + {_OFF}) AS BIGINT))"
        ).alias("e"),
    )
    projs = [
        F.expr(
            "aggregate(zip_with(e, array({}), (x, s) -> x * s),"
            " CAST(0 AS BIGINT), (acc, v) -> acc + v)".format(
                ",".join(str(s) for s in _JL_S[j])
            )
        ).alias(f"p{j}")
        for j in range(_JL_K)
    ]
    pe = emb.select("vec_id", "e", *projs)
    a = pe.alias("a")
    b = pe.alias("b")
    pair = a.join(
        b, F.col("a.vec_id") + 1 == F.col("b.vec_id")
    )
    d_orig = F.expr(
        "aggregate(zip_with(a.e, b.e, (x, y) -> (x - y) * (x - y)),"
        " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    d_proj = None
    for j in range(_JL_K):
        term = (F.col(f"a.p{j}") - F.col(f"b.p{j}")) * (
            F.col(f"a.p{j}") - F.col(f"b.p{j}")
        )
        d_proj = term if d_proj is None else d_proj + term
    out = pair.select(
        F.col("a.vec_id").alias("vec_id"),
        d_orig.alias("d2_orig"),
        d_proj.alias("d2_proj"),
    ).filter(F.col("d2_orig") > 0)
    ratio = F.col("d2_proj").cast("double") / (
        float(_JL_K) * F.col("d2_orig").cast("double")
    )
    return out.select(
        "vec_id",
        "d2_orig",
        "d2_proj",
        F.floor(ratio * 10_000 + F.lit(_OFF)).cast("long").alias("ratio_e4"),
    ).orderBy("vec_id")


def _sql_jl() -> str:
    sign_lists = [
        "[" + ",".join(str(s) for s in _JL_S[j]) + "]" for j in range(_JL_K)
    ]
    proj_exprs = ",\n         ".join(
        f"CAST(list_sum(list_transform(generate_series(1, {_JL_DIM}),"
        f" i -> e[i] * ({sign_lists[j]})[i])) AS BIGINT) AS p{j}"
        for j in range(_JL_K)
    )
    d_proj = " + ".join(f"(a.p{j} - b.p{j}) * (a.p{j} - b.p{j})" for j in range(_JL_K))
    return f"""
WITH q AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + {_OFF})
                                  AS BIGINT)) AS e
  FROM embeddings
), p AS (
  SELECT vec_id, e,
         {proj_exprs}
  FROM q
), pair AS (
  SELECT a.vec_id AS vec_id,
         CAST(list_sum(list_transform(generate_series(1, {_JL_DIM}),
                i -> (a.e[i] - b.e[i]) * (a.e[i] - b.e[i]))) AS BIGINT)
           AS d2_orig,
         CAST({d_proj} AS BIGINT) AS d2_proj
  FROM p a JOIN p b ON a.vec_id + 1 = b.vec_id
)
SELECT vec_id, d2_orig, d2_proj,
       CAST(floor(CAST(d2_proj AS DOUBLE)
                  / ({float(_JL_K)} * CAST(d2_orig AS DOUBLE))
                  * 10000 + {_OFF}) AS BIGINT) AS ratio_e4
FROM pair
WHERE d2_orig > 0
ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# textrank_words — TextRank keyword scores on the word co-occurrence graph
# ---------------------------------------------------------------------------
# TextRank (Mihalcea & Tarau EMNLP 2004): PageRank over the word
# adjacency graph.  The graph is BOUNDED deterministically first — the
# top-100 corpus words by (count desc, word asc), an exact-integer
# selection — then the directed multi-edge graph of adjacent-token
# pairs within that vocabulary feeds the SAME fixed-iteration pagerank
# operator (and unrolled AS MATERIALIZED twin) as domain_pagerank.
# Output is ALL retained nodes ordered by word — no rank-based
# selection, so near-tied ranks can never flip rows across engines.

_TR_D = 0.85
_TR_ITER = 10
_TR_VOCAB = 100


def q_textrank_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.text import graph as GR

    toks = _documents(spark, sf_dir).select(
        "doc_id", F.posexplode(_toks()).alias("pos", "w")
    )
    wc = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    wr = Window.orderBy(F.desc("c"), F.asc("w"))
    vocab = (
        wc.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= _TR_VOCAB)
        .select("w")
    )
    wnext = Window.partitionBy("doc_id").orderBy("pos")
    edges = (
        toks.withColumn("nxt", F.lead("w").over(wnext))
        .filter(F.col("nxt").isNotNull())
        .select(F.col("w").alias("src"), F.col("nxt").alias("dst"))
        .join(F.broadcast(vocab.withColumnRenamed("w", "src")), "src")
        .join(F.broadcast(vocab.withColumnRenamed("w", "dst")), "dst")
    )
    ranks = GR.pagerank(
        edges, "src", "dst", damping=_TR_D, n_iter=_TR_ITER
    )
    return ranks.select(
        F.col("node").alias("w"),
        F.floor(F.col("rank") * 1_000_000 + F.lit(_OFF)).cast("long").alias(
            "rank_e6"
        ),
    ).orderBy("w")


def _sql_textrank() -> str:
    its = []
    prev = "r0"
    for i in range(1, _TR_ITER + 1):
        its.append(f"""r{i} AS MATERIALIZED (
  SELECT n.node,
         (1 - {_TR_D}) / nn.n
         + {_TR_D} * (COALESCE(c.inc, 0)
                      + (SELECT COALESCE(sum(r.rank), 0) FROM {prev} r
                         LEFT JOIN outdeg o ON o.src = r.node
                         WHERE o.src IS NULL) / nn.n) AS rank
  FROM nodes n CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank / o.deg) AS inc
    FROM {prev} r JOIN outdeg o ON o.src = r.node
    JOIN edges e ON e.src = r.node
    GROUP BY e.dst
  ) c ON c.node = n.node
)""")
        prev = f"r{i}"
    chain = ",\n".join(its)
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({DUCK_TOKS}) AS w,
         generate_subscripts({DUCK_TOKS}, 1) AS pos
  FROM documents
), vocab AS (
  SELECT w FROM (
    SELECT w, row_number() OVER (ORDER BY count(*) DESC, w) AS rk
    FROM toks GROUP BY w
  ) WHERE rk <= {_TR_VOCAB}
), adj AS (
  SELECT w AS src, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS dst
  FROM toks QUALIFY dst IS NOT NULL
), edges AS (
  SELECT src, dst FROM adj
  WHERE src IN (SELECT w FROM vocab) AND dst IN (SELECT w FROM vocab)
), outdeg AS (
  SELECT src, count(*) AS deg FROM edges GROUP BY 1
), nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges
), nn AS (
  SELECT count(*) AS n FROM nodes
), r0 AS MATERIALIZED (
  SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn
),
{chain}
SELECT node AS w,
       CAST(floor(rank * 1000000 + {_OFF}) AS BIGINT) AS rank_e6
FROM {prev} ORDER BY w
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "rbo_sources": q_rbo_sources,
    "kneser_ney_top": q_kneser_ney_top,
    "mattr": q_mattr,
    "jl_distortion": q_jl_distortion,
    "textrank_words": q_textrank_words,
}

ORACLE_SQL: dict[str, str] = {
    "rbo_sources": SQL_RBO_SOURCES,
    "kneser_ney_top": SQL_KNESER_NEY,
    "mattr": SQL_MATTR,
    "jl_distortion": _sql_jl(),
    "textrank_words": _sql_textrank(),
}
