"""Web-text query registry: dedup / similarity / text-analysis operators
over the ``documents`` and ``embeddings`` tables, each with a DuckDB oracle
that recomputes the SAME deterministic pipeline (hashes are bit-identical
across engines — see :mod:`diive_spark.text.hashing`).

Near-dup queries build a corpus of documents ∪ perturbed copies (last word
dropped, doc_id + 1_000_000) so the candidate-pair stage has true near
duplicates to find at every scale factor.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from diive_spark.text import analysis as TA
from diive_spark.text import curation as CU
from diive_spark.text import dedup as DD
from diive_spark.text import multimodal as MM
from diive_spark.text import similarity as SIM
from diive_spark.text.hashing import (
    LSH_BANDS,
    LSH_ROWS_PER_BAND,
    MERSENNE,
    N_PERMS,
    PERM_A,
    PERM_B,
    SIMHASH_BITS,
    SIMHASH_CHUNKS,
)

PERTURB_OFFSET = 1_000_000


def _scan_parallel(df: DataFrame) -> DataFrame:
    """Widen a small-file scan to the configured parallelism.

    The sf0.01/0.1 documents/embeddings parquet is a single input split,
    so every downstream per-row transform (shingle HOFs, hash UDFs,
    similarity kernels) would run on ONE core.  A 100 TB table arrives as
    thousands of splits (spark.sql.files.maxPartitionBytes) and needs no
    repartition — this round-robin shuffle of a few MB is the local-scale
    stand-in for that natural split fan-out.
    """
    spark = df.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n)


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _scan_parallel(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no _scan_parallel here: the ANN kernels are one numpy matmul per
    # Arrow batch and the centroid/probe arms are collect/broadcast-sized,
    # so the extra exchange costs more than the fan-out buys (measured
    # 1.4s -> 2.2s at sf0.1)
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# DuckDB snippets kept structurally parallel to the Spark expressions
DUCK_TOKS = r"regexp_split_to_array(trim(text), '\s+')"
DUCK_H60 = "CAST('0x' || substr(md5({s}), 1, 15) AS BIGINT)"


# ---------------------------------------------------------------------------
# text_token_stats — token counting (whitespace / word-regex / BPE-ish)
# ---------------------------------------------------------------------------

def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _documents(spark, sf_dir).select("doc_id", "text")
    out = TA.with_token_stats(d)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_chars_t",
        "n_ws_tokens",
        "n_word_tokens",
        "n_bpe_pieces",
        F.round("distinct_token_ratio", 4).alias("distinct_token_ratio"),
    )


SQL_TEXT_TOKEN_STATS = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_t,
       CAST(len({DUCK_TOKS}) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-zA-Z0-9]+')) AS BIGINT) AS n_word_tokens,
       CAST(len(regexp_extract_all(text, '[a-zA-Z0-9]{{1,4}}')) AS BIGINT) AS n_bpe_pieces,
       round(len(list_distinct({DUCK_TOKS})) * 1.0
             / greatest(len({DUCK_TOKS}), 1), 4) AS distinct_token_ratio
FROM documents
"""


# ---------------------------------------------------------------------------
# text_quality — quality scoring
# ---------------------------------------------------------------------------

def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _documents(spark, sf_dir).select("doc_id", "text")
    out = TA.with_quality_score(d)

    # floor-scale with the 1/pi offset instead of round(., 4) (sf0.1
    # sweep): the engines compute the SAME double here, but at an exact
    # .xxxx5 boundary Spark's BigDecimal HALF_UP and DuckDB's rounding
    # disagree (quality_score hit 0.48125).  floor(x*1e4+OFF)/1e4 is
    # deterministic for identical doubles.
    def f4(c):
        return F.floor(
            F.col(c) * 10_000 + F.lit(0.31830988618367)
        ) / 10_000.0

    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        f4("stopword_ratio").alias("stopword_ratio"),
        f4("punct_ratio").alias("punct_ratio"),
        f4("mean_token_len").alias("mean_token_len"),
        f4("quality_score").alias("quality_score"),
    )


_SW_EN = "[" + ", ".join(f"'{w}'" for w in TA.STOPWORDS["en"]) + "]"

SQL_TEXT_QUALITY = f"""
WITH t AS (
  SELECT doc_id, text, {DUCK_TOKS} AS toks FROM documents
), feat AS (
  SELECT doc_id,
         len(list_intersect(list_distinct(toks), {_SW_EN})) / 10.0 AS stop_ratio,
         length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) * 1.0
           / greatest(length(text), 1) AS punct_ratio,
         list_sum(list_transform(toks, t -> length(t))) * 1.0
           / greatest(len(toks), 1) AS mean_token_len,
         least(len(toks) / 32.0, 1.0) AS len_score,
         len(list_distinct(toks)) * 1.0 / greatest(len(toks), 1) AS rep_score
  FROM t
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       floor(stop_ratio * 10000 + 0.31830988618367) / 10000.0
         AS stopword_ratio,
       floor(punct_ratio * 10000 + 0.31830988618367) / 10000.0
         AS punct_ratio,
       floor(mean_token_len * 10000 + 0.31830988618367) / 10000.0
         AS mean_token_len,
       floor((0.35 * len_score + 0.25 * rep_score
              + 0.25 * least(stop_ratio * 2.0, 1.0)
              + 0.15 * (1.0 - least(punct_ratio * 4.0, 1.0))) * 10000
             + 0.31830988618367) / 10000.0 AS quality_score
FROM feat
"""


# ---------------------------------------------------------------------------
# text_langid — stopword-ratio language ID
# ---------------------------------------------------------------------------

def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _documents(spark, sf_dir).select("doc_id", "text")
    out = TA.with_langid(d)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score_en", 4).alias("score_en"),
        F.round("score_de", 4).alias("score_de"),
        F.round("score_fr", 4).alias("score_fr"),
        "lang_pred",
    )


def _sw_list(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in TA.STOPWORDS[lang]) + "]"


SQL_TEXT_LANGID = f"""
WITH t AS (
  SELECT doc_id, list_distinct({DUCK_TOKS}) AS dtoks FROM documents
), s AS (
  SELECT doc_id,
         len(list_intersect(dtoks, {_sw_list('en')})) / 10.0 AS score_en,
         len(list_intersect(dtoks, {_sw_list('de')})) / 10.0 AS score_de,
         len(list_intersect(dtoks, {_sw_list('fr')})) / 10.0 AS score_fr
  FROM t
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       round(score_en, 4) AS score_en,
       round(score_de, 4) AS score_de,
       round(score_fr, 4) AS score_fr,
       CASE WHEN score_de > 0 AND score_de = greatest(score_en, score_de, score_fr) THEN 'de'
            WHEN score_en > 0 AND score_en = greatest(score_en, score_de, score_fr) THEN 'en'
            WHEN score_fr > 0 AND score_fr = greatest(score_en, score_de, score_fr) THEN 'fr'
            ELSE 'und' END AS lang_pred
FROM s
"""


# ---------------------------------------------------------------------------
# doc_fingerprint — min k-gram rolling-hash fingerprint
# ---------------------------------------------------------------------------

def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _documents(spark, sf_dir).select("doc_id", "text")
    out = TA.with_fingerprint(d, k=3)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"), "fingerprint", "n_shingles"
    )


_DUCK_SHINGLES = (
    "list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 1)), "
    "i -> array_to_string(toks[i:i+2], ' ')))"
)

SQL_DOC_FINGERPRINT = f"""
WITH t AS (
  SELECT doc_id, {DUCK_TOKS} AS toks FROM documents
), sh AS (
  SELECT doc_id, {_DUCK_SHINGLES} AS shingles FROM t
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       list_min(list_transform(shingles, s -> {DUCK_H60.format(s='s')})) AS fingerprint,
       CAST(len(shingles) AS BIGINT) AS n_shingles
FROM sh
"""


# ---------------------------------------------------------------------------
# dedup_exact — content-hash dedup
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _documents(spark, sf_dir).select("doc_id", "text")
    # union a verbatim copy so the dedup has real duplicate groups to merge
    dup = d.select((F.col("doc_id") + PERTURB_OFFSET).alias("doc_id"), "text")
    out = DD.exact_dedup(d.unionByName(dup))
    return out.select(
        "content_hash",
        F.col("keep_id").cast("long").alias("keep_id"),
        "n_dups",
    )


SQL_DEDUP_EXACT = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {PERTURB_OFFSET} AS doc_id, text FROM documents
)
SELECT {DUCK_H60.format(s='text')} AS content_hash,
       CAST(min(doc_id) AS BIGINT) AS keep_id,
       CAST(count(*) AS BIGINT) AS n_dups
FROM corpus
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# near-dup corpus (shared by MinHash-LSH and SimHash queries)
# ---------------------------------------------------------------------------

def _neardup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _documents(spark, sf_dir).select("doc_id", "text")
    toks = F.split(F.trim("text"), r"\s+")
    perturbed = d.select(
        (F.col("doc_id") + PERTURB_OFFSET).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, 1, F.size(toks) - 1)).alias("text"),
    )
    return d.unionByName(perturbed)


SQL_NEARDUP_CORPUS = f"""
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {PERTURB_OFFSET} AS doc_id,
         array_to_string(({DUCK_TOKS})[1:len({DUCK_TOKS}) - 1], ' ') AS text
  FROM documents
)
"""


# ---------------------------------------------------------------------------
# dedup_minhash_lsh — banded LSH candidates + exact Jaccard verify
# ---------------------------------------------------------------------------

def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _neardup_corpus(spark, sf_dir)
    # the shingle table feeds 3 join arms. NOT persisted: since the
    # shingle+hash pass moved from the interpreted HOF to a pandas UDF
    # (~1 core-second for the whole sf0.1 corpus), re-evaluating it per
    # arm is CHEAPER than caching — InMemoryTableScan of the array<bigint>
    # column measures ~1.5 s per cached read (3 arms), vs ~0.1 s wall to
    # recompute on 32 cores (best-of-3: 3.3 s vs 4.5 s).  At 100 TB the
    # signature table is WRITTEN TO STORAGE once (columnar parquet reads
    # back far faster than Spark's row-oriented cache for arrays).
    hs = DD.with_hashed_shingles(corpus, k=3).select("doc_id", "sh_hashes")
    mh = DD.with_minhash(hs, shingle_col="sh_hashes", hashed=True)
    pairs = DD.lsh_candidate_pairs(mh)
    out = DD.jaccard_verify(pairs, hs, shingle_col="sh_hashes", threshold=0.6)
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "n_inter",
        F.round("jaccard", 4).alias("jaccard"),
    )


def _sql_minhash_body() -> str:
    """CTE body (everything after WITH, through ``verified``) of the
    MinHash-LSH pipeline — shared by the pair query and the
    connected-components clustering oracle (queries_text2)."""
    sig_exprs = ",\n         ".join(
        f"list_min(list_transform(hs, h -> ({PERM_A[j]} * (h % {MERSENNE}) + {PERM_B[j]}) % {MERSENNE})) AS s{j}"
        for j in range(N_PERMS)
    )
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band_id, concat_ws('_', {keys}) AS band_key FROM sigs".format(
            b=b,
            keys=", ".join(
                f"s{b * LSH_ROWS_PER_BAND + i}" for i in range(LSH_ROWS_PER_BAND)
            ),
        )
        for b in range(LSH_BANDS)
    )
    return f"""
{SQL_NEARDUP_CORPUS},
t AS (
  SELECT doc_id, {DUCK_TOKS} AS toks FROM corpus
), sh AS (
  SELECT doc_id, {_DUCK_SHINGLES} AS shingles FROM t
), hashed AS (
  SELECT doc_id,
         list_distinct(list_transform(shingles, s -> {DUCK_H60.format(s='s')})) AS hs
  FROM sh
), sigs AS (
  SELECT doc_id, {sig_exprs} FROM hashed
), bands AS (
{band_selects}
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
), verified AS (
  SELECT p.id_a, p.id_b,
         len(list_intersect(sa.hs, sb.hs)) AS n_inter,
         len(list_intersect(sa.hs, sb.hs)) * 1.0
           / (len(sa.hs) + len(sb.hs)
              - len(list_intersect(sa.hs, sb.hs))) AS jaccard
  FROM pairs p
  JOIN hashed sa ON sa.doc_id = p.id_a
  JOIN hashed sb ON sb.doc_id = p.id_b
)"""


def _sql_minhash_lsh() -> str:
    return f"""
WITH {_sql_minhash_body()}
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(n_inter AS BIGINT) AS n_inter, round(jaccard, 4) AS jaccard
FROM verified WHERE jaccard >= 0.6
"""


SQL_DEDUP_MINHASH_LSH = _sql_minhash_lsh()


# ---------------------------------------------------------------------------
# dedup_simhash — 32-bit SimHash + chunk-banded hamming pairs
# ---------------------------------------------------------------------------

def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _neardup_corpus(spark, sf_dir)
    sh = DD.with_simhash(corpus)
    out = DD.simhash_candidate_pairs(sh, max_hamming=3)
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("long").alias("hamming"),
    )


def _sql_simhash() -> str:
    chunk_bits = SIMHASH_BITS // SIMHASH_CHUNKS
    bit_terms = "\n         + ".join(
        f"CASE WHEN list_sum(list_transform(hs, h -> (h >> {b}) & 1)) * 2"
        f" > len(hs) THEN {1 << b} ELSE 0 END"
        for b in range(SIMHASH_BITS)
    )
    chunk_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, simhash, {c} AS chunk_id,"
        f" (simhash >> {c * chunk_bits}) & {(1 << chunk_bits) - 1} AS chunk_key FROM sims"
        for c in range(SIMHASH_CHUNKS)
    )
    return f"""
WITH {SQL_NEARDUP_CORPUS},
t AS (
  SELECT doc_id,
         list_transform({DUCK_TOKS}, tok -> {DUCK_H60.format(s='tok')}) AS hs
  FROM corpus
), sims AS (
  SELECT doc_id,
         CAST({bit_terms} AS BIGINT) AS simhash
  FROM t
), chunks AS (
{chunk_selects}
)
SELECT DISTINCT CAST(a.doc_id AS BIGINT) AS id_a,
       CAST(b.doc_id AS BIGINT) AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM chunks a JOIN chunks b
  ON a.chunk_id = b.chunk_id AND a.chunk_key = b.chunk_key
 AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


SQL_DEDUP_SIMHASH = _sql_simhash()


# ---------------------------------------------------------------------------
# ann_cosine_topk — brute-force exact cosine top-k (probes = vec_id 0..7)
# ---------------------------------------------------------------------------

N_PROBES = 8
TOP_K = 5


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeddings(spark, sf_dir)
    probes = emb.filter(F.col("vec_id") < N_PROBES)
    out = SIM.cosine_topk_bruteforce(emb, probes, k=TOP_K)
    return out.select(
        F.col("probe_id").cast("long").alias("probe_id"),
        F.col("cand_id").cast("long").alias("cand_id"),
        F.round("cos_sim", 4).alias("cos_sim"),
        "rank",
    )


_DUCK_COS = (
    "round(list_sum(list_transform(generate_series(1, len(p.embedding)), "
    "i -> CAST(p.embedding[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE))) "
    "/ (sqrt(list_sum(list_transform(p.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) "
    "* sqrt(list_sum(list_transform(v.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)"
)

SQL_ANN_COSINE_TOPK = f"""
WITH scored AS (
  SELECT p.vec_id AS probe_id, v.vec_id AS cand_id,
         {_DUCK_COS} AS cos_sim
  FROM embeddings v
  JOIN embeddings p ON p.vec_id < {N_PROBES} AND v.vec_id <> p.vec_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY probe_id
                               ORDER BY cos_sim DESC, cand_id ASC) AS rank
  FROM scored
)
SELECT CAST(probe_id AS BIGINT) AS probe_id,
       CAST(cand_id AS BIGINT) AS cand_id,
       round(cos_sim, 4) AS cos_sim,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# ann_cosine_ivf — IVF-bucketed approximate top-k (centroids = vec_id 8..15)
# ---------------------------------------------------------------------------

CENTROID_IDS = list(range(8, 16))


def q_ann_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeddings(spark, sf_dir)
    cents = sorted(
        (
            (int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in emb.filter(
                F.col("vec_id").isin(CENTROID_IDS)
            ).select("vec_id", "embedding").collect()
        ),
        key=lambda t: t[0],
    )
    probes = emb.filter(F.col("vec_id") < N_PROBES)
    out = SIM.cosine_topk_ivf(emb, probes, cents, k=TOP_K)
    return out.select(
        F.col("probe_id").cast("long").alias("probe_id"),
        F.col("cand_id").cast("long").alias("cand_id"),
        F.round("cos_sim", 4).alias("cos_sim"),
        "rank",
    )


_DUCK_COS_VC = _DUCK_COS.replace("p.embedding", "c.embedding")

SQL_ANN_COSINE_IVF = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding FROM embeddings
  WHERE vec_id IN ({", ".join(str(i) for i in CENTROID_IDS)})
), assigned AS (
  SELECT v.vec_id, v.embedding, c.cid,
         row_number() OVER (PARTITION BY v.vec_id
                            ORDER BY {_DUCK_COS_VC} DESC, c.cid ASC) AS rn
  FROM embeddings v CROSS JOIN cents c
), cells AS (
  SELECT vec_id, embedding, cid AS cell FROM assigned WHERE rn = 1
), scored AS (
  SELECT p.vec_id AS probe_id, v.vec_id AS cand_id,
         {_DUCK_COS} AS cos_sim
  FROM cells v
  JOIN cells p ON p.cell = v.cell AND p.vec_id < {N_PROBES}
              AND v.vec_id <> p.vec_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY probe_id
                               ORDER BY cos_sim DESC, cand_id ASC) AS rank
  FROM scored
)
SELECT CAST(probe_id AS BIGINT) AS probe_id,
       CAST(cand_id AS BIGINT) AS cand_id,
       round(cos_sim, 4) AS cos_sim,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# ann_cosine_ivf_trained — k-means-trained centroids + multi-probe search
# (VERDICT r2 next #4).  Training: 2 spherical-k-means iterations as
# DataFrame jobs (corpus scanned once per iteration, model state = 8x64
# centroid floats); search: each probe scans its 2 nearest cells.  The
# DuckDB twin unrolls the SAME two iterations, so the oracle compare is
# exact — the approximation lives in the algorithm, not the engine.
# ---------------------------------------------------------------------------

KMEANS_ITERS = 2
N_PROBE_CELLS = 2


def q_ann_cosine_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeddings(spark, sf_dir)
    seeds = sorted(
        (
            (int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in emb.filter(F.col("vec_id").isin(CENTROID_IDS))
            .select("vec_id", "embedding")
            .collect()
        ),
        key=lambda t: t[0],
    )
    cents = SIM.train_ivf_kmeans(emb, seeds, n_iters=KMEANS_ITERS)
    probes = emb.filter(F.col("vec_id") < N_PROBES)
    out = SIM.cosine_topk_ivf_trained(
        emb, probes, cents, k=TOP_K, n_probe=N_PROBE_CELLS
    )
    return out.select(
        F.col("probe_id").cast("long").alias("probe_id"),
        F.col("cand_id").cast("long").alias("cand_id"),
        F.round("cos_sim", 4).alias("cos_sim"),
        "rank",
    )


# ---------------------------------------------------------------------------
# ann_cosine_pq — product-quantized ADC search (rows-only: codes/scores
# are engine-specific sketch state, like tier_distinct_hll; the ADC math
# is pinned bit-exact vs a numpy oracle and shortlist-rerank recall >=0.8
# in tests/test_pq.py)
# ---------------------------------------------------------------------------

def q_ann_cosine_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.text import pq as PQ

    emb = _embeddings(spark, sf_dir).persist()
    cb = PQ.train_pq(emb, m=8, k=16, n_iters=2)
    probes = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < N_PROBES).collect()
    ]
    codes = PQ.encode_pq(emb, cb)
    out = PQ.pq_topk(codes, cb, probes, top_k=TOP_K)
    return out.select(
        F.col("probe_id").cast("long").alias("probe_id"),
        F.col("vec_id").cast("long").alias("cand_id"),
        F.col("score").alias("adc_score"),
        F.col("rank").cast("long").alias("rank"),
    ).orderBy("probe_id", "rank")


def _duck_cos(p: str, v: str) -> str:
    """Rounded cosine between two list expressions (double math)."""
    return (
        f"round(list_sum(list_transform(generate_series(1, len({p})), "
        f"i -> CAST({p}[i] AS DOUBLE) * CAST({v}[i] AS DOUBLE))) "
        f"/ (sqrt(list_sum(list_transform({p}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) "
        f"* sqrt(list_sum(list_transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)"
    )


def _sql_kmeans_step(cent_cte: str, out_assign: str, out_cents: str) -> str:
    """One k-means iteration: round-6 max-cosine assignment (smallest-cid
    tie-break, mirroring the kernel's argmax-first) -> per-(cell, dim)
    means -> new centroid lists (empty cells drop out naturally)."""
    cos = _duck_cos("c.embedding", "v.embedding")
    return f"""
{out_assign} AS (
  SELECT vec_id, embedding, cid AS cell FROM (
    SELECT v.vec_id, v.embedding, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {cos} DESC, c.cid ASC) AS rn
    FROM embeddings v CROSS JOIN {cent_cte} c
  ) WHERE rn = 1
), {out_cents} AS (
  SELECT cell AS cid, list(m ORDER BY pos) AS embedding FROM (
    SELECT cell, pos, avg(val) AS m FROM (
      SELECT cell, unnest(embedding) AS val,
             generate_subscripts(embedding, 1) AS pos
      FROM {out_assign}
    ) GROUP BY cell, pos
  ) GROUP BY cell
)"""


def _sql_ann_ivf_trained() -> str:
    cos_pv = _duck_cos("p.embedding", "v.embedding")
    cos_cv = _duck_cos("c.embedding", "v.embedding")
    return f"""
WITH cents0 AS (
  SELECT vec_id AS cid, embedding FROM embeddings
  WHERE vec_id IN ({", ".join(str(i) for i in CENTROID_IDS)})
), {_sql_kmeans_step("cents0", "a1", "cents1")},
{_sql_kmeans_step("cents1", "a2", "cents2")},
cells AS (
  SELECT vec_id, embedding, cid AS cell FROM (
    SELECT v.vec_id, v.embedding, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {cos_cv} DESC, c.cid ASC) AS rn
    FROM embeddings v CROSS JOIN cents2 c
  ) WHERE rn = 1
), pcells AS (
  SELECT vec_id, embedding, cid AS cell FROM (
    SELECT v.vec_id, v.embedding, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {cos_cv} DESC, c.cid ASC) AS rn
    FROM embeddings v CROSS JOIN cents2 c
    WHERE v.vec_id < {N_PROBES}
  ) WHERE rn <= {N_PROBE_CELLS}
), scored AS (
  SELECT p.vec_id AS probe_id, v.vec_id AS cand_id,
         {cos_pv} AS cos_sim
  FROM cells v
  JOIN pcells p ON p.cell = v.cell AND v.vec_id <> p.vec_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY probe_id
                               ORDER BY cos_sim DESC, cand_id ASC) AS rank
  FROM scored
)
SELECT CAST(probe_id AS BIGINT) AS probe_id,
       CAST(cand_id AS BIGINT) AS cand_id,
       round(cos_sim, 4) AS cos_sim,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {TOP_K}
"""


SQL_ANN_COSINE_IVF_TRAINED = _sql_ann_ivf_trained()


# ---------------------------------------------------------------------------
# semantic_dedup — SemDeDup (Abbas et al. 2023): k-means-cluster the
# embedding space, find near-identical pairs WITHIN each cluster, keep one
# representative per semantic-duplicate group.
#
# Composition of audited pieces: trained IVF cells (spherical k-means as
# DataFrame jobs) -> per-cell matmul near-dup kernel (vectors cross the
# wire once per cell, slab-chunked) -> alternating-star connected
# components -> keep = component minimum.  The oracle unrolls the SAME two
# k-means iterations in SQL and recomputes components as a recursive-CTE
# closure, so the full cluster->pair->component->keep chain is
# engine-checked end to end.
# ---------------------------------------------------------------------------

SEM_COS_THRES = 0.25  # same P99 same-cluster bar as dedup_embed_cosine


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.text import graph as GR

    emb = _embeddings(spark, sf_dir)
    seeds = sorted(
        (
            (int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in emb.filter(F.col("vec_id").isin(CENTROID_IDS))
            .select("vec_id", "embedding")
            .collect()
        ),
        key=lambda t: t[0],
    )
    cents = SIM.train_ivf_kmeans(emb, seeds, n_iters=KMEANS_ITERS)
    cells = SIM.with_ivf_cell(emb, cents, out_col="cell")
    pairs = SIM.cosine_neardup_pairs_kernel(
        cells, "vec_id", "embedding", block_col="cell",
        threshold=SEM_COS_THRES,
    )
    labels = GR.connected_components(
        pairs, src_col="id_a", dst_col="id_b", num_partitions=8
    ).withColumnRenamed("node", "vec_id")
    out = cells.select("vec_id", "cell").join(labels, "vec_id", "left")
    rep = F.coalesce(F.col("cluster_id"), F.col("vec_id"))
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cell").cast("long").alias("cell"),
        rep.cast("long").alias("rep_id"),
        (rep == F.col("vec_id")).cast("long").alias("keep"),
    ).orderBy("vec_id")


def _sql_semantic_dedup() -> str:
    cos_cv = _duck_cos("c.embedding", "v.embedding")
    return f"""
WITH RECURSIVE cents0 AS (
  SELECT vec_id AS cid, embedding FROM embeddings
  WHERE vec_id IN ({", ".join(str(i) for i in CENTROID_IDS)})
), {_sql_kmeans_step("cents0", "a1", "cents1")},
{_sql_kmeans_step("cents1", "a2", "cents2")},
cells AS (
  SELECT vec_id, embedding, cid AS cell FROM (
    SELECT v.vec_id, v.embedding, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {cos_cv} DESC, c.cid ASC) AS rn
    FROM embeddings v CROSS JOIN cents2 c
  ) WHERE rn = 1
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM cells a JOIN cells b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {_DUCK_COS_AB_TXT} >= {SEM_COS_THRES}
), sym AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
), reach(u, v) AS (
  SELECT u, u AS v FROM sym
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON s.u = r.v
), lab AS (
  SELECT u AS vec_id, min(v) AS cluster_id FROM reach GROUP BY u
)
SELECT CAST(c.vec_id AS BIGINT) AS vec_id,
       CAST(c.cell AS BIGINT) AS cell,
       CAST(coalesce(l.cluster_id, c.vec_id) AS BIGINT) AS rep_id,
       CAST(coalesce(l.cluster_id, c.vec_id) = c.vec_id AS BIGINT) AS keep
FROM cells c LEFT JOIN lab l USING (vec_id)
ORDER BY vec_id
"""


_DUCK_COS_AB_TXT = (
    "round(list_sum(list_transform(generate_series(1, len(a.embedding)), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) "
    "/ (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) "
    "* sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)"
)

SQL_SEMANTIC_DEDUP = _sql_semantic_dedup()


# ---------------------------------------------------------------------------
# multimodal_decode — Arrow-batch media decode plumbing (rows-only check:
# mapInPandas with a stubbed codec is not SQL-expressible)
# ---------------------------------------------------------------------------

def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = MM.synth_media(spark, n=64)
    out = MM.decode_media(media, payload_col="payload")
    return out.select(
        "media_id",
        "media_type",
        "format",
        "n_bytes",
        "content_hash",
        "width",
        "height",
        "channels",
        "sample_rate",
        F.round(F.element_at("feature", 1), 4).alias("feat0"),
        F.round(F.element_at("feature", 5), 4).alias("feat_mean"),
    )


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real PNG/BMP decode -> nearest-neighbour resize -> PNG re-encode;
    verified by re-decoding the output (rows-only: binary transform)."""
    media = MM.synth_media(spark, n=64).filter(F.col("media_type") != "audio")
    resized = MM.resize_media(media, width=8, height=6)
    meta = MM.decode_media(
        resized.withColumnRenamed("payload_resized", "payload").withColumn(
            "media_type", F.lit("image")
        )
    )
    return meta.select(
        "media_id", "format", "width", "height", "channels",
        F.round(F.element_at("feature", 5), 4).alias("feat_mean"),
    )


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling from concatenated-BMP raw-video containers; each
    emitted frame re-decodes as an image (rows-only: 1->N binary fan-out)."""
    videos = MM.synth_media(spark, n=64).filter(F.col("media_type") == "video")
    frames = MM.sample_frames(videos, every_n=2)
    meta = MM.decode_media(
        frames.select(
            (F.col("media_id") * 100 + F.col("frame_idx")).alias("media_id"),
            F.lit("image").alias("media_type"),
            F.col("frame_payload").alias("payload"),
        )
    )
    return meta.select(
        "media_id", "format", "width", "height", "channels", "content_hash"
    )


# ---------------------------------------------------------------------------
# dedup_incremental — NEW crawl batch vs the historical signature store
# ---------------------------------------------------------------------------
# The production ingest shape AND proportions: the store (ALL existing docs,
# already deduped) is the BIG persisted signature table; the new batch (a
# perturbed 1-in-BATCH_MOD tick, each a planted near-dup of its original)
# is the small side that band-joins AGAINST it — no store x store work, no
# re-reading historical text, and AQE is free to broadcast the tick.

BATCH_MOD = 10


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _documents(spark, sf_dir).select("doc_id", "text")
    hist = d
    toks = F.split(F.trim("text"), r"\s+")
    batch = d.filter(F.col("doc_id") % BATCH_MOD == 0).select(
        (F.col("doc_id") + PERTURB_OFFSET).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, 1, F.size(toks) - 1)).alias("text"),
    )
    # both signature frames feed two join arms (bands + verify): persist =
    # "the signature table lives in storage" at crawl scale.  Materialize
    # EAGERLY before the join — the band and verify arms are separate
    # shuffle-map stages the scheduler runs concurrently, and an
    # unpopulated cache makes them each recompute the md5 shingle pass
    # (measured ~2x signature cost on the cold run).
    store_sigs = DD.signature_store(hist).persist()
    batch_sigs = DD.signature_store(batch).persist()
    store_sigs.count()
    batch_sigs.count()
    out = DD.incremental_lsh_dedup(batch_sigs, store_sigs, threshold=0.6)
    return out.select(
        F.col("new_id").cast("long").alias("new_id"),
        F.col("hist_id").cast("long").alias("hist_id"),
        "n_inter",
        F.round("jaccard", 4).alias("jaccard"),
    )


def _sql_incremental_lsh() -> str:
    sig_exprs = ",\n         ".join(
        f"list_min(list_transform(hs, h -> ({PERM_A[j]} * (h % {MERSENNE}) + {PERM_B[j]}) % {MERSENNE})) AS s{j}"
        for j in range(N_PERMS)
    )

    def band_selects(src: str) -> str:
        return "\n  UNION ALL\n".join(
            "  SELECT doc_id, {b} AS band_id, concat_ws('_', {keys}) AS band_key FROM {src}".format(
                b=b,
                src=src,
                keys=", ".join(
                    f"s{b * LSH_ROWS_PER_BAND + i}" for i in range(LSH_ROWS_PER_BAND)
                ),
            )
            for b in range(LSH_BANDS)
        )

    return f"""
WITH hist AS (
  SELECT doc_id, text FROM documents
), newb AS (
  SELECT doc_id + {PERTURB_OFFSET} AS doc_id,
         array_to_string(({DUCK_TOKS})[1:len({DUCK_TOKS}) - 1], ' ') AS text
  FROM documents WHERE doc_id % {BATCH_MOD} = 0
), hist_hashed AS (
  SELECT doc_id, list_distinct(list_transform({_DUCK_SHINGLES}, s -> {DUCK_H60.format(s='s')})) AS hs
  FROM (SELECT doc_id, {DUCK_TOKS} AS toks FROM hist)
), new_hashed AS (
  SELECT doc_id, list_distinct(list_transform({_DUCK_SHINGLES}, s -> {DUCK_H60.format(s='s')})) AS hs
  FROM (SELECT doc_id, {DUCK_TOKS} AS toks FROM newb)
), hist_sigs AS (
  SELECT doc_id, {sig_exprs} FROM hist_hashed
), new_sigs AS (
  SELECT doc_id, {sig_exprs} FROM new_hashed
), hist_bands AS (
{band_selects('hist_sigs')}
), new_bands AS (
{band_selects('new_sigs')}
), pairs AS (
  SELECT DISTINCT n.doc_id AS new_id, h.doc_id AS hist_id
  FROM new_bands n JOIN hist_bands h
    ON n.band_id = h.band_id AND n.band_key = h.band_key
), verified AS (
  SELECT p.new_id, p.hist_id,
         len(list_intersect(sa.hs, sb.hs)) AS n_inter,
         len(list_intersect(sa.hs, sb.hs)) * 1.0
           / (len(sa.hs) + len(sb.hs)
              - len(list_intersect(sa.hs, sb.hs))) AS jaccard
  FROM pairs p
  JOIN new_hashed sa ON sa.doc_id = p.new_id
  JOIN hist_hashed sb ON sb.doc_id = p.hist_id
)
SELECT CAST(new_id AS BIGINT) AS new_id, CAST(hist_id AS BIGINT) AS hist_id,
       CAST(n_inter AS BIGINT) AS n_inter, round(jaccard, 4) AS jaccard
FROM verified WHERE jaccard >= 0.6
"""


SQL_DEDUP_INCREMENTAL = _sql_incremental_lsh()


# ---------------------------------------------------------------------------
# quality_filter — Gopher/C4-style hard accept/reject ladder
# ---------------------------------------------------------------------------

def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _documents(spark, sf_dir).select("doc_id", "text")
    out = CU.gopher_quality_flags(d, min_words=30, min_stopwords=2)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_words", "mean_wordlen_e4", "symbol_ratio_e4", "n_stopwords",
        "flag_nwords", "flag_wordlen", "flag_symbol", "flag_stopwords",
        "keep",
    )


SQL_QUALITY_FILTER = f"""
WITH t AS (
  SELECT doc_id, text, {DUCK_TOKS} AS toks FROM documents
), feat AS (
  SELECT doc_id,
         len(toks) AS n_words,
         list_sum(list_transform(toks, t -> length(t))) * 1.0
           / greatest(len(toks), 1) AS mean_wordlen,
         length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) * 1.0
           / greatest(length(text), 1) AS symbol_ratio,
         len(list_intersect(list_distinct(toks), {_SW_EN})) AS n_stopwords
  FROM t
), flags AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(n_words AS BIGINT) AS n_words,
         CAST(floor(mean_wordlen * 1e4 + 0.5) AS BIGINT) AS mean_wordlen_e4,
         CAST(floor(symbol_ratio * 1e4 + 0.5) AS BIGINT) AS symbol_ratio_e4,
         CAST(n_stopwords AS BIGINT) AS n_stopwords,
         CASE WHEN n_words BETWEEN 30 AND 100000 THEN 0 ELSE 2 END AS flag_nwords,
         CASE WHEN mean_wordlen BETWEEN 2.0 AND 12.0 THEN 0 ELSE 2 END AS flag_wordlen,
         CASE WHEN symbol_ratio <= 0.10 THEN 0 ELSE 2 END AS flag_symbol,
         CASE WHEN n_stopwords >= 2 THEN 0 ELSE 2 END AS flag_stopwords
  FROM feat
)
SELECT *,
       CASE WHEN flag_nwords = 0 AND flag_wordlen = 0 AND flag_symbol = 0
                 AND flag_stopwords = 0 THEN 1 ELSE 0 END AS keep
FROM flags
"""


# ---------------------------------------------------------------------------
# url_canon_dedup — URL canonicalization + keep-best-per-canonical-URL
# ---------------------------------------------------------------------------
# The sf documents table has no url column; both engines synthesize the SAME
# deterministic messy URLs from (source, doc_id) — uppercase authority,
# default port, tracking params, fragments — so the oracle genuinely checks
# the canonicalization + keep-best algebra.

_URL_SYNTH_SQL = (
    "concat('HTTPS://WWW.', upper(source), '.Example.COM:443/page/', "
    "CAST(doc_id % 40 AS VARCHAR), "
    "CASE CAST(doc_id % 3 AS INTEGER) "
    "  WHEN 0 THEN '/?utm_source=feed&utm_campaign=x&id=7' "
    "  WHEN 1 THEN '?id=7&utm_medium=mail' ELSE '/' END, "
    "CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END)"
)


def _url_synth_col() -> F.Column:
    return F.concat(
        F.lit("HTTPS://WWW."),
        F.upper("source"),
        F.lit(".Example.COM:443/page/"),
        (F.col("doc_id") % 40).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/?utm_source=feed&utm_campaign=x&id=7"))
        .when(F.col("doc_id") % 3 == 1, F.lit("?id=7&utm_medium=mail"))
        .otherwise(F.lit("/")),
        F.when(F.col("doc_id") % 5 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )


def q_url_canon_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _documents(spark, sf_dir).select(
        "doc_id", "n_chars", _url_synth_col().alias("url")
    )
    out = CU.url_keep_best(d, url_col="url", quality_col="n_chars")
    return out.select(
        "canon_url",
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars").cast("long").alias("n_chars"),
        "n_dups",
    ).orderBy("canon_url")


SQL_URL_CANON_DEDUP = f"""
WITH raw AS (
  SELECT doc_id, n_chars, {_URL_SYNTH_SQL} AS url FROM documents
), nofrag AS (
  SELECT doc_id, n_chars, regexp_replace(url, '#.*', '') AS u FROM raw
), split_auth AS (
  SELECT doc_id, n_chars, u,
         regexp_extract(u, '^([^/]*//[^/?#]*)', 1) AS prefix
  FROM nofrag
), canon0 AS (
  SELECT doc_id, n_chars,
         regexp_replace(lower(prefix), ':(80|443)$', '') AS p,
         regexp_replace(
           regexp_replace(substr(u, length(prefix) + 1),
                          '(utm_[a-z]+|gclid|fbclid)=[^&#]*&?', '', 'g'),
           '[?&]+$', '') AS r
  FROM split_auth
), canon AS (
  SELECT doc_id, n_chars,
         p || CASE WHEN contains(r, '?') THEN r
                   ELSE regexp_replace(r, '/+$', '') END AS canon_url
  FROM canon0
), ranked AS (
  SELECT canon_url, doc_id, n_chars,
         row_number() OVER (PARTITION BY canon_url
                            ORDER BY n_chars DESC, doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY canon_url) AS n_dups
  FROM canon
)
SELECT canon_url, CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_chars AS BIGINT) AS n_chars, CAST(n_dups AS BIGINT) AS n_dups
FROM ranked WHERE rn = 1 ORDER BY canon_url
"""


# ---------------------------------------------------------------------------
# stratified_sample — deterministic per-language hash sampling
# ---------------------------------------------------------------------------

_SAMPLE_RATES = {"en": 0.12, "de": 0.50, "fr": 0.37, "zh": 0.91}
_SAMPLE_DEFAULT = 0.25  # exercised by 'es' (absent from the dim)


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _documents(spark, sf_dir).select("doc_id", "lang")
    out = CU.stratified_sample(
        d, strata_col="lang", rates=_SAMPLE_RATES, default_rate=_SAMPLE_DEFAULT
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang", "bucket", "rate_e4",
    ).orderBy("doc_id")


_RATES_VALUES = ", ".join(
    f"('{k}', {int(round(v * 10000))})" for k, v in _SAMPLE_RATES.items()
)

SQL_STRATIFIED_SAMPLE = f"""
WITH rates(lang, rate_e4) AS (VALUES {_RATES_VALUES}),
h AS (
  SELECT doc_id, d.lang,
         {DUCK_H60.format(s="'samp:' || CAST(doc_id AS VARCHAR)")} % 10000
           AS bucket,
         COALESCE(r.rate_e4, {int(round(_SAMPLE_DEFAULT * 10000))}) AS rate_e4
  FROM documents d LEFT JOIN rates r ON d.lang = r.lang
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
       CAST(bucket AS BIGINT) AS bucket, CAST(rate_e4 AS BIGINT) AS rate_e4
FROM h WHERE bucket < rate_e4 ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# ngram_repetition — Gopher repetition-rule flags (top-/dup-n-gram coverage)
# ---------------------------------------------------------------------------

def q_ngram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _documents(spark, sf_dir).select("doc_id", "text")
    out = CU.ngram_repetition_flags(d, top_n=2, dup_n=3)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "top_ngram", "top_ngram_count", "top_ngram_frac_e4",
        "dup_ngram_frac_e4", "flag_top_ngram", "flag_dup_ngram", "keep",
    )


def _duck_ngrams(n: int) -> str:
    """DuckDB n-gram list over ``toks`` (same floor convention as the Spark
    side: a doc shorter than n words yields its whole text once)."""
    return (
        f"list_transform(generate_series(1, greatest(len(toks) - {n - 1}, 1)), "
        f"i -> array_to_string(toks[i:i+{n - 1}], ' '))"
    )


SQL_NGRAM_REPETITION = f"""
WITH t AS (
  SELECT doc_id, length(text) AS tlen, {DUCK_TOKS} AS toks FROM documents
), ng_top AS (
  SELECT doc_id, tlen, unnest({_duck_ngrams(2)}) AS ng FROM t
), c_top AS (
  SELECT doc_id, min(tlen) AS tlen, ng, count(*) AS c
  FROM ng_top GROUP BY doc_id, ng
), ranked AS (
  SELECT doc_id, tlen, ng, c,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY c DESC, length(ng) DESC, ng DESC) AS rn
  FROM c_top
), ng_dup AS (
  SELECT doc_id, tlen, unnest({_duck_ngrams(3)}) AS ng FROM t
), c_dup AS (
  SELECT doc_id, min(tlen) AS tlen, ng, count(*) AS c
  FROM ng_dup GROUP BY doc_id, ng
), d_dup AS (
  SELECT doc_id,
         sum(CASE WHEN c > 1 THEN c * length(ng) ELSE 0 END) * 1.0
           / greatest(min(tlen), 1) AS dup_frac
  FROM c_dup GROUP BY doc_id
), j AS (
  SELECT r.doc_id, r.ng, r.c,
         (r.c * length(r.ng)) / greatest(r.tlen, 1) AS top_frac,
         d.dup_frac
  FROM ranked r JOIN d_dup d ON d.doc_id = r.doc_id
  WHERE r.rn = 1
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       ng AS top_ngram,
       CAST(c AS BIGINT) AS top_ngram_count,
       CAST(floor(top_frac * 1e4 + 0.5) AS BIGINT) AS top_ngram_frac_e4,
       CAST(floor(dup_frac * 1e4 + 0.5) AS BIGINT) AS dup_ngram_frac_e4,
       CASE WHEN top_frac <= 0.20 THEN 0 ELSE 2 END AS flag_top_ngram,
       CASE WHEN dup_frac <= 0.60 THEN 0 ELSE 2 END AS flag_dup_ngram,
       CASE WHEN top_frac <= 0.20 AND dup_frac <= 0.60 THEN 1 ELSE 0 END
         AS keep
FROM j
"""


# ---------------------------------------------------------------------------
# decontaminate_ngram — eval-set k-gram collision flagging (GPT-3 App. C)
# ---------------------------------------------------------------------------
# Benchmark = every 29th doc (a stand-in eval set); corpus = the rest.

_DECON_MOD = 29


def q_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _documents(spark, sf_dir).select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % _DECON_MOD != 0)
    bench = d.filter(F.col("doc_id") % _DECON_MOD == 0)
    out = CU.decontaminate_ngram(corpus, bench, k=3, min_hits=1)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_shingles").cast("long").alias("n_shingles"),
        "n_collisions",
        "contaminated",
    )


SQL_DECONTAMINATE_NGRAM = f"""
WITH corp AS (
  SELECT doc_id, {DUCK_TOKS} AS toks FROM documents
  WHERE doc_id % {_DECON_MOD} != 0
), bencht AS (
  SELECT {DUCK_TOKS} AS toks FROM documents WHERE doc_id % {_DECON_MOD} = 0
), bh AS (
  SELECT DISTINCT unnest(
    list_transform(list_distinct({_duck_ngrams(3)}),
                   s -> {DUCK_H60.format(s='s')})) AS h
  FROM bencht
), ch AS (
  SELECT doc_id,
         list_distinct(list_transform({_duck_ngrams(3)},
                                      s -> {DUCK_H60.format(s='s')})) AS hs
  FROM corp
), hits AS (
  SELECT doc_id, count(*) AS c
  FROM (SELECT doc_id, unnest(hs) AS h FROM ch) u
  JOIN bh USING (h)
  GROUP BY doc_id
)
SELECT CAST(ch.doc_id AS BIGINT) AS doc_id,
       CAST(len(hs) AS BIGINT) AS n_shingles,
       CAST(COALESCE(c, 0) AS BIGINT) AS n_collisions,
       CASE WHEN COALESCE(c, 0) >= 1 THEN 1 ELSE 0 END AS contaminated
FROM ch LEFT JOIN hits ON hits.doc_id = ch.doc_id
"""


# ---------------------------------------------------------------------------
# redact_pii — C4/RefinedWeb-style PII masking with per-category counts
# ---------------------------------------------------------------------------
# The sf documents have no PII; both engines append the SAME deterministic
# synthetic PII (email / bare IPv4 / intl phone, keyed by doc_id % 4) so the
# oracle genuinely checks the masking algebra, not just a no-op.


def _pii_synth_col() -> F.Column:
    m = F.col("doc_id") % 4
    return F.concat(
        F.col("text"),
        F.when(
            m == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example.com now"),
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.lit(" server at 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".7 port"),
            ),
        )
        .when(
            m == 2,
            F.concat(
                F.lit(" call +41 79 "),
                F.col("doc_id").cast("string"),
                F.lit(" 55"),
            ),
        )
        .otherwise(F.lit("")),
    )


_PII_SYNTH_SQL = (
    "text || CASE CAST(doc_id % 4 AS INTEGER) "
    "WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com now' "
    "WHEN 1 THEN ' server at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 port' "
    "WHEN 2 THEN ' call +41 79 ' || CAST(doc_id AS VARCHAR) || ' 55' "
    "ELSE '' END"
)


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _documents(spark, sf_dir).select(
        "doc_id", _pii_synth_col().alias("text")
    )
    out = CU.redact_pii(d)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_email", "n_ipv4", "n_phone", "text_redacted",
    )


SQL_REDACT_PII = f"""
WITH t AS (
  SELECT doc_id, {_PII_SYNTH_SQL} AS text FROM documents
), m AS (
  SELECT doc_id,
         len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS n_email,
         regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}',
             '<EMAIL>', 'g') AS t1
  FROM t
), i AS (
  SELECT doc_id, n_email,
         len(regexp_extract_all(t1,
             '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b')) AS n_ipv4,
         regexp_replace(t1,
             '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b',
             '<IP>', 'g') AS t2
  FROM m
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_email AS BIGINT) AS n_email,
       CAST(n_ipv4 AS BIGINT) AS n_ipv4,
       CAST(len(regexp_extract_all(t2, '\\+\\d[\\d ()-]{{7,}}\\d')) AS BIGINT)
         AS n_phone,
       regexp_replace(t2, '\\+\\d[\\d ()-]{{7,}}\\d', '<PHONE>', 'g')
         AS text_redacted
FROM i
"""


# ---------------------------------------------------------------------------
# shard_pack — deterministic token-budget shard packing per language
# ---------------------------------------------------------------------------

_SHARD_BUDGET = 2000


def q_shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _documents(spark, sf_dir).select(
        "doc_id", "lang",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
    )
    out = CU.shard_pack(d, part_col="lang", budget=_SHARD_BUDGET)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang", "n_tokens", "tok_start", "shard_id",
    )


SQL_SHARD_PACK = f"""
WITH t AS (
  SELECT doc_id, lang, len({DUCK_TOKS}) AS n_tokens FROM documents
), c AS (
  SELECT *, sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id) AS cum FROM t
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(cum - n_tokens AS BIGINT) AS tok_start,
       CAST(floor((cum - n_tokens) * 1.0 / {_SHARD_BUDGET}) AS BIGINT)
         AS shard_id
FROM c
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "ngram_repetition": q_ngram_repetition,
    "decontaminate_ngram": q_decontaminate_ngram,
    "redact_pii": q_redact_pii,
    "shard_pack": q_shard_pack,
    "dedup_incremental": q_dedup_incremental,
    "quality_filter": q_quality_filter,
    "url_canon_dedup": q_url_canon_dedup,
    "stratified_sample": q_stratified_sample,
    "text_token_stats": q_text_token_stats,
    "text_quality": q_text_quality,
    "text_langid": q_text_langid,
    "doc_fingerprint": q_doc_fingerprint,
    "dedup_exact": q_dedup_exact,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
    "ann_cosine_topk": q_ann_cosine_topk,
    "ann_cosine_ivf": q_ann_cosine_ivf,
    "ann_cosine_ivf_trained": q_ann_cosine_ivf_trained,
    "semantic_dedup": q_semantic_dedup,
    "ann_cosine_pq": q_ann_cosine_pq,
    "multimodal_decode": q_multimodal_decode,
    "multimodal_resize": q_multimodal_resize,
    "multimodal_frames": q_multimodal_frames,
}

ORACLE_SQL: dict[str, str] = {
    "ngram_repetition": SQL_NGRAM_REPETITION,
    "decontaminate_ngram": SQL_DECONTAMINATE_NGRAM,
    "redact_pii": SQL_REDACT_PII,
    "shard_pack": SQL_SHARD_PACK,
    "dedup_incremental": SQL_DEDUP_INCREMENTAL,
    "quality_filter": SQL_QUALITY_FILTER,
    "url_canon_dedup": SQL_URL_CANON_DEDUP,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "text_token_stats": SQL_TEXT_TOKEN_STATS,
    "text_quality": SQL_TEXT_QUALITY,
    "text_langid": SQL_TEXT_LANGID,
    "doc_fingerprint": SQL_DOC_FINGERPRINT,
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_minhash_lsh": SQL_DEDUP_MINHASH_LSH,
    "dedup_simhash": SQL_DEDUP_SIMHASH,
    "ann_cosine_topk": SQL_ANN_COSINE_TOPK,
    "ann_cosine_ivf": SQL_ANN_COSINE_IVF,
    "ann_cosine_ivf_trained": SQL_ANN_COSINE_IVF_TRAINED,
    "semantic_dedup": SQL_SEMANTIC_DEDUP,
    # multimodal_decode: mapInPandas pipeline — rows-only check
}
