"""queries_text3 — RBO / Kneser-Ney / MATTR / JL-distortion pinned
against independent brute-force oracles at sf0.001."""

from __future__ import annotations

import math
from collections import Counter

import numpy as np

from diive_spark.queries_trend import _OFF
from diive_spark.queries_text3 import (
    _JL_K,
    _JL_S,
    _KN_D,
    _KN_TOP,
    _MATTR_W,
    _RBO_DEPTH,
    _RBO_P,
    q_jl_distortion,
    q_kneser_ney_top,
    q_mattr,
    q_rbo_sources,
)

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").toPandas()


def _tok(text: str) -> list[str]:
    return text.strip().split()


def test_rbo_matches_per_depth_formula(spark):
    out = {r["source"]: r for r in q_rbo_sources(spark, SF).collect()}
    docs = _docs(spark)
    gc = Counter(w for t in docs["text"] for w in _tok(t))
    # rank: count desc, term asc
    gtop = [
        w
        for w, _ in sorted(gc.items(), key=lambda kv: (-kv[1], kv[0]))[:_RBO_DEPTH]
    ]
    for src, grp in docs.groupby("source"):
        sc = Counter(w for t in grp["text"] for w in _tok(t))
        stop = [
            w
            for w, _ in sorted(sc.items(), key=lambda kv: (-kv[1], kv[0]))[
                :_RBO_DEPTH
            ]
        ]
        # direct truncated-RBO sum over depths
        rbo = (1 - _RBO_P) * sum(
            _RBO_P ** (d - 1)
            * len(set(stop[:d]) & set(gtop[:d]))
            / d
            for d in range(1, _RBO_DEPTH + 1)
        )
        row = out[src]
        assert row["n_overlap"] == len(set(stop) & set(gtop))
        assert abs(row["rbo_e6"] - math.floor(rbo * 1e6 + _OFF)) <= 1
        assert 0 <= row["rbo_e6"] <= 1_000_001


def test_kneser_ney_matches_counter(spark):
    rows = q_kneser_ney_top(spark, SF).collect()
    docs = _docs(spark)
    by_lang: dict[str, Counter] = {}
    for _, r in docs.iterrows():
        toks = _tok(r["text"])
        c = by_lang.setdefault(r["lang"], Counter())
        for a, b in zip(toks, toks[1:]):
            c[(a, b)] += 1
    for lang, cb in by_lang.items():
        c_start = Counter()
        n1_fwd = Counter()
        n1_bwd = Counter()
        for (a, b), c in cb.items():
            c_start[a] += c
            n1_fwd[a] += 1
            n1_bwd[b] += 1
        n_types = len(cb)
        top = sorted(cb.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[
            :_KN_TOP
        ]
        got = [r for r in rows if r["lang"] == lang]
        assert len(got) == min(_KN_TOP, n_types)
        for rank, ((w1, w2), c) in enumerate(top, start=1):
            row = next(r for r in got if r["rank"] == rank)
            assert (row["w1"], row["w2"], row["c"]) == (w1, w2, c)
            p = max(c - _KN_D, 0.0) / c_start[w1] + _KN_D * n1_fwd[w1] / c_start[
                w1
            ] * (n1_bwd[w2] / n_types)
            assert abs(row["p_kn_e6"] - math.floor(p * 1e6 + _OFF)) <= 1
            # a probability
            assert 0 <= row["p_kn_e6"] <= 1_000_001


def test_mattr_matches_bruteforce(spark):
    out = {r["doc_id"]: r for r in q_mattr(spark, SF).collect()}
    docs = _docs(spark)
    for _, r in docs.iterrows():
        toks = _tok(r["text"])
        n = len(toks)
        if n < _MATTR_W:
            assert r["doc_id"] not in out
            continue
        sd = sum(
            len(set(toks[i : i + _MATTR_W])) for i in range(n - _MATTR_W + 1)
        )
        mattr = sd / ((n - _MATTR_W + 1) * _MATTR_W)
        row = out[r["doc_id"]]
        assert row["n_tokens"] == n
        assert row["sum_distinct"] == sd
        assert row["mattr_e6"] == math.floor(mattr * 1e6 + _OFF)
        # TTR of any window is in (0, 1]
        assert 0 < row["mattr_e6"] <= 1_000_000


def test_jl_distortion_matches_numpy(spark):
    out = {r["vec_id"]: r for r in q_jl_distortion(spark, SF).collect()}
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").toPandas()
    emb = emb.sort_values("vec_id").reset_index(drop=True)
    S = np.array(_JL_S, dtype=np.int64)
    mat = np.array(
        [np.asarray(v, dtype=np.float64) for v in emb["embedding"]]
    )
    q = np.floor(mat * 1e6 + _OFF).astype(np.int64)
    ids = emb["vec_id"].to_numpy()
    for i in range(len(ids) - 1):
        if ids[i] + 1 != ids[i + 1]:
            continue
        e, f = q[i], q[i + 1]
        d2o = int(np.sum((e - f) ** 2))
        if d2o == 0:
            assert ids[i] not in out
            continue
        pe, pf = S @ e, S @ f
        d2p = int(np.sum((pe - pf) ** 2))
        row = out[ids[i]]
        assert row["d2_orig"] == d2o
        assert row["d2_proj"] == d2p
        assert row["ratio_e4"] == math.floor(d2p / (_JL_K * d2o) * 1e4 + _OFF)


def test_jl_distortion_concentrates_near_one(spark):
    """Property: mean JL ratio across pairs is near 1 (unbiasedness)."""
    rows = q_jl_distortion(spark, SF).collect()
    ratios = np.array([r["ratio_e4"] for r in rows], dtype=float) / 1e4
    assert len(ratios) > 50
    assert abs(ratios.mean() - 1.0) < 0.25


def test_textrank_matches_numpy_power_iteration(spark):
    from diive_spark.queries_text3 import (
        _TR_D,
        _TR_ITER,
        _TR_VOCAB,
        q_textrank_words,
    )

    out = {r["w"]: r["rank_e6"] for r in q_textrank_words(spark, SF).collect()}
    docs = _docs(spark)
    cnt = Counter(w for t in docs["text"] for w in _tok(t))
    vocab = set(
        w
        for w, _ in sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:_TR_VOCAB]
    )
    edges = []
    for t in docs["text"]:
        toks = _tok(t)
        for a, b in zip(toks, toks[1:]):
            if a in vocab and b in vocab:
                edges.append((a, b))
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    outdeg = Counter(a for a, _ in edges)
    r = np.full(n, 1.0 / n)
    for _ in range(_TR_ITER):
        inc = np.zeros(n)
        for a, b in edges:
            inc[idx[b]] += r[idx[a]] / outdeg[a]
        dangling = sum(r[idx[v]] for v in nodes if outdeg[v] == 0)
        r = (1 - _TR_D) / n + _TR_D * (inc + dangling / n)
    assert set(out) == set(nodes)
    for v in nodes:
        assert abs(out[v] - math.floor(r[idx[v]] * 1e6 + _OFF)) <= 1
