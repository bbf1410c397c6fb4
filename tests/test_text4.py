"""queries_text4 — dedup savings / source containment / Hill tail index /
day-of-week seasonal index pinned against independent brute-force oracles
at sf0.001."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

from diive_spark.queries_trend import _OFF
from diive_spark.queries_text4 import (
    _HILL_K,
    q_dedup_savings,
    q_dow_seasonal_index,
    q_hill_tail_index,
    q_source_containment,
)

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").toPandas()


def test_dedup_savings_matches_counter(spark):
    out = {r["lang"]: r for r in q_dedup_savings(spark, SF).collect()}
    docs = _docs(spark)
    for lang, grp in docs.groupby("lang"):
        clusters = defaultdict(list)
        for text, n_chars in zip(grp["text"], grp["n_chars"]):
            clusters[hashlib.md5(text.encode()).hexdigest()].append(int(n_chars))
        n_docs = len(grp)
        n_unique = len(clusters)
        dup = {h: v for h, v in clusters.items() if len(v) > 1}
        n_redundant = sum(len(v) - 1 for v in dup.values())
        bytes_saved = sum((len(v) - 1) * max(v) for v in dup.values())
        row = out[lang]
        assert row["n_docs"] == n_docs
        assert row["n_unique"] == n_unique
        assert row["n_dup_clusters"] == len(dup)
        assert row["n_redundant"] == n_redundant
        assert row["bytes_saved"] == bytes_saved
        assert row["redundant_frac_e6"] == math.floor(
            n_redundant / n_docs * 1_000_000 + _OFF
        )


def _shingles(text: str) -> set:
    toks = text.strip().split()
    return {
        " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
    } if len(toks) >= 3 else set()


def test_source_containment_matches_sets(spark):
    out = {
        (r["sa"], r["sb"]): r for r in q_source_containment(spark, SF).collect()
    }
    docs = _docs(spark)
    vocab = {}
    for src, grp in docs.groupby("source"):
        s = set()
        for t in grp["text"]:
            s |= _shingles(t)
        vocab[src] = s
    expected = {}
    for sa, va in vocab.items():
        for sb, vb in vocab.items():
            if sa == sb or not va:
                continue
            n_common = len(va & vb)
            cont = n_common / len(va)
            if cont >= 0.01:
                expected[(sa, sb)] = (len(va), n_common, cont)
    assert set(out) == set(expected)
    for key, (n_a, n_common, cont) in expected.items():
        row = out[key]
        assert row["n_a"] == n_a
        assert row["n_common"] == n_common
        assert row["containment_e6"] == math.floor(cont * 1_000_000 + _OFF)


def test_hill_matches_numpy(spark):
    out = {r["lang"]: r for r in q_hill_tail_index(spark, SF).collect()}
    docs = _docs(spark)
    for lang, grp in docs.groupby("lang"):
        xs = sorted(grp["n_chars"].astype(int), reverse=True)
        if len(xs) <= _HILL_K:
            assert lang not in out
            continue
        x_k = xs[_HILL_K]
        if x_k <= 0:
            assert lang not in out
            continue
        lsum = sum(math.log(x / x_k) for x in xs[:_HILL_K])
        if lsum <= 0:
            assert lang not in out
            continue
        alpha = _HILL_K / lsum
        row = out[lang]
        assert row["k"] == _HILL_K
        assert row["x_k"] == x_k
        assert abs(row["alpha_e4"] - math.floor(alpha * 10_000 + 0.5)) <= 1


def test_dow_index_matches_counter(spark):
    out = {
        (r["event_type"], r["dow"]): r
        for r in q_dow_seasonal_index(spark, SF).collect()
    }
    ev = spark.read.parquet(f"{SF}/events.parquet").toPandas()
    ev["day"] = (ev["ts"].astype("int64") // 1_000_000_000) // 86_400
    daily = Counter(zip(ev["event_type"], ev["day"]))
    per = defaultdict(lambda: [0, 0])  # (et, dow) -> [n_days, sum_c]
    tot = defaultdict(lambda: [0, 0])  # et -> [n_all, sc_all]
    for (et, day), c in daily.items():
        dow = (day + 3) % 7
        per[(et, dow)][0] += 1
        per[(et, dow)][1] += c
        tot[et][0] += 1
        tot[et][1] += c
    assert set(out) == set(per)
    for (et, dow), (n_days, sc) in per.items():
        n_all, sc_all = tot[et]
        idx = (sc / n_days) / (sc_all / n_all)
        row = out[(et, dow)]
        assert row["n_days"] == n_days
        assert row["sc"] == sc
        assert row["index_e4"] == math.floor(idx * 10_000 + _OFF)
