"""t-digest — mergeable quantile sketch (Dunning & Ertl, "Computing
extremely accurate quantiles using t-digests", arXiv:1902.04023).

Completes the repo's mergeable-sketch family (CMS counts, HLL distinct,
fixed-bin histogram quantiles): the t-digest gives RELATIVE-accuracy
quantiles — error ~ q(1-q)/delta, so tails are far sharper than an
equi-width histogram at the same state size — and merges associatively,
which is exactly the property the tier cascade needs (1m digests merge
into 1h digests into 1d digests without touching raw data).

Representation: array<struct<m double, w double>> centroids sorted by
mean.  Merge = concatenate + re-compress with the k1 scale function
k(q) = (delta / 2pi) * asin(2q - 1) (Dunning's merging-digest variant).
Determinism: every compress sorts its input by (mean, weight) first, so
the result is independent of Spark's nondeterministic collect order.

Scale shape: build is two combinable aggregate stages — per (key,
partition) sub-digests, then per key a merge of <= n_partitions small
arrays; no raw value ever crosses the shuffle twice, and per-key state
is bounded by ~2*delta centroids regardless of input size.
"""

from __future__ import annotations

from math import asin, pi

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "tdigest_compress",
    "tdigest_quantile",
    "tdigest_quantiles",
    "TDigestPartials",
]

_UDFS: dict = {}


def _k1(q: float, delta: float) -> float:
    return delta / (2.0 * pi) * asin(2.0 * q - 1.0)


def tdigest_compress(
    means: np.ndarray, weights: np.ndarray, delta: float = 100.0
) -> tuple[np.ndarray, np.ndarray]:
    """Merge (mean, weight) centroids into a compressed digest.

    Input need not be sorted; output is sorted by mean with at most
    ~2*delta centroids.  Passing raw values with unit weights builds a
    digest from scratch (the merging-digest build IS repeated merge)."""
    if len(means) == 0:
        return means.astype(np.float64), weights.astype(np.float64)
    order = np.lexsort((weights, means))
    m = np.asarray(means, dtype=np.float64)[order]
    w = np.asarray(weights, dtype=np.float64)[order]
    total = float(w.sum())
    out_m: list[float] = [m[0]]
    out_w: list[float] = [w[0]]
    w_so_far = 0.0  # weight fully to the left of the open centroid
    q0 = 0.0
    k_limit = _k1(q0, delta) + 1.0
    for i in range(1, len(m)):
        q = (w_so_far + out_w[-1] + w[i]) / total
        if _k1(q, delta) <= k_limit:
            # absorb into the open centroid (weighted mean)
            nw = out_w[-1] + w[i]
            out_m[-1] += (m[i] - out_m[-1]) * w[i] / nw
            out_w[-1] = nw
        else:
            w_so_far += out_w[-1]
            q0 = w_so_far / total
            k_limit = _k1(q0, delta) + 1.0
            out_m.append(float(m[i]))
            out_w.append(float(w[i]))
    return np.asarray(out_m), np.asarray(out_w)


def tdigest_quantile(
    means: np.ndarray, weights: np.ndarray, q: float
) -> float:
    """Quantile estimate by linear interpolation between centroid means
    at cumulative mid-weights (Dunning's standard estimator)."""
    if len(means) == 0:
        return float("nan")
    if len(means) == 1:
        return float(means[0])
    w = np.asarray(weights, dtype=np.float64)
    total = w.sum()
    # cumulative weight at each centroid's midpoint
    cum = np.cumsum(w) - w / 2.0
    target = q * total
    if target <= cum[0]:
        return float(means[0])
    if target >= cum[-1]:
        return float(means[-1])
    j = int(np.searchsorted(cum, target) - 1)
    frac = (target - cum[j]) / (cum[j + 1] - cum[j])
    return float(means[j] + frac * (means[j + 1] - means[j]))


def _compress_udf(delta: float):
    """Lazy pandas_udf: array<struct<m,w>> -> compressed digest."""
    key = ("compress", delta)
    if key not in _UDFS:

        @F.pandas_udf("array<struct<m: double, w: double>>")
        def _c(arrs: pd.Series) -> pd.Series:
            out = []
            for a in arrs:
                if a is None or len(a) == 0:
                    out.append([])
                    continue
                m = np.array([c["m"] for c in a])
                w = np.array([c["w"] for c in a])
                cm, cw = tdigest_compress(m, w, delta)
                out.append(
                    [{"m": float(x), "w": float(y)} for x, y in zip(cm, cw)]
                )
            return pd.Series(out)

        _UDFS[key] = _c
    return _UDFS[key]


def _quantile_udf(qs: tuple[float, ...]):
    key = ("quantile", qs)
    if key not in _UDFS:

        @F.pandas_udf("array<double>")
        def _q(arrs: pd.Series) -> pd.Series:
            out = []
            for a in arrs:
                if a is None or len(a) == 0:
                    out.append([float("nan")] * len(qs))
                    continue
                m = np.array([c["m"] for c in a])
                w = np.array([c["w"] for c in a])
                out.append([tdigest_quantile(m, w, q) for q in qs])
            return pd.Series(out)

        _UDFS[key] = _q
    return _UDFS[key]


def tdigest_quantiles(
    df: DataFrame,
    key_col: str,
    value_col: str,
    qs: list[float],
    delta: float = 100.0,
) -> DataFrame:
    """Per-key quantiles via a two-stage distributed t-digest build:
    (key, partition) sub-digests first — bounded collect_list, map-side
    parallel — then one merge per key of <= n_partitions small arrays."""
    raw = F.sort_array(
        F.collect_list(
            F.struct(
                F.col(value_col).cast("double").alias("m"),
                F.lit(1.0).alias("w"),
            )
        )
    )
    sub = (
        df.where(F.col(value_col).isNotNull())
        .withColumn("_pid", F.spark_partition_id())
        .groupBy(key_col, "_pid")
        .agg(_compress_udf(delta)(raw).alias("td"))
    )
    merged = sub.groupBy(key_col).agg(
        _compress_udf(delta)(
            F.sort_array(F.flatten(F.collect_list("td")))
        ).alias("td"),
        F.sum(F.expr("aggregate(td, 0.0d, (acc, c) -> acc + c.w)"))
        .alias("n_w"),
    )
    qv = _quantile_udf(tuple(qs))(F.col("td")).alias("_qv")
    cols = [
        F.col("_qv")[i].alias(f"p{int(round(q * 100)):02d}")
        for i, q in enumerate(qs)
    ]
    return merged.select(
        key_col,
        F.col("n_w").cast("long").alias("n_points"),
        F.size("td").cast("long").alias("n_centroids"),
        qv,
    ).select(key_col, "n_points", "n_centroids", *cols)


class TDigestPartials:
    """Tier-engine aggregate spec (plans/tiers.py contract): per-window
    t-digests as the stored partial, merged by concat + re-compress.
    ``finalize`` emits p50/p95/p99 + count columns."""

    columns = ("td", "pcount")
    supports_gating = False

    def __init__(self, delta: float = 100.0,
                 qs: tuple[float, ...] = (0.5, 0.95, 0.99)):
        self.delta = delta
        self.qs = qs

    def partial_exprs(self, value_col: str, ts_s_col: str):
        raw = F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(value_col).cast("double").alias("m"),
                    F.lit(1.0).alias("w"),
                )
            )
        )
        return [
            _compress_udf(self.delta)(raw).alias("td"),
            F.count(value_col).cast("long").alias("pcount"),
        ]

    def merge_exprs(self):
        # a lone digest is kept as stored: re-compression is not the identity
        return [
            F.when(F.count(F.lit(1)) == 1, F.first("td")).otherwise(
                _compress_udf(self.delta)(
                    F.sort_array(F.flatten(F.collect_list("td")))
                )
            ).alias("td"),
            F.sum("pcount").cast("long").alias("pcount"),
        ]

    def finalize(self, df: DataFrame) -> DataFrame:
        qv = _quantile_udf(self.qs)(F.col("td")).alias("_qv")
        keep = [c for c in df.columns if c not in self.columns]
        out = df.select(*keep, F.col("pcount").alias("n_points"), qv)
        return out.select(
            *keep,
            "n_points",
            *[
                F.col("_qv")[i].alias(f"p{int(round(q * 100)):02d}")
                for i, q in enumerate(self.qs)
            ],
        )
