"""Sequential time-series kernels that have no prefix-sum/window
decomposition: the Hodrick-Prescott filter (pentadiagonal linear
solve), Sakoe-Chiba-banded dynamic time warping, and 2-state Viterbi
decoding.  Each ships as a grouped Arrow kernel over the BOUNDED
per-key daily/diel grid (the holtwinters posture) and is pinned
by tests/test_seqkernels.py against independent formulations
(optimality residual for HP, full-DP and memoized recursion for DTW,
exhaustive path enumeration for Viterbi).

diive counterpart: none — diive stops at rolling/STL-style
decompositions; these are the standard econometrics (HP), alignment
(DTW), and regime-decoding (Viterbi) siblings.

Scale shape: one Arrow batch per key; O(n^2) memory worst case is the
HP dense solve on the calendar-sized grid (n ~ hundreds of days), and
monster series would chunk via operators/chunking.py like the other
sequential kernels.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from diive_spark.session import kernel_partition

__all__ = [
    "hp_filter",
    "dtw_band",
    "viterbi_2state",
    "hp_filter_frame",
    "dtw_profile_frame",
    "viterbi_regimes_frame",
]


def hp_filter(y: np.ndarray, lam: float) -> np.ndarray:
    """Hodrick-Prescott trend: argmin_t sum (y-t)^2 + lam sum (d2 t)^2
    via the normal equations (I + lam D'D) t = y (dense solve on the
    bounded grid)."""
    y = np.asarray(y, dtype=np.float64)
    n = len(y)
    if n < 4:
        return y.copy()
    d = np.zeros((n - 2, n))
    idx = np.arange(n - 2)
    d[idx, idx] = 1.0
    d[idx, idx + 1] = -2.0
    d[idx, idx + 2] = 1.0
    a = np.eye(n) + lam * (d.T @ d)
    return np.linalg.solve(a, y)


def dtw_band(a: np.ndarray, b: np.ndarray, r: int) -> float:
    """Sakoe-Chiba banded DTW distance (squared-diff local cost,
    symmetric steps)."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    n, m = len(a), len(b)
    inf = float("inf")
    dp = np.full((n + 1, m + 1), inf)
    dp[0, 0] = 0.0
    for i in range(1, n + 1):
        lo = max(1, i - r)
        hi = min(m, i + r)
        for j in range(lo, hi + 1):
            cost = (a[i - 1] - b[j - 1]) ** 2
            dp[i, j] = cost + min(
                dp[i - 1, j], dp[i, j - 1], dp[i - 1, j - 1]
            )
    return float(dp[n, m])


def viterbi_2state(
    bits: np.ndarray, p_stay: float, p_emit: float
) -> np.ndarray:
    """Most likely 2-state path for a binary emission sequence.
    Symmetric transition (stay with p_stay) and emission (state s
    emits bit s with p_emit) parameters; log-domain DP with the
    deterministic tie-break 'prefer state 0, prefer staying'."""
    s = np.asarray(bits, dtype=np.int8)
    n = len(s)
    if n == 0:
        return np.zeros(0, dtype=np.int8)
    lstay = np.log(p_stay)
    lmove = np.log(1.0 - p_stay)
    lhit = np.log(p_emit)
    lmiss = np.log(1.0 - p_emit)

    def emit(state: int, bit: int) -> float:
        return lhit if state == bit else lmiss

    v = np.zeros((n, 2))
    back = np.zeros((n, 2), dtype=np.int8)
    v[0, 0] = np.log(0.5) + emit(0, s[0])
    v[0, 1] = np.log(0.5) + emit(1, s[0])
    for t in range(1, n):
        for st in (0, 1):
            from0 = v[t - 1, 0] + (lstay if st == 0 else lmove)
            from1 = v[t - 1, 1] + (lstay if st == 1 else lmove)
            # tie-break: prefer predecessor 0
            if from0 >= from1:
                v[t, st] = from0 + emit(st, s[t])
                back[t, st] = 0
            else:
                v[t, st] = from1 + emit(st, s[t])
                back[t, st] = 1
    path = np.zeros(n, dtype=np.int8)
    path[n - 1] = 0 if v[n - 1, 0] >= v[n - 1, 1] else 1
    for t in range(n - 2, -1, -1):
        path[t] = back[t + 1, path[t + 1]]
    return path


def hp_filter_frame(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    lam: float = 1600.0,
) -> DataFrame:
    """Per key: HP trend/cycle variance split of the day-ordered
    series (rows-only kernel)."""
    schema = (
        f"{key_col} string, n long, trend_var double, cycle_var double,"
        " smoothness double"
    )

    def apply(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col)
        y = pdf[value_col].to_numpy(dtype=np.float64)
        n = len(y)
        if n < 8:
            return pd.DataFrame(
                {
                    key_col: [pdf[key_col].iloc[0]],
                    "n": [n],
                    "trend_var": [float("nan")],
                    "cycle_var": [float("nan")],
                    "smoothness": [float("nan")],
                }
            )
        t = hp_filter(y, lam)
        c = y - t
        d2 = np.diff(t, 2)
        return pd.DataFrame(
            {
                key_col: [pdf[key_col].iloc[0]],
                "n": [n],
                "trend_var": [float(np.var(t))],
                "cycle_var": [float(np.var(c))],
                "smoothness": [float(np.mean(d2**2))],
            }
        )

    return (
        kernel_partition(df.select(key_col, ts_col, value_col), key_col)
        .groupBy(key_col)
        .applyInPandas(apply, schema=schema)
    )


def dtw_profile_frame(
    df: DataFrame,
    key_col: str,
    pos_col: str,
    value_col: str,
    ref: np.ndarray,
    r: int = 3,
) -> DataFrame:
    """Per key: banded DTW distance between the key's (position-
    ordered, z-normalized) profile and the z-normalized reference."""
    refz = np.asarray(ref, dtype=np.float64)
    refz = (refz - refz.mean()) / (refz.std() or 1.0)
    schema = f"{key_col} string, n long, dtw double, euclid double"

    def apply(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(pos_col)
        y = pdf[value_col].to_numpy(dtype=np.float64)
        n = len(y)
        if n != len(refz) or y.std() == 0:
            return pd.DataFrame(
                {
                    key_col: [pdf[key_col].iloc[0]],
                    "n": [n],
                    "dtw": [float("nan")],
                    "euclid": [float("nan")],
                }
            )
        z = (y - y.mean()) / y.std()
        return pd.DataFrame(
            {
                key_col: [pdf[key_col].iloc[0]],
                "n": [n],
                "dtw": [dtw_band(z, refz, r)],
                "euclid": [float(((z - refz) ** 2).sum())],
            }
        )

    return (
        kernel_partition(df.select(key_col, pos_col, value_col), key_col)
        .groupBy(key_col)
        .applyInPandas(apply, schema=schema)
    )


def viterbi_regimes_frame(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    bit_col: str,
    p_stay: float = 0.9,
    p_emit: float = 0.8,
) -> DataFrame:
    """Per key: Viterbi 2-state decoding of the day-ordered bit
    sequence; reports switches and high-state occupancy."""
    schema = (
        f"{key_col} string, n long, n_switches long, frac_high double"
    )

    def apply(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col)
        bits = pdf[bit_col].to_numpy(dtype=np.int8)
        n = len(bits)
        if n < 2:
            return pd.DataFrame(
                {
                    key_col: [pdf[key_col].iloc[0]],
                    "n": [n],
                    "n_switches": [0],
                    "frac_high": [float("nan")],
                }
            )
        path = viterbi_2state(bits, p_stay, p_emit)
        return pd.DataFrame(
            {
                key_col: [pdf[key_col].iloc[0]],
                "n": [n],
                "n_switches": [int((np.diff(path) != 0).sum())],
                "frac_high": [float(path.mean())],
            }
        )

    return (
        kernel_partition(df.select(key_col, ts_col, bit_col), key_col)
        .groupBy(key_col)
        .applyInPandas(apply, schema=schema)
    )


def lru_stack_distances(keys: np.ndarray) -> np.ndarray:
    """Mattson stack distances of a reference stream: distance = the
    1-based LRU stack depth of the key at access time (2**62 for cold
    misses).  A hit-rate curve for ANY cache size C follows as
    P(distance <= C) — the inclusion property of LRU.  O(n log n) via
    a Fenwick tree over last-access positions (the Bennett-Kruskal
    algorithm); a naive move-to-front list was O(n k) and 10x slower
    at bench scale."""
    n = len(keys)
    out = np.zeros(n, dtype=np.int64)
    bit = [0] * (n + 1)

    def upd(i: int, v: int) -> None:
        i += 1
        while i <= n:
            bit[i] += v
            i += i & -i

    def pref(i: int) -> int:
        i += 1
        s = 0
        while i > 0:
            s += bit[i]
            i -= i & -i
        return s

    last: dict = {}
    for i, k in enumerate(keys):
        p = last.get(k)
        if p is None:
            out[i] = 2**62
        else:
            # distinct keys touched strictly between p and i, + 1
            out[i] = (pref(i - 1) - pref(p)) + 1
            upd(p, -1)
        upd(i, 1)
        last[k] = i
    return out


def lru_hit_curve_frame(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    ref_col: str,
    sizes: tuple = (1, 2, 4, 8, 16),
) -> DataFrame:
    """Per key: LRU hit rates at the given cache sizes from one
    stack-distance pass (rows-only kernel; pinned by
    tests/test_seqkernels.py::test_lru_* vs per-size simulation)."""
    cols = ", ".join(f"hit_c{c} double" for c in sizes)
    schema = f"{key_col} string, n long, n_unique long, {cols}"

    def apply(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col, kind="mergesort")
        refs = pdf[ref_col].to_numpy()
        d = lru_stack_distances(refs)
        n = len(refs)
        row = {
            key_col: [pdf[key_col].iloc[0]],
            "n": [n],
            "n_unique": [int(len(set(refs.tolist())))],
        }
        for c in sizes:
            row[f"hit_c{c}"] = [
                float((d <= c).sum() / n) if n else float("nan")
            ]
        return pd.DataFrame(row)

    return (
        kernel_partition(df.select(key_col, ts_col, ref_col), key_col)
        .groupBy(key_col)
        .applyInPandas(apply, schema=schema)
    )
