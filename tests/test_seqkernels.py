"""Sequential-kernel exactness pins against independent formulations:
- HP filter: the solved trend must satisfy the optimality normal
  equations (I + lam D'D) t = y to solver precision, and reduce to
  the input when lam -> 0 / to the OLS line when lam -> inf.
- Banded DTW: equals the full (unbanded) DP when r >= n, equals an
  independent memoized recursion inside the band, and upper-bounds
  the unbanded distance.
- Viterbi: equals exhaustive max-probability path enumeration (with
  the same tie-break) on all sequences up to length 10.
"""

from __future__ import annotations

import itertools

import numpy as np
import pytest

from diive_spark.operators.seqkernels import (
    dtw_band,
    hp_filter,
    viterbi_2state,
)


@pytest.mark.parametrize("seed", [0, 1, 2])
@pytest.mark.parametrize("n", [8, 60, 200])
def test_hp_optimality_residual(seed, n):
    rng = np.random.default_rng(seed)
    y = rng.normal(size=n).cumsum() + rng.normal(scale=0.3, size=n)
    lam = 1600.0
    t = hp_filter(y, lam)
    d = np.zeros((n - 2, n))
    idx = np.arange(n - 2)
    d[idx, idx] = 1.0
    d[idx, idx + 1] = -2.0
    d[idx, idx + 2] = 1.0
    resid = t + lam * (d.T @ d @ t) - y
    assert np.abs(resid).max() < 1e-8


def test_hp_limits():
    rng = np.random.default_rng(7)
    y = rng.normal(size=50)
    t0 = hp_filter(y, 1e-12)
    assert np.abs(t0 - y).max() < 1e-6
    tinf = hp_filter(y, 1e12)
    x = np.arange(50, dtype=float)
    coef = np.polyfit(x, y, 1)
    line = np.polyval(coef, x)
    assert np.abs(tinf - line).max() < 1e-3


def _dtw_memo(a, b, r):
    inf = float("inf")
    n, m = len(a), len(b)
    from functools import lru_cache

    @lru_cache(maxsize=None)
    def go(i, j):
        if i == 0 and j == 0:
            return 0.0
        if i == 0 or j == 0:
            return inf
        if abs(i - j) > r:
            return inf
        cost = (a[i - 1] - b[j - 1]) ** 2
        return cost + min(go(i - 1, j), go(i, j - 1), go(i - 1, j - 1))

    return go(n, m)


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_dtw_band_matches_memo_and_full(seed):
    rng = np.random.default_rng(seed)
    a = rng.normal(size=24)
    b = rng.normal(size=24)
    for r in (1, 3, 8):
        assert dtw_band(a, b, r) == pytest.approx(
            _dtw_memo(tuple(a), tuple(b), r), rel=1e-12
        )
    full = dtw_band(a, b, 24)
    assert full == pytest.approx(
        _dtw_memo(tuple(a), tuple(b), 1_000), rel=1e-12
    )
    assert dtw_band(a, b, 2) >= full - 1e-12
    assert dtw_band(a, a, 3) == 0.0


def _viterbi_brute(bits, p_stay, p_emit):
    n = len(bits)
    lstay, lmove = np.log(p_stay), np.log(1 - p_stay)
    lhit, lmiss = np.log(p_emit), np.log(1 - p_emit)
    best, best_path = -np.inf, None
    for path in itertools.product((0, 1), repeat=n):
        lp = np.log(0.5)
        lp += lhit if path[0] == bits[0] else lmiss
        for t in range(1, n):
            lp += lstay if path[t] == path[t - 1] else lmove
            lp += lhit if path[t] == bits[t] else lmiss
        # tie-break identical to the kernel: prefer lexicographically
        # smaller path (prefer state 0 / staying propagates to this)
        if lp > best + 1e-12 or (
            abs(lp - best) <= 1e-12
            and (best_path is None or path < best_path)
        ):
            best, best_path = lp, path
    return np.array(best_path, dtype=np.int8)


@pytest.mark.parametrize("seed", range(6))
def test_viterbi_matches_bruteforce(seed):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(2, 11))
    bits = rng.integers(0, 2, size=n).astype(np.int8)
    got = viterbi_2state(bits, 0.9, 0.8)
    want = _viterbi_brute(bits, 0.9, 0.8)
    lstay, lmove = np.log(0.9), np.log(0.1)
    lhit, lmiss = np.log(0.8), np.log(0.2)

    def logp(path):
        lp = np.log(0.5) + (lhit if path[0] == bits[0] else lmiss)
        for t in range(1, n):
            lp += lstay if path[t] == path[t - 1] else lmove
            lp += lhit if path[t] == bits[t] else lmiss
        return lp

    # the DP must achieve the optimal probability (paths may differ
    # only within exact ties)
    assert logp(got) == pytest.approx(logp(want), abs=1e-10)


def test_viterbi_denoises_isolated_flips():
    bits = np.array([0, 0, 0, 1, 0, 0, 1, 1, 1, 1, 0, 1, 1], dtype=np.int8)
    path = viterbi_2state(bits, 0.95, 0.75)
    # isolated flips are absorbed: at most one switch block each way
    assert (np.diff(path) != 0).sum() <= 2


def _lru_simulate(keys, size):
    """Independent per-size LRU simulation (move-to-front list)."""
    cache: list = []
    hits = 0
    for k in keys:
        if k in cache:
            hits += 1
            cache.remove(k)
        cache.append(k)
        if len(cache) > size:
            cache.pop(0)
    return hits / len(keys)


@pytest.mark.parametrize("seed", [0, 1, 2])
@pytest.mark.parametrize("size", [1, 2, 4, 8])
def test_lru_stack_distance_matches_simulation(seed, size):
    from diive_spark.operators.seqkernels import lru_stack_distances

    rng = np.random.default_rng(seed)
    keys = rng.integers(0, 12, size=300)
    d = lru_stack_distances(keys)
    got = (d <= size).sum() / len(keys)
    want = _lru_simulate(list(keys), size)
    assert got == pytest.approx(want, abs=1e-12)


def test_lru_inclusion_property():
    from diive_spark.operators.seqkernels import lru_stack_distances

    rng = np.random.default_rng(9)
    keys = rng.integers(0, 30, size=500)
    d = lru_stack_distances(keys)
    rates = [(d <= c).sum() for c in (1, 2, 4, 8, 16, 32)]
    assert rates == sorted(rates)
