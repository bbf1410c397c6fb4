"""KLL and Frequent-Directions sketches as TierEngine pluggable partials.

Completes the sketch-tier story the round-3 verdict started (VERDICT r4 #9):
M4 tuples proved the pluggable-partials spec on Column aggregates; these two
specs prove it on KERNEL aggregates — partial state that no built-in Spark
aggregate can express.  A kernel spec supplies ``partial_frame`` /
``merge_frame`` (applyInPandas grouped transforms over the same
(key, window_end_s[, window_day]) grouping the Column path uses); everything
else in the engine — lineage manifest, intent-log resume, append, expiry,
compaction — is aggregate-agnostic and untouched.

Determinism contract (what the merged==direct test pins rely on):

* partial state is built from rows sorted by (ts, value) — insertion order
  is defined, so the same batch always yields the same sketch;
* ``merge_frame`` folds a (key, window)'s stored states in write order
  (the engine's ``<seq>`` file prefix), one pair at a time; a pair merge
  canonically orders its two states (by count, then by the serialized
  state), so it is a deterministic function of the pair; a lone state is
  returned unmerged;
* the engine's state after a given batch SEQUENCE — folded at read or at
  compaction — is therefore bit-equal to a direct Python fold of the same
  per-batch states in the same sequence (pinned in
  tests/test_sketch_tiers.py).  Bit-identity across DIFFERENT batch orders
  is not claimed — KLL/FD merges are not bitwise commutative; what survives
  any merge tree is the sketch guarantee itself (KLL rank error,
  Karnin-Lang-Liberty FOCS'16; FD covariance bound 2*||A||_F^2/ell,
  Liberty KDD'13 / Ghashami et al. SIAM J. Comp. 2016), also pinned.

Scale shape: identical to SumCount/M4 tiers — one combinable kernel agg per
batch, a batch appends without reading live days, state per (key, window)
is O(k) / O(ell*d) regardless of row count.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from diive_spark.operators.sketches2 import (
    KLL,
    frequent_directions,
    kll_merge,
    kll_quantile,
)

__all__ = ["KLLPartials", "FDPartials"]


def _in_order(states: list[tuple], merge2):
    """Fold stored states in write order, one pair merge at a time: the
    state a sequence of per-batch merges would have stored.  A lone state
    is returned unmerged (a sketch's re-compression is not the identity)."""
    acc = states[0]
    for st in states[1:]:
        acc = merge2(acc, st)
    return acc


def _group_schema(df: DataFrame, cols: list[str], state_ddl: str) -> str:
    parts = [f"`{c}` {dict(df.dtypes)[c]}" for c in cols]
    return ", ".join(parts) + ", " + state_ddl


# ---------------------------------------------------------------------------
# KLL quantile-sketch tier
# ---------------------------------------------------------------------------


def _kll_to_cols(sk: KLL) -> tuple[int, int, list[list[float]]]:
    return sk.n, sk._flips, [list(map(float, lv)) for lv in sk.levels]


def _kll_from_cols(k: int, n: int, flips: int, levels) -> KLL:
    sk = KLL(k)
    sk.n = int(n)
    sk._flips = int(flips)
    sk.levels = [list(map(float, lv)) for lv in levels]
    if not sk.levels:
        sk.levels = [[]]
    return sk


def kll_canonical_fold(k: int, states: list[tuple[int, int, list]]) -> KLL:
    """Deterministic fold of a state multiset: order by (n, serialized
    levels, flips), then merge left-to-right.  Shared by the engine spec
    and the merged==direct test pin."""
    sks = sorted(states, key=lambda s: (s[0], json.dumps(s[2]), s[1]))
    out = _kll_from_cols(k, *sks[0])
    for st in sks[1:]:
        out = kll_merge(out, _kll_from_cols(k, *st))
    return out


class KLLPartials:
    """Per-(key, window) KLL quantile sketch as the tier aggregate."""

    columns = ("kll_n", "kll_flips", "kll_levels")
    supports_gating = False
    _STATE_DDL = (
        "kll_n long, kll_flips long, kll_levels array<array<double>>"
    )

    def __init__(self, k: int = 64):
        self.k = k

    def partial_frame(
        self,
        df: DataFrame,
        key_col: str,
        value_col: str,
        ts_s_col: str,
        window_cols: list[str],
    ) -> DataFrame:
        k = self.k
        group = [key_col, *window_cols]
        schema = _group_schema(df, group, self._STATE_DDL)

        def apply(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values([ts_s_col, value_col], kind="mergesort")
            sk = KLL(k)
            for v in pdf[value_col].to_numpy(dtype=np.float64):
                sk.update(float(v))
            n, flips, levels = _kll_to_cols(sk)
            row = {c: [pdf[c].iloc[0]] for c in group}
            row.update(
                {"kll_n": [n], "kll_flips": [flips], "kll_levels": [levels]}
            )
            return pd.DataFrame(row)

        return df.groupBy(*group).applyInPandas(apply, schema=schema)

    def merge_frame(
        self, df: DataFrame, group_cols: list[str], order_col: str
    ) -> DataFrame:
        k = self.k
        schema = _group_schema(df, group_cols, self._STATE_DDL)

        def apply(pdf: pd.DataFrame) -> pd.DataFrame:
            states = [
                (int(r.kll_n), int(r.kll_flips),
                 [list(lv) for lv in r.kll_levels])
                for r in pdf.sort_values(order_col, kind="mergesort").itertuples()
            ]
            n, flips, levels = _in_order(
                states, lambda a, b: _kll_to_cols(kll_canonical_fold(k, [a, b]))
            )
            row = {c: [pdf[c].iloc[0]] for c in group_cols}
            row.update(
                {"kll_n": [n], "kll_flips": [flips], "kll_levels": [levels]}
            )
            return pd.DataFrame(row)

        return df.groupBy(*group_cols).applyInPandas(apply, schema=schema)

    def finalize(self, df: DataFrame) -> DataFrame:
        k = self.k
        keep = [c for c in df.columns if c not in self.columns]
        schema = _group_schema(
            df, keep,
            "n long, sketch_items long, p05_est double, p50_est double,"
            " p95_est double",
        )

        def apply(it):
            for pdf in it:
                rows = []
                for r in pdf.itertuples():
                    sk = _kll_from_cols(
                        k, r.kll_n, r.kll_flips,
                        [list(lv) for lv in r.kll_levels],
                    )
                    rows.append(
                        {
                            **{c: getattr(r, c) for c in keep},
                            "n": sk.n,
                            "sketch_items": sum(
                                len(b) for b in sk.levels
                            ),
                            "p05_est": kll_quantile(sk, 0.05),
                            "p50_est": kll_quantile(sk, 0.50),
                            "p95_est": kll_quantile(sk, 0.95),
                        }
                    )
                yield pd.DataFrame(rows)

        return df.mapInPandas(apply, schema=schema)


# ---------------------------------------------------------------------------
# Frequent-Directions covariance-sketch tier
# ---------------------------------------------------------------------------


def fd_canonical_fold(
    ell: int, states: list[tuple[int, float, list]]
) -> tuple[int, float, np.ndarray]:
    """Deterministic fold: order states by (n, serialized B), stack the
    sketch rows, one FD pass over the stack (FD is fully mergeable —
    Ghashami et al. 2016, Thm 7)."""
    sts = sorted(states, key=lambda s: (s[0], json.dumps(s[2])))
    n = sum(int(s[0]) for s in sts)
    fro2 = float(sum(float(s[1]) for s in sts))
    mats = [np.asarray(s[2], dtype=np.float64) for s in sts]
    stacked = np.vstack(mats)
    # drop all-zero slack rows before the pass (keeps the fold invariant
    # to how much zero padding each serialized B carried)
    stacked = stacked[np.any(stacked != 0.0, axis=1)]
    if len(stacked) == 0:
        d = mats[0].shape[1]
        return n, fro2, np.zeros((ell, d))
    b = frequent_directions(stacked, ell)
    return n, fro2, b


class FDPartials:
    """Per-(key, window) Frequent-Directions matrix sketch of an
    array-typed value column (embedding stream) as the tier aggregate."""

    columns = ("fd_n", "fd_fro2", "fd_b")
    supports_gating = False
    _STATE_DDL = "fd_n long, fd_fro2 double, fd_b array<array<double>>"

    def __init__(self, ell: int = 16):
        self.ell = ell

    def partial_frame(
        self,
        df: DataFrame,
        key_col: str,
        value_col: str,
        ts_s_col: str,
        window_cols: list[str],
    ) -> DataFrame:
        ell = self.ell
        group = [key_col, *window_cols]
        schema = _group_schema(df, group, self._STATE_DDL)

        def apply(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(ts_s_col, kind="mergesort")
            a = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[value_col]]
            )
            b = frequent_directions(a, ell)
            row = {c: [pdf[c].iloc[0]] for c in group}
            row.update(
                {
                    "fd_n": [len(a)],
                    "fd_fro2": [float(np.sum(a * a))],
                    "fd_b": [[list(map(float, r)) for r in b]],
                }
            )
            return pd.DataFrame(row)

        return df.groupBy(*group).applyInPandas(apply, schema=schema)

    def merge_frame(
        self, df: DataFrame, group_cols: list[str], order_col: str
    ) -> DataFrame:
        ell = self.ell
        schema = _group_schema(df, group_cols, self._STATE_DDL)

        def fold(a, b):
            n, fro2, m = fd_canonical_fold(ell, [a, b])
            return n, fro2, [list(map(float, r_)) for r_ in m]

        def apply(pdf: pd.DataFrame) -> pd.DataFrame:
            states = [
                (int(r.fd_n), float(r.fd_fro2),
                 [list(x) for x in r.fd_b])
                for r in pdf.sort_values(order_col, kind="mergesort").itertuples()
            ]
            n, fro2, b = _in_order(states, fold)
            row = {c: [pdf[c].iloc[0]] for c in group_cols}
            row.update(
                {
                    "fd_n": [n],
                    "fd_fro2": [fro2],
                    "fd_b": [[list(map(float, r_)) for r_ in b]],
                }
            )
            return pd.DataFrame(row)

        return df.groupBy(*group_cols).applyInPandas(apply, schema=schema)

    def finalize(self, df: DataFrame) -> DataFrame:
        ell = self.ell
        keep = [c for c in df.columns if c not in self.columns]
        schema = _group_schema(
            df, keep,
            "n long, d long, ell long, top_sv double, fro2 double,"
            " err_bound double",
        )

        def apply(it):
            for pdf in it:
                rows = []
                for r in pdf.itertuples():
                    b = np.asarray(
                        [list(x) for x in r.fd_b], dtype=np.float64
                    )
                    sv = (
                        float(np.linalg.svd(b, compute_uv=False)[0])
                        if b.size
                        else 0.0
                    )
                    rows.append(
                        {
                            **{c: getattr(r, c) for c in keep},
                            "n": int(r.fd_n),
                            "d": int(b.shape[1]) if b.size else 0,
                            "ell": ell,
                            "top_sv": sv,
                            "fro2": float(r.fd_fro2),
                            "err_bound": 2.0 * float(r.fd_fro2) / ell,
                        }
                    )
                yield pd.DataFrame(rows)

        return df.mapInPandas(apply, schema=schema)
