"""Correctness checkers.  Pure pandas: each takes the engine's collected
result and an expectation, and returns a list of human-readable
mismatches (empty = correct).  A non-empty list counts the operation as
failed."""

from __future__ import annotations

import numpy as np
import pandas as pd

from diive_spark.oracle import pandas_oracle as oracle

# the screen chain's parameters, shared by the engine call and the oracle
ZSCORE_THRES = 4.0
HAMPEL_WINSIZE = 15
HAMPEL_NSD = 7.0
GAP_LIMIT = 3
MINCOUNTS_PERC = 0.9
RTOL = 1e-9  # aggregation order differs between Spark and pandas


def hampel_single_pass(s: pd.Series, winsize: int, n_sd: float) -> pd.Series:
    """Single-pass Hampel flag over the non-null positions — the
    non-iterated form of ``pandas_oracle.localsd_flag``."""
    nn = s.dropna()
    med = nn.rolling(winsize, center=True, min_periods=3).median()
    sd = nn.rolling(winsize, center=True, min_periods=3).std()
    rej = (nn > med + n_sd * sd) | (nn < med - n_sd * sd)
    flag = pd.Series(0, index=s.index, dtype="int64")
    flag.loc[rej[rej].index] = 2
    return flag


def oracle_screen(shard: pd.DataFrame, url: str, freq_s: int, tiers) -> tuple[pd.DataFrame, dict]:
    """The screen chain for one url, re-run with the pandas oracle:
    per-record frame (ts-sorted) and ``{tier: gated rollup}``."""
    g = shard[shard["url"] == url].sort_values("ingest_seq")
    g = g.drop_duplicates("ts", keep="last").sort_values("ts")
    s = pd.Series(g["value"].to_numpy(), index=pd.DatetimeIndex(g["ts"]))
    fz = oracle.zscore_flag(s, thres_zscore=ZSCORE_THRES, repeat=True)
    fh = hampel_single_pass(s, HAMPEL_WINSIZE, HAMPEL_NSD)
    hard, soft = oracle.flag_sums(pd.DataFrame({"z": fz, "h": fh}))
    qcf = oracle.qcf_ladder(hard, soft)
    value_qcf, _ = oracle.apply_qcf(s, qcf)
    filled = oracle.linear_interp_limited(value_qcf, gap_limit=GAP_LIMIT)
    rows = pd.DataFrame(
        {
            "ts_s": epoch_s(s.index),
            "flag_zscore": fz.to_numpy(),
            "flag_hampel": fh.to_numpy(),
            "qcf": qcf.to_numpy(),
            "value_filled": filled.to_numpy(),
            "flag_gapfilled": (value_qcf.isna() & filled.notna()).to_numpy().astype(int),
        }
    )
    rolled = {}
    for tier in tiers:
        r = oracle.resample_series_gated(
            filled, tier.seconds, mincounts_perc=MINCOUNTS_PERC, source_freq_seconds=freq_s
        )
        rolled[tier.name] = pd.DataFrame(
            {
                "window_end_s": epoch_s(r.index),
                "agg_mean": r["agg_mean"].to_numpy(),
                "agg_sum": r["agg_sum"].to_numpy(),
                "n_vals": r["n_vals"].to_numpy(),
            }
        )
    return rows, rolled


def epoch_s(ts) -> np.ndarray:
    """Timestamps (naive UTC or tz-aware) -> int64 epoch seconds."""
    idx = pd.DatetimeIndex(ts)
    if idx.tz is not None:
        idx = idx.tz_convert("UTC").tz_localize(None)
    return idx.as_unit("s").asi8


def compare_frames(
    got: pd.DataFrame,
    want: pd.DataFrame,
    keys: list[str],
    exact: list[str],
    approx: list[str],
    label: str,
) -> list[str]:
    """Row-set equality on ``keys``; ``exact`` columns bit-equal (NaN ==
    NaN), ``approx`` columns equal to within ``RTOL``."""
    if len(got) != len(want):
        return [f"{label}: {len(got)} rows, want {len(want)}"]
    g = got.sort_values(keys).reset_index(drop=True)
    w = want.sort_values(keys).reset_index(drop=True)
    errs = []
    for c in keys + exact:
        a, b = g[c].to_numpy(), w[c].to_numpy()
        same = (a == b) | (pd.isna(a) & pd.isna(b))
        if not np.all(same):
            i = int(np.flatnonzero(~same)[0])
            errs.append(f"{label}.{c}: row {i} got {a[i]!r} want {b[i]!r}")
    for c in approx:
        a, b = g[c].to_numpy(dtype=float), w[c].to_numpy(dtype=float)
        if not np.allclose(a, b, rtol=RTOL, atol=0.0, equal_nan=True):
            i = int(np.flatnonzero(~np.isclose(a, b, rtol=RTOL, atol=0.0, equal_nan=True))[0])
            errs.append(f"{label}.{c}: row {i} got {a[i]!r} want {b[i]!r}")
    return errs


def check_screen(
    shard: pd.DataFrame,
    urls: list[str],
    rows: pd.DataFrame,
    rolled: dict[str, pd.DataFrame],
    freq_s: int,
    tiers,
) -> list[str]:
    """Engine output for ``urls`` against the oracle chain.  ``rows``: the
    engine's per-record frame for those urls (``url, ts_s`` + flag and
    value columns); ``rolled``: ``{tier: url, window_end_s, agg_*, n_vals}``
    holding at least those urls."""
    errs = []
    for url in urls:
        want_rows, want_rolled = oracle_screen(shard, url, freq_s, tiers)
        errs += compare_frames(
            rows[rows["url"] == url],
            want_rows,
            ["ts_s"],
            ["flag_zscore", "flag_hampel", "qcf", "flag_gapfilled"],
            ["value_filled"],
            f"screen[{url}]",
        )
        for name, want in want_rolled.items():
            got = rolled[name]
            errs += compare_frames(
                got[got["url"] == url],
                want,
                ["window_end_s"],
                ["n_vals"],
                ["agg_mean", "agg_sum"],
                f"screen[{url}].{name}",
            )
    return errs


def check_tier(got: pd.DataFrame, want: pd.DataFrame, label: str) -> list[str]:
    """An incrementally maintained tier against a one-shot rollup."""
    return compare_frames(
        got, want, ["url", "window_end_s"], ["n_vals"], ["agg_mean", "agg_sum"], label
    )


def check_bits(got: pd.DataFrame, want: pd.DataFrame, label: str) -> list[str]:
    """Decoded points (``url, ts_us, value``) bit-exact against the points
    that were encoded; NaN must decode as NaN."""
    if len(got) != len(want):
        return [f"{label}: {len(got)} points, want {len(want)}"]
    keys = ["url", "ts_us"]
    g = got.sort_values(keys).reset_index(drop=True)
    w = want.sort_values(keys).reset_index(drop=True)
    errs = []
    if not (g["url"].to_numpy() == w["url"].to_numpy()).all() or not (
        g["ts_us"].to_numpy() == w["ts_us"].to_numpy()
    ).all():
        errs.append(f"{label}: decoded keys differ")
    a = g["value"].to_numpy(dtype=np.float64)
    b = w["value"].to_numpy(dtype=np.float64)
    nan_a, nan_b = np.isnan(a), np.isnan(b)
    if not (nan_a == nan_b).all() or not (a[~nan_a].view(np.int64) == b[~nan_b].view(np.int64)).all():
        errs.append(f"{label}: decoded values are not bit-exact")
    return errs
