"""Seeded input generator for the rollup-engine benchmark.

Everything here is numpy/pandas and depends only on the seed, so the same
seed always yields byte-identical inputs and the engine under test only
ever sees the generated tables.  The *shape* of each table (row count,
series count, Zipf rank -> length profile, gap/spike/duplicate rates) is
fixed; the seed decides which url is hot, where series start, and every
value — so work per operation stays comparable across seeds.

Long format throughout: ``(url, ts, value, ingest_seq)`` with ``ts`` an
END-labelled UTC timestamp on a regular per-series grid, ``value`` float64
with nulls (NaN) for missing records, and ``ingest_seq`` the arrival order
(a duplicate ``(url, ts)`` always arrives later than the record it
supersedes, so keep-last means "highest ingest_seq").
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

T0 = pd.Timestamp("2024-03-01 00:00:00")
DAY_S = 86400


@dataclass(frozen=True)
class Shape:
    n_urls: int
    n_rows: int  # target rows before duplicates are added
    freq_s: int  # grid step of every series
    zipf_s: float  # series-length skew: length ~ 1 / rank**zipf_s
    min_len: int  # floor on series length
    dup_frac: float = 0.0  # share of rows re-sent later with a new value
    gap_runs_per_k: float = 0.0  # NaN runs (length 1..6) per 1000 points
    spike_frac: float = 0.0  # share of points turned into +-spikes
    start_jitter_s: int = 0  # per-series start offset range


def zipf_lengths(shape: Shape) -> np.ndarray:
    """Series lengths by Zipf rank (rank 1 longest); seed-independent."""
    w = 1.0 / np.arange(1, shape.n_urls + 1) ** shape.zipf_s
    lengths = np.floor(shape.n_rows * w / w.sum()).astype(np.int64)
    return np.maximum(lengths, shape.min_len)


def make_series(rng: np.random.Generator, shape: Shape, url_tag: str) -> pd.DataFrame:
    """One table of ``shape.n_urls`` series in arrival (shuffled) order."""
    lengths = zipf_lengths(shape)
    # which url gets which rank is the seed's choice
    lengths = lengths[rng.permutation(shape.n_urls)]
    urls, ts_s, vals = [], [], []
    t0 = int(T0.timestamp())
    for u, n in enumerate(lengths):
        start = t0 + shape.freq_s * int(rng.integers(0, shape.start_jitter_s // shape.freq_s + 1))
        t = start + shape.freq_s * np.arange(n, dtype=np.int64)
        base = rng.uniform(-20.0, 300.0)
        amp = rng.uniform(1.0, 15.0)
        v = base + amp * np.sin(2 * np.pi * (t % DAY_S) / DAY_S) + rng.normal(0.0, 1.0, n)
        n_spikes = int(round(n * shape.spike_frac))
        if n_spikes:
            ix = rng.choice(n, size=n_spikes, replace=False)
            v[ix] += rng.choice([-1.0, 1.0], size=n_spikes) * rng.uniform(40.0, 80.0, n_spikes)
        n_gaps = int(round(n * shape.gap_runs_per_k / 1000.0))
        for _ in range(n_gaps):
            g0 = int(rng.integers(0, max(1, n - 6)))
            v[g0 : g0 + int(rng.integers(1, 7))] = np.nan
        urls.append(np.full(n, f"https://{url_tag}{u:05d}.example/s"))
        ts_s.append(t)
        vals.append(v)
    url = np.concatenate(urls)
    ts = np.concatenate(ts_s)
    value = np.concatenate(vals)
    order = rng.permutation(len(url))
    url, ts, value = url[order], ts[order], value[order]
    seq = np.arange(len(url), dtype=np.int64)
    n_dup = int(round(len(url) * shape.dup_frac))
    if n_dup:
        ix = rng.choice(len(url), size=n_dup, replace=False)
        url = np.concatenate([url, url[ix]])
        ts = np.concatenate([ts, ts[ix]])
        value = np.concatenate([value, value[ix] + rng.normal(0.0, 5.0, n_dup)])
        seq = np.concatenate([seq, len(seq) + np.arange(n_dup, dtype=np.int64)])
    return pd.DataFrame(
        {
            "url": url,
            "ts": pd.to_datetime(ts, unit="s"),
            "value": value,
            "ingest_seq": seq,
        }
    )


def traffic_shape(pdf: pd.DataFrame, late: np.ndarray | None = None) -> dict:
    """max/mean rows per key, duplicate share, null share, late share."""
    per_key = pdf.groupby("url").size()
    dups = len(pdf) - len(pdf.drop_duplicates(["url", "ts"]))
    return {
        "rows": int(len(pdf)),
        "keys": int(len(per_key)),
        "max_rows_per_key": int(per_key.max()),
        "mean_rows_per_key": round(float(per_key.mean()), 1),
        "dup_share": round(dups / len(pdf), 5),
        "null_share": round(float(pdf["value"].isna().mean()), 5),
        "late_share": round(float(late.mean()), 5) if late is not None else 0.0,
    }


def write_parquet(pdf: pd.DataFrame, path: str) -> int:
    """Write a long-format table with NaN stored as null; returns bytes."""
    table = pa.table(
        {
            "url": pa.array(pdf["url"].to_numpy(), pa.string()),
            "ts": pa.array(pdf["ts"].to_numpy(), pa.timestamp("us", tz="UTC")),
            "value": pa.array(
                pdf["value"].to_numpy(), pa.float64(), mask=pdf["value"].isna().to_numpy()
            ),
            "ingest_seq": pa.array(pdf["ingest_seq"].to_numpy(), pa.int64()),
        }
    )
    pq.write_table(table, path)
    return os.path.getsize(path)


# -- workload inputs ---------------------------------------------------------

# screen: one shard = one operation; Zipf-skewed lengths, so a few hot urls
# and many short series (the per-group Arrow cost of the z-score kernel).
# Far below FIXTURES.md's `small` scale, so that a run fits the time
# budget (perfbench/README.md, "Input sizes")
SCREEN_SHAPE = Shape(
    n_urls=128, n_rows=6_000, freq_s=60, zipf_s=1.1, min_len=30,
    dup_frac=0.005, gap_runs_per_k=12.0, spike_frac=0.004, start_jitter_s=6 * 3600,
)

# ingest: many keys, mild skew, 1-minute grid over several days
STORE_FREQ_S = 60


def screen_shards(seed: int, n_shards: int) -> list[pd.DataFrame]:
    rng = np.random.default_rng([seed, 1])
    return [make_series(rng, SCREEN_SHAPE, f"scr{i}-") for i in range(n_shards)]


def store_series(
    rng: np.random.Generator, n_urls: int, n_days: int, zipf_s: float, url_tag: str
) -> pd.DataFrame:
    """Dense-ish 1-minute series spanning ``n_days`` whole days, with gaps
    and spikes but no duplicates (tiers merge by summation)."""
    shape = Shape(
        n_urls=n_urls, n_rows=n_urls * n_days * DAY_S // STORE_FREQ_S,
        freq_s=STORE_FREQ_S, zipf_s=zipf_s, min_len=1, gap_runs_per_k=4.0,
        spike_frac=0.002,
    )
    pdf = make_series(rng, shape, url_tag)
    # clip every series to the span so day boundaries are fixed: timestamps
    # label a record's end, so the span is (T0, T0 + n_days]
    end = T0 + pd.Timedelta(days=n_days)
    return pdf[(pdf["ts"] > T0) & (pdf["ts"] <= end)].reset_index(drop=True)
