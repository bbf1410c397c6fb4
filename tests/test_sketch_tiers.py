"""KLL + Frequent-Directions sketches through the tier engine's pluggable
partials (plans/sketch_partials.py) — VERDICT r4 #9.

Pins, per the determinism contract documented in the module:
* exact counts survive any batch split (n is an exact integer sum);
* engine-merged state after a batch sequence == a direct Python fold of the
  same per-batch states in the same sequence (bit-equal serialized state);
* the sketch guarantee holds on the merged result regardless of batching
  (KLL rank error; FD spectral bound 2*||A||_F^2/ell);
* a re-applied batch_id is a no-op (same machinery as sum/count and M4).
"""

from __future__ import annotations

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from diive_spark.config import TierSpec
from diive_spark.operators.sketches2 import KLL, kll_rank
from diive_spark.plans.sketch_partials import (
    FDPartials,
    KLLPartials,
    fd_canonical_fold,
    kll_canonical_fold,
)
from diive_spark.plans.tiers import TierEngine


def _series_df(spark, n_keys=3, n_per_key=2400, freq_s=60):
    # deterministic synthetic: value = hash-derived uniform-ish doubles,
    # two 1-day windows per key at 60 s cadence
    return (
        spark.range(n_keys * n_per_key)
        .select(
            F.concat(F.lit("k"), (F.col("id") % n_keys)).alias("key"),
            F.timestamp_seconds(
                F.lit(1704067200)
                + (F.col("id") / n_keys).cast("long") * freq_s
            ).alias("ts"),
            ((F.xxhash64("id") % 100000) / 997.0).alias("value"),
        )
    )


def _batches(df, n=3):
    return [
        df.filter(F.pmod(F.xxhash64("key", "ts"), n) == i) for i in range(n)
    ]


def test_kll_partials_through_tier_engine(spark, tmp_path):
    df = _series_df(spark)
    spec = KLLPartials(k=64)
    eng = TierEngine(
        spark, str(tmp_path / "klltiers"),
        (TierSpec("1d", "1 day", 86400, mincounts_perc=0.0),),
        "key", "ts", "value", partials=spec,
    )
    batches = _batches(df)
    for i, b in enumerate(batches):
        eng.apply_batch(b, batch_id=f"kb{i}")

    final = {
        (r.key, r.window_end_s): r
        for r in eng.read_tier("1d").collect()
    }
    rows = df.select(
        "key",
        F.floor(F.unix_micros("ts") / 1_000_000).alias("ts_s"),
        "value",
    ).collect()
    exact: dict[tuple, list[tuple]] = {}
    for r in rows:
        wend = (r.ts_s // 86400 + 1) * 86400
        exact.setdefault((r.key, wend), []).append((r.ts_s, r.value))

    assert set(final) == set(exact)
    for grp, pts in exact.items():
        vals = np.sort(np.array([v for _, v in pts]))
        n = len(vals)
        rec = final[grp]
        # exact count survives sketching/merging
        assert rec.n == n
        # bounded state
        assert rec.sketch_items <= 3 * 64
        # rank-error guarantee on the merged sketch: each quantile
        # estimate's exact rank is within 8% of the target rank
        for q, est in ((0.05, rec.p05_est), (0.5, rec.p50_est),
                       (0.95, rec.p95_est)):
            rank = np.searchsorted(vals, est, side="right") / n
            assert abs(rank - q) < 0.08, (grp, q, rank)

    # merged==direct: engine state on disk == direct Python fold of the
    # same per-batch states in the same application order
    state = {
        (r.key, r.window_end_s): r
        for r in eng.stores["1d"].read(spark).collect()
    }
    per_batch: list[dict] = []
    for b in batches:
        brows = b.select(
            "key",
            F.floor(F.unix_micros("ts") / 1_000_000).alias("ts_s"),
            "value",
        ).collect()
        groups: dict[tuple, list[tuple]] = {}
        for r in brows:
            wend = (r.ts_s // 86400 + 1) * 86400
            groups.setdefault((r.key, wend), []).append((r.ts_s, r.value))
        sketches = {}
        for grp, pts in groups.items():
            sk = KLL(64)
            for _, v in sorted(pts):
                sk.update(float(v))
            sketches[grp] = sk
        per_batch.append(sketches)
    direct: dict[tuple, KLL] = {}
    for sketches in per_batch:
        for grp, sk in sketches.items():
            if grp not in direct:
                direct[grp] = sk
            else:
                states = [
                    (direct[grp].n, direct[grp]._flips,
                     [list(lv) for lv in direct[grp].levels]),
                    (sk.n, sk._flips, [list(lv) for lv in sk.levels]),
                ]
                direct[grp] = kll_canonical_fold(64, states)
    for grp, sk in direct.items():
        rec = state[grp]
        assert rec.kll_n == sk.n
        assert rec.kll_flips == sk._flips
        got_levels = [list(lv) for lv in rec.kll_levels]
        want_levels = [list(map(float, lv)) for lv in sk.levels]
        assert got_levels == want_levels, grp
        # sanity: total estimated mass ~= n (odd-length compactions shift
        # a unit of weight each — approximate by construction, never far)
        assert kll_rank(sk, float("inf")) == pytest.approx(sk.n, rel=0.02)

    # idempotent resume
    m = eng.apply_batch(df.limit(10), batch_id="kb1")
    assert m["1d"] == {"skipped": True}


def _vec_df(spark, n_keys=2, n_per_key=600, d=8):
    comps = F.array(
        *[
            ((F.xxhash64("id", F.lit(j)) % 1000) / 499.5 - 1.0)
            for j in range(d)
        ]
    )
    return spark.range(n_keys * n_per_key).select(
        F.concat(F.lit("s"), (F.col("id") % n_keys)).alias("key"),
        F.timestamp_seconds(
            F.lit(1704067200) + (F.col("id") / n_keys).cast("long") * 120
        ).alias("ts"),
        comps.alias("vec"),
    )


def test_kll_multi_tier_matches_single_tier_engines(spark, tmp_path, monkeypatch):
    """A kernel spec computes every tier's delta from the source and still
    shares the one staged write of a batch: a 1h+1d engine writes once per
    batch and holds bit-equal states to two single-tier engines."""
    from pyspark.sql.readwriter import DataFrameWriter

    writes, parquet = [], DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        writes.append(path)
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    df = _series_df(spark)
    tiers = (
        TierSpec("1h", "1 hour", 3600, mincounts_perc=0.0),
        TierSpec("1d", "1 day", 86400, mincounts_perc=0.0),
    )
    engines = [
        TierEngine(
            spark, str(tmp_path / name), ts, "key", "ts", "value",
            partials=KLLPartials(k=64),
        )
        for name, ts in (("both", tiers), ("1h", tiers[:1]), ("1d", tiers[1:]))
    ]
    for i, b in enumerate(_batches(df)):
        for eng in engines:
            eng.apply_batch(b, batch_id=f"kb{i}")
    assert [w for w in writes if w.startswith(str(tmp_path / "both"))] == [
        str(tmp_path / "both" / f"_staging_kb{i}") for i in range(3)
    ]

    def state(eng, name):
        return sorted(
            (r.key, r.window_end_s, r.kll_n, r.kll_flips, json.dumps(r.kll_levels))
            for r in eng.stores[name].read(spark).collect()
        )

    both, single_1h, single_1d = engines
    assert state(both, "1h") == state(single_1h, "1h")
    assert state(both, "1d") == state(single_1d, "1d")
    assert both.stores["1d"].read_manifest()["snapshots"][-1][
        "partition_rows"
    ] == single_1d.stores["1d"].read_manifest()["snapshots"][-1]["partition_rows"]


def test_fd_partials_through_tier_engine(spark, tmp_path):
    df = _vec_df(spark)
    ell = 6
    eng = TierEngine(
        spark, str(tmp_path / "fdtiers"),
        (TierSpec("1d", "1 day", 86400, mincounts_perc=0.0),),
        "key", "ts", "vec", partials=FDPartials(ell=ell),
    )
    batches = _batches(df)
    for i, b in enumerate(batches):
        eng.apply_batch(b, batch_id=f"fb{i}")

    state = {
        (r.key, r.window_end_s): r
        for r in eng.stores["1d"].read(spark).collect()
    }
    final = {
        (r.key, r.window_end_s): r for r in eng.read_tier("1d").collect()
    }
    rows = df.select(
        "key",
        F.floor(F.unix_micros("ts") / 1_000_000).alias("ts_s"),
        "vec",
    ).collect()
    exact: dict[tuple, list[tuple]] = {}
    for r in rows:
        wend = (r.ts_s // 86400 + 1) * 86400
        exact.setdefault((r.key, wend), []).append(
            (r.ts_s, np.asarray(r.vec, dtype=np.float64))
        )

    assert set(final) == set(exact)
    for grp, pts in exact.items():
        a = np.array([v for _, v in sorted(pts, key=lambda p: p[0])])
        rec = state[grp]
        assert rec.fd_n == len(a)
        assert rec.fd_fro2 == pytest.approx(float(np.sum(a * a)), rel=1e-9)
        b = np.asarray([list(x) for x in rec.fd_b], dtype=np.float64)
        diff = a.T @ a - b.T @ b
        lam = np.linalg.eigvalsh(diff)
        # Liberty guarantee: 0 <= x'(A'A-B'B)x <= 2||A||_F^2/ell under any
        # merge tree (mergeability, Ghashami et al. 2016 Thm 7)
        assert lam[0] >= -1e-6 * float(np.sum(a * a))
        assert lam[-1] <= 2.0 * float(np.sum(a * a)) / ell + 1e-6
        assert final[grp].err_bound == pytest.approx(
            2.0 * rec.fd_fro2 / ell
        )

    # merged==direct fold pin (same batch sequence)
    per_batch = []
    for b in batches:
        brows = b.select(
            "key",
            F.floor(F.unix_micros("ts") / 1_000_000).alias("ts_s"),
            "vec",
        ).collect()
        groups: dict[tuple, list[tuple]] = {}
        for r in brows:
            wend = (r.ts_s // 86400 + 1) * 86400
            groups.setdefault((r.key, wend), []).append(
                (r.ts_s, np.asarray(r.vec, dtype=np.float64))
            )
        sketches = {}
        for grp, pts in groups.items():
            from diive_spark.operators.sketches2 import frequent_directions

            a = np.array([v for _, v in sorted(pts, key=lambda p: p[0])])
            sketches[grp] = (
                len(a),
                float(np.sum(a * a)),
                frequent_directions(a, ell),
            )
        per_batch.append(sketches)
    direct: dict[tuple, tuple] = {}
    for sketches in per_batch:
        for grp, st in sketches.items():
            if grp not in direct:
                direct[grp] = st
            else:
                states = [
                    (
                        direct[grp][0],
                        direct[grp][1],
                        [list(map(float, r_)) for r_ in direct[grp][2]],
                    ),
                    (st[0], st[1], [list(map(float, r_)) for r_ in st[2]]),
                ]
                direct[grp] = fd_canonical_fold(ell, states)
    for grp, (n, fro2, bmat) in direct.items():
        rec = state[grp]
        assert rec.fd_n == n
        assert rec.fd_fro2 == pytest.approx(fro2, rel=1e-12)
        got = np.asarray([list(x) for x in rec.fd_b], dtype=np.float64)
        want = np.asarray(bmat, dtype=np.float64)
        # pad to common shape (serialized B always carries ell rows)
        if got.shape != want.shape:
            padded = np.zeros(got.shape)
            padded[: want.shape[0]] = want
            want = padded
        assert np.array_equal(got, want), grp

    m = eng.apply_batch(df.limit(10), batch_id="fb0")
    assert m["1d"] == {"skipped": True}


def test_kll_canonical_fold_is_sequence_deterministic():
    rng = np.random.RandomState(7)
    xs = [rng.normal(size=500) for _ in range(3)]
    sks = []
    for x in xs:
        sk = KLL(32)
        for v in x:
            sk.update(float(v))
        sks.append((sk.n, sk._flips, [list(lv) for lv in sk.levels]))
    # a twin that ties on (n, levels) and differs only in flips
    sks.append((sks[0][0], sks[0][1] + 1, sks[0][2]))
    a = kll_canonical_fold(32, list(sks))
    b = kll_canonical_fold(32, list(reversed(sks)))
    # canonical ordering makes ONE fold call independent of input order
    assert (a.n, a._flips, a.levels) == (b.n, b._flips, b.levels)
    # serialized states round-trip through json (what merge_frame relies on)
    assert json.loads(json.dumps(a.levels)) == a.levels
