"""The benchmark's own tests (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE.parent.parent))

import check  # noqa: E402
import gen  # noqa: E402
from diive_spark.config import DEFAULT_TIERS  # noqa: E402
from spans import Span, Tracer, layer_report, self_times  # noqa: E402

# -- generator -------------------------------------------------------------


def test_generator_is_deterministic_per_seed():
    a = gen.screen_shards(5, 2)
    b = gen.screen_shards(5, 2)
    for x, y in zip(a, b):
        pd.testing.assert_frame_equal(x, y)
    s1 = gen.store_series(np.random.default_rng([5, 2]), 8, 2, 0.3, "t-")
    s2 = gen.store_series(np.random.default_rng([5, 2]), 8, 2, 0.3, "t-")
    pd.testing.assert_frame_equal(s1, s2)


def test_generator_differs_across_seeds():
    a = gen.screen_shards(5, 1)[0]
    b = gen.screen_shards(6, 1)[0]
    assert not a["value"].equals(b["value"])
    # which url is hot is the seed's choice; the length profile is not
    assert a["url"].value_counts().idxmax() != b["url"].value_counts().idxmax()

    def lengths(x):
        return sorted(x.drop_duplicates(["url", "ts"]).groupby("url").size())

    assert lengths(a) == lengths(b)


def test_store_series_covers_whole_days_only():
    # end-labelled timestamps: every record's window lies in days 0..n-1
    s = gen.store_series(np.random.default_rng([5, 2]), 8, 2, 0.3, "t-")
    assert s["ts"].min() > gen.T0
    assert s["ts"].max() <= gen.T0 + pd.Timedelta(days=2)


def test_traffic_shape_reports_skew_duplicates_nulls_late():
    shard = gen.screen_shards(1, 1)[0]
    late = np.zeros(len(shard), dtype=bool)
    late[:10] = True
    shape = gen.traffic_shape(shard, late)
    assert shape["max_rows_per_key"] > 5 * shape["mean_rows_per_key"]
    assert 0.003 < shape["dup_share"] < 0.007
    assert 0.0 < shape["null_share"] < 0.1
    assert shape["late_share"] == pytest.approx(10 / len(shard), abs=1e-5)


# -- correctness checkers ----------------------------------------------------


@pytest.fixture(scope="module")
def screen_case():
    """A shard, two of its urls, and the oracle's output shaped like the
    engine's collected result (so an unperturbed result passes)."""
    shard = gen.screen_shards(3, 1)[0]
    urls = list(shard["url"].value_counts().index[:2])
    rows, rolled = [], {t.name: [] for t in DEFAULT_TIERS}
    for url in urls:
        r, t = check.oracle_screen(shard, url, gen.SCREEN_SHAPE.freq_s, DEFAULT_TIERS)
        rows.append(r.assign(url=url))
        for name, df in t.items():
            rolled[name].append(df.assign(url=url))
    rows = pd.concat(rows, ignore_index=True)
    rolled = {k: pd.concat(v, ignore_index=True) for k, v in rolled.items()}
    return shard, urls, rows, rolled


def run_screen_check(case, rows=None, rolled=None):
    shard, urls, r0, t0 = case
    return check.check_screen(
        shard, urls, r0 if rows is None else rows, t0 if rolled is None else rolled,
        gen.SCREEN_SHAPE.freq_s, DEFAULT_TIERS,
    )


def test_screen_check_accepts_oracle_result(screen_case):
    assert run_screen_check(screen_case) == []


def test_screen_check_rejects_a_flipped_flag(screen_case):
    rows = screen_case[2].copy()
    rows.loc[5, "flag_hampel"] = 2 - rows.loc[5, "flag_hampel"]
    assert run_screen_check(screen_case, rows=rows)


def test_screen_check_rejects_a_perturbed_fill(screen_case):
    rows = screen_case[2].copy()
    i = rows["value_filled"].first_valid_index()
    rows.loc[i, "value_filled"] *= 1 + 1e-6
    assert run_screen_check(screen_case, rows=rows)


def test_screen_check_rejects_a_missing_bucket(screen_case):
    rolled = dict(screen_case[3])
    rolled["1h"] = rolled["1h"].iloc[1:]
    assert run_screen_check(screen_case, rolled=rolled)


def tier_frame():
    return pd.DataFrame(
        {
            "url": ["a", "a", "b"],
            "window_end_s": [3600, 7200, 3600],
            "agg_mean": [1.5, 2.0, np.nan],
            "agg_sum": [3.0, 4.0, 0.0],
            "n_vals": [2, 2, 0],
        }
    )


def test_tier_check_ignores_row_order_and_rejects_perturbation():
    want = tier_frame()
    assert check.check_tier(want.iloc[::-1], want, "t") == []
    bad = want.copy()
    bad.loc[1, "n_vals"] = 3
    assert check.check_tier(bad, want, "t")
    bad = want.copy()
    bad.loc[0, "agg_mean"] += 1e-6
    assert check.check_tier(bad, want, "t")
    bad = want.copy()
    bad.loc[2, "window_end_s"] = 7200
    assert check.check_tier(bad, want, "t")


def test_bits_check_is_bit_exact():
    want = pd.DataFrame(
        {"url": ["a", "a", "b"], "ts_us": [1, 2, 1], "value": [0.1, np.nan, -3.0]}
    )
    assert check.check_bits(want.iloc[::-1], want, "c") == []
    bad = want.copy()
    bad.loc[0, "value"] = np.nextafter(0.1, 1.0)  # one ulp off
    assert check.check_bits(bad, want, "c")
    bad = want.copy()
    bad.loc[1, "value"] = 0.0  # NaN must stay NaN
    assert check.check_bits(bad, want, "c")
    assert check.check_bits(want.iloc[:2], want, "c")


# -- span arithmetic ---------------------------------------------------------


def test_self_time_on_a_synthetic_span_tree():
    spans = [
        Span(0, "op.x", 0, None, 0.0, 10.0),
        Span(1, "tiers.a", 0, 0, 1.0, 4.0),
        Span(2, "tiers.b", 0, 0, 3.0, 6.0),  # overlaps its sibling
        Span(3, "compression.c", 0, 1, 2.0, 3.0),  # grandchild
        Span(4, "tiers.d", 0, 0, 9.0, 12.0),  # outlives its parent
    ]
    # op: 10 - |[1,6] u [9,10]| = 4; a: 3 - 1; grandchild and leaves: whole
    assert self_times(spans) == pytest.approx([4.0, 2.0, 3.0, 1.0, 3.0])
    rep = layer_report(spans)
    assert rep["tiers"] == {"spans": 3, "total_s": pytest.approx(9.0), "self_s": pytest.approx(8.0)}
    assert rep["op"]["self_s"] == pytest.approx(4.0)


def test_tracer_links_parents_and_skips_spark_without_context():
    tr = Tracer()
    with tr.span("op.x", 7):
        with tr.span("tiers.a", 7):
            pass
        with tr.span("tiers.b", 7) as sp:
            sp.counts["n"] = 1
    assert [(s.name, s.parent, s.op_id) for s in tr.spans] == [
        ("op.x", None, 7), ("tiers.a", 0, 7), ("tiers.b", 0, 7)
    ]
    assert all(s.end >= s.start for s in tr.spans)
    assert tr.spans[2].counts == {"n": 1}


def test_benchmark_json_lists_every_per_layer_metric():
    import json

    import run

    tr = Tracer()
    with tr.span("op.x", 0):
        with tr.span("resample.rollup_1m", 0) as sp:
            sp.counts.update(buckets_out=9, buckets_in=10)
    extra = [
        "session.start_s", "trace.untraced_op_s", "trace.traced_op_s",
        "trace.overhead_s", "trace.empty_stage_s",
    ]
    got = run.per_layer_metrics(tr, 1, dict.fromkeys(extra, 1.0))
    assert got["resample.gate_pass_ratio"] == (pytest.approx(0.9), "ratio")
    declared = json.loads((HERE.parent.parent / "BENCHMARK.json").read_text())["per_layer"]
    assert {m["name"]: m["unit"] for m in declared} == {k: u for k, (_, u) in got.items()}


def test_trace_bookkeeping_is_not_counted_as_the_program():
    import run

    tr = Tracer()
    with tr.span("op.x", 0) as op:
        with tr.span("outliers.hampel", 0) as sp:
            sp.counts.update(jobs=2, stages=3)
        with tr.span("trace.count", 0) as bk:
            bk.counts.update(jobs=5, stages=5)
    op.counts.update(jobs=1, stages=1)
    # op 0..10, hampel 1..4, bookkeeping 4..9
    op.start, op.end = 0.0, 10.0
    sp.start, sp.end = 1.0, 4.0
    bk.start, bk.end = 4.0, 9.0
    got = run.per_layer_metrics(tr, 1, {"trace.empty_stage_s": 0.5})
    assert got["spark.jobs"] == (3, "count")
    assert got["spark.stage_floor_s"] == (pytest.approx(2.0), "s")
    assert got["op.self_s"] == (pytest.approx(2.0), "s")
