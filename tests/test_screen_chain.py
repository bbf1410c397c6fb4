"""The screen chain (dedup -> iterated z-score kernel -> Hampel window ->
QCF -> limited linear gap-fill): the shape of its executed plan, and the
two window operators' exactness on the null placements their frames must
handle."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from diive_spark.operators.flags import add_qcf
from diive_spark.operators.gapfill import linear_interp_limited
from diive_spark.operators.outliers import hampel_flag_expr, zscore_flag_iterated
from diive_spark.operators.sanitize import dedup_keep_last
from diive_spark.oracle import pandas_oracle as oracle
from perfbench.check import hampel_single_pass

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    HAVE_HYP = True
except ImportError:  # pragma: no cover
    HAVE_HYP = False


def _final_plan_nodes(spark, df) -> list[tuple[str, str]]:
    """``(name, description)`` of every node of the final adaptive plan
    that a ``noop`` write of ``df`` executed, read from the SQL status
    store (the plan AQE re-optimised while it ran, not the initial one)."""
    df.write.format("noop").mode("overwrite").save()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    runs = store.executionsList()
    last = max(runs.apply(i).executionId() for i in range(runs.size()))
    nodes = store.planGraph(last).allNodes()
    return [(nodes.apply(i).name(), nodes.apply(i).desc()) for i in range(nodes.size())]


def test_screen_chain_plan_shape(spark):
    rng = np.random.default_rng(7)
    n = 600
    pdf = pd.DataFrame(
        {
            "url": rng.choice(["a", "b", "c", "d"], n),
            "ts": pd.Timestamp("2024-01-01")
            + pd.to_timedelta(rng.integers(0, 240, n) * 60, unit="s"),
            "value": np.where(rng.random(n) < 0.1, np.nan, rng.normal(size=n)),
            "ingest_seq": np.arange(n),
        }
    )
    d = dedup_keep_last(spark.createDataFrame(pdf), "url", "ts", order_col="ingest_seq")
    z = zscore_flag_iterated(d, "url", "ts", "value")
    h = hampel_flag_expr(z, "url", "ts", "value", winsize=15, n_sd=7.0)
    q = add_qcf(h, ["flag_zscore", "flag_hampel"])
    f = linear_interp_limited(q, "url", "ts", "value_qcf", gap_limit=3, out_col="value_filled")
    nodes = _final_plan_nodes(spark, f)
    names = [name for name, _ in nodes]
    # one pass of the Python kernel
    assert names.count("FlatMapGroupsInPandas") == 1, names
    # dedup and the kernel share one exchange; the windows after the kernel
    # share the second
    assert sum("Exchange" in name for name in names) <= 2, names
    assert not any("unboundedfollowing" in desc.lower() for _, desc in nodes)
    hampel = [desc for name, desc in nodes if name == "Window" and "percentile(" in desc]
    assert len(hampel) == 1, hampel
    for agg in ("percentile(", "stddev_samp(", "count("):
        assert hampel[0].count(agg) == 1, (agg, hampel[0])


# -- Hampel: where the null rows sit ------------------------------------------

WINSIZE, N_SD = 7, 2.0


@pytest.fixture(scope="module")
def hampel_series():
    rng = np.random.default_rng(11)
    n = 60
    frames = []

    def add(key, v):
        frames.append(pd.DataFrame({"k": key, "slot": np.arange(len(v)), "v": v}))

    spikes = rng.normal(0, 1, n)
    spikes[::9] += 15.0
    lead = spikes.copy()
    lead[:6] = np.nan
    trail = spikes.copy()
    trail[-6:] = np.nan
    inter = spikes.copy()
    inter[rng.random(n) < 0.3] = np.nan
    both = spikes.copy()
    both[:4] = np.nan
    both[-4:] = np.nan
    both[20:25] = np.nan
    two = np.full(n, np.nan)
    two[[10, 40]] = [1.0, 50.0]
    add("lead", lead)
    add("trail", trail)
    add("inter", inter)
    add("both", both)
    add("two_valid", two)
    add("all_null", np.full(n, np.nan))
    return pd.concat(frames, ignore_index=True)


def _hampel_pdf(spark, pdf, **kw):
    out = hampel_flag_expr(
        spark.createDataFrame(pdf), "k", "slot", "v", winsize=WINSIZE, n_sd=N_SD, **kw
    )
    return out.toPandas().sort_values(["k", "slot"]).reset_index(drop=True)


def test_hampel_null_placement_matches_single_pass(spark, hampel_series):
    got = _hampel_pdf(spark, hampel_series)
    assert len(got) == len(hampel_series)
    assert (got.loc[got["v"].isna(), "flag_hampel"] == 0).all()
    assert got["flag_hampel"].eq(2).any()
    for key, g in hampel_series.groupby("k"):
        want = hampel_single_pass(g["v"].reset_index(drop=True), WINSIZE, N_SD)
        np.testing.assert_array_equal(
            got.loc[got["k"] == key, "flag_hampel"].to_numpy(), want.to_numpy(), err_msg=key
        )
    chunked = _hampel_pdf(spark, hampel_series, chunk_rows=5)
    pd.testing.assert_frame_equal(got, chunked)


# -- gap-fill: bounded frames are exact ---------------------------------------

GAP_LIMITS = [0, 1, 3, 5]


def _interp_case(spark, series: list[list[float | None]], gap_limit: int):
    """Run the engine on ``series`` (one key each) and compare every key
    with the pandas oracle: values bit for bit, flags exactly."""
    rows = [(k, i, x) for k, s in enumerate(series) for i, x in enumerate(s)]
    sdf = spark.createDataFrame(rows, "k int, slot long, v double")
    got = (
        linear_interp_limited(sdf, "k", "slot", "v", gap_limit=gap_limit, out_col="v_f")
        .toPandas()
        .sort_values(["k", "slot"])
        .reset_index(drop=True)
    )
    assert list(got.columns) == ["k", "slot", "v", "flag_gapfilled", "v_f"]
    for k, s in enumerate(series):
        v = pd.Series(s, dtype="float64")
        want = oracle.linear_interp_limited(v, gap_limit=gap_limit)
        g = got[got["k"] == k]
        np.testing.assert_array_equal(g["v_f"].to_numpy(), want.to_numpy())
        np.testing.assert_array_equal(
            g["flag_gapfilled"].to_numpy(),
            (v.isna() & want.notna()).to_numpy().astype("int8"),
        )


if HAVE_HYP:

    @st.composite
    def null_masked_series(draw, gap_limit: int):
        """Valid runs separated by null runs of ``gap_limit``,
        ``gap_limit + 1``, ``gap_limit + 2``, 1 or 2 rows, with optional
        leading and trailing nulls."""
        gap = st.sampled_from(
            [gap_limit, gap_limit + 1, gap_limit + 2, 1, 2]
        ).filter(lambda n: n > 0)
        value = st.floats(-1e6, 1e6, allow_nan=False, width=64)
        out: list[float | None] = [None] * draw(st.integers(0, 3))
        for _ in range(draw(st.integers(1, 6))):
            out += draw(st.lists(value, min_size=1, max_size=4))
            out += [None] * draw(gap)
        out += draw(st.lists(value, min_size=1, max_size=3))
        out += [None] * draw(st.integers(0, 3))
        return out

    # every example also carries an all-null and two one-row series
    EDGE_CASES = [[None] * 5, [3.5], [None], [1.0, None]]

    @pytest.mark.parametrize("gap_limit", GAP_LIMITS)
    @given(data=st.data())
    @settings(max_examples=12, deadline=None)
    def test_interp_bounded_frames_match_oracle(spark, gap_limit, data):
        drawn = data.draw(st.lists(null_masked_series(gap_limit), min_size=1, max_size=6))
        _interp_case(spark, EDGE_CASES + drawn, gap_limit)
