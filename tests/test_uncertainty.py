"""RandomUncertaintyPAS20 differential: the Spark ladder (methods 1-4 +
expanding method-2 loop) must reproduce the reference class's per-record
random uncertainty exactly (same snapshot semantics, same window edges),
and cumulative propagation must equal sqrt(Σσ²) (uncertainty.py:108-137,
which the reference computes via the `uncertainties` package)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from diive_spark.operators.uncertainty import (
    cumulative_uncertainty,
    pas20_random_uncertainty,
)
from tests import reference_import as ri

REF = ri.load_reference()


def _series(n_days: int = 20, seed: int = 7) -> pd.DataFrame:
    """30-min single-sensor frame: measured flux with gaps, gap-filled flux,
    met drivers — continuous values (no flux ties, see method-4 sort)."""
    rng = np.random.default_rng(seed)
    idx = pd.date_range("2024-03-01", periods=n_days * 48, freq="30min")
    tod = (idx.hour * 3600 + idx.minute * 60).to_numpy()
    diurnal = np.sin(2 * np.pi * tod / 86400)
    gapfilled = 5 * diurnal + rng.normal(0, 2.0, len(idx))
    flux = gapfilled.copy()
    # ~35% gaps, incl. a 3-day hole so methods 2-4 all fire
    gaps = rng.random(len(idx)) < 0.3
    gaps[200:344] = True
    flux[gaps] = np.nan
    return pd.DataFrame(
        {
            "flux": flux,
            "gf": gapfilled,
            "ta": 12 + 6 * diurnal + rng.normal(0, 1.0, len(idx)),
            "vpd": 8 + 4 * diurnal + rng.normal(0, 1.5, len(idx)),
            "swin": np.clip(400 * diurnal, 0, None)
            + rng.normal(0, 20.0, len(idx)),
        },
        index=idx,
    )


@pytest.fixture(scope="module")
def ladder(spark):
    pdf = _series()
    sdf = spark.createDataFrame(
        pdf.reset_index(names="ts").assign(
            k=1,
            slot_s=(pdf.index.view("int64") // 10**9).astype("int64"),
        )
    )
    got_sdf = pas20_random_uncertainty(
        sdf.select("k", "slot_s", "flux", "gf", "ta", "vpd", "swin"),
        "k",
        "slot_s",
        "flux",
        "gf",
        "ta",
        "vpd",
        "swin",
        expand_method2=True,
    )
    got = (
        got_sdf.toPandas()
        .sort_values("slot_s")
        .reset_index(drop=True)
    )
    return pdf, got, got_sdf


@pytest.fixture(scope="module")
def want(ladder):
    """The reference class's per-record results, on a copy of the input
    so that it cannot mutate the frame the Spark ladder was built from."""
    if REF is None:
        pytest.skip(f"reference checkout {ri.REF} not present")
    pdf = ladder[0]
    r = REF.RandomUncertaintyPAS20(
        df=pdf.copy(),
        fluxcol="flux",
        fluxgapfilledcol="gf",
        tacol="ta",
        vpdcol="vpd",
        swincol="swin",
    )
    r._calc_random_uncertainty()  # methods 1-4 incl. expanding method 2
    return r.randunc_results


def test_method1_counts_and_stddev(ladder, want):
    pdf, got, _ = ladder
    w = want["WINDOW_N_VALS_METHOD1"].to_numpy()
    g = got["n_method1"].to_numpy(dtype=float)
    measured = ~np.isnan(pdf["flux"].to_numpy())
    np.testing.assert_array_equal(g[measured], w[measured])


def test_full_ladder_matches_reference(ladder, want):
    _, got, _ = ladder
    w = want["flux_RANDUNC"].to_numpy(dtype=float)
    g = got["randunc"].to_numpy(dtype=float)
    assert np.isnan(w).sum() == np.isnan(g).sum()
    np.testing.assert_allclose(g, w, rtol=1e-9, atol=1e-12, equal_nan=True)


def test_ladder_fills_everything(ladder):
    _, got, _ = ladder
    assert got["randunc"].notna().all()


def test_cumulative_propagation(ladder):
    _, got, got_sdf = ladder
    cum = (
        cumulative_uncertainty(got_sdf, "k", "slot_s", "gf")
        .toPandas()
        .sort_values("slot_s")
        .reset_index(drop=True)
    )
    ru = got["randunc"].to_numpy(dtype=float)
    gf = got["gf"].to_numpy(dtype=float)
    np.testing.assert_allclose(
        cum["unc_cum"].to_numpy(), np.sqrt(np.cumsum(ru**2)), rtol=1e-9
    )
    np.testing.assert_allclose(
        cum["flux_cum"].to_numpy(), np.cumsum(gf), rtol=1e-9
    )
    np.testing.assert_allclose(
        cum["flux_cum_upper"].to_numpy(),
        np.cumsum(gf) + np.sqrt(np.cumsum(ru**2)),
        rtol=1e-9,
    )
