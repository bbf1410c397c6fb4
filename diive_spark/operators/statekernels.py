"""State-space sequential kernels: the local-level Kalman filter and
Bayesian online changepoint detection (Adams & MacKay 2007) with a
Gaussian observation model.  Both are inherently recursive (posterior
state feeds the next step), so they ship as grouped Arrow kernels over
the bounded per-key daily grid (the seqkernels posture), pinned
by tests/test_statekernels.py:
- Kalman: the filter gain must converge to the analytic steady-state
  Riccati root, and the filtered mean must match an independent
  information-filter formulation step-by-step.
- BOCD: the run-length posterior must match a brute-force
  re-enumeration that recomputes every segment likelihood from raw
  slices (O(n^2) independent path).

diive counterpart: none — diive's gap-filling/trend stack has no
probabilistic state-space layer.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from diive_spark.session import kernel_partition

__all__ = [
    "kalman_local_level",
    "bocd_gaussian",
    "kalman_frame",
    "bocd_frame",
]


def kalman_local_level(
    y: np.ndarray, q: float, r: float
) -> tuple[np.ndarray, np.ndarray, float]:
    """Local-level filter: state a_t, variance p_t, and the Gaussian
    log-likelihood.  Diffuse-ish init: a_0 = y_0, p_0 = r * 1e7."""
    y = np.asarray(y, dtype=np.float64)
    n = len(y)
    a = np.zeros(n)
    p = np.zeros(n)
    ll = 0.0
    at, pt = y[0], r * 1e7
    for t in range(n):
        # predict
        if t > 0:
            pt = pt + q
        # update
        f = pt + r
        v = y[t] - at
        if t > 0:
            ll += -0.5 * (np.log(2.0 * np.pi * f) + v * v / f)
        k = pt / f
        at = at + k * v
        pt = pt * (1.0 - k)
        a[t] = at
        p[t] = pt
    return a, p, float(ll)


def kalman_steady_gain(q: float, r: float) -> float:
    """Steady-state gain from the Riccati fixed point:
    p = (p + q) r / (p + q + r) -> p^2 + p q - q r = 0."""
    p = (-q + np.sqrt(q * q + 4.0 * q * r)) / 2.0
    return float((p + q) / (p + q + r))


def bocd_gaussian(
    y: np.ndarray,
    hazard: float,
    mu0: float,
    kappa0: float = 1.0,
    alpha0: float = 1.0,
    beta0: float = 1.0,
) -> np.ndarray:
    """Adams-MacKay run-length posterior argmax per step under a
    Normal-Gamma conjugate model; returns the MAP run length r_t."""
    y = np.asarray(y, dtype=np.float64)
    n = len(y)
    maxes = np.zeros(n, dtype=np.int64)
    # sufficient statistics per candidate run length
    mu = np.array([mu0])
    kappa = np.array([kappa0])
    alpha = np.array([alpha0])
    beta = np.array([beta0])
    logp = np.array([0.0])
    from math import lgamma, log, pi

    for t in range(n):
        # Student-t predictive for each run length
        df = 2.0 * alpha
        scale2 = beta * (kappa + 1.0) / (alpha * kappa)
        x = y[t]
        logpred = np.array(
            [
                lgamma((d + 1.0) / 2.0)
                - lgamma(d / 2.0)
                - 0.5 * (log(d) + log(pi) + log(s2))
                - (d + 1.0)
                / 2.0
                * log(1.0 + (x - m) ** 2 / (d * s2))
                for d, s2, m in zip(df, scale2, mu)
            ]
        )
        growth = logp + logpred + log(1.0 - hazard)
        cp = logp + logpred + log(hazard)
        cp_mass = np.logaddexp.reduce(cp)
        logp = np.concatenate(([cp_mass], growth))
        logp = logp - np.logaddexp.reduce(logp)
        maxes[t] = int(np.argmax(logp))
        # posterior updates
        mu_new = np.concatenate(
            ([mu0], (kappa * mu + x) / (kappa + 1.0))
        )
        kappa_new = np.concatenate(([kappa0], kappa + 1.0))
        alpha_new = np.concatenate(([alpha0], alpha + 0.5))
        beta_new = np.concatenate(
            (
                [beta0],
                beta + kappa * (x - mu) ** 2 / (2.0 * (kappa + 1.0)),
            )
        )
        mu, kappa, alpha, beta = (
            mu_new,
            kappa_new,
            alpha_new,
            beta_new,
        )
    return maxes


def kalman_frame(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    q: float = 1.0,
    r: float = 10.0,
) -> DataFrame:
    """Per key: final filtered level, innovation log-likelihood, and
    the |gain - steady gain| convergence gap."""
    schema = (
        f"{key_col} string, n long, level double, loglik double,"
        " gain_gap double"
    )
    steady = kalman_steady_gain(q, r)

    def apply(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col)
        y = pdf[value_col].to_numpy(dtype=np.float64)
        n = len(y)
        if n < 4:
            return pd.DataFrame(
                {
                    key_col: [pdf[key_col].iloc[0]],
                    "n": [n],
                    "level": [float("nan")],
                    "loglik": [float("nan")],
                    "gain_gap": [float("nan")],
                }
            )
        a, p, ll = kalman_local_level(y, q, r)
        final_gain = (p[-1] + q) / (p[-1] + q + r)
        return pd.DataFrame(
            {
                key_col: [pdf[key_col].iloc[0]],
                "n": [n],
                "level": [float(a[-1])],
                "loglik": [ll],
                "gain_gap": [abs(float(final_gain) - steady)],
            }
        )

    return (
        kernel_partition(df.select(key_col, ts_col, value_col), key_col)
        .groupBy(key_col)
        .applyInPandas(apply, schema=schema)
    )


def bocd_frame(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    hazard: float = 0.02,
) -> DataFrame:
    """Per key: number of MAP run-length resets (detected
    changepoints) and the final MAP run length."""
    schema = (
        f"{key_col} string, n long, n_changepoints long, "
        "final_runlength long"
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
                    "n_changepoints": [0],
                    "final_runlength": [0],
                }
            )
        mu0 = float(np.mean(y))
        rl = bocd_gaussian(y, hazard, mu0)
        resets = int(np.sum((np.diff(rl) < 0)))
        return pd.DataFrame(
            {
                key_col: [pdf[key_col].iloc[0]],
                "n": [n],
                "n_changepoints": [resets],
                "final_runlength": [int(rl[-1])],
            }
        )

    return (
        kernel_partition(df.select(key_col, ts_col, value_col), key_col)
        .groupBy(key_col)
        .applyInPandas(apply, schema=schema)
    )
