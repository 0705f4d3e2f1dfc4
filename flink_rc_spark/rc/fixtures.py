"""Deterministic RC time-series fixtures (FIXTURES.md §B).

Shape-compatible synthetics modeled on the reference's thesis datasets
(Mackey-Glass chaotic series, sine) —
generated by our own code, seed-pinned, never written into
/root/testdata.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession


def mackey_glass(n: int = 10000, tau: int = 17, warmup: int = 1000) -> np.ndarray:
    """MG delay-differential series: dx/dt = 0.2·x(t−τ)/(1+x(t−τ)^10) − 0.1·x(t),
    Euler dt=1.0, x(0)=1.2; warmup discarded (FIXTURES.md spec)."""
    total = n + warmup
    x = np.empty(total + tau)
    x[: tau + 1] = 1.2
    for t in range(tau, total + tau - 1):
        x_tau = x[t - tau]
        x[t + 1] = x[t] + 0.2 * x_tau / (1.0 + x_tau**10) - 0.1 * x[t]
    return x[tau + warmup :]


def sine_noise(n: int = 2000, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return np.sin(0.1 * np.arange(n)) + rng.normal(0.0, 0.01, size=n)


def series_df(
    spark: SparkSession, values: np.ndarray, series_id: int = 0
) -> DataFrame:
    """(series_id, seq, value) DataFrame from a 1-D numpy series."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "series_id": np.int64(series_id),
            "seq": np.arange(len(values), dtype=np.int64),
            "value": values.astype(float),
        }
    )
    return spark.createDataFrame(pdf)
