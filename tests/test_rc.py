"""ESN golden/property checks (FIXTURES.md §B) — tolerance-based, not
hash-based: float trajectories are seed-stable but not
cross-library-stable."""

from __future__ import annotations

import numpy as np
import pytest

from flink_rc_spark.rc.fixtures import mackey_glass, series_df, sine_noise
from flink_rc_spark.rc.readout import fit_readout_collect, fit_readout_distributed
from flink_rc_spark.rc.reservoir import (
    ReservoirConfig,
    init_weights,
    reservoir_scan,
    run_reservoir,
)


def test_spectral_radius_hit():
    for topo in ("sparse_random", "cycle_jumps"):
        cfg = ReservoirConfig(n_x=80, topology=topo, spectral_radius=0.9)
        _, w = init_weights(cfg)
        rho = np.max(np.abs(np.linalg.eigvals(w)))
        assert abs(rho - 0.9) < 1e-8, topo


def test_seed_determinism():
    cfg = ReservoirConfig(n_x=60)
    u = sine_noise(300).reshape(-1, 1)
    w_in1, w1 = init_weights(cfg)
    w_in2, w2 = init_weights(cfg)
    assert np.array_equal(w_in1, w_in2) and np.array_equal(w1, w2)
    s1 = reservoir_scan(u, w_in1, w1, True)
    s2 = reservoir_scan(u, w_in2, w2, True)
    assert np.array_equal(s1, s2)


def test_echo_state_property():
    """spectral radius < 1 ⇒ different initial states converge."""
    cfg = ReservoirConfig(n_x=80, spectral_radius=0.9)
    w_in, w = init_weights(cfg)
    u = mackey_glass(500).reshape(-1, 1)
    rng = np.random.default_rng(7)
    sa = reservoir_scan(u, w_in, w, True, x0=np.zeros(cfg.n_x))
    sb = reservoir_scan(u, w_in, w, True, x0=rng.uniform(-1, 1, cfg.n_x))
    assert np.linalg.norm(sa[250] - sb[250]) < 1e-6


@pytest.mark.parametrize("n_u,n_x,leak", [(1, 16, 1.0), (3, 100, 0.3)])
def test_scan_in_chained_blocks_is_bit_exact(n_u, n_x, leak):
    """A series scanned whole must equal the same series scanned as
    chained blocks (each seeded with the previous block's last state),
    bit for bit. This is how the streaming ESN advances one micro-batch
    at a time; the blocks include length-1 ones, where a matrix product
    may take a different BLAS path than for many rows."""
    cfg = ReservoirConfig(n_u=n_u, n_x=n_x, seed=3)
    w_in, w = init_weights(cfg)
    u = np.random.default_rng(11).normal(scale=5.0, size=(300, n_u))
    whole = reservoir_scan(u, w_in, w, True, leak_rate=leak)
    parts, x, start = [], None, 0
    for n in (1, 1, 2, 67, 1, 3, 8, 1, 150, 1, 65):
        part = reservoir_scan(
            u[start : start + n], w_in, w, True, x0=x, leak_rate=leak
        )
        parts.append(part)
        x, start = part[-1], start + n
    assert start == len(u)
    assert np.array_equal(whole, np.concatenate(parts))


def test_output_dims(spark):
    cfg = ReservoirConfig(n_u=1, n_x=20)
    df = series_df(spark, sine_noise(50))
    out = run_reservoir(df, cfg)
    rows = out.collect()
    assert len(rows) == 50
    assert all(len(r["features"]) == cfg.n_u + cfg.n_x for r in rows)


def test_distributed_fit_matches_collect_fit(spark):
    cfg = ReservoirConfig(n_u=1, n_x=30)
    df = series_df(spark, sine_noise(400))
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("series_id").orderBy("seq")
    labeled = df.withColumn("target", F.lead("value", 1).over(w)).filter(
        F.col("target").isNotNull()
    )
    states = run_reservoir(labeled, cfg, keep_cols=["target"]).repartition(8)
    a1 = fit_readout_distributed(states, ridge=1e-6)
    a2 = fit_readout_collect(states, ridge=1e-6)
    # Gram matrix is ill-conditioned (~1e14): weights agree only to the
    # conditioning limit, but the fitted function must agree tightly.
    assert np.allclose(a1, a2, rtol=1e-3, atol=1e-5)
    rows = states.select("features").collect()
    a = np.hstack([np.array([r[0] for r in rows]), np.ones((len(rows), 1))])
    assert np.max(np.abs(a @ a1 - a @ a2)) < 1e-7


@pytest.mark.slow
def test_esn_beats_naive_on_mackey_glass(spark):
    from flink_rc_spark.registry import REGISTRY, load_all

    load_all()
    row = REGISTRY["q_esn_fit_predict"].builder(spark, "unused").first()
    assert row["beats_naive"], dict(row.asDict())
    assert row["test_mse"] < 0.5 * row["naive_mse"], dict(row.asDict())


def test_scan_sorted_groups_streams_and_matches_batch():
    """The streaming per-group partition scan must produce exactly the
    concat-everything result, for any Arrow batch slicing — including
    groups straddling batch boundaries and a partition smaller than one
    batch."""
    import numpy as np
    import pandas as pd

    from flink_rc_spark.util import scan_sorted_groups

    rng = np.random.default_rng(3)
    rows = []
    for sid in range(7):
        for seq in range(int(rng.integers(1, 40))):
            rows.append((sid, seq, float(rng.normal())))
    whole = pd.DataFrame(rows, columns=["sid", "seq", "v"])

    def kernel(g):
        g = g.sort_values("seq").reset_index(drop=True)
        return pd.DataFrame(
            {"sid": g["sid"], "seq": g["seq"], "c": g["v"].cumsum()}
        )

    expected = pd.concat(
        [kernel(g) for _, g in whole.groupby("sid", sort=False)],
        ignore_index=True,
    )
    for batch_size in (1, 3, 17, 1000):
        batches = [
            whole.iloc[i : i + batch_size]
            for i in range(0, len(whole), batch_size)
        ]
        got = pd.concat(
            list(scan_sorted_groups(batches, "sid", kernel, out_rows_per_batch=16)),
            ignore_index=True,
        )
        pd.testing.assert_frame_equal(got, expected)


def test_assume_layout_path_equals_repartition_path(spark, sf_dir):
    """assume_layout=True (reusing the seq-window's exchange) must be
    row-for-row identical to the explicit repartition+sort path."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from flink_rc_spark.rc.reservoir import ReservoirConfig, run_reservoir
    from flink_rc_spark.sources.tables import load

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    series = e.select(
        F.col("user_id").alias("series_id"),
        (F.row_number().over(w) - 1).cast("long").alias("seq"),
        F.col("value"),
    )
    cfg = ReservoirConfig(n_u=1, n_x=8, topology="cycle_jumps", seed=7)
    a = run_reservoir(series, cfg, assume_layout=True).collect()
    b = run_reservoir(series, cfg, assume_layout=False).collect()
    ka = {(r.series_id, r.seq): tuple(r.features) for r in a}
    kb = {(r.series_id, r.seq): tuple(r.features) for r in b}
    assert ka == kb


def test_leaky_reservoir_reduces_to_classic_at_a1():
    """leak_rate=1 must reproduce the classic update exactly (the
    blend degenerates to the plain tanh state)."""
    import numpy as np

    from flink_rc_spark.rc.reservoir import (
        ReservoirConfig,
        init_weights,
        reservoir_scan,
    )

    cfg = ReservoirConfig(n_x=30, seed=9)
    w_in, w = init_weights(cfg)
    rng = np.random.default_rng(0)
    u = rng.uniform(-1, 1, (40, 1))
    classic = reservoir_scan(u, w_in, w, True)
    leaky1 = reservoir_scan(u, w_in, w, True, leak_rate=1.0)
    assert np.array_equal(classic, leaky1)


def test_leaky_reservoir_smooths_and_keeps_echo_state():
    """Leaky integration (a<1) must damp step-to-step state change
    (smoother trajectories) and preserve the echo-state property
    (two different initial states converge)."""
    import numpy as np

    from flink_rc_spark.rc.reservoir import (
        ReservoirConfig,
        init_weights,
        reservoir_scan,
    )

    cfg = ReservoirConfig(n_x=30, seed=9, spectral_radius=0.8)
    w_in, w = init_weights(cfg)
    rng = np.random.default_rng(1)
    u = rng.uniform(-1, 1, (200, 1))
    fast = reservoir_scan(u, w_in, w, True, leak_rate=1.0)
    slow = reservoir_scan(u, w_in, w, True, leak_rate=0.2)
    step = lambda s: float(np.abs(np.diff(s, axis=0)).mean())
    assert step(slow) < step(fast)
    a = reservoir_scan(u, w_in, w, True, x0=np.zeros(cfg.n_x), leak_rate=0.2)
    b = reservoir_scan(
        u, w_in, w, True, x0=rng.uniform(-1, 1, cfg.n_x), leak_rate=0.2
    )
    assert float(np.abs(a[-1] - b[-1]).max()) < 1e-6
