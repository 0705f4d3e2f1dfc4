"""Echo State Network reservoir — the reference's core operator.

Reference parity (SURVEY.md §2.1 R4, expected at
rc_core/ESNReservoirSparse.java [K:high; mount was empty — recall]):
a stateful map computing

    x(t) = tanh(W_in · [1; u(t)] + W · x(t-1))

emitting [u(t); x(t)], with W either sparse-random or the
cycle-with-jumps topology of Rodan & Tiňo ("Simple deterministically
constructed cycle reservoirs", 2011 — CRJ), rescaled to a target
spectral radius; the reference runs it at parallelism 1 because the
recurrence is inherently sequential.

Spark-first re-expression: the recurrence stays sequential *within* a
series (exactly like the reference), but the engine parallelizes
*across* series: ``run_reservoir`` is a grouped ``applyInPandas`` —
one shuffle on series_id, then a pure-numpy scan per group, Arrow in
and out. At 100 TB (many series) this scales linearly with series
count; a single giant series is the reference's own worst case and
stays sequential there too. Batch shape; the streaming variant
(state carried across micro-batches) lives in
``flink_rc_spark.streaming.stateful``.

Weights are generated deterministically from a seed on the driver
(small: n_x ≤ a few thousand) and closure-captured — Spark broadcasts
the task closure; for very large n_x use an explicit
``sparkContext.broadcast``.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass(frozen=True)
class ReservoirConfig:
    n_u: int = 1
    n_x: int = 50
    density: float = 0.1
    spectral_radius: float = 0.9
    topology: str = "sparse_random"  # or "cycle_jumps"
    cycle_weight: float = 0.5  # CRJ r_c (pre-rescale)
    jump_weight: float = 0.5  # CRJ r_j (pre-rescale)
    jump_size: int = 3  # CRJ jump stride
    input_scale: float = 0.5
    include_bias: bool = True
    seed: int = 42
    # Leaky-integrator ESN (Jaeger et al. 2007, "Optimization and
    # applications of echo state networks with leaky-integrator
    # neurons"): x(t) = (1-a)·x(t-1) + a·tanh(…). a=1 is the classic
    # non-leaky update above (the reference's R4 form).
    leak_rate: float = 1.0


def init_weights(cfg: ReservoirConfig) -> tuple[np.ndarray, np.ndarray]:
    """Build (W_in, W); W rescaled to the target spectral radius via its
    largest eigenvalue modulus (mirrors the reference's ojAlgo eig path).
    """
    rng = np.random.default_rng(cfg.seed)
    n_in = cfg.n_u + (1 if cfg.include_bias else 0)
    w_in = rng.uniform(-1.0, 1.0, size=(cfg.n_x, n_in)) * cfg.input_scale

    if cfg.topology == "sparse_random":
        w = rng.uniform(-1.0, 1.0, size=(cfg.n_x, cfg.n_x))
        mask = rng.random((cfg.n_x, cfg.n_x)) < cfg.density
        w = w * mask
    elif cfg.topology == "cycle_jumps":
        # Rodan & Tiňo CRJ: a directed ring plus bidirectional jumps
        w = np.zeros((cfg.n_x, cfg.n_x))
        for i in range(cfg.n_x):
            w[(i + 1) % cfg.n_x, i] = cfg.cycle_weight
        for i in range(0, cfg.n_x - cfg.n_x % cfg.jump_size, cfg.jump_size):
            j = (i + cfg.jump_size) % cfg.n_x
            w[j, i] = cfg.jump_weight
            w[i, j] = cfg.jump_weight
    else:
        raise ValueError(f"unknown topology {cfg.topology!r}")

    eigs = np.linalg.eigvals(w)
    rho = float(np.max(np.abs(eigs)))
    if rho > 0:
        w = w * (cfg.spectral_radius / rho)
    return w_in, w


def reservoir_scan(
    u: np.ndarray, w_in: np.ndarray, w: np.ndarray, include_bias: bool,
    x0: np.ndarray | None = None, leak_rate: float = 1.0,
) -> np.ndarray:
    """Sequential recurrence over a (T, n_u) input block → (T, n_x)
    states. Pure numpy; called once per series inside applyInPandas.

    ``leak_rate`` a ∈ (0, 1]: leaky-integrator update
    x(t) = (1-a)·x(t-1) + a·tanh(W_in·u + W·x(t-1)); a=1 reduces to
    the classic ESN update (branch-free: the blend is a no-op).

    The input drive W_in·[1; u(t)] does not depend on x, so it is built
    for all steps before the loop (~1/3 less per-step time), one input
    column at a time. Elementwise products and sums round row t the
    same whatever block length the series is split into, which keeps a
    micro-batched stream bit-identical to the batch scan. A BLAS matmul
    (``u @ w_in.T``) does not: with 3 inputs its rows changed with the
    row count (tests/test_rc.py, chained-block test)."""
    t_len, _ = u.shape
    n_x = w.shape[0]
    x = np.zeros(n_x) if x0 is None else np.asarray(x0, dtype=float)
    w_u = w_in[:, 1:] if include_bias else w_in
    drive = u[:, :1] * w_u[:, 0]
    for j in range(1, u.shape[1]):
        drive += u[:, j : j + 1] * w_u[:, j]
    if include_bias:
        drive += w_in[:, 0]
    out = np.empty((t_len, n_x))
    a = float(leak_rate)
    for t in range(t_len):
        x = (1.0 - a) * x + a * np.tanh(drive[t] + w @ x)
        out[t] = x
    return out


def run_reservoir(
    df: DataFrame,
    cfg: ReservoirConfig,
    series_col: str = "series_id",
    seq_col: str = "seq",
    input_cols: Iterable[str] = ("value",),
    keep_cols: Iterable[str] = (),
    assume_layout: bool = False,
) -> DataFrame:
    """Distributed ESN: one shuffle on series_col, sequential numpy scan
    per series, emitting ``features = [u(t); x(t)]`` (reference R4's
    output contract) plus pass-through columns.

    ``assume_layout=True`` skips the repartition+sort when the caller
    GUARANTEES the input is already hash-partitioned on ``series_col``
    with each series' rows contiguous — true whenever ``seq`` was just
    assigned by a ``row_number().over(partitionBy(series).orderBy(…))``
    window, whose exchange+sort this flag then reuses instead of
    duplicating (the seq-order inside a group is re-established by the
    kernel's stable per-group sort either way). Declared-query parity
    between both paths is equality-tested in tests/test_rc.py.
    """
    from flink_rc_spark.util import ensure_package_shipped

    ensure_package_shipped(df.sparkSession)
    input_cols = list(input_cols)
    keep_cols = list(keep_cols)
    w_in, w = init_weights(cfg)
    include_bias = cfg.include_bias

    out_fields = (
        [df.schema[series_col], df.schema[seq_col]]
        + [df.schema[c] for c in keep_cols]
        + [T.StructField("features", T.ArrayType(T.DoubleType()), False)]
    )
    out_schema = T.StructType(out_fields)

    def scan_group(pdf):
        pdf = pdf.sort_values(seq_col, kind="mergesort")
        u = pdf[input_cols].to_numpy(dtype=float)
        states = reservoir_scan(u, w_in, w, include_bias, leak_rate=cfg.leak_rate)
        feats = np.concatenate([u, states], axis=1)
        out = pdf[[series_col, seq_col, *keep_cols]].reset_index(drop=True)
        out["features"] = [row.tolist() for row in feats]
        return out

    # Many-small-groups shape: one mapInPandas per partition running
    # the identical per-series scan via in-partition groupby, instead
    # of one Arrow exchange + Python call per series (see
    # online_sgd's note; measured ~2x on 1500-series sf0.1 events).
    # Streamed via scan_sorted_groups so Python memory is bounded by
    # one series + one Arrow batch, not the whole partition.
    def scan_partition(batches):
        from flink_rc_spark.util import scan_sorted_groups

        yield from scan_sorted_groups(batches, series_col, scan_group)

    if assume_layout:
        parts = df
    else:
        parts = df.repartition(series_col).sortWithinPartitions(
            series_col, seq_col
        )
    return parts.mapInPandas(scan_partition, schema=out_schema)


def washout(df: DataFrame, seq_col: str = "seq", n: int = 100) -> DataFrame:
    """Drop the first n steps per series (transient suppression — the
    reference discards a warmup prefix before fitting)."""
    return df.filter(F.col(seq_col) >= n)
