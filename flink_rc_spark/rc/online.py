"""Online (streaming-style) linear readout — the reference's
``lm/LinearRegression.java`` (SURVEY.md §2.1 R6 [K:high; recall]).

The reference trains the readout continuously with gradient descent
over a Flink ``IterativeStream`` — a cyclic dataflow edge feeding the
updated weight vector back into the operator. Spark's DAGs are
acyclic, so the loop is re-architected as *model-in-state*: the weight
vector lives in per-key state and is updated record-by-record inside a
grouped sequential scan (batch: ``applyInPandas`` per series ordered
by seq; streaming: the same update inside
``applyInPandasWithState``, flink_rc_spark/streaming/stateful.py).
The update sequence — and therefore the learned weights — matches the
reference's semantics; only the mechanism is Spark-idiomatic.

SGD update per record (learning rate η, prediction before update):
    ŷ(t) = α(t-1) · [f(t); 1]
    α(t) = α(t-1) + η · (y(t) − ŷ(t)) · [f(t); 1]
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T


def online_sgd(
    df: DataFrame,
    key_col: str = "series_id",
    seq_col: str = "seq",
    features_col: str = "features",
    target_col: str = "target",
    lr: float = 0.01,
    normalize: bool = True,
    assume_layout: bool = False,
) -> DataFrame:
    """Per-key sequential SGD; emits (key, seq, y, y_hat, weight_norm)
    so both the prediction stream and model evolution are observable.

    ``normalize`` scales the gradient by the feature norm (normalized
    LMS) for stability across feature magnitudes. ``assume_layout``:
    see run_reservoir — skips the repartition+sort when the caller's
    window already produced key-contiguous partitions.
    """
    from flink_rc_spark.util import ensure_package_shipped

    ensure_package_shipped(df.sparkSession)
    out_schema = T.StructType(
        [
            df.schema[key_col],
            df.schema[seq_col],
            T.StructField("y", T.DoubleType()),
            T.StructField("y_hat", T.DoubleType()),
            T.StructField("weight_norm", T.DoubleType()),
        ]
    )

    def scan_group(pdf):
        import pandas as pd

        pdf = pdf.sort_values(seq_col, kind="mergesort").reset_index(drop=True)
        n = len(pdf)
        # hoist all per-row pandas access out of the sequential loop:
        # one vstack builds the (n, k) design matrix, norms batch-
        # compute — the loop itself is the irreducible SGD recurrence.
        # (.iloc + concatenate per row was ~4x slower at sf0.1.)
        fmat = np.vstack(
            [np.asarray(v, dtype=float) for v in pdf[features_col].to_numpy()]
        )
        f1 = np.concatenate([fmat, np.ones((n, 1))], axis=1)
        k = f1.shape[1]
        w = np.zeros(k)
        y_hat = np.empty(n)
        w_norm = np.empty(n)
        ys = pdf[target_col].to_numpy(dtype=float)
        denom = 1.0 + np.einsum("ij,ij->i", f1, f1)
        for i in range(n):
            f = f1[i]
            pred = w @ f
            err = ys[i] - pred
            step = lr * err
            if normalize:
                step /= denom[i]
            w = w + step * f
            y_hat[i] = pred
            w_norm[i] = float(np.sqrt(w @ w))
        return pd.DataFrame(
            {
                key_col: pdf[key_col],
                seq_col: pdf[seq_col],
                "y": ys,
                "y_hat": y_hat,
                "weight_norm": w_norm,
            }
        )

    # Many-small-groups shape (1500 series x ~70 rows at sf0.1):
    # applyInPandas pays one Arrow exchange + Python call PER GROUP —
    # measured ~4 s of pure overhead. Instead shuffle once on the key,
    # sort within partitions, and run ONE mapInPandas per partition
    # that groupby-applies the identical per-series scan. Semantics
    # unchanged (each series is still processed alone, in seq order);
    # invocations drop from n_groups to n_partitions. Streamed via
    # scan_sorted_groups: Python memory is bounded by the largest
    # single series + one Arrow batch, not the partition — series never
    # straddle partitions because the repartition hashes the key.
    def scan_partition(batches):
        from flink_rc_spark.util import scan_sorted_groups

        yield from scan_sorted_groups(batches, key_col, scan_group)

    if assume_layout:
        parts = df
    else:
        parts = df.repartition(key_col).sortWithinPartitions(key_col, seq_col)
    return parts.mapInPandas(scan_partition, schema=out_schema)
