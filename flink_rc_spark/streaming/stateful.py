"""Custom stateful streaming operator (SURVEY.md §2.3
q_stream_stateful_counter) — the reference's operator-state pattern
(R4 reservoir state / R6 online model state) expressed relationally:
a per-user running count/sum held in the streaming state store,
surviving across micro-batches.

The counter runs on ``applyInPandasWithState``. Spark 4.x's
``transformWithStateInPandas`` is not used: its state-server protocol
imports protobuf-generated classes at worker startup, and this
deployment has no Python ``protobuf`` (the API crashes with
``ImportError: cannot import name 'descriptor' from
'google.protobuf'``). The state-store semantics are the same.

Exactness: kernels that sum money fold integer *cents*, read from a
``cents`` column the JVM projects with the oracles' own cast
(``functions.exact.CENTS_SQL``, DECIMAL(18,2) rounding half away from
zero), so the emitted doubles equal the batch oracle's decimal sums
bit-for-bit — no float drift however many micro-batches the stream is
split into, and no second rounding rule in Python. Kernels that fold a
user's events in order read them through ``_in_event_order``, which
decides the (user_id, ts, event_id) order of a group's whole
micro-batch in one place.

State grain: eight per-user kernels (counter, ewma, funnel, esn,
upsert, cep, anomaly, first_touch) keep their state per *user bucket*,
``pmod(user_id, _USER_BUCKETS)``, through one driver,
``_by_user_bucket``. Spark calls Python once per state key and pays
about 2-3 ms of serializer work per call whatever its rows, so keying
by user paid that once per user per micro-batch; keyed by bucket it is
paid ``_USER_BUCKETS`` times. Inside a bucket the driver walks the user
segments and calls the kernel's per-user fold, ``(user, ordered frame,
state or None) -> (rows, new state or None)``, with that user's state,
so every user is folded by the same code in the same order as before
and the output is bit-identical. ``q_stream_timeout`` stays keyed by
user: it needs one event-time timer per user.

100 TB story: state lives in the state store (RocksDB in production)
keyed by user bucket, and sized O(distinct users): a bucket's state is
a users array beside the per-user states, typed by the kernel's
``*_STATE_SCHEMA``. The bucket keys (``_BUCKET_KEYS``) must never
change under an existing checkpoint: the same users would be looked up
under other keys. The same operator carries the ESN reservoir vector or
SGD weights as state — see flink_rc_spark/rc for the batch twins. The
grain has two limits, measured only up to sf1 (15,000 users, about 470
per bucket) on ``local[4]`` (BASELINE.md, "Checkpoint forks and
user-bucket state"):

- Parallelism: a replay of these kernels has at most 32 non-empty state
  keys, so at most 32 state tasks carry work; ``run_to_memory`` sets one
  state partition per task slot, and on a session with more slots the
  rest idle. The keys spread evenly over any power-of-two partition
  count up to 32; other counts hash them unevenly.
- Row size: seven of the eight kernels never drop a user (cep drops one
  whose run ends), so a bucket's state row holds every user the bucket
  has seen, and a micro-batch that touches a bucket reads its whole row
  into Python and rewrites it. Per-batch state I/O is O(users in touched
  buckets), not O(users touched).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_rc_spark.functions.exact import CENTS_SQL
from flink_rc_spark.functions.sketches import (
    _HLL_M,
    HLL_ESTIMATE_DUCK,
    hll_bucket,
    hll_estimate,
    hll_rho,
    hll_w,
)
from flink_rc_spark.registry import register
from flink_rc_spark.streaming.replay import events_stream, run_to_memory
from flink_rc_spark.util import ensure_package_shipped

OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("running_n", T.LongType()),
        T.StructField("running_sum", T.DoubleType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("cents", T.LongType()),
    ]
)


def _in_event_order(pdf_iter) -> pd.DataFrame:
    """One group's rows for this micro-batch as one frame, in event-time
    order per user: user_id, then ts, then event_id. Each user's rows
    are one contiguous segment in the total order its per-user fold and
    batch oracle use.

    Chunk contract: Spark hands a group over in Arrow chunks of at most
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows, in arrival
    order, and arrival order is not event-time order. So every chunk is
    read before the one stable ``np.lexsort``; sorting each chunk on its
    own folds a group wrongly as soon as it spans two chunks. A group
    with no rows (only a timed-out call has none) is not read here."""
    pdfs = list(pdf_iter)
    pdf = pdfs[0] if len(pdfs) == 1 else pd.concat(pdfs, ignore_index=True)
    return pdf.take(
        np.lexsort(
            (
                pdf["event_id"].to_numpy(),
                pdf["ts"].to_numpy(),
                pdf["user_id"].to_numpy(),
            )
        )
    )


# The state keys of the per-user kernels: user bucket
# b = pmod(user_id, _USER_BUCKETS) is keyed by _BUCKET_KEYS[b]. Spark
# puts a state key in partition pmod(hash(key), n) (Murmur3, seed 42);
# these are the smallest ints whose hashes fall in 32 distinct residues
# mod 32, so every power-of-two number of state partitions up to 32
# gets an equal share of buckets; the plain residues do not (the int
# keys 0..31 fall 5/10/7/10 into 4 partitions, the bigint residues of
# pmod(user_id, 16) 6/6/1/3). Constants, not read from the session:
# they are every checkpoint's state key and must never change under
# one.
_BUCKET_KEYS = (
    12, 64, 10, 1, 37, 20, 32, 35, 13, 6, 98, 7, 73, 30, 28, 0,
    67, 16, 5, 69, 65, 44, 2, 75, 148, 17, 49, 33, 25, 15, 4, 21,
)
_USER_BUCKETS = len(_BUCKET_KEYS)


def _user_bucket():
    """The state key of ``user_id``'s bucket."""
    return F.element_at(
        F.array(*map(F.lit, _BUCKET_KEYS)),
        (F.pmod("user_id", F.lit(_USER_BUCKETS)) + 1).cast("int"),
    )


def _by_user_bucket(rows, fold, out_schema, state_schema):
    """``rows`` grouped by user bucket into one ``applyInPandasWithState``
    whose kernel runs the per-user ``fold`` over each user in the
    bucket's micro-batch.

    ``fold(user, pdf, state)`` gets one user's rows in event order and
    that user's state tuple (``state_schema``), or None for a user not
    seen before, and returns ``(rows, new_state)``: the output frame or
    None, and the new state tuple, or None to drop the user's state.

    The bucket state is ``users`` beside ``states``, one
    ``state_schema`` row per user. Array-typed state costs one codegen
    compile per replay (the state encoder's array loop is a fresh class
    each query; 18-44 ms on 4 cores, and q_stream_esn's array state paid
    it before). A map layout compiles one too; only a scalar layout, one
    opaque binary field, compiles none, and it would hide the per-user
    types from Spark's state-schema check on restart, so the arrays
    stay (BASELINE.md, "Checkpoint forks and user-bucket state")."""
    bucket_schema = T.StructType(
        [
            T.StructField("users", T.ArrayType(T.LongType(), False)),
            T.StructField("states", T.ArrayType(state_schema, False)),
        ]
    )

    def kernel(key, pdf_iter, state):
        held = dict(zip(*state.get)) if state.exists else {}
        pdf = _in_event_order(pdf_iter).drop(columns="user_bucket")
        uids = pdf["user_id"].to_numpy()
        cuts = [0, *(np.flatnonzero(uids[1:] != uids[:-1]) + 1), len(uids)]
        outs = []
        for a, b in zip(cuts[:-1], cuts[1:]):
            user = int(uids[a])
            out, new = fold(user, pdf.iloc[a:b], held.get(user))
            if new is None:
                held.pop(user, None)
            else:
                held[user] = new
            if out is not None:
                outs.append(out)
        if held:
            state.update((list(held), list(held.values())))
        elif state.exists:
            state.remove()
        if outs:
            yield pd.concat(outs, ignore_index=True)

    return rows.withColumn("user_bucket", _user_bucket()).groupBy(
        "user_bucket"
    ).applyInPandasWithState(
        kernel,
        outputStructType=out_schema,
        stateStructType=bucket_schema,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def _counter(user, pdf, state):
    """Per-user running count/sum: fold the user's micro-batch into
    (n, cents) state, emitting the per-row running count/sum. The
    accumulation is integer cents, so the vectorized cumsum is
    bit-identical to a per-row loop."""
    n, cents = state or (0, 0)
    cum = cents + np.cumsum(pdf["cents"].to_numpy())
    out = pd.DataFrame(
        {
            "user_id": pdf["user_id"].to_numpy(),
            "event_id": pdf["event_id"].to_numpy(),
            "running_n": n + np.arange(1, len(pdf) + 1, dtype=np.int64),
            "running_sum": cum / 100.0,
        }
    )
    return out, (n + len(pdf), cents + int(pdf["cents"].sum()))


def stateful_counter_stream(s):
    """The per-user running count/sum of ``s`` as a stateful stream."""
    rows = s.select(
        "user_id", "event_id", "ts", F.expr(CENTS_SQL).alias("cents")
    )
    return _by_user_bucket(rows, _counter, OUT_SCHEMA, STATE_SCHEMA)


@register(
    "q_stream_stateful_counter",
    oracle="""
        SELECT user_id, event_id,
               COUNT(*) OVER w AS running_n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
                   AS running_sum
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def q_stream_stateful_counter(spark, sf_dir):
    """Running per-user count/sum with model-in-state semantics."""
    ensure_package_shipped(spark)
    s = events_stream(spark, sf_dir)
    out = stateful_counter_stream(s)
    return run_to_memory(out, output_mode="append")


# ---------------------------------------------------------------------------
# q_stream_ewma — float recurrence as streaming state
# ---------------------------------------------------------------------------

EWMA_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)

EWMA_STATE_SCHEMA = T.StructType([T.StructField("s", T.DoubleType())])


def _ewma_kernel(user, pdf, state):
    """Per-user EWMA state transition: s ← 0.25·x + 0.75·s, seeded by
    the first observation. DELIBERATELY a sequential per-row loop —
    the batch oracle is a sequential left fold, and any vectorized
    rewrite (power-series form) reorders float ops and drifts; the
    loop is bit-identical. Rows per (user, micro-batch) are bounded by
    the batch size, so the loop is short by construction."""
    s = state[0] if state else None
    ew = []
    for x in pdf["value"].to_numpy():
        x = float(x)
        s = x if s is None else 0.25 * x + 0.75 * s
        ew.append(s)
    out = pd.DataFrame(
        {
            "user_id": pdf["user_id"].to_numpy(),
            "event_id": pdf["event_id"].to_numpy(),
            "ewma": ew,
        }
    )
    return out, (s,)


@register(
    "q_stream_ewma",
    oracle="""
        WITH ordered AS (
            SELECT user_id, event_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ),
        lists AS (
            SELECT user_id, list(value ORDER BY ts, event_id) AS l
            FROM events GROUP BY user_id
        )
        SELECT o.user_id, o.event_id,
               list_reduce(l[1:o.rn], (acc, x) -> 0.25 * x + 0.75 * acc)
                   AS ewma
        FROM ordered o JOIN lists USING (user_id)
    """,
)
def q_stream_ewma(spark, sf_dir):
    """Streaming EWMA (α=0.25) per user — the float-state twin of
    q_stream_stateful_counter and the streaming twin of the batch
    q_ts_ewma fold: the running average survives micro-batch
    boundaries in the state store, and because both the kernel and the
    oracle fold the SAME total order (ts, event_id) left-to-right with
    exact binary fractions, every emitted double hash-matches the
    batch prefix-fold spelling — across however many micro-batches the
    replay splits the stream into. This is the reference's R4/R6
    pattern (numeric model state evolving along a stream) with scalar
    state; the RC module carries the vector case.
    """
    ensure_package_shipped(spark)
    s = events_stream(spark, sf_dir)
    rows = s.select("user_id", "event_id", "ts", "value")
    out = _by_user_bucket(
        rows, _ewma_kernel, EWMA_OUT_SCHEMA, EWMA_STATE_SCHEMA
    )
    return run_to_memory(out, output_mode="append")


# ---------------------------------------------------------------------------
# q_stream_funnel — conversion state machine as streaming state
# ---------------------------------------------------------------------------

FUNNEL_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("step", T.IntegerType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

FUNNEL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("t1", T.TimestampType()),
        T.StructField("t2", T.TimestampType()),
        T.StructField("t3", T.TimestampType()),
    ]
)


def _funnel_kernel(user, pdf, state):
    """Per-user view→click→purchase state machine. Emits a row only at
    each TRANSITION (step time getting set) — transitions are
    invariant to micro-batch boundaries on the event-time-ordered
    replay, which is what makes the streaming output equal the batch
    CTE spelling row-for-row (emitting evolving state instead would
    bake batch boundaries into the result)."""
    t1, t2, t3 = state or (None, None, None)
    outs = []
    for _, row in pdf.iterrows():
        et, ts = row["event_type"], row["ts"]
        if t1 is None:
            if et == "view":
                t1 = ts
                outs.append((row["user_id"], 1, ts))
        elif t2 is None:
            if et == "click" and ts > t1:
                t2 = ts
                outs.append((row["user_id"], 2, ts))
        elif t3 is None:
            if et == "purchase" and ts > t2:
                t3 = ts
                outs.append((row["user_id"], 3, ts))
    out = pd.DataFrame(outs, columns=["user_id", "step", "ts"]) if outs else None
    return out, (t1, t2, t3)


@register(
    "q_stream_funnel",
    oracle="""
        WITH s1 AS (
            SELECT user_id, MIN(ts) AS t1
            FROM events WHERE event_type = 'view' GROUP BY user_id
        ), s2 AS (
            SELECT e.user_id, MIN(e.ts) AS t2
            FROM events e JOIN s1 ON e.user_id = s1.user_id
            WHERE e.event_type = 'click' AND e.ts > s1.t1
            GROUP BY e.user_id
        ), s3 AS (
            SELECT e.user_id, MIN(e.ts) AS t3
            FROM events e JOIN s2 ON e.user_id = s2.user_id
            WHERE e.event_type = 'purchase' AND e.ts > s2.t2
            GROUP BY e.user_id
        )
        SELECT user_id, 1 AS step, t1 AS ts FROM s1
        UNION ALL SELECT user_id, 2 AS step, t2 AS ts FROM s2
        UNION ALL SELECT user_id, 3 AS step, t3 AS ts FROM s3
        ORDER BY user_id, step
    """,
)
def q_stream_funnel(spark, sf_dir):
    """REAL-TIME funnel: the strict-ordering view→click→purchase state
    machine (batch twin: q_funnel_steps) carried per user in the
    streaming state store, emitting a row at each conversion-step
    transition. The batch oracle's 3-pass CTE chain computes the same
    step times at rest; the hash match proves the incremental state
    machine and the batch spelling agree — the streaming/batch
    unification claim, now for a MULTI-step conditional state, not
    just monotone accumulators.

    Wait-free at scale: state is 3 timestamps per user; transition
    rows are strictly fewer than input rows; everything shuffles once
    on user_id into the state store.
    """
    ensure_package_shipped(spark)
    s = events_stream(spark, sf_dir)
    rows = s.select("user_id", "event_id", "ts", "event_type")
    out = _by_user_bucket(
        rows, _funnel_kernel, FUNNEL_OUT_SCHEMA, FUNNEL_STATE_SCHEMA
    )
    return run_to_memory(out, output_mode="append")


# ---------------------------------------------------------------------------
# q_stream_esn — the reservoir recurrence as streaming VECTOR state
# ---------------------------------------------------------------------------

_ESN_NX = 16

ESN_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("x0", T.DoubleType()),
        T.StructField("state_norm", T.DoubleType()),
    ]
)

ESN_STATE_SCHEMA = T.StructType(
    [T.StructField("x", T.ArrayType(T.DoubleType()))]
)


def _esn_weights():
    """Deterministic small reservoir shared by the streaming kernel
    and the batch-twin test (seeded init)."""
    from flink_rc_spark.rc.reservoir import ReservoirConfig, init_weights

    cfg = ReservoirConfig(n_u=1, n_x=_ESN_NX, seed=7, spectral_radius=0.8)
    w_in, w = init_weights(cfg)
    return cfg, w_in, w


def _esn_kernel(cfg, w_in, w):
    """Per-series reservoir state transition across micro-batches: the
    reference's R4 operator state (x(t-1) held in the Flink operator
    instance) becomes an array<double> in the user's slot of its
    bucket state (``_by_user_bucket``). The kernel calls
    the SAME ``reservoir_scan`` the batch RC module runs, seeded from
    stored state, so stream and batch trajectories are bit-identical
    float-for-float (asserted in tests/test_streaming.py).

    The weights are built once on the driver and closure-captured, as
    ``run_reservoir`` does: building them runs an ``eigvals``, which
    cost ~70 us per user."""
    from flink_rc_spark.rc.reservoir import reservoir_scan

    def kernel(user, pdf, state):
        x = np.array(state[0], dtype=float) if state else None
        u = pdf[["value"]].to_numpy(dtype=float)
        states = reservoir_scan(u, w_in, w, cfg.include_bias, x0=x)
        out = pd.DataFrame(
            {
                "user_id": pdf["user_id"].to_numpy(),
                "event_id": pdf["event_id"].to_numpy(),
                "x0": states[:, 0],
                "state_norm": np.sqrt((states * states).sum(axis=1)),
            }
        )
        return out, (list(map(float, states[-1])),)

    return kernel


def esn_stream(s):
    """The per-user streaming reservoir trajectory of ``s``."""
    rows = s.select("user_id", "event_id", "ts", "value")
    return _by_user_bucket(
        rows, _esn_kernel(*_esn_weights()), ESN_OUT_SCHEMA, ESN_STATE_SCHEMA
    )


@register("q_stream_esn", oracle=None)
def q_stream_esn(spark, sf_dir):
    """STREAMING ESN reservoir — the reference's E2 pipeline
    (SURVEY.md §3.1: reservoir state evolving over an unbounded
    stream) in its most literal Spark form: the x(t−1) vector lives in
    the streaming state store per series (user), advanced each
    micro-batch by the SAME numpy ``reservoir_scan`` the batch RC
    module uses.

    Rows-only by the float-trajectory rationale (q_esn_reservoir's):
    no SQL oracle can express tanh recurrences. The quantitative check
    lives in tests/test_streaming.py: the streamed trajectory must be
    BIT-IDENTICAL to the batch reservoir on the same series — state
    carry-over across micro-batch boundaries is exactly the claim
    being proven (a fresh-state-per-batch bug would diverge at batch 2
    row 1).

    100 TB: state is n_x doubles per series in the state store
    (RocksDB at scale); throughput scales with series count exactly
    like the batch twin — the reference's own parallelism model.
    """
    ensure_package_shipped(spark)
    s = events_stream(spark, sf_dir)
    return run_to_memory(esn_stream(s), output_mode="append")


# ---------------------------------------------------------------------------
# q_stream_topk — bounded top-k leaderboard as streaming state
# ---------------------------------------------------------------------------

TOPK_K = 5

TOPK_OUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("rank", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)

TOPK_STATE_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType()),
        T.StructField("cents", T.ArrayType(T.LongType())),
        T.StructField("ids", T.ArrayType(T.LongType())),
    ]
)


def _topk_kernel(key, pdf_iter, state):
    """Per-type top-k state transition: merge the micro-batch's events
    into the K-row leaderboard held in state, emit the updated board
    tagged with a batch sequence number. State is O(K) per key — the
    leaderboard IS the state, the classic bounded-state streaming
    aggregate (contrast with the unbounded raw stream it summarizes).
    Values are integer cents (the ``cents`` column), so ranking ties
    and emitted doubles are exact; ties break on event_id, making the
    board independent of micro-batch slicing."""
    seq, cents, ids = state.get if state.exists else (0, [], [])
    pairs = list(zip(cents, ids))
    for pdf in pdf_iter:
        for c, e in zip(pdf["cents"].to_numpy(), pdf["event_id"].to_numpy()):
            pairs.append((int(c), int(e)))
    pairs.sort(key=lambda t: (-t[0], t[1]))
    pairs = pairs[:TOPK_K]
    seq += 1
    out = pd.DataFrame(
        {
            "event_type": key[0],
            "seq": seq,
            "rank": np.arange(1, len(pairs) + 1, dtype="int64"),
            "event_id": [e for _, e in pairs],
            "value": [c / 100.0 for c, _ in pairs],
        }
    )
    state.update((seq, [c for c, _ in pairs], [e for _, e in pairs]))
    yield out


def stream_topk(s):
    rows = s.select(
        "event_type", "event_id", F.expr(CENTS_SQL).alias("cents")
    )
    return rows.groupBy("event_type").applyInPandasWithState(
        _topk_kernel,
        outputStructType=TOPK_OUT_SCHEMA,
        stateStructType=TOPK_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


@register(
    "q_stream_topk",
    oracle=f"""
        SELECT event_type, rank, event_id, value
        FROM (
            SELECT event_type,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY event_type
                       ORDER BY CAST(value AS DECIMAL(18,2)) DESC, event_id)
                       AS BIGINT) AS rank,
                   event_id,
                   CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS value
            FROM events
        )
        WHERE rank <= {TOPK_K}
        ORDER BY event_type, rank
    """,
)
def q_stream_topk(spark, sf_dir):
    """Streaming top-K leaderboard per event type: the K highest-value
    events seen so far, maintained incrementally in the state store
    across micro-batches (real-time "biggest transactions" dashboards).
    Each batch emits the refreshed board tagged with a state sequence
    number; the final board (max seq per key) is the result and equals
    the batch window top-K exactly — the oracle. The state is O(K) per
    key no matter how many events stream through: the aggregation is
    the pruning. Uses applyInPandasWithState (see the module docstring
    for why not transformWithStateInPandas)."""
    from pyspark.sql import Window

    ensure_package_shipped(spark)
    s = events_stream(spark, sf_dir)
    out = run_to_memory(stream_topk(s), output_mode="append")
    w = F.max("seq").over(Window.partitionBy("event_type"))
    return (
        out.withColumn("max_seq", w)
        .filter(F.col("seq") == F.col("max_seq"))
        .select("event_type", "rank", "event_id", "value")
        .orderBy("event_type", "rank")
    )


# ---------------------------------------------------------------------------
# q_stream_upsert — changelog materialization (Flink dynamic-table upserts)
# ---------------------------------------------------------------------------

UPSERT_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("seq", T.LongType()),
        T.StructField("last_event_id", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("last_value", T.DoubleType()),
        T.StructField("n_ops", T.LongType()),
    ]
)

UPSERT_STATE_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("eid", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("cents", T.LongType()),
        T.StructField("n_ops", T.LongType()),
    ]
)


def _upsert_kernel(user, pdf, state):
    """Last-writer-wins by EVENT TIME (ts, then event_id): the state
    carries only the newest entry's coordinates plus the applied-op
    counter, so redelivered or re-sliced batches fold to the same
    answer — event-time ordering, not arrival ordering, decides."""
    seq, bts, beid, bop, bcents, nops = state or (0, -1, -1, "", 0, 0)
    cents = pdf["cents"].to_numpy()
    ts_us = pdf["ts_us"].to_numpy()
    eids = pdf["event_id"].to_numpy()
    ops = pdf["event_type"].to_numpy()
    nops += len(pdf)
    for i in range(len(pdf)):
        if (int(ts_us[i]), int(eids[i])) > (bts, beid):
            bts, beid = int(ts_us[i]), int(eids[i])
            bop = "D" if ops[i] == "click" else "U"
            bcents = int(cents[i])
    seq += 1
    out = pd.DataFrame(
        {
            "user_id": [user],
            "seq": [seq],
            "last_event_id": [beid],
            "op": [bop],
            "last_value": [bcents / 100.0],
            "n_ops": [nops],
        }
    )
    return out, (seq, bts, beid, bop, bcents, nops)


def stream_upsert(s):
    slim = s.select(
        "user_id",
        "ts",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "event_type",
        F.expr(CENTS_SQL).alias("cents"),
    )
    return _by_user_bucket(
        slim, _upsert_kernel, UPSERT_OUT_SCHEMA, UPSERT_STATE_SCHEMA
    )


@register(
    "q_stream_upsert",
    oracle="""
        SELECT user_id, last_event_id, last_value, n_ops FROM (
            SELECT user_id,
                   event_id AS last_event_id,
                   CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS last_value,
                   CASE WHEN event_type = 'click' THEN 'D' ELSE 'U' END AS op,
                   CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_ops,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1 AND op = 'U'
        ORDER BY user_id
    """,
)
def q_stream_upsert(spark, sf_dir):
    """Streaming CHANGELOG MATERIALIZATION — Flink's dynamic-table
    upsert stream (and the streaming twin of the batch q_cdc_apply):
    every event is an upsert keyed by user_id, a 'click' is a DELETE
    tombstone, and the state store maintains the newest entry per key
    by EVENT time (ts, event_id — not arrival order, so redelivery and
    re-slicing converge to the same table). Each micro-batch emits the
    refreshed row per touched key tagged with a state sequence number
    — the emitted stream IS the downstream changelog — and the final
    materialized table (max seq per key, tombstoned keys dropped)
    equals the batch last-writer-wins oracle exactly, value through
    the integer-cents state like the other stateful kernels.

    100 TB: state is one slim row per key in RocksDB; the emitted
    changelog is what a sink (Paimon/Hudi/JDBC upsert) consumes —
    this operator is how a streaming pipeline keeps a serving table
    fresh without batch recomputes.
    """
    from pyspark.sql import Window

    ensure_package_shipped(spark)
    s = events_stream(spark, sf_dir)
    out = run_to_memory(stream_upsert(s), output_mode="append")
    w = F.max("seq").over(Window.partitionBy("user_id"))
    return (
        out.withColumn("mx", w)
        .filter((F.col("seq") == F.col("mx")) & (F.col("op") == "U"))
        .select("user_id", "last_event_id", "last_value", "n_ops")
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q_stream_cep — streaming complex event processing (pattern V+ C)
# ---------------------------------------------------------------------------

CEP_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("first_view_id", T.LongType()),
        T.StructField("n_views", T.LongType()),
        T.StructField("click_id", T.LongType()),
        T.StructField("span_us", T.LongType()),
    ]
)

CEP_STATE_SCHEMA = T.StructType(
    [
        T.StructField("first_id", T.LongType()),
        T.StructField("first_ts", T.LongType()),
        T.StructField("run_len", T.LongType()),
    ]
)


def _cep_kernel(user, pdf, state):
    """Per-user CEP state machine for the pattern V+ C: the state is
    the OPEN run (first view's id + ts and the run length); a click
    arriving while a run is open closes and emits a match, any other
    type resets the run. Events are scanned in event-time order
    (``_in_event_order`` within a batch; batches arrive in event-time
    order by the replay contract), so the machine's transitions are
    exactly the batch gaps-and-islands decomposition's."""
    first_id, first_ts, run_len = state or (-1, -1, 0)
    out = []
    for ts_us, eid, etype in zip(
        pdf["ts_us"].to_numpy(), pdf["event_id"].to_numpy(), pdf["event_type"]
    ):
        if etype == "view":
            if run_len == 0:
                first_id, first_ts = int(eid), int(ts_us)
            run_len += 1
        elif etype == "click" and run_len >= 1:
            out.append(
                (user, first_id, run_len, int(eid), int(ts_us) - first_ts)
            )
            run_len = 0
        else:
            run_len = 0
    rows = pd.DataFrame(
        out,
        columns=["user_id", "first_view_id", "n_views", "click_id", "span_us"],
    ) if out else None
    # Only users with an OPEN V+ run occupy the state: a closed or
    # never-opened run drops (or never writes) the user, so state
    # footprint tracks open runs, not the stream's lifetime
    # distinct-user count (NoTimeout has no eviction path otherwise).
    return rows, (first_id, first_ts, run_len) if run_len else None


def stream_cep(s):
    slim = s.select(
        "user_id",
        "ts",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "event_type",
    )
    return _by_user_bucket(slim, _cep_kernel, CEP_OUT_SCHEMA, CEP_STATE_SCHEMA)


@register(
    "q_stream_cep",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_id, ts, event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ),
        runs AS (
            SELECT user_id, event_id, ts, rn,
                   rn - ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                           ORDER BY rn) AS grp
            FROM seq WHERE event_type = 'view'
        ),
        islands AS (
            SELECT user_id, grp,
                   CAST(COUNT(*) AS BIGINT) AS n_views,
                   MIN(event_id) AS first_view_id,
                   MIN(ts) AS first_view_ts,
                   MAX(rn) AS last_rn
            FROM runs GROUP BY user_id, grp
        )
        SELECT i.user_id AS user_id, i.first_view_id, i.n_views,
               s.event_id AS click_id,
               CAST(epoch_us(s.ts) - epoch_us(i.first_view_ts)
                    AS BIGINT) AS span_us
        FROM islands i
        JOIN seq s ON s.user_id = i.user_id AND s.rn = i.last_rn + 1
        WHERE s.event_type = 'click'
        ORDER BY i.user_id, first_view_id
    """,
)
def q_stream_cep(spark, sf_dir):
    """STREAMING complex event processing — the q_cep_pattern pattern
    (V+ C, greedy, skip past last row) as a per-key state machine in
    the state store: the only state per user is the OPEN run (3
    bigints), matches emit the moment their closing click arrives,
    and a run spanning micro-batches is carried, not re-derived. The
    oracle is the SAME batch gaps-and-islands SQL as q_cep_pattern —
    the hash proves the incremental state machine computes exactly
    the batch decomposition (the CEP analogue of q_stream_esn's
    stream==batch contract); cross-batch carry + redelivery behavior
    are pinned separately in tests/test_streaming.py.

    100 TB: this is the shape Flink-CEP compiles contiguous patterns
    into — O(pattern length) state per key, no event buffering beyond
    the open run, emission latency = the closing event's arrival.
    Spark runs it on applyInPandasWithState with the open runs held in
    user-bucket state (``_by_user_bucket``); the batch twin is the backfill path over the same oracle.
    """
    ensure_package_shipped(spark)
    s = events_stream(spark, sf_dir)
    out = run_to_memory(stream_cep(s), output_mode="append")
    return out.orderBy("user_id", "first_view_id")


# ---------------------------------------------------------------------------
# q_stream_timeout — event-time TIMERS: absence detection (view w/o click)
# ---------------------------------------------------------------------------

TIMEOUT_US = 12 * 3600 * 1_000_000  # 12h click horizon

TIMEOUT_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("view_id", T.LongType()),
        T.StructField("view_ts_us", T.LongType()),
        T.StructField("deadline_us", T.LongType()),
    ]
)

TIMEOUT_STATE_SCHEMA = T.StructType(
    [
        T.StructField("view_id", T.LongType()),
        T.StructField("view_ts_us", T.LongType()),
    ]
)


def _timeout_kernel(key, pdf_iter, state):
    """Per-user absence detector. State = the latest pending view (2
    bigints). A newer view REPLACES the pending one; a click within
    the horizon DISARMS it; an event-time timer emits the alert when
    the watermark passes the deadline with neither. Because the replay
    delivers events in event-time order, an arriving event with
    ts > deadline also PROVES the absence (no earlier event can still
    arrive), so the kernel emits on whichever comes first — timer or
    proof event; both paths produce the identical row, and the state
    is cleared so it emits exactly once."""
    if state.hasTimedOut:
        view_id, view_ts = state.get
        yield pd.DataFrame(
            [(key[0], view_id, view_ts, view_ts + TIMEOUT_US)],
            columns=["user_id", "view_id", "view_ts_us", "deadline_us"],
        )
        state.remove()
        return
    pending = state.get if state.exists else None
    out = []
    pdf = _in_event_order(pdf_iter)
    for ts_us, eid, etype in zip(
        pdf["ts_us"].to_numpy(), pdf["event_id"].to_numpy(), pdf["event_type"]
    ):
        if pending is not None and int(ts_us) > pending[1] + TIMEOUT_US:
            out.append(
                (key[0], pending[0], pending[1], pending[1] + TIMEOUT_US)
            )
            pending = None
        if etype == "view":
            pending = (int(eid), int(ts_us))
        else:  # click
            pending = None
    if pending is not None:
        # the timer clock is MILLISECONDS (floor µs -> ms)
        deadline_ms = (pending[1] + TIMEOUT_US) // 1000
        if deadline_ms <= state.getCurrentWatermarkMs():
            # REDELIVERY guard: a re-seen old view may re-arm a pending
            # whose deadline the watermark already passed — the absence
            # is decided (no view/click with ts <= deadline can still
            # arrive), so emit the identical alert row now instead of
            # arming an invalid timer. Unreachable in an ordered clean
            # replay (the trailing watermark is always behind a fresh
            # view's deadline), so the oracle is unaffected.
            out.append(
                (key[0], pending[0], pending[1], pending[1] + TIMEOUT_US)
            )
            if state.exists:
                state.remove()
        else:
            state.update(pending)
            state.setTimeoutTimestamp(deadline_ms)
    elif state.exists:
        state.remove()
    if out:
        yield pd.DataFrame(
            out,
            columns=["user_id", "view_id", "view_ts_us", "deadline_us"],
        )


def stream_timeout(s):
    slim = (
        s.filter(F.col("event_type").isin("view", "click"))
        .withWatermark("ts", "10 minutes")
        # the watermarked column itself must reach the stateful
        # operator's input, so carry ts alongside its µs projection
        .select(
            "user_id",
            "ts",
            F.unix_micros("ts").alias("ts_us"),
            "event_id",
            "event_type",
        )
    )
    return slim.groupBy("user_id").applyInPandasWithState(
        _timeout_kernel,
        outputStructType=TIMEOUT_OUT_SCHEMA,
        stateStructType=TIMEOUT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )


@register(
    "q_stream_timeout",
    oracle="""
        WITH vc AS (
            SELECT user_id, event_id, ts, event_type
            FROM events WHERE event_type IN ('view', 'click')
        ),
        seq AS (
            SELECT user_id, event_id, ts, event_type,
                   lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS next_us
            FROM vc
        ),
        mx AS (
            -- watermark clock is ms: final wm = floor_ms(max ts) - 10 min
            SELECT epoch_ms(MAX(ts)) - 600000 AS wm_ms FROM vc
        )
        SELECT user_id, event_id AS view_id,
               epoch_us(ts) AS view_ts_us,
               epoch_us(ts) + CAST(43200000000 AS BIGINT) AS deadline_us
        FROM seq, mx
        WHERE event_type = 'view'
          AND (
            -- proof-event path: the user's next view/click lies beyond
            -- the horizon, so its arrival decides the absence
            (next_us IS NOT NULL
             AND next_us > epoch_us(ts) + CAST(43200000000 AS BIGINT))
            -- timer path: no further view/click at all -- emits iff the
            -- final watermark passed the ms-floored deadline (STRICT >,
            -- Spark fires timers on timeoutTimestamp < watermark)
            OR (next_us IS NULL
                AND (epoch_us(ts) + CAST(43200000000 AS BIGINT)) // 1000
                    < wm_ms)
          )
        ORDER BY user_id, view_id
    """,
)
def q_stream_timeout(spark, sf_dir):
    """EVENT-TIME TIMERS / absence detection — the classic Flink
    KeyedProcessFunction timer use-case Spark's windowed operators
    can't express: alert when a 'view' is NOT followed by a click (or
    a fresh view) within 12 hours. applyInPandasWithState with
    EventTimeTimeout arms one timer per user (the ms-floored deadline
    of the latest pending view); the timer fires in the no-data
    micro-batch once the watermark passes it, and an arriving
    same-user event beyond the deadline emits the identical alert
    early (absence is already proven in event-time order) — exactly
    once either way, so the output is batch-slicing-invariant.

    Exact-oracled: the batch twin is a lead() over the view/click
    subsequence — a view times out iff its successor is beyond the
    horizon, or it has none and the pinned final watermark
    (floor_ms(max ts) - 10 min, the q_stream_watermark_late model)
    passed its deadline. The hash pins both emission paths AND the
    strict < timer-fire boundary.

    100 TB: state is 2 bigints per key with an armed timer — the state
    store holds O(users currently pending), watermark-bounded; this is
    the cart-abandonment / SLA-breach / heartbeat-loss shape every
    event pipeline needs, at the cost of one user_id shuffle.
    """
    ensure_package_shipped(spark)
    s = events_stream(spark, sf_dir)
    out = run_to_memory(stream_timeout(s), output_mode="append")
    return out.orderBy("user_id", "view_id")


# ---------------------------------------------------------------------------
# q_stream_hll — streaming distinct-user cardinality (HLL state)
# ---------------------------------------------------------------------------

# md5-derived bucket/rho of the user token 'u<user_id>' — the
# q_sketch_hll derivation on a keyed stream column (computed JVM-side
# BEFORE the stateful operator, so the kernel only folds integers)
_SHLL_KEY = "'u' || CAST(user_id AS STRING)"

SHLL_OUT_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.LongType()),
        T.StructField("register", T.LongType()),
    ]
)

SHLL_STATE_SCHEMA = T.StructType([T.StructField("maxr", T.LongType())])


def _hll_kernel(key, pdf_iter, state):
    """Per-bucket register fold: state = max rho seen; each micro-batch
    emits the refreshed register. MAX is commutative/associative/
    idempotent, so the register is independent of micro-batch slicing
    AND replay duplication — the at-least-once-safe state fold."""
    (maxr,) = state.get if state.exists else (0,)
    for pdf in pdf_iter:
        if len(pdf):
            maxr = max(maxr, int(pdf["r"].max()))
    state.update((maxr,))
    yield pd.DataFrame({"bucket": [key[0]], "register": [maxr]})


def stream_hll(s):
    rho = s.select(
        F.expr(hll_bucket(_SHLL_KEY)).alias("bucket"),
        F.expr(hll_rho(hll_w(_SHLL_KEY))).cast("bigint").alias("r"),
    )
    return rho.groupBy("bucket").applyInPandasWithState(
        _hll_kernel,
        outputStructType=SHLL_OUT_SCHEMA,
        stateStructType=SHLL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


@register(
    "q_stream_hll",
    oracle=f"""
    WITH cells AS (
        SELECT {hll_bucket(_SHLL_KEY, duck=True)} AS bucket,
               {hll_w(_SHLL_KEY, duck=True)} AS w
        FROM events
    ),
    rho AS (SELECT bucket, {hll_rho("w")} AS r FROM cells),
    regs AS (
        SELECT g.bucket,
               CAST(COALESCE(MAX(rho.r), 0) AS BIGINT) AS register
        FROM range({_HLL_M}) g(bucket)
        LEFT JOIN rho ON rho.bucket = g.bucket
        GROUP BY g.bucket
    )
    SELECT {HLL_ESTIMATE_DUCK}
    FROM regs
    """,
)
def q_stream_hll(spark, sf_dir):
    """STREAMING distinct-user cardinality: a 256-register HyperLogLog
    maintained in the state store — the real-time "unique visitors"
    counter. Bucket/rho derive JVM-side from md5('u'||user_id); the
    stateful kernel per bucket folds MAX(rho) (commutative +
    idempotent => slicing- and duplication-invariant, the
    at-least-once-safe fold); the final registers equal the batch
    q_sketch_hll build over the same tokens EXACTLY, which is the
    oracle. Total state: 256 longs for any stream volume — the
    bounded-state poster child next to q_stream_topk's O(K) board.

    Scale: the shuffle is keyed on 256 buckets (bounded regardless of
    event volume) AFTER a stateless map — at Kafka scale the map runs
    source-parallel and only 256-key traffic reaches the state store;
    a production variant pre-aggregates per-partition maxima in
    foreachBatch, the same merge this key's batch twin
    (q_sketch_hll_merge) proves lossless.
    """
    ensure_package_shipped(spark)
    s = events_stream(spark, sf_dir)
    out = run_to_memory(stream_hll(s), output_mode="append")
    regs = out.groupBy("bucket").agg(
        F.max("register").cast("bigint").alias("register")
    )
    spine = spark.range(_HLL_M).select(F.col("id").alias("bucket"))
    full = (
        spine.join(regs, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("register", F.lit(0)).cast("bigint").alias("register"),
        )
    )
    return full.agg(*hll_estimate())


# ---------------------------------------------------------------------------
# q_stream_anomaly — running z-score anomaly detection (integer state)
# ---------------------------------------------------------------------------

ANOM_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("cents", T.LongType()),
        T.StructField("n_prior", T.LongType()),
        T.StructField("z", T.DoubleType()),
    ]
)

ANOM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("s", T.LongType()),
        T.StructField("q", T.LongType()),
    ]
)

_ANOM_MIN_PRIOR = 5


def _anomaly_kernel(user, pdf, state):
    """Per-user running-moment fold: state = (n, Σc, Σc²) over all
    PRIOR events (exact integers — the fold is associative on ordered
    prefixes, so micro-batch slicing cannot change any emitted row).
    An event is anomalous against its own past: with den = n·q − s²,
    flag when (c·n − s)² > 9·den — the |z| > 3 test with NO float in
    the decision; z itself is one division of exactly-agreed integers
    after one IEEE-exact sqrt."""
    import math

    n, s, q = state or (0, 0, 0)
    outs = []
    for uid, eid, c in zip(
        pdf["user_id"].to_numpy(),
        pdf["event_id"].to_numpy(),
        pdf["cents"].to_numpy(),
    ):
        c = int(c)
        if n >= _ANOM_MIN_PRIOR:
            den = n * q - s * s
            num = c * n - s
            if den > 0 and num * num > 9 * den:
                outs.append(
                    (int(uid), int(eid), c, n, float(num) / math.sqrt(float(den)))
                )
        n, s, q = n + 1, s + c, q + c * c
    out = pd.DataFrame(
        outs, columns=["user_id", "event_id", "cents", "n_prior", "z"]
    ) if outs else None
    return out, (n, s, q)


def stream_anomaly(s):
    rows = s.select(
        "user_id",
        "event_id",
        "ts",
        F.expr(CENTS_SQL).alias("cents"),
    )
    return _by_user_bucket(
        rows, _anomaly_kernel, ANOM_OUT_SCHEMA, ANOM_STATE_SCHEMA
    )


@register(
    "q_stream_anomaly",
    oracle=f"""
        WITH c AS (
            SELECT user_id, event_id,
                   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                       AS cents,
                   ts
            FROM events
        ), cum AS (
            SELECT user_id, event_id, cents,
                   CAST(COUNT(*) OVER w AS BIGINT) AS n,
                   CAST(COALESCE(SUM(cents) OVER w, 0) AS BIGINT) AS s,
                   CAST(COALESCE(SUM(cents * cents) OVER w, 0) AS BIGINT)
                       AS q
            FROM c
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING)
        )
        SELECT user_id, event_id, cents, n AS n_prior,
               CAST(cents * n - s AS DOUBLE)
                   / sqrt(CAST(n * q - s * s AS DOUBLE)) AS z
        FROM cum
        WHERE n >= {_ANOM_MIN_PRIOR}
          AND n * q - s * s > 0
          AND (cents * n - s) * (cents * n - s) > 9 * (n * q - s * s)
        ORDER BY user_id, event_id
    """,
)
def q_stream_anomaly(spark, sf_dir):
    """STREAMING ANOMALY DETECTION: each event's value is z-scored
    against the user's OWN running history (n, Σc, Σc² in the state
    store — 3 bigints per user) and emitted when |z| > 3 with ≥ 5
    priors — the real-time fraud/spike alert. The decision is a PURE
    INTEGER comparison ((c·n−s)² > 9·(n·q−s²)), so the alert set is
    exactly the batch cumulative-window spelling — the oracle — for
    ANY micro-batch slicing; z itself is one division after one
    IEEE-exact sqrt on the same integers.

    Scale: state is O(1) per user; the stateless cents map runs
    source-parallel; only the (user_id) keyed traffic reaches the
    state store. Integer headroom: (c·n−s)² < 2^63 holds to ~2e4
    events/user at cents ≤ 5e4 (documented; per-user history, not
    corpus size). The batch twin is the same cumulative window —
    useful for backfills over cold storage while this kernel owns the
    live path.
    """
    ensure_package_shipped(spark)
    s = events_stream(spark, sf_dir)
    out = run_to_memory(stream_anomaly(s), output_mode="append")
    return out.orderBy("user_id", "event_id")


# ---------------------------------------------------------------------------
# q_stream_bottomk — streaming k-min-hash distinct sample per key
# ---------------------------------------------------------------------------

_SBK_K = 8

SBK_OUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("h", T.StringType()),
        T.StructField("event_id", T.LongType()),
    ]
)

SBK_STATE_SCHEMA = T.StructType(
    [
        T.StructField("hs", T.ArrayType(T.StringType())),
        T.StructField("ids", T.ArrayType(T.LongType())),
    ]
)


def _bottomk_kernel(key, pdf_iter, state):
    """Per-type bottom-K board of md5(event_id) hashes. The fold is
    min-K — commutative, associative, idempotent — so the FINAL board
    is independent of micro-batch slicing AND replay duplication, and
    every batch's emitted board is a superset snapshot that contains
    the final members from their arrival onward."""
    hs, ids = state.get if state.exists else ([], [])
    board = sorted(zip(hs, ids))
    for pdf in pdf_iter:
        for h, eid in zip(pdf["h"], pdf["event_id"].to_numpy()):
            board.append((str(h), int(eid)))
        board = sorted(set(board))[:_SBK_K]
    state.update(([h for h, _ in board], [i for _, i in board]))
    yield pd.DataFrame(
        {
            "event_type": [key[0]] * len(board),
            "h": [h for h, _ in board],
            "event_id": [i for _, i in board],
        }
    )


def stream_bottomk(s):
    rows = s.select(
        "event_type",
        F.md5(F.col("event_id").cast("string")).alias("h"),
        "event_id",
    )
    return rows.groupBy("event_type").applyInPandasWithState(
        _bottomk_kernel,
        outputStructType=SBK_OUT_SCHEMA,
        stateStructType=SBK_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


@register(
    "q_stream_bottomk",
    oracle=f"""
        WITH h AS (
            SELECT event_type,
                   md5(CAST(event_id AS VARCHAR)) AS h,
                   event_id,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY md5(CAST(event_id AS VARCHAR)))
                       AS rn
            FROM events
        )
        SELECT event_type, h, event_id
        FROM h WHERE rn <= {_SBK_K}
        ORDER BY event_type, h
    """,
)
def q_stream_bottomk(spark, sf_dir):
    """STREAMING BOTTOM-K HASH SAMPLE per event type: the state store
    holds the K smallest md5(event_id) values seen — a uniform
    K-element distinct sample of the unbounded stream (the KMV /
    bottom-k sketch that also powers q_sketch_kmv_setops' cardinality
    estimates), maintained live. min-K is commutative + associative +
    idempotent, so the final board equals the batch
    ORDER-BY-hash-LIMIT-K spelling — the oracle — under any
    micro-batch slicing or at-least-once replay; the batch twin is
    q_sample_bottomk's corpus-wide shape.

    Emitted boards are running snapshots; the final result reduces the
    append log by the same min-K (row_number over the union), which is
    sound because every final member appears in every board from its
    arrival onward (monotone fold).

    Scale: state is O(K) strings per key; only (event_type)-keyed
    traffic reaches the state store, and a production variant
    pre-folds per-partition bottom-K in foreachBatch — the same
    lossless merge the board fold itself performs.
    """
    from pyspark.sql import Window

    ensure_package_shipped(spark)
    s = events_stream(spark, sf_dir)
    out = run_to_memory(stream_bottomk(s), output_mode="append")
    w = Window.partitionBy("event_type").orderBy("h")
    return (
        out.select("event_type", "h", "event_id")
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _SBK_K)
        .drop("rn")
        .orderBy("event_type", "h")
    )


# ---------------------------------------------------------------------------
# q_stream_first_touch — streaming new-user detection (seen-flag state)
# ---------------------------------------------------------------------------

FT_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
    ]
)

FT_STATE_SCHEMA = T.StructType([T.StructField("seen", T.LongType())])


def _first_touch_kernel(user, pdf, state):
    """Per-user seen flag: the FIRST event (in event-time order) emits
    a new-user row; everything after is suppressed. Emission happens
    at a state TRANSITION (unseen → seen), so it is invariant to
    micro-batch boundaries on the ordered replay — the q_stream_funnel
    discipline with a 1-bit machine."""
    return (None, state) if state else (pdf.iloc[:1], (1,))


def stream_first_touch(s):
    rows = s.select("user_id", "event_id", "ts", "event_type")
    return _by_user_bucket(
        rows, _first_touch_kernel, FT_OUT_SCHEMA, FT_STATE_SCHEMA
    )


@register(
    "q_stream_first_touch",
    oracle="""
        WITH ranked AS (
            SELECT user_id, event_id, ts, event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        )
        SELECT user_id, event_id, ts, event_type
        FROM ranked WHERE rn = 1
        ORDER BY user_id
    """,
)
def q_stream_first_touch(spark, sf_dir):
    """STREAMING NEW-USER DETECTION: a 1-bit seen flag per user in the
    state store emits exactly the FIRST event each user ever produces
    — the live acquisition feed (welcome flows, attribution first
    touch, q_new_vs_returning's 'new' column as a stream instead of a
    batch rollup). Emission is a state transition (unseen → seen), so
    the emitted set is identical under any micro-batch slicing on the
    event-time-ordered replay, and equals the batch
    ROW_NUMBER()=1 spelling — the oracle — by hash.

    Scale: state is ONE long per user (the minimal stateful operator);
    only (user_id)-keyed traffic reaches the store; the batch twin
    serves backfills. A TTL'd variant (timeout eviction) trades exact
    lifetime dedup for bounded state on unbounded user churn — the
    documented production knob.
    """
    ensure_package_shipped(spark)
    s = events_stream(spark, sf_dir)
    out = run_to_memory(stream_first_touch(s), output_mode="append")
    return out.orderBy("user_id")
