"""Streaming window queries (SURVEY.md §2.3).

Each declared query replays events.parquet through Structured
Streaming (see replay.py) and is oracle-checked against the identical
batch SQL — the strongest correctness statement Spark's unified model
offers.

Watermark/output-mode notes (learned behavior, encoded here):
- windowed aggregations run in **complete** mode for the bounded
  replay: append mode only emits windows the watermark has passed,
  and a bounded replay's watermark never passes the final window;
- q_stream_watermark_late intentionally uses append+watermark to
  exercise watermark-gated emission — its output is the
  watermark-passed window subset, which the bounded replay makes
  deterministic (exact oracle models the ms-clock inclusive
  window_end <= watermark emission rule);
- value sums accumulate in DECIMAL so stream results hash-match the
  batch oracle exactly.

100 TB story: tumbling/sliding windows shuffle on (window, keys) with
partial aggregation; state store size is bounded by active windows ×
keys; watermarks bound state growth. Swap the file source for Kafka
and nothing else changes.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_rc_spark.registry import register
from flink_rc_spark.sources import load
from flink_rc_spark.streaming.replay import events_stream, run_to_memory


@register(
    "q_stream_tumbling",
    oracle="""
        SELECT DATE_TRUNC('hour', ts) AS window_start,
               event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1, 2
    """,
)
def q_stream_tumbling(spark, sf_dir):
    """Tumbling 1h window count/sum by event_type (streaming)."""
    s = events_stream(spark, sf_dir)
    agg = (
        s.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    return run_to_memory(agg, output_mode="complete")


@register(
    "q_stream_sliding",
    oracle="""
        WITH ex AS (
            SELECT event_type, ts, epoch_us(ts) AS us,
                   (epoch_us(ts) // 900000000) AS bucket
            FROM events
        )
        SELECT MAKE_TIMESTAMP((bucket - k) * 900000000) AS window_start,
               event_type,
               COUNT(*) AS n
        FROM ex CROSS JOIN (VALUES (0), (1), (2), (3)) AS t(k)
        WHERE us - (bucket - k) * 900000000 < 3600000000
        GROUP BY 1, 2
    """,
)
def q_stream_sliding(spark, sf_dir):
    """Sliding 1h window every 15min (each event lands in 4 windows);
    oracle expands the window membership arithmetically."""
    s = events_stream(spark, sf_dir)
    agg = (
        s.groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
        )
    )
    return run_to_memory(agg, output_mode="complete")


@register(
    "q_stream_session",
    oracle="""
        WITH g AS (
            SELECT user_id, ts,
                   CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             > INTERVAL 30 MINUTE
                        OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ),
        s AS (
            SELECT user_id, ts,
                   SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS session_no
            FROM g
        )
        SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
        FROM s GROUP BY user_id, session_no
    """,
)
def q_stream_session(spark, sf_dir):
    """Session windows (30 min inactivity gap) per user; oracle is the
    classic gaps-and-islands rewrite on the bounded table."""
    s = events_stream(spark, sf_dir)
    agg = (
        s.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )
    return run_to_memory(agg, output_mode="complete")


@register(
    "q_stream_watermark_late",
    oracle="""
        WITH mx AS (
            -- Spark's watermark clock is MILLISECONDS: EventTimeStats
            -- accumulates max event time with µs truncated to ms, so
            -- the final watermark is floor_ms(max ts) - 10 min.
            SELECT make_timestamp(epoch_ms(MAX(ts)) * 1000)
                   - INTERVAL 10 MINUTE AS wm
            FROM events
        )
        SELECT date_trunc('hour', ts) AS window_start,
               event_type,
               COUNT(*) AS n
        FROM events, mx
        GROUP BY 1, 2, mx.wm
        -- append mode emits a window once the watermark has PASSED its
        -- end; the boundary is INCLUSIVE (window_end == watermark
        -- emits — proven by the synthetic boundary-collision test in
        -- tests/test_streaming.py::test_watermark_boundary_inclusive)
        HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <= ANY_VALUE(wm)
    """,
)
def q_stream_watermark_late(spark, sf_dir):
    """Tumbling windows under a 10-minute watermark in APPEND mode:
    only windows the watermark has passed are emitted, so the bounded
    replay's final windows are withheld in state at shutdown.

    Exact-oracled since round 5 (previously rows-only): the bounded
    single-file replay makes the final watermark deterministic — one
    data batch aggregates every row (the initial watermark is 0, so
    nothing is dropped as late), then the trailing no-data micro-batch
    advances the watermark to floor_ms(max event time) - 10 min and
    flushes exactly the windows whose end <= that watermark
    (inclusive boundary, ms clock — both pinned by dedicated tests).
    The oracle spells that emission rule over the batch table, the
    same global-watermark modeling q_stream_join_outer proved out.
    """
    s = events_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )
    return run_to_memory(agg, output_mode="append")


@register(
    "q_stream_dedup",
    oracle="SELECT event_id, user_id, event_type, value FROM events",
)
def q_stream_dedup(spark, sf_dir):
    """Streaming dedup: the replay is unioned with itself (every event
    arrives twice) and dropDuplicatesWithinWatermark restores
    exactly-once on event_id; oracle = the original bounded table."""
    s = events_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    doubled = s.unionByName(s)
    deduped = (
        doubled.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type", "value")
    )
    return run_to_memory(deduped, output_mode="append")


@register(
    "q_stream_join",
    oracle="""
        SELECT event_id, user_id, event_type, c_mktsegment
        FROM events JOIN customer ON user_id = c_custkey
    """,
)
def q_stream_join(spark, sf_dir):
    """Stream-static join: streaming events enriched with the customer
    dimension (static side broadcast per micro-batch, no state)."""
    s = events_stream(spark, sf_dir)
    dim = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = s.join(
        F.broadcast(dim), s.user_id == dim.c_custkey, "inner"
    ).select("event_id", "user_id", "event_type", "c_mktsegment")
    return run_to_memory(joined, output_mode="append")


# The batch twin of _view_click_join, shared by its three oracles:
# views, clicks, their matches, and the views decidably unmatched. A
# view is decided once the global watermark passes its match horizon
# vts + 1h; the global watermark is the MIN of the per-side watermarks,
# each computed on its FILTERED stream (mx.m - 2h).
_VIEW_CLICK_CTES = """
        mx AS (
            SELECT LEAST(
                (SELECT MAX(ts) FROM events WHERE event_type = 'view'),
                (SELECT MAX(ts) FROM events WHERE event_type = 'click')
            ) AS m
        ),
        views AS (
            SELECT user_id, event_id AS view_id, ts AS vts
            FROM events WHERE event_type = 'view'
        ),
        clicks AS (
            SELECT user_id AS c_user_id, event_id AS click_id, ts AS cts
            FROM events WHERE event_type = 'click'
        ),
        matched AS (
            SELECT v.user_id, v.view_id, c.click_id
            FROM views v JOIN clicks c
              ON c.c_user_id = v.user_id
             AND c.cts >= v.vts
             AND c.cts <= v.vts + INTERVAL 1 HOUR
        ),
        unmatched_views AS (
            SELECT v.user_id, v.view_id, CAST(NULL AS BIGINT) AS click_id
            FROM views v, mx
            WHERE NOT EXISTS (
                SELECT 1 FROM clicks c
                WHERE c.c_user_id = v.user_id
                  AND c.cts >= v.vts
                  AND c.cts <= v.vts + INTERVAL 1 HOUR
            )
            AND v.vts + INTERVAL 1 HOUR < mx.m - INTERVAL 2 HOUR
        )
"""


def _view_click_join(s, how: str):
    """The event stream ``s``'s views joined (``how``) to same-user
    clicks within the following hour, both sides under a 2h watermark.
    ``user_id`` is the view's, or the click's on a full-outer row with
    no view."""
    views = (
        s.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("vts"),
        )
        .withWatermark("vts", "2 hours")
    )
    clicks = (
        s.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("cts"),
        )
        .withWatermark("cts", "2 hours")
    )
    return views.join(
        clicks,
        F.expr(
            "user_id = c_user_id AND cts >= vts AND cts <= vts + INTERVAL 1 HOUR"
        ),
        how,
    ).select(
        F.coalesce("user_id", "c_user_id").alias("user_id"),
        "view_id",
        "click_id",
    )


@register(
    "q_stream_stream_join",
    oracle=f"""
        WITH {_VIEW_CLICK_CTES}
        SELECT user_id, view_id, click_id FROM matched
    """,
)
def q_stream_stream_join(spark, sf_dir):
    """Stream-stream inner join with watermarks: click attribution —
    each view joined to same-user clicks within the following hour.

    Both sides carry a 2h watermark so the state store evicts rows
    older than the join window (Spark requires the watermark + time
    bound to reason about state cleanup); inner-join results stream
    out as matches arrive, so the bounded replay's output equals the
    batch self-join oracle exactly. 100 TB story: state is bounded by
    (watermark horizon x per-user event rate); the join shuffles both
    streams on user_id — the same equi-key-plus-range-residual shape
    as the batch interval join (q_join_selfjoin).
    """
    joined = _view_click_join(events_stream(spark, sf_dir), "inner")
    return run_to_memory(joined, output_mode="append")


@register(
    "q_stream_join_outer",
    oracle=f"""
        WITH {_VIEW_CLICK_CTES}
        SELECT user_id, view_id, click_id FROM matched
        UNION ALL
        SELECT user_id, view_id, click_id FROM unmatched_views
    """,
)
def q_stream_join_outer(spark, sf_dir):
    """Stream-stream LEFT OUTER join with watermark-gated null
    emission — the attribution query that also reports views that
    NEVER converted. The semantics the oracle must model (and the
    reason outer stream joins are subtle): an unmatched view is
    emitted null-padded only when the watermark proves no future
    click can match — i.e. the GLOBAL watermark (the MIN of the two
    sides' watermarks, each max-event-time-of-that-filtered-side −
    2h, advanced by the trailing no-data micro-batch) has passed the
    view's match horizon vts + 1h. Parity found the subtlety the
    first spelling missed: the watermark is per-side-then-min, not
    max-over-all-events — a view stalls behind the SLOWER side's
    clock (here the click stream ends hours before the view stream),
    exactly the multi-stream skew behavior operators fight in
    production. Views younger than that remain in
    state at shutdown and are NOT emitted — so the bounded replay's
    result is the batch left join RESTRICTED to decidable rows, which
    is exactly what the oracle spells (strict <, Spark's state-
    eviction comparison). The hash match proves the eviction boundary
    to the row.

    100 TB: same state bound as the inner join (watermark horizon ×
    per-user rate); the no-data batch discipline is what drains outer
    results on a real cluster too — a stream that stops receiving
    data still flushes its decidable unmatched rows.
    """
    joined = _view_click_join(events_stream(spark, sf_dir), "leftOuter")
    return run_to_memory(joined, output_mode="append")


@register(
    "q_stream_full_outer",
    oracle=f"""
        WITH {_VIEW_CLICK_CTES},
        unmatched_clicks AS (
            -- a click's match horizon is its OWN timestamp (it joins
            -- views with vts in [cts - 1h, cts]), so it is decidably
            -- unmatched as soon as the global watermark passes cts
            SELECT c.c_user_id AS user_id,
                   CAST(NULL AS BIGINT) AS view_id, c.click_id
            FROM clicks c, mx
            WHERE NOT EXISTS (
                SELECT 1 FROM views v
                WHERE v.user_id = c.c_user_id
                  AND c.cts >= v.vts
                  AND c.cts <= v.vts + INTERVAL 1 HOUR
            )
            AND c.cts < mx.m - INTERVAL 2 HOUR
        )
        SELECT user_id, view_id, click_id FROM matched
        UNION ALL
        SELECT user_id, view_id, click_id FROM unmatched_views
        UNION ALL
        SELECT user_id, view_id, click_id FROM unmatched_clicks
    """,
)
def q_stream_full_outer(spark, sf_dir):
    """Stream-stream FULL OUTER join with watermark-gated null emission
    on BOTH sides — completing the outer-join family beside
    q_stream_join_outer: views that never converted AND clicks that
    attach to no view (orphan conversions — bot traffic, lost
    impressions) each surface exactly once when the watermark proves
    no future partner can arrive.

    The per-side horizons are asymmetric, which is the instructive
    part: a view stays undecided until the global watermark passes
    vts + 1h (a future click could still land inside its hour), but a
    click's horizon is its own timestamp — any matching view has
    vts <= cts, so the click is decided as soon as the watermark
    passes cts. The oracle spells both rules (strict <, the proven
    state-eviction comparison) under the same min-of-filtered-sides
    global watermark q_stream_join_outer pinned down. On this fixture
    the click stream ends hours early, so the slow click clock gates
    BOTH sides' null emission — the multi-stream skew case.

    100 TB: state identical to the inner join (watermark horizon x
    per-user rate per side); both sides shuffle on user_id once.
    """
    joined = _view_click_join(events_stream(spark, sf_dir), "fullOuter")
    return run_to_memory(joined, output_mode="append")
