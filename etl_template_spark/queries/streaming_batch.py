"""Event-time windowing operators — the batch-equivalent (and therefore
DuckDB-checkable) twins of the Structured Streaming jobs in
``streaming/jobs.py`` (SURVEY.md §2B: q_stream_tumbling, q_stream_sliding,
q_sessionize, q_stream_dedup_late).

Spark's ``window()`` / ``session_window()`` produce IDENTICAL results in
batch and streaming over the same (complete) input — streaming only adds
incremental state + watermark-driven finalization.  Verifying the batch
twin against the oracle verifies the windowing semantics; the streaming
tests (tests/test_streaming.py) then verify the incremental machinery
(watermark drops, availableNow checkpointing) on the same fixtures.

Window alignment note: Spark aligns tumbling windows to the epoch; DuckDB
``time_bucket`` aligns sub-day buckets to an epoch-aligned origin too, so
5/10-minute buckets coincide exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# r13: events.value is fixed-point-certified (see compat.dsum_fp)
from ..compat import dsum_fp, dsum_sql
from ..io import load_table
from ..operators.sessionize import sessionize
from ..registry import register


@register(
    "q_stream_tumbling",
    oracle=f"""
    SELECT
      time_bucket(INTERVAL '5 minutes', ts)                        AS win_start,
      time_bucket(INTERVAL '5 minutes', ts) + INTERVAL '5 minutes' AS win_end,
      event_type,
      COUNT(*)                                                     AS n_events,
      {dsum_sql('value')}                                          AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    ORDER BY win_start, event_type
    """,
    tags=("streaming", "window"),
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 5-minute windows per event_type.  In streaming this is
    ``readStream … withWatermark('ts', …).groupBy(window(…))`` — same
    plan, plus state; partial aggregation means the shuffle carries one
    row per (window, type) per partition at any scale."""
    ev = load_table(spark, sf_dir, "events")
    win = F.window("ts", "5 minutes")
    return (
        ev.groupBy(win.alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum_fp("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "q_stream_sliding",
    oracle=f"""
    WITH starts AS (
      SELECT *, time_bucket(INTERVAL '5 minutes', ts) AS s1 FROM events),
    expanded AS (
      SELECT event_type, value, s1 AS win_start, ts FROM starts
      UNION ALL
      SELECT event_type, value, s1 - INTERVAL '5 minutes' AS win_start, ts FROM starts)
    SELECT
      win_start,
      win_start + INTERVAL '10 minutes' AS win_end,
      event_type,
      COUNT(*)                          AS n_events,
      {dsum_sql('value')}               AS sum_value
    FROM expanded
    WHERE ts >= win_start AND ts < win_start + INTERVAL '10 minutes'
    GROUP BY 1, 2, 3
    ORDER BY win_start, event_type
    """,
    tags=("streaming", "window"),
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (10-minute width, 5-minute slide): every event
    lands in 2 windows.  Spark's window() expands rows internally; the
    oracle states the same expansion as a UNION ALL of the two aligned
    starts.  Overlap factor = width/slide bounds the row blowup (2×) —
    the knob to watch at scale."""
    ev = load_table(spark, sf_dir, "events")
    win = F.window("ts", "10 minutes", "5 minutes")
    return (
        ev.groupBy(win.alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum_fp("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "q_sessionize",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    ses AS (
      SELECT user_id, ts, event_id, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM seq)
    SELECT user_id,
           CAST(session_id AS BIGINT) AS session_id,
           COUNT(*)                   AS n_events,
           MIN(ts)                    AS session_start,
           MAX(ts)                    AS session_end,
           {dsum_sql('value')}        AS sum_value
    FROM ses
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
    tags=("streaming", "session"),
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions (30-minute gap) per user, summarized: the
    lag + cumulative-sum formulation (operators/sessionize.py) — one
    shuffle on user_id shared by both window passes and the final
    aggregation.  The streaming twin is ``session_window()`` with a
    watermark (streaming/jobs.py)."""
    ev = load_table(spark, sf_dir, "events")
    s = sessionize(
        ev, key="user_id", ts="ts", gap_seconds=1800, tiebreak=["event_id"]
    )
    return (
        s.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            dsum_fp("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_id").cast("bigint").alias("session_id"),
            "n_events",
            "session_start",
            "session_end",
            "sum_value",
        )
    )


@register(
    "q_stream_dedup_late",
    oracle="""
    WITH horizon AS (
      SELECT MAX(ts) - INTERVAL '1 hour' AS min_ts FROM events),
    on_time AS (
      SELECT e.* FROM events e CROSS JOIN horizon h WHERE e.ts >= h.min_ts),
    keyed AS (
      SELECT user_id, event_type,
             time_bucket(INTERVAL '5 minutes', ts) AS bucket_start,
             event_id, ts,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, event_type,
                            time_bucket(INTERVAL '5 minutes', ts)
               ORDER BY ts, event_id) AS rn
      FROM on_time)
    SELECT user_id, event_type, bucket_start,
           event_id AS kept_event_id, ts AS kept_ts
    FROM keyed WHERE rn = 1
    ORDER BY user_id, event_type, bucket_start
    """,
    tags=("streaming", "dedup"),
)
def q_stream_dedup_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked dedup, batch twin: drop events older than the
    watermark horizon (max event time - 1 h — what a streaming watermark
    would have finalized), then keep the FIRST event per
    (user, type, 5-min bucket) — ``dropDuplicates`` semantics made
    deterministic via earliest-(ts, event_id).  The streaming twin is
    ``withWatermark('ts','1 hour').dropDuplicates([...])``; the horizon
    is a broadcast scalar, never a driver round-trip."""
    ev = load_table(spark, sf_dir, "events")
    horizon = ev.agg((F.max("ts") - F.expr("INTERVAL 1 HOUR")).alias("min_ts"))
    on_time = ev.crossJoin(F.broadcast(horizon)).where(F.col("ts") >= F.col("min_ts"))
    keyed = on_time.select(
        "user_id",
        "event_type",
        F.window("ts", "5 minutes").start.alias("bucket_start"),
        "event_id",
        "ts",
    )
    w = Window.partitionBy("user_id", "event_type", "bucket_start").orderBy(
        "ts", "event_id"
    )
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            "bucket_start",
            F.col("event_id").alias("kept_event_id"),
            F.col("ts").alias("kept_ts"),
        )
    )


@register(
    "q_stream_join",
    oracle="""
    SELECT
      c.user_id,
      c.event_id  AS click_id,
      c.ts        AS click_ts,
      p.event_id  AS purchase_id,
      p.ts        AS purchase_ts,
      p.value     AS purchase_value
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '2 hours'
    ORDER BY click_id, purchase_id
    """,
    tags=("streaming", "join"),
)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase-attribution interval join: each purchase matched to
    same-user clicks at most 2 hours before it — the batch twin of the
    watermarked stream-stream join (streaming/jobs.py::join_streams).

    Shape at scale: equi-join on user_id (the time bound is a post-join
    band predicate on co-partitioned rows, NOT a crossJoin), so it
    shuffles both sides once on the join key; in streaming the same
    predicate doubles as the state-eviction bound."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return (
        c.join(
            p,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 2 HOURS")),
        )
        .select(
            "user_id", "click_id", "click_ts", "purchase_id", "purchase_ts",
            "purchase_value",
        )
    )


@register(
    "q_sessionize_native",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                       >= 1800 * 1000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    ses AS (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM seq)
    SELECT user_id,
           MIN(ts)                               AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE          AS session_end,
           COUNT(*)                              AS n_events,
           {dsum_sql('value')}                   AS sum_value
    FROM ses
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
    tags=("streaming", "session"),
)
def q_sessionize_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` in BATCH — the same operator the
    streaming job uses (streaming/jobs.py::session_agg_stream), proving
    the built-in's semantics against the explicit lag+cumsum oracle.

    Two deliberate semantic edges the oracle mirrors: the window end is
    ``last event + gap`` (not the last event), and a gap of EXACTLY the
    duration starts a new session (merge requires ``next < prev + gap``)
    — the lag formulation flips both (> vs >=, max ts as end), which is
    why q_sessionize and this query carry different oracles.  One
    shuffle on user_id; the session merge is a single pass over each
    partition's sorted run."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum_fp("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "q_stream_distinct_users",
    oracle="""
    SELECT
      date_trunc('hour', ts) AS win_start,
      COUNT(DISTINCT user_id) AS n_users,
      COUNT(*)                AS n_events
    FROM events
    GROUP BY 1
    ORDER BY win_start
    """,
    tags=("streaming", "agg"),
)
def q_stream_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per hourly window — the audience-size metric.
    Batch is EXACT (count_distinct inside a tumbling window); the
    incremental twin (streaming/jobs.py::distinct_users_stream) uses
    ``approx_count_distinct``, because exact streaming distinct would
    hold every user id per open window in state — HLL state is a few KB
    per window regardless of audience size, the only version that
    survives an unbounded stream."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(F.col("w.start").alias("win_start"), "n_users", "n_events")
    )
