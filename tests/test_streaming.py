"""Structured Streaming semantics tests (SURVEY.md §5.2(5)): the
incremental jobs must agree with their batch twins over the same
(complete) input, the watermark must drop late data, and the versioned
foreachBatch sink must commit immutable versions with checkpoint resume.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from etl_template_spark.io import latest_version, read_versioned
from etl_template_spark.streaming import (
    dedup_stream,
    read_events_stream,
    run_available_now,
    session_agg_stream,
    sliding_agg_stream,
    tumbling_agg_stream,
    versioned_stream_sink,
)

EVENTS = [
    # (event_id, ts, user_id, event_type, value)
    (1, "2024-01-01 10:00:10", 1, "click", 1.0),
    (2, "2024-01-01 10:02:00", 1, "click", 2.0),
    (3, "2024-01-01 10:06:30", 2, "view", 3.0),
    (4, "2024-01-01 10:07:00", 1, "click", 4.0),
    (5, "2024-01-01 11:30:00", 2, "view", 5.0),
    (1, "2024-01-01 10:00:10", 1, "click", 1.0),  # exact duplicate of #1
]


@pytest.fixture()
def events_dir(spark, tmp_path):
    path = str(tmp_path / "events_jsonl")
    rows = [
        {"event_id": e[0], "ts": e[1], "user_id": e[2], "event_type": e[3],
         "value": e[4], "props": "{}"}
        for e in EVENTS
    ]
    os.makedirs(path)
    with open(os.path.join(path, "part-0.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return path


def test_tumbling_stream_matches_batch_up_to_watermark(spark, events_dir, tmp_path):
    """Append mode emits only windows FINALIZED by the watermark: the
    stream must equal the batch twin restricted to windows whose end is
    at or before max(ts) - watermark; the trailing open window (the
    11:30 event) is withheld — that withholding IS the semantics."""
    stream = read_events_stream(spark, events_dir)
    agg = tumbling_agg_stream(stream, width="5 minutes", watermark="10 minutes")
    run_available_now(agg, "tumbling_out", str(tmp_path / "ckpt"), output_mode="append")
    got = {
        (str(r["win_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.table("tumbling_out").collect()
    }
    # batch twin over the same file, restricted to finalized windows
    # (watermark horizon = max ts 11:30 - 10 min = 11:20)
    batch = (
        spark.read.schema(
            "event_id bigint, ts timestamp, user_id bigint, event_type string, "
            "value double, props string"
        )
        .json(events_dir)
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .where(F.col("w.end") <= F.lit("2024-01-01 11:20:00").cast("timestamp"))
    )
    expect = {
        (str(r["w"]["start"]), r["event_type"]): (r["n"], r["s"])
        for r in batch.collect()
    }
    assert got == expect and len(got) > 0
    assert not any(k[0].startswith("2024-01-01 11:30") for k in got)


def test_sliding_stream_matches_batch_up_to_watermark(spark, events_dir, tmp_path):
    """The sliding twin: each event lands in width/slide overlapping
    windows, and append mode emits exactly the batch windows whose end
    is at or before the watermark horizon (11:20); both windows holding
    the 11:30 event stay open and are withheld."""
    stream = read_events_stream(spark, events_dir)
    agg = sliding_agg_stream(
        stream, width="10 minutes", slide="5 minutes", watermark="10 minutes"
    )
    run_available_now(agg, "sliding_out", str(tmp_path / "ckpt"), output_mode="append")
    got = {
        (str(r["win_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.table("sliding_out").collect()
    }
    batch = (
        spark.read.schema(
            "event_id bigint, ts timestamp, user_id bigint, event_type string, "
            "value double, props string"
        )
        .json(events_dir)
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .where(F.col("w.end") <= F.lit("2024-01-01 11:20:00").cast("timestamp"))
    )
    expect = {
        (str(r["w"]["start"]), r["event_type"]): (r["n"], r["s"])
        for r in batch.collect()
    }
    assert got == expect and len(got) > 0
    assert not any(k[0] >= "2024-01-01 11:" for k in got)


def test_session_stream_gap_semantics(spark, events_dir, tmp_path):
    stream = read_events_stream(spark, events_dir)
    ses = session_agg_stream(stream, gap="30 minutes", watermark="10 minutes")
    run_available_now(ses, "session_out", str(tmp_path / "ckpt2"), output_mode="append")
    rows = spark.table("session_out").collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    # user 1: events at 10:00/10:02/10:07 (+dup) → ONE session of 4 events
    assert len(by_user[1]) == 1 and by_user[1][0]["n_events"] == 4
    # user 2: closed session at 10:06 emitted; the 11:30 session is still
    # OPEN at the watermark horizon (11:20) → withheld in append mode
    assert len(by_user[2]) == 1
    assert str(by_user[2][0]["session_start"]).startswith("2024-01-01 10:06")


def test_dedup_stream_drops_duplicates(spark, events_dir, tmp_path):
    stream = read_events_stream(spark, events_dir)
    deduped = dedup_stream(stream, keys=["event_id"], watermark="2 hours")
    run_available_now(deduped, "dedup_out", str(tmp_path / "ckpt3"), output_mode="append")
    rows = spark.table("dedup_out").collect()
    ids = sorted(r["event_id"] for r in rows)
    assert ids == [1, 2, 3, 4, 5]  # the duplicate event_id=1 collapsed


def test_versioned_stream_sink_commits_and_resumes(spark, events_dir, tmp_path):
    root = str(tmp_path / "data")
    ckpt = str(tmp_path / "ckpt4")
    stream = read_events_stream(spark, events_dir)
    q = versioned_stream_sink(stream, root, "events_ingest", ckpt)
    q.awaitTermination()
    v1 = latest_version(root, "events_ingest")
    assert v1 is not None and read_versioned(
        spark, root, "events_ingest"
    ).count() == len(EVENTS)
    # restart with the same checkpoint: no new data → no new version
    q2 = versioned_stream_sink(
        read_events_stream(spark, events_dir), root, "events_ingest", ckpt
    )
    q2.awaitTermination()
    assert latest_version(root, "events_ingest") == v1


def test_stateful_running_totals(spark, events_dir, tmp_path):
    """applyInPandasWithState: per-user running totals must equal the
    batch aggregation after the catch-up pass."""
    from etl_template_spark.streaming import running_totals_stream

    stream = read_events_stream(spark, events_dir)
    totals = running_totals_stream(stream)
    run_available_now(
        totals, "totals_out", str(tmp_path / "ckpt5"), output_mode="update"
    )
    # last update per user wins
    rows = spark.table("totals_out").collect()
    final = {}
    for r in rows:
        final[r["user_id"]] = (r["n_events"], r["sum_value"])
    batch = (
        spark.read.schema(
            "event_id bigint, ts timestamp, user_id bigint, event_type string, "
            "value double, props string"
        )
        .json(events_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
    )
    expect = {r["user_id"]: (r["n"], r["s"]) for r in batch.collect()}
    assert final == expect


def test_rocksdb_state_store_provider(spark, events_dir, tmp_path):
    """The RocksDB state store (bounded-memory streaming state — the
    100 TB keyspace path) must produce identical results to the default
    HDFS-backed store."""
    from etl_template_spark.streaming import tumbling_agg_stream
    from etl_template_spark.streaming.jobs import ROCKSDB_STATE_CONF

    for k, v in ROCKSDB_STATE_CONF.items():
        spark.conf.set(k, v)
    try:
        stream = read_events_stream(spark, events_dir)
        agg = tumbling_agg_stream(stream, width="5 minutes", watermark="10 minutes")
        run_available_now(
            agg, "tumbling_rocks", str(tmp_path / "ckpt6"), output_mode="append"
        )
        rocks = {
            (str(r["win_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
            for r in spark.table("tumbling_rocks").collect()
        }
        assert len(rocks) > 0
        # same finalized windows as the default-store test computes
        assert all(n >= 1 for n, _ in rocks.values())
    finally:
        for k in ROCKSDB_STATE_CONF:
            spark.conf.unset(k)


def _protobuf_available() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except Exception:
        return False


def test_funnel_fold_is_the_shared_stage_machine():
    """funnel_stream's monotone view→click→purchase fold, tested
    without Spark.  Pin its two subtle rules: stage timestamps are
    STRICTLY increasing (a click at the view's exact instant does not
    advance), and stages never regress on replayed/late rows."""
    import pandas as pd

    from etl_template_spark.streaming.jobs import funnel_fold

    t = pd.Timestamp
    rows = pd.DataFrame(
        {
            "event_type": ["click", "view", "click", "purchase"],
            "ts": [
                t("2024-01-01 00:00"),  # click BEFORE any view: ignored
                t("2024-01-01 00:00"),  # view
                t("2024-01-01 00:00"),  # click at the view's instant: strict > fails
                t("2024-01-01 01:00"),  # purchase without a click: ignored
            ],
        }
    )
    assert funnel_fold((None, None, None), rows) == (
        t("2024-01-01 00:00"),
        None,
        None,
    )
    later = pd.DataFrame(
        {
            "event_type": ["click", "purchase", "view"],
            "ts": [
                t("2024-01-01 00:30"),
                t("2024-01-01 00:45"),
                t("2023-12-31 00:00"),  # late earlier view must not regress tv
            ],
        }
    )
    tv, tc, tp = funnel_fold((t("2024-01-01 00:00"), None, None), later)
    assert (tv, tc, tp) == (
        t("2024-01-01 00:00"),
        t("2024-01-01 00:30"),
        t("2024-01-01 00:45"),
    )


def test_attribution_fold_null_user_credits_direct():
    """r10 review: a NULL user key used to kill the whole streaming
    query via int(None).  The batch twin's LEFT JOIN gives a null-user
    purchase no touches (NULL never equi-joins) and a full-value
    'direct' credit — the fold must do the same with user_id=None."""
    import pandas as pd

    from etl_template_spark.streaming.jobs import attribution_fold

    t = pd.Timestamp
    out, touches = attribution_fold(
        None,
        [],
        [(7, t("2024-01-01 12:00"), "purchase", 50.0)],
        window_ms=7 * 86_400_000,
        slack_ms=0,
    )
    assert out == [(7, None, "direct", 50.0, 0)]
    assert touches == []


def test_stream_stream_join_matches_batch_twin(spark, tmp_path):
    """Watermarked stream-stream interval join over a bounded backlog
    must equal the batch interval join over the same rows (append mode
    emits a joined row once both sides' watermarks pass it)."""
    from etl_template_spark.streaming import join_streams

    rows = [
        (1, "2024-01-01 10:00:00", 1, "click", 1.0),
        (2, "2024-01-01 10:30:00", 1, "purchase", 9.0),   # joins #1 (30 min)
        (3, "2024-01-01 13:00:00", 1, "purchase", 7.0),   # > 2h after #1: no
        (4, "2024-01-01 10:05:00", 2, "click", 1.0),
        (5, "2024-01-01 11:00:00", 2, "purchase", 5.0),   # joins #4 (55 min)
        (6, "2024-01-01 09:00:00", 2, "purchase", 3.0),   # before #4: no
        (7, "2024-01-01 23:00:00", 3, "click", 1.0),      # advances watermark
    ]
    path = str(tmp_path / "ev_jsonl")
    os.makedirs(path)
    with open(os.path.join(path, "part-0.json"), "w") as f:
        for e in rows:
            f.write(json.dumps({
                "event_id": e[0], "ts": e[1], "user_id": e[2],
                "event_type": e[3], "value": e[4], "props": "{}",
            }) + "\n")

    stream = read_events_stream(spark, path)
    joined = join_streams(
        stream.where(F.col("event_type") == "click"),
        stream.where(F.col("event_type") == "purchase"),
        within="2 hours",
    )
    run_available_now(joined, "ssjoin_out", str(tmp_path / "ckpt"))
    got = sorted(
        (r["click_id"], r["purchase_id"], r["purchase_value"])
        for r in spark.table("ssjoin_out").collect()
    )
    assert got == [(1, 2, 9.0), (4, 5, 5.0)]


def test_stream_stream_left_outer_emits_unmatched_after_watermark(spark, tmp_path):
    """Left-outer interval join: converted clicks join their purchase;
    unconverted clicks emit with NULL purchase columns once the
    watermark proves no match can still arrive."""
    from etl_template_spark.streaming import join_streams

    # outer-join nulls flush when the GLOBAL watermark (the MIN across
    # both inputs' watermarks) passes the row's eviction point, and the
    # watermark only moves at micro-batch boundaries — so later batches
    # must advance BOTH the click and the purchase side, and the flush
    # lands one batch after that (exactly like late traffic on a real
    # stream; one file per trigger, mtime-ordered)
    batches = [
        [
            (1, "2024-01-01 10:00:00", 1, "click", 1.0),
            (2, "2024-01-01 10:30:00", 1, "purchase", 9.0),   # joins #1
            (3, "2024-01-01 10:05:00", 2, "click", 1.0),      # never converts
        ],
        [(4, "2024-01-01 23:00:00", 3, "click", 1.0)],        # click wm push
        [(5, "2024-01-02 23:00:00", 3, "purchase", 0.0)],     # purchase wm push
        [(6, "2024-01-02 23:30:00", 3, "click", 1.0)],        # flush batch
    ]
    path = str(tmp_path / "ev_jsonl")
    os.makedirs(path)
    for i, rows in enumerate(batches):
        fp = os.path.join(path, f"part-{i}.json")
        with open(fp, "w") as f:
            for e in rows:
                f.write(json.dumps({
                    "event_id": e[0], "ts": e[1], "user_id": e[2],
                    "event_type": e[3], "value": e[4], "props": "{}",
                }) + "\n")
        os.utime(fp, (1000 + i, 1000 + i))  # deterministic batch order

    stream = read_events_stream(spark, path, max_files_per_trigger=1)
    joined = join_streams(
        stream.where(F.col("event_type") == "click"),
        stream.where(F.col("event_type") == "purchase"),
        within="2 hours",
        how="left_outer",
    )
    run_available_now(joined, "ssjoin_lo_out", str(tmp_path / "ckpt"))
    got = sorted(
        (r["click_id"], r["purchase_id"])
        for r in spark.table("ssjoin_lo_out").collect()
        if r["click_id"] in (1, 3)
    )
    assert got == [(1, 2), (3, None)]


def test_dedup_within_watermark_collapses_redelivery(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a redelivered event with a
    DIFFERENT timestamp still collapses (same event_id, within the
    horizon) — the at-least-once-delivery case plain (id, ts) dedup
    lets through."""
    from etl_template_spark.streaming import dedup_stream_within_watermark

    rows = [
        (1, "2024-01-01 10:00:00", 1, "click", 1.0),
        (1, "2024-01-01 10:04:00", 1, "click", 1.0),  # redelivery, new ts
        (2, "2024-01-01 10:01:00", 2, "view", 2.0),
    ]
    path = str(tmp_path / "ev_jsonl")
    os.makedirs(path)
    with open(os.path.join(path, "part-0.json"), "w") as f:
        for e in rows:
            f.write(json.dumps({
                "event_id": e[0], "ts": e[1], "user_id": e[2],
                "event_type": e[3], "value": e[4], "props": "{}",
            }) + "\n")

    deduped = dedup_stream_within_watermark(
        read_events_stream(spark, path), watermark="1 hour"
    )
    run_available_now(deduped, "dedup_ww_out", str(tmp_path / "ckpt"))
    ids = sorted(r["event_id"] for r in spark.table("dedup_ww_out").collect())
    assert ids == [1, 2]


def test_funnel_stream_matches_batch_twin_over_backlog(spark, tmp_path):
    """Streaming funnel over a bounded in-order backlog must land on
    the batch funnel's final per-user stage (update mode: keep each
    user's LAST emission)."""
    from etl_template_spark.streaming import funnel_stream

    rows = [
        # user 1 completes the funnel, strictly ordered
        (1, "2024-01-01 10:00:00", 1, "view", 0.0),
        (2, "2024-01-01 10:10:00", 1, "click", 0.0),
        (3, "2024-01-01 10:20:00", 1, "purchase", 5.0),
        # user 2: click BEFORE first view must not count → stage 1
        (4, "2024-01-01 09:00:00", 2, "click", 0.0),
        (5, "2024-01-01 10:00:00", 2, "view", 0.0),
        # user 3: view then click, no purchase → stage 2
        (6, "2024-01-01 11:00:00", 3, "view", 0.0),
        (7, "2024-01-01 11:30:00", 3, "click", 0.0),
        # user 4: purchase only (no view) → no funnel entry
        (8, "2024-01-01 12:00:00", 4, "purchase", 9.0),
    ]
    path = str(tmp_path / "ev_jsonl")
    os.makedirs(path)
    with open(os.path.join(path, "part-0.json"), "w") as f:
        for e in rows:
            f.write(json.dumps({
                "event_id": e[0], "ts": e[1], "user_id": e[2],
                "event_type": e[3], "value": e[4], "props": "{}",
            }) + "\n")

    out = funnel_stream(read_events_stream(spark, path))
    run_available_now(out, "funnel_out", str(tmp_path / "ckpt"),
                      output_mode="update")
    got = {
        r["user_id"]: r["stage"] for r in spark.table("funnel_out").collect()
    }
    assert got == {1: 3, 2: 1, 3: 2}


def test_distinct_users_stream_within_hll_error(spark, events_dir, tmp_path):
    """The approximate streaming audience count must land within HLL
    error of the exact batch twin over the same backlog (tiny corpus →
    should be exact here, but the assertion allows the documented rsd)."""
    from etl_template_spark.streaming import distinct_users_stream

    stream = read_events_stream(spark, events_dir)
    out = distinct_users_stream(stream, width="1 hour", watermark="10 minutes")
    run_available_now(out, "du_out", str(tmp_path / "ckpt"), output_mode="update")
    got = {
        str(r["win_start"]): r["n_users"] for r in spark.table("du_out").collect()
    }
    batch = (
        spark.read.schema(
            "event_id bigint, ts timestamp, user_id bigint, event_type string, "
            "value double, props string"
        )
        .json(events_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count_distinct("user_id").alias("n"))
    )
    exact = {str(r["w"]["start"]): r["n"] for r in batch.collect()}
    assert set(got) == set(exact)
    for k, est in got.items():
        assert abs(est - exact[k]) <= max(1, 0.1 * exact[k])


def test_retention_stream_matches_batch_twin(spark, tmp_path):
    """Streaming cohort retention over a multi-batch in-order backlog
    must equal the exact batch computation: per-user week-deltas are
    emitted once (append), the downstream SUM is the exact distinct
    count.  Two files forced into separate micro-batches proves the
    state (cohort + seen weeks) carries across batches — a re-emission
    would double-count, a lost cohort would shift offsets."""
    from etl_template_spark.streaming import retention_stream

    # weeks (Mondays): 2024-01-01, 01-08, 01-15
    batches = [
        [  # batch 0: users 1,2 start in week 0
            (1, "2024-01-01 10:00:00", 1),
            (2, "2024-01-02 11:00:00", 1),   # same week, same user → no new row
            (3, "2024-01-03 09:00:00", 2),
        ],
        [  # batch 1: u1 returns week 1; u2 skips to week 2; u3 starts week 1
            (4, "2024-01-08 10:00:00", 1),
            (5, "2024-01-09 10:00:00", 1),   # dup week across rows
            (6, "2024-01-15 10:00:00", 2),
            (7, "2024-01-10 10:00:00", 3),
        ],
        [  # batch 2: CROSS-BATCH replays of (user, week) pairs already
           # emitted in batches 0/1 — the `wk in seen` dedup must hold
           # through the array<timestamp> state round-trip (r3 ADVICE:
           # only within-batch dedup was exercised before)
            (8, "2024-01-04 12:00:00", 1),   # (u1, week 0) again
            (9, "2024-01-08 23:00:00", 1),   # (u1, week 1) again
            (10, "2024-01-15 11:00:00", 2),  # (u2, week 2) again
        ],
    ]
    path = str(tmp_path / "ev")
    os.makedirs(path)
    for i, rows in enumerate(batches):
        fp = os.path.join(path, f"part-{i}.json")
        with open(fp, "w") as f:
            for eid, ts, uid in rows:
                f.write(json.dumps({
                    "event_id": eid, "ts": ts, "user_id": uid,
                    "event_type": "view", "value": 0.0, "props": "{}",
                }) + "\n")
        os.utime(fp, (1_700_000_000 + i, 1_700_000_000 + i))  # stable order

    src = read_events_stream(spark, path, max_files_per_trigger=1)
    out = retention_stream(src)
    run_available_now(out, "retention_out", str(tmp_path / "ckpt"),
                      output_mode="update")
    latest = {}  # update mode: last emission per key wins
    for r in spark.table("retention_out").collect():
        latest[(str(r["cohort_week"]), r["week_offset"])] = r["n_users"]

    w0 = "2024-01-01 00:00:00"
    assert latest == {
        (w0, 0): 2,                      # u1, u2 start week 0 — NOT 3/2: batch-2 replays collapse
        (w0, 1): 1,                      # u1 active week 1 (replay did not double-count)
        (w0, 2): 1,                      # u2 active week 2 (replay did not double-count)
        ("2024-01-08 00:00:00", 0): 1,   # u3's own cohort
    }


def test_retention_stream_with_idle_ttl_same_backlog_result(spark, tmp_path):
    """idle_ttl switches stage 1 to ProcessingTimeTimeout (evictable
    state for long-idle users).  Over a fast backlog no user goes idle
    long enough to evict, so results must equal the no-TTL run — this
    exercises the timeout configuration and setTimeoutDuration path
    end-to-end.

    NB: processing-time timeouts make the query permanently active
    ('no new data but cleaning up state' batches fire every trigger to
    check timeouts), so NEITHER awaitTermination (availableNow) NOR
    processAllAvailable ever returns — the TTL flavor is a long-running
    continuous query by construction (documented on retention_stream).
    The test polls the sink for the expected rows, then stops."""
    import time

    from etl_template_spark.streaming import retention_stream

    rows = [
        (1, "2024-01-01 10:00:00", 1),
        (2, "2024-01-08 10:00:00", 1),
        (3, "2024-01-08 11:00:00", 2),
    ]
    path = str(tmp_path / "ev")
    os.makedirs(path)
    with open(os.path.join(path, "part-0.json"), "w") as f:
        for eid, ts, uid in rows:
            f.write(json.dumps({
                "event_id": eid, "ts": ts, "user_id": uid,
                "event_type": "view", "value": 0.0, "props": "{}",
            }) + "\n")

    out = retention_stream(read_events_stream(spark, path), idle_ttl="30 days")
    expected = {
        ("2024-01-01 00:00:00", 0): 1,
        ("2024-01-01 00:00:00", 1): 1,
        ("2024-01-08 00:00:00", 0): 1,
    }
    q = (
        out.writeStream.format("memory")
        .queryName("retention_ttl_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 120
        latest = {}
        while time.time() < deadline:
            if q.exception():
                raise q.exception()
            latest = {
                (str(r["cohort_week"]), r["week_offset"]): r["n_users"]
                for r in spark.table("retention_ttl_out").collect()
            }
            if latest == expected:
                break
            time.sleep(2)
    finally:
        q.stop()
    assert latest == expected


def test_funnel_stream_with_idle_ttl_same_backlog_result(spark, tmp_path):
    """funnel_stream's idle_ttl flavor (ProcessingTimeTimeout state
    eviction) must produce the no-TTL results over a fast backlog; like
    the retention twin, a TTL'd query is permanently active, so the
    test polls the sink and stops explicitly."""
    import time

    from etl_template_spark.streaming import funnel_stream

    rows = [
        (1, "2024-01-01 10:00:00", 1, "view"),
        (2, "2024-01-01 10:10:00", 1, "click"),
        (3, "2024-01-01 10:20:00", 1, "purchase"),
        (4, "2024-01-01 11:00:00", 2, "view"),
    ]
    path = str(tmp_path / "ev")
    os.makedirs(path)
    with open(os.path.join(path, "p0.json"), "w") as f:
        for eid, ts, uid, et in rows:
            f.write(json.dumps({
                "event_id": eid, "ts": ts, "user_id": uid,
                "event_type": et, "value": 0.0, "props": "{}",
            }) + "\n")

    out = funnel_stream(read_events_stream(spark, path), idle_ttl="90 days")
    q = (
        out.writeStream.format("memory")
        .queryName("funnel_ttl_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    expected = {1: 3, 2: 1}
    try:
        deadline = time.time() + 120
        got = {}
        while time.time() < deadline:
            if q.exception():
                raise q.exception()
            got = {
                r["user_id"]: r["stage"]
                for r in spark.table("funnel_ttl_out").collect()
            }
            if got == expected:
                break
            time.sleep(2)
    finally:
        q.stop()
    assert got == expected


def test_transitions_stream_matches_batch_twin(spark, tmp_path):
    """Streaming transition counts over a multi-batch in-order backlog
    must equal the batch lag-window computation — including a pair that
    SPANS the batch boundary (u1's batch-0 tail 'click' -> batch-1
    'purchase'), which only works if the last-event state carries
    across micro-batches."""
    from etl_template_spark.streaming import transitions_stream

    batches = [
        [  # batch 0
            (1, "2024-01-01 10:00:00", 1, "view"),
            (2, "2024-01-01 10:05:00", 1, "click"),
            (3, "2024-01-01 10:00:00", 2, "view"),
        ],
        [  # batch 1: u1 continues (cross-batch pair click->purchase)
            (4, "2024-01-01 10:10:00", 1, "purchase"),
            (5, "2024-01-01 10:06:00", 2, "view"),
        ],
    ]
    path = str(tmp_path / "ev")
    os.makedirs(path)
    for i, rows in enumerate(batches):
        fp = os.path.join(path, f"part-{i}.json")
        with open(fp, "w") as f:
            for eid, ts, uid, et in rows:
                f.write(json.dumps({
                    "event_id": eid, "ts": ts, "user_id": uid,
                    "event_type": et, "value": 0.0, "props": "{}",
                }) + "\n")
        os.utime(fp, (1_700_000_000 + i, 1_700_000_000 + i))

    src = read_events_stream(spark, path, max_files_per_trigger=1)
    out = transitions_stream(src)
    run_available_now(out, "transitions_out", str(tmp_path / "ckpt"),
                      output_mode="update")
    latest = {}
    for r in spark.table("transitions_out").collect():
        latest[(r["prev_type"], r["next_type"])] = r["n_transitions"]
    assert latest == {
        ("view", "click"): 1,       # u1 batch 0
        ("click", "purchase"): 1,   # u1 ACROSS batches
        ("view", "view"): 1,        # u2
    }


def test_retention_stream_idle_ttl_evicts_state_rows(spark, tmp_path):
    """idle_ttl must actually SHRINK the state store, not merely re-arm
    timers: 20 users land in one micro-batch (per-user state rows reach
    20 in the applyInPandasWithState operator), then all go idle past
    the 5-second TTL — the timeout branch drops their state and the
    operator's numRowsTotal falls back toward 0 while the downstream
    SUM rollup keeps its (tiny) per-(cohort, offset) rows.  Runs under
    the RocksDB state store provider (session default)."""
    import time

    from etl_template_spark.streaming import retention_stream

    path = str(tmp_path / "ev")
    os.makedirs(path)
    with open(os.path.join(path, "part-0.json"), "w") as f:
        for uid in range(20):
            f.write(json.dumps({
                "event_id": uid, "ts": "2024-01-01 10:00:00", "user_id": uid,
                "event_type": "view", "value": 0.0, "props": "{}",
            }) + "\n")

    out = retention_stream(read_events_stream(spark, path), idle_ttl="5 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("retention_evict_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    peak = 0
    shrunk_to = None
    try:
        deadline = time.time() + 180
        while time.time() < deadline:
            if q.exception():
                raise q.exception()
            prog = q.lastProgress
            for op in (prog or {}).get("stateOperators") or []:
                name = op.get("operatorName") or ""
                if "InPandasWithState" not in name:
                    continue
                n = op.get("numRowsTotal", 0)
                peak = max(peak, n)
                if peak >= 20 and n < peak:
                    shrunk_to = n
            if shrunk_to is not None and shrunk_to == 0:
                break
            time.sleep(1)
    finally:
        q.stop()
    assert peak >= 20, f"state never filled (peak={peak})"
    assert shrunk_to == 0, (
        f"idle users were not evicted (peak={peak}, after-TTL={shrunk_to})"
    )


def test_attribution_tws_plan_constructs(spark, events_dir):
    """attribution_tws_stream plan construction is environment-free
    (with and without the TTL timer path): the unstarted streaming
    frame must carry the declared credit schema."""
    from etl_template_spark.streaming import attribution_tws_stream

    for ttl in (None, "7 days"):
        out = attribution_tws_stream(
            read_events_stream(spark, events_dir), idle_ttl=ttl
        )
        assert out.isStreaming
        assert [f.name for f in out.schema.fields] == [
            "event_id", "user_id", "channel", "share", "n_touches",
        ]


def test_attribution_fold_lookback_lower_bound_is_inclusive():
    """A touch at EXACTLY ``purchase.ts - window`` must earn credit
    (the batch twin's lookback is the closed interval
    ``[ts - window, ts]``).  The batch-twin fold test's touches all sit
    strictly inside the window, so a ``lo < t`` mutant survived every
    attribution test (boundary-sweep probe) — this plants the edge:
    with the inclusive bound the credit goes to the touch channel,
    with the exclusive mutant it silently falls back to 'direct'."""
    import pandas as pd

    from etl_template_spark.streaming import attribution_fold

    window_ms = 7 * 86_400_000
    t0 = pd.Timestamp("2024-01-01 00:00:00")
    purchase_ts = t0 + pd.Timedelta(milliseconds=window_ms)
    rows = [
        (1, t0, "click", 0.0),
        (2, purchase_ts, "purchase", 10.0),
    ]
    out, _ = attribution_fold(7, [], rows, window_ms)
    assert out == [(2, 7, "click", 10.0, 1)]


def test_interval_join_fold_window_upper_bound_is_inclusive():
    """A purchase at EXACTLY ``click.ts + window`` must pair (the batch
    twin's predicate is ``p.ts <= c.ts + window``).  The batch-twin
    fold test has a same-instant pair (pinning the LOWER bound) but no
    exactly-window-late purchase, so a ``< c_ts + win`` mutant survived
    (boundary-sweep probe) — this plants the edge."""
    import pandas as pd

    from etl_template_spark.streaming import interval_join_fold

    window_ms = 2 * 3_600_000
    t0 = pd.Timestamp("2024-01-01 09:00:00")
    p_ts = t0 + pd.Timedelta(milliseconds=window_ms)
    rows = [
        (1, t0, "click", 0.0),
        (2, p_ts, "purchase", 5.0),
    ]
    out, _, _ = interval_join_fold(3, [], [], rows, window_ms)
    assert out == [(3, 1, t0, 2, p_ts, 5.0)]
    # and through the SYMMETRIC branch (a LATE click probing the
    # buffered purchase — the other code path carries its own bound):
    # purchase arrives alone in batch 1, the exactly-window-earlier
    # click in batch 2; slack keeps the purchase probeable
    out1, clicks, purchases = interval_join_fold(
        3, [], [], [(2, p_ts, "purchase", 5.0)], window_ms, slack_ms=window_ms
    )
    assert out1 == []
    out2, _, _ = interval_join_fold(
        3, clicks, purchases, [(1, t0, "click", 0.0)], window_ms,
        slack_ms=window_ms,
    )
    assert out2 == [(3, 1, t0, 2, p_ts, 5.0)]
    # symmetric branch LOWER bound: a SAME-INSTANT pair split across
    # batches (purchase first, the tying click late) — the one-batch
    # same-instant case routes through the purchase-probes-clicks
    # branch instead, so it cannot pin this bound
    out3, clicks3, purchases3 = interval_join_fold(
        4, [], [], [(6, t0, "purchase", 2.0)], window_ms, slack_ms=window_ms
    )
    assert out3 == []
    out4, _, _ = interval_join_fold(
        4, clicks3, purchases3, [(5, t0, "click", 0.0)], window_ms,
        slack_ms=window_ms,
    )
    assert out4 == [(4, 5, t0, 6, t0, 2.0)]


def test_attribution_fold_matches_batch_twin_over_microbatches(spark):
    """The factored per-key transition function, driven over simulated
    micro-batches (cross-batch touch carry + lossless pruning), must
    land on exactly the batch q_attribution_linear channel totals for
    the same events — including a touch outside the lookback, a
    same-timestamp touch (inclusive bound), and a touchless 'direct'
    purchase in a later batch."""
    import pandas as pd

    import etl_template_spark.queries.attribution as attr
    from etl_template_spark.streaming import attribution_fold

    rows = [
        (1, "2024-01-01 00:00:00", 1, "click", 0.0),    # outside 7d of the purchase
        (2, "2024-01-05 00:00:00", 1, "view", 0.0),     # in window (batch 1)
        (3, "2024-01-09 12:00:00", 1, "click", 0.0),    # in window (batch 2)
        (4, "2024-01-10 00:00:00", 1, "purchase", 12.0),
        (5, "2024-01-10 00:00:00", 1, "signup", 0.0),   # same-ts: inclusive? no — ts ties
        (6, "2024-01-12 00:00:00", 2, "purchase", 7.0),  # touchless → direct
        (7, "2024-01-13 00:00:00", 1, "purchase", 6.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))

    orig = attr.load_table
    attr.load_table = lambda *_: df
    try:
        batch_totals = {
            r["channel"]: (r["n_credits"], round(r["attributed_value"], 6))
            for r in attr.q_attribution_linear(spark, "unused").collect()
        }
    finally:
        attr.load_table = orig

    # drive the fold per user over two micro-batches split mid-journey
    window_ms = 7 * 86_400_000
    pdf = pd.DataFrame(
        [(e, pd.Timestamp(t), u, et, v) for (e, t, u, et, v) in rows],
        columns=["event_id", "ts", "user_id", "event_type", "value"],
    )
    batches = [pdf[pdf["event_id"] <= 2], pdf[pdf["event_id"] > 2]]
    credits = []
    state: dict = {}
    for b in batches:
        for uid, grp in b.groupby("user_id"):
            ordered = [
                (r.event_id, r.ts, r.event_type, r.value)
                for r in grp.sort_values(["ts", "event_id"]).itertuples()
            ]
            out, state[uid] = attribution_fold(
                uid, state.get(uid, []), ordered, window_ms
            )
            credits.extend(out)

    got: dict = {}
    for _eid, _uid, ch, share, _n in credits:
        cur = got.setdefault(ch, [0, 0.0])
        cur[0] += 1
        cur[1] += round(share, 6)
    got_totals = {ch: (n, round(v, 6)) for ch, (n, v) in got.items()}
    assert got_totals == batch_totals
    # and pruning really dropped the stale touch: user 1's carried state
    # after the last batch holds only touches within 7d of its max ts
    assert all(t >= pd.Timestamp("2024-01-06") for (t, _) in state[1])


def test_attribution_fold_late_purchase_keeps_slack_touches():
    """r7 ADVICE (medium): a purchase may arrive in a LATER micro-batch
    with an EARLIER event time (anything the watermark admits).  Its
    lookback ``[ts - 7d, ts]`` reaches touches in
    ``[max_ts - 7d - delay, max_ts - 7d)`` — which slack-less pruning
    has already dropped, silently degrading the credit to 'direct'.
    With ``slack_ms`` = the watermark delay the credit survives; the
    slack-less fold demonstrably loses it (the regression shape)."""
    import pandas as pd

    from etl_template_spark.streaming import attribution_fold

    window_ms = 7 * 86_400_000
    slack_ms = 3_600_000  # "1 hour" watermark
    # batch 1: a touch just inside the slack band, plus a much newer
    # event that drags max_batch_ts forward so the prune cutoff passes
    # the touch
    b1 = [
        (1, pd.Timestamp("2024-01-02 23:30:00"), "click", 0.0),
        (2, pd.Timestamp("2024-01-10 00:00:00"), "view", 0.0),
    ]
    # batch 2: the late purchase — event time 50 min behind batch 1's
    # max, admissible under the 1 h watermark; its lookback includes
    # the 01-02 23:30 touch
    b2 = [(3, pd.Timestamp("2024-01-09 23:10:00"), "purchase", 10.0)]

    # with slack: the touch survives pruning and earns the credit
    out1, touches = attribution_fold(1, [], b1, window_ms, slack_ms)
    assert out1 == []
    assert (pd.Timestamp("2024-01-02 23:30:00"), "click") in touches
    out2, _ = attribution_fold(1, touches, b2, window_ms, slack_ms)
    # the 01-10 view is AFTER the purchase's event time → excluded by
    # the inclusive upper bound; only the slack-retained click credits
    assert [ch for (_e, _u, ch, _s, _n) in out2] == ["click"]

    # without slack (the pre-fix behavior): the touch is pruned at
    # max_ts - 7d = 01-03 00:00 and the purchase falls back to direct
    _, touches0 = attribution_fold(1, [], b1, window_ms)
    assert (pd.Timestamp("2024-01-02 23:30:00"), "click") not in touches0
    out2b, _ = attribution_fold(1, touches0, b2, window_ms)
    assert [ch for (_e, _u, ch, _s, _n) in out2b] == ["direct"]


@pytest.mark.skipif(
    not _protobuf_available(),
    reason="transformWithState Python workers require google.protobuf "
    "(absent in this container; package installation is prohibited here — "
    "see pyproject [streaming-state] extra); attribution_fold carries the same "
    "transition semantics and is tested above",
)
def test_attribution_tws_matches_batch_twin(spark, tmp_path):
    """End-to-end tws run over a bounded backlog: per-channel share
    totals from the streamed credits must equal q_attribution_linear
    on the same events."""
    from etl_template_spark.streaming import attribution_tws_stream
    from etl_template_spark.streaming.jobs import ROCKSDB_STATE_CONF

    rows = [
        (1, "2024-01-05 00:00:00", 1, "view", 0.0),
        (2, "2024-01-09 00:00:00", 1, "click", 0.0),
        (3, "2024-01-10 00:00:00", 1, "purchase", 12.0),
        (4, "2024-01-12 00:00:00", 2, "purchase", 7.0),
    ]
    path = str(tmp_path / "ev_jsonl")
    os.makedirs(path)
    with open(os.path.join(path, "part-0.json"), "w") as f:
        for e in rows:
            f.write(json.dumps({
                "event_id": e[0], "ts": e[1], "user_id": e[2],
                "event_type": e[3], "value": e[4], "props": "{}",
            }) + "\n")

    old = {k: spark.conf.get(k, None) for k in ROCKSDB_STATE_CONF}
    for k, v in ROCKSDB_STATE_CONF.items():
        spark.conf.set(k, v)
    try:
        out = attribution_tws_stream(
            read_events_stream(spark, path), idle_ttl="7 days"
        )
        run_available_now(out, "attr_tws_out", str(tmp_path / "ckpt"))
        got = {}
        for r in spark.table("attr_tws_out").collect():
            cur = got.setdefault(r["channel"], [0, 0.0])
            cur[0] += 1
            cur[1] += r["share"]
        assert got == {"view": [1, 6.0], "click": [1, 6.0], "direct": [1, 7.0]}
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_commit_stream_batch_replay_is_exactly_once(spark, tmp_path):
    """foreachBatch redelivery: committing the SAME batch id twice must
    land exactly one version (the replay returns the original version
    and writes nothing); a new batch id commits a new version."""
    from etl_template_spark.io import list_versions, read_versioned
    from etl_template_spark.streaming.jobs import commit_stream_batch

    root = str(tmp_path / "data")
    df = spark.range(5).selectExpr("id", "id * 2 AS doubled")

    v1 = commit_stream_batch(df, root, "ingest", batch_id=0)
    v_replay = commit_stream_batch(df, root, "ingest", batch_id=0)  # redelivery
    assert v1 == v_replay == 1
    assert list_versions(root, "ingest") == [1]
    assert read_versioned(spark, root, "ingest").count() == 5

    v2 = commit_stream_batch(spark.range(3).selectExpr("id", "id AS doubled"),
                             root, "ingest", batch_id=1)
    assert v2 == 2 and list_versions(root, "ingest") == [1, 2]


def test_commit_stream_batch_crash_before_publish_leaves_nothing(spark, tmp_path):
    """Simulated crash between the scratch write and the atomic rename:
    no version is visible, the stream reader sees nothing, and the
    replayed batch commits cleanly afterward."""
    import glob

    from etl_template_spark.datasource import VersionedStreamReader
    from etl_template_spark.io import list_versions
    from etl_template_spark.streaming.jobs import commit_stream_batch

    root = str(tmp_path / "data")
    df = spark.range(4).selectExpr("id", "id AS doubled")

    # fake the pre-rename crash: produce only the scratch artifacts
    step_root = os.path.join(root, "ingest")
    os.makedirs(step_root)
    scratch = os.path.join(step_root, "_inflight-0-deadbeef")
    df.write.parquet(scratch)
    with open(os.path.join(scratch, "_BATCH_ID"), "w") as f:
        f.write("0")

    assert list_versions(root, "ingest") == []  # invisible
    assert VersionedStreamReader(root, "ingest", "earliest").read(
        {"version": -1}
    )[1] == {"version": -1}

    # the replay (same batch id) must commit exactly one version
    v = commit_stream_batch(df, root, "ingest", batch_id=0)
    assert v == 1 and list_versions(root, "ingest") == [1]
    # and the successful commit sweeps the dead predecessor's scratch
    # (r7 ADVICE: orphaned _inflight-* dirs must not accumulate)
    assert glob.glob(os.path.join(step_root, "_inflight-*")) == []


def test_commit_stream_batch_marker_rides_the_atomic_publish(spark, tmp_path):
    """The committed version directory must contain Spark's _SUCCESS and
    the batch marker together — the no-marker-without-visibility /
    no-visibility-without-marker invariant the exactly-once argument
    rests on."""
    from etl_template_spark.streaming.jobs import BATCH_MARKER, commit_stream_batch

    root = str(tmp_path / "data")
    v = commit_stream_batch(
        spark.range(2).selectExpr("id", "id AS doubled"), root, "ingest", 7
    )
    d = os.path.join(root, "ingest", f"v={v}")
    assert os.path.isfile(os.path.join(d, "_SUCCESS"))
    with open(os.path.join(d, BATCH_MARKER)) as f:
        assert f.read() == "7"


# ---------------------------------------------------------------- r8 ------
# windowed stream-stream interval join on transformWithState


def test_interval_join_tws_plan_constructs(spark, events_dir):
    """interval_join_tws_stream plan construction is environment-free
    (with and without the TTL timer path): the unstarted streaming
    frame must carry the declared join-row schema."""
    from etl_template_spark.streaming import interval_join_tws_stream

    for ttl in (None, "1 day"):
        out = interval_join_tws_stream(
            read_events_stream(spark, events_dir), idle_ttl=ttl
        )
        assert out.isStreaming
        assert [f.name for f in out.schema.fields] == [
            "user_id", "click_id", "click_ts",
            "purchase_id", "purchase_ts", "purchase_value",
        ]


def _drive_interval_join_fold(batches, window_ms, slack_ms):
    """Run interval_join_fold per user over a list of pandas micro-
    batches, returning all emitted join rows."""
    from etl_template_spark.streaming import interval_join_fold

    rows, state = [], {}
    for b in batches:
        for uid, grp in b.groupby("user_id"):
            ordered = [
                (r.event_id, r.ts, r.event_type, r.value)
                for r in grp.sort_values(["ts", "event_id"]).itertuples()
            ]
            clicks, purchases = state.get(uid, ([], []))
            out, clicks, purchases = interval_join_fold(
                uid, clicks, purchases, ordered, window_ms, slack_ms
            )
            state[uid] = (clicks, purchases)
            rows.extend(out)
    return rows, state


def test_interval_join_fold_matches_batch_twin_over_microbatches(spark):
    """The factored join transition function, driven over simulated
    micro-batches, must land on exactly the batch q_stream_join rows
    for the same events — including a cross-batch pair, a same-instant
    pair (inclusive bounds), an out-of-window click, a LATE CLICK
    arriving after its purchase (the symmetric probe), and a LATE
    PURCHASE reaching a slack-retained click."""
    import pandas as pd

    import etl_template_spark.queries.streaming_batch as sb

    rows = [
        # user 1: ordinary click→purchase split across batches
        (1, "2024-01-01 10:00:00", 1, "click", 0.0),
        (2, "2024-01-01 11:30:00", 1, "purchase", 20.0),     # batch 2
        # user 1: out-of-window click (3h before the purchase)
        (3, "2024-01-01 08:30:00", 1, "click", 0.0),
        # user 2: same-instant click+purchase (inclusive bound)
        (4, "2024-01-02 09:00:00", 2, "click", 0.0),
        (5, "2024-01-02 09:00:00", 2, "purchase", 5.0),
        # user 3: LATE CLICK — purchase arrives in batch 2, the click
        # (earlier event time, within the 1h watermark) only in batch 3
        (6, "2024-01-03 12:40:00", 3, "purchase", 7.0),      # batch 2
        (7, "2024-01-03 12:10:00", 3, "click", 0.0),         # batch 3, late
        # user 4: LATE PURCHASE — a newer event drags max_ts forward in
        # batch 2; the purchase arrives in batch 3 with an event time
        # whose window reaches the click only slack-retention keeps
        (8, "2024-01-04 10:00:00", 4, "click", 0.0),
        (9, "2024-01-04 12:30:00", 4, "click", 0.0),         # batch 2
        (10, "2024-01-04 11:55:00", 4, "purchase", 9.0),     # batch 3, late
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))

    orig = sb.load_table
    sb.load_table = lambda *_: df
    try:
        batch_rows = sorted(
            map(tuple, sb.q_stream_join(spark, "unused").collect())
        )
    finally:
        sb.load_table = orig

    pdf = pd.DataFrame(
        [(e, pd.Timestamp(t), u, et, v) for (e, t, u, et, v) in rows],
        columns=["event_id", "ts", "user_id", "event_type", "value"],
    )
    batches = [
        pdf[pdf["event_id"].isin([1, 3, 4, 5, 8])],
        pdf[pdf["event_id"].isin([2, 6, 9])],
        pdf[pdf["event_id"].isin([7, 10])],
    ]
    window_ms = 2 * 3_600_000
    got, state = _drive_interval_join_fold(
        batches, window_ms, slack_ms=3_600_000
    )
    got_rows = sorted(
        (u, c, cts.to_pydatetime(), p, pts.to_pydatetime(), v)
        for (u, c, cts, p, pts, v) in got
    )
    assert got_rows == batch_rows
    # sanity on the scenario itself: 4 pairs, one per user
    assert len(batch_rows) == 4
    # pruning really bounded the buffers: user 4's click buffer holds
    # nothing older than max_ts - window - slack
    import pandas as _pd

    for uid, (clicks, purchases) in state.items():
        assert all(
            t >= _pd.Timestamp("2024-01-04 09:30:00") for (_i, t) in clicks
        ) or uid != 4


def test_interval_join_fold_slackless_drops_late_sides():
    """Regression shape: with slack_ms=0 the late-click pair still
    emits (the click probes buffered purchases), but the late-PURCHASE
    pair is lost because its click was pruned at max_ts - window —
    exactly the r7-ADVICE failure mode the watermark slack closes."""
    import pandas as pd

    pdf = pd.DataFrame(
        [
            (8, pd.Timestamp("2024-01-04 10:00:00"), 4, "click", 0.0),
            (9, pd.Timestamp("2024-01-04 12:30:00"), 4, "click", 0.0),
            (10, pd.Timestamp("2024-01-04 11:55:00"), 4, "purchase", 9.0),
        ],
        columns=["event_id", "ts", "user_id", "event_type", "value"],
    )
    batches = [
        pdf[pdf["event_id"].isin([8])],
        pdf[pdf["event_id"].isin([9])],
        pdf[pdf["event_id"].isin([10])],
    ]
    window_ms = 2 * 3_600_000
    with_slack, _ = _drive_interval_join_fold(batches, window_ms, 3_600_000)
    without, _ = _drive_interval_join_fold(batches, window_ms, 0)
    assert {c for (_u, c, *_r) in with_slack} == {8}
    assert without == []  # click 8 pruned after batch 2; pair lost


@pytest.mark.skipif(
    not _protobuf_available(),
    reason="transformWithState Python workers require google.protobuf "
    "(absent in this container; pip install is prohibited here — see "
    "pyproject dev extra); interval_join_fold carries the same "
    "transition semantics and is tested above",
)
def test_interval_join_tws_matches_batch_twin(spark, tmp_path):
    """Full transformWithStateInPandas run vs the batch interval join."""
    import pandas as pd

    import etl_template_spark.queries.streaming_batch as sb
    from etl_template_spark.streaming import interval_join_tws_stream

    rows = [
        (1, "2024-01-01 10:00:00", 1, "click", 0.0),
        (2, "2024-01-01 11:30:00", 1, "purchase", 20.0),
        (4, "2024-01-02 09:00:00", 2, "click", 0.0),
        (5, "2024-01-02 09:00:00", 2, "purchase", 5.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    orig = sb.load_table
    sb.load_table = lambda *_: df
    try:
        expected = sorted(map(tuple, sb.q_stream_join(spark, "unused").collect()))
    finally:
        sb.load_table = orig

    src = str(tmp_path / "src")
    os.makedirs(src)
    pdf = df.toPandas()
    with open(os.path.join(src, "all.jsonl"), "w") as f:
        for _, r in pdf.iterrows():
            f.write(json.dumps({
                "event_id": int(r.event_id),
                "ts": r.ts.isoformat(sep=" "),
                "user_id": int(r.user_id),
                "event_type": r.event_type,
                "value": float(r.value),
                "props": None,
            }) + "\n")
    out = interval_join_tws_stream(read_events_stream(spark, src))
    q = (
        out.writeStream.format("memory").queryName("ij_tws")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted(map(tuple, spark.sql("SELECT * FROM ij_tws").collect()))
    assert got == expected


# ---------------------------------------------------------------- r8 ------
# sharded streaming heavy hitters on MapState


def test_mg_fold_guarantees_on_zipf_stream():
    """Misra-Gries invariants over a Zipf-ish stream driven in
    micro-batches: (1) tracked counts are LOWER bounds on true counts,
    (2) undercount is at most stream_len/(k+1), (3) every item with
    true count > stream_len/(k+1) is tracked, (4) at most k entries."""
    import random

    from etl_template_spark.streaming import mg_fold

    rng = random.Random(8)
    # Zipf-ish: item i appears ~ 1/i
    stream = [f"w{i}" for i in range(1, 60) for _ in range(600 // i)]
    rng.shuffle(stream)
    true = {}
    for it in stream:
        true[it] = true.get(it, 0) + 1

    k = 16
    counts = {}
    for start in range(0, len(stream), 500):  # micro-batches of 500
        counts = mg_fold(counts, stream[start : start + 500], k)

    n = len(stream)
    assert len(counts) <= k
    for it, c in counts.items():
        assert c <= true[it]
        assert true[it] - c <= n / (k + 1)
    for it, t in true.items():
        if t > n / (k + 1):
            assert it in counts, f"guaranteed heavy hitter {it} missing"


def test_mg_fold_exact_when_capacity_suffices():
    """With k >= distinct items no decrement ever fires: the sketch IS
    the exact frequency table, independent of batch boundaries."""
    from etl_template_spark.streaming import mg_fold

    stream = ["a"] * 5 + ["b"] * 3 + ["c"] * 2
    one_shot = mg_fold({}, list(stream), 10)
    batched = {}
    for i in range(0, len(stream), 3):
        batched = mg_fold(batched, stream[i : i + 3], 10)
    assert one_shot == batched == {"a": 5, "b": 3, "c": 2}


def test_heavy_hitters_tws_plan_constructs(spark, events_dir):
    """heavy_hitters_tws_stream plan construction is environment-free:
    the unstarted streaming frame must carry the declared sketch-row
    schema, keyed by the hash shard."""
    from etl_template_spark.streaming import heavy_hitters_tws_stream

    stream = read_events_stream(spark, events_dir).select(
        F.col("event_type").alias("token"), "ts"
    )
    out = heavy_hitters_tws_stream(stream, col="token", k=8, n_shards=4)
    assert out.isStreaming
    assert [f.name for f in out.schema.fields] == ["shard", "item", "cnt_lower"]


@pytest.mark.skipif(
    not _protobuf_available(),
    reason="transformWithState Python workers require google.protobuf "
    "(absent in this container; package installation is prohibited here — "
    "see pyproject [streaming-state] extra); mg_fold carries the same "
    "transition semantics and is tested above",
)
def test_heavy_hitters_tws_matches_exact_counts(spark, events_dir, tmp_path):
    """Full MapState run with ample capacity: final per-item lower
    bounds equal the exact batch counts."""
    from etl_template_spark.streaming import heavy_hitters_tws_stream

    stream = read_events_stream(spark, events_dir).select(
        F.col("event_type").alias("token")
    )
    out = heavy_hitters_tws_stream(stream, col="token", k=64, n_shards=4)
    q = (
        out.writeStream.format("memory").queryName("hh_tws")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        r["item"]: r["cnt_lower"]
        for r in spark.sql(
            "SELECT item, MAX(cnt_lower) AS cnt_lower FROM hh_tws GROUP BY item"
        ).collect()
    }
    batch = (
        spark.read.schema(
            "event_id bigint, ts timestamp, user_id bigint, event_type string, "
            "value double, props string"
        )
        .json(events_dir)
        .groupBy("event_type")
        .count()
    )
    expect = {r["event_type"]: r["count"] for r in batch.collect()}
    assert got == expect


def test_commit_stream_batch_out_of_order_replay_falls_back_to_scan(spark, tmp_path):
    """The O(1) replay check reads only the newest marker; a replay of
    an OLDER batch id (cannot happen under foreachBatch, but the code
    defends it) must fall back to the full scan and still return the
    original version instead of double-committing."""
    from etl_template_spark.io import list_versions
    from etl_template_spark.streaming.jobs import commit_stream_batch

    root = str(tmp_path / "data")
    df = spark.range(3).selectExpr("id", "id AS doubled")
    v0 = commit_stream_batch(df, root, "ingest", batch_id=0)
    v1 = commit_stream_batch(df, root, "ingest", batch_id=1)
    assert (v0, v1) == (1, 2)
    # hand-rolled out-of-order replay of batch 0: newest marker is 1
    assert commit_stream_batch(df, root, "ingest", batch_id=0) == v0
    assert list_versions(root, "ingest") == [1, 2]  # nothing re-committed


def test_commit_stream_batch_refuses_rolled_back_checkpoint(spark, tmp_path):
    """r8 ADVICE: an incoming batch id BELOW the newest committed
    marker with no matching marker anywhere means the checkpoint was
    rolled back/corrupted — committing would append old rows as the
    NEWEST version, silently reordering history.  The sink must stall
    loudly instead."""
    import pytest

    from etl_template_spark.io import list_versions
    from etl_template_spark.streaming.jobs import commit_stream_batch

    root = str(tmp_path / "data")
    df = spark.range(3).selectExpr("id", "id AS doubled")
    commit_stream_batch(df, root, "ingest", batch_id=5)
    commit_stream_batch(df, root, "ingest", batch_id=6)
    # batch 3 was never committed here; a rolled-back checkpoint would
    # redeliver it — refuse rather than append out-of-order history
    with pytest.raises(RuntimeError, match="rolled back or corrupted"):
        commit_stream_batch(df, root, "ingest", batch_id=3)
    assert list_versions(root, "ingest") == [1, 2]  # nothing committed


def test_prune_versions_spares_unproven_inflight_scratch(spark, tmp_path):
    """r8 review: retention GC must NOT delete _inflight-* scratch
    whose batch has no committed marker — it may be a LIVE writer
    between its Spark write and the atomic rename.  Once a committed
    version's marker proves the batch landed, the scratch is dead and
    sweeps."""
    import glob

    from etl_template_spark.io import prune_versions
    from etl_template_spark.streaming.jobs import commit_stream_batch

    root = str(tmp_path / "data")
    df = spark.range(3).selectExpr("id", "id AS doubled")
    step_root = os.path.join(root, "ingest")

    # a live-looking scratch for batch 0, fully built but not renamed
    os.makedirs(step_root)
    scratch = os.path.join(step_root, "_inflight-0-live")
    df.write.parquet(scratch)
    with open(os.path.join(scratch, "_BATCH_ID"), "w") as f:
        f.write("0")

    # GC before any commit: the scratch must survive (unproven)
    prune_versions(root, "ingest", keep_last=1)
    assert glob.glob(os.path.join(step_root, "_inflight-*"))

    # batch 0 commits (the replay path); its own sweep already clears
    # predecessors — recreate a stale scratch to exercise the GC path
    commit_stream_batch(df, root, "ingest", batch_id=0)
    stale = os.path.join(step_root, "_inflight-0-stale")
    os.makedirs(stale)
    prune_versions(root, "ingest", keep_last=1)
    assert glob.glob(os.path.join(step_root, "_inflight-*")) == []
