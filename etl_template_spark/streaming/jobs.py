"""Structured Streaming jobs: the incremental flavor of the reference's
checkpointed record loop (R12, /root/reference/tools/tools.go:676-806).

The reference resumes a crashed step from a per-record JSON cursor
(``LoopState``, tools.go:59-62) persisted after EVERY record
(tools.go:771-777).  Structured Streaming's ``checkpointLocation`` is
the native replacement: source offsets + operator state in a WAL,
exactly-once file sinks, resume-on-restart — at micro-batch rather than
per-record granularity, which is the only version of this that
survives 100 TB.

Every job below takes a streaming DataFrame and returns a streaming
DataFrame (composability); ``run_available_now`` executes one
bounded catch-up pass (Trigger.AvailableNow) — the batch-parity mode the
tests use, and operationally "process the backlog, then stop".

Event-time discipline: every stateful op declares a watermark; state for
windows older than (max event time - watermark) is finalized and
dropped, which is what bounds state size on an unbounded stream.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

# RocksDB state store: the scale path for streaming state.  The default
# HDFS-backed store keeps every key in executor heap — fine for small
# keyspaces, an OOM at 100 TB-scale session/dedup state.  RocksDB spills
# to local disk with bounded memory.  Set before starting a query:
#   for k, v in ROCKSDB_STATE_CONF.items(): spark.conf.set(k, v)
ROCKSDB_STATE_CONF = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}

# explicit StructType (NOT fromDDL, which parses via a live SparkSession
# and would make this module un-importable session-free)
EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of events JSONL (schema declared, never
    inferred — the engine's R1 discipline applies to streams too)."""
    reader = spark.readStream.schema(EVENTS_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def tumbling_agg_stream(
    events: DataFrame, width: str = "5 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """q_stream_tumbling, incremental: watermarked tumbling window agg."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_agg_stream(
    events: DataFrame,
    width: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """q_stream_sliding, incremental."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_agg_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """q_sessionize, incremental: native ``session_window`` — state per
    open session, merged on overlap, finalized by the watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def dedup_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """q_stream_dedup_late, incremental: watermarked dropDuplicates —
    duplicate keys within the watermark horizon are dropped; state for
    keys older than the horizon is evicted (bounded state)."""
    keys = keys or ["event_id"]
    return events.withWatermark("ts", watermark).dropDuplicates(keys + ["ts"])


def dedup_stream_within_watermark(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """``dropDuplicatesWithinWatermark``: dedup on the KEY ALONE — two
    records with the same key but different event times still collapse,
    as long as they arrive within the watermark horizon of each other.

    This is the at-least-once-ingest reality ``dedup_stream`` can't
    express: a redelivered event usually carries a fresh/late timestamp,
    so keying on (id, ts) lets the duplicate through, while keying on id
    without the within-watermark bound would grow state forever.  State
    per key is evicted one watermark horizon after first sight — the
    same bounded-state guarantee, correct semantics for retried
    delivery."""
    keys = keys or ["event_id"]
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def running_totals_stream(
    events: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a running
    (n_events, sum_value) accumulator per user, emitted on every update.

    This is the fully-general escape hatch when built-in windows can't
    express the state machine (the streaming analog of the reference's
    per-record transformer loop, tools.go:676-806, with the state in the
    engine's checkpointed store instead of a JSON cursor file).  State is
    an explicit typed tuple; Arrow batches in, Arrow batches out; the
    state store bounds memory and the watermark lets timeouts evict idle
    keys at scale."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def _update(key, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].fillna(0.0).sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _update,
            outputStructType="user_id bigint, n_events bigint, sum_value double",
            stateStructType="n bigint, s double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def join_streams(
    clicks: DataFrame,
    purchases: DataFrame,
    within: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream inner join: attribute each purchase to same-user
    clicks at most ``within`` before it (q_stream_join's incremental
    twin).

    Both sides carry a watermark and the join predicate carries the
    time bound — together they let Spark EVICT join state: a buffered
    click older than (watermark horizon - within) can never match a
    future purchase and is dropped.  Without the time bound both sides
    buffer forever, which is the unbounded-state bug that kills
    stream-stream joins at scale; with it, state is O(traffic within
    the horizon) regardless of stream age.

    ``how='left_outer'`` emits unconverted clicks too (null purchase
    columns) — but only once the watermark proves no future purchase
    can still match, which is why outer stream-stream joins REQUIRE
    the time bound: without it the null side could never be finalized."""
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        "user_id",
    ).withWatermark("click_ts", within)
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("user_id").alias("p_user_id"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", within)
    return c.join(
        p,
        F.expr(
            f"user_id = p_user_id AND purchase_ts >= click_ts "
            f"AND purchase_ts <= click_ts + INTERVAL {within}"
        ),
        how,
    ).select(
        "user_id", "click_id", "click_ts", "purchase_id", "purchase_ts",
        "purchase_value",
    )


def run_available_now(
    df: DataFrame, sink_table: str, checkpoint_dir: str, output_mode: str = "append"
) -> StreamingQuery:
    """Process everything currently available, then stop (bounded
    catch-up).  Memory sink for tests; checkpointed like any stream."""
    q = (
        df.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


BATCH_MARKER = "_BATCH_ID"


def commit_stream_batch(
    batch_df: DataFrame, root: str, step: str, batch_id: int
) -> int | None:
    """Idempotently commit one foreachBatch micro-batch as a version.

    foreachBatch is AT-LEAST-ONCE: after a crash between the version
    commit and the checkpoint WAL write, Structured Streaming replays
    the batch with the SAME batch_id — a naive per-batch
    ``write_versioned`` then lands the rows twice (in two immutable
    versions; ``latest`` readers survive, but changelog/merged-history
    consumers double-count).  This commit path closes that window by
    making the batch-id marker atomic WITH version visibility:

    1. if any committed version already carries this ``batch_id``
       marker, the batch is a replay — return its version, write
       nothing;
    2. write the batch to a scratch directory (Spark's own job-commit
       protocol makes the scratch write all-or-nothing);
    3. drop the ``_BATCH_ID`` marker INTO the scratch dir — before
       anything is visible;
    4. claim ``v=N`` (atomic mkdir) and ``os.rename`` the scratch over
       it — one atomic filesystem operation publishes data + Spark's
       ``_SUCCESS`` + the marker together.

    A crash before (4) leaves only scratch (invisible; swept by the
    next successful commit and by the retention GC); a crash BETWEEN
    the claim and the rename leaves an empty claimed ``v=N`` without
    ``_SUCCESS`` — invisible to every reader since the committed-only
    version listing (io.py), reclaimed by ``prune_versions`` — and a
    crash after (4) leaves the marker in place (replay skips).  There
    is no state in which the rows are visible without their marker, so
    the sink is exactly-once at dataset-version granularity — the
    generalized form of the reference's resume-from-cursor contract
    (tools.go:676-806) that survives redelivery, not just restart.

    Replay detection is O(1) per batch, not O(total versions): batch
    ids and version numbers both increase monotonically under
    foreachBatch's single-writer contract, and only the LAST
    uncommitted batch is ever redelivered — so the newest
    marker-bearing committed version decides (match → replay; smaller
    id → genuinely new batch).  A full scan runs only in the
    can't-happen-in-practice case of a marker NEWER than the incoming
    batch id (e.g. a hand-rolled out-of-order replay), trading O(n)
    there for correctness.

    Portability: step (4) relies on POSIX ``rename(2)`` atomically
    replacing an empty target directory — true for local/NFS/HDFS-style
    filesystems, NOT for S3-style object stores where "rename" is a
    non-atomic copy+delete per object.  On an object store, commit by
    writing a small manifest/pointer object instead (the standard
    Delta/Iceberg-style commit), or route through a metadata service;
    this local-FS path is the single-box contract the reference's
    checkpoint loop assumes (tools.go:676-806)."""
    import shutil
    import uuid

    from ..io import _step_dir, claim_next_version, list_versions

    step_root = _step_dir(root, step)

    def _marker_batch(v: int) -> int | None:
        d = os.path.join(step_root, f"v={v}")
        marker = os.path.join(d, BATCH_MARKER)
        if os.path.isfile(os.path.join(d, "_SUCCESS")) and os.path.isfile(marker):
            with open(marker) as fh:
                try:
                    return int(fh.read().strip())
                except ValueError:
                    return None
        return None

    # (1) replay detection: newest marker-bearing committed version
    # decides in O(1); full scan only on the out-of-order anomaly
    committed = list_versions(root, step)
    newest_marked = None
    for v in reversed(committed):
        mb = _marker_batch(v)
        if mb is not None:
            newest_marked = (v, mb)
            break
    if newest_marked is not None:
        v, mb = newest_marked
        if mb == batch_id:
            return v
        if mb > batch_id:  # out-of-order replay: fall back to full scan
            for v2 in committed:
                if _marker_batch(v2) == batch_id:
                    return v2
            # r8 ADVICE: an incoming batch id BELOW the newest committed
            # marker with no matching marker anywhere means the
            # checkpoint was rolled back or corrupted out from under the
            # sink.  Appending would silently reorder the versioned
            # stream's history (old rows landing as the newest version),
            # so stall loudly instead — matching the sink's stated
            # exactly-once-at-version-granularity contract.  Recovery is
            # operator-driven: restore the checkpoint, or start a fresh
            # checkpoint against a fresh step.
            raise RuntimeError(
                f"commit_stream_batch: incoming batch_id={batch_id} is below "
                f"the newest committed marker ({mb} at v={v}) and no committed "
                "version carries it — the streaming checkpoint appears rolled "
                "back or corrupted; refusing to append out-of-order history"
            )
    if batch_df.isEmpty():
        return None
    # (2) scratch write on the same filesystem (rename must be atomic)
    os.makedirs(step_root, exist_ok=True)
    scratch = os.path.join(step_root, f"_inflight-{batch_id}-{uuid.uuid4().hex}")
    try:
        batch_df.write.mode("overwrite").parquet(scratch)
        # (3) marker travels inside the not-yet-visible directory
        with open(os.path.join(scratch, BATCH_MARKER), "w") as fh:
            fh.write(str(batch_id))
        # (4) atomic publish: POSIX rename replaces an EMPTY target
        # directory atomically, so the claimed dir is overwritten in one
        # operation — no rmdir first (that would release the claim to a
        # concurrent writer for a moment)
        version, path = claim_next_version(root, step)
        os.rename(scratch, path)
    except BaseException:
        shutil.rmtree(scratch, ignore_errors=True)
        raise
    # (5) sweep crash remnants from PRIOR attempts: under the
    # single-writer foreachBatch contract any other _inflight-* dir
    # with batch id <= ours is a dead predecessor (its batch either
    # just committed or was superseded); ours was renamed away in (4)
    for entry in os.listdir(step_root):
        if not entry.startswith("_inflight-"):
            continue
        try:
            stale_bid = int(entry.split("-")[1])
        except (IndexError, ValueError):
            continue
        if stale_bid <= batch_id:
            shutil.rmtree(os.path.join(step_root, entry), ignore_errors=True)
    return version


def versioned_stream_sink(
    df: DataFrame,
    root: str,
    step: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Stream → versioned dataset: each micro-batch commits as a new
    ``v=N`` via foreachBatch (R7 semantics on a stream), through the
    idempotent ``commit_stream_batch`` path — a crash-replayed batch id
    is detected and skipped, so the sink is exactly-once at version
    granularity even across foreachBatch redelivery (not merely across
    clean restarts).

    ``trigger``: kwargs for ``DataStreamWriter.trigger`` (r10 review —
    the trigger used to be pinned to ``availableNow``, forcing
    continuous deployments to copy-paste the writeStream wiring).
    Default stays ``{"availableNow": True}`` (drain-and-stop);
    a long-running ingest passes e.g.
    ``{"processingTime": "1 minute"}`` — the commit path is the same
    either way, that is what makes it redelivery-safe."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        commit_stream_batch(batch_df, root, step, batch_id)

    return (
        df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", os.path.join(checkpoint_dir, step))
        .trigger(**(trigger if trigger is not None else {"availableNow": True}))
        .start()
    )


def _duration_ms(duration: str) -> int:
    """'30 days' / '6 hours' → milliseconds.  PySpark's
    ``GroupState.setTimeoutDuration`` takes int millis only (the
    Scala-side duration-string overload isn't exposed)."""
    qty, unit = duration.split()
    per_ms = {
        "millisecond": 1, "milliseconds": 1,
        "second": 1000, "seconds": 1000,
        "minute": 60_000, "minutes": 60_000,
        "hour": 3_600_000, "hours": 3_600_000,
        "day": 86_400_000, "days": 86_400_000,
    }[unit.lower()]
    return int(float(qty) * per_ms)


def funnel_fold(state_triple, rows_df):
    """The per-user monotone funnel transition (view → click →
    purchase) that ``funnel_stream`` folds each micro-batch through,
    factored out as the Spark-free unit-test seam (the attribution_fold
    pattern).  Given the carried (t_view, t_click, t_purchase) and one
    micro-batch pandas frame of this user's rows, return the advanced
    triple: batch rows fold in event-time order, stages never regress,
    and each stage timestamp must be STRICTLY after its predecessor's."""
    tv, tc, tp = state_triple
    if len(rows_df):
        srt = rows_df.sort_values("ts")
        for et, ts in zip(srt["event_type"], srt["ts"]):
            if et == "view" and tv is None:
                tv = ts
            elif et == "click" and tc is None and tv is not None and ts > tv:
                tc = ts
            elif et == "purchase" and tp is None and tc is not None and ts > tc:
                tp = ts
    return tv, tc, tp


def funnel_stream(
    events: DataFrame, watermark: str = "1 hour", idle_ttl: str | None = None
) -> DataFrame:
    """Streaming funnel (q_events_funnel's incremental twin): per user,
    the earliest view, the earliest click AFTER that view, the earliest
    purchase AFTER that click — emitted as the furthest ``stage``
    reached so far, updated as events arrive.

    Custom stateful operator via ``applyInPandasWithState``: state is
    the typed triple (t_view, t_click, t_purchase); each batch's rows
    are processed in event-time order and folded through the stage
    machine.  In-order and bounded-late arrivals (anything the
    watermark admits within a batch, which is sorted before folding)
    produce exactly the batch semantics; an earlier-stage event
    arriving AFTER a later batch already consumed its successors is
    folded conservatively (stages never regress) — the standard
    monotone approximation every incremental funnel makes, because
    exact retraction would require buffering the full horizon per user.
    State is three timestamps per user — O(users) regardless of event
    volume; by default it lives forever (a user can complete the funnel
    years later).  ``idle_ttl`` (processing time, e.g. ``"90 days"``)
    evicts long-idle users — a returning evicted user restarts at
    stage 1, and the query becomes permanently active (see
    retention_stream for why TTL'd queries cannot self-terminate under
    availableNow)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ttl_ms = _duration_ms(idle_ttl) if idle_ttl is not None else None

    def _update(key, pdfs, state: GroupState):
        if ttl_ms is not None and state.hasTimedOut:
            state.remove()
            return
        tv, tc, tp = state.get if state.exists else (None, None, None)
        pdfs = list(pdfs)
        rows = pd.concat(pdfs) if pdfs else pd.DataFrame()
        tv, tc, tp = funnel_fold((tv, tc, tp), rows)
        state.update((tv, tc, tp))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if tv is not None:
            stage = 3 if tp is not None else (2 if tc is not None else 1)
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "t_view": [tv],
                    "t_click": [tc],
                    "t_purchase": [tp],
                    "stage": [stage],
                }
            )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _update,
            outputStructType=(
                "user_id bigint, t_view timestamp, t_click timestamp, "
                "t_purchase timestamp, stage int"
            ),
            stateStructType="tv timestamp, tc timestamp, tp timestamp",
            outputMode="update",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if ttl_ms is not None
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


def retention_stream(
    events: DataFrame, watermark: str = "1 hour", idle_ttl: str | None = None
) -> DataFrame:
    """Streaming cohort retention (q_events_retention's incremental
    twin): rows ``(cohort_week, week_offset, n_users)``, updated as
    events arrive.

    Two chained stateful stages:

    1. **Per-user delta emission** (``applyInPandasWithState``, append
       output): state is the user's cohort week plus the set of
       activity weeks already emitted; the FIRST time a user is seen
       active in a week, exactly one ``delta = 1`` row for
       ``(cohort_week, week_offset)`` is emitted — never again, so the
       emission is genuinely append-only (a requirement for chaining a
       streaming aggregation after a stateful operator).  State is
       O(active weeks) per user, independent of event volume.
    2. **Exact rollup**: ``SUM(delta)`` per (cohort_week, week_offset).
       Because stage 1 already deduplicated per (user, week), the sum
       IS the exact distinct-user count — a plain mergeable aggregate,
       no distinct and no per-window user-id state downstream (the HLL
       fallback ``distinct_users_stream`` needs is unnecessary here).

    **Output-mode contract: update (or complete) ONLY.**  Stage 1's
    output rows carry no event-time column (``cohort_week`` is a
    grouping label — a cohort's rows keep arriving for as long as its
    users live), so stage 2's SUM state is never watermark-finalized
    and an append-mode sink would never emit anything.  ``watermark``
    bounds only stage-1 INPUT lateness: rows older than the watermark
    are dropped before reaching the state function; it does not (and
    cannot) finalize the downstream aggregate.

    **State retention**: by default per-user state lives forever —
    correct (a user returning after years still lands in their original
    cohort) but O(all users ever seen).  Pass ``idle_ttl`` (e.g.
    ``"30 days"``, processing time) to evict state for users idle
    longer than that; an evicted user who later returns re-enters as a
    fresh cohort — the standard memory/correctness trade, made explicit
    rather than silent.  ``idle_ttl`` makes the query PERMANENTLY
    active: processing-time timeouts fire a state-cleanup batch every
    trigger, so neither ``Trigger.AvailableNow``'s self-termination nor
    ``processAllAvailable()`` ever completes — run the TTL'd flavor as
    a genuinely continuous query (monitor the sink; ``stop()``
    explicitly), and keep ``idle_ttl=None`` for bounded catch-up runs.

    Approximation bound (same monotone discipline as
    ``funnel_stream``): each micro-batch folds its rows in event-time
    order, so an in-order or bounded-late backlog reproduces the batch
    result exactly.  A user's first-ever event arriving AFTER a later
    week of theirs was already emitted cannot re-assign the cohort
    (append emissions are final); such pre-cohort activity is dropped
    rather than emitted with a rewritten history."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ttl_ms = _duration_ms(idle_ttl) if idle_ttl is not None else None

    weekly = events.withWatermark("ts", watermark).select(
        "user_id", "ts", F.date_trunc("week", "ts").alias("wk")
    )

    def _update(key, pdfs, state: GroupState):
        if ttl_ms is not None and state.hasTimedOut:
            # long-idle user: drop the (cohort, seen) pair; a later
            # return starts a fresh cohort (documented trade above)
            state.remove()
            return
        cohort, seen = state.get if state.exists else (None, [])
        seen = list(seen or [])
        out_cohort, out_offset = [], []
        pdfs = list(pdfs)
        rows = pd.concat(pdfs) if pdfs else pd.DataFrame()
        if len(rows):
            for wk in sorted(rows.sort_values("ts")["wk"].unique()):
                wk = pd.Timestamp(wk).to_pydatetime()
                if cohort is None:
                    cohort = wk
                if wk < cohort or wk in seen:
                    continue  # pre-cohort straggler / already emitted
                seen.append(wk)
                out_cohort.append(cohort)
                out_offset.append((wk - cohort).days // 7)
        state.update((cohort, seen))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if out_cohort:
            yield pd.DataFrame(
                {
                    "cohort_week": out_cohort,
                    "week_offset": out_offset,
                    "delta": [1] * len(out_cohort),
                }
            )

    deltas = weekly.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType="cohort_week timestamp, week_offset int, delta int",
        stateStructType="cohort timestamp, seen array<timestamp>",
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if idle_ttl is not None
            else GroupStateTimeout.NoTimeout
        ),
    )
    return deltas.groupBy("cohort_week", "week_offset").agg(
        F.sum("delta").alias("n_users")
    )


def transitions_stream(
    events: DataFrame, watermark: str = "1 hour", idle_ttl: str | None = None
) -> DataFrame:
    """Streaming event-transition counts (q_events_transitions'
    incremental twin): rows ``(prev_type, next_type, n_transitions)``,
    updated as events arrive.

    Same two-stage chaining as ``retention_stream``:

    1. **Per-user pair emission** (``applyInPandasWithState``, append
       output): state is the user's LAST (ts, event_type); each batch's
       rows fold in (ts, event_id) order, emitting one (prev, next)
       delta row per consecutive pair.  Every pair is emitted exactly
       once, so the emission is append-only and the state is O(1) per
       user — two fields, regardless of event volume.
    2. **Exact rollup**: ``SUM(delta)`` per (prev, next) — a plain
       mergeable aggregate; with stage 1 append-only the sum equals the
       batch twin's pair counts.

    Update/complete output mode only (stage-1 output carries no event
    time — same contract as retention_stream).  Monotone approximation:
    batches fold in event-time order, so an in-order backlog reproduces
    the batch result exactly; a straggler older than the user's last
    seen event cannot retro-insert between already-paired events (it
    appends after, by fold order) — the standard incremental trade,
    bounded by the input watermark.  ``idle_ttl`` evicts long-idle
    users' last-event state (a returning user simply starts a fresh
    chain — one transition at the boundary is lost, counts never
    corrupt)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ttl_ms = _duration_ms(idle_ttl) if idle_ttl is not None else None

    def _update(key, pdfs, state: GroupState):
        if ttl_ms is not None and state.hasTimedOut:
            state.remove()
            return
        last_ts, last_type = state.get if state.exists else (None, None)
        prevs, nexts = [], []
        pdfs = list(pdfs)
        rows = pd.concat(pdfs) if pdfs else pd.DataFrame()
        if len(rows):
            srt = rows.sort_values(["ts", "event_id"])
            for ts, et in zip(srt["ts"], srt["event_type"]):
                if last_type is not None:
                    prevs.append(last_type)
                    nexts.append(et)
                last_ts, last_type = ts, et
        state.update((last_ts, last_type))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if prevs:
            yield pd.DataFrame(
                {"prev_type": prevs, "next_type": nexts, "delta": [1] * len(prevs)}
            )

    deltas = (
        events.withWatermark("ts", watermark)
        .select("user_id", "ts", "event_id", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update,
            outputStructType="prev_type string, next_type string, delta int",
            stateStructType="last_ts timestamp, last_type string",
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if ttl_ms is not None
                else GroupStateTimeout.NoTimeout
            ),
        )
    )
    return deltas.groupBy("prev_type", "next_type").agg(
        F.sum("delta").alias("n_transitions")
    )


def distinct_users_stream(
    events: DataFrame, width: str = "1 hour", watermark: str = "1 hour"
) -> DataFrame:
    """q_stream_distinct_users, incremental: windowed
    ``approx_count_distinct`` (HyperLogLog++).  Exact distinct is not
    merge-able, so an exact streaming version would buffer every user
    id per open window; the HLL register set is constant-size state per
    window and merges across micro-batches — the 100 TB-stream shape.
    Default rsd 5%; tests bound the error vs the exact batch twin."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"))
        .agg(
            F.approx_count_distinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(F.col("w.start").alias("win_start"), "n_users", "n_events")
    )


ATTRIBUTION_TOUCH_TYPES = ("click", "view", "signup")


def attribution_fold(user_id, touches, rows, window_ms, slack_ms=0):
    """The per-key attribution transition function, factored out of the
    streaming processor so its semantics are unit-testable without the
    transformWithState Python workers (which need google.protobuf):
    given the carried touch list and one micro-batch of this user's
    rows, return (credit rows, pruned touch list).  Rows fold in
    (ts, touches-before-purchases, event_id) order: the batch twin's
    lookback bound is INCLUSIVE (``touch.ts <= purchase.ts``), so a
    same-instant touch must be visible to the purchase regardless of
    event-id order — the tie rule that makes stream and batch agree.
    Credit rows are (event_id, user_id, channel, share, n_touches).

    Pruning (r7 ADVICE): the returned touch list is pruned at
    ``max_batch_ts - window_ms - slack_ms``.  The slack term exists
    because a purchase may arrive in a LATER micro-batch with an
    EARLIER event time — anything the stream's watermark admits — and
    its lookback ``[ts - window, ts]`` must still see every touch it
    would have seen in the batch query.  The watermark guarantees any
    future-admitted row has ``ts >= max_global_ts - delay``, and this
    key's ``max_batch_ts <= max_global_ts``, so a cutoff of
    ``max_batch_ts - window - delay`` can never drop a touch a
    still-admissible purchase could credit: pruning is lossless iff
    ``slack_ms`` covers the watermark delay.  With ``slack_ms=0`` the
    prune is lossless only for streams whose purchases never arrive
    event-time-late across a batch boundary."""
    import pandas as pd

    out = []
    max_ts = None
    ordered = sorted(rows, key=lambda r: (r[1], r[2] == "purchase", r[0]))
    for event_id, ts, et, value in ordered:
        max_ts = ts if max_ts is None or ts > max_ts else max_ts
        if et in ATTRIBUTION_TOUCH_TYPES:
            touches.append((ts, et))
        elif et == "purchase":
            lo = ts - pd.Timedelta(milliseconds=window_ms)
            hits = [c for (t, c) in touches if lo <= t <= ts]
            credits = hits or ["direct"]
            share = value / len(credits)
            uid = int(user_id) if user_id is not None else None
            for ch in credits:
                out.append((int(event_id), uid, ch, share, len(hits)))
    if max_ts is not None:
        cutoff = max_ts - pd.Timedelta(milliseconds=window_ms + slack_ms)
        touches = [(t, c) for (t, c) in touches if t >= cutoff]
    return out, touches


def attribution_tws_stream(
    events: DataFrame,
    watermark: str = "1 hour",
    window_days: int = 7,
    idle_ttl: str | None = None,
) -> DataFrame:
    """Streaming linear multi-touch attribution: the incremental twin of
    ``q_attribution_linear`` (queries/attribution.py) on the Spark 4
    ``transformWithState`` API.

    Per user key the state is a ListState of (ts, channel) touches.
    Each purchase reads the list, keeps the touches inside the lookback
    window (``touch.ts`` in ``[purchase.ts - window_days, purchase.ts]``,
    inclusive — identical bounds to the batch query), and emits one
    credit row per in-window touch with ``share = value / n`` — or a
    single full-value ``direct`` credit when no touch qualifies.  Rows
    within a micro-batch fold in (ts, event_id) order, so a same-batch
    touch-then-purchase sequence attributes exactly as the batch join
    does.

    The eviction story is the point: the watermark bounds how
    event-time-late a future purchase can arrive, so a touch older than
    ``lookback + watermark-delay`` below the key's max seen ts can
    NEVER earn credit again.  Pruning the list at
    ``max_seen_ts - window_days - watermark_delay`` (on every update,
    via ``attribution_fold``'s ``slack_ms``) and idle-evicting whole
    keys after ``idle_ttl >= window_days + watermark-delay`` of silence
    are therefore SEMANTICS-PRESERVING — state stays bounded by each
    user's ``7-day + delay`` touch volume, and the stream equals the
    batch query over any backlog whose lateness the watermark admits
    (test_streaming proves it across micro-batches, including a
    late-arriving purchase whose lookback reaches slack-retained
    touches).  That is the property that makes this runnable forever on
    an unbounded stream: the operator's correctness window IS its
    state-retention window.  (Without the slack term — the r7 ADVICE
    bug — a purchase arriving in a later micro-batch with an earlier
    event time could find its touches already pruned and silently fall
    back to 'direct'.)

    Stream-vs-batch caveat (inherent to Append-mode credits): a touch
    that ARRIVES in a later micro-batch than a same-or-later-timestamp
    purchase cannot credit it retroactively — the credit row is already
    emitted.  Within any one micro-batch the fold's tie-aware total
    order (attribution_fold) makes same-instant touch+purchase agree
    with the batch twin; across batches the watermark is the lateness
    budget, exactly as for the window aggregates.

    At scale: RocksDB list state (``ROCKSDB_STATE_CONF``), Append-mode
    credit deltas keyed by purchase event_id — a downstream stateless
    per-channel rollup (or the versioned sink) consumes them without
    reprocessing history.  Runtime gate as the other tws ops: the
    Python workers need ``google.protobuf``; plan construction is
    dependency-free."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    window_ms = window_days * 86_400_000
    # the watermark delay is the prune slack: a purchase this much
    # event-time-late must still find its lookback touches (r7 ADVICE)
    slack_ms = _duration_ms(watermark)
    ttl_ms = _duration_ms(idle_ttl) if idle_ttl is not None else None

    class _Attribution(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            self._touches = handle.getListState("touches", "ts timestamp, channel string")

        def handleInputRows(self, key, rows, timerValues):
            touches = list(self._touches.get()) if self._touches.exists() else []
            pdfs = list(rows)
            batch = pd.concat(pdfs) if pdfs else pd.DataFrame()
            rows_in = (
                list(
                    zip(
                        batch["event_id"],
                        batch["ts"],
                        batch["event_type"],
                        batch["value"],
                    )
                )
                if len(batch)
                else []
            )  # attribution_fold imposes the tie-aware total order itself
            # NULL user key (r10 review): int(None) would kill the whole
            # query; the batch twin's LEFT JOIN gives a null-user
            # purchase no touches and a full-value 'direct' credit, so
            # the user id passes through as None and the fold does the
            # same thing (its touch list for the null key is never
            # populated by a join — only by this key's own rows, which
            # is exactly the batch semantics for user_id = NULL only if
            # no touches match; a NULL never equi-joins, so fold with an
            # EMPTY touch list and keep none)
            if key[0] is None:
                purchases_only = [
                    r for r in rows_in if r[2] == "purchase"
                ]
                out, _ = attribution_fold(
                    None, [], purchases_only, window_ms, slack_ms
                )
                touches = []
            else:
                out, touches = attribution_fold(
                    int(key[0]), touches, rows_in, window_ms, slack_ms
                )
            if touches:
                self._touches.put(touches)
            else:
                self._touches.clear()
            if ttl_ms is not None:
                for t in self._handle.listTimers():
                    self._handle.deleteTimer(t)
                self._handle.registerTimer(
                    timerValues.getCurrentProcessingTimeInMs() + ttl_ms
                )
            if out:
                yield pd.DataFrame(
                    out,
                    columns=["event_id", "user_id", "channel", "share", "n_touches"],
                )

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            # idle eviction — lossless when idle_ttl >= the lookback
            # window (see docstring)
            self._touches.clear()
            return iter(())

        def close(self) -> None:
            pass

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_Attribution(),
            outputStructType=(
                "event_id bigint, user_id bigint, channel string, "
                "share double, n_touches int"
            ),
            outputMode="Append",
            timeMode="ProcessingTime" if ttl_ms is not None else "None",
        )
    )


def interval_join_fold(user_id, clicks, purchases, rows, window_ms, slack_ms=0):
    """Per-key transition function of the windowed stream-stream join
    (``interval_join_tws_stream``), factored out so its semantics are
    unit-testable without the transformWithState Python workers (which
    need google.protobuf) — the attribution_fold pattern.

    Given this user's carried click/purchase buffers and one
    micro-batch of rows, return (joined rows, clicks, purchases).  The
    join contract is q_stream_join's interval join verbatim: every
    (click, purchase) pair with ``click.ts <= purchase.ts <=
    click.ts + window_ms``.

    Exactly-once pair emission under ANY arrival interleaving: rows
    fold in (ts, clicks-before-purchases, event_id) order, and each row
    first PROBES the opposite buffer (which holds everything that
    arrived before it) and then INSERTS itself — so a pair emits
    exactly when its later-arriving side processes, never twice.  The
    symmetric probe is what makes a LATE click (arriving in a later
    micro-batch than its purchase, event time admitted by the
    watermark) still produce its pair — the one-directional
    probe-on-purchase design would silently drop it.

    Pruning carries the r7-ADVICE slack lesson: clicks prune at
    ``max_ts - window_ms - slack_ms`` (a still-admissible late purchase
    at ``max_ts - slack`` can reach a click ``window`` before that) and
    purchases prune at ``max_ts - slack_ms`` (a purchase only matches
    clicks at or before its own ts, so once no admissible click can
    precede it, it is dead).  With ``slack_ms`` covering the watermark
    delay the buffers are lossless; state per key is bounded by
    ``window + slack`` of clicks plus ``slack`` of purchases."""
    import pandas as pd

    out = []
    max_ts = None
    win = pd.Timedelta(milliseconds=window_ms)
    ordered = sorted(rows, key=lambda r: (r[1], r[2] == "purchase", r[0]))
    for event_id, ts, et, value in ordered:
        max_ts = ts if max_ts is None or ts > max_ts else max_ts
        if et == "click":
            for p_id, p_ts, p_value in purchases:
                if ts <= p_ts <= ts + win:
                    out.append(
                        (int(user_id), int(event_id), ts, int(p_id), p_ts, p_value)
                    )
            clicks.append((event_id, ts))
        elif et == "purchase":
            for c_id, c_ts in clicks:
                if c_ts <= ts <= c_ts + win:
                    out.append(
                        (int(user_id), int(c_id), c_ts, int(event_id), ts, value)
                    )
            purchases.append((event_id, ts, value))
    if max_ts is not None:
        slack = pd.Timedelta(milliseconds=slack_ms)
        c_cut = max_ts - win - slack
        p_cut = max_ts - slack
        clicks = [(i, t) for (i, t) in clicks if t >= c_cut]
        purchases = [(i, t, v) for (i, t, v) in purchases if t >= p_cut]
    return out, clicks, purchases


def interval_join_tws_stream(
    events: DataFrame,
    watermark: str = "1 hour",
    window: str = "2 hours",
    idle_ttl: str | None = None,
) -> DataFrame:
    """Windowed stream-stream JOIN as an explicit stateful operator on
    the Spark 4 ``transformWithState`` API — ``q_stream_join``'s
    incremental twin (each purchase matched to same-user clicks at most
    ``window`` before it), and the r8 new-capability class: where the
    other tws operators AGGREGATE per key, this one maintains BOTH join
    buffers as typed ListStates and emits the join product itself.

    Why build it when ``join_streams`` (the native watermarked
    stream-stream join) exists: the native join's buffer retention and
    emission policy are fixed by Catalyst; the explicit form is the
    extension point for join semantics Spark cannot express — per-pair
    dedup keys, top-1-match joins, join-and-fold outputs — while this
    baseline stays differential-testable against both the native join
    and the batch interval join.  State per user key is bounded by
    ``window + watermark`` of clicks and ``watermark`` of purchases
    (interval_join_fold's pruning, slack = the watermark delay), so the
    operator runs forever on an unbounded stream.

    Emission is Append-mode join rows; pair-uniqueness holds across any
    micro-batch interleaving the watermark admits (probe-then-insert
    fold order — see interval_join_fold).  ``idle_ttl`` (processing
    time) additionally evicts whole silent keys via a re-armed per-key
    timer; time-pruning inside the fold already bounds live keys'
    state, so the TTL only reclaims abandoned keys (lossless once
    ``idle_ttl >= window + watermark``, same argument as attribution).

    At scale: RocksDB list state (``ROCKSDB_STATE_CONF``); the shuffle
    is one hash partitioning of the event stream by user_id — identical
    to the batch join's equi-join shuffle, amortized across the
    stream's lifetime.  Runtime gate as the other tws operators: the
    Python workers need ``google.protobuf``; plan construction is
    dependency-free."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    window_ms = _duration_ms(window)
    slack_ms = _duration_ms(watermark)
    ttl_ms = _duration_ms(idle_ttl) if idle_ttl is not None else None

    class _IntervalJoin(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            self._clicks = handle.getListState(
                "clicks", "click_id bigint, ts timestamp"
            )
            self._purchases = handle.getListState(
                "purchases", "purchase_id bigint, ts timestamp, value double"
            )

        def handleInputRows(self, key, rows, timerValues):
            clicks = list(self._clicks.get()) if self._clicks.exists() else []
            purchases = (
                list(self._purchases.get()) if self._purchases.exists() else []
            )
            pdfs = list(rows)
            batch = pd.concat(pdfs) if pdfs else pd.DataFrame()
            rows_in = (
                list(
                    zip(
                        batch["event_id"],
                        batch["ts"],
                        batch["event_type"],
                        batch["value"],
                    )
                )
                if len(batch)
                else []
            )  # interval_join_fold imposes the probe-then-insert order
            # NULL user key (r10 review): the batch twin is an INNER
            # equi-join on user_id and a NULL never equi-joins — the
            # null-keyed group emits nothing and buffers nothing
            # (int(None) would otherwise kill the whole query)
            if key[0] is None:
                self._clicks.clear()
                self._purchases.clear()
                return
            out, clicks, purchases = interval_join_fold(
                int(key[0]), clicks, purchases, rows_in, window_ms, slack_ms
            )
            if clicks:
                self._clicks.put(clicks)
            else:
                self._clicks.clear()
            if purchases:
                self._purchases.put(purchases)
            else:
                self._purchases.clear()
            if ttl_ms is not None:
                for t in self._handle.listTimers():
                    self._handle.deleteTimer(t)
                self._handle.registerTimer(
                    timerValues.getCurrentProcessingTimeInMs() + ttl_ms
                )
            if out:
                yield pd.DataFrame(
                    out,
                    columns=[
                        "user_id", "click_id", "click_ts",
                        "purchase_id", "purchase_ts", "purchase_value",
                    ],
                )

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            # idle eviction cleans BOTH buffers atomically — the
            # multi-state cleanup shape timers exist for
            self._clicks.clear()
            self._purchases.clear()
            return iter(())

        def close(self) -> None:
            pass

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_IntervalJoin(),
            outputStructType=(
                "user_id bigint, click_id bigint, click_ts timestamp, "
                "purchase_id bigint, purchase_ts timestamp, "
                "purchase_value double"
            ),
            outputMode="Append",
            timeMode="ProcessingTime" if ttl_ms is not None else "None",
        )
    )


def mg_fold(counts, items, k):
    """Misra-Gries transition function of the sharded streaming
    heavy-hitters operator (``heavy_hitters_tws_stream``), factored out
    for protobuf-free unit testing (the attribution_fold pattern).

    Given the carried counter map (at most ``k`` entries) and one
    micro-batch of this shard's items, return the updated map.  The MG
    update: increment a tracked item; start tracking an untracked item
    while capacity remains; otherwise decrement EVERY counter by one
    (conceptually cancelling k+1 distinct items against each other) and
    drop zeros.  Guarantees, per shard: every tracked count is a LOWER
    bound on the item's true shard count, undercounted by at most
    (shard stream length)/(k+1) — so any item with true frequency above
    that bound is guaranteed present, and counts are EXACT whenever the
    shard's distinct-item count never exceeds k (no decrement ever
    fires).  Deterministic: no tie-breaking is needed because the
    decrement touches all counters equally."""
    for it in items:
        if it in counts:
            counts[it] += 1
        elif len(counts) < k:
            counts[it] = 1
        else:
            for key in list(counts):
                counts[key] -= 1
                if counts[key] == 0:
                    del counts[key]
    return counts


def heavy_hitters_tws_stream(
    items: DataFrame,
    col: str = "token",
    k: int = 64,
    n_shards: int = 32,
) -> DataFrame:
    """Streaming heavy hitters: q_heavy_hitters' incremental twin on
    ``transformWithState`` with typed MAP STATE — the r8 new state
    primitive (the other tws operators carry ListState; a frequency
    sketch is the canonical map-shaped state).

    Sharding IS the correctness architecture: items group by
    ``pmod(hash(item), n_shards)``, so every occurrence of a given item
    lands in the SAME shard and the per-shard Misra-Gries guarantee
    (``mg_fold``) applies to the item's FULL stream frequency — shard
    parallelism without sketch-merge error, unlike sketch-per-partition
    designs that must merge lossy summaries.  Each micro-batch a shard
    emits its current tracked (item, cnt_lower) set (Update mode, ≤ k
    rows per shard); the batch-twin threshold filter (count ≥ N·θ) is a
    stateless downstream consumer, exactly as the batch operator's
    exact-count second pass is.

    State is the MapState itself — ≤ k entries per shard regardless of
    stream length or vocabulary size, the O(1/θ)-space bound that makes
    vocabulary-head monitoring runnable forever on an unbounded token
    stream.  The sketch is order-insensitive and aggregates over ALL
    time, so it declares no watermark and its output carries no
    event-time column; a pipeline that wants windowed heavy hitters
    should window BEFORE this operator (feed it one windowed slice) or
    use the windowed aggregate family instead.

    Runtime gate as the other tws operators: the Python workers need
    ``google.protobuf``; plan construction is dependency-free and
    ``mg_fold`` carries the transition semantics under test."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _HeavyHitters(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._counts = handle.getMapState("counts", "item string", "cnt bigint")

        def handleInputRows(self, key, rows, timerValues):
            counts = (
                {it[0]: c[0] for it, c in self._counts.iterator()}
                if self._counts.exists()
                else {}
            )
            pdfs = list(rows)
            batch = pd.concat(pdfs) if pdfs else pd.DataFrame()
            items = batch["item"].tolist() if len(batch) else []
            before = dict(counts)
            counts = mg_fold(counts, items, k)
            # reconcile the MapState against the folded dict: update
            # changed keys, remove evicted ones (cheaper than clear+
            # rewrite for the common small-delta batch)
            for it, c in counts.items():
                if before.get(it) != c:
                    self._counts.updateValue((it,), (c,))
            for it in before:
                if it not in counts:
                    self._counts.removeKey((it,))
            if counts:
                yield pd.DataFrame(
                    {
                        "shard": [int(key[0])] * len(counts),
                        "item": list(counts),
                        "cnt_lower": list(counts.values()),
                    }
                )

        def close(self) -> None:
            pass

    keyed = items.select(
        F.pmod(F.xxhash64(F.col(col)), F.lit(n_shards)).alias("shard"),
        F.col(col).alias("item"),
    )
    return keyed.groupBy("shard").transformWithStateInPandas(
        statefulProcessor=_HeavyHitters(),
        outputStructType="shard bigint, item string, cnt_lower bigint",
        outputMode="Update",
        timeMode="None",
    )
