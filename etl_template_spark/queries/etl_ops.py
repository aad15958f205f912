"""ETL merge / changelog operators: the mutation-shaped half of an ETL
engine, expressed as pure relational plans.

The reference's pipeline loop rewrites records one at a time
(/root/reference/tools/tools.go:676-806); the batch-engine equivalents
of its update-in-place semantics are these four shapes:

- q_win_dedup     — keep the latest record per key (changelog compaction,
                    the ingest step of every CDC pipeline).
- q_merge_upsert  — MERGE INTO as a full-outer join + coalesce
                    (insert / update / keep classification).
- q_scd2          — slowly-changing-dimension type 2: validity
                    intervals per key via lead() over event time.
- q_agg_skew_salted — two-phase salted aggregation (operators/skew.py)
                    proving the skew-safe plan is result-identical to
                    the naive one.

All four are deterministic (unique tiebreakers everywhere) and
SQL-expressible, so each carries a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..compat import dec, dsum_sql
from ..io import load_table
from ..operators.skew import salted_agg
from ..registry import register


@register(
    "q_win_dedup",
    oracle="""
    SELECT user_id, event_type, ts AS latest_ts, event_id, value
    FROM (
      SELECT user_id, event_type, ts, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    WHERE rn = 1
    ORDER BY user_id, event_type
    """,
    tags=("etl", "dedup", "window"),
)
def q_win_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction: the latest record per (user_id, event_type)
    by event time, event_id as the total-order tiebreaker (dropDuplicates
    keeps an ARBITRARY row — unverifiable; rank-1 is deterministic).
    One shuffle on the dedup key; at 100 TB this is the standard
    pre-merge compaction whose key partitioning is then reused by the
    downstream merge shuffle."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id", "event_type", F.col("ts").alias("latest_ts"), "event_id", "value"
        )
    )


@register(
    "q_merge_upsert",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 3 <> 0),
    updates AS (
      SELECT o_orderkey,
             round(o_totalprice * 1.1, 4) AS o_totalprice,
             'U' AS o_orderstatus
      FROM orders WHERE o_orderkey % 2 = 0)
    SELECT
      COALESCE(u.o_orderkey, b.o_orderkey)       AS o_orderkey,
      COALESCE(u.o_totalprice, b.o_totalprice)   AS o_totalprice,
      COALESCE(u.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
      CASE WHEN b.o_orderkey IS NULL THEN 'insert'
           WHEN u.o_orderkey IS NULL THEN 'keep'
           ELSE 'update' END                     AS action
    FROM base b
    FULL OUTER JOIN updates u ON b.o_orderkey = u.o_orderkey
    ORDER BY o_orderkey
    """,
    tags=("etl", "join"),
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO expressed relationally: full-outer join of the target
    snapshot and the update batch on the key, COALESCE preferring the
    update side, plus insert/update/keep classification.  One co-
    partitioned shuffle on the merge key — the exact plan Delta/Iceberg
    MERGE compiles to when the update batch is not broadcastable.  The
    base/update split is derived from orders arithmetically so the
    oracle states the identical contract."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    base = o.where(F.col("o_orderkey") % 3 != 0).alias("b")
    updates = (
        o.where(F.col("o_orderkey") % 2 == 0)
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 1.1, 4).alias("o_totalprice"),
            F.lit("U").alias("o_orderstatus"),
        )
        .alias("u")
    )
    bk, uk = F.col("b.o_orderkey"), F.col("u.o_orderkey")
    return (
        base.join(updates, bk == uk, "full_outer")
        .select(
            F.coalesce(uk, bk).alias("o_orderkey"),
            F.coalesce(F.col("u.o_totalprice"), F.col("b.o_totalprice")).alias(
                "o_totalprice"
            ),
            F.coalesce(F.col("u.o_orderstatus"), F.col("b.o_orderstatus")).alias(
                "o_orderstatus"
            ),
            F.when(bk.isNull(), "insert")
            .when(uk.isNull(), "keep")
            .otherwise("update")
            .alias("action"),
        )
    )


@register(
    "q_scd2",
    oracle="""
    SELECT user_id,
           value      AS segment_value,
           ts         AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id)  AS valid_to,
           CAST(LEAD(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) IS NULL AS INT)
                      AS is_current
    FROM events
    WHERE event_type = 'signup'
    ORDER BY user_id, valid_from
    """,
    tags=("etl", "window"),
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing dimension type 2: each 'signup' event opens a
    validity interval [ts, next_ts) per user; the last interval is open
    (valid_to NULL, is_current 1).  lead() over (ts, event_id) — a total
    order, so intervals are deterministic.  One shuffle on user_id; the
    windowed form never self-joins the history (the naive SCD2 build is
    a range self-join — quadratic per hot key at scale)."""
    e = load_table(spark, sf_dir, "events").where(F.col("event_type") == "signup")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return e.select(
        "user_id",
        F.col("value").alias("segment_value"),
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().cast("int").alias("is_current"),
    )


@register(
    "q_agg_skew_salted",
    oracle=f"""
    SELECT l_returnflag,
           {dsum_sql('l_quantity')} AS total_qty,
           COUNT(*)                 AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("etl", "agg", "skew"),
)
def q_agg_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over a 3-key (maximally hot)
    grouping: phase 1 aggregates on (key, salt) so each hot key fans out
    across 16 reducers, phase 2 re-aggregates the 48 partials on the
    key.  AQE cannot split an aggregation group (unlike a skewed join
    partition), so salting is THE fix when one group overwhelms a
    reducer.  Decimal partials make the two-phase sum exactly equal to
    the one-phase oracle — the plan changes, the result cannot."""
    li = load_table(spark, sf_dir, "lineitem")
    out = salted_agg(
        li.select("l_returnflag", "l_quantity"),
        keys=["l_returnflag"],
        aggs={
            "total_qty": (F.sum(dec("l_quantity")), F.sum("total_qty")),
            "n_rows": (F.count(F.lit(1)), F.sum("n_rows")),
        },
        n_salts=16,
    )
    return out.select(
        "l_returnflag",
        F.col("total_qty").cast("double").alias("total_qty"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
    )


@register(
    "q_sample_hash",
    oracle="""
    WITH bucketed AS (
      SELECT doc_id, lang, source, n_chars,
             CAST(concat('0x', substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 100 AS bucket
      FROM documents)
    SELECT doc_id, lang, source, n_chars, CAST(bucket AS INT) AS bucket
    FROM bucketed
    WHERE bucket < (CASE WHEN lang = 'en' THEN 10 ELSE 50 END)
    ORDER BY doc_id
    """,
    tags=("etl", "llm", "sampling"),
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling: cap the dominant language
    at 10%, keep tail languages at 50% (the corpus-rebalancing step of
    a training-data pipeline).

    Sampling predicate is a pure projection over a content-derived hash
    bucket — ``sha2(doc_id)`` first 8 hex digits → 32-bit int % 100 —
    NOT ``rand()``/``sample()``: the same row is kept on every engine,
    every retry, and every cluster size (task-retry idempotence; see
    operators/skew.py's with_salt for the same discipline), and the
    sample composes with incremental ingest (a re-run over an appended
    corpus keeps the identical prior rows).  No shuffle at all: the
    plan is scan → project → filter, fully pushdown-friendly at 100 TB.
    """
    # local import: sampling registers after this module (registry order)
    from .sampling import hash_bucket

    d = load_table(spark, sf_dir, "documents")
    bucket = hash_bucket(F.col("doc_id"), 100).cast("int")
    rate = F.when(F.col("lang") == "en", 10).otherwise(50)
    return (
        d.select("doc_id", "lang", "source", "n_chars", bucket.alias("bucket"))
        .where(F.col("bucket") < rate)
    )
