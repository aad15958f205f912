"""Round-4 surface extensions (SURVEY.md §2B, "extensions" block):
aggregate argmin/argmax + mode + conditional families, data profiling
(fixed-bin histograms), sequence mining (event transitions), and three
training-data curation operators (keep-best dedup, held-out
contamination check, n-gram novelty).

Registered LAST so the never-recorded queries ahead of them keep their
slots in the bounded correctness window (see __spark_entry__).

Determinism discipline (same as the rest of the inventory): no float
sums — counts, min/max, and ratio-of-counts only; every arg-extremum
and mode carries an explicit total-order tiebreak; sampling/splitting
is content-hash based, never rand().

Shingling plan note: q_contamination_check's and q_ngram_novelty's
plan changed through operators/dedup.shingles_col, which now shingles
with one codegen'd ``regexp_extract_all`` instead of an interpreted
``transform`` lambda.  The module-source stamp cannot see that; this
note invalidates it so the query re-records.  The shingles are
unchanged (tests/test_operators.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.dedup import shingles_col
from ..registry import register

# ---------------------------------------------------------------------------
# aggregate families
# ---------------------------------------------------------------------------


@register(
    "q_agg_mode",
    oracle="""
    WITH counted AS (
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
      FROM orders GROUP BY 1, 2),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                   ORDER BY n DESC, o_orderpriority) AS rnk
      FROM counted)
    SELECT o_orderstatus, o_orderpriority AS mode_priority, n AS n_orders
    FROM ranked WHERE rnk = 1
    ORDER BY o_orderstatus
    """,
    tags=("agg", "extensions"),
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent value per group (mode) with a DETERMINISTIC
    tiebreak — the built-in ``mode()`` in both engines picks an
    arbitrary winner on ties, which is a cross-engine (and cross-run)
    correctness bug, so the contract formulation is count + rank with
    (count DESC, value ASC) total order.  Two partial-agg'd hash
    aggregates + a rank over the tiny counted frame — scale-safe for
    any group/value cardinality."""
    o = load_table(spark, sf_dir, "orders")
    counted = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("n").desc(), F.col("o_orderpriority")
    )
    return (
        counted.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("n").alias("n_orders"),
        )
    )


@register(
    "q_agg_minmax_by",
    oracle="""
    WITH best AS (
      SELECT o_orderstatus, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_totalprice DESC, o_orderkey DESC) AS rb,
             ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_totalprice ASC, o_orderkey ASC) AS rw
      FROM orders)
    SELECT b.o_orderstatus AS o_orderstatus,
           b.o_orderkey  AS best_orderkey,  b.o_totalprice AS best_price,
           w.o_orderkey  AS worst_orderkey, w.o_totalprice AS worst_price
    FROM best b JOIN best w
      ON b.o_orderstatus = w.o_orderstatus AND b.rb = 1 AND w.rw = 1
    ORDER BY b.o_orderstatus
    """,
    tags=("agg", "extensions"),
)
def q_agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-extremum per group (max_by / min_by): which order carries
    the highest / lowest price per status.  Engine side uses
    ``max(struct(price, key))`` / ``min(struct(price, key))`` — structs
    order lexicographically, so the extremum embeds its own (price,
    key) tiebreak and the whole thing is ONE partial-agg'd hash
    aggregate, no sort, no window: the argmax shape that survives any
    group size.  (The built-in ``max_by`` is nondeterministic on value
    ties — same contract decision as q_agg_mode.)  The SQL oracle
    states the identical total order via ranked windows."""
    o = load_table(spark, sf_dir, "orders")
    best = F.max(F.struct(F.col("o_totalprice").alias("p"), F.col("o_orderkey").alias("k")))
    worst = F.min(F.struct(F.col("o_totalprice").alias("p"), F.col("o_orderkey").alias("k")))
    return (
        o.groupBy("o_orderstatus")
        .agg(best.alias("b"), worst.alias("w"))
        .select(
            "o_orderstatus",
            F.col("b.k").alias("best_orderkey"),
            F.col("b.p").alias("best_price"),
            F.col("w.k").alias("worst_orderkey"),
            F.col("w.p").alias("worst_price"),
        )
    )


@register(
    "q_agg_cond_count",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*)                                              AS n_orders,
           COUNT(*) FILTER (WHERE o_totalprice > 200000)         AS n_large,
           COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT')  AS n_urgent,
           bool_and(o_totalprice > 0)                            AS all_positive,
           bool_or(o_totalprice > 400000)                        AS any_huge
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("agg", "extensions"),
)
def q_agg_cond_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-aggregate family: count_if / bool_and / bool_or per
    group — the predicates fold into the ONE partial aggregate pass
    (CASE inside the agg), never a per-predicate scan.  Counts and
    booleans only: bit-exact across engines by construction."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count_if(F.col("o_totalprice") > 200000).alias("n_large"),
            F.count_if(F.col("o_orderpriority") == "1-URGENT").alias("n_urgent"),
            F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
            F.bool_or(F.col("o_totalprice") > 400000).alias("any_huge"),
        )
    )


@register(
    "q_histogram",
    oracle="""
    SELECT l_returnflag,
           CAST(least(7, CAST(floor(l_extendedprice / 15000) AS BIGINT)) AS INT)
             AS bin,
           COUNT(*)            AS n_items,
           min(l_extendedprice) AS min_price,
           max(l_extendedprice) AS max_price
    FROM lineitem
    GROUP BY 1, 2
    ORDER BY l_returnflag, bin
    """,
    tags=("agg", "profiling", "extensions"),
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width binned histogram per group (data profiling): bin id
    is pure arithmetic (floor(x / width), clamped to the last bucket),
    so the whole histogram is one partial-agg'd hash aggregate over the
    scan — the profile-100-TB-in-one-pass shape.  Counts and exact
    min/max only; no float summation."""
    li = load_table(spark, sf_dir, "lineitem")
    bin_col = F.least(
        F.lit(7), F.floor(F.col("l_extendedprice") / 15000).cast("bigint")
    ).cast("int")
    return (
        li.groupBy("l_returnflag", bin_col.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
        )
    )


# ---------------------------------------------------------------------------
# sequence mining
# ---------------------------------------------------------------------------


@register(
    "q_events_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events)
    SELECT prev_type, event_type AS next_type, COUNT(*) AS n_transitions
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
    ORDER BY n_transitions DESC, prev_type, next_type
    LIMIT 10
    """,
    tags=("events", "extensions"),
)
def q_events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-transition mining (first-order Markov counts): per user,
    consecutive event pairs under the (ts, event_id) total order, then
    a global pair count and top-10.  One shuffle on user_id for the lag
    window, one partial-agg'd count, TakeOrderedAndProject for the
    top-k — co-partitioned with every other per-user analysis."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    return (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
        .orderBy(F.col("n_transitions").desc(), "prev_type", "next_type")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# training-data curation
# ---------------------------------------------------------------------------


@register(
    "q_dedup_keep_best",
    oracle="""
    WITH hashed AS (
      SELECT doc_id, lang, source, n_chars, sha256(text) AS h
      FROM documents),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY h
                                ORDER BY n_chars DESC, doc_id) AS rnk,
             COUNT(*) OVER (PARTITION BY h) AS n_copies
      FROM hashed)
    SELECT doc_id, lang, source, n_chars, CAST(n_copies AS BIGINT) AS n_copies
    FROM ranked WHERE rnk = 1
    ORDER BY doc_id
    """,
    tags=("llm", "dedup", "extensions"),
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-BEST dedup: one survivor per exact content hash, chosen by
    quality rather than min-id — (n_chars DESC, doc_id ASC), the
    longest copy wins deterministically.  Same single content-hash
    window shuffle as q_corpus_curation; the quality key generalizes to
    any scoring column.  This is the curation policy real pipelines
    want when duplicates differ in truncation/extraction quality."""
    d = load_table(spark, sf_dir, "documents")
    hashed = d.select(
        "doc_id", "lang", "source", "n_chars", F.sha2("text", 256).alias("h")
    )
    w = Window.partitionBy("h").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    wc = Window.partitionBy("h")
    return (
        hashed.withColumn("rnk", F.row_number().over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(wc))
        .where(F.col("rnk") == 1)
        .select("doc_id", "lang", "source", "n_chars", "n_copies")
    )


_EVAL_MOD = 37  # deterministic held-out split: doc_id % 37 == 0

_SHINGLES5_SQL = """
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(string_split(text,' ')) - 3),
                      i -> array_to_string((string_split(text,' '))[i:i+4], ' '))) AS s
        FROM documents)
"""  # k=5: range(1, n-3) → i ∈ [1, n-4]; toks[i:i+4] is the 5-token slice


@register(
    "q_contamination_check",
    oracle=f"""
    WITH sh AS ({_SHINGLES5_SQL}),
    eval_sh AS (SELECT * FROM sh WHERE doc_id % {_EVAL_MOD} = 0),
    train_sh AS (SELECT * FROM sh WHERE doc_id % {_EVAL_MOD} <> 0)
    SELECT t.doc_id,
           COUNT(DISTINCT t.s)      AS n_shared_grams,
           COUNT(DISTINCT e.doc_id) AS n_eval_docs
    FROM train_sh t JOIN eval_sh e ON t.s = e.s
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
    tags=("llm", "curation", "extensions"),
)
def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination audit: which TRAINING documents share a
    5-gram with the held-out EVAL split (doc_id % 37 == 0 — a
    deterministic stand-in for a real benchmark set).  Inverted-index
    equi-join on the shingle — the train side never pairs with itself,
    the eval side is the small build side (AQE broadcasts it when it
    fits), and per-doc overlap stats come from one distinct-agg.  The
    decontamination step every serious pretraining pipeline runs; at
    100 TB the eval shingle set is a broadcast (benchmarks are tiny
    relative to the corpus)."""
    d = load_table(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id", F.explode(shingles_col("text", 5)).alias("s")
    ).distinct()
    is_eval = F.col("doc_id") % _EVAL_MOD == 0
    eval_sh = sh.where(is_eval).select(F.col("doc_id").alias("eval_id"), "s")
    train_sh = sh.where(~is_eval)
    return (
        train_sh.join(eval_sh, "s")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("s").alias("n_shared_grams"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
        )
    )


@register(
    "q_ngram_novelty",
    oracle="""
    WITH sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(string_split(text,' ')) - 1),
                      i -> array_to_string((string_split(text,' '))[i:i+2], ' '))) AS s
        FROM documents)),
    df AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s)
    SELECT sh.doc_id,
           COUNT(*)                            AS n_grams,
           COUNT(*) FILTER (WHERE df.df = 1)   AS n_unique,
           round(CAST(COUNT(*) FILTER (WHERE df.df = 1) AS DOUBLE)
                 / COUNT(*), 6)                AS novelty
    FROM sh JOIN df ON sh.s = df.s
    GROUP BY sh.doc_id
    ORDER BY sh.doc_id
    """,
    tags=("llm", "curation", "extensions"),
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's distinct
    3-grams that appear NOWHERE else in the corpus — high novelty =
    fresh content, low novelty = boilerplate/templated text (a
    Gopher-style curation signal complementary to q_token_type_ratio's
    within-doc repetition).  Document-frequency is one partial-agg'd
    hash aggregate over the exploded shingles; the df table joins back
    on the shingle (equi-join, AQE skew-splittable for stopword-like
    grams) and per-doc ratios are a count-only aggregate — no float
    sums anywhere."""
    d = load_table(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id", F.explode(shingles_col("text", 3)).alias("s")
    ).distinct()
    df = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    joined = sh.join(df, "s")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count_if(F.col("df") == 1).alias("n_unique"),
            F.round(
                F.count_if(F.col("df") == 1).cast("double") / F.count(F.lit(1)), 6
            ).alias("novelty"),
        )
    )
