"""Training-set assembly operators (round 8): deterministic train/val/
test splitting and target-proportion dataset mixing.

Both are the last mile of every training-data pipeline — after dedup,
filtering and sampling, the corpus must be (a) partitioned into
leakage-proof splits and (b) re-weighted to a target source/language
mixture — and both must be DETERMINISTIC functions of content identity,
not of ``rand()``: a task retry, an engine swap, or an incremental
re-run over an appended corpus must never move a document between
splits (that IS train/test leakage) or change the mixture's
composition.  The idiom is the engine's content-hash bucket
(q_sample_hash, operators/skew.py): ``sha2(doc_id)`` first 8 hex
digits → int bucket / hash rank.

Scale shapes:

- ``q_train_test_split`` is scan → project → 3-group hash aggregate;
  the split assignment never shuffles (pure projection), so at 100 TB
  the only cost is the partial-combined stats rollup.  The WRITE side
  of a real split is ``write_versioned(..., partition_by=['split'])``
  — already covered by the sink family.
- ``q_dataset_mixture`` ranks per language (window over |langs|
  bounded partitions — the shuffle is one hash partitioning by lang)
  and joins a broadcast (lang, take_n) dim built from a 5-row
  aggregate; selection is a rank-filter, so the plan is
  WindowGroupLimit-shaped, not a sort of the corpus.  Skew honesty:
  the per-language window funnels the dominant language into one task
  — fine to tens of GB per language, the serial bottleneck beyond.
  The 100 TB mitigation keeps the same CONTRACT (select the take_n
  hash-smallest per language) but finds the take_n-th hash threshold
  by bucketed rank counting (partition the hash space, count per
  (lang, bucket), prefix-sum to locate the threshold bucket, sort only
  inside it) and then assigns ranks with a partitioned window over the
  selected ~take_n rows — the generic distributed quantile-selection
  rewrite, worth its extra pass only when a single language outgrows a
  task.

Reference parity: the reference has no sampling/splitting surface
(SURVEY §2A); declared engine surface per §2B.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..registry import register
from .sampling import hash_bucket

_TRAIN_PCT = 80  # buckets [0, 80) → train
_VAL_PCT = 10  # buckets [80, 90) → val; rest → test

# target document counts per language for the mixture (integer targets,
# not float shares — no floor(share*budget) float edge to reason about)
_MIX_TARGETS: dict[str, int] = {"en": 120, "de": 45, "es": 45, "fr": 45, "zh": 45}


@register(
    "q_train_test_split",
    oracle=f"""
    WITH assigned AS (
      SELECT doc_id, lang, n_chars,
             CASE WHEN bucket < {_TRAIN_PCT} THEN 'train'
                  WHEN bucket < {_TRAIN_PCT + _VAL_PCT} THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT doc_id, lang, n_chars,
               CAST(concat('0x', substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 100 AS bucket
        FROM documents))
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
    FROM assigned GROUP BY split
    """,
    tags=("llm", "sampling", "etl"),
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test assignment by content-hash bucket,
    reduced to per-split composition stats (doc count, char mass,
    language coverage) — the audit a split job emits alongside its
    partitioned write.

    Content-keyed assignment is the leakage guarantee: a document's
    split is a pure function of its id, stable under retries, engine
    swaps, and corpus appends (new docs land in splits; old docs never
    move)."""
    d = load_table(spark, sf_dir, "documents")
    bucket = hash_bucket(F.col("doc_id"), 100).cast("int")
    split = (
        F.when(bucket < _TRAIN_PCT, "train")
        .when(bucket < _TRAIN_PCT + _VAL_PCT, "val")
        .otherwise("test")
    )
    return (
        d.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.count_distinct("lang").alias("n_langs"),
        )
    )


@register(
    "q_dataset_mixture",
    oracle=f"""
    WITH targets(lang, target_n) AS (
      VALUES {", ".join(f"('{lang}', {n})" for lang, n in _MIX_TARGETS.items())}),
    avail AS (SELECT lang, COUNT(*) AS avail_n FROM documents GROUP BY lang),
    take AS (
      SELECT t.lang, LEAST(a.avail_n, t.target_n) AS take_n
      FROM targets t JOIN avail a ON t.lang = a.lang),
    ranked AS (
      SELECT doc_id, lang,
             CAST(row_number() OVER (
               PARTITION BY lang
               ORDER BY sha256(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rk
      FROM documents)
    SELECT r.doc_id, r.lang, r.rk
    FROM ranked r JOIN take t ON r.lang = t.lang
    WHERE r.rk <= t.take_n
    """,
    tags=("llm", "sampling"),
)
def q_dataset_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Select documents to hit a target per-language mixture (en-heavy
    120/45/45/45/45), capped at availability — the re-weighting step
    that turns a crawl-shaped corpus into a training-shaped one.

    Selection is hash-rank per language: the chosen subset is a
    deterministic function of content ids, so an incremental re-run
    keeps prior picks and the mixture report is reproducible
    bit-for-bit.  (Availability caps mean under-represented languages
    take everything they have — the honest behavior; upsampling by
    repetition is a dataloader concern, not a corpus one.)"""
    d = load_table(spark, sf_dir, "documents")
    targets = spark.createDataFrame(
        list(_MIX_TARGETS.items()), "lang string, target_n int"
    )
    take = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("avail_n"))
        .join(F.broadcast(targets), "lang")
        .select("lang", F.least("avail_n", "target_n").alias("take_n"))
    )
    w = Window.partitionBy("lang").orderBy(
        F.sha2(F.col("doc_id").cast("string"), 256), F.col("doc_id")
    )
    ranked = d.select(
        "doc_id", "lang", F.row_number().over(w).cast("int").alias("rk")
    )
    return ranked.join(F.broadcast(take), "lang").where(
        F.col("rk") <= F.col("take_n")
    ).select("doc_id", "lang", "rk")
