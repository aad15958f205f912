"""Deterministic corpus shuffle + interleave (round 7): the training-
order stage between sequence packing (q_pack_sequences) and the trainer.

A training run needs the curated corpus in a SHUFFLED, SHARDED order:
no source clumping (a shard of consecutive boilerplate web poisons the
gradient), reproducible across reruns and cluster sizes (elastic
training restarts mid-epoch), and addressable by shard (data loaders
pull shard files, not a global stream).  The engine's primitive is the
one production LLM pipelines use at this stage: assign every row a
seeded content hash ``u = h(seed, doc_id)``, range-sort the corpus by
it, and cut the sorted order into contiguous shards.

Why this IS the interleave: within each source, ``u`` is uniform over
the hash range, so sorting globally by ``u`` (a) realizes a seeded
permutation of each source's rows, and (b) spreads every source through
the global order at a rate proportional to its row count — proportional
interleaving without any per-source rank window.  That matters at
100 TB: the alternative (stride scheduling off a per-source
``row_number``) partitions a window by SOURCE, and a 10-source corpus
would grind through ten 10 TB window partitions.  The hash-sort
formulation is one range exchange with arbitrarily fine partitioning —
Spark's range partitioner samples ``u``, every executor sorts a slice,
and AQE balances the slices.  Weighted mixture construction (which
sources, how much) is deliberately upstream: q_sample_weighted /
q_sample_budget decide WHAT is in the corpus; this stage decides only
the ORDER.

Determinism discipline (the q_sample_hash standard): the shuffle key is
sha2-derived from (seed, doc_id) — identical on every engine, retry,
and cluster size; epoch reshuffles are just a new seed.  Shard cut
points are a pure bit shift of the key (integer-exact in both engines),
NOT row-count quantiles, so a row's shard never depends on other rows —
append-only ingest keeps prior shard assignments stable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..registry import register
from .sampling import hash_rank_key

_SEED = 42       # epoch seed: reshuffling an epoch = bumping this
_SHARDS = 8      # contiguous output shards (thousands in production)
_HASH_SPAN = 1 << 32  # shuffle keys are 32-bit (sampling.hash_rank_key)


def shuffle_key(seed: int, col: Column) -> Column:
    """Seeded 32-bit shuffle key for a row: first 8 hex chars of
    sha256(seed ':' key) as bigint — the q_sample_hash formula with the
    seed prefixed, so distinct seeds give independent permutations."""
    return hash_rank_key(F.concat(F.lit(f"{seed}:"), col.cast("string")))


def _shuffle_sql(seed: int, key: str = "doc_id") -> str:
    return (
        f"CAST(concat('0x', substr(sha256(concat('{seed}:', "
        f"CAST({key} AS VARCHAR))), 1, 8)) AS BIGINT)"
    )


def shuffle_interleave(
    d: DataFrame,
    key: str = "doc_id",
    seed: int = _SEED,
    n_shards: int = _SHARDS,
) -> DataFrame:
    """Library form: append ``shuffle_key`` (the global training order —
    ascending key = the epoch's row sequence), ``shard`` (contiguous cut
    of that order, a bit shift of the key), and ``shard_pos`` (1-based
    position within the shard).  The frame comes back range-sorted by
    the global order, ready for a partitioned write (one file per
    shard = the data-loader contract).

    The only shuffle is the range exchange backing the sort; the
    shard_pos window partitions by SHARD (bounded: corpus/n_shards rows,
    file-sized in production where n_shards is thousands), never by
    source."""
    u = shuffle_key(seed, F.col(key))
    # contiguous range shards: shard = u * S / 2^32 as a pure bit shift
    # (integer-exact; a double division's rounding could misplace a row
    # at a shard boundary)
    shard = F.shiftright(u * n_shards, 32).cast("int")
    w = Window.partitionBy("shard").orderBy("shuffle_key", key)
    return (
        d.withColumn("shuffle_key", u)
        .withColumn("shard", shard)
        .withColumn("shard_pos", F.row_number().over(w).cast("int"))
        .orderBy("shuffle_key", key)
    )


@register(
    "q_shuffle_interleave",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, source,
             {_shuffle_sql(_SEED)} AS shuffle_key
      FROM documents),
    s AS (
      SELECT doc_id, source, shuffle_key,
             CAST((shuffle_key * {_SHARDS}) >> 32 AS INT) AS shard
      FROM h)
    SELECT doc_id, source, shuffle_key, shard,
           CAST(row_number() OVER (
                  PARTITION BY shard ORDER BY shuffle_key, doc_id)
                AS INT) AS shard_pos
    FROM s
    ORDER BY shuffle_key, doc_id
    """,
    tags=("etl", "llm", "training", "sampling"),
)
def q_shuffle_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle of the document corpus:
    seeded 32-bit content hash as the global sort key, cut into 8
    contiguous shards with within-shard positions.  Sorting by the key
    interleaves every source proportionally to its size (per-source
    uniformity of the hash) while realizing a seeded permutation within
    each source — no source clumping, no per-source rank window.

    Plan shape, and why it holds at 100 TB: one projection (the sha2
    key, JVM-side) + one range sort (the exchange Spark already does
    for any global order, with sampled balanced bounds) + one window
    partitioned by SHARD — bounded at corpus/n_shards rows per
    partition, and n_shards scales with the corpus (thousands of
    file-sized shards in production).  Shard assignment is a bit shift
    of the key, so it is stable under append-only ingest and never
    waits on a row-count quantile of the full corpus.  The oracle
    restates key, shard cut, and positions verbatim; ties (32-bit hash
    collisions) are totally ordered by doc_id on both sides."""
    d = load_table(spark, sf_dir, "documents")
    return shuffle_interleave(
        d.select("doc_id", "source"), key="doc_id", seed=_SEED, n_shards=_SHARDS
    )
