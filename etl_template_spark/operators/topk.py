"""Top-k operators.

Per-group top-k: rank window + filter — one shuffle on the group key;
Spark's window TopK optimization (rank-limit pushdown) keeps per-group
state at k rows.  Order keys must form a total order (callers append a
unique tiebreaker) so results are deterministic across engines and runs.

Global top-k: ``orderBy().limit(k)`` — Spark plans TakeOrderedAndProject,
a per-partition k-heap + driver merge: no global sort, no full shuffle;
exactly the plan you want at 100 TB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def salted_block_join(
    left: DataFrame,
    right: DataFrame,
    block_col: str | Sequence[str],
    right_salt_col: str,
    n_salts: int = 8,
    keep_salt: bool = False,
) -> DataFrame:
    """Equi-join ``left`` × ``right`` on ``block_col`` (one column or a
    list — multi-column block keys join on the columns directly, which
    keeps SQL-standard NULL semantics and avoids concat-key ambiguity)
    with the right side split into ``n_salts`` deterministic sub-blocks
    (xxhash64 of ``right_salt_col`` — no RNG, stable across
    runs/engines) and the left side replicated to every sub-block.

    Row-identical to ``left.join(right, block_col)``: every right row
    lives in exactly one sub-block, and every left row meets every
    sub-block once.  What changes is the PLAN — per-task candidate
    volume for a block drops from |left∩block|·|block| to
    |left∩block|·|block|/n_salts, so one hot block key (a giant label,
    LSH bucket, or IVF cell) can no longer serialize into a single
    quadratic partition, and AQE can split the residue further.
    Replication costs n_salts× the left rows; callers with a huge left
    side should bound their blocks (LSH/IVF cells) instead.

    ``keep_salt=True`` retains the ``_salt`` column for callers that
    need per-sub-block post-processing (e.g. the partial top-k window
    in :func:`knn_join_blocked`).
    """
    blocks = [block_col] if isinstance(block_col, str) else list(block_col)
    salt = F.pmod(F.xxhash64(F.col(right_salt_col)), F.lit(n_salts)).cast("int")
    right_s = right.withColumn("_salt", salt)
    left_s = left.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    joined = left_s.join(right_s, [*blocks, "_salt"])
    return joined if keep_salt else joined.drop("_salt")


def knn_join_blocked(
    probes: DataFrame,
    corpus: DataFrame,
    block_col: str,
    probe_id_cols: Sequence[str],
    corpus_id_col: str,
    score: Column,
    k: int,
    score_name: str = "score",
    pair_filter: Column | None = None,
    n_salts: int = 8,
    rank_col: str = "rnk",
) -> DataFrame:
    """Top-k corpus neighbors per probe within its block — with the
    block fanout CAPPED by salting, so one hot block key cannot
    serialize into a quadratic single partition.

    Un-salted blocked k-NN joins probe×corpus on ``block_col`` and ranks
    per probe: per-partition work is O(|probes∩block|·|block|), so a
    skewed block (one giant label / LSH bucket) lands whole on one task.
    Here the corpus side of each block is split into ``n_salts``
    deterministic sub-blocks (hash of the corpus id — no RNG, stable
    across runs/engines) and probes replicate to every sub-block:

    1. equi-join on (block, salt)  — each task sees ≤ |block|/n_salts
       candidates per block, and AQE can still split further;
    2. per-(probe, salt) top-k     — WindowGroupLimit keeps state at k;
    3. re-merge: top-k per probe over the n_salts·k survivors.

    Result is IDENTICAL to the un-salted join (the global top-k is a
    subset of the per-salt top-ks; each candidate lives in exactly one
    sub-block) — only the parallelism changes.  Probe replication costs
    n_salts× the probe rows, the right trade when probes ≪ corpus;
    callers with huge probe sides should route through bounded blocks
    (LSH/IVF cells) instead.  ``score`` / ``pair_filter`` are Column
    expressions over the joined frame's columns.
    """
    pairs = salted_block_join(
        probes, corpus, block_col, corpus_id_col, n_salts, keep_salt=True
    )
    if pair_filter is not None:
        pairs = pairs.where(pair_filter)
    scored = pairs.withColumn(score_name, score)
    order = [F.col(score_name).desc(), F.col(corpus_id_col)]
    w_partial = Window.partitionBy(*probe_id_cols, "_salt").orderBy(*order)
    survivors = (
        scored.withColumn(rank_col, F.row_number().over(w_partial))
        .where(F.col(rank_col) <= k)
        .drop(rank_col, "_salt")
    )
    w_final = Window.partitionBy(*probe_id_cols).orderBy(*order)
    return survivors.withColumn(rank_col, F.row_number().over(w_final)).where(
        F.col(rank_col) <= k
    )


def top_k_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[Column],
    k: int,
    rank_col: str = "rnk",
) -> DataFrame:
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .where(F.col(rank_col) <= k)
    )
