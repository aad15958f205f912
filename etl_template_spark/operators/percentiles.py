"""Exact per-group percentiles with bounded memory.

Spark's built-in ``percentile`` aggregate collects every group's values
into an in-memory ObjectHashAggregate buffer that cannot spill: one
giant group = one un-splittable OOM-prone task.  This operator computes
the identical interpolated result through spillable primitives: one
pinned key-hash repartition of the measure columns, then per measure a
``row_number`` over a per-group value sort (``_ranked_window``), pruned
to the <=2 ranks each target percentile can touch, interpolated as
``lo + frac * (hi - lo)`` at 0-based position ``(n-1) * p`` — exactly
DuckDB ``quantile_cont`` / numpy ``linear`` arithmetic, property-tested
to produce identical results.

Limit: sort parallelism per measure equals the number of groups — a
3-group percentile sorts in 3 tasks and a global median in ONE.  Each
task's sort spills, so a large group is slow, not an OOM.
``q_agg_percentile`` (queries/advanced_sql.py) is the oracle-checked
instantiation; the t-digest ``approx_percentile`` remains the path for
unbounded group sizes and estimate-tolerant callers.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..caching import persist_tracked


def _ranked_window(vals: DataFrame, keys: list[str], col: str) -> DataFrame:
    """Per-group ``row_number`` rank + group size via a count window
    riding the same shuffle partitioning (r10 review: no per-group
    driver collection at any cardinality, no degenerate equi-join on
    constant keys).

    NULL measure rows are NOT pre-filtered (r14): a per-column filter
    below the shared key exchange would make each measure column's
    exchange subtree canonically different, defeating exchange reuse
    (measured: 3 full scans+shuffles of lineitem instead of 1 on
    q_agg_percentile).  Instead NULLs sort first (asc default) and the
    rank is shifted down by the group's NULL count, so non-NULL rows
    keep exactly their filtered ranks 1..n while NULL rows land at
    ranks <= 0.  With ``__n`` >= 1 every target rank is >= 1, so a
    NULL row is never selected; with ``__n`` = 0 (all-NULL group) a
    target rank of 0 can select a NULL row, whose NULL value
    reproduces the all-NULL group's NULL result — the interpolation
    arithmetic is unchanged either way (property-tested)."""
    w = Window.partitionBy(*keys).orderBy(F.col(col))
    wp = Window.partitionBy(*keys)
    n_null = F.count(F.lit(1)).over(wp) - F.count(F.col(col)).over(wp)
    return (
        vals
        .withColumn("__rn", F.row_number().over(w) - n_null)
        .withColumn("__n", F.count(F.col(col)).over(wp))
    )


def exact_group_percentiles(
    df: DataFrame,
    key: str | Sequence[str],
    targets: Sequence[tuple[str, str, float]],
) -> DataFrame:
    """One row per group with a column per target.

    ``targets``: (output_alias, measure_column, fraction in [0, 1]).
    Output columns are doubles, un-rounded (callers round at their
    comparison boundary).

    NULL semantics (matching DuckDB ``quantile_cont`` / numpy over
    dropped NaNs): NULL measure values are EXCLUDED — ranked below
    every value and absent from each column's count — so they neither
    shift interpolated positions nor sort first; a group whose measure is
    entirely NULL yields NULL for that column's targets.  Rows with a
    NULL group key are excluded entirely (SQL GROUP BY would keep a
    NULL group; callers needing that should coalesce keys to a
    sentinel first).
    """
    keys = [key] if isinstance(key, str) else list(key)
    df = df.na.drop(subset=keys)
    by_col: dict[str, list[tuple[str, float]]] = {}
    for alias, col, p in targets:
        if not 0.0 <= p <= 1.0:
            raise ValueError(f"percentile fraction out of range: {p}")
        by_col.setdefault(col, []).append((alias, p))

    # r14 (guide §2.4): ONE key-hash repartition of the measure table,
    # PINNED, shared by the group list and EVERY per-column window
    # sort — each window requires hash(keys) distribution and its value
    # sort sits above the cache.  Without the pin the n+1 consumers
    # each re-plan their own scan+shuffle: per-consumer column pruning
    # specializes each repartition subtree, so exchange reuse NEVER
    # fires (verified: 3 full lineitem scans+shuffles in
    # q_agg_percentile's final plan).  Callers free the pin through
    # the engine's per-query ``release_tracked`` discipline.
    base = persist_tracked(df.select(*keys, *by_col).repartition(*keys))
    out = base.select(*keys).distinct()
    for col, col_targets in by_col.items():
        ranked = _ranked_window(base.select(*keys, col), keys, col)
        pos = {
            a: (F.col("__n") - F.lit(1)).cast("double") * F.lit(p)
            for a, p in col_targets
        }
        keep = F.lit(False)
        for a, _ in col_targets:
            lo_rn = F.floor(pos[a]).cast("bigint") + F.lit(1)
            hi_rn = F.ceil(pos[a]).cast("bigint") + F.lit(1)
            keep = keep | (F.col("__rn") == lo_rn) | (F.col("__rn") == hi_rn)
        aggs = []
        for a, _ in col_targets:
            lo_rn = F.floor(pos[a]).cast("bigint") + F.lit(1)
            hi_rn = F.ceil(pos[a]).cast("bigint") + F.lit(1)
            v = F.col(col).cast("double")
            aggs += [
                F.max(F.when(F.col("__rn") == lo_rn, v)).alias(f"__{a}_lo"),
                F.max(F.when(F.col("__rn") == hi_rn, v)).alias(f"__{a}_hi"),
                F.max(pos[a] - F.floor(pos[a])).alias(f"__{a}_frac"),
            ]
        interp = ranked.where(keep).groupBy(*keys).agg(*aggs)
        # left join: a group whose measure is entirely NULL can keep no
        # ranked rows — it stays in the output with NULL targets,
        # matching quantile_cont over an all-NULL group
        out = out.join(
            interp.select(
                *keys,
                *[
                    (
                        F.col(f"__{a}_lo")
                        + F.col(f"__{a}_frac")
                        * (F.col(f"__{a}_hi") - F.col(f"__{a}_lo"))
                    ).alias(a)
                    for a, _ in col_targets
                ],
            ),
            keys,
            "left",
        )
    return out.select(*keys, *[a for a, _, _ in targets])
