"""q_pagerank — bounded-iteration PageRank as a registered, oracle-backed
query (r7 VERDICT directive #2; operator built + unit-tested in r7 at
operators/graph.py).

Fixture graph: the part→supplier bipartite digraph from lineitem —
``2*l_partkey → 2*l_suppkey + 1`` (parity encoding keeps the two key
spaces disjoint; both are bigints).  Parallel edges collapse (the
operator's documented simple-graph semantics: ``pagerank`` is the
distinct-edge call of ``pagerank_weighted``, the package's one PageRank
loop, so every surviving edge carries weight 1), suppliers have no
out-edges, so the ENTIRE supplier side is dangling — every iteration
exercises the uniform dangling-mass redistribution, not just the happy
path.  At sf0.01 that is ~52k distinct edges over ~2.1k nodes; at
sf0.1, ~500k edges over ~21k nodes — each iteration is one equi-join
plus one hash aggregate plus a 1-row broadcast, so the round cost is
linear in edges at any scale (the textbook MapReduce PageRank, declared
in DataFrames; see operators/graph.py for the scale argument).

Oracle: the SAME fixed ``ITERS`` rounds restated as an UNROLLED CTE
chain (r0 → r1 → … → r6).  Unrolling instead of a recursive CTE is
deliberate: the per-round dangling-mass aggregate over the previous
round's ranks is exactly the aggregation-over-the-recursive-term that
SQL recursion forbids, while a generated chain states each round in
plain ANSI SQL.  Since round 9 the per-edge contribution is PURE
INTEGER (nearest-nano ``(2R + deg) // (2·deg)`` with
``R = round(rank·1e9)``; inflow and dangling mass are integer sums) —
the earlier float ``rank/deg`` + decimal-cast-sum formulation carried
a double→decimal tie that the weighted operator's sf0.1 soak caught
resolving differently across engines.  Only the per-round update
touches doubles (teleport ``(1.0 - 0.85)/n``, damping multiply,
round-9); literals carry ``::DOUBLE`` casts because bare DuckDB
numeric literals are DECIMAL (the k1-cast lesson from retrieval.py's
BM25 oracle).

Reference parity: the reference engine has no graph operators
(tools.go's only data ops are scan/map/count/checkpoint) — this is
declared engine surface beyond the reference, per SURVEY §2B.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.graph import pagerank
from ..registry import register

_ITERS = 6
_DAMPING = 0.85


def _pagerank_oracle(iters: int = _ITERS) -> str:
    """Unrolled decimal-exact PageRank rounds over the lineitem
    bipartite fixture; one CTE triple (contribs, mass, ranks) per
    round."""
    # Every CTE is MATERIALIZED: DuckDB's default inlines single-use
    # CTEs, and each round's r{i} references r{i-1} TWICE (contribs +
    # dangling mass), so inlining re-evaluates the whole chain
    # exponentially in rounds (~2^6 — measured 7.9 s vs 0.09 s at
    # sf0.01, ~12 min vs seconds at sf0.1; identical sorted output).
    n = "(SELECT n FROM nn)"
    teleport = f"(1.0::DOUBLE - {_DAMPING}::DOUBLE) / {n}"
    ctes = [
        "e AS MATERIALIZED (SELECT DISTINCT l_partkey * 2 AS s,"
        " l_suppkey * 2 + 1 AS t FROM lineitem)",
        "nodes AS MATERIALIZED (SELECT s AS id FROM e UNION SELECT t FROM e)",
        "nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes)",
        "outdeg AS MATERIALIZED (SELECT s AS id, COUNT(*) AS deg"
        " FROM e GROUP BY s)",
        f"r0 AS MATERIALIZED (SELECT id, 1.0::DOUBLE / {n} AS rank"
        " FROM nodes)",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        ctes.append(
            # nearest-nano of the exact rational R/deg, ties up — pure
            # integer ops (the r9 integer-contribution fix; see
            # operators/graph.py)
            f"c{i} AS MATERIALIZED (SELECT e.t AS id,"
            f" CAST(SUM((2 * CAST(round(r.rank * 1e9) AS BIGINT) + d.deg)"
            f" // (2 * d.deg)) AS BIGINT) AS inflow_nano"
            f" FROM e JOIN r{p} r ON e.s = r.id JOIN outdeg d ON e.s = d.id"
            f" GROUP BY e.t)"
        )
        ctes.append(
            f"m{i} AS MATERIALIZED"
            f" (SELECT CAST(SUM(CAST(round(r.rank * 1e9) AS BIGINT))"
            f" AS BIGINT) AS mass_nano"
            f" FROM r{p} r LEFT JOIN outdeg d ON r.id = d.id"
            f" WHERE d.id IS NULL)"
        )
        ctes.append(
            # per-round round-9 mirrors the operator's resumable-as-data
            # state (each round's rank vector is exactly representable)
            f"r{i} AS MATERIALIZED"
            f" (SELECT nodes.id, round({teleport} + {_DAMPING}::DOUBLE *"
            f" (CAST(COALESCE(c{i}.inflow_nano, 0) AS DOUBLE) / 1e9"
            f" + CAST(COALESCE((SELECT mass_nano FROM m{i}), 0) AS DOUBLE)"
            f" / 1e9 / CAST({n} AS DOUBLE)), 9) AS rank"
            f" FROM nodes LEFT JOIN c{i} ON nodes.id = c{i}.id)"
        )
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT id, round(rank, 9) AS rank FROM r{iters}"
    )


@register("q_pagerank", oracle=_pagerank_oracle(), tags=("graph", "curation"))
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part→supplier graph after exactly 6 synchronous
    iterations — authority weighting for curation graphs (link graphs,
    interaction graphs) where in-degree alone over-counts parallel
    paths.

    All determinism lives in the operator (operators/graph.py):
    integer-exact nearest-nano contributions make every iteration
    bit-identical across partitionings and engines, which is what lets
    a 6-round iterative algorithm be hash-compared against a SQL
    oracle at all."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    return pagerank(edges, iters=_ITERS, damping=_DAMPING)
