"""q_pagerank_weighted — weighted PageRank as a registered,
oracle-backed query (round 9, VERDICT r8 #5b; operator at
operators/graph.py::pagerank_weighted).

Same part→supplier fixture graph as q_pagerank (``2*l_partkey →
2*l_suppkey + 1``), but parallel edges now COUNT: the weight of an
edge is its lineitem multiplicity, so a part shipped ten times by a
supplier pushes ten shares of rank where the simple-graph query pushes
one.  The two queries differ exactly where the semantics differ —
same nodes, same dangling supplier side, different contributions —
which is what makes the pair a meaningful regression net (a bug that
ignores weights reproduces q_pagerank's ranks and hash-fails here).

Oracle: the q_pagerank unrolled-CTE chain with weighted edges — ``e``
carries ``COUNT(*) AS w``, out-degree is ``SUM(w)`` (BIGINT-exact),
and the per-edge contribution is PURE-INTEGER nearest-nano arithmetic,
``(2·R·w + wdeg) // (2·wdeg)`` with ``R = round(rank·1e9)``, summed as
integers; the dangling mass is the integer sum of dangling ``R``.
The first float formulation (``rank·w/wdeg`` + decimal-cast sum)
passed at sf0.01 but the sf0.1 soak caught it flipping 324/21000
ranks by one nano — the double→decimal tie resolving differently per
engine.  Only the final per-round update touches doubles (the shape
q_pagerank's soaks have proven); literals carry ``::DOUBLE`` casts as
ever.

Plan note: the operator is also q_pagerank's kernel (``pagerank`` is
its call on distinct edges), and flags dangling nodes once on its node
frame, so each round's dangling mass is a filtered sum with no
anti-join.  Ranks are unchanged bit for bit.

Reference parity: the reference engine has no graph operators
(tools.go); declared engine surface per SURVEY §2B.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.graph import pagerank_weighted
from ..registry import register

_ITERS = 6
_DAMPING = 0.85


def _weighted_oracle(iters: int = _ITERS) -> str:
    """Unrolled decimal-exact weighted PageRank rounds; one CTE triple
    (contribs, mass, ranks) per round — q_pagerank's oracle with
    multiplicity weights."""
    # Every CTE is MATERIALIZED — same reason as q_pagerank's oracle
    # (graph_q.py): DuckDB's default inlining re-evaluates the round
    # chain exponentially because each r{i} references r{i-1} twice;
    # identical sorted output, seconds instead of ~12 min at sf0.1.
    n = "(SELECT n FROM nn)"
    teleport = f"(1.0::DOUBLE - {_DAMPING}::DOUBLE) / {n}"
    ctes = [
        "e AS MATERIALIZED (SELECT l_partkey * 2 AS s,"
        " l_suppkey * 2 + 1 AS t, COUNT(*) AS w FROM lineitem"
        " GROUP BY 1, 2)",
        "nodes AS MATERIALIZED (SELECT s AS id FROM e UNION SELECT t FROM e)",
        "nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes)",
        "outdeg AS MATERIALIZED (SELECT s AS id, CAST(SUM(w) AS BIGINT)"
        " AS wdeg FROM e GROUP BY s)",
        f"r0 AS MATERIALIZED (SELECT id, 1.0::DOUBLE / {n} AS rank"
        " FROM nodes)",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        ctes.append(
            f"c{i} AS MATERIALIZED (SELECT e.t AS id,"
            f" CAST(SUM((2 * CAST(round(r.rank * 1e9) AS BIGINT) * e.w"
            f" + d.wdeg) // (2 * d.wdeg)) AS BIGINT) AS inflow_nano"
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
            f"r{i} AS MATERIALIZED"
            f" (SELECT nodes.id, round({teleport} + {_DAMPING}::DOUBLE *"
            f" (CAST(COALESCE(c{i}.inflow_nano, 0) AS DOUBLE) / 1e9"
            f" + CAST(COALESCE((SELECT mass_nano FROM m{i}), 0) AS DOUBLE)"
            f" / 1e9 / CAST({n} AS DOUBLE)), 9) AS rank"
            f" FROM nodes LEFT JOIN c{i} ON nodes.id = c{i}.id)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, round(rank, 9) AS rank FROM r{iters}"
    )


@register(
    "q_pagerank_weighted",
    oracle=_weighted_oracle(),
    tags=("graph", "curation"),
)
def q_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the part→supplier graph, 6 synchronous
    iterations, edge weight = lineitem multiplicity — link-frequency
    authority for curation graphs where repeat interaction should
    count (citation counts, co-click strength), the semantics
    q_pagerank's simple-graph contract deliberately drops."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    return pagerank_weighted(edges, iters=_ITERS, damping=_DAMPING)
