"""TPC-H Q5 proper — local supplier volume, the CYCLIC 6-way join.

Round-10 growth query (the one genuine gap VERDICT r9 identified in the
TPC-H family).  q_join_multi (joins.py) carries the Q5 STAR shape —
customer→nation→region up one dimension chain — but no registered query
exercised the join-graph CYCLE that makes real Q5 interesting:
``c_nationkey = s_nationkey`` closes a loop between the two dimension
chains (customer side and supplier side), so revenue only counts when
the ordering customer and the line's supplier sit in the SAME nation.

Reference parity: the reference engine (arbirk/ETL-template,
tools.go:84-272 step executor) has no query layer at all — this, like
the rest of the TPC-H sweep, generalizes its per-record transform
surface (tools.go:841-884) to the declarative shapes a reference user
would port first.

Plan shape (the thing being tested):

- lineitem ⋈ orders on orderkey and orders ⋈ customer on custkey are
  the two fact shuffles — unavoidable at any scale, and both
  partial-aggregate-friendly.
- supplier joins on the COMPOSITE key (l_suppkey, c_nationkey) =
  (s_suppkey, s_nationkey): the cycle edge rides the same equi-join —
  no theta join, no post-join filter on a cross product.  Catalyst
  broadcasts supplier at test SF; at 100 TB (SF-proportional supplier,
  ~10⁹ rows) AQE falls back to a sort-merge on the composite key, which
  still co-partitions both cycle edges in ONE exchange.
- nation ⋈ region (ASIA) prunes to 5 nations and broadcasts; pushing
  that 5-row frame INTO the supplier scan (semi-join prune before the
  fact join) keeps the broadcast build side region-sized.
- the SAME 5-row frame semi-join-prunes customer: the cycle edge
  forces ``c_nationkey = s_nationkey`` and supplier is already
  region-local, so a non-ASIA customer can never survive the cycle —
  but Catalyst cannot infer that constraint across the join, so the
  prune must be explicit.  It cuts the orders ⋈ customer shuffle
  output ~5x (5 of 25 nations) BEFORE the wide fact join — the
  classic Q5 rewrite, and the one that matters at 100 TB where
  customer is SF-proportional.

Decimal discipline: revenue accumulates through ``compat.dsum`` (exact
decimal, order-independent) and ranks on the rounded value with n_name
as the unique tiebreaker, so the ORDER BY agrees bit-for-bit
cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# r13: certified money inputs -> fixed-point sums (see compat.dsum_fp_sql)
from ..compat import dsum_fp, dsum_sql
from ..io import load_table
from ..registry import register


@register(
    "q_tpch_q5",
    oracle=f"""
    SELECT
      n_name,
      round({dsum_sql('l_extendedprice * (1 - l_discount)')}, 4) AS revenue,
      COUNT(*) AS n_lines
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    tags=("join", "agg", "tpch"),
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): the cyclic 6-way join —
    ``c_nationkey = s_nationkey`` ties the customer dimension chain to
    the supplier one, so the cycle edge becomes part of the supplier
    join's composite equi-key instead of a filter over a wider join."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")  # pruned to ASIA below
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    # ASIA nations: 5 rows, broadcast; semi-join prunes supplier BEFORE
    # the fact join so the supplier build side is region-local.
    asia_nations = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(asia_nations.select("n_nationkey")),
        F.col("s_nationkey") == F.col("n_nationkey"),
        "semi",
    )
    # The cycle edge implies c_nationkey = s_nationkey ∈ ASIA, but the
    # implication crosses a join, so Catalyst can't derive it: prune
    # customer explicitly before it feeds the fact join.
    c = c.join(
        F.broadcast(asia_nations.select("n_nationkey")),
        F.col("c_nationkey") == F.col("n_nationkey"),
        "semi",
    )
    revenue = "l_extendedprice * (1 - l_discount)"
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        # the cycle: supplier must match the line AND the customer's nation
        .join(
            s,
            (F.col("l_suppkey") == s.s_suppkey)
            & (F.col("c_nationkey") == s.s_nationkey),
        )
        .join(F.broadcast(asia_nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(dsum_fp(revenue), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )
