"""Classic TPC-H query shapes beyond Q1/Q5/Q14 (which live in
aggregates.py / joins.py): the canonical multi-table analytics patterns
a reference user would port first.

Q3  — shipping priority: 3-way join, filtered both sides, grouped
      revenue, global top-k.
Q18 — large-volume customers: aggregate-derived semi-join (orders whose
      line quantities exceed a threshold) back into a 3-way join.
Q4  — order priority checking: correlated EXISTS → conditioned
      semi-join (adapted: "late shipment" = shipped >60 days after
      order, since the fixtures carry no commit/receipt dates).
Q7  — volume shipping between nation pairs: double nation-dimension
      join with a pair predicate and per-year rollup.
Q10 — returned-item reporting: 4-way join filtered on return flag,
      grouped revenue per customer, global top-20.
Q12 — priority-by-status counts: join + CASE-inside-aggregate
      (adapted: l_returnflag stands in for the missing l_shipmode).
Q16 — supplier diversity per part group: COUNT(DISTINCT) over a
      derived part-supplier pair set with a NOT-IN anti-join
      (adapted: distinct lineitem (partkey, suppkey) pairs stand in
      for the missing partsupp table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# r13: certified money inputs -> fixed-point sums (see compat.dsum_fp_sql)
from ..compat import dsum_fp, dsum_fp_sql, dsum_sql
from ..io import load_table
from ..registry import register


@register(
    "q_tpch_q3",
    oracle=f"""
    SELECT
      l_orderkey,
      round({dsum_sql('l_extendedprice * (1 - l_discount)')}, 4) AS revenue,
      o_orderdate,
      o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    tags=("join", "agg", "topk", "bench"),
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): both fact filters reach their
    scans, the join shuffles on the keys, revenue aggregates partially,
    and the top-10 is a bounded heap on the ROUNDED revenue with
    l_orderkey tiebreaker (deterministic cross-engine ranks)."""
    cutoff = F.lit("1995-03-15 00:00:00").cast("timestamp")
    c = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff)
    revenue = "l_extendedprice * (1 - l_discount)"
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(dsum_fp(revenue), 4).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q_tpch_q18",
    oracle=f"""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           {dsum_sql('l_quantity')} AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 300)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    tags=("join", "agg", "subquery", "bench"),
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): the IN subquery over an
    aggregate becomes a pre-aggregated key set; quantities are integral
    doubles, so sums are exact.

    r14 (guide §2.4/§6): lineitem is scanned and aggregated ONCE —
    ``o_orderkey`` functionally determines the output group (it is the
    orders PK; c_name/c_custkey/o_orderdate/o_totalprice are constant
    per order), so the per-group ``total_qty`` IS the per-order
    quantity sum the HAVING filter already computes.  The r13 shape
    re-joined the full lineitem table and re-aggregated over five keys
    — one whole extra fact scan plus a wide final aggregate, removed
    with rows verified identical at both SFs and vs the oracle.  Also
    stated as ONE SQL text (§7.3, one parse/analysis per build).  At
    any scale the join input after the HAVING filter is only the
    qualifying orders, so both joins broadcast/stay tiny."""
    return spark.sql(
        f"""
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               total_qty
        FROM (SELECT l_orderkey, sum(l_quantity) AS qty,
                     {dsum_fp_sql('l_quantity')} AS total_qty
              FROM {{li}} GROUP BY l_orderkey) big
        JOIN {{o}} o ON o.o_orderkey = big.l_orderkey
        JOIN {{c}} c ON o.o_custkey = c.c_custkey
        WHERE big.qty > 300
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 100
        """,
        li=load_table(spark, sf_dir, "lineitem"),
        o=load_table(spark, sf_dir, "orders"),
        c=load_table(spark, sf_dir, "customer"),
    )


@register(
    "q_tpch_q4",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-04-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("join", "subquery", "agg"),
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking): the correlated EXISTS becomes
    a left-semi join whose condition references both sides (late
    shipment: l_shipdate > o_orderdate + 60 days).  The quarter filter
    is pushed into the orders scan BEFORE the semi-join, so only one
    quarter of orders ever shuffles; the semi-join emits each order at
    most once, then a 5-group count.  Integer counts — exact."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-04-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
    )
    return (
        o.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "q_tpch_q7",
    oracle=f"""
    SELECT
      n1.n_name AS supp_nation,
      n2.n_name AS cust_nation,
      CAST(year(l_shipdate) AS INT) AS l_year,
      round({dsum_sql('l_extendedprice * (1 - l_discount)')}, 4) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    tags=("join", "agg"),
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): the nation dimension joins TWICE
    (supplier side and customer side) — both copies broadcast (25 rows,
    bounded forever), so the only shuffles are the three fact/dim
    equi-joins on keys.  The pair predicate lands after both broadcasts
    and prunes to two nation pairs before aggregation; revenue uses the
    exact-decimal sum."""
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    revenue = "l_extendedprice * (1 - l_discount)"
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .where(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(F.round(dsum_fp(revenue), 4).alias("revenue"))
    )


@register(
    "q_tpch_q10",
    oracle=f"""
    SELECT
      c_custkey, c_name,
      round({dsum_sql('l_extendedprice * (1 - l_discount)')}, 4) AS revenue,
      c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("join", "agg", "topk", "bench"),
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): both fact filters (quarter
    on orders, return flag on lineitem) reach their scans; nation
    broadcasts; the group-by keys include only customer attributes so
    the aggregate shuffles once on custkey; the top-20 is a bounded
    TakeOrdered on the ROUNDED revenue with custkey tiebreaker."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-10-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    revenue = "l_extendedprice * (1 - l_discount)"
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(dsum_fp(revenue), 4).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "q_tpch_q12",
    oracle="""
    SELECT
      l_returnflag,
      CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS high_priority_count,
      CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS low_priority_count
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("join", "agg"),
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (priority counting by line status; l_returnflag stands
    in for the fixtures' missing l_shipmode): one fact-fact equi-join
    with the year filter pushed to the lineitem scan, then
    CASE-inside-SUM — the canonical conditional aggregate, computed in
    the partial-agg phase so the final shuffle carries 3 rows."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).cast("bigint").alias(
                "high_priority_count"
            ),
            F.sum(F.when(~is_high, 1).otherwise(0)).cast("bigint").alias(
                "low_priority_count"
            ),
        )
    )


@register(
    "q_tpch_q16",
    oracle="""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM ps
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    tags=("join", "agg", "subquery"),
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (supplier diversity per part group; distinct lineitem
    (partkey, suppkey) pairs stand in for the missing partsupp table):
    NOT IN over a never-NULL key is a left-anti join against the tiny
    excluded-supplier set (broadcast), the part predicates prune before
    the join, and COUNT(DISTINCT) shuffles once on the group keys.
    Result ordering ranks on the count with full key tiebreakers —
    deterministic cross-engine."""
    ps = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    bad_supp = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        # bad_supp is a predicate-filtered subset of the fact-scaled
        # supplier table — no forced broadcast; AQE picks the strategy.
        ps.join(bad_supp, ps.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .join(p, ps.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )
