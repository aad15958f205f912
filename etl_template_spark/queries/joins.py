"""Join operators (SURVEY.md §2B: q_join_*).

Strategy notes (the part that matters at 100 TB):

- Bounded dimensions (region, nation: fixed cardinality at every SF)
  are explicitly ``broadcast()`` — no shuffle of the fact table, the
  build side ships to every executor once.
- Fact-scaled tables (customer, orders, lineitem) are never force-
  broadcast: at the 100 TB design point customer is hundreds of GB and
  a forced broadcast OOMs every executor.  They shuffle on the join
  key; AQE converts to broadcast at runtime when a side turns out
  small, and splits skewed partitions (skewJoin.enabled).
- The theta join binds the range predicate to a broadcast nested-loop
  over a tiny bands dimension — never a fact×fact cross product.
- The as-of join uses the union + carry-forward operator
  (operators/asof.py): one shuffle, no pair materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# r13: certified money inputs -> fixed-point sums (see compat.dsum_fp_sql)
from ..compat import dsum_fp, dsum_sql
from ..io import load_table
from ..operators.asof import asof_join
from ..operators.rangejoin import range_join_binned
from ..registry import register


@register(
    "q_join_inner",
    oracle="""
    SELECT o_orderkey, o_orderdate, o_totalprice, c_custkey, c_name, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderstatus = 'O'
    ORDER BY o_orderkey
    """,
    tags=("join",),
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join orders⋈customer (shuffle join; AQE may switch to
    broadcast at runtime when the filtered side is small enough)."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .select("o_orderkey", "o_orderdate", "o_totalprice", "c_custkey", "c_name", "c_mktsegment")
    )


@register(
    "q_join_left",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM customer LEFT JOIN orders
      ON o_custkey = c_custkey AND o_totalprice > 400000
    ORDER BY c_custkey, o_orderkey NULLS FIRST
    """,
    tags=("join",),
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with an extra join-side predicate (kept in the ON
    clause, not WHERE — different semantics, both engines agree)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cond = (o.o_custkey == c.c_custkey) & (o.o_totalprice > 400000)
    return (
        c.join(o, cond, "left")
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice")
    )


@register(
    "q_join_right",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM orders RIGHT JOIN customer ON o_custkey = c_custkey AND o_totalprice > 400000
    ORDER BY c_custkey, o_orderkey NULLS FIRST
    """,
    tags=("join",),
)
def q_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join (mirror of q_join_left, same result set)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cond = (o.o_custkey == c.c_custkey) & (o.o_totalprice > 400000)
    return (
        o.join(c, cond, "right")
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice")
    )


@register(
    "q_join_full",
    oracle="""
    WITH big_cust AS (SELECT * FROM customer WHERE c_acctbal > 8000),
         big_ord  AS (SELECT * FROM orders   WHERE o_totalprice > 450000)
    SELECT c_custkey, c_name, o_orderkey, o_custkey, o_totalprice
    FROM big_cust FULL JOIN big_ord ON o_custkey = c_custkey
    ORDER BY c_custkey NULLS FIRST, o_orderkey NULLS FIRST
    """,
    tags=("join",),
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join between two filtered sides (nulls on both wings)."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_acctbal") > 8000)
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 450000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "full")
        .select("c_custkey", "c_name", "o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    ORDER BY c_custkey
    """,
    tags=("join",),
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join (EXISTS): customers with at least one urgent order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_acctbal")
    )


@register(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    ORDER BY c_custkey
    """,
    tags=("join",),
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join (NOT EXISTS): complement of q_join_semi."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
    )


@register(
    "q_join_broadcast",
    oracle="""
    SELECT n_nationkey, n_name, r_name
    FROM nation JOIN region ON n_regionkey = r_regionkey
    ORDER BY n_nationkey
    """,
    tags=("join",),
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast hash join nation⋈region — tests/test_plans.py asserts the
    physical plan is BroadcastHashJoin (no shuffle of the probe side)."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("n_nationkey", "n_name", "r_name")
    )


@register(
    "q_join_multi",
    oracle=f"""
    SELECT
      n_name,
      {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
      COUNT(*) AS n_lines
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    tags=("join", "agg", "bench"),
)
def q_join_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-table star join (TPC-H Q5 shape): fact-fact shuffle join on
    orderkey, then broadcast dimensions all the way up."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    revenue = "l_extendedprice * (1 - l_discount)"
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            dsum_fp(revenue).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


@register(
    "q_join_theta",
    oracle=f"""
    WITH bands(band, lo, hi) AS (VALUES
      ('small', 0.0, 15.0), ('medium', 15.0, 35.0), ('large', 35.0, 100.0))
    SELECT band, COUNT(*) AS n_lines, {dsum_sql('l_extendedprice')} AS sum_price
    FROM lineitem JOIN bands ON l_quantity > lo AND l_quantity <= hi
    GROUP BY band
    ORDER BY band
    """,
    tags=("join",),
)
def q_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range) join against a tiny bands dimension — planned as
    BroadcastNestedLoopJoin; the bands side is 3 rows so the 'nested loop'
    is 3 comparisons per fact row, shuffle-free."""
    li = load_table(spark, sf_dir, "lineitem")
    bands = spark.createDataFrame(
        [("small", 0.0, 15.0), ("medium", 15.0, 35.0), ("large", 35.0, 100.0)],
        "band string, lo double, hi double",
    )
    cond = (F.col("l_quantity") > F.col("lo")) & (F.col("l_quantity") <= F.col("hi"))
    return (
        li.join(F.broadcast(bands), cond)
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum_fp("l_extendedprice").alias("sum_price"),
        )
        .orderBy("band")
    )


@register(
    "q_join_asof",
    oracle="""
    WITH purchases AS (
      SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
    ), clicks AS (
      SELECT user_id, ts AS click_ts, event_id AS click_id FROM events
      WHERE event_type = 'click'
    )
    SELECT p.event_id, p.user_id, p.ts, p.value, c.click_ts, c.click_id
    FROM purchases p
    ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND c.click_ts <= p.ts
    ORDER BY p.event_id
    """,
    tags=("join", "asof"),
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the latest click at-or-before it by
    the same user (operators/asof.py; oracle uses DuckDB's native ASOF)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id")
    )
    return asof_join(
        purchases,
        clicks,
        left_on="user_id",
        right_on="user_id",
        left_time="ts",
        right_time="click_ts",
        value_cols=["click_ts", "click_id"],
    ).select("event_id", "user_id", "ts", "value", "click_ts", "click_id")


@register(
    "q_join_promo_share",
    oracle=f"""
    SELECT
      CAST(year(l_shipdate) AS INT) AS ship_year,
      round(100.0 * {dsum_sql("CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}
            / {dsum_sql('l_extendedprice * (1 - l_discount)')}, 4) AS promo_share_pct,
      COUNT(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY year(l_shipdate)
    ORDER BY ship_year
    """,
    tags=("join", "agg"),
)
def q_join_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share per ship year — fact⋈dim
    join with conditional aggregation.  ``part`` shuffles on partkey
    (fact-scaled at SF, so no forced broadcast; AQE decides), and the
    CASE folds into the partial aggregate — the shuffle carries one row
    per year per partition."""
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    rev = "l_extendedprice * (1 - l_discount)"
    promo_rev = f"CASE WHEN p_type LIKE 'PROMO%' THEN {rev} ELSE 0.0D END"
    return (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.round(100.0 * dsum_fp(promo_rev) / dsum_fp(rev), 4).alias(
                "promo_share_pct"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q_join_range",
    oracle="""
    SELECT
      o_orderkey,
      o_orderdate AS win_start,
      l_orderkey,
      l_linenumber,
      l_shipdate,
      l_quantity
    FROM orders
    JOIN lineitem
      ON l_shipdate >= o_orderdate
     AND l_shipdate <  o_orderdate + INTERVAL 3 DAY
    WHERE o_totalprice > 450000 AND l_quantity >= 48
    ORDER BY o_orderkey, l_orderkey, l_linenumber
    """,
    tags=("join", "range"),
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big×big interval join with NO equi key: every high-quantity
    shipment falling in a 3-day window after a high-value order's date
    (both sides fact-scaled — the shape q_join_theta's broadcast
    nested-loop can NOT survive at 100 TB).

    Planned via operators/rangejoin.py::range_join_binned: the interval
    side explodes to the (at most 2) 3-day bins it overlaps, both sides
    hash-partition on the bin id, and the exact containment predicate
    re-checks after the bin equi-join — a shuffle join, never a
    cartesian/BNLJ (asserted in tests/test_plans.py)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    intervals = (
        orders.where(F.col("o_totalprice") > 450000)
        .select(
            "o_orderkey",
            F.col("o_orderdate").alias("win_start"),
            (F.col("o_orderdate") + F.expr("INTERVAL 3 DAYS")).alias("win_end"),
        )
    )
    points = li.where(F.col("l_quantity") >= 48).select(
        "l_orderkey", "l_linenumber", "l_shipdate", "l_quantity"
    )
    return range_join_binned(
        points,
        intervals,
        point_col="l_shipdate",
        start_col="win_start",
        end_col="win_end",
        width_seconds=3 * 86400,
    ).select(
        "o_orderkey", "win_start", "l_orderkey", "l_linenumber",
        "l_shipdate", "l_quantity",
    )
