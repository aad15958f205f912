"""The remaining canonical TPC-H query shapes (Q2, Q6, Q8, Q9, Q11, Q13,
Q15, Q17, Q19, Q20, Q21, Q22) — completing 22/22 coverage together with
Q1 (aggregates.py), Q5/Q14 (joins.py), and Q3/Q4/Q7/Q10/Q12/Q16/Q18
(tpch_shapes.py).

The driver fixtures carry no ``partsupp`` table and no
commit/receipt-date, ship-mode, container, phone, or comment columns, so
each query keeps its canonical PLAN SHAPE (the thing being tested) while
adapting predicates to existing columns:

Q2  — min-cost supplier:      supply cost  := s_acctbal; partsupp :=
      distinct lineitem (partkey, suppkey) pairs.
Q6  — forecast revenue:       verbatim (lineitem-only scan).
Q8  — national market share:  verbatim over the star schema.
Q9  — product-type profit:    supply cost  := p_retailprice * 0.1.
Q11 — important stock:        part value   := Σ extendedprice·quantity
      from NATION_7 suppliers; threshold fraction 0.001.
Q13 — customer distribution:  comment filter := o_orderpriority <>
      '1-URGENT'.
Q15 — top supplier:           verbatim (quarter revenue view + max).
Q17 — small-quantity orders:  container filter := p_size = 9.
Q19 — disjunctive predicates: container bands := p_size bands.
Q20 — part promotion:         "excess stock" := full-history quantity
      > 2× the 1996-H1 quantity for the (part, supplier) pair.
Q21 — waiting suppliers:      "late" := shipped > 30 days after order
      date (no receipt/commit dates in the fixtures).
Q22 — sales opportunity:      country code := c_nationkey % 10.

All money sums route through ``compat.dsum`` (exact decimal
accumulation → order-independent, bit-identical across engines and
cluster sizes); every ORDER BY ranks on rounded values with unique
tiebreakers so top-k boundaries agree cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# r13: certified money inputs -> fixed-point sums (see compat.dsum_fp_sql)
from ..compat import davg_fp, davg_sql, dsum_fp, dsum_fp_sql, dsum_sql
from ..io import load_table
from ..registry import register


def _ts(s: str) -> F.Column:
    return F.lit(s).cast("timestamp")


# ---------------------------------------------------------------------------
# Q6 — forecast revenue change (single-table scan + global aggregate)
# ---------------------------------------------------------------------------


@register(
    "q_tpch_q6",
    oracle=f"""
    SELECT {dsum_sql('l_extendedprice * l_discount')} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
    tags=("scan", "agg", "bench"),
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecast revenue change): the purest scan-bound query —
    every predicate is a parquet-pushable range filter on one table, the
    aggregate is a single partial-sum with a 1-row final exchange.  At
    100 TB this is bounded by scan bandwidth alone; the plan must show
    PushedFilters on shipdate/discount/quantity and no shuffle besides
    the final 1-row exchange."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1997-01-01 00:00:00"))
        & F.col("l_discount").between(0.03, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(dsum_fp("l_extendedprice * l_discount").alias("revenue"))


# ---------------------------------------------------------------------------
# Q2 — minimum-cost supplier (correlated MIN subquery → window min)
# ---------------------------------------------------------------------------


@register(
    "q_tpch_q2",
    oracle="""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
         eu AS (SELECT s_suppkey, s_acctbal, s_name, n_name
                FROM supplier
                JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
                WHERE r_name = 'EUROPE')
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name
    FROM part
    JOIN ps ON p_partkey = l_partkey
    JOIN eu ON l_suppkey = s_suppkey
    WHERE p_size = 15 AND p_type = 'SMALL'
      AND s_acctbal = (SELECT MIN(e2.s_acctbal)
                       FROM ps ps2 JOIN eu e2 ON ps2.l_suppkey = e2.s_suppkey
                       WHERE ps2.l_partkey = p_partkey)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
    tags=("join", "subquery", "window"),
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier; s_acctbal stands in for the
    missing ps_supplycost): the correlated MIN subquery decorrelates to
    a single window-min over the already-joined candidate set — one pass
    instead of re-joining partsupp a second time.  Dimension chain
    (supplier→nation→region) broadcasts; the part predicates prune
    before the join.  Equality against the window min compares identical
    double values — deterministic in both engines."""
    ps = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_size") == 15) & (F.col("p_type") == "SMALL")
    )
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    eu = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    cands = ps.join(p, ps.l_partkey == p.p_partkey).join(
        eu, ps.l_suppkey == eu.s_suppkey
    )
    min_cost = F.min("s_acctbal").over(Window.partitionBy("p_partkey"))
    return (
        cands.withColumn("_min_cost", min_cost)
        .where(F.col("s_acctbal") == F.col("_min_cost"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", F.col("p_partkey")
        )
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Q8 — national market share (share-of-total with conditional numerator)
# ---------------------------------------------------------------------------


@register(
    "q_tpch_q8",
    oracle=f"""
    SELECT
      CAST(year(o_orderdate) AS INT) AS o_year,
      CAST(CAST(
        {dsum_sql("CASE WHEN n2.n_name = 'NATION_12' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}
        / {dsum_sql('l_extendedprice * (1 - l_discount)')}
      AS DECIMAL(30,8)) AS DOUBLE) AS mkt_share
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN part     ON l_partkey = p_partkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    JOIN region    ON n1.n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND p_type = 'ECONOMY'
      AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY o_year
    ORDER BY o_year
    """,
    tags=("join", "agg"),
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): seven-table star join — nation
    joins twice (customer side for the region filter, supplier side for
    the share numerator), all three dims broadcast.  Numerator and
    denominator accumulate as exact decimals in ONE aggregate pass
    (CASE inside the partial agg), then one IEEE division per year and a
    decimal-routed round — bit-identical across engines and cluster
    sizes."""
    # r14 (guide §7.3): the 7-table star stated as ONE SQL text — one
    # parse+analysis instead of seven eagerly-analyzed join ops over a
    # growing plan (~0.28 s → ~0.1 s of driver-side build).  The r13
    # fixed-point sums are ``dsum_fp_sql``: same exact rationals as
    # sum(dec(...)), so the double quotient (and its 30,8 re-round) is
    # unchanged.
    vol = "l_extendedprice * (1 - l_discount)"
    nat_vol = f"CASE WHEN supp_nation = 'NATION_12' THEN {vol} ELSE 0.0D END"
    return spark.sql(
        f"""
        SELECT /*+ BROADCAST(n1), BROADCAST(n2), BROADCAST(r) */
               year(o_orderdate) AS o_year,
               CAST(CAST(
                 {dsum_fp_sql(nat_vol)} / {dsum_fp_sql(vol)}
               AS DECIMAL(30,8)) AS DOUBLE) AS mkt_share
        FROM {{li}} li
        JOIN {{o}} o ON li.l_orderkey = o.o_orderkey
        JOIN {{c}} c ON o.o_custkey = c.c_custkey
        JOIN {{s}} s ON li.l_suppkey = s.s_suppkey
        JOIN {{p}} p ON li.l_partkey = p.p_partkey
        JOIN (SELECT n_nationkey AS c_nk, n_regionkey AS c_rk
              FROM {{n}}) n1 ON c.c_nationkey = n1.c_nk
        JOIN (SELECT n_nationkey AS s_nk, n_name AS supp_nation
              FROM {{n2}}) n2 ON s.s_nationkey = n2.s_nk
        JOIN {{r}} r ON n1.c_rk = r.r_regionkey
        WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND r.r_name = 'ASIA'
          AND p.p_type = 'ECONOMY'
        GROUP BY year(o_orderdate)
        """,
        li=load_table(spark, sf_dir, "lineitem"),
        o=load_table(spark, sf_dir, "orders"),
        c=load_table(spark, sf_dir, "customer"),
        s=load_table(spark, sf_dir, "supplier"),
        p=load_table(spark, sf_dir, "part"),
        n=load_table(spark, sf_dir, "nation"),
        n2=load_table(spark, sf_dir, "nation"),
        r=load_table(spark, sf_dir, "region"),
    )


# ---------------------------------------------------------------------------
# Q9 — product-type profit (LIKE-filtered star join, two-key rollup)
# ---------------------------------------------------------------------------


@register(
    "q_tpch_q9",
    oracle=f"""
    SELECT
      n_name AS nation,
      CAST(year(o_orderdate) AS INT) AS o_year,
      round({dsum_sql('l_extendedprice * (1 - l_discount) - p_retailprice * 0.1 * l_quantity')}, 4)
        AS sum_profit
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN part     ON l_partkey = p_partkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, year(o_orderdate)
    ORDER BY n_name, year(o_orderdate) DESC
    """,
    tags=("join", "agg"),
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit; p_retailprice*0.1 stands in for
    the missing ps_supplycost): the LIKE filter prunes part BEFORE the
    fact join, nation broadcasts, and profit accumulates as an exact
    decimal in the partial-agg phase so the final shuffle carries only
    (nation, year) groups — 25×7 rows regardless of fact size."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    n = load_table(spark, sf_dir, "nation")
    profit = "l_extendedprice * (1 - l_discount) - p_retailprice * 0.1D * l_quantity"
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(p, li.l_partkey == p.p_partkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(F.round(dsum_fp(profit), 4).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


# ---------------------------------------------------------------------------
# Q11 — important stock (grouped value vs global-threshold scalar subquery)
# ---------------------------------------------------------------------------


@register(
    "q_tpch_q11",
    oracle=f"""
    WITH base AS (
      SELECT l_partkey, l_extendedprice * l_quantity AS val
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_7')
    SELECT l_partkey, {dsum_sql('val')} AS part_value
    FROM base
    GROUP BY l_partkey
    HAVING {dsum_sql('val')} > (SELECT {dsum_sql('val')} FROM base) * 0.001
    ORDER BY part_value DESC, l_partkey
    """,
    tags=("join", "agg", "subquery"),
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock; part value := Σ extendedprice·qty
    from one nation's suppliers): the HAVING threshold is a scalar
    aggregate over the SAME filtered base — computed once and broadcast
    as a 1-row cross join, not recomputed per group.  Numerator and
    threshold both come from exact decimal sums, so the > comparison is
    engine-independent.  Ordered on the summed value with partkey
    tiebreaker."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_7")
    base = (
        load_table(spark, sf_dir, "lineitem")
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select(
            "l_partkey",
            (F.col("l_extendedprice") * F.col("l_quantity")).alias("val"),
        )
    )
    per_part = base.groupBy("l_partkey").agg(dsum_fp("val").alias("part_value"))
    total = base.agg((dsum_fp("val") * F.lit(0.001)).alias("_threshold"))
    return (
        per_part.join(F.broadcast(total))
        .where(F.col("part_value") > F.col("_threshold"))
        .select("l_partkey", "part_value")
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


# ---------------------------------------------------------------------------
# Q13 — customer order-count distribution (outer join + double aggregation)
# ---------------------------------------------------------------------------


@register(
    "q_tpch_q13",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
                      AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey) counts
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    tags=("join", "agg"),
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution; the priority filter
    stands in for the canonical comment NOT LIKE): the filter lives
    INSIDE the left join's ON clause — customers with zero qualifying
    orders survive with count 0, which a WHERE would silently drop.
    COUNT(o_orderkey) counts only matched rows (nulls skipped).  The
    second aggregation reduces to ~tens of distinct counts — the shuffle
    after the first groupBy is the only data-sized exchange."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    counts = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        counts.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# ---------------------------------------------------------------------------
# Q15 — top supplier (aggregate view + equality against its MAX)
# ---------------------------------------------------------------------------


@register(
    "q_tpch_q15",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             round({dsum_sql('l_extendedprice * (1 - l_discount)')}, 4) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier
    JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
    tags=("join", "agg", "subquery"),
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the revenue view materializes once per
    query text in both the main query and the MAX scalar subquery —
    Spark expresses that sharing explicitly (one DataFrame, reused), so
    lineitem is scanned once for the groups and the MAX reduces the
    tiny per-supplier aggregate.  Equality compares ROUNDED revenues —
    deterministic tie surface in both engines (canonical Q15 semantics:
    all tied top suppliers are returned)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1996-04-01 00:00:00"))
    )
    rev = "l_extendedprice * (1 - l_discount)"
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(dsum_fp(rev), 4).alias("total_revenue")
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("_max_rev"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        s.join(revenue, s.s_suppkey == revenue.supplier_no)
        .join(F.broadcast(max_rev))
        .where(F.col("total_revenue") == F.col("_max_rev"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Q17 — small-quantity-order revenue (correlated AVG → per-key pre-agg join)
# ---------------------------------------------------------------------------


@register(
    "q_tpch_q17",
    oracle=f"""
    SELECT CAST({dsum_sql('l_extendedprice')} / 7.0 AS DOUBLE) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#2' AND p_size = 9
      AND l_quantity < (SELECT 0.2 * {davg_sql('l2.l_quantity')}
                        FROM lineitem l2
                        WHERE l2.l_partkey = p_partkey)
    """,
    tags=("join", "agg", "subquery"),
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue; p_size=9 stands in for
    the missing container filter): the correlated AVG decorrelates to a
    per-partkey pre-aggregate joined back on partkey — lineitem is NOT
    re-scanned per outer row.  The per-part average uses the exact
    decimal sum / count division, so the 0.2× threshold is bit-identical
    in both engines; the final scalar divides an exact decimal sum by
    7.0 in IEEE double."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") == "Brand#2") & (F.col("p_size") == 9)
    )
    per_part_avg = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        (
            F.lit(0.2)
            * davg_fp("l_quantity")
        ).alias("_qty_cap")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(per_part_avg, li.l_partkey == F.col("_pk"))
        .where(F.col("l_quantity") < F.col("_qty_cap"))
        .agg((dsum_fp("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"))
    )


# ---------------------------------------------------------------------------
# Q19 — discounted revenue (disjunctive multi-band join predicates)
# ---------------------------------------------------------------------------


@register(
    "q_tpch_q19",
    oracle=f"""
    SELECT round({dsum_sql('l_extendedprice * (1 - l_discount)')}, 4) AS revenue
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 20 AND l_quantity <= 30)
    """,
    tags=("join", "agg"),
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue; p_size bands stand in for the
    missing container lists): the classic disjunctive-predicate join —
    the equi-join key (partkey) is still extractable, so Spark hash-joins
    on partkey and applies the OR-of-bands as a post-join filter; the
    brand/size disjunction additionally derives a part-side prefilter
    (union of all three bands) that prunes the build side before the
    join."""
    li = load_table(spark, sf_dir, "lineitem")
    # Derived part-side prefilter: the union of the three brand bands.
    p = load_table(spark, sf_dir, "part").where(
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15))
    )
    band = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & (F.col("l_quantity") >= 1)
        & (F.col("l_quantity") <= 11)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & (F.col("l_quantity") >= 10)
        & (F.col("l_quantity") <= 20)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 15)
        & (F.col("l_quantity") >= 20)
        & (F.col("l_quantity") <= 30)
    )
    rev = "l_extendedprice * (1 - l_discount)"
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .where(band)
        .agg(F.round(dsum_fp(rev), 4).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Q20 — part promotion (nested correlated-aggregate semi-join chain)
# ---------------------------------------------------------------------------


@register(
    "q_tpch_q20",
    oracle=f"""
    WITH pair_qty AS (
      SELECT l_partkey, l_suppkey,
             {dsum_sql('l_quantity')} AS total_qty,
             {dsum_sql('''CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                           AND l_shipdate <  TIMESTAMP '1996-07-01 00:00:00'
                          THEN l_quantity ELSE 0 END''')} AS recent_qty
      FROM lineitem
      GROUP BY l_partkey, l_suppkey)
    SELECT s_name, n_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_3'
      AND s_suppkey IN (
        SELECT l_suppkey FROM pair_qty
        WHERE total_qty > 2 * recent_qty AND recent_qty > 0
          AND l_partkey IN (SELECT p_partkey FROM part
                            WHERE p_name LIKE 'small%'))
    ORDER BY s_name
    """,
    tags=("join", "subquery", "agg"),
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (part promotion; "excess stock" adapted to full-history
    quantity > 2× the 1996-H1 quantity per (part, supplier) pair): the
    canonical nested-IN chain becomes two semi-joins — pair aggregates
    computed in ONE lineitem pass (both sums as conditional partial
    aggs), semi-joined against the LIKE-filtered part keys, then the
    surviving supplier keys semi-join into the nation-filtered supplier
    dim.  Quantities are integral doubles summed as exact decimals, so
    the 2× comparison is engine-independent."""
    li = load_table(spark, sf_dir, "lineitem")
    recent = (
        "l_shipdate >= CAST('1996-01-01 00:00:00' AS TIMESTAMP)"
        " AND l_shipdate < CAST('1996-07-01 00:00:00' AS TIMESTAMP)"
    )
    pair_qty = li.groupBy("l_partkey", "l_suppkey").agg(
        dsum_fp("l_quantity").alias("total_qty"),
        dsum_fp(f"CASE WHEN {recent} THEN l_quantity ELSE 0.0D END").alias(
            "recent_qty"
        ),
    )
    promo_parts = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    promo_supps = (
        pair_qty.where(
            (F.col("total_qty") > 2 * F.col("recent_qty")) & (F.col("recent_qty") > 0)
        )
        # No broadcast hint: promo_parts is a LIKE-filtered subset of the
        # fact-scaled `part` table (~billions of rows at 100 TB), so the
        # join strategy is left to size stats + AQE — broadcast when the
        # subset is genuinely small, shuffle otherwise.
        .join(
            promo_parts,
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .select("l_suppkey")
    )
    n = load_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3")
    s = load_table(spark, sf_dir, "supplier")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(promo_supps, s.s_suppkey == F.col("l_suppkey"), "left_semi")
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


# ---------------------------------------------------------------------------
# Q21 — suppliers who kept orders waiting (EXISTS + NOT-EXISTS over peers)
# ---------------------------------------------------------------------------


@register(
    "q_tpch_q21",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
      AND n_name = 'NATION_4'
      AND l1.l_shipdate > o_orderdate + INTERVAL 30 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 30 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
    tags=("join", "subquery", "agg", "window"),
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting; "late" := shipped
    >30 days after order date, since the fixtures carry no
    commit/receipt dates): the EXISTS / NOT-EXISTS pair over peer
    lineitems of the same order collapses to per-order distinct-supplier
    counts — more than one supplier exists, and exactly one (the outer
    row's own, itself late) shipped late.

    r13 optimization: the counts are ``size(collect_set(...))`` WINDOW
    aggregates over ``l_orderkey`` instead of a separate
    ``countDistinct`` aggregate joined back.  The old shape planned an
    Expand (2× row multiplication for the two DISTINCT aggregates), two
    aggregation exchanges, a SortMergeJoin back onto the flagged rows,
    and — because the aggregate's lineage duplicated the join — TWO
    scans of lineitem.  The window shape scans lineitem once and
    shuffles it once; ``collect_set`` skips NULLs exactly like
    COUNT(DISTINCT), and per-order window buffers stay bounded by the
    lineitems of one order.  A/B'd cold at sf0.1 (identical rows):
    1.75 s → 0.9 s median."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    li = load_table(spark, sf_dir, "lineitem")
    flagged = li.join(o, li.l_orderkey == o.o_orderkey).withColumn(
        "_late",
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAY"),
    )
    w = Window.partitionBy("l_orderkey")
    stats = flagged.select(
        "l_orderkey",
        "l_suppkey",
        "_late",
        F.size(F.collect_set("l_suppkey").over(w)).alias("_n_supp"),
        F.size(
            F.collect_set(F.when(F.col("_late"), F.col("l_suppkey"))).over(w)
        ).alias("_n_late_supp"),
    )
    n = load_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_4")
    s = load_table(spark, sf_dir, "supplier")
    return (
        stats.where(F.col("_late"))
        .where((F.col("_n_supp") > 1) & (F.col("_n_late_supp") == 1))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Q22 — global sales opportunity (anti-join + scalar-threshold subquery)
# ---------------------------------------------------------------------------


@register(
    "q_tpch_q22",
    oracle=f"""
    WITH codes AS (
      SELECT CAST(c_nationkey % 10 AS INT) AS cntrycode, c_custkey, c_acctbal
      FROM customer
      WHERE c_nationkey % 10 IN (0, 2, 4, 6, 8))
    SELECT cntrycode,
           COUNT(*) AS numcust,
           {dsum_sql('c_acctbal')} AS totacctbal
    FROM codes
    WHERE c_acctbal > (SELECT {davg_sql('c_acctbal')} FROM codes
                       WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY cntrycode
    ORDER BY cntrycode
    """,
    tags=("join", "subquery", "agg"),
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity; country code :=
    c_nationkey % 10 since the fixtures carry no phone column): the
    NOT-EXISTS becomes a left-anti join against the distinct customer
    keys of orders; the positive-balance average is a 1-row broadcast
    threshold from the exact decimal sum / count division.  Customer is
    scanned once for both the threshold and the candidate set."""
    c = load_table(spark, sf_dir, "customer").where(
        (F.col("c_nationkey") % 10).isin(0, 2, 4, 6, 8)
    )
    codes = c.select(
        (F.col("c_nationkey") % 10).cast("int").alias("cntrycode"),
        "c_custkey",
        "c_acctbal",
    )
    avg_bal = codes.where(F.col("c_acctbal") > 0.0).agg(
        davg_fp("c_acctbal").alias("_avg_bal")
    )
    o_keys = load_table(spark, sf_dir, "orders").select("o_custkey")
    return (
        codes.join(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(o_keys, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum_fp("c_acctbal").alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )
