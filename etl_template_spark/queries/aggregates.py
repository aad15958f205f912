"""Aggregation operators (SURVEY.md §2B: q_agg_*, q_rollup/cube/grouping_sets).

All hash aggregations: Catalyst plans partial (map-side) aggregation
before the shuffle, so the shuffle volume is #groups × #partitions, not
#rows — the property that makes these queries hold at 100 TB.  Float
sums go through the exact-decimal path (compat.py) so results are
order-independent and bit-identical to the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# r13: every dsum_fp/davg_fp input in this module is a certified money
# column/expression (compat.dsum_fp_sql contract + the fixed-point
# guard sweep in tests/test_compat_guard.py) — sums bit-identical to
# dsum/davg, no per-row toString cast.
from ..compat import davg_fp, davg_fp_sql, davg_sql, dsum_fp, dsum_fp_sql, dsum_sql
from ..io import load_table
from ..registry import register

# --------------------------------------------------------------------------
# q_agg_group — the flagship: TPC-H Q1 shape.
# scan → filter (pushed to parquet) → partial agg → shuffle on 2 low-card
# keys → final agg → sort. The whole batch spine in one query.
# --------------------------------------------------------------------------


@register(
    "q_agg_group",
    oracle=f"""
    SELECT
      l_returnflag,
      l_linestatus,
      {dsum_sql('l_quantity')}                                        AS sum_qty,
      {dsum_sql('l_extendedprice')}                                   AS sum_base_price,
      {dsum_sql('l_extendedprice * (1 - l_discount)')}                AS sum_disc_price,
      {dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')}  AS sum_charge,
      {davg_sql('l_quantity')}                                        AS avg_qty,
      {davg_sql('l_extendedprice')}                                   AS avg_price,
      {davg_sql('l_discount')}                                        AS avg_disc,
      COUNT(*)                                                        AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("agg", "flagship", "bench"),
)
def q_agg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped grouped aggregation (multi-key, multi-aggregate).

    Stated as ONE SQL text (r14, guide §7.3): the eight fixed-point
    aggregate Columns cost ~0.25 s of eager per-op analysis per build;
    the SQL parses+analyzes once (~0.08 s) into the same plan."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = "l_extendedprice * (1 - l_discount)"
    charge = f"{disc_price} * (1 + l_tax)"
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               {dsum_fp_sql('l_quantity')}      AS sum_qty,
               {dsum_fp_sql('l_extendedprice')} AS sum_base_price,
               {dsum_fp_sql(disc_price)}        AS sum_disc_price,
               {dsum_fp_sql(charge)}            AS sum_charge,
               {davg_fp_sql('l_quantity')}      AS avg_qty,
               {davg_fp_sql('l_extendedprice')} AS avg_price,
               {davg_fp_sql('l_discount')}      AS avg_disc,
               count(1)                         AS count_order
        FROM {{li}}
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
        """,
        li=li,
    )


@register(
    "q_agg_global",
    oracle=f"""
    SELECT
      COUNT(*)                          AS n_rows,
      {dsum_sql('l_quantity')}          AS total_qty,
      {davg_sql('l_extendedprice')}     AS avg_price,
      MIN(l_shipdate)                   AS first_ship,
      MAX(l_shipdate)                   AS last_ship,
      MIN(l_quantity)                   AS min_qty,
      MAX(l_extendedprice)              AS max_price
    FROM lineitem
    """,
    tags=("agg",),
)
def q_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped global aggregation (single-row result)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum_fp("l_quantity").alias("total_qty"),
        davg_fp("l_extendedprice").alias("avg_price"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_extendedprice").alias("max_price"),
    )


@register(
    "q_agg_distinct",
    oracle=f"""
    SELECT
      o_orderstatus,
      COUNT(DISTINCT o_custkey)                  AS n_customers,
      COUNT(DISTINCT o_orderpriority)            AS n_priorities,
      {dsum_sql('o_totalprice')}                 AS sum_price,
      COUNT(*)                                   AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("agg",),
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(distinct) alongside plain aggregates (expand-based plan)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.countDistinct("o_orderpriority").alias("n_priorities"),
            dsum_fp("o_totalprice").alias("sum_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "q_agg_having",
    oracle=f"""
    SELECT o_custkey, COUNT(*) AS n_orders, {dsum_sql('o_totalprice')} AS spend
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 12
    ORDER BY o_custkey
    """,
    tags=("agg",),
)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum_fp("o_totalprice").alias("spend"),
        )
        .where(F.col("n_orders") >= 12)
    )


@register(
    "q_agg_approx",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS exact_orders,
           COUNT(*) AS n_rows,
           TRUE AS approx_in_bound
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("agg", "approx"),
)
def q_agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct count (HyperLogLog++): the 100 TB-friendly
    substitute for exact COUNT(DISTINCT) — no expand, no giant shuffle.

    The HLL estimate is engine-specific, so (like
    q_agg_approx_percentile) the query is a SELF-CERTIFYING harness: it
    emits the exact distinct count (which the oracle reproduces) plus a
    boolean asserting the estimate lands within 5 x rsd of it.  The
    estimate is a pure function of the value SET (register maxima —
    merge-order independent), so the boolean is deterministic and the
    error bound itself is driver-hash-checked; at production scale only
    the estimate column survives, the exact column is the test rig."""
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("__approx"),
        F.count_distinct("l_orderkey").alias("exact_orders"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return g.select(
        "l_returnflag",
        "exact_orders",
        "n_rows",
        (
            F.abs(F.col("__approx") - F.col("exact_orders"))
            <= 0.1 * F.col("exact_orders")
        ).alias("approx_in_bound"),
    )


_GK_DELTA = 0.001  # rank-slack for the bound check: 10x the 1/accuracy
# rank-error guarantee of the sketch, expressed as a quantile offset


@register(
    "q_agg_approx_percentile",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           round(quantile_cont(l_extendedprice, 0.5), 6)  AS p50_exact,
           round(quantile_cont(l_extendedprice, 0.95), 6) AS p95_exact,
           round(quantile_cont(l_extendedprice, 0.99), 6) AS p99_exact,
           TRUE AS p50_in_bound,
           TRUE AS p95_in_bound,
           TRUE AS p99_in_bound
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("agg", "approx"),
)
def q_agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (Greenwald-Khanna sketch): the 100 TB
    substitute for exact per-group quantiles — the sketch merges
    associatively in the partial-agg phase, so the shuffle carries one
    bounded sketch per group instead of every value.  accuracy=10000
    bounds rank error at 1/10000.

    Estimates are engine-specific, so the estimate itself cannot
    hash-match an oracle.  Instead the query is a SELF-CERTIFYING
    harness: it emits the EXACT percentiles (operators/percentiles.py,
    which the oracle reproduces via quantile_cont) alongside booleans
    asserting the sketch estimate lands inside the exact quantile
    bracket [q - {_GK_DELTA}, q + {_GK_DELTA}] — 10x the sketch's rank
    guarantee.  The oracle expects TRUE: an out-of-bound estimate
    hash-mismatches, making the error bound itself driver-checkable."""
    from ..operators.percentiles import exact_group_percentiles

    li = load_table(spark, sf_dir, "lineitem")
    pcts = F.percentile_approx("l_extendedprice", [0.5, 0.95, 0.99], 10000)
    approx = li.groupBy("l_returnflag").agg(
        F.element_at(pcts, 1).alias("__ap50"),
        F.element_at(pcts, 2).alias("__ap95"),
        F.element_at(pcts, 3).alias("__ap99"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    targets = []
    for name, q in (("p50", 0.5), ("p95", 0.95), ("p99", 0.99)):
        targets += [
            (f"__{name}_exact", "l_extendedprice", q),
            (f"__{name}_lo", "l_extendedprice", max(q - _GK_DELTA, 0.0)),
            (f"__{name}_hi", "l_extendedprice", min(q + _GK_DELTA, 1.0)),
        ]
    exact = exact_group_percentiles(li, "l_returnflag", targets)
    joined = approx.join(exact, "l_returnflag")
    cols = [F.col("l_returnflag"), F.col("n_rows")]
    for name in ("p50", "p95", "p99"):
        cols.append(F.round(f"__{name}_exact", 6).alias(f"{name}_exact"))
    for name in ("p50", "p95", "p99"):
        cols.append(
            (
                (F.col(f"__a{name}") >= F.col(f"__{name}_lo"))
                & (F.col(f"__a{name}") <= F.col(f"__{name}_hi"))
            ).alias(f"{name}_in_bound")
        )
    return joined.select(*cols)


@register(
    "q_rollup",
    oracle=f"""
    SELECT
      o_orderstatus,
      o_orderpriority,
      COUNT(*)                    AS n_orders,
      {dsum_sql('o_totalprice')}  AS sum_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
    tags=("agg",),
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical aggregate: (a,b), (a), () grouping sets."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum_fp("o_totalprice").alias("sum_price"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@register(
    "q_cube",
    oracle=f"""
    SELECT
      l_returnflag,
      l_linestatus,
      COUNT(*)                  AS n_rows,
      {dsum_sql('l_quantity')}  AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    tags=("agg",),
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cube over two dimensions."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum_fp("l_quantity").alias("sum_qty"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@register(
    "q_grouping_sets",
    oracle=f"""
    SELECT
      o_orderstatus,
      o_orderpriority,
      COUNT(*)                   AS n_orders,
      {dsum_sql('o_totalprice')} AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
    tags=("agg",),
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets (by status, and separately by priority)."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT
          o_orderstatus,
          o_orderpriority,
          COUNT(*)                                               AS n_orders,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_price
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


@register(
    "q_agg_pivot",
    oracle=f"""
    SELECT
      l_returnflag,
      {dsum_sql("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS qty_O,
      {dsum_sql("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS qty_F
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("agg",),
)
def q_agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide aggregation) with an explicit value list — explicit
    values avoid the extra distinct-values job Spark otherwise runs."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(dsum_fp("l_quantity"))
        .withColumnsRenamed({"O": "qty_O", "F": "qty_F"})
    )


@register(
    "q_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, metric, val
    FROM (SELECT l_orderkey, l_linenumber,
                 l_quantity, l_extendedprice, l_discount, l_tax
          FROM lineitem WHERE l_quantity >= 49)
    UNPIVOT (val FOR metric IN (l_quantity, l_extendedprice, l_discount, l_tax))
    ORDER BY l_orderkey, l_linenumber, metric
    """,
    tags=("agg", "reshape"),
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshaping (inverse of q_agg_pivot): one row per
    (line, measure).  ``unpivot`` is a narrow projection — each input
    row expands to 4 output rows in place, no shuffle, no Python; at
    100 TB it's a map-only stage that composes with pushdown (the
    quantity filter still reaches the scan)."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_quantity") >= 49)
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="metric",
        valueColumnName="val",
    )


@register(
    "q_agg_sketch_rollup",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(COUNT(DISTINCT month(o_orderdate)) AS BIGINT) AS n_months,
           COUNT(DISTINCT o_custkey) AS exact_customers,
           TRUE AS approx_in_bound,
           TRUE AS union_close_to_direct
    FROM orders
    GROUP BY 1
    ORDER BY 1
    """,
    tags=("agg", "approx"),
)
def q_agg_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count rollup via Apache DataSketches HLL
    (`hll_sketch_agg` / `hll_union_agg`): per-month sketches of
    distinct customers, unioned upward to per-year estimates WITHOUT
    re-scanning the fact table.

    This is the pre-aggregation pattern exact COUNT(DISTINCT) forbids:
    distinct counts don't add, but sketches union — so at 100 TB you
    materialize small per-partition sketches once (a few KB each) and
    answer every coarser rollup (year, region, all-time) from the
    sketch table alone.

    SELF-CERTIFYING harness (the q_agg_approx pattern): emits the exact
    per-year distinct count (oracle-reproduced) plus two booleans the
    oracle expects TRUE — the union-of-months estimate within 5% of
    exact, and union within 2% of the direct one-shot year sketch.
    (Union is register-max over the same value set, but DataSketches'
    union path composes its estimator differently than the single
    sketch, so the estimates are near- but not bit-identical — measured
    at sf0.01; hence tolerance, not equality.)  Rolling up must lose
    essentially nothing, and that mergeability claim is now
    driver-hash-checked, not just unit-tested."""
    o = load_table(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(
            F.year("o_orderdate").alias("o_year"),
            F.month("o_orderdate").alias("o_month"),
        )
        .agg(F.hll_sketch_agg("o_custkey").alias("sk"))
    )
    unioned = (
        monthly.groupBy("o_year")
        .agg(F.hll_union_agg("sk").alias("u"), F.count(F.lit(1)).alias("n_months"))
        .select(
            "o_year",
            F.hll_sketch_estimate(F.col("u")).alias("__union_est"),
            "n_months",
        )
    )
    direct = o.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey")).alias("__direct_est"),
        F.count_distinct("o_custkey").alias("exact_customers"),
    )
    return unioned.join(direct, "o_year").select(
        "o_year",
        "n_months",
        "exact_customers",
        (
            F.abs(F.col("__union_est") - F.col("exact_customers"))
            <= 0.05 * F.col("exact_customers")
        ).alias("approx_in_bound"),
        (
            F.abs(F.col("__union_est") - F.col("__direct_est"))
            <= 0.02 * F.col("__direct_est")
        ).alias("union_close_to_direct"),
    )
