"""Advanced SQL surface: subqueries (scalar / IN / correlated),
statistical aggregates, and ordered string aggregation.

These exercise Catalyst's subquery machinery — ScalarSubquery execution
and `RewriteCorrelatedScalarSubquery` decorrelation (a correlated
subquery becomes an aggregate + join, NOT a per-row re-execution; that
rewrite is what makes the shape survive 100 TB) — and the aggregate
functions beyond sum/avg.

Determinism notes: scalar averages route through the exact-decimal path
(compat.dsum discipline); stddev/variance are computed from exact
decimal sums of x and x² (the textbook identity) rather than the
engines' internal streaming accumulators, which differ in merge order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..compat import davg_sql, dsum, dsum_sql
from ..io import load_table
from ..registry import register


def _view(spark: SparkSession, sf_dir: str, name: str, alias: str) -> None:
    load_table(spark, sf_dir, name).createOrReplaceTempView(alias)


@register(
    "q_subquery_scalar",
    oracle=f"""
    SELECT o_orderkey, o_totalprice,
           round(o_totalprice - (SELECT {davg_sql('o_totalprice')} FROM orders), 2)
             AS dev_from_mean
    FROM orders
    WHERE o_totalprice > (SELECT {davg_sql('o_totalprice')} FROM orders) * 1.5
    ORDER BY o_orderkey
    """,
    tags=("sql", "subquery"),
)
def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery: orders 50% above the mean price.
    Catalyst executes the subquery once and broadcasts the scalar —
    one extra tiny job, not a per-row anything."""
    _view(spark, sf_dir, "orders", "adv_orders")
    return spark.sql(
        f"""
        SELECT o_orderkey, o_totalprice,
               round(o_totalprice - (SELECT {davg_sql('o_totalprice')} FROM adv_orders), 2)
                 AS dev_from_mean
        FROM adv_orders
        WHERE o_totalprice > (SELECT {davg_sql('o_totalprice')} FROM adv_orders) * 1.5
        """
    )


@register(
    "q_subquery_in",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
    ORDER BY c_custkey
    """,
    tags=("sql", "subquery"),
)
def q_subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN subquery → planned as a left-semi join (decorrelation), never
    a per-row probe."""
    _view(spark, sf_dir, "customer", "adv_customer")
    _view(spark, sf_dir, "orders", "adv_orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM adv_customer
        WHERE c_custkey IN (SELECT o_custkey FROM adv_orders WHERE o_totalprice > 400000)
        """
    )


@register(
    "q_subquery_correlated",
    oracle=f"""
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
    FROM orders o
    WHERE o.o_totalprice >
          (SELECT {davg_sql('o2.o_totalprice')} * 1.8 FROM orders o2
           WHERE o2.o_custkey = o.o_custkey)
    ORDER BY o.o_orderkey
    """,
    tags=("sql", "subquery"),
)
def q_subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (orders 80% above their own
    customer's average).  Catalyst's RewriteCorrelatedScalarSubquery
    turns it into groupBy(custkey)+join — the only formulation that
    scales; the SQL stays declarative."""
    _view(spark, sf_dir, "orders", "adv_orders")
    return spark.sql(
        f"""
        SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
        FROM adv_orders o
        WHERE o.o_totalprice >
              (SELECT {davg_sql('o2.o_totalprice')} * 1.8 FROM adv_orders o2
               WHERE o2.o_custkey = o.o_custkey)
        """
    )


@register(
    "q_agg_stats",
    oracle=f"""
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*)                     AS n,
             {dsum_sql('l_quantity')}     AS s1,
             {dsum_sql('l_quantity * l_quantity')} AS s2
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag,
           n AS n_rows,
           round((s2 - s1 * s1 / n) / (n - 1), 4)        AS var_qty,
           round(sqrt((s2 - s1 * s1 / n) / (n - 1)), 4)  AS stddev_qty,
           round(s1 / n, 4)                              AS mean_qty
    FROM m
    ORDER BY l_returnflag
    """,
    tags=("agg", "stats"),
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance / stddev per group via exact decimal sums of x and x²
    (sum-of-squares identity): order-independent and bit-identical
    cross-engine, unlike the engines' internal streaming moment
    accumulators whose merge order differs."""
    li = load_table(spark, sf_dir, "lineitem")
    grouped = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("l_quantity").alias("s1"),
        dsum("l_quantity * l_quantity").alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    var = (s2 - s1 * s1 / n) / (n - 1)
    return grouped.select(
        "l_returnflag",
        n.alias("n_rows"),
        F.round(var, 4).alias("var_qty"),
        F.round(F.sqrt(var), 4).alias("stddev_qty"),
        F.round(s1 / n, 4).alias("mean_qty"),
    )


@register(
    "q_agg_percentile",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 6)  AS p50_qty,
           round(quantile_cont(l_quantity, 0.9), 6)  AS p90_qty,
           round(quantile_cont(l_extendedprice, 0.99), 4) AS p99_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("agg", "stats"),
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles via sort-based rank selection.

    Spark's ``percentile`` aggregate buffers every group's values in an
    in-memory ObjectHashAggregate buffer that cannot spill — with 3
    ``l_returnflag`` groups one task would hold ~1/3 of lineitem's
    values, an un-splittable scale-killer at 100 TB.  This formulation
    keeps memory bounded at any group size:

    1. ``row_number`` per (group, value-sort) — WindowExec's partition
       buffer spills to disk, and the sort itself is a spillable
       sort-merge;
    2. group counts are a tiny pre-aggregate broadcast back onto the
       ranked rows;
    3. rows are PRUNED to the <=2 ranks each target percentile can
       touch before the final (tiny) aggregate interpolates
       ``lo + frac * (hi - lo)`` — 0-based position ``(n-1)*p``,
       exactly DuckDB's ``quantile_cont`` arithmetic.

    One full sort per distinct measure column is the cost; bounded
    memory and splittable tasks are what it buys.  The unbounded-
    cardinality fast path remains ``approx_percentile`` (t-digest,
    q_agg_approx_percentile), checked rows-only because estimates are
    engine-specific.  Formulation lives in operators/percentiles.py
    (property-tested vs numpy linear interpolation); this query is its
    oracle-checked instantiation.

    PLAN NOTE (r14): the executed plan changed through the shared
    operator (one pinned key-repartition now feeds the group list and
    every per-column window sort — 3 lineitem scans+shuffles → 1 scan
    + 1 shuffle + cache reads, commit 2dbbea3) without this module's
    content changing.  This note exists to invalidate the recorded
    stamp so the r14 window re-certifies the current plan — the same
    shared-helper blind-spot closure r11 used for the containment/
    prefix pair."""
    from ..operators.percentiles import exact_group_percentiles

    li = load_table(spark, sf_dir, "lineitem")
    raw = exact_group_percentiles(
        li,
        "l_returnflag",
        [
            ("p50_qty", "l_quantity", 0.5),
            ("p90_qty", "l_quantity", 0.9),
            ("p99_price", "l_extendedprice", 0.99),
        ],
    )
    return raw.select(
        "l_returnflag",
        F.round("p50_qty", 6).alias("p50_qty"),
        F.round("p90_qty", 6).alias("p90_qty"),
        F.round("p99_price", 4).alias("p99_price"),
    )


@register(
    "q_string_agg",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           string_agg(c_name, '|' ORDER BY c_name) AS names
    FROM (SELECT * FROM customer WHERE c_custkey <= 100)
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    tags=("agg", "string"),
)
def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (listagg): collect_list under a
    deterministic sort via array_sort — the unordered collect_list is
    nondeterministic across partitions, which is a correctness bug, not
    a style choice.  Bounded to 100 customers: unbounded string agg is
    an anti-pattern at scale (collect_list state grows with the group)."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") <= 100)
    return (
        c.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.array_join(F.array_sort(F.collect_list("c_name")), "|").alias("names"),
        )
    )
