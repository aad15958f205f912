"""Physical-plan assertions: the plan IS the scale contract.

Correctness tests prove the right rows come out; these prove the right
PLAN produces them — pushdown reaching the scan, broadcast picked for
bounded dims, rank-limit pushed into windows, bounded-heap top-k,
directory-level partition pruning, and the absence of the scale-killers
(cartesian products, forced fact broadcasts)."""

from __future__ import annotations

import os
import pytest

from etl_template_spark.queries import REGISTRY


def plan_of(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name].build(spark, sf_dir)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def node_count(p: str, name: str) -> int:
    """Number of PLAN NODES named ``name`` in a formatted explain.

    Counts the detail-section headers ``(id) Name`` — one per node —
    because raw substring counts are inflated: the formatted output
    prints every node in the tree AND in the details (2x), and join
    nodes carry modifiers (``BroadcastHashJoin Inner BuildRight (id)``)
    that defeat the ``"Name ("`` tree idiom (r10 mutation pass: the
    q_tpch_q5 LeftSemi >= 2 threshold was satisfied by ONE semi join's
    double print and missed a deleted prune)."""
    import re

    return len(re.findall(rf"^\({{1}}\d+\) {name}\b", p, re.M))


def test_scan_pushdown_and_pruning(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q_scan_parquet")
    pushed = next(l for l in p.splitlines() if "PushedFilters" in l)
    assert "GreaterThanOrEqual(l_quantity,45.0)" in pushed
    schema = next(l for l in p.splitlines() if "ReadSchema" in l)
    # projection pruned to the 4 selected columns of lineitem's 11
    assert schema.count(":") - 1 == 4 or schema.count(",") == 3


def test_filter_pushdown_composite(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q_filter")
    pushed = next(l for l in p.splitlines() if "PushedFilters" in l)
    assert "l_shipdate" in pushed and "IsNotNull" in pushed


def test_broadcast_join_for_bounded_dim(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q_join_broadcast")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_star_join_no_cartesian(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q_join_multi")
    assert "CartesianProduct" not in p


def test_theta_join_is_broadcast_nested_loop(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q_join_theta")
    # range join against the 3-row bands dim must be BNLJ, never a
    # cartesian of the fact table
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_topk_rank_limit_pushed_into_window(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q_topk_per_group")
    assert "WindowGroupLimit" in p


def test_global_topk_is_bounded_heap(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q_sort_limit")
    assert "TakeOrderedAndProject" in p


def test_flagship_has_partial_aggregation(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q_agg_group")
    # partial (map-side) + final HashAggregate around the shuffle
    assert p.count("HashAggregate (") >= 2  # tree nodes, not detail echoes
    pushed = next(l for l in p.splitlines() if "PushedFilters" in l)
    assert "l_shipdate" in pushed


def test_partitioned_read_prunes_directories(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q_sink_partitioned")
    part = next(l for l in p.splitlines() if "PartitionFilters" in l)
    assert "o_year" in part and "1997" in part


def test_dedup_fuzzy_no_cartesian_no_fact_broadcast(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q_dedup_fuzzy")
    assert "CartesianProduct" not in p


def test_sim_search_single_scan_topk(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q_sim_search")
    assert "TakeOrderedAndProject" in p
    # the 1-row query vector is the broadcast side
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


@pytest.mark.parametrize(
    "name",
    [
        "q_dedup_exact", "q_dedup_fuzzy", "q_dedup_ngram", "q_tfidf",
        "q_knn_join_blocked", "q_dedup_embedding", "q_dedup_incremental",
        "q_events_funnel", "q_events_retention",
    ],
)
def test_llm_operators_never_cartesian(spark, sf_dir, name):
    """The O(n²) guard: no LLM operator may plan a cartesian product."""
    assert "CartesianProduct" not in plan_of(spark, sf_dir, name)


def test_events_funnel_bounded_state_single_exchange(spark, sf_dir):
    """r14 (r13 ADVICE): the funnel must carry NO unbounded per-user
    aggregation state — the r13 shape buffered every click/purchase
    timestamp per user in an unspillable collect_list buffer (one bot
    user = one giant in-memory array).  The stage MINs now ride
    spillable Window frames with constant aggregation state, the whole
    funnel rides ONE exchange of the single events scan, and the final
    per-user collapse reuses that partitioning."""
    p = plan_of(spark, sf_dir, "q_events_funnel")
    assert "collect_list" not in p
    assert node_count(p, "ObjectHashAggregate") == 0
    assert node_count(p, "SortAggregate") == 0
    assert node_count(p, "Exchange") == 1
    assert node_count(p, "Scan parquet") == 1
    assert node_count(p, "Window") == 3


def test_tpch_q6_is_scan_bound(spark, sf_dir):
    """Q6 must be pure scan + 1-row aggregate: every predicate pushed,
    only the 4 referenced columns read, no join, no wide shuffle."""
    p = plan_of(spark, sf_dir, "q_tpch_q6")
    pushed = next(l for l in p.splitlines() if "PushedFilters" in l)
    for f in ("l_shipdate", "l_discount", "l_quantity"):
        assert f in pushed
    schema = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert schema.count(":") - 1 == 4  # qty, price, discount, shipdate
    assert "Join" not in p


def test_tpch_q8_star_all_dims_broadcast(spark, sf_dir):
    """Q8's seven-table star: every dimension (customer, supplier, part,
    nation x2, region) must broadcast — the only sort-merge join allowed
    is the fact-fact lineitem-orders join."""
    p = plan_of(spark, sf_dir, "q_tpch_q8")
    assert node_count(p, "BroadcastHashJoin") >= 5
    assert "CartesianProduct" not in p


def test_tpch_q2_window_min_decorrelation(spark, sf_dir):
    """Q2's correlated MIN must run as a window over the joined
    candidates — one lineitem-pairs aggregate, no second join of the
    partsupp side back to itself."""
    p = plan_of(spark, sf_dir, "q_tpch_q2")
    assert "Window" in p
    # distinct pair aggregate appears once, not re-derived for the min
    # (detail-section entries only; the tree section repeats each scan)
    scans = [l for l in p.splitlines() if l.startswith("(") and "Scan parquet" in l]
    assert len(scans) <= 5  # lineitem + part + supplier + nation + region


def test_tpch_q21_single_extra_shuffle_not_rescans(spark, sf_dir):
    """Q21's EXISTS/NOT-EXISTS collapses to one per-order aggregate:
    lineitem may scan at most twice (outer + stats), never the canonical
    three times, and no cartesian anywhere."""
    p = plan_of(spark, sf_dir, "q_tpch_q21")
    li_scans = sum(
        1 for l in p.splitlines() if "Location" in l and "lineitem.parquet" in l
    )
    assert 1 <= li_scans <= 2
    assert "CartesianProduct" not in p


def test_tpch_q19_band_prefilter_prunes_build_side(spark, sf_dir):
    """Q19's disjunctive bands must still hash-join on partkey (the
    extractable equi-key) with the brand/size union pushed to the part
    scan — not a nested-loop over the OR predicate."""
    p = plan_of(spark, sf_dir, "q_tpch_q19")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert any("p_brand" in l or "Or(" in l for l in pushed)


def test_range_join_binned_is_equi_join(spark, sf_dir):
    """The binned range join must plan as a hash/sort-merge EQUI join on
    the bin id — never BNLJ or cartesian (the whole point of the
    operator: both sides are fact-scaled, neither may broadcast as the
    join's build strategy at 100 TB)."""
    p = plan_of(spark, sf_dir, "q_join_range")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        # AQE may legitimately downgrade to broadcast at tiny SF — but
        # the JOIN KEY must still be the bin equi-key
        "BroadcastHashJoin" in p and "__range_bin" in p
    )


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    """Runtime row-level filtering (session.py enables it): a shuffle
    join whose build side is selectively filtered must inject a bloom
    filter of build-side join keys into the probe side's scan —
    `bloom_filter_agg` on the build side, `might_contain` in the probe
    filter.  Thresholds are forced here because the fixture tables are
    tiny; at production scale the defaults trigger on their own."""
    from etl_template_spark.io import load_table
    from pyspark.sql import functions as F

    forced = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k, None) for k in forced}
    try:
        for k, v in forced.items():
            spark.conf.set(k, v)
        o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 450000)
        li = load_table(spark, sf_dir, "lineitem")
        j = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "l_quantity", "o_totalprice"
        )
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        p = j._jdf.queryExecution().explainString(mode)
        assert "bloom_filter_agg" in p and "might_contain" in p
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_cbo_stats_flip_broadcast_decision(spark, tmp_path):
    """register_versioned_table (SURVEY §4.2's CBO row, round 9): a
    path-based parquet read carries only FILE SIZE, so a selectively-filtered
    dimension is still costed at full size and joins as sort-merge.
    With the version registered and ANALYZEd (rowCount + column NDV),
    CBO's filter estimation shrinks the post-filter estimate below the
    broadcast threshold and the SAME query plans a broadcast join —
    stats must actually CHANGE a decision, not just be recorded."""
    from pyspark.sql import functions as F

    from etl_template_spark.io import (
        read_versioned,
        register_versioned_table,
        write_versioned,
    )

    root = str(tmp_path)
    dim = spark.range(4000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("c"), (F.col("id") % 50).cast("string")).alias("category"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    fact = spark.range(200_000).select(
        (F.col("id") % 4000).alias("k"), (F.col("id") * 2).alias("v")
    )
    write_versioned(dim, root, "dim")
    write_versioned(fact, root, "fact")
    dim_bytes = sum(
        os.path.getsize(os.path.join(dp, fn))
        for dp, _, fns in os.walk(os.path.join(root, "dim", "v=1"))
        for fn in fns
    )

    forced = {
        "spark.sql.cbo.enabled": "true",
        # between the post-filter estimate (~1/50th) and the file size:
        # only a stats-informed planner can clear it
        "spark.sql.autoBroadcastJoinThreshold": str(dim_bytes // 2),
    }
    saved = {k: spark.conf.get(k, None) for k in forced}
    table = None
    try:
        for k, v in forced.items():
            spark.conf.set(k, v)
        table = register_versioned_table(
            spark, root, "dim", columns=["category", "k"]
        )
        stats = spark.sql(f"DESC EXTENDED {table}").where(
            "col_name = 'Statistics'"
        ).collect()
        assert "4000 rows" in stats[0]["data_type"]  # rowCount recorded

        f = read_versioned(spark, root, "fact")
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        sel = F.col("category") == F.lit("c7")
        p_path = (
            f.join(read_versioned(spark, root, "dim").where(sel), "k")
            ._jdf.queryExecution()
            .explainString(mode)
        )
        p_stats = (
            f.join(spark.table(table).where(sel), "k")
            ._jdf.queryExecution()
            .explainString(mode)
        )
        assert "SortMergeJoin" in p_path and "BroadcastHashJoin" not in p_path
        assert "BroadcastHashJoin" in p_stats and "SortMergeJoin" not in p_stats
    finally:
        if table is not None:
            spark.sql(f"DROP TABLE IF EXISTS {table}")
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_analyze_versioned_requires_committed_version(spark, tmp_path):
    """Stats on an uncommitted claim would describe data no reader can
    see; the helper must refuse."""
    import pytest as _pytest

    from etl_template_spark.io import register_versioned_table, write_versioned

    root = str(tmp_path)
    with _pytest.raises(FileNotFoundError):
        register_versioned_table(spark, root, "nope")
    write_versioned(spark.range(3).selectExpr("id"), root, "s")
    os.mkdir(os.path.join(root, "s", "v=2"))  # crashed claim, no _SUCCESS
    with _pytest.raises(FileNotFoundError):
        register_versioned_table(spark, root, "s", version=2)


def test_analyze_versioned_quote_safe_path(spark, tmp_path):
    """r9 ADVICE: the version path must travel to the catalog as a
    parameter (spark.catalog.createTable), not interpolated into
    single-quoted LOCATION DDL — a root containing a quote used to
    break the statement."""
    from etl_template_spark.io import register_versioned_table, write_versioned

    root = str(tmp_path / "it's a root")
    write_versioned(spark.range(5).selectExpr("id"), root, "s")
    table = register_versioned_table(spark, root, "s")
    try:
        stats = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
        assert any(
            "5 rows" in str(r) or "rowCount\t5" in "\t".join(map(str, r))
            or (r[0] == "Statistics" and "5 rows" in r[1])
            for r in stats
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_aqe_splits_skewed_join_partition(spark):
    """AQE skew-join handling (session.py turns it on): a pathologically
    hot join key must be SPLIT at runtime — the final adaptive plan
    carries SortMergeJoin(skew=true) with a skewed AQEShuffleRead —
    instead of one straggler task processing the whole key.  Thresholds
    are lowered because the fixture is tiny; at production scale the
    defaults (256 MB, factor 5) trigger on real hot keys."""
    from pyspark.sql import functions as F

    forced = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "100KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "100KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in forced}
    try:
        for k, v in forced.items():
            spark.conf.set(k, v)
        hot = spark.range(0, 200_000).select(
            (F.col("id") * 0).alias("k"), F.col("id").alias("v")
        )
        tail = spark.range(0, 1_000).select(
            (F.col("id") % 8 + 1).alias("k"), F.col("id").alias("v")
        )
        right = spark.range(0, 9).select(F.col("id").alias("k"), F.lit("x").alias("tag"))
        j = hot.union(tail).join(right, "k")
        # collect() drives THIS DataFrame's query execution to its final
        # adaptive plan (count() would spawn a separate execution)
        assert len(j.collect()) == 201_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_pii_scrub_is_zero_shuffle_projection(spark, sf_dir):
    """PII scrubbing must stay a pure scan+project: no Exchange, no
    aggregate — the whole pass is regexp work inside codegen."""
    p = plan_of(spark, sf_dir, "q_pii_scrub")
    assert "Exchange" not in p
    assert "codegen id" in p  # the projection runs inside codegen


def test_ngram_freq_is_partial_topk(spark, sf_dir):
    """The vocabulary top-20 must plan as TakeOrderedAndProject (per-
    partition top-k + merge) over a partial-aggregated count — never a
    global Sort of the vocabulary table."""
    p = plan_of(spark, sf_dir, "q_ngram_freq")
    assert "TakeOrderedAndProject" in p
    assert "partial_count" in p or "HashAggregate" in p
    assert "Sort [" not in p  # no global sort node


def test_pack_sequences_single_domain_shuffle(spark, sf_dir):
    """Sequence packing must shuffle ONCE (by packing domain) and run
    the prefix sum inside per-domain windows; a plan with a global
    single-partition window would serialize the corpus."""
    p = plan_of(spark, sf_dir, "q_pack_sequences")
    assert p.count("Exchange (") == 1  # one node in the plan tree
    assert "hashpartitioning(source" in p
    assert "SinglePartition" not in p
    assert "Window (" in p


def test_exact_percentile_is_spillable_sort_not_object_agg(spark, sf_dir):
    """Exact percentiles must plan as spillable sort-based rank
    selection: Spark's `percentile` aggregate buffers whole groups in an
    in-memory ObjectHashAggregate that cannot spill — an un-splittable
    scale-killer when one group holds 1/3 of a 100 TB fact table."""
    p = plan_of(spark, sf_dir, "q_agg_percentile")
    assert "ObjectHashAggregate" not in p
    assert "percentile" not in p.lower()
    assert "Window" in p  # row_number rank selection
    # the tiny group-count frame broadcasts back onto the ranked rows
    assert "BroadcastHashJoin" in p


# Queries whose plan legitimately contains BroadcastNestedLoopJoin.
# Every entry broadcasts a BOUNDED frame — a scalar parameter or a
# constant-size dim — against the big side; the loop is per-row constant
# work, not a pair explosion.  Anything NOT listed that plans a BNLJ is
# a bug.
_BNLJ_ALLOWED = {
    "q_join_theta": "3-row quantity-bands dim (non-equi by design)",
    "q_tpch_q11": "1-row global value threshold scalar",
    "q_tpch_q22": "1-row positive-balance threshold scalar",
    "q_dedup_ngram": "1-row corpus count feeding the DF cap",
    "q_tfidf": "1-row document count feeding idf",
    "q_bm25_rank": "1-row (N, total-token) globals feeding idf/avgdl",
    "q_heavy_hitters": "1-row total count feeding the support threshold",
    "q_sim_search": "1-row query vector",
    "q_sim_search_lsh": "1-row query vector + probe buckets",
    "q_sim_search_ivf": "1-row query vector + k centroids",
    "q_sim_search_pq": "1-row query vector + k-entry code tables",
    "q_stream_dedup_late": "1-row watermark-cutoff scalar (batch twin)",
    "q_dedup_semantic": "k-row broadcast centroid table (IVF assignment)",
    "q_distribution_drift": "1-row corpus-total scalar feeding Q(lang)",
    "q_anomaly_mad": "1-row median/MAD scalars over the bounded daily series",
    "q_ngram_pmi": "1-row unigram/bigram corpus totals feeding pmi",
    "q_locf_impute": "calendar-bounded date spine crossed onto the entity dim",
    "q_rank_metrics": "1-row (N, total-token) globals feeding idf/avgdl",
    "q_constraint_check": "1-row FK-violation scalar joined onto the 1-row lineitem stats",
    "q_quantile_sketch": "3-row quantile-target dim crossed onto the bounded bin table",
    "q_dedup_containment": "1-row corpus count feeding the DF cap (q_dedup_ngram's contract)",
    "q_quantile_rollup": "3-row quantile-target dim crossed onto the bounded monthly bin table",
}


def test_no_cartesian_product_in_any_query_plan(spark, sf_dir):
    """Blanket scale assertion over the ENTIRE registry: no operator
    may plan a CartesianProduct, and any BroadcastNestedLoopJoin outside
    the explicit allowlist is a bug — at 100 TB an un-keyed pair source
    is the difference between a job and an outage.  (Streaming twins
    assert their own plans in test_streaming.py; sink queries execute
    writes, which plan_of handles since builders are lazy.)"""
    offenders = {}
    for name in REGISTRY:
        try:
            p = plan_of(spark, sf_dir, name)
        except Exception as e:  # pragma: no cover - builder must not fail
            offenders[name] = f"plan build failed: {e}"
            continue
        if "CartesianProduct" in p:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in p and name not in _BNLJ_ALLOWED:
            offenders[name] = "BroadcastNestedLoopJoin (not allowlisted)"
    assert not offenders, offenders


def test_minmax_by_is_single_pass_no_window(spark, sf_dir):
    """The argmax/argmin family must plan as ONE partial+final
    aggregation pass — no Window over the fact table, no join-back.
    Struct-valued max/min doesn't ride the HashAggregate unsafe-row
    fast path, so Spark picks SortAggregate: still map-side partial
    (state = one struct per group), still spillable — the shape that
    survives any group size."""
    p = plan_of(spark, sf_dir, "q_agg_minmax_by")
    assert "Window" not in p and "Join" not in p
    assert "partial_max" in p and "partial_min" in p
    assert p.count("SortAggregate (") + p.count("HashAggregate (") >= 2
    assert p.count("Exchange (") == 1  # one shuffle of group partials


def test_histogram_is_pure_partial_aggregate(spark, sf_dir):
    """Fixed-bin histograms must be scan -> project -> partial agg ->
    final agg: one shuffle of (group, bin) partials, nothing else."""
    p = plan_of(spark, sf_dir, "q_histogram")
    assert "Window" not in p and "Join" not in p
    assert p.count("HashAggregate (") >= 2
    assert p.count("Exchange (") == 1


def test_transitions_topk_is_bounded_heap(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q_events_transitions")
    assert "TakeOrderedAndProject" in p


def test_stratified_sample_rank_limit_pushed(spark, sf_dir):
    """Exact-allocation stratified sampling must keep per-stratum state
    bounded at k (WindowGroupLimit), and its only shuffle is the
    stratum-key exchange for the window."""
    p = plan_of(spark, sf_dir, "q_sample_stratified")
    assert "WindowGroupLimit" in p
    assert p.count("Exchange (") == 1


def test_reservoir_sample_is_bounded_heap(spark, sf_dir):
    """The fixed-size corpus sample must plan TakeOrderedAndProject
    (per-partition k-heaps + driver merge), never a global sort."""
    p = plan_of(spark, sf_dir, "q_sample_reservoir")
    assert "TakeOrderedAndProject" in p
    assert "Exchange (" not in p  # no shuffle at all


def test_weighted_sample_broadcasts_mixture_spec(spark, sf_dir):
    """The mixture spec must broadcast onto the corpus scan — the
    corpus side never shuffles for the join."""
    p = plan_of(spark, sf_dir, "q_sample_weighted")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_lateral_topk_decorrelates_to_window_join(spark, sf_dir):
    """The correlated LATERAL (ORDER BY ... LIMIT k) subquery must
    decorrelate into a windowed top-k joined to the outer table —
    bounded state under WindowGroupLimit, no nested-loop re-execution
    per outer row."""
    p = plan_of(spark, sf_dir, "q_lateral_topk")
    assert "WindowGroupLimit" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_bm25_filters_terms_before_shuffle_and_bounds_topk(spark, sf_dir):
    """BM25's scale contract: the query-term filter applies to the
    generated token stream BEFORE any Exchange (tf/df aggregate a
    |Q|-bounded slice, never the full vocabulary), the per-doc ranking
    is a bounded heap (TakeOrderedAndProject), and every aggregation is
    partial before its shuffle."""
    p = plan_of(spark, sf_dir, "q_bm25_rank")
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    assert "HashAggregate" in p
    # the query-term IN-filter must exist AND sit DIRECTLY on the token
    # explode (its tree child is the Generate), i.e. before the tf/df
    # aggregates and their exchanges — not after the shuffle.  Find the
    # Filter detail node whose condition holds the IN-list, then check
    # the tree: the line after "Filter (N)" is its child.
    import re

    in_filters = {
        m.group(1)
        for m in re.finditer(r"\((\d+)\) Filter[^(]*\nInput[^\n]*\nCondition : [^\n]*? IN \(", p)
    }
    assert in_filters, "query-term IN-filter missing from the plan"
    tree = p.splitlines()
    ok = False
    for n in in_filters:
        for i, line in enumerate(tree):
            if line.rstrip().endswith(f"Filter ({n})") and i + 1 < len(tree):
                ok = ok or "Generate" in tree[i + 1]
    assert ok, "IN-filter is not applied directly to the token explode"


def test_dedup_url_is_zero_shuffle_normalization_plus_one_agg(spark, sf_dir):
    """URL canonicalization must stay a codegen'd projection on the
    scan: the only exchanges are the aggregate's partial->final pair and
    the final presentation sort; no joins, no windows."""
    p = plan_of(spark, sf_dir, "q_dedup_url")
    assert "Join" not in p and "Window" not in p
    assert p.count("HashAggregate (") >= 2  # partial + final (tree nodes)
    # exactly the aggregate's shuffle + the ORDER BY range exchange
    # (detail-section entries only; the tree repeats each node)
    exchanges = [
        l for l in p.splitlines() if l.startswith("(") and "Exchange" in l
    ]
    assert len(exchanges) <= 2, exchanges
    schema = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "doc_id" in schema and "text" not in schema  # column-pruned scan


def test_version_diff_plans_sort_merge_full_outer(spark, sf_dir):
    """The version changelog joins two fact-scaled versions: it must be
    a shuffle (sort-merge) full-outer equi-join on the dataset key —
    broadcasting either side of a 100 TB x 100 TB diff is an outage."""
    p = plan_of(spark, sf_dir, "q_version_diff")
    assert "SortMergeJoin" in p and "FullOuter" in p
    assert "BroadcastHashJoin" not in p
    assert "CartesianProduct" not in p


def test_dedup_bloom_two_phase_prefilter(spark, sf_dir):
    """The membership-prefilter contract: the bucket probe is a
    BROADCAST left-semi join (the compact set ships to every executor;
    definite-new rows exit before any shuffle) followed by the exact
    digest semi-join; no cartesian anywhere."""
    p = plan_of(spark, sf_dir, "q_dedup_bloom")
    assert "CartesianProduct" not in p
    assert "LeftSemi" in p
    assert node_count(p, "[A-Za-z]*Join") >= 2  # join NODES: bucket prefilter + exact verify
    assert "BroadcastHashJoin" in p  # the bucket set is the broadcast side
    assert "xxhash64" in p


def test_hll_registers_partial_combine_map_side(spark, sf_dir):
    """The portable HLL's scale story is that register max-merge
    partial-aggregates map-side, so the shuffle payload is <=256 rows
    per source regardless of corpus size — pin the partial_max on rho
    (and no window/sort anywhere in the sketch build)."""
    p = plan_of(spark, sf_dir, "q_agg_hll")
    assert "partial_max(rho" in p
    assert "WindowExec" not in p and "Window" not in p.split("== Physical Plan ==")[-1]


def test_attribution_join_is_keyed_never_loop(spark, sf_dir):
    """The touch-credit join must be a keyed join on user (hash or
    sort-merge; broadcast at fixture scale) with the time band as a
    residual condition — a BNLJ/cartesian here would pair every
    purchase with every touch at 100 TB."""
    p = plan_of(spark, sf_dir, "q_attribution_linear")
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert ("SortMergeJoin" in p) or ("BroadcastHashJoin" in p) or (
        "ShuffledHashJoin" in p
    )


def test_scd2_lookup_is_keyed_never_loop(spark, sf_dir):
    """PIT lookup: equi-join on the entity key with interval containment
    residual — the naive time-range formulation would be a loop join."""
    p = plan_of(spark, sf_dir, "q_scd2_lookup")
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert ("SortMergeJoin" in p) or ("BroadcastHashJoin" in p) or (
        "ShuffledHashJoin" in p
    )


def test_analyze_versioned_repoints_on_same_step_name(spark, tmp_path):
    """Two roots can share a (step, version) pair; a second
    register_versioned_table call must re-point the catalog table at the
    NEW root (IF NOT EXISTS would silently keep the first location and
    record stats against the wrong data)."""
    from pyspark.sql import functions as F

    from etl_template_spark.io import register_versioned_table, write_versioned

    try:
        roots = [str(tmp_path / "a"), str(tmp_path / "b")]
        for root, n in zip(roots, (100, 7)):
            write_versioned(
                spark.range(n).select(F.col("id").alias("k")), root, "dim"
            )
            table = register_versioned_table(spark, root, "dim")
            stats = (
                spark.sql(f"DESC EXTENDED {table}")
                .where("col_name = 'Statistics'")
                .collect()
            )
            assert f"{n} rows" in stats[0]["data_type"]
            assert spark.table(table).count() == n
    finally:
        spark.sql("DROP TABLE IF EXISTS dim_v1")


def test_incremental_tier_library_plans_no_cartesian(spark, sf_dir, tmp_path):
    """The r9 library operators get the same plan contract the
    registered queries get: no CartesianProduct anywhere; the IVF
    centroid pass is a broadcast against the k-row frame; CC and
    search joins are key equi-joins."""
    from pyspark.sql import functions as F

    from etl_template_spark.io import load_table
    from etl_template_spark.operators.ann import ivf_index_incremental, ivf_search
    from etl_template_spark.operators.cluster import connected_components

    def plan(df):
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        return df._jdf.queryExecution().explainString(mode)

    root = str(tmp_path)
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    merged, _ = ivf_index_incremental(spark, root, "ann", e, k=8)
    q = e.where(F.col("vec_id") == 0).select(F.lit(1).alias("qid"), "embedding")
    p = plan(ivf_search(spark, root, "ann", q, k=5, nprobe=2))
    assert "CartesianProduct" not in p
    assert "BroadcastExchange" in p  # the k-row centroid frame

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "src long, dst long"
    )
    p = plan(connected_components(pairs))
    assert "CartesianProduct" not in p

    from etl_template_spark.operators.invindex import (
        bm25_search,
        search_index_incremental,
    )

    docs = load_table(spark, sf_dir, "documents")
    search_index_incremental(spark, root, "idx", docs)
    p = plan(bm25_search(spark, root, "idx", ("data", "model")))
    assert "CartesianProduct" not in p  # the 1-row N join is BNLJ
    assert "BroadcastExchange" in p  # df + corpus stats broadcast
    # r10: the per-doc length frame must be semi-join-PRUNED to the
    # matched doc_ids (broadcast build — length rows stream, never
    # shuffle), so query cost tracks hit count, not corpus size
    assert "BroadcastHashJoin" in p and "LeftSemi" in p


def test_shingle_build_single_shuffle_feeds_minhash(spark, sf_dir):
    """The shingle table's one repartition(doc_id) must satisfy BOTH
    the distinct's (doc_id, s) clustering and the MinHash signature's
    groupBy(doc_id) — exactly ONE exchange in the whole explode →
    distinct → signature pipeline (r11: a bare .distinct() partitions
    by (doc_id, s), which no per-doc aggregate can reuse — one extra
    full shuffle of the engine's largest intermediate at 100 TB)."""
    from etl_template_spark.caching import release_tracked
    from etl_template_spark.operators.dedup import minhash_signature
    from etl_template_spark.queries.llm_text import _doc_shingles

    # earlier plan_of() calls register persists on this exact shingle
    # subplan; the CacheManager would rewrite the lineage below to an
    # InMemoryRelation and change the exchange count — drop them so
    # the test pins the COLD plan regardless of suite ordering
    release_tracked()
    spark.catalog.clearCache()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    sh = _doc_shingles(spark, sf_dir, k=3)  # no persist: lineage visible
    p = minhash_signature(sh)._jdf.queryExecution().explainString(mode)
    assert node_count(p, "Exchange") == 1


# Physical nodes that ship rows to a Python worker.
PYTHON_EXEC_NODES = {
    "MapInArrow",
    "PythonMapInArrow",
    "MapInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
}


@pytest.mark.parametrize(
    "name",
    [
        "q_dedup_fuzzy",
        "q_dedup_ngram",
        "q_dedup_containment",
        "q_fingerprint",
        "q_ngram_freq",
    ],
)
def test_shingle_queries_run_without_python_workers(spark, sf_dir, plan_nodes, name):
    """Shingling is one built-in expression (operators/dedup.shingles_sql):
    no shingle query may hand rows to a Python worker, whose start-up
    the first shingle query of a session would pay."""
    from etl_template_spark.caching import release_tracked

    release_tracked()
    try:
        df = REGISTRY[name].build(spark, sf_dir)
        df.collect()
        names = {
            node.getClass().getSimpleName().removesuffix("Exec")
            for node in plan_nodes(df._jdf.queryExecution().executedPlan())
        }
    finally:
        release_tracked()
    assert not names & PYTHON_EXEC_NODES, (name, sorted(names & PYTHON_EXEC_NODES))
    assert "Generate" in names  # the walk reached the shingle explode


def _source_hits(subdirs, pattern):
    """``path:line: text`` for every line of the package's modules under
    ``subdirs`` (``"."`` is the whole package) that matches ``pattern``."""
    import re
    from pathlib import Path

    import etl_template_spark

    pkg = Path(etl_template_spark.__file__).parent
    return [
        f"{path.relative_to(pkg)}:{n}: {line.strip()}"
        for sub in subdirs
        for path in sorted((pkg / sub).rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(pattern, line)
    ]


def test_query_builders_never_touch_jvm_internals():
    """Builders and operators stay on the public DataFrame API: no
    ``._jdf``, ``._jvm`` or ``._jsc`` reach-through, which has no
    Spark Connect counterpart (a Py4J probe there raises, and a
    best-effort fallback around it silently changes the plan).  Tests
    and profiling code may read plans through Py4J; query building may
    not."""
    hits = _source_hits(("operators", "queries"), r"\._(jdf|jvm|jsc)\b")
    assert not hits, hits


def test_package_starts_no_threads():
    """One thread builds, materializes and releases (the caching module's
    process-global registry relies on it), so no module of the package
    may import a threading API."""
    hits = _source_hits(
        (".",), r"^\s*(import|from)\s+(threading|_thread|concurrent\.futures)\b"
    )
    assert not hits, hits
