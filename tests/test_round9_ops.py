"""Edge-case unit tests for the round-9 operators: the ddsketch domain
guard (r8 ADVICE enforcement), daily→monthly sketch-rollup merge
equivalence, weighted-PageRank mass conservation, and the stream-join
left-outer batch twin's unmatched-click rows."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# ----------------------------------------------------- sketch domain ----


def test_sketch_bins_rejects_sub_10_cent_values(spark):
    """r8 ADVICE: values < 10 cents have no two-digit p2 — the old code
    silently produced a wrong bin range (1-9) or a null error bound (0).
    The guard must raise at scan time instead."""
    from etl_template_spark.queries.ddsketch import sketch_bins

    bad = spark.createDataFrame([("A", 9), ("A", 1500)], "g string, cents long")
    with pytest.raises(Exception, match="out-of-domain"):
        sketch_bins(bad, "g", F.col("cents")).collect()

    ok = spark.createDataFrame([("A", 10), ("A", 1500)], "g string, cents long")
    bins = {
        (r["d"], r["p2"]): r["cnt"]
        for r in sketch_bins(ok, "g", F.col("cents")).collect()
    }
    assert bins == {(2, 10): 1, (4, 15): 1}


def test_quantile_rollup_merge_equals_direct_build(spark):
    """Shard-merge associativity at the query grain: daily sketches
    merged by SUM(cnt) to monthly must equal the monthly sketch built
    directly from rows (the same identity the oracle differential
    checks cross-engine)."""
    from etl_template_spark.io import load_table
    from etl_template_spark.queries.ddsketch import sketch_bins, sketch_quantiles

    li = load_table(spark, SF, "lineitem").select(
        "l_returnflag",
        F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
        F.to_date("l_shipdate").alias("ship_day"),
        "l_extendedprice",
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    daily = sketch_bins(li, ["l_returnflag", "ship_month", "ship_day"], cents)
    merged = daily.groupBy("l_returnflag", "ship_month", "d", "p2").agg(
        F.sum("cnt").alias("cnt")
    )
    direct = sketch_bins(li, ["l_returnflag", "ship_month"], cents)

    key = ["l_returnflag", "ship_month", "q"]
    a = sketch_quantiles(merged, ["l_returnflag", "ship_month"])
    b = sketch_quantiles(direct, ["l_returnflag", "ship_month"])
    rows_a = {tuple(r[k] for k in key): r["est"] for r in a.collect()}
    rows_b = {tuple(r[k] for k in key): r["est"] for r in b.collect()}
    assert rows_a == rows_b and len(rows_a) > 0


# ------------------------------------------- pagerank delta driver ----


_EDGES = [
    (1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (1, 3), (5, 1), (5, 3),
    (6, 2), (2, 6), (6, 7), (7, 6), (4, 7),
]


def _ranks(df):
    return {r["id"]: r["rank"] for r in df.collect()}


def test_pagerank_incremental_empty_delta_is_bit_exact(spark, tmp_path):
    """Two k-round refreshes over an unchanged graph must equal one
    2k-round from-scratch run BIT-FOR-BIT (the resume-as-data identity
    carried through the versioned store's parquet round-trip)."""
    from etl_template_spark.operators.graph import pagerank, pagerank_incremental

    root = str(tmp_path)
    edges = spark.createDataFrame(_EDGES, "src long, dst long")
    r1, v1 = pagerank_incremental(spark, root, "pr", edges, iters=3)
    r2, v2 = pagerank_incremental(spark, root, "pr", None, iters=3)
    assert (v1, v2) == (1, 2)
    assert _ranks(r2) == _ranks(pagerank(edges, iters=6))
    assert _ranks(r1) == _ranks(pagerank(edges, iters=3))


def test_pagerank_incremental_delta_converges_to_grown_fixed_point(
    spark, tmp_path
):
    """Warm-start over an edge delta is a convergence contract: each
    refresh decays the perturbation geometrically toward the grown
    graph's unique fixed point (differential vs from-scratch pagerank
    on the grown graph)."""
    from etl_template_spark.operators.graph import pagerank, pagerank_incremental

    root = str(tmp_path)
    base = spark.createDataFrame(_EDGES, "src long, dst long")
    pagerank_incremental(spark, root, "pr", base, iters=6)

    delta = spark.createDataFrame(
        [(8, 1), (1, 8), (8, 3), (7, 8), (2, 4)], "src long, dst long"
    )
    grown = base.unionByName(delta)
    ref = _ranks(pagerank(grown, iters=60))

    r_after_1, _ = pagerank_incremental(spark, root, "pr", delta, iters=6)
    d1 = max(abs(v - ref[k]) for k, v in _ranks(r_after_1).items())
    for _ in range(4):
        r_last, _ = pagerank_incremental(spark, root, "pr", None, iters=6)
    d5 = max(abs(v - ref[k]) for k, v in _ranks(r_last).items())
    assert set(_ranks(r_last)) == set(ref)  # node 8 appeared, none lost
    assert d5 < 1e-3 and d5 < d1 / 5  # geometric decay toward the fixed point


def test_pagerank_incremental_edge_log_stays_delta_sized(spark, tmp_path):
    """The edge log must hold each edge ONCE: a delta overlapping
    already-logged edges commits only the genuinely new ones, and a
    fully-redundant delta commits no edge version at all."""
    from etl_template_spark.io import list_versions, read_versioned
    from etl_template_spark.operators.graph import pagerank_incremental

    root = str(tmp_path)
    base = spark.createDataFrame(_EDGES, "src long, dst long")
    pagerank_incremental(spark, root, "pr", base, iters=2)
    overlap = spark.createDataFrame(
        [(1, 2), (2, 3), (9, 1)], "src long, dst long"  # 2 dupes + 1 new
    )
    pagerank_incremental(spark, root, "pr", overlap, iters=2)
    assert list_versions(root, "pr_edges") == [1, 2]
    v2 = read_versioned(spark, root, "pr_edges", version=2).collect()
    assert [(r["src"], r["dst"]) for r in v2] == [(9, 1)]
    # fully-redundant delta: no new edge version, ranks still advance
    pagerank_incremental(spark, root, "pr", overlap, iters=2)
    assert list_versions(root, "pr_edges") == [1, 2]
    assert list_versions(root, "pr_ranks") == [1, 2, 3]


def test_pagerank_incremental_requires_initial_delta(spark, tmp_path):
    from etl_template_spark.operators.graph import pagerank_incremental

    with pytest.raises(ValueError, match="first call"):
        pagerank_incremental(spark, str(tmp_path), "pr", None, iters=2)


# ------------------------------------------------- weighted pagerank ----


def test_pagerank_weighted_reduces_to_simple_on_unit_weights(spark):
    """With every (src, dst) pair appearing once, multiplicity weights
    are all 1 and weighted PageRank must equal the simple-graph
    operator bit-for-bit (same folds, w/wdeg == 1/deg)."""
    from etl_template_spark.operators.graph import pagerank, pagerank_weighted

    edges = spark.createDataFrame(_EDGES, "src long, dst long")
    a = {r["id"]: r["rank"] for r in pagerank(edges, iters=8).collect()}
    b = {r["id"]: r["rank"] for r in pagerank_weighted(edges, iters=8).collect()}
    assert a == b


def test_pagerank_weighted_multiplicity_shifts_rank(spark):
    """Parallel edges must matter: tripling 1→2 shifts rank toward 2
    in the weighted operator while the simple-graph one is unchanged;
    total rank stays ~1 (mass conserved)."""
    from etl_template_spark.operators.graph import pagerank, pagerank_weighted

    simple = [(1, 2), (1, 3), (2, 3), (3, 1)]
    multi = simple + [(1, 2), (1, 2)]  # 1→2 now has weight 3
    df_s = spark.createDataFrame(simple, "src long, dst long")
    df_m = spark.createDataFrame(multi, "src long, dst long")

    ps = {r["id"]: r["rank"] for r in pagerank(df_m, iters=10).collect()}
    ps_ref = {r["id"]: r["rank"] for r in pagerank(df_s, iters=10).collect()}
    assert ps == ps_ref  # simple-graph semantics: dupes collapse

    pw = {r["id"]: r["rank"] for r in pagerank_weighted(df_m, iters=10).collect()}
    pw_ref = {r["id"]: r["rank"] for r in pagerank_weighted(df_s, iters=10).collect()}
    assert pw[2] > pw_ref[2]  # 2 gains from the heavier in-edge
    assert pw[3] < pw_ref[3]  # 3 loses 1's redirected share
    assert abs(sum(pw.values()) - 1.0) < 1e-6


def test_pagerank_weighted_explicit_weight_column(spark):
    """An explicit weight column must equal the same graph expressed by
    row multiplicity (weight 3 == three parallel rows)."""
    from etl_template_spark.operators.graph import pagerank_weighted

    multi = [(1, 2), (1, 2), (1, 2), (1, 3), (2, 3), (3, 1)]
    df_m = spark.createDataFrame(multi, "src long, dst long")
    df_w = spark.createDataFrame(
        [(1, 2, 3), (1, 3, 1), (2, 3, 1), (3, 1, 1)], "src long, dst long, w long"
    )
    a = {r["id"]: r["rank"] for r in pagerank_weighted(df_m, iters=10).collect()}
    b = {
        r["id"]: r["rank"]
        for r in pagerank_weighted(df_w, weight="w", iters=10).collect()
    }
    assert a == b


# ---------------------------------------------- q_stream_join_outer ----


def test_stream_join_outer_batch_twin_matches_stream(spark, tmp_path, monkeypatch):
    """The registered left-outer batch twin must agree with the real
    watermarked stream-stream left-outer join over the same rows, for
    every click the stream has FINALIZED (watermark past its eviction
    point) — converted clicks carry their purchases, unconverted ones
    carry exactly one null row."""
    import json
    import os

    import etl_template_spark.queries.stream_outer as so
    from etl_template_spark.streaming import join_streams
    from etl_template_spark.streaming.jobs import read_events_stream, run_available_now

    batches = [
        [
            (1, "2024-01-01 10:00:00", 1, "click", 1.0),
            (2, "2024-01-01 10:30:00", 1, "purchase", 9.0),  # joins #1
            (3, "2024-01-01 10:05:00", 2, "click", 1.0),     # never converts
            (8, "2024-01-01 09:30:00", 2, "purchase", 2.0),  # BEFORE #3: no
            (9, "2024-01-01 11:00:00", 1, "purchase", 4.0),  # also joins #1
        ],
        [(4, "2024-01-02 23:00:00", 3, "click", 1.0)],       # click wm push
        [(5, "2024-01-03 23:00:00", 3, "purchase", 0.0)],    # purchase wm push
        [(6, "2024-01-03 23:30:00", 3, "click", 1.0)],       # flush batch
    ]
    path = str(tmp_path / "ev_jsonl")
    os.makedirs(path)
    for i, rows in enumerate(batches):
        fp = os.path.join(path, f"part-{i}.json")
        with open(fp, "w") as f:
            for e in rows:
                f.write(json.dumps({
                    "event_id": e[0], "ts": e[1], "user_id": e[2],
                    "event_type": e[3], "value": e[4], "props": "{}",
                }) + "\n")
        os.utime(fp, (1000 + i, 1000 + i))

    stream = read_events_stream(spark, path, max_files_per_trigger=1)
    joined = join_streams(
        stream.where(F.col("event_type") == "click"),
        stream.where(F.col("event_type") == "purchase"),
        within="2 hours",
        how="left_outer",
    )
    run_available_now(joined, "sjo_stream", str(tmp_path / "ckpt"))
    finalized = {1, 3}  # day-1 clicks: watermark long past; user-3 ones aren't
    got_stream = sorted(
        (r["click_id"], r["purchase_id"], r["purchase_value"])
        for r in spark.table("sjo_stream").collect()
        if r["click_id"] in finalized
    )

    ev = spark.createDataFrame(
        [(e[0], e[1], e[2], e[3], e[4]) for b in batches for e in b],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    monkeypatch.setattr(so, "load_table", lambda *_: ev)
    got_batch = sorted(
        (r["click_id"], r["purchase_id"], r["purchase_value"])
        for r in so.q_stream_join_outer(spark, SF).collect()
        if r["click_id"] in finalized
    )
    assert got_stream == got_batch == [(1, 2, 9.0), (1, 9, 4.0), (3, None, None)]


# ------------------- weighted delta driver + log compaction (late r9) ----


_WEDGES = [  # (src, dst, w) — explicit weights, multigraph-free
    (1, 2, 2), (2, 3, 1), (3, 1, 1), (1, 3, 1), (4, 1, 3), (3, 4, 2),
]


def test_pagerank_weighted_resume_identity(spark):
    """pagerank_weighted(iters=a+b) == the init_ranks continuation,
    BIT-FOR-BIT — the weighted resume-as-data identity the incremental
    driver's warm start relies on (same argument as the simple
    operator: scale-9 per-round rounding makes the state exact)."""
    from etl_template_spark.operators.graph import pagerank_weighted

    edges = spark.createDataFrame(_WEDGES, "src long, dst long, w long")
    whole = _ranks(pagerank_weighted(edges, weight="w", iters=6))
    half = pagerank_weighted(edges, weight="w", iters=3)
    resumed = _ranks(
        pagerank_weighted(edges, weight="w", iters=3, init_ranks=half)
    )
    assert resumed == whole


def test_pagerank_incremental_weighted_empty_delta_is_bit_exact(
    spark, tmp_path
):
    """The weighted flavor inherits the empty-delta composition: two
    3-round refreshes equal one 6-round from-scratch weighted run
    bit-for-bit, through the versioned store's parquet round-trip.
    Multiplicity mode (weight=None): parallel delta rows count."""
    from etl_template_spark.operators.graph import (
        pagerank_incremental,
        pagerank_weighted,
    )

    root = str(tmp_path)
    # _EDGES has parallel pairs? No — use explicit duplication so
    # multiplicity weighting is non-trivial: (1,2) appears twice.
    rows = _EDGES + [(1, 2), (5, 3)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    r1, v1 = pagerank_incremental(
        spark, root, "wpr", edges, iters=3, weighted=True
    )
    r2, v2 = pagerank_incremental(
        spark, root, "wpr", None, iters=3, weighted=True
    )
    assert (v1, v2) == (1, 2)
    assert _ranks(r2) == _ranks(pagerank_weighted(edges, iters=6))
    assert _ranks(r1) == _ranks(pagerank_weighted(edges, iters=3))


def test_pagerank_incremental_weighted_delta_converges(spark, tmp_path):
    """Weighted deltas converge to the grown weighted fixed point, same
    geometric-decay contract as the simple driver."""
    from etl_template_spark.operators.graph import (
        pagerank_incremental,
        pagerank_weighted,
    )

    root = str(tmp_path)
    base = spark.createDataFrame(_WEDGES, "src long, dst long, w long")
    pagerank_incremental(
        spark, root, "wpr", base, iters=6, weighted=True, weight="w"
    )
    delta = spark.createDataFrame(
        [(1, 2, 3), (5, 1, 2), (2, 5, 1)], "src long, dst long, w long"
    )
    grown = (
        base.unionByName(delta)
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )
    ref = _ranks(pagerank_weighted(grown, weight="w", iters=60))
    r_after_1, _ = pagerank_incremental(
        spark, root, "wpr", delta, iters=6, weighted=True, weight="w"
    )
    d1 = max(abs(v - ref[k]) for k, v in _ranks(r_after_1).items())
    for _ in range(4):
        r_last, _ = pagerank_incremental(
            spark, root, "wpr", None, iters=6, weighted=True
        )
    d5 = max(abs(v - ref[k]) for k, v in _ranks(r_last).items())
    assert set(_ranks(r_last)) == set(ref)
    assert d5 < 1e-3 and d5 < d1 / 5


def test_pagerank_incremental_weighted_tombstones_and_compaction(
    spark, tmp_path
):
    """Negative weighted deltas remove edges (zero totals leave the
    graph), over-removal keeps the negative running total through
    compaction, and compact_edge_log folds the log to ONE version whose
    per-pair rows are the exact running sums."""
    from etl_template_spark.io import list_versions, read_versioned
    from etl_template_spark.operators.graph import (
        compact_edge_log,
        pagerank_incremental,
    )

    root = str(tmp_path)
    base = spark.createDataFrame(
        [(1, 2, 2), (2, 3, 1), (3, 1, 1), (1, 3, 1)],
        "src long, dst long, w long",
    )
    pagerank_incremental(
        spark, root, "wpr", base, iters=2, weighted=True, weight="w"
    )
    # +1 to an existing pair, exact-zero another, over-remove a third
    d1 = spark.createDataFrame(
        [(1, 2, 1), (2, 3, -1), (3, 4, -2)], "src long, dst long, w long"
    )
    pagerank_incremental(
        spark, root, "wpr", d1, iters=2, weighted=True, weight="w"
    )
    pruned = compact_edge_log(spark, root, "wpr")
    assert pruned == 2 and list_versions(root, "wpr_edges") == [3]
    log = {
        (r["src"], r["dst"]): r["w"]
        for r in read_versioned(spark, root, "wpr_edges").collect()
    }
    # (2,3) hit exact zero -> dead row dropped; (3,4) stays negative
    assert log == {(1, 2): 3, (3, 1): 1, (1, 3): 1, (3, 4): -2}
    # later addition resumes from the TRUE running total: -2 + 3 = 1
    d2 = spark.createDataFrame([(3, 4, 3)], "src long, dst long, w long")
    pagerank_incremental(
        spark, root, "wpr", d2, iters=2, weighted=True, weight="w"
    )
    compact_edge_log(spark, root, "wpr")
    log2 = {
        (r["src"], r["dst"]): r["w"]
        for r in read_versioned(spark, root, "wpr_edges").collect()
    }
    assert log2 == {(1, 2): 3, (3, 1): 1, (1, 3): 1, (3, 4): 1}


def test_pagerank_incremental_mode_mismatch_raises(spark, tmp_path):
    from etl_template_spark.operators.graph import pagerank_incremental

    root = str(tmp_path)
    edges = spark.createDataFrame(_EDGES, "src long, dst long")
    pagerank_incremental(spark, root, "pr", edges, iters=2)
    with pytest.raises(ValueError, match="one mode for life"):
        pagerank_incremental(
            spark, root, "pr", None, iters=2, weighted=True
        )


def test_compact_edge_log_simple_is_refresh_transparent(spark, tmp_path):
    """Compacting a simple delta log changes NOTHING observable: an
    empty-delta refresh before and after compaction yields the
    bit-identical rank vector, and the log drops to one version."""
    from etl_template_spark.io import list_versions
    from etl_template_spark.operators.graph import (
        compact_edge_log,
        pagerank_incremental,
    )

    root = str(tmp_path)
    base = spark.createDataFrame(_EDGES, "src long, dst long")
    pagerank_incremental(spark, root, "pr", base, iters=2)
    for d in ([(8, 1), (1, 8)], [(9, 8), (8, 9)]):
        pagerank_incremental(
            spark,
            root,
            "pr",
            spark.createDataFrame(d, "src long, dst long"),
            iters=2,
        )
    before, _ = pagerank_incremental(spark, root, "pr", None, iters=3)
    before = _ranks(before)
    assert compact_edge_log(spark, root, "pr") == 3
    assert list_versions(root, "pr_edges") == [4]
    after, _ = pagerank_incremental(spark, root, "pr", None, iters=3)
    # not equal to `before` (three more rounds ran) — so re-derive:
    # the identity to pin is that the SAME refresh from the SAME warm
    # start produces the same vector pre/post compaction.  Rebuild an
    # identical second store without compaction and compare.
    root2 = str(tmp_path / "uncompacted")
    pagerank_incremental(spark, root2, "pr", base, iters=2)
    for d in ([(8, 1), (1, 8)], [(9, 8), (8, 9)]):
        pagerank_incremental(
            spark,
            root2,
            "pr",
            spark.createDataFrame(d, "src long, dst long"),
            iters=2,
        )
    pagerank_incremental(spark, root2, "pr", None, iters=3)
    twin, _ = pagerank_incremental(spark, root2, "pr", None, iters=3)
    assert _ranks(after) == _ranks(twin)
    assert _ranks(after) != before  # sanity: the refresh DID advance


# ------------------------------------------- oracle evaluation cost ----


def test_pagerank_oracles_materialize_every_cte():
    """DuckDB inlines CTEs by default, and each unrolled PageRank round
    r{i} references r{i-1} twice (contributions + dangling mass) — an
    inlined chain re-evaluates exponentially in rounds (~12 min per
    oracle at sf0.1 vs seconds materialized, identical sorted output).
    Pin the MATERIALIZED hint so an oracle regeneration can't silently
    reintroduce the blow-up into the soak and the driver's gate."""
    import re

    from etl_template_spark.queries.graph_q import _pagerank_oracle
    from etl_template_spark.queries.graph_weighted import _weighted_oracle

    for sql in (_pagerank_oracle(), _weighted_oracle()):
        # every CTE definition (`name AS (`) must carry the hint
        assert not re.search(r"\bAS\s*\(", sql), sql[:200]
        assert len(re.findall(r"\bAS MATERIALIZED\s*\(", sql)) >= 5 + 3 * 6


# ---------------------------------------- CC on the real pair graph ----


def test_cc_matches_union_find_on_real_pair_graph(spark, sf_dir, union_find_cc):
    """Min-label connected components must equal a driver-side
    union-find on the ACTUAL near-dup pair graph (q_dedup_fuzzy's
    LSH-verified pairs over the documents corpus), not just on
    synthetic graphs — the input both cluster queries and the
    incremental refresh run the kernel on."""
    from etl_template_spark.operators.cluster import connected_components
    from etl_template_spark.queries.llm_text import q_dedup_fuzzy

    pairs = q_dedup_fuzzy(spark, sf_dir).localCheckpoint(eager=True)
    a = {
        (r["id"], r["component"])
        for r in connected_components(pairs, src="d1", dst="d2").collect()
    }
    b = set(
        union_find_cc((r["d1"], r["d2"]) for r in pairs.collect()).items()
    )
    assert a == b
    assert a  # non-vacuous: the corpus does contain near-dup clusters


def test_cc_incremental_matches_from_scratch(spark, tmp_path, union_find_cc):
    """The labeling-as-sufficient-statistic claim, end to end: three
    delta refreshes (new pairs, a cluster-bridging edge, brand-new
    vertices chained in) must each land bit-for-bit on from-scratch CC
    over the union of every delta so far."""
    from etl_template_spark.operators.cluster import (
        connected_components_incremental,
    )

    root = str(tmp_path)
    deltas = [
        [(1, 2), (3, 4), (10, 10)],  # two pairs + a self-loop singleton
        [(5, 6), (2, 3)],            # bridge {1,2} with {3,4}
        [(7, 8), (8, 9), (6, 1)],    # new chain {7,8,9}; 6-1 bridges
                                     # {5,6} into {1,2,3,4}
    ]
    seen: list[tuple[int, int]] = []
    for dl in deltas:
        seen += dl
        got, _v = connected_components_incremental(
            spark, root, "dd",
            spark.createDataFrame(dl, "src long, dst long"),
        )
        assert {
            (r["id"], r["component"]) for r in got.collect()
        } == set(union_find_cc(seen).items())
    final = {r["id"]: r["component"] for r in got.collect()}
    assert final[5] == 1 and final[9] == 7 and final[10] == 10


def test_cc_incremental_empty_delta_is_readonly_noop(spark, tmp_path):
    """Empty/None deltas return the standing labeling WITHOUT a new
    version; the very first call must bring edges."""
    from etl_template_spark.operators.cluster import (
        connected_components_incremental,
    )

    root = str(tmp_path)
    with pytest.raises(ValueError, match="first call"):
        connected_components_incremental(spark, root, "dd", None)
    got1, v1 = connected_components_incremental(
        spark, root, "dd",
        spark.createDataFrame([(1, 2)], "src long, dst long"),
    )
    got2, v2 = connected_components_incremental(spark, root, "dd", None)
    got3, v3 = connected_components_incremental(
        spark, root, "dd",
        spark.createDataFrame([], "src long, dst long"),
    )
    assert v1 == v2 == v3
    rows = {(r["id"], r["component"]) for r in got1.collect()}
    assert rows == {(r["id"], r["component"]) for r in got2.collect()}
    assert rows == {(r["id"], r["component"]) for r in got3.collect()}
    assert rows == {(1, 1), (2, 1)}


# --------------------------------------------- incremental IVF ANN ----


def _embeddings_halves(spark, sf_dir):
    from etl_template_spark.io import load_table

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    return (
        e.where(F.col("vec_id") % 2 == 0),
        e.where(F.col("vec_id") % 2 == 1),
    )


def test_ivf_incremental_matches_from_scratch_assignment(spark, sf_dir, tmp_path):
    """Appending a delta must equal assigning the FULL corpus under the
    frozen (first-ingest-trained) centroids, bit-for-bit — cell
    assignment is a pure per-vector function of the centroids."""
    from etl_template_spark.io import load_table, read_versioned
    from etl_template_spark.operators.ann import ivf_index_incremental
    from etl_template_spark.queries.similarity import _assign_cells

    root = str(tmp_path)
    a, b = _embeddings_halves(spark, sf_dir)
    ivf_index_incremental(spark, root, "ann", a, k=8)
    merged, v = ivf_index_incremental(spark, root, "ann", b, k=8)
    assert v == 2  # one delta-sized version per ingest
    centroids = read_versioned(spark, root, "ann_centroids")
    want = _assign_cells(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", "embedding"
        ),
        centroids,
    )
    got = {(r["vec_id"], r["cell"]) for r in merged.collect()}
    assert got == {(r["vec_id"], r["cell"]) for r in want.collect()}
    assert len({c for _, c in got}) > 1  # non-vacuous: multiple cells


def test_ivf_search_equals_brute_force_over_probed_cells(spark, sf_dir, tmp_path):
    """The probe contract: top-k from ivf_search equals exact cosine
    top-k over the union of the query's nprobe cells."""
    from etl_template_spark.io import read_versioned
    from etl_template_spark.operators.ann import (
        ivf_index_incremental,
        ivf_search,
    )
    from etl_template_spark.queries.similarity import _assign_cells, cosine_col

    root = str(tmp_path)
    a, b = _embeddings_halves(spark, sf_dir)
    ivf_index_incremental(spark, root, "ann", a, k=8)
    merged, _ = ivf_index_incremental(spark, root, "ann", b, k=8)

    q = a.where(F.col("vec_id") == 0).select(
        F.lit(7).alias("qid"), "embedding"
    )
    got = [
        (r["qid"], r["vec_id"], r["cos_sim"], r["rank"])
        for r in ivf_search(spark, root, "ann", q, k=10, nprobe=3)
        .orderBy("rank")
        .collect()
    ]
    assert len(got) == 10 and [g[3] for g in got] == list(range(1, 11))

    centroids = read_versioned(spark, root, "ann_centroids")
    probed = {
        r["cell"]
        for r in _assign_cells(
            q.select(F.col("qid").alias("vec_id"), "embedding"), centroids, n=3
        ).collect()
    }
    qv = q.collect()[0]["embedding"]
    brute = (
        merged.where(F.col("cell").isin(*probed))
        .select(
            "vec_id",
            cosine_col(
                "embedding", "array(" + ", ".join(f"{float(x)!r}D" for x in qv) + ")"
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
        .collect()
    )
    assert [(g[1], g[2]) for g in got] == [
        (r["vec_id"], r["cos_sim"]) for r in brute
    ]


def test_ivf_incremental_redelivery_and_noop(spark, sf_dir, tmp_path):
    """Re-ingesting the same ids appends nothing (idempotent), empty
    deltas are read-only no-ops, and the first call must train."""
    from etl_template_spark.operators.ann import ivf_index_incremental

    root = str(tmp_path)
    a, _b = _embeddings_halves(spark, sf_dir)
    with pytest.raises(ValueError, match="first"):
        ivf_index_incremental(spark, root, "ann", None, k=8)
    m1, v1 = ivf_index_incremental(spark, root, "ann", a, k=8)
    n1 = m1.count()
    m2, v2 = ivf_index_incremental(spark, root, "ann", a, k=8)  # redelivery
    m3, v3 = ivf_index_incremental(spark, root, "ann", None, k=8)
    assert v1 == v2 == v3 == 1
    assert m2.count() == n1 and m3.count() == n1


def test_train_centroids_partition_invariant(spark, sf_dir):
    """The decimal-Lloyd claim, pinned: centroids must be bit-identical
    under 5 vs 32 shuffle partitions — a raw float AVG leaking into the
    mean would differ between widths (the laptop-vs-cluster drift
    shape the repo-wide invariance sweep guards queries against)."""
    from etl_template_spark.io import load_table
    from etl_template_spark.operators.ann import train_centroids

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    out = {}
    try:
        for n in ("5", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            out[n] = {
                r["cell"]: tuple(r["centroid"])
                for r in train_centroids(e, k=8).collect()
            }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert out["5"] == out["32"] and len(out["5"]) == 8


def test_ivf_incremental_rejects_internal_duplicate_ids(spark, sf_dir, tmp_path):
    """A delta with duplicate vec_ids must fail loudly: the
    cross-version anti-join can't see within-delta dupes, and silently
    double-entering the cell log breaks the from-scratch identity."""
    from etl_template_spark.operators.ann import ivf_index_incremental

    a, _ = _embeddings_halves(spark, sf_dir)
    dup = a.union(a.limit(1))
    with pytest.raises(ValueError, match="duplicate"):
        ivf_index_incremental(spark, str(tmp_path), "ann", dup, k=8)


def test_ivf_compact_is_search_transparent(spark, sf_dir, tmp_path):
    """Compaction folds the cell log to ONE version with search results
    identical bit-for-bit; redelivery of pre-compaction ids stays
    idempotent (the anti-join sees the compacted copy) and genuinely
    new vectors still append and surface."""
    from etl_template_spark.io import list_versions
    from etl_template_spark.operators.ann import (
        ivf_compact,
        ivf_index_incremental,
        ivf_search,
    )

    root = str(tmp_path)
    a, b = _embeddings_halves(spark, sf_dir)
    ivf_index_incremental(spark, root, "ann", a, k=8)
    ivf_index_incremental(spark, root, "ann", b, k=8)
    q = a.where(F.col("vec_id") == 0).select(F.lit(1).alias("qid"), "embedding")

    def results():
        return [
            (r["qid"], r["vec_id"], r["cos_sim"], r["rank"])
            for r in ivf_search(spark, root, "ann", q, k=10)
            .orderBy("rank")
            .collect()
        ]

    before = results()
    assert ivf_compact(spark, root, "ann", min_claim_age=0) == 2
    assert list_versions(root, "ann_cells") == [3]
    assert results() == before

    m0, v = ivf_index_incremental(spark, root, "ann", a, k=8)  # redelivery
    assert v == 3  # nothing appended
    n0 = m0.count()
    fresh = b.select(
        (F.col("vec_id") + 100000).alias("vec_id"), "label", "embedding"
    )
    merged, v = ivf_index_incremental(spark, root, "ann", fresh, k=8)
    assert v == 4 and merged.count() == n0 + fresh.count()


def test_ivf_incremental_rejects_dimension_drift(spark, sf_dir, tmp_path):
    """Ragged or index-mismatched embedding dimensions must fail loudly
    — zip_with pads the shorter vector with nulls, so a wrong-dim delta
    would silently mis-score every cosine."""
    from etl_template_spark.operators.ann import ivf_index_incremental

    root = str(tmp_path)
    a, b = _embeddings_halves(spark, sf_dir)
    ivf_index_incremental(spark, root, "ann", a, k=8)
    truncated = b.select(
        "vec_id", "label", F.slice("embedding", 1, 32).alias("embedding")
    )
    with pytest.raises(ValueError, match="dimension"):
        ivf_index_incremental(spark, root, "ann", truncated, k=8)
    ragged = b.union(truncated.limit(1).select(
        (F.col("vec_id") + 500000).alias("vec_id"), "label", "embedding"
    ))
    with pytest.raises(ValueError, match="ragged"):
        ivf_index_incremental(spark, root, "ann", ragged, k=8)


# ------------------------------------------ incremental BM25 index ----


def test_bm25_index_incremental_matches_from_scratch(spark, sf_dir, tmp_path):
    """The additive-stats claim, end to end: after two delta ingests,
    serving a query from the standing postings must equal the
    from-scratch bm25_rank over the full corpus BIT-FOR-BIT — every
    input to the score (tf, df, N, Σdl) is an integer count that sums
    across deltas."""
    from etl_template_spark.io import load_table
    from etl_template_spark.operators.invindex import (
        bm25_search,
        search_index_incremental,
    )
    from etl_template_spark.queries.retrieval import _BM25_TERMS, bm25_rank

    root = str(tmp_path)
    docs = load_table(spark, sf_dir, "documents")
    a = docs.where(F.col("doc_id") % 2 == 0)
    b = docs.where(F.col("doc_id") % 2 == 1)
    n1, v1 = search_index_incremental(spark, root, "idx", a)
    n2, v2 = search_index_incremental(spark, root, "idx", b)
    assert n1 > 0 and n2 > 0 and (v1, v2) == (1, 2)

    got = [
        (r["doc_id"], r["bm25"], r["n_hit"])
        for r in bm25_search(spark, root, "idx", _BM25_TERMS).collect()
    ]
    want = [
        (r["doc_id"], r["bm25"], r["n_hit"])
        for r in bm25_rank(docs, _BM25_TERMS).collect()
    ]
    assert got == want and len(got) == 20


def test_bm25_index_redelivery_and_compaction(spark, sf_dir, tmp_path):
    """Redelivered documents index nothing; compacting both logs with
    the generic retention hook leaves search results bit-identical."""
    from etl_template_spark.io import compact_merged_log, list_versions, load_table
    from etl_template_spark.operators.invindex import (
        bm25_search,
        search_index_incremental,
    )
    from etl_template_spark.queries.retrieval import _BM25_TERMS

    root = str(tmp_path)
    docs = load_table(spark, sf_dir, "documents")
    with pytest.raises(ValueError, match="first call"):
        search_index_incremental(spark, root, "idx", None)
    search_index_incremental(spark, root, "idx", docs.where(F.col("doc_id") % 2 == 0))
    search_index_incremental(spark, root, "idx", docs.where(F.col("doc_id") % 2 == 1))
    n3, v3 = search_index_incremental(
        spark, root, "idx", docs.where(F.col("doc_id") % 2 == 0)
    )
    assert (n3, v3) == (0, 2)  # redelivery: nothing indexed, no version

    before = [tuple(r) for r in bm25_search(spark, root, "idx", _BM25_TERMS).collect()]
    compact_merged_log(spark, root, "idx_post", min_claim_age=0)
    assert list_versions(root, "idx_post") == [3]
    after = [tuple(r) for r in bm25_search(spark, root, "idx", _BM25_TERMS).collect()]
    assert after == before


@pytest.mark.parametrize("ingest", ["bm25", "ivf"])
def test_ingest_writes_its_delta_without_rescanning_its_log(
    spark, sf_dir, tmp_path, monkeypatch, ingest
):
    """The second ingest's anti-joined delta is a snapshot (see the
    caching module docstring): its versioned write reads the pinned
    delta, never the log that the write appends to, so the log-sized
    anti-join runs once per ingest."""
    from etl_template_spark import io
    from etl_template_spark.operators.ann import ivf_index_incremental
    from etl_template_spark.operators.invindex import search_index_incremental

    root = str(tmp_path)
    if ingest == "bm25":
        docs = io.load_table(spark, sf_dir, "documents")
        a, b = (docs.where(F.col("doc_id") % 2 == r) for r in (0, 1))
        log = "idx_post"

        def run(d):
            return search_index_incremental(spark, root, "idx", d)
    else:
        a, b = _embeddings_halves(spark, sf_dir)
        log = "ann_cells"

        def run(d):
            return ivf_index_incremental(spark, root, "ann", d, k=8)

    run(a)
    write_versioned, inputs = io.write_versioned, []

    def spy(df, *args, **kwargs):
        inputs.append(df.inputFiles())
        return write_versioned(df, *args, **kwargs)

    monkeypatch.setattr(io, "write_versioned", spy)
    run(b)
    assert len(inputs) == 1
    assert not [f for f in inputs[0] if f"/{log}/" in f], inputs[0]
