"""Edge-case unit tests for the round-8 operators, on tiny inline
frames or invariants the oracle differential can't isolate: rolling
windows spanning gaps, split stability under corpus appends, mixture
availability caps, planted DQ violations, a planted contained document
(the shape Jaccard under-scores), and prefix-filter/unpruned-join
equivalence on adversarial shingle overlap."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_template_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------- q_rolling_stats ----


def test_rolling_stats_window_spans_gaps_correctly(spark, monkeypatch):
    """RANGE framing is the point: a customer ordering on days 1, 2 and
    10 must see the day-10 window containing ONLY day 10 — a 3-ROW
    frame would wrongly reach back to days 1-2 across the gap."""
    import etl_template_spark.queries.rolling as rol

    rows = [
        (1, "2024-01-01 00:00:00", 10.0),
        (1, "2024-01-02 00:00:00", 20.0),
        (1, "2024-01-10 00:00:00", 40.0),
        (1, "2024-01-12 00:00:00", 8.0),  # day 12: window covers 10+12
    ]
    df = spark.createDataFrame(
        rows, "o_custkey long, o_orderdate string, o_totalprice double"
    ).withColumn("o_orderdate", F.to_timestamp("o_orderdate"))
    monkeypatch.setattr(rol, "load_table", lambda *_: df)
    out = {str(r["d"]): r for r in rol.q_rolling_stats(spark, SF).collect()}

    assert out["2024-01-02"]["roll_n"] == 2  # days 1+2 inside 7d
    assert out["2024-01-02"]["roll_sum"] == 30.0
    assert out["2024-01-10"]["roll_n"] == 1  # gap: days 1-2 aged out
    assert out["2024-01-10"]["roll_sum"] == 40.0
    assert out["2024-01-12"]["roll_n"] == 2  # 10 and 12
    assert out["2024-01-12"]["roll_avg"] == 24.0


# ------------------------------------------------- q_train_test_split ----


def test_split_assignment_stable_under_append(spark, monkeypatch):
    """The leakage guarantee: a document's split is a pure function of
    its id, so appending new docs must not move ANY existing doc."""
    import etl_template_spark.queries.splits as sp
    from etl_template_spark.queries.sampling import hash_bucket

    def docs(n):
        return spark.createDataFrame(
            [(i, f"text {i}", "en", "src0", 10 + i) for i in range(n)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )

    bucket = hash_bucket(F.col("doc_id"), 100).cast("int")

    def assign(df):
        split = (
            F.when(bucket < sp._TRAIN_PCT, "train")
            .when(bucket < sp._TRAIN_PCT + sp._VAL_PCT, "val")
            .otherwise("test")
        )
        return {r["doc_id"]: r["s"] for r in df.select("doc_id", split.alias("s")).collect()}

    small = assign(docs(50))
    big = assign(docs(200))
    assert all(big[k] == v for k, v in small.items())
    # and the stats query reflects the full corpus partition
    monkeypatch.setattr(sp, "load_table", lambda *_: docs(200))
    out = {r["split"]: r for r in sp.q_train_test_split(spark, SF).collect()}
    assert sum(r["n_docs"] for r in out.values()) == 200


# -------------------------------------------------- q_dataset_mixture ----


def test_mixture_caps_at_availability(spark, monkeypatch):
    """A language with fewer documents than its target takes everything
    it has (honest under-supply, no upsampling); others fill exactly."""
    import etl_template_spark.queries.splits as sp

    rows = [(i, f"t {i}", "en" if i < 200 else "zh", "s", 5) for i in range(210)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(sp, "load_table", lambda *_: df)
    out = sp.q_dataset_mixture(spark, SF).groupBy("lang").count().collect()
    got = {r["lang"]: r["count"] for r in out}
    assert got["en"] == sp._MIX_TARGETS["en"]  # filled to target (120)
    assert got["zh"] == 10  # capped at availability (< 45 target)
    assert set(got) <= set(sp._MIX_TARGETS)


# ------------------------------------------------- q_constraint_check ----


def test_constraint_check_counts_planted_violations(spark, monkeypatch):
    """Planted violations must be counted exactly per constraint and
    flip pass to false; clean constraints stay pass=true."""
    import etl_template_spark.queries.dq as dq

    orders = spark.createDataFrame(
        [
            (1, 10, "O", 5.0),
            (2, None, "F", 7.0),    # null custkey
            (3, 12, "X", -1.0),     # bad status AND non-positive price
            (4, 13, None, None),    # NULL status AND NULL price: the
                                    # valid-form contract counts BOTH
                                    # (r8 review: NULLs satisfy nothing)
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double",
    ).withColumn("o_orderdate", F.current_timestamp())
    lineitem = spark.createDataFrame(
        [
            (1, 5.0, 0.05),
            (99, 60.0, 0.05),   # orphan orderkey AND quantity out of range
            (2, 3.0, 0.5),      # discount out of range
            (3, None, 0.05),    # NULL quantity → range violation
        ],
        "l_orderkey long, l_quantity double, l_discount double",
    )

    def fake_load(_spark, _sf, table):
        return {"orders": orders, "lineitem": lineitem}[table]

    monkeypatch.setattr(dq, "load_table", fake_load)
    out = {r["check_name"]: r for r in dq.q_constraint_check(spark, SF).collect()}

    assert out["orders_custkey_not_null"]["n_violations"] == 1
    assert out["orders_totalprice_positive"]["n_violations"] == 2  # -1.0 + NULL
    assert out["orders_status_domain"]["n_violations"] == 2  # 'X' + NULL
    assert out["lineitem_quantity_range"]["n_violations"] == 2  # 60.0 + NULL
    assert out["lineitem_discount_range"]["n_violations"] == 1
    assert out["lineitem_orderkey_fk"]["n_violations"] == 1
    assert all(not r["pass"] for r in out.values())
    assert all(r["n_checked"] == 4 for r in out.values())


# ----------------------------------------------- q_dedup_containment ----


def test_containment_detects_planted_inclusion_jaccard_misses(spark, monkeypatch):
    """A short doc fully embedded in a long one: containment ≈ 1 (the
    pair IS reported) while true Jaccard is far below the 0.5 near-dup
    bar (q_dedup_ngram's contract would NOT pair them) — the capability
    gap this operator exists for."""
    import etl_template_spark.queries.containment as ct

    inner = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i}" for i in range(40))
    rows = [
        (1, inner),
        (2, inner + " " + filler),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    monkeypatch.setattr(ct, "load_table", lambda *_: df)
    # also patch the shingle source (llm_text reads documents itself)
    import etl_template_spark.queries.llm_text as lt

    monkeypatch.setattr(lt, "load_table", lambda *_: df)
    out = ct.q_dedup_containment(spark, SF).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["d1"], r["d2"]) == (1, 2)
    assert r["containment"] == 1.0
    # Jaccard for the same pair is small: |A|=4 shingles, |B|=45,
    # intersection 4 → 4/45 < 0.5
    assert r["n_small"] == 4


# ----------------------------------------------------- q_dedup_prefix ----


def test_prefix_join_equals_unpruned_join_on_hot_shingles(spark):
    """Prefix filtering must be output-identical to the completely
    unpruned join even when a stopword-like shingle links EVERY doc
    (the bucket the prefix is designed to skip): pairs below threshold
    via only the hot shingle must not appear, true pairs must."""
    from etl_template_spark.operators.dedup import ngram_jaccard_pairs_prefix

    rows = []
    # 6 docs sharing one hot shingle; docs 1/2 are near-identical
    for i in range(1, 7):
        base = f"common stop word unique{i} tail{i} end{i}"
        rows.append((i, base))
    rows[1] = (2, rows[0][1].replace("unique1", "unique1"))  # doc2 == doc1 text
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = df.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(split(text,' ')) - 2),"
                " i -> concat_ws(' ', slice(split(text,' '), i, 3)))"
            )
        ).alias("s"),
    ).distinct()

    got = sorted(map(tuple, ngram_jaccard_pairs_prefix(sh, 0.5).collect()))
    # brute-force truth
    import itertools

    shl = {
        r["doc_id"]: set()
        for r in df.collect()
    }
    for r in sh.collect():
        shl[r["doc_id"]].add(r["s"])
    expect = []
    for a, b in itertools.combinations(sorted(shl), 2):
        inter = len(shl[a] & shl[b])
        jac = round(inter / len(shl[a] | shl[b]), 6)
        if jac >= 0.5:
            expect.append((a, b, jac))
    assert got == sorted(expect)
    assert (1, 2, 1.0) in got  # the planted duplicate pair survives


# --------------------------------------------------------- q_pagerank ----


def test_pagerank_fixture_ranks_sum_to_one(spark):
    """Conservation invariant on the registered fixture: dangling mass
    redistribution keeps total rank ≈ 1 after every round (here: the
    final round), and supplier (odd-id) nodes out-rank part nodes on
    average — in-degree flows to the bipartite sink side."""
    df = REGISTRY["q_pagerank"].build(spark, SF)
    rows = df.collect()
    total = sum(r["rank"] for r in rows)
    assert abs(total - 1.0) < 1e-3
    supp = [r["rank"] for r in rows if r["id"] % 2 == 1]
    part = [r["rank"] for r in rows if r["id"] % 2 == 0]
    assert sum(supp) / len(supp) > sum(part) / len(part)


# ------------------------------------------------------ q_rank_metrics ----


def test_rank_metrics_fixture_is_nonvacuous(spark):
    """The registered eval must produce meaningful spread: every metric
    in (0, 1]; at least one query strictly below perfect nDCG (a
    constant-1 metric column would certify nothing)."""
    rows = REGISTRY["q_rank_metrics"].build(spark, SF).collect()
    assert len(rows) == 3
    for r in rows:
        assert 0.0 < r["ndcg"] <= 1.0
        assert 0.0 < r["mrr"] <= 1.0
        assert 0.0 < r["recall"] <= 1.0
    assert any(r["ndcg"] < 1.0 for r in rows)


# ----------------------------------------------------- q_quantile_sketch ----


def test_quantile_sketch_merges_as_data(spark):
    """The sketch artifact must merge by plain SUM: bins built per
    shard and summed must equal bins built over the whole frame — the
    q_agg_hll-style mergeability that lets 100 TB build sketches per
    partition and roll them up."""
    from etl_template_spark.io import load_table
    from etl_template_spark.queries.ddsketch import sketch_bins

    li = load_table(spark, SF, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    whole = sorted(
        map(tuple, sketch_bins(li, "l_returnflag", cents).collect())
    )
    shards = [
        sketch_bins(li.where(F.col("l_orderkey") % 3 == i), "l_returnflag", cents)
        for i in range(3)
    ]
    merged = sorted(
        map(
            tuple,
            shards[0]
            .unionByName(shards[1])
            .unionByName(shards[2])
            .groupBy("l_returnflag", "d", "p2")
            .agg(F.sum("cnt").alias("cnt"))
            .collect(),
        )
    )
    assert merged == whole


def test_quantile_sketch_estimates_within_certified_bounds(spark):
    """Self-certification: every estimate must lie within its OWN
    emitted rel_err_bound of the exact quantile (computed
    independently via percentile_cont on the same data)."""
    from etl_template_spark.io import load_table
    from etl_template_spark.queries import REGISTRY

    rows = REGISTRY["q_quantile_sketch"].build(spark, SF).collect()
    li = load_table(spark, SF, "lineitem")
    exact = {
        (r["l_returnflag"], q): r[f"p{q}"]
        for q in (0.5, 0.9, 0.99)
        for r in li.groupBy("l_returnflag")
        .agg(
            *[
                F.expr(
                    f"percentile_cont({q}) WITHIN GROUP (ORDER BY l_extendedprice)"
                ).alias(f"p{q}")
                for q in (0.5, 0.9, 0.99)
            ]
        )
        .collect()
    }
    assert len(rows) == 9
    for r in rows:
        ex = exact[(r["l_returnflag"], r["q"])]
        rel = abs(r["est"] - ex) / ex
        # the bin containing the rank-selected value certifies its own
        # half-width; the exact (interpolated) quantile can sit at most
        # one bin boundary away from the midpoint → bound + width slack
        assert rel <= r["rel_err_bound"] + 0.01, (r, ex, rel)
