"""ANN quality tests: the approximate searches (LSH, IVF, PQ) are
hash-checked end-to-end by the harness oracles, but a bit-identical
pipeline says nothing about retrieval QUALITY — the recall-vs-exact and
candidate-exactness guarantees live here."""

from __future__ import annotations

import pytest

from etl_template_spark.queries import REGISTRY


@pytest.fixture(scope="module")
def results(spark, sf_dir):
    out = {}
    for name in ("q_sim_search", "q_sim_search_lsh", "q_sim_search_ivf", "q_sim_search_pq"):
        out[name] = REGISTRY[name].build(spark, sf_dir).collect()
    return out


def test_ivf_recall(results):
    exact = [r["vec_id"] for r in results["q_sim_search"]]
    ivf = [r["vec_id"] for r in results["q_sim_search_ivf"]]
    assert len(set(exact) & set(ivf)) / len(exact) >= 0.6


def test_lsh_recall_floor(results):
    # sign-LSH at mid-similarity regimes is the weak case (see docstring);
    # the floor asserts the multiprobe keeps it far from random
    exact = [r["vec_id"] for r in results["q_sim_search"]]
    lsh = [r["vec_id"] for r in results["q_sim_search_lsh"]]
    assert len(set(exact) & set(lsh)) / len(exact) >= 0.2


def test_candidates_are_exactly_scored(results):
    """Approximation may MISS neighbors but must never mis-score one:
    every returned (vec_id, cos_sim) must equal the exact computation."""
    exact_by_id = {r["vec_id"]: r["cos_sim"] for r in results["q_sim_search"]}
    for name in ("q_sim_search_lsh", "q_sim_search_ivf", "q_sim_search_pq"):
        for r in results[name]:
            if r["vec_id"] in exact_by_id:
                assert r["cos_sim"] == exact_by_id[r["vec_id"]], (name, r)


def test_ann_results_sorted_and_bounded(results):
    for name, rows in results.items():
        sims = [r["cos_sim"] for r in rows]
        assert sims == sorted(sims, reverse=True)
        assert len(rows) <= 10
        assert all(-1.0 <= s <= 1.0 for s in sims)


def test_pq_recall(results):
    """PQ with an exact-rerank pool: recall@10 vs the exact baseline.
    The ADC approximation only has to land true neighbors inside the
    top-_PQ_RERANK pool; the rerank restores exact order within it."""
    exact = [r["vec_id"] for r in results["q_sim_search"]]
    pq = [r["vec_id"] for r in results["q_sim_search_pq"]]
    assert len(set(exact) & set(pq)) / len(exact) >= 0.6


# ---------------------------------------------------------------------------
# salted blocked k-NN join: skew bound + result identity
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def skewed_vectors(spark):
    """One pathological block ('hot', 160 of 200 vectors) plus small
    blocks — the shape that serializes an un-salted blocked k-NN join."""
    import random

    rng = random.Random(7)
    rows = []
    for vid in range(200):
        label = "hot" if vid < 160 else f"cold{vid % 4}"
        rows.append((vid, label, [rng.uniform(-1, 1) for _ in range(8)]))
    return spark.createDataFrame(
        rows, "vec_id bigint, label string, embedding array<double>"
    )


def test_salted_knn_identical_to_naive(spark, skewed_vectors):
    """Salting must change the PLAN, never the rows."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_template_spark.operators.topk import knn_join_blocked
    from etl_template_spark.queries.similarity import cosine_col

    e = skewed_vectors
    probes = e.where(F.col("vec_id") < 30).select(
        "label", F.col("vec_id").alias("v1"), F.col("embedding").alias("emb1")
    )
    corpus = e.select(
        "label", F.col("vec_id").alias("v2"), F.col("embedding").alias("emb2")
    )
    salted = knn_join_blocked(
        probes, corpus,
        block_col="label", probe_id_cols=("v1",), corpus_id_col="v2",
        score=cosine_col("emb1", "emb2"), k=3,
        score_name="cos_sim", pair_filter=F.col("v1") != F.col("v2"),
    ).select("v1", "v2", "cos_sim", "rnk")

    w = Window.partitionBy("v1").orderBy(F.col("cos_sim").desc(), F.col("v2"))
    naive = (
        probes.join(corpus, "label")
        .where(F.col("v1") != F.col("v2"))
        .select("v1", "v2", cosine_col("emb1", "emb2").alias("cos_sim"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, naive.collect()))


def test_salted_pair_join_identical_to_naive(spark, skewed_vectors):
    """q_dedup_embedding's pair enumeration (salted_block_join +
    v1 < v2 + threshold) must return exactly the naive blocked join's
    rows on the pathologically skewed fixture — salting changes the
    plan, never the pair set."""
    from pyspark.sql import functions as F

    from etl_template_spark.operators.topk import salted_block_join
    from etl_template_spark.queries.similarity import cosine_col

    e = skewed_vectors
    a = e.select(
        "label", F.col("vec_id").alias("v1"), F.col("embedding").alias("emb1")
    )
    b = e.select(
        "label", F.col("vec_id").alias("v2"), F.col("embedding").alias("emb2")
    )
    cos = cosine_col("emb1", "emb2")
    salted = (
        salted_block_join(a, b, "label", "v2")
        .where(F.col("v1") < F.col("v2"))
        .select("v1", "v2", cos.alias("cos_sim"))
        .where(F.col("cos_sim") >= 0.2)
    )
    naive = (
        a.join(b, "label")
        .where(F.col("v1") < F.col("v2"))
        .select("v1", "v2", cos.alias("cos_sim"))
        .where(F.col("cos_sim") >= 0.2)
    )
    srows = sorted(map(tuple, salted.collect()))
    nrows = sorted(map(tuple, naive.collect()))
    assert srows == nrows
    assert len(srows) > 0  # threshold low enough that the test sees pairs


def test_salted_knn_bounds_hot_block_fanout(spark, skewed_vectors):
    """The quadratic term per task is |probes∩block| * |(block, salt)|:
    every salted sub-block must be a strict fraction of the hot block,
    and the hash must not degenerate (all salts populated)."""
    from pyspark.sql import functions as F

    n_salts = 8
    corpus_salted = skewed_vectors.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("vec_id")), F.lit(n_salts)).cast("int")
    )
    per_bucket = {
        (r["label"], r["_salt"]): r["count"]
        for r in corpus_salted.groupBy("label", "_salt").count().collect()
    }
    hot_total = 160
    hot_buckets = {s: c for (lab, s), c in per_bucket.items() if lab == "hot"}
    assert len(hot_buckets) == n_salts  # no empty salt → real split
    # xxhash64 spreads ~uniformly: every sub-block well under half the
    # block, i.e. the single-task quadratic term is gone
    assert max(hot_buckets.values()) <= hot_total // 2
    assert max(hot_buckets.values()) < 2 * (hot_total // n_salts + 1)


def test_salted_knn_rank_limit_pushed_into_both_windows(spark, sf_dir):
    """Both the per-salt partial top-k and the re-merge top-k must run
    under WindowGroupLimit (bounded per-group state), and the pair space
    must stay an equi-join — no cartesian."""
    df = REGISTRY["q_knn_join_blocked"].build(spark, sf_dir)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    p = df._jdf.queryExecution().explainString(mode)
    assert p.count("WindowGroupLimit") >= 2
    assert "CartesianProduct" not in p


def test_semantic_dedup_keep_first_matches_brute_force(spark, sf_dir):
    """q_dedup_semantic's verdict table re-derived by brute force: pull
    the cell assignment + embeddings once, then in NumPy drop exactly
    the vectors having a smaller-id in-cell neighbor with rounded
    cosine >= threshold.  Proves the salted block join + distinct +
    left-join verdict pipeline implements keep-first, independent of
    the SQL oracle."""
    import numpy as np

    from etl_template_spark.io import load_table
    from etl_template_spark.queries.semdedup import _SEM_THRESHOLD
    from etl_template_spark.queries.similarity import (
        _assign_cells,
        _ivf_centroids,
    )

    e = load_table(spark, sf_dir, "embeddings")
    assigned = _assign_cells(e, _ivf_centroids(e), n=1).collect()
    verdict = {
        r["vec_id"]: r["kept"]
        for r in REGISTRY["q_dedup_semantic"].build(spark, sf_dir).collect()
    }
    assert set(verdict) == {r["vec_id"] for r in assigned}

    by_cell: dict[int, list] = {}
    for r in assigned:
        by_cell.setdefault(r["cell"], []).append(r)
    expected = {}
    n_drop = 0
    for rows in by_cell.values():
        rows.sort(key=lambda r: r["vec_id"])
        m = np.array([r["embedding"] for r in rows], dtype=np.float64)
        norm = np.sqrt((m * m).sum(axis=1))
        cos = np.round((m @ m.T) / np.outer(norm, norm), 6)
        for i, r in enumerate(rows):
            dup = any(cos[j, i] >= _SEM_THRESHOLD for j in range(i))
            expected[r["vec_id"]] = not dup
            n_drop += dup
    # numpy's dot sum order differs from the engines' sequential fold;
    # verdicts can only diverge if a pair's cosine sits within an ulp
    # of the 6-decimal rounding boundary AT the threshold — no fixture
    # pair lands that close, so full equality is the correct assertion
    # (if a future fixture manufactures one, loosen to exclude pairs
    # with |cos - threshold| < 1e-6)
    assert expected == verdict
    assert n_drop > 0  # the fixture genuinely exercises the resolution
