"""Unit tests for the composite operators on tiny inline frames:
edge cases the oracle-differential suite can't isolate (ties, tolerance,
empty inputs, null handling, concurrent version claims)."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from etl_template_spark.io import claim_next_version, latest_version
from etl_template_spark.operators.asof import asof_join
from etl_template_spark.operators.dedup import (
    dedup_exact,
    lsh_candidate_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    shingles_col,
    shingles_sql,
    verified_jaccard,
)
from etl_template_spark.operators.sessionize import sessionize
from etl_template_spark.operators.skew import replicate_join, salted_agg
from etl_template_spark.operators.topk import top_k_per_group

TS = "2024-01-01 {}:00"


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------- asof ----


def test_asof_basic_and_no_match(spark):
    left = _df(
        spark,
        [(1, "10:00", "a"), (1, "12:00", "b"), (2, "09:00", "c")],
        "k int, t string, payload string",
    ).withColumn("t", F.col("t").cast("timestamp"))
    right = _df(
        spark,
        [(1, "09:30", 100.0), (1, "11:00", 200.0), (2, "09:30", 300.0)],
        "k int, rt string, v double",
    ).withColumn("rt", F.col("rt").cast("timestamp"))
    out = asof_join(
        left, right, left_on="k", right_on="k", left_time="t", right_time="rt",
        value_cols=["v"],
    )
    got = {(r["k"], r["payload"]): r["v"] for r in out.collect()}
    assert got[(1, "a")] == 100.0   # latest right <= 10:00
    assert got[(1, "b")] == 200.0   # latest right <= 12:00
    assert got[(2, "c")] is None    # right at 09:30 > 09:00 → no match


def test_asof_tie_at_equal_time_matches(spark):
    # right row AT the left timestamp counts (<= semantics)
    left = _df(spark, [(1, "10:00")], "k int, t string").withColumn(
        "t", F.col("t").cast("timestamp")
    )
    right = _df(spark, [(1, "10:00", 7.0)], "k int, rt string, v double").withColumn(
        "rt", F.col("rt").cast("timestamp")
    )
    out = asof_join(left, right, "k", "k", "t", "rt", value_cols=["v"]).collect()
    assert out[0]["v"] == 7.0


def test_asof_null_value_in_latest_match_is_preserved(spark):
    # the latest right row carries a NULL v — must NOT resurrect the
    # older non-null value (struct-packed carry)
    left = _df(spark, [(1, "12:00")], "k int, t string").withColumn(
        "t", F.col("t").cast("timestamp")
    )
    right = _df(
        spark,
        [(1, "10:00", 1.0, "x"), (1, "11:00", None, "y")],
        "k int, rt string, v double, tag string",
    ).withColumn("rt", F.col("rt").cast("timestamp"))
    out = asof_join(left, right, "k", "k", "t", "rt", value_cols=["v", "tag"]).collect()
    assert out[0]["tag"] == "y" and out[0]["v"] is None


def test_asof_tolerance(spark):
    left = _df(spark, [(1, "12:00")], "k int, t string").withColumn(
        "t", F.col("t").cast("timestamp")
    )
    right = _df(spark, [(1, "09:00", 5.0)], "k int, rt string, v double").withColumn(
        "rt", F.col("rt").cast("timestamp")
    )
    ok = asof_join(left, right, "k", "k", "t", "rt", ["v"], tolerance="4 hours")
    assert ok.collect()[0]["v"] == 5.0
    stale = asof_join(left, right, "k", "k", "t", "rt", ["v"], tolerance="2 hours")
    assert stale.collect()[0]["v"] is None


# ---------------------------------------------------------- sessionize ----


def test_sessionize_gap_edges(spark):
    # gap of exactly 1800s does NOT split (strictly-greater starts new)
    rows = [
        (1, "2024-01-01 10:00:00"),
        (1, "2024-01-01 10:30:00"),   # gap == 1800 → same session
        (1, "2024-01-01 11:00:01"),   # gap 1801  → new session
        (2, "2024-01-01 10:00:00"),
    ]
    df = _df(spark, rows, "user int, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = sessionize(df, key="user", ts="ts", gap_seconds=1800)
    got = sorted((r["user"], str(r["ts"]), r["session_id"]) for r in out.collect())
    assert [g[2] for g in got] == [1, 1, 2, 1]


def test_sessionize_empty(spark):
    df = spark.createDataFrame([], "user int, ts timestamp")
    assert sessionize(df, "user", "ts").count() == 0


# ---------------------------------------------------------------- topk ----


def test_topk_per_group_ties_deterministic(spark):
    rows = [(1, 10, "a"), (1, 10, "b"), (1, 5, "c"), (2, 1, "d")]
    df = _df(spark, rows, "g int, score int, id string")
    out = top_k_per_group(df, ["g"], [F.col("score").desc(), F.col("id")], k=2)
    got = sorted((r["g"], r["id"], r["rnk"]) for r in out.collect())
    assert got == [(1, "a", 1), (1, "b", 2), (2, "d", 1)]


# --------------------------------------------------------------- dedup ----


def test_dedup_exact_survivor_is_min_id(spark):
    df = _df(spark, [(3, "x"), (1, "x"), (2, "y")], "doc_id int, text string")
    out = {r["keep_id"]: r["n_copies"] for r in dedup_exact(df).collect()}
    assert out == {1: 2, 2: 1}


def test_minhash_lsh_finds_planted_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tonight")
    far = "completely different words about spark shuffles and parquet files here"
    docs = _df(
        spark, [(1, base), (2, near), (3, far)], "doc_id int, text string"
    )
    sh = docs.select(
        "doc_id", F.explode(shingles_col("text", 3)).alias("s")
    ).distinct()
    sig = minhash_signature(sh)
    cands = lsh_candidate_pairs(sig)
    got = {(r["d1"], r["d2"]) for r in cands.collect()}
    assert (1, 2) in got
    verified = verified_jaccard(cands, sh, threshold=0.5)
    pairs = {(r["d1"], r["d2"]): r["jaccard"] for r in verified.collect()}
    assert set(pairs) == {(1, 2)} and pairs[(1, 2)] > 0.6


def test_verified_jaccard_threshold_is_inclusive(spark):
    """A pair at EXACTLY the threshold must survive (``>=``, mirroring
    the oracles' ``jaccard >= 0.5``).  The fixture corpus carries no
    exact-0.5 pair at test SF, so the oracle differential cannot see
    this boundary (probed: a ``>`` mutant passes q_dedup_fuzzy at
    sf0.001) — this test plants one: 3-shingle sets of size 3 sharing
    exactly 2 give j = 2/(3+3-2) = 0.5 bit-exactly (sessionize-gap-edge
    discipline: unit tests pin planted boundaries, differentials pin
    data-visible semantics)."""
    docs = _df(
        spark,
        [(1, "a b c d e"), (2, "a b c d f")],
        "doc_id int, text string",
    )
    sh = docs.select(
        "doc_id", F.explode(shingles_col("text", 3)).alias("s")
    ).distinct()
    pairs = _df(spark, [(1, 2)], "d1 int, d2 int")
    out = {(r["d1"], r["d2"]): r["jaccard"] for r in
           verified_jaccard(pairs, sh, threshold=0.5).collect()}
    assert out == {(1, 2): 0.5}
    # strictly-below still drops: raise the threshold one ulp-ish step
    assert verified_jaccard(pairs, sh, threshold=0.500001).isEmpty()


def test_lsh_probe_mode_equals_self_join_restricted_to_probe(spark):
    """Incremental LSH: with ``probe`` a subset of the signatures, the
    candidate set must be exactly the self-join pairs touching the
    probe set — no re-collision of old-vs-old, no lost pair."""
    texts = [
        "the quick brown fox jumps over the lazy dog again and again today",
        "the quick brown fox jumps over the lazy dog again and again tonight",
        "completely different words about spark shuffles and parquet files here",
        "the quick brown fox jumps over the lazy dog again and again tomorrow",
        "completely different words about spark shuffles and parquet files now",
    ]
    docs = _df(
        spark,
        list(enumerate(texts)),
        "doc_id int, text string",
    )
    sh = docs.select(
        "doc_id", F.explode(shingles_col("text", 3)).alias("s")
    ).distinct()
    sig = minhash_signature(sh)
    full = {
        (r["d1"], r["d2"]) for r in lsh_candidate_pairs(sig).collect()
    }
    new_ids = {3, 4}  # the "night's" docs
    probe = sig.where(F.col("doc_id").isin(*new_ids))
    got = {
        (r["d1"], r["d2"])
        for r in lsh_candidate_pairs(sig, probe=probe).collect()
    }
    want = {p for p in full if p[0] in new_ids or p[1] in new_ids}
    assert got == want and got  # non-vacuous: the night collides


def test_ngram_jaccard_df_cap_prunes_stopword_shingles(spark):
    # a shingle shared by every doc is pruned by df_cap → no pairs from it
    docs = _df(
        spark,
        [(i, f"common shingle here unique{i} word{i} tail{i}") for i in range(5)],
        "doc_id int, text string",
    )
    sh = docs.select(
        "doc_id", F.explode(shingles_col("text", 3)).alias("s")
    ).distinct()
    assert ngram_jaccard_pairs(sh, threshold=0.1, df_cap=3).count() == 0


def test_dedup_idempotent(spark):
    # dedup(dedup(x)) == dedup(x) on the survivor set (SURVEY §5.2(4))
    df = _df(spark, [(1, "x"), (2, "x"), (3, "y")], "doc_id int, text string")
    once = dedup_exact(df)
    survivors = df.join(
        once.select(F.col("keep_id").alias("doc_id")), "doc_id", "left_semi"
    )
    twice = dedup_exact(survivors)
    assert sorted(r["keep_id"] for r in twice.collect()) == sorted(
        r["keep_id"] for r in once.collect()
    )



# The shingle contract's corner cases: tokens are exactly
# split(text, ' ', -1), so empty tokens from doubled, leading and
# trailing spaces count, and only ' ' separates.
SHINGLE_EDGE_TEXTS = [
    "",
    "a",                                # fewer than k tokens
    "a b",
    "a  b  c d",                        # doubled spaces: empty tokens
    " a b c d",                         # leading space
    "a b c d ",                         # trailing space
    "  a b  ",
    "   ",                              # spaces only
    " ",
    "a\nb c\td e f",                    # newline and tab inside tokens
    "x y x y x y x y",                  # repeated shingles
    "héllo wörld 日本 語 🎉 ok 🎉 x",   # unicode, incl. non-BMP
    "the quick brown fox jumps over the lazy dog",
    None,
]


def _ref_shingles(text, k):
    """Pure-Python reference: k-token windows over ``str.split(' ')``."""
    if text is None:
        return None
    toks = text.split(" ")
    return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]


def test_shingles_col_matches_split_window_reference(spark):
    """Order and repeats kept (q_ngram_freq, q_quality_repetition and
    q_ngram_pmi count occurrences), NULL text gives NULL, k < 1 raises."""
    docs = _df(spark, list(enumerate(SHINGLE_EDGE_TEXTS)), "doc_id int, text string")
    for k in (1, 2, 3, 5):
        got = dict(docs.select("doc_id", shingles_col("text", k)).collect())
        want = {i: _ref_shingles(t, k) for i, t in enumerate(SHINGLE_EDGE_TEXTS)}
        assert got == want, k
    with pytest.raises(ValueError):
        shingles_sql("text", 0)


def _doc_shingle_sets(sh) -> dict:
    out: dict = {}
    for r in sh.collect():
        out.setdefault(r["doc_id"], set()).add(r["s"])
    return out


def test_doc_shingles_match_split_window_reference(spark, sf_dir, tmp_path):
    """``_doc_shingles`` yields each document's DISTINCT reference
    shingles, and none for NULL or short texts — on the edge cases and
    on every document of the test SF."""
    from etl_template_spark.io import load_table
    from etl_template_spark.queries.llm_text import _doc_shingles

    edge = str(tmp_path)
    docs = _df(spark, list(enumerate(SHINGLE_EDGE_TEXTS)), "doc_id int, text string")
    docs.write.parquet(f"{edge}/documents.parquet")
    for k in (1, 2, 3, 5):
        want = {
            i: set(_ref_shingles(t, k))
            for i, t in enumerate(SHINGLE_EDGE_TEXTS)
            if _ref_shingles(t, k)
        }
        assert _doc_shingle_sets(_doc_shingles(spark, edge, k=k)) == want, k

    texts = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    want = {
        r["doc_id"]: set(_ref_shingles(r["text"], 3))
        for r in texts
        if _ref_shingles(r["text"], 3)
    }
    assert want and _doc_shingle_sets(_doc_shingles(spark, sf_dir, k=3)) == want

# ---------------------------------------------------------------- skew ----


def test_salted_agg_matches_plain_agg(spark):
    rows = [("hot", i * 1.0) for i in range(100)] + [("cold", 1.0)]
    df = _df(spark, rows, "k string, v double")
    out = salted_agg(
        df, ["k"],
        {"total": (F.sum("v"), F.sum("total")), "n": (F.count(F.lit(1)), F.sum("n"))},
        n_salts=8,
    )
    got = {r["k"]: (r["total"], r["n"]) for r in out.collect()}
    assert got["hot"] == (sum(i * 1.0 for i in range(100)), 100)
    assert got["cold"] == (1.0, 1)


def test_replicate_join_matches_plain_join(spark):
    left = _df(spark, [("a", i) for i in range(50)] + [("b", 0)], "k string, x int")
    right = _df(spark, [("a", "A"), ("b", "B")], "k string, label string")
    plain = left.join(right, "k").select("k", "x", "label")
    salted = replicate_join(left, right, on="k", n_salts=4).select("k", "x", "label")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


# -------------------------------------------------------- heavy hitters ----


def test_heavy_hitters_threshold_is_inclusive(spark):
    """A key at EXACTLY theta*N must survive (``cnt*den >= N*num``,
    mirroring the oracle's ``COUNT(*)*100 >= n*1``).  The fixture
    corpus has no token at exactly the 1% share, so the differential
    cannot see this boundary (probed: a ``>`` mutant passes
    q_heavy_hitters at sf0.001) — plant one: theta = 1/4 over 8 rows
    with 'x' appearing exactly twice (2*4 == 8*1), 'a' once (below)."""
    from etl_template_spark.operators.heavy import heavy_hitters

    rows = [("x",), ("x",), ("a",), ("b",), ("c",), ("d",), ("e",), ("f",)]
    df = _df(spark, rows, "token string")
    got = {r["token"]: r["cnt"] for r in heavy_hitters(df, "token", 1, 4).collect()}
    assert got == {"x": 2}


def test_heavy_hitters_exact_under_zipf_eviction(spark):
    """MG capacity (k=50) << distinct keys (2000), spread over 8
    partitions, so every partition's sketch evicts heavily — the
    candidate superset guarantee is what makes the result exact."""
    from etl_template_spark.operators.heavy import heavy_hitters, mg_candidates

    rows = []
    for i in range(1, 2001):  # Zipf: key i appears max(1, 600//i) times
        rows.extend([(f"k{i:05d}",)] * max(1, 600 // i))
    df = _df(spark, rows, "k string").repartition(8)

    got = {
        r["k"]: (r["cnt"], r["share"])
        for r in heavy_hitters(df, "k", 1, 50).collect()
    }

    from collections import Counter

    exact = Counter(k for (k,) in rows)
    n = len(rows)
    want = {k: c for k, c in exact.items() if c * 50 >= n}
    assert set(got) == set(want)
    for k, c in want.items():
        assert got[k] == (c, c / n)
    # eviction really ran: candidate set far below distinct-key count,
    # bounded by k * numPartitions
    n_cands = mg_candidates(df, "k", 1, 50).count()
    assert len(want) <= n_cands <= 50 * 8


# -------------------------------------------------------- versioned io ----


def test_concurrent_version_claims_unique(tmp_path):
    root = str(tmp_path)
    claimed: list[int] = []
    lock = threading.Lock()

    def claim():
        v, _ = claim_next_version(root, "step")
        with lock:
            claimed.append(v)

    threads = [threading.Thread(target=claim) for _ in range(16)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert sorted(claimed) == list(range(1, 17))  # no duplicates, no gaps
    # bare claims carry no _SUCCESS, so READERS see nothing (the r8
    # read-committed contract) while the writer-facing listing sees all
    from etl_template_spark.io import list_versions

    assert latest_version(root, "step") is None
    assert list_versions(root, "step", committed_only=False)[-1] == 16


# ----------------------------------------------------- approx agg ----


def test_approx_count_distinct_within_rsd(spark, sf_dir):
    """q_agg_approx is a self-certifying harness: every approx_in_bound
    boolean must hold, and the emitted exact_orders must equal the
    independently computed exact distinct count."""
    from pyspark.sql import functions as F

    from etl_template_spark.io import load_table
    from etl_template_spark.queries import REGISTRY

    rows = REGISTRY["q_agg_approx"].build(spark, sf_dir).collect()
    assert rows
    assert all(r["approx_in_bound"] is True for r in rows)
    exact = {
        r["l_returnflag"]: r["n"]
        for r in load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").alias("n"))
        .collect()
    }
    assert {r["l_returnflag"]: r["exact_orders"] for r in rows} == exact


def test_approx_percentile_close_to_exact(spark, sf_dir):
    """q_agg_approx_percentile is a self-certifying harness: every
    *_in_bound boolean must hold (GK estimate inside the exact quantile
    bracket), and the emitted exact percentiles must agree with Spark's
    built-in exact ``percentile`` aggregate to rounding precision."""
    from etl_template_spark.io import load_table
    from etl_template_spark.queries import REGISTRY

    rows = REGISTRY["q_agg_approx_percentile"].build(spark, sf_dir).collect()
    assert rows
    for r in rows:
        for name in ("p50", "p95", "p99"):
            assert r[f"{name}_in_bound"] is True, (name, r)

    li = load_table(spark, sf_dir, "lineitem")
    exact = {
        r["l_returnflag"]: r["pcts"]
        for r in li.groupBy("l_returnflag")
        .agg(F.expr(
            "percentile(l_extendedprice, array(0.5D, 0.95D, 0.99D))"
        ).alias("pcts"))
        .collect()
    }
    assert {r["l_returnflag"] for r in rows} == set(exact)
    for r in rows:
        for name, ex in zip(("p50", "p95", "p99"), exact[r["l_returnflag"]]):
            got = r[f"{name}_exact"]
            assert abs(got - ex) <= 1e-6 + 1e-6 * abs(ex), (name, got, ex)


def test_range_join_binned_edges(spark):
    """Containment edges: start inclusive, end exclusive by default
    (inclusive on request); intervals longer than the bin width still
    match points in every bin they span (the explode covers them)."""
    from etl_template_spark.operators.rangejoin import range_join_binned

    pts = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (2, "2024-01-01 02:00:00"),
         (3, "2024-01-01 05:00:00"), (4, "2024-01-01 07:00:00")],
        "pid long, t string",
    ).select("pid", F.col("t").cast("timestamp").alias("t"))
    ivs = spark.createDataFrame(
        # 5h interval spans many 1h bins; second interval's end == point 3's t
        [(10, "2024-01-01 00:00:00", "2024-01-01 05:00:00"),
         (20, "2024-01-01 04:30:00", "2024-01-01 05:00:00")],
        "iid long, s string, e string",
    ).select(
        "iid",
        F.col("s").cast("timestamp").alias("s"),
        F.col("e").cast("timestamp").alias("e"),
    )
    got = sorted(
        (r["pid"], r["iid"])
        for r in range_join_binned(pts, ivs, "t", "s", "e", 3600).collect()
    )
    assert got == [(1, 10), (2, 10)]  # end-exclusive: pid 3 out

    got_incl = sorted(
        (r["pid"], r["iid"])
        for r in range_join_binned(
            pts, ivs, "t", "s", "e", 3600, end_inclusive=True
        ).collect()
    )
    assert got_incl == [(1, 10), (2, 10), (3, 10), (3, 20)]


def test_connected_components_chain_and_islands(spark):
    """Transitive chaining (A-B, B-C ⇒ one component), separate islands
    stay separate, a self-loop-only vertex is its own singleton
    component, and the label is the component minimum."""
    from etl_template_spark.operators.cluster import connected_components

    edges = spark.createDataFrame(
        # chain 1-2-3-4 (diameter > 1 forces multiple propagation
        # rounds), island {10, 11}, self-contained pair {7, 8}, and a
        # self-loop {42} (the incremental refresh gives every component
        # root one)
        [(2, 1), (2, 3), (3, 4), (10, 11), (7, 8), (42, 42)],
        "src long, dst long",
    )
    got = {
        (r["id"], r["component"])
        for r in connected_components(edges).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (7, 7), (8, 7),
        (42, 42),
    }


def test_connected_components_star_islands_and_self_loops(spark):
    """Min-label on the refresh's input shape: old components arrive as
    stars (every member points at its minimum, which carries a
    self-loop).  A delta edge between two stars merges them under the
    smaller root, an untouched star keeps its root, and a
    self-loop-only vertex stays its own singleton component."""
    from etl_template_spark.operators.cluster import connected_components

    edges = spark.createDataFrame(
        [
            (1, 1), (5, 1), (9, 1),  # star rooted at 1
            (4, 4), (6, 4),  # star rooted at 4
            (20, 20), (21, 20),  # star rooted at 20, untouched
            (42, 42),  # self-loop only
            (9, 6),  # delta edge joining the stars at 1 and 4
        ],
        "src long, dst long",
    )
    got = {
        (r["id"], r["component"])
        for r in connected_components(edges).collect()
    }
    assert got == {
        (1, 1), (4, 1), (5, 1), (6, 1), (9, 1),
        (20, 20), (21, 20),
        (42, 42),
    }


def test_connected_components_long_path_fails_loudly(spark):
    """Min-label propagation needs O(diameter) rounds, so a 64-hop path
    cannot converge in 10: the kernel must raise rather than return a
    partial labeling, and the message names no other kernel.  Node ids
    are permuted so the path is not in id order; the component minimum
    is ``ids[0] == 0``, an endpoint, so the far end is 64 rounds away."""
    from etl_template_spark.operators.cluster import connected_components

    # deterministic permutation of 0..64: multiply by 37 mod 65 (coprime)
    ids = [(i * 37) % 65 for i in range(65)]
    path = list(zip(ids, ids[1:]))  # 64 edges, diameter 64
    edges = spark.createDataFrame(path, "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge") as exc:
        connected_components(edges, max_iter=10)
    assert "star" not in str(exc.value)


def test_ngram_prefix_filter_identical_to_full_join(spark):
    """Prefix filtering (AllPairs bound) must return bit-identical
    pairs to the unpruned inverted-index join — it prunes candidates,
    never results."""
    from etl_template_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g x"),   # near-dup of 1
            (3, "p q r s t u v w"),
            (4, "p q r s t u v w"),   # exact dup of 3
            (5, "z z2 z3 z4 z5 z6 z7 z8"),
        ],
        "doc_id long, text string",
    )
    sh = docs.select(
        "doc_id", F.explode(shingles_col("text", 3)).alias("s")
    ).distinct()
    full = sorted(map(tuple, ngram_jaccard_pairs(sh, 0.5).collect()))
    pref = sorted(map(tuple, ngram_jaccard_pairs_prefix(sh, 0.5).collect()))
    assert full == pref and len(full) >= 2


def test_hll_sketch_rollup_accuracy_and_mergeability(spark, sf_dir):
    """The sketch rollup harness certifies itself: union-of-months
    within 5% of exact AND within 2% of the direct year sketch (both
    booleans TRUE), with exact_customers matching an independent exact
    count.  (Union and direct estimates are near- but not bit-identical
    — DataSketches' union path composes its estimator differently —
    hence the tolerance form.)"""
    from pyspark.sql import functions as F

    from etl_template_spark.io import load_table
    from etl_template_spark.queries import REGISTRY

    rows = REGISTRY["q_agg_sketch_rollup"].build(spark, sf_dir).collect()
    assert rows
    assert all(r["approx_in_bound"] is True for r in rows)
    assert all(r["union_close_to_direct"] is True for r in rows)
    o = load_table(spark, sf_dir, "orders")
    exact = {
        r["y"]: r["n"]
        for r in o.groupBy(F.year("o_orderdate").alias("y"))
        .agg(F.count_distinct("o_custkey").alias("n"))
        .collect()
    }
    assert {r["o_year"]: r["exact_customers"] for r in rows} == exact


def test_heavy_hitters_null_key_counts(spark):
    """A null key above threshold must surface as a NULL heavy-hitter
    row: nulls bypass the MG sketch (pandas index alignment), so the
    candidate restriction unions the null key in unconditionally and
    joins null-safely."""
    from etl_template_spark.operators.heavy import heavy_hitters

    rows = [("a",)] * 40 + [(None,)] * 30 + [(f"r{i}",) for i in range(30)]
    df = _df(spark, rows, "k string").repartition(4)
    got = {r["k"]: r["cnt"] for r in heavy_hitters(df, "k", 1, 5).collect()}
    assert got == {"a": 40, None: 30}  # 100 rows, theta=1/5 → cnt >= 20


def test_pii_scrub_redacts_planted_pii(spark):
    """The fixture corpus has no PII, so the oracle check only proves
    plumbing; here planted email/IP/phone must be redacted (in the
    email -> ip -> phone contract order) and counted."""
    from etl_template_spark.queries.curation import pii_scrub_cols

    df = _df(
        spark,
        [
            (1, "contact bob.smith+x@corp.example.org for details"),
            (2, "server at 10.0.255.7 answered"),
            (3, "call +1-555-867-5309 or +44-207-946-0958 now"),
            (4, "plain text with no identifiers at all"),
        ],
        "doc_id int, text string",
    )
    cols = pii_scrub_cols("text")
    got = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", *[c.alias(n) for n, c in cols.items()]
        ).collect()
    }
    assert got[1]["n_emails"] == 1 and "[EMAIL]" in got[1]["scrubbed"]
    assert "bob.smith" not in got[1]["scrubbed"]
    assert got[2]["n_ips"] == 1 and "[IP]" in got[2]["scrubbed"]
    assert got[3]["n_phones"] == 2
    assert got[3]["scrubbed"] == "call [PHONE] or [PHONE] now"
    assert got[4]["scrubbed"] == "plain text with no identifiers at all"
    assert (got[4]["n_emails"], got[4]["n_ips"], got[4]["n_phones"]) == (0, 0, 0)


def test_persist_tracked_lifecycle(spark):
    """Builder-persisted intermediates must be releasable by the caller:
    persist_tracked registers the handle, release_tracked unpersists
    everything and empties the registry (r3 VERDICT: every persist needs
    an owner)."""
    from etl_template_spark.caching import persist_tracked, release_tracked

    release_tracked()  # clean slate
    df = persist_tracked(spark.range(100))
    assert df.count() == 100
    assert df.storageLevel.useMemory
    assert release_tracked() == 1
    assert not df.storageLevel.useMemory
    assert release_tracked() == 0  # registry drained


def test_keep_best_dedup_prefers_quality_over_id(spark, tmp_path, sf_dir):
    """q_dedup_keep_best must keep the LONGEST copy of duplicated
    content (not the min-id copy q_dedup_exact keeps) — planted fixture
    with two hash-groups."""
    import os

    from etl_template_spark.queries import REGISTRY

    rows = [
        # same text => same hash; doc 11 is "better" (longer n_chars
        # column value) despite the higher id
        (10, "alpha beta gamma", "en", "web", 5),
        (11, "alpha beta gamma", "en", "web", 16),
        (12, "unique text here", "en", "web", 16),
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    d = str(tmp_path / "sf")
    os.makedirs(d)
    df.coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
    got = {
        r["doc_id"]: r["n_copies"]
        for r in REGISTRY["q_dedup_keep_best"].build(spark, d).collect()
    }
    assert got == {11: 2, 12: 1}  # 11 wins its pair; 10 dropped


def test_contamination_check_flags_planted_overlap(spark, tmp_path):
    """A train doc sharing a 5-gram with an eval doc (doc_id % 37 == 0)
    must be flagged; unrelated docs must not."""
    import os

    from etl_template_spark.queries import REGISTRY

    shared = "one two three four five"
    rows = [
        (0, f"eval prefix {shared} eval suffix", "en", "web", 1),   # eval (0 % 37 == 0)
        (5, f"train stuff {shared} train tail", "en", "web", 1),    # contaminated
        (6, "completely different words entirely here now", "en", "web", 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    d = str(tmp_path / "sf")
    os.makedirs(d)
    df.coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
    got = {
        r["doc_id"]: r["n_eval_docs"]
        for r in REGISTRY["q_contamination_check"].build(spark, d).collect()
    }
    assert 5 in got and got[5] == 1
    assert 6 not in got


def test_cross_encoder_scorer_injection_and_carry(spark):
    """score_pairs plumbing: non-text columns carry through untouched,
    the injected scorer's values land in the score column, and the
    Arrow round-trip preserves row count across batch boundaries."""
    from etl_template_spark.operators.crossenc import score_pairs, stub_scorer

    rows = [(i, i + 100, "a" * (i + 1), "b" * (2 * i + 1)) for i in range(257)]
    pairs = spark.createDataFrame(
        rows, "a_id long, b_id long, text_a string, text_b string"
    )

    def half(a, b):
        import numpy as np
        return np.full(len(a), 0.5)

    got = score_pairs(pairs, scorer=half).collect()
    assert len(got) == 257
    assert set(got[0].asDict()) == {"a_id", "b_id", "score"}
    assert all(r["score"] == 0.5 for r in got)
    assert sorted(r["a_id"] for r in got) == list(range(257))

    # default stub: len-ratio min/max, exactly as the oracle states it
    import pandas as pd
    s = stub_scorer(pd.Series(["aaa"]), pd.Series(["aaaaaa"]))
    assert float(s[0]) == 0.5


def test_weighted_sample_rates_nest(spark, sf_dir):
    """Mixture refinement invariant: a source sampled at rate r' < r
    keeps a strict SUBSET of the rate-r sample (hash-bucket predicates
    nest) — what makes mixture rebalancing an incremental operation
    instead of a resample."""
    from etl_template_spark.io import load_table
    from etl_template_spark.queries.sampling import hash_bucket

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", hash_bucket(F.col("doc_id"), 1000).alias("b")
    )
    lo = {r["doc_id"] for r in d.where(F.col("b") < 200).collect()}
    hi = {r["doc_id"] for r in d.where(F.col("b") < 600).collect()}
    assert lo < hi  # strict subset (and non-empty on the fixture)
    assert lo


def test_stratified_sample_exact_allocation(spark, sf_dir):
    """Every (source, lang) stratum yields exactly min(k, |stratum|)
    rows — the defining property of exact allocation."""
    from etl_template_spark.io import load_table
    from etl_template_spark.queries import REGISTRY

    got = (
        REGISTRY["q_sample_stratified"].build(spark, sf_dir)
        .groupBy("source", "lang").count().collect()
    )
    sizes = {
        (r["source"], r["lang"]): r["count"]
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("source", "lang").count().collect()
    }
    assert {(r["source"], r["lang"]) for r in got} == set(sizes)
    for r in got:
        assert r["count"] == min(5, sizes[(r["source"], r["lang"])])


def test_budget_sample_respects_budget_and_keeps_first(spark, sf_dir):
    """Char-budget selection: every source's kept set stays under the
    60% mass budget measured BEFORE each kept doc, and the largest doc
    of every source is always kept (cum-before predicate)."""
    from etl_template_spark.io import load_table
    from etl_template_spark.queries import REGISTRY

    kept = REGISTRY["q_sample_budget"].build(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    ).collect()
    total = {}
    biggest = {}
    for r in docs:
        total[r["source"]] = total.get(r["source"], 0) + r["n_chars"]
        b = biggest.get(r["source"])
        if b is None or (r["n_chars"], -r["doc_id"]) > (b[1], -b[0]):
            biggest[r["source"]] = (r["doc_id"], r["n_chars"])
    kept_ids = {(r["source"], r["doc_id"]) for r in kept}
    for r in kept:
        assert r["cum_before"] < 0.6 * total[r["source"]]
    for src, (doc_id, _) in biggest.items():
        assert (src, doc_id) in kept_ids, f"largest doc of {src} dropped"


def test_cross_encoder_null_lang_blocks_nothing(spark):
    """Column-wise block keys keep SQL NULL semantics: a NULL lang row
    pairs with nothing (as the oracle's a.lang = b.lang dictates), and
    separator-bearing values cannot collide across columns."""
    from etl_template_spark.operators.topk import salted_block_join

    d = spark.createDataFrame(
        [(1, "s", None), (2, "s", None), (3, "a|b", "c"), (4, "a", "b|c")],
        "doc_id long, source string, lang string",
    )
    a = d.select("source", "lang", F.col("doc_id").alias("a_id"))
    b = d.select("source", "lang", F.col("doc_id").alias("b_id"))
    pairs = (
        salted_block_join(a, b, ["source", "lang"], "b_id")
        .where(F.col("a_id") < F.col("b_id"))
        .collect()
    )
    assert pairs == []  # NULL lang never matches; 'a|b'+'c' != 'a'+'b|c'


def test_weighted_rate_sql_survives_digitless_source(duck):
    """The oracle's rate rule must degrade to rate 100 on a source with
    no trailing digits (TRY_CAST -> NULL -> coalesce), not crash the
    whole oracle query the way CAST('' AS INT) would."""
    from etl_template_spark.queries.sampling import _RATE_SQL

    got = duck.sql(
        f"SELECT {_RATE_SQL} AS rate FROM (SELECT 'web' AS source)"
    ).fetchone()[0]
    assert got == 100


def test_shuffle_interleave_order_properties(spark, sf_dir):
    """The training-order contract: deterministic across calls, a NEW
    permutation per seed, shards partition the corpus contiguously
    along the global order, shard_pos is dense 1..len(shard), and no
    source clumps (every source lands in both halves of the order)."""
    from etl_template_spark.io import load_table
    from etl_template_spark.queries.interleave import shuffle_interleave

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    a = shuffle_interleave(d, seed=42, n_shards=8).collect()
    b = shuffle_interleave(d, seed=42, n_shards=8).collect()
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]  # deterministic
    c = shuffle_interleave(d, seed=43, n_shards=8).collect()
    assert [r["doc_id"] for r in a] != [r["doc_id"] for r in c]  # seed matters
    assert sorted(r["doc_id"] for r in a) == sorted(r["doc_id"] for r in c)

    # shards cut the GLOBAL order contiguously: shard ids are
    # non-decreasing along the returned (range-sorted) order
    shards = [r["shard"] for r in a]
    assert shards == sorted(shards)
    assert set(shards) <= set(range(8))
    # shard_pos is dense 1..n within each shard, following the order
    from collections import Counter, defaultdict

    by_shard = defaultdict(list)
    for r in a:
        by_shard[r["shard"]].append(r["shard_pos"])
    for sh, poss in by_shard.items():
        assert poss == list(range(1, len(poss) + 1)), sh

    # anti-clumping: every source appears in BOTH halves of the order
    half = len(a) // 2
    first = {r["source"] for r in a[:half]}
    second = {r["source"] for r in a[half:]}
    every = {r["source"] for r in a}
    assert first == every and second == every


def test_agg_state_merge_is_associative_and_exact(spark, sf_dir):
    """The incremental-agg algebra: splitting orders into 3 arbitrary
    partitions and merging their states in either grouping lands on the
    bit-identical totals of the from-scratch aggregate — the decimal
    state makes merge order immaterial."""
    from etl_template_spark.io import load_table
    from etl_template_spark.queries.incremental import agg_state, merge_agg_state

    orders = load_table(spark, sf_dir, "orders")
    parts = [
        agg_state(orders.where(F.expr(f"o_orderkey % 3 = {i}")),
                  "o_custkey", "o_totalprice")
        for i in range(3)
    ]
    full = agg_state(orders, "o_custkey", "o_totalprice")

    def norm(df):
        return sorted(
            (r["o_custkey"], r["n"], float(r["total_dec"]))
            for r in df.collect()
        )

    left = merge_agg_state(merge_agg_state(parts[0], parts[1], "o_custkey"),
                           parts[2], "o_custkey")
    right = merge_agg_state(parts[0],
                            merge_agg_state(parts[1], parts[2], "o_custkey"),
                            "o_custkey")
    assert norm(left) == norm(right) == norm(full)


def test_date_spine_inclusive_bounds(spark):
    """date_spine covers [lo, hi] inclusive, one row per day."""
    from etl_template_spark.queries.timeseries import date_spine

    bounds = spark.createDataFrame(
        [("2024-02-27", "2024-03-02")], "lo string, hi string"
    ).select(F.to_date("lo").alias("lo"), F.to_date("hi").alias("hi"))
    days = [str(r["d"]) for r in date_spine(bounds, "lo", "hi").collect()]
    assert days == ["2024-02-27", "2024-02-28", "2024-02-29",
                    "2024-03-01", "2024-03-02"]  # leap day included


# ----------------------------------------------------------- relevance ----


def test_rank_metrics_hand_computed(spark):
    """nDCG/MRR/recall on a worked example checked by hand:
    q1 run = [d1(rel 3), d2(rel 0), d3(rel 1)];
    ideal = [3, 1] -> DCG = 7/1 + 1/log2(3)? no — gains:
    DCG  = (2^3-1)/log2(2) + 0 + (2^1-1)/log2(4) = 7 + 0.5 = 7.5
    IDCG = 7/log2(2) + 1/log2(3) = 7 + 0.63093 = 7.63093
    MRR = 1/1; recall@10 = 2/2."""
    import math

    from etl_template_spark.operators.relevance import rank_metrics

    run = spark.createDataFrame(
        [("q1", "d1", 1), ("q1", "d2", 2), ("q1", "d3", 3)],
        "query_id string, doc_id string, rank int",
    )
    qrels = spark.createDataFrame(
        [("q1", "d1", 3), ("q1", "d3", 1)],
        "query_id string, doc_id string, rel int",
    )
    r = rank_metrics(run, qrels, k=10).collect()[0]
    idcg = 7.0 + 1.0 / math.log2(3.0)
    assert abs(r["ndcg"] - round(7.5 / idcg, 6)) < 1e-9
    assert r["mrr"] == 1.0
    assert r["recall"] == 1.0
    assert r["n_rel"] == 2 and r["n_retrieved"] == 3


def test_rank_metrics_edges(spark):
    """Edge semantics: a query the ranker never answered scores 0 (not
    NULL); a first hit at rank 4 gives MRR 0.25; rel-0-only qrels give
    ndcg/recall 0; k truncation drops deep hits."""
    from etl_template_spark.operators.relevance import rank_metrics

    run = spark.createDataFrame(
        [("q2", "dA", 4), ("q3", "dX", 1), ("q4", "dZ", 6)],
        "query_id string, doc_id string, rank int",
    )
    qrels = spark.createDataFrame(
        [("q1", "d9", 2),   # never retrieved
         ("q2", "dA", 1),   # hit at rank 4
         ("q3", "dX", 0),   # retrieved but irrelevant
         ("q4", "dZ", 2)],  # hit but beyond k=5
        "query_id string, doc_id string, rel int",
    )
    out = {r["query_id"]: r for r in rank_metrics(run, qrels, k=5).collect()}
    assert set(out) == {"q1", "q2", "q3", "q4"}
    assert out["q1"]["ndcg"] == 0.0 and out["q1"]["mrr"] == 0.0
    assert out["q2"]["mrr"] == 0.25 and out["q2"]["recall"] == 1.0
    assert out["q3"]["ndcg"] == 0.0 and out["q3"]["recall"] == 0.0
    assert out["q3"]["n_rel"] == 0
    assert out["q4"]["ndcg"] == 0.0 and out["q4"]["recall"] == 0.0  # k-truncated


def test_rank_metrics_perfect_ranking_is_1(spark):
    """Property: ranking the qrels in ideal order scores nDCG exactly 1
    and recall 1 for every query, regardless of grade distribution."""
    import random

    from etl_template_spark.operators.relevance import rank_metrics

    rng = random.Random(7)
    run_rows, qrel_rows = [], []
    for q in range(8):
        grades = [rng.randint(0, 3) for _ in range(rng.randint(1, 6))]
        docs = [f"d{q}_{i}" for i in range(len(grades))]
        qrel_rows += [(f"q{q}", d, g) for d, g in zip(docs, grades)]
        ideal = sorted(zip(docs, grades), key=lambda t: (-t[1], t[0]))
        run_rows += [(f"q{q}", d, r + 1) for r, (d, _) in enumerate(ideal)]
    run = spark.createDataFrame(run_rows, "query_id string, doc_id string, rank int")
    qrels = spark.createDataFrame(qrel_rows, "query_id string, doc_id string, rel int")
    for r in rank_metrics(run, qrels, k=10).collect():
        if r["n_rel"] > 0:
            assert r["ndcg"] == 1.0, r
            assert r["recall"] == 1.0, r
        else:
            assert r["ndcg"] == 0.0


# ------------------------------------------------------------ pagerank ----


def test_pagerank_matches_networkx_free_reference(spark):
    """Bounded-iteration PageRank vs a direct Python power-iteration
    (same damping, same dangling redistribution, same round count) on a
    small directed graph with a dangling node and a hub."""
    from etl_template_spark.operators.graph import pagerank

    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3)]  # 4 -> 3, 3 is hub-ish
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["rank"] for r in pagerank(df, iters=10).collect()}

    # pure-Python synchronous power iteration, mirroring the operator
    nodes = sorted({n for e in edges for n in e})
    n = len(nodes)
    out = {u: [v for (s, v) in edges if s == u] for u in nodes}
    rank = {u: 1.0 / n for u in nodes}
    d = 0.85
    for _ in range(10):
        inflow = {u: 0.0 for u in nodes}
        for u in nodes:
            for v in out[u]:
                inflow[v] += round(rank[u] / len(out[u]), 9)
        dangling = sum(round(rank[u], 9) for u in nodes if not out[u])
        rank = {
            u: (1 - d) / n + d * (inflow[u] + dangling / n) for u in nodes
        }
    for u in nodes:
        assert abs(got[u] - round(rank[u], 9)) < 1e-8, (u, got[u], rank[u])
    # mass conservation: ranks sum to ~1
    assert abs(sum(got.values()) - 1.0) < 1e-6


def test_pagerank_symmetric_graph_uniform(spark):
    """A directed cycle is perfectly symmetric: every node must score
    exactly the same rank (and the dangling path is never triggered)."""
    from etl_template_spark.operators.graph import pagerank

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "src long, dst long"
    )
    ranks = [r["rank"] for r in pagerank(df, iters=8).collect()]
    assert len(set(ranks)) == 1
    assert abs(sum(ranks) - 1.0) < 1e-9


def test_pagerank_deterministic_across_partitionings(spark):
    """The decimal-exact contribution sums make the result identical
    under different input partitionings — the cluster-reproducibility
    property the operator promises."""
    from etl_template_spark.operators.graph import pagerank

    import random

    rng = random.Random(3)
    edges = [(rng.randint(1, 30), rng.randint(1, 30)) for _ in range(120)]
    a = spark.createDataFrame(edges, "src long, dst long").repartition(1)
    b = spark.createDataFrame(edges, "src long, dst long").repartition(16)
    ra = sorted(map(tuple, pagerank(a, iters=6).collect()))
    rb = sorted(map(tuple, pagerank(b, iters=6).collect()))
    assert ra == rb


def test_pagerank_empty_graph_raises_and_multigraph_dedups(spark):
    """r7 ADVICE: an empty edge frame must raise (not ZeroDivisionError
    deep in the teleport term), and parallel edges are documented to
    collapse — ten A→B links rank exactly like one."""
    import pytest as _pytest

    from etl_template_spark.operators.graph import pagerank

    empty = spark.createDataFrame([], "src long, dst long")
    with _pytest.raises(ValueError, match="empty edge frame"):
        pagerank(empty)

    single = spark.createDataFrame([(1, 2)], "src long, dst long")
    multi = spark.createDataFrame([(1, 2)] * 10, "src long, dst long")
    rs = sorted(map(tuple, pagerank(single, iters=5).collect()))
    rm = sorted(map(tuple, pagerank(multi, iters=5).collect()))
    assert rs == rm


def test_pagerank_resumes_bit_exactly(spark):
    """The resume-as-data identity: 3 rounds then 3 more from the
    persisted rank vector must equal 6 rounds in one call BIT-FOR-BIT
    (per-round scale-9 rounding makes each round's state exactly
    representable), and a warm start over a changed graph runs (new
    node at uniform, vanished node dropped)."""
    import random

    from etl_template_spark.operators.graph import pagerank

    rng = random.Random(11)
    edges = [(rng.randint(1, 25), rng.randint(1, 25)) for _ in range(90)]
    df = spark.createDataFrame(edges, "src long, dst long")

    full = sorted(map(tuple, pagerank(df, iters=6).collect()))
    half = pagerank(df, iters=3)
    resumed = sorted(
        map(tuple, pagerank(df, iters=3, init_ranks=half).collect())
    )
    assert resumed == full

    # warm start over a delta'd graph: the new node's injected uniform
    # mass perturbs the total ABOVE 1, and damping decays the excess
    # geometrically — assert the run works, the new node participates,
    # and more rounds converge the total back toward 1
    df2 = spark.createDataFrame(edges + [(99, 1)], "src long, dst long")
    warm2 = pagerank(df2, iters=2, init_ranks=half).collect()
    warm8 = pagerank(df2, iters=8, init_ranks=half).collect()
    err2 = abs(sum(r["rank"] for r in warm2) - 1.0)
    err8 = abs(sum(r["rank"] for r in warm8) - 1.0)
    assert any(r["id"] == 99 for r in warm2)
    # total_{t+1} = (1-d) + d*total_t → excess decays by exactly the
    # damping factor per round: err8/err2 = 0.85^6
    assert err8 < err2
    assert abs(err8 / err2 - 0.85**6) < 0.02
