"""Property-based spot checks (SURVEY.md §5.2(4)) with hypothesis:
random small inputs, independent reference implementations.

The as-of join is checked against pandas ``merge_asof`` — a third
implementation that shares no code or formulation with either the engine
(union + carry-forward window) or the DuckDB oracle (ASOF JOIN)."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_template_spark.operators.asof import asof_join
from etl_template_spark.operators.sessionize import sessionize
from etl_template_spark.operators.topk import top_k_per_group

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

# distinct epoch-second timestamps within a day, small key space to force
# key collisions and interleaved event times
_times = st.lists(
    st.integers(min_value=0, max_value=86_400), min_size=1, max_size=25, unique=True
)
_keys = st.integers(min_value=1, max_value=3)


@given(
    left_rows=st.lists(st.tuples(_keys, st.integers(0, 86_400)), min_size=1, max_size=20),
    right_rows=st.lists(
        st.tuples(_keys, st.integers(0, 86_400), st.floats(-100, 100, allow_nan=False)),
        min_size=1,
        max_size=20,
        unique_by=lambda r: (r[0], r[1]),  # unique (key, time) on the right
    ),
)
@settings(**_SETTINGS)
def test_asof_matches_pandas_merge_asof(spark, left_rows, right_rows):
    left_pd = pd.DataFrame(left_rows, columns=["k", "t"]).astype({"t": "int64"})
    right_pd = pd.DataFrame(right_rows, columns=["k", "rt", "v"]).astype({"rt": "int64"})

    left = spark.createDataFrame(left_pd).withColumn(
        "t", F.timestamp_seconds("t")
    )
    right = spark.createDataFrame(right_pd).withColumn(
        "rt", F.timestamp_seconds("rt")
    )
    got_rows = asof_join(
        left, right, left_on="k", right_on="k", left_time="t", right_time="rt",
        value_cols=["v"],
    ).collect()
    got = sorted(
        (r["k"], int(r["t"].timestamp()), r["v"]) for r in got_rows
    )

    # reference: pandas merge_asof (backward = latest right <= left)
    lp = left_pd.sort_values("t").reset_index(drop=True)
    rp = right_pd.rename(columns={"rt": "t"}).sort_values("t").reset_index(drop=True)
    ref = pd.merge_asof(lp, rp, on="t", by="k", direction="backward")
    expect = sorted(
        (int(r.k), int(r.t), None if pd.isna(r.v) else float(r.v))
        for r in ref.itertuples()
    )
    assert got == expect


@given(times=_times, gap=st.integers(min_value=1, max_value=7_200))
@settings(**_SETTINGS)
def test_sessionize_gap_invariants(spark, times, gap):
    df = spark.createDataFrame(
        [(1, t) for t in times], "k int, epoch long"
    ).withColumn("ts", F.timestamp_seconds("epoch"))
    rows = sorted(
        (r["epoch"], r["session_id"])
        for r in sessionize(df, key="k", ts="ts", gap_seconds=gap).collect()
    )
    # invariants: session ids start at 1, are non-decreasing in time, and
    # increment exactly when the gap is exceeded
    assert rows[0][1] == 1
    for (t0, s0), (t1, s1) in zip(rows, rows[1:]):
        if t1 - t0 > gap:
            assert s1 == s0 + 1, (t0, t1, gap)
        else:
            assert s1 == s0, (t0, t1, gap)


@given(
    rows=st.lists(
        st.tuples(st.integers(1, 3), st.integers(-1000, 1000)),
        min_size=1,
        max_size=30,
    ),
    k=st.integers(min_value=1, max_value=5),
)
@settings(**_SETTINGS)
def test_topk_is_prefix_of_group_sort(spark, rows, k):
    pdf = pd.DataFrame(rows, columns=["g", "x"]).assign(uid=range(len(rows)))
    df = spark.createDataFrame(pdf)
    got = top_k_per_group(
        df, ["g"], [F.col("x").desc(), F.col("uid")], k=k
    ).collect()
    by_group: dict[int, list] = {}
    for r in got:
        by_group.setdefault(r["g"], []).append((r["rnk"], r["x"], r["uid"]))
    for g, members in by_group.items():
        expect = sorted(
            ((-x, uid) for gg, x, uid in [(r.g, r.x, r.uid) for r in pdf.itertuples()] if gg == g)
        )[:k]
        got_sorted = [(-x, uid) for _, x, uid in sorted(members)]
        assert got_sorted == expect


@given(
    points=st.lists(st.integers(0, 86_400), min_size=1, max_size=20, unique=True),
    intervals=st.lists(
        st.tuples(st.integers(0, 86_400), st.integers(1, 14_400)),
        min_size=1,
        max_size=15,
    ),
    width=st.sampled_from([600, 3600, 7200]),
)
@settings(**_SETTINGS)
def test_range_join_binned_matches_naive(spark, points, intervals, width):
    """The binned range join must equal the naive O(n·m) containment
    join for every bin width — binning is a physical rewrite only."""
    from etl_template_spark.operators.rangejoin import range_join_binned

    from datetime import datetime, timezone

    def _dt(sec):
        return datetime.fromtimestamp(sec, tz=timezone.utc).replace(tzinfo=None)

    pts = spark.createDataFrame(
        [(i, _dt(t)) for i, t in enumerate(points)],
        "pid long, t timestamp",
    )
    ivs = spark.createDataFrame(
        [(j, _dt(s), _dt(s + d)) for j, (s, d) in enumerate(intervals)],
        "iid long, lo timestamp, hi timestamp",
    )
    got = sorted(
        (r["pid"], r["iid"])
        for r in range_join_binned(pts, ivs, "t", "lo", "hi", width).collect()
    )
    naive = sorted(
        (i, j)
        for i, t in enumerate(points)
        for j, (s, d) in enumerate(intervals)
        if s <= t < s + d
    )
    assert got == naive


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=25,
    ),
)
@settings(**_SETTINGS)
def test_connected_components_matches_union_find(spark, union_find_cc, edges):
    """Distributed min-label propagation must agree with a classic
    driver-side union-find on every random graph (self-loops included)."""
    from etl_template_spark.operators.cluster import connected_components

    expect = union_find_cc(edges)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["id"]: r["component"] for r in connected_components(df).collect()
    }
    assert got == expect


@given(
    groups=st.lists(
        st.lists(
            st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False, width=32),
            min_size=1,
            max_size=40,
        ),
        min_size=1,
        max_size=4,
    ),
    fractions=st.lists(
        st.sampled_from([0.0, 0.01, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0]),
        min_size=1,
        max_size=3,
        unique=True,
    ),
)
@settings(**_SETTINGS)
def test_exact_group_percentiles_match_numpy_linear(spark, groups, fractions):
    """The spillable sort-based percentile must equal numpy's 'linear'
    interpolation (== DuckDB quantile_cont) on every group shape —
    n=1 groups, duplicate values, p=0 / p=1 boundaries included."""
    import math

    import numpy as np

    from etl_template_spark import caching
    from etl_template_spark.operators.percentiles import exact_group_percentiles

    rows = [(gi, float(v)) for gi, vals in enumerate(groups) for v in vals]
    df = spark.createDataFrame(rows, "g int, x double")
    targets = [(f"p{i}", "x", p) for i, p in enumerate(fractions)]
    try:
        got = {
            r["g"]: [r[f"p{i}"] for i in range(len(fractions))]
            for r in exact_group_percentiles(df, "g", targets).collect()
        }
    finally:
        caching.release_tracked()
    assert not caching._TRACKED
    assert set(got) == set(range(len(groups)))
    for gi, vals in enumerate(groups):
        expect = [float(np.percentile(vals, p * 100, method="linear"))
                  for p in fractions]
        for a, b in zip(got[gi], expect):
            assert math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-9), (gi, a, b)


def test_exact_group_percentiles_null_semantics(spark):
    """NULL measures are excluded (quantile_cont semantics): they must
    not shift interpolated positions or sort first; an all-NULL group
    yields NULL; rows with a NULL group key are excluded (documented)."""
    from etl_template_spark import caching
    from etl_template_spark.operators.percentiles import exact_group_percentiles

    rows = [
        ("a", 1.0), ("a", None), ("a", 3.0),   # median over {1,3} = 2
        ("b", None), ("b", None),              # all-NULL group -> NULL
        (None, 5.0),                           # NULL key -> excluded
    ]
    df = spark.createDataFrame(rows, "g string, x double")
    try:
        got = {
            r["g"]: r["p50"]
            for r in exact_group_percentiles(df, "g", [("p50", "x", 0.5)]).collect()
        }
    finally:
        caching.release_tracked()
    assert not caching._TRACKED
    assert got == {"a": 2.0, "b": None}


@given(
    vecs=st.lists(
        st.tuples(
            st.integers(0, 2),  # block label (small space → collisions)
            # magnitudes bounded away from 0: cosine of a zero vector is
            # 0/0, an ANSI-mode error by (documented) operator contract
            st.lists(st.floats(0.125, 10, allow_nan=False, width=32),
                     min_size=4, max_size=4),
        ),
        min_size=2,
        max_size=24,
    ),
    k=st.integers(1, 4),
    n_salts=st.sampled_from([1, 2, 8]),
)
@settings(**_SETTINGS)
def test_salted_knn_equals_naive_under_random_blocks(spark, vecs, k, n_salts):
    """knn_join_blocked(salted) must be row-identical to the naive
    blocked window top-k for ANY block distribution, k, and salt count
    (salting repartitions the work, never the answer)."""
    from pyspark.sql import Window

    from etl_template_spark.operators.topk import knn_join_blocked
    from etl_template_spark.queries.similarity import cosine_col

    rows = [(i, f"b{lab}", list(map(float, v))) for i, (lab, v) in enumerate(vecs)]
    e = spark.createDataFrame(rows, "vec_id int, label string, embedding array<double>")
    probes = e.select("label", F.col("vec_id").alias("v1"),
                      F.col("embedding").alias("emb1"))
    corpus = e.select("label", F.col("vec_id").alias("v2"),
                      F.col("embedding").alias("emb2"))
    score = cosine_col("emb1", "emb2")
    salted = knn_join_blocked(
        probes, corpus, block_col="label", probe_id_cols=("v1",),
        corpus_id_col="v2", score=score, k=k, score_name="cs",
        pair_filter=F.col("v1") != F.col("v2"), n_salts=n_salts,
    ).select("v1", "v2", "cs", "rnk")
    w = Window.partitionBy("v1").orderBy(F.col("cs").desc(), F.col("v2"))
    naive = (
        probes.join(corpus, "label")
        .where(F.col("v1") != F.col("v2"))
        .select("v1", "v2", score.alias("cs"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
    )
    got = sorted(map(tuple, salted.collect()))
    want = sorted(map(tuple, naive.collect()))
    assert got == want


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "dd", "e"]),
            min_size=1,
            max_size=30,
        ),
        min_size=1,
        max_size=8,
    ),
)
@settings(**_SETTINGS)
def test_repetition_signals_match_python_reference(spark, docs):
    """The three repetition signals (duplicate-5-gram fraction, top
    bigram + char share, longest run) recomputed by a direct Python
    reference on random token streams — gaps-and-islands, tiebreak and
    short-doc NULL edges included."""
    import math

    import etl_template_spark.queries.repetition as rep

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    class _Patch:
        def __enter__(self):
            self.orig = rep.load_table
            rep.load_table = lambda *_: df
            return self

        def __exit__(self, *exc):
            rep.load_table = self.orig

    with _Patch():
        got = {r["doc_id"]: r for r in rep.q_quality_repetition(spark, "unused").collect()}

    for i, toks in enumerate(docs):
        text = " ".join(toks)
        r = got[i]
        # duplicate 5-gram fraction
        grams5 = [tuple(toks[j : j + 5]) for j in range(len(toks) - 4)]
        if grams5:
            from collections import Counter

            c5 = Counter(grams5)
            dup = sum(n for n in c5.values() if n > 1)
            assert r["n_5grams"] == len(grams5)
            assert math.isclose(r["dup_5gram_frac"], round(dup / len(grams5), 6))
        else:
            assert r["n_5grams"] is None and r["dup_5gram_frac"] is None
        # top bigram (count desc, gram asc) and char share
        grams2 = [" ".join(toks[j : j + 2]) for j in range(len(toks) - 1)]
        if grams2:
            from collections import Counter

            c2 = Counter(grams2)
            top = min(c2, key=lambda g: (-c2[g], g))
            assert r["top_bigram"] == top
            assert math.isclose(
                r["top_bigram_share"], round(c2[top] * len(top) / len(text), 6)
            )
        else:
            assert r["top_bigram"] is None
        # longest run
        best = run = 1
        for a, b in zip(toks, toks[1:]):
            run = run + 1 if a == b else 1
            best = max(best, run)
        assert r["max_word_run"] == best


@given(
    values=st.lists(
        st.integers(min_value=0, max_value=10_000), min_size=1, max_size=120
    ),
)
@settings(**_SETTINGS)
def test_hll_registers_match_python_reference(spark, values):
    """The relational HLL register build (sha256-derived bucket/rho)
    must equal a direct Python implementation of the same construction
    on arbitrary inputs — including the w=0 cap and duplicate inputs
    leaving registers unchanged."""
    import hashlib

    from etl_template_spark.operators.hll import hll_registers

    df = spark.createDataFrame([(str(v),) for v in values], "text string")
    got = {r["bucket"]: r["rho"] for r in hll_registers(df, "text").collect()}

    want: dict[int, int] = {}
    for v in values:
        h = int(hashlib.sha256(str(v).encode()).hexdigest()[:12], 16)
        bucket, w = h % 256, h // 256
        rho = 41 if w == 0 else (w & -w).bit_length()  # tz + 1
        want[bucket] = max(want.get(bucket, 0), rho)
    assert got == want


@given(
    obs=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),      # user
            st.integers(min_value=0, max_value=9),      # day offset
            st.floats(-50, 50, allow_nan=False),        # value
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda r: (r[0], r[1]),  # one observation per (user, day)
    ),
)
@settings(**_SETTINGS)
def test_locf_matches_pandas_ffill(spark, obs):
    """The LOCF grid must equal pandas groupby().ffill() on the dense
    (user x day) grid — a third implementation sharing nothing with
    either the Spark window or the DuckDB IGNORE NULLS oracle."""
    import etl_template_spark.queries.impute as imp

    rows = [
        (i, f"2024-01-{d+1:02d} 12:00:00", u * 10 + 7, "purchase", float(v))
        for i, (u, d, v) in enumerate(obs)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))

    orig = imp.load_table
    imp.load_table = lambda *_: df
    try:
        got = {
            (r["user_id"], str(r["d"])): r["value_locf"]
            for r in imp.q_locf_impute(spark, "unused").collect()
        }
    finally:
        imp.load_table = orig

    pdf = pd.DataFrame(
        [(u * 10 + 7, d, v) for (u, d, v) in obs], columns=["u", "d", "v"]
    )
    lo, hi = pdf["d"].min(), pdf["d"].max()
    days = list(range(lo, hi + 1))
    users = sorted(pdf["u"].unique())
    grid = pd.MultiIndex.from_product([users, days], names=["u", "d"]).to_frame(
        index=False
    )
    merged = grid.merge(pdf, on=["u", "d"], how="left")
    merged["f"] = merged.groupby("u")["v"].ffill()
    want = {
        (int(r.u), f"2024-01-{int(r.d)+1:02d}"): (None if pd.isna(r.f) else r.f)
        for r in merged.itertuples()
    }
    assert set(got) == set(want)
    for k in want:
        a, b = got[k], want[k]
        assert (a is None) == (b is None) and (a is None or a == b), (k, a, b)


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=2),           # user
            st.integers(min_value=0, max_value=20),          # day
            st.sampled_from(["click", "view", "purchase"]),  # type
            st.integers(min_value=1, max_value=100),         # value (int→exact)
        ),
        min_size=1,
        max_size=20,
    ),
)
@settings(**_SETTINGS)
def test_attribution_matches_python_reference(spark, events):
    """Linear attribution recomputed by direct Python iteration over
    random journeys: in-window membership (inclusive 7-day bound),
    equal split, 'direct' fallback, per-channel totals."""
    import math

    import etl_template_spark.queries.attribution as attr

    rows = [
        (i, f"2024-01-{d+1:02d} 00:00:00", u, t, float(v))
        for i, (u, d, t, v) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))

    orig = attr.load_table
    attr.load_table = lambda *_: df
    try:
        got = {
            r["channel"]: (r["n_credits"], r["attributed_value"])
            for r in attr.q_attribution_linear(spark, "unused").collect()
        }
    finally:
        attr.load_table = orig

    want: dict[str, list] = {}
    for u, d, t, v in events:
        if t != "purchase":
            continue
        touches = [
            tt for (uu, dd, tt, _) in events
            if uu == u and tt != "purchase" and d - 7 <= dd <= d
        ]
        credits = touches or ["direct"]
        for ch in credits:
            cur = want.setdefault(ch, [0, 0.0])
            cur[0] += 1
            # engine rounds each share to 6dp before the exact sum
            cur[1] += round(v / len(credits), 6)
    if not want:
        assert got == {}
        return
    assert set(got) == set(want)
    for ch, (n, total) in want.items():
        assert got[ch][0] == n
        assert math.isclose(got[ch][1], total, rel_tol=0, abs_tol=1e-9), (
            ch, got[ch][1], total
        )


# ------------------------------------------------ streaming fold twins ----
# Spark-free randomized differentials: the per-key transition functions
# of the tws operators vs brute-force batch definitions, over arbitrary
# WATERMARK-ADMISSIBLE arrival interleavings and random micro-batch
# cuts.  Arrival order is generated as sort-by-(ts + jitter) with jitter
# in [0, delay]: every prefix then satisfies ts_i >= max_seen_ts - delay
# — exactly the set of interleavings a watermark of `delay` admits, so
# the folds' slack-pruning losslessness claim is the thing under test.

_fold_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),          # user_id
        st.integers(min_value=0, max_value=50_000),     # event-time sec
        st.sampled_from(["click", "view", "purchase"]),
        st.integers(min_value=0, max_value=7_200),      # arrival jitter sec
    ),
    min_size=1,
    max_size=40,
)


def _arrival_batches(events, delay_s, rnd, n_cuts):
    """Arrival order = sort by (ts + min(jitter, delay)); split into
    random contiguous micro-batches."""
    arr = sorted(
        (
            (ts + min(j, delay_s), eid, uid, ts, et)
            for eid, (uid, ts, et, j) in enumerate(events)
        ),
    )
    cuts = sorted(rnd.sample(range(1, len(arr)), min(n_cuts, len(arr) - 1))) if len(arr) > 1 else []
    batches, lo = [], 0
    for c in cuts + [len(arr)]:
        if c > lo:
            batches.append(arr[lo:c])
            lo = c
    return batches


@given(_fold_events, st.integers(min_value=0, max_value=10), st.randoms())
@settings(**_SETTINGS)
def test_interval_join_fold_exact_under_admissible_interleavings(
    events, n_cuts, rnd
):
    """Every (click, purchase) pair of the batch interval join — and
    nothing else — must emit exactly once, for ANY watermark-admissible
    arrival order and ANY micro-batch segmentation."""
    from etl_template_spark.streaming import interval_join_fold

    delay_s = 3_600
    window_ms = 2 * 3_600_000
    base = pd.Timestamp("2024-01-01")

    expected = sorted(
        (cu, ce, pe)
        for ce, (cu, cts, cet, _) in enumerate(events)
        if cet == "click"
        for pe, (pu, pts, pet, _) in enumerate(events)
        if pet == "purchase"
        and pu == cu
        and cts <= pts <= cts + window_ms // 1000
    )

    got, state = [], {}
    for batch in _arrival_batches(events, delay_s, rnd, n_cuts):
        per_user: dict = {}
        for _ak, eid, uid, ts, et in batch:
            per_user.setdefault(uid, []).append(
                (eid, base + pd.Timedelta(seconds=ts), et, 1.0)
            )
        for uid, rows in per_user.items():
            clicks, purchases = state.get(uid, ([], []))
            out, clicks, purchases = interval_join_fold(
                uid, clicks, purchases, rows, window_ms, delay_s * 1000
            )
            state[uid] = (clicks, purchases)
            got.extend((u, c, p) for (u, c, _ct, p, _pt, _v) in out)
    assert sorted(got) == expected  # exactly-once AND complete


@given(_fold_events, st.integers(min_value=0, max_value=10), st.randoms())
@settings(**_SETTINGS)
def test_attribution_fold_totals_under_admissible_interleavings(
    events, n_cuts, rnd
):
    """Per-purchase credit sets must equal the operator's STATED
    contract under any admissible arrival order and batch cuts: a
    purchase credits every in-window touch that arrived in the same or
    an earlier micro-batch (the slack-pruning losslessness property —
    no eligible-and-arrived touch is ever pruned away), while a touch
    arriving in a LATER batch than its purchase is conservatively
    dropped (the documented Append-mode caveat: credit rows are
    emitted, never retracted).  When arrival order equals event-time
    order (all jitters 0 — a subset hypothesis explores) the
    arrival-aware expectation reduces to the batch twin, so this
    property subsumes the exact-equivalence case."""
    from etl_template_spark.streaming import attribution_fold
    from etl_template_spark.streaming.jobs import ATTRIBUTION_TOUCH_TYPES

    delay_s = 3_600
    window_ms = 2 * 3_600_000
    base = pd.Timestamp("2024-01-01")

    batches = _arrival_batches(events, delay_s, rnd, n_cuts)
    batch_of = {
        eid: bi for bi, b in enumerate(batches) for (_ak, eid, _u, _t, _e) in b
    }

    def expected_credits():
        out = {}
        for pe, (pu, pts, pet, _) in enumerate(events):
            if pet != "purchase":
                continue
            hits = sorted(
                tet
                for te, (tu, tts, tet, _) in enumerate(events)
                if tet in ATTRIBUTION_TOUCH_TYPES
                and tu == pu
                and pts - window_ms // 1000 <= tts <= pts
                and batch_of[te] <= batch_of[pe]  # arrived in time
            )
            out[pe] = hits or ["direct"]
        return out

    got: dict = {}
    state: dict = {}
    for batch in batches:
        per_user: dict = {}
        for _ak, eid, uid, ts, et in batch:
            per_user.setdefault(uid, []).append(
                (eid, base + pd.Timedelta(seconds=ts), et, 1.0)
            )
        for uid, rows in per_user.items():
            out, state[uid] = attribution_fold(
                uid, state.get(uid, []), rows, window_ms, delay_s * 1000
            )
            for (eid, _u, ch, _s, _n) in out:
                got.setdefault(eid, []).append(ch)
    assert {k: sorted(v) for k, v in got.items()} == expected_credits()


@given(_fold_events, st.integers(min_value=0, max_value=10), st.randoms())
@settings(**_SETTINGS)
def test_funnel_fold_monotone_and_batch_parity_under_interleavings(
    events, n_cuts, rnd
):
    """The funnel fold's two contracts, closing the property family the
    other two fold twins already carry: (a) IN-ORDER arrival split into
    any contiguous micro-batches lands on exactly the one-shot fold of
    the full stream (batch parity — the docstring's 'in-order backlog
    reproduces the batch result'); (b) under ANY watermark-admissible
    interleaving, stages are MONOTONE — a stage timestamp never changes
    once set — and the final triple is a valid strictly-increasing
    funnel drawn from the user's own events."""
    from etl_template_spark.streaming.jobs import funnel_fold

    delay_s = 3_600
    base = pd.Timestamp("2024-01-01")

    def pdf(rows):
        return pd.DataFrame(
            {
                "ts": [base + pd.Timedelta(seconds=ts) for (_u, ts, _e) in rows],
                "event_type": [et for (_u, _t, et) in rows],
            }
        )

    evs = [(u, ts, et) for (u, ts, et, _j) in events]
    # (a) batch parity: event-time order, contiguous cuts
    by_user: dict = {}
    for u, ts, et in sorted(evs, key=lambda r: r[1]):
        by_user.setdefault(u, []).append((u, ts, et))
    for u, rows in by_user.items():
        one_shot = funnel_fold((None, None, None), pdf(rows))
        cuts = (
            sorted(rnd.sample(range(1, len(rows)), min(n_cuts, len(rows) - 1)))
            if len(rows) > 1
            else []
        )
        state, lo = (None, None, None), 0
        for c in cuts + [len(rows)]:
            if c > lo:
                state = funnel_fold(state, pdf(rows[lo:c]))
                lo = c
        assert state == one_shot
    # (b) monotonicity + validity under admissible interleavings
    states: dict = {}
    for batch in _arrival_batches(events, delay_s, rnd, n_cuts):
        per_user: dict = {}
        for _ak, _eid, uid, ts, et in batch:
            per_user.setdefault(uid, []).append((uid, ts, et))
        for uid, rows in per_user.items():
            prev = states.get(uid, (None, None, None))
            cur = funnel_fold(prev, pdf(rows))
            for p, c in zip(prev, cur):
                assert p is None or c == p  # stages never regress/change
            states[uid] = cur
    for uid, (tv, tc, tp) in states.items():
        times = {
            et: {
                base + pd.Timedelta(seconds=ts)
                for (u, ts, et2, _j) in events
                if u == uid and et2 == et
            }
            for et in ("view", "click", "purchase")
        }
        if tv is not None:
            assert tv in times["view"]
        if tc is not None:
            assert tc in times["click"] and tc > tv
        if tp is not None:
            assert tp in times["purchase"] and tp > tc


# ------------------------------------------------ sharded Misra-Gries ----


@given(
    stream=st.lists(st.integers(0, 12), min_size=1, max_size=300),
    k=st.integers(min_value=2, max_value=6),
    n_shards=st.integers(min_value=1, max_value=4),
    n_splits=st.integers(min_value=1, max_value=4),
)
@settings(max_examples=60, deadline=None)
def test_mg_fold_shard_union_bounds_vs_unsharded(stream, k, n_shards, n_splits):
    """r8 VERDICT #3 — the invariant not yet pinned: the SHARD-UNION of
    per-shard mg_fold sketches, over random streams / shardings /
    micro-batch splits, against the unsharded sketch and the batch
    Misra-Gries summary (operators/heavy.py):

    - every union count is a lower bound on the item's true frequency,
      undercounted by at most floor(shard_len/(k+1)) — the PER-SHARD
      bound, which is ≤ the unsharded stream-length bound (sharding
      never costs accuracy, the design claim of
      heavy_hitters_tws_stream);
    - guaranteed presence: any item whose TRUE GLOBAL frequency exceeds
      its shard's length/(k+1) is tracked (each item's full stream
      lands in one shard, so the global frequency IS the shard
      frequency);
    - exactness when a shard never exceeds capacity;
    - both the union and heavy.py's batch MG-merge candidates contain
      every globally-guaranteed item (the streaming and batch sketches
      agree on what can never be evicted).
    """
    from collections import Counter

    import pandas as pd

    from etl_template_spark.operators.heavy import _mg_partition
    from etl_template_spark.streaming.jobs import mg_fold

    shards = {
        s: [x for x in stream if x % n_shards == s] for s in range(n_shards)
    }
    union: dict = {}
    for s, items in shards.items():
        counts: dict = {}
        step = max(1, -(-len(items) // n_splits))
        for i in range(0, len(items), step):  # random-ish micro-batching
            counts = mg_fold(counts, items[i : i + step], k)
        assert len(counts) <= k  # the O(k) state bound
        union.update(counts)

    true = Counter(stream)
    for it, c in union.items():
        shard_len = len(shards[it % n_shards])
        assert c <= true[it]  # lower bound, never an overcount
        assert true[it] - c <= shard_len // (k + 1)  # undercount bound

    guaranteed = {
        it
        for it, t in true.items()
        if t * (k + 1) > len(shards[it % n_shards])
    }
    assert guaranteed <= set(union)

    for s, items in shards.items():
        if items and len(set(items)) <= k:  # capacity never exceeded
            for it in set(items):
                assert union[it] == true[it]

    # unsharded fold obeys the WEAKER whole-stream bound; and the batch
    # MG summary (heavy.py's mapInPandas body, driven directly) also
    # retains every globally-guaranteed item of its shard
    unsharded = mg_fold({}, list(stream), k)
    for it, c in unsharded.items():
        assert c <= true[it] and true[it] - c <= len(stream) // (k + 1)
    for s, items in shards.items():
        if not items:
            continue
        fn = _mg_partition("tok", k)
        [cand] = list(fn(iter([pd.DataFrame({"tok": items})])))
        batch_cands = set(cand["tok"])
        assert {it for it in guaranteed if it % n_shards == s} <= batch_cands


# --------------------- weighted pagerank delta-log algebra (late r9) ----

_wdeltas = st.lists(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),  # src
            st.integers(min_value=1, max_value=3),  # dst
            st.integers(min_value=-3, max_value=3),  # weight delta
        ),
        min_size=0,
        max_size=4,
    ),
    min_size=1,
    max_size=3,
)


@given(deltas=_wdeltas, compact_mask=st.lists(st.booleans(), min_size=3, max_size=3))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_weighted_edge_log_algebra_matches_brute_force(
    spark, tmp_path_factory, deltas, compact_mask
):
    """The weighted delta log's observable state — per-pair running sums
    with exact zeroes dead and the >0 subset as the graph in force — is
    a pure fold over the delta sequence, INVARIANT under compaction at
    any point (hypothesis: random delta sequences, negative weights,
    interleaved compact_edge_log calls; brute force = a Python dict)."""
    from collections import Counter

    from hypothesis import assume

    from etl_template_spark.io import read_versioned_merged
    from etl_template_spark.operators.graph import (
        compact_edge_log,
        pagerank_incremental,
    )

    truth: Counter = Counter()
    staged = []
    for d in deltas:
        agg = Counter()
        for s, t, w in d:
            agg[(s, t)] += w
        agg = {k: v for k, v in agg.items() if v != 0}
        nxt = truth.copy()
        nxt.update(agg)
        # the driver refreshes after every commit: the graph in force
        # must stay non-empty, and the very first delta must commit
        assume(any(v > 0 for v in nxt.values()))
        if not staged:
            assume(agg)
        staged.append((agg, d))
        truth = nxt
    root = str(tmp_path_factory.mktemp("wlog"))
    applied: Counter = Counter()
    for i, (agg, d) in enumerate(staged):
        if not agg:
            continue  # an all-zero delta commits nothing — skip the call
        df = spark.createDataFrame(d, "src long, dst long, w long")
        pagerank_incremental(
            spark, root, "g", df, iters=1, weighted=True, weight="w"
        )
        applied.update(agg)
        if compact_mask[i % len(compact_mask)]:
            compact_edge_log(spark, root, "g")
            got = {
                (r["src"], r["dst"]): r["w"]
                for r in read_versioned_merged(spark, root, "g_edges")
                .groupBy("src", "dst")
                .agg(F.sum("w").alias("w"))
                .collect()
            }
            assert got == {k: v for k, v in applied.items() if v != 0}
    merged = {
        (r["src"], r["dst"]): r["w"]
        for r in read_versioned_merged(spark, root, "g_edges")
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
        .collect()
        if r["w"] != 0
    }
    assert merged == {k: v for k, v in applied.items() if v != 0}
    assert merged == {k: v for k, v in truth.items() if v != 0}


# ---------------- generic merged-log compaction algebra (late r9) ----


@given(
    batches=st.lists(
        st.lists(
            st.tuples(st.integers(0, 5), st.integers(0, 5)),
            min_size=1,
            max_size=4,
        ),
        min_size=1,
        max_size=4,
    ),
    compact_mask=st.lists(st.booleans(), min_size=4, max_size=4),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_compact_merged_log_preserves_multiset(
    spark, tmp_path_factory, batches, compact_mask
):
    """The generic retention hook's contract, as an algebra: the merged
    view is the MULTISET union of every batch ever written (duplicates
    preserved — verbatim-union logs own their dedup upstream), and it
    is invariant under compaction interleaved at any point (hypothesis:
    random batch sequences + compaction masks; brute force = a
    Counter).  This is the primitive the IVF cell log, the BM25
    postings log, and the dedup example's index log all lean on."""
    from collections import Counter

    from etl_template_spark.io import (
        compact_merged_log,
        read_versioned_merged,
        write_versioned,
    )

    root = str(tmp_path_factory.mktemp("mlog"))
    truth: Counter = Counter()
    for i, b in enumerate(batches):
        df = spark.createDataFrame(b, "a long, b long")
        write_versioned(df, root, "log")
        truth.update(b)
        if compact_mask[i % len(compact_mask)]:
            compact_merged_log(spark, root, "log", min_claim_age=0)
        got = Counter(
            (r["a"], r["b"])
            for r in read_versioned_merged(spark, root, "log")
            .select("a", "b")
            .collect()
        )
        assert got == truth
