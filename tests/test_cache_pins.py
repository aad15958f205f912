"""Cache-pin gate: every frame a dedup/ANN builder pins is READ from the
cache by the executed query.

A pin can die silently: ``spark.sql(..., df=frame)`` drops its temp
views on exit and that uncaches the named frame, and a frame produced
by a CTE-bearing statement is never substituted back from the cache.
Both leave the results unchanged and only cost time, so only a plan
check sees them.  Each query below is executed to the noop sink; the
final AQE plan (query stages and the plans of nested caches included)
must hold an InMemoryTableScan over every frame the builder pinned.
"""

from __future__ import annotations

import pytest

from etl_template_spark import caching
from etl_template_spark.queries import REGISTRY

# query -> names of the frames it pins, in persist order
PINS = {
    "q_dedup_fuzzy": ("mins", "sh"),
    "q_dedup_ngram": ("sh", "kept"),
    "q_dedup_containment": ("sh", "kept"),
    "q_sim_search_ivf": ("cents",),
    "q_sim_search_pq": ("books", "sub"),
}


_RUNS: dict = {}


def _pins_scanned(spark, sf_dir, plan_nodes, name) -> dict:
    """Build + execute ``name`` once; {pin: read by an InMemoryTableScan}."""
    if name in _RUNS:
        return _RUNS[name]
    caching.release_tracked()
    spark.catalog.clearCache()
    df = REGISTRY[name].build(spark, sf_dir)
    tracked = list(caching._TRACKED)
    try:
        pins = PINS[name]
        assert len(tracked) == len(pins), (name, len(tracked))
        cm = spark._jsparkSession.sharedState().cacheManager()
        builders = {}
        for pin, frame in zip(pins, tracked):
            entry = cm.lookupCachedData(frame._jdf)
            assert entry.isDefined(), f"{name}: pinned frame {pin} is not cached"
            builders[pin] = entry.get().cachedRepresentation().cacheBuilder()
        df.write.format("noop").mode("overwrite").save()
        scanned = [
            node.relation().cacheBuilder()
            for node in plan_nodes(df._jdf.queryExecution().executedPlan())
            if node.getClass().getSimpleName() == "InMemoryTableScanExec"
        ]
        _RUNS[name] = {
            pin: any(b.equals(s) for s in scanned) for pin, b in builders.items()
        }
    finally:
        caching.release_tracked()
    return _RUNS[name]


@pytest.mark.parametrize("name,pin", [(n, p) for n in sorted(PINS) for p in PINS[n]])
def test_pinned_frame_is_scanned(spark, sf_dir, plan_nodes, name, pin):
    assert _pins_scanned(spark, sf_dir, plan_nodes, name)[pin], (
        f"{name}: no InMemoryTableScan reads pinned frame {pin}"
    )


def test_cluster_runs_over_pinned_pairs(spark, sf_dir):
    """q_dedup_cluster reuses q_dedup_fuzzy (and its pins) under an
    iterative connected-components loop: it must build and execute, and
    every pair doc lands in a cluster whose id is its smallest member."""
    caching.release_tracked()
    try:
        pairs = REGISTRY["q_dedup_fuzzy"].build(spark, sf_dir).collect()
        caching.release_tracked()
        rows = REGISTRY["q_dedup_cluster"].build(spark, sf_dir).collect()
    finally:
        caching.release_tracked()
    docs = {r["d1"] for r in pairs} | {r["d2"] for r in pairs}
    got = {r["doc_id"]: r["cluster_id"] for r in rows}
    assert set(got) == docs
    assert all(got[d] <= d for d in docs)
