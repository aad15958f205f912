"""Golden end-to-end pipeline test (SURVEY.md §5.2(2)): reproduces the
reference's demo pipeline — extract literal users → per-record transform
→ versioned load (etl.go:26-159) — and makes its inert poison-pill
records (etl.go:36-42: 'Bad User Transform' / 'Bad User Load') REAL:
a transform that raises on id='10' must fail the step, leave no
committed output version, and mark the run Failed.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from etl_template_spark.io import latest_version, list_versions, read_versioned
from etl_template_spark.pipeline import (
    STATUS_COMPLETED,
    STATUS_FAILED,
    Pipeline,
    PipelineRun,
    StepFailed,
    knoll,
)

# the reference's extract fixture, poison pills included (etl.go:26-51)
USERS = [
    ("1", "Alice"), ("2", "Bob"), ("3", "Charlie"), ("4", "Diana"),
    ("10", "Bad User Transform"), ("11", "Bad User Load"),
]


def _extract(spark, _df):
    return spark.createDataFrame(USERS, "id string, name string")


def _transform(spark, df):
    # etl.go:54-60: userId ← id, processedName ← 'Processed_<name>_Individually'
    return df.select(
        F.col("id").alias("userId"),
        F.concat(F.lit("Processed_"), F.col("name"), F.lit("_Individually")).alias(
            "processedName"
        ),
        F.current_timestamp().alias("timestamp"),
    )


def _poison_transform(spark, df):
    # raise_error fires inside the job → the step must fail and commit nothing
    return df.select(
        F.when(F.col("id") == "10", F.raise_error("poison: bad user transform"))
        .otherwise(F.col("id"))
        .alias("userId"),
        F.col("name").alias("processedName"),
    )


def test_golden_pipeline_success(spark, tmp_path):
    root = str(tmp_path / "data")
    p = (
        Pipeline("etl_demo", root)
        .step("ExtractUsers", _extract)
        .step("MainLoop", _transform, input_step="ExtractUsers")
    )
    run = p.run(spark)

    assert run.overall_status == STATUS_COMPLETED
    assert [run.steps[n].status for n in run.step_order] == [STATUS_COMPLETED] * 2
    out = read_versioned(spark, root, "MainLoop")
    rows = {r["userId"]: r["processedName"] for r in out.collect()}
    assert rows["1"] == "Processed_Alice_Individually"
    assert len(rows) == len(USERS)
    assert latest_version(root, "ExtractUsers") == 1
    # manifest persisted and readable
    with open(p.status_path) as f:
        manifest = json.load(f)
    assert manifest["OverallStatus"] == STATUS_COMPLETED
    assert [s["StepName"] for s in manifest["Steps"]] == ["ExtractUsers", "MainLoop"]
    assert all(s["DurationMillis"] >= 0 for s in manifest["Steps"])
    # R19 parity: per-step output row counts ride the write job as
    # observed metrics (no second scan) and land in the manifest
    assert [s["RowsOut"] for s in manifest["Steps"]] == [len(USERS), len(USERS)]

    # versions are immutable: a second run claims v=2, v=1 unchanged
    p.run(spark)
    assert latest_version(root, "MainLoop") == 2


def test_golden_pipeline_poison_pill_fail_fast(spark, tmp_path):
    root = str(tmp_path / "data")
    p = (
        Pipeline("etl_poison", root)
        .step("ExtractUsers", _extract)
        .step("MainLoop", _poison_transform, input_step="ExtractUsers")
        .step("LoadOutput", lambda s, df: df, input_step="MainLoop")
    )
    with pytest.raises(StepFailed):
        p.run(spark)

    run = PipelineRun.load_status("etl_poison", p.status_path)
    assert run.overall_status == STATUS_FAILED
    assert run.steps["ExtractUsers"].status == STATUS_COMPLETED
    assert run.steps["MainLoop"].status == STATUS_FAILED
    assert "poison" in run.steps["MainLoop"].message
    # fail-fast: LoadOutput never started (tools.go:105-115 semantics)
    assert run.steps["LoadOutput"].status == "Pending"
    # atomic output: the failed step committed NO data files (R17 parity —
    # the version dir was claimed, but Spark's commit protocol aborted)
    for v in list_versions(root, "MainLoop"):
        vdir = os.path.join(root, "MainLoop", f"v={v}")
        committed = [
            f for f in os.listdir(vdir) if f.endswith(".parquet") and not f.startswith(".")
        ]
        assert committed == []


def test_pipeline_resume_skips_completed(spark, tmp_path):
    root = str(tmp_path / "data")
    calls: list[str] = []

    def extract(s, df):
        calls.append("extract")
        return _extract(s, df)

    def transform(s, df):
        calls.append("transform")
        return _transform(s, df)

    p = (
        Pipeline("etl_resume", root)
        .step("ExtractUsers", extract)
        .step("MainLoop", transform, input_step="ExtractUsers")
    )
    p.run(spark)
    assert calls == ["extract", "transform"]

    run2 = p.run(spark, resume=True)
    # both steps were checkpoint hits: no re-execution, no new versions
    assert calls == ["extract", "transform"]
    assert run2.steps["ExtractUsers"].message.startswith("skipped")
    assert latest_version(root, "MainLoop") == 1


def test_step_retry_succeeds_after_transient_failure(spark, tmp_path):
    root = str(tmp_path / "data")
    attempts = {"n": 0}

    def flaky(s, df):
        attempts["n"] += 1
        if attempts["n"] < 3:
            raise RuntimeError("transient")
        return _extract(s, df)

    p = Pipeline("etl_retry", root).step(
        "Flaky", flaky, max_retries=3, retry_delay_seconds=0.0
    )
    run = p.run(spark)
    assert attempts["n"] == 3
    assert run.steps["Flaky"].status == STATUS_COMPLETED


def test_knoll_wipes_scratch(tmp_path):
    scratch = str(tmp_path / "scratch")
    os.makedirs(scratch)
    with open(os.path.join(scratch, "stale.txt"), "w") as f:
        f.write("old")
    knoll(scratch)
    assert os.path.isdir(scratch) and os.listdir(scratch) == []


def test_failed_step_releases_its_persisted_frames(spark, tmp_path):
    """A step that persists an intermediate (caching.persist_tracked)
    and then raises must not leave it pinned: every attempt releases on
    the way out, so retries do not pile up cached frames either."""
    from etl_template_spark import caching

    pinned = []

    def persist_then_fail(sp, _df):
        pinned.append(caching.persist_tracked(sp.range(10)))
        raise RuntimeError("after persist")

    p = Pipeline("etl_pins", str(tmp_path / "data")).step(
        "Pins", persist_then_fail, max_retries=2
    )
    with pytest.raises(StepFailed):
        p.run(spark)
    assert len(pinned) == 3  # one frame per attempt
    assert caching._TRACKED == []
    assert not any(df.is_cached for df in pinned)
    assert all(df.storageLevel == StorageLevel.NONE for df in pinned)


@pytest.mark.parametrize(
    "declare, match",
    [
        # a consumer's read is parquet; a JSON read needs a schema
        pytest.param(
            lambda p: p.step("a", _extract, fmt="json").step("b", _transform, input_step="a"),
            "writes 'json'",
            id="json_producer",
        ),
        # a forward (or misspelt) producer has no version in this run
        pytest.param(
            lambda p: p.step("b", _transform, input_step="a").step("a", _extract),
            "not a previously declared step",
            id="forward_input_step",
        ),
        pytest.param(
            lambda p: p.step("a", _extract).step("a", _extract),
            "duplicate step name",
            id="duplicate_name",
        ),
    ],
)
def test_step_declaration_rejects(tmp_path, declare, match):
    with pytest.raises(ValueError, match=match):
        declare(Pipeline("etl_decl", str(tmp_path / "data")))


def test_worked_example_runs(spark, tmp_path, monkeypatch):
    """examples.etl_template — the reference's 3-step pipeline as
    living documentation — must actually run: Completed status, one
    version per step, the Processed_<name>_Individually transform
    applied (etl.go:57)."""
    from etl_template_spark.examples import etl_template as ex

    # reuse the test session instead of the example's own factory
    monkeypatch.setattr(ex, "get_spark", lambda **kw: spark)

    root = str(tmp_path / "data")
    ex.run(root)

    from etl_template_spark import read_versioned
    from etl_template_spark.pipeline import PipelineRun

    manifest = PipelineRun.load_status(
        "etl_template", os.path.join(root, "status", "etl_template.json")
    )
    assert manifest is not None
    assert all(s.status == "Completed" for s in manifest.steps.values())
    assert list(manifest.steps) == ["ExtractUsers", "MainLoop", "LoadOutput"]

    out = read_versioned(
        spark, root, "LoadOutput", fmt="json",
        schema="userId string, processedName string, timestamp string",
    ).collect()
    assert len(out) == len(ex.USERS)
    by_id = {r["userId"]: r["processedName"] for r in out}
    assert by_id["1"] == "Processed_Alice_Individually"
    assert by_id["10"] == "Processed_Bad User Transform_Individually"


def test_step_register_stats_populates_catalog(spark, tmp_path):
    """A step with register_stats=True must leave a catalog table named
    <step>_v<N> carrying ANALYZE statistics after the run."""
    from etl_template_spark import Pipeline

    root = str(tmp_path / "data")
    p = Pipeline("stats_pipe", root).step(
        "Extract",
        lambda s, _: s.range(500).withColumnRenamed("id", "k"),
        register_stats=True,
    )
    run = p.run(spark)
    assert run.steps["Extract"].status == "Completed"
    v = run.steps["Extract"].output_version
    detail = spark.sql(f"DESCRIBE TABLE EXTENDED Extract_v{v}").collect()
    stats = [r for r in detail if r["col_name"] == "Statistics"]
    assert stats and "rows" in stats[0]["data_type"]
    spark.sql(f"DROP TABLE IF EXISTS Extract_v{v}")


def test_streaming_ingest_example_runs(spark, tmp_path, monkeypatch):
    """examples.streaming_ingest — the reference's checkpointed
    record loop as a streaming ingest — must run: dedup collapses the
    redelivered event, the versioned sink commits exactly one version,
    and a checkpoint-resumed rerun with no new data commits nothing."""
    from etl_template_spark.examples import streaming_ingest as ex

    monkeypatch.setattr(ex, "get_spark", lambda **kw: spark)

    root = str(tmp_path / "data")
    ex.run(root)

    from etl_template_spark import read_versioned
    from etl_template_spark.io import latest_version

    assert latest_version(root, "events_ingest") == 1  # one commit, no dup version
    rows = read_versioned(spark, root, "events_ingest").collect()
    assert sorted(r["event_id"] for r in rows) == [1, 2]  # redelivery collapsed
    assert all(r["processed_flag"].startswith("Processed_") for r in rows)


def test_curation_example_runs(spark, sf_dir, tmp_path, monkeypatch):
    """examples.curation_pipeline — the LLM-curation composition as
    living documentation — must run end-to-end: all steps Completed,
    versioned outputs readable, packing invariants hold (offsets inside
    the budget, monotone sequence ids per domain)."""
    from etl_template_spark.examples import curation_pipeline as ex

    monkeypatch.setattr(ex, "get_spark", lambda **kw: spark)

    root = str(tmp_path / "data")
    result = ex.run(root, sf_dir)
    assert result.overall_status == "Completed"
    assert [s.status for s in result.steps.values()] == ["Completed"] * 4

    from etl_template_spark import read_versioned

    packed = read_versioned(spark, root, "Pack").collect()
    sampled = read_versioned(spark, root, "Sample")
    budgeted = read_versioned(spark, root, "Budget")
    sampled_ids = {r["doc_id"] for r in sampled.collect()}
    budget_ids = {r["doc_id"] for r in budgeted.collect()}
    # budget caps the mixture: a strict-or-equal subset, every survivor
    # gets a packing placement
    assert 0 < len(budget_ids) <= len(sampled_ids)
    assert budget_ids <= sampled_ids
    assert 0 < len(packed) == len(budget_ids)
    # the example's mixture step must keep EXACTLY the rows the
    # registered q_sample_weighted keeps (they share mixture_spec /
    # hash_bucket — this pins the sharing under refactors)
    from etl_template_spark.queries import REGISTRY

    q_ids = {
        r["doc_id"] for r in REGISTRY["q_sample_weighted"].build(spark, sf_dir).collect()
    }
    assert sampled_ids == q_ids
    assert all(0 <= r["seq_offset"] < ex.SEQ_BUDGET for r in packed)
    by_dom: dict = {}
    for r in sorted(packed, key=lambda r: (r["source"], r["lang"], r["doc_id"])):
        last = by_dom.get((r["source"], r["lang"]), 0)
        assert r["seq_idx"] >= last  # packing never rewinds within a domain
        by_dom[(r["source"], r["lang"])] = r["seq_idx"]
    # the catalog carries stats for the final step (register_stats=True)
    v = result.steps["Pack"].output_version
    detail = spark.sql(f"DESCRIBE TABLE EXTENDED Pack_v{v}").collect()
    assert any(r["col_name"] == "Statistics" for r in detail)
    spark.sql(f"DROP TABLE IF EXISTS Pack_v{v}")


def test_quality_gate_example_green_path(spark, sf_dir, tmp_path, monkeypatch):
    """examples.quality_gate — the monitoring composition as living
    documentation: fixture data passes the default expectations, all
    three steps Complete, and the persisted gate report / anomaly
    scores are readable versioned datasets."""
    from etl_template_spark.examples import quality_gate as ex

    monkeypatch.setattr(ex, "get_spark", lambda **kw: spark)
    root = str(tmp_path / "data")
    result = ex.run(root, sf_dir)
    assert result.overall_status == "Completed"
    assert [s.status for s in result.steps.values()] == ["Completed"] * 3

    from etl_template_spark import read_versioned

    report = read_versioned(spark, root, "Gate").collect()
    assert {r["col_name"] for r in report} == {
        "event_id", "user_id", "event_type", "ts", "value"
    }
    assert not any(r["null_violation"] or r["distinct_violation"] for r in report)
    scores = read_versioned(spark, root, "Anomaly").collect()
    assert len(scores) > 0 and {"d", "mad_score", "is_anomaly"} <= set(
        scores[0].asDict()
    )


def test_quality_gate_example_poison_spec_fails_run(spark, sf_dir, tmp_path, monkeypatch):
    """Poison-pill golden test (the atomic-sink discipline applied to
    expectations): an unsatisfiable spec must abort the run at the Gate
    step — Failed recorded in the manifest, the Anomaly step never
    executed, no Gate output version committed."""
    import pytest as _pytest

    from etl_template_spark.examples import quality_gate as ex
    from etl_template_spark.pipeline import StepFailed

    monkeypatch.setattr(ex, "get_spark", lambda **kw: spark)
    root = str(tmp_path / "data")
    poison = [("event_id", 0.0, 10**12)]  # nothing has 10^12 distinct ids
    p = ex.build_pipeline(root, sf_dir, expectations=poison)
    with _pytest.raises(StepFailed):
        p.run(spark)

    from etl_template_spark.pipeline import PipelineRun

    manifest = PipelineRun.load_status("quality_gate", p.status_path)
    assert manifest.overall_status == "Failed"
    assert manifest.steps["Gate"].status == "Failed"
    assert "quality gate violated" in (manifest.steps["Gate"].message or "")
    assert manifest.steps["Anomaly"].status in ("Pending", "NotStarted")
    assert manifest.steps["Gate"].output_version is None


def test_dataset_release_example_runs(spark, sf_dir, tmp_path, monkeypatch):
    """examples.dataset_release — the round-8 release composition as
    living documentation: the gate passes on fixture data, the mixture
    honors targets-or-availability, every selected doc gets a split,
    and the published audit reconciles with the split step's rows."""
    from etl_template_spark.examples import dataset_release as ex

    monkeypatch.setattr(ex, "get_spark", lambda **kw: spark)
    root = str(tmp_path / "data")
    result = ex.run(root, sf_dir)
    assert result.overall_status == "Completed"
    assert [s.status for s in result.steps.values()] == ["Completed"] * 4

    from etl_template_spark import read_versioned
    from etl_template_spark.queries.splits import _MIX_TARGETS

    assigned = read_versioned(spark, root, "Split").collect()
    assert all(r["split"] in ("train", "val", "test") for r in assigned)
    audit = read_versioned(spark, root, "Publish").collect()
    assert sum(r["n_docs"] for r in audit) == len(assigned)
    # mixture: no language above its target
    by_lang: dict = {}
    for r in assigned:
        by_lang[r["lang"]] = by_lang.get(r["lang"], 0) + 1
    assert all(n <= _MIX_TARGETS[lang] for lang, n in by_lang.items())


def test_dataset_release_gate_poison_fails_run(spark, sf_dir, tmp_path, monkeypatch):
    """A corpus violating a release constraint must abort at Check:
    Failed in the manifest, nothing selected or published."""
    import pytest as _pytest

    from etl_template_spark.examples import dataset_release as ex
    from etl_template_spark.pipeline import PipelineRun, StepFailed

    # poison: a document with an out-of-vocabulary language
    from etl_template_spark.io import load_table as real_load

    def poisoned(spark_, sfd, table):
        d = real_load(spark_, sfd, table)
        if table == "documents":
            bad = spark.createDataFrame(
                [(999_999, "rogue text", "xx", "srcX", 10)],
                "doc_id long, text string, lang string, source string, n_chars long",
            )
            d = d.unionByName(bad)
        return d

    monkeypatch.setattr(ex, "get_spark", lambda **kw: spark)
    monkeypatch.setattr(ex, "load_table", poisoned)
    root = str(tmp_path / "data")
    p = ex.build_pipeline(root, sf_dir)
    with _pytest.raises(StepFailed):
        p.run(spark)
    manifest = PipelineRun.load_status("dataset_release", p.status_path)
    assert manifest.overall_status == "Failed"
    assert manifest.steps["Check"].status == "Failed"
    assert "lang_in_mixture_vocab" in (manifest.steps["Check"].message or "")
    assert manifest.steps["Check"].output_version is None


def test_dataset_release_gate_catches_duplicate_ids(
    spark, sf_dir, tmp_path, monkeypatch
):
    """r8 ADVICE: the docstring's id-uniqueness invariant must be
    enforced — a duplicated doc_id would be multiplied by the mixture
    join downstream, so it must abort at Check."""
    import pytest as _pytest

    from etl_template_spark.examples import dataset_release as ex
    from etl_template_spark.io import load_table as real_load
    from etl_template_spark.pipeline import PipelineRun, StepFailed

    def duplicated(spark_, sfd, table):
        d = real_load(spark_, sfd, table)
        if table == "documents":
            d = d.unionByName(d.limit(1))  # plant one duplicate doc_id
        return d

    monkeypatch.setattr(ex, "get_spark", lambda **kw: spark)
    monkeypatch.setattr(ex, "load_table", duplicated)
    root = str(tmp_path / "data")
    p = ex.build_pipeline(root, sf_dir)
    with _pytest.raises(StepFailed):
        p.run(spark)
    manifest = PipelineRun.load_status("dataset_release", p.status_path)
    assert manifest.steps["Check"].status == "Failed"
    assert "doc_id_unique" in (manifest.steps["Check"].message or "")


def test_link_graph_refresh_example_runs(spark, sf_dir, tmp_path, monkeypatch):
    """examples.link_graph_refresh — the round-9 incremental-graph
    composition as living documentation: three nightly weighted deltas
    land as delta-sized edge-log versions, each refresh commits the
    next rank vector, compaction folds the log to ONE version, and the
    post-compaction empty-delta refresh still advances the vector."""
    from etl_template_spark.examples import link_graph_refresh as ex
    from etl_template_spark.io import list_versions, read_versioned

    monkeypatch.setattr(ex, "get_spark", lambda **kw: spark)
    root = str(tmp_path / "data")
    ex.run(root, sf_dir)
    # 3 nightly deltas + the compacted fold, pruned to the fold alone
    assert list_versions(root, "authority_ranks") == [1, 2, 3, 4]
    assert list_versions(root, "authority_edges") == [4]
    final = {
        r["id"]: r["rank"]
        for r in read_versioned(spark, root, "authority_ranks").collect()
    }
    prev = {
        r["id"]: r["rank"]
        for r in read_versioned(spark, root, "authority_ranks", version=3).collect()
    }
    # bipartite: customer (even) and part (odd) nodes both present
    assert any(k % 2 == 0 for k in final) and any(k % 2 == 1 for k in final)
    # nights 2-3 grew the graph, and warm-start excess mass decays
    # GEOMETRICALLY (total_{t+1} = (1-d) + d*total_t), it doesn't
    # vanish: assert the decay law, not exact conservation — the
    # post-compaction refresh's 4 extra rounds shrink |sum - 1| by
    # ~0.85^4 vs the night-3 vector (nano rounding guard on top)
    excess_prev = abs(sum(prev.values()) - 1.0)
    excess_final = abs(sum(final.values()) - 1.0)
    assert excess_final < 0.01
    assert excess_final <= excess_prev * 0.85**4 + 1e-7
    # the post-compaction refresh ADVANCED from the night-3 vector
    # (same node set — the graph didn't change — but four more rounds)
    assert set(final) == set(prev) and final != prev


def test_incremental_dedup_example_runs(
    spark, sf_dir, tmp_path, monkeypatch, union_find_cc
):
    """examples.incremental_dedup — the round-9 incremental-dedup
    composition as living documentation, pinned to its LOSSLESS
    contract: after three nightly ingests (delta-indexed signatures,
    LSH probe vs the standing index, exact verification, incremental
    CC) the standing labeling must equal from-scratch full-corpus
    near-dup clustering BIT-FOR-BIT."""
    from etl_template_spark.examples import incremental_dedup as ex
    from etl_template_spark.io import list_versions, read_versioned
    from etl_template_spark.queries.llm_text import q_dedup_fuzzy

    monkeypatch.setattr(ex, "get_spark", lambda **kw: spark)
    root = str(tmp_path / "data")
    ex.run(root, sf_dir)
    # three delta-sized index versions folded to ONE by the closing
    # compaction; the labeling's history pruned to the newest refresh
    assert list_versions(root, "dupes_index") == [4]
    assert list_versions(root, "dupes_cc") == [3]
    got = {
        (r["id"], r["component"])
        for r in read_versioned(spark, root, "dupes_cc").collect()
    }
    want = set(
        union_find_cc(
            (r["d1"], r["d2"]) for r in q_dedup_fuzzy(spark, sf_dir).collect()
        ).items()
    )
    assert got == want and got
    # redelivering a night end-to-end is idempotent: nothing indexed,
    # no pairs emitted, no new versions, labeling bit-identical
    redelivered = ex.night_pairs(
        spark, root, ex.night_docs(spark, sf_dir, 2)
    )
    assert redelivered.isEmpty()
    assert list_versions(root, "dupes_index") == [4]


def test_incremental_dedup_night_writes_without_rescanning_its_index(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A later night's anti-joined documents are a snapshot (see the
    caching module docstring): the night's versioned write reads the
    pinned documents, never the index log that the write appends to."""
    from etl_template_spark.examples import incremental_dedup as ex

    root = str(tmp_path / "data")
    ex.night_pairs(spark, root, ex.night_docs(spark, sf_dir, 0))
    write_versioned, inputs = ex.write_versioned, []

    def spy(df, *args, **kwargs):
        inputs.append(df.inputFiles())
        return write_versioned(df, *args, **kwargs)

    monkeypatch.setattr(ex, "write_versioned", spy)
    ex.night_pairs(spark, root, ex.night_docs(spark, sf_dir, 1))
    assert len(inputs) == 1
    assert not [f for f in inputs[0] if f"/{ex.STEP}_index/" in f], inputs[0]
