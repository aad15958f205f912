"""The driver contract surface (`__spark_entry__.py`): exposure order,
registry completeness, and the bounded correctness window.

The harness records a bounded window from the FRONT of ``queries()``
(round 2 measured it at 50 entries), so the exposure order is part of
the contract.  Since round 4 the order derives from the committed
CORRECTNESS_r*.json files plus the content-hash snapshot
(QUERY_CONTENT_HASHES.json): crashed rows first, then never-recorded
queries, then recorded-but-content-changed (invalidated) ones, then the
validly recorded tail stalest-first — so every query's official row is
both fresh and still describes the code it certifies.
"""

from __future__ import annotations

import json
import os

import __spark_entry__ as entry_mod
from etl_template_spark.queries import REGISTRY

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The correctness window each round's build predicted, one row per round:
# the front 50 names of ``queries()`` the harness was expected to record.
WINDOWS = {
    # r5: the two r04 hash-FAIL fixes, the eight new phase-7 queries, then invalidated modules
    5: [
        'q_token_type_ratio', 'q_pack_sequences', 'q_sample_weighted',
        'q_sample_stratified', 'q_sample_reservoir', 'q_sample_cluster',
        'q_sample_budget', 'q_lateral_topk', 'q_recluster_zorder',
        'q_cross_encoder_score', 'q_scan_parquet', 'q_scan_jsonl', 'q_scan_csv',
        'q_scan_orc', 'q_sink_partitioned', 'q_sink_versioned', 'q_scan_pyds',
        'q_scan_text', 'q_compact_versioned', 'q_sink_zorder', 'q_delete_versioned',
        'q_scan_versioned_merged', 'q_agg_group', 'q_agg_global', 'q_agg_distinct',
        'q_agg_having', 'q_agg_approx', 'q_rollup', 'q_cube', 'q_grouping_sets',
        'q_agg_pivot', 'q_unpivot', 'q_agg_sketch_rollup', 'q_agg_approx_percentile',
        'q_sim_search', 'q_sim_search_lsh', 'q_dedup_embedding', 'q_knn_join_blocked',
        'q_sim_search_ivf', 'q_sim_search_pq', 'q_multimodal_meta',
        'q_multimodal_features', 'q_multimodal_frames', 'q_pii_scrub', 'q_ngram_freq',
        'q_chunk_documents', 'q_sink_hilbert', 'q_project', 'q_filter', 'q_join_inner',
    ],
    # r6: six new queries, sixteen invalidated, then the r2-stale tail and the r3 tail's head
    6: [
        'q_lateral_outer', 'q_recluster_hilbert', 'q_bm25_rank', 'q_dedup_url',
        'q_version_diff', 'q_dedup_bloom', 'q_win_rank', 'q_win_analytic',
        'q_win_frame', 'q_topk_per_group', 'q_win_distribution', 'q_sim_search',
        'q_sim_search_lsh', 'q_dedup_embedding', 'q_knn_join_blocked',
        'q_sim_search_ivf', 'q_sim_search_pq', 'q_multimodal_meta',
        'q_multimodal_features', 'q_multimodal_frames', 'q_lateral_topk',
        'q_recluster_zorder', 'q_join_left', 'q_join_right', 'q_join_full',
        'q_join_semi', 'q_join_anti', 'q_join_broadcast', 'q_join_multi',
        'q_join_theta', 'q_join_asof', 'q_join_promo_share', 'q_join_range',
        'q_tpch_q3', 'q_tpch_q18', 'q_tpch_q4', 'q_tpch_q7', 'q_tpch_q10', 'q_tpch_q12',
        'q_tpch_q16', 'q_tpch_q6', 'q_tpch_q2', 'q_tpch_q8', 'q_tpch_q9', 'q_tpch_q11',
        'q_tpch_q13', 'q_tpch_q15', 'q_tpch_q17', 'q_tpch_q19', 'q_tpch_q20',
    ],
    # r7: sixteen new queries, seven invalidated, then the whole 27-query r3-stale tail
    7: [
        'q_changelog_apply', 'q_shuffle_interleave', 'q_dedup_semantic',
        'q_incremental_agg', 'q_timeseries_gapfill', 'q_profile_table',
        'q_distribution_drift', 'q_quality_repetition', 'q_entity_resolution',
        'q_index_inverted', 'q_anomaly_mad', 'q_ngram_pmi', 'q_locf_impute',
        'q_agg_hll', 'q_attribution_linear', 'q_scd2_lookup', 'q_sample_weighted',
        'q_sample_stratified', 'q_sample_reservoir', 'q_sample_cluster',
        'q_sample_budget', 'q_bm25_rank', 'q_dedup_url', 'q_tpch_q21', 'q_tpch_q22',
        'q_sort_limit', 'q_union', 'q_union_distinct', 'q_intersect', 'q_except',
        'q_distinct', 'q_fn_string', 'q_fn_date', 'q_fn_math', 'q_fn_cond',
        'q_fn_array', 'q_fn_map_json', 'q_udf_pandas', 'q_udaf_pandas',
        'q_udf_apply_in_pandas', 'q_udtf_explode', 'q_udtf_mapinpandas',
        'q_udtf_python', 'q_win_dedup', 'q_merge_upsert', 'q_scd2', 'q_agg_skew_salted',
        'q_sample_hash', 'q_events_funnel', 'q_events_retention',
    ],
    # r8: nine new queries, 14 invalidated llm_text entries, the r4-stale tail, six r5 scans
    8: [
        'q_pagerank', 'q_rank_metrics', 'q_rolling_stats', 'q_train_test_split',
        'q_dataset_mixture', 'q_constraint_check', 'q_dedup_containment',
        'q_dedup_prefix', 'q_quantile_sketch', 'q_dedup_exact', 'q_dedup_fuzzy',
        'q_dedup_cluster', 'q_dedup_incremental', 'q_dedup_ngram', 'q_dedup_simhash',
        'q_text_stats', 'q_lang_id', 'q_quality_score', 'q_token_count',
        'q_fingerprint', 'q_tfidf', 'q_heavy_hitters', 'q_corpus_curation',
        'q_subquery_scalar', 'q_subquery_in', 'q_subquery_correlated', 'q_agg_stats',
        'q_agg_percentile', 'q_string_agg', 'q_stream_tumbling', 'q_stream_sliding',
        'q_sessionize', 'q_stream_dedup_late', 'q_stream_join', 'q_sessionize_native',
        'q_stream_distinct_users', 'q_agg_mode', 'q_agg_minmax_by', 'q_agg_cond_count',
        'q_histogram', 'q_events_transitions', 'q_dedup_keep_best',
        'q_contamination_check', 'q_ngram_novelty', 'q_scan_parquet', 'q_scan_jsonl',
        'q_scan_csv', 'q_scan_orc', 'q_sink_partitioned', 'q_sink_versioned',
    ],
    # r9: three new queries, two invalidated, the r5-stale block, then the 17 stalest r6
    9: [
        'q_quantile_rollup', 'q_pagerank_weighted', 'q_stream_join_outer', 'q_pagerank',
        'q_quantile_sketch', 'q_scan_pyds', 'q_scan_text', 'q_compact_versioned',
        'q_sink_zorder', 'q_delete_versioned', 'q_scan_versioned_merged', 'q_project',
        'q_filter', 'q_join_inner', 'q_agg_group', 'q_agg_global', 'q_agg_distinct',
        'q_agg_having', 'q_agg_approx', 'q_agg_approx_percentile', 'q_rollup', 'q_cube',
        'q_grouping_sets', 'q_agg_pivot', 'q_unpivot', 'q_agg_sketch_rollup',
        'q_pii_scrub', 'q_ngram_freq', 'q_token_type_ratio', 'q_chunk_documents',
        'q_pack_sequences', 'q_sink_hilbert', 'q_cross_encoder_score', 'q_join_left',
        'q_join_right', 'q_join_full', 'q_join_semi', 'q_join_anti', 'q_join_broadcast',
        'q_join_multi', 'q_join_theta', 'q_join_asof', 'q_join_promo_share',
        'q_join_range', 'q_tpch_q3', 'q_tpch_q18', 'q_tpch_q4', 'q_tpch_q7',
        'q_tpch_q10', 'q_tpch_q12',
    ],
    # r10: q_tpch_q5, the remaining r6-stale block, then the 18 stalest r7 entries
    10: [
        'q_tpch_q5', 'q_tpch_q16', 'q_tpch_q6', 'q_tpch_q2', 'q_tpch_q8', 'q_tpch_q9',
        'q_tpch_q11', 'q_tpch_q13', 'q_tpch_q15', 'q_tpch_q17', 'q_tpch_q19',
        'q_tpch_q20', 'q_win_rank', 'q_win_analytic', 'q_win_frame', 'q_topk_per_group',
        'q_win_distribution', 'q_sim_search', 'q_sim_search_lsh', 'q_dedup_embedding',
        'q_knn_join_blocked', 'q_sim_search_ivf', 'q_sim_search_pq',
        'q_multimodal_meta', 'q_multimodal_features', 'q_multimodal_frames',
        'q_lateral_topk', 'q_lateral_outer', 'q_recluster_zorder',
        'q_recluster_hilbert', 'q_version_diff', 'q_dedup_bloom', 'q_tpch_q21',
        'q_tpch_q22', 'q_sort_limit', 'q_union', 'q_union_distinct', 'q_intersect',
        'q_except', 'q_distinct', 'q_fn_string', 'q_fn_date', 'q_fn_math', 'q_fn_cond',
        'q_fn_array', 'q_fn_map_json', 'q_udf_pandas', 'q_udaf_pandas',
        'q_udf_apply_in_pandas', 'q_udtf_explode',
    ],
    # r11: 22 invalidated by the round's perf edits, then the 28 stalest valid entries
    11: [
        'q_dedup_exact', 'q_dedup_fuzzy', 'q_dedup_cluster', 'q_dedup_incremental',
        'q_dedup_ngram', 'q_dedup_simhash', 'q_text_stats', 'q_lang_id',
        'q_quality_score', 'q_token_count', 'q_fingerprint', 'q_tfidf',
        'q_heavy_hitters', 'q_corpus_curation', 'q_dedup_containment', 'q_dedup_prefix',
        'q_sim_search', 'q_sim_search_lsh', 'q_dedup_embedding', 'q_knn_join_blocked',
        'q_sim_search_ivf', 'q_sim_search_pq', 'q_udtf_mapinpandas', 'q_udtf_python',
        'q_win_dedup', 'q_merge_upsert', 'q_scd2', 'q_agg_skew_salted', 'q_sample_hash',
        'q_events_funnel', 'q_events_retention', 'q_sample_weighted',
        'q_sample_stratified', 'q_sample_reservoir', 'q_sample_cluster',
        'q_sample_budget', 'q_bm25_rank', 'q_dedup_url', 'q_changelog_apply',
        'q_shuffle_interleave', 'q_dedup_semantic', 'q_incremental_agg',
        'q_timeseries_gapfill', 'q_profile_table', 'q_distribution_drift',
        'q_quality_repetition', 'q_entity_resolution', 'q_index_inverted',
        'q_anomaly_mad', 'q_ngram_pmi',
    ],
    # r12: pure staleness rotation (4 r7, all 32 r8, 14 stalest r9), nothing invalidated
    12: [
        'q_locf_impute', 'q_agg_hll', 'q_attribution_linear', 'q_scd2_lookup',
        'q_scan_parquet', 'q_scan_jsonl', 'q_scan_csv', 'q_scan_orc',
        'q_sink_partitioned', 'q_sink_versioned', 'q_subquery_scalar', 'q_subquery_in',
        'q_subquery_correlated', 'q_agg_stats', 'q_agg_percentile', 'q_string_agg',
        'q_stream_tumbling', 'q_stream_sliding', 'q_sessionize', 'q_stream_dedup_late',
        'q_stream_join', 'q_sessionize_native', 'q_stream_distinct_users', 'q_agg_mode',
        'q_agg_minmax_by', 'q_agg_cond_count', 'q_histogram', 'q_events_transitions',
        'q_dedup_keep_best', 'q_contamination_check', 'q_ngram_novelty',
        'q_rank_metrics', 'q_rolling_stats', 'q_train_test_split', 'q_dataset_mixture',
        'q_constraint_check', 'q_scan_pyds', 'q_scan_text', 'q_compact_versioned',
        'q_sink_zorder', 'q_delete_versioned', 'q_scan_versioned_merged', 'q_project',
        'q_filter', 'q_join_inner', 'q_join_left', 'q_join_right', 'q_join_full',
        'q_join_semi', 'q_join_anti',
    ],
    # r13: the first 50 of 75 entries invalidated by the round's optimization edits
    13: [
        'q_join_broadcast', 'q_join_multi', 'q_join_theta', 'q_join_asof',
        'q_join_promo_share', 'q_join_range', 'q_agg_group', 'q_agg_global',
        'q_agg_distinct', 'q_agg_having', 'q_agg_approx', 'q_agg_approx_percentile',
        'q_rollup', 'q_cube', 'q_grouping_sets', 'q_agg_pivot', 'q_unpivot',
        'q_agg_sketch_rollup', 'q_tpch_q3', 'q_tpch_q18', 'q_tpch_q4', 'q_tpch_q7',
        'q_tpch_q10', 'q_tpch_q12', 'q_tpch_q16', 'q_tpch_q6', 'q_tpch_q2', 'q_tpch_q8',
        'q_tpch_q9', 'q_tpch_q11', 'q_tpch_q13', 'q_tpch_q15', 'q_tpch_q17',
        'q_tpch_q19', 'q_tpch_q20', 'q_tpch_q21', 'q_tpch_q22', 'q_tpch_q5',
        'q_events_funnel', 'q_events_retention', 'q_dedup_exact', 'q_dedup_fuzzy',
        'q_dedup_cluster', 'q_dedup_incremental', 'q_dedup_ngram', 'q_dedup_simhash',
        'q_text_stats', 'q_lang_id', 'q_quality_score', 'q_token_count',
    ],
    # r14: the first 50 of 75 entries invalidated by the SQL-text build rework
    14: [
        'q_fingerprint', 'q_tfidf', 'q_heavy_hitters', 'q_corpus_curation',
        'q_sim_search', 'q_sim_search_lsh', 'q_dedup_embedding', 'q_knn_join_blocked',
        'q_sim_search_ivf', 'q_sim_search_pq', 'q_dedup_semantic', 'q_anomaly_mad',
        'q_join_inner', 'q_join_left', 'q_join_right', 'q_join_full', 'q_join_semi',
        'q_join_anti', 'q_subquery_scalar', 'q_subquery_in', 'q_subquery_correlated',
        'q_agg_stats', 'q_agg_percentile', 'q_string_agg', 'q_stream_tumbling',
        'q_stream_sliding', 'q_sessionize', 'q_stream_dedup_late', 'q_stream_join',
        'q_sessionize_native', 'q_stream_distinct_users', 'q_rank_metrics',
        'q_agg_group', 'q_agg_global', 'q_agg_distinct', 'q_agg_having', 'q_agg_approx',
        'q_agg_approx_percentile', 'q_rollup', 'q_cube', 'q_grouping_sets',
        'q_agg_pivot', 'q_unpivot', 'q_agg_sketch_rollup', 'q_tpch_q3', 'q_tpch_q18',
        'q_tpch_q4', 'q_tpch_q7', 'q_tpch_q10', 'q_tpch_q12',
    ],
}


def _window_tripwire(rnd: int):
    def test():
        """Window-drift tripwire for one round.  BEFORE its recording
        lands, the live exposure order must start with exactly the pinned
        prediction; AFTER ``CORRECTNESS_rNN.json`` exists, the names the
        harness actually recorded must match a prefix of it — a window
        that drifted between pinning and recording fails the round it
        happened, not two rounds later."""
        window = WINDOWS[rnd]
        path = os.path.join(REPO, f"CORRECTNESS_r{rnd:02d}.json")
        if not os.path.exists(path):
            assert list(entry_mod.queries())[:50] == window
            return
        with open(path) as f:
            recorded = list(json.load(f))
        assert set(recorded) == set(window[: len(recorded)]), (
            f"r{rnd:02d} recorded a different window than the round-{rnd} "
            "build predicted"
        )

    test.__name__ = test.__qualname__ = f"test_round{rnd}_window_matches_prediction"
    return test


# one test per table row, named test_round<N>_window_matches_prediction
for _rnd in WINDOWS:
    globals()[f"test_round{_rnd}_window_matches_prediction"] = _window_tripwire(_rnd)


def test_exposure_covers_registry_exactly():
    qs = entry_mod.queries()
    assert set(qs) == set(REGISTRY)
    assert len(qs) == len(REGISTRY)


def test_exposure_promotes_unrecorded_queries():
    """Exposure-order invariants that hold in EVERY round: crashed
    official rows lead (they need a recordable re-run), then queries
    with no official row yet (oracle-backed before rows-only — window
    slots are scarce and the hash check is the strong one), then
    recorded-but-content-changed (invalidated) queries, then the
    validly recorded tail, stalest recording first."""
    from etl_template_spark import verification

    recorded_ok = entry_mod._recorded_names()
    errored = entry_mod._attempted_names() - recorded_ok
    invalid = verification.invalidated_names()

    def bucket(name: str) -> int:
        if name in errored:
            return 0
        if name not in recorded_ok:
            return 1 if REGISTRY[name].oracle is not None else 2
        return 3 if name in invalid else 4

    order = list(entry_mod.queries())
    buckets = [bucket(n) for n in order]
    assert buckets == sorted(buckets)
    # and the scarce front window is spent on queries that need a
    # (re-)recording, as long as enough of them exist
    n_needy = sum(1 for b in buckets if b < 4)
    for name in order[: min(50, n_needy)]:
        assert bucket(name) < 4, f"{name} is validly recorded but leads"
    # the valid tail rotates stalest-first so official re-confirmation
    # cycles through the whole surface round-over-round
    latest = verification.latest_recorded_round()
    tail_rounds = [latest[n] for n in order if bucket(n) == 4]
    assert tail_rounds == sorted(tail_rounds)


def test_content_change_invalidates_recorded_row(tmp_path):
    """ADVICE r3 (medium): a recorded name must stop counting as
    verified when its builder/oracle content changes.  Simulated with a
    fake repo root: one recorded query whose snapshot hash is stale."""
    import json

    from etl_template_spark import verification

    root = str(tmp_path)
    rows = {
        "q_filter": {"err": None},
        "q_project": {"err": None},
    }
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(rows))
    snap = {
        "q_filter": {"round": 1, "hash": "0" * 64},  # stale
        "q_project": {
            "round": 1,
            "hash": verification.query_content_hash("q_project"),  # current
        },
    }
    (tmp_path / "QUERY_CONTENT_HASHES.json").write_text(json.dumps(snap))
    inv = verification.invalidated_names(root)
    assert "q_filter" in inv
    assert "q_project" not in inv
    # a recorded name with NO stamp at all is invalid too (fail-safe:
    # re-record rather than trust an uncertified pass)
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"q_distinct": {"err": None}})
    )
    assert "q_distinct" in verification.invalidated_names(root)


def test_refresh_snapshot_keeps_stale_stamp_until_rerecorded(tmp_path):
    """refresh_snapshot must NOT re-stamp a drifted hash unless the
    driver actually re-recorded the query in a newer round — otherwise
    an invalidated query would silently count as verified again."""
    import json

    from etl_template_spark import verification

    root = str(tmp_path)
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"q_filter": {"err": None}})
    )
    stale = {"q_filter": {"round": 1, "hash": "0" * 64}}
    (tmp_path / "QUERY_CONTENT_HASHES.json").write_text(json.dumps(stale))
    snap = verification.refresh_snapshot(root)
    assert snap["q_filter"]["hash"] == "0" * 64  # stamp unchanged
    assert "q_filter" in verification.invalidated_names(root)
    # a newer official recording re-stamps with current content
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"q_filter": {"err": None}})
    )
    snap = verification.refresh_snapshot(root)
    assert snap["q_filter"]["hash"] == verification.query_content_hash("q_filter")
    assert snap["q_filter"]["round"] == 2
    assert "q_filter" not in verification.invalidated_names(root)


def test_crashed_row_does_not_count_as_recorded(tmp_path):
    import json

    from etl_template_spark import verification

    root = str(tmp_path)
    rows = {
        "q_filter": {"err": "boom"},
        "q_project": {"err": "no_oracle"},
        "q_distinct": {"err": None},
        # ran to completion but the comparison FAILED — the r04
        # oracle-type bugs shipped exactly this row shape; it must not
        # count as a valid recording
        "q_union": {"err": None, "rows_match": True, "hash_match": False},
    }
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(rows))
    latest = verification.latest_recorded_round(root)
    assert "q_filter" not in latest
    assert "q_union" not in latest
    assert latest == {"q_project": 1, "q_distinct": 1}
    assert verification.attempted_names(root) == {
        "q_filter", "q_project", "q_distinct", "q_union",
    }


def test_oracles_follow_exposure_order():
    qs, osql = entry_mod.queries(), entry_mod.oracle_sql()
    assert set(osql) <= set(qs)
    exposed = [n for n in qs if n in osql]
    assert exposed == list(osql)
    for name, sql in osql.items():
        assert isinstance(sql, str) and sql.strip()


def test_window_queries_are_oracle_backed():
    """Window slots are scarce: every name in every pinned window must
    carry the strong hash check, not a rows-only fallback."""
    osql = entry_mod.oracle_sql()
    for rnd, window in WINDOWS.items():
        for name in window:
            assert name in osql, f"{name} burns an r{rnd} window slot without an oracle"


def test_every_query_has_a_docstring():
    """Registry docs feed the judge's parity check; an f-string
    expression statement is NOT a docstring (__doc__ stays None) —
    r3 ADVICE caught two queries losing their docs that way."""
    for name, q in REGISTRY.items():
        assert (q.build.__doc__ or "").strip(), f"{name} has no __doc__"
        assert q.doc.strip(), f"{name} registered with empty doc"


def test_documented_query_counts_match_registry():
    """Stale-count tripwire: every doc that states the registry size
    (README, verify SKILL.md, SURVEY's round-status line) must agree
    with len(REGISTRY) — three review rounds caught this drifting after
    query additions; now it fails the build instead."""
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    n = len(REGISTRY)
    readme = open(os.path.join(repo, "README.md")).read()
    assert f"`queries()` ({n}), `oracle_sql()` ({n})" in readme
    assert f"## Operator coverage ({n} registered queries)" in readme
    skill = open(
        os.path.join(repo, ".claude", "skills", "verify", "SKILL.md")
    ).read()
    assert f"# {n} / {n} entries expected" in skill
    survey = open(os.path.join(repo, "SURVEY.md")).read()
    claims = re.findall(r"(\d+)/(\d+), rows-only set empty", survey)
    assert claims and all(a == b == str(n) for a, b in claims), claims
