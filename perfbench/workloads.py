"""The benchmark's workloads.  The item lists live here, not in the
package or in ``bench.py``, so editing either cannot change a workload.

The workload seed only orders the items; the data is fixed, see
``datagen.py``.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

# The 25-query headline of bench.py, copied.
HEADLINE = (
    "q_agg_group",
    "q_join_multi",
    "q_filter",
    "q_win_rank",
    "q_topk_per_group",
    "q_sort_limit",
    "q_dedup_fuzzy",
    "q_dedup_exact",
    "q_sim_search",
    "q_tfidf",
    "q_stream_tumbling",
    "q_sessionize",
    "q_join_promo_share",
    "q_tpch_q3",
    "q_tpch_q18",
    "q_dedup_ngram",
    "q_sim_search_ivf",
    "q_agg_percentile",
    "q_tpch_q6",
    "q_tpch_q8",
    "q_tpch_q21",
    "q_join_range",
    "q_events_funnel",
    "q_corpus_curation",
    "q_sim_search_pq",
)

# The versioned-store worked examples (modules of etl_template_spark.examples),
# the one with the largest cold-start cost first (see Workload.items).
PIPELINES = (
    "link_graph_refresh",
    "curation_pipeline",
    "dataset_release",
    "quality_gate",
    "incremental_dedup",
)

# Set-up ends with one warm-up query that no workload runs, so the measured
# items get no codegen-cache hits from it; it pays the first query's
# class-loading and JIT cost.  Warming up more query shapes moved about as
# much time out of the measured pass as it added to set-up (4-vCPU host),
# so one query keeps runs short.  The pipelines warm up on the reference
# ETL example instead (run.py).
WARMUP_QUERY = "q_agg_having"


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "queries" or "pipelines"
    sf: float
    names: tuple[str, ...]

    def items(self, seed: int) -> list[str]:
        """The workload's items, the first one first and the rest in the
        order the seed gives.  The first item of a pass pays the cold-start
        cost of its code paths, which differs by item (at sf0.001 on a
        4-vCPU host about 7 s for link_graph_refresh and 2-3 s for the other
        pipelines); letting the seed pick it made the pipelines' pass time
        depend mostly on which item that was."""
        first, *rest = self.names
        random.Random(seed).shuffle(rest)
        return [first, *rest]


WORKLOADS = {
    w.name: w
    for w in (
        Workload("headline-sf0.01", "queries", 0.01, HEADLINE),
        Workload("pipelines-sf0.001", "pipelines", 0.001, PIPELINES),
    )
}
