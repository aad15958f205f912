"""Query inventory — importing this package populates the registry.

One module per operator family from SURVEY.md §2B.
"""

from ..registry import REGISTRY, Query  # noqa: F401

from . import (  # noqa: F401,E402
    scans,
    projection,
    joins,
    aggregates,
    advanced_sql,
    tpch_shapes,
    tpch_full,
    windows,
    setops,
    functions_scalar,
    udfs,
    etl_ops,
    events_analytics,
    llm_text,
    similarity,
    streaming_batch,
    multimodal_q,
    curation,
    # newest modules stay LAST: new queries must register BEHIND every
    # earlier never-recorded query so they append to the correctness
    # window instead of displacing older entries out of it
    # (__spark_entry__._exposure_order sorts fresh queries in registry
    # order)
    extensions,
    sampling,
    lateral_q,
    recluster,
    crossencoder,
    retrieval,
    versiondiff,
    bloomdedup,
    changelog,
    interleave,
    semdedup,
    incremental,
    timeseries,
    profiling,
    repetition,
    entityres,
    inverted,
    anomaly,
    collocations,
    impute,
    sketches,
    attribution,
    temporal,
    graph_q,
    relevance_q,
    rolling,
    splits,
    dq,
    containment,
    prefixjoin,
    ddsketch,
    graph_weighted,
    stream_outer,
    tpch_q5,
)

__all__ = ["REGISTRY", "Query"]
