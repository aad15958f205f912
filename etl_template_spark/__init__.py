"""etl_template_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the data-processing
capabilities of the ``arbirk/ETL-template`` reference (a Go
Extract→Transform→Load pipeline template, see /root/reference/etl.go and
/root/reference/tools/tools.go), generalized to the full relational
operator surface Spark provides plus LLM-data-pipeline operators
(dedup, similarity search, text analysis, multimodal plumbing) —
designed for 100 TB scale, verified against a DuckDB oracle at small
scale factors.

Layout:
    session.py    SparkSession factory (AQE, Arrow, UTC, sane shuffle)
    io.py         schema-d readers, versioned dataset read/write
    pipeline.py   PipelineRun/Step orchestration (reference parity)
    compat.py     cross-engine deterministic aggregation helpers
    registry.py   Query registry binding Spark builders to DuckDB oracles
    queries/      one module per operator family (SURVEY.md §2B)
    operators/    reusable composites (as-of join, sessionize, top-k,
                  dedup primitives, skew salting)
    streaming/    Structured Streaming flavors of the batch operators
    multimodal.py binary-column (image/audio) plumbing with stubbed codecs
"""

__version__ = "0.2.0"

from .io import (  # noqa: F401,E402
    compact_merged_log,
    compact_versioned,
    delete_versioned,
    diff_versions,
    load_table,
    prune_versions,
    read_csv,
    read_jsonl,
    read_versioned,
    register_versioned_table,
    write_versioned,
)
from .pipeline import Pipeline, PipelineRun, Step, StepFailed, knoll  # noqa: F401,E402
from .session import get_spark  # noqa: F401,E402

__all__ = [
    "Pipeline",
    "compact_merged_log",
    "compact_versioned",
    "delete_versioned",
    "diff_versions",
    "PipelineRun",
    "Step",
    "StepFailed",
    "get_spark",
    "knoll",
    "load_table",
    "prune_versions",
    "read_csv",
    "read_jsonl",
    "read_versioned",
    "register_versioned_table",
    "write_versioned",
]
