#!/usr/bin/env python
"""Dataset release on the Pipeline layer: the round-8 operator families
composed into the run that turns a curated corpus into a SHIPPED
training dataset — constraint-gated, mixture-balanced, split-assigned,
and committed as immutable versions with the split as the partition
key.

    step      operator family                        plan shape
    ----      ---------------                        ----------
    Check     DQ constraint suite                    one conditional agg
              (q_constraint_check's shape on docs)   + fail-fast on violation
    Mixture   target-proportion selection            per-lang rank windows +
              (q_dataset_mixture)                    broadcast take dim
    Split     train/val/test assignment              zero-shuffle hash
              (q_train_test_split's bucketing)       projection
    Publish   per-split composition audit            3-group aggregate;
                                                     written partition-ready

The Check step is the release gate: constraints are evaluated in ONE
conditional aggregate over the corpus (adding a constraint adds a
column, not a scan) and any violation raises inside the step, so the
run manifest records Failed and nothing downstream publishes — the
same fail-fast discipline as the quality_gate example, applied to
release invariants (ids present and unique-ish, text non-empty,
language in the mixture vocabulary).

Split assignment is content-keyed (sha2 bucket), so re-releasing over
an appended corpus never moves a previously released document between
splits — the leakage guarantee, enforced by test_round8_ops.py.

Run:  python -m etl_template_spark example dataset_release [sf_dir] [data_root]
      (or `etl-template-spark example dataset_release` once installed)
Also executed in CI (tests/test_pipeline.py::test_dataset_release_example_runs)
so this document cannot rot.
"""

from __future__ import annotations

import sys
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import Pipeline, get_spark
from ..io import load_table
from ..queries.sampling import hash_bucket
from ..queries.splits import _MIX_TARGETS, _TRAIN_PCT, _VAL_PCT

SF_DIR = "/root/testdata/sf0.001"


def check(spark: SparkSession, _: DataFrame | None, sf_dir: str = SF_DIR) -> DataFrame:
    """Release-gate constraints over the corpus, one conditional
    aggregate; raises on any violation (fail-fast, manifest records
    Failed)."""
    d = load_table(spark, sf_dir, "documents")
    langs = list(_MIX_TARGETS)
    stats = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("doc_id").isNull(), 1).otherwise(0)).alias("v_id_null"),
        F.sum(
            F.when(F.col("text").isNull() | (F.length("text") == 0), 1).otherwise(0)
        ).alias("v_text_empty"),
        # when(valid, 0).otherwise(1): a NULL lang can never satisfy the
        # domain constraint (plain ~isin is NULL for NULL and would
        # count 0 — the doc would pass the gate, then silently vanish
        # in the mixture join)
        F.sum(F.when(F.col("lang").isin(langs), 0).otherwise(1)).alias(
            "v_lang_domain"
        ),
        # uniqueness folds into the SAME aggregate: n - count(distinct)
        # is the number of surplus duplicate rows (r8 ADVICE — the
        # docstring promised this invariant; a duplicated doc_id would
        # be MULTIPLIED by the mixture join on doc_id downstream)
        (F.count(F.lit(1)) - F.count_distinct(F.col("doc_id"))).alias(
            "v_id_duplicate"
        ),
    )
    report = stats.selectExpr(
        "stack(4, "
        "'doc_id_not_null', n, v_id_null, "
        "'text_non_empty', n, v_text_empty, "
        "'lang_in_mixture_vocab', n, v_lang_domain, "
        "'doc_id_unique', n, v_id_duplicate"
        ") AS (check_name, n_checked, n_violations)"
    ).select(
        "check_name",
        "n_checked",
        "n_violations",
        (F.col("n_violations") == 0).alias("pass"),
    )
    bad = report.where(~F.col("pass")).collect()  # bounded: one row/constraint
    if bad:
        detail = "; ".join(f"{r['check_name']}={r['n_violations']}" for r in bad)
        raise ValueError(f"release gate violated: {detail}")
    return report


def mixture(spark: SparkSession, _: DataFrame, sf_dir: str = SF_DIR) -> DataFrame:
    """Select the release corpus at the target language mixture (the
    registered q_dataset_mixture), carrying the full document payload
    forward for the split step."""
    from ..queries.splits import q_dataset_mixture

    picks = q_dataset_mixture(spark, sf_dir).select("doc_id")
    d = load_table(spark, sf_dir, "documents")
    return d.join(picks, "doc_id")  # AQE broadcasts the bounded pick set


def split(spark: SparkSession, selected: DataFrame) -> DataFrame:
    """Content-hash split assignment over the selected corpus — the
    column a real release writes as its partition key
    (write_versioned(..., partition_by=['split']))."""
    bucket = hash_bucket(F.col("doc_id"), 100).cast("int")
    return selected.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.when(bucket < _TRAIN_PCT, "train")
        .when(bucket < _TRAIN_PCT + _VAL_PCT, "val")
        .otherwise("test")
        .alias("split"),
    )


def publish(spark: SparkSession, assigned: DataFrame) -> DataFrame:
    """Per-(split, lang) composition audit — the release notes a
    consumer reads before training on the refresh."""
    return (
        assigned.groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split", "lang")
    )


def build_pipeline(data_root: str, sf_dir: str = SF_DIR) -> Pipeline:
    return (
        Pipeline("dataset_release", data_root)
        .step("Check", lambda s, df: check(s, df, sf_dir))
        .step("Mixture", lambda s, df: mixture(s, df, sf_dir), input_step="Check")
        .step("Split", split, input_step="Mixture")
        .step("Publish", publish, input_step="Split")
    )


def run(data_root: str | None = None, sf_dir: str = SF_DIR):
    data_root = data_root or tempfile.mkdtemp(prefix="dataset_release_")
    spark = get_spark(app_name="dataset-release-example")
    p = build_pipeline(data_root, sf_dir)
    result = p.run(spark)
    print(f"status={result.overall_status} root={data_root}")
    for name, st in result.steps.items():
        print(f"  {name}: {st.status} rows={st.rows_out} v={st.output_version}")
    return result


if __name__ == "__main__":
    run(
        sys.argv[2] if len(sys.argv) > 2 else None,
        sys.argv[1] if len(sys.argv) > 1 else SF_DIR,
    )
