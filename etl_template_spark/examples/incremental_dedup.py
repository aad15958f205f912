#!/usr/bin/env python
"""Nightly incremental dedup CLUSTERING on the versioned store
(round 9): the job that keeps a corpus's duplicate-cluster assignment
current as documents land, without ever re-scoring the corpus against
itself.

The corpus is the documents table, ingested in slices (here:
``doc_id % NIGHTS``; a real deployment feeds the day's crawl).  Per
night:

    index       shingle (distinct 3-shingles) + MinHash-sign the NEW
                documents only; ONE atomic delta-sized version appends
                both row kinds to the standing index log (never
                recomputed, only appended — see ``night_pairs``)
    pair        LSH probe: the night's signatures against the FULL
                merged index (``lsh_candidate_pairs(all, probe=new)``)
                — every candidate pair touches at least one new
                document, so old-vs-old never re-collides and the join
                cost tracks the DELTA's band buckets; exact Jaccard
                verification (≥ 0.5 over full shingle sets) restores
                the true-pair contract on candidates only
    recluster   ``connected_components_incremental`` folds the night's
                pairs into the standing labeling — the labeling is a
                sufficient statistic under edge additions, so the
                refresh re-clusters |V| + |Δ| edges, never the
                accumulated pair log

Why this is lossless: every true pair (a, b) with a landing on or
before b's night is generated exactly once — on b's night, with b on
the probe side — and band collisions are deterministic functions of
the fixed MinHash constants.  So after the last night the standing
labeling equals from-scratch (full-corpus LSH pairs → CC) BIT-FOR-BIT;
the CI test pins that identity.

After the last night the job closes with RETENTION: the index log
folds to one version (``io.compact_merged_log`` —
newest-k pruning alone would drop old nights' rows from the merged
index), and the labeling's history prunes to the newest (safe there:
every labeling version is a full copy).  Redelivering a night is
idempotent end-to-end: already-indexed doc_ids anti-join away, a
fully-redelivered night indexes nothing and emits no pairs, and the
empty refresh is a read-only no-op.

Run:  python -m etl_template_spark example incremental_dedup [sf_dir] [data_root]
Also executed in CI (tests/test_pipeline.py::test_incremental_dedup_example_runs)
so this document cannot rot.
"""

from __future__ import annotations

import sys
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import get_spark
from ..io import (
    compact_merged_log,
    latest_version,
    load_table,
    prune_versions,
    read_versioned_merged,
    write_versioned,
)
from ..operators.cluster import connected_components_incremental
from ..operators.dedup import (
    lsh_candidate_pairs,
    minhash_signature,
    shingles_col,
    verified_jaccard,
)

SF_DIR = "/root/testdata/sf0.001"
STEP = "dupes"
NIGHTS = 3
THRESHOLD = 0.5


def night_docs(spark: SparkSession, sf_dir: str, night: int) -> DataFrame:
    return load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % NIGHTS == night
    )


def night_pairs(
    spark: SparkSession, data_root: str, new_docs: DataFrame
) -> DataFrame:
    """Index the night's documents, then LSH-probe them against the
    full standing index and verify candidates exactly.  Already-indexed
    doc_ids are anti-joined away first, so redelivering a night is
    idempotent (double-indexed shingles would inflate the verification
    counts — the same reason the IVF ingest guards its ids).

    The shingles AND the signature land in ONE log (``{step}_index``)
    as one versioned write per night — shingle rows carry ``s`` with
    null mh columns, one signature row per doc carries ``s IS NULL``
    (a shingle is never null) — so the ingest is atomic under the
    store's commit protocol: no crash can leave shingles without their
    signature (or vice versa) for a redelivery to double-index.  Same
    design as the incremental BM25 index's length-sentinel rows."""
    if latest_version(data_root, f"{STEP}_index") is not None:
        seen = read_versioned_merged(
            spark, data_root, f"{STEP}_index"
        ).select("doc_id").distinct()
        # pin the anti-joined night (ingest snapshot, see the caching
        # module docstring): the anti-join scans the FULL merged index,
        # and new_docs feeds three consumers (the shingle explode, the
        # LSH probe below, and — through sh_new/sig_new — the isEmpty
        # probe plus the versioned write); without the materialization
        # each one re-runs the index-sized anti-join.
        new_docs = new_docs.join(seen, "doc_id", "left_anti").localCheckpoint(
            eager=True
        )
    sh_new = new_docs.select(
        "doc_id", F.explode(shingles_col("text", 3)).alias("s")
    ).distinct()
    sig_new = minhash_signature(sh_new)
    if sig_new.isEmpty():  # fully-redelivered night: nothing to index
        return sig_new.select(
            F.col("doc_id").alias("d1"),
            F.col("doc_id").alias("d2"),
            F.lit(1.0).alias("jaccard"),
        ).limit(0).localCheckpoint()
    write_versioned(
        sh_new.unionByName(sig_new, allowMissingColumns=True),
        data_root,
        f"{STEP}_index",
    )
    merged = read_versioned_merged(spark, data_root, f"{STEP}_index").drop(
        "_version"
    )
    all_sh = merged.where(F.col("s").isNotNull()).select("doc_id", "s")
    all_sig = merged.where(F.col("s").isNull()).drop("s")
    candidates = lsh_candidate_pairs(
        all_sig, probe=all_sig.join(new_docs.select("doc_id"), "doc_id")
    )
    # localCheckpoint the verified pairs: run() probes isEmpty and the
    # CC fold consumes them — two executions of the whole LSH +
    # exact-Jaccard pipeline without it.  Pair count is night-bounded.
    return verified_jaccard(
        candidates, all_sh, THRESHOLD, sizes=all_sig.select("doc_id", "n_sh")
    ).localCheckpoint()


def run(data_root: str | None = None, sf_dir: str = SF_DIR):
    data_root = data_root or tempfile.mkdtemp(prefix="incremental_dedup_")
    spark = get_spark(app_name="incremental-dedup-example")
    for night in range(NIGHTS):
        docs = night_docs(spark, sf_dir, night)
        pairs = night_pairs(spark, data_root, docs)
        # an early slice may carry no near-dup pairs at all — the index
        # still appended above; the labeling starts with the first pair
        if latest_version(data_root, f"{STEP}_cc") is None and pairs.isEmpty():
            print(f"night {night}: indexed, no near-dup pairs yet")
            continue
        labels, v = connected_components_incremental(
            spark, data_root, STEP, pairs, src="d1", dst="d2"
        )
        # bounded driver scalars: one aggregate row
        stats = labels.agg(
            F.count(F.lit(1)).alias("clustered_docs"),
            F.count_distinct("component").alias("clusters"),
            F.sum(
                (F.col("id") != F.col("component")).cast("long")
            ).alias("drops"),
        ).collect()[0]
        print(
            f"night {night}: labeling v{v} — "
            f"{stats['clustered_docs']} docs in {stats['clusters']} "
            f"cluster(s), {stats['drops']} would drop"
        )
    # retention: the index log folds to ONE version (prune_versions
    # alone would drop old nights' shingles/signatures from the merged
    # view); the labeling's versions are full copies, so plain
    # newest-1 retention is safe there
    pruned = compact_merged_log(
        spark, data_root, f"{STEP}_index", min_claim_age=0
    )
    print(f"compacted {STEP}_index: pruned {pruned} version(s)")
    old = prune_versions(data_root, f"{STEP}_cc", keep_last=1, min_claim_age=0)
    print(f"pruned labeling history: {old}")
    print(f"root={data_root}")
    return data_root


if __name__ == "__main__":
    run(
        sys.argv[2] if len(sys.argv) > 2 else None,
        sys.argv[1] if len(sys.argv) > 1 else SF_DIR,
    )
