"""Incremental IVF ANN index on the versioned store.

The ANN member of the incremental tier (graph: ``pagerank_incremental``;
dedup: ``connected_components_incremental``): embedding corpora GROW —
a training-data pipeline embeds the day's documents and must make them
searchable without re-quantizing the standing billions.  The IVF
decomposition makes that exact:

- the coarse quantizer (k centroids) is trained ONCE, on the first
  ingest, and then IMMUTABLE — so cell assignment is a pure per-vector
  function of the frozen centroids, and appending a delta is
  embarrassingly parallel (broadcast k centroids, one argmax per new
  vector, one delta-sized version written);
- the cell log is append-only: the merged index equals a from-scratch
  assignment of the full corpus under the same centroids BIT-FOR-BIT
  (tested), because per-vector argmax doesn't depend on other vectors;
- search = probe ``nprobe`` cells by the query's own centroid ranking,
  exact cosine over the probed candidates, top-k.  The probe contract
  (results == brute force restricted to probed cells) is the same one
  q_sim_search_ivf pins against its DuckDB oracle.

What staleness means here, stated honestly: frozen centroids cannot
drift with the data distribution, so RECALL (which depends on how well
cells partition the corpus) degrades if the embedding distribution
shifts; correctness of the probe contract never does.  Retraining is a
REBUILD (new store), by design — mutating centroids would silently
re-shuffle historical assignments and break the append-only identity.

Reuses the stage helpers of ``queries/similarity.py``
(``_assign_cells``, ``_per_dim_means``, ``cosine_col``) rather than
duplicating them.  Each is the one definition of its stage, built with
selectExpr/F.expr from that module's SQL fold texts, so this index and
q_sim_search_ivf run the same expressions.  Layering note: operators
normally don't import from queries/.  The helpers stay there because
``verification.query_content_hash`` stamps only each query's defining
module: moved into operators/, a change to them would no longer
invalidate the recorded similarity queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _sim_helpers():
    # lazy: queries/__init__ imports operators submodules, so a
    # module-level import here would make the package import order
    # matter; deferring to call time breaks the cycle for good.
    from ..queries.similarity import _assign_cells, cosine_col

    return _assign_cells, cosine_col


def train_centroids(
    vectors: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cell, centroid array<double>) coarse quantizer: the ``k``
    lowest-id vectors seed, one Lloyd refinement (assign-all → cell
    means).  Means use exact decimal accumulation (``compat.davg``) so
    the quantizer is bit-reproducible at any parallelism — the same
    discipline that moved q_sim_search_ivf to hash-checked."""
    _assign_cells, _ = _sim_helpers()
    e = vectors.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    # k lowest-id vectors seed.  orderBy().limit() compiles to
    # TakeOrdered (per-partition top-k + merge); the row_number window
    # then runs over the k-row frame only — never a global sort.
    seeds = (
        e.orderBy("vec_id")
        .limit(k)
        .withColumn("cell", F.row_number().over(Window.orderBy("vec_id")) - 1)
        .select("cell", F.col("embedding").alias("centroid"))
    )
    # Lloyd means shared with the IVF quantizer (decimal-exact davg)
    from ..queries.similarity import _per_dim_means

    return _per_dim_means(_assign_cells(e, seeds), ["cell"], "embedding")


def ivf_index_incremental(
    spark,
    root: str,
    step: str,
    delta_vectors: DataFrame | None = None,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, int]:
    """Ingest a delta of vectors into the versioned IVF index.

    State under ``root``:

    - ``{step}_centroids`` — trained on the FIRST delta, exactly one
      version, immutable for the store's life (see module docstring).
    - ``{step}_cells`` — append-only (vec_id, …payload…, cell) log;
      each ingest commits ONE delta-sized version.  Re-ingested ids
      are dropped (left-anti against the merged log), so redelivery is
      idempotent — same discipline as the simple PageRank edge log.

    Empty/None delta is a read-only no-op returning the standing
    merged index; the first call must bring vectors (it trains).
    Returns ``(merged_index, latest_cells_version)``.
    """
    from ..io import (
        latest_version,
        read_versioned,
        read_versioned_merged,
        write_versioned,
    )

    _assign_cells, _ = _sim_helpers()
    cent_step, cells_step = f"{step}_centroids", f"{step}_cells"
    have = latest_version(root, cells_step) is not None
    d = None
    if delta_vectors is not None:
        d = delta_vectors.withColumnRenamed(id_col, "vec_id").withColumnRenamed(
            vec_col, "embedding"
        )
        if d.isEmpty():
            d = None
    if d is None:
        if not have:
            raise ValueError(
                "ivf_index_incremental: no index exists yet — the first "
                "call must supply a non-empty delta_vectors frame"
            )
    else:
        # enforce the log's contracts IN CODE (not docstring caveats),
        # one aggregate pass: (a) duplicate ids would double-enter the
        # log — the cross-version anti-join can't see within-delta
        # dupes, and dropDuplicates would pick a payload row
        # nondeterministically; (b) a ragged or wrong embedding
        # dimension would silently mis-score cosines (zip_with pads
        # the shorter vector with nulls).
        g = d.groupBy().agg(
            (F.count(F.lit(1)) - F.count_distinct("vec_id")).alias("dup"),
            F.min(F.size("embedding")).alias("dmin"),
            F.max(F.size("embedding")).alias("dmax"),
        ).collect()[0]
        if g["dup"]:
            raise ValueError(
                f"ivf_index_incremental: delta contains {g['dup']} duplicate "
                "vec_id row(s) — ids must be unique within a delta"
            )
        if g["dmin"] != g["dmax"]:
            raise ValueError(
                "ivf_index_incremental: ragged embedding dimensions "
                f"({g['dmin']}..{g['dmax']}) in the delta"
            )
        if have:
            dim = (
                read_versioned(spark, root, cent_step)
                .select(F.size("centroid").alias("n"))
                .limit(1)
                .collect()[0]["n"]
            )
            if g["dmin"] != dim:
                raise ValueError(
                    f"ivf_index_incremental: delta dimension {g['dmin']} != "
                    f"index dimension {dim}"
                )
        if not have:
            write_versioned(train_centroids(d, k), root, cent_step)
        else:
            seen = read_versioned_merged(spark, root, cells_step).select("vec_id")
            d = d.join(seen, "vec_id", "left_anti")
        centroids = read_versioned(spark, root, cent_step)
        # pin before the emptiness probe (ingest snapshot, see the
        # caching module docstring): the assignment plan embeds the
        # anti-join against the FULL merged cell log plus the
        # broadcast-centroid argmax, and isEmpty + write_versioned
        # would otherwise execute it twice.
        assigned = _assign_cells(d, centroids).localCheckpoint(eager=True)
        if not assigned.isEmpty():
            write_versioned(assigned, root, cells_step)
    version = latest_version(root, cells_step)
    merged = read_versioned_merged(spark, root, cells_step).drop("_version")
    return merged, version


def ivf_compact(
    spark,
    root: str,
    step: str,
    min_claim_age: float = 3600.0,
) -> int:
    """Fold the ``{step}_cells`` delta log into ONE version and prune
    the history; returns the number of versions pruned.  The ANN twin
    of ``graph.compact_edge_log``, for the same reason: the cell log's
    versions are not self-contained snapshots, so ``prune_versions``'s
    newest-k retention would silently drop old ingests' vectors —
    compaction first rewrites the FULL merged state as one version,
    then prunes.  The merged view is identical before and after (the
    ingest guards keep vec_ids unique, so the fold is the merged rows
    verbatim) and the next search scans one version instead of one per
    historical ingest.

    Concurrency (r9 ADVICE, closed structurally): the compacted
    version commits WITH a ``_SUMMARIZES`` marker and merged reads
    exclude marked versions, so a search inside the commit-then-prune
    window sees each vector exactly ONCE — no duplicate candidates,
    and recovery after a crash mid-prune is just re-running compaction
    (or ``prune_versions``).  Only log WRITERS must stay out of the
    fold's way (an ingest that read its id-uniqueness state before the
    fold committed could re-admit a folded vec_id): run compaction in
    the same serial maintenance window as the ingests, as with the
    weighted edge log.  ``min_claim_age`` passes through to
    ``prune_versions``'s concurrent-claim grace.  The cell log's
    merge is a verbatim union (ingest guards keep vec_ids unique), so
    this delegates to the generic ``io.compact_merged_log``."""
    from ..io import compact_merged_log

    return compact_merged_log(
        spark, root, f"{step}_cells", min_claim_age=min_claim_age
    )


def ivf_search(
    spark,
    root: str,
    step: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 3,
    qid_col: str = "qid",
    vec_col: str = "embedding",
) -> DataFrame:
    """(qid, vec_id, cos_sim, rank ≤ k) — top-k by exact cosine over
    the ``nprobe`` cells each query's own centroid ranking selects.
    One broadcast (k centroids) + one cell equi-join: never a scan of
    unprobed cells, never a cartesian against the corpus."""
    from ..io import read_versioned, read_versioned_merged

    _assign_cells, cosine_col = _sim_helpers()
    centroids = read_versioned(spark, root, f"{step}_centroids")
    q = queries.select(
        F.col(qid_col).alias("qid"), F.col(vec_col).alias("embedding")
    )
    probes = _assign_cells(
        q.withColumnRenamed("qid", "vec_id"), centroids, n=nprobe
    ).select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"), "cell")
    corpus = read_versioned_merged(spark, root, f"{step}_cells").drop("_version")
    scored = probes.join(corpus, "cell").select(
        "qid",
        "vec_id",
        cosine_col("embedding", "qv").alias("cos_sim"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "vec_id", "cos_sim", "rank")
    )
