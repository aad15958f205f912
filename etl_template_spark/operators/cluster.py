"""Connected components over a pair graph — duplicate-cluster resolution.

Near-dup detection (dedup.py) emits PAIRS; a training-data pipeline
needs CLUSTERS: if A~B and B~C, then {A, B, C} is one duplicate group
and exactly one member survives.  That is connected components over the
pair graph, with the canonical survivor = min(doc_id) per component.

Algorithm: iterative min-label propagation, pure DataFrame ops —
each round every vertex adopts the smallest label among itself and its
neighbors (one shuffle join + one aggregate per round), until a round
changes nothing.  Rounds needed = the graph's eccentricity from each
component's minimum vertex, i.e. O(component diameter).  Near-dup
clusters are dense and shallow (a template plus its variants — star
shaped, diameter ≤ ~4), so this converges in a handful of rounds even
at corpus scale.  It is the only kernel: the incremental refresh below
runs it too, because its input graph is shallow by construction.  A
vertex more than ``max_iter`` hops from its component minimum raises
instead of returning a partial labeling; if long-diameter graphs ever
show up, the known fix is the alternating large-star/small-star
algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14), which halves path lengths per round (O(log n)
rounds) with the same join/aggregate building blocks.

Scale notes:
- per-round lineage is truncated with ``localCheckpoint(eager=True)``;
  without it the plan doubles every round and Catalyst analysis, not
  the data, becomes the bottleneck by round ~15.
- the convergence check is an aggregate (``isEmpty`` on the changed
  set), never a ``collect()`` of data.
- state per round is one (vertex, label) row per vertex — the frontier
  never exceeds the vertex set, and the join key (vertex id) hash
  partitions evenly unless one vertex is a hub; a hub vertex means a
  near-universal shingle survived the DF cap upstream — fix the cap,
  not the clustering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """(id, component) for every vertex of ``edges``; ``component`` is
    the minimum vertex id reachable from ``id`` (a stable, engine-
    independent canonical label).  Vertices are taken from the edge
    set; isolated vertices don't appear (join them back upstream if
    singleton rows are wanted)."""
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
    und = e.union(e.select(F.col("t").alias("s"), F.col("s").alias("t")))
    und = und.distinct().localCheckpoint(eager=True)

    labels = (
        und.select(F.col("s").alias("id"))
        .distinct()
        .withColumn("lbl", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neigh = (
            und.join(labels.withColumnRenamed("id", "t"), "t")
            .groupBy(F.col("s").alias("id"))
            .agg(F.min("lbl").alias("neigh_lbl"))
        )
        # carry the changed-flag through the checkpoint so convergence
        # is read off the materialized frame — no second join per round
        upd = (
            labels.join(neigh, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("neigh_lbl"), F.col("lbl"))
                ).alias("lbl"),
                (F.coalesce(F.col("neigh_lbl"), F.col("lbl")) < F.col("lbl")).alias(
                    "__chg"
                ),
            )
            .localCheckpoint(eager=True)
        )
        labels = upd.select("id", "lbl")
        if upd.where(F.col("__chg")).isEmpty():
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(a vertex lies more than max_iter hops from its component minimum)"
        )
    return labels.select("id", F.col("lbl").alias("component"))


def connected_components_incremental(
    spark,
    root: str,
    step: str,
    delta_edges: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
) -> tuple[DataFrame, int]:
    """Exact incremental connected components over an append-only edge
    stream, persisted as a versioned dataset (the graph-tier sibling of
    ``pagerank_incremental``, same store discipline — io.py).

    The refresh needs NO edge log: a component labeling is a SUFFICIENT
    STATISTIC for connectivity under edge ADDITIONS —
    ``CC(E ∪ Δ) == CC(labels(E)-as-edges ∪ Δ)`` exactly, because the
    (id → component) star graph induces the identical partition as
    ``E`` and adding ``Δ`` to equal partitions merges them identically;
    component minima survive since every vertex id is preserved.  So
    each refresh re-clusters ``|V| + |Δ|`` edges (one star edge per
    vertex plus the delta) instead of the FULL pair log — at corpus
    scale the near-dup pair set dwarfs the vertex set, and this is the
    difference between touching the night's pairs and rescanning
    months of them.  Unlike ``pagerank_incremental`` the warm start is
    EXACT (bit-for-bit vs from-scratch, integer labels), not a
    convergence argument.

    The kernel is min-label :func:`connected_components`, whose rounds
    track diameter, and the refresh graph stays shallow: the base edges
    are one star per old component (every member points at its
    minimum, which carries a self-loop), so each old component has
    diameter ≤ 2 and only the delta's bridges lengthen a path.  On
    ``examples.incremental_dedup`` (identical labels either way) its
    three refreshes took 1.7-2.0 s in total against 3.4-4.4 s for the
    large-star/small-star kernel at sf0.001, and 1.7-1.9 s against
    3.1-3.3 s at sf0.01 (warm runs, alternating, 4 vCPU).  A delta
    that chains more bridges than ``max_iter`` rounds can cover
    raises RuntimeError.

    State under ``root``: ``{step}_cc`` — the labeling, one full copy
    per refresh (one row per vertex ever seen; the small artifact).
    Because every version is a full copy, old versions are freely
    prunable with ``io.prune_versions`` — unlike pagerank_incremental's
    delta log, where newest-k retention would drop old deltas' edges.
    The incremental-dedup shape this serves: nightly near-dup PAIRS for
    new documents (vs corpus and each other, q_dedup_incremental's
    output) fold into the standing cluster assignment without
    re-scoring the corpus.

    Contracts:
    - refresh(Δ₁)…refresh(Δₙ) ≡ one from-scratch CC over Δ₁∪…∪Δₙ,
      bit-for-bit (differential-tested, including cluster-bridging and
      brand-new-vertex deltas).
    - empty/None ``delta_edges`` is a read-only no-op: returns the
      current labeling and version, commits nothing (the first call
      must therefore bring a non-empty delta).
    - edge DELETIONS are out of contract: removing an edge can split a
      component, which no labeling summary can answer — callers who
      retire documents re-run from scratch over their pair source.

    Returns ``(labels_read_back_from_the_committed_version, version)``.
    """
    from ..io import latest_version, read_versioned, write_versioned

    cc_step = f"{step}_cc"
    prior = latest_version(root, cc_step)
    d = None
    if delta_edges is not None:
        d = delta_edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        if d.isEmpty():
            d = None
    if d is None:
        if prior is None:
            raise ValueError(
                "connected_components_incremental: no labeling exists yet — "
                "the first call must supply a non-empty delta_edges frame"
            )
        return read_versioned(spark, root, cc_step), prior
    if prior is not None:
        base = read_versioned(spark, root, cc_step).select(
            F.col("id").alias("src"), F.col("component").alias("dst")
        )
        d = d.union(base)
    labels = connected_components(d, max_iter=max_iter)
    version, _ = write_versioned(labels, root, cc_step)
    return read_versioned(spark, root, cc_step, version=version), version
