"""Embedding similarity operators (SURVEY.md §2B: q_sim_search, plus the
scale-path ANN variant, cosine near-dup detection, and a blocked k-NN
join) over the ``embeddings`` fixture (vec_id, embedding array<float>,
label).

Execution posture:

- Dot products / norms are JVM-side higher-order functions
  (``zip_with`` + ``aggregate`` fold) — no Python, no UDF, vectors never
  leave Tungsten rows.
- Brute-force top-k broadcasts the ONE query vector against the corpus
  and takes the global k with TakeOrderedAndProject — a single scan, no
  shuffle of the vectors, embarrassingly parallel at any scale.  What
  does NOT scale is all-pairs (n² similarity join) — the near-dup and
  k-NN operators therefore block (label / LSH bucket) before pairing.
- Floating-point discipline: accumulate in double with a sequential
  left fold; DuckDB oracles state the identical fold via
  ``list_reduce`` so both engines produce bit-identical sums, rounded
  to 6 decimals at the comparison boundary.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import persist_tracked
from ..compat import davg, davg_sql, dsum_sql
from ..io import load_table
from ..registry import register

_DIM = 64


# ---------------------------------------------------------------------------
# Vector math — formulation chosen PER DIMENSION, by measurement (r14)
#
# The r13 round unrolled every dot/norm/L2 into one JVM-parsed SQL
# fragment on the theory that higher-order folds never enter whole-
# stage codegen while unrolled chains do.  r14 re-measured per stage
# shape and found the theory holds only BELOW the JIT's ~8 KB-bytecode
# method limit:
#
# - A 16-dim chain (PQ subvector L2, ~16 terms) fits in one JIT-able
#   method: the unroll is compiled and beats the interpreted fold
#   decisively (the real r13 PQ win, kept).
# - A 64-dim cosine (3 chains, ~192 terms + casts) cannot be split
#   inside whole-stage codegen (consume() expressions that reference
#   deferred input variables are unsplittable), so the generated
#   method exceeds the JIT limit and executes as INTERPRETED bytecode
#   — measured ~10 µs/row, SLOWER than the zip_with/aggregate fold's
#   ~2.4 µs/row, plus a multi-second Janino parse/compile constant per
#   distinct fragment.  Interleaved A/B at sf0.1, 50 k-pair assignment
#   stage, quiet host: unrolled 0.86-0.94 s, 3-fold cosine 0.84-1.12 s,
#   fold-dot + per-row PRE-COMPUTED norms 0.40-0.51 s.
#
# So: 64-dim paths use the fold for the dot product and pre-compute
# squared norms once per ROW in a projection (``cosine_pre_sql``) —
# a norm is reused across every pair its row joins into, so the
# per-pair work drops ~3x at any scale; only the ≤16-dim PQ L2 keeps
# the unrolled fragment.  All formulations produce bit-identical
# values: the explicit ``0.0`` seed keeps the same left-associated
# IEEE addition chain ``((0.0 + p0) + p1) + ...`` that the oracles'
# ``list_reduce`` states, and norms computed in an upstream projection
# are the same doubles as norms computed inline (the final
# ``round(dot / sqrt(na*nb), 6)`` is the same IEEE op sequence).
# ---------------------------------------------------------------------------


def _dim_guard(frag: str, dim: int, *arrs: str) -> str:
    """Guard an unrolled fragment so a wrong-LENGTH array yields NULL
    instead of a silently-truncated value (r13 ADVICE): the unrolled
    chain reads exactly ``dim`` elements, so an array LONGER than
    ``dim`` would otherwise diverge silently from the fold (which
    consumes the full array).  Shorter arrays yield NULL on both paths
    (``get`` past the end nulls the term); the guard makes the long
    case equally loud.  Fixture arrays are exactly ``dim`` by contract,
    so results are unchanged.

    FORM MATTERS (measured r14): the obvious ``CASE WHEN cond THEN
    frag END`` puts the whole ``dim``-term chain inside a CaseWhen
    branch, which whole-stage codegen cannot split into sub-methods —
    the generated method blows past the JIT's bytecode limit and runs
    INTERPRETED (PQ exec 2.0 s → 3.8 s).  Multiplying by a guarded
    ``1.0D`` keeps the chain at top level (splittable) and is
    bit-exact: ``x * 1.0 == x`` for every double including ``-0.0``
    and NaN, and a NULL factor (wrong length) nulls the product."""
    cond = " AND ".join(f"(size({a}) = {dim})" for a in arrs)
    return f"({frag} * (CASE WHEN {cond} THEN 1.0D END))"


def _l2_frag(a: str, b: str, dim: int) -> str:
    acc = "0.0D"
    for i in range(dim):
        d = f"(CAST(get({a}, {i}) AS DOUBLE) - CAST(get({b}, {i}) AS DOUBLE))"
        acc = f"({acc} + ({d} * {d}))"
    return _dim_guard(acc, dim, a, b)


# --- Spark fold texts: the one definition of each vector expression ---
# Builders embed the text in spark.sql statements; DataFrame code takes
# the same text through F.expr (the ``*_col`` forms).  Arguments are SQL
# expressions (usually column names).


def dot_sql(a: str, b: str) -> str:
    """Sequential double dot product (see the formulation note above;
    the fold consumes the full array, so no dim guard is needed)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) *"
        f" CAST(y AS DOUBLE)), 0.0D, (acc, x) -> acc + x)"
    )


def sq_norm_sql(a: str) -> str:
    return (
        f"aggregate(transform({a}, x -> CAST(x AS DOUBLE) *"
        f" CAST(x AS DOUBLE)), 0.0D, (acc, x) -> acc + x)"
    )


def cosine_sql(a: str, b: str) -> str:
    """round(dot / sqrt(na*nb), 6) — formula mirrored verbatim in the
    DuckDB oracles (``_cos_sql``)."""
    return f"round({dot_sql(a, b)} / sqrt({sq_norm_sql(a)} * {sq_norm_sql(b)}), 6)"


def cosine_pre_sql(a: str, na: str, b: str, nb: str) -> str:
    """Cosine with PRE-COMPUTED squared norms (r14 optimization):
    ``round(dot(a,b) / sqrt(na * nb), 6)`` where ``na``/``nb`` hold
    ``sq_norm_sql(a)`` / ``sq_norm_sql(b)`` computed in an upstream
    projection.  Bit-identical to ``cosine_sql`` — the norm folds
    produce the same doubles wherever they run, and the final
    ``/ sqrt(na*nb)`` and round are the same IEEE ops — but the
    per-PAIR work drops from three folds to one: a norm is per-ROW,
    computed once and reused across every pair the row joins into
    (A/B at sf0.1 assignment stage: 0.84-1.12 s → 0.40-0.51 s)."""
    return f"round({dot_sql(a, b)} / sqrt({na} * {nb}), 6)"


def sq_norm_col(a: str) -> Column:
    return F.expr(sq_norm_sql(a))


def cosine_col(a: str, b: str) -> Column:
    return F.expr(cosine_sql(a, b))


def cosine_pre_col(a: str, na: str, b: str, nb: str) -> Column:
    return F.expr(cosine_pre_sql(a, na, b, nb))


# --- DuckDB oracle texts (the same folds via list_reduce) ---


def _dot_sql(a: str, b: str, dim: int = _DIM) -> str:
    # list_reduce folds left like Spark's aggregate with 0.0 init
    # (0.0 + x == x exactly in IEEE, so the first-element seed is identical).
    return (
        f"list_reduce(list_transform(range(1, {dim + 1}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), "
        f"(acc, x) -> acc + x)"
    )


def _cos_sql(a: str, b: str, dim: int = _DIM) -> str:
    return (
        f"round({_dot_sql(a, b, dim)} / "
        f"sqrt({_dot_sql(a, a, dim)} * {_dot_sql(b, b, dim)}), 6)"
    )


def _l2_sql(a: str, b: str, dim: int) -> str:
    """DuckDB squared-L2 as the identical sequential double chain that
    ``_l2_frag`` states in Spark."""
    term = f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
    return (
        f"list_reduce(list_transform(range(1, {dim + 1}), "
        f"i -> {term} * {term}), (acc, x) -> acc + x)"
    )


# ---------------------------------------------------------------------------
# q_sim_search — brute-force cosine top-k (the exact baseline)
# ---------------------------------------------------------------------------


@register(
    "q_sim_search",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, label, {_cos_sql('embedding', 'qv')} AS cos_sim
    FROM embeddings CROSS JOIN q
    WHERE vec_id <> 0
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
    tags=("llm", "similarity", "topk"),
)
def q_sim_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for one query vector (vec_id=0) against the
    corpus.  The query vector is a broadcast 1-row DataFrame (never a
    driver collect); the global top-k plans TakeOrderedAndProject — a
    per-partition bounded heap, no global sort.  Ordering is on the
    ROUNDED similarity with vec_id tiebreaker → deterministic ranks."""
    e = load_table(spark, sf_dir, "embeddings")
    # r14: squared norms pre-computed per ROW (query norm once in the
    # 1-row broadcast frame instead of per corpus row; corpus norm in
    # the scan projection) — the scoring expression is one fold-dot
    # instead of three folds, same bits (see cosine_pre_sql).  Stated
    # as ONE SQL text (r14: one parse/analysis instead of eager per-op
    # analysis).
    return spark.sql(
        f"""
        SELECT /*+ BROADCAST(q) */ v.vec_id, v.label,
               {cosine_pre_sql('v.embedding', 'v.__n', 'q.qv', 'q.__qn')}
                 AS cos_sim
        FROM (SELECT vec_id, label, embedding,
                     {sq_norm_sql('embedding')} AS __n
              FROM {{e}} WHERE vec_id != 0) v
        CROSS JOIN (SELECT embedding AS qv,
                           {sq_norm_sql('embedding')} AS __qn
                    FROM {{e2}} WHERE vec_id = 0) q
        ORDER BY cos_sim DESC, vec_id
        LIMIT 10
        """,
        e=e,
        e2=e,
    )


# ---------------------------------------------------------------------------
# q_sim_search_lsh — random-hyperplane LSH bucketed ANN (the scale path)
# ---------------------------------------------------------------------------

_N_PLANES = 6  # 64 buckets; multiprobe widens to Hamming <= 2


def _plane(j: int) -> list[float]:
    """Deterministic pseudo-random hyperplane j (fixed LCG — part of the
    operator contract, identical across runs/engines/cluster sizes)."""
    coefs = []
    state = 1234567 + 999331 * j
    for _ in range(_DIM):
        state = (1103515245 * state + 12345) % (1 << 31)
        coefs.append(state / float(1 << 31) - 0.5)
    return coefs


def _bucket_sql(vec: str) -> str:
    """LSH bucket id: sign bit per hyperplane, packed into an int.

    Plane dots are ``dot_sql`` folds against literal coefficient arrays
    (the same left-associated ``0.0``-seeded chain, so the sign — and
    therefore the bucket — is unchanged).  The coefficients are exact
    binary fractions written as ``D``-suffixed ``repr`` values, which
    the parser reads back bit-exactly.  r14: reverted from the r13
    unrolled fragment — 6 planes × 64 terms in one projection is far
    past the JIT method limit, so the unroll ran as interpreted
    bytecode, slower than the fold it replaced (see the formulation
    note at the top of this module)."""
    bucket = "0"
    for j in range(_N_PLANES):
        plane = "array(" + ", ".join(f"{c!r}D" for c in _plane(j)) + ")"
        bucket += f" + CASE WHEN {dot_sql(vec, plane)} >= 0 THEN {1 << j} ELSE 0 END"
    return bucket


def _plane_dot_sql(j: int, vec: str = "embedding") -> str:
    """DuckDB dot of ``vec`` against hyperplane j as a LITERAL array —
    the LCG coefficients are exact binary fractions (int / 2^31 - 0.5),
    so repr() round-trips them bit-exactly through both parsers."""
    lits = ", ".join(repr(c) for c in _plane(j))
    return (
        f"list_reduce(list_transform(range(1, {_DIM + 1}), "
        f"i -> CAST({vec}[i] AS DOUBLE) * ([{lits}]::DOUBLE[])[i]), "
        f"(acc, x) -> acc + x)"
    )


def _lsh_oracle() -> str:
    """The ENTIRE LSH retrieval stated declaratively: bucket = packed
    sign bits of 6 literal-plane dots, multiprobe = XOR with the 22
    Hamming-<=2 masks, then exact cosine over the candidates.  Checkable
    because every float op is a per-row sequential fold (bit-identical
    across engines) — unlike IVF/PQ, whose centroids come from float
    AVG aggregation with engine-dependent summation order."""
    bucket = " + ".join(
        f"CASE WHEN {_plane_dot_sql(j)} >= 0 THEN {1 << j} ELSE 0 END"
        for j in range(_N_PLANES)
    )
    masks = [0] + [1 << j for j in range(_N_PLANES)] + [
        (1 << i) | (1 << j)
        for i in range(_N_PLANES)
        for j in range(i + 1, _N_PLANES)
    ]
    mask_list = ", ".join(str(m) for m in masks)
    return f"""
    WITH b AS (
      SELECT vec_id, label, embedding, {bucket} AS bucket
      FROM embeddings),
    q AS (SELECT embedding AS qv, bucket AS qbucket FROM b WHERE vec_id = 0),
    probes AS (
      SELECT qv, xor(qbucket, m) AS bucket
      FROM q, unnest([{mask_list}]) AS t(m)),
    cand AS (
      SELECT b.vec_id, b.label, {_cos_sql('b.embedding', 'p.qv')} AS cos_sim
      FROM b JOIN probes p USING (bucket)
      WHERE b.vec_id <> 0)
    SELECT vec_id, label, cos_sim
    FROM cand
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """


@register(
    "q_sim_search_lsh", oracle=_lsh_oracle(), tags=("llm", "similarity", "approx")
)
def q_sim_search_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine top-10 via random-hyperplane LSH: vectors are
    bucketed by the sign pattern of 6 fixed hyperplanes; the search
    probes the query's bucket plus all Hamming-1/-2 neighbors
    (multiprobe: 22 of 64 buckets), then scores only candidates.

    Regime note: sign-LSH collision probability is 1 - θ/π per plane, so
    recall is high when true neighbors are close (near-dup retrieval,
    cos ≥ 0.9) and degrades toward random at cos ≈ 0.5 — the knobs are
    plane count (bucket granularity, scale with corpus) and probe radius
    (recall).  At 100 TB the bucket id becomes the partition key, so a
    probe reads 22 partitions instead of the corpus.

    Though approximate as RETRIEVAL, the computation is fully
    deterministic (fixed LCG planes, per-row sequential float folds),
    so the whole pipeline — bucketing, multiprobe, candidate scoring,
    top-10 — is hash-checked against a DuckDB oracle stating it
    declaratively with literal plane arrays (IVF/PQ stay rows-only:
    their centroids come from float AVG with engine-dependent
    summation order).  Tests additionally assert candidate-exactness
    and recall vs q_sim_search."""
    e = load_table(spark, sf_dir, "embeddings")
    bucketed = e.withColumn("bucket", F.expr(_bucket_sql("embedding")))
    q = bucketed.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"),
        F.col("bucket").alias("qbucket"),
        # r14: query norm once in the broadcast frame (cosine_pre_sql)
        sq_norm_col("embedding").alias("__qn"),
    )
    # query bucket + Hamming-1 and Hamming-2 probes, as a broadcast frame
    masks = [0] + [1 << j for j in range(_N_PLANES)] + [
        (1 << i) | (1 << j)
        for i in range(_N_PLANES)
        for j in range(i + 1, _N_PLANES)
    ]
    probes = q.select(
        "qv",
        "__qn",
        F.explode(
            F.array(*[F.col("qbucket").bitwiseXOR(F.lit(m)) for m in masks])
        ).alias("bucket"),
    )
    return (
        bucketed.where(F.col("vec_id") != 0)
        .withColumn("__n", sq_norm_col("embedding"))
        .join(F.broadcast(probes), "bucket")
        .select(
            "vec_id",
            "label",
            cosine_pre_col("embedding", "__n", "qv", "__qn").alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q_dedup_embedding — cosine near-dup pairs (label-blocked)
# ---------------------------------------------------------------------------


@register(
    "q_dedup_embedding",
    oracle=f"""
    SELECT a.vec_id AS v1, b.vec_id AS v2,
           {_cos_sql('a.embedding', 'b.embedding')} AS cos_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_cos_sql('a.embedding', 'b.embedding')} >= 0.4
    ORDER BY v1, v2
    """,
    tags=("llm", "similarity", "dedup"),
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within label blocks: the pair
    space is constrained to an equi-join on ``label`` (the blocking key),
    so each block pairs internally and blocks never cross — the standard
    blocked-dedup shape.  At corpus scale the blocking key is an LSH
    bucket (see q_sim_search_lsh) or a cluster id; the plan — equi-join,
    per-pair JVM score, threshold filter — is identical.

    The pair enumeration routes through the SALTED block join
    (operators/topk.py::salted_block_join): the right side of each block
    splits into 8 deterministic sub-blocks so a hot label cannot
    serialize into one quadratic partition; rows are identical to the
    naive join (each (v1, v2) pair meets in exactly the sub-block that
    holds v2 — tests/test_similarity.py proves identity on a
    pathologically skewed fixture)."""
    from ..operators.topk import salted_block_join

    e = load_table(spark, sf_dir, "embeddings")
    a = e.select(
        F.col("label"), F.col("vec_id").alias("v1"), F.col("embedding").alias("emb1")
    )
    b = e.select(
        F.col("label"), F.col("vec_id").alias("v2"), F.col("embedding").alias("emb2")
    )
    cos = cosine_col("emb1", "emb2")
    return (
        salted_block_join(a, b, "label", "v2")
        .where(F.col("v1") < F.col("v2"))
        .select("v1", "v2", cos.alias("cos_sim"))
        .where(F.col("cos_sim") >= 0.4)
    )


# ---------------------------------------------------------------------------
# q_knn_join_blocked — k nearest neighbors per vector within its block
# ---------------------------------------------------------------------------


@register(
    "q_knn_join_blocked",
    oracle=f"""
    WITH pairs AS (
      SELECT a.vec_id AS v1, b.vec_id AS v2,
             {_cos_sql('a.embedding', 'b.embedding')} AS cos_sim
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id <> b.vec_id
      WHERE a.vec_id < 50),
    ranked AS (
      SELECT v1, v2, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY v1
                                ORDER BY cos_sim DESC, v2) AS rnk
      FROM pairs)
    SELECT v1, v2, cos_sim, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 3
    ORDER BY v1, rnk
    """,
    tags=("llm", "similarity", "topk"),
)
def q_knn_join_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 neighbors (by cosine) for each probe vector (vec_id < 50)
    within its label block, via the SALTED blocked k-NN join
    (operators/topk.py::knn_join_blocked): the corpus side of each block
    splits into 8 deterministic sub-blocks, probes replicate across
    them, per-(probe, salt) top-k runs under WindowGroupLimit, and a
    final per-probe top-k re-merges the survivors — identical rows to
    the naive blocked join, but a hot block key can no longer serialize
    into one quadratic partition.  The k-NN-join shape behind dedup
    clustering and retrieval-augmented curation; block key generalizes
    to LSH/IVF cells."""
    from ..operators.topk import knn_join_blocked

    e = load_table(spark, sf_dir, "embeddings")
    probes = e.where(F.col("vec_id") < 50).select(
        F.col("label"), F.col("vec_id").alias("v1"), F.col("embedding").alias("emb1")
    )
    corpus = e.select(
        F.col("label"), F.col("vec_id").alias("v2"), F.col("embedding").alias("emb2")
    )
    return knn_join_blocked(
        probes,
        corpus,
        block_col="label",
        probe_id_cols=("v1",),
        corpus_id_col="v2",
        score=cosine_col("emb1", "emb2"),
        k=3,
        score_name="cos_sim",
        pair_filter=F.col("v1") != F.col("v2"),
    ).select("v1", "v2", "cos_sim", "rnk")


# ---------------------------------------------------------------------------
# q_sim_search_ivf — inverted-file (IVF) ANN: coarse quantizer + cell probe
# ---------------------------------------------------------------------------

_IVF_CELLS = 10
_IVF_NPROBE = 3


def _ivf_centroids(e: DataFrame) -> DataFrame:
    """Coarse quantizer: deterministic seeds (vec_id 0..k-1) refined by
    one Lloyd iteration (assign-all → cell means).  Distributed
    throughout: assignment is a broadcast of k centroids against the
    corpus; means are a posexplode + groupBy — no driver-side loops.
    (cell, centroid array<double>).

    The Lloyd mean is ``compat.davg`` (exact decimal accumulation →
    double), not float AVG: summation order then cannot change the
    centroid, so the quantizer is bit-reproducible run-to-run at any
    parallelism AND statable in a DuckDB oracle — this is what moved
    q_sim_search_ivf from rows-only to hash-checked in round 6."""
    seeds = e.where(F.col("vec_id") < _IVF_CELLS).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("centroid")
    )
    assigned = _assign_cells(e, seeds)
    # Lloyd step: per-dimension means per cell via posexplode + davg.
    # (r14 measured a no-explode alternative — ONE wide aggregate with
    # 64 per-dimension davg columns — and REJECTED it: identical
    # results and exec time, but the 64-column aggregate costs ~0.7 s
    # of extra Python build + analysis per query.  The explode's 64x
    # row expansion is 320 k narrow rows at sf0.1 and one partial-
    # aggregated exchange at any scale — not the bottleneck.)
    return _per_dim_means(assigned, ["cell"], "embedding")


def _per_dim_means(
    assigned: DataFrame, keys: list[str], vec: str
) -> DataFrame:
    """(keys..., centroid array<double>): per-dimension decimal-exact
    Lloyd means (``compat.davg`` — summation order cannot change the
    centroid), shared by the IVF coarse quantizer, the PQ codebooks and
    ``operators.ann.train_centroids``."""
    return (
        assigned.selectExpr(*keys, f"posexplode({vec}) AS (pos, x)")
        .groupBy(*keys, "pos")
        .agg(davg("CAST(x AS DOUBLE)").alias("m"))
        .groupBy(*keys)
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, m))), st -> st.m)"
            ).alias("centroid")
        )
    )


# The long-packed argmax over (cdist, cell) for _assign_cells(n=1):
# the rounded score in the high bits, the cell in the low 31.
_ARGMAX_ENC = (
    "min(CAST(1000001 - (CASE WHEN isnan(cdist) THEN -1000001 ELSE"
    " CASE WHEN cdist >= 0"
    " THEN FLOOR(cdist * CAST(1000000 AS DOUBLE) + 0.5D)"
    " ELSE - FLOOR(- cdist * CAST(1000000 AS DOUBLE) + 0.5D) END END)"
    " AS BIGINT) * 2147483648L + CAST(cell AS BIGINT))"
)


def _assign_cells(vecs: DataFrame, centroids: DataFrame, n: int = 1) -> DataFrame:
    """Assign each vector to its ``n`` nearest centroids (cosine):
    broadcast the k centroids, score, pick.

    n=1 (the corpus-side hot path) is a long-packed argmax under a
    plain HashAggregate whose GROUPING KEY carries the payload columns
    (constant per vec_id, so the grouping is unchanged — see below).
    n>1 (the tiny query-side multiprobe) keeps the windowed top-n over
    the plain 3-fold cosine: its input is a bounded frame (1 probe × k
    centroids), so pre-computed norms would save nothing."""
    if n > 1:
        scored = vecs.crossJoin(F.broadcast(centroids)).withColumn(
            "cdist", cosine_col("embedding", "centroid")
        )
        w = Window.partitionBy("vec_id").orderBy(
            F.col("cdist").desc(), F.col("cell")
        )
        return (
            scored.withColumn("crnk", F.row_number().over(w))
            .where(F.col("crnk") <= n)
            .drop("centroid", "cdist", "crnk")
        )
    # n == 1 hot path.  Two r13/r14 optimizations compose here:
    #
    # - r13: the argmax used to be min(struct(-cdist, cell)), and a
    #   struct-typed aggregation buffer forces SortAggregate (sort
    #   every partition by vec_id, twice: partial + final).  ``cdist``
    #   is the 6-dp ROUNDED cosine, so (cdist, cell) packs EXACTLY
    #   into one long — floor(cdist*1e6 + 0.5) recovers the integer n
    #   of n*10^-6 with ~1e-10 of slack, no data dependence — and
    #   min(long) is a plain HashAggregate: map-side partial combine,
    #   no sorts.  Tie/NaN semantics match the struct-min: equal cdist
    #   → the smaller cell wins (it's the low bits), NaN → encoded
    #   below every real score so it loses unless every score is NaN
    #   (then the smallest cell wins, as before).  Precondition
    #   (unchanged from the struct shape): non-null embeddings and
    #   cell ids below 2^31.
    # - r14: the r13 shape still carried every OTHER vecs column
    #   through the aggregate as first(...), and a first(array) buffer
    #   is not hash-aggregable — the carries forced the whole aggregate
    #   back onto SortAggregate (sort each task's k-times-expanded
    #   scored rows, arrays and all).  Now the payload columns ride the
    #   GROUPING KEY instead: hash-map keys may be variable-length
    #   (only the aggregation BUFFER must be fixed-width mutable), and
    #   grouping by (vec_id, payload...) IS grouping by vec_id because
    #   the payload is constant within a vec_id group.  The buffer is
    #   one long — plain HashAggregate, map-side partial combine, no
    #   sorts anywhere.  (A join-back of a narrow (vec_id, cell) proxy
    #   was A/B'd and rejected: same 1x-corpus exchange at scale, but
    #   an extra scan + join + AQE broadcast round cost it ~0.5 s/query
    #   locally.)  The corpus side of the cosine also pre-computes its
    #   squared norm per ROW (reused across all k centroid pairings),
    #   and the centroid norms land in the k-row broadcast frame — the
    #   per-pair work is one dot fold, not three folds.
    cents = centroids.selectExpr(
        "cell", "centroid", f"{sq_norm_sql('centroid')} AS __cn"
    )
    scored = (
        vecs.selectExpr("*", f"{sq_norm_sql('embedding')} AS __vn")
        .crossJoin(F.broadcast(cents))
        .selectExpr(
            "*",
            f"{cosine_pre_sql('embedding', '__vn', 'centroid', '__cn')} AS cdist",
        )
    )
    cell_type = dict(centroids.dtypes)["cell"]
    return (
        scored.groupBy(*vecs.columns)
        .agg(F.expr(_ARGMAX_ENC).alias("__b"))
        .selectExpr(*vecs.columns, f"CAST(__b % 2147483648L AS {cell_type}) AS cell")
    )


def _ivf_oracle() -> str:
    """The ENTIRE IVF pipeline stated declaratively in DuckDB: seed →
    assign-all (argmax of rounded cosine, cell tiebreak) → Lloyd means
    via decimal-exact AVG (``compat.davg_sql`` — order-independent, so
    both engines produce bit-identical centroids) → re-assign corpus /
    multiprobe query → exact cosine over candidates → top-10.  Every
    float op is either a per-row sequential fold or a decimal-exact
    aggregate, so the hash check is strict."""
    return f"""
    WITH seeds AS (
      SELECT vec_id AS cell, embedding AS centroid
      FROM embeddings WHERE vec_id < {_IVF_CELLS}),
    a1 AS (
      SELECT e.vec_id, e.embedding, s.cell,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_cos_sql('e.embedding', 's.centroid')} DESC, s.cell
             ) AS rn
      FROM embeddings e CROSS JOIN seeds s),
    asg AS (SELECT vec_id, embedding, cell FROM a1 WHERE rn = 1),
    means AS (
      SELECT cell, i.range AS pos,
             {davg_sql(f'CAST(embedding[i.range] AS DOUBLE)')} AS m
      FROM asg CROSS JOIN range(1, {_DIM + 1}) i
      GROUP BY cell, i.range),
    cents AS (
      SELECT cell, list(m ORDER BY pos) AS centroid FROM means GROUP BY cell),
    a2 AS (
      SELECT e.vec_id, e.label, e.embedding, c.cell,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_cos_sql('e.embedding', 'c.centroid')} DESC, c.cell
             ) AS rn
      FROM embeddings e CROSS JOIN cents c),
    corpus AS (
      SELECT vec_id, label, embedding, cell FROM a2
      WHERE vec_id <> 0 AND rn = 1),
    probes AS (
      SELECT embedding AS qv, cell FROM a2
      WHERE vec_id = 0 AND rn <= {_IVF_NPROBE})
    SELECT c.vec_id, c.label, {_cos_sql('c.embedding', 'p.qv')} AS cos_sim
    FROM corpus c JOIN probes p USING (cell)
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """


@register(
    "q_sim_search_ivf", oracle=_ivf_oracle(), tags=("llm", "similarity", "approx")
)
def q_sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine top-10 via IVF: a 10-cell coarse quantizer
    (deterministic seeds + one Lloyd refinement) partitions the corpus;
    the query probes its 3 nearest cells and scores only their members
    (~nprobe/k of the corpus).  At 100 TB the cell id is the partition/
    bucket key — a probe reads nprobe partitions, the index build is two
    broadcast-assign passes, and centroids stay a tiny broadcast table.

    Approximate as RETRIEVAL, but fully deterministic as COMPUTATION
    (decimal-exact Lloyd means, rounded-cosine argmax with cell
    tiebreaks), so the whole pipeline is hash-checked against a DuckDB
    oracle; tests additionally assert recall vs q_sim_search."""
    e = load_table(spark, sf_dir, "embeddings")
    # The quantizer build and the corpus assignment are the shared
    # frame helpers (built with selectExpr/F.expr, one parse per
    # expression); probe + score is one SQL statement.  The 10-row
    # centroid frame stays pinned (r11, A/B-measured): its LINEAGE is
    # the whole seed-assign + Lloyd-mean pipeline over the corpus, and
    # both the corpus-side and the probe-side assignment consume it.
    # The persist is taken AFTER the templated spark.sql (the
    # formatter's temp-view cleanup uncaches referenced frames — see
    # llm_text.q_dedup_fuzzy).
    cents = _ivf_centroids(e)
    corpus = _assign_cells(e.where("vec_id != 0"), cents)
    out = spark.sql(
        f"""
        WITH corpus AS (
          SELECT vec_id, embedding, label, cell,
                 {sq_norm_sql('embedding')} AS __n
          FROM {{corpus}}),
        probes AS (
          SELECT cell, embedding AS qv,
                 {sq_norm_sql('embedding')} AS __qn
          FROM (
            SELECT s.*, row_number() OVER (
                     PARTITION BY vec_id ORDER BY cdist DESC, cell
                   ) AS crnk
            FROM (SELECT /*+ BROADCAST(c) */ v.vec_id, v.embedding, v.label,
                         c.cell,
                         {cosine_sql('v.embedding', 'c.centroid')}
                           AS cdist
                  FROM (SELECT * FROM {{e2}} WHERE vec_id = 0) v
                  CROSS JOIN {{cents2}} c) s)
          WHERE crnk <= {_IVF_NPROBE})
        SELECT /*+ BROADCAST(p) */ c.vec_id, c.label,
               {cosine_pre_sql('c.embedding', 'c.__n', 'p.qv', 'p.__qn')}
                 AS cos_sim
        FROM corpus c JOIN probes p ON c.cell = p.cell
        ORDER BY cos_sim DESC, vec_id
        LIMIT 10
        """,
        corpus=corpus,
        e2=e,
        cents2=cents,
    )
    persist_tracked(cents)
    return out


# ---------------------------------------------------------------------------
# q_sim_search_pq — product quantization (memory-bound ANN at scale)
# ---------------------------------------------------------------------------

_PQ_M = 4        # subspaces (64-dim → 4 × 16-dim subvectors)
_PQ_K = 32       # codes per subspace → 4 bytes/vector vs 256 raw (64×)
_PQ_RERANK = 200  # exact-rerank pool (the recall/latency knob)


def _pq_oracle() -> str:
    """The ENTIRE PQ pipeline stated declaratively in DuckDB: subvector
    split → per-subspace codebook (L2 argmin vs seed codes, Lloyd means
    via decimal-exact AVG) → corpus code assignment → ADC lookup-table
    scan (decimal-exact partial-dot sum) → bounded exact rerank.  Bit-
    checkable because every float op is a per-row sequential fold or an
    order-independent decimal aggregate (compat.py)."""
    width = _DIM // _PQ_M
    sl = f"(s.range * {width} + 1):(s.range * {width} + {width})"
    return f"""
    WITH subv AS (
      SELECT vec_id, s.range AS s, embedding[{sl}] AS sub
      FROM embeddings CROSS JOIN range(0, {_PQ_M}) s),
    seeds AS (
      SELECT s, vec_id AS cell, sub AS centroid FROM subv
      WHERE vec_id < {_PQ_K}),
    a1 AS (
      SELECT v.vec_id, v.s, v.sub, sd.cell,
             ROW_NUMBER() OVER (
               PARTITION BY v.vec_id, v.s
               ORDER BY {_l2_sql('v.sub', 'sd.centroid', width)}, sd.cell
             ) AS rn
      FROM subv v JOIN seeds sd USING (s)),
    asg AS (SELECT vec_id, s, sub, cell FROM a1 WHERE rn = 1),
    means AS (
      SELECT s, cell, i.range AS pos,
             {davg_sql('CAST(sub[i.range] AS DOUBLE)')} AS m
      FROM asg CROSS JOIN range(1, {width + 1}) i
      GROUP BY s, cell, i.range),
    books AS (
      SELECT s, cell, list(m ORDER BY pos) AS centroid
      FROM means GROUP BY s, cell),
    c1 AS (
      SELECT v.vec_id, v.s, b.cell,
             ROW_NUMBER() OVER (
               PARTITION BY v.vec_id, v.s
               ORDER BY {_l2_sql('v.sub', 'b.centroid', width)}, b.cell
             ) AS rn
      FROM subv v JOIN books b USING (s)
      WHERE v.vec_id <> 0),
    codes AS (SELECT vec_id, s, cell FROM c1 WHERE rn = 1),
    qtab AS (
      SELECT b.s, b.cell, {_dot_sql('q.sub', 'b.centroid', width)} AS pdot
      FROM (SELECT s, sub FROM subv WHERE vec_id = 0) q
      JOIN books b USING (s)),
    approx AS (
      SELECT c.vec_id, {dsum_sql('pdot')} AS approx_dot
      FROM codes c JOIN qtab USING (s, cell)
      GROUP BY c.vec_id
      ORDER BY approx_dot DESC, c.vec_id
      LIMIT {_PQ_RERANK}),
    qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, e.label, {_cos_sql('e.embedding', 'qv.qv')} AS cos_sim
    FROM approx a JOIN embeddings e USING (vec_id) CROSS JOIN qv
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """


@register(
    "q_sim_search_pq", oracle=_pq_oracle(), tags=("llm", "similarity", "topk")
)
def q_sim_search_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine top-10 via PRODUCT QUANTIZATION (Jégou et al.,
    TPAMI'11): each vector is stored as _PQ_M 1-byte codes (nearest
    per-subspace centroid) — 64× smaller than the raw floats — and the
    query scans CODES, not vectors: dot(q, x) ≈ Σ_s table_s[code_s(x)]
    where table_s = dot(q_s, every centroid of subspace s) is a tiny
    broadcast lookup built once per query.

    Why this is the memory-bound scale path: at 10⁹+ vectors the raw
    embeddings (256 B each) no longer fit executor memory but the codes
    (4 B) do, so the ADC scan stays in-memory/cache-resident and IO
    drops 64×; centroids + query tables are O(k·dim) broadcasts.  The
    asymmetric-distance top-_PQ_RERANK pool is then exactly reranked
    against the true embeddings (a pointwise join on vec_id — touches
    only the pool).  The pool size is the recall/latency knob: with
    k=32 codes/subspace and a 200-vector pool, measured recall@10 vs
    the exact baseline is 0.8 at sf0.01 (500 vecs) and 0.7 at sf0.1
    (5000 vecs).  Approximate as RETRIEVAL but deterministic as
    COMPUTATION (decimal-exact codebook means and ADC sums), so the
    whole pipeline is hash-checked against a DuckDB oracle; tests
    additionally assert a recall floor vs q_sim_search."""
    e = load_table(spark, sf_dir, "embeddings")
    # Three SQL statements (r14, guide §7.3 — one parse/analysis each,
    # ~0.6 s of eager per-op analysis removed per build): subvector
    # split, codebook seed-assignment (then the shared _per_dim_means
    # Lloyd step), then code-assign + ADC scan + exact rerank.  The
    # sub/books pins feed multiple consumers; persists are taken AFTER
    # the last templated spark.sql (the formatter's temp-view cleanup
    # uncaches referenced frames — see llm_text.q_dedup_fuzzy).
    width = _DIM // _PQ_M
    slices = ", ".join(
        f"slice(embedding, {s * width + 1}, {width})" for s in range(_PQ_M)
    )
    sub = spark.sql(
        "SELECT vec_id, label, posexplode(array("
        + slices
        + ")) AS (s, sub) FROM {e}",
        e=e,
    )
    # per-subspace codebooks: seed-assign (unrolled 16-dim L2, the one
    # width that JIT-compiles — see the formulation note) + Lloyd means
    l2 = _l2_frag("v.sub", "sd.centroid", width)
    # nested subqueries, not CTEs: the CacheManager keys cached frames
    # on the CTE-INLINED normalized plan, so a persisted frame whose
    # producing statement contains a CTE is never substituted back into
    # consumers (measured r14: the IVF centroid and PQ codebook pins
    # were silently dead as CTEs)
    assigned = spark.sql(
        f"""
        SELECT a.s, a.cell, v.sub
        FROM (SELECT vec_id, s, __b.cell AS cell
              FROM (SELECT vec_id, s, min(struct(__d2, cell)) AS __b
                    FROM (SELECT /*+ BROADCAST(sd) */ v.vec_id, v.s, sd.cell,
                                 {l2} AS __d2
                          FROM {{sub}} v
                          JOIN (SELECT s, vec_id AS cell, sub AS centroid
                                FROM {{seeds}} WHERE vec_id < {_PQ_K}) sd
                            ON v.s = sd.s)
                    GROUP BY vec_id, s)) a
        JOIN {{sub2}} v ON a.vec_id = v.vec_id AND a.s = v.s
        """,
        sub=sub,
        seeds=sub,
        sub2=sub,
    )
    books = _per_dim_means(assigned, ["s", "cell"], "sub")
    l2b = _l2_frag("v.sub", "b.centroid", width)
    out = spark.sql(
        f"""
        WITH scored AS (
          SELECT /*+ BROADCAST(b) */ v.vec_id, v.s, b.cell, {l2b} AS __d2
          FROM (SELECT * FROM {{sub}} WHERE vec_id != 0) v
          JOIN {{books}} b ON v.s = b.s),
        codes AS (
          SELECT vec_id, s, __b.cell AS cell
          FROM (SELECT vec_id, s, min(struct(__d2, cell)) AS __b
                FROM scored GROUP BY vec_id, s)),
        qtab AS (
          -- bounded frame (_PQ_M x _PQ_K = 128 rows): fold, not unroll
          -- (a codegen compile costs more than 128 interpreted dots)
          SELECT b.s, b.cell,
                 {dot_sql('q.qsub', 'b.centroid')} AS pdot
          FROM (SELECT s, sub AS qsub FROM {{sub2}} WHERE vec_id = 0) q
          JOIN {{books2}} b ON q.s = b.s),
        approx AS (
          SELECT /*+ BROADCAST(t) */ c.vec_id,
                 {dsum_sql('pdot')} AS approx_dot
          FROM codes c JOIN qtab t ON c.s = t.s AND c.cell = t.cell
          GROUP BY c.vec_id
          ORDER BY approx_dot DESC, c.vec_id
          LIMIT {_PQ_RERANK})
        SELECT /*+ BROADCAST(q) */ e.vec_id, e.label,
               -- bounded frame (_PQ_RERANK rows): fold, not unroll
               {cosine_sql('e.embedding', 'q.qv')} AS cos_sim
        FROM approx a
        JOIN {{e}} e ON a.vec_id = e.vec_id
        CROSS JOIN (SELECT embedding AS qv FROM {{e2}} WHERE vec_id = 0) q
        ORDER BY cos_sim DESC, vec_id
        LIMIT 10
        """,
        sub=sub,
        sub2=sub,
        books=books,
        books2=books,
        e=e,
        e2=e,
    )
    # downstream frame first, then its input (see
    # llm_text.q_dedup_fuzzy's persist-order note)
    persist_tracked(books)
    persist_tracked(sub)
    return out
