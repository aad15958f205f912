"""Deduplication primitives: exact, MinHash-LSH, SimHash, n-gram Jaccard.

Library layer behind the q_dedup_* queries (queries/llm_text.py) —
importable for pipeline use.  Everything is a pure DataFrame→DataFrame
composition of JVM-side expressions; the O(n²) pair space is never
materialized (SURVEY.md §4.3): candidates come from banded-LSH
equi-joins or inverted-index shingle joins only.

Cross-engine determinism contract: shingle/token ids derive from sha2
hex (identical in Spark and DuckDB); MinHash uses fixed (a, b)
constants under the Mersenne prime 2^31-1 with 32-bit ids, so a*x+b
stays < 2^63 in both engines' signed-64 arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Fixed MinHash parameters — part of the operator contract (the DuckDB
# oracles inline the same constants).
MH_PRIME = 2147483647  # 2^31 - 1
MH_AB: list[tuple[int, int]] = [
    (1207727749, 1180987373), (1033077585, 629668666), (106453267, 329530807),
    (1867264452, 1181341562), (1608309912, 239983018), (55247323, 722129513),
    (1049003351, 910486695), (657017825, 621861403), (1174616050, 320514767),
    (341556916, 178797989), (745851744, 1824315663), (1563526045, 51444901),
    (783114585, 900227953), (704321542, 1634384415), (1651341144, 1368729076),
    (1024653426, 1544717884),
]
MH_BANDS = 8  # 8 bands × 2 rows over the 16-hash signature


def tokens_col(text: str | Column = "text") -> Column:
    """Whitespace tokenization — the shared token definition for every
    text operator (oracle: DuckDB ``string_split(text, ' ')``)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ", -1)


def shingles_sql(text: str = "text", k: int = 3) -> str:
    """k-token shingles of the SQL expression ``text``, as SQL text:
    one ``regexp_extract_all`` with a zero-width match at every token
    start whose lookahead captures the next k tokens.  Tokens are
    exactly ``split(text, ' ', -1)``, empty ones included, so shingle i
    is ``concat_ws(' ', toks[i:i+k])``, in order, repeats kept; < k
    tokens give an empty array and NULL gives NULL.  The start is
    ``^|(?<= )``, not ``(?<![^ ])``: Java also tries the position inside
    a surrogate pair, where that lookbehind passes and a non-BMP
    character (an emoji) would start a bogus shingle.  A built-in
    expression codegens into the JVM row loop: no lambda, no Python."""
    if k < 1:
        raise ValueError(f"shingle size must be >= 1, got {k}")
    grams = " ".join(["[^ ]*"] * k)
    return f"regexp_extract_all({text}, '(?:^|(?<= ))(?=({grams}))', 1)"


def shingles_col(text: str = "text", k: int = 3) -> Column:
    """:func:`shingles_sql` as a Column (``text`` is SQL text)."""
    return F.expr(shingles_sql(text, k))


# 32-bit shingle id from the first 8 hex chars of sha2-256 — DuckDB:
# ``cast(concat('0x', substr(sha256(s),1,8)) as bigint)``.
SHINGLE_ID_SQL = "CAST(conv(substring(sha2(s, 256), 1, 8), 16, 10) AS BIGINT)"


def dedup_exact(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup by sha2-256 content hash; ``min(id)`` survivor is
    deterministic (dropDuplicates keeps an arbitrary row).  One hash
    aggregate — the shuffle carries one row per DISTINCT document."""
    return df.groupBy(F.sha2(content_col, 256).alias("content_hash")).agg(
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def minhash_signature(shingles: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, mh0..mh15, n_sh) MinHash signature + shingle count from a
    (id, s) shingle frame: ONE groupBy — the 16 mins and the set size
    ride the same partial aggregate, so downstream Jaccard verification
    reuses this frame instead of re-aggregating the shingle table.

    The shingle id is projected ONCE below the aggregate: inlining it
    into each min() re-evaluates sha2+conv per hash function (codegen
    subexpression elimination does not reach across the 16 aggregate
    inputs — A/B-measured 0.92 s → 0.82 s on the sf0.1 signature
    stage, identical output).

    Built from SQL text via selectExpr/F.expr: one parse per expression
    instead of eager per-op analysis of Column trees (the 16-min
    aggregate cost ~0.4 s of driver-side build as Columns), and safe
    on a persisted input — unlike ``spark.sql(..., sh=frame)``, whose
    temp-view cleanup uncaches the frame it names."""
    pre = shingles.selectExpr(id_col, f"{SHINGLE_ID_SQL} AS __sid")
    return pre.groupBy(id_col).agg(
        *[
            F.expr(f"min(({a} * __sid + {b}) % {MH_PRIME})").alias(f"mh{i}")
            for i, (a, b) in enumerate(MH_AB)
        ],
        F.expr("count(1)").alias("n_sh"),
    )


# The 8 band keys of a signature row: band i = (mh_{2i}, mh_{2i+1})
# packed into one string.
BAND_KEYS_SQL = ", ".join(
    f"concat_ws(':', {i}, mh{2 * i}, mh{2 * i + 1})" for i in range(MH_BANDS)
)


def band_keys(signatures: DataFrame, id_col: str) -> DataFrame:
    return signatures.selectExpr(id_col, f"explode(array({BAND_KEYS_SQL})) AS band_key")


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    probe: DataFrame | None = None,
) -> DataFrame:
    """(d1, d2) candidate pairs from banded LSH: explode band keys,
    equi-join on the key — only genuinely-colliding pairs appear.

    ``probe=None`` (the default) self-joins ``signatures``: every pair
    within the corpus.  Passing a ``probe`` signature frame switches to
    the INCREMENTAL shape: only pairs with at least one probe-side
    member are generated (probe bands ⋈ corpus bands), so a nightly
    ingest joins the night's documents against the standing signature
    index instead of re-colliding the whole corpus with itself — the
    join cost tracks the DELTA's band buckets.  Pairs are canonical
    (``d1 < d2``) and distinct in both modes; with ``probe`` a subset
    of ``signatures``, the output is exactly the self-join pairs that
    touch the probe set."""
    bands = band_keys(signatures, id_col)
    right = bands.select(F.col(id_col).alias("d2"), "band_key")
    if probe is None:
        left = bands.select(F.col(id_col).alias("d1"), "band_key")
        pairs = (
            left.join(right, "band_key")
            .where(F.col("d1") < F.col("d2"))
            .select("d1", "d2")
        )
    else:
        left = band_keys(probe, id_col).select(
            F.col(id_col).alias("d1"), "band_key"
        )
        pairs = (
            left.join(right, "band_key")
            .where(F.col("d1") != F.col("d2"))
            .select(
                F.least("d1", "d2").alias("d1"),
                F.greatest("d1", "d2").alias("d2"),
            )
        )
    return pairs.distinct()


def verified_jaccard(
    pairs: DataFrame,
    shingles: DataFrame,
    threshold: float,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard for candidate (d1, d2) pairs via the inverted
    index; only candidate pairs are ever scored.  Pass ``sizes``
    (doc_id, n_sh) when the caller already aggregated it (the MinHash
    signature carries it) to avoid a second pass over the shingles.

    Shape note (r11, measured): a collect_set/array_intersect
    formulation (semi-join the index to candidate docs, aggregate
    per-doc shingle arrays, two joins + F.array_intersect, no explode)
    returns identical results but LOST the A/B at sf0.1 — 2.5 s vs
    1.1 s for the verification stage — because the collect_set shuffle
    outweighs the joins it replaces, and under AQE the candidate side
    of this shape broadcasts, so the full index is scanned once but
    never shuffled anyway.  Revisit only if candidate volume ever
    makes the pairs×shingles intermediate the bottleneck."""
    if sizes is None:
        sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sizes = sizes.select("doc_id", "n_sh")
    a = shingles.select(F.col("doc_id").alias("d1"), F.col("s").alias("s1"))
    b = shingles.select(F.col("doc_id").alias("__vd2"), F.col("s").alias("s2"))
    common = (
        pairs.join(a, "d1")
        .join(b, (F.col("d2") == F.col("__vd2")) & (F.col("s1") == F.col("s2")))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n_sh").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n_sh").alias("n2"))
    return (
        common.join(s1, "d1")
        .join(s2, "d2")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("n1") + F.col("n2") - F.col("n_common")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
    )


def ngram_jaccard_pairs(
    shingles: DataFrame, threshold: float, df_cap: int | None = None
) -> DataFrame:
    """Exact n-gram Jaccard pairs via the inverted index.  ``df_cap``
    is the 100 TB guard: shingles present in more than ``df_cap`` docs
    (stopword-like) are dropped BEFORE the self-join — they contribute
    quadratic bucket blowup and near-zero Jaccard signal."""
    if df_cap is not None:
        freq = shingles.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
        shingles = (
            shingles.join(F.broadcast(freq.where(F.col("df") > df_cap)), "s", "left_anti")
        )
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = shingles.select(F.col("doc_id").alias("d1"), "s")
    b = shingles.select(F.col("doc_id").alias("d2"), "s")
    common = (
        a.join(b, "s")
        .where(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n_sh").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n_sh").alias("n2"))
    jac = F.col("c") / (F.col("n1") + F.col("n2") - F.col("c"))
    return (
        common.join(s1, "d1")
        .join(s2, "d2")
        .where(jac >= threshold)
        .select("d1", "d2", F.round(jac, 6).alias("jaccard"))
    )


def ngram_jaccard_pairs_prefix(
    shingles: DataFrame, threshold: float
) -> DataFrame:
    """Exact n-gram Jaccard pairs with PREFIX FILTERING (AllPairs /
    PPJoin family, Bayardo et al. WWW'07): identical output to the full
    inverted-index join, far fewer candidates.

    For Jaccard ≥ t, two docs must share a shingle within the first
    ``n - ceil(t*n) + 1`` of their shingles under ANY global total
    order — rarest-first (document frequency, then value) makes those
    prefix buckets the smallest ones.  The candidate join therefore
    touches only rare-shingle buckets (the quadratic stopword buckets
    never join), and exact verification over candidates restores the
    precise Jaccard — recall is guaranteed by the prefix bound, so the
    result is bit-identical to the unpruned contract
    (tests/test_operators.py asserts equality).

    When to use which (measured): at sf0.1 (5k docs, small vocabulary,
    no stopword skew) the plain inverted-index join wins — 3.5 s vs
    7.5 s — because the DF pass + per-doc window cost more than the
    join they save, so q_dedup_ngram keeps the simple plan.  The
    crossover is bucket skew: join cost scales with Σ df(s)² while the
    prefix overhead stays Θ(corpus); on web-scale shingle distributions
    (Zipfian, df up to ~corpus size) the unpruned join is quadratic in
    the hot buckets and this operator is the one that finishes.
    Unlike a DF cap it needs no tuning and loses nothing.
    """
    from pyspark.sql import Window

    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    df_tbl = shingles.groupBy("s").agg(F.count(F.lit(1)).alias("__df"))
    ordered = shingles.join(df_tbl, "s")
    w = Window.partitionBy("doc_id").orderBy(F.col("__df").asc(), F.col("s").asc())
    prefix = (
        ordered.withColumn("__rn", F.row_number().over(w))
        .join(sizes, "doc_id")
        .where(
            F.col("__rn")
            <= F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
        )
        .select("doc_id", "s")
    )
    a = prefix.select(F.col("doc_id").alias("d1"), "s")
    b = prefix.select(F.col("doc_id").alias("d2"), "s")
    candidates = (
        a.join(b, "s").where(F.col("d1") < F.col("d2")).select("d1", "d2").distinct()
    )
    return verified_jaccard(candidates, shingles, threshold, sizes=sizes)


def df_capped_pair_counts(shingles: DataFrame, docs: DataFrame) -> DataFrame:
    """The DF-capped inverted-index candidate pipeline shared by
    q_dedup_ngram (Jaccard) and q_dedup_containment (containment) — one
    fix point for the cap semantics and the join shape.  Returns
    ``(d1, d2, c, n1, n2)``: per-pair co-occurrence counts ``c`` with
    ``d1 < d2`` and both docs' pruned shingle counts; the caller applies
    the scoring denominator (Jaccard's ``n1 + n2 − c`` vs containment's
    ``least(n1, n2)``).

    Contract: shingles present in more than ``max(5, 1% of corpus)``
    documents (``docs`` is the corpus table) are dropped BEFORE the
    self-join — the 100 TB guard against quadratic stopword buckets,
    stated in both oracles, so the cap is checked semantics, not a
    silent approximation.

    Release contract (r11 ADVICE): this function persists the pruned
    index internally via ``caching.persist_tracked`` (MEMORY_AND_DISK)
    — it feeds THREE consumers, the per-doc sizes and both sides of
    the self-join, and only one of those reuses an exchange (sf0.1
    medians 4.67 s → 4.11 s on q_dedup_ngram).  EVERY caller must run
    under a scope that ends with ``caching.release_tracked()`` or the
    persist leaks for the session's lifetime with no handle to release
    it.  The registered queries satisfy this through the pipeline's
    per-query release discipline; a direct library caller must wrap its
    own try/finally.  Built with selectExpr/F.expr, never
    ``spark.sql(..., sh=frame)``: the formatter's temp-view cleanup
    would uncache a persisted ``shingles`` input.

    Keep-list join on the shingle value (no forced broadcast: the kept
    vocabulary is corpus-scaled; AQE broadcasts it only when small).
    Deliberately agg+join rather than a COUNT() OVER (PARTITION BY s)
    filter (measured ~equal locally): the window form funnels every
    occurrence of a hot shingle into ONE un-splittable task, while
    this shape partial-aggregates the DF count map-side and lets AQE
    skew-split the probe side of the keep-join — the hot keys being
    filtered out is exactly when the shuffle must not serialize them.
    """
    from ..caching import persist_tracked

    n_docs = docs.agg(F.expr("count(1)").alias("n_docs"))
    keep = (
        shingles.groupBy("s")
        .agg(F.expr("count(1)").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .where("df <= CAST(greatest(5, ceil(n_docs / 100.0D)) AS BIGINT)")
        .select("s")
    )
    kept = persist_tracked(
        shingles.alias("sh")
        .join(keep.alias("k"), F.expr("sh.s = k.s"))
        .select("sh.doc_id", "sh.s")
    )
    sizes = kept.groupBy("doc_id").agg(F.expr("count(1)").alias("n_sh"))
    common = (
        kept.alias("a")
        .join(kept.alias("b"), F.expr("a.s = b.s AND a.doc_id < b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.expr("count(1)").alias("c"))
    )
    return (
        common.alias("common")
        .join(sizes.alias("s1"), F.expr("s1.doc_id = common.d1"))
        .join(sizes.alias("s2"), F.expr("s2.doc_id = common.d2"))
        .selectExpr(
            "common.d1", "common.d2", "common.c", "s1.n_sh AS n1", "s2.n_sh AS n2"
        )
    )
