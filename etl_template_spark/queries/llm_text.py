"""LLM-data-pipeline text operators (SURVEY.md §2B: q_dedup_*, q_text_stats,
q_tfidf, plus language-ID, quality scoring, token counting, fingerprinting).

These are the operators a 100 TB training-data pipeline runs over a
document corpus.  Design rules (SURVEY.md §4.3):

- NEVER materialize the O(n²) pair space.  Near-dup detection goes
  shingle → MinHash signature → banded equi-join on band buckets; the
  bucket join is a plain equi-join (sort-merge/broadcast friendly) and
  candidate verification touches only bucket-collision pairs.
- Everything stays JVM-side: higher-order array functions (transform/
  aggregate/filter), sha2, conv — no Python in the row loop.
- Cross-engine determinism: shingle ids derive from sha2 hex (identical
  in Spark and DuckDB); MinHash uses fixed (a,b) constants under the
  Mersenne prime 2^31-1 with 32-bit shingle ids, so a*x+b stays < 2^63
  in both engines' signed-64 arithmetic — signatures are bit-identical,
  which is what makes the fuzzy-dedup oracle an exact SQL check rather
  than a rows-only waiver.

Reference parity note: the reference has no text operators at all
(grep over /root/reference/*.go — see SURVEY.md §0); this family is the
declared-engine extension of its per-record transform surface
(etl.go:54-60) to corpus-scale document processing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.dedup import (
    BAND_KEYS_SQL,
    band_keys,
    df_capped_pair_counts,
    minhash_signature,
    shingles_col,
    shingles_sql,
    tokens_col,
    verified_jaccard as _verified_jaccard,
)
from ..caching import persist_tracked
from ..operators.cluster import connected_components
from ..registry import register

# ---------------------------------------------------------------------------
# Shared building blocks
# ---------------------------------------------------------------------------

def _doc_shingles(
    spark: SparkSession, sf_dir: str, k: int = 3, persist: bool = False
) -> DataFrame:
    """(doc_id, shingle) — distinct k-shingles per document.

    ``persist=True`` for consumers that traverse the frame more than
    once (MinHash signature + verification both read it): without it the
    lazy DAG re-runs tokenize+shingle+explode per consumer.  At cluster
    scale the equivalent is materializing the shingle table once per
    corpus snapshot (it is reused by every dedup/fingerprint pass), not
    re-deriving it per query.

    Map-only (r13): duplicate (doc_id, s) pairs only come from repeats
    inside one document, so the per-doc ``array_distinct`` needs no
    exchange, and the MinHash groupBy(doc_id) partial-aggregates
    map-side.  The shingles are ONE built-in expression
    (``operators/dedup.shingles_sql``), codegen'd into the scan's stage.
    It replaced a Python ``mapInArrow`` generator (q_dedup_ngram run
    first in a session at sf0.01, 4 vCPU: 9.2-9.8 s → 8.4-8.9 s; sf0.1
    warm q_dedup_fuzzy 2.7 s → 2.4 s), itself the successor of an
    interpreted ``transform`` lambda (~10 µs per shingle)."""
    sh = load_table(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"explode(array_distinct({shingles_sql('text', k)})) AS s"
    )
    return persist_tracked(sh) if persist else sh


_SHINGLES_SQL = """
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(string_split(text,' ')) - 1),
                      i -> array_to_string((string_split(text,' '))[i:i+2], ' '))) AS s
        FROM documents)
"""  # k=3: range(1, n-1) → i ∈ [1, n-2]; toks[i:i+2] is the 3-token slice


# ---------------------------------------------------------------------------
# q_dedup_exact — content-hash dedup
# ---------------------------------------------------------------------------


@register(
    "q_dedup_exact",
    oracle="""
    SELECT sha256(text) AS content_hash,
           MIN(doc_id)  AS keep_id,
           COUNT(*)     AS n_copies
    FROM documents
    GROUP BY sha256(text)
    ORDER BY keep_id
    """,
    tags=("llm", "dedup"),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by sha2-256 content hash.  ``min(doc_id)`` picks the
    survivor deterministically (dropDuplicates keeps an arbitrary row —
    fine operationally, unverifiable).  One hash-aggregate shuffle on the
    digest: at 100 TB the shuffle carries one 64-byte row per DISTINCT
    document, not per input row (map-side partial aggregation)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.sha2("text", 256).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# q_dedup_fuzzy — MinHash + banded LSH + exact verification
# ---------------------------------------------------------------------------


def _fuzzy_oracle() -> str:
    # The oracle states the SEMANTIC contract — all pairs with true
    # 3-shingle Jaccard >= 0.5 — via the inverted index (all-pairs is
    # fine for DuckDB at sf0.01).  The Spark side must FIND those pairs
    # through MinHash banding; with 8 bands × 2 rows the miss
    # probability at j >= 0.8 (the fixture's planted near-dup band;
    # nothing lives in (0.08, 0.8)) is <= (1-0.64)^8 < 3e-5 per pair.
    return """
    WITH sh AS (%s),
    sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id d1, b.doc_id d2, COUNT(*) c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    jacs AS (
      SELECT d1, d2, round(c * 1.0 / (s1.n + s2.n - c), 6) AS jaccard
      FROM common
      JOIN sizes s1 ON s1.doc_id = d1
      JOIN sizes s2 ON s2.doc_id = d2)
    SELECT d1, d2, jaccard FROM jacs WHERE jaccard >= 0.5
    ORDER BY d1, d2
    """ % _SHINGLES_SQL


# Band join + exact-Jaccard verification, stated once as SQL text with
# {mins}/{sh} placeholders (see the r14 build-cost note in
# q_dedup_fuzzy).  Same shapes as lsh_candidate_pairs/verified_jaccard:
# explode band keys → self equi-join (only colliding pairs appear) →
# inverted-index co-occurrence count → Jaccard from the signature
# frame's n_sh — no all-pairs anywhere.
_FUZZY_VERIFY_SQL = """
WITH bands AS (
  SELECT doc_id, explode(array(%s)) AS band_key FROM {mins}),
cand AS (
  SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
  FROM bands l JOIN bands r ON l.band_key = r.band_key
  WHERE l.doc_id < r.doc_id),
common AS (
  SELECT c.d1, c.d2, count(1) AS n_common
  FROM cand c
  JOIN {sh} a ON a.doc_id = c.d1
  JOIN {sh} b ON b.doc_id = c.d2 AND a.s = b.s
  GROUP BY c.d1, c.d2)
SELECT d1, d2, jaccard FROM (
  SELECT c.d1, c.d2,
         round(c.n_common / (s1.n_sh + s2.n_sh - c.n_common), 6) AS jaccard
  FROM common c
  JOIN {mins} s1 ON s1.doc_id = c.d1
  JOIN {mins} s2 ON s2.doc_id = c.d2)
WHERE jaccard >= 0.5
""" % BAND_KEYS_SQL


@register("q_dedup_fuzzy", oracle=_fuzzy_oracle(), tags=("llm", "dedup"))
def q_dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs (3-shingle Jaccard >= 0.5) found the
    100 TB-safe way:

    shingle → 16-hash MinHash signature (one groupBy) → 8 banded bucket
    keys per doc → equi-join on bucket → candidate pairs → exact Jaccard
    verification on candidates only.

    No all-pairs comparison anywhere: the band join is a plain equi-join
    whose output is only genuinely-colliding pairs, and verification is
    an inverted-index join over candidate docs.  Every hash constant is
    fixed, so the result is deterministic and exactly matches the
    all-pairs oracle (recall argument in the oracle builder)."""
    sh = _doc_shingles(spark, sf_dir, k=3)
    # ONE aggregate yields both the 16-hash signature and the set size
    # (n_sh) — verification reuses it instead of re-scanning shingles.
    # The signature is the shared frame helper (selectExpr/F.expr over
    # SQL text — one parse per expression); the band join +
    # verification is ONE spark.sql statement (r14, guide §7.3: ~25
    # eagerly-analyzed Dataset ops cost ~0.8 s of driver-side build
    # per call at any scale).
    mins = minhash_signature(sh)
    # 8 band keys: band i = (mh_{2i}, mh_{2i+1}) packed into one string
    out = spark.sql(_FUZZY_VERIFY_SQL, mins=mins, sh=sh)
    # persist AFTER the last templated spark.sql: the formatter's
    # temp-view cleanup UNCACHES any referenced frame (dropTempView →
    # uncacheView matches the frame's plan), so a persist taken before
    # the compose would be silently dropped.  Cache substitution
    # happens at execution (useCachedData), so pinning here still puts
    # InMemoryTableScans under every consumer — gated by
    # tests/test_cache_pins.py.  ORDER MATTERS (r14, measured): the
    # CacheManager normalizes a new cache entry's key against caches
    # that already exist, so persisting ``sh`` first would bake an
    # InMemoryRelation(sh) into ``mins``'s key and no raw consumer
    # fragment would ever match it again — pin the DOWNSTREAM frame
    # first, then its input.
    persist_tracked(mins)
    persist_tracked(sh)
    return out


# ---------------------------------------------------------------------------
# q_dedup_cluster — connected components over the near-dup pair graph
# ---------------------------------------------------------------------------


def _cluster_oracle() -> str:
    # Same pair semantics as q_dedup_fuzzy's oracle, then transitive
    # closure via a recursive CTE: a vertex's component is the minimum
    # doc_id it can reach (UNION, not UNION ALL — dedup per step is
    # what terminates the recursion on cycles).
    return """
    WITH RECURSIVE sh AS (%s),
    sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id d1, b.doc_id d2, COUNT(*) c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT d1, d2 FROM common
      JOIN sizes s1 ON s1.doc_id = d1
      JOIN sizes s2 ON s2.doc_id = d2
      WHERE c * 1.0 / (s1.n + s2.n - c) >= 0.5),
    edges AS (SELECT d1 s, d2 t FROM pairs UNION SELECT d2, d1 FROM pairs),
    reach(id, lbl) AS (
      SELECT DISTINCT s, s FROM edges
      UNION
      SELECT e.s, r.lbl FROM edges e JOIN reach r ON r.id = e.t)
    SELECT
      id                        AS doc_id,
      MIN(lbl)                  AS cluster_id,
      CAST(id = MIN(lbl) AS INT) AS keep
    FROM reach
    GROUP BY id
    ORDER BY doc_id
    """ % _SHINGLES_SQL


@register("q_dedup_cluster", oracle=_cluster_oracle(), tags=("llm", "dedup"))
def q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: near-dup PAIRS (q_dedup_fuzzy's
    LSH + verification) → connected components → one deterministic
    survivor per cluster (``keep = doc_id == cluster_id`` = component
    min).  The step every dedup pipeline needs after pair detection —
    pairs alone can't answer "which rows do I drop" once groups chain
    (A~B, B~C but not A~C).

    Components via iterative min-label propagation
    (operators/cluster.py): one equi-join + one aggregate per round,
    O(cluster diameter) rounds, lineage truncated per round.  The
    oracle states the same fixpoint declaratively as a recursive CTE —
    Spark's loop and DuckDB's recursion must land on the identical
    labeling."""
    pairs = q_dedup_fuzzy(spark, sf_dir)
    comp = connected_components(pairs, src="d1", dst="d2")
    return comp.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("id") == F.col("component")).cast("int").alias("keep"),
    )


# ---------------------------------------------------------------------------
# q_dedup_incremental — dedup an incoming shard AGAINST an existing corpus
# ---------------------------------------------------------------------------


def _incremental_oracle() -> str:
    # doc_id % 10 == 0 plays the incoming shard; the rest is the corpus.
    # Verdict precedence: exact (byte-identical to any corpus doc) >
    # near (3-shingle Jaccard >= 0.5 vs any corpus doc) > keep.
    return """
    WITH sh AS (%s),
    sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
    exact AS (
      SELECT DISTINCT i.doc_id
      FROM documents i JOIN documents c
        ON sha256(i.text) = sha256(c.text)
      WHERE i.doc_id %% 10 = 0 AND c.doc_id %% 10 != 0),
    common AS (
      SELECT a.doc_id i_id, b.doc_id c_id, COUNT(*) c
      FROM sh a JOIN sh b ON a.s = b.s
      WHERE a.doc_id %% 10 = 0 AND b.doc_id %% 10 != 0
      GROUP BY 1, 2),
    near AS (
      SELECT DISTINCT i_id AS doc_id FROM common
      JOIN sizes s1 ON s1.doc_id = i_id
      JOIN sizes s2 ON s2.doc_id = c_id
      WHERE c * 1.0 / (s1.n + s2.n - c) >= 0.5)
    SELECT d.doc_id,
           CASE WHEN e.doc_id IS NOT NULL THEN 'exact'
                WHEN n.doc_id IS NOT NULL THEN 'near'
                ELSE 'keep' END AS verdict
    FROM documents d
    LEFT JOIN exact e ON e.doc_id = d.doc_id
    LEFT JOIN near  n ON n.doc_id = d.doc_id
    WHERE d.doc_id %% 10 = 0
    ORDER BY d.doc_id
    """ % _SHINGLES_SQL


@register(
    "q_dedup_incremental", oracle=_incremental_oracle(), tags=("llm", "dedup")
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-corpus) dedup — the production shape: a new
    crawl shard is deduped AGAINST the existing corpus, not within
    itself.  Per incoming doc: ``exact`` (byte-identical to a corpus
    doc, sha2 semi-join), ``near`` (MinHash-band collision with a
    corpus doc, then exact-Jaccard verification), else ``keep``.

    Scale shape: the corpus side's signatures/band keys are the big
    side — in steady state they are a MAINTAINED index (appended per
    accepted ingest), so each ingest costs O(|shard|) new signatures
    plus equi-joins against the index, never a corpus rescan.  The band
    join is incoming-bands ⋈ corpus-bands (asymmetric — no self-join,
    no d1<d2), and the exact check is a semi-join on the 32-byte
    digest.  Both are plain equi-joins: broadcast when the shard is
    small, shuffle otherwise — AQE picks."""
    d = load_table(spark, sf_dir, "documents")
    is_inc = F.col("doc_id") % 10 == 0

    inc_hash = d.where(is_inc).select("doc_id", F.sha2("text", 256).alias("h"))
    cor_hash = d.where(~is_inc).select(F.sha2("text", 256).alias("h")).distinct()
    exact_ids = inc_hash.join(cor_hash, "h", "left_semi").select("doc_id")

    sh = _doc_shingles(spark, sf_dir, k=3, persist=True)
    mins = persist_tracked(minhash_signature(sh))
    bands = band_keys(mins, "doc_id")
    inc_bands = bands.where(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("d1"), "band_key"
    )
    cor_bands = bands.where(F.col("doc_id") % 10 != 0).select(
        F.col("doc_id").alias("d2"), "band_key"
    )
    candidates = (
        inc_bands.join(cor_bands, "band_key").select("d1", "d2").distinct()
    )
    near_ids = (
        _verified_jaccard(
            candidates, sh, threshold=0.5, sizes=mins.select("doc_id", "n_sh")
        )
        .select(F.col("d1").alias("doc_id"))
        .distinct()
    )

    return (
        d.where(is_inc)
        .select("doc_id")
        .join(exact_ids.withColumn("__e", F.lit(1)), "doc_id", "left")
        .join(near_ids.withColumn("__n", F.lit(1)), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("__e").isNotNull(), "exact")
            .when(F.col("__n").isNotNull(), "near")
            .otherwise("keep")
            .alias("verdict"),
        )
    )


# ---------------------------------------------------------------------------
# q_dedup_ngram — inverted-index exact n-gram Jaccard
# ---------------------------------------------------------------------------

@register(
    "q_dedup_ngram",
    oracle="""
    WITH sh AS (%s),
    dfreq AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s),
    kept AS (
      SELECT sh.doc_id, sh.s
      FROM sh JOIN dfreq USING (s)
      WHERE dfreq.df <= greatest(5,
        CAST(ceil((SELECT COUNT(*) FROM documents) / 100.0) AS BIGINT))),
    sizes AS (SELECT doc_id, COUNT(*) n FROM kept GROUP BY doc_id),
    common AS (
      SELECT a.doc_id d1, b.doc_id d2, COUNT(*) c
      FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT d1, d2,
           round(c * 1.0 / (s1.n + s2.n - c), 6) AS jaccard
    FROM common
    JOIN sizes s1 ON s1.doc_id = d1
    JOIN sizes s2 ON s2.doc_id = d2
    WHERE c * 1.0 / (s1.n + s2.n - c) >= 0.5
    ORDER BY d1, d2
    """ % _SHINGLES_SQL,
    tags=("llm", "dedup"),
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (3-shingle) Jaccard near-dup pairs via the inverted
    index WITH the document-frequency guard: explode shingles → drop
    shingles present in more than max(5, 1% of corpus) documents → self
    equi-join on the shingle → count co-occurrences → Jaccard over the
    pruned shingle sets.  The join is on the shingle value, so only docs
    SHARING a kept shingle ever meet — no all-pairs — and the DF cap is
    the 100 TB guard: stopword-like shingles (df up to ~corpus size on
    Zipfian web text) otherwise generate quadratic bucket blowup in the
    self-join.  The oracle states the same pruned contract, so the cap
    is part of the checked semantics, not a silent approximation.  The
    cap is relative (1% of N, floored at 5) so it binds identically at
    every scale; an output-identical exact alternative for threshold-
    guaranteed recall is operators/dedup.py:ngram_jaccard_pairs_prefix
    (prefix filtering, Bayardo et al. WWW'07), kept library-side because
    its DF-ordering pass costs more than it saves below bucket-skew
    scale."""
    # ``sh`` is pinned BEFORE the candidate pipeline (shared with
    # q_dedup_containment) pins its pruned index, so the index's cached
    # plan reads the shingle pin and shingling runs once; pinned after
    # it, no scan ever read ``sh`` (tests/test_cache_pins.py)
    sh = _doc_shingles(spark, sf_dir, k=3, persist=True)
    pairs = df_capped_pair_counts(sh, load_table(spark, sf_dir, "documents"))
    return pairs.where("c / (n1 + n2 - c) >= 0.5").selectExpr(
        "d1", "d2", "round(c / (n1 + n2 - c), 6) AS jaccard"
    )


# ---------------------------------------------------------------------------
# q_dedup_simhash — 16-bit SimHash fingerprint per document
# ---------------------------------------------------------------------------


def _simhash_oracle() -> str:
    bit_terms = ",\n      ".join(
        f"SUM(CASE WHEN (tid // {1 << b}) % 2 = 1 THEN 1 ELSE -1 END)" f" AS w{b}"
        for b in range(16)
    )
    packed = " + ".join(f"(CASE WHEN w{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(16))
    return f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
    tid AS (
      SELECT doc_id,
             CAST(concat('0x', substr(sha256(t), 1, 8)) AS BIGINT) AS tid
      FROM tok),
    bits AS (
      SELECT doc_id,
      {bit_terms}
      FROM tid GROUP BY doc_id)
    SELECT doc_id, CAST({packed} AS BIGINT) AS simhash
    FROM bits
    ORDER BY doc_id
    """


@register("q_dedup_simhash", oracle=_simhash_oracle(), tags=("llm", "dedup"))
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (16-bit) per document over distinct-token hashes: each bit
    is the sign of the sum of ±1 votes from every token's hash bit.
    Near-dup docs differ in O(1) bits, so bucketing by simhash (or by
    simhash with one bit masked) finds candidates without pair
    enumeration.  The per-doc fingerprint is the SQL-checkable contract;
    integer votes make it exactly deterministic in any engine."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(tokens_col())).alias("t")
    )
    tid = tok.select(
        "doc_id", F.conv(F.substring(F.sha2("t", 256), 1, 8), 16, 10).cast("bigint").alias("tid")
    )
    votes = [
        F.sum(
            F.when(F.expr(f"(tid div {1 << b}) % 2") == 1, 1).otherwise(-1)
        ).alias(f"w{b}")
        for b in range(16)
    ]
    bits = tid.groupBy("doc_id").agg(*votes)
    packed = None
    for b in range(16):
        term = F.when(F.col(f"w{b}") > 0, 1 << b).otherwise(0)
        packed = term if packed is None else packed + term
    return bits.select("doc_id", packed.cast("bigint").alias("simhash"))


# ---------------------------------------------------------------------------
# q_text_stats — corpus statistics by language
# ---------------------------------------------------------------------------


@register(
    "q_text_stats",
    oracle="""
    SELECT
      lang,
      COUNT(*)                                                  AS n_docs,
      CAST(SUM(len(string_split(text, ' '))) AS BIGINT)         AS total_tokens,
      CAST(SUM(length(text)) AS BIGINT)                         AS total_chars,
      CAST(MIN(length(text)) AS BIGINT)                         AS min_chars,
      CAST(MAX(length(text)) AS BIGINT)                         AS max_chars,
      round(SUM(length(text)) * 1.0 / COUNT(*), 6)              AS avg_chars,
      round(SUM(len(string_split(text, ' '))) * 1.0
            / SUM(length(text)), 6)                             AS tokens_per_char
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("llm", "text"),
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-distribution corpus stats: token/char counts per lang.
    Integer sums then one double division — order-independent, exact."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(tokens_col())
    n_chr = F.length("text")
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(n_tok).cast("bigint").alias("total_tokens"),
            F.sum(n_chr).cast("bigint").alias("total_chars"),
            F.min(n_chr).cast("bigint").alias("min_chars"),
            F.max(n_chr).cast("bigint").alias("max_chars"),
            F.round(F.sum(n_chr) * 1.0 / F.count(F.lit(1)), 6).alias("avg_chars"),
            F.round(F.sum(n_tok) * 1.0 / F.sum(n_chr), 6).alias("tokens_per_char"),
        )
    )


# ---------------------------------------------------------------------------
# q_lang_id — n-gram/stopword-heuristic language identification
# ---------------------------------------------------------------------------

_LANG_MARKERS = {
    "en": r"\b(the|a|of|and|to|in)\b",
    "es": r"\b(el|la|de|los|y|en)\b",
    "de": r"\b(der|die|das|und|ein)\b",
}


@register(
    "q_lang_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             len(regexp_extract_all(text, '{_LANG_MARKERS["en"]}'))  AS en_hits,
             len(regexp_extract_all(text, '{_LANG_MARKERS["es"]}'))  AS es_hits,
             len(regexp_extract_all(text, '{_LANG_MARKERS["de"]}'))  AS de_hits
      FROM documents)
    SELECT doc_id,
           CAST(en_hits AS INT) AS en_hits,
           CAST(es_hits AS INT) AS es_hits,
           CAST(de_hits AS INT) AS de_hits,
           CASE
             WHEN en_hits = 0 AND es_hits = 0 AND de_hits = 0 THEN 'und'
             WHEN en_hits >= es_hits AND en_hits >= de_hits THEN 'en'
             WHEN es_hits >= de_hits THEN 'es'
             ELSE 'de'
           END AS pred_lang
    FROM scored
    ORDER BY doc_id
    """,
    tags=("llm", "text"),
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID: count stopword-marker hits per language,
    predict the argmax (ties broken en > es > de; all-zero → 'und').
    Pure regexp_count + CASE — JVM-side, no model, deterministic.  A
    production pipeline swaps the marker table for per-language n-gram
    frequency profiles; the plan shape (projection → argmax) is
    identical."""
    d = load_table(spark, sf_dir, "documents")
    hits = {k: F.regexp_count("text", F.lit(p)).alias(f"{k}_hits") for k, p in _LANG_MARKERS.items()}
    scored = d.select("doc_id", *hits.values())
    en, es, de = F.col("en_hits"), F.col("es_hits"), F.col("de_hits")
    pred = (
        F.when((en == 0) & (es == 0) & (de == 0), "und")
        .when((en >= es) & (en >= de), "en")
        .when(es >= de, "es")
        .otherwise("de")
    )
    return scored.select(
        "doc_id", "en_hits", "es_hits", "de_hits", pred.alias("pred_lang")
    )


# ---------------------------------------------------------------------------
# q_quality_score — heuristic document quality
# ---------------------------------------------------------------------------


@register(
    "q_quality_score",
    oracle=r"""
    WITH m AS (
      SELECT doc_id,
             length(text)                                        AS n_chars,
             len(string_split(text, ' '))                        AS n_tokens,
             len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) AS stop_hits,
             len(regexp_extract_all(text, '[0-9]'))              AS n_digits
      FROM documents)
    SELECT doc_id,
           CAST(n_tokens AS INT)                                 AS n_tokens,
           round(n_chars * 1.0 / n_tokens, 6)                    AS chars_per_token,
           round(stop_hits * 1.0 / n_tokens, 6)                  AS stopword_ratio,
           round(n_digits * 1.0 / n_chars, 6)                    AS digit_ratio,
           round(0.5 * least(n_tokens / 100.0, 1.0)
               + 0.3 * least(stop_hits * 5.0 / n_tokens, 1.0)
               + 0.2 * (1.0 - n_digits * 1.0 / n_chars), 6)      AS quality,
           CASE WHEN 0.5 * least(n_tokens / 100.0, 1.0)
                   + 0.3 * least(stop_hits * 5.0 / n_tokens, 1.0)
                   + 0.2 * (1.0 - n_digits * 1.0 / n_chars) >= 0.6
                THEN 'keep' ELSE 'drop' END                      AS verdict
    FROM m
    ORDER BY doc_id
    """,
    tags=("llm", "text"),
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring (length, stopword ratio, digit ratio →
    weighted score → keep/drop verdict) — the standard pre-training
    corpus filter shape.  All ratios are single IEEE divisions of exact
    integers; the composite is a fixed dot product — deterministic."""
    d = load_table(spark, sf_dir, "documents")
    n_chars = F.length("text")
    n_tokens = F.size(tokens_col())
    stop_hits = F.regexp_count("text", F.lit(r"\b(the|a|of|and|to)\b"))
    n_digits = F.regexp_count("text", F.lit("[0-9]"))
    m = d.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        stop_hits.alias("stop_hits"),
        n_digits.alias("n_digits"),
    )
    quality = (
        0.5 * F.least(F.col("n_tokens") / 100.0, F.lit(1.0))
        + 0.3 * F.least(F.col("stop_hits") * 5.0 / F.col("n_tokens"), F.lit(1.0))
        + 0.2 * (1.0 - F.col("n_digits") * 1.0 / F.col("n_chars"))
    )
    return m.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("n_chars") * 1.0 / F.col("n_tokens"), 6).alias("chars_per_token"),
        F.round(F.col("stop_hits") * 1.0 / F.col("n_tokens"), 6).alias("stopword_ratio"),
        F.round(F.col("n_digits") * 1.0 / F.col("n_chars"), 6).alias("digit_ratio"),
        F.round(quality, 6).alias("quality"),
        F.when(quality >= 0.6, "keep").otherwise("drop").alias("verdict"),
    )


# ---------------------------------------------------------------------------
# q_token_count — whitespace + BPE-ish regex token accounting
# ---------------------------------------------------------------------------

_BPE_RE = r"[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]"


@register(
    "q_token_count",
    oracle=rf"""
    SELECT
      source,
      COUNT(*)                                                       AS n_docs,
      CAST(SUM(len(string_split(text, ' '))) AS BIGINT)              AS ws_tokens,
      CAST(SUM(len(regexp_extract_all(text, '{_BPE_RE}'))) AS BIGINT) AS bpe_tokens,
      CAST(SUM(length(text)) AS BIGINT)                              AS n_chars,
      round(SUM(length(text)) * 1.0
            / SUM(len(regexp_extract_all(text, '{_BPE_RE}'))), 6)    AS chars_per_bpe
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
    tags=("llm", "text"),
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token accounting per source: whitespace tokens and a BPE-ish
    regex tokenizer (letter runs / single digits / punctuation — the
    GPT-2-style pre-tokenizer shape).  Integer sums → exact."""
    d = load_table(spark, sf_dir, "documents")
    ws = F.size(tokens_col())
    bpe = F.regexp_count("text", F.lit(_BPE_RE))
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(ws).cast("bigint").alias("ws_tokens"),
            F.sum(bpe).cast("bigint").alias("bpe_tokens"),
            F.sum(F.length("text")).cast("bigint").alias("n_chars"),
            F.round(F.sum(F.length("text")) * 1.0 / F.sum(bpe), 6).alias("chars_per_bpe"),
        )
    )


# ---------------------------------------------------------------------------
# q_fingerprint — min-hash document fingerprint (winnowing-lite)
# ---------------------------------------------------------------------------


@register(
    "q_fingerprint",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(string_split(text,' ')) - 3),
                    i -> array_to_string((string_split(text,' '))[i:i+4], ' '))) AS s
      FROM documents)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           MIN(sha256(s))           AS fingerprint,
           substr(MIN(sha256(s)), 1, 12) AS fp12
    FROM sh
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("llm", "text"),
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: sha2 over a rolling 5-token window, keep
    the minimum digest (winnowing with one global window).  Two docs
    sharing any 5-gram region are likely to share the min digest — a
    join key for plagiarism/contamination checks.  Hex-string MIN is
    lexicographic in both engines — exact."""
    d = load_table(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id", F.explode(shingles_col("text", k=5)).alias("s")
    )
    fp = F.min(F.sha2("s", 256))
    return sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
        fp.alias("fingerprint"),
        F.substring(fp, 1, 12).alias("fp12"),
    )


# ---------------------------------------------------------------------------
# q_tfidf — top terms per document by tf-idf
# ---------------------------------------------------------------------------


@register(
    "q_tfidf",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             round(tf.tf * ln(n.n_docs * 1.0 / df.df), 6) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n),
    ranked AS (
      SELECT doc_id, term, tf, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rnk
      FROM scored)
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, tfidf, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 3
    ORDER BY doc_id, rnk
    """,
    tags=("llm", "text"),
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per document by tf-idf.  Three hash aggregations (tf,
    df, N), a shuffle equi-join of tf with the vocabulary-scaled df table
    (AQE broadcasts it only when genuinely small), a broadcast of the
    1-row N, and a windowed top-k — every stage is partial-aggregated
    before its shuffle.  Ranking is on
    the ROUNDED score with the term as tiebreaker, so ranks are total-
    order deterministic cross-engine."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens_col()).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # df derived FROM tf, not from tok (r11): tf already holds one row
    # per distinct (doc, term), so count(*) here equals
    # countDistinct(doc_id) over the raw tokens — but the plain count
    # carries no per-group dedup state, its input is the deduped pairs
    # (≤ tokens), and Catalyst serves both branches from ONE reused
    # exchange so the explode runs once.  Measured neutral at sf0.1
    # (tiny vocabulary); strictly less shuffled state at corpus scale.
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        # df is vocabulary-scaled (one row per distinct term): at web scale
        # it does not fit an executor, so no forced broadcast — the equi-join
        # on `term` shuffles, and AQE still broadcasts when df is small.
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(F.col("tf") * F.log(F.col("n_docs") * 1.0 / F.col("df")), 6).alias(
                "tfidf"
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("doc_id", "term", F.col("tf").cast("bigint").alias("tf"), "tfidf", "rnk")
    )


# ---------------------------------------------------------------------------
# q_heavy_hitters — corpus-dominating tokens via Misra-Gries + exact verify
# ---------------------------------------------------------------------------


@register(
    "q_heavy_hitters",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents),
    tot AS (SELECT COUNT(*) AS n FROM tok)
    SELECT token,
           COUNT(*) AS cnt,
           COUNT(*) / (SELECT n FROM tot) AS share
    FROM tok GROUP BY token
    HAVING COUNT(*) * 100 >= (SELECT n FROM tot) * 1
    ORDER BY token
    """,
    tags=("llm", "text", "sketch"),
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens covering >= 1% of the corpus token stream (vocabulary
    heads a curation pipeline caps or down-weights).

    Two passes (operators/heavy.py): a per-partition Misra-Gries sketch
    bounds shuffled keys to ceil(1/theta) per partition — at 100 TB the
    token column has billions of distinct values and a naive
    groupBy(token) shuffles all of them — then an exact count restricted
    to the broadcast candidate set.  The sketch only prunes, so the
    result is exact and the threshold is the integer cross-product
    ``cnt*den >= N*num`` (bit-identical in DuckDB; no float threshold).
    The MG eviction guarantee is unit-tested on Zipf data in
    tests/test_operators.py."""
    from ..operators.heavy import heavy_hitters

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(tokens_col()).alias("token"))
    return heavy_hitters(tok, "token", 1, 100).orderBy("token")


# ---------------------------------------------------------------------------
# q_corpus_curation — the composed end-to-end curation decision
# ---------------------------------------------------------------------------


@register(
    "q_corpus_curation",
    oracle=r"""
    WITH m AS (
      SELECT doc_id, lang,
             length(text)                                        AS n_chars,
             len(string_split(text, ' '))                        AS n_tokens,
             len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) AS stop_hits,
             len(regexp_extract_all(text, '[0-9]'))              AS n_digits,
             MIN(doc_id) OVER (PARTITION BY sha256(text))        AS canon
      FROM documents),
    q AS (
      SELECT doc_id, lang, canon,
             0.5 * least(n_tokens / 100.0, 1.0)
           + 0.3 * least(stop_hits * 5.0 / n_tokens, 1.0)
           + 0.2 * (1.0 - n_digits * 1.0 / n_chars) AS quality
      FROM m)
    SELECT doc_id, lang,
           round(quality, 6) AS quality,
           CASE WHEN doc_id != canon THEN 'dup'
                WHEN quality < 0.6   THEN 'low_quality'
                ELSE 'kept' END AS reason
    FROM q
    ORDER BY doc_id
    """,
    tags=("llm", "curation"),
)
def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-curation decision — what an actual
    pre-training data pipeline runs nightly: exact-dedup survivorship
    (min doc_id per content hash) + heuristic quality gate
    (q_quality_score's exact formula), folded into one per-doc verdict
    with precedence dup > low_quality > kept.

    One pass, two shuffles: the dedup window partitions by the 32-byte
    content digest (same shuffle a groupBy dedup would pay), quality is
    pure projection arithmetic riding the same scan.  Composition is
    the point: every stage is an operator this engine already verifies
    in isolation, and the composite still matches the oracle exactly."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    canon = F.min("doc_id").over(
        Window.partitionBy(F.sha2("text", 256))
    )
    quality = (
        0.5 * F.least(F.size(tokens_col()) / 100.0, F.lit(1.0))
        + 0.3
        * F.least(
            F.regexp_count("text", F.lit(r"\b(the|a|of|and|to)\b")) * 5.0
            / F.size(tokens_col()),
            F.lit(1.0),
        )
        + 0.2
        * (1.0 - F.regexp_count("text", F.lit("[0-9]")) * 1.0 / F.length("text"))
    )
    scored = d.select(
        "doc_id",
        "lang",
        canon.alias("canon"),
        quality.alias("q"),
    )
    return scored.select(
        "doc_id",
        "lang",
        F.round("q", 6).alias("quality"),
        F.when(F.col("doc_id") != F.col("canon"), "dup")
        .when(F.col("q") < 0.6, "low_quality")
        .otherwise("kept")
        .alias("reason"),
    )
