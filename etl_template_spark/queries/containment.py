"""q_dedup_containment — asymmetric n-gram CONTAINMENT near-dup pairs
(round 8): Broder's containment coefficient C(A,B) = |A∩B| / |A|.

The resemblance family (q_dedup_ngram's Jaccard, q_dedup_fuzzy's
MinHash) misses the quote-inclusion shape: a short document wholly
embedded in a much longer one has near-1 containment but tiny Jaccard
(|A∩B|/|A∪B| ≈ |A|/|B|).  Containment of the SMALLER shingle set is
the standard detector for sub-document duplication — syndicated
articles inside aggregator pages, quoted posts, boilerplate-wrapped
bodies (Broder, "On the resemblance and containment of documents",
SEQUENCES 1997).

Plan shape is the inverted-index contract shared with q_dedup_ngram
(both call ``operators/dedup.df_capped_pair_counts``): distinct
3-shingles → document-frequency cap (max(5, 1% of corpus) — part of
the CHECKED semantics, restated in the oracle, not a silent prune) →
shingle-value self-join (only docs sharing a kept shingle ever meet —
no all-pairs) → co-occurrence counts → containment over the pruned
sets.  The only delta vs Jaccard is the denominator: LEAST(|A|,|B|)
instead of |A|+|B|−c — so every scale argument (equi-join buckets, AQE
skew split, DF-cap hot-shingle bound) carries over verbatim.

Reference parity: no dedup surface in the reference; declared engine
surface per SURVEY §2B.

Shingling plan note: this query's plan changed through
llm_text._doc_shingles, which now shingles with one codegen'd
``regexp_extract_all`` instead of a Python ``mapInArrow`` generator.
The module-source stamp cannot see that; this note invalidates it so
the query re-records.  The shingles are unchanged
(tests/test_operators.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..io import load_table
from ..operators.dedup import df_capped_pair_counts
from ..registry import register
from .llm_text import _SHINGLES_SQL, _doc_shingles

_THRESHOLD = 0.8


@register(
    "q_dedup_containment",
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
           round(c * 1.0 / LEAST(s1.n, s2.n), 6) AS containment,
           CAST(c AS BIGINT) AS n_common,
           CAST(LEAST(s1.n, s2.n) AS BIGINT) AS n_small
    FROM common
    JOIN sizes s1 ON s1.doc_id = d1
    JOIN sizes s2 ON s2.doc_id = d2
    WHERE c * 1.0 / LEAST(s1.n, s2.n) >= %s
    ORDER BY d1, d2
    """ % (_SHINGLES_SQL, _THRESHOLD),
    tags=("llm", "dedup"),
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs where the smaller 3-shingle set is >= 80%%
    contained in the other — the sub-document duplication detector
    Jaccard structurally under-scores."""
    sh = _doc_shingles(spark, sf_dir, k=3, persist=True)
    # the SAME candidate pipeline as q_dedup_ngram: both call the one
    # helper, which pins the pruned index (operators/dedup.py)
    pairs = df_capped_pair_counts(sh, load_table(spark, sf_dir, "documents"))
    return pairs.where(f"c / least(n1, n2) >= {_THRESHOLD}D").selectExpr(
        "d1",
        "d2",
        "round(c / least(n1, n2), 6) AS containment",
        "c AS n_common",
        "CAST(least(n1, n2) AS BIGINT) AS n_small",
    )
