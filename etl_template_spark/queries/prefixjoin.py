"""q_dedup_prefix — EXACT Jaccard self-join via prefix filtering
(round 8, promoting the r5-built library operator
operators/dedup.py::ngram_jaccard_pairs_prefix).

q_dedup_ngram bounds its inverted-index join with a document-frequency
CAP — honest (the cap is part of its checked contract) but a tuning
knob, and the capped Jaccard is computed over the PRUNED shingle sets.
Prefix filtering (AllPairs/PPJoin, Bayardo et al. WWW'07) removes the
knob: for Jaccard ≥ t two documents must share a shingle inside the
first ``n − ceil(t·n) + 1`` of their shingles under any global total
order, so joining only those prefix buckets (rarest-first order makes
them the smallest) loses NOTHING — candidate recall is guaranteed by
the bound, exact verification restores the true Jaccard over the FULL
shingle sets, and the output equals the completely unpruned join
bit-for-bit.  That identity is exactly what the oracle states: plain
all-shingle self-join Jaccard in SQL, no cap, no prefix — if the
prefix bound ever dropped a true pair, the hash would catch it.

Scale: candidate generation touches only rare-shingle buckets (the
quadratic stopword buckets never join — join cost tracks Σ df² of
PREFIX buckets, Θ(corpus) overhead for the DF pass); this is the
variant that finishes on Zipfian web-scale shingle distributions where
the unpruned join is quadratic and a DF cap changes the answer.  At
fixture scale the simple capped join is faster (measured in dedup.py's
docstring) — which is why BOTH contracts stay registered.

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

from ..operators.dedup import ngram_jaccard_pairs_prefix
from ..registry import register
from .llm_text import _SHINGLES_SQL, _doc_shingles

_THRESHOLD = 0.5


@register(
    "q_dedup_prefix",
    oracle="""
    WITH sh AS (%s),
    sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id d1, b.doc_id d2, COUNT(*) c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT d1, d2,
           round(c * 1.0 / (s1.n + s2.n - c), 6) AS jaccard
    FROM common
    JOIN sizes s1 ON s1.doc_id = d1
    JOIN sizes s2 ON s2.doc_id = d2
    WHERE round(c * 1.0 / (s1.n + s2.n - c), 6) >= %s
    ORDER BY d1, d2
    """ % (_SHINGLES_SQL, _THRESHOLD),
    tags=("llm", "dedup"),
)
def q_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True-Jaccard ≥ 0.5 near-dup pairs over FULL 3-shingle sets via
    prefix filtering — tuning-free and provably lossless; the oracle is
    the unpruned all-pairs definition itself."""
    sh = _doc_shingles(spark, sf_dir, k=3, persist=True)
    return ngram_jaccard_pairs_prefix(sh, _THRESHOLD)
