"""Collocation extraction: pointwise mutual information over corpus
bigrams.

q_ngram_freq (curation.py) ranks bigrams by raw count — which surfaces
function-word pairs.  The standard fix ranks by PMI, how much more
often a pair co-occurs than its parts' frequencies predict:

    pmi(a b) = ln( P(a b) / (P(a) P(b)) )

This is the classic phrase-mining / multi-word-expression detector
(Church & Hanks 1990) that seeds tokenizer merge rules and phrase
vocabularies from a training corpus.

Scale shape: two explode→hash-aggregate count tables (unigrams,
bigrams), each map-side partial-combined; the bigram table equi-joins
its two component words against the unigram counts (vocabulary-sized
build sides — hash joins that AQE will broadcast when the vocab fits);
the corpus totals are 1-row scalars broadcast onto the vocabulary (the
q_tfidf pattern, allowlisted BNLJ); and the final top-k is a
TakeOrderedAndProject partial top-k, never a global sort.  A count
floor (>= 5) applies the standard PMI-sparsity guard before ranking.

Float determinism: counts are exact integers; the PMI expression is
the identical IEEE op tree in both engines (divisions → multiply → ln
→ round 6), the precedent q_bm25_rank established for ``ln``.

Shingling plan note: q_ngram_pmi's plan changed through
operators/dedup.shingles_col, which now shingles with one codegen'd
``regexp_extract_all`` instead of an interpreted ``transform`` lambda.
The module-source stamp cannot see that; this note invalidates it so
the query re-records.  The shingles are unchanged
(tests/test_operators.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import persist_tracked
from ..io import load_table
from ..operators.dedup import shingles_col, tokens_col
from ..registry import register

_MIN_COUNT = 5
_TOP_K = 30

_PMI_ORACLE = f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents),
    uni AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
    nu AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
    bi AS (
      SELECT g, COUNT(*) AS c FROM (
        SELECT unnest(list_transform(range(1, len(string_split(text, ' '))),
               i -> array_to_string((string_split(text, ' '))[i:i+1], ' '))) AS g
        FROM documents)
      GROUP BY g),
    nb AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM bi)
    SELECT bi.g AS bigram,
           bi.c AS pair_count,
           u1.c AS count_w1,
           u2.c AS count_w2,
           round(ln((bi.c * 1.0 / nb.n) /
                    ((u1.c * 1.0 / nu.n) * (u2.c * 1.0 / nu.n))), 6) AS pmi
    FROM bi
    JOIN uni u1 ON u1.w = split_part(bi.g, ' ', 1)
    JOIN uni u2 ON u2.w = split_part(bi.g, ' ', 2)
    CROSS JOIN nu CROSS JOIN nb
    WHERE bi.c >= {_MIN_COUNT}
    ORDER BY pmi DESC, bigram
    LIMIT {_TOP_K}
"""


@register("q_ngram_pmi", oracle=_PMI_ORACLE, tags=("llm", "curation"))
def q_ngram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 bigram collocations by PMI with a count floor (see
    module docstring).  Unigram/bigram hash-aggregate count tables,
    two vocabulary equi-joins for the component-word counts, 1-row
    corpus totals broadcast, deterministic (pmi DESC, bigram) tiebreak
    through a partial top-k."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(tokens_col().alias("w"))
    # Both count tables are vocabulary-sized; persisting them costs KBs
    # and spares the corpus-sized explode for each downstream consumer
    # (uni feeds the total + both component joins, bi feeds the total +
    # the candidate set — 5 re-scans otherwise).
    uni = (
        toks.select(F.explode("w").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    uni = persist_tracked(uni)
    nu = uni.agg(F.sum("c").alias("n_uni"))
    bi = (
        d.select(F.explode(shingles_col("text", 2)).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bi = persist_tracked(bi)
    nb = bi.agg(F.sum("c").alias("n_bi"))

    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("count_w1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("count_w2"))
    cand = (
        bi.filter(F.col("c") >= _MIN_COUNT)
        .withColumn("w1", F.split_part(F.col("g"), F.lit(" "), F.lit(1)))
        .withColumn("w2", F.split_part(F.col("g"), F.lit(" "), F.lit(2)))
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
    )
    pmi = F.log(
        (F.col("c") * 1.0 / F.col("n_bi"))
        / (
            (F.col("count_w1") * 1.0 / F.col("n_uni"))
            * (F.col("count_w2") * 1.0 / F.col("n_uni"))
        )
    )
    return (
        cand.select(
            F.col("g").alias("bigram"),
            F.col("c").alias("pair_count"),
            "count_w1",
            "count_w2",
            F.round(pmi, 6).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "bigram")
        .limit(_TOP_K)
    )
