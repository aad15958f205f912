"""Repetition-based quality filters (the Gopher/Dolma rule family).

q_token_type_ratio (curation.py) covers the type/token and
top-single-token signals; this module adds the three *sequence*-level
repetition rules those papers apply on top: the fraction of n-gram
occurrences that are duplicates (looping text), the character share of
the single most frequent bigram (boilerplate), and the longest run of
one repeated token (degenerate generations).  Together they are the
standard "drop repetitious pages before training" gate.

Everything is explode → hash-aggregate work keyed by ``doc_id``: each
signal partial-aggregates map-side, and the final per-document join of
the three signal frames is an equi-join on the same key, so at 100 TB
the whole query is one token explode plus doc-keyed shuffles — no
corpus-wide state, no UDFs, fully whole-stage-codegen'd.

Generalizes the reference's per-record transform surface
(tools.go:841-884) to corpus-quality accounting the same way
q_quality_score does.

Shingling plan note: q_quality_repetition's plan changed through
operators/dedup.shingles_col, which now shingles with one codegen'd
``regexp_extract_all`` instead of an interpreted ``transform`` lambda.
The module-source stamp cannot see that; this note invalidates it so
the query re-records.  The shingles are unchanged
(tests/test_operators.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import persist_tracked
from ..io import load_table
from ..operators.dedup import shingles_col, tokens_col
from ..registry import register

# Both engines enumerate k-grams identically: positions 1..n-k+1 over
# the whitespace token list, none when n < k (DuckDB's ``range`` is
# empty there; shingles_col's regex finds no token start with k-1
# spaces after it).
_GRAMS_SQL = """
    SELECT doc_id,
           unnest(list_transform(range(1, len(string_split(text, ' ')) - {km2}),
                  i -> array_to_string((string_split(text, ' '))[i:i+{km1}], ' '))) AS g
    FROM documents
"""


def _grams_sql(k: int) -> str:
    return _GRAMS_SQL.format(km2=k - 2, km1=k - 1)


_REPETITION_ORACLE = f"""
    WITH five AS (
      SELECT doc_id, g, COUNT(*) AS cnt FROM ({_grams_sql(5)}) GROUP BY doc_id, g),
    five_doc AS (
      SELECT doc_id,
             CAST(SUM(cnt) AS BIGINT) AS n_5grams,
             CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS dup_occ
      FROM five GROUP BY doc_id),
    bi AS (
      SELECT doc_id, g, COUNT(*) AS cnt FROM ({_grams_sql(2)}) GROUP BY doc_id, g),
    top_bi AS (
      SELECT doc_id, g, cnt FROM (
        SELECT doc_id, g, cnt,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY cnt DESC, g) AS rn
        FROM bi) WHERE rn = 1),
    tok AS (
      SELECT doc_id, i AS pos, w[i] AS word
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           unnest(range(1, len(w) + 1)) AS u(i)),
    runs AS (
      SELECT doc_id,
             CAST(MAX(run_len) AS BIGINT) AS max_word_run
      FROM (
        SELECT doc_id, word, grp, COUNT(*) AS run_len
        FROM (
          SELECT doc_id, word,
                 pos - row_number() OVER (PARTITION BY doc_id, word
                                          ORDER BY pos) AS grp
          FROM tok)
        GROUP BY doc_id, word, grp)
      GROUP BY doc_id)
    SELECT d.doc_id,
           f.n_5grams,
           CASE WHEN f.n_5grams > 0
                THEN round(f.dup_occ * 1.0 / f.n_5grams, 6) END AS dup_5gram_frac,
           t.g AS top_bigram,
           round(t.cnt * length(t.g) * 1.0 / length(d.text), 6) AS top_bigram_share,
           r.max_word_run,
           CASE WHEN f.n_5grams > 0 AND f.dup_occ * 1.0 / f.n_5grams > 0.3
                THEN 'drop' ELSE 'keep' END AS verdict
    FROM documents d
    LEFT JOIN five_doc f ON f.doc_id = d.doc_id
    LEFT JOIN top_bi  t ON t.doc_id = d.doc_id
    LEFT JOIN runs    r ON r.doc_id = d.doc_id
    ORDER BY d.doc_id
"""


@register("q_quality_repetition", oracle=_REPETITION_ORACLE, tags=("llm", "quality"))
def q_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-level repetition filters per document: duplicate-5-gram
    occurrence fraction (looping text), character share of the top
    bigram with a deterministic (count DESC, gram ASC) tiebreak
    (boilerplate), and the longest consecutive same-token run via the
    gaps-and-islands ``pos - row_number`` trick (degenerate repetition).
    The composite ``verdict`` drops documents whose 5-gram stream is
    >30% duplicates — the Gopher-style repetition gate.

    Scale shape: three independent explode→hash-aggregate pipelines,
    each keyed by ``doc_id`` with map-side partial aggregation, joined
    back per-document on the same key — AQE coalesces the doc-keyed
    shuffles, nothing is corpus-global, and no UDF breaks codegen."""
    d = load_table(spark, sf_dir, "documents")
    # Tokenized once, shared by all three signal pipelines AND the
    # final per-doc base — without the persist each consumer re-scans
    # and re-splits the corpus (the q_dedup_fuzzy shared-shingle-table
    # discipline).
    toks = d.select("doc_id", F.length("text").alias("n_chars"),
                    tokens_col().alias("w"))
    toks = persist_tracked(toks)
    # the doc text back from the pinned tokens: split and join on ' '
    # round-trip exactly, so the k-grams read the pin, not the scan
    text = "array_join(w, ' ')"

    five = (
        toks.select("doc_id", F.explode(shingles_col(text, 5)).alias("g"))
        .groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("cnt"))
    )
    five_doc = five.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_5grams"),
        F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias("dup_occ"),
    )

    bi = (
        toks.select("doc_id", F.explode(shingles_col(text, 2)).alias("g"))
        .groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("cnt"))
    )
    top_bi = (
        bi.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.col("cnt").desc(), "g")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("g").alias("top_g"), F.col("cnt").alias("top_cnt"))
    )

    tok = toks.select(
        "doc_id", F.posexplode("w").alias("pos0", "word")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "word")
    grp = tok.withColumn(
        "grp",
        F.col("pos")
        - F.row_number().over(Window.partitionBy("doc_id", "word").orderBy("pos")),
    )
    runs = (
        grp.groupBy("doc_id", "word", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
        .groupBy("doc_id")
        .agg(F.max("run_len").alias("max_word_run"))
    )

    dup_frac = F.when(
        F.col("n_5grams") > 0, F.col("dup_occ") * 1.0 / F.col("n_5grams")
    )
    return (
        toks.select("doc_id", "n_chars")
        .join(five_doc, "doc_id", "left")
        .join(top_bi, "doc_id", "left")
        .join(runs, "doc_id", "left")
        .select(
            "doc_id",
            "n_5grams",
            F.round(dup_frac, 6).alias("dup_5gram_frac"),
            F.col("top_g").alias("top_bigram"),
            F.round(
                F.col("top_cnt") * F.length("top_g") * 1.0 / F.col("n_chars"), 6
            ).alias("top_bigram_share"),
            "max_word_run",
            F.when(dup_frac > 0.3, "drop").otherwise("keep").alias("verdict"),
        )
    )
