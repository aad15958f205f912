"""Corpus-curation operators, round 3 additions: PII scrubbing, corpus
vocabulary (n-gram frequencies), token repetition signals, and the
Hilbert-clustered sink.

These extend the training-data pipeline surface (SURVEY.md §2B, LLM/
curation family): everything is JVM-side expression work — regex
scrubbing and counting compile to whole-stage codegen, the vocabulary
top-k is a distributed partial top-k (TakeOrderedAndProject), and the
repetition ratios are one token explode + two hash aggregates with
map-side partial aggregation.  No UDFs, no driver loops.

This module registers AFTER every other query module (queries/__init__
imports it last) so its entries land behind the pinned round-3
correctness window (tests/test_entry_contract.py).

Shingling plan note: q_ngram_freq's plan changed through
operators/dedup.shingles_col, which now shingles with one codegen'd
``regexp_extract_all`` instead of an interpreted ``transform`` lambda.
The module-source stamp cannot see that; this note invalidates it so
the query re-records.  The shingles are unchanged
(tests/test_operators.py).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table, read_versioned, write_versioned
from ..operators.dedup import shingles_col, tokens_col
from ..registry import register

# Patterns restricted to the syntax Java regex and RE2 share (no \b, \d
# or lookaround), so engine and oracle scrub identically.
_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_IPV4 = r"([0-9]{1,3}\.){3}[0-9]{1,3}"
_PHONE = r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}-[0-9]{4}"


def pii_scrub_cols(text: str = "text") -> dict[str, Column]:
    """The scrub expressions (counts + redacted text) over ``text`` —
    shared by q_pii_scrub and the planted-PII unit test."""
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col(text), _EMAIL, "[EMAIL]"),
            _IPV4, "[IP]",
        ),
        _PHONE, "[PHONE]",
    )
    return {
        "n_emails": F.regexp_count(text, F.lit(_EMAIL)).cast("bigint"),
        "n_ips": F.regexp_count(text, F.lit(_IPV4)).cast("bigint"),
        "n_phones": F.regexp_count(text, F.lit(_PHONE)).cast("bigint"),
        "scrubbed": scrubbed,
    }


@register(
    "q_pii_scrub",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_IPV4}'))  AS BIGINT) AS n_ips,
           CAST(len(regexp_extract_all(text, '{_PHONE}')) AS BIGINT) AS n_phones,
           regexp_replace(
             regexp_replace(
               regexp_replace(text, '{_EMAIL}', '[EMAIL]', 'g'),
               '{_IPV4}', '[IP]', 'g'),
             '{_PHONE}', '[PHONE]', 'g') AS scrubbed
    FROM documents
    ORDER BY doc_id
    """,
    tags=("llm", "curation"),
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass (emails / IPv4 / intl phone numbers →
    typed placeholders) with per-document match counts — the mandatory
    scrub before a crawl becomes training data.  Pure ``regexp_replace``
    / ``regexp_count`` projection: one scan, no shuffle, codegen'd; the
    replacement order (email → ip → phone) is part of the contract and
    mirrored in the oracle so overlapping matches resolve identically.
    The fixture corpus is synthetic word-salad (zero matches expected);
    tests/test_operators.py plants real PII to prove the redaction."""
    d = load_table(spark, sf_dir, "documents")
    cols = pii_scrub_cols("text")
    return d.select("doc_id", *[c.alias(n) for n, c in cols.items()])


@register(
    "q_ngram_freq",
    oracle="""
    WITH grams AS (
      SELECT unnest(list_transform(range(1, len(string_split(text, ' '))),
             i -> array_to_string((string_split(text, ' '))[i:i+1], ' '))) AS ngram
      FROM documents)
    SELECT ngram, COUNT(*) AS freq
    FROM grams
    GROUP BY ngram
    ORDER BY freq DESC, ngram
    LIMIT 20
    """,
    tags=("llm", "curation"),
)
def q_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide bigram vocabulary: the top-20 most frequent 2-grams
    (every occurrence counts — unlike the dedup shingles, which are
    per-document DISTINCT).  The shape that seeds a BPE/WordPiece vocab
    build.  Explode → hash aggregate (map-side partial) → global top-k:
    ``orderBy().limit()`` plans as TakeOrderedAndProject, a per-partition
    top-20 + driver merge — the vocab table itself is never globally
    sorted.  Tiebreak on the ngram value makes rank 20 deterministic."""
    d = load_table(spark, sf_dir, "documents")
    grams = d.select(F.explode(shingles_col("text", 2)).alias("ngram"))
    return (
        grams.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("ngram"))
        .limit(20)
    )


@register(
    "q_token_type_ratio",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
    per_tok AS (
      SELECT doc_id, t, COUNT(*) AS cnt FROM tok GROUP BY doc_id, t)
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           COUNT(*)  AS n_types,
           round(COUNT(*) * 1.0 / SUM(cnt), 6) AS type_token_ratio,
           round(MAX(cnt) * 1.0 / SUM(cnt), 6) AS top_token_share
    FROM per_tok
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("llm", "curation"),
)
def q_token_type_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signals per document: type/token ratio and the share
    of the single most-repeated token — the Gopher-style filters that
    drop looping/boilerplate pages before training.  One explode + two
    hash aggregates (per-(doc,token) counts, then per-doc rollup), both
    partial-aggregated map-side; ratios are single IEEE divisions of
    exact integers, so the values hash bit-identically cross-engine."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens_col()).alias("t"))
    per_tok = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("cnt"))
    return per_tok.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.round(F.count(F.lit(1)) * 1.0 / F.sum("cnt"), 6).alias("type_token_ratio"),
        F.round(F.max("cnt") * 1.0 / F.sum("cnt"), 6).alias("top_token_share"),
    )


_CHUNK = 32  # tokens per chunk
_SEQ_BUDGET = 512  # tokens per packed training sequence


@register(
    "q_chunk_documents",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents)
    SELECT doc_id,
           CAST(i - 1 AS INT) AS chunk_idx,
           array_to_string(toks[(i-1)*{_CHUNK}+1 : i*{_CHUNK}], ' ') AS chunk_text,
           CAST(least({_CHUNK}, n - (i-1)*{_CHUNK}) AS INT) AS n_tokens
    FROM (SELECT doc_id, toks, n,
                 unnest(range(1, CAST(ceil(n / {_CHUNK}.0) AS BIGINT) + 1)) AS i
          FROM d)
    ORDER BY doc_id, chunk_idx
    """,
    tags=("llm", "curation"),
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token chunking: every document split into consecutive
    _CHUNK(=32)-token chunks (tail chunk shorter) — the step that turns
    a variable-length corpus into trainer-shaped pieces.  One generator
    projection (HOF slice inside ``transform`` + ``posexplode``), no
    shuffle, no UDF; the chunk count is data-derived per row, so the
    operator streams at any document length."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    n = F.size(toks)
    n_chunks = F.ceil(n / F.lit(float(_CHUNK))).cast("int")
    chunks = F.when(
        n_chunks >= 1,
        F.transform(
            F.sequence(F.lit(1), n_chunks),
            lambda i: F.concat_ws(" ", F.slice(toks, (i - 1) * _CHUNK + 1, _CHUNK)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        d.select("doc_id", n.alias("__n"), F.posexplode(chunks))
        .select(
            "doc_id",
            F.col("pos").cast("int").alias("chunk_idx"),
            F.col("col").alias("chunk_text"),
            F.least(F.lit(_CHUNK), F.col("__n") - F.col("pos") * _CHUNK)
            .cast("int")
            .alias("n_tokens"),
        )
    )


@register(
    "q_pack_sequences",
    oracle=f"""
    WITH d AS (
      SELECT source, lang, doc_id,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents),
    c AS (
      SELECT *,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source, lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM d)
    SELECT source, lang, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum_before // {_SEQ_BUDGET} AS BIGINT)            AS seq_idx,
           CAST(cum_before % {_SEQ_BUDGET} AS BIGINT)             AS seq_offset,
           CAST(CASE WHEN n_tokens = 0 THEN 0
                ELSE (cum_before + n_tokens - 1) // {_SEQ_BUDGET}
                     - cum_before // {_SEQ_BUDGET} + 1
                END AS BIGINT)                                    AS n_seqs_spanned
    FROM c
    ORDER BY source, lang, doc_id
    """,
    tags=("llm", "curation"),
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing by concatenation: within each (source, lang)
    packing domain, documents are laid end-to-end in doc_id order and
    cut into _SEQ_BUDGET(=512)-token training sequences (documents may
    straddle a cut — the GPT-style packing contract, zero padding
    waste).  Each document's placement is fully determined by the
    running token count BEFORE it: the sequence it starts in, its
    offset there, and how many sequences it spans — all exact integer
    arithmetic over one windowed prefix sum.

    Scale shape: the prefix sum partitions by packing domain, so
    domains pack in parallel and the serial portion is one domain's
    metadata (counts, not text).  A global single-stream packing would
    serialize the corpus; domain-sharded packing is what a real
    pretraining pipeline runs."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select(
        "source", "lang", "doc_id",
        F.size(tokens_col()).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source", "lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    b = F.lit(_SEQ_BUDGET)
    seq_idx = F.floor(cum_before / b)
    return d.select(
        "source",
        "lang",
        "doc_id",
        "n_tokens",
        seq_idx.alias("seq_idx"),
        (cum_before % b).alias("seq_offset"),
        F.when(F.col("n_tokens") == 0, F.lit(0))
        .otherwise(F.floor((cum_before + F.col("n_tokens") - 1) / b) - seq_idx + 1)
        .cast("bigint")
        .alias("n_seqs_spanned"),
    )


@register(
    "q_sink_hilbert",
    oracle="""
    SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
    FROM lineitem
    ORDER BY l_orderkey, l_partkey, l_linenumber
    """,
    tags=("sink", "etl"),
)
def q_sink_hilbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-clustered versioned write + read-back (layout.py):
    lineitem clustered on the 2-D Hilbert position of (l_orderkey,
    l_partkey), range-sorted, committed, read back.  The oracle reads
    the source parquet — a match proves the re-layout is lossless;
    tests/test_io.py asserts the physical property (row-group pruning
    on BOTH dimensions, curve bit-exact vs the classic automaton)."""
    from ..layout import H_COL, with_hilbert

    root = tempfile.mkdtemp(prefix="etl_hilbert_")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    h = with_hilbert(li, ["l_orderkey", "l_partkey"], bits=16)
    write_versioned(h, root, "li_h", sort_by=[H_COL], sort_partitions=8)
    return read_versioned(spark, root, "li_h").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
    )
