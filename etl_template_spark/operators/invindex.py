"""Incremental BM25 search index on the versioned store.

The retrieval member of the incremental tier (graph, dedup/CC, ANN —
see their modules): ``q_bm25_rank`` deliberately scores from raw text
per query, filtering the token stream to the |Q| query terms before any
shuffle, because for ONE query materializing the full inverted index is
waste.  A corpus that is searched many times and GROWS nightly flips
those economics: tokenize each document once, at ingest, and serve
every later query from the postings.

Everything BM25 needs is ADDITIVE, so the incremental index is EXACT —
not a convergence or staleness story:

- per-(term, doc) tf: a document lives in exactly one delta, so its
  postings appear once; the merged log needs no re-aggregation;
- df(term) = COUNT over merged postings; N, Σdl = COUNT/SUM over the
  per-document length rows.  All integer counts — a search over the
  incremental store equals ``retrieval.bm25_rank`` over the full corpus
  BIT-FOR-BIT (differential-tested; the scoring expression below is a
  deliberate duplicate of bm25_rank's — that module is content-hash
  frozen, so the TEST, not an import, is what pins the two together).

Store under ``root``: ONE append-only log, ``{step}_post``, holding
per delta both row kinds:

- postings: (doc_id, term, tf) per distinct term of the document;
- one LENGTH row per document: (doc_id, term=NULL, tf=dl) — NULL is
  unreachable as a token (whitespace split never yields NULL), and dl
  includes zero-token documents (N must count them; they can never
  match a term but they shift every idf and avgdl).

One log ⇒ one versioned write per ingest ⇒ the ingest is ATOMIC under
the store's commit protocol: there is no window where a document's
postings exist without its length row (or vice versa), which a
two-dataset layout would open and a crash-then-redeliver would turn
into double-counted tf or a forever-wrong N.  Redelivery: already-
indexed doc_ids anti-join away (idempotent).  Document DELETIONS are
out of contract, as everywhere in the tier — retire-and-rebuild, or
filter at read time.  ``io.compact_merged_log`` is the retention hook.

At 100 TB: ingest cost is one tokenize + two hash aggregates over the
DELTA only; query cost is a broadcast |Q|-term semi-join into the
postings (term-pruned scan — never the full vocabulary), one bounded
df/tf aggregate, a broadcast semi-join prune of the per-doc length
rows to the matched doc_ids (so the length side is hit-sized too —
see ``bm25_search``), and a TakeOrdered top-k.  The postings log is
the large artifact and shuffles only at ingest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..compat import dsum

_K1 = 1.2
_B = 0.75


def _tokens(text_col: str):
    # whitespace tokens — the repo-wide shared token definition
    from .dedup import tokens_col

    return tokens_col(text_col)


def search_index_incremental(
    spark,
    root: str,
    step: str,
    delta_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[int, int]:
    """Ingest a delta of (id, text) documents; returns
    ``(docs_indexed, latest_version)``.  Empty/None delta is a
    read-only no-op; the first call must bring documents."""
    from ..io import (
        latest_version,
        read_versioned_merged,
        write_versioned,
    )

    post_step = f"{step}_post"
    have = latest_version(root, post_step) is not None
    d = None
    if delta_docs is not None:
        d = delta_docs.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
        )
        if d.isEmpty():
            d = None
    if d is None:
        if not have:
            raise ValueError(
                "search_index_incremental: no index exists yet — the first "
                "call must supply a non-empty delta_docs frame"
            )
        return 0, latest_version(root, post_step)
    if have:
        seen = read_versioned_merged(spark, root, post_step).select(
            "doc_id"
        ).distinct()
        # pin the anti-joined delta (ingest snapshot, see the caching
        # module docstring): the plan embeds a scan of the FULL merged
        # postings log (corpus-sized), and without materialization it
        # would execute three times — isEmpty here, the versioned
        # write, and the returned count.
        d = d.join(seen, "doc_id", "left_anti").localCheckpoint(eager=True)
        if d.isEmpty():
            return 0, latest_version(root, post_step)
    tok = d.select("doc_id", F.explode(_tokens("text")).alias("term"))
    post = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # the per-doc LENGTH row (term=NULL, tf=dl), dl=0 docs included
    length = (
        d.select("doc_id")
        .join(
            tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl")),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.lit(None).cast("string").alias("term"),
            F.coalesce("dl", F.lit(0)).alias("tf"),
        )
    )
    version, _ = write_versioned(post.unionByName(length), root, post_step)
    return d.count(), version


def bm25_search(
    spark,
    root: str,
    step: str,
    terms: tuple[str, ...] | list[str],
    k1: float = _K1,
    b: float = _B,
    topk: int = 20,
) -> DataFrame:
    """(doc_id, bm25, n_hit) top-k over the standing index — the
    served-from-postings twin of ``retrieval.bm25_rank`` (identical
    Okapi scoring: Lucene's never-negative idf, k1 saturation, b length
    normalization, round-6 per-term scores, decimal-exact per-doc sum);
    equality with the from-scratch ranker is pinned by test, not
    assumed.

    The per-doc length frame is semi-join-PRUNED to the matched doc_ids
    before the scoring join (r9 review): without the prune, scoring a
    3-term query equi-joins the hits against ALL N length rows, so at
    10⁹ docs every length row shuffles per query.  The pruning build
    side is the broadcast DISTINCT matched-id set (≤ Σ df over the |Q|
    query terms — hit-sized, not corpus-sized), so the length log is
    streamed, never shuffled, and query cost tracks hit count."""
    from ..io import read_versioned_merged

    log = read_versioned_merged(spark, root, f"{step}_post").drop("_version")
    dl = log.where(F.col("term").isNull()).select(
        "doc_id", F.col("tf").alias("dl")
    )
    n = F.broadcast(
        dl.agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("n_tokens")
        )
    )
    qpost = log.where(F.col("term").isin(*terms))
    df = qpost.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    hit_ids = qpost.select("doc_id").distinct()
    dl = dl.join(F.broadcast(hit_ids), "doc_id", "semi")

    avgdl = F.col("n_tokens") * 1.0 / F.col("n_docs")
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    term_score = F.round(
        idf
        * (F.col("tf") * (k1 + 1.0))
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl)),
        6,
    )
    return (
        qpost.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(n)
        .select("doc_id", term_score.alias("term_score"))
        .groupBy("doc_id")
        .agg(
            dsum("term_score").alias("bm25"),
            F.count(F.lit(1)).cast("int").alias("n_hit"),
        )
        .orderBy(F.col("bm25").desc(), F.col("doc_id"))
        .limit(topk)
    )
