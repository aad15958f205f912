"""Ranking-quality metrics: nDCG@k, MRR@k, recall@k over a ranked run.

The retrieval family produces rankings (bm25_rank, the similarity
top-k searches); this operator scores them against relevance labels —
the evaluation loop that tunes every retrieval component of a
training-data pipeline (dedup candidate ranking, contamination probes,
RAG index quality).

Input shape, relational on purpose so the metrics compute at corpus
scale (thousands of queries at once, not one):

- ``run``:   (query_id, doc_id, rank)   — rank 1-based, from any ranker
- ``qrels``: (query_id, doc_id, rel)    — graded relevance, rel >= 0

Formulas (standard, Jarvelin-Kekalainen / TREC):

- DCG@k   = sum over hits at rank r <= k of (2^rel - 1) / log2(r + 1)
- nDCG@k  = DCG@k / IDCG@k, where IDCG ranks the query's qrels by
            rel DESC (doc_id ASC tiebreak — deterministic)
- MRR@k   = 1 / rank of the first hit with rel > 0 AT RANK <= k
            (0 when none in the top k).  Note the cutoff (r10 review):
            this is MS-MARCO-style MRR@k, not trec_eval's uncut
            recip_rank — a first relevant document at rank k+1 scores
            0, not 1/(k+1).  The cutoff is shared with nDCG/recall so
            all three score the same served page, and the
            q_rank_metrics oracle encodes the same definition.
- recall@k = |relevant retrieved in top k| / |relevant|

Scale shape: one equi-join of run against qrels on (query_id, doc_id),
two window functions partitioned BY QUERY (tiny partitions), and one
hash aggregate per query — then a global mean.  Nothing is
corpus-global except the final bounded aggregate; a million-query eval
runs exactly like ten.

Float determinism: per-hit gains are ``(2^rel - 1) / log2(r + 1)`` —
both engines fold the identical IEEE tree — and the per-query sums run
through the decimal-exact pattern (compat.dsum) so results are
order-independent.  This is the registration-ready shape for the r8
``q_rank_metrics`` query (window-full in r7; see SURVEY §7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..compat import dsum


def rank_metrics(
    run: DataFrame,
    qrels: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Per-query ranking metrics AT CUTOFF ``k`` (ndcg/mrr/recall are
    all @k — see the module docstring for the MRR@k-vs-recip_rank
    distinction); one row per query_id present in ``qrels`` (queries
    the ranker returned nothing for score 0, not NULL — an absent
    query is a retrieval failure, not missing data).

    Columns: query_id, ndcg, mrr, recall, n_rel, n_retrieved.
    """
    gain = "(power(2.0D, rel) - 1.0D) / log2(CAST(rank AS DOUBLE) + 1.0D)"
    hits = (
        run.join(qrels, ["query_id", "doc_id"])
        .where(F.col("rank") <= k)
    )
    per_q = hits.groupBy("query_id").agg(
        dsum(gain).alias("dcg"),
        F.min(F.when(F.col("rel") > 0, F.col("rank"))).alias("first_rel_rank"),
        F.sum(F.when(F.col("rel") > 0, 1).otherwise(0)).alias("rel_retrieved"),
    )

    # ideal DCG from qrels alone: rel DESC, doc_id ASC, top k
    w_ideal = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("doc_id")
    )
    ideal_gain = "(power(2.0D, rel) - 1.0D) / log2(CAST(irank AS DOUBLE) + 1.0D)"
    ideal = (
        qrels.withColumn("irank", F.row_number().over(w_ideal))
        .where(F.col("irank") <= k)
        .groupBy("query_id")
        .agg(dsum(ideal_gain).alias("idcg"))
    )
    n_rel = qrels.where(F.col("rel") > 0).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_rel")
    )
    n_ret = run.where(F.col("rank") <= k).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_retrieved")
    )

    return (
        ideal.join(per_q, "query_id", "left")
        .join(n_rel, "query_id", "left")
        .join(n_ret, "query_id", "left")
        .select(
            "query_id",
            F.when(
                F.col("idcg") > 0,
                F.round(F.coalesce(F.col("dcg"), F.lit(0.0)) / F.col("idcg"), 6),
            )
            .otherwise(0.0)
            .alias("ndcg"),
            F.when(
                F.col("first_rel_rank").isNotNull(),
                F.round(F.lit(1.0) / F.col("first_rel_rank"), 6),
            )
            .otherwise(0.0)
            .alias("mrr"),
            F.when(
                F.coalesce(F.col("n_rel"), F.lit(0)) > 0,
                F.round(
                    F.coalesce(F.col("rel_retrieved"), F.lit(0))
                    * 1.0
                    / F.col("n_rel"),
                    6,
                ),
            )
            .otherwise(0.0)
            .alias("recall"),
            F.coalesce(F.col("n_rel"), F.lit(0)).alias("n_rel"),
            F.coalesce(F.col("n_retrieved"), F.lit(0)).alias("n_retrieved"),
        )
    )
