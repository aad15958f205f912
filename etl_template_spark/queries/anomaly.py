"""Robust time-series anomaly detection: median / MAD scoring.

Completes the monitoring family (q_profile_table, q_distribution_drift
— profiling.py): drift compares two corpus snapshots, this one flags
anomalous *points* within a single metric series.  Mean/stddev scoring
breaks exactly when you need it (the outlier inflates both moments);
the robust standard is the median absolute deviation:

    score(x) = (x - median(X)) / MAD,   MAD = median(|x - median(X)|)

Everything reduces to exact interpolated medians, which this engine
already computes scale-safely (operators/percentiles.py — spillable
sort + rank pruning, identical ``lo + frac*(hi-lo)`` arithmetic to
DuckDB's ``quantile_cont``).  The daily totals themselves use the
decimal-exact summation pattern (compat.dsum) so both engines — and
any shuffle order on a 1000-executor cluster — produce bit-identical
series before the medians ever run.

Scale shape: the only corpus-sized work is the per-day aggregate over
the fact table (map-side partial combine into a calendar-bounded group
count).  The median/MAD machinery then operates on the bounded daily
series, and the two scalar (median, MAD) values broadcast back onto it
— 1-row broadcast joins, allowlisted in the plan sweep like the other
scalar-threshold queries (q_tpch_q11 pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import persist_tracked
from ..compat import dsum, dsum_sql
from ..io import load_table
from ..operators.percentiles import exact_group_percentiles
from ..registry import register

_ANOMALY_ORACLE = f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             {dsum_sql('value')} AS total,
             COUNT(*) AS n_events
      FROM events GROUP BY 1),
    med AS (SELECT quantile_cont(total, 0.5) AS med FROM daily),
    dev AS (
      SELECT quantile_cont(abs(total - med), 0.5) AS mad
      FROM daily, med),
    scored AS (
      SELECT daily.d, daily.total, daily.n_events, med.med, dev.mad
      FROM daily, med, dev)
    SELECT d, total, n_events,
           CASE WHEN mad > 0
                THEN round((total - med) / mad, 6) END AS mad_score,
           CASE WHEN mad > 0 AND abs((total - med) / mad) > 3.0
                THEN 1 ELSE 0 END AS is_anomaly
    FROM scored
    ORDER BY d
"""


@register("q_anomaly_mad", oracle=_ANOMALY_ORACLE, tags=("monitoring", "timeseries"))
def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD anomaly scores over the daily event-value series (see
    module docstring).  Two exact-median passes over the bounded daily
    frame (global median, then median absolute deviation), each a
    1-row scalar broadcast back onto the series; days with
    ``|score| > 3`` flag as anomalies.  ``mad_score`` is NULL when the
    MAD degenerates to 0 (constant series) — both engines agree.

    PLAN NOTE: both passes run the percentile operator's one window
    kernel.  The MAD pass's input (a cross join with the broadcast
    median) carries a Catalyst size estimate of ~6 GB on a 30-row frame
    at sf0.01, which used to select the operator's range shape at sf0.01
    and above; this note invalidates the recorded stamp so the window
    re-certifies the current plan (r11 blind-spot precedent)."""
    ev = load_table(spark, sf_dir, "events")
    # The daily series feeds THREE consumers (median pass, MAD pass,
    # final scoring); without a persist each one re-aggregates the fact
    # table — 3x the corpus scan cost at 100 TB.  The cached frame is
    # calendar-bounded (one row per day), so the persist is a few KB.
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        dsum("value").alias("total"),
        F.count(F.lit(1)).alias("n_events"),
    )
    daily = persist_tracked(daily)
    med = exact_group_percentiles(
        daily.withColumn("g", F.lit(1)), "g", [("med", "total", 0.5)]
    ).select("med")
    with_med = daily.crossJoin(F.broadcast(med))
    mad = exact_group_percentiles(
        with_med.withColumn("adev", F.abs(F.col("total") - F.col("med")))
        .withColumn("g", F.lit(1)),
        "g",
        [("mad", "adev", 0.5)],
    ).select("mad")
    scored = with_med.crossJoin(F.broadcast(mad))
    raw = (F.col("total") - F.col("med")) / F.col("mad")
    return scored.select(
        "d",
        "total",
        "n_events",
        F.when(F.col("mad") > 0, F.round(raw, 6)).alias("mad_score"),
        F.when((F.col("mad") > 0) & (F.abs(raw) > 3.0), 1)
        .otherwise(0)
        .alias("is_anomaly"),
    )
