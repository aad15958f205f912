"""SparkSession factory.

One place to encode the execution posture:

- AQE on (runtime re-planning: partition coalescing, skew-join splitting,
  broadcast switch) — this is what makes the same declarative plan hold
  from local[32]/sf0.1 up to a 1000-executor cluster reading 100 TB.
- Arrow on for any pandas interchange (vectorized UDF path).
- UTC session timezone so timestamp semantics are stable and match the
  DuckDB oracle (naive timestamps) bit-for-bit.
- shuffle.partitions sized to the local core count; on a real cluster
  AQE coalescing makes the initial number mostly a ceiling.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_shuffle_partitions() -> int:
    # read per-call, not at import (r10 review): get_spark reads
    # SPARK_GRAFT_CPUS per call for local[N], so an env var set after
    # import but before get_spark must size BOTH consistently — an
    # import-time constant left local[4] paired with 32 shuffle
    # partitions, the 8x-tasks-per-core skew the sizing exists to avoid
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "etl_template_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard posture."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or _default_shuffle_partitions()
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r13 (guide §3.1): let AQE rewrite a sort-merge join to a
        # shuffled-hash join AT RUNTIME when every post-shuffle
        # partition of the build side is under this threshold — the
        # no-sort join for provably-small-per-partition builds.  The
        # gate is the measured partition size, so the rewrite is
        # scale-adaptive by construction: a 100 TB inverted-index join
        # whose partitions exceed 64 MB keeps the spillable sort-merge
        # path, while the r13 A/B on q_dedup_ngram (the only headline
        # plan with SortMergeJoins — the DF-capped index's keep/self
        # joins) won all interleaved pairs by 5-15%.  Matches the AQE
        # advisory partition size, i.e. "one coalesced partition's
        # worth" of hash table per task.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            "64m",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # cost-based optimizer: join reordering feeds on table/column
        # stats (bucketing.write_bucketed collects them at write time)
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        # let Python data sources (datasource.py) receive pushed filters
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # runtime row-level filtering: when a shuffle join's build side
        # carries a selective filter, inject a bloom filter of its join
        # keys into the probe side's scan — at 100 TB this prunes most
        # of the fact table BEFORE the shuffle (the sort-merge analog of
        # what broadcast joins get for free).  Default size thresholds
        # retained: creation side must be small enough to aggregate
        # cheaply, probe side big enough to be worth it.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # RocksDB state store (SURVEY §4.3): streaming state spills to
        # local disk with bounded executor memory instead of living
        # whole in the HDFS-backed store's heap map — the difference
        # between a job and an OOM once session/dedup/retention state
        # reaches 100 TB-scale keyspaces.  Changelog checkpointing
        # uploads per-batch deltas, not full snapshots.  Inert for
        # batch queries; streaming/jobs.py::ROCKSDB_STATE_CONF carries
        # the same pair for sessions the engine did not create.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        .config(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Defensively apply runtime-settable engine conf to a session we did
    not create (e.g. the correctness driver's own session).

    Only touches conf that is safe to set at runtime and that the engine's
    semantics depend on (UTC timestamps, Arrow interchange, AQE).

    Deliberately NOT touched: the streaming state-store provider.  State
    file formats are provider-specific, so flipping the provider on a
    session that may RESUME a checkpoint created under the default
    HDFS-backed provider makes that checkpoint unrestorable — and this
    reconciler runs on sessions the engine did not create and knows
    nothing about.  Provider choice belongs to session creation
    (``get_spark``) or to an explicit opt-in at stream start
    (``streaming/jobs.py::ROCKSDB_STATE_CONF``, which carries the
    provider AND its changelog-checkpointing conf as an inseparable
    pair).  (r5 ADVICE)
    """
    for key, value in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.adaptive.enabled", "true"),
    ):
        try:
            if spark.conf.get(key, None) != value:
                spark.conf.set(key, value)
        except Exception:
            pass
    return spark
