"""Schema-d readers and versioned dataset IO.

Reference parity (see SURVEY.md §1-2A; /root/reference/tools/tools.go):

- R1  StreamJSONLRecords (tools.go:516-552): line-at-a-time JSONL scan with
  a compile-time schema, failing on the first malformed line →
  ``read_jsonl(..., mode="FAILFAST")`` with an explicit StructType.
- R3/R4 ReadLatestVersionedJSONL / ReadSpecificVersionedJSONL
  (tools.go:578-604): versioned dataset resolution → ``read_versioned``.
- R6/R7 NewJSONLWriter / GetNextVersionedJSONLWriter (tools.go:474-511):
  versioned sinks → ``write_versioned`` (Parquet by default; JSONL
  available for fidelity).

Versioning model: ``<root>/<step>/v=<N>/`` immutable directories, N
monotonically increasing.  Unlike the reference's list-then-increment
(tools.go:343-366), which races under concurrent writers, version claim
here is an atomic ``mkdir`` — the first writer to create ``v=N`` owns it
(MVCC-lite).  At 100 TB each version is a normal partitioned Parquet
dataset; resolution cost is one directory listing, independent of data
size.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import time
import weakref
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import ensure_engine_conf

# ---------------------------------------------------------------------------
# Fixture-table schemas (FIXTURES.md §B, verified against parquet footers).
# Parquet is self-describing, so reads use the footer schema; these DDL
# constants document the contract and back schema validation + the JSONL/CSV
# derived fixtures (which DO need explicit schemas — never inferSchema).
# ---------------------------------------------------------------------------

TABLE_DDL: dict[str, str] = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": (
        "c_custkey bigint, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string"
    ),
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    "part": (
        "p_partkey bigint, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double"
    ),
    "orders": (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    ),
    "lineitem": (
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
        "l_returnflag string, l_linestatus string, l_shipdate timestamp"
    ),
    "events": (
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string"
    ),
    "documents": "doc_id bigint, text string, lang string, source string, n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}

TABLES = tuple(TABLE_DDL)


# Per-session cache of resolved fixture-table DataFrame handles (r13
# optimization).  Every ``spark.read.parquet`` pays a driver-side
# resolution round (file listing + footer schema, ~100 ms measured), and
# a multi-table query like TPC-H Q8 re-resolved eight tables per build —
# ~0.8 s of its 1.0 s Python build time.  The cache memoizes the LAZY
# handle only: no rows, no results — every execution still plans and
# scans the parquet files (scan splits and shuffle sizing are decided
# per execution, so partition-invariance semantics are untouched).
# Keyed weakly by session so test sessions drop their entries with the
# session object.  Fixture dirs can be regenerated in place, so each
# entry carries a freshness token of the parquet file and a stale entry
# is REPLACED, not kept beside the new one (one entry per table, however
# often it is regenerated).  Handle aliasing across queries is the
# ordinary Spark self-join case (DeduplicateRelations re-ids the
# duplicate side).
_TABLE_HANDLES: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Columnar Parquet scan — Catalyst prunes
    columns and pushes predicates into the row-group/page level for free.
    Resolved handles are memoized per (session, dir, table) — see
    ``_TABLE_HANDLES`` above.

    ``events.ts`` is normalized to TIMESTAMP_NTZ (naive wall-clock,
    matching how the other tables' timestamps load and how the DuckDB
    oracle sees them).  TIMESTAMP(MICROS), the type of every current
    fixture, scans directly (Spark 4 infers TIMESTAMP_NTZ for
    unadjusted micros); instant-typed scans cast losslessly under the
    UTC session zone.  A TIMESTAMP(NANOS) ``ts`` (the round-1..3 fixture
    generation), which Spark 4 refuses to scan as a timestamp
    (PARQUET_TYPE_ILLEGAL), raises ``ValueError`` naming the file and
    its ``ts`` type; rewrite such a file with microsecond timestamps.
    No session conf is changed to read it.
    """
    ensure_engine_conf(spark)
    try:
        cache = _TABLE_HANDLES.setdefault(spark, {})
    except TypeError:  # session not weakref-able (mock in tests)
        cache = {}
    # freshness token (r13 ADVICE): a fixture dir regenerated IN PLACE
    # mid-session (driver re-materializing testdata between rounds)
    # must not be served a stale resolved file list — fold the parquet
    # file's (mtime_ns, size) into the key so regeneration simply
    # misses and re-resolves.  One os.stat per call (~µs) vs the
    # ~100 ms resolution the cache saves.
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        token = (st.st_mtime_ns, st.st_size)
    except OSError:
        token = None
    key = (os.path.abspath(sf_dir), name)
    cached = cache.get(key)
    if cached is not None and cached[0] == token:
        return cached[1]
    df = _load_table_uncached(spark, sf_dir, name)
    cache[key] = (token, df)
    return df


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F

        try:
            df = spark.read.parquet(path)
            df.schema  # force analysis so an illegal nanos type fails HERE
        except Exception as exc:
            # Only the illegal-nanos AnalysisException is translated;
            # anything else (missing file, corrupt footer, permissions)
            # re-raises as the ORIGINAL error.
            msg = str(exc)
            if (
                "PARQUET_TYPE_ILLEGAL" not in msg
                and "illegal parquet type" not in msg.lower()
            ):
                raise
            import pyarrow.parquet as pq

            ts_type = pq.read_schema(path).field("ts").type
            raise ValueError(
                f"load_table: {path} stores events.ts as {ts_type} "
                "(Parquet TIMESTAMP(NANOS)), which Spark cannot scan as a "
                "timestamp; rewrite the file with microsecond timestamps"
            ) from exc
        if dict(df.dtypes)["ts"] != "timestamp_ntz":  # instant-typed; UTC zone
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        return df.select("event_id", "ts", "user_id", "event_type", "value", "props")
    return spark.read.parquet(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    mode: str = "FAILFAST",
) -> DataFrame:
    """JSONL scan with a declared schema (reference R1 semantics:
    typed records, fail on first malformed line; unknown fields dropped,
    missing fields null — an intentional divergence from Go zero-values,
    SURVEY.md §1.3)."""
    ensure_engine_conf(spark)
    return spark.read.schema(schema).option("mode", mode).json(path)


class QuarantineSplit(NamedTuple):
    """Result of ``read_jsonl_quarantine``.

    ``good``/``bad`` share ONE cached PERMISSIVE scan; the cache pins
    executor storage until ``unpersist()`` is called, so a long-lived
    pipeline processing many inputs MUST call it once both splits have
    been consumed (written / counted) or the entries accumulate
    unboundedly."""

    good: DataFrame
    bad: DataFrame
    unpersist: Callable[[], None]


def read_jsonl_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    corrupt_col: str = "_corrupt_record",
) -> QuarantineSplit:
    """JSONL scan that QUARANTINES malformed lines instead of dying:
    ``QuarantineSplit(good, bad, unpersist)`` where ``good`` carries the
    declared schema, ``bad`` carries the raw offending line, and
    ``unpersist()`` releases the shared cached scan (call it after both
    splits are consumed — see ``QuarantineSplit``).

    The production third option beyond the reference's two (die on
    first bad line / silently zero-fill): at 100 TB a single bad line
    must neither kill an hours-long job nor vanish — it lands in a
    quarantine sink for offline triage, and the split is one PERMISSIVE
    scan, not a validate-then-rescan double read.  (Spark requires the
    corrupt column to be selected before filtering on it, hence the
    explicit column juggling.)"""
    ensure_engine_conf(spark)
    base = T.StructType.fromDDL(schema) if isinstance(schema, str) else schema
    with_corrupt = T.StructType(
        base.fields + [T.StructField(corrupt_col, T.StringType())]
    )
    df = (
        spark.read.schema(with_corrupt)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
        .cache()  # one scan feeds both splits
    )
    good = df.where(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = df.where(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_line")
    )
    return QuarantineSplit(good, bad, lambda: df.unpersist())


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    header: bool = True,
) -> DataFrame:
    ensure_engine_conf(spark)
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("mode", "FAILFAST")
        .csv(path)
    )


# ---------------------------------------------------------------------------
# Versioned datasets
# ---------------------------------------------------------------------------

_VERSION_RE = re.compile(r"^v=(\d+)$")


# Marker written by compactors inside a compacted version's directory,
# listing the version numbers it folded (r9 ADVICE crash-atomicity —
# see write_versioned's ``summarizes`` and read_versioned_merged).
# The underscore prefix keeps it out of Spark/Hadoop data listings.
_SUMMARIZES_BASENAME = "_SUMMARIZES"


def _step_dir(root: str, step: str) -> str:
    return os.path.join(root, step)


def _version_committed(step_dir: str, n: int) -> bool:
    """A version is COMMITTED iff its directory carries Spark's
    ``_SUCCESS`` marker.  Every writer in this engine goes through
    Spark's file-output commit protocol (which writes ``_SUCCESS`` on
    job success) or through ``commit_stream_batch``'s atomic rename of
    a fully-built directory — so a ``v=N`` without ``_SUCCESS`` is
    either a concurrent writer mid-commit or a crash remnant (claimed
    between ``claim_next_version``'s mkdir and the publish), and
    readers must not surface it (r7 ADVICE: a crashed claim otherwise
    breaks ``latest`` reads until the next version lands and poisons
    merged-history reads forever)."""
    return os.path.isfile(os.path.join(step_dir, f"v={n}", "_SUCCESS"))


def list_versions(root: str, step: str, committed_only: bool = True) -> list[int]:
    """Version numbers of ``step``, ascending.  By default only
    COMMITTED versions (``_SUCCESS`` present) — the read-committed view
    every reader wants.  ``committed_only=False`` additionally lists
    claimed-but-unpublished directories; it exists for writers
    (``claim_next_version`` must not re-issue a claimed number) and GC
    (``prune_versions`` sweeps crash remnants)."""
    d = _step_dir(root, step)
    if not os.path.isdir(d):
        return []
    out = []
    for entry in os.listdir(d):
        m = _VERSION_RE.match(entry)
        if m:
            out.append(int(m.group(1)))
    if committed_only:
        out = [n for n in out if _version_committed(d, n)]
    return sorted(out)


def latest_version(root: str, step: str) -> int | None:
    """Latest COMMITTED version (uncommitted claims are invisible)."""
    versions = list_versions(root, step)
    return versions[-1] if versions else None


def claim_next_version(root: str, step: str) -> tuple[int, str]:
    """Atomically claim the next version directory.

    The reference lists files and increments (tools.go:343-366) which races
    under concurrent writers; ``os.mkdir`` is atomic on POSIX, so the first
    writer to create ``v=N`` owns it and losers retry with N+1.

    The starting guess counts UNCOMMITTED claims too (``committed_only=
    False``) so a concurrent writer's claimed-but-unpublished version is
    never re-contended; the mkdir loop would survive that anyway, but
    starting past it avoids the pointless collision.
    """
    os.makedirs(_step_dir(root, step), exist_ok=True)
    all_versions = list_versions(root, step, committed_only=False)
    n = (all_versions[-1] if all_versions else 0) + 1
    while True:
        path = os.path.join(_step_dir(root, step), f"v={n}")
        try:
            os.mkdir(path)
            return n, path
        except FileExistsError:
            n += 1


def write_versioned(
    df: DataFrame,
    root: str,
    step: str,
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
    sort_by: list[str] | None = None,
    sort_partitions: int | None = None,
    summarizes: list[int] | None = None,
) -> tuple[int, str]:
    """Write ``df`` as the next version of ``step``: R7 on Spark.

    Spark's file-output commit protocol stages to ``_temporary`` and
    renames on job success, so a failed write leaves no committed data —
    the reference's delete-partial-output-on-error (etl.go:90-95,
    124-130) for free.

    ``sort_by`` clusters the layout: rows are range-partitioned then
    sorted within partitions on the given keys, so every parquet row
    group covers a narrow, near-disjoint key range.  Readers filtering
    on those keys then skip whole row groups on min/max statistics —
    the cheap cousin of partitioning for high-cardinality keys (pay one
    range shuffle at write; every subsequent selective scan reads only
    the groups that can match).

    ``summarizes`` (r9 ADVICE — compactor crash-atomicity): declares
    that this version FOLDS the listed earlier version numbers, by
    writing their ids to a ``_SUMMARIZES`` marker inside the claimed
    directory BEFORE the Spark job runs.  The marker travels with the
    version's own atomic commit: before ``_SUCCESS`` lands the claim is
    invisible (marker and all); the instant it lands, merged readers
    (``read_versioned_merged``) see the marker and EXCLUDE the
    summarized versions — so there is no state, crashed or concurrent,
    in which both a compacted version and the deltas it folded are
    counted.  The underscore prefix keeps the marker out of Spark/
    Hadoop data listings, and the write switches to ``append`` mode so
    the pre-staged marker survives (the claim directory is freshly
    created and empty, so append ≡ overwrite for the data)."""
    version, path = claim_next_version(root, step)
    if summarizes is not None:
        bad = [v for v in summarizes if v >= version]
        if bad:
            raise ValueError(
                f"write_versioned: summarizes={bad} not older than the "
                f"claimed version {version}"
            )
        with open(os.path.join(path, _SUMMARIZES_BASENAME), "w") as fh:
            json.dump(sorted(int(v) for v in summarizes), fh)
    if sort_by:
        cols = [F.col(c) for c in sort_by]
        df = (
            df.repartitionByRange(sort_partitions, *cols)
            if sort_partitions
            else df.repartitionByRange(*cols)
        ).sortWithinPartitions(*cols)
    writer = df.write.mode("append" if summarizes is not None else "overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if fmt == "parquet":
        writer.parquet(path)
    elif fmt == "json":
        writer.json(path)
    else:
        raise ValueError(f"unsupported format: {fmt}")
    return version, path


def read_versioned(
    spark: SparkSession,
    root: str,
    step: str,
    version: int | None = None,
    fmt: str = "parquet",
    schema: T.StructType | str | None = None,
) -> DataFrame:
    """Read a versioned dataset: latest (R3) or pinned (R4)."""
    ensure_engine_conf(spark)
    if version is None:
        version = latest_version(root, step)
        if version is None:
            raise FileNotFoundError(f"no versions for step {step!r} under {root!r}")
    path = os.path.join(_step_dir(root, step), f"v={version}")
    if fmt == "parquet":
        return spark.read.parquet(path)
    if fmt == "json":
        if schema is None:
            raise ValueError("JSON versioned reads require an explicit schema")
        return spark.read.schema(schema).json(path)
    raise ValueError(f"unsupported format: {fmt}")


def _quoted(table: str) -> str:
    """Backtick-quote each dot-separated identifier part of a table
    name for SQL text, so a database-qualified name ('appdb.suppliers')
    keeps addressing the database rather than becoming one identifier
    with a literal dot.  DEFENSIVE under default configs, verified by
    the r10 mutation pass: Spark's default parser accepts keywords
    (even ``order``) as identifiers, and names the CATALOG rejects
    (``line-items``) fail either way with
    INVALID_SCHEMA_OR_RELATION_NAME.  The quoting matters when a
    deployment enables ``spark.sql.ansi.enforceReservedKeywords``,
    where unquoted reserved words stop parsing."""
    return ".".join(
        "`" + part.replace("`", "``") + "`" for part in table.split(".")
    )


def register_versioned_table(
    spark: SparkSession,
    root: str,
    step: str,
    version: int | None = None,
    table: str | None = None,
    columns: list[str] | None = None,
) -> str:
    """Register a COMMITTED version as an external catalog table and
    collect cost-based-optimizer statistics on it (SURVEY §4.2's "collect
    stats on versioned outputs" row), returning the (unquoted) table
    name.  ``columns=None`` analyzes every column; a non-empty list
    analyzes table-level stats plus those columns only.

    Why it matters at 100 TB: a path-based parquet read carries only
    file SIZE, and Spark's CBO only reads statistics from the catalog,
    so Catalyst cannot estimate what a selective filter leaves — a
    post-filter dimension that would fit in a broadcast is still costed
    at full scan size and falls back to a sort-merge join, and
    multi-way join reorder has no row counts to order by.  With
    rowCount + per-column NDV/min/max recorded here, CBO's filter
    estimation shrinks the estimate and flips those decisions
    (test_plans.py asserts the broadcast flip).  bucketing.py's
    ``write_bucketed`` does the same for bucketed tables at write.
    ``spark.sql.cbo.enabled`` must be on for planners to USE the stats.

    Call right after ``write_versioned`` commits.  An uncommitted claim
    (no ``_SUCCESS``) is refused with ``FileNotFoundError``: its stats
    would describe data no reader can see.  The table name defaults to
    ``<step>_v<N>`` so each immutable version carries its own immutable
    stats.  Re-registering drops and recreates the table: two roots can
    share a (step, version) pair (tests, reprocessing runs), and keeping
    an existing table would record stats against the FIRST root's data.
    The table is external, so the drop touches metadata only.  Naming:
    Spark's session catalog only accepts ``[A-Za-z0-9_]`` table names,
    so the default name sanitizes every other character in the step
    name to ``_``, and the name is backtick-quoted into each statement.
    The version path travels to the catalog as a parameter, never as
    interpolated LOCATION DDL, so a root containing a quote cannot break
    the statement.  Registration lands in the session's current
    database, so concurrent pipelines sharing a metastore should pass
    an app-scoped ``table`` to avoid name collisions.  With the default
    in-memory catalog the stats live for the SESSION; a metastore-backed
    catalog persists them unchanged (plain ANALYZE DDL)."""
    v = latest_version(root, step) if version is None else version
    if v is None or not _version_committed(_step_dir(root, step), v):
        raise FileNotFoundError(
            f"no committed v={version!r} for step {step!r} under {root!r}"
        )
    path = os.path.join(_step_dir(root, step), f"v={v}")
    table = table or re.sub(r"[^A-Za-z0-9_]", "_", f"{step}_v{v}")
    quoted = _quoted(table)
    spark.sql(f"DROP TABLE IF EXISTS {quoted}")
    spark.catalog.createTable(quoted, path=path, source="parquet")
    scope = (
        "ALL COLUMNS"
        if columns is None
        else "COLUMNS " + ", ".join(f"`{c}`" for c in columns)
    )
    spark.sql(f"ANALYZE TABLE {quoted} COMPUTE STATISTICS FOR {scope}")
    return table


def _partition_columns_of(src: str) -> list[str]:
    """Ordered hive-partition columns of a version directory, read off
    the directory chain (``col=value/...``) leading to its data files.
    Empty for an unpartitioned version."""
    cols: list[str] = []
    cur = src
    while True:
        try:
            sub = next(
                e
                for e in sorted(os.listdir(cur))
                if "=" in e
                and not e.startswith(("_", "."))
                and os.path.isdir(os.path.join(cur, e))
            )
        except (StopIteration, OSError):
            return cols
        cols.append(sub.split("=", 1)[0])
        cur = os.path.join(cur, sub)


def compact_versioned(
    spark: SparkSession,
    root: str,
    step: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_by: list[str] | None = None,
    partition_by: list[str] | None = None,
) -> tuple[int, str]:
    """Small-file compaction: rewrite the latest version of ``step`` as a
    new version with ~``target_file_bytes`` files (optionally re-sorted
    into a clustered layout).

    The operational problem at scale: incremental ingest (streaming
    foreachBatch, per-shard pipeline steps) accretes thousands of small
    files per dataset; every subsequent scan then pays per-file open/
    footer/schema costs and the driver pays listing time — at 100 TB,
    small files dominate query latency long before data volume does.

    Shape: one job, no driver-side data movement.  File count is sized
    from the CURRENT version's on-disk bytes (sum of data-file sizes —
    compressed, which is what the new files will be too), then either a
    range-partition + sort (clustered layout: row-group pruning keeps
    working after compaction) or a plain ``coalesce`` (narrow — avoids
    a shuffle entirely when only the file count needs fixing).
    Compaction writes a NEW immutable version via the same atomic claim
    as every other write; readers of the old version are never
    disturbed, and a crashed compaction leaves no committed output
    (Spark's commit protocol) — re-run it idempotently.

    Partition layout is PRESERVED (r10 review): the source version's
    hive-partition columns are read off its directory chain (or passed
    explicitly via ``partition_by``; ``[]`` forces unpartitioned) and
    the new version is written with the same ``partitionBy`` — without
    this, compacting a ``partition_by=['event_date']`` dataset would
    silently flatten it and every downstream date-pruned scan would
    quietly become a full scan.  A partitioned compaction hash-shuffles
    on the partition columns so each partition directory gets its files
    from one task (small-file-free per directory); with ``sort_by`` the
    rows are additionally sorted within each task so row-group pruning
    keeps working inside every partition.
    """
    version = latest_version(root, step)
    if version is None:
        raise FileNotFoundError(f"no versions for step {step!r} under {root!r}")
    src = os.path.join(_step_dir(root, step), f"v={version}")
    on_disk = sum(
        os.path.getsize(os.path.join(dirpath, f))
        for dirpath, _, files in os.walk(src)
        for f in files
        if not f.startswith(("_", "."))
    )
    n_files = max(1, math.ceil(on_disk / target_file_bytes))
    df = read_versioned(spark, root, step, version=version)
    pcols = (
        _partition_columns_of(src) if partition_by is None else list(partition_by)
    )
    if pcols:
        shaped = df.repartition(n_files, *pcols)
        if sort_by:
            shaped = shaped.sortWithinPartitions(*pcols, *sort_by)
        return write_versioned(shaped, root, step, partition_by=pcols)
    if sort_by:
        return write_versioned(
            df, root, step, sort_by=sort_by, sort_partitions=n_files
        )
    return write_versioned(df.coalesce(n_files), root, step)


def delete_versioned(
    spark: SparkSession,
    root: str,
    step: str,
    keys: DataFrame,
    on: str,
) -> tuple[int, str]:
    """Targeted delete (right-to-be-forgotten shape): rewrite the latest
    version of ``step`` WITHOUT the rows whose ``on`` value appears in
    ``keys``, as a new immutable version.

    The delete is a single left-anti join against the key set — no
    forced broadcast: a bulk erasure request can carry millions of keys,
    so the join strategy is left to size stats + AQE, which still
    broadcasts genuinely small key sets.  The
    rewrite inherits every guarantee of ``write_versioned``: atomic
    claim, commit-or-nothing, old versions untouched (auditable until
    their retention rewrite).  At 100 TB pair this with a partitioned/
    clustered layout so the rewrite can restrict itself to affected
    partitions; the operator itself stays one declarative plan."""
    df = read_versioned(spark, root, step)
    keep = df.join(keys.select(on).distinct(), on, "left_anti")
    return write_versioned(keep, root, step)


def summarized_versions(
    root: str,
    step: str,
    versions: list[int] | None = None,
) -> frozenset[int]:
    """Version numbers of ``step`` folded into some COMMITTED compacted
    version (the union of all committed ``_SUMMARIZES`` markers — see
    ``write_versioned(summarizes=...)``).  Markers of uncommitted
    claims don't count: until ``_SUCCESS`` lands the compacted data is
    invisible, so its exclusions must be too.  Ids of already-pruned
    versions are returned verbatim (excluding a missing version is a
    no-op for readers).

    ``versions`` scopes the marker scan to an explicit snapshot of
    committed version ids instead of re-listing the directory.  The
    point is TOCTOU consistency for ``read_versioned_merged``: deriving
    the exclusions from the same listing that will be read means a
    compaction committing BETWEEN the caller's listing and this scan is
    simply not seen — the caller keeps its consistent pre-compaction
    view — whereas a fresh re-list here could return a marker covering
    the caller's ENTIRE snapshot, filtering it to zero paths and
    failing the read."""
    step_dir = _step_dir(root, step)
    out: set[int] = set()
    for n in list_versions(root, step) if versions is None else versions:
        marker = os.path.join(step_dir, f"v={n}", _SUMMARIZES_BASENAME)
        if not os.path.isfile(marker):
            continue
        try:
            with open(marker) as fh:
                out.update(int(v) for v in json.load(fh))
        except (ValueError, OSError):
            # an unreadable marker means the fold's extent is UNKNOWN —
            # excluding nothing risks double counting, so fail loudly
            raise OSError(
                f"summarized_versions: unreadable {_SUMMARIZES_BASENAME} "
                f"marker in committed v={n} of step {step!r} under {root!r}"
            )
    return frozenset(out)


def read_versioned_merged(
    spark: SparkSession,
    root: str,
    step: str,
    *,
    versions: list[int] | None = None,
) -> DataFrame:
    """Read ALL versions of ``step`` as one frame with a ``_version``
    column and a schema UNIONED across versions (``mergeSchema``):
    columns added by later pipeline revisions surface as nulls in rows
    from older versions — the additive-evolution contract (the engine's
    R3/R4 reader pins one version; this is the audit/backfill view).
    Version pruning works like partition pruning: a ``_version``
    predicate prunes whole version directories at planning time.

    Compacted logs (r9 ADVICE): a committed version carrying a
    ``_SUMMARIZES`` marker (written atomically with its commit by
    ``write_versioned(summarizes=...)``) FOLDS the listed versions, so
    those are excluded from the merged view here even while they still
    exist on disk.  That makes the compactors' commit-then-prune window
    invisible to readers — no crash or concurrent read can ever count
    both a compacted version and a delta it summarizes — and makes
    re-running a compactor after a crash-mid-prune safe (it reads the
    already-excluded view).  The prune step is pure disk reclamation.

    ``versions`` (keyword-only) pins the read to an explicit snapshot
    of committed version ids instead of listing the directory now.
    Compactors use it so the marker they commit lists EXACTLY the
    versions their fold read — a delta committing between their listing
    and the fold would otherwise be folded into the data but missing
    from the marker, re-opening the double-count the marker exists to
    prevent.

    TOCTOU note: the ``_SUMMARIZES`` exclusions are derived from the
    SAME snapshot that is read (never a second listing), so a
    compaction committing mid-call is invisible — this reader keeps the
    consistent pre-compaction view, and the snapshot can never filter
    to empty (a marker excludes only OTHER versions, so any snapshot
    containing a committed compacted version retains at least it)."""
    ensure_engine_conf(spark)
    step_dir = _step_dir(root, step)
    if versions is None:
        versions = list_versions(root, step)
    if not versions:
        raise FileNotFoundError(f"no versions for step {step!r} under {root!r}")
    excluded = summarized_versions(root, step, versions=versions)
    if excluded:
        versions = [n for n in versions if n not in excluded]
    # explicit committed paths, not a "v=*" glob: an uncommitted claim
    # (crash remnant / concurrent writer mid-publish) is an EMPTY
    # directory the glob would feed to the parquet reader, failing every
    # merged-history read until someone GCs it (r7 ADVICE).  basePath
    # still makes Spark parse v=N as a partition column, so _version
    # predicates prune whole directories exactly as before.
    paths = [os.path.join(step_dir, f"v={n}") for n in versions]
    return (
        spark.read.option("mergeSchema", "true")
        .option("basePath", step_dir)
        .parquet(*paths)
        .withColumnRenamed("v", "_version")
    )


def _tree_is_stale(top: str, now: float, grace: float) -> bool:
    """True when EVERY mtime under ``top`` (the directory entry itself,
    nested subdirectories, and files) is at least ``grace`` seconds
    old — the liveness oracle for :func:`prune_versions`'s sweep of
    uncommitted ``v=N`` claims.  Tree-wide max, not the top dir's own
    mtime: Spark streams task output into nested ``_temporary/`` subtrees
    whose writes never touch the top-level directory entry (r9
    ADVICE).  One fresh-enough mtime already proves the tree alive, so
    the walk stops statting there — a live writer's tree can hold a
    part file per task, and the common (live) case should cost one
    stat, not a full-tree stat storm per GC pass.  A ``top`` that
    races away mid-walk is treated as ALIVE (there is nothing left to
    sweep, and the racer proves a live writer)."""
    try:
        newest_mtime = os.path.getmtime(top)
        alive = now - newest_mtime < grace
        for sub_dir, _dirs, files in os.walk(top):
            if alive:
                break
            try:
                newest_mtime = max(newest_mtime, os.path.getmtime(sub_dir))
            except OSError:
                pass
            for entry in files:
                try:
                    newest_mtime = max(
                        newest_mtime,
                        os.path.getmtime(os.path.join(sub_dir, entry)),
                    )
                except OSError:
                    pass  # a live writer renamed it away mid-walk
                if now - newest_mtime < grace:
                    break
            alive = now - newest_mtime < grace
    except OSError:
        return False  # raced away — nothing to sweep
    return now - newest_mtime >= grace


def prune_versions(
    root: str,
    step: str,
    keep_last: int = 3,
    min_claim_age: float = 3600.0,
) -> list[int]:
    """Retention GC: delete all but the newest ``keep_last`` versions of
    ``step``; returns the pruned version numbers.

    The dataset-level generalization of the reference's temp-input GC
    (etl.go:137-141): old versions exist for audit and rollback, not
    forever — at 100 TB each version is a full dataset copy, so
    retention is what keeps the store linear in CURRENT data rather
    than in history.  Deletion order is oldest-first and each directory
    is removed atomically-enough for readers (a reader pinned to a
    pruned version fails fast on its next scan with a missing-path
    error rather than reading partial data; readers of the kept
    versions are untouched — versions are immutable).  Never prunes the
    latest version, even with ``keep_last=0``.

    Crash-remnant sweep (r7 ADVICE): uncommitted claims (``v=N``
    without ``_SUCCESS``) below the newest claim are crash leftovers —
    invisible to readers since the committed-only listing, but still
    disk — and are removed here; ``_inflight-*`` streaming scratch is
    removed only when a committed ``_BATCH_ID`` marker PROVES its batch
    already landed (an unproven scratch may be a live writer
    mid-publish — see the inline comment).  The newest claim is spared
    because it may be a concurrent writer mid-publish.

    ``min_claim_age`` (r8 ADVICE — enforcement, not a docstring caveat):
    ``claim_next_version`` is designed for CONCURRENT writers, and a
    slow writer's claim can fall below a faster writer's committed
    version while its job is still streaming files into the claimed
    directory — commit order need not equal claim order.  An
    uncommitted claim is therefore swept only when the NEWEST mtime
    across the whole claim tree is at least ``min_claim_age`` seconds
    old (default one hour).  The tree-wide max matters (r9 ADVICE):
    Spark streams task output into nested ``_temporary/`` subtrees, and
    a POSIX directory's own mtime only changes when its DIRECT entries
    change — keying off the claim directory alone, a single long write
    job goes "stale" the moment its last top-level entry was created,
    while the leaf files it is actively writing keep their parents
    fresh.  Even the tree max only BOUNDS the live-writer race rather
    than eliminating it: a task that stalls longer than the grace
    period between file writes still looks dead.  Jobs that
    legitimately write one version for longer than the grace period
    should pass a larger ``min_claim_age``; ``0`` restores the
    unconditional sweep (safe only with strictly serial writers)."""
    keep_last = max(1, keep_last)
    step_dir = _step_dir(root, step)
    all_versions = list_versions(root, step, committed_only=False)
    committed = list_versions(root, step)
    newest = all_versions[-1] if all_versions else 0
    # the retention window counts COMMITTED versions only, so an
    # uncommitted claim at the top can never push the latest committed
    # version out of the kept set
    doomed = committed[:-keep_last] if len(committed) > keep_last else []
    # uncommitted claims below the newest are CANDIDATE remnants
    # regardless of keep_last — but only claims older than the grace
    # period are provably dead (a younger one may be a live concurrent
    # writer that claimed early and is committing out of claim order)
    now = time.time()
    for n in all_versions:
        if n in set(committed) or n >= newest:
            continue
        if _tree_is_stale(os.path.join(step_dir, f"v={n}"), now, min_claim_age):
            doomed.append(n)
    for n in sorted(set(doomed)):
        shutil.rmtree(os.path.join(step_dir, f"v={n}"), ignore_errors=True)
    # _inflight-{batch_id}-* scratch (the streaming sink's staging dirs;
    # see streaming/jobs.py::commit_stream_batch) is swept ONLY when a
    # committed version's _BATCH_ID marker proves that batch already
    # landed — an unproven scratch may be a LIVE writer between its
    # Spark write and the atomic rename, and deleting it mid-publish
    # could race the rename into a committed-but-partial version (r8
    # review).  Never-committed crash scratch is reclaimed by the
    # replay's own post-commit sweep instead.
    newest_marked = None
    for n in reversed(committed):
        marker = os.path.join(step_dir, f"v={n}", "_BATCH_ID")
        if os.path.isfile(marker):
            try:
                with open(marker) as fh:
                    newest_marked = int(fh.read().strip())
            except ValueError:
                pass
            break
    if newest_marked is not None and os.path.isdir(step_dir):
        for entry in os.listdir(step_dir):
            if not entry.startswith("_inflight-"):
                continue
            try:
                bid = int(entry.split("-")[1])
            except (IndexError, ValueError):
                continue
            if bid <= newest_marked:
                shutil.rmtree(os.path.join(step_dir, entry), ignore_errors=True)
    return sorted(set(doomed))


def compact_merged_log(
    spark: SparkSession,
    root: str,
    step: str,
    min_claim_age: float = 3600.0,
) -> int:
    """Fold an append-only DELTA LOG's full merged state (the plain
    union of its versions, rows verbatim) into ONE new version and
    prune the history; returns the number of versions pruned.

    ``prune_versions`` alone is the WRONG retention tool for a delta
    log: it keeps the newest-k versions, but a log's versions are not
    self-contained snapshots — dropping an old delta silently removes
    its rows from the merged view.  This helper is the generic
    retention hook for verbatim-union logs (e.g. an ANN cell log or the
    incremental-dedup shingle/signature index); logs with FOLD
    semantics on merge (the weighted PageRank edge log's per-pair
    summed deltas) need their dedicated compactor
    (``operators.graph.compact_edge_log``) so the fold happens before
    the write.

    Crash-atomicity and concurrent readers (r9 ADVICE): the compacted
    version commits WITH a ``_SUMMARIZES`` marker listing the folded
    version ids, and ``read_versioned_merged`` excludes marked versions
    — so a merged read inside the commit-then-prune window sees each
    row exactly once, a crash between commit and prune leaves a view
    identical to the pruned one (the leftover deltas are excluded, just
    not yet deleted), and RE-RUNNING this compactor after such a crash
    is safe (it folds the already-excluded view).  Recovery is
    therefore: just run compaction (or ``prune_versions``) again;
    nothing double-counts in the interim.  Log WRITERS must still not
    race compaction — an ingest that read its dedup/anti-join state
    before the fold committed could append a delta the fold already
    contains — so run it in the same serial maintenance window as the
    log's writers.  ``min_claim_age`` passes through to
    ``prune_versions``'s concurrent-claim grace."""
    return _fold_and_prune(
        spark, root, step, lambda merged: merged.drop("_version"), min_claim_age
    )


def _fold_and_prune(
    spark: SparkSession,
    root: str,
    step: str,
    fold: Callable[[DataFrame], DataFrame],
    min_claim_age: float,
) -> int:
    """The delta-log compaction protocol shared by ``compact_merged_log``
    and ``operators.graph.compact_edge_log``: list the versions, read
    their merged view pinned to that listing, commit ``fold(merged)`` as
    one version marked as summarizing them, then prune the history.
    Returns the number of versions pruned."""
    if latest_version(root, step) is None:
        raise FileNotFoundError(f"no {step!r} log under {root!r} to compact")
    folded_ids = list_versions(root, step)
    # pin the fold to the SAME snapshot the marker will list: a delta
    # committing between this listing and the fold's read must be
    # neither folded nor marked (it stays a live delta), or a crash
    # before prune would double-count it — folded into the data yet
    # not excluded by the marker
    merged = read_versioned_merged(spark, root, step, versions=folded_ids)
    write_versioned(fold(merged), root, step, summarizes=folded_ids)
    return len(
        prune_versions(root, step, keep_last=1, min_claim_age=min_claim_age)
    )


def process_scratch_root(prefix: str, sf_dir: str) -> str:
    """Per-(``sf_dir``, PROCESS) scratch directory for demo queries that
    materialize real versioned datasets (q_recluster_zorder,
    q_version_diff): ``/tmp/<prefix>_<sha(sf_dir)>_<pid>``, wiped at
    every call so disk stays bounded across re-builds, while the pid
    suffix keeps two concurrent builds on the same sf_dir (pytest-xdist,
    bench alongside the differential suite) from deleting each other's
    versions mid-read.

    Stale roots left by DEAD processes are swept best-effort on POSIX
    via ``os.kill(pid, 0)`` — raises ProcessLookupError only when the
    pid is gone (PermissionError means alive-but-foreign), unlike a
    ``/proc/<pid>`` check which reports every process dead on macOS and
    would re-introduce the concurrent-clobber this function exists to
    prevent.  On Windows the sweep is skipped entirely: there
    ``os.kill(pid, 0)`` is not a probe — it TERMINATES the target —
    so skipping (bounded leak, cleaned by OS temp GC) is the only safe
    default."""
    import hashlib
    import sys
    import tempfile

    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:12]
    tmp = tempfile.gettempdir()
    root = os.path.join(tmp, f"{prefix}_{tag}_{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    if sys.platform == "win32":
        return root
    try:
        for name in os.listdir(tmp):
            if not name.startswith(f"{prefix}_{tag}_"):
                continue
            pid_s = name.rsplit("_", 1)[-1]
            # bound-check: an absurd all-digit suffix would make os.kill
            # raise OverflowError (not an OSError) and fail the build
            if not pid_s.isdigit() or pid_s == str(os.getpid()):
                continue
            pid = int(pid_s)
            if not 0 < pid < 2**31:
                continue
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)
            except OSError:
                pass  # alive but not ours (EPERM) — leave it
    except OSError:
        pass  # sweeping is opportunistic; never fail the build over it
    return root


def diff_versions(
    spark: SparkSession,
    root: str,
    step: str,
    key: str | list[str],
    v_old: int,
    v_new: int,
    compare: list[str] | None = None,
    check_unique: bool = False,
) -> DataFrame:
    """Changelog between two PINNED versions of a versioned dataset:
    one row per added / removed / changed key, with each compared
    column's old and new value side by side (``<col>_old`` /
    ``<col>_new``).  Unchanged rows drop out.

    **Precondition: ``key`` must be unique within EACH version.**  The
    full-outer equi-join below cross-products duplicate-key rows, so a
    dup-key dataset silently yields an inflated, misleading changelog —
    exactly the wrong failure mode for an audit API (round-6 ADVICE).
    Pass ``check_unique=True`` to fail loudly instead: it runs one extra
    key-cardinality aggregation per version (a scalar-only action, same
    sanctioned class as the multimodal byte-total; the aggregation
    reuses the key partitioning the diff join needs anyway) and raises
    ``ValueError`` naming the offending version if any key repeats.

    The audit question every versioned refresh raises ("what did
    refresh N+1 change?"), answered as ONE sort-merge full-outer
    equi-join on the dataset key — both versions shuffle-partition on
    the key; versions written bucketed on it (bucketing.py) diff with
    no exchange at all.  Pinned versions make the diff reproducible
    forever, unlike latest-vs-latest.  ``q_version_diff`` is the
    oracle-checked instantiation."""
    keys = [key] if isinstance(key, str) else list(key)
    old = read_versioned(spark, root, step, version=v_old)
    new = read_versioned(spark, root, step, version=v_new)
    if compare is None:
        # explicit compare=[] means membership-only (added/removed rows,
        # no value comparison) — `or` would silently turn it into "all"
        compare = [c for c in old.columns if c not in keys]
    # presence markers, NOT key nullness, drive the classification: the
    # equality join is null-rejecting, so a NULL-keyed row never matches
    # and key-nullness would label an old-only NULL-key row "added"
    for marker in ("__in_old", "__in_new"):
        if marker in old.columns or marker in new.columns:
            raise ValueError(
                f"diff_versions reserves the column name {marker!r}; "
                "rename it in the dataset before diffing"
            )
    if check_unique:
        for label, ver, frame in (("old", v_old, old), ("new", v_new, new)):
            dup = (
                frame.groupBy(*keys)
                .agg(F.count(F.lit(1)).alias("__n"))
                .where(F.col("__n") > 1)
            )
            if dup.limit(1).count() > 0:
                raise ValueError(
                    f"diff_versions: key {keys} is not unique in the "
                    f"{label} version (v={ver}) of step {step!r}; the "
                    "changelog would cross-product duplicate keys"
                )
    old = old.withColumn("__in_old", F.lit(1))
    new = new.withColumn("__in_new", F.lit(1))
    j = old.alias("a").join(
        new.alias("b"),
        [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys],
        "full_outer",
    )
    out = j.select(
        *[F.coalesce(F.col(f"a.{k}"), F.col(f"b.{k}")).alias(k) for k in keys],
        F.when(F.col("a.__in_old").isNull(), F.lit("added"))
        .when(F.col("b.__in_new").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
        .alias("change"),
        *[F.col(f"a.{c}").alias(f"{c}_old") for c in compare],
        *[F.col(f"b.{c}").alias(f"{c}_new") for c in compare],
    )
    keep = F.col("change").isin("added", "removed")
    for c in compare:
        # NULL-safe inequality: a changed-to/from-NULL value counts
        keep = keep | ~F.col(f"{c}_old").eqNullSafe(F.col(f"{c}_new"))
    return out.where(keep)


def apply_changelog(
    base: DataFrame,
    changelog: DataFrame,
    key: str | list[str],
    compare: list[str],
) -> DataFrame:
    """Apply a ``diff_versions``-shaped changelog to ``base`` — the CDC
    MERGE that turns version N plus the N→N+1 changelog back into
    version N+1 (``MERGE ... WHEN MATCHED UPDATE / WHEN NOT MATCHED
    INSERT / WHEN MATCHED [removed] DELETE`` in SQL terms).  This is the
    reference's resume story at dataset granularity (tools.go:676-806's
    checkpointed re-run, generalized): an incremental consumer holds a
    materialized copy of version N and advances it with the bounded
    changelog instead of re-reading the full refresh.

    ``changelog`` must carry the ``diff_versions`` output columns for
    the same ``key``/``compare``: the key columns, ``change`` in
    {'added','removed','changed'}, and ``<col>_new`` for every compared
    column.  ``compare`` must list EVERY non-key column of ``base`` —
    otherwise inserted rows could not be reconstructed from the
    changelog (raises ``ValueError`` up front instead of emitting NULLs
    for the missing columns).  Keys must be unique AND non-NULL in
    ``base``: uniqueness is the ``diff_versions`` precondition carried
    through, and non-NULLness is what makes a key-based merge
    well-defined at all — ``diff_versions`` reports NULL-keyed rows as
    membership-only added/removed, but a NULL key cannot *address* a
    base row through a null-rejecting equi-join, so applying such a
    changelog would keep the old NULL-keyed row and union in the new
    one.

    Plan shape, and why it holds at 100 TB: a changelog is BOUNDED by
    the refresh delta while the base is the full corpus, so the merge is
    one left-anti equi-join of base against the changelog keys (AQE
    broadcasts the changelog side when it fits — no base shuffle at
    all) plus a union with the changelog's own upsert rows.  The base
    is never rewritten, only filtered; with the changelog broadcast the
    whole merge is a single scan over the base."""
    keys = [key] if isinstance(key, str) else list(key)
    missing = [c for c in base.columns if c not in keys and c not in compare]
    if missing:
        raise ValueError(
            f"apply_changelog: compare={compare} does not cover base "
            f"columns {missing}; inserted rows could not be reconstructed"
        )
    # upserts: added + changed rows materialize at their NEW values,
    # projected back to the base schema (and base column ORDER — the
    # merge output is indistinguishable from the target version)
    upserts = changelog.where(F.col("change").isin("added", "changed")).select(
        *[
            F.col(c) if c in keys else F.col(f"{c}_new").alias(c)
            for c in base.columns
        ]
    )
    # untouched: base rows with NO changelog entry.  Removed and changed
    # keys both drop here (changed keys re-enter via upserts).  No
    # forced broadcast hint: a bounded delta changelog gets broadcast by
    # AQE at runtime, while a rewrite-sized changelog falls back to a
    # sort-merge anti-join instead of OOMing the driver on a hint.
    untouched = base.join(changelog.select(*keys), keys, "left_anti")
    return untouched.unionByName(upserts)
