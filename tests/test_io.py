"""IO-layer tests: reference R1 FAILFAST semantics (die on first
malformed line), schema discipline, versioned read/write resolution."""

from __future__ import annotations

import os
import time

import pytest

from pyspark.sql import functions as F

from etl_template_spark.io import (
    load_table,
    read_jsonl,
    read_versioned,
    write_versioned,
)

SCHEMA = "id string, name string"


def _write(path, lines):
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def test_jsonl_failfast_dies_on_malformed_line(spark, tmp_path):
    p = str(tmp_path / "bad.jsonl")
    _write(p, ['{"id": "1", "name": "ok"}', "{not json at all"])
    with pytest.raises(Exception) as ei:
        read_jsonl(spark, p, SCHEMA, mode="FAILFAST").collect()
    assert "Malformed" in str(ei.value) or "FAILFAST" in str(ei.value)


def test_jsonl_blank_lines_skipped(spark, tmp_path):
    # reference skips blank lines (tools.go:533-535)
    p = str(tmp_path / "blank.jsonl")
    _write(p, ['{"id": "1", "name": "a"}', "", '{"id": "2", "name": "b"}'])
    rows = read_jsonl(spark, p, SCHEMA).collect()
    assert sorted(r["id"] for r in rows) == ["1", "2"]


def test_jsonl_unknown_fields_dropped_missing_null(spark, tmp_path):
    # SURVEY §1.3: unknown JSON fields dropped, missing fields NULL
    # (intentional divergence from Go zero-values)
    p = str(tmp_path / "partial.jsonl")
    _write(p, ['{"id": "1", "name": "a", "extra": 99}', '{"id": "2"}'])
    rows = {r["id"]: r for r in read_jsonl(spark, p, SCHEMA).collect()}
    assert rows["1"]["name"] == "a"
    assert rows["2"]["name"] is None
    assert "extra" not in rows["1"].asDict()


def test_versioned_pinned_and_latest(spark, tmp_path):
    root = str(tmp_path)
    df1 = spark.createDataFrame([("1", "v1")], SCHEMA)
    df2 = spark.createDataFrame([("2", "v2")], SCHEMA)
    v1, _ = write_versioned(df1, root, "step")
    v2, _ = write_versioned(df2, root, "step")
    assert (v1, v2) == (1, 2)
    assert read_versioned(spark, root, "step").collect()[0]["name"] == "v2"
    assert read_versioned(spark, root, "step", version=1).collect()[0]["name"] == "v1"


def test_versioned_missing_step_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        read_versioned(spark, str(tmp_path), "nope")


def test_versioned_json_requires_schema(spark, tmp_path):
    root = str(tmp_path)
    write_versioned(spark.createDataFrame([("1", "a")], SCHEMA), root, "s", fmt="json")
    with pytest.raises(ValueError):
        read_versioned(spark, root, "s", fmt="json")
    rows = read_versioned(spark, root, "s", fmt="json", schema=SCHEMA).collect()
    assert rows[0]["id"] == "1"


def test_sorted_layout_row_groups_are_prunable(spark, sf_dir, tmp_path):
    """write_versioned(sort_by=...) must produce a clustered layout:
    every parquet row group covers a narrow l_shipdate range and the
    ranges barely overlap, so a selective time filter can skip most
    groups on min/max statistics alone — the physical property that
    makes selective scans cheap at 100 TB."""
    import os

    import pyarrow.parquet as pq

    from etl_template_spark.io import load_table, write_versioned

    root = str(tmp_path)
    li = load_table(spark, sf_dir, "lineitem")
    _, path = write_versioned(
        li, root, "li_sorted", sort_by=["l_shipdate"], sort_partitions=6
    )

    spans = []  # (min, max) per row group across all range files
    for f in sorted(os.listdir(path)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        idx = md.schema.to_arrow_schema().get_field_index("l_shipdate")
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            spans.append((st.min, st.max))
    assert len(spans) >= 2, "need multiple row groups to demonstrate pruning"

    # clustered: total overlap between groups is tiny — sort spans and
    # check each group's range is (near-)disjoint from the next
    spans.sort()
    overlapping = sum(1 for a, b in zip(spans, spans[1:]) if b[0] < a[1])
    assert overlapping <= len(spans) // 4, (overlapping, spans)

    # and a selective filter can rule out most groups by min/max alone
    lo = sorted(s[0] for s in spans)[len(spans) // 2]
    hi = sorted(s[1] for s in spans)[len(spans) // 2]
    candidates = sum(1 for a, b in spans if not (b < lo or a > hi))
    assert candidates < len(spans), "filter should not touch every row group"

    # content survives the re-layout
    assert spark.read.parquet(path).count() == li.count()


def test_compact_versioned_reduces_files_preserves_rows(spark, sf_dir, tmp_path):
    """Compaction must write a NEW version with fewer files and the
    identical row multiset; the source version stays untouched."""
    from etl_template_spark.io import (
        compact_versioned,
        latest_version,
        read_versioned,
        write_versioned,
    )

    root = str(tmp_path / "store")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    # simulate small-file accretion: 16 files for a tiny table
    v1, p1 = write_versioned(o.repartition(16), root, "orders_step")
    n_before = sum(1 for f in os.listdir(p1) if f.endswith(".parquet"))
    assert n_before == 16

    v2, p2 = compact_versioned(spark, root, "orders_step")
    assert v2 == v1 + 1 and latest_version(root, "orders_step") == v2
    n_after = sum(1 for f in os.listdir(p2) if f.endswith(".parquet"))
    assert n_after == 1  # tiny data « target_file_bytes → one file

    before = sorted(map(tuple, read_versioned(spark, root, "orders_step", v1).collect()))
    after = sorted(map(tuple, read_versioned(spark, root, "orders_step", v2).collect()))
    assert before == after
    # old version untouched
    assert sum(1 for f in os.listdir(p1) if f.endswith(".parquet")) == 16


def test_compact_versioned_sorted_keeps_clustered_layout(spark, sf_dir, tmp_path):
    """sort_by compaction re-clusters: row groups in the compacted
    version cover near-disjoint key ranges (pruning keeps working)."""
    import pyarrow.parquet as pq

    from etl_template_spark.io import compact_versioned, write_versioned

    root = str(tmp_path / "store")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    write_versioned(li.repartition(8), root, "li_step")
    _, p2 = compact_versioned(
        spark, root, "li_step",
        target_file_bytes=64 * 1024, sort_by=["l_orderkey"],
    )
    files = [f for f in os.listdir(p2) if f.endswith(".parquet")]
    assert len(files) >= 2  # 64 KiB target forces multiple files
    spans = []
    for f in files:
        md = pq.ParquetFile(os.path.join(p2, f)).metadata
        idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "l_orderkey"
        )
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            spans.append((st.min, st.max))
    spans.sort()
    overlaps = sum(
        1 for (a, b), (c, d) in zip(spans, spans[1:]) if c < b
    )
    assert overlaps <= len(spans) // 4  # near-disjoint after re-sort


def test_jsonl_quarantine_splits_good_and_bad(spark, tmp_path):
    """PERMISSIVE quarantine: good rows parse with the declared schema,
    malformed lines land intact in the quarantine frame — one scan, no
    dead job, nothing silently dropped."""
    from etl_template_spark.io import read_jsonl_quarantine

    p = str(tmp_path / "mixed.jsonl")
    _write(p, [
        '{"id": "1", "name": "alice"}',
        'this is not json at all',
        '{"id": "2", "name": "bob"}',
        '{"id": "3", "name": broken}',
    ])
    good, bad, unpersist = read_jsonl_quarantine(spark, p, SCHEMA)
    assert sorted((r["id"], r["name"]) for r in good.collect()) == [
        ("1", "alice"), ("2", "bob"),
    ]
    assert sorted(r["raw_line"] for r in bad.collect()) == [
        "this is not json at all",
        '{"id": "3", "name": broken}',
    ]
    # release the shared cached scan once both splits are consumed
    # (session is shared across tests, so no global cache assertion here)
    unpersist()


def test_zorder_layout_prunes_on_both_dimensions(spark, sf_dir, tmp_path):
    """Z-order clustering: after range-sort on the interleaved z-value,
    a selective range filter on EITHER participating column rules out a
    large share of row groups by footer min/max — unlike a single-key
    sort, where every non-leading column reads everything."""
    import pyarrow.parquet as pq

    from etl_template_spark.io import write_versioned
    from etl_template_spark.layout import Z_COL, with_zorder

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    root = str(tmp_path)
    _, zpath = write_versioned(
        with_zorder(li, ["l_orderkey", "l_partkey"], bits=16),
        root, "z", sort_by=[Z_COL], sort_partitions=16,
    )
    _, spath = write_versioned(
        li, root, "plain", sort_by=["l_orderkey"], sort_partitions=16
    )

    def candidates(path, col):
        spans = []
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            idx = md.schema.to_arrow_schema().get_field_index(col)
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                spans.append((st.min, st.max))
        flo = min(a for a, _ in spans)
        fhi = max(b for _, b in spans)
        lo = flo + (fhi - flo) * 0.20  # off-center 5%-wide range
        hi = flo + (fhi - flo) * 0.25
        n = sum(1 for a, b in spans if not (b < lo or a > hi))
        return n, len(spans)

    # z-layout: both dims prune (each skips >30% of groups)
    for col in ("l_orderkey", "l_partkey"):
        n, total = candidates(zpath, col)
        assert n <= 0.7 * total, (col, n, total)
    # single-key sort: leading key prunes hard, non-leading reads ~all
    n_lead, total = candidates(spath, "l_orderkey")
    assert n_lead <= 0.25 * total
    n_other, total = candidates(spath, "l_partkey")
    assert n_other >= 0.9 * total


def test_delete_versioned_removes_keys_as_new_version(spark, sf_dir, tmp_path):
    """Targeted delete: the new version lacks exactly the requested
    keys; the old version still holds them (auditable immutability)."""
    from etl_template_spark.io import delete_versioned, write_versioned

    root = str(tmp_path / "store")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    v1, _ = write_versioned(o, root, "orders_step")
    doomed = o.select("o_custkey").distinct().limit(3)
    doomed_keys = {r["o_custkey"] for r in doomed.collect()}

    v2, _ = delete_versioned(spark, root, "orders_step", doomed, on="o_custkey")
    assert v2 == v1 + 1
    after = read_versioned(spark, root, "orders_step", v2)
    assert after.where(F.col("o_custkey").isin(doomed_keys)).count() == 0
    assert after.count() == o.count() - o.where(
        F.col("o_custkey").isin(doomed_keys)
    ).count()
    # old version untouched
    assert read_versioned(spark, root, "orders_step", v1).count() == o.count()


def test_read_versioned_merged_schema_evolution(spark, tmp_path):
    """Additive schema evolution across versions: the merged read
    unions schemas (old rows null-fill new columns) and exposes
    ``_version`` for pruning."""
    from etl_template_spark.io import read_versioned_merged, write_versioned

    root = str(tmp_path / "store")
    v1_df = spark.createDataFrame([(1, "a")], "id long, name string")
    write_versioned(v1_df, root, "s")
    v2_df = spark.createDataFrame(
        [(2, "b", 0.5)], "id long, name string, score double"
    )
    write_versioned(v2_df, root, "s")

    merged = read_versioned_merged(spark, root, "s")
    assert set(merged.columns) == {"id", "name", "score", "_version"}
    rows = {r["id"]: r for r in merged.collect()}
    assert rows[1]["score"] is None and rows[1]["_version"] == 1
    assert rows[2]["score"] == 0.5 and rows[2]["_version"] == 2
    # version predicate prunes directories like a partition filter
    assert merged.where(F.col("_version") == 2).count() == 1


def test_prune_versions_keeps_newest(spark, tmp_path):
    """Retention GC drops the oldest versions, never the latest, and
    the kept versions stay readable."""
    from etl_template_spark.io import (
        list_versions,
        prune_versions,
        read_versioned,
        write_versioned,
    )

    root = str(tmp_path)
    for i in range(5):
        write_versioned(
            spark.createDataFrame([(str(i), "x")], SCHEMA), root, "s"
        )
    assert list_versions(root, "s") == [1, 2, 3, 4, 5]
    assert prune_versions(root, "s", keep_last=2) == [1, 2, 3]
    assert list_versions(root, "s") == [4, 5]
    assert read_versioned(spark, root, "s").collect()[0]["id"] == "4"
    # keep_last floor: never deletes the only remaining versions to zero
    assert prune_versions(root, "s", keep_last=0) == [4]
    assert list_versions(root, "s") == [5]


def test_concurrent_claims_are_unique(tmp_path):
    """The claim's whole reason to exist is the CONCURRENT case (the
    reference's list-and-increment races, tools.go:343-366; os.mkdir is
    the atomic arbiter) — so race it for real: many threads claiming
    simultaneously from the same start state must each get a distinct
    version directory, with no gaps beyond the contiguous range."""
    import threading

    from etl_template_spark.io import claim_next_version

    root = str(tmp_path)
    n_threads = 16
    claims: list[tuple[int, str]] = []
    lock = threading.Lock()
    barrier = threading.Barrier(n_threads)

    def worker():
        barrier.wait()  # maximize contention: everyone lists, then claims
        got = claim_next_version(root, "s")
        with lock:
            claims.append(got)

    threads = [threading.Thread(target=worker) for _ in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    versions = sorted(v for v, _ in claims)
    assert len(set(versions)) == n_threads, f"duplicate claims: {versions}"
    assert versions == list(range(1, n_threads + 1))
    paths = {p for _, p in claims}
    assert len(paths) == n_threads and all(os.path.isdir(p) for p in paths)


def test_uncommitted_claim_is_invisible_to_readers(spark, tmp_path):
    """r7 ADVICE: a crash between claim_next_version's mkdir and the
    publish leaves an empty v=N without _SUCCESS.  Readers (latest,
    pinned-by-default, merged-history) must skip it; the writer-facing
    listing still sees it so the claim is never re-issued; the
    retention GC reclaims it."""
    from etl_template_spark.io import (
        claim_next_version,
        latest_version,
        list_versions,
        prune_versions,
        read_versioned,
        read_versioned_merged,
        write_versioned,
    )

    root = str(tmp_path)
    write_versioned(spark.createDataFrame([("1", "a")], SCHEMA), root, "s")
    # simulate the crashed claim: v=2 exists, empty, no _SUCCESS;
    # backdate it past the r9 grace period so the sweep sees a STALE
    # remnant rather than a possibly-live concurrent writer
    os.mkdir(os.path.join(root, "s", "v=2"))
    stale = time.time() - 7200
    os.utime(os.path.join(root, "s", "v=2"), (stale, stale))

    assert list_versions(root, "s") == [1]  # readers' view
    assert list_versions(root, "s", committed_only=False) == [1, 2]  # writers'
    assert latest_version(root, "s") == 1
    assert read_versioned(spark, root, "s").count() == 1  # latest = v1, no error
    assert read_versioned_merged(spark, root, "s").count() == 1  # glob-free

    # the next writer claims PAST the dead v=2, never colliding with it
    n, path = claim_next_version(root, "s")
    assert n == 3
    os.rmdir(path)  # release the test's own claim

    # retention GC sweeps the uncommitted remnant (below the newest claim
    # nothing committed is lost); the released v=3 claim was reused
    write_versioned(spark.createDataFrame([("2", "b")], SCHEMA), root, "s")
    pruned = prune_versions(root, "s", keep_last=5)
    assert 2 in pruned
    assert list_versions(root, "s", committed_only=False) == [1, 3]


def test_prune_versions_spares_young_uncommitted_claim(spark, tmp_path):
    """r8 ADVICE enforcement: a concurrent writer can commit OUT of
    claim order, so an uncommitted claim below a newer committed
    version is not necessarily dead — it may be a slower live writer
    mid-write.  The sweep must spare claims younger than
    ``min_claim_age`` and reclaim them only once genuinely stale."""
    from etl_template_spark.io import (
        claim_next_version,
        list_versions,
        prune_versions,
        write_versioned,
    )

    root = str(tmp_path)
    write_versioned(spark.createDataFrame([("1", "a")], SCHEMA), root, "s")
    # slow writer claims v=2 and is still writing (fresh mtime) ...
    n, slow_dir = claim_next_version(root, "s")
    assert n == 2
    # ... while a faster writer claims AND commits v=3
    write_versioned(spark.createDataFrame([("2", "b")], SCHEMA), root, "s")
    assert list_versions(root, "s") == [1, 3]

    # default grace: the young in-flight claim survives retention GC
    pruned = prune_versions(root, "s", keep_last=5)
    assert 2 not in pruned and os.path.isdir(slow_dir)
    # once stale past the grace period, the same sweep reclaims it
    stale = time.time() - 7200
    os.utime(slow_dir, (stale, stale))
    pruned = prune_versions(root, "s", keep_last=5)
    assert 2 in pruned and not os.path.isdir(slow_dir)
    # min_claim_age=0 restores the unconditional (serial-writer) sweep
    n, fresh_dir = claim_next_version(root, "s")
    write_versioned(spark.createDataFrame([("3", "c")], SCHEMA), root, "s")
    assert prune_versions(root, "s", keep_last=5, min_claim_age=0) == [n]
    assert not os.path.isdir(fresh_dir)


def test_hilbert_matches_reference_and_is_unit_step(spark):
    """The expression-compiled Hilbert transform must equal the classic
    xy2d automaton on a full grid (bijection included), and consecutive
    curve positions must be ADJACENT cells (|dx|+|dy| == 1) — the
    locality property that makes Hilbert runs tighter than Morton's
    quadrant jumps."""
    from etl_template_spark.layout import with_hilbert

    def xy2d(n, x, y):
        d, s = 0, n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = n - 1 - x, n - 1 - y
                x, y = y, x
            s //= 2
        return d

    bits, n = 4, 16
    rows = [(x, y) for x in range(n) for y in range(n)]
    df = spark.createDataFrame(rows, "x int, y int")
    got = {
        (r["x"], r["y"]): r["__hilbert"]
        for r in with_hilbert(df, ["x", "y"], bits=bits).collect()
    }
    assert got == {(x, y): xy2d(n, x, y) for x, y in rows}
    assert len(set(got.values())) == n * n  # bijection
    cell_of = {d: xy for xy, d in got.items()}
    for d in range(n * n - 1):
        (x1, y1), (x2, y2) = cell_of[d], cell_of[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, (d, cell_of[d], cell_of[d + 1])


def test_hilbert_layout_prunes_on_both_dimensions(spark, sf_dir, tmp_path):
    """Hilbert clustering must deliver the same both-dimension row-group
    pruning contract as Z-order (the curve is strictly more local, so
    the bounding boxes can only be as tight or tighter)."""
    import pyarrow.parquet as pq

    from etl_template_spark.io import write_versioned
    from etl_template_spark.layout import H_COL, with_hilbert

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    _, hpath = write_versioned(
        with_hilbert(li, ["l_orderkey", "l_partkey"], bits=16),
        str(tmp_path), "h", sort_by=[H_COL], sort_partitions=16,
    )

    def candidates(path, col):
        spans = []
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            idx = md.schema.to_arrow_schema().get_field_index(col)
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                spans.append((st.min, st.max))
        flo = min(a for a, _ in spans)
        fhi = max(b for _, b in spans)
        lo = flo + (fhi - flo) * 0.20
        hi = flo + (fhi - flo) * 0.25
        return sum(1 for a, b in spans if not (b < lo or a > hi)), len(spans)

    for col in ("l_orderkey", "l_partkey"):
        n, total = candidates(hpath, col)
        assert n <= 0.7 * total, (col, n, total)


def test_register_versioned_table_feeds_cbo_stats(spark, sf_dir, tmp_path):
    """A versioned output registered via register_versioned_table must
    carry table + column statistics in the catalog (rowCount and NDVs
    are what CBO join-reorder and broadcast selection consume; a bare
    path read only ever sees file sizes)."""
    from etl_template_spark.io import register_versioned_table, write_versioned

    df = load_table(spark, sf_dir, "supplier")
    root = str(tmp_path / "out")
    version, _ = write_versioned(df, root, "suppliers")
    table = register_versioned_table(spark, root, "suppliers", version=version)
    assert table == f"suppliers_v{version}"

    detail = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    stats_rows = [r for r in detail if r["col_name"] == "Statistics"]
    assert stats_rows, "no table-level statistics recorded"
    assert "rows" in stats_rows[0]["data_type"]  # "<bytes> bytes, <n> rows"

    col_detail = spark.sql(
        f"DESCRIBE TABLE EXTENDED {table} s_suppkey"
    ).collect()
    info = {r["info_name"]: r["info_value"] for r in col_detail}
    assert info.get("distinct_count") not in (None, "NULL")

    # idempotent re-registration (immutable version, immutable stats)
    assert register_versioned_table(spark, root, "suppliers") == table
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_register_versioned_table_quotes_non_identifier_names(
    spark, sf_dir, tmp_path
):
    """Step names that are not bare SQL identifiers (hyphens) must
    register cleanly — the default table name sanitizes them to the
    catalog's [A-Za-z0-9_] alphabet, and the name is backtick-quoted
    into DROP/ANALYZE rather than interpolated raw."""
    from etl_template_spark.io import register_versioned_table, write_versioned

    df = load_table(spark, sf_dir, "supplier")
    root = str(tmp_path / "out")
    version, _ = write_versioned(df, root, "clean-suppliers")
    table = register_versioned_table(spark, root, "clean-suppliers")
    assert table == f"clean_suppliers_v{version}"
    assert spark.sql(f"SELECT COUNT(*) AS n FROM `{table}`").collect()[0]["n"] == df.count()
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")


def test_register_versioned_table_refuses_uncommitted_claim(spark, tmp_path):
    """A claimed version directory that already holds data files but no
    ``_SUCCESS`` (a writer mid-commit, or a crash remnant) is invisible
    to readers; registering it would publish stats on rows no reader
    can see, so the registration must refuse and leave no table."""
    import shutil

    from etl_template_spark.io import register_versioned_table, write_versioned

    root = str(tmp_path / "out")
    write_versioned(spark.range(3).selectExpr("id"), root, "s")
    claim = os.path.join(root, "s", "v=2")
    shutil.copytree(os.path.join(root, "s", "v=1"), claim)
    os.remove(os.path.join(claim, "_SUCCESS"))
    assert any(f.endswith(".parquet") for f in os.listdir(claim))
    spark.sql("DROP TABLE IF EXISTS s_v2")
    with pytest.raises(FileNotFoundError, match="v=2"):
        register_versioned_table(spark, root, "s", version=2)
    assert not spark.catalog.tableExists("s_v2")


def test_load_table_events_handles_both_timestamp_generations(spark, tmp_path):
    """Driver fixtures have shipped events.ts as TIMESTAMP(NANOS) (r1-3)
    and TIMESTAMP(MICROS) (r4+).  A micros file loads as TIMESTAMP_NTZ
    with its values intact; a nanos file fails loudly with a
    ``ValueError`` naming the file and its ``ts`` type, and leaves the
    session's ``nanosAsLong`` conf unset (no session-global retry)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = {
        "event_id": [1, 2],
        "user_id": [10, 20],
        "event_type": ["view", "click"],
        "value": [1.5, 2.5],
        "props": ["{}", "{}"],
    }
    ts = [
        datetime.datetime(2024, 1, 1, 10, 0, 0),
        datetime.datetime(2024, 1, 2, 11, 30, 0),
    ]
    for unit, sub in (("us", "micros"), ("ns", "nanos")):
        d = str(tmp_path / sub)
        os.makedirs(d)
        table = pa.table({**rows, "ts": pa.array(ts, type=pa.timestamp(unit))})
        pq.write_table(table, os.path.join(d, "events.parquet"))

    micros = load_table(spark, str(tmp_path / "micros"), "events")
    assert dict(micros.dtypes)["ts"] == "timestamp_ntz"
    got_ts = sorted(r["ts"] for r in micros.collect())
    assert got_ts == ts

    nanos_conf = "spark.sql.legacy.parquet.nanosAsLong"
    assert spark.conf.get(nanos_conf, None) is None
    nanos_path = os.path.join(str(tmp_path / "nanos"), "events.parquet")
    with pytest.raises(ValueError) as err:
        load_table(spark, str(tmp_path / "nanos"), "events")
    assert nanos_path in str(err.value)
    assert "timestamp[ns]" in str(err.value)
    assert spark.conf.get(nanos_conf, None) is None


def test_load_table_handle_cache_replaces_stale_entry(spark, tmp_path):
    """A fixture table regenerated in place is re-resolved, and its
    stale handle is REPLACED: two regenerations leave one cache entry
    for the table, serving the newest file's rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_template_spark.io import _TABLE_HANDLES

    d = str(tmp_path)
    path = os.path.join(d, "supplier.parquet")

    def regenerate(n):
        pq.write_table(pa.table({"s_suppkey": list(range(n))}), path)
        st = os.stat(path)  # distinct mtime even on a coarse clock
        os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + n * 10**9))

    key = (os.path.abspath(d), "supplier")
    for n in (1, 2, 3):
        regenerate(n)
        assert load_table(spark, d, "supplier").count() == n
    entries = [k for k in _TABLE_HANDLES[spark] if k[0] == key[0]]
    assert entries == [key]


def test_diff_versions_library_api(spark, tmp_path):
    """io.diff_versions over hand-built versions: added/removed/changed
    classification, NULL-safe value comparison (a change to/from NULL
    counts), multi-column compare, unchanged rows dropped."""
    from etl_template_spark.io import diff_versions, write_versioned

    root = str(tmp_path)
    v1 = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, None, "c"), (4, 40.0, "d")],
        "k int, price double, tag string",
    )
    v2 = spark.createDataFrame(
        [(2, 20.0, "b"), (3, 30.0, "c"), (4, 40.0, "D"), (5, 50.0, "e")],
        "k int, price double, tag string",
    )
    write_versioned(v1, root, "t")
    write_versioned(v2, root, "t")
    rows = {
        r["k"]: r
        for r in diff_versions(spark, root, "t", key="k", v_old=1, v_new=2).collect()
    }
    assert set(rows) == {1, 3, 4, 5}  # 2 is unchanged -> dropped
    assert rows[1]["change"] == "removed" and rows[1]["price_new"] is None
    assert rows[5]["change"] == "added" and rows[5]["price_old"] is None
    assert rows[3]["change"] == "changed"  # NULL -> 30.0 counts
    assert rows[3]["price_old"] is None and rows[3]["price_new"] == 30.0
    assert rows[4]["change"] == "changed"  # tag-only change counts
    assert rows[4]["tag_old"] == "d" and rows[4]["tag_new"] == "D"
    # compare restricted to price: the tag-only change disappears
    only_price = {
        r["k"]
        for r in diff_versions(
            spark, root, "t", key="k", v_old=1, v_new=2, compare=["price"]
        ).collect()
    }
    assert only_price == {1, 3, 5}


def test_diff_versions_null_keys_and_membership_only(spark, tmp_path):
    """Review-caught edges: a NULL-keyed row classifies by join-side
    PRESENCE (old-only -> removed, new-only -> added), never by key
    nullness; compare=[] means membership-only — value changes drop."""
    from etl_template_spark.io import diff_versions, write_versioned

    root = str(tmp_path)
    v1 = spark.createDataFrame(
        [(1, 10.0), (None, 99.0)], "k int, price double"
    )
    v2 = spark.createDataFrame(
        [(1, 11.0), (None, 77.0)], "k int, price double"
    )
    write_versioned(v1, root, "t")
    write_versioned(v2, root, "t")
    rows = diff_versions(spark, root, "t", key="k", v_old=1, v_new=2).collect()
    null_rows = sorted(
        ((r["change"], r["price_old"], r["price_new"]) for r in rows if r["k"] is None)
    )
    # NULL keys never join: the old 99.0 row is REMOVED, the new 77.0 ADDED
    assert null_rows == [("added", None, 77.0), ("removed", 99.0, None)]
    # membership-only: the 10.0 -> 11.0 change disappears, NULL-key
    # membership rows stay
    member = diff_versions(
        spark, root, "t", key="k", v_old=1, v_new=2, compare=[]
    ).collect()
    assert {r["change"] for r in member} == {"added", "removed"}
    assert all(r["k"] is None for r in member)


def test_apply_changelog_roundtrip_identity(spark, tmp_path):
    """CDC MERGE contract: apply_changelog(v1, diff_versions(v1, v2))
    reproduces v2 exactly — added rows insert, removed rows drop,
    changed rows take their new values (including to/from NULL),
    unchanged rows pass through untouched."""
    from etl_template_spark.io import (
        apply_changelog,
        diff_versions,
        read_versioned,
        write_versioned,
    )

    root = str(tmp_path)
    v1 = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, None, "c"), (4, 40.0, "d")],
        "k int, price double, tag string",
    )
    v2 = spark.createDataFrame(
        [(2, 20.0, "b"), (3, 30.0, "c"), (4, None, "D"), (5, 50.0, "e")],
        "k int, price double, tag string",
    )
    write_versioned(v1, root, "t")
    write_versioned(v2, root, "t")
    clog = diff_versions(
        spark, root, "t", key="k", v_old=1, v_new=2, compare=["price", "tag"]
    )
    merged = apply_changelog(
        read_versioned(spark, root, "t", version=1),
        clog,
        key="k",
        compare=["price", "tag"],
    )
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, v2.collect()))


def test_apply_changelog_requires_full_compare_coverage(spark):
    """compare must cover every non-key base column, else inserted rows
    could not be reconstructed — fails up front, not with silent NULLs."""
    import pytest

    from etl_template_spark.io import apply_changelog

    base = spark.createDataFrame([(1, 1.0, "x")], "k int, price double, tag string")
    clog = spark.createDataFrame(
        [(2, "added", 2.0)], "k int, change string, price_new double"
    )
    with pytest.raises(ValueError, match=r"does not cover base columns \['tag'\]"):
        apply_changelog(base, clog, key="k", compare=["price"])


def test_diff_versions_check_unique_guard(spark, tmp_path):
    """Round-6 ADVICE: duplicate keys cross-product through the
    full-outer diff join, inflating the changelog.  check_unique=True
    fails loudly naming the offending version; the default stays lazy
    (no extra action) and the docstring carries the precondition."""
    import pytest

    from etl_template_spark.io import diff_versions, write_versioned

    root = str(tmp_path)
    v1 = spark.createDataFrame([(1, 10.0), (1, 11.0)], "k int, price double")
    v2 = spark.createDataFrame([(1, 12.0)], "k int, price double")
    write_versioned(v1, root, "t")
    write_versioned(v2, root, "t")
    with pytest.raises(ValueError, match=r"not unique in the old version \(v=1\)"):
        diff_versions(
            spark, root, "t", key="k", v_old=1, v_new=2, check_unique=True
        )
    # dup in the NEW side is named as such
    write_versioned(
        spark.createDataFrame([(1, 12.0), (1, 13.0)], "k int, price double"),
        root,
        "t",
    )
    with pytest.raises(ValueError, match=r"not unique in the new version \(v=3\)"):
        diff_versions(
            spark, root, "t", key="k", v_old=2, v_new=3, check_unique=True
        )
    # unique keys pass the guard and the diff still computes
    assert (
        diff_versions(
            spark, root, "t", key="k", v_old=1, v_new=2, check_unique=False
        ).count()
        > 0
    )


# ---------------------------------------------------------------------------
# r10 (r9 ADVICE): compactor crash-atomicity via the _SUMMARIZES marker
# ---------------------------------------------------------------------------


def test_summarizes_marker_excludes_folded_versions(spark, tmp_path):
    """A version committed with ``summarizes=[...]`` hides the listed
    versions from the merged view even while they still exist on disk —
    the invariant that makes the compactors' commit-then-prune window
    reader-transparent."""
    from etl_template_spark.io import (
        list_versions,
        read_versioned_merged,
        summarized_versions,
    )

    root = str(tmp_path)
    write_versioned(spark.createDataFrame([("1", "a")], SCHEMA), root, "s")
    write_versioned(spark.createDataFrame([("2", "b")], SCHEMA), root, "s")
    write_versioned(
        spark.createDataFrame([("1", "a"), ("2", "b")], SCHEMA),
        root,
        "s",
        summarizes=[1, 2],
    )
    assert list_versions(root, "s") == [1, 2, 3]  # nothing pruned yet
    assert summarized_versions(root, "s") == frozenset({1, 2})
    got = sorted(
        (r.id, r.name, r._version)
        for r in read_versioned_merged(spark, root, "s").collect()
    )
    assert got == [("1", "a", 3), ("2", "b", 3)]  # each row exactly once

    # a summarizes id >= the claimed version is a caller bug, not data
    with pytest.raises(ValueError, match="not older"):
        write_versioned(
            spark.createDataFrame([("x", "y")], SCHEMA), root, "s",
            summarizes=[99],
        )


def test_merged_read_snapshot_survives_concurrent_compaction(spark, tmp_path):
    """r10 review: a reader that listed versions BEFORE a compaction
    commits must keep its consistent pre-compaction view.  Deriving the
    marker exclusions from a fresh re-list would let the new marker
    cover the reader's ENTIRE snapshot, filtering it to zero paths and
    failing the read mid-flight — the exact concurrent-read safety the
    marker docstrings advertise."""
    from etl_template_spark.io import (
        list_versions,
        read_versioned_merged,
        write_versioned,
    )

    root = str(tmp_path)
    rows = [("1", "a"), ("2", "b"), ("3", "c")]
    for r in rows:
        write_versioned(spark.createDataFrame([r], SCHEMA), root, "log")
    snapshot = list_versions(root, "log")  # the straddling reader's list

    # compaction commits AFTER the listing, BEFORE the reader scans
    # markers: v4 summarizes the reader's whole snapshot
    merged = read_versioned_merged(spark, root, "log").drop("_version")
    write_versioned(merged, root, "log", summarizes=snapshot)

    # the straddling reader: same snapshot, post-commit marker state —
    # must see the pre-compaction view, not crash on an empty path list
    got = sorted(
        (r.id, r.name)
        for r in read_versioned_merged(
            spark, root, "log", versions=snapshot
        ).collect()
    )
    assert got == sorted(rows)


def test_compactor_marker_matches_fold_snapshot(spark, tmp_path):
    """r10 review: a delta committing between the compactor's listing
    and its fold must be NEITHER folded NOR marked (it stays a live
    delta).  If the fold re-listed, the late delta's rows would land in
    the compacted data while missing from the marker — and a crash
    before prune would then double-count them, the exact failure the
    marker exists to prevent."""
    from etl_template_spark.io import (
        list_versions,
        read_versioned_merged,
        summarized_versions,
        write_versioned,
    )

    root = str(tmp_path)
    write_versioned(spark.createDataFrame([("1", "a")], SCHEMA), root, "log")
    write_versioned(spark.createDataFrame([("2", "b")], SCHEMA), root, "log")
    folded_ids = list_versions(root, "log")  # the compactor's snapshot

    # a writer races in a delta between the listing and the fold
    write_versioned(spark.createDataFrame([("3", "c")], SCHEMA), root, "log")

    # the fold pinned to the snapshot (what compact_merged_log now does)
    merged = read_versioned_merged(
        spark, root, "log", versions=folded_ids
    ).drop("_version")
    assert sorted((r.id, r.name) for r in merged.collect()) == [
        ("1", "a"),
        ("2", "b"),
    ]  # the late delta is NOT folded
    write_versioned(merged, root, "log", summarizes=folded_ids)

    # crash-before-prune state: the late delta stays live (unmarked),
    # the folded rows count once via the compacted version — exactly-once
    assert summarized_versions(root, "log") == frozenset(folded_ids)
    got = sorted(
        (r.id, r.name)
        for r in read_versioned_merged(spark, root, "log").collect()
    )
    assert got == [("1", "a"), ("2", "b"), ("3", "c")]


def test_compact_merged_log_crash_between_commit_and_prune(spark, tmp_path):
    """r9 ADVICE (medium): simulate the compactor crashing AFTER the
    folded version commits but BEFORE prune_versions runs.  The merged
    view must stay duplicate-free throughout, and the documented
    recovery — just run compact_merged_log again — must be safe."""
    from etl_template_spark.io import (
        compact_merged_log,
        list_versions,
        read_versioned_merged,
        write_versioned,
    )

    root = str(tmp_path)
    rows = [("1", "a"), ("2", "b"), ("3", "c")]
    for r in rows:
        write_versioned(spark.createDataFrame([r], SCHEMA), root, "log")

    # the crash: everything compact_merged_log does except the prune
    folded_ids = list_versions(root, "log")
    merged = read_versioned_merged(spark, root, "log").drop("_version")
    write_versioned(merged, root, "log", summarizes=folded_ids)

    # commit-then-(missing-)prune state: deltas still on disk, view clean
    assert list_versions(root, "log") == [1, 2, 3, 4]
    got = sorted(
        (r.id, r.name)
        for r in read_versioned_merged(spark, root, "log").collect()
    )
    assert got == sorted(rows)

    # recovery = re-running the compactor (the exact sequence the r9
    # review showed would permanently double rows without the marker)
    compact_merged_log(spark, root, "log", min_claim_age=0)
    assert len(list_versions(root, "log")) == 1
    got = sorted(
        (r.id, r.name)
        for r in read_versioned_merged(spark, root, "log").collect()
    )
    assert got == sorted(rows)


@pytest.mark.parametrize(
    "compactor, step, log_step",
    [("compact_merged_log", "log", "log"), ("compact_edge_log", "g", "g_edges")],
)
def test_compaction_of_missing_log_names_the_step(
    spark, tmp_path, compactor, step, log_step
):
    """Both delta-log compactors refuse a step that has no log yet, with
    a ``FileNotFoundError`` naming the missing step, and write nothing."""
    from etl_template_spark import io
    from etl_template_spark.operators import graph

    compact = {
        "compact_merged_log": io.compact_merged_log,
        "compact_edge_log": graph.compact_edge_log,
    }[compactor]
    root = str(tmp_path)
    with pytest.raises(FileNotFoundError, match=repr(log_step)):
        compact(spark, root, step)
    assert os.listdir(root) == []


def test_compact_edge_log_weighted_crash_window_no_double_count(
    spark, tmp_path
):
    """The weighted edge log was the dangerous case (r9 ADVICE): inside
    the commit-then-prune window the merged view used to sum each delta
    TWICE, and a recovery re-compact froze the doubling in.  With the
    marker, every point of the sequence — mid-window read, recovery
    re-compact, final prune — yields the true per-pair totals."""
    from etl_template_spark.io import (
        list_versions,
        read_versioned_merged,
        write_versioned,
    )
    from etl_template_spark.operators.graph import compact_edge_log

    root = str(tmp_path)
    w_schema = "src long, dst long, w double"
    write_versioned(
        spark.createDataFrame([(1, 2, 1.0), (2, 3, 2.0)], w_schema),
        root,
        "g_edges",
    )
    write_versioned(
        spark.createDataFrame([(1, 2, 0.5)], w_schema), root, "g_edges"
    )
    truth = {(1, 2): 1.5, (2, 3): 2.0}

    def merged_weights():
        df = (
            read_versioned_merged(spark, root, "g_edges")
            .groupBy("src", "dst")
            .agg(F.sum("w").alias("w"))
        )
        return {(r.src, r.dst): r.w for r in df.collect()}

    # the crash: fold + marker committed, prune never ran
    folded_ids = list_versions(root, "g_edges")
    folded = (
        read_versioned_merged(spark, root, "g_edges")
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
        .where(F.col("w") != 0)
    )
    write_versioned(folded, root, "g_edges", summarizes=folded_ids)
    assert merged_weights() == truth  # mid-window read: no double count

    # recovery re-compact: previously the permanent-doubling step
    compact_edge_log(spark, root, "g", min_claim_age=0)
    assert merged_weights() == truth
    assert len(list_versions(root, "g_edges")) == 1


def test_prune_grace_uses_tree_mtime(spark, tmp_path):
    """r9 ADVICE: Spark streams task output into nested _temporary/
    subtrees, and a POSIX directory's own mtime only reflects DIRECT
    entry changes — so the liveness test must take the max mtime across
    the claim TREE, or a single write job longer than the grace period
    gets its live claim swept mid-write."""
    from etl_template_spark.io import (
        claim_next_version,
        list_versions,
        prune_versions,
        write_versioned,
    )

    root = str(tmp_path)
    write_versioned(spark.createDataFrame([("1", "a")], SCHEMA), root, "s")
    # slow writer: claimed long ago, still streaming task output deep
    # in _temporary/ (fresh leaf file, stale top-level dir mtimes)
    n, slow_dir = claim_next_version(root, "s")
    task_dir = os.path.join(slow_dir, "_temporary", "0", "task_0")
    os.makedirs(task_dir)
    leaf = os.path.join(task_dir, "part-00000")
    with open(leaf, "w") as fh:
        fh.write("x")
    stale = time.time() - 7200
    for p in (slow_dir, os.path.dirname(os.path.dirname(task_dir)),
              os.path.dirname(task_dir)):
        os.utime(p, (stale, stale))
    # a faster writer commits above it, so the claim is sweep-eligible
    write_versioned(spark.createDataFrame([("2", "b")], SCHEMA), root, "s")

    # the leaf file is fresh => the job is alive => spared
    assert n not in prune_versions(root, "s", keep_last=5)
    assert os.path.isdir(slow_dir)
    # once the WHOLE tree is stale, the same sweep reclaims it
    os.utime(task_dir, (stale, stale))
    os.utime(leaf, (stale, stale))
    assert n in prune_versions(root, "s", keep_last=5)
    assert not os.path.isdir(slow_dir)
