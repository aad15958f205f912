"""Per-layer tracing for ``run.py --trace 1``.

Changes no code in the package.  It wraps public functions of the
``io``, ``pipeline`` and ``caching`` layers (on the defining module and on
every package module that bound the same object at import), gives each
item phase its own Spark job group, and reads Spark's status tracker and
SQL status store right after each item, before Spark's retention limits
(1000 jobs, 1000 SQL executions) can drop anything.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import sys
import threading
import time
from collections import Counter

# SQL operator metric name -> per-layer metric (summed, in s or bytes)
OPERATOR_METRICS = {
    "scan time": "spark.scan_s",
    "size of files read": "spark.files_read_bytes",
    "shuffle bytes written": "spark.shuffle_bytes_written",
    "shuffle records written": "spark.shuffle_records_written",
    "shuffle write time": "spark.shuffle_write_s",
    "fetch wait time": "spark.fetch_wait_s",
    "time in aggregation build": "spark.agg_build_s",
    "sort time": "spark.sort_s",
    "spill size": "spark.spill_bytes",
    "peak memory": "spark.peak_memory_bytes",
    "time to build": "spark.broadcast_build_s",
    "time to collect": "spark.broadcast_collect_s",
}
NODE_KINDS = (
    "Exchange",
    "SortAggregate",
    "SortMergeJoin",
    "BroadcastHashJoin",
    "InMemoryTableScan",
    "WholeStageCodegen",
)
_SCALE = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}

# (module, attribute, layer metric prefix): the wrapped public functions
WRAPPED = (
    ("etl_template_spark.io", "load_table", "io.load_table"),
    ("etl_template_spark.io", "write_versioned", "io.write_versioned"),
    ("etl_template_spark.io", "read_versioned", "io.read_versioned"),
    ("etl_template_spark.io", "read_versioned_merged", "io.read_versioned"),
    ("etl_template_spark.io", "compact_versioned", "io.compaction"),
    ("etl_template_spark.io", "compact_merged_log", "io.compaction"),
    ("etl_template_spark.io", "prune_versions", "io.compaction"),
    ("etl_template_spark.operators.graph", "compact_edge_log", "io.compaction"),
    ("etl_template_spark.caching", "release_tracked", "caching.release_tracked"),
)

PER_LAYER = (
    "session.get_spark_s", "session.warmup_s", "session.jvm_peak_rss_mb",
    "io.load_table_calls", "io.load_table_s",
    "io.write_versioned_calls", "io.write_versioned_s", "io.read_versioned_s",
    "io.compaction_s", "io.versions_committed", "io.bytes_written",
    "io.write_amplification",
    "queries.build_s", "queries.build_jobs",
    "spark.plan_s", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.exec_s", "spark.tasks_failed",
    *OPERATOR_METRICS.values(),
    *(f"spark.nodes.{k}" for k in NODE_KINDS),
    "caching.frames_released", "caching.pin_hit_ratio",
    "pipeline.steps", "pipeline.step_s", "pipeline.manifest_writes",
    "pipeline.manifest_s", "pipeline.rows_out",
    "trace.wall_s", "trace.item_p50_s",
)


def parse_metric(text: str) -> float:
    """Spark's formatted SQL metric -> number in bytes, seconds or a count.
    Multi-task values read ``total (min, med, max ...)\\n<total> (...)``."""
    value = text.strip().splitlines()[-1].split(" (")[0].split()
    if not value:
        return 0.0
    number = float(value[0].replace(",", ""))
    return number * _SCALE[value[1]] if len(value) > 1 else number


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Tracer:
    """Collects per-layer counters for one traced run."""

    def __init__(self):
        self.totals: Counter = Counter()
        self.items: list[dict] = []
        self._lock = threading.Lock()
        self._depth = threading.local()
        self._tables_read: set[str] = set()
        self._group = 0
        self._last_execution = -1

    # -- function wrappers -------------------------------------------------
    def install(self) -> None:
        """Wrap WRAPPED and ``PipelineRun.save_status``.  Call after the
        package's modules are imported: names bound with ``from .io import
        load_table`` are replaced on every importing module too."""
        for mod_name, attr, metric in WRAPPED:
            mod = sys.modules[mod_name]
            original = getattr(mod, attr)
            wrapper = self._wrap(original, metric)
            for other in list(sys.modules.values()):
                if getattr(other, "__name__", "").startswith("etl_template_spark") and (
                    getattr(other, attr, None) is original
                ):
                    setattr(other, attr, wrapper)
        from etl_template_spark.pipeline import PipelineRun

        PipelineRun.save_status = self._wrap(PipelineRun.save_status, "pipeline.manifest")

    def _wrap(self, fn, metric: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            depth = getattr(self._depth, metric, 0)
            setattr(self._depth, metric, depth + 1)
            t0 = time.perf_counter()
            try:
                result = fn(*args, **kwargs)
            finally:
                setattr(self._depth, metric, depth)
            if depth:  # nested call of the same layer: counted by the outer one
                return result
            elapsed = time.perf_counter() - t0
            with self._lock:
                self.totals[f"{metric}_s"] += elapsed
                self.totals[f"{metric}_calls"] += 1
                if metric == "io.load_table":
                    sf_dir, name = (list(args[1:3]) + [kwargs.get("sf_dir"), kwargs.get("name")])[:2]
                    self._tables_read.add(os.path.join(sf_dir, f"{name}.parquet"))
                elif metric == "io.write_versioned":
                    self.totals["io.versions_committed"] += 1
                    self.totals["io.bytes_written"] += _dir_bytes(result[1])
                elif metric == "caching.release_tracked":
                    self.totals["caching.frames_released"] += result
            return result

        return wrapper

    # -- per-item Spark accounting -----------------------------------------
    def group(self, spark, phase: str) -> str:
        self._group += 1
        gid = f"perfbench-{self._group}-{phase}"
        spark.sparkContext.setJobGroup(gid, phase)
        return gid

    def start_measuring(self, spark) -> None:
        """Forget the set-up: its function calls and SQL executions are
        attributed to no item."""
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        self._new_executions(spark._jsparkSession.sharedState().statusStore())
        self.totals.clear()
        self._tables_read.clear()

    def _new_executions(self, store) -> list:
        count = store.executionsCount()
        out, offset, page = [], count, 64
        while offset > 0:
            start = max(0, offset - page)
            chunk = store.executionsList(start, offset - start)
            ids = [chunk.apply(i) for i in range(chunk.size())]
            fresh = [e for e in ids if e.executionId() > self._last_execution]
            out = fresh + out
            if len(fresh) < len(ids):
                break
            offset = start
        if out:
            self._last_execution = max(e.executionId() for e in out)
        return out

    def finish_item(self, spark, item: dict, groups: list[str], exec_start: float | None) -> None:
        """Read jobs, stages, tasks and SQL operator metrics of the item's
        job groups; ``exec_start`` (epoch seconds) splits planning from
        execution at the first SQL execution submitted after it."""
        sc = spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        jobs = stages = tasks = failed = 0
        for gid in groups:
            job_ids = tracker.getJobIdsForGroup(gid)
            jobs += len(job_ids)
            if gid.endswith("-build"):
                item["build_jobs"] = len(job_ids)
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    stages += 1
                    st = tracker.getStageInfo(sid)
                    if st:
                        tasks += st.numTasks
                        failed += st.numFailedTasks
        item.update(jobs=jobs, stages=stages, tasks=tasks, tasks_failed=failed)

        jvm = spark._jvm
        store = spark._jsparkSession.sharedState().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        mapper.registerModule(
            getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$")
        )
        ops: Counter = Counter()
        nodes: Counter = Counter()
        pins = 0
        first_exec_submit = None
        for e in self._new_executions(store):
            eid = e.executionId()
            submitted = e.submissionTime() / 1000.0
            if exec_start is not None and submitted >= exec_start:
                if first_exec_submit is None or submitted < first_exec_submit:
                    first_exec_submit = submitted
            values = json.loads(mapper.writeValueAsString(store.executionMetrics(eid)))
            for node in json.loads(mapper.writeValueAsString(store.planGraph(eid).allNodes())):
                name = node["name"]
                kind = "WholeStageCodegen" if name.startswith("WholeStageCodegen") else name
                if kind in NODE_KINDS:
                    nodes[kind] += 1
                for m in node["metrics"]:
                    raw = values.get(str(m["accumulatorId"]))
                    if raw is None:
                        continue
                    if m["name"] in OPERATOR_METRICS:
                        ops[OPERATOR_METRICS[m["name"]]] += parse_metric(raw)
                    elif kind == "InMemoryTableScan" and m["name"] == "number of output rows":
                        pins += parse_metric(raw) > 0
        item["operators"] = dict(ops)
        item["nodes"] = dict(nodes)
        item["pins_hit"] = pins
        if exec_start is not None:
            item["exec_submit"] = first_exec_submit

    # -- summary -------------------------------------------------------------
    def metrics(self, spark, session: dict, wall_s: float, item_times: list[float]) -> dict:
        t = self.totals
        out = dict.fromkeys(PER_LAYER, 0.0)
        out["session.get_spark_s"] = session["get_spark_s"]
        out["session.warmup_s"] = session["warmup_s"]
        out["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
        for key in ("io.load_table_calls", "io.load_table_s", "io.write_versioned_calls",
                    "io.write_versioned_s", "io.read_versioned_s", "io.compaction_s",
                    "io.versions_committed", "io.bytes_written", "caching.frames_released",
                    "pipeline.manifest_s"):
            out[key] = float(t[key])
        out["pipeline.manifest_writes"] = float(t["pipeline.manifest_calls"])
        input_bytes = sum(os.path.getsize(p) for p in self._tables_read if os.path.exists(p))
        out["io.write_amplification"] = t["io.bytes_written"] / input_bytes if input_bytes else 0.0
        pins = 0
        for it in self.items:
            out["queries.build_s"] += it.get("build_s", 0.0)
            out["queries.build_jobs"] += it.get("build_jobs", 0)
            out["spark.plan_s"] += it.get("plan_s", 0.0)
            out["spark.exec_s"] += it.get("exec_s", 0.0)
            for key in ("jobs", "stages", "tasks", "tasks_failed"):
                out[f"spark.{key}"] += it.get(key, 0)
            for key, v in it.get("operators", {}).items():
                out[key] += v
            for key, v in it.get("nodes", {}).items():
                out[f"spark.nodes.{key}"] += v
            pins += it.get("pins_hit", 0)
            for key in ("steps", "step_s", "rows_out"):
                out[f"pipeline.{key}"] += it.get(f"pipeline_{key}", 0)
        released = out["caching.frames_released"]
        out["caching.pin_hit_ratio"] = pins / released if released else 0.0
        out["trace.wall_s"] = wall_s
        out["trace.item_p50_s"] = statistics.median(item_times) if item_times else 0.0
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "items": self.items, "totals": dict(self.totals)}, f, indent=1, default=str)


def unit_of(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if "bytes" in metric:
        return "B"
    if metric.endswith("_mb"):
        return "MiB"
    if metric.endswith(("_ratio", "_amplification")):
        return "ratio"
    return "count"


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0

