#!/usr/bin/env python3
"""Benchmark for etl_template_spark.  Run from the repository root:

    python3 perfbench/run.py --workload headline-sf0.01 --seed 1 --seconds 10 --trace 0

One process, one client, closed loop: items run one after another on
``local[nproc]``.  The set-up (package import, session start and one
warm-up query, or for the pipelines one reference ETL run) is timed
first; then the seed-ordered items run until at least one full pass and
at least ``--seconds`` are done.  ``wall_s`` is the sum of the first
pass's item times.  Every item's output is checked against
``expected.json``, outside the timed part of the item.  Times discount
CPU steal (see ``steal_free``); the raw figures go to the line before
the result.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1`` (per-item detail
goes to ``.perfbench/trace/``).  ``--record`` runs every item of the
workload twice and, if both runs give the same outputs, replaces the
workload's entry in ``expected.json`` with them.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import datagen  # noqa: E402
from workloads import WARMUP_QUERY, WORKLOADS  # noqa: E402

EXPECTED_PATH = os.path.join(HERE, "expected.json")
DRIVER_MEM = "4g"  # the package default (16g) exceeds a 15 GiB host
NPROC = len(os.sched_getaffinity(0))
TICK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) CPU ticks summed over this VM's CPUs, from the first
    line of /proc/stat (stolen is field 8, as bench.py reads it); zeros
    where the counters do not exist."""
    try:
        with open("/proc/stat") as f:
            user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, f.readline().split()[1:9])
    except (OSError, ValueError):
        return 0, 0
    return user + nice + system + irq + softirq, steal


def steal_free(elapsed: float, ticks0: tuple[int, int], ticks1: tuple[int, int]) -> float:
    """``elapsed`` scaled by the share of the CPU time the work asked for
    that the hypervisor granted: busy / (busy + stolen).  Co-tenants on the
    shared host take CPU in bursts of tens of seconds that lengthen a run
    by up to 60%; idle CPUs are not stolen from, so stolen time slows the
    work in proportion to how many CPUs it keeps busy."""
    busy, stolen = ticks1[0] - ticks0[0], ticks1[1] - ticks0[1]
    return elapsed * busy / (busy + stolen) if busy > 0 and stolen > 0 else elapsed


class Runner:
    def __init__(self, spark, workload, sf_dir: str, work: str, expected: dict | None,
                 tracer=None):
        self.spark = spark
        self.workload = workload
        self.sf_dir = sf_dir
        self.work = work
        self.expected = expected
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.recorded: dict = {}
        self.check_s = 0.0  # time spent on output checks outside the item times

    def run_item(self, name: str) -> float:
        """Run one item and check its output (unless recording, when
        ``expected`` is None); return its steal-free time in seconds."""
        self.attempted += 1
        item = {"item": name}
        elapsed = float("nan")  # unless the item ran to the end
        try:
            if self.workload.kind == "pipelines":
                elapsed, got = self._pipeline(name, item)
            else:
                elapsed, got = self._query(name, item)
            raw = item.get("elapsed_s", elapsed)
            for phase in ("build_s", "plan_s", "exec_s"):  # traced split, same scale
                if phase in item and raw > 0:
                    item[phase] *= elapsed / raw
            self.recorded[name] = got
            if self.expected is not None:
                checks.verify(name, got, self.expected.get(name))
        except Exception as exc:  # an item failure is counted, not fatal
            self.failed += 1
            self.errors.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
            print(f"perfbench: item failed: {self.errors[-1]}", file=sys.stderr)
        finally:
            from etl_template_spark.caching import release_tracked

            release_tracked()  # drop builder-persisted intermediates
            self.spark.catalog.clearCache()
            self.check_s += item.get("check_s", 0.0)
            if self.tracer:
                self.tracer.items.append(item)
        return elapsed

    def _query(self, name: str, item: dict) -> tuple[float, dict]:
        from etl_template_spark.queries import REGISTRY

        tracer, groups = self.tracer, []
        if tracer:
            groups.append(tracer.group(self.spark, "build"))
        ticks0 = _cpu_ticks()
        t0 = time.perf_counter()
        df = REGISTRY[name].build(self.spark, self.sf_dir)
        t1 = time.perf_counter()
        if tracer:
            groups.append(tracer.group(self.spark, "exec"))
        observed, obs = checks.observe(df)
        exec_start = time.time()
        t2 = time.perf_counter()
        observed.write.mode("overwrite").format("noop").save()
        t3 = time.perf_counter()
        ticks1 = _cpu_ticks()
        item["elapsed_s"] = (t1 - t0) + (t3 - t2)
        if tracer:
            tracer.finish_item(self.spark, item, groups, exec_start)
            self.spark.sparkContext.setJobGroup("perfbench-idle", "idle")
            submit = item.pop("exec_submit", None)
            plan = min(max(0.0, submit - exec_start), t3 - t2) if submit else 0.0
            item.update(build_s=t1 - t0, plan_s=plan, exec_s=(t3 - t2) - plan)
        return steal_free(item["elapsed_s"], ticks0, ticks1), checks.observed_digest(obs)

    def _pipeline(self, name: str, item: dict) -> tuple[float, dict]:
        module = importlib.import_module(f"etl_template_spark.examples.{name}")
        root = os.path.join(self.work, "roots", f"{name}-{uuid.uuid4().hex[:8]}")
        groups = [self.tracer.group(self.spark, "exec")] if self.tracer else []
        ticks0 = _cpu_ticks()
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(sys.stderr):  # examples narrate on stdout
            result = module.run(root, self.sf_dir)
        elapsed = time.perf_counter() - t0
        ticks1 = _cpu_ticks()
        item["elapsed_s"] = elapsed
        got: dict = {}
        steps = getattr(result, "steps", None)
        if steps is not None:  # a Pipeline composition: check its manifest
            got["status"] = result.overall_status
            got["rows_out"] = {s: st.rows_out for s, st in sorted(steps.items())}
            item.update(
                pipeline_steps=len(steps),
                pipeline_step_s=sum((st.duration_millis or 0) for st in steps.values()) / 1000.0,
                pipeline_rows_out=sum((st.rows_out or 0) for st in steps.values()),
            )
        if self.tracer:
            self.tracer.finish_item(self.spark, item, groups, None)
            self.spark.sparkContext.setJobGroup("perfbench-idle", "idle")
            item.update(exec_s=elapsed)
        t_check = time.perf_counter()  # the output check is not the item's time
        try:
            got["outputs"] = checks.dataset_digests(self.spark, root)
        finally:
            shutil.rmtree(root, ignore_errors=True)
            item["check_s"] = time.perf_counter() - t_check
        return steal_free(elapsed, ticks0, ticks1), got


def record(runner: Runner, expected_all: dict) -> int:
    """Run every item of the workload twice, the second time in reverse
    order, and write its outputs to ``expected.json`` as the workload's new
    expected values.  Refuse, writing nothing, if an item fails or the two
    runs disagree: a check recorded from a nondeterministic output would
    fail at random."""
    names = list(runner.workload.names)
    for name in names:
        runner.run_item(name)
    first, runner.recorded = runner.recorded, {}
    for name in reversed(names):
        runner.run_item(name)
    differ = checks.disagreements(first, runner.recorded)
    print(json.dumps({"recorded": len(first), "errors": runner.errors, "disagree": differ}))
    if runner.errors or differ:
        print("perfbench: not recorded: items failed or disagree between runs", file=sys.stderr)
        return 1
    with open(EXPECTED_PATH, "w") as f:
        json.dump({**expected_all, runner.workload.name: first}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it forked)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="run every item twice and record its outputs in expected.json")
    args = ap.parse_args(argv)
    workload = WORKLOADS[args.workload]

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "etl_template_spark", "__init__.py")):
        print("perfbench: run from the repository root (no etl_template_spark/ here)",
              file=sys.stderr)
        return 2
    state = os.path.join(root, ".perfbench")
    work = os.path.join(state, "work", f"{args.workload}-{os.getpid()}")
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # one place for everything Spark and the package write: temp files,
    # shuffle files, catalog tables (spark-warehouse/ lands in the cwd)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(NPROC),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        # Spark's Python workers import the package from the checkout
        PYTHONPATH=os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
    )
    sys.path.insert(0, root)
    sf_dir = datagen.ensure_dataset(os.path.join(state, "data"), workload.sf)
    with open(EXPECTED_PATH) as f:
        expected_all = json.load(f)
    os.chdir(work)

    host = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": NPROC, "SPARK_GRAFT_CPUS": NPROC, "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
    }
    run_ticks0 = _cpu_ticks()

    # --- set-up: package import, session, warm-up ------------------------
    t_setup = time.perf_counter()
    import etl_template_spark

    if not os.path.abspath(etl_template_spark.__file__).startswith(root + os.sep):
        print(f"perfbench: imported {etl_template_spark.__file__}, not the checkout's",
              file=sys.stderr)
        os.chdir(root)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    from etl_template_spark.caching import release_tracked
    from etl_template_spark.queries import REGISTRY
    from etl_template_spark.session import get_spark

    tracer = None
    if args.trace:
        import etl_template_spark.examples  # noqa: F401
        import etl_template_spark.operators.graph  # noqa: F401
        import layers

        for name in workload.names if workload.kind == "pipelines" else ():
            importlib.import_module(f"etl_template_spark.examples.{name}")
        tracer = layers.Tracer()
        tracer.install()
    t_spark = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        },
    )
    try:
        t_warm = time.perf_counter()
        if workload.kind == "pipelines":
            # the reference ETL example, in no workload: warms the Pipeline,
            # versioned-write and manifest paths
            from etl_template_spark.examples import etl_template

            with contextlib.redirect_stdout(sys.stderr):
                etl_template.run(os.path.join(work, "roots", "warmup"))
        else:
            REGISTRY[WARMUP_QUERY].build(spark, sf_dir).write.mode("overwrite").format("noop").save()
            release_tracked()
            spark.catalog.clearCache()
        t_ready = time.perf_counter()
        session = {"get_spark_s": t_warm - t_spark, "warmup_s": t_ready - t_warm}
        setup_ticks = _cpu_ticks()
        setup_s = steal_free(t_ready - t_setup, run_ticks0, setup_ticks)
        host["raw_setup_s"] = t_ready - t_setup

        if args.record:
            return record(Runner(spark, workload, sf_dir, work, None), expected_all)
        runner = Runner(spark, workload, sf_dir, work, expected_all.get(args.workload, {}), tracer)

        # --- measured closed loop -----------------------------------------
        if tracer:
            tracer.start_measuring(spark)
        items = workload.items(args.seed)
        times: list[float] = []
        t0 = time.perf_counter()
        while len(times) < len(items) or time.perf_counter() - t0 < args.seconds:
            times.append(runner.run_item(items[len(times) % len(items)]))
        ok_times = [t for t in times if t == t]  # an item that raised carries NaN
        wall_s = sum(t for t in times[:len(items)] if t == t)
        host.update(
            items=len(items), executed=len(times),
            loop_s=time.perf_counter() - t0,  # with the output checks
            check_s=runner.check_s,
            # not an end-to-end metric: on pipelines the median of five
            # items flips between two of them from run to run
            item_p50_s=statistics.median(ok_times) if ok_times else None,
            # first-pass time of each item, to set against a traced run's split
            item_s={name: times[k] for k, name in enumerate(items)},
            setup_steal_s=(setup_ticks[1] - run_ticks0[1]) / TICK,
            run_steal_s=(_cpu_ticks()[1] - run_ticks0[1]) / TICK,
        )
        if args.trace:
            values = tracer.metrics(spark, session, wall_s, ok_times)
            units = {k: layers.unit_of(k) for k in values}
            tracer.dump(
                os.path.join(state, "trace", f"{args.workload}-seed{args.seed}.json"),
                {"host": host, "errors": runner.errors},
            )
        else:
            values = {"setup_s": setup_s, "wall_s": wall_s}
            units = dict.fromkeys(values, "s")
        print(json.dumps({"host": host, "errors": runner.errors}))
        print(json.dumps({
            "correct": runner.failed == 0,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
        }))
        return 0
    finally:
        _stop(spark)
        os.chdir(root)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
