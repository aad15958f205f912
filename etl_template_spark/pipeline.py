"""Pipeline orchestration: the reference's control plane on Spark.

Reference parity (/root/reference/tools/tools.go, etl.go):

- ``PipelineRun`` / ``StepStatus`` — run + per-step status with
  start/end/duration/message, persisted as JSON
  (tools.go:40-57, 84-93, 233-250).  The manifest mirrors the
  reference's field names (RunID, StepName, Status, StartTime, EndTime,
  DurationMillis, Message) so a user of the reference can read ours.
- ``execute_step`` — set Running → invoke → Completed/Failed, log,
  persist, fail-fast (tools.go:97-116).  The reference calls
  ``os.Exit(1)``; the engine raises ``StepFailed`` after persisting, so
  embedding applications keep control.
- ``knoll`` / ``stow`` — scratch-workspace init and final status
  persistence (tools.go:254-272).
- Resume — the reference checkpoints per RECORD inside a step
  (``LoopState``, tools.go:59-62, 611-648): one fsync per record, its
  dominant cost, and meaningless at 100 TB.  The engine checkpoints per
  STEP: a completed step records its output version in the manifest;
  re-running the pipeline with ``resume=True`` skips completed steps and
  re-executes from the first non-completed one.  Spark's atomic output
  commit (``_temporary`` + rename) guarantees a failed step leaves no
  committed output — the reference's delete-partial-output-on-error
  (etl.go:90-95, 124-130) for free — so idempotent step re-run replaces
  the per-record cursor.
- Retry — per-record retry with delay (tools.go:64-70, 733-761) maps to
  per-STEP bounded retry here; inside a job Spark's own
  ``spark.task.maxFailures`` retries tasks.

Status values keep the reference's vocabulary: Pending / Running /
Completed / Failed (tools.go:30-37).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .caching import release_tracked
from .io import read_versioned, register_versioned_table, write_versioned

STATUS_PENDING = "Pending"
STATUS_RUNNING = "Running"
STATUS_COMPLETED = "Completed"
STATUS_FAILED = "Failed"


class StepFailed(RuntimeError):
    """A pipeline step raised; the run is marked Failed and aborted
    (fail-fast, tools.go:105-115 — minus the os.Exit)."""


def _now_millis() -> int:
    return int(time.time() * 1000)


@dataclass
class StepStatus:
    """Per-step status record (mirrors tools.go:40-47)."""

    step_name: str
    status: str = STATUS_PENDING
    start_time_millis: int | None = None
    end_time_millis: int | None = None
    duration_millis: int | None = None
    message: str = ""
    output_version: int | None = None
    rows_out: int | None = None

    def to_json(self) -> dict[str, Any]:
        return {
            "StepName": self.step_name,
            "Status": self.status,
            "StartTimeMillis": self.start_time_millis,
            "EndTimeMillis": self.end_time_millis,
            "DurationMillis": self.duration_millis,
            "Message": self.message,
            "OutputVersion": self.output_version,
            "RowsOut": self.rows_out,
        }

    @classmethod
    def from_json(cls, d: dict[str, Any]) -> "StepStatus":
        return cls(
            step_name=d["StepName"],
            status=d.get("Status", STATUS_PENDING),
            start_time_millis=d.get("StartTimeMillis"),
            end_time_millis=d.get("EndTimeMillis"),
            duration_millis=d.get("DurationMillis"),
            message=d.get("Message", ""),
            output_version=d.get("OutputVersion"),
            rows_out=d.get("RowsOut"),
        )


@dataclass
class PipelineRun:
    """A pipeline run: ordered steps, fail-fast, JSON status manifest.

    ``status_path`` plays the role of the reference's
    ``output/status/etl_run_status.json`` (etl.go:149).
    """

    name: str
    status_path: str
    run_id: str | None = None
    steps: dict[str, StepStatus] = field(default_factory=dict)
    step_order: list[str] = field(default_factory=list)
    overall_status: str = STATUS_PENDING

    def __post_init__(self) -> None:
        if self.run_id is None:
            # wall-clock run id, as the reference does (tools.go:87)
            self.run_id = time.strftime("%Y%m%d-%H%M%S") + f"-{_now_millis() % 1000:03d}"

    # -- status manifest ----------------------------------------------------

    def to_json(self) -> dict[str, Any]:
        return {
            "PipelineName": self.name,
            "RunID": self.run_id,
            "OverallStatus": self.overall_status,
            "Steps": [self.steps[n].to_json() for n in self.step_order],
        }

    def save_status(self) -> None:
        """Persist the manifest (tools.go:233-250); atomic rename so a
        crash mid-write never leaves a truncated manifest."""
        os.makedirs(os.path.dirname(self.status_path) or ".", exist_ok=True)
        tmp = f"{self.status_path}.tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(self.to_json(), f, indent=2)
        os.replace(tmp, self.status_path)

    @classmethod
    def load_status(cls, name: str, status_path: str) -> "PipelineRun | None":
        if not os.path.isfile(status_path):
            return None
        with open(status_path) as f:
            d = json.load(f)
        run = cls(name=name, status_path=status_path, run_id=d.get("RunID"))
        run.overall_status = d.get("OverallStatus", STATUS_PENDING)
        for sd in d.get("Steps", []):
            st = StepStatus.from_json(sd)
            run.steps[st.step_name] = st
            run.step_order.append(st.step_name)
        return run

    def log_status(self) -> str:
        """Console status dump (tools.go:191-230); returns the text."""
        lines = [f"Pipeline {self.name} run {self.run_id}: {self.overall_status}"]
        for n in self.step_order:
            s = self.steps[n]
            dur = f" ({s.duration_millis} ms)" if s.duration_millis is not None else ""
            msg = f" — {s.message}" if s.message else ""
            lines.append(f"  [{s.status:>9}] {n}{dur}{msg}")
        text = "\n".join(lines)
        print(text)
        return text

    # -- execution ----------------------------------------------------------

    def execute_step(
        self,
        step_name: str,
        step_fn: Callable[[], Any],
        max_retries: int = 0,
        retry_delay_seconds: float = 0.0,
    ) -> Any:
        """Run one named step with Running→Completed/Failed accounting
        (tools.go:97-116) and optional bounded retry (tools.go:64-70
        generalized from per-record to per-step)."""
        st = self.steps.setdefault(step_name, StepStatus(step_name))
        if step_name not in self.step_order:
            self.step_order.append(step_name)
        st.status = STATUS_RUNNING
        st.start_time_millis = _now_millis()
        if self.overall_status == STATUS_PENDING:
            self.overall_status = STATUS_RUNNING
        self.save_status()

        attempt = 0
        while True:
            try:
                result = step_fn()
                break
            except Exception as exc:  # noqa: BLE001 — any step error fails the step
                attempt += 1
                if attempt <= max_retries:
                    time.sleep(retry_delay_seconds)
                    continue
                st.status = STATUS_FAILED
                st.end_time_millis = _now_millis()
                st.duration_millis = st.end_time_millis - (st.start_time_millis or 0)
                st.message = f"{type(exc).__name__}: {exc}"
                self.overall_status = STATUS_FAILED
                self.save_status()
                raise StepFailed(
                    f"step {step_name!r} failed after {attempt} attempt(s): {exc}\n"
                    + traceback.format_exc()
                ) from exc

        st.status = STATUS_COMPLETED
        st.end_time_millis = _now_millis()
        st.duration_millis = st.end_time_millis - (st.start_time_millis or 0)
        self.save_status()
        return result

    def stow(self) -> None:
        """Final persistence (tools.go:267-272): roll up overall status."""
        if all(s.status == STATUS_COMPLETED for s in self.steps.values()) and self.steps:
            self.overall_status = STATUS_COMPLETED
        self.save_status()


def knoll(scratch_dir: str) -> None:
    """Workspace init (tools.go:254-263): ensure + wipe the scratch dir."""
    if os.path.isdir(scratch_dir):
        shutil.rmtree(scratch_dir)
    os.makedirs(scratch_dir, exist_ok=True)


# ---------------------------------------------------------------------------
# Declarative pipeline: steps as data (the //goetl: annotation intent,
# etl.go:25,71,101, made real)
# ---------------------------------------------------------------------------


@dataclass
class Step:
    """One declared step: reads the latest version of ``input_step``
    (or nothing for an extract), applies ``fn``, writes a new version
    under its own name.  ``fn`` receives (spark, input_df_or_None)."""

    name: str
    fn: Callable[[SparkSession, DataFrame | None], DataFrame]
    input_step: str | None = None
    fmt: str = "parquet"
    partition_by: list[str] | None = None
    max_retries: int = 0
    retry_delay_seconds: float = 0.0
    # register the written version as a catalog table with table+column
    # statistics (io.register_versioned_table) so downstream steps'
    # joins get CBO cardinalities; costs one stats scan per write.
    register_stats: bool = False


class Pipeline:
    """Ordered, fail-fast, resumable linear pipeline over versioned
    datasets — ``main`` from etl.go:146-159 as a declared object.

    Each completed step records its output version in the manifest; with
    ``resume=True`` a re-run skips steps already Completed in the
    manifest (step-level checkpointing — see module docstring for why
    this supersedes the reference's per-record LoopState)."""

    def __init__(self, name: str, data_root: str, status_path: str | None = None):
        self.name = name
        self.data_root = data_root
        self.status_path = status_path or os.path.join(data_root, "status", f"{name}.json")
        self.steps: list[Step] = []

    def step(self, name: str, fn, input_step: str | None = None, **kw) -> "Pipeline":
        # a consumer reads the version its producer recorded in THIS run;
        # an unknown or later-declared producer has none yet
        # (output_version=None), so the read would fall back to the latest
        # committed version — FileNotFoundError on a fresh root, or
        # silently the PREVIOUS run's output on a reused one.  A typo'd or
        # forward dependency therefore fails at declaration.
        declared = {s.name: s for s in self.steps}
        if input_step is not None and input_step not in declared:
            raise ValueError(
                f"step {name!r}: input_step {input_step!r} is not a "
                f"previously declared step (have: {sorted(declared)}) — "
                "declare producers before consumers"
            )
        if name in declared:
            raise ValueError(f"duplicate step name {name!r}")
        # the consumer's read is parquet: a JSON read needs a schema that
        # a Step does not carry, so only leaf steps may write JSON
        if input_step is not None and declared[input_step].fmt != "parquet":
            raise ValueError(
                f"step {name!r}: input_step {input_step!r} writes "
                f"{declared[input_step].fmt!r}; only parquet steps can feed "
                "another step"
            )
        self.steps.append(Step(name=name, fn=fn, input_step=input_step, **kw))
        return self

    def run(self, spark: SparkSession, resume: bool = False) -> PipelineRun:
        """Execute the steps one at a time, in declaration order, fail-fast
        (etl.go:146-159): the first step that still fails after its retries
        marks the run Failed, leaves every later step Pending and raises
        ``StepFailed``.  Parallelism lives inside each step's Spark jobs.
        With ``resume=True`` steps the previous run completed are skipped."""
        prev = PipelineRun.load_status(self.name, self.status_path) if resume else None
        run = PipelineRun(name=self.name, status_path=self.status_path)
        for s in self.steps:
            run.steps[s.name] = StepStatus(s.name)
            run.step_order.append(s.name)

        try:
            for s in self.steps:
                done = (
                    prev is not None
                    and s.name in prev.steps
                    and prev.steps[s.name].status == STATUS_COMPLETED
                    and prev.steps[s.name].output_version is not None
                )
                if done:
                    # step-level checkpoint hit: carry the prior result forward
                    run.steps[s.name] = prev.steps[s.name]
                    run.steps[s.name].message = "skipped (resume: already completed)"
                    continue
                run.execute_step(
                    s.name,
                    lambda s=s: self._attempt(spark, run, s),
                    max_retries=s.max_retries,
                    retry_delay_seconds=s.retry_delay_seconds,
                )
        finally:
            run.stow()
        return run

    def _attempt(self, spark: SparkSession, run: PipelineRun, s: Step) -> int:
        """One attempt at step ``s``: read its input, apply ``fn``, write
        the next version; returns the version written."""
        try:
            # pin the input to the version THIS run recorded for the
            # producer: on resume, a skipped producer carries its original
            # output_version forward, and reading "latest" instead could
            # consume a version some OTHER writer committed since — the
            # manifest would then assert a provenance that never happened.
            # Fresh runs pin the version the producer just wrote (identical
            # to latest under the single-writer contract, but stated).
            if s.input_step:
                in_ver = run.steps[s.input_step].output_version
                df_in = read_versioned(
                    spark, self.data_root, s.input_step, version=in_ver
                )
            else:
                df_in = None
            df_out = s.fn(spark, df_in)
            # R19 parity (LoopProgressManager, tools.go:891-951): the
            # output row count rides the write job as an observed
            # metric — no second scan of the written data.
            obs = Observation(f"{self.name}.{s.name}.rows")
            df_out = df_out.observe(obs, F.count(F.lit(1)).alias("rows_out"))
            version, _ = write_versioned(
                df_out, self.data_root, s.name, fmt=s.fmt, partition_by=s.partition_by
            )
            run.steps[s.name].output_version = version
            run.steps[s.name].rows_out = obs.get["rows_out"]
            if s.register_stats and s.fmt == "parquet":
                register_versioned_table(spark, self.data_root, s.name, version=version)
            return version
        finally:
            # the write materialized df_out, so any intermediates its
            # builder persisted (caching.persist_tracked) are dead
            # weight — and so are a failed attempt's, so retries never
            # pile up pins.  Drop them before the next attempt or step.
            release_tracked()
