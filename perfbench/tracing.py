"""Operation timing and the traced run's per-layer record.

Every workload runs its work as *operations* (one query, one pipeline
fit, one index add, ...), each split into *phases* (``construct``,
``exec``, ``fit``, ``apply``, ``write``, ``read``). ``Recorder`` times
every phase with ``perf_counter``. With tracing on it also

- runs each phase under its own Spark job group and reads the phase's
  job ids from ``statusTracker`` right after it;
- reads Catalyst's analysis / optimization / planning time from the
  DataFrame's own ``queryExecution().tracker()`` after forcing
  ``executedPlan()`` (a ``noop`` write plans a separate QueryExecution,
  whose tracker would show only analysis);
- attributes the uncompressed Spark event log's job, stage and task
  events to those job ids (``parse_event_log``), which gives executor,
  shuffle, spill, scan and Python-worker figures per phase.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Spark's SQL accumulables carried on task-end events, by the name the
# event log gives them; all are per-task updates (ms or bytes)
ACCUMULABLES = {
    "scan time": "scan_ms",
    "time to run Python workers": "py_run_ms",
    "time to start Python workers": "py_start_ms",
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_returned_bytes",
}

# event-log confs for the traced run: PySpark 4.1 otherwise writes zstd
# rolling directories that the standard library cannot read
def event_log_confs(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
    }


@dataclass
class Phase:
    name: str
    seconds: float = 0.0
    jobs: list[int] = field(default_factory=list)


@dataclass
class Op:
    """One timed operation of one pass."""

    pass_no: int  # 0 is the untimed warm-up pass
    kind: str     # e.g. "query", "fit", "index.bm25.add"
    name: str     # e.g. "b3_topk_window"
    phases: list[Phase] = field(default_factory=list)
    catalyst_ms: dict[str, int] = field(default_factory=dict)
    ok: bool = True
    error: str | None = None

    @property
    def seconds(self) -> float:
        return sum(p.seconds for p in self.phases)


class OpHandle:
    def __init__(self, rec: "Recorder", op: Op):
        self.rec, self.op = rec, op

    @contextmanager
    def phase(self, name: str):
        ph = Phase(name)
        self.op.phases.append(ph)
        group = None
        if self.rec.traced:
            group = f"{self.op.pass_no}|{self.op.kind}|{self.op.name}|{name}|{len(self.rec.ops)}"
            self.rec.sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            yield ph
        finally:
            ph.seconds = time.perf_counter() - t0
            if group is not None:
                st = self.rec.sc.statusTracker()
                ph.jobs = sorted(st.getJobIdsForGroup(group))
                self.rec.sc.setJobGroup("perfbench-idle", "perfbench-idle")

    def catalyst(self, df) -> None:
        """Traced runs only: force planning on ``df``'s own
        QueryExecution and record its phase times (ms)."""
        if not self.rec.traced:
            return
        with self.phase("catalyst"):
            self.op.catalyst_ms = catalyst_phases(self.rec.spark, df)


class Recorder:
    """Collects the ``Op`` records of one run."""

    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.traced = traced
        self.ops: list[Op] = []
        self.pass_no = 0

    @contextmanager
    def op(self, kind: str, name: str):
        """Time one operation; an exception marks it failed and is
        re-raised for the workload to count."""
        op = Op(self.pass_no, kind, name)
        self.ops.append(op)
        try:
            yield OpHandle(self, op)
        except Exception as e:  # noqa: BLE001 - recorded, then re-raised
            op.ok = False
            op.error = f"{type(e).__name__}: {str(e)[:300]}"
            raise

    def pass_ops(self, pass_no: int) -> list[Op]:
        return [o for o in self.ops if o.pass_no == pass_no]


def catalyst_phases(spark, df) -> dict[str, int]:
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        qe.tracker().phases()
    )
    return {str(k): int(phases.get(k).durationMs()) for k in phases.keySet()}


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

@dataclass
class JobStats:
    job_id: int
    group: str | None = None
    submit_ms: int | None = None
    end_ms: int | None = None
    stages: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    fetch_wait_ms: int = 0
    spill_bytes: int = 0
    peak_exec_mem_bytes: int = 0
    input_bytes: int = 0
    acc: dict[str, int] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        if self.submit_ms is None or self.end_ms is None:
            return 0.0
        return (self.end_ms - self.submit_ms) / 1000.0


_WANTED = (
    '"SparkListenerJobStart"', '"SparkListenerJobEnd"',
    '"SparkListenerStageCompleted"', '"SparkListenerTaskEnd"',
)


def _num(v) -> int:
    try:
        return int(float(v))
    except (TypeError, ValueError):
        return 0


def parse_event_log(path: str) -> dict[int, JobStats]:
    """Per-job totals from an uncompressed Spark event log (one JSON
    object per line). Stages and tasks are attributed to the job that
    submitted them; a stage shared by several jobs counts for the first."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            head = line[:48]
            if not any(w in head for w in _WANTED):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                j = jobs.setdefault(ev["Job ID"], JobStats(ev["Job ID"]))
                j.submit_ms = ev.get("Submission Time")
                j.group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for s in ev.get("Stage IDs", ()):
                    stage_job.setdefault(s, j.job_id)
            elif kind == "SparkListenerJobEnd":
                j = jobs.setdefault(ev["Job ID"], JobStats(ev["Job ID"]))
                j.end_ms = ev.get("Completion Time")
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in stage_job:
                    jobs[stage_job[sid]].stages += 1
            else:  # task end
                jid = stage_job.get(ev.get("Stage ID"))
                if jid is None:
                    continue
                _add_task(jobs[jid], ev)
    return jobs


def _add_task(j: JobStats, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    j.tasks += 1
    j.run_ms += _num(m.get("Executor Run Time"))
    j.cpu_ns += _num(m.get("Executor CPU Time"))
    j.gc_ms += _num(m.get("JVM GC Time"))
    j.spill_bytes += _num(m.get("Memory Bytes Spilled")) + _num(m.get("Disk Bytes Spilled"))
    j.peak_exec_mem_bytes = max(j.peak_exec_mem_bytes, _num(m.get("Peak Execution Memory")))
    j.shuffle_write_bytes += _num((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written"))
    j.fetch_wait_ms += _num((m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time"))
    j.input_bytes += _num((m.get("Input Metrics") or {}).get("Bytes Read"))
    for a in (ev.get("Task Info") or {}).get("Accumulables", ()):
        key = ACCUMULABLES.get(a.get("Name"))
        if key:
            j.acc[key] = j.acc.get(key, 0) + _num(a.get("Update"))


def find_event_log(log_dir: str, app_id: str) -> str | None:
    for name in (app_id, app_id + ".inprogress"):
        p = os.path.join(log_dir, name)
        if os.path.isfile(p):
            return p
    return None


def exec_totals(jobs) -> dict[str, float]:
    """Sum the per-layer execution figures over ``jobs``."""
    jobs = list(jobs)
    acc = lambda k: sum(j.acc.get(k, 0) for j in jobs)  # noqa: E731
    mb = 2**20
    return {
        "exec.s": sum(j.seconds for j in jobs),
        "exec.jobs": len(jobs),
        "exec.stages": sum(j.stages for j in jobs),
        "exec.tasks": sum(j.tasks for j in jobs),
        "exec.task_cpu_s": sum(j.cpu_ns for j in jobs) / 1e9,
        "exec.gc_s": sum(j.gc_ms for j in jobs) / 1000.0,
        "exec.shuffle_write_mb": sum(j.shuffle_write_bytes for j in jobs) / mb,
        "exec.shuffle_fetch_wait_s": sum(j.fetch_wait_ms for j in jobs) / 1000.0,
        "exec.spill_mb": sum(j.spill_bytes for j in jobs) / mb,
        "exec.peak_exec_mem_mb": max((j.peak_exec_mem_bytes for j in jobs), default=0) / mb,
        "sources.scan_s": acc("scan_ms") / 1000.0,
        "sources.input_mb": sum(j.input_bytes for j in jobs) / mb,
        "python.run_s": acc("py_run_ms") / 1000.0,
        "python.start_s": acc("py_start_ms") / 1000.0,
        "python.sent_mb": acc("py_sent_bytes") / mb,
        "python.returned_mb": acc("py_returned_bytes") / mb,
    }
