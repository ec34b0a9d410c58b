"""Per-layer tracing for the benchmark, recorded from the benchmark's own
code: the library is never edited, only the names it calls through are
wrapped for the length of a traced run.

A traced operation yields a set of intervals on one wall clock:

- Python spans the benchmark records around calls into a layer
  (``build``, ``load_table``, ``llm.*``, ``commit``, ``read_build``,
  ``plan``, ``transfer``), nested as the calls nest;
- Catalyst phases (analysis, optimization, planning) read from the final
  DataFrame's ``QueryPlanningTracker``;
- Spark jobs, read from the event log after the session stops and
  matched to the operation by its job group.

:func:`attribute` turns those into self times that partition the
operation's wall time exactly: every instant goes to a running job if
there is one (``exec``), else to an active Catalyst phase, else to the
innermost Python span, else to ``unaccounted``.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import inspect
import json
import os
import re
import statistics
import time
from dataclasses import dataclass, field

#: layer of each span name; ``llm.<fn>`` spans map to ``llm``
SPAN_LAYER = {
    "op": "unaccounted",
    "build": "queries",
    "load_table": "catalog",
    "plan": "catalyst",
    "analysis": "catalyst",
    "optimization": "catalyst",
    "planning": "catalyst",
    "job": "exec",
    "transfer": "transfer",
    "commit": "snapshots",
    "read_build": "snapshots",
}

#: Catalyst phases read from the tracker, in execution order
PHASES = ("analysis", "optimization", "planning")

#: modules that bind ``load_table`` at import and call it by that name
CATALOG_IMPORTERS = (
    "catalog",
    "queries.analytics",
    "queries.cleaning",
    "queries.dashboard",
    "queries.llm_queries",
    "queries.serving",
    "queries.windows",
)

#: modules whose public functions make up the ``llm`` layer
LLM_MODULES = ("llm.dedup", "llm.sparse_sim")


def layer_of(name: str) -> str:
    return "llm" if name.startswith("llm.") else SPAN_LAYER[name]


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    depth: int


@dataclass
class OpTrace:
    op_id: str
    kind: str
    spans: list[Span] = field(default_factory=list)
    phases: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)


class NullTracer:
    """The untraced run: spans cost one no-op context manager."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    def plan(self, df) -> None:
        pass

    def note_df(self, df) -> None:
        pass

    def count(self, key: str, value: float) -> None:
        pass


class Tracer(NullTracer):
    """Records spans per operation; one instance per traced run."""

    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.ops: list[OpTrace] = []
        self._cur: OpTrace | None = None
        self._depth = 0
        self._dfs: list = []
        self._restore: list[tuple[object, str, object]] = []

    # -- operations ------------------------------------------------------
    @contextlib.contextmanager
    def op(self, op_id: str, kind: str):
        self.spark.sparkContext.setJobGroup(op_id, kind)
        self._cur = OpTrace(op_id, kind)
        self._dfs = []
        with self.span("op"):
            yield self._cur
        for df in self._dfs:
            self._cur.phases.extend(_tracker_phases(df))
        self.ops.append(self._cur)
        self._cur = None
        self.spark.sparkContext.setJobGroup("aux-" + op_id, "aux")

    @contextlib.contextmanager
    def span(self, name: str):
        if self._cur is None:
            yield
            return
        depth = self._depth
        self._depth += 1
        t0 = time.time()
        try:
            yield
        finally:
            self._depth = depth
            self._cur.spans.append(Span(name, t0, time.time(), depth))

    def plan(self, df) -> None:
        """Run optimization and physical planning now, in their own span,
        so that ``transfer`` holds only execution and Arrow collection."""
        with self.span("plan"):
            df._jdf.queryExecution().executedPlan()

    def note_df(self, df) -> None:
        self._dfs.append(df)

    def count(self, key: str, value: float) -> None:
        """Add ``value`` to a count of the current (else the last) op."""
        op = self._cur or self.ops[-1]
        op.counts[key] = op.counts.get(key, 0) + value

    # -- layer wrappers --------------------------------------------------
    def install(self, package: str) -> None:
        """Wrap ``load_table`` where it is bound and the public functions
        of the llm modules, for the life of this tracer."""
        for mod_name in CATALOG_IMPORTERS:
            mod = importlib.import_module(f"{package}.{mod_name}")
            self._wrap(mod, "load_table", "load_table")
        llm_funcs = {}
        for mod_name in LLM_MODULES:
            mod = importlib.import_module(f"{package}.{mod_name}")
            for attr, fn in list(vars(mod).items()):
                if (
                    inspect.isfunction(fn)
                    and not attr.startswith("_")
                    and fn.__module__ == mod.__name__
                ):
                    llm_funcs[id(fn)] = f"llm.{attr}"
                    self._wrap(mod, attr, f"llm.{attr}")
        llm_queries = importlib.import_module(f"{package}.queries.llm_queries")
        for attr, fn in list(vars(llm_queries).items()):
            if inspect.isfunction(fn) and id(fn) in llm_funcs:
                self._wrap(llm_queries, attr, llm_funcs[id(fn)])

    def _wrap(self, mod, attr: str, span_name: str) -> None:
        orig = getattr(mod, attr)

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            with self.span(span_name):
                return orig(*args, **kwargs)

        self._restore.append((mod, attr, orig))
        setattr(mod, attr, wrapped)

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._restore):
            setattr(mod, attr, orig)
        self._restore.clear()


def _tracker_phases(df) -> list[Span]:
    phases = df._jdf.queryExecution().tracker().phases()
    out = []
    for name in PHASES:
        opt = phases.get(name)
        if opt.isDefined():
            p = opt.get()
            out.append(Span(name, p.startTimeMs() / 1000, p.endTimeMs() / 1000, -1))
    return out


# -- event log -------------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of every uncompressed event-log file under ``log_dir``."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        with open(path, encoding="utf-8") as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


@dataclass
class StageStats:
    stage_id: int
    job_group: str
    name: str
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: float = 0
    cpu_ms: float = 0
    gc_ms: float = 0
    wait_ms: float = 0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_records: int = 0
    spill_bytes: int = 0
    task_ms: list[float] = field(default_factory=list)

    def skew(self) -> float:
        """Longest task over the median task, by task wall time."""
        if not self.task_ms:
            return 0.0
        med = statistics.median(self.task_ms)
        return max(self.task_ms) / med if med > 0 else 1.0

    def row(self) -> dict:
        return {
            "stage": self.stage_id,
            "name": self.name,
            "tasks": self.tasks,
            "failed_tasks": self.failed_tasks,
            "run_ms": self.run_ms,
            "cpu_ms": round(self.cpu_ms, 3),
            "gc_ms": self.gc_ms,
            "scheduler_wait_ms": self.wait_ms,
            "input_bytes": self.input_bytes,
            "shuffle_read_bytes": self.shuffle_read_bytes,
            "shuffle_write_bytes": self.shuffle_write_bytes,
            "shuffle_records": self.shuffle_records,
            "spill_bytes": self.spill_bytes,
            "task_skew": round(self.skew(), 3),
        }


@dataclass
class JobStats:
    job_id: int
    job_group: str
    start: float  # epoch seconds
    end: float
    succeeded: bool


def parse_events(events: list[dict]) -> tuple[dict[int, JobStats], dict[int, StageStats]]:
    """Jobs (with their job group and wall interval) and completed stages
    (with task metrics summed over their tasks) from event-log events.

    ``scheduler_wait_ms`` is the time tasks waited between their stage's
    submission and their launch, i.e. for a free executor slot.
    """
    jobs: dict[int, JobStats] = {}
    stage_group: dict[int, str] = {}
    stages: dict[int, StageStats] = {}
    submitted: dict[int, float] = {}
    tasks: list[dict] = []
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id", "")
            jid = e["Job ID"]
            start = e["Submission Time"] / 1000
            jobs[jid] = JobStats(jid, group, start, start, False)
            for sid in e.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(e["Job ID"])
            if job is not None:
                job.end = e["Completion Time"] / 1000
                job.succeeded = e.get("Job Result", {}).get("Result") == "JobSucceeded"
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            if "Submission Time" in info:
                submitted[info["Stage ID"]] = info["Submission Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            sid = info["Stage ID"]
            submitted.setdefault(sid, info.get("Submission Time", 0))
            # the call site, without the directories of its file
            name = re.sub(r"\S*/", "", info.get("Stage Name", ""))
            stages[sid] = StageStats(sid, stage_group.get(sid, ""), name)
        elif kind == "SparkListenerTaskEnd":
            tasks.append(e)
    for e in tasks:
        st = stages.get(e["Stage ID"])
        if st is None:
            continue
        info = e.get("Task Info", {})
        m = e.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics", {})
        sw = m.get("Shuffle Write Metrics", {})
        st.tasks += 1
        st.failed_tasks += int(bool(info.get("Failed")) or bool(info.get("Killed")))
        st.run_ms += m.get("Executor Run Time", 0)
        st.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
        st.gc_ms += m.get("JVM GC Time", 0)
        launch = info.get("Launch Time", 0)
        st.wait_ms += max(0, launch - submitted.get(st.stage_id, launch))
        st.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
        st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
        st.shuffle_records += sw.get("Shuffle Records Written", 0)
        st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        st.task_ms.append(max(0, info.get("Finish Time", launch) - launch))
    return jobs, stages


# -- attribution -----------------------------------------------------------


def attribute(op: OpTrace, jobs: list[JobStats]) -> dict[str, float]:
    """Self time in ms per span name for one operation.

    The values sum to the operation's wall time: each elementary interval
    between span boundaries inside the op goes to exactly one owner, by
    the priority job > Catalyst phase > innermost Python span > the op
    itself (reported as ``op`` and meaning unaccounted time).
    """
    root = next(s for s in op.spans if s.name == "op")
    lo, hi = root.start, root.end
    clip = [
        (max(lo, j.start), min(hi, j.end), "job", 3, 0) for j in jobs
    ] + [
        (max(lo, p.start), min(hi, p.end), p.name, 2, 0) for p in op.phases
    ] + [
        (s.start, s.end, s.name, 1, s.depth) for s in op.spans
    ]
    clip = [c for c in clip if c[1] > c[0]]
    cuts = sorted({lo, hi, *(c[0] for c in clip), *(c[1] for c in clip)})
    out: dict[str, float] = {}
    for a, b in zip(cuts, cuts[1:]):
        if b <= lo or a >= hi:
            continue
        mid = (a + b) / 2
        live = [c for c in clip if c[0] <= mid < c[1]]
        owner = max(live, key=lambda c: (c[3], c[4]))[2] if live else "op"
        out[owner] = out.get(owner, 0.0) + (b - a) * 1000
    return out


def op_layers(
    op: OpTrace, jobs: dict[int, JobStats], stages: dict[int, StageStats]
) -> tuple[dict[str, float], dict[str, float]]:
    """Per-layer metrics of one traced operation, and its self time per
    layer (``unaccounted`` included), which sums to its wall time."""
    op_jobs = [j for j in jobs.values() if j.job_group == op.op_id]
    self_ms = attribute(op, op_jobs)
    by_layer: dict[str, float] = {}
    for name, ms in self_ms.items():
        by_layer[layer_of(name)] = by_layer.get(layer_of(name), 0.0) + ms
    wall = next(s for s in op.spans if s.name == "op")
    builds = [s for s in op.spans if s.name == "build"]
    op_stages = [st for st in stages.values() if st.job_group == op.op_id]
    widest = max(op_stages, key=lambda st: st.tasks, default=None)

    def self_of(pred) -> float:
        return sum(v for k, v in self_ms.items() if pred(k))

    m = {
        "trace.op_wall_ms": (wall.end - wall.start) * 1000,
        "trace.unaccounted_ms": self_ms.get("op", 0.0),
        "catalog.load_calls": sum(1 for s in op.spans if s.name == "load_table"),
        "catalog.load_ms": self_ms.get("load_table", 0.0),
        "queries.build_ms": self_ms.get("build", 0.0),
        "queries.build_jobs": sum(
            1 for j in op_jobs if any(b.start <= j.start < b.end for b in builds)
        ),
        "catalyst.analysis_ms": self_ms.get("analysis", 0.0),
        "catalyst.optimization_ms": self_ms.get("optimization", 0.0),
        "catalyst.planning_ms": self_ms.get("planning", 0.0) + self_ms.get("plan", 0.0),
        "exec.wall_ms": self_ms.get("job", 0.0),
        "exec.jobs": len(op_jobs),
        "exec.stages": len(op_stages),
        "exec.tasks": sum(st.tasks for st in op_stages),
        "exec.run_ms": sum(st.run_ms for st in op_stages),
        "exec.cpu_ms": sum(st.cpu_ms for st in op_stages),
        "exec.gc_ms": sum(st.gc_ms for st in op_stages),
        "exec.scheduler_wait_ms": sum(st.wait_ms for st in op_stages),
        "exec.input_bytes": sum(st.input_bytes for st in op_stages),
        "exec.shuffle_read_bytes": sum(st.shuffle_read_bytes for st in op_stages),
        "exec.shuffle_write_bytes": sum(st.shuffle_write_bytes for st in op_stages),
        "exec.shuffle_records": sum(st.shuffle_records for st in op_stages),
        "exec.spill_bytes": sum(st.spill_bytes for st in op_stages),
        "exec.task_skew": widest.skew() if widest else 0.0,
        "exec.failed_tasks": sum(st.failed_tasks for st in op_stages)
        + sum(1 for j in op_jobs if not j.succeeded),
        "transfer.ms": self_ms.get("transfer", 0.0),
        "snapshots.commit_ms": self_ms.get("commit", 0.0),
        "snapshots.read_build_ms": self_ms.get("read_build", 0.0),
        "llm.ms": self_of(lambda k: k.startswith("llm.")),
    }
    m.update(op.counts)
    return m, by_layer
