"""Benchmark entry point.

    python3 perfbench/run.py --workload serving --seed 1 --seconds 6 --trace 0

Makes the workload's inputs from ``--seed`` and the committed test tables
inside a scratch directory of the checkout, starts the package's Spark
session, warms it up, measures whole rounds for ``--seconds``, checks
every output against DuckDB, and prints two lines on stdout: a report
(stamps, set-up split, per-kind latencies and, with ``--trace 1``,
per-operation spans and per-layer self times) and, last, the result object
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs the same operations with
spans, job groups and the Spark event log on and reports the per-layer
metrics instead.  See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "mini_project_204721_data_engineering_spark"

#: every run ends (cleanly, without a result) before this many seconds
DEADLINE_S = 170
#: a round that got less than this share of the CPU time the machine asked
#: the hypervisor for (:func:`delivered`) is contended; a run with one is
#: marked ``contended`` in its report, and its figures stay as measured
MIN_DELIVERED = 0.9
#: the JVM's JIT compiler threads, by ``comm``: their CPU time is warm-up
#: left over (README.md), reported beside the gated CPU time, not in it
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
#: the end-to-end metrics, every workload: name -> unit.  Per operation,
#: the CPU time the program spent (:func:`tree_cpu_s`), not its wall time,
#: which on a shared VM follows the hypervisor's steal (README.md); set-up
#: is a wall time
END_TO_END = {
    "cpu_ms_per_op": "ms",
    "setup_s": "s",
}
#: per-layer metrics (traced runs).  ``/op`` values are means over the
#: operations they apply to; ``%`` values are a layer's self time as a
#: share of the operations' wall time (sum over sum), so a layer a workload
#: bypasses reads 0 rather than a time; ratios divide sums.
PER_LAYER = {
    "session.start_ms": "ms",
    "catalog.load_calls": "count/op",
    "catalog.load_pct": "%",
    "queries.build_pct": "%",
    "queries.build_jobs": "count/op",
    "catalyst.analysis_ms": "ms/op",
    "catalyst.optimization_ms": "ms/op",
    "catalyst.planning_ms": "ms/op",
    "exec.wall_ms": "ms/op",
    "exec.jobs": "count/op",
    "exec.stages": "count/op",
    "exec.tasks": "count/op",
    "exec.run_ms": "ms/op",
    "exec.cpu_ms": "ms/op",
    "exec.gc_ms": "ms/op",
    "exec.scheduler_wait_ms": "ms/op",
    "exec.input_bytes": "bytes/op",
    "exec.shuffle_read_bytes": "bytes/op",
    "exec.shuffle_write_bytes": "bytes/op",
    "exec.shuffle_records": "count/op",
    "exec.spill_bytes": "bytes/op",
    "exec.task_skew": "ratio",
    "exec.failed_tasks": "count/op",
    "transfer.ms": "ms/op",
    "transfer.rows": "count/op",
    "snapshots.commit_pct": "%",
    "snapshots.read_build_pct": "%",
    "snapshots.plan_info_pct": "%",
    "snapshots.files_total": "count/op",
    "snapshots.files_planned": "count/op",
    "snapshots.files_covered": "count/op",
    "snapshots.prune_ratio": "ratio",
    "snapshots.manifest_bytes": "bytes/op",
    "snapshots.stored_bytes_per_input_byte": "ratio",
    "llm.self_pct": "%",
    "llm.candidate_pairs": "count/op",
    "llm.emitted_pairs": "count/op",
    "llm.emitted_per_candidate": "ratio",
    "trace.unaccounted_ms": "ms/op",
    "trace.op_wall_ms": "ms/op",
    "trace.op_p50_ms": "ms",
}
#: ``%`` metrics: the per-op self time each is the share of
SHARES = {
    "catalog.load_pct": "catalog.load_ms",
    "queries.build_pct": "queries.build_ms",
    "snapshots.commit_pct": "snapshots.commit_ms",
    "snapshots.read_build_pct": "snapshots.read_build_ms",
    "llm.self_pct": "llm.ms",
}


class Deadline(BaseException):
    """The run's deadline or a TERM: not an operation's failure, so that
    no ``except Exception`` swallows it."""


def _on_signal(signum, frame):
    raise Deadline(f"signal {signum}")


def p50_geomean(samples: list[tuple[str, float]]) -> float:
    """Geometric mean over operation kinds of each kind's median latency.

    Every kind counts equally, whatever its share of the operations or
    its scale, and the value does not jump when the overall median moves
    from one kind's latencies to the next kind's, which it does for a
    mix of a few kinds with a few samples each."""
    by_kind: dict[str, list[float]] = {}
    for kind, ms in samples:
        by_kind.setdefault(kind, []).append(ms)
    logs = [math.log(statistics.median(v)) for v in by_kind.values()]
    return math.exp(statistics.fmean(logs))


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank ``p``-th percentile."""
    s = sorted(samples)
    return s[max(0, -(-len(s) * p // 100) - 1)]


def tail_percentile(samples: list[float], candidates=(99, 95, 90, 75)) -> tuple[int, float] | None:
    """The highest percentile that has at least ten samples above its
    rank, with its value; None when even p75 has fewer."""
    n = len(samples)
    for p in candidates:
        if n - (-(-n * p // 100)) >= 10:
            return p, percentile(samples, p)
    return None


def cpu_sample() -> tuple[float, float, float]:
    """(monotonic clock, busy CPU seconds, stolen CPU seconds) now; the
    CPU figures are the machine's, summed over its CPUs (``/proc/stat``)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    return time.perf_counter(), (v[0] + v[1] + v[2] + v[5] + v[6]) / hz, v[7] / hz


def tree_cpu_s() -> tuple[float, float]:
    """(CPU seconds, of which JIT compiler threads) that this process and
    its descendants have used, user + system, reaped children included
    (``/proc``).  The kernel charges no stolen time to a process."""
    total = jit = 0
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        todo += _children(pid)
        try:
            total += sum(int(x) for x in _stat(f"/proc/{pid}/stat")[11:15])
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if f.read().startswith(JIT_THREADS):
                        jit += sum(int(x) for x in _stat(f"/proc/{pid}/task/{tid}/stat")[11:13])
        except OSError:
            continue
    hz = os.sysconf("SC_CLK_TCK")
    return total / hz, jit / hz


def delivered(a: tuple, b: tuple) -> float:
    """Share of the CPU time the machine's running work asked for between
    samples ``a`` and ``b`` that the hypervisor delivered:
    busy / (busy + stolen); 1 when nothing ran or nothing was stolen."""
    busy, stolen = b[1] - a[1], b[2] - a[2]
    return busy / (busy + stolen) if busy + stolen > 0 else 1.0


def stamps(seed: int, trace: bool) -> dict:
    """What makes a reading describe itself: cores, commit, seed, tracing
    and the load average when it started."""
    try:
        head = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        head = None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "git_head": head,
        "seed": seed,
        "trace": trace,
        "load_avg_start": [round(v, 2) for v in os.getloadavg()],
    }


def _session_env(work: str, trace: bool) -> None:
    """Session settings for the package's ``get_spark``: the machine's core
    count (``nproc``), a small driver heap, and every scratch path inside
    ``work``."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    # Spark's scratch space; the variable, not spark.local.dir, because an
    # inherited SPARK_LOCAL_DIRS would win over the setting
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = None
    args = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={work}/warehouse",
        "--driver-java-options", f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
        # compiler threads live as long as the JVM, so that the CPU time
        # of every one of them can be told apart (:func:`tree_cpu_s`)
        " -XX:-UseDynamicNumberOfCompilerThreads",
    ]
    if trace:
        os.makedirs(os.path.join(work, "events"))
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{work}/events",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args + ["pyspark-shell"])


def _stat(path: str) -> list[str]:
    """The fields of a ``/proc`` stat file after the command name."""
    with open(path) as f:
        return f.read().rsplit(")", 1)[1].split()


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                fields = _stat(f"/proc/{entry}/stat")
            except OSError:
                continue
            if int(fields[1]) == pid:
                out.append(int(entry))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until it and the Python workers it
    started have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = []
    if proc is not None:
        workers = [c for p in _children(proc.pid) for c in [p, *_children(p)]]
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    end = time.monotonic() + 15
    while any(_alive(w) for w in workers) and time.monotonic() < end:
        time.sleep(0.1)
    for w in workers:
        if _alive(w):
            os.kill(w, signal.SIGKILL)


def peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc status")


class Context:
    """What a workload needs from the run."""

    def __init__(self, spark, seed, work_dir, data_dir):
        import __spark_entry__ as entry
        from mini_project_204721_data_engineering_spark import queries as q

        self.spark, self.seed = spark, seed
        self.work_dir, self.data_dir = work_dir, data_dir
        self.queries = {**entry.queries(), **q.all_extra_queries()}
        self.oracles = {**q.all_oracles(), **q.all_extra_oracles()}
        self.duck = None


@dataclass
class Round:
    """One measured round: samples (kind, ok, wall_ms), results (op,
    output, error), wall seconds and the CPU share it got (:func:`delivered`)."""

    samples: list
    results: list
    seconds: float
    delivered: float
    cpu_s: float
    jit_s: float


def measure(rounds, tracer, seconds: float, min_rounds: int = 2) -> list[Round]:
    """Run whole rounds from the iterator ``rounds`` until ``seconds`` have
    passed and at least ``min_rounds`` ran."""
    done: list[Round] = []
    n = 0
    t_start = time.perf_counter()
    for ops in rounds:
        samples, results = [], []
        c0 = cpu_sample()
        u0, j0 = tree_cpu_s()
        for op in ops:
            op_id = f"op-{n}"
            n += 1
            scope = tracer.op(op_id, op.kind) if tracer.enabled else contextlib.nullcontext()
            err = res = None
            with scope:
                t0 = time.perf_counter()
                try:
                    res = op.run(tracer)
                except Exception as e:  # noqa: BLE001 - a failed op is counted, the run goes on
                    err = f"{type(e).__name__}: {e}"
                wall_ms = (time.perf_counter() - t0) * 1000
            samples.append((op.kind, err is None, wall_ms))
            results.append((op, res, err))
            if tracer.enabled and op.aux is not None and err is None:
                op.aux(tracer)
        c1 = cpu_sample()
        u1, j1 = tree_cpu_s()
        done.append(Round(
            samples, results, c1[0] - c0[0], delivered(c0, c1), u1 - u0 - (j1 - j0), j1 - j0
        ))
        if len(done) >= min_rounds and time.perf_counter() - t_start >= seconds:
            break
    return done


def _span_rows(op, jobs) -> list[list]:
    """The op's spans, phases and jobs as [name, start ms, end ms, depth]
    from the op's start, in start order (depth -1: tracker phase, -2: job)."""
    t0 = next(s.start for s in op.spans if s.name == "op")
    rows = [[s.name, s.start, s.end, s.depth] for s in op.spans + op.phases]
    rows += [[f"job {j.job_id}", j.start, j.end, -2] for j in jobs.values() if j.job_group == op.op_id]
    return [
        [name, round((a - t0) * 1000, 3), round((b - t0) * 1000, 3), d]
        for name, a, b, d in sorted(rows, key=lambda r: (r[1], -r[2]))
    ]


def layer_metrics(tracer, events_dir: str, extra: dict, session_ms: float):
    """Per-layer metrics and per-op detail from a traced run."""
    import spans

    jobs, stages = spans.parse_events(spans.read_event_log(events_dir))
    per_op, by_layer = [], []
    for op in tracer.ops:
        m, layers = spans.op_layers(op, jobs, stages)
        per_op.append((op, m))
        by_layer.append(layers)
    out = {}
    for key in PER_LAYER:
        vals = [m[key] for _, m in per_op if key in m]
        out[key] = statistics.fmean(vals) if vals else 0.0
    wall = sum(m["trace.op_wall_ms"] for _, m in per_op)
    for key, self_key in SHARES.items():
        out[key] = 100 * sum(m[self_key] for _, m in per_op) / wall
    reads = [m for _, m in per_op if "snapshots.plan_info_ms" in m]
    out["snapshots.plan_info_pct"] = (
        100 * sum(m["snapshots.plan_info_ms"] for m in reads)
        / sum(m["trace.op_wall_ms"] for m in reads) if reads else 0.0
    )
    skews = [m["exec.task_skew"] for _, m in per_op if m["exec.stages"]]
    out["exec.task_skew"] = statistics.fmean(skews) if skews else 0.0
    planned = sum(m.get("snapshots.files_planned", 0) for _, m in per_op)
    total = sum(m.get("snapshots.files_total", 0) for _, m in per_op)
    out["snapshots.prune_ratio"] = 1 - planned / total if total else 0.0
    cand = sum(m.get("llm.candidate_pairs", 0) for _, m in per_op)
    emitted = sum(m.get("llm.emitted_pairs", 0) for _, m in per_op)
    out["llm.emitted_per_candidate"] = emitted / cand if cand else 0.0
    out["snapshots.stored_bytes_per_input_byte"] = extra.get(
        "snapshots.stored_bytes_per_input_byte", 0.0
    )
    out["session.start_ms"] = session_ms
    out["trace.op_p50_ms"] = statistics.median(m["trace.op_wall_ms"] for _, m in per_op)
    detail = [
        {
            "op": op.op_id,
            "kind": op.kind,
            "wall_ms": round(m["trace.op_wall_ms"], 3),
            "self_ms": {k: round(v, 3) for k, v in sorted(layers.items())},
            "spans": _span_rows(op, jobs),
            "closure_err_ms": round(abs(sum(layers.values()) - m["trace.op_wall_ms"]), 3),
            "metrics": {k: round(v, 3) for k, v in m.items()},
            "stages": [st.row() for st in stages.values() if st.job_group == op.op_id],
        }
        for (op, m), layers in zip(per_op, by_layer)
    ]
    return out, detail


def run(args) -> tuple[dict, dict]:
    t_begin = time.perf_counter()
    begin = cpu_sample()
    stamp = stamps(args.seed, bool(args.trace))
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    import workloads as wlmod

    wl = wlmod.workloads()[args.workload]
    work = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    spark = None
    try:
        _session_env(work, bool(args.trace))
        from mini_project_204721_data_engineering_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t_begin
        t0 = time.perf_counter()
        data_dir = wl.inputs(args.seed, work)
        inputs_s = time.perf_counter() - t0
        ctx = Context(spark, args.seed, work, data_dir)
        t0 = time.perf_counter()
        wl.prepare(ctx)
        wl.warm(ctx)
        warm_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - t_begin
        setup_share = delivered(begin, cpu_sample())

        import spans

        tracer = spans.Tracer(spark) if args.trace else spans.NullTracer()
        if args.trace:
            tracer.install(PACKAGE)
        try:
            done = measure(wl.rounds(ctx), tracer, args.seconds, wl.min_rounds)
        finally:
            if args.trace:
                tracer.uninstall()
        samples = [s for r in done for s in r.samples]
        results = [x for r in done for x in r.results]
        elapsed = sum(r.seconds for r in done)
        rss = peak_rss_mb(spark)

        from verify_local import duck_con

        t0 = time.perf_counter()
        ctx.duck = duck_con(data_dir)
        failures = []
        for op, res, err in results:
            if err is None:
                try:
                    ok = wl.check(ctx, op, res)
                except Exception as e:  # noqa: BLE001 - a check that raises is a failed op
                    ok, err = False, f"check raised {type(e).__name__}: {e}"
                if not ok and err is None:
                    err = "output differs from DuckDB"
            if err is not None:
                failures.append({"kind": op.kind, "error": err[:300]})
        extra = wl.finish(ctx)
        check_s = time.perf_counter() - t0
        master, version = spark.sparkContext.master, spark.version
        stop_session(spark)
        spark = None

        ok_samples = [(kind, ms) for kind, ok, ms in samples if ok]
        ok_ms = [ms for _, ms in ok_samples]
        by_kind: dict[str, list[float]] = {}
        for kind, ms in ok_samples:
            by_kind.setdefault(kind, []).append(ms)
        tail = tail_percentile(ok_ms)
        report = {
            "workload": args.workload,
            "seconds": args.seconds,
            **stamp,
            "master": master,
            "spark_version": version,
            "load_avg_end": [round(v, 2) for v in os.getloadavg()],
            "cpu_delivered": {
                "setup": round(setup_share, 4),
                "rounds": [round(r.delivered, 4) for r in done],
                "run": round(delivered(begin, cpu_sample()), 4),
            },
            "contended": min(r.delivered for r in done) < MIN_DELIVERED,
            "setup": {
                "session_s": round(session_s, 3),
                "inputs_s": round(inputs_s, 3),
                "prepare_warm_s": round(warm_s, 3),
                "total_s": round(setup_s, 3),
            },
            "round_s": [round(r.seconds, 3) for r in done],
            "round_cpu_s": [round(r.cpu_s, 3) for r in done],
            "round_jit_s": [round(r.jit_s, 3) for r in done],
            "ops": len(samples),
            "elapsed_s": round(elapsed, 3),
            "check_s": round(check_s, 3),
            "wall": {
                "p50_geomean_ms": round(p50_geomean(ok_samples), 3) if ok_samples else None,
                "ops_per_s": round(len(ok_samples) / elapsed, 4),
            },
            "latency_ms": {
                "n": len(ok_ms),
                "p50": round(statistics.median(ok_ms), 3) if ok_ms else None,
                "tail": {"p": tail[0], "value": round(tail[1], 3)} if tail else None,
            },
            "by_kind_p50_ms": {
                k: {"n": len(v), "p50": round(statistics.median(v), 3)}
                for k, v in sorted(by_kind.items())
            },
            "driver_peak_rss_mb": round(rss, 1),
            "failures": failures,
            **{k: round(v, 6) for k, v in extra.items()},
        }
        if args.trace:
            metrics, detail = layer_metrics(
                tracer, os.path.join(work, "events"), extra, session_s * 1000
            )
            report["max_closure_err_ms"] = max((d["closure_err_ms"] for d in detail), default=0.0)
            report["per_op"] = detail
            units = PER_LAYER
        else:
            metrics = {
                "cpu_ms_per_op": 1000 * sum(r.cpu_s for r in done) / len(samples),
                "setup_s": setup_s,
            }
            units = END_TO_END
        result = {
            "correct": not failures,
            "attempted": len(results),
            "failed": len(failures),
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
        return report, result
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    signal.signal(signal.SIGALRM, _on_signal)
    signal.signal(signal.SIGTERM, _on_signal)
    signal.alarm(DEADLINE_S)
    try:
        report, result = run(args)
    finally:
        signal.alarm(0)
    print(json.dumps(report), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
