"""Spark-free tests of the benchmark's own rules.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import spans  # noqa: E402
import workloads  # noqa: E402
from run import (  # noqa: E402
    Deadline,
    measure,
    p50_geomean,
    percentile,
    tail_percentile,
    tree_cpu_s,
)

FIXTURES = os.path.join(HERE, "fixtures")


# -- percentile rule ---------------------------------------------------------


@pytest.mark.parametrize(
    "n, expected",
    [(9, None), (39, None), (40, 75), (99, 75), (100, 90), (199, 90), (200, 95), (1000, 99)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    samples = [float(i) for i in range(n)]
    got = tail_percentile(samples)
    assert (got[0] if got else None) == expected
    if got:
        p, value = got
        assert value == percentile(samples, p)
        assert sum(1 for s in samples if s > value) >= 10


def test_p50_geomean_weighs_every_kind_equally():
    samples = [("a", 10.0), ("a", 30.0), ("a", 20.0), ("b", 1000.0)]
    assert p50_geomean(samples) == pytest.approx((20.0 * 1000.0) ** 0.5)
    # doubling one kind moves the value by 2 ** (1 / kinds), wherever
    # that kind sits in the overall order
    slower = [(k, ms * 2 if k == "b" else ms) for k, ms in samples]
    assert p50_geomean(slower) / p50_geomean(samples) == pytest.approx(2**0.5)


def test_percentile_is_nearest_rank():
    s = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(s, 50) == 3.0
    assert percentile(s, 100) == 5.0
    assert percentile(s, 1) == 1.0


# -- event log ---------------------------------------------------------------


def test_event_log_fixture_parses_jobs_stages_and_tasks():
    jobs, stages = spans.parse_events(spans.read_event_log(FIXTURES))
    assert [(j.job_id, j.job_group) for j in jobs.values()] == [
        (0, "op-0"), (1, "op-0"), (2, "op-1"), (3, "aux-op-1"), (4, "aux-op-1"),
    ]
    assert all(j.succeeded and j.end > j.start for j in jobs.values())
    # stage 1 and 5 were skipped (their shuffle output was reused): no stats
    assert sorted(stages) == [0, 2, 3, 4, 6]
    s0 = stages[0]
    assert (s0.job_group, s0.tasks, s0.failed_tasks) == ("op-0", 4, 0)
    assert (s0.run_ms, s0.gc_ms, s0.shuffle_write_bytes, s0.shuffle_records) == (677, 82, 535, 12)
    assert stages[2].shuffle_read_bytes == 535
    assert 1.0 <= s0.skew() <= 4.0
    assert s0.wait_ms >= 0


def test_op_layers_reads_only_its_own_job_group():
    jobs, stages = spans.parse_events(spans.read_event_log(FIXTURES))
    j = jobs[2]
    op = spans.OpTrace("op-1", "q")
    op.spans = [
        spans.Span("transfer", j.start - 0.010, j.end + 0.005, 1),
        spans.Span("op", j.start - 0.020, j.end + 0.010, 0),
    ]
    m, by_layer = spans.op_layers(op, jobs, stages)
    assert (m["exec.jobs"], m["exec.stages"], m["exec.tasks"]) == (1, 1, 2)
    assert m["exec.run_ms"] == stages[3].run_ms
    assert m["exec.wall_ms"] == pytest.approx((j.end - j.start) * 1000, abs=0.01)
    assert m["transfer.ms"] == pytest.approx(15.0, abs=0.01)
    assert m["trace.unaccounted_ms"] == pytest.approx(15.0, abs=0.01)
    assert set(by_layer) == {"exec", "transfer", "unaccounted"}
    assert sum(by_layer.values()) == pytest.approx(m["trace.op_wall_ms"], abs=0.01)


# -- attribution -------------------------------------------------------------


def test_self_times_partition_the_wall_time():
    op = spans.OpTrace("op-7", "q")
    op.spans = [
        spans.Span("load_table", 1.00, 1.10, 2),
        spans.Span("build", 0.95, 1.30, 1),
        spans.Span("plan", 1.30, 1.40, 1),
        spans.Span("transfer", 1.40, 2.00, 1),
        spans.Span("op", 0.90, 2.05, 0),
    ]
    op.phases = [spans.Span("analysis", 1.20, 1.25, -1), spans.Span("planning", 1.33, 1.38, -1)]
    jobs = [
        spans.JobStats(0, "op-7", 1.05, 1.08, True),  # inside load_table
        spans.JobStats(1, "op-7", 1.50, 1.90, True),
        spans.JobStats(2, "op-7", 1.85, 2.30, True),  # overlaps, runs past the op
    ]
    got = spans.attribute(op, jobs)
    assert sum(got.values()) == pytest.approx(1150.0)
    assert got["job"] == pytest.approx(30 + 550)  # job 2 is clipped to the op
    assert got["load_table"] == pytest.approx(70)
    assert got["analysis"] == pytest.approx(50)
    assert got["build"] == pytest.approx(350 - 100 - 50)
    assert got["planning"] == pytest.approx(50)
    assert got["plan"] == pytest.approx(50)
    assert got["transfer"] == pytest.approx(100)
    assert got["op"] == pytest.approx(50)


def test_llm_spans_map_to_the_llm_layer():
    assert spans.layer_of("llm.minhash_signatures") == "llm"
    assert spans.layer_of("load_table") == "catalog"
    assert spans.layer_of("job") == "exec"


# -- determinism -------------------------------------------------------------


def test_request_sequence_is_a_seeded_permutation():
    a = workloads.query_sequence(workloads.SERVING, 5, 0)
    assert a == workloads.query_sequence(workloads.SERVING, 5, 0)
    assert sorted(a) == sorted(workloads.SERVING)
    rounds = [workloads.query_sequence(workloads.SERVING, 5, i) for i in range(4)]
    assert len({tuple(r) for r in rounds}) > 1
    assert workloads.query_sequence(workloads.SERVING, 6, 0) != a


def test_corpus_sample_repeats_per_seed(tmp_path):
    def sample(seed, name):
        out = str(tmp_path / f"{name}-{seed}")
        workloads.sample_corpus(seed, out, 100, 50)
        return {t: pq.read_table(os.path.join(out, f"{t}.parquet")) for t in ("documents", "embeddings")}

    a, b, c = sample(3, "a"), sample(3, "b"), sample(4, "c")
    for t in a:
        assert a[t].equals(b[t]), t
        assert not a[t].equals(c[t]), t
    ids = a["documents"].column("doc_id").to_pylist()
    assert len(ids) == 100 and ids == sorted(set(ids))
    assert a["embeddings"].num_rows == 50


def test_snapshot_slices_and_predicates_repeat_per_seed():
    li = pq.read_table(os.path.join(workloads.SF001, "lineitem.parquet"))
    slices = workloads.slice_lineitem(li, 8)
    assert sum(s.num_rows for s in slices) == li.num_rows
    maxes = [s.column("l_orderkey").to_pylist()[-1] for s in slices]
    mins = [s.column("l_orderkey").to_pylist()[0] for s in slices]
    assert all(hi <= lo for hi, lo in zip(maxes, mins[1:]))
    parts = pq.read_metadata(os.path.join(workloads.SF001, "part.parquet")).num_rows
    assert parts > max(li.column("l_partkey").to_pylist())
    plan = workloads.cycle_plan(3, 0, slices, 2, parts)
    assert plan == workloads.cycle_plan(3, 0, slices, 2, parts)
    assert plan != workloads.cycle_plan(4, 0, slices, 2, parts)
    assert plan != workloads.cycle_plan(3, 1, slices, 2, parts)
    assert [s[0] for s in plan].count("commit") == 2
    kinds = [s[1] for s in plan if s[0] == "read"]
    assert sorted(kinds) == sorted(workloads.READ_KINDS * 2)
    miss = [s[2] for s in plan if s[0] == "read" and s[1] == "point_miss"]
    assert all(int(p.split("=")[1]) >= parts for p in miss)


# -- run control -------------------------------------------------------------


def test_deadline_escapes_measure_but_op_errors_do_not():
    def failing(tracer):
        raise ValueError("bad op")

    def late(tracer):
        raise Deadline("signal 14")

    def rounds(run):
        while True:
            yield [workloads.Op("q", run)]

    done = measure(rounds(failing), spans.NullTracer(), 0.0)
    assert [ok for r in done for _, ok, _ in r.samples] == [False, False]
    assert done[0].results[0][2] == "ValueError: bad op"
    with pytest.raises(Deadline):
        measure(rounds(late), spans.NullTracer(), 0.0)


def test_tree_cpu_counts_children_and_no_jit_outside_a_jvm():
    spin = "import time\nend = time.process_time() + 0.3\nwhile time.process_time() < end: pass"
    before, jit_before = tree_cpu_s()
    subprocess.run([sys.executable, "-c", spin], check=True)
    after, jit_after = tree_cpu_s()
    assert after - before >= 0.25
    assert jit_before == jit_after == 0
