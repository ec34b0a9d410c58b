"""The benchmark's workloads.

Each workload makes its inputs from the seed and the engine's test tables
committed under ``data/``, warms the session with ``warm_rounds`` rounds,
and then yields rounds of operations.  A round is
a fixed multiset of operations in a seed-shuffled order with seed-drawn
parameters, so every run measures the same mix and only the order and
the inputs change with the seed.  The run measures whole rounds, so a
faster program does more rounds of the same mix rather than a different
mix.

Every operation returns what its output check needs; the checks run after
the timed phase (:meth:`Workload.check`).
"""

from __future__ import annotations

import glob
import itertools
import os
import shutil
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: the engine's test tables (TESTDATA.md, generated with seed 42), committed
#: so that a run reads nothing outside its checkout: all ten tables at
#: sf0.01, and the sf0.1 documents and embeddings the neardup corpus is
#: sampled from
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SF001 = os.path.join(DATA, "sf0.01")
SF01 = os.path.join(DATA, "sf0.1")

#: the interactive mix the reference app serves: paged lists and
#: dashboard tiles, small results, fixed per-query cost dominates
SERVING = [
    "list_orders_page",
    "list_lineitem_page",
    "list_customers_by_dim_sort",
    "list_events_page",
    "list_events_keyset",
    "order_scalar_stats",
    "count_orders_filtered",
    "date_limit",
    "order_priority_counts",
    "incident_counts",
    "dashboard_probability",
]

#: near-duplicate search over the LLM corpus (``llm`` layer)
NEARDUP = [
    "minhash_lsh_dups",
    "lsh_jaccard_verified_dups",
    "ngram_jaccard_dups",
    "semantic_dedup_two_level",
    "sparse_cosine_pairs",
]

#: the neardup corpus: a sample of the 5,000 sf0.1 documents and 2,000
#: embeddings (README.md says why this size)
NEARDUP_DOCS = 700
NEARDUP_VECS = 700

#: queries whose candidates come from MinHash banding with these params
LSH_PARAMS = {"minhash_lsh_dups": (8, 4), "lsh_jaccard_verified_dups": (8, 4)}


#: round index of the first warm-up round, outside the measured rounds' range
WARM_ROUND = 1 << 30


def round_rng(seed: int, round_idx: int) -> np.random.Generator:
    """The generator for one round: independent of how many rounds ran."""
    return np.random.default_rng([seed, 1, round_idx])


def data_rng(seed: int, part: int) -> np.random.Generator:
    return np.random.default_rng([seed, 0, part])


@dataclass
class Op:
    """One timed operation: ``run(tracer)`` does the work, ``expect`` is
    what the check compares its output with."""

    kind: str
    run: Callable
    expect: object = None
    aux: Callable | None = None  # traced runs only, after the op


def query_sequence(names: list[str], seed: int, round_idx: int) -> list[str]:
    """One round of a query mix: every query once, seed-shuffled."""
    return [names[i] for i in round_rng(seed, round_idx).permutation(len(names))]


def run_query(tracer, fn, spark, data_dir):
    """Build, plan and collect one query as a user of the package would,
    with a span around each layer boundary."""
    with tracer.span("build"):
        df = fn(spark, data_dir)
    tracer.plan(df)
    with tracer.span("transfer"):
        pdf = df.toPandas()
    tracer.note_df(df)
    tracer.count("transfer.rows", len(pdf))
    return df.schema, pdf


class Workload:
    #: rounds run before timing; measured rounds start further down the
    #: JVM's JIT warm-up curve, where run-to-run spread is smaller
    warm_rounds = 1
    #: measured rounds, at least, whatever ``--seconds`` says
    min_rounds = 2

    def inputs(self, seed: int, work_dir: str) -> str:
        """The directory of the inputs for ``seed``; inputs the workload
        makes go under ``work_dir``."""
        raise NotImplementedError

    def prepare(self, ctx) -> None:
        """Per-session setup after the inputs exist; part of set-up."""

    def rounds(self, ctx, warm: bool = False) -> Iterator[list[Op]]:
        """Measured rounds, or with ``warm`` the warm-up rounds, which
        draw from their own seed streams."""
        raise NotImplementedError

    def warm(self, ctx) -> None:
        from spans import NullTracer

        for ops in itertools.islice(self.rounds(ctx, warm=True), self.warm_rounds):
            for op in ops:
                op.run(NullTracer())

    def check(self, ctx, op: Op, result) -> bool:
        raise NotImplementedError

    def finish(self, ctx) -> dict:
        """Run-level figures for the report (after the timed phase)."""
        return {}


class QueryMix(Workload):
    """A fixed list of registered queries, each checked against its
    DuckDB oracle on the same input."""

    def __init__(
        self, names: list[str], inputs, warm_dir: str | None = None,
        warm_rounds: int = 1, min_rounds: int = 2,
    ):
        self.names = names
        self.warm_rounds, self.min_rounds = warm_rounds, min_rounds
        self._inputs = inputs
        #: tables of the same schema the warm-up runs on, when not the
        #: timed input: the same plans compile without touching it, as
        #: bench.py's warm-up does
        self._warm_dir = warm_dir
        self._oracle: dict[str, tuple] = {}
        self._candidates: dict[str, int] = {}

    def inputs(self, seed: int, work_dir: str) -> str:
        return self._inputs(seed, work_dir)

    def rounds(self, ctx, warm: bool = False):
        spark, qs = ctx.spark, ctx.queries
        data_dir = (self._warm_dir if warm else None) or ctx.data_dir
        i = 0
        while True:
            ops = []
            for name in query_sequence(self.names, ctx.seed, WARM_ROUND + i if warm else i):
                op = Op(name, lambda t, fn=qs[name]: run_query(t, fn, spark, data_dir))
                if name in LSH_PARAMS:
                    op.aux = lambda t, name=name: self._count_candidates(ctx, t, name)
                ops.append(op)
            yield ops
            i += 1

    def _count_candidates(self, ctx, tracer, name: str) -> None:
        """Candidate pairs the banded index proposes, by the public
        ``minhash_band_candidates`` on the same signatures."""
        if name not in self._candidates:
            from mini_project_204721_data_engineering_spark.catalog import load_table
            from mini_project_204721_data_engineering_spark.llm import dedup

            k, bands = LSH_PARAMS[name]
            docs = load_table(ctx.spark, ctx.data_dir, "documents")
            mh = dedup.minhash_table(docs, k=k, hash_fn="md5_bigint")
            self._candidates[name] = dedup.minhash_band_candidates(mh, k, bands).count()
        tracer.count("llm.candidate_pairs", self._candidates[name])
        tracer.count("llm.emitted_pairs", tracer.ops[-1].counts.get("transfer.rows", 0))

    def check(self, ctx, op: Op, result) -> bool:
        from checks import canon, duck_rows, pandas_rows

        if op.kind not in self._oracle:
            cols, rows = duck_rows(ctx.duck, ctx.oracles[op.kind])
            self._oracle[op.kind] = (sorted(cols), canon(rows, cols))
        schema, pdf = result
        cols = list(pdf.columns)
        want_cols, want = self._oracle[op.kind]
        return sorted(cols) == want_cols and canon(pandas_rows(pdf, schema), cols) == want


def sample_corpus(seed: int, out_dir: str, docs: int, vecs: int) -> None:
    """A seed-drawn sample of ``docs`` sf0.1 documents and ``vecs`` sf0.1
    embeddings, written to ``out_dir``; rows keep their ids and order."""
    os.makedirs(out_dir, exist_ok=True)
    for part, (name, n) in enumerate((("documents", docs), ("embeddings", vecs)), 1):
        table = pq.read_table(os.path.join(SF01, f"{name}.parquet"))
        rows = np.sort(data_rng(seed, part).choice(table.num_rows, n, replace=False))
        pq.write_table(table.take(rows), os.path.join(out_dir, f"{name}.parquet"))


def _corpus(docs: int, vecs: int):
    def inputs(seed: int, work_dir: str) -> str:
        out = os.path.join(work_dir, "data")
        sample_corpus(seed, out, docs, vecs)
        return out

    return inputs


def _headline_dir(seed: int, work_dir: str) -> str:
    """The sf0.1 tables are too large to commit: like bench.py, headline
    reads them from ``$SPARK_GRAFT_SF_DIR``."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir or not os.path.isdir(sf_dir):
        raise SystemExit("headline needs SPARK_GRAFT_SF_DIR set to the sf0.1 tables")
    return sf_dir


# -- snapshot-rw --------------------------------------------------------------

#: snapshot table options: min/max stats on the slicing key and a date
#: column, bloom sidecars for point lookups on a key the slicing scatters
STATS_COLS = ["l_orderkey", "l_shipdate"]
BLOOM_COLS = ["l_partkey"]
READ_KINDS = ("key_range", "point_hit", "point_miss", "date_range")


def slice_lineitem(table, n_slices: int) -> list:
    """Contiguous ``l_orderkey`` ranges of equal row count, so min/max
    stats can prune key-range reads."""
    table = table.sort_by("l_orderkey")
    step = -(-table.num_rows // n_slices)
    return [table.slice(i * step, step) for i in range(n_slices)]


def cycle_plan(seed: int, cycle: int, slices: list, commits: int, n_parts: int) -> list:
    """One cycle on a fresh table: ``commits`` seed-chosen slices, each
    commit followed by one read of every kind over the rows committed so
    far.  Returns ``("commit", slice_idx)`` and ``("read", kind, sql)``
    steps; the SQL is valid in Spark and DuckDB."""
    rng = round_rng(seed, cycle)
    order = rng.choice(len(slices), commits, replace=False)
    steps: list[tuple] = []
    for j, s in enumerate(order):
        steps.append(("commit", int(s)))
        done = [slices[int(i)] for i in order[: j + 1]]
        reads = []
        sl = done[int(rng.integers(len(done)))]
        keys = sl.column("l_orderkey")
        lo = int(rng.integers(pc.min(keys).as_py(), pc.max(keys).as_py() + 1))
        reads.append(("key_range", f"l_orderkey BETWEEN {lo} AND {lo + 60}"))
        hit = int(sl.column("l_partkey")[int(rng.integers(sl.num_rows))].as_py())
        reads.append(("point_hit", f"l_partkey = {hit}"))
        miss = n_parts + int(rng.integers(n_parts))
        reads.append(("point_miss", f"l_partkey = {miss}"))
        day = np.datetime64("1995-01-02") + int(rng.integers(0, 2490))
        reads.append(
            ("date_range", f"l_shipdate >= '{day}' AND l_shipdate < '{day + 7}'")
        )
        for r in rng.permutation(len(reads)):
            steps.append(("read", *reads[int(r)]))
    return steps


class SnapshotRW(Workload):
    """Commits beside min/max-pruned, bloom-probed and unpruned reads, each
    cycle on a fresh table so that every cycle sees the same table sizes."""

    def __init__(self, n_slices: int = 8, commits: int = 2):
        self.n_slices, self.commits = n_slices, commits

    def inputs(self, seed: int, work_dir: str) -> str:
        """The slices as parquet files: ``snapshot_append`` commits them
        and DuckDB reads them back for the checks."""
        data_dir = os.path.join(work_dir, "data")
        os.makedirs(data_dir)
        lineitem = pq.read_table(os.path.join(SF001, "lineitem.parquet"))
        for i, sl in enumerate(slice_lineitem(lineitem, self.n_slices)):
            pq.write_table(sl, os.path.join(data_dir, f"slice_{i}.parquet"))
        return data_dir

    def prepare(self, ctx) -> None:
        paths = [os.path.join(ctx.data_dir, f"slice_{i}.parquet") for i in range(self.n_slices)]
        self.paths = paths
        self.slices = [pq.read_table(p) for p in paths]
        self.frames = [ctx.spark.read.parquet(p) for p in paths]
        self.n_parts = pq.read_metadata(os.path.join(SF001, "part.parquet")).num_rows
        self.tables: list[tuple[str, list[int]]] = []

    def rounds(self, ctx, warm: bool = False):
        from mini_project_204721_data_engineering_spark.sources import snapshots as snap

        i = 0
        while True:
            cycle = WARM_ROUND + i if warm else i
            table = os.path.join(ctx.work_dir, f"snap_{cycle}")
            committed: list[int] = []
            if not warm:
                self.tables.append((table, committed))
            ops = []
            for step in cycle_plan(ctx.seed, cycle, self.slices, self.commits, self.n_parts):
                if step[0] == "commit":
                    s = step[1]

                    def commit(t, s=s, table=table, committed=committed):
                        with t.span("commit"):
                            m = snap.snapshot_append(
                                self.frames[s], table,
                                stats_cols=STATS_COLS, bloom_cols=BLOOM_COLS,
                            )
                        committed.append(s)
                        return len(m["files"])

                    ops.append(Op("commit", commit))
                else:
                    _, kind, pred = step

                    def read(t, pred=pred, table=table, committed=committed):
                        with t.span("read_build"):
                            df = snap.read_snapshot_where(ctx.spark, table, pred)
                        t.plan(df)
                        with t.span("transfer"):
                            pdf = df.toPandas()
                        t.note_df(df)
                        t.count("transfer.rows", len(pdf))
                        return df.schema, pdf, list(committed)

                    ops.append(Op(
                        f"read:{kind}", read, expect=pred,
                        aux=lambda t, pred=pred, table=table: self._plan_info(ctx, snap, t, table, pred),
                    ))
            yield ops
            i += 1

    def _plan_info(self, ctx, snap, tracer, table: str, pred: str) -> None:
        t0 = time.perf_counter()
        info = snap.snapshot_plan_info(ctx.spark, table, pred, bloom=True)
        tracer.count("snapshots.plan_info_ms", (time.perf_counter() - t0) * 1000)
        tracer.count("snapshots.files_total", info["files_total"])
        tracer.count("snapshots.files_planned", info["files_planned"])
        tracer.count("snapshots.files_covered", info["files_covered"])
        tip = sorted(glob.glob(os.path.join(table, "_manifests", "v*.json")))[-1]
        tracer.count("snapshots.manifest_bytes", os.path.getsize(tip))

    def check(self, ctx, op: Op, result) -> bool:
        from checks import canon, duck_rows, pandas_rows

        if op.kind == "commit":
            return isinstance(result, int) and result > 0
        schema, pdf, committed = result
        files = ", ".join(f"'{self.paths[i]}'" for i in committed)
        cols, rows = duck_rows(
            ctx.duck, f"SELECT * FROM read_parquet([{files}]) WHERE {op.expect}"
        )
        got = list(pdf.columns)
        return sorted(got) == sorted(cols) and canon(pandas_rows(pdf, schema), got) == canon(rows, cols)

    def finish(self, ctx) -> dict:
        """Table bytes (data, manifests, sidecars) per source byte appended,
        over the cycles that committed anything."""
        stored = appended = 0
        for table, committed in self.tables:
            if committed and os.path.isdir(table):
                stored += _dir_bytes(table)
                appended += sum(os.path.getsize(self.paths[i]) for i in committed)
            shutil.rmtree(table, ignore_errors=True)
        return {"snapshots.stored_bytes_per_input_byte": stored / appended if appended else 0.0}


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def workloads() -> dict[str, Workload]:
    """The workloads by name.  README.md says why each exists and why
    ``headline`` is left out of BENCHMARK.json."""
    from bench import HEADLINE

    return {
        "serving": QueryMix(SERVING, lambda seed, work_dir: SF001),
        "snapshot-rw": SnapshotRW(),
        # one measured round: a round takes about 12 s, and two would
        # take a full check of the benchmark near its time limit
        "neardup": QueryMix(
            NEARDUP, _corpus(NEARDUP_DOCS, NEARDUP_VECS), warm_dir=SF001, min_rounds=1
        ),
        "headline": QueryMix(HEADLINE, _headline_dir, warm_dir=SF001),
    }
