"""catalog.load_table's schema cache: a warm load builds its scan without
a schema-inference Spark job and reads exactly what a cold load reads;
a rewritten file is inferred again; both events ``ts`` forms survive."""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from conftest import SF_ORACLE
from mini_project_204721_data_engineering_spark import catalog
from mini_project_204721_data_engineering_spark.catalog import TABLES, load_table

NANOS_KEY = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs_of(spark, fn):
    """Run ``fn`` under a fresh job group; return (its result, job ids)."""
    sc = spark.sparkContext
    group = f"catalog-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "test_catalog")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _copy_tables(dst, names=TABLES):
    for name in names:
        shutil.copy(os.path.join(SF_ORACLE, f"{name}.parquet"), dst)
    return str(dst)


def _same_rows(a, b) -> bool:
    return (
        a.count() == b.count()
        and a.exceptAll(b).count() == 0
        and b.exceptAll(a).count() == 0
    )


def test_warm_load_launches_no_job(spark, tmp_path):
    sf = _copy_tables(tmp_path, ("orders", "events"))
    for name in ("orders", "events"):
        _, cold_jobs = _jobs_of(spark, lambda: load_table(spark, sf, name))
        # the premise: inferring a parquet schema is itself a Spark job
        assert cold_jobs, name
        _, warm_jobs = _jobs_of(spark, lambda: load_table(spark, sf, name))
        assert warm_jobs == [], name


def test_cache_is_a_bounded_lru(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(catalog, "_SCHEMA_CACHE_SIZE", 1)
    sf = _copy_tables(tmp_path, ("orders", "part"))
    load_table(spark, sf, "orders")
    load_table(spark, sf, "part")  # evicts orders
    assert len(catalog._schemas) == 1
    _, jobs = _jobs_of(spark, lambda: load_table(spark, sf, "orders"))
    assert jobs


def test_cold_and_warm_loads_agree_on_every_table(spark, tmp_path):
    sf = _copy_tables(tmp_path)
    for name in TABLES:
        cold = load_table(spark, sf, name)
        warm = load_table(spark, sf, name)
        assert warm.schema == cold.schema, name
        assert _same_rows(cold, warm), name


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "orders.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}), path)
    assert load_table(spark, str(tmp_path), "orders").columns == ["a", "b"]
    assert load_table(spark, str(tmp_path), "orders").columns == ["a", "b"]
    # same path, new column set
    pq.write_table(pa.table({"c": [1.5, 2.5]}), path)
    df = load_table(spark, str(tmp_path), "orders")
    assert df.columns == ["c"]
    assert [r["c"] for r in df.orderBy("c").collect()] == [1.5, 2.5]


def test_events_nanos_ts_loads_as_micros_cold_and_warm(spark, tmp_path):
    # sub-microsecond digits must be truncated, not rounded
    ns = [0, 1_700_000_000_123_456_789, 1_700_000_060_999_999_999]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2, 3], pa.int64()),
                "ts": pa.array(ns, pa.timestamp("ns")),
            }
        ),
        tmp_path / "events.parquet",
    )
    assert "timeUnit=nanoseconds" in str(
        pq.ParquetFile(tmp_path / "events.parquet").schema.column(1).logical_type
    )
    prev = spark.conf.get(NANOS_KEY, None)
    for phase in ("cold", "warm"):
        ev, jobs = _jobs_of(spark, lambda: load_table(spark, str(tmp_path), "events"))
        assert bool(jobs) == (phase == "cold")
        assert dict(ev.dtypes)["ts"] == "timestamp"
        got = [
            r["us"]
            for r in ev.orderBy("event_id")
            .select(F.unix_micros("ts").alias("us"))
            .collect()
        ]
        assert got == [n // 1000 for n in ns]
        # the nanos conf stays scoped to the load
        assert spark.conf.get(NANOS_KEY, None) == prev


@pytest.mark.parametrize("kind", ["directory", "missing"])
def test_uncacheable_paths_read_as_before(spark, tmp_path, kind):
    if kind == "directory":
        spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(
            str(tmp_path / "region.parquet")
        )
        for _ in range(2):
            assert load_table(spark, str(tmp_path), "region").columns == ["k", "v"]
    else:
        with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
            load_table(spark, str(tmp_path), "region")
