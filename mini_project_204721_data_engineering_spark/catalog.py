"""Table catalog for the synthetic star schema.

The driver provides deterministic parquet tables (TESTDATA.md):
``region nation customer supplier part orders lineitem events documents
embeddings``.  They stand in for the reference's star schema
(reference ``backend/app/models.py:26-87``): ``nation``/``region`` play the
province/district dimensions, ``orders``/``lineitem`` play the fact tables,
``events`` plays the incident log, ``documents``/``embeddings`` back the
LLM-pipeline extensions.

Scale notes
-----------
- ``region`` (5 rows) and ``nation`` (25) are always broadcast — like the
  reference's 928-district dimension, they are broadcast-sized at any SF.
- ``customer``/``supplier``/``part`` are "medium dims": broadcastable at
  test SF, shuffle-joined at 100 TB.  We do NOT hard-broadcast them;
  AQE picks the strategy from observed sizes.
- Fact tables (``lineitem``, ``orders``, ``events``) are read with
  pushdown-friendly plain ``spark.read.parquet`` — filters and column
  pruning reach the scan (verify via ``plans.explain_checks``).

Schema cache
------------
``spark.read.parquet(path)`` infers the schema from the file footer, and
that inference is a one-task Spark job (about 100 ms) on every call —
the largest fixed cost of a small interactive query.  ``load_table``
therefore keeps the ``StructType`` Spark inferred for each table file,
the metadata a metastore would hold, and reads later calls with
``spark.read.schema(cached).parquet(path)``: the same relation and plan,
without the inference job.

- Key: the file's identity — resolved path, size, modification time
  (ns) and inode — plus the session confs that change what inference
  returns (``_INFER_CONFS``).
- Invalidation: rewriting the file changes its identity, so the next
  load misses and infers again; the stale entry ages out of the LRU
  (``_SCHEMA_CACHE_SIZE`` entries).
- Metadata only: no DataFrame, data or result is kept, so every query
  still reads the parquet file.
- Fallback: a directory, or a path ``os.stat`` cannot see (a ``hdfs://``
  or ``s3a://`` URI), is read exactly as without the cache.
"""

from __future__ import annotations

import os
import stat
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["TABLES", "SMALL_DIMS", "load_table", "load_tables", "register_views"]

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: dimensions that are broadcast-sized at every scale factor
SMALL_DIMS = frozenset({"region", "nation"})

#: session confs that change the schema parquet inference returns
_INFER_CONFS = (
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.caseSensitive",
)

#: LRU bound of the schema cache: one entry per (file, conf set), so ten
#: tables at several scale factors and conf sets fit many times over
_SCHEMA_CACHE_SIZE = 256

#: process-wide, like a metastore: every query module calls the free
#: function ``load_table``, and an entry holds for any session because
#: the confs that shape inference are part of its key
_schemas: OrderedDict = OrderedDict()
_schemas_lock = threading.Lock()


def _file_identity(path: str):
    """(resolved path, size, mtime ns, inode) of a regular local file, or
    None for a directory or a path ``os.stat`` cannot see."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (os.path.realpath(path), st.st_size, st.st_mtime_ns, st.st_ino)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema taken from the cache
    when this file was already inferred under the same confs."""
    ident = _file_identity(path)
    if ident is None:
        return spark.read.parquet(path)
    key = (ident, tuple(spark.conf.get(k) for k in _INFER_CONFS))
    with _schemas_lock:
        schema = _schemas.get(key)
        if schema is not None:
            _schemas.move_to_end(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    # cache only if the file did not change while Spark read its footer,
    # so an entry never pairs one version's identity with another's schema
    if _file_identity(path) == ident:
        schema = df.schema
        with _schemas_lock:
            _schemas[key] = schema
            while len(_schemas) > _SCHEMA_CACHE_SIZE:
                _schemas.popitem(last=False)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table as a DataFrame (lazy parquet scan).

    The schema comes from the module's schema cache when this file was
    loaded before and has not changed since (same resolved path, size,
    mtime and inode, same inference confs): the scan is then built
    without a schema-inference Spark job.  Only the ``StructType`` is
    cached; the data is read again by every query.  A directory or a
    non-local path is read without the cache.

    ``events.parquet`` ``ts`` comes in two physical forms; both are
    handled:

    - TIMESTAMP(NANOS): Spark has no native type for it — read as raw
      nanos (``spark.sql.legacy.parquet.nanosAsLong``, runtime-settable)
      and rebuild a microsecond timestamp with integer division
      (``div``; float division would lose precision above 2^53 ns ≈
      1970+104 days).  The cache holds the raw ``bigint`` schema, so the
      rebuild applies to cached and inferred reads alike.
    - timestamp[us] with isAdjustedToUTC=false: resolves to
      ``TIMESTAMP_NTZ`` under Spark's ``inferTimestampNTZ`` default.  The
      nanos conf is a no-op for it and the column passes through as NTZ,
      so downstream code must use NTZ-safe expressions
      (``timestamp_diff``, never ``unix_micros``).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # scope the legacy conf to this read: analysis of the scan (schema
        # resolution) happens eagerly here, so restoring the previous value
        # afterwards doesn't affect this DataFrame — but a lingering "true"
        # would silently turn every later nano-timestamp read into bigint
        key = "spark.sql.legacy.parquet.nanosAsLong"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "true")
        try:
            df = _read_parquet(spark, path)
            if dict(df.dtypes).get("ts") == "bigint":
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
        return df
    return _read_parquet(spark, path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every synthetic table present under ``sf_dir``."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = load_table(spark, sf_dir, name)
    return out


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load tables and register each as a temp view for ``spark.sql``."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
