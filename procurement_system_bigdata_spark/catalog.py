"""Named-table catalog over the driver's parquet testdata.

Replaces the reference's three Trino catalogs (hive / postgresql / cassandra —
reference dags/pipeline.py:63-67, trino/etc/catalog/*.properties) with one
uniform loader.  For the correctness harness every table is a parquet
stand-in under an sf directory (TESTDATA.md); for reference-shaped inputs the
CSV/JSON readers live in :mod:`procurement_system_bigdata_spark.sources`.

Like Spark SQL's own catalog, it keeps resolved relation metadata so that
planning a query does not touch storage: each parquet schema is inferred
once per session (one Spark job) and every later load passes it to the
reader, which builds the relation without a job.  The cache holds schemas,
never DataFrames, so every load is a fresh relation with its own attribute
ids and self-joins stay resolvable.

Scale note: parquet scans get predicate pushdown, column pruning and
row-group pruning from Catalyst for free — the 100 TB layout adds
date/bucket partitioning at write time (see sources.sinks) without changing
any query code here.
"""

from __future__ import annotations

import os
import stat
import threading
import weakref

from pyspark.sql import DataFrame, SparkSession

# The driver's pre-registered table universe (TESTDATA.md).
TABLES: tuple[str, ...] = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SMOKE_SF_DIR = "/root/testdata/sf0.001"

# Session confs that change what parquet schema inference returns; their
# values at call time are part of the schema cache key.
SCHEMA_CONFS: tuple[str, ...] = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)

# session -> {(path, conf values): (file identity, inferred schema)}.  One
# entry per path and conf combination: a rewritten file replaces its entry.
_schemas: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_schemas_lock = threading.Lock()


def _file_identity(path: str) -> tuple:
    """Size and mtime of a file, or of every file under a directory."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_size, st.st_mtime_ns)
    entries = []
    for root, _, files in os.walk(path):
        for name in files:
            full = os.path.join(root, name)
            fst = os.stat(full)
            entries.append((os.path.relpath(full, path), fst.st_size, fst.st_mtime_ns))
    return tuple(sorted(entries))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per session.

    A hit reads with the cached schema, which launches no Spark job; a miss
    returns the frame that did the inferring.  Paths ``os.stat`` cannot see
    (missing, or not on the local file system) are read uncached, so a
    missing path still raises Spark's own error.
    """
    try:
        identity = _file_identity(path)
    except OSError:
        return spark.read.parquet(path)
    key = (path, tuple(spark.conf.get(c) for c in SCHEMA_CONFS))
    with _schemas_lock:
        cached = _schemas.get(spark, {}).get(key)
    if cached is not None and cached[0] == identity:
        return spark.read.schema(cached[1]).parquet(path)
    df = spark.read.parquet(path)
    entry = (identity, df.schema)
    with _schemas_lock:
        _schemas.setdefault(spark, {})[key] = entry
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one named table from an sf directory as a fresh relation.

    The parquet schema comes from the per-session cache (:func:`_read_parquet`),
    so only the first load of a file in a session runs an inference job.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS) which Spark's
    vectorized reader rejects; the session's ``nanosAsLong`` legacy conf
    (session.RUNTIME_CONFS) reads it as a bigint, normalized here to
    micro-precision TimestampType with integer division (floor), matching
    how DuckDB truncates nanos -> micros on read.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        from pyspark.sql import functions as F

        df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return _read_parquet(spark, f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(load_table(spark, sf_dir, n) for n in names)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so spark.sql(...) works ad hoc.

    Mirrors the reference's interactive Trino surface (reference
    README.md:196-213) where the same ANSI SQL runs over all catalogs.
    """
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
