"""Named-table catalog over the driver's parquet testdata.

Replaces the reference's three Trino catalogs (hive / postgresql / cassandra —
reference dags/pipeline.py:63-67, trino/etc/catalog/*.properties) with one
uniform loader.  For the correctness harness every table is a parquet
stand-in under an sf directory (TESTDATA.md); for reference-shaped inputs the
CSV/JSON readers live in :mod:`procurement_system_bigdata_spark.sources`.

Scale note: parquet scans get predicate pushdown, column pruning and
row-group pruning from Catalyst for free — the 100 TB layout adds
date/bucket partitioning at write time (see sources.sinks) without changing
any query code here.
"""

from __future__ import annotations

import os

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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one named table from an sf directory.

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

        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(load_table(spark, sf_dir, n) for n in names)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so spark.sql(...) works ad hoc.

    Mirrors the reference's interactive Trino surface (reference
    README.md:196-213) where the same ANSI SQL runs over all catalogs.
    """
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
