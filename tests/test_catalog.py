"""The catalog's per-session parquet schema cache: building an ad-hoc query
launches no Spark job, and the cache never serves a stale or shared
relation."""

from __future__ import annotations

import os
import shutil
import sys
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import SF_DIR, assert_matches_oracle
from pyspark.errors import AnalysisException

from procurement_system_bigdata_spark.catalog import load_table
from procurement_system_bigdata_spark.queries import olap
from procurement_system_bigdata_spark.queries.registry import REGISTRY

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
)

from workloads import ADHOC_QUERIES, TPCH_TABLES  # noqa: E402


def _jobs_in_group(spark, group: str) -> list[int]:
    """Job ids run under ``group``, after the listener bus has caught up."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_building_adhoc_queries_launches_no_job(spark):
    for t in TPCH_TABLES:
        load_table(spark, SF_DIR, t)
    sc = spark.sparkContext
    ran = {}
    try:
        for q in ADHOC_QUERIES:
            group = f"test-catalog-build-{q}"
            sc.setJobGroup(group, f"build {q}")
            REGISTRY[q].fn(spark, SF_DIR)
            ran[q] = _jobs_in_group(spark, group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert {q: jobs for q, jobs in ran.items() if jobs} == {}


def test_top_revenue_supplier_scans_lineitem_once(spark):
    df = olap.q_top_revenue_supplier(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    scans = [ln for ln in final.splitlines() if "FileScan" in ln and "lineitem" in ln]
    assert len(scans) == 1, plan


def _write(path, table: pa.Table) -> None:
    pq.write_table(table, str(path))


def test_rewritten_file_is_read_with_its_new_schema(spark, tmp_path):
    path = tmp_path / "nation.parquet"
    _write(path, pa.table({"x": pa.array([1, 2], pa.int64())}))
    assert load_table(spark, str(tmp_path), "nation").dtypes == [("x", "bigint")]
    assert load_table(spark, str(tmp_path), "nation").dtypes == [("x", "bigint")]
    _write(path, pa.table({"y": ["a", "b", "c"], "z": [1.5, 2.5, 3.5]}))
    df = load_table(spark, str(tmp_path), "nation")
    assert df.dtypes == [("y", "string"), ("z", "double")]
    assert sorted(tuple(r) for r in df.collect()) == [("a", 1.5), ("b", 2.5), ("c", 3.5)]


def test_rewritten_directory_is_read_with_its_new_schema(spark, tmp_path):
    table_dir = tmp_path / "nation.parquet"
    table_dir.mkdir()
    _write(table_dir / "part-0.parquet", pa.table({"x": pa.array([1], pa.int64())}))
    assert load_table(spark, str(tmp_path), "nation").dtypes == [("x", "bigint")]
    shutil.rmtree(table_dir)
    table_dir.mkdir()
    _write(table_dir / "part-0.parquet", pa.table({"y": ["a"]}))
    assert load_table(spark, str(tmp_path), "nation").dtypes == [("y", "string")]


def test_missing_path_raises_spark_error(spark, tmp_path):
    with pytest.raises(AnalysisException):
        load_table(spark, str(tmp_path / "absent"), "nation")


def test_concurrent_loads_of_one_table(spark, tmp_path):
    """Two clients sharing the session load the same (uncached) file at
    once: neither fails and both see the file's schema."""
    shutil.copy(os.path.join(SF_DIR, "lineitem.parquet"), tmp_path / "lineitem.parquet")
    want = spark.read.parquet(str(tmp_path / "lineitem.parquet")).schema
    barrier = threading.Barrier(2)
    got, errors = [], []

    def client():
        try:
            barrier.wait()
            for _ in range(3):
                got.append(load_table(spark, str(tmp_path), "lineitem").schema)
        except Exception as ex:  # noqa: BLE001 — reported by the assert below
            errors.append(ex)

    threads = [threading.Thread(target=client) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    assert len(got) == 6 and all(s == want for s in got)


def test_self_join_of_two_loads_matches_duckdb(spark, duck):
    """Each load is a fresh relation with its own attribute ids, so a
    self-join resolves its two sides apart."""
    a = load_table(spark, SF_DIR, "nation")
    b = load_table(spark, SF_DIR, "nation")
    joined = a.join(b, a.n_regionkey == b.n_regionkey).select(
        a.n_nationkey.alias("x"), b.n_nationkey.alias("y")
    )
    assert_matches_oracle(
        joined,
        duck,
        "SELECT a.n_nationkey AS x, b.n_nationkey AS y "
        "FROM nation a JOIN nation b ON a.n_regionkey = b.n_regionkey",
    )
