"""Source/sink coverage: approx-distinct error bound, task-log sink, and
single-file sink round-trips."""

from __future__ import annotations

import csv
import json
import os
import tempfile
from datetime import date
from pathlib import Path
from types import SimpleNamespace

import pyspark.sql.functions as F
import pytest

from conftest import SF_DIR

from procurement_system_bigdata_spark.catalog import load_table
from procurement_system_bigdata_spark.queries.registry import REGISTRY
from procurement_system_bigdata_spark.sources import sinks


def test_approx_distinct_error_bound(spark):
    """The bounded-check shape: every row's err_bound_checked must hold
    (that boolean IS the driver-oracle assertion now), exact_users must
    equal an independent exact count, and an independently-computed sketch
    estimate must sit within 10% of exact."""
    rows = {
        r.event_type: r
        for r in REGISTRY["approx_distinct_users"].fn(spark, SF_DIR).collect()
    }
    exact = {
        r.event_type: (r.exact, r.approx)
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact"),
            F.approx_count_distinct("user_id").alias("approx"),
        )
        .collect()
    }
    assert rows.keys() == exact.keys()
    for k, (ex, ap) in exact.items():
        assert rows[k].err_bound_checked, k
        assert rows[k].exact_users == ex, k
        assert abs(ap - ex) / max(ex, 1) < 0.1, f"{k}: approx {ap} vs exact {ex}"


def test_single_file_csv_roundtrip(spark):
    df = load_table(spark, SF_DIR, "nation").orderBy("n_nationkey")
    with tempfile.TemporaryDirectory() as d:
        path = sinks.write_single_csv(df, d + "/out", "nation.csv")
        with open(path) as f:
            rows = list(csv.DictReader(f))
        assert len(rows) == df.count()
        assert set(rows[0].keys()) == {"n_nationkey", "n_name", "n_regionkey"}


def test_single_file_json_roundtrip(spark):
    df = load_table(spark, SF_DIR, "region")
    with tempfile.TemporaryDirectory() as d:
        path = sinks.write_single_json(df, d + "/out", "region.json")
        data = json.load(open(path))
        assert len(data) == 5
        assert {"r_regionkey", "r_name"} <= set(data[0].keys())


def test_single_file_json_write_is_crash_safe(spark, tmp_path, monkeypatch):
    """A dump that raises partway leaves the last good file byte-for-byte
    as it was, and no temp file behind."""
    df = load_table(spark, SF_DIR, "region")
    out = tmp_path / "out"
    path = sinks.write_single_json(df, str(out), "region.json")
    before = Path(path).read_bytes()

    def dump_then_fail(obj, f, **kwargs):
        f.write('[\n  {"r_regionkey": ')
        raise OSError("disk full")

    monkeypatch.setattr(sinks, "json", SimpleNamespace(dump=dump_then_fail))
    with pytest.raises(OSError, match="disk full"):
        sinks.write_single_json(df, str(out), "region.json")
    assert Path(path).read_bytes() == before
    assert os.listdir(out) == ["region.json"]


def test_partitioned_parquet_prunes(spark):
    ev = load_table(spark, SF_DIR, "events").withColumn(
        "day", F.to_date("ts")
    )
    with tempfile.TemporaryDirectory() as d:
        sinks.write_partitioned(ev, d + "/events", "day")
        # partition directories exist
        days = [p.name for p in Path(d, "events").iterdir() if p.name.startswith("day=")]
        assert len(days) >= 25
        back = spark.read.parquet(d + "/events").filter(F.col("day") == "2024-01-05")
        from procurement_system_bigdata_spark.plans.explain import plan_stats

        stats = plan_stats(back)
        assert back.count() > 0
        # the date filter must prune partitions, not scan them
        assert "PartitionFilters" in stats["plan"] or "day#" not in stats["plan"]


def test_task_log_sink(tmp_path):
    p = sinks.write_task_log(
        str(tmp_path), "aggregate_orders", date(2026, 1, 14), "success",
        {"rows": 348},
    )
    rec = json.load(open(p))
    assert rec["task"] == "aggregate_orders"
    assert rec["status"] == "success"
    assert rec["details"]["rows"] == 348
    assert "14-01-2026" in p


def test_dynamic_partition_pruning_through_join(spark):
    """The 100 TB date-partition story must survive a JOIN: when the day
    filter arrives via a dimension table instead of a literal, Spark's
    dynamic partition pruning must inject the runtime partition filter.
    Gotcha encoded here: the build side needs a literal-comparison predicate
    — a bare boolean attribute filter fails isLikelySelective and silently
    disables DPP (full fact scan)."""
    ev = load_table(spark, SF_DIR, "events").withColumn("day", F.to_date("ts"))
    with tempfile.TemporaryDirectory() as d:
        sinks.write_partitioned(ev, d + "/events", "day")
        days = (
            ev.groupBy("day")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .withColumn("day_rank", F.dayofmonth("day"))
        )
        days.write.mode("overwrite").parquet(d + "/days")
        facts = spark.read.parquet(d + "/events")
        hot = spark.read.parquet(d + "/days").filter(F.col("day_rank") <= F.lit(3))
        j = facts.join(hot, "day").agg(F.sum("value").alias("total"))
        plan = j._jdf.queryExecution().optimizedPlan().toString().lower()
        assert "dynamicpruning" in plan, "day-dim join must prune partitions at runtime"
        assert j.collect()[0]["total"] is not None


def test_split_fields_escaped_quotes():
    """'' escapes must not terminate the string mid-value (an 'Acme''s, co'
    style value is ONE field) — mirrors _statement_end's pair-consuming scan."""
    from procurement_system_bigdata_spark.sources.master_sql import (
        _split_fields,
        _split_tuples,
    )

    assert _split_fields("'Acme''s, co', 5") == ["Acme's, co", 5]
    assert _split_fields("'x', 'a''b''c', 2.5") == ["x", "a'b'c", 2.5]
    assert _split_tuples("('Acme''s, co', 5), ('B', 6)") == [
        ["Acme's, co", 5],
        ["B", 6],
    ]


def test_jdbc_scan_option_plumbing(spark):
    """S8 contract: the option map must carry the parallel-range-read bounds
    and pass-through options; the live load path must reach Spark's JDBC
    source (failing on the missing driver, not on our plumbing)."""
    from procurement_system_bigdata_spark.sources.readers import (
        jdbc_scan_options,
        read_jdbc_table,
    )

    opts = jdbc_scan_options(
        "jdbc:postgresql://db:5432/master", "public.products",
        partition_column="product_id", num_partitions=16,
        lower_bound=1, upper_bound=100000, fetchsize=1000,
    )
    assert opts == {
        "url": "jdbc:postgresql://db:5432/master",
        "dbtable": "public.products",
        "partitionColumn": "product_id",
        "numPartitions": "16",
        "lowerBound": "1",
        "upperBound": "100000",
        "fetchsize": "1000",
    }
    # no partitioning -> no bound options leak in
    assert set(jdbc_scan_options("jdbc:h2:mem:x", "t")) == {"url", "dbtable"}
    import pytest

    with pytest.raises(Exception, match="(?i)driver|connection"):
        read_jdbc_table(spark, "jdbc:postgresql://nohost:5432/x", "t")


def test_cassandra_upsert_writer_wiring(spark):
    """S4 contract: the writer must be configured with the connector format,
    append (=Cassandra upsert) mode, and keyspace/table options; invoking it
    without the connector jar must fail in Spark's DataSource resolution
    (DATA_SOURCE_NOT_FOUND), proving the wiring is live, not dead code."""
    import pytest

    from procurement_system_bigdata_spark.sources import sinks

    df = spark.range(3).selectExpr("id AS sku_id", "id * 2 AS available_qty")
    writer = sinks.cassandra_upsert_writer(df, "procurement", "stock_snapshots")
    assert sinks.cassandra_upsert_options("procurement", "stock_snapshots") == {
        "keyspace": "procurement",
        "table": "stock_snapshots",
        "confirm.truncate": "false",
    }
    with pytest.raises(Exception, match="(?i)data.?source.*not.*found|failed to find"):
        writer.save()


def test_compact_parquet_reduces_files(spark, tmp_path):
    """Compaction must cut the file count to the byte-target and preserve
    the data exactly, both to a new path and in place."""
    import os

    from procurement_system_bigdata_spark.sources import sinks

    src = str(tmp_path / "frag")
    df = spark.range(10000).selectExpr("id", "id * 2 AS v")
    df.repartition(64).write.parquet(src)  # 64 tiny files
    n_before = sum(1 for f in os.listdir(src) if f.startswith("part-"))
    assert n_before == 64

    out = str(tmp_path / "compact")
    n = sinks.compact_parquet(spark, src, target_file_bytes=1 << 30, out_path=out)
    assert n == 1
    assert sum(1 for f in os.listdir(out) if f.startswith("part-")) == 1
    assert spark.read.parquet(out).exceptAll(df).count() == 0
    assert df.exceptAll(spark.read.parquet(out)).count() == 0

    # in place: staged + crash-safe swap, same contents at the same path
    sinks.compact_parquet(spark, src, target_file_bytes=1 << 30)
    assert sum(1 for f in os.listdir(src) if f.startswith("part-")) == 1
    assert spark.read.parquet(src).exceptAll(df).count() == 0


def test_compact_parquet_recovers_from_crashed_swap(spark, tmp_path):
    """A compaction that died between os.rename(path, old) and
    os.rename(dest, path) leaves the dataset only at path+'.old'; the next
    compact_parquet call must restore it (and clear stale staging) before
    doing anything else, so no reader window is lost."""
    import os

    from procurement_system_bigdata_spark.sources import sinks

    src = str(tmp_path / "data")
    df = spark.range(1000).selectExpr("id", "id * 3 AS v")
    df.repartition(8).write.parquet(src)

    # simulate the mid-swap crash state: dataset at .old, stale staging dir
    os.rename(src, src + ".old")
    os.makedirs(src + "._compact_staging")
    with open(os.path.join(src + "._compact_staging", "junk"), "w") as f:
        f.write("stale")

    n = sinks.compact_parquet(spark, src, target_file_bytes=1 << 30)
    assert n == 1
    assert not os.path.exists(src + ".old")
    assert not os.path.exists(src + "._compact_staging")
    assert spark.read.parquet(src).exceptAll(df).count() == 0
    assert df.exceptAll(spark.read.parquet(src)).count() == 0


def test_jdbc_live_roundtrip_via_embedded_derby(spark):
    """S8 against a REAL database: Spark ships Derby for its metastore, so
    the embedded driver gives a dependency-free live JDBC path — write,
    read back (values exact), parallel range-partitioned read (4 input
    partitions), and predicate pushdown INTO the database scan."""
    from procurement_system_bigdata_spark.sources.readers import read_jdbc_table

    url = "jdbc:derby:memory:s8test;create=true"
    drv = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    df = spark.range(100).selectExpr("id", "id * 3 AS v")
    (
        df.write.format("jdbc")
        .options(url=url, dbtable="MASTER_T", **drv)
        .mode("overwrite")
        .save()
    )

    back = read_jdbc_table(spark, url, "MASTER_T", **drv)
    assert sorted(tuple(r) for r in back.collect()) == [(i, 3 * i) for i in range(100)]

    part = read_jdbc_table(
        spark, url, "MASTER_T", partition_column="ID",
        num_partitions=4, lower_bound=0, upper_bound=100, **drv,
    )
    assert part.rdd.getNumPartitions() == 4
    assert part.count() == 100

    filtered = back.filter(back.id >= 90)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThanOrEqual(id,90)" in plan, (
        "filter must reach the DB scan"
    )
    assert filtered.count() == 10


def test_cassandra_writer_contract_via_lww_store(spark, tmp_path):
    """S4 write-path contract, mirroring the Derby JDBC live test: the SAME
    cassandra_upsert_writer seam drives a real registered Python DataSource
    (lwwstore) that honors Cassandra's last-write-wins-by-PK semantics
    (reference init-scripts/cassandra/init.cql:15-17) through Spark's full
    DSv2 write path — task staging, WriterCommitMessages, driver commit."""
    from procurement_system_bigdata_spark.sources import lww_store, sinks

    lww_store.register(spark)
    root = str(tmp_path / "store")
    common = dict(fmt=lww_store.FORMAT_NAME, path=root, pk="sku,warehouse")

    day1 = spark.createDataFrame(
        [("S1", "W1", 100, "2024-01-01"), ("S2", "W1", 50, "2024-01-01")],
        "sku string, warehouse string, qty long, snapshot_date string",
    )
    sinks.cassandra_upsert_writer(
        day1, "procurement", "inventory", writetime=1000, **common
    ).save()

    # day 2 replays PK (S1, W1) with a newer writetime: upsert, not append
    day2 = spark.createDataFrame(
        [("S1", "W1", 75, "2024-01-02"), ("S3", "W2", 20, "2024-01-02")],
        "sku string, warehouse string, qty long, snapshot_date string",
    )
    writer2 = sinks.cassandra_upsert_writer(
        day2, "procurement", "inventory", writetime=2000, **common
    )
    writer2.save()
    writer2.save()  # at-least-once replay, same writetime: idempotent

    resolved = lww_store.read_lww_table(spark, root, "procurement", "inventory")
    got = {(r.sku, r.warehouse): (r.qty, r.snapshot_date) for r in resolved.collect()}
    assert got == {
        ("S1", "W1"): (75, "2024-01-02"),  # last write won
        ("S2", "W1"): (50, "2024-01-01"),
        ("S3", "W2"): (20, "2024-01-02"),
    }
    # raw log retains every upsert (append-only, no read-modify-write);
    # the replayed batch added log entries but not resolved rows
    raw = (
        spark.read.format(lww_store.FORMAT_NAME)
        .options(path=root, keyspace="procurement", table="inventory")
        .load()
    )
    assert raw.count() == 6 and resolved.count() == 3

    # contract guards: PK/schema immutability, append-only mode, no
    # leftover staging files after commit
    import os

    import pytest

    with pytest.raises(Exception, match="pk mismatch"):
        sinks.cassandra_upsert_writer(
            day1, "procurement", "inventory",
            fmt=lww_store.FORMAT_NAME, path=root, pk="sku", writetime=3000,
        ).save()
    with pytest.raises(Exception, match="append-only"):
        day1.write.format(lww_store.FORMAT_NAME).mode("overwrite").options(
            path=root, keyspace="procurement", table="inventory",
            writetime=3000,
        ).save()
    staging = os.path.join(root, "procurement", "inventory", "_staging")
    assert not os.path.isdir(staging) or not os.listdir(staging)


def test_compact_parquet_refuses_partitioned_layout(spark, tmp_path):
    """Compacting across a hive-partitioned layout would flatten it and
    lose partition pruning — must refuse with guidance, and the
    per-partition compaction it recommends must work."""
    import os

    import pytest

    from procurement_system_bigdata_spark.sources import sinks

    src = str(tmp_path / "parted")
    df = spark.range(1000).selectExpr("id", "id % 3 AS day")
    df.repartition(8).write.partitionBy("day").parquet(src)
    with pytest.raises(ValueError, match="hive-partitioned"):
        sinks.compact_parquet(spark, src)
    # the recommended unit works: compact one partition dir in place
    part_dir = os.path.join(src, "day=0")
    sinks.compact_parquet(spark, part_dir, target_file_bytes=1 << 30)
    n = sum(1 for f in os.listdir(part_dir) if f.startswith("part-"))
    assert n == 1
    back = spark.read.parquet(src)
    assert back.count() == 1000


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """ORC must give the same scan guarantees as parquet: values exact on
    roundtrip, partition pruning on the partitioned layout, and predicates
    reaching the ORC scan's PushedFilters."""
    import os

    from procurement_system_bigdata_spark.sources import readers, sinks

    df = spark.range(1000).selectExpr("id", "id % 4 AS part", "id * 7 AS v")
    path = str(tmp_path / "orc_data")
    sinks.write_orc(df, path, "part")
    assert any("part=" in d for d in os.listdir(path))

    back = readers.read_orc(spark, path)
    assert back.count() == 1000
    assert sorted((r.id, r.v) for r in back.collect()) == [
        (i, 7 * i) for i in range(1000)
    ]

    filtered = back.filter("v >= 6300").select("id")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "GreaterThanOrEqual(v,6300)" in plan
    pruned = back.filter("part = 2")
    pplan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in pplan and "part" in pplan
    assert pruned.count() == 250


def test_binaryfile_media_ingest_feeds_codecs(spark, tmp_path):
    """binaryFile source -> multimodal pipeline: files on disk become
    (path, content) rows, the glob filters by extension, and the bytes
    decode executor-side to the exact pixels that were written."""
    import numpy as np

    from procurement_system_bigdata_spark.operators import codecs
    from procurement_system_bigdata_spark.sources import readers

    media_dir = tmp_path / "media"
    media_dir.mkdir()
    want = {}
    for i in range(4):
        payload = codecs.synthesize_image(i, 8, 6)
        (media_dir / f"img_{i}.ppm").write_bytes(payload)
        want[f"img_{i}.ppm"] = payload
    (media_dir / "notes.txt").write_bytes(b"not media")

    rows = readers.read_media_dir(spark, str(media_dir), glob="*.ppm").collect()
    assert len(rows) == 4
    for r in rows:
        name = r.path.rsplit("/", 1)[-1]
        assert r.length == len(want[name])
        assert bytes(r.content) == want[name]
        arr = codecs.decode_ppm(bytes(r.content))
        assert arr.shape == (6, 8, 3)
        assert (arr == codecs.decode_ppm(want[name])).all()


def test_lww_store_abort_discards_staged_files(spark, tmp_path):
    """The DSv2 abort path: staged part files from a failed write must be
    removed so no half-committed batch ever becomes visible to readers."""
    import os

    from procurement_system_bigdata_spark.sources import lww_store

    root = str(tmp_path / "store")
    table_dir = os.path.join(root, "ks", "t")
    os.makedirs(os.path.join(table_dir, "_staging"), exist_ok=True)

    class Opts(dict):
        pass

    opts = Opts(path=root, keyspace="ks", table="t", writetime="100", pk="k")
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("k", LongType()), StructField("v", LongType())])
    writer = lww_store._LwwWriter(opts, schema)
    from pyspark.sql import Row

    msg = writer.write(iter([Row(k=1, v=2), Row(k=2, v=3)]))
    assert len(msg.paths) == 1 and os.path.exists(msg.paths[0])
    writer.abort([msg])
    assert not os.path.exists(msg.paths[0])
    assert not os.path.isdir(os.path.join(table_dir, "log")) or not os.listdir(
        os.path.join(table_dir, "log")
    )


def test_versioned_dataset_pin_and_vacuum(spark, tmp_path):
    """Versioned snapshots: immutable pinned reads (reproducible training
    runs), atomic latest pointer, orphan v-dirs superseded after a
    simulated crash, vacuum retains the newest K and the pointer target."""
    import os

    from procurement_system_bigdata_spark.sources import versioned

    root = str(tmp_path / "ds")
    v1 = versioned.write_version(spark.range(10).selectExpr("id", "id*2 AS v"), root)
    v2 = versioned.write_version(spark.range(20).selectExpr("id", "id*3 AS v"), root)
    assert (v1, v2) == (1, 2)
    assert versioned.latest_version(root) == 2
    assert versioned.read_version(spark, root).count() == 20
    # pinned read is reproducible after later writes
    assert versioned.read_version(spark, root, version=1).count() == 10
    assert {tuple(r) for r in versioned.read_version(spark, root, 1).collect()} == {
        (i, 2 * i) for i in range(10)
    }

    # simulated crash: snapshot dir written, pointer NOT advanced
    spark.range(5).write.mode("overwrite").parquet(os.path.join(root, "v=3"))
    assert versioned.latest_version(root) == 2  # readers unaffected
    v4 = versioned.write_version(spark.range(7).selectExpr("id", "id AS v"), root)
    assert v4 == 4  # orphan superseded, never reused
    assert versioned.read_version(spark, root).count() == 7

    removed = versioned.vacuum(root, keep_last=2)
    assert 1 in removed
    assert versioned.latest_version(root) == 4
    assert versioned.read_version(spark, root, 4).count() == 7
    import pytest

    with pytest.raises(ValueError, match="version 1 not found"):
        versioned.read_version(spark, root, 1)


def test_media_compaction_roundtrip(spark, tmp_path):
    """binaryFile ingest compacted to a parquet payload table: same bytes,
    block-granular scans afterwards."""
    from procurement_system_bigdata_spark.operators import codecs
    from procurement_system_bigdata_spark.sources import readers

    media_dir = tmp_path / "raw"
    media_dir.mkdir()
    for i in range(3):
        (media_dir / f"m{i}.ppm").write_bytes(codecs.synthesize_image(i, 8, 6))
    out = str(tmp_path / "payloads")
    n = readers.compact_media_dir(spark, str(media_dir), out, glob="*.ppm")
    assert n == 3
    back = {r.path.rsplit("/", 1)[-1]: bytes(r.content)
            for r in spark.read.parquet(out).collect()}
    for i in range(3):
        assert back[f"m{i}.ppm"] == codecs.synthesize_image(i, 8, 6)


def test_nightly_curation_writes_pinned_versions(spark, tmp_path):
    """The nightly shape end-to-end: curate the corpus, commit it as an
    immutable version; next night's bigger corpus commits the next version;
    the training run pinned to v1 re-reads EXACTLY its bytes."""
    import pyspark.sql.functions as F

    from conftest import SF_DIR
    from procurement_system_bigdata_spark.catalog import load_table
    from procurement_system_bigdata_spark.functions import portable as P
    from procurement_system_bigdata_spark.queries.llmdata import curate_corpus
    from procurement_system_bigdata_spark.sources import versioned

    docs = load_table(spark, SF_DIR, "documents")
    root = str(tmp_path / "corpus_versions")
    night1 = curate_corpus(
        docs, k=P.MINHASH_K_ORACLE, n_bands=P.MINHASH_BANDS_ORACLE
    )
    v1 = versioned.write_version(night1, root)
    v1_rows = {
        tuple(r) for r in versioned.read_version(spark, root, v1).collect()
    }
    assert v1_rows == {tuple(r) for r in night1.collect()}

    # next night: corpus grew; new version, old pin unchanged
    grown = docs.unionByName(
        docs.select(
            (F.col("doc_id").cast("long") + 1_000_000).alias("doc_id"),
            "text", "lang", "source", "n_chars",
        ).limit(50)
    )
    v2 = versioned.write_version(
        curate_corpus(grown, k=P.MINHASH_K_ORACLE, n_bands=P.MINHASH_BANDS_ORACLE),
        root,
    )
    assert v2 == v1 + 1
    assert versioned.read_version(spark, root).count() >= len(v1_rows)
    assert {
        tuple(r) for r in versioned.read_version(spark, root, v1).collect()
    } == v1_rows, "pinned version must be byte-stable across later commits"
