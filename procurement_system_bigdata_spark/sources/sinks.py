"""Result sinks: single-file CSV/JSON (byte-layout parity) and partitioned
parquet (the 100 TB path).

The reference writes one CSV + one pretty JSON per dataset per day under
``<root>/<dataset>/<dd-MM-yyyy>/`` (S11-S13, reference dags/pipeline.py
:440-457, :554-571, :696-713).  Single-file output requires coalesce(1) —
acceptable at daily-batch scale, explicitly NOT the scale path.  At scale,
``write_partitioned`` keeps the same logical layout (a run_date partition
column) with parallel writers.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from datetime import date

from pyspark.sql import DataFrame

DDMMYYYY = "%d-%m-%Y"  # the reference's directory date format (pipeline.py:39)


def day_dir(root: str, dataset: str, run_date: date) -> str:
    return os.path.join(root, dataset, run_date.strftime(DDMMYYYY))


def write_single_csv(df: DataFrame, directory: str, filename: str) -> str:
    """S12: one header CSV, column order = select order.  Spark writes a
    part-file into a temp dir; we rename to the exact reference layout."""
    tmp = directory + "_spark_tmp"
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(tmp)
    os.makedirs(directory, exist_ok=True)
    part = next(f for f in os.listdir(tmp) if f.startswith("part-") and f.endswith(".csv"))
    final = os.path.join(directory, filename)
    os.replace(os.path.join(tmp, part), final)
    for leftover in os.listdir(tmp):
        os.remove(os.path.join(tmp, leftover))
    os.rmdir(tmp)
    return final


def write_json_file(path: str, obj) -> str:
    """Pretty-print ``obj`` as JSON (indent=2, ``default=str``) to ``path``,
    crash-safe: the dump goes to a temp file in the same directory, which
    ``os.replace`` then moves into place, so a failure mid-dump leaves the
    previous file intact and no partial file behind."""
    directory = os.path.dirname(path) or "."
    os.makedirs(directory, exist_ok=True)
    tmp = os.path.join(directory, f".{os.path.basename(path)}.{uuid.uuid4().hex}.tmp")
    try:
        with open(tmp, "x") as f:
            json.dump(obj, f, indent=2, default=str)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
    return path


def write_single_json(df: DataFrame, directory: str, filename: str) -> str:
    """S11: pretty-printed JSON array (json.dump indent=2 parity,
    reference pipeline.py:440-442).  Collects — sized for daily-batch
    result sets only, like the reference's own fetchall()."""
    rows = [r.asDict(recursive=True) for r in df.collect()]
    return write_json_file(os.path.join(directory, filename), rows)


def write_task_log(
    root: str, task: str, run_date: date, status: str, details: dict
) -> str:
    """S14: per-task JSON audit record (reference pipeline.py:89-119 writes
    one timestamped JSON per task to data/logs/tasks/<dd-MM-yyyy>/).  Run
    metadata, not a query op — plain Python around the engine."""
    from datetime import datetime, timezone

    ts = datetime.now(timezone.utc).strftime("%Y%m%d_%H%M%S")
    directory = day_dir(os.path.join(root, "logs", "tasks"), "", run_date).rstrip("/")
    return write_json_file(
        os.path.join(directory, f"{task}_{ts}.json"),
        {
            "task": task,
            "run_date": run_date.isoformat(),
            "timestamp": ts,
            "status": status,
            "details": details,
        },
    )


CASSANDRA_FORMAT = "org.apache.spark.sql.cassandra"


def cassandra_upsert_options(keyspace: str, table: str) -> dict[str, str]:
    """Option map for the S4 Cassandra upsert sink — pure function for
    contract tests (the live path needs the spark-cassandra-connector jar
    and a cluster)."""
    return {"keyspace": keyspace, "table": table, "confirm.truncate": "false"}


def cassandra_upsert_writer(
    df: DataFrame, keyspace: str, table: str, fmt: str = CASSANDRA_FORMAT, **extra
):
    """S4: the production Cassandra sink the reference feeds row-by-row
    (reference dags/pipeline.py:275-289 INSERTs each snapshot row; Cassandra
    INSERT is an upsert, so replays are last-write-wins on the primary key —
    init-scripts/cassandra/init.cql:7-17).

    ``mode("append")`` reproduces exactly those semantics: every row becomes
    an upsert by PK, idempotent under replay, no read-modify-write.  Returns
    the CONFIGURED writer (caller invokes .save()) so deployments can add
    consistency/TTL options.  Requires
    ``com.datastax.spark:spark-cassandra-connector`` on the classpath; in
    this environment .save() raises DATA_SOURCE_NOT_FOUND — asserted by the
    contract test, which proves the wiring reaches Spark's DataSource
    resolution rather than being dead code.  The harness replays the same
    upsert semantics on parquet in sources/readers.read_snapshots_json.

    ``fmt``/``extra`` swap the backing connector behind the SAME seam: the
    contract test passes fmt=lww_store.FORMAT_NAME (a real registered
    Python DataSource with Cassandra's LWW-by-PK semantics and a two-phase
    commit) plus its path/writetime/pk options, so the write path —
    DataSource resolution, task staging, driver commit — is exercised live
    with replayed keys even though the sandbox has no Cassandra cluster.
    """
    writer = df.write.format(fmt).mode("append")
    opts = {**cassandra_upsert_options(keyspace, table), **extra}
    for k, v in opts.items():
        writer = writer.option(k, str(v))
    return writer


def write_partitioned(df: DataFrame, path: str, *partition_cols: str) -> None:
    """The scale path: parquet partitioned by (e.g.) run_date — equivalent
    logical layout to the reference's date directories (SURVEY §1.3), with
    partition pruning on read and parallel writers."""
    writer = df.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def compact_parquet(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    out_path: str | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet dataset into
    ceil(total_bytes / target_file_bytes) files (HDFS-block-sized by
    default).  The operational fix for the many-small-files failure mode —
    streaming sinks and over-partitioned writers produce thousands of
    KB-sized files whose per-file open/footer cost dominates scans and
    whose name-node/listing pressure grows unbounded.

    Returns the output file count.  In-place compaction (out_path=None)
    stages to a sibling directory then swaps with the same crash-safe
    rename dance as the streaming upsert sink (old copy survives until the
    new one is in place); with a transactional table format this is a
    rewrite-files commit instead.

    Hive-partitioned layouts (key=value subdirectories) are REFUSED: a
    whole-dataset coalesce would flatten the layout and lose partition
    pruning — compact each partition directory separately (that is also
    the parallelizable unit a table format's rewrite job uses).
    """
    import math

    # crash recovery: a prior in-place compaction that died between the two
    # renames leaves the dataset only at path+'.old' — restore it before
    # compacting, and clear any stale staging dir from the aborted attempt
    old = path + ".old"
    staging = path + "._compact_staging"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
    if os.path.exists(staging):
        shutil.rmtree(staging)

    partition_dirs = [
        e.name for e in os.scandir(path) if e.is_dir() and "=" in e.name
    ]
    if partition_dirs:
        raise ValueError(
            f"{path} is hive-partitioned ({partition_dirs[0]}, ...): compact "
            "each partition directory separately to preserve the layout"
        )
    df = spark.read.parquet(path)
    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet") or f.startswith("part-")
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    in_place = out_path is None
    dest = staging if in_place else out_path
    # coalesce, not repartition: narrowing to n_files needs no shuffle
    df.coalesce(n_files).write.mode("overwrite").parquet(dest)
    if in_place:
        if os.path.exists(old):
            shutil.rmtree(old)
        os.rename(path, old)
        os.rename(dest, path)
        shutil.rmtree(old)
    return n_files


def write_orc(df: DataFrame, path: str, *partition_cols: str) -> None:
    """ORC twin of write_partitioned (native writer, no extra packages)."""
    writer = df.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.orc(path)
