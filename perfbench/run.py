"""Benchmark of record for the procurement engine.

Usage (from the repository root)::

    python3 perfbench/run.py --workload daily_dag --seed 1 --seconds 10 --trace 0

Workloads: ``daily_dag``, ``adhoc_olap``, ``corpus_curation`` (see
perfbench/README.md).  The run generates its inputs from ``--seed`` (cached
under perfbench/.work), starts a Spark session, measures for ``--seconds``
seconds, checks every operation's outputs, and prints as its last stdout
line one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``.  ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer metrics of a traced run, whose spans are written to
perfbench/.work/results.  The line before it (``# result ...``) records the
environment, the info figures and every metric computed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

from spans import peak_rss_mb

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SETUP_REPS = 4
#: leading set-ups left out of setup_s: the first launches the JVM, and the
#: second still runs while the JIT compiles the start-up paths, which makes
#: it swing by up to 2x with the load on the host
SETUP_SKIP = 2
DRIVER_MEMORY = "2g"

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "master_sql.master_data_frames_s": "s",
    "readers.orders_csv_s": "s",
    "readers.snapshots_json_s": "s",
    "readers.rows_in": "count",
    "pipeline.run_pipeline_s": "s",
    "pipeline.jobs": "count",
    "sinks.write_single_csv_s": "s",
    "sinks.write_single_json_s": "s",
    "sinks.bytes_written": "bytes",
    "catalog.load_table_s": "s",
    "catalog.load_table_calls": "count",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "queries.build_share": "ratio",
    "dedup.build_s": "s",
    "dedup.exec_s": "s",
    "dedup.pairs_out": "count",
    "dedup.true_pair_recall": "ratio",
    "clustering.dedup_clusters_s": "s",
    "clustering.jobs": "count",
    "llmdata.curate_corpus_s": "s",
    "llmdata.rows_out": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.executor_busy_ratio": "ratio",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "failed_ratio": "ratio",
    "trace.overhead_s": "s",
    "trace.overhead_share": "ratio",
}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment() -> dict:
    """Pin what the engine reads from the environment and record it."""
    cores = _cores()
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    # session.get_spark sizes shuffle partitions from SPARK_GRAFT_CPUS and
    # falls back to 32 when it is unset
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # temp files stay in the checkout: Python's, and both JVMs' (the
    # spark-submit launcher and the driver), whose perf-data files would
    # otherwise go to /tmp
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        # keep every job and stage of the run in the status store
        "--conf spark.ui.retainedJobs=1000000",
        "--conf spark.ui.retainedStages=1000000",
        "pyspark-shell",
    ])
    try:
        head = subprocess.run(["git", "-C", REPO, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except OSError:
        head = None
    import pyspark

    return {
        "cores": cores,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_LOCAL_DIRS": local,
        "driver_memory": DRIVER_MEMORY,
        "git_head": head,
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
    }


def stop_jvm(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _percentile(values, q: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the smoke tests")
    ap.add_argument("--corrupt", action="store_true",
                    help="smoke-test hook: damage each operation's output before its check")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(REPO, "procurement_system_bigdata_spark", "__init__.py")):
        print("perfbench: the engine package is not next to perfbench/; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"expected one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    env = pin_environment()
    env["seed"] = args.seed
    wl = workloads.WORKLOADS[args.workload](
        WORK, args.seed, args.size, bool(args.trace), args.corrupt)

    t0 = time.perf_counter()
    manifest = wl.prepare()
    input_gen_s = time.perf_counter() - t0

    from procurement_system_bigdata_spark.session import get_spark

    # set-up: session start plus the workload's light probe, repeated.  The
    # first repetition also launches the JVM, once per process, so it is
    # reported apart; setup_s is the median of the last SETUP_REPS - SETUP_SKIP.
    setups, starts, spark = [], [], None
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        starts.append(time.perf_counter() - t0)
        wl.probe(spark)
        setups.append(time.perf_counter() - t0)

    t0 = time.perf_counter()
    wl.warm(spark)
    warm_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    wl.measure(spark, args.seconds)
    wall = time.perf_counter() - t0

    t0 = time.perf_counter()
    wl.check_all()
    check_s = time.perf_counter() - t0

    records = wl.records
    attempted = len(records)
    failed = sum(1 for r in records if r["errors"])
    timed = [r for r in records if not r["traced"]]
    lat = [r["latency_s"] for r in timed]
    info = {
        "workload": args.workload,
        "size": args.size,
        "clients": wl.clients,
        "inputs": manifest,
        "input_gen_s": input_gen_s,
        "first_setup_s": setups[0],
        "setup_samples_s": setups,
        "warm_s": warm_s,
        "measure_wall_s": wall,
        "check_s": check_s,
        "ops": attempted,
        "untraced_ops": len(timed),
        "op_latencies_s": lat,
        "errors": [e for r in records for e in r["errors"]][:20],
    }
    if args.trace:
        layers = {k: 0.0 for k in PER_LAYER}
        per_layer, payload = wl.trace_report(spark, env["cores"])
        layers.update(per_layer)
        layers["session.start_s"] = statistics.median(starts[SETUP_SKIP:])
        layers["failed_ratio"] = failed / attempted
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        trace_path = os.path.join(
            WORK, "results", f"{args.workload}-seed{args.seed}-spans.json")
        with open(trace_path, "w") as f:
            json.dump(dict(env=env, info=info, per_layer=layers, **payload), f, default=str)
        info["trace_file"] = os.path.relpath(trace_path, REPO)

    rss = peak_rss_mb()
    info["peak_rss_by_pid_mb"] = rss
    stop_jvm(spark)
    e2e = {
        "setup_s": statistics.median(setups[SETUP_SKIP:]),
        "op_p50_s": statistics.median(lat),
        "op_p90_s": _percentile(lat, 90),
        # operations per second of the time at least one was running
        "ops_per_s": attempted / workloads.union_seconds([(r["start"], r["end"]) for r in records]),
        "peak_rss_mb": sum(rss.values()),
    }
    if args.trace:
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}

    print("# result " + json.dumps({"env": env, "info": info, "end_to_end": e2e}, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
