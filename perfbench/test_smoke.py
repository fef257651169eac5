"""Smoke tests of the benchmark itself, at a tiny size.

Run from the repository root (each case starts its own Spark JVM; a full
pass takes a few minutes on 4 cores)::

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen_daily  # noqa: E402
import gen_tables  # noqa: E402

WORKLOADS = ("daily_dag", "adhoc_olap", "corpus_curation")


def _bench(*args: str) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--size", "tiny", "--seconds", "1", *args],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_prints_every_end_to_end_metric_and_passes_checks(workload):
    out = _bench("--workload", workload, "--seed", "3", "--trace", "0")
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    got = {name: m["unit"] for name, m in out["metrics"].items()}
    assert got == _declared("end_to_end")
    assert all(m["value"] > 0 for m in out["metrics"].values())


@pytest.mark.parametrize("workload,layer,span", [
    ("daily_dag", "pipeline.run_pipeline_s", "sinks.write_single_csv"),
    ("adhoc_olap", "queries.exec_s", "catalog.load_table"),
    ("corpus_curation", "dedup.build_s", "clustering.dedup_clusters"),
])
def test_traced_run_prints_every_per_layer_metric_and_writes_spans(workload, layer, span):
    out = _bench("--workload", workload, "--seed", "3", "--trace", "1")
    assert out["correct"]
    got = {name: m["unit"] for name, m in out["metrics"].items()}
    assert got == _declared("per_layer")
    assert out["metrics"][layer]["value"] > 0
    assert out["metrics"]["spark.jobs"]["value"] > 0
    with open(os.path.join(HERE, ".work", "results", f"{workload}-seed3-spans.json")) as f:
        spans = json.load(f)["spans"]
    assert {workload, span} <= {s["name"] for s in spans}
    assert all(s["self_s"] >= 0 for s in spans)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_output_raises_failed_ratio(workload):
    out = _bench("--workload", workload, "--seed", "3", "--trace", "0", "--corrupt")
    assert not out["correct"]
    assert out["failed"] == out["attempted"] >= 1


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.fixture
def work_dir():
    """A scratch directory inside the checkout, like the benchmark's own."""
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    path = tempfile.mkdtemp(dir=os.path.join(HERE, ".work"))
    yield path
    shutil.rmtree(path, ignore_errors=True)


@pytest.mark.parametrize("ensure", [
    gen_daily.ensure_daily_inputs, gen_tables.ensure_tpch, gen_tables.ensure_corpus,
])
def test_same_seed_regenerates_identical_inputs(work_dir, ensure):
    a, _ = ensure(os.path.join(work_dir, "a"), 5, "tiny")
    b, _ = ensure(os.path.join(work_dir, "b"), 5, "tiny")
    c, _ = ensure(os.path.join(work_dir, "c"), 6, "tiny")
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)
