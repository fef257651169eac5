"""D2: per-stage retry policy (reference dags/pipeline.py:806-811 —
retries=2, retry_delay=5min on every task) and its D4 interplay (the
all_done summary still emits, 0-defaulted, when a stage exhausts retries).

The transient fault is injected as a REAL failing Spark job (a mapInPandas
task that raises until a cross-attempt counter file passes the threshold),
so the retry wrapper is exercised against actual job failures, not mocked
exceptions.  The pipeline-level tests run on the seeded tiny generated day
(perfbench/gen_daily.py), like tests/test_daily_run.py."""

from __future__ import annotations

import os
import sys

import pytest

from procurement_system_bigdata_spark.operators import pipeline as pl
from procurement_system_bigdata_spark.sources import master_sql, readers

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
)

import gen_daily  # noqa: E402

SEED = 7
RUN_DATE = gen_daily.RUN_DATE
SUMMARY_KEYS = (
    "run_date", "orders_count", "aggregated_count", "net_demand_count",
    "total_net_demand", "items_with_demand", "supplier_orders_count",
    "total_cost",
)


# --- retry_stage unit semantics ------------------------------------------

def test_retry_stage_fail_twice_then_succeed():
    calls = {"n": 0}
    sleeps: list[float] = []

    def flaky():
        calls["n"] += 1
        if calls["n"] <= 2:
            raise RuntimeError("transient")
        return "ok"

    out = pl.retry_stage(
        flaky, stage="t", retries=2, delay_sec=7.5, sleep=sleeps.append
    )
    assert out == "ok"
    assert calls["n"] == 3
    assert sleeps == [7.5, 7.5]


def test_retry_stage_exhausts_and_reraises():
    calls = {"n": 0}

    def always_fails():
        calls["n"] += 1
        raise ValueError("permanent")

    with pytest.raises(ValueError, match="permanent"):
        pl.retry_stage(
            always_fails, stage="t", retries=2, delay_sec=0.0, sleep=lambda _: None
        )
    assert calls["n"] == 3  # first attempt + 2 retries, like the reference


def test_retry_stage_no_retry_on_success():
    sleeps: list[float] = []
    assert pl.retry_stage(lambda: 42, sleep=sleeps.append) == 42
    assert sleeps == []


# --- pipeline-level integration ------------------------------------------

def _flaky_scan(df, counter_path: str, fail_times: int):
    """Wrap df so each JOB that scans it raises until the scan counter (a
    file, shared across retry attempts) reaches fail_times.  coalesce(1)
    keeps it one task per scan so the count is deterministic; local mode has
    no task-level retries, so each raise fails the whole job attempt."""
    schema = df.schema

    def gen(batches):
        try:
            with open(counter_path) as f:
                n = int(f.read().strip() or 0)
        except FileNotFoundError:
            n = 0
        with open(counter_path, "w") as f:
            f.write(str(n + 1))
        if n < fail_times:
            raise RuntimeError(f"injected transient failure #{n}")
        yield from batches

    return df.coalesce(1).mapInPandas(gen, schema)


@pytest.fixture(scope="module")
def pipeline_inputs(spark, tmp_path_factory):
    root, _ = gen_daily.ensure_daily_inputs(str(tmp_path_factory.mktemp("day")), SEED, "tiny")
    paths = gen_daily.daily_paths(root)
    master = master_sql.master_data_frames(spark, paths["init_sql"])
    orders = readers.read_orders_csv(spark, paths["orders"])
    snaps = readers.read_snapshots_json(spark, paths["snapshots"])
    return master, orders, snaps


@pytest.fixture(scope="module")
def clean_summary(pipeline_inputs):
    out = _run(*pipeline_inputs)
    assert out["failed_stages"] == []
    assert out["summary"]["supplier_orders_count"] > 0
    out["release"]()
    return out["summary"]


def _run(master, orders, snaps, **kw):
    return pl.run_pipeline(
        orders=orders,
        products=master["products"],
        warehouses=master["warehouses"],
        suppliers=master["suppliers"],
        supplier_products=master["supplier_products"],
        safety_stock=master["safety_stock"],
        ss_by_warehouse=master["safety_stock_by_warehouse"],
        snapshots=snaps,
        run_date=RUN_DATE,
        **kw,
    )


def test_pipeline_recovers_from_transient_stage_failure(
    pipeline_inputs, clean_summary, tmp_path
):
    """A stage failing twice then succeeding yields the COMPLETE summary —
    identical to a clean run — with both retry delays taken."""
    master, orders, snaps = pipeline_inputs
    sleeps: list[float] = []
    flaky = _flaky_scan(orders, str(tmp_path / "ctr"), fail_times=2)
    out = _run(
        master,
        flaky,
        snaps,
        stage_retries=2,
        retry_delay_sec=1.5,
        retry_sleep=sleeps.append,
    )
    assert out["failed_stages"] == []
    assert out["summary"] == clean_summary
    assert list(out["summary"]) == list(SUMMARY_KEYS)
    assert sleeps == [1.5, 1.5]
    out["release"]()


def test_pipeline_summary_emits_zero_defaults_on_exhausted_retries(
    pipeline_inputs, tmp_path
):
    """D4 interplay: when retries are exhausted the run does NOT raise — the
    all_done summary emits with every metric present and 0-defaulted for the
    failed stages, and failed_stages names them."""
    master, orders, snaps = pipeline_inputs
    flaky = _flaky_scan(orders, str(tmp_path / "ctr"), fail_times=10_000)
    out = _run(
        master,
        flaky,
        snaps,
        stage_retries=1,
        retry_delay_sec=0.0,
        retry_sleep=lambda _: None,
    )
    summary = out["summary"]
    assert list(summary) == list(SUMMARY_KEYS)  # complete despite failures
    assert summary["run_date"] == RUN_DATE.isoformat()
    for k in SUMMARY_KEYS[1:]:
        assert summary[k] == 0, k
    assert set(out["failed_stages"]) == {"generate_supplier_orders", *SUMMARY_KEYS[1:]}
    assert out["supplier_orders"] is None
    out["release"]()


def test_pipeline_supplier_orders_failure_degrades_only_its_metrics(
    pipeline_inputs, clean_summary, tmp_path
):
    """A Q3 input that never scans fails generate_supplier_orders alone: its
    two metrics are 0-defaulted and named with it, supplier_orders is None,
    and every other metric equals a clean run's."""
    master, orders, snaps = pipeline_inputs
    flaky_offers = _flaky_scan(
        master["supplier_products"], str(tmp_path / "ctr"), fail_times=10_000
    )
    out = _run(
        dict(master, supplier_products=flaky_offers),
        orders,
        snaps,
        stage_retries=1,
        retry_delay_sec=0.0,
        retry_sleep=lambda _: None,
    )
    assert set(out["failed_stages"]) == {
        "generate_supplier_orders", "supplier_orders_count", "total_cost",
    }
    assert out["supplier_orders"] is None
    summary = out["summary"]
    assert list(summary) == list(SUMMARY_KEYS)
    assert summary["supplier_orders_count"] == 0
    assert summary["total_cost"] == 0.0
    for k in SUMMARY_KEYS[:-2]:
        assert summary[k] == clean_summary[k], k
    out["release"]()
