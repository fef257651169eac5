"""The paper's daily run, end to end, on every default test run: the CLI's
``main`` over a seeded tiny generated day (perfbench/gen_daily.py), checked
against a DuckDB recompute of the same day (perfbench/checks.py) — row
counts, exact-cent totals, the full supplier_orders row set with its PO
ids, last-write-wins snapshot replay and cheapest-price ties."""

from __future__ import annotations

import csv
import json
import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
)

import checks  # noqa: E402
import gen_daily  # noqa: E402

from procurement_system_bigdata_spark.__main__ import main  # noqa: E402

SEED = 7
DAY = gen_daily.RUN_DATE.strftime("%d-%m-%Y")


@pytest.fixture(scope="module")
def daily_run(spark, tmp_path_factory):
    work = tmp_path_factory.mktemp("daily")
    root, _ = gen_daily.ensure_daily_inputs(str(work), SEED, "tiny")
    paths = gen_daily.daily_paths(root)
    out_root = str(work / "out")
    main([
        "--date", gen_daily.RUN_DATE.isoformat(),
        "--raw-root", paths["raw_root"],
        "--out-root", out_root,
        "--init-sql", paths["init_sql"],
    ])
    return paths, out_root


def _csv_rows(out_root: str, family: str, name: str) -> list[dict]:
    with open(os.path.join(out_root, family, name, DAY, f"{name}.csv"), newline="") as f:
        return list(csv.DictReader(f))


def test_daily_run_matches_duckdb_recompute(daily_run):
    paths, out_root = daily_run
    ref = checks.DailyReference(paths, gen_daily.RUN_DATE)
    assert ref.check(out_root) == []
    summary_path = os.path.join(out_root, "output", "pipeline_summary", f"summary_{DAY}.json")
    with open(summary_path) as f:
        summary = json.load(f)
    assert summary["failed_stages"] == []
    assert summary["supplier_orders_count"] == len(ref.supplier_orders)
    assert summary["total_net_demand"] == ref.total_net_demand


@pytest.mark.parametrize(
    "family, name, measure",
    [
        ("processed", "aggregated_orders", "total_quantity"),
        ("processed", "net_demand", "net_demand"),
        ("output", "supplier_orders", "total_cost"),
    ],
)
def test_daily_csv_rows_in_output_order(daily_run, family, name, measure):
    """Rows are written measure-DESC with the (sku_id, warehouse_id)
    tiebreak, so the bytes of a CSV do not depend on the plan."""
    _, out_root = daily_run
    keys = [
        (-float(r[measure]), int(r["sku_id"]), int(r["warehouse_id"]))
        for r in _csv_rows(out_root, family, name)
    ]
    assert keys and keys == sorted(keys)
    if measure != "total_cost":
        # the day has tied measures, so the tiebreak is actually exercised
        assert any(a[0] == b[0] for a, b in zip(keys, keys[1:]))
