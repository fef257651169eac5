"""Golden-parity test: re-derive the reference's recorded outputs for
14-01-2026 from its own raw inputs and compare against the committed CSVs
(reference data/processed/* and data/output/*), modulo the two documented
nondeterminism sources (SURVEY §2.5/§4.3): supplier-rank ties and PO-id
order on total_cost ties."""

from __future__ import annotations

import csv
from datetime import date
from pathlib import Path

import pytest

from procurement_system_bigdata_spark.operators import pipeline as pl
from procurement_system_bigdata_spark.sources import readers

from sql_fixtures import master_data_frames

REF = Path("/root/reference/data")
RUN_DATE = date(2026, 1, 14)
DAY = "14-01-2026"


def _read_csv(path: Path) -> list[dict]:
    with open(path) as f:
        return list(csv.DictReader(f))


@pytest.fixture(scope="module")
def results(spark):
    master = master_data_frames(spark)
    orders = readers.read_orders_csv(spark, str(REF / "raw/orders" / DAY / "orders.csv"))
    snaps = readers.read_snapshots_json(
        spark, str(REF / "raw/snapshots" / DAY / "snapshot.json")
    )
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
    )


def _norm(v: str | object) -> str:
    """Normalize a cell for comparison: numbers numerically, rest as str."""
    s = str(v)
    try:
        f = float(s)
        return repr(round(f, 4))
    except (TypeError, ValueError):
        return s


def _rows_to_set(rows: list[dict], exclude: tuple[str, ...] = ()) -> set:
    return {
        tuple(sorted((k, _norm(v)) for k, v in r.items() if k not in exclude))
        for r in rows
    }


def test_aggregated_orders_matches_reference(results):
    expected = _read_csv(REF / "processed/aggregated_orders" / DAY / "aggregated_orders.csv")
    actual = [r.asDict() for r in results["aggregated_orders"].collect()]
    assert _rows_to_set(actual) == _rows_to_set(expected)
    assert len(actual) == len(expected)


def test_net_demand_matches_reference(results):
    expected = _read_csv(REF / "processed/net_demand" / DAY / "net_demand.csv")
    actual = [r.asDict() for r in results["net_demand"].collect()]
    assert _rows_to_set(actual) == _rows_to_set(expected)
    # the recorded run had a snapshot-date mismatch -> all inventory 0
    # (SURVEY §5.2); assert we reproduced that exact behavior
    assert all(r["available_stock"] == 0 for r in actual)


def test_supplier_orders_matches_reference(results):
    expected = _read_csv(REF / "output/supplier_orders" / DAY / "supplier_orders.csv")
    actual = [r.asDict() for r in results["supplier_orders"].collect()]
    # order_id excluded: the reference mints PO ids in Trino result order,
    # which is nondeterministic on total_cost ties (SURVEY §2.5 W2)
    assert _rows_to_set(actual, exclude=("order_id",)) == _rows_to_set(
        expected, exclude=("order_id",)
    )
    # our PO ids must still be a valid cost-descending enumeration
    seq = sorted(actual, key=lambda r: r["order_id"])
    costs = [r["total_cost"] for r in seq]
    assert costs == sorted(costs, reverse=True)
    assert seq[0]["order_id"] == f"PO-{RUN_DATE.strftime('%Y%m%d')}-00001"


def test_matched_snapshot_date_populates_inventory(spark):
    """The other branch of the snapshot join (FIXTURES.md must-have): with
    run_date = the snapshots' actual date (2026-01-13), inventory matches
    and effective stock reduces net demand."""
    master = master_data_frames(spark)
    orders = readers.read_orders_csv(spark, str(REF / "raw/orders" / DAY / "orders.csv"))
    snaps = readers.read_snapshots_json(
        spark, str(REF / "raw/snapshots" / DAY / "snapshot.json")
    )
    out = pl.run_pipeline(
        orders=orders,
        products=master["products"],
        warehouses=master["warehouses"],
        suppliers=master["suppliers"],
        supplier_products=master["supplier_products"],
        safety_stock=master["safety_stock"],
        ss_by_warehouse=master["safety_stock_by_warehouse"],
        snapshots=snaps,
        run_date=date(2026, 1, 13),
    )
    nd = [r.asDict() for r in out["net_demand"].collect()]
    assert any(r["available_stock"] > 0 for r in nd)
    assert all(r["effective_stock"] == r["available_stock"] - r["reserved_stock"] for r in nd)
    assert all(r["net_demand"] >= 0 for r in nd)
    assert all(
        r["net_demand"]
        == max(0, r["aggregated_orders"] + r["safety_stock"] - r["effective_stock"])
        for r in nd
    )
    # positive stock offsets demand, so the total must be strictly below the
    # empty-inventory run's 43,974 (some snapshots have available>reserved)
    assert out["summary"]["total_net_demand"] < 43974


def test_summary_metrics_match_reference(results):
    import json

    with open(REF / "output/pipeline_summary" / f"summary_{DAY}.json") as f:
        ref = json.load(f)
    s = results["summary"]
    assert s["orders_count"] == ref["orders"]["count"] if "orders" in ref else True
    # headline metrics recorded by the reference run (BASELINE.md)
    assert s["aggregated_count"] == 348
    assert s["net_demand_count"] == 348
    assert s["supplier_orders_count"] == 348
    assert s["total_net_demand"] == 43974
    assert abs(s["total_cost"] - 2631239.70) < 0.01

