"""The init.sql master-data loader: each of the six frames is a JVM-local
relation (no Python worker on any scan) holding exactly the script's rows,
mapped the way Postgres would store them."""

from __future__ import annotations

import os
import sys
from datetime import datetime
from decimal import Decimal

import pytest

from procurement_system_bigdata_spark.sources import master_sql

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
)

import gen_daily  # noqa: E402

NOW = datetime(2026, 1, 1)


def _expected(ins: dict) -> dict[str, list[tuple]]:
    """parse_inserts' tuples as Postgres stores them: BIGSERIAL ids 1-based
    in insert order, NUMERIC prices as Decimal, NOW() timestamps, and the
    safety-stock timestamp columns dropped."""
    return {
        "suppliers": [(i + 1, *r, NOW) for i, r in enumerate(ins["suppliers"])],
        "products": [(i + 1, *r, NOW) for i, r in enumerate(ins["products"])],
        "warehouses": [(i + 1, *r) for i, r in enumerate(ins["warehouses"])],
        "supplier_products": [
            (*r[:5], Decimal(str(r[5])), *r[6:]) for r in ins["supplier_products"]
        ],
        "safety_stock": [tuple(r[:2]) for r in ins["safety_stock"]],
        "safety_stock_by_warehouse": [tuple(r[:3]) for r in ins["safety_stock_by_warehouse"]],
    }


@pytest.fixture(scope="module")
def loaded(spark, tmp_path_factory):
    root, _ = gen_daily.ensure_daily_inputs(str(tmp_path_factory.mktemp("day")), 7, "tiny")
    init_sql = gen_daily.daily_paths(root)["init_sql"]
    frames = master_sql.master_data_frames(spark, init_sql)
    return frames, _expected(master_sql.parse_inserts(init_sql))


TABLES = (
    "suppliers", "products", "warehouses", "supplier_products",
    "safety_stock", "safety_stock_by_warehouse",
)


@pytest.mark.parametrize("table", TABLES)
def test_master_frame_is_a_local_relation(loaded, table):
    plan = loaded[0][table]._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan


@pytest.mark.parametrize("table", TABLES)
def test_master_frame_rows_match_init_sql(loaded, table):
    frames, expected = loaded
    collected = frames[table].collect()
    assert collected and [tuple(r) for r in collected] == expected[table]
    # == alone would accept 1 for True and 45.0 for Decimal("45.0000")
    fields = collected[0].__fields__
    if "is_active" in fields:
        assert all(type(r.is_active) is bool for r in collected)
    if "unit_price" in fields:
        assert all(
            isinstance(r.unit_price, Decimal) and r.unit_price.as_tuple().exponent == -4
            for r in collected
        )
