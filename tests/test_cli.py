"""The daily-run CLI (python -m procurement_system_bigdata_spark) must
reproduce the reference deployment's recorded day end-to-end: same metrics,
same date-directory output layout (D1 as a command, not just a function)."""

from __future__ import annotations

import csv
import json
from pathlib import Path

import pytest

from procurement_system_bigdata_spark.__main__ import main


def test_cli_reproduces_reference_day(spark, tmp_path):
    summary = main(
        [
            "--date", "2026-01-14",
            "--raw-root", "/root/reference/data/raw",
            "--out-root", str(tmp_path),
            "--init-sql", "/root/reference/init-scripts/postgres/init.sql",
        ]
    )
    assert summary["aggregated_count"] == 348
    assert summary["total_net_demand"] == 43974
    assert abs(summary["total_cost"] - 2631239.70) < 0.01
    day = "14-01-2026"
    for family, name in (
        ("processed", "aggregated_orders"),
        ("processed", "net_demand"),
        ("output", "supplier_orders"),
    ):
        f = Path(tmp_path, family, name, day, f"{name}.csv")
        assert len(list(csv.DictReader(open(f)))) == 348
    s = json.load(open(Path(tmp_path, "output/pipeline_summary", f"summary_{day}.json")))
    assert s["supplier_orders_count"] == 348
    assert list(Path(tmp_path, "logs/tasks", day).glob("daily_pipeline_*.json"))


@pytest.mark.parametrize(
    "master_flags",
    [[], ["--init-sql", "a.sql", "--jdbc-url", "jdbc:x"]],
    ids=["neither", "both"],
)
def test_cli_requires_exactly_one_master_data_source(tmp_path, master_flags):
    """Master data comes from --init-sql or --jdbc-url, never a default
    path: a run with neither (or both) is a usage error, before any Spark
    work starts."""
    with pytest.raises(SystemExit) as exc:
        main([
            "--date", "2026-01-14",
            "--raw-root", str(tmp_path / "raw"),
            "--out-root", str(tmp_path / "out"),
            *master_flags,
        ])
    assert exc.value.code == 2
