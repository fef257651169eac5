"""Daily-run CLI — the reference's Airflow DAG surface as one command.

A user of the reference runs its 8-task daily pipeline (reference
dags/pipeline.py:813-885); here the same day runs as::

    python -m procurement_system_bigdata_spark \
        --date 2026-01-14 \
        --raw-root  /root/reference/data/raw \
        --out-root  /tmp/procurement_out \
        --init-sql  /root/reference/init-scripts/postgres/init.sql

reading the reference's raw layout (orders/<dd-MM-yyyy>/orders.csv,
snapshots/<dd-MM-yyyy>/snapshot.json), resolving master data from the
Postgres init script (or a live database via --jdbc-url, the production
path; exactly one of the two is required), and writing the three result datasets plus the summary JSON in the
reference's date-directory layout.  ``--partitioned`` switches the sinks to
the scale path (parquet partitioned by run_date) instead of the
single-file parity layout.
"""

from __future__ import annotations

import argparse
import json
import sys
from datetime import date

from pyspark.sql import functions as F

from .operators import pipeline as pl
from .session import get_spark
from .sources import master_sql, readers, sinks

MASTER_TABLES = (
    "suppliers",
    "products",
    "warehouses",
    "supplier_products",
    "safety_stock",
    "safety_stock_by_warehouse",
)


def _day(run_date: date) -> str:
    return run_date.strftime("%d-%m-%Y")  # reference dir convention (SURVEY §1.3)


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser(prog="procurement_system_bigdata_spark")
    ap.add_argument("--date", required=True, help="run date, ISO yyyy-mm-dd")
    ap.add_argument("--raw-root", required=True, help="raw input root (orders/, snapshots/)")
    ap.add_argument("--out-root", required=True, help="output root (processed/, output/)")
    master_src = ap.add_mutually_exclusive_group(required=True)
    master_src.add_argument("--init-sql", help="Postgres init script for master data")
    master_src.add_argument("--jdbc-url", help="JDBC URL for live master data")
    ap.add_argument(
        "--partitioned", action="store_true",
        help="write run_date-partitioned parquet instead of single-file CSV/JSON",
    )
    args = ap.parse_args(argv)
    run_date = date.fromisoformat(args.date)
    day = _day(run_date)

    spark = get_spark(app_name=f"procurement-daily-{args.date}")
    if args.jdbc_url:
        master = {t: readers.read_jdbc_table(spark, args.jdbc_url, t) for t in MASTER_TABLES}
    else:
        master = master_sql.master_data_frames(spark, args.init_sql)

    orders = readers.read_orders_csv(spark, f"{args.raw_root}/orders/{day}/orders.csv")
    snaps = readers.read_snapshots_json(spark, f"{args.raw_root}/snapshots/{day}/snapshot.json")

    out = pl.run_pipeline(
        orders=orders,
        products=master["products"],
        warehouses=master["warehouses"],
        suppliers=master["suppliers"],
        supplier_products=master["supplier_products"],
        safety_stock=master["safety_stock"],
        ss_by_warehouse=master["safety_stock_by_warehouse"],
        snapshots=snaps,
        run_date=run_date,
    )

    datasets = (
        ("processed", "aggregated_orders"),
        ("processed", "net_demand"),
        ("output", "supplier_orders"),
    )
    for family, name in datasets:
        df = out[name]
        if df is None:
            # the stage exhausted its retries (D2); the all_done summary
            # below still records the run, with this dataset's metrics
            # 0-defaulted and the failure named in failed_stages
            continue
        if args.partitioned:
            sinks.write_partitioned(
                df.withColumn("run_date", F.lit(args.date)),
                f"{args.out_root}/{family}/{name}",
                "run_date",
            )
        else:
            directory = sinks.day_dir(f"{args.out_root}/{family}", name, run_date)
            sinks.write_single_csv(df, directory, f"{name}.csv")
            sinks.write_single_json(df, directory, f"{name}.json")

    # the reference's summary task always runs (all_done), but a run with
    # exhausted-retry stages must not be RECORDED as a clean success — the
    # status names the degradation and the failed stages travel in the log
    failed = out.get("failed_stages", [])
    status = "success" if not failed else "degraded:" + ",".join(failed)
    summary = dict(out["summary"], failed_stages=failed)
    sinks.write_task_log(args.out_root, "daily_pipeline", run_date, status, summary)
    sinks.write_json_file(f"{args.out_root}/output/pipeline_summary/summary_{day}.json", summary)
    out["release"]()
    print(json.dumps(summary, default=str))
    return summary


if __name__ == "__main__":
    main(sys.argv[1:])
