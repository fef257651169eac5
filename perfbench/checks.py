"""Correctness checks, run outside the timed region.

- ``DailyReference``: DuckDB recomputes the daily run from the same input
  files (it executes the INSERT statements of init.sql itself) and each
  run's written outputs are compared with it: row counts, exact-cents
  totals and the supplier_orders row set.
- ``Oracle``/``spark_fingerprint``: a registry query's rows against its
  DuckDB oracle SQL on the same parquet tables (row count, column names and
  an order-insensitive value hash, floats rounded to 9 places).
- ``check_curation``: confirmed pairs and curated rows against the derived
  corpus's known truth (see gen_tables).
"""

from __future__ import annotations

import csv
import hashlib
import json
import os
import re
from datetime import date, datetime, timedelta

import duckdb

#: documented floor for the recall of true pairs above the Jaccard
#: threshold at the production MinHash dial (k=128, 32 bands: a pair at
#: Jaccard 0.9 becomes a candidate with probability 1 - (1 - 0.9^4)^32)
RECALL_FLOOR = 0.98
JACCARD_THRESHOLD = 0.9

_DDL = """
CREATE SEQUENCE sup_ids START 1;
CREATE SEQUENCE sku_ids START 1;
CREATE SEQUENCE wh_ids START 1;
CREATE TABLE suppliers (supplier_id BIGINT DEFAULT nextval('sup_ids'),
    supplier_code VARCHAR, name VARCHAR, email VARCHAR, phone VARCHAR,
    is_active BOOLEAN);
CREATE TABLE products (sku_id BIGINT DEFAULT nextval('sku_ids'), sku_code VARCHAR,
    name VARCHAR, category VARCHAR, unit_of_measure VARCHAR, is_active BOOLEAN);
CREATE TABLE warehouses (warehouse_id BIGINT DEFAULT nextval('wh_ids'),
    warehouse_code VARCHAR, name VARCHAR, city VARCHAR, is_active BOOLEAN);
CREATE TABLE supplier_products (supplier_id BIGINT, sku_id BIGINT, pack_size INTEGER,
    min_order_qty INTEGER, lead_time_days INTEGER, unit_price DECIMAL(12, 4),
    currency VARCHAR, is_active BOOLEAN);
CREATE TABLE safety_stock (sku_id BIGINT, safety_stock_qty INTEGER, updated_at TIMESTAMP);
CREATE TABLE safety_stock_by_warehouse (warehouse_id BIGINT, sku_id BIGINT,
    safety_stock_qty INTEGER, updated_at TIMESTAMP);
"""

_DAILY_SQL = """
CREATE TABLE agg AS
SELECT o.sku_id, p.sku_code, p.name AS product_name, p.category,
       o.warehouse_id, w.warehouse_code, w.name AS warehouse_name, w.city,
       SUM(o.quantity) AS total_quantity
FROM orders o JOIN products p ON o.sku_id = p.sku_id
JOIN warehouses w ON o.warehouse_id = w.warehouse_id
GROUP BY ALL;

CREATE TABLE ssc AS
SELECT ss.sku_id, w.warehouse_id,
       COALESCE(ssw.safety_stock_qty, ss.safety_stock_qty, 0) AS ss_qty
FROM safety_stock ss CROSS JOIN warehouses w
LEFT JOIN safety_stock_by_warehouse ssw
  ON ssw.sku_id = ss.sku_id AND ssw.warehouse_id = w.warehouse_id;

CREATE TABLE inv AS
SELECT sku_code, warehouse_code, available_qty, reserved_qty FROM (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY sku_code, snapshot_date, warehouse_code ORDER BY seq DESC) AS rn
  FROM snapshots) WHERE rn = 1 AND snapshot_date = DATE '{run_date}';

CREATE TABLE nd AS
SELECT a.*, GREATEST(0, a.total_quantity + COALESCE(s.ss_qty, 0)
        - (COALESCE(i.available_qty, 0) - COALESCE(i.reserved_qty, 0))) AS net_demand
FROM agg a
LEFT JOIN ssc s ON s.sku_id = a.sku_id AND s.warehouse_id = a.warehouse_id
LEFT JOIN inv i ON i.sku_code = a.sku_code AND i.warehouse_code = a.warehouse_code;

CREATE TABLE best AS
SELECT * FROM (
  SELECT sp.*, ROW_NUMBER() OVER (
      PARTITION BY sp.sku_id ORDER BY sp.unit_price, sp.supplier_id) AS rk
  FROM supplier_products sp JOIN suppliers s ON s.supplier_id = sp.supplier_id
  WHERE sp.is_active AND s.is_active) WHERE rk = 1;

CREATE TABLE so AS
SELECT nd.sku_id, nd.warehouse_id, b.supplier_id, nd.net_demand, b.lead_time_days,
       GREATEST(CAST(b.min_order_qty AS DOUBLE),
                CEIL(CAST(nd.net_demand AS DOUBLE) / b.pack_size) * b.pack_size) AS order_quantity,
       CAST(b.unit_price AS DOUBLE) AS unit_price
FROM nd JOIN best b ON b.sku_id = nd.sku_id
WHERE nd.net_demand > 0;
"""


def cents(x: float) -> int:
    return int(round(float(x) * 100))


class DailyReference:
    """The expected outputs of one generated day, recomputed in DuckDB."""

    def __init__(self, paths: dict[str, str], run_date: date):
        self.run_date = run_date
        con = duckdb.connect()
        con.execute(_DDL)
        with open(paths["init_sql"]) as f:
            text = re.sub(r"--[^\n]*", "", f.read())
        for stmt in text.split(";\n"):
            if stmt.strip():
                con.execute(stmt)
        con.execute(
            "CREATE TABLE orders AS SELECT CAST(sku_id AS BIGINT) AS sku_id, "
            "CAST(quantity AS BIGINT) AS quantity, CAST(warehouse_id AS BIGINT) AS warehouse_id "
            f"FROM read_csv('{paths['orders']}', header = true, all_varchar = true)"
        )
        with open(paths["snapshots"]) as f:
            snaps = json.load(f)
        con.execute(
            "CREATE TABLE snapshots (seq INTEGER, sku_code VARCHAR, snapshot_date DATE, "
            "warehouse_code VARCHAR, available_qty INTEGER, reserved_qty INTEGER)"
        )
        con.executemany(
            "INSERT INTO snapshots VALUES (?, ?, ?, ?, ?, ?)",
            [(i, s["sku_code"], s["snapshot_date"], s["warehouse_code"],
              s["available_qty"], s["reserved_qty"]) for i, s in enumerate(snaps)],
        )
        con.execute(_DAILY_SQL.format(run_date=run_date.isoformat()))
        self.agg_rows, self.total_quantity = con.execute(
            "SELECT COUNT(*), SUM(total_quantity) FROM agg").fetchone()
        self.nd_rows, self.total_net_demand = con.execute(
            "SELECT COUNT(*), SUM(net_demand) FROM nd").fetchone()
        rows = con.execute(
            "SELECT sku_id, warehouse_id, supplier_id, order_quantity, "
            "order_quantity * unit_price AS total_cost, lead_time_days FROM so").fetchall()
        con.close()
        # PO ids are minted in total_cost DESC, sku_id, warehouse_id order
        rows.sort(key=lambda r: (-r[4], r[0], r[1]))
        compact = run_date.strftime("%Y%m%d")
        self.supplier_orders = {
            (f"PO-{compact}-{i + 1:05d}", int(sku), int(wh), int(sup), int(qty),
             cents(cost), (run_date + timedelta(days=int(lead))).isoformat())
            for i, (sku, wh, sup, qty, cost, lead) in enumerate(rows)
        }
        self.total_cost_cents = sum(r[5] for r in self.supplier_orders)

    def check(self, out_root: str) -> list[str]:
        """Mismatches between one run's written outputs and the reference."""
        day = self.run_date.strftime("%d-%m-%Y")

        def read(family: str, name: str) -> list[dict]:
            path = os.path.join(out_root, family, name, day, f"{name}.csv")
            with open(path, newline="") as f:
                return list(csv.DictReader(f))

        errors = []
        agg = read("processed", "aggregated_orders")
        nd = read("processed", "net_demand")
        so = read("output", "supplier_orders")
        got_so = {
            (r["order_id"], int(r["sku_id"]), int(r["warehouse_id"]), int(r["supplier_id"]),
             int(float(r["order_quantity"])), cents(r["total_cost"]),
             r["expected_delivery_date"])
            for r in so
        }
        expect = {
            "aggregated_orders rows": (len(agg), self.agg_rows),
            "total_quantity": (sum(int(r["total_quantity"]) for r in agg), self.total_quantity),
            "net_demand rows": (len(nd), self.nd_rows),
            "total_net_demand": (sum(int(r["net_demand"]) for r in nd), self.total_net_demand),
            "supplier_orders rows": (len(so), len(self.supplier_orders)),
            "total_cost_cents": (sum(r[5] for r in got_so), self.total_cost_cents),
        }
        for what, (got, want) in expect.items():
            if got != want:
                errors.append(f"{what}: got {got}, expected {want}")
        if got_so != self.supplier_orders:
            errors.append(
                f"supplier_orders row set differs: {len(got_so - self.supplier_orders)} "
                f"unexpected, {len(self.supplier_orders - got_so)} missing"
            )
        return errors


def _norm(v) -> str:
    if v is None:
        return ""
    if isinstance(v, float):
        return repr(round(v, 9))
    if isinstance(v, datetime):
        if v.hour == v.minute == v.second == v.microsecond == 0:
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, list):
        return json.dumps([_norm(x) for x in v])
    return str(v)


def value_hash(cols: list[str], rows) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


class Oracle:
    """DuckDB over the generated parquet tables, one view per table."""

    def __init__(self, sf_dir: str, tables):
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    def fingerprint(self, sql: str) -> tuple[int, list[str], str]:
        res = self.con.execute(sql)
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        return len(rows), sorted(cols), value_hash(cols, rows)

    def close(self) -> None:
        self.con.close()


def spark_fingerprint(df, extra_row: bool = False) -> tuple[int, list[str], str]:
    """Like ``Oracle.fingerprint`` for a Spark frame; ``extra_row`` appends
    a row of NULLs (a deliberately corrupted result, for the smoke tests)."""
    rows = [tuple(r) for r in df.collect()]
    if extra_row:
        rows.append((None,) * len(df.columns))
    return len(rows), sorted(df.columns), value_hash(df.columns, rows)


def check_curation(word_counts, pairs, curated_ids, min_quality: float) -> tuple[list[str], float]:
    """Check confirmed pairs and curated doc ids against the corpus truth.

    Returns (errors, recall of the true pairs at or above the threshold).
    """
    errors = []
    n_docs = len(word_counts)
    true_pairs = {
        (2 * g, 2 * g + 1)
        for g in range(n_docs // 2)
        if min(word_counts[2 * g], word_counts[2 * g + 1])
        / max(word_counts[2 * g], word_counts[2 * g + 1]) >= JACCARD_THRESHOLD
    }
    pair_set = {(int(a), int(b)) for a, b in pairs}
    outside = [p for p in pair_set if p[0] // 2 != p[1] // 2]
    if outside:
        errors.append(f"{len(outside)} confirmed pairs span two groups, e.g. {outside[0]}")
    below = pair_set - true_pairs
    if below and not outside:
        errors.append(f"{len(below)} confirmed pairs are below the threshold")
    recall = len(pair_set & true_pairs) / len(true_pairs) if true_pairs else 1.0
    if recall < RECALL_FLOOR:
        errors.append(f"true-pair recall {recall:.4f} below floor {RECALL_FLOOR}")
    dropped = {b for _, b in pair_set}
    # text.quality_score_cols' formula, 0.5 * min(words / 100, 1)
    # + 0.3 * stopword ratio + 0.2 * (1 - punctuation ratio), in the same
    # float order; the derived tokens carry no stopwords and no punctuation
    expected = {
        d for d in range(n_docs)
        if d not in dropped
        and min(word_counts[d] / 100.0, 1.0) * 0.5 + 0.0 * 0.3 + (1.0 - 0.0) * 0.2 >= min_quality
    }
    got = set(int(d) for d in curated_ids)
    if len(got) != len(curated_ids):
        errors.append("curated rows repeat a doc_id")
    if got != expected:
        errors.append(
            f"curated rows differ: {len(got - expected)} unexpected, "
            f"{len(expected - got)} missing"
        )
    return errors, recall
