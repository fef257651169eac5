"""Seeded generator for the ``daily_dag`` workload's inputs.

Writes the three files the daily CLI reads, in the reference's layout::

    <root>/raw/orders/<dd-MM-yyyy>/orders.csv
    <root>/raw/snapshots/<dd-MM-yyyy>/snapshot.json
    <root>/init.sql

The shapes follow the reference's ``scripts/generateData.py`` and
``init-scripts/postgres/init.sql`` (see FIXTURES.md at the repo root),
scaled up:

- ``orders.csv``: SKU volume skew in three tiers (high / medium / low
  demand SKUs, as generateData.py draws them); quantity is a multiplier of
  the offer's minimum order quantity, 80% rounded to pack-size multiples;
  warehouses uniform.
- ``snapshot.json``: each (sku, warehouse) present with p=0.7 on the run
  date, a slice of rows dated the day before (the date filter must drop
  them), and duplicate-PK rows re-written later in the file with new
  quantities (the last-write-wins replay must keep the last one).
- ``init.sql``: suppliers, products, warehouses, offers, global and
  per-warehouse safety stock.  Offer prices sit on a coarse grid so several
  suppliers tie on the cheapest price; some suppliers and offers are
  inactive; per-warehouse overrides are sparse.

Inputs are cached on disk by (seed, size): a directory holding a
``manifest.json`` is complete and is reused as is.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import asdict, dataclass
from datetime import date, timedelta

import numpy as np

RUN_DATE = date(2026, 1, 14)


@dataclass(frozen=True)
class DailySize:
    order_lines: int
    skus: int
    warehouses: int
    suppliers: int


SIZES = {
    "full": DailySize(order_lines=20_000, skus=200, warehouses=20, suppliers=40),
    "tiny": DailySize(order_lines=3_000, skus=60, warehouses=6, suppliers=12),
}

CATEGORIES = ("Office", "Cleaning", "Packaging", "Electrical", "Safety", "Food")
UOMS = ("unit", "box", "pack", "kg", "litre")
CITIES = ("Casablanca", "Rabat", "Marrakech", "Tangier", "Fes", "Agadir")


def _day(d: date) -> str:
    return d.strftime("%d-%m-%Y")


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _values(rows) -> str:
    return ",\n".join("(" + ", ".join(r) + ")" for r in rows)


def daily_paths(root: str) -> dict[str, str]:
    day = _day(RUN_DATE)
    return {
        "raw_root": os.path.join(root, "raw"),
        "orders": os.path.join(root, "raw", "orders", day, "orders.csv"),
        "snapshots": os.path.join(root, "raw", "snapshots", day, "snapshot.json"),
        "init_sql": os.path.join(root, "init.sql"),
    }


def _write_inputs(root: str, seed: int, size: DailySize) -> dict:
    rng = np.random.default_rng([seed, 0xDA11])
    paths = daily_paths(root)
    n_sku, n_wh, n_sup = size.skus, size.warehouses, size.suppliers

    # --- master data --------------------------------------------------------
    sup_active = rng.random(n_sup) >= 0.05
    sup_active[0] = True
    sku_price = np.round(rng.uniform(5, 200, n_sku), 0)
    offers = []  # (supplier_id, sku_id, pack, moq, lead, price, active)
    for sku in range(1, n_sku + 1):
        k = int(rng.integers(2, 5))
        sups = rng.choice(np.arange(1, n_sup + 1), size=k, replace=False)
        pack = int(rng.choice([1, 5, 10, 12, 20, 50]))
        for s in sups:
            # a coarse price grid: several suppliers tie on the best price
            price = sku_price[sku - 1] * float(rng.choice([1.0, 1.0, 1.05, 1.1, 1.25]))
            offers.append((
                int(s), sku, pack,
                pack * int(rng.integers(1, 6)),
                int(rng.integers(1, 15)),
                round(price, 2),
                bool(rng.random() >= 0.08),
            ))
    safety = rng.integers(10, 200, n_sku)
    overrides = [
        (wh, sku, int(rng.integers(5, 300)))
        for wh in range(1, n_wh + 1)
        for sku in range(1, n_sku + 1)
        if rng.random() < 0.04
    ]
    stmts = [
        "-- synthetic master data for the daily_dag benchmark workload",
        "INSERT INTO suppliers (supplier_code, name, email, phone, is_active) VALUES\n"
        + _values(
            (_q(f"SUP{i:04d}"), _q(f"Supplier {i} (Morocco), S.A.R.L"),
             _q(f"contact{i}@supplier.ma"), _q(f"+2125{i:08d}"),
             "TRUE" if sup_active[i - 1] else "FALSE")
            for i in range(1, n_sup + 1)
        ) + ";",
        "INSERT INTO products (sku_code, name, category, unit_of_measure, is_active) VALUES\n"
        + _values(
            (_q(f"PROD{i:04d}"), _q(f"Item {i} ({UOMS[i % 5]}s)"),
             _q(CATEGORIES[i % len(CATEGORIES)]), _q(UOMS[i % 5]), "TRUE")
            for i in range(1, n_sku + 1)
        ) + ";",
        "INSERT INTO warehouses (warehouse_code, name, city, is_active) VALUES\n"
        + _values(
            (_q(f"WH{i:03d}"), _q(f"Depot {i}"), _q(CITIES[i % len(CITIES)]), "TRUE")
            for i in range(1, n_wh + 1)
        ) + ";",
        "INSERT INTO supplier_products (supplier_id, sku_id, pack_size, min_order_qty, "
        "lead_time_days, unit_price, currency, is_active) VALUES\n"
        + _values(
            (str(s), str(k), str(p), str(m), str(lt), f"{pr:.2f}", _q("MAD"),
             "TRUE" if a else "FALSE")
            for (s, k, p, m, lt, pr, a) in offers
        ) + ";",
        "INSERT INTO safety_stock (sku_id, safety_stock_qty, updated_at) VALUES\n"
        + _values((str(i), str(int(safety[i - 1])), "NOW()") for i in range(1, n_sku + 1))
        + ";",
        "INSERT INTO safety_stock_by_warehouse (warehouse_id, sku_id, safety_stock_qty, "
        "updated_at) VALUES\n"
        + _values((str(w), str(k), str(q), "NOW()") for (w, k, q) in overrides) + ";",
    ]
    os.makedirs(os.path.dirname(paths["init_sql"]), exist_ok=True)
    with open(paths["init_sql"], "w") as f:
        f.write("\n\n".join(stmts) + "\n")

    # --- orders: three-tier SKU volume skew (generateData.py) ---------------
    tier = rng.choice(3, size=n_sku, p=[0.15, 0.2, 0.65])
    weight = np.array([10.0, 3.0, 1.0])[tier]
    sku_ids = rng.choice(np.arange(1, n_sku + 1), size=size.order_lines, p=weight / weight.sum())
    first_offer = {}
    for (s, k, p, m, *_rest) in offers:
        first_offer.setdefault(k, (s, p, m))
    sup = np.array([first_offer[k][0] for k in range(1, n_sku + 1)])[sku_ids - 1]
    pack = np.array([first_offer[k][1] for k in range(1, n_sku + 1)])[sku_ids - 1]
    moq = np.array([first_offer[k][2] for k in range(1, n_sku + 1)])[sku_ids - 1]
    qty = moq * rng.uniform(0.5, 3.0, size.order_lines)
    rounded = np.maximum(pack, np.round(qty / pack) * pack)
    qty = np.where(rng.random(size.order_lines) < 0.8, rounded, np.ceil(qty)).astype(np.int64)
    wh = rng.integers(1, n_wh + 1, size.order_lines)
    iso, compact = RUN_DATE.isoformat(), RUN_DATE.strftime("%Y%m%d")
    os.makedirs(os.path.dirname(paths["orders"]), exist_ok=True)
    with open(paths["orders"], "w") as f:
        f.write("order_id,supplier_id,sku_id,quantity,warehouse_id,order_date\n")
        f.writelines(
            f"ORD-{compact}-{i + 1:07d},{sup[i]},{sku_ids[i]},{qty[i]},{wh[i]},{iso}\n"
            for i in range(size.order_lines)
        )

    # --- snapshots: p=0.7 presence, day-before rows, duplicate PKs ----------
    pairs = [(k, w) for k in range(1, n_sku + 1) for w in range(1, n_wh + 1)]
    present = rng.random(len(pairs)) < 0.7
    prev_day = (RUN_DATE - timedelta(days=1)).isoformat()
    snaps = []
    for (k, w), keep in zip(pairs, present):
        if not keep:
            continue
        avail = int(safety[k - 1] * rng.choice([0, 0.2, 0.5, 1.0, 2.0, 4.0]))
        resv = int(avail * rng.choice([0, 0, 0.05, 0.1, 0.3]))
        d = prev_day if rng.random() < 0.05 else iso
        snaps.append({"sku_code": f"PROD{k:04d}", "snapshot_date": d,
                      "warehouse_code": f"WH{w:03d}", "available_qty": avail,
                      "reserved_qty": resv})
    n_dup = max(1, len(snaps) // 50)
    for j in rng.choice(len(snaps), size=n_dup, replace=False):
        later = dict(snaps[int(j)])
        later["available_qty"] = int(later["available_qty"] + rng.integers(1, 100))
        snaps.append(later)
    os.makedirs(os.path.dirname(paths["snapshots"]), exist_ok=True)
    with open(paths["snapshots"], "w") as f:
        json.dump(snaps, f, indent=2)

    return {
        "seed": seed,
        "size": asdict(size),
        "run_date": iso,
        "order_lines": size.order_lines,
        "snapshot_rows": len(snaps),
        "duplicate_pk_rows": n_dup,
        "offers": len(offers),
        "overrides": len(overrides),
    }


def ensure_daily_inputs(work: str, seed: int, size: str = "full") -> tuple[str, dict]:
    """Return (root, manifest) for the seed's inputs, generating them once."""
    root = os.path.join(work, "inputs", f"daily-{size}-{seed}")
    manifest_path = os.path.join(root, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return root, json.load(f)
    shutil.rmtree(root, ignore_errors=True)
    manifest = _write_inputs(root, seed, SIZES[size])
    with open(manifest_path, "w") as f:
        json.dump(manifest, f)
    return root, manifest
