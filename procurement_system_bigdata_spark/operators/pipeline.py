"""The procurement pipeline on reference-shaped inputs.

This is the engine a user of the reference would actually run: the 8-task
Airflow DAG (reference dags/pipeline.py:813-885) collapsed into pure
DataFrame stage functions plus a ``run_pipeline`` driver.  Data moves
between stages in memory instead of via HDFS files; each analytic stage is
a function so it can be recomputed (reference behavior — each Trino query
re-derives its CTEs from raw, SURVEY §2.7) or cached for reuse.

Query semantics are 1:1 with the three federated Trino queries:
- aggregate_orders   -> pipeline.py:408-426 (Q1)
- net_demand         -> pipeline.py:495-537 (Q2)
- supplier_orders    -> pipeline.py:616-681 (Q3 + the enrichment's arithmetic)
- number_purchase_orders -> pipeline.py:682-687 (PO ids, order_date, status)
with the documented determinism fixes (SURVEY §2.5): ROW_NUMBER tie-breaks
on supplier_id / (sku_id, warehouse_id).

These stages are the engine's only Q1-Q3: the registry's procurement
queries (queries/procurement.py) map the TPC-H stand-in tables onto the
same reference-shaped frames and call them.  Stages return unsorted frames
and never branch on their caller; sorting, renames and casts belong to the
output edge (``run_pipeline`` here, the ``q_*`` functions there).
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable
from datetime import date

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .ranking import with_global_sequence

logger = logging.getLogger(__name__)

# D2 (reference dags/pipeline.py:806-811): every Airflow task runs with
# retries=2 and retry_delay=timedelta(minutes=5).  Spark's own task retries
# cover *executor task* failures; this wrapper covers *stage-function-level*
# failures — a sink raising after compute, a transient metastore/FS error —
# which Airflow would re-run from the top of the task.
STAGE_RETRIES = 2
STAGE_RETRY_DELAY_SEC = 300.0

# The product and warehouse attributes every Q1-Q3 output row carries.
DIMS = (
    "sku_id", "sku_code", "product_name", "category",
    "warehouse_id", "warehouse_code", "warehouse_name", "city",
)


def retry_stage(
    fn: Callable[[], object],
    *,
    stage: str = "stage",
    retries: int = STAGE_RETRIES,
    delay_sec: float = STAGE_RETRY_DELAY_SEC,
    sleep: Callable[[float], None] = time.sleep,
):
    """Run ``fn()`` with the reference's per-task retry policy: up to
    ``retries`` re-attempts after the first failure, ``delay_sec`` apart
    (``sleep`` injectable so tests don't wait 5 minutes).  Re-raises the
    last exception once attempts are exhausted — callers decide whether
    that is fatal (mid-pipeline stages) or degradable (the all_done
    summary, see run_pipeline)."""
    attempts = retries + 1
    for attempt in range(1, attempts + 1):
        try:
            return fn()
        except Exception as ex:  # noqa: BLE001 — mirror Airflow: retry any task error
            if attempt == attempts:
                logger.error("stage %s failed after %d attempts: %s", stage, attempts, ex)
                raise
            logger.warning(
                "stage %s attempt %d/%d failed (%s); retrying in %.0fs",
                stage, attempt, attempts, ex, delay_sec,
            )
            sleep(delay_sec)
    raise AssertionError("unreachable")


def attach_dims(keyed: DataFrame, products: DataFrame, warehouses: DataFrame) -> DataFrame:
    """Broadcast-attach the product and warehouse attributes to a frame
    keyed by (sku_id, warehouse_id).  Inner joins, like the reference's
    orders ⋈ products ⋈ warehouses: a key with no master row drops out."""
    p = products.select(
        "sku_id", "sku_code", F.col("name").alias("product_name"), "category"
    )
    w = warehouses.select(
        "warehouse_id", "warehouse_code", F.col("name").alias("warehouse_name"), "city"
    )
    return keyed.join(F.broadcast(p), "sku_id").join(F.broadcast(w), "warehouse_id")


def aggregate_orders(
    orders: DataFrame, products: DataFrame, warehouses: DataFrame
) -> DataFrame:
    """Q1 (reference pipeline.py:408-426): orders ⋈ products ⋈ warehouses,
    8-key GROUP BY, SUM/COUNT/MAX.  Aggregated on the two id keys, then the
    dim attributes are broadcast-attached: the same rows as the 8-key
    GROUP BY, because every attribute is keyed by its id, but the shuffle
    carries two longs instead of six strings and the dim joins run at
    aggregate cardinality.  Consumers that read only ``total_quantity``
    get the other aggregates pruned by the optimizer."""
    agg = orders.groupBy("sku_id", "warehouse_id").agg(
        F.sum("quantity").alias("total_quantity"),
        F.count(F.lit(1)).alias("order_count"),
        F.max("order_date").alias("order_date"),  # string max on ISO dates (A4)
    )
    return attach_dims(agg, products, warehouses).select(
        *DIMS, "total_quantity", "order_count", "order_date"
    )


def safety_stock_combined(
    safety_stock: DataFrame, warehouses: DataFrame, ss_by_warehouse: DataFrame
) -> DataFrame:
    """Q2 CTE (reference pipeline.py:506-515): global per-SKU safety stock
    densified across all warehouses (CROSS JOIN), per-warehouse overrides
    via LEFT JOIN + 3-arg COALESCE.  Keeps the reference quirk: SKUs present
    only in the override table are dropped (the anchor is safety_stock)."""
    dense = safety_stock.alias("ss").crossJoin(
        F.broadcast(warehouses.select(F.col("warehouse_id")).alias("w"))
    )
    ssw = ss_by_warehouse.alias("ssw")
    return dense.join(
        F.broadcast(ssw),
        (F.col("ss.sku_id") == F.col("ssw.sku_id"))
        & (F.col("w.warehouse_id") == F.col("ssw.warehouse_id")),
        "left",
    ).select(
        F.coalesce(F.col("ssw.sku_id"), F.col("ss.sku_id")).alias("sku_id"),
        F.coalesce(F.col("ssw.warehouse_id"), F.col("w.warehouse_id")).alias("warehouse_id"),
        F.coalesce(
            F.col("ssw.safety_stock_qty"), F.col("ss.safety_stock_qty"), F.lit(0)
        ).alias("safety_stock_qty"),
    )


def inventory_for_date(snapshots: DataFrame, run_date: date) -> DataFrame:
    """Q2 CTE inventory_data (reference pipeline.py:516-519): one snapshot
    day selected by date predicate (the Cassandra clustering-key read; with
    a date-partitioned snapshot store this is pure partition pruning)."""
    return snapshots.filter(F.col("snapshot_date") == F.lit(run_date)).select(
        "sku_code", "warehouse_code", "available_qty", "reserved_qty"
    )


def net_demand(demand: DataFrame, ss_combined: DataFrame) -> DataFrame:
    """Q2 final select (reference pipeline.py:521-537).  ``demand`` is the
    Q1 aggregate already carrying the day's ``available_qty`` /
    ``reserved_qty`` (NULL where no snapshot row matched); the safety-stock
    grid is left-joined on the id keys."""
    ss = ss_combined.withColumnRenamed("safety_stock_qty", "ss_qty")
    joined = demand.join(ss, ["sku_id", "warehouse_id"], "left")
    avail = F.coalesce(F.col("available_qty"), F.lit(0))
    resv = F.coalesce(F.col("reserved_qty"), F.lit(0))
    ss_qty = F.coalesce(F.col("ss_qty"), F.lit(0))
    return joined.select(
        *DIMS,
        F.col("total_quantity").alias("aggregated_orders"),
        ss_qty.cast("long").alias("safety_stock"),
        avail.cast("long").alias("available_stock"),
        resv.cast("long").alias("reserved_stock"),
        (avail - resv).cast("long").alias("effective_stock"),
        F.greatest(
            F.lit(0).cast("long"),
            (F.col("total_quantity") + ss_qty - (avail - resv)).cast("long"),
        ).alias("net_demand"),
    )


def ranked_suppliers(supplier_products: DataFrame, suppliers: DataFrame) -> DataFrame:
    """Q3 CTE (reference pipeline.py:654-662): active offers ranked by
    unit_price per SKU.  ROW_NUMBER with the deterministic supplier_id
    tiebreak — the reference's ORDER BY unit_price alone is nondeterministic
    on real price ties (SURVEY §2.5; e.g. sku 1 @45.00 from suppliers
    1/18/30, init.sql:174,:229,:264)."""
    sp = supplier_products.filter(F.col("is_active"))
    s = suppliers.filter(F.col("is_active")).select(
        F.col("supplier_id"), F.col("supplier_code"), F.col("name").alias("supplier_name")
    )
    w = Window.partitionBy("sku_id").orderBy(F.asc("unit_price"), F.asc("supplier_id"))
    return (
        sp.join(F.broadcast(s), "supplier_id")
        .withColumn("price_rank", F.row_number().over(w))
    )


def supplier_orders(
    nd: DataFrame, ranked: DataFrame, run_date: date
) -> DataFrame:
    """Q3 final select + the Python enrichment's arithmetic (reference
    pipeline.py:663-681): cheapest supplier (rank=1), pack-rounded order
    quantity with MOQ floor, cost and delivery date.  PO ids come from
    ``number_purchase_orders``."""
    rs = ranked.filter(F.col("price_rank") == 1).select(
        "sku_id", "supplier_id", "supplier_code", "supplier_name",
        "pack_size", "min_order_qty", "unit_price", "currency", "lead_time_days",
    )
    joined = nd.filter(F.col("net_demand") > 0).join(F.broadcast(rs), "sku_id")
    # CEILING(CAST(net AS DOUBLE)/pack)*pack (pipeline.py:668): Trino CEILING
    # on DOUBLE returns DOUBLE, hence the observed float order_quantity values
    # (data/output/.../supplier_orders.csv: "79.0"); GREATEST(moq, ...) then
    # promotes to DOUBLE too. Reproduced exactly, documented float quirk.
    order_qty = F.greatest(
        F.col("min_order_qty").cast("double"),
        F.ceil(F.col("net_demand").cast("double") / F.col("pack_size")).cast("double")
        * F.col("pack_size"),
    )
    return joined.select(
        *DIMS,
        "supplier_id", "supplier_code", "supplier_name",
        "net_demand", "pack_size", "min_order_qty", "unit_price", "currency",
        "lead_time_days",
        order_qty.alias("order_quantity"),
        (order_qty * F.col("unit_price").cast("double")).alias("total_cost"),
        F.date_add(F.lit(run_date), F.col("lead_time_days")).alias("expected_delivery_date"),
    )


def number_purchase_orders(
    enriched: DataFrame, run_date: date, n_rows: int | None = None
) -> DataFrame:
    """The enrichment's tail (reference pipeline.py:682-687): PO ids minted
    in total_cost-DESC order, order_date and status='PENDING'.

    Global numbering via the two-phase range-sort operator — identical
    sequence to ROW_NUMBER (the key is a deterministic total order since
    (sku_id, warehouse_id) is unique per row) without the single-partition
    wall.  ``n_rows`` is an optional upper bound on the row count; it lets
    the numbering skip its count job (see ``with_global_sequence``)."""
    po_keys = [F.desc("total_cost"), F.asc("sku_id"), F.asc("warehouse_id")]
    compact = run_date.strftime("%Y%m%d")
    return (
        with_global_sequence(enriched, po_keys, seq_col="_seq", n_rows=n_rows)
        .withColumn("order_id", F.format_string("PO-%s-%05d", F.lit(compact), F.col("_seq")))
        .withColumn("order_date", F.lit(run_date.isoformat()))
        .withColumn("status", F.lit("PENDING"))
        .drop("_seq")
    )


def run_pipeline(
    orders: DataFrame,
    products: DataFrame,
    warehouses: DataFrame,
    suppliers: DataFrame,
    supplier_products: DataFrame,
    safety_stock: DataFrame,
    ss_by_warehouse: DataFrame,
    snapshots: DataFrame,
    run_date: date,
    stage_retries: int = STAGE_RETRIES,
    retry_delay_sec: float = 0.0,
    retry_sleep: Callable[[float], None] = time.sleep,
) -> dict:
    """D1-D4 (reference pipeline.py:813-885): the sequential DAG as one
    driver function.  Returns the three result DataFrames plus the summary
    metrics dict (XCom replacement; 0-defaults like trigger_rule=all_done).

    D2: every action runs under the reference's per-task retry policy
    (``stage_retries`` defaults to the reference's 2; ``retry_delay_sec``
    defaults to 0 for an in-process run — pass STAGE_RETRY_DELAY_SEC for
    the reference's 5-min spacing; tests inject ``retry_sleep``).  An
    action that exhausts retries does NOT abort the run: the summary is
    all_done (reference task 8) — its metrics emit 0-defaults and
    ``failed_stages`` names them.

    The summary runs one action per persisted output.  ``orders_count`` and
    ``aggregated_count`` count the day's orders and the Q1 frame; one
    aggregate over the net_demand frame yields ``net_demand_count``,
    ``total_net_demand`` and ``items_with_demand``; Q3 is built, persisted
    and materialized by the one aggregate that yields
    ``supplier_orders_count`` and ``total_cost``, all inside the
    ``generate_supplier_orders`` retry (reference task 7), so a Q3 failure
    leaves ``supplier_orders`` None and names the stage and both metrics.
    The net-demand metrics run before Q3 is built: ``items_with_demand`` is
    an upper bound on Q3's rows, and passing it to
    ``number_purchase_orders`` spares the numbering its checkpoint and
    count job.

    The reference re-derives the shared CTEs inside every query; here each
    output is built once and persisted, so the summary's actions and the
    downstream stages hit the materialized frame instead of re-running the
    whole lineage (the reference pays this recompute three times per day,
    SURVEY §2.7).  At scale the persisted frames are dim-product bounded
    (|sku|×|warehouse| for net_demand, purchase-order count for
    supplier_orders), never fact-sized, so MEMORY_AND_DISK stage caches stay
    small even at 100 TB of raw orders.  ``release()`` in the returned dict
    unpersists them.  Outputs are sorted here, at the edge, with the
    (sku_id, warehouse_id) tiebreak that makes the written row order
    independent of the plan.  Callers wanting byte-layout outputs use
    sources.sinks on the frames.
    """
    agg = (
        aggregate_orders(orders, products, warehouses)
        .orderBy(F.desc("total_quantity"), "sku_id", "warehouse_id")
        .persist()
    )
    # J6: the day's snapshot measures join back on the string codes
    demand = agg.join(
        inventory_for_date(snapshots, run_date), ["sku_code", "warehouse_code"], "left"
    )
    ssc = safety_stock_combined(safety_stock, warehouses, ss_by_warehouse)
    nd = (
        net_demand(demand, F.broadcast(ssc))
        # P13 (pipeline.py:544-545): the Python-appended dd-MM-yyyy column
        .withColumn("calculation_date", F.lit(run_date.strftime("%d-%m-%Y")))
        .orderBy(F.desc("net_demand"), "sku_id", "warehouse_id")
        .persist()
    )
    persisted: list[DataFrame] = [agg, nd]
    failed_stages: list[str] = []

    def action(thunk: Callable[[], dict], defaults: dict, stage: str | None = None) -> dict:
        """D2 + D4: one summary action under the reference's retry policy.
        The summary is trigger_rule=all_done: when the action exhausts its
        retries its metrics take their 0-defaults and failed_stages names
        them, after ``stage`` if the action also builds one."""
        names = ([stage] if stage else []) + list(defaults)
        try:
            return retry_stage(
                thunk,
                stage=",".join(names),
                retries=stage_retries,
                delay_sec=retry_delay_sec,
                sleep=retry_sleep,
            )
        except Exception:  # noqa: BLE001 — all_done summary absorbs stage failure
            failed_stages.extend(names)
            return dict(defaults)

    def net_demand_metrics() -> dict:
        count, total, with_demand = nd.agg(
            F.count(F.lit(1)), F.sum("net_demand"), F.count_if(F.col("net_demand") > 0)
        ).first()
        return {
            "net_demand_count": count,
            "total_net_demand": total or 0,
            "items_with_demand": with_demand,
        }

    summary: dict = {"run_date": run_date.isoformat()}
    summary |= action(lambda: {"orders_count": orders.count()}, {"orders_count": 0})
    summary |= action(lambda: {"aggregated_count": agg.count()}, {"aggregated_count": 0})
    summary |= action(
        net_demand_metrics,
        {"net_demand_count": 0, "total_net_demand": 0, "items_with_demand": 0},
    )
    # Q3's rows are net_demand > 0 rows inner-joined to one rank-1 offer per
    # SKU, so items_with_demand is an upper bound on them and the PO
    # numbering skips its checkpoint and count job; no bound if that failed.
    n_rows = None if "items_with_demand" in failed_stages else summary["items_with_demand"]
    rs = ranked_suppliers(supplier_products, suppliers)
    so: DataFrame | None = None

    def build_supplier_orders() -> dict:
        # reference task 7: the one action that materializes the persisted
        # Q3 frame also yields its two metrics
        nonlocal so
        built = (
            number_purchase_orders(supplier_orders(nd, rs, run_date), run_date, n_rows=n_rows)
            .orderBy(F.desc("total_cost"), "sku_id", "warehouse_id")
            .persist()
        )
        try:
            count, cost = built.agg(F.count(F.lit(1)), F.sum("total_cost")).first()
        except Exception:
            built.unpersist()
            raise
        so = built
        persisted.append(so)
        return {"supplier_orders_count": count, "total_cost": float(cost or 0.0)}

    summary |= action(
        build_supplier_orders,
        {"supplier_orders_count": 0, "total_cost": 0.0},
        stage="generate_supplier_orders",
    )

    def release() -> None:
        for df in persisted:
            df.unpersist()

    return {
        "aggregated_orders": agg,
        "net_demand": nd,
        "supplier_orders": so,
        "summary": summary,
        "failed_stages": failed_stages,
        "release": release,
    }
