"""Remaining TPC-H-derived OLAP shapes (Q5/Q7/Q8/Q9/Q10/Q12/Q14/Q15/Q16/
Q19/Q20/Q21), adapted to the testdata's trimmed schema.

The reference executes none of these (its DAG runs six fixed Trino
statements, reference dags/pipeline.py:409-674), but a user switching from
the reference's interactive Trino surface (reference README.md:196-213)
expects the full ANSI join/agg repertoire these shapes exercise:
multi-way fact joins with cross-dimension equality (Q5), bidirectional
pair predicates (Q7), conditional-share aggregation (Q8/Q14), top-k with
ties (Q10/Q15), distinct-count over pair sets with NOT-IN exclusion (Q16),
disjunctive pushdown (Q19), per-group over-share (Q20), and the
exists/not-exists "sole blocker" pattern (Q21).

Adaptations forced by the trimmed testdata schema (TESTDATA.md):
- no ``partsupp`` table -> Q9's supplycost and Q20's availqty are restated
  over ``lineitem`` shipment volume and ``part.p_retailprice``;
- no ``l_shipmode``/``l_commitdate``/``l_receiptdate`` -> Q12 groups by
  ``l_linestatus`` and Q21's "late" is ``l_shipdate`` > 90 days after
  ``o_orderdate``;
- no comment columns -> Q16's complaints exclusion keys on negative
  supplier balance.

Every query keeps the repo's exact-arithmetic discipline: money sums in
fixed-point basis points/cents (BIGINT), ratios derived from those exact
integers with the identical expression on both engines, deterministic
tiebreaks on any top-k boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table


def _bp(col):
    """Exact basis points (1e-4 currency units) as BIGINT."""
    return F.round(col * 10000).cast("long")


_REV_BP = "CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)"


# --------------------------------------------------------------------------
# Q5: regional revenue — 6-way join with the cross-dimension equality
# (customer and supplier must share a nation)
# --------------------------------------------------------------------------

REGIONAL_REVENUE_REGION = "ASIA"
REGIONAL_REVENUE_FROM = "1996-01-01"
REGIONAL_REVENUE_TO = "1997-01-01"


def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: lineitem ⋈ orders ⋈ customer ⋈ supplier ⋈ nation ⋈
    region with the c_nationkey = s_nationkey cross-dimension equality,
    grouped revenue per nation.

    Scale shape: the two fact joins (orders on orderkey, customer on
    custkey) shuffle; supplier+nation+region collapse into ONE broadcast
    dimension built dim-side (supplier is ~1/15th of customer at TPC-H
    proportions), and the nationkey equality rides the broadcast join
    condition so no extra shuffle appears.  The date filter pushes to the
    orders scan."""
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == REGIONAL_REVENUE_REGION
    )
    nation = load_table(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(REGIONAL_REVENUE_FROM).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(REGIONAL_REVENUE_TO).cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    li = load_table(spark, sf_dir, "lineitem")
    rev = _bp(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .groupBy("n_name")
        .agg((F.sum(rev).cast("long") / 10000.0).alias("revenue"))
    )


Q_REGIONAL_REVENUE_SQL = f"""
    SELECT n_name,
           CAST(SUM({_REV_BP}) AS BIGINT) / 10000.0 AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = '{REGIONAL_REVENUE_REGION}'
      AND o_orderdate >= TIMESTAMP '{REGIONAL_REVENUE_FROM} 00:00:00'
      AND o_orderdate <  TIMESTAMP '{REGIONAL_REVENUE_TO} 00:00:00'
    GROUP BY n_name
"""


# --------------------------------------------------------------------------
# Q7: bidirectional nation-pair trade volume
# --------------------------------------------------------------------------

TRADE_REGION_A = "EUROPE"
TRADE_REGION_B = "AMERICA"
TRADE_FROM = "1996-01-01"
TRADE_TO = "1998-01-01"


def q_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two geographies in BOTH
    directions (the symmetric OR-pair predicate), per supplier-nation ×
    customer-nation × ship-year.  Q7 names two nations; restated over two
    REGIONS so every scale factor yields a healthy group count (the
    testdata's supplier table is tiny at small SF).

    Scale shape: nation+region fold into two broadcast dimension maps (one
    keyed by suppkey via supplier, one attached to customer); the only
    shuffles are the two fact joins.  The OR-pair filter evaluates on
    broadcast-joined columns, map-side."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    nr = nation.join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name", "r_name")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nr), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "s_suppkey",
            F.col("n_name").alias("supp_nation"),
            F.col("r_name").alias("supp_region"),
        )
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nr), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "c_custkey",
            F.col("n_name").alias("cust_nation"),
            F.col("r_name").alias("cust_region"),
        )
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(TRADE_FROM).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(TRADE_TO).cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    rev = _bp(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    pair_ab = (F.col("supp_region") == TRADE_REGION_A) & (
        F.col("cust_region") == TRADE_REGION_B
    )
    pair_ba = (F.col("supp_region") == TRADE_REGION_B) & (
        F.col("cust_region") == TRADE_REGION_A
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(pair_ab | pair_ba)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg((F.sum(rev).cast("long") / 10000.0).alias("volume"))
    )


Q_NATION_TRADE_VOLUME_SQL = f"""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(rev_bp) AS BIGINT) / 10000.0 AS volume
    FROM (
        SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
               CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
               {_REV_BP} AS rev_bp,
               rs.r_name AS supp_region, rc.r_name AS cust_region
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ns ON s_nationkey = ns.n_nationkey
        JOIN nation nc ON c_nationkey = nc.n_nationkey
        JOIN region rs ON ns.n_regionkey = rs.r_regionkey
        JOIN region rc ON nc.n_regionkey = rc.r_regionkey
        WHERE l_shipdate >= TIMESTAMP '{TRADE_FROM} 00:00:00'
          AND l_shipdate <  TIMESTAMP '{TRADE_TO} 00:00:00'
    )
    WHERE (supp_region = '{TRADE_REGION_A}' AND cust_region = '{TRADE_REGION_B}')
       OR (supp_region = '{TRADE_REGION_B}' AND cust_region = '{TRADE_REGION_A}')
    GROUP BY 1, 2, 3
"""


# --------------------------------------------------------------------------
# Q8: market share of one supplier geography inside one customer market
# --------------------------------------------------------------------------

MKT_SHARE_CUST_REGION = "ASIA"
MKT_SHARE_SUPP_REGION = "EUROPE"
MKT_SHARE_PART_TYPE = "ECONOMY"


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: the CASE-inside-aggregate share — of all ECONOMY-part
    revenue sold into ASIA customers per order-year, what fraction came from
    EUROPE suppliers.

    Scale shape: part/supplier/nation/region all broadcast; orders and
    customer joins shuffle.  Numerator and denominator come from the SAME
    single aggregate (one pass), and the share divides two exact BIGINT
    basis-point sums."""
    nr = (
        load_table(spark, sf_dir, "nation")
        .join(
            F.broadcast(load_table(spark, sf_dir, "region")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "r_name")
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == MKT_SHARE_PART_TYPE
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nr), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("r_name").alias("supp_region"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nr), F.col("c_nationkey") == F.col("n_nationkey"))
        .filter(F.col("r_name") == MKT_SHARE_CUST_REGION)
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rev = _bp(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    from_supp = F.when(
        F.col("supp_region") == MKT_SHARE_SUPP_REGION, rev
    ).otherwise(F.lit(0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(from_supp).alias("_num"),
            F.sum(rev).alias("_den"),
        )
        .select(
            "o_year",
            (F.col("_num").cast("double") / F.col("_den").cast("double")).alias(
                "mkt_share"
            ),
            (F.col("_den") / 10000.0).alias("total_volume"),
        )
    )


Q_MARKET_SHARE_SQL = f"""
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CASE WHEN rs.r_name = '{MKT_SHARE_SUPP_REGION}'
                         THEN {_REV_BP} ELSE 0 END) AS DOUBLE)
             / CAST(SUM({_REV_BP}) AS DOUBLE) AS mkt_share,
           CAST(SUM({_REV_BP}) AS BIGINT) / 10000.0 AS total_volume
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation nc ON c_nationkey = nc.n_nationkey
    JOIN region rc ON nc.n_regionkey = rc.r_regionkey
    JOIN nation ns ON s_nationkey = ns.n_nationkey
    JOIN region rs ON ns.n_regionkey = rs.r_regionkey
    WHERE p_type = '{MKT_SHARE_PART_TYPE}'
      AND rc.r_name = '{MKT_SHARE_CUST_REGION}'
    GROUP BY 1
"""


# --------------------------------------------------------------------------
# Q9: product-class profit per nation per year
# --------------------------------------------------------------------------

PROFIT_NAME_PATTERN = "%widget%"


def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit on one product class (p_name LIKE) per
    supplier nation per year.  The testdata has no partsupp, so supply cost
    is restated as ``p_retailprice * l_quantity`` (Q9 uses ``ps_supplycost *
    l_quantity`` — same expression shape, different cost source).

    Scale shape: the LIKE-filtered part table broadcasts and prunes
    lineitem FIRST (the selective join goes before the orders shuffle so
    the shuffle carries only the filtered class); supplier/nation
    broadcast; one shuffle join (orders) + one grouped aggregate."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like(PROFIT_NAME_PATTERN)
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem")
    profit = _bp(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("nation", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg((F.sum(profit).cast("long") / 10000.0).alias("profit"))
    )


Q_PRODUCT_PROFIT_SQL = f"""
    SELECT n_name AS nation,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)
                - p_retailprice * l_quantity) * 10000) AS BIGINT)) AS BIGINT)
             / 10000.0 AS profit
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN orders   ON l_orderkey = o_orderkey
    WHERE p_name LIKE '{PROFIT_NAME_PATTERN}'
    GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Q10: returned-item revenue per customer, top 20
# --------------------------------------------------------------------------

RETURNED_FROM = "1996-10-01"
RETURNED_TO = "1997-01-01"


def q_returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returned items per customer in one
    quarter, top 20 customers.  orderBy+limit compiles to
    TakeOrderedAndProject (per-partition top-k, no global sort shuffle);
    c_custkey tiebreak pins the boundary.

    Scale shape: date filter pushes to the orders scan, returnflag filter
    to the lineitem scan; one orderkey shuffle join, one custkey shuffle
    join (customer is fact-scale — neither side broadcasts), nation
    broadcast, then top-k."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(RETURNED_FROM).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(RETURNED_TO).cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer").join(
        F.broadcast(load_table(spark, sf_dir, "nation")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    rev = _bp(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_custkey").cast("long").alias("c_custkey"),
            "c_name",
            "n_name",
            "c_acctbal",
        )
        .agg((F.sum(rev).cast("long") / 10000.0).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q_RETURNED_ITEM_REVENUE_SQL = f"""
    SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name, n_name, c_acctbal,
           CAST(SUM({_REV_BP}) AS BIGINT) / 10000.0 AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '{RETURNED_FROM} 00:00:00'
      AND o_orderdate <  TIMESTAMP '{RETURNED_TO} 00:00:00'
    GROUP BY 1, 2, 3, 4
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
"""


# --------------------------------------------------------------------------
# Q12: priority mix per line status (shipmode stand-in)
# --------------------------------------------------------------------------

PRIORITY_MIX_FROM = "1996-01-01"
PRIORITY_MIX_TO = "1997-01-01"


def q_priority_line_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: per category (l_linestatus stands in for the absent
    l_shipmode), count lines from high-priority vs low-priority orders
    inside a one-year ship window — the canonical CASE-sum pair.

    Scale shape: date filter pushes to the lineitem scan; one orderkey
    shuffle join; CASE-sums fold into map-side partial aggregation."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(PRIORITY_MIX_FROM).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(PRIORITY_MIX_TO).cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    # when/otherwise (not bare isin().cast()): a NULL priority must count
    # as LOW on both engines — the oracle's CASE ... ELSE 1 takes the ELSE
    # branch on NULL, while summing a NULL boolean would drop the row
    high = (
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .cast("long")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(1 - high).alias("low_line_count"),
        )
    )


Q_PRIORITY_LINE_MIX_SQL = f"""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '{PRIORITY_MIX_FROM} 00:00:00'
      AND l_shipdate <  TIMESTAMP '{PRIORITY_MIX_TO} 00:00:00'
    GROUP BY 1
"""


# --------------------------------------------------------------------------
# Q14: promo revenue share for one month
# --------------------------------------------------------------------------

PROMO_FROM = "1996-09-01"
PROMO_TO = "1996-10-01"


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: percentage of one month's revenue that came from
    promotional parts.  Single row; the percentage divides two exact
    basis-point BIGINTs, and both operands are also emitted so the oracle
    check is exact, not just ratio-approximate.

    Scale shape: part broadcasts; the date filter pushes to the lineitem
    scan; numerator and denominator come from one aggregate pass."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(PROMO_FROM).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(PROMO_TO).cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = _bp(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))
    # whole-table single-group sums ACCUMULATE IN DECIMAL(38,0): a LongType
    # running sum would wrap silently past 2^63 (~9e14 currency units in
    # basis points) in non-ANSI mode; the final long cast is the same
    # explicit representability boundary as the oracle's CAST AS BIGINT
    # (which errors, never wraps)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.sum(promo.cast("decimal(38,0)")).cast("long").alias("_promo"),
            F.sum(rev.cast("decimal(38,0)")).cast("long").alias("_total"),
        )
        .select(
            (
                F.lit(100.0)
                * F.col("_promo").cast("double")
                / F.col("_total").cast("double")
            ).alias("promo_pct"),
            (F.col("_promo") / 10000.0).alias("promo_revenue"),
            (F.col("_total") / 10000.0).alias("total_revenue"),
        )
    )


Q_PROMO_REVENUE_SQL = f"""
    SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_REV_BP}
                                 ELSE 0 END) AS DOUBLE)
             / CAST(SUM({_REV_BP}) AS DOUBLE) AS promo_pct,
           CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_REV_BP} ELSE 0 END)
                AS BIGINT) / 10000.0 AS promo_revenue,
           CAST(SUM({_REV_BP}) AS BIGINT) / 10000.0 AS total_revenue
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '{PROMO_FROM} 00:00:00'
      AND l_shipdate <  TIMESTAMP '{PROMO_TO} 00:00:00'
"""


# --------------------------------------------------------------------------
# Q15: top revenue supplier(s) for a quarter
# --------------------------------------------------------------------------

TOP_SUPP_FROM = "1996-01-01"
TOP_SUPP_TO = "1996-04-01"


def q_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) whose quarterly revenue equals the
    maximum — the revenue-view + scalar-max pattern, tie-preserving (Q15
    explicitly keeps ties; exact cents make the equality safe cross-engine).

    Scale shape: one pass over ``lineitem``.  The scalar max is a window
    over the whole per-supplier aggregate (|supplier| rows in one
    partition), so the aggregate feeds both the max and the filter without
    a second scan or a checkpoint at build; supplier names attach by
    broadcast."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(TOP_SUPP_FROM).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(TOP_SUPP_TO).cast("timestamp"))
    )
    rev = _bp(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    per_supp = li.groupBy(F.col("l_suppkey").cast("long").alias("s_suppkey")).agg(
        F.sum(rev).alias("rev_bp")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("sk"), "s_name"
    )
    return (
        per_supp.withColumn("max_bp", F.max("rev_bp").over(Window.partitionBy()))
        .filter(F.col("rev_bp") == F.col("max_bp"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("sk"))
        .select("s_suppkey", "s_name", (F.col("rev_bp") / 10000.0).alias("total_revenue"))
    )


Q_TOP_REVENUE_SUPPLIER_SQL = f"""
    WITH revenue AS (
        SELECT CAST(l_suppkey AS BIGINT) AS s_suppkey,
               CAST(SUM({_REV_BP}) AS BIGINT) AS rev_bp
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '{TOP_SUPP_FROM} 00:00:00'
          AND l_shipdate <  TIMESTAMP '{TOP_SUPP_TO} 00:00:00'
        GROUP BY 1
    )
    SELECT r.s_suppkey, s.s_name, r.rev_bp / 10000.0 AS total_revenue
    FROM revenue r
    JOIN supplier s ON r.s_suppkey = s.s_suppkey
    WHERE r.rev_bp = (SELECT MAX(rev_bp) FROM revenue)
"""


# --------------------------------------------------------------------------
# Q16: supplier variety per part class, with NOT-IN exclusion
# --------------------------------------------------------------------------

VARIETY_EXCLUDED_BRAND = "Brand#1"
VARIETY_EXCLUDED_TYPE = "PROMO"
VARIETY_SIZES = (1, 5, 9, 13, 17, 21, 25, 29)


def q_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers ship each (brand, type,
    size) class, excluding one brand, one type, all but 8 sizes, and a
    NOT-IN supplier blocklist.  The testdata has no partsupp and no comment
    column, so the supplier universe comes from lineitem's distinct
    (partkey, suppkey) pairs and the blocklist is negative-balance
    suppliers (stand-in for Q16's '%Customer%Complaints%').

    Scale shape: the pair-distinct is ONE shuffle that then feeds the
    distinct-count aggregate; the part filter broadcasts into the pair
    stream; the blocklist is a broadcast anti join (NOT IN with non-null
    keys ≡ anti join)."""
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != VARIETY_EXCLUDED_BRAND)
        & (F.col("p_type") != VARIETY_EXCLUDED_TYPE)
        & (F.col("p_size").isin(*VARIETY_SIZES))
    )
    blocked = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select(F.col("s_suppkey").alias("bk"))
    return (
        pairs.join(F.broadcast(part), pairs.l_partkey == part.p_partkey)
        .join(F.broadcast(blocked), pairs.l_suppkey == F.col("bk"), "left_anti")
        .groupBy(
            "p_brand", "p_type", F.col("p_size").cast("long").alias("p_size")
        )
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


Q_SUPPLIER_PART_VARIETY_SQL = f"""
    SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> '{VARIETY_EXCLUDED_BRAND}'
      AND p_type  <> '{VARIETY_EXCLUDED_TYPE}'
      AND p_size IN {VARIETY_SIZES}
      AND l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
"""


# --------------------------------------------------------------------------
# Q19: disjunctive (OR-of-ANDs) predicate revenue
# --------------------------------------------------------------------------


def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR of three AND-branches mixing
    part attributes (brand, size band) with lineitem attributes (quantity
    band) — the disjunctive-pushdown stress test.  Catalyst extracts the
    common join key and evaluates the residual OR post-join; the branch
    count is also emitted so the oracle checks row routing, not just the
    money sum.

    Scale shape: part broadcasts; the single aggregate is map-side; no
    shuffle beyond the broadcast-join scan."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    q = F.col("l_quantity")
    branch1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 10)
        & q.between(1, 20)
    )
    branch2 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(10, 25)
        & q.between(5, 30)
    )
    branch3 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(20, 50)
        & q.between(10, 50)
    )
    rev = _bp(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(branch1 | branch2 | branch3)
        # decimal accumulation: see q_promo_revenue overflow note
        .agg(
            (F.sum(rev.cast("decimal(38,0)")).cast("long") / 10000.0).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


Q_DISJUNCTIVE_REVENUE_SQL = f"""
    SELECT CAST(SUM({_REV_BP}) AS BIGINT) / 10000.0 AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 25
           AND l_quantity BETWEEN 5 AND 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 10 AND 50)
"""


# --------------------------------------------------------------------------
# Q20: suppliers holding an excess share of a part class
# --------------------------------------------------------------------------

EXCESS_NAME_PREFIX = "cold%"
# 0.1 keeps the qualifying set non-empty (check non-vacuous) at every
# shipped SF: 10/81/235 suppliers at sf0.001/0.01/0.1.
EXCESS_SHARE = 0.1


def q_excess_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: the nested quantity-threshold semi join.  Q20 keeps
    suppliers whose availqty exceeds half their shipped volume of one
    LIKE-named part class; without partsupp this is restated as suppliers
    shipping MORE THAN ``EXCESS_SHARE`` of some such part's total volume —
    the same inner aggregate-vs-aggregate comparison, then a semi join up
    to supplier with the nation name attached.

    Scale shape: the LIKE-filtered part list broadcasts into the lineitem
    scan; per-(part, supplier) and per-part totals derive from ONE
    checkpointed aggregate (no second lineitem scan); the final semi join
    keys on suppkey against the (small) qualifying set, broadcast."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like(EXCESS_NAME_PREFIX)
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem")
    pair = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        # ROUND before the integer cast: Spark's bare cast truncates toward
        # zero while DuckDB's CAST rounds to nearest — on a fractional
        # quantity the engines would diverge; ROUND matches half-away on
        # both (same discipline as _bp)
        .agg(F.sum(F.round(F.col("l_quantity")).cast("long")).alias("pair_qty"))
        .localCheckpoint()
    )
    totals = pair.groupBy(F.col("l_partkey").alias("tk")).agg(
        F.sum("pair_qty").alias("part_qty")
    )
    qualifying = (
        pair.join(totals, pair.l_partkey == F.col("tk"))
        .filter(
            F.col("pair_qty").cast("double")
            > F.lit(EXCESS_SHARE) * F.col("part_qty").cast("double")
        )
        .select("l_suppkey")
        .distinct()
    )
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(load_table(spark, sf_dir, "nation")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    return (
        supp.join(
            F.broadcast(qualifying),
            supp.s_suppkey == F.col("l_suppkey"),
            "left_semi",
        )
        .select(
            F.col("s_suppkey").cast("long").alias("s_suppkey"),
            "s_name",
            F.col("n_name").alias("nation"),
        )
    )


Q_EXCESS_SHARE_SUPPLIERS_SQL = f"""
    WITH pair AS (
        SELECT l_partkey, l_suppkey,
               CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS pair_qty
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_name LIKE '{EXCESS_NAME_PREFIX}'
        GROUP BY 1, 2
    ),
    totals AS (
        SELECT l_partkey, CAST(SUM(pair_qty) AS BIGINT) AS part_qty
        FROM pair GROUP BY 1
    )
    SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, n_name AS nation
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (
        SELECT p.l_suppkey
        FROM pair p JOIN totals t ON p.l_partkey = t.l_partkey
        WHERE CAST(p.pair_qty AS DOUBLE) > {EXCESS_SHARE} * CAST(t.part_qty AS DOUBLE)
    )
"""


# --------------------------------------------------------------------------
# Q21: the sole late supplier on multi-supplier finished orders
# --------------------------------------------------------------------------

WAITING_LATE_DAYS = 90


def q_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who single-handedly held up finished
    multi-supplier orders — EXISTS (another supplier on the order) AND NOT
    EXISTS (another LATE supplier).  Without l_receiptdate/l_commitdate,
    "late" is shipping > ``WAITING_LATE_DAYS`` days after the order date.

    Re-expressed without correlated subqueries: ONE per-order aggregate
    computes (distinct suppliers, distinct late suppliers, the late
    supplier when unique); orders with >1 supplier and exactly 1 late
    supplier indict that supplier.  This turns Q21's four lineitem
    touches into a single orderkey-keyed shuffle — the distributed-friendly
    plan — and the count per supplier is a tiny second aggregate.
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem")
    # anchor the 90-day window on the order DATE explicitly on both
    # engines: Spark's date_add silently truncates a timestamp to a date,
    # while DuckDB's ts + INTERVAL preserves time-of-day — on non-midnight
    # order timestamps the two would disagree about lateness
    late = F.col("l_shipdate") > F.date_add(
        F.to_date("o_orderdate"), WAITING_LATE_DAYS
    ).cast("timestamp")
    per_order = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late"),
            F.max(F.when(late, F.col("l_suppkey"))).alias("late_supp"),
        )
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("sk"), "s_name"
    )
    return (
        per_order.groupBy(F.col("late_supp").cast("long").alias("s_suppkey"))
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("sk"))
        .select("s_suppkey", "s_name", "numwait")
    )


Q_SOLE_LATE_SUPPLIER_SQL = f"""
    WITH per_order AS (
        SELECT o_orderkey,
               COUNT(DISTINCT l_suppkey) AS n_supp,
               COUNT(DISTINCT CASE WHEN l_shipdate >
                     CAST(o_orderdate AS DATE) + INTERVAL {WAITING_LATE_DAYS} DAY
                     THEN l_suppkey END) AS n_late,
               MAX(CASE WHEN l_shipdate >
                     CAST(o_orderdate AS DATE) + INTERVAL {WAITING_LATE_DAYS} DAY
                     THEN l_suppkey END) AS late_supp
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'F'
        GROUP BY 1
    )
    SELECT CAST(late_supp AS BIGINT) AS s_suppkey, s_name,
           CAST(COUNT(*) AS BIGINT) AS numwait
    FROM per_order
    JOIN supplier ON late_supp = s_suppkey
    WHERE n_supp > 1 AND n_late = 1
    GROUP BY 1, 2
"""
