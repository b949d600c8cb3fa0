"""Gold data-quality check registry — the reference's 12 named count
assertions (gold/gold_builder.py:469-491, executed :497-520): each
check counts violating rows in a mart; 0 == pass. Used both as
pipeline warnings (run_quality_checks) and as pytest assertions
(tests/test_pipeline.py).
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .._util import StageRecorder, read_table, tiny_df


@dataclass
class Check:
    name: str
    table: str
    description: str
    predicate: object  # Column: TRUE == violation


def _c(name, table, desc, pred) -> Check:
    return Check(name, table, desc, pred)


def gold_checks() -> list[Check]:
    ms, ih, sp, dash = ("monthly_sales_performance", "inventory_health_metrics",
                        "supplier_performance_monthly", "supply_chain_dashboard")
    return [
        _c("no_negative_revenue", ms, "total_revenue >= 0", F.col("total_revenue") < 0),
        _c("no_future_months", ms, "sales_month not in the future",
           F.col("sales_month") > F.date_format(F.current_date(), "yyyy-MM-dd")),
        # avg_revenue_per_unit is rounded to 4 dp (gold.py), so avg * qty
        # may miss revenue by qty * 0.5e-4: the bound is the reference's
        # 1 up to ~19.8K units and that rounding error (plus a cent) above
        _c("consistent_calculations", ms,
           "|avg_revenue_per_unit * qty - revenue| <= max(1, qty * 0.5e-4 + 0.01)",
           F.abs(F.col("avg_revenue_per_unit") * F.col("total_quantity_sold")
                 - F.col("total_revenue"))
           > F.greatest(F.lit(1.0),
                        F.col("total_quantity_sold") * 0.5e-4 + 0.01)),
        _c("positive_order_counts", ms, "order_count > 0", F.col("order_count") <= 0),
        _c("no_negative_quantity", ih, "total_quantity >= 0", F.col("total_quantity") < 0),
        _c("capacity_not_exceeded", ih, "capacity_used_pct <= 100",
           F.col("capacity_used_pct") > 100),
        _c("no_negative_inventory_value", ih, "inventory_value >= 0",
           F.col("inventory_value") < 0),
        _c("positive_lead_times", sp, "avg_lead_time_days >= 0",
           F.col("avg_lead_time_days") < 0),
        _c("valid_on_time_rate", sp, "0 <= on_time_rate_pct <= 100",
           (F.col("on_time_rate_pct") < 0) | (F.col("on_time_rate_pct") > 100)),
        _c("fulfilled_not_above_total", sp, "fulfilled_orders <= total_orders",
           F.col("fulfilled_orders") > F.col("total_orders")),
        _c("logical_dates", dash, "delivered >= shipped where both present",
           F.col("delivery_days") < 0),
        _c("positive_quantities", dash, "quantity > 0", F.col("quantity") <= 0),
    ]


def run_quality_checks(spark: SparkSession, warehouse: str) -> DataFrame:
    """Evaluate every check; returns (check, table, violations, passed).

    All checks against one mart fold into a SINGLE aggregation pass
    (conditional sums), so each mart is scanned exactly once — 4 jobs
    for 12 checks instead of 12 filter-counts, and the only shape that
    survives a 100 TB dashboard table. The per-table jobs run
    concurrently (``StageRecorder.fan_out``)."""
    by_table: dict[str, list[Check]] = defaultdict(list)
    for chk in gold_checks():
        by_table[chk.table].append(chk)

    def _check_table(table: str) -> tuple[int, int, list[tuple]]:
        checks = by_table[table]
        row = read_table(spark, warehouse, "gold", table).agg(*[
            F.sum(F.when(chk.predicate, 1).otherwise(0)).cast("long").alias(f"c{i}")
            for i, chk in enumerate(checks)
        ]).collect()[0]
        rows = [
            (chk.name, table, chk.description, row[f"c{i}"] or 0, (row[f"c{i}"] or 0) == 0)
            for i, chk in enumerate(checks)
        ]
        return -1, len(rows), rows

    table_rows = StageRecorder(warehouse).fan_out(list(by_table), _check_table)
    rows = [r for rs in table_rows for r in rs]
    return tiny_df(
        spark, rows, "check_name string, table_name string, description string, "
                     "violations long, passed boolean")


def reconcile_silver_gold(spark: SparkSession, warehouse: str,
                          tolerance_pct: float = 5.0) -> DataFrame:
    """Cross-layer reconciliation (reference eda/supply_chain_eda.py:
    822-888): silver order totals vs the monthly sales mart, within
    tolerance. The silver side is what the mart keeps: delivered/shipped
    orders whose store and product keys its inner joins find. Each
    key's match rides a broadcast left join as a flag (the mart's join
    condition, so the kept rows are its rows), and one aggregation sums
    the kept orders and, as ``dropped_value``, the dangling-key orders
    the mart loses. Both sides sum exact decimals (cents), so equal
    totals compare equal rather than within float noise."""
    orders = read_table(spark, warehouse, "silver", "supply_orders").filter(
        F.col("status").isin("delivered", "shipped"))
    stores = read_table(spark, warehouse, "silver", "retail_stores").select(
        F.col("retail_store_id").alias("_store"))
    products = read_table(spark, warehouse, "silver", "products").select(
        F.col("product_id").alias("_product"))
    flagged = (
        orders.join(F.broadcast(stores), orders.retail_store_id == stores._store, "left")
        .join(F.broadcast(products), orders.product_id == products._product, "left")
    )
    kept = F.col("_store").isNotNull() & F.col("_product").isNotNull()
    measures = {"revenue": "total_invoice", "units": "quantity"}
    s = flagged.agg(*[
        F.sum(F.when(keep, F.col(c).cast("decimal(18,2)"))).alias(f"{m}_{tag}")
        for m, c in measures.items()
        for tag, keep in (("kept", kept), ("dropped", ~kept))
    ]).collect()[0]
    g = read_table(spark, warehouse, "gold", "monthly_sales_performance").agg(
        F.sum(F.col("total_revenue").cast("decimal(18,2)")).alias("revenue"),
        F.sum(F.col("total_quantity_sold").cast("decimal(18,2)")).alias("units"),
    ).collect()[0]
    rows = []
    for measure in measures:
        sv, gv = s[f"{measure}_kept"] or 0, g[measure] or 0
        pct = 100.0 * float(abs(sv - gv)) / max(abs(float(sv)), 1e-9)
        rows.append((measure, float(sv), float(gv),
                     float(s[f"{measure}_dropped"] or 0), round(pct, 4),
                     pct <= tolerance_pct))
    return tiny_df(
        spark, rows, "measure string, silver_value double, gold_value double, "
                     "dropped_value double, pct_diff double, passed boolean")
