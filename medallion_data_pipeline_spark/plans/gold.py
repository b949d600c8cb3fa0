"""Gold layer: the four business marts + table metadata.

Each mart is the reference's CTAS SQL (gold/gold_builder.py:86-411)
re-expressed as a DataFrame plan with broadcast dimension joins and a
single fact shuffle on the group keys. Full-refresh overwrite matches
the reference's DROP + CREATE TABLE AS (S5). The wide dashboard is
partitioned by order_year_month — the reference's b-tree indexes
(gold_builder.py:418-426) become partition pruning + broadcast joins.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cleaning import guarded_div
from .._util import StageRecorder, read_table, tiny_df, write_counted

GOLD_TABLES = ("monthly_sales_performance", "inventory_health_metrics",
               "supplier_performance_monthly", "supply_chain_dashboard",
               "table_metadata")


def _month(col) -> F.Column:
    return F.date_format(F.date_trunc("month", col), "yyyy-MM-dd")


def build_monthly_sales(orders: DataFrame, stores: DataFrame, products: DataFrame) -> DataFrame:
    """monthly_sales_performance (reference gold_builder.py:87-123, A1/A2/J1):
    delivered+shipped orders x store region/type x product category."""
    j = (
        orders.filter(F.col("status").isin("delivered", "shipped"))
        .join(F.broadcast(stores), orders.retail_store_id == stores.retail_store_id, "inner")
        .join(F.broadcast(products), orders.product_id == products.product_id, "inner")
    )
    agg = (
        j.groupBy(
            _month("order_date").alias("sales_month"),
            F.col("region_clean").alias("region"),
            F.col("store_type_clean").alias("store_type"),
            F.col("main_category").alias("product_category"),
        )
        .agg(
            F.countDistinct("supply_order_id").alias("order_count"),
            F.sum("quantity").alias("total_quantity_sold"),
            F.round(F.sum("total_invoice"), 2).alias("total_revenue"),
            F.round(F.avg("total_invoice"), 2).alias("avg_order_value"),
            F.countDistinct(orders.retail_store_id).alias("unique_stores"),
            F.countDistinct(orders.product_id).alias("unique_products"),
        )
    )
    return agg.select(
        "*",
        # 4 dp, not the reference's 2: the consistent_calculations check
        # (|avg*qty - revenue| <= 1) only holds at 2 dp for small groups
        F.round(guarded_div(F.col("total_revenue"), F.col("total_quantity_sold")), 4)
        .alias("avg_revenue_per_unit"),
        F.round(guarded_div(F.col("total_revenue"), F.col("unique_stores")), 2)
        .alias("revenue_per_store"),
    ).withColumn("created_at", F.current_timestamp())


def build_inventory_health(inventory: DataFrame, warehouses: DataFrame,
                           products: DataFrame) -> DataFrame:
    """inventory_health_metrics (reference gold_builder.py:131-185, A3):
    per warehouse x category stock posture with conditional counts."""
    j = (
        inventory
        .join(F.broadcast(warehouses), inventory.warehouse_id == warehouses.warehouse_id, "inner")
        .join(F.broadcast(products), inventory.product_id == products.product_id, "inner")
    )
    qty = F.col("quantity_on_hand")
    return (
        j.groupBy(
            warehouses.warehouse_id.alias("warehouse_id"),
            F.col("warehouse_name_clean").alias("warehouse_name"),
            F.col("region_clean").alias("warehouse_region"),
            F.col("main_category").alias("product_category"),
        )
        .agg(
            F.countDistinct(inventory.product_id).alias("unique_products"),
            F.sum(qty).alias("total_quantity"),
            F.round(F.avg(qty), 2).alias("avg_quantity"),
            F.min(qty).alias("min_quantity"),
            F.max(qty).alias("max_quantity"),
            F.sum(F.when(qty == 0, 1).otherwise(0)).alias("out_of_stock_items"),
            # reference gold_builder.py:147: qty < 100 INCLUDING zero
            F.sum(F.when(qty < 100, 1).otherwise(0)).alias("low_stock_items"),
            F.first("storage_capacity_clean").alias("storage_capacity"),
            F.round(F.sum(qty * F.coalesce(F.col("unit_cost_clean"), F.lit(0.0))), 2)
            .alias("inventory_value"),
        )
        .withColumn(
            "capacity_used_pct",
            F.round(guarded_div(F.col("total_quantity") * 100.0, F.col("storage_capacity")), 2),
        )
        .withColumn(
            # reference gold_builder.py:177-181 thresholds
            "stock_health",
            F.when(F.col("out_of_stock_items") > 5, "Critical")
            .when(F.col("low_stock_items") > 10, "Warning")
            .otherwise("Healthy"),
        )
        .withColumn("created_at", F.current_timestamp())
    )


def build_supplier_performance(orders: DataFrame, products: DataFrame,
                               suppliers: DataFrame) -> DataFrame:
    """supplier_performance_monthly (reference gold_builder.py:193-232,
    A4/J3): supplier reached transitively through product; lead times,
    fulfillment and on-time rates (on-time = delivered <= shipped+3d)."""
    j = (
        orders
        .join(F.broadcast(products.select("product_id", "supplier_id")), "product_id", "inner")
        .join(F.broadcast(suppliers), "supplier_id", "inner")
    )
    # lead time only over rows with sane date logic (silver flags them;
    # dirty shipped<order rows would produce negative "lead times")
    lead = F.when(F.col("date_logic_valid") & F.col("delivered_date").isNotNull(),
                  F.datediff("delivered_date", "order_date"))
    on_time = F.col("delivered_date") <= F.date_add(F.col("shipped_date"), 3)
    n = F.count(F.lit(1))
    return (
        j.groupBy(
            _month("order_date").alias("order_month"),
            F.col("supplier_id"),
            F.col("supplier_name_clean").alias("supplier_name"),
        )
        .agg(
            F.countDistinct("supply_order_id").alias("total_orders"),
            F.sum("quantity").alias("total_units"),
            F.round(F.sum("total_invoice"), 2).alias("total_revenue"),
            F.round(F.avg(lead), 2).alias("avg_lead_time_days"),
            F.sum(F.when(F.col("status") == "delivered", 1).otherwise(0)).alias("delivered_orders"),
            F.sum(F.when(F.col("status").isin("delivered", "shipped"), 1).otherwise(0))
            .alias("fulfilled_orders"),
            # reference gold_builder.py:227: rate over ALL orders in the
            # group, not just delivered ones
            F.round(guarded_div(
                F.sum(F.when(on_time, 1).otherwise(0)) * 100.0,
                F.countDistinct("supply_order_id")), 2)
            .alias("on_time_rate_pct"),
            F.round(guarded_div(
                F.sum(F.when(on_time & F.col("is_calculation_correct"), 1).otherwise(0)) * 100.0,
                n), 2).alias("otif_proxy_pct"),
        )
    )


def build_dashboard(orders: DataFrame, products: DataFrame, suppliers: DataFrame,
                    warehouses: DataFrame, stores: DataFrame) -> DataFrame:
    """supply_chain_dashboard (reference gold_builder.py:277-411, J4):
    left-outer 5-way star at order grain; Unknown-filled dims, derived
    date parts, CASE tiers, boolean DQ flags. Partitioned on
    order_year_month at write time."""
    # narrow projections: keeps the broadcasts small and avoids raw/clean
    # column-name collisions across silver tables
    p = products.select("product_id", "supplier_id", "product_name_clean",
                        "main_category", "unit_cost_clean")
    s = suppliers.select("supplier_id", "supplier_name_clean")
    w = warehouses.select("warehouse_id", "warehouse_name_clean",
                          F.col("region_clean").alias("wh_region"))
    st = stores.select("retail_store_id", "store_name_clean",
                       F.col("region_clean").alias("store_region_clean"))
    j = (
        orders
        .join(F.broadcast(p), "product_id", "left")
        .join(F.broadcast(s), "supplier_id", "left")
        .join(F.broadcast(w), "warehouse_id", "left")
        .join(F.broadcast(st), "retail_store_id", "left")
    )
    ship_days = F.datediff("delivered_date", "shipped_date")
    age_days = F.datediff(F.current_date(), F.col("order_date"))
    total_cost = F.col("quantity") * F.coalesce(F.col("unit_cost_clean"), F.lit(0.0))
    return j.select(
        "supply_order_id",
        "order_date",
        F.date_format("order_date", "yyyy-MM").alias("order_year_month"),
        F.year("order_date").alias("order_year"),
        F.quarter("order_date").alias("order_quarter"),
        (F.weekday("order_date") + 1).alias("order_isodow"),
        F.coalesce(F.col("product_name_clean"), F.lit("Unknown")).alias("product_name"),
        F.coalesce(F.col("main_category"), F.lit("Uncategorized")).alias("product_category"),
        F.coalesce(F.col("supplier_name_clean"), F.lit("Unknown")).alias("supplier_name"),
        F.coalesce(F.col("warehouse_name_clean"), F.lit("Unknown")).alias("warehouse_name"),
        F.coalesce(F.col("store_name_clean"), F.lit("Unknown")).alias("store_name"),
        F.coalesce(F.col("store_region_clean"), F.lit("Unknown")).alias("store_region"),
        F.coalesce(F.col("wh_region"), F.lit("Unknown")).alias("warehouse_region"),
        "quantity", "price", "total_invoice", "status",
        F.round(total_cost, 2).alias("total_cost"),
        F.round(F.col("total_invoice") - total_cost, 2).alias("total_profit"),
        ship_days.alias("delivery_days"),
        age_days.alias("order_age_days"),
        (F.col("status") == "shipped").alias("is_shipped"),
        F.when(F.col("total_invoice") >= 100000, "High")
        .when(F.col("total_invoice") >= 10000, "Medium")
        .otherwise("Low").alias("order_value_tier"),
        F.when(F.col("status") == "cancelled", "Canceled")
        .when(ship_days <= 3, "Excellent")
        .when(ship_days <= 7, "Good")
        .otherwise("Slow").alias("delivery_performance"),
        F.when(F.col("store_region_clean") == F.col("wh_region"), "Same Region")
        .otherwise("Cross Region").alias("fulfillment_region_match"),
        ((F.col("status") != "delivered") & (age_days > 7)).alias("is_backlog"),
        (F.col("product_name_clean").isNull() | F.col("store_name_clean").isNull()
         | F.col("warehouse_name_clean").isNull()).alias("dq_missing_dim"),
        (F.col("total_invoice") < 0).alias("dq_negative_amount"),
        (~F.col("date_logic_valid")).alias("dq_invalid_dates"),
    )


def run_gold(spark: SparkSession, warehouse: str) -> dict[str, int]:
    orders = read_table(spark, warehouse, "silver", "supply_orders")
    products = read_table(spark, warehouse, "silver", "products")
    suppliers = read_table(spark, warehouse, "silver", "suppliers")
    warehouses_t = read_table(spark, warehouse, "silver", "warehouses")
    stores = read_table(spark, warehouse, "silver", "retail_stores")

    marts = {
        "monthly_sales_performance": build_monthly_sales(orders, stores, products),
        "inventory_health_metrics": build_inventory_health(
            read_table(spark, warehouse, "silver", "inventory"), warehouses_t, products),
        "supplier_performance_monthly": build_supplier_performance(orders, products, suppliers),
        "supply_chain_dashboard": build_dashboard(orders, products, suppliers, warehouses_t, stores),
    }
    # four independent marts: written concurrently (the scheduler
    # overlaps their stages), counts ride the write actions
    rec = StageRecorder(os.path.join(warehouse, "gold"))

    def _write(name: str) -> tuple[int, int, None]:
        df, partition_by = marts[name], None
        if name == "supply_chain_dashboard":
            # canonical dynamic-partition write: one shuffle on the
            # partition key first, else every upstream task writes one
            # file into every month directory (tasks x months small
            # files — 384 measured vs 48 — and the committer pays per
            # file; at cluster scale that's the classic
            # dynamic-partition small-file explosion). AQE coalesces
            # the month shuffle to the real output width.
            df, partition_by = df.repartition("order_year_month"), ["order_year_month"]
        n = write_counted(df, os.path.join(rec.out_dir, name), partition_by)
        return -1, n, None

    rec.fan_out(list(marts), _write)
    counts = {r.stage: r.rows_out for r in rec.results}

    meta = tiny_df(
        spark,
        [(k, v, "silver") for k, v in counts.items()],
        "table_name string, row_count long, source_layer string",
    ).withColumn("built_at", F.current_timestamp())
    meta.write.mode("overwrite").parquet(os.path.join(warehouse, "gold", "table_metadata"))
    return counts


# ---------------------------------------------------------------------------
# Legacy gold views (reference bronze/database_setup.py:206-257, A7):
# the pre-mart aggregate views kept for surface parity.
# ---------------------------------------------------------------------------

def build_inventory_summary(inventory: DataFrame, warehouses: DataFrame,
                            products: DataFrame) -> DataFrame:
    """inventory_summary view: per-warehouse totals with value-at-cost
    (`SUM(qty * COALESCE(cost, 0))`, database_setup.py:206-221)."""
    j = (
        inventory
        .join(F.broadcast(warehouses.select("warehouse_id", "warehouse_name_clean")),
              "warehouse_id", "inner")
        .join(F.broadcast(products.select("product_id", "unit_cost_clean")),
              "product_id", "left")
    )
    return (
        j.groupBy("warehouse_id", F.col("warehouse_name_clean").alias("warehouse_name"))
        .agg(
            F.countDistinct("product_id").alias("product_count"),
            F.sum("quantity_on_hand").alias("total_quantity"),
            F.round(F.sum(F.col("quantity_on_hand")
                          * F.coalesce("unit_cost_clean", F.lit(0.0))), 2)
            .alias("inventory_value_at_cost"),
        )
    )


def build_supply_order_metrics(orders: DataFrame) -> DataFrame:
    """supply_order_metrics view: per-status order/unit/revenue rollup
    (database_setup.py:225-240)."""
    return (
        orders.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            F.sum("quantity").alias("total_units"),
            F.round(F.sum("total_invoice"), 2).alias("total_invoice_amount"),
            F.round(F.avg("total_invoice"), 2).alias("avg_invoice_amount"),
        )
    )


def build_retail_store_performance(orders: DataFrame, stores: DataFrame) -> DataFrame:
    """retail_store_performance view: active stores only, left-joined to
    their orders, NULLS LAST ordering applied at read (database_setup.py:
    244-257 incl. the CAST join J5 and `store_status = 'active'` filter)."""
    active = stores.filter(F.col("store_status_clean") == "active").select(
        "retail_store_id", "store_name_clean", F.col("region_clean").alias("store_region"))
    j = active.join(
        orders.select("retail_store_id", "supply_order_id", "total_invoice"),
        "retail_store_id", "left")
    return (
        j.groupBy("retail_store_id", F.col("store_name_clean").alias("store_name"),
                  "store_region")
        .agg(
            F.countDistinct("supply_order_id").alias("order_count"),
            F.round(F.sum("total_invoice"), 2).alias("total_revenue"),
        )
        .orderBy(F.col("total_revenue").desc_nulls_last())
    )
