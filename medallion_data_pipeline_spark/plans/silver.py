"""Silver layer: clean, validate, reject, audit.

The reference's SilverBuilder (silver/silver_builder.py:286-1166)
iterates every row in Python, round-tripping the Postgres socket per
row. Here each table is ONE declarative DataFrame plan: cleaning
expressions (functions/cleaning.py) -> validity predicate -> two
branches (valid -> silver table, invalid -> audit.rejected_rows with
first-failing reason + JSON payload) -> per-table audit rows. Catalyst
executes a single scan per table; the rejection split is a shared scan
with two filtered sinks, not two passes.

Run-id threading follows the reference (`silver_{ts}`,
silver_builder.py:293); audit tables mirror
audit.rejected_rows/dq_results/etl_log (silver_builder.py:456-516).
"""

from __future__ import annotations

import os
import time
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions import cleaning as C
from .bronze import BRONZE_TABLES
from .._util import StageRecorder, StageResult, read_table, spread, tiny_df

#: tables whose cleaning projections are CPU-heavy enough (regex
#: chains per column) to justify re-spreading a degenerate
#: (small-file-packed) scan. inventory and the row-count dims stay
#: single-task: their cleaning is one cheap field, and every extra
#: output file taxes the marts that re-scan silver.
_SPREAD_TABLES = {"products", "supply_orders"}

SILVER_TABLES = BRONZE_TABLES


def _split_and_write(raw: DataFrame, cleaned: DataFrame, reject_reason, name: str,
                     warehouse: str, run_id: str):
    """Process one table: write valid rows to silver/<name>, fold row
    counts + every DQ null-count into ONE aggregation pass riding the
    write, and return the rejected-rows plan (JSON payload + reason,
    reference silver_builder.py:464-469) for the caller's batched
    audit write.

    The flagged frame needs a lineage barrier — the valid/rejected
    filters reference ``_reject_reason``, and without a barrier
    predicate pushdown re-substitutes the full cleaning when-chains
    into the filter condition (the products tree then exceeds janino's
    64 KB method limit and falls back to interpreted eval, recomputing
    every regex inside the condition: measured 2.9-3.8 s for the 50k
    supply_orders chain). Of the two barriers, ``localCheckpoint
    (eager=False)`` beats ``persist()`` here (1.3-1.4 s vs 1.6-2.2 s
    steady-state and no first-call CacheManager spike — 5.3 s
    observed): blocks materialize on the write action itself, and the
    rejected pass reads them back without the cache-build overhead.
    Costs the usual localCheckpoint trade: blocks free on GC (no
    explicit unpersist) and executor loss fails the job instead of
    recomputing — acceptable for a batch stage that reruns
    idempotently.

    Returns (rows_in, rows_out, (dq_check_rows, rejected_df)), the
    shape ``StageRecorder.fan_out`` records.
    """
    flagged = cleaned.withColumn("_reject_reason", reject_reason) \
        .localCheckpoint(eager=False)

    # total rows, rejected rows, and all dq null counts ride the WRITE
    # action as CollectMetrics (observe) on the pre-filter node — every
    # row flows through it before the validity filter, so the metrics
    # cover the full table and the separate stats job (reference
    # silver_builder.py:477-495 runs one query per metric; an earlier
    # version here ran one agg job per table) disappears: one action
    # per table, ~0.15-0.2 s of scheduler+scan fixed cost each on the
    # 50K bench, and at cluster scale one fewer pass over the cache
    check_cols = [c for c in cleaned.columns if c.endswith("_clean") or c == "quality_score"]
    obs = Observation()
    observed = flagged.observe(
        obs,
        F.count(F.lit(1)).alias("_rows_in"),
        F.sum(F.when(F.col("_reject_reason").isNotNull(), 1).otherwise(0))
        .cast("long").alias("_rejected"),
        *[F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long").alias(c)
          for c in check_cols],
    )
    valid = observed.filter(F.col("_reject_reason").isNull()).drop("_reject_reason")
    valid.write.mode("overwrite").parquet(os.path.join(warehouse, "silver", name))
    # sums over an EMPTY table observe as NULL (count observes 0) —
    # normalize so a zero-row source lands as honest zero counts
    row = {k: (v if v is not None else 0) for k, v in obs.get.items()}
    checks = [(name, f"{c}_not_null", row[c] == 0, row[c], run_id) for c in check_cols]

    rejected = (
        flagged.filter(F.col("_reject_reason").isNotNull())
        .select(
            F.lit(name).alias("table_name"),
            F.col("_reject_reason").alias("reason"),
            F.to_json(F.struct(*raw.columns)).alias("payload"),
            F.lit(run_id).alias("run_id"),
        )
    )
    return row["_rows_in"], row["_rows_in"] - row["_rejected"], (checks, rejected)


def _expr_cache(build):
    """Build a cleaner's (extra columns, reject reason) ONCE per
    process and reapply forever. The trees are pure UNRESOLVED columns
    (F.col by name, no DataFrame reference), so selecting the same
    Column objects onto a new DataFrame is standard Spark — analysis
    resolves them per-plan. Building them is NOT cheap: each clean_*
    chain is hundreds of py4j round-trips (the 7-format date
    precedence alone), the six cleaners cost ~3.9 s summed per
    run_silver call, and because py4j calls serialize on the driver
    GIL, the thread-pool overlap in run_silver cannot hide plan
    construction the way it hides job latency — profiled as the
    dominant cost of the 50k silver bench entry (docs/PERFORMANCE.md
    #37). On a long-lived cluster driver this is the difference
    between paying tree construction per micro-batch/run and paying
    it once. run_silver calls the cleaners from
    ``StageRecorder.fan_out``'s pool threads, so the first build is
    double-checked-locked: without the lock two threads could race
    past the empty check and both pay the py4j build (defeating the cache on the run that
    matters most) — and the pattern would silently misbehave for any
    future non-idempotent builder."""
    import threading

    box: list = []
    lock = threading.Lock()

    def get():
        if not box:
            with lock:
                if not box:
                    box.append(build())
        return box[0]
    return get


@_expr_cache
def _supplier_exprs():
    name = C.clean_text_field("supplier_name")
    cols = [
        name.alias("supplier_name_clean"),
        C.clean_email("contact_email").alias("contact_email_clean"),
        C.clean_phone("phone_number").alias("phone_number_clean"),
        C.quality_score(
            [name.isNull() | (name != F.col("supplier_name")),
             C.clean_email("contact_email").isNull(),
             C.clean_phone("phone_number").isNull()], 3).alias("quality_score"),
    ]
    # reject: missing essentials (reference silver_builder.py:566-576)
    reason = F.when(F.col("supplier_name_clean").isNull(), "missing_supplier_name")
    return cols, reason


def clean_suppliers(df: DataFrame) -> tuple[DataFrame, object]:
    cols, reason = _supplier_exprs()
    return df.select("*", *cols), reason


@_expr_cache
def _product_exprs():
    name = C.clean_text_field("product_name")
    cost = C.clean_numeric_field("unit_cost")
    price = C.clean_numeric_field("selling_price")
    cols = [
        name.alias("product_name_clean"),
        cost.alias("unit_cost_clean"),
        price.alias("selling_price_clean"),
        C.clean_status_field("status", C.PRODUCT_STATUS_MAP).alias("status_clean"),
        # price_margin: 0 when cost <= 0 (reference silver_builder.py:688)
        F.when(cost > 0, F.round(price - cost, 4)).otherwise(F.lit(0.0)).alias("price_margin"),
        C.quality_score([name != F.col("product_name"), cost.isNull(), price.isNull()], 3)
        .alias("quality_score"),
    ]
    reason = (
        F.when(F.col("product_name_clean").isNull(), "missing_product_name")
        .when(F.col("unit_cost_clean").isNull(), "invalid_unit_cost")
        .when(F.col("selling_price_clean").isNull(), "invalid_selling_price")
    )
    return cols, reason


def clean_products(df: DataFrame) -> tuple[DataFrame, object]:
    staged = C.with_parsed_category(df, "product_category", "main_category", "sub_category")
    cols, reason = _product_exprs()
    return staged.select("*", *cols), reason


@_expr_cache
def _warehouse_exprs():
    cols = [
        C.clean_text_field("warehouse_name").alias("warehouse_name_clean"),
        C.clean_text_field("city").alias("city_clean"),
        C.clean_text_field("region").alias("region_clean"),
        C.clean_integer_field("storage_capacity").alias("storage_capacity_clean"),
    ]
    reason = F.when(F.col("warehouse_name_clean").isNull(), "missing_warehouse_name")
    return cols, reason


def clean_warehouses(df: DataFrame) -> tuple[DataFrame, object]:
    cols, reason = _warehouse_exprs()
    return df.select("*", *cols), reason


@_expr_cache
def _retail_store_exprs():
    cols = [
        C.clean_text_field("store_name").alias("store_name_clean"),
        C.clean_text_field("city").alias("city_clean"),
        C.clean_text_field("region").alias("region_clean"),
        C.clean_text_field("store_type").alias("store_type_clean"),
        C.clean_status_field("store_status", C.STORE_STATUS_MAP).alias("store_status_clean"),
    ]
    reason = F.when(F.col("store_name_clean").isNull(), "missing_store_name")
    return cols, reason


def clean_retail_stores(df: DataFrame) -> tuple[DataFrame, object]:
    cols, reason = _retail_store_exprs()
    return df.select("*", *cols), reason


@_expr_cache
def _inventory_exprs():
    cols = [
        C.clean_date_field("last_stocked_date").alias("last_stocked_date_clean"),
    ]
    # negative quantity -> reject (reference silver_builder.py:1052-1063;
    # bronze kept the sign, FIXTURES.md §4)
    reason = F.when(F.col("quantity_on_hand") < 0, "negative_quantity")
    return cols, reason


def clean_inventory(df: DataFrame) -> tuple[DataFrame, object]:
    cols, reason = _inventory_exprs()
    return df.select("*", *cols), reason


def _calc_ok(invoice, qty, price):
    """Reference is_calculation_correct (silver_builder.py:964-971):
    True unless a truthy invoice differs from qty*price by > 0.01
    (NULL/0 invoice short-circuits True; NULL qty/price count as 0)."""
    expected = F.coalesce(qty, F.lit(0)) * F.coalesce(price, F.lit(0.0))
    return F.when(invoice.isNull() | (invoice == 0), F.lit(True)) \
        .otherwise(F.abs(invoice - expected) <= 0.01)


@_expr_cache
def _supply_order_exprs():
    qty = C.clean_integer_field("quantity")
    price = C.clean_numeric_field("price")
    invoice = C.clean_numeric_field("total_invoice")
    od = C.clean_date_field("order_date")
    sd = C.clean_date_field("shipped_date")
    dd = C.clean_date_field("delivered_date")
    cols = [
        "supply_order_id",
        C.clean_integer_field("product_id").alias("product_id"),
        C.clean_integer_field("warehouse_id").alias("warehouse_id"),
        C.clean_integer_field("retail_store_id").alias("retail_store_id"),
        qty.alias("quantity"),
        price.alias("price"),
        invoice.alias("total_invoice"),
        od.alias("order_date"),
        sd.alias("shipped_date"),
        dd.alias("delivered_date"),
        C.clean_status_field("status", C.ORDER_STATUS_MAP).alias("status"),
        # validation flags (reference silver_builder.py:964-981, 402-403):
        # the calc check only fires when total_invoice is truthy (NULL or
        # 0 keeps the flag True — the reference's falsy guard), and date
        # logic is invalid when shipped < order OR delivered < shipped.
        _calc_ok(invoice, qty, price).alias("is_calculation_correct"),
        ((sd.isNull() | od.isNull() | (sd >= od))
         & (dd.isNull() | sd.isNull() | (dd >= sd))).alias("date_logic_valid"),
        C.quality_score(
            [qty.isNull(), price.isNull(), od.isNull(),
             ~_calc_ok(invoice, qty, price)], 4).alias("quality_score"),
    ]
    reason = (
        F.when(F.col("quantity").isNull(), "invalid_quantity")
        .when(F.col("price").isNull(), "invalid_price")
        .when(F.col("order_date").isNull(), "invalid_order_date")
    )
    return cols, reason


def clean_supply_orders(df: DataFrame) -> tuple[DataFrame, object]:
    cols, reason = _supply_order_exprs()
    return df.select(*cols), reason


_CLEANERS = {
    "suppliers": clean_suppliers,
    "products": clean_products,
    "warehouses": clean_warehouses,
    "retail_stores": clean_retail_stores,
    "inventory": clean_inventory,
    "supply_orders": clean_supply_orders,
}


def run_silver(spark: SparkSession, warehouse: str,
               run_id: str | None = None) -> list[StageResult]:
    """Clean all six tables (reference order silver_builder.py:1117-1124),
    emitting audit rows per table. Returns one StageResult per table in
    that order; a table's rejected rows are ``rows_in - rows_out``.

    The six table pipelines are independent, so they run CONCURRENTLY
    (``StageRecorder.fan_out``) — the cluster scheduler overlaps their
    stages instead of serializing 6 × (write + stats) fixed job
    latencies (measured ~2x on the 50K-order bench). Rejected rows
    from all tables batch into ONE write (a shared
    FileOutputCommitter staging dir is not safe for concurrent writes,
    and one file per run beats six) alongside the etl_log/dq_results
    batch writes. Each audit sink is partitioned by run_id and
    overwrites only its own run's partition, so a re-run with the same
    run_id (say, after a crash between sinks) replaces that run's
    audit rows instead of appending them twice.
    """
    run_id = run_id or f"silver_{int(time.time())}"
    order = ["suppliers", "warehouses", "retail_stores", "products", "inventory", "supply_orders"]
    rec = StageRecorder(os.path.join(warehouse, "silver"))

    def _process(name: str):
        raw = read_table(spark, warehouse, "bronze", name)
        if name in _SPREAD_TABLES:
            # Spark packs tiny landing files into ONE scan partition
            # (openCostInBytes packing), serializing the regex-heavy
            # cleaning projection onto a single core — profiled at
            # 2.4 s of the 50k bench's supply_orders chain. spread()
            # re-spreads the scan when (and only when) the layout
            # underfills parallelism; at 100 TB the landing files
            # outnumber cores and this is a no-op. The target is
            # deliberately BELOW full parallelism: each cleaning task
            # becomes one silver output file, and downstream marts
            # re-scan these tables several times — 32 tiny files
            # cost gold ~2x (3.8 s vs 1.9 s measured) in per-scan
            # open/footer overhead, while 8-way cleaning already
            # amortizes the regex straggler (2.4 s -> ~0.5 s).
            raw = spread(raw, min_partitions=min(
                8, spark.sparkContext.defaultParallelism))
        cleaned, reason = _CLEANERS[name](raw)
        return _split_and_write(raw, cleaned, reason, name, warehouse, run_id)

    outcomes = rec.fan_out(order, _process)
    checks = [c for table_checks, _ in outcomes for c in table_checks]
    n_rejected = sum(r.rows_in - r.rows_out for r in rec.results)
    # the three audit sinks land in distinct directories, so their
    # jobs overlap safely (the per-DIRECTORY committer constraint
    # that batches all rejected rows into one write still holds);
    # the rejected union recomputes each table's cleaning projection
    # off the bronze scan — cheaper than the persist it replaced
    # (see _split_and_write) and overlapped here anyway
    sinks = {
        "rejected_rows": (n_rejected, reduce(
            DataFrame.unionByName, [rejected for _, rejected in outcomes])),
        "etl_log": (len(rec.results), _etl_log(spark, rec.results, run_id)),
        "dq_results": (len(checks), _dq_results(spark, checks)),
    }

    def _sink(name: str) -> tuple[int, int, None]:
        n, df = sinks[name]
        df.write.mode("overwrite") \
            .option("partitionOverwriteMode", "dynamic") \
            .partitionBy("run_id").parquet(os.path.join(warehouse, "audit", name))
        return n, n, None

    StageRecorder(os.path.join(warehouse, "audit")).fan_out(list(sinks), _sink)
    return rec.results


def _etl_log(spark: SparkSession, results: list[StageResult],
             run_id: str) -> DataFrame:
    """audit.etl_log (reference silver_builder.py:497-516)."""
    rows = [(r.stage, r.rows_in, r.rows_out, r.rows_in - r.rows_out, run_id)
            for r in results]
    return tiny_df(
        spark, rows,
        "table_name string, rows_in long, rows_out long, rows_rejected long, run_id string",
    ).withColumn("logged_at", F.current_timestamp())


def _dq_results(spark: SparkSession, checks: list[tuple]) -> DataFrame:
    return tiny_df(
        spark, checks,
        "table_name string, check_name string, passed boolean, bad_rows long, run_id string",
    ).withColumn("checked_at", F.current_timestamp())
