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

    The flagged frame needs a lineage barrier: the valid/rejected
    filters reference ``_reject_reason``, and PushDownPredicates still
    inlines it through the cleaners' staged projections
    (functions/cleaning.py), so without a barrier each filter condition
    re-evaluates the cleaning steps that the projections compute once
    (the products tree then also exceeds janino's 64 KB method limit
    and falls back to interpreted evaluation: 2.9-3.8 s measured for
    the 50k supply_orders chain). Of the two barriers,
    ``localCheckpoint(eager=False)`` beats ``persist()`` here (1.3-1.4
    s vs 1.6-2.2 s steady-state and no first-call CacheManager spike,
    5.3 s observed): blocks materialize on the write action itself,
    and the rejected pass reads them back without the cache-build
    overhead. Costs the usual localCheckpoint trade: blocks free on GC
    (no explicit unpersist) and executor loss fails the job instead of
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
    """Build a cleaner's (layers, output columns, reject reason) ONCE
    per process and reapply forever. The layers are pure UNRESOLVED
    columns (F.col by name, no DataFrame reference), so selecting the
    same Column objects onto a new DataFrame is standard Spark —
    analysis resolves them per-plan. Building them is hundreds of py4j
    round-trips (all six tables: 0.25-0.38 s on a warm 4-core driver),
    and because py4j calls serialize on the driver GIL, the thread-pool
    overlap in run_silver cannot hide plan construction the way it
    hides job latency: a warm run_silver over 50K orders took a median
    1.44 s rebuilding them and 1.20 s reusing them (6 alternating
    pairs). run_silver calls the cleaners from ``StageRecorder.fan_out``'s
    pool threads, so the first build is double-checked-locked: without
    the lock two threads could race past the empty check and both pay
    the py4j build (defeating the cache on the run that matters most)
    — and the pattern would silently misbehave for any future
    non-idempotent builder."""
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


def _cleaned(df: DataFrame, plan) -> tuple[DataFrame, object]:
    """``df`` with a table's cleaned columns appended after its own."""
    layers, outputs, reason = plan()
    return C.apply_layers(df, layers, keep=[*df.columns, *outputs]), reason


@_expr_cache
def _supplier_plan():
    name = F.col("supplier_name_clean")
    layers = [
        *C.stack(C.text_layers("supplier_name", "supplier_name_clean"),
                 C.email_layers("contact_email", "contact_email_clean"),
                 C.phone_layers("phone_number", "phone_number_clean")),
        [("quality_score", C.quality_score(
            [name.isNull() | (name != F.col("supplier_name")),
             F.col("contact_email_clean").isNull(),
             F.col("phone_number_clean").isNull()], 3))],
    ]
    outputs = ["supplier_name_clean", "contact_email_clean",
               "phone_number_clean", "quality_score"]
    # reject: missing essentials (reference silver_builder.py:566-576)
    return layers, outputs, F.when(name.isNull(), "missing_supplier_name")


def clean_suppliers(df: DataFrame) -> tuple[DataFrame, object]:
    return _cleaned(df, _supplier_plan)


@_expr_cache
def _product_plan():
    cost, price = F.col("unit_cost_clean"), F.col("selling_price_clean")
    layers = [
        *C.stack(C.category_layers("product_category"),
                 C.text_layers("product_name", "product_name_clean"),
                 C.numeric_layers("unit_cost", "unit_cost_clean"),
                 C.numeric_layers("selling_price", "selling_price_clean"),
                 C.status_layers("status", "status_clean", C.PRODUCT_STATUS_MAP)),
        # price_margin: 0 when cost <= 0 (reference silver_builder.py:688)
        [("price_margin", F.when(cost > 0, F.round(price - cost, 4))
          .otherwise(F.lit(0.0))),
         ("quality_score", C.quality_score(
             [F.col("product_name_clean") != F.col("product_name"),
              cost.isNull(), price.isNull()], 3))],
    ]
    outputs = ["main_category", "sub_category", "product_name_clean",
               "unit_cost_clean", "selling_price_clean", "status_clean",
               "price_margin", "quality_score"]
    reason = (
        F.when(F.col("product_name_clean").isNull(), "missing_product_name")
        .when(cost.isNull(), "invalid_unit_cost")
        .when(price.isNull(), "invalid_selling_price")
    )
    return layers, outputs, reason


def clean_products(df: DataFrame) -> tuple[DataFrame, object]:
    return _cleaned(df, _product_plan)


@_expr_cache
def _warehouse_plan():
    layers = C.stack(
        C.text_layers("warehouse_name", "warehouse_name_clean"),
        C.text_layers("city", "city_clean"),
        C.text_layers("region", "region_clean"),
        C.integer_layers("storage_capacity", "storage_capacity_clean"))
    outputs = ["warehouse_name_clean", "city_clean", "region_clean",
               "storage_capacity_clean"]
    reason = F.when(F.col("warehouse_name_clean").isNull(), "missing_warehouse_name")
    return layers, outputs, reason


def clean_warehouses(df: DataFrame) -> tuple[DataFrame, object]:
    return _cleaned(df, _warehouse_plan)


@_expr_cache
def _retail_store_plan():
    layers = C.stack(
        C.text_layers("store_name", "store_name_clean"),
        C.text_layers("city", "city_clean"),
        C.text_layers("region", "region_clean"),
        C.text_layers("store_type", "store_type_clean"),
        C.status_layers("store_status", "store_status_clean", C.STORE_STATUS_MAP))
    outputs = ["store_name_clean", "city_clean", "region_clean",
               "store_type_clean", "store_status_clean"]
    reason = F.when(F.col("store_name_clean").isNull(), "missing_store_name")
    return layers, outputs, reason


def clean_retail_stores(df: DataFrame) -> tuple[DataFrame, object]:
    return _cleaned(df, _retail_store_plan)


@_expr_cache
def _inventory_plan():
    layers = C.date_layers("last_stocked_date", "last_stocked_date_clean")
    # negative quantity -> reject (reference silver_builder.py:1052-1063;
    # bronze kept the sign, FIXTURES.md §4)
    reason = F.when(F.col("quantity_on_hand") < 0, "negative_quantity")
    return layers, ["last_stocked_date_clean"], reason


def clean_inventory(df: DataFrame) -> tuple[DataFrame, object]:
    return _cleaned(df, _inventory_plan)


def _calc_ok(invoice, qty, price):
    """Reference is_calculation_correct (silver_builder.py:964-971):
    True unless a truthy invoice differs from qty*price by > 0.01
    (NULL/0 invoice short-circuits True; NULL qty/price count as 0)."""
    expected = F.coalesce(qty, F.lit(0)) * F.coalesce(price, F.lit(0.0))
    return F.when(invoice.isNull() | (invoice == 0), F.lit(True)) \
        .otherwise(F.abs(invoice - expected) <= 0.01)


@_expr_cache
def _supply_order_plan():
    """The cleaned columns replace their raw namesakes, so they are
    built as ``_<name>`` and renamed by the final projection."""
    ints = ("product_id", "warehouse_id", "retail_store_id", "quantity")
    nums = ("price", "total_invoice")
    dates = ("order_date", "shipped_date", "delivered_date")
    qty, price, invoice, od, sd, dd = (
        F.col(f"_{c}") for c in ("quantity", *nums, *dates))
    layers = [
        *C.stack(*(C.integer_layers(c, f"_{c}") for c in ints),
                 *(C.numeric_layers(c, f"_{c}") for c in nums),
                 *(C.date_layers(c, f"_{c}") for c in dates),
                 C.status_layers("status", "_status", C.ORDER_STATUS_MAP)),
        # validation flags (reference silver_builder.py:964-981, 402-403):
        # the calc check only fires when total_invoice is truthy (NULL or
        # 0 keeps the flag True — the reference's falsy guard), and date
        # logic is invalid when shipped < order OR delivered < shipped.
        [("is_calculation_correct", _calc_ok(invoice, qty, price)),
         ("date_logic_valid", (sd.isNull() | od.isNull() | (sd >= od))
          & (dd.isNull() | sd.isNull() | (dd >= sd)))],
        [("quality_score", C.quality_score(
            [qty.isNull(), price.isNull(), od.isNull(),
             ~F.col("is_calculation_correct")], 4))],
    ]
    keep = ["supply_order_id",
            *(F.col(f"_{c}").alias(c) for c in (*ints, *nums, *dates, "status")),
            "is_calculation_correct", "date_logic_valid", "quality_score"]
    reason = (
        F.when(F.col("quantity").isNull(), "invalid_quantity")
        .when(F.col("price").isNull(), "invalid_price")
        .when(F.col("order_date").isNull(), "invalid_order_date")
    )
    return layers, keep, reason


def clean_supply_orders(df: DataFrame) -> tuple[DataFrame, object]:
    layers, keep, reason = _supply_order_plan()
    return C.apply_layers(df, layers, keep=keep), reason


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
    # the rejected union reads each table's checkpointed flagged rows
    # (see _split_and_write)
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
