"""End-to-end medallion pipeline test on the dirty fixture data:
bronze -> silver (clean/reject/audit) -> gold marts -> the reference's
12 DQ checks (SURVEY §5) + cross-layer reconciliation."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from medallion_data_pipeline_spark._util import read_table
from medallion_data_pipeline_spark.plans import bronze, fixtures, gold, quality, silver


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    bronze.write_bronze(fixtures.generate_bronze(spark, n_orders=2000), wh)
    silver.run_silver(spark, wh, run_id="silver_test")
    gold.run_gold(spark, wh)
    yield wh
    shutil.rmtree(wh, ignore_errors=True)


def test_silver_rejects_are_audited(spark, warehouse):
    rejected = read_table(spark, warehouse, "audit", "rejected_rows")
    assert rejected.count() > 0
    reasons = {r.reason for r in rejected.select("reason").distinct().collect()}
    assert "invalid_quantity" in reasons or "invalid_order_date" in reasons
    # payload is valid JSON of the raw row
    sample = rejected.select(F.get_json_object("payload", "$.supply_order_id").alias("k")) \
        .filter(F.col("k").isNotNull())
    assert sample.count() > 0
    # run_id threaded through (reference silver_builder.py:293)
    assert {r.run_id for r in rejected.select("run_id").distinct().collect()} == {"silver_test"}


def test_etl_log_counts_reconcile(spark, warehouse):
    log = read_table(spark, warehouse, "audit", "etl_log")
    for row in log.collect():
        assert row.rows_in == row.rows_out + row.rows_rejected
        assert row.rows_out > 0


def test_silver_cleaning_applied(spark, warehouse):
    orders = read_table(spark, warehouse, "silver", "supply_orders")
    dtypes = dict(orders.dtypes)
    assert dtypes["quantity"] == "bigint"
    assert dtypes["order_date"] == "date"
    assert dtypes["is_calculation_correct"] == "boolean"
    # statuses fully canonicalized
    statuses = {r.status for r in orders.select("status").distinct().collect()}
    assert statuses <= {"pending", "shipped", "delivered", "cancelled", "unknown"}
    # no rejected rows leaked
    assert orders.filter(F.col("quantity").isNull() | F.col("order_date").isNull()).count() == 0
    products = read_table(spark, warehouse, "silver", "products")
    cats = {r.main_category for r in products.select("main_category").distinct().collect()}
    assert "Automotive Parts" in cats        # typo map canonicalized
    assert not any("autmootive" in c.lower() for c in cats)


def test_gold_marts_nonempty_and_typed(spark, warehouse):
    ms = read_table(spark, warehouse, "gold", "monthly_sales_performance")
    assert ms.count() > 0
    dash = read_table(spark, warehouse, "gold", "supply_chain_dashboard")
    assert dash.count() > 0
    # partitioned output: order_year_month is a partition column
    assert "order_year_month" in dash.columns
    meta = read_table(spark, warehouse, "gold", "table_metadata")
    assert meta.count() == 4


def test_all_twelve_gold_dq_checks_pass(spark, warehouse):
    checks = quality.run_quality_checks(spark, warehouse)
    rows = checks.collect()
    assert len(rows) == 12
    failed = [(r.check_name, r.violations) for r in rows if not r.passed]
    assert failed == []


def test_consistent_calculations_bound_follows_rounding(spark):
    """avg_revenue_per_unit is rounded to 4 dp, so a correct group of
    100K units is off by up to 5 after multiplying back: it must pass,
    while planted inconsistent rows (large and small) are still
    flagged by the same single-pass predicate."""
    chk = next(c for c in quality.gold_checks()
               if c.name == "consistent_calculations")
    rows = [  # (id, total_quantity_sold, total_revenue, avg_revenue_per_unit)
        ("large_ok", 100_000, 1_234_567.89, round(1_234_567.89 / 100_000, 4)),
        ("small_ok", 3, 10.0, round(10.0 / 3, 4)),
        ("large_bad", 100_000, 1_234_567.89, 12.40),
        ("small_bad", 10, 100.0, 10.5),
    ]
    df = spark.createDataFrame(
        rows, "id string, total_quantity_sold long, total_revenue double, "
              "avg_revenue_per_unit double")
    flagged = sorted(r.id for r in df.filter(chk.predicate).collect())
    assert flagged == ["large_bad", "small_bad"]


def _assert_reconciles_exactly(spark, wh):
    """Silver's kept orders and the mart agree to the cent and unit; the
    dangling-key orders the mart drops are reported, not hidden under
    the tolerance."""
    rows = quality.reconcile_silver_gold(spark, wh).collect()
    assert {r.measure for r in rows} == {"revenue", "units"}
    for r in rows:
        assert (r.pct_diff, r.passed) == (0, True), r
        assert r.silver_value == r.gold_value > 0, r
        assert r.dropped_value > 0, r


def test_silver_gold_reconciliation_within_tolerance(spark, warehouse):
    _assert_reconciles_exactly(spark, warehouse)


@pytest.mark.parametrize("seed", [1, 103])
def test_reconciliation_exact_on_fixture_seeds(spark, tmp_path, seed):
    wh = str(tmp_path / "wh")
    bronze.write_bronze(fixtures.generate_bronze(spark, n_orders=2000, seed=seed), wh)
    silver.run_silver(spark, wh, run_id="recon")
    gold.run_gold(spark, wh)
    _assert_reconciles_exactly(spark, wh)


def test_legacy_gold_views(spark, warehouse):
    inv = read_table(spark, warehouse, "silver", "inventory")
    wh = read_table(spark, warehouse, "silver", "warehouses")
    prod = read_table(spark, warehouse, "silver", "products")
    orders = read_table(spark, warehouse, "silver", "supply_orders")
    stores = read_table(spark, warehouse, "silver", "retail_stores")

    summary = gold.build_inventory_summary(inv, wh, prod)
    assert summary.count() > 0
    assert summary.filter(F.col("inventory_value_at_cost") < 0).count() == 0

    metrics = gold.build_supply_order_metrics(orders).collect()
    assert sum(r.order_count for r in metrics) == orders.count()

    perf = gold.build_retail_store_performance(orders, stores)
    rows = perf.collect()
    assert len(rows) > 0
    # only active stores appear; stores without orders survive (left join)
    assert all(r.order_count >= 0 for r in rows)


def test_query_runner_sample_queries(spark, warehouse):
    from medallion_data_pipeline_spark.api import SAMPLE_QUERIES, MedallionEngine

    eng = MedallionEngine(spark, warehouse)
    eng.register_views()
    for name, sql in SAMPLE_QUERIES.items():
        df, secs, preview = eng.sql(sql)
        assert df.count() > 0, name
        assert len(preview) > 0, name


def test_silver_rerun_is_idempotent(spark, warehouse):
    def audit_counts():
        return {t: read_table(spark, warehouse, "audit", t).count()
                for t in ("rejected_rows", "etl_log", "dq_results")}

    before = {t: read_table(spark, warehouse, "silver", t).count()
              for t in silver.SILVER_TABLES}
    silver.run_silver(spark, warehouse, run_id="silver_test_2")
    after = {t: read_table(spark, warehouse, "silver", t).count()
             for t in silver.SILVER_TABLES}
    assert before == after   # overwrite semantics: same input -> same output
    # a re-run under the same run id replaces that run's audit rows
    audit = audit_counts()
    silver.run_silver(spark, warehouse, run_id="silver_test_2")
    assert audit_counts() == audit


def test_bronze_json_ingest(spark, tmp_path):
    import json as _json

    from medallion_data_pipeline_spark.plans import bronze as B

    jd = tmp_path / "json_land"
    jd.mkdir()
    rows = [
        {"supplier_id": 1, "supplier_name": "Acme", "contact_email": "a@x.com",
         "phone_number": "555-0001"},
        {"supplier_id": 1, "supplier_name": "Acme v2", "contact_email": "a2@x.com",
         "phone_number": "555-0001"},  # pk dup: one survives
        {"supplier_id": 2, "supplier_name": "Beta", "contact_email": "b@x.com",
         "phone_number": "555-0002"},
    ]
    with open(jd / "suppliers.jsonl", "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")
        f.write("{this is not json\n")  # must not fail the load

    wh = str(tmp_path / "wh_json")
    counts = B.ingest_json_dir(spark, str(jd), wh)
    assert counts["suppliers"] == 3  # 2 valid pks + 1 corrupt-record row
    landed = read_table(spark, wh, "bronze", "suppliers")
    assert "_corrupt_record" in landed.columns
    assert landed.filter(F.col("_corrupt_record").isNotNull()).count() == 1
    assert {r.supplier_id for r in landed.select("supplier_id").collect()} == {"1", "2", None}


def test_silver_empty_table_yields_zero_counts(spark, tmp_path):
    """A zero-row bronze table must flow through silver as honest zero
    counts (observe sums NULL over empty input; the stats normalizer
    maps that to 0), not a crash or a null StageResult."""
    wh = str(tmp_path / "wh_empty")
    dfs = fixtures.generate_bronze(spark, n_orders=50)
    dfs["suppliers"] = dfs["suppliers"].filter(F.lit(False))
    bronze.write_bronze(dfs, wh)
    results = {r.stage: r for r in silver.run_silver(spark, wh, run_id="e")}
    sup = results["suppliers"]
    assert (sup.rows_in, sup.rows_out) == (0, 0)
    assert read_table(spark, wh, "silver", "suppliers").count() == 0


def test_eda_report_generates_all_sections(spark, tmp_path):
    """tools/eda_report.py (the Spark-native twin of the reference's
    eda/supply_chain_eda.py) must produce the markdown report with all
    seven analysis sections, a non-empty insights list, and the CSV
    exports, against a freshly built warehouse."""
    import subprocess
    import sys

    from medallion_data_pipeline_spark.plans import (bronze, fixtures,
                                                     gold, silver)

    wh = str(tmp_path / "wh")
    bronze.write_bronze(fixtures.generate_bronze(spark, n_orders=2000), wh)
    silver.run_silver(spark, wh, run_id="eda-test")
    gold.run_gold(spark, wh)

    out = str(tmp_path / "eda_out")
    r = subprocess.run(
        [sys.executable, "tools/eda_report.py", "--warehouse", wh,
         "--out", out],
        capture_output=True, text=True, timeout=600,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    assert r.returncode == 0, r.stderr[-2000:]

    report = open(os.path.join(out, "eda_insights_report.md")).read()
    for section in ("## Key insights", "## 1. Data quality",
                    "## 2. Supply chain overview",
                    "## 3. Financial analysis", "## 4. Inventory analysis",
                    "## 5. Correlations", "## 6. Statistical summary",
                    "## 7. Cross-layer reconciliation"):
        assert section in report, section
    assert "1. " in report.split("## Key insights")[1]
    csvs = os.listdir(os.path.join(out, "csv"))
    assert len(csvs) >= 10


def test_metrics_capture_counts_exactly_the_window(spark):
    """metrics.capture: a fixed shuffle job gives identical count
    columns on every run; a job submitted from a ThreadPoolExecutor
    thread inside the window is counted like one from the caller's
    thread; work done before the window is not counted."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    from medallion_data_pipeline_spark.metrics import capture

    def job():
        (spark.range(0, 20_000, 1, 4)
         .groupBy((F.col("id") % 7).alias("k")).count()
         .write.format("noop").mode("overwrite").save())

    def counts(window):
        return {k: v for k, v in window.items() if k not in ("run_s", "cpu_s")}

    runs = []
    for _ in range(2):
        with capture(spark) as c:
            job()
        runs.append(counts(c))
    assert runs[0] == runs[1]
    for col in ("jobs", "stages", "tasks", "input_records",
                "shuffle_read_bytes", "shuffle_read_records",
                "shuffle_write_bytes", "shuffle_write_records"):
        assert runs[0][col] > 0, col
    assert runs[0]["shuffle_write_records"] == \
        runs[0]["shuffle_read_records"] == 4 * 7

    job()  # before the window: must not be counted
    with capture(spark) as threaded:
        with ThreadPoolExecutor(max_workers=2) as pool:
            pool.submit(job).result()
    assert counts(threaded) == runs[0]

    with capture(spark) as empty:
        pass
    assert set(counts(empty).values()) == {0}


def test_metrics_window_raises_once_its_start_is_evicted():
    """The status store evicts its oldest entries: a window whose first
    stage id is gone must raise instead of under-counting, while a
    window whose start is still held (or that ran nothing) reads."""
    import pytest

    from medallion_data_pipeline_spark.metrics import _since

    class Listing:  # a status-store listing, newest id first
        def __init__(self, *ids):
            self.items = [type("Stage", (), {"stageId": lambda s, i=i: i})()
                          for i in ids]

        def iterator(self):
            return self

        def hasNext(self):
            return bool(self.items)

        def next(self):
            return self.items.pop(0)

    def ids(listing, lo):
        return [x.stageId() for x in _since(listing, "stageId", lo)]

    assert ids(Listing(7, 6, 5, 4), 5) == [7, 6, 5]
    assert ids(Listing(7, 6, 5), 5) == [7, 6, 5]
    assert ids(Listing(7, 6), 8) == []
    assert ids(Listing(), 0) == []
    with pytest.raises(RuntimeError, match="evicted"):
        ids(Listing(7, 6), 5)
