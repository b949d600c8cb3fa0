"""Table reads run no Spark job: every parquet read of the package goes
through ``_util.read_parquet`` (schema from one footer, read with
pyarrow on the driver), and bronze's CSV ingest names its all-TEXT
schema from the header line. Also pins ``tiny_df``'s worker-free
lineage."""

from __future__ import annotations

import os
import re
import shutil

import pytest

from medallion_data_pipeline_spark._util import read_parquet, read_table, tiny_df
from medallion_data_pipeline_spark.api import MedallionEngine
from medallion_data_pipeline_spark.metrics import capture
from medallion_data_pipeline_spark.plans import bronze, fixtures, gold, silver
from medallion_data_pipeline_spark.sources.testdata import TABLES, load_table

from conftest import SF_SMOKE

PKG = os.path.join(os.path.dirname(__file__), "..", "medallion_data_pipeline_spark")


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("reads_wh"))
    bronze.write_bronze(fixtures.generate_bronze(spark, n_orders=300), wh)
    silver.run_silver(spark, wh, run_id="reads")
    gold.run_gold(spark, wh)
    yield wh
    shutil.rmtree(wh, ignore_errors=True)


def _jobs(spark, fn):
    with capture(spark) as c:
        out = fn()
    return c["jobs"], out


def test_table_reads_run_no_job(spark, warehouse):
    engine = MedallionEngine(spark, warehouse)
    reads = {
        "read_table silver": lambda: read_table(spark, warehouse, "silver", "products"),
        # partitioned by run_id: the partition column comes from the paths
        "read_table audit": lambda: read_table(spark, warehouse, "audit", "rejected_rows"),
        "MedallionEngine.table": lambda: engine.table("gold", "monthly_sales_performance"),
        "load_table": lambda: load_table(spark, SF_SMOKE, "lineitem"),
    }
    for what, read in reads.items():
        jobs, df = _jobs(spark, read)
        assert jobs == 0, what
        assert df.columns, what
    audit = read_table(spark, warehouse, "audit", "rejected_rows")
    assert audit.columns[-1] == "run_id"
    assert {r.run_id for r in audit.select("run_id").distinct().collect()} == {"reads"}


def test_bronze_csv_read_runs_no_job(spark, tmp_path, monkeypatch):
    """The CSV ingest hands the reader a schema named from each header
    line; it equals the schema Spark's header inference gives, rows
    included, and the read runs no job."""
    csv_dir = tmp_path / "landing"
    csv_dir.mkdir()
    (csv_dir / "suppliers.csv").write_text(
        'supplier_id,supplier_name,,Phone,phone\n1,"Acme, Inc",x,555\n2,,y\n')
    monkeypatch.setattr(bronze, "write_bronze", lambda dfs, _wh: dfs)
    jobs, dfs = _jobs(spark, lambda: bronze.ingest_csv_dir(
        spark, str(csv_dir), str(tmp_path / "wh")))
    assert jobs == 0
    inferred = spark.read.csv(str(csv_dir / "suppliers.csv"), header=True,
                              mode="PERMISSIVE")
    assert dfs["suppliers"].schema == inferred.schema
    assert dfs["suppliers"].columns == ["supplier_id", "supplier_name", "_c2",
                                        "Phone3", "phone4"]
    assert dfs["suppliers"].collect() == inferred.collect()


def test_footer_schema_equals_inferred_schema(spark, warehouse):
    """The footer schema is the schema Spark's own inference reads, for
    the pyarrow-written testdata and for Spark-written warehouse
    tables (partitioned ones included)."""
    paths = [os.path.join(SF_SMOKE, f"{t}.parquet") for t in TABLES]
    paths += [os.path.join(warehouse, layer, name)
              for layer, name in MedallionEngine(spark, warehouse).list_tables()]
    for path in paths:
        assert read_parquet(spark, path).schema.json() == \
            spark.read.parquet(path).schema.json(), path


def test_parquet_and_csv_reads_go_through_the_helper():
    """No bare ``spark.read.parquet(`` / ``spark.read.csv(`` outside
    ``_util.read_parquet``."""
    found = []
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py") or f == "_util.py" and root == PKG:
                continue
            path = os.path.join(root, f)
            for line in open(path, encoding="utf-8"):
                if re.search(r"\bread\.(parquet|csv)\(", line):
                    found.append((os.path.relpath(path, PKG), line.strip()))
    assert found == []


def test_events_read_runs_no_job_and_keeps_the_session_conf(spark, tmp_path):
    """testdata ``events`` reads ``ts``'s physical type from the footer:
    a micros file runs no job and leaves the legacy nanos conf alone;
    only a TIMESTAMP(NANOS) file sets it, and lands the same UTC
    instants."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(key)
    before = spark.conf.get(key)
    jobs, df = _jobs(spark, lambda: load_table(spark, SF_SMOKE, "events"))
    assert jobs == 0
    assert spark.conf.get(key) == before
    assert dict(df.dtypes)["ts"] == "timestamp"

    micros = pq.read_table(os.path.join(SF_SMOKE, "events.parquet")).slice(0, 50)
    nanos = micros.set_column(micros.schema.get_field_index("ts"), "ts",
                              micros["ts"].cast(pa.timestamp("ns")))
    pq.write_table(nanos, str(tmp_path / "events.parquet"))
    try:
        got = load_table(spark, str(tmp_path), "events")
        assert spark.conf.get(key) == "true"
        assert got.schema == df.schema
        want = {r.event_id: r for r in df.collect()}
        rows = got.collect()
        assert len(rows) == 50 and all(r == want[r.event_id] for r in rows)
    finally:
        spark.conf.unset(key)


def test_tiny_df_starts_no_python_worker(spark):
    """tiny_df plans as a LocalTableScan: no PythonRDD in its lineage,
    so its actions start no Python worker; a session with Arrow turned
    off gets the same rows."""
    rows = [("a", 1, True, 1.5), ("b", None, None, None)]
    schema = "name string, n long, ok boolean, x double"
    df = tiny_df(spark, rows, schema)
    assert "PythonRDD" not in df._jdf.rdd().toDebugString()
    assert [tuple(r) for r in df.collect()] == rows
    assert df.dtypes == [("name", "string"), ("n", "bigint"),
                         ("ok", "boolean"), ("x", "double")]
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        assert [tuple(r) for r in tiny_df(spark, rows, schema).collect()] == rows
        assert tiny_df(spark, [], schema).collect() == []
    finally:
        spark.conf.set(key, old)
