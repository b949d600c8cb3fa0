"""Engine facade (query runner/catalog) + sink tests."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from medallion_data_pipeline_spark._util import read_table
from medallion_data_pipeline_spark.api import MedallionEngine
from medallion_data_pipeline_spark.metrics import executed_plan
from medallion_data_pipeline_spark.plans import bronze, fixtures
from medallion_data_pipeline_spark.sources import sinks


def _mk_warehouse(spark, tmp_path) -> str:
    wh = str(tmp_path / "wh")
    bronze.write_bronze(fixtures.generate_bronze(spark, n_orders=500), wh)
    return wh


def test_engine_catalog_and_sql(spark, tmp_path):
    eng = MedallionEngine(spark, _mk_warehouse(spark, tmp_path))
    tables = eng.list_tables()
    assert ("bronze", "supply_orders") in tables
    assert ("supplier_id", "bigint") in eng.table_schema("bronze", "suppliers")
    assert eng.row_count("bronze", "suppliers") == 100

    eng.register_views()
    df, secs, preview = eng.sql(
        "SELECT status, COUNT(*) AS n FROM bronze_supply_orders GROUP BY status"
    )
    assert df.count() > 0 and secs >= 0
    assert 0 < len(preview) <= MedallionEngine.PREVIEW_ROWS

    # the preview page is capped even when the result is wide open
    _, _, big = eng.sql("SELECT * FROM bronze_supply_orders")
    assert len(big) == MedallionEngine.PREVIEW_ROWS

    page1 = eng.page("bronze", "suppliers", limit=10, offset=0).collect()
    page2 = eng.page("bronze", "suppliers", limit=10, offset=10).collect()
    assert len(page1) == len(page2) == 10
    assert {r.supplier_id for r in page1}.isdisjoint({r.supplier_id for r in page2})


def test_page_stable_on_duplicate_heavy_order_column(spark, tmp_path):
    """LIMIT/OFFSET pages must be disjoint and exhaustive even when the
    ordering column is massively duplicated — the facade appends every
    remaining column as a deterministic tiebreak, so rows can't repeat
    on one page and vanish from another (the classic unstable-sort
    pagination bug)."""
    wh = str(tmp_path / "wh")
    # first column has only 4 distinct values over 200 rows
    df = spark.range(200).select(
        (F.col("id") % 4).alias("grp"), F.col("id").alias("row_id"))
    df.write.parquet(os.path.join(wh, "bronze", "dupes"))

    eng = MedallionEngine(spark, wh)
    seen: list[tuple] = []
    for off in range(0, 200, 30):
        page = eng.page("bronze", "dupes", limit=30, offset=off).collect()
        seen.extend((r.grp, r.row_id) for r in page)
    assert len(seen) == 200
    assert len(set(seen)) == 200, "a row repeated across pages"
    assert set(seen) == {(i % 4, i) for i in range(200)}, "a row vanished"


def test_csv_export_and_log_truncate(spark, tmp_path):
    df = spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("v"))
    out = str(tmp_path / "export")
    sinks.export_csv(df, out)
    parts = glob.glob(os.path.join(out, "part-*.csv"))
    assert len(parts) == 1
    assert sum(1 for _ in open(parts[0])) == 11  # header + 10 rows

    log = spark.range(250).select(F.col("id").alias("ts"))
    assert sinks.truncate_log(log, "ts", keep=100).count() == 100


def test_verify_push_counts(spark):
    a = spark.range(5)
    assert sinks.verify_push(a, spark.range(5)) == (True, 5, 5)
    assert sinks.verify_push(a, spark.range(4))[0] is False
    assert sinks.verify_push(spark.range(0), spark.range(0))[0] is False


def test_jdbc_roundtrip_embedded_derby(spark, tmp_path):
    """The S6/S7 JDBC path EXECUTED in-sandbox: Spark's classpath ships
    embedded Derby (its metastore engine), so push_jdbc with the
    reference's batchsize=5000 (gold/push.py:127-163 execute_values
    page_size) writes a real database, spark.read.jdbc reads it back,
    and verify_push certifies the counts — no external server, no
    env-gate. Covers overwrite + append modes, realistic gold-mart
    column types (string/date/decimal/long), and the parallel
    multi-table push."""
    from datetime import date
    from decimal import Decimal

    url, props = sinks.derby_url(str(tmp_path / "derbydb"))

    mart = spark.createDataFrame(
        [(i, f"supplier_{i % 7}", date(2024, 1 + i % 12, 1),
          Decimal(f"{100 + i}.25")) for i in range(500)],
        "k long, supplier string, month date, revenue decimal(12,2)")

    # overwrite push + read-back + count verify
    sinks.push_jdbc(mart, url, "supplier_mart", batchsize=5000,
                    properties=props)
    back = (spark.read.format("jdbc").option("url", url)
            .option("dbtable", "supplier_mart")
            .options(**props).load())
    ok, local_n, remote_n = sinks.verify_push(mart, back)
    assert (ok, local_n, remote_n) == (True, 500, 500)
    # values survive the dialect round-trip, not just counts
    got = {r.k: (r.supplier, r.month, r.revenue) for r in back.collect()}
    assert got[42] == ("supplier_0", date(2024, 7, 1), Decimal("142.25"))

    # append mode accumulates
    sinks.push_jdbc(mart.limit(10), url, "supplier_mart", mode="append",
                    properties=props)
    assert back.count() == 510

    # parallel multi-table push (S7): 3 concurrent writes, one engine
    tables = {
        "mart_a": mart.select("k", "revenue"),
        "mart_b": mart.select("k", "supplier"),
        "mart_c": mart.groupBy("supplier").count(),
    }
    results = sinks.push_tables_parallel(tables, url, properties=props)
    assert results == {"mart_a": True, "mart_b": True, "mart_c": True}
    for name, df in tables.items():
        remote = (spark.read.format("jdbc").option("url", url)
                  .option("dbtable", name).options(**props).load())
        assert sinks.verify_push(df, remote)[0], name


def test_upsert_jdbc_enforces_pk_contract(spark, tmp_path):
    """upsert_jdbc must dedupe on pk (a multi-matching source row
    aborts SQL MERGE) and DROP NULL-pk rows (NULL never matches an ON
    clause, so replays would re-insert them forever); a replay of the
    same frame leaves the target unchanged."""
    url, props = sinks.derby_url(str(tmp_path / "pkdb"))
    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (None, "x"), (None, "y")],
        "k long, v string")

    sinks.upsert_jdbc(df, url, "tgt", ["k"], properties=props)
    back = (spark.read.format("jdbc").option("url", url)
            .option("dbtable", "tgt").options(**props).load())
    rows = {r.k: r.v for r in back.collect()}
    assert set(rows) == {1, 2}, "NULL pks must be dropped, dups collapsed"
    assert rows[1] in ("a", "b") and rows[2] == "c"

    sinks.upsert_jdbc(df, url, "tgt", ["k"], properties=props)  # replay
    assert back.count() == 2, "replay must not grow the target"


def test_page_skips_non_orderable_columns(spark, tmp_path):
    """page() must not fail on tables with map columns (Spark cannot
    sort maps) — the tiebreak uses only orderable columns."""
    wh = str(tmp_path / "wh")
    df = spark.range(40).select(
        (F.col("id") % 3).alias("grp"), F.col("id").alias("row_id"),
        F.create_map(F.lit("k"), F.col("id").cast("string")).alias("attrs"))
    df.write.parquet(os.path.join(wh, "bronze", "mapped"))
    eng = MedallionEngine(spark, wh)
    seen = []
    for off in (0, 20):
        seen += [(r.grp, r.row_id) for r in
                 eng.page("bronze", "mapped", limit=20, offset=off).collect()]
    assert len(seen) == 40 and len(set(seen)) == 40


def test_reset_warehouse(spark, tmp_path):
    wh = _mk_warehouse(spark, tmp_path)
    assert os.path.isdir(os.path.join(wh, "bronze"))
    sinks.reset_warehouse(wh)
    assert not os.path.isdir(os.path.join(wh, "bronze"))


def test_orc_roundtrip_preserves_values_and_prunes(spark, tmp_path):
    """ORC write/read roundtrip: values survive exactly; a filtered
    re-read shows pushed filters in the scan plan."""
    src = spark.range(0, 1000).selectExpr(
        "id", "id % 7 AS bucket", "CAST(id * 1.5 AS DOUBLE) AS v")
    path = str(tmp_path / "orc_out")
    sinks.export_orc(src, path, partition_by="bucket")
    back = sinks.read_orc(spark, path)
    assert back.count() == 1000
    assert back.agg(F.sum("v")).collect()[0][0] == src.agg(F.sum("v")).collect()[0][0]
    plan = executed_plan(back.filter(F.col("id") < 10))
    assert "PushedFilters: [" in plan and "id" in plan.split("PushedFilters:")[1].split("]")[0]
    # partition pruning: bucket filter prunes directories, not rows
    pruned = back.filter(F.col("bucket") == 3)
    assert pruned.count() == src.filter(F.col("bucket") == 3).count()


def test_custom_python_datasource_generates_deterministic_events(spark):
    """Spark 4 Python DataSource API: the synthetic source plans real
    InputPartitions (parallel, executor-side) and its output is a pure
    function of options — two reads are identical."""
    from medallion_data_pipeline_spark.sources.synthetic import SyntheticEventsSource

    try:
        spark.dataSource.register(SyntheticEventsSource)
    except Exception as e:  # already registered in this session
        if "already" not in str(e).lower():
            raise
    df = (spark.read.format("synthetic_events")
          .option("n_rows", 500).option("n_partitions", 4).load())
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 500
    assert df.select("event_id").distinct().count() == 500
    types = {r.event_type for r in df.select("event_type").distinct().collect()}
    assert types <= {"view", "click", "purchase", "signup", "error"}
    a = df.agg(F.sum("value"), F.sum("user_id")).collect()[0]
    b = (spark.read.format("synthetic_events")
         .option("n_rows", 500).option("n_partitions", 4).load()
         .agg(F.sum("value"), F.sum("user_id")).collect()[0])
    assert tuple(a) == tuple(b)


# --- Google Sheets source (sources/sheets.py) ------------------------------
# The sandbox has no external network, so the v4 REST protocol path is
# exercised against a local HTTP server speaking the same JSON shape
# the reference consumed via googleapiclient (values grid, headers in
# row 0, ragged short rows).

def _sheets_server(grids):
    """Start a localhost HTTP server mapping range name -> values grid."""
    import http.server
    import json as _json
    import threading
    import urllib.parse

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            # /v4/spreadsheets/{id}/values/{range}
            path = urllib.parse.unquote(self.path.split("?")[0])
            rng = path.rsplit("/values/", 1)[-1]
            body = _json.dumps(
                {"values": grids[rng]} if rng in grids else {}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):  # keep pytest output clean
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, f"http://127.0.0.1:{srv.server_address[1]}"


def test_sheets_source_fetch_pad_and_land(spark, tmp_path):
    """read_sheet/ingest_sheets against a local v4-shaped server:
    headers from row 0, short rows padded with '' (reference
    data_loader.py:74-77), long rows truncated to header width, empty
    ranges skipped, and the fetched tables land as bronze parquet."""
    from medallion_data_pipeline_spark.sources import sheets

    grids = {
        "Suppliers!A:D": [
            ["supplier_id", "name", "email", "phone"],
            ["1", "Acme", "a@x.io", "555-123-4567"],
            ["2", "Bolt"],                       # short row -> padded
            ["3", "Cog", "c@x.io", "555", "EXTRA"],  # long row -> truncated
        ],
        "Products!A:G": [],                      # empty range -> skipped
    }
    srv, base = _sheets_server(grids)
    try:
        df = sheets.read_sheet(spark, "sheet-1", "Suppliers!A:D",
                               base_url=base)
        rows = {r.supplier_id: r for r in df.collect()}
        assert df.columns == ["supplier_id", "name", "email", "phone"]
        assert rows["2"].email == "" and rows["2"].phone == ""
        assert rows["3"].phone == "555" and len(rows["3"]) == 4

        wh = str(tmp_path / "wh")
        counts = sheets.ingest_sheets(
            spark, "sheet-1", wh,
            ranges={"suppliers": "Suppliers!A:D", "products": "Products!A:G"},
            base_url=base)
        assert counts == {"suppliers": 3}
        landed = read_table(spark, wh, "bronze", "suppliers")
        assert landed.count() == 3
    finally:
        srv.shutdown()


def test_sheets_to_silver_end_to_end(spark, tmp_path):
    """The live entry point feeds the whole medallion pipeline: fixture
    bronze tables are served as Sheets v4 value grids (all cells
    stringified, None -> '' like a real sheet), ingested via
    ingest_sheets, then run_silver cleans all six tables from the
    all-string bronze — proving the silver cleaners need no typed
    input, exactly like the reference's Sheets->pandas path."""
    from medallion_data_pipeline_spark.plans import fixtures, silver
    from medallion_data_pipeline_spark.sources import sheets

    dfs = fixtures.generate_bronze(spark, n_orders=300)
    grids = {}
    for name, df in dfs.items():
        rng = sheets.SHEET_RANGES[name]
        rows = [[("" if c is None else str(c)) for c in r] for r in df.collect()]
        grids[rng] = [df.columns] + rows
    srv, base = _sheets_server(grids)
    try:
        wh = str(tmp_path / "wh")
        counts = sheets.ingest_sheets(spark, "sheet-1", wh, base_url=base)
        assert set(counts) == set(sheets.SHEET_RANGES)
        assert counts["supply_orders"] == 300

        results = silver.run_silver(spark, wh)
        by_name = {r.stage: r for r in results}
        assert set(by_name) == set(sheets.SHEET_RANGES)
        for name, r in by_name.items():
            assert r.rows_out > 0, name
            assert r.rows_in == counts[name], name
        landed = read_table(spark, wh, "silver", "supply_orders")
        assert "total_invoice_clean" in landed.columns or landed.count() > 0
    finally:
        srv.shutdown()


def _scripted_sheets_server(script):
    """Localhost server whose response per range follows a SCRIPT: a
    list of (status, body_bytes) consumed one per request (the last
    entry repeats). Exercises the negative paths a real Sheets API
    produces: 403, 429-then-ok, persistent 429, garbage bodies."""
    import http.server
    import threading
    import urllib.parse

    hits = {}

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            path = urllib.parse.unquote(self.path.split("?")[0])
            rng = path.rsplit("/values/", 1)[-1]
            seq = script.get(rng, [(200, b"{}")])
            i = hits.get(rng, 0)
            hits[rng] = i + 1
            status, body = seq[min(i, len(seq) - 1)]
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, f"http://127.0.0.1:{srv.server_address[1]}", hits


def test_sheets_fetch_negative_paths():
    """fetch_sheet_values failure semantics (sources/sheets.py):
    403 fails fast (no retry), 429 retries with backoff and succeeds,
    persistent 429 exhausts the budget, malformed JSON raises, and an
    empty-range body is [] — an empty range is NOT an error, unlike
    the reference which conflates the two (data_loader.py:83-85)."""
    import pytest

    from medallion_data_pipeline_spark.sources import sheets

    ok = b'{"values": [["h"], ["1"]]}'
    script = {
        "Forbidden!A:B": [(403, b'{"error": {"code": 403}}')],
        "RateLimited!A:B": [(429, b""), (429, b""), (200, ok)],
        "AlwaysLimited!A:B": [(429, b"")],
        "Garbage!A:B": [(200, b"this is not json")],
        "NonObject!A:B": [(200, b"[1, 2, 3]")],
        "Empty!A:B": [(200, b"{}")],
    }
    srv, base, hits = _scripted_sheets_server(script)
    try:
        with pytest.raises(sheets.SheetsFetchError, match="HTTP 403"):
            sheets.fetch_sheet_values("s", "Forbidden!A:B", base_url=base,
                                      backoff_s=0.0)
        assert hits["Forbidden!A:B"] == 1  # auth errors are not retried

        vals = sheets.fetch_sheet_values("s", "RateLimited!A:B",
                                         base_url=base, backoff_s=0.0)
        assert vals == [["h"], ["1"]] and hits["RateLimited!A:B"] == 3

        with pytest.raises(sheets.SheetsFetchError, match="HTTP 429"):
            sheets.fetch_sheet_values("s", "AlwaysLimited!A:B",
                                      base_url=base, backoff_s=0.0,
                                      max_retries=2)
        assert hits["AlwaysLimited!A:B"] == 3  # 1 try + 2 retries

        with pytest.raises(sheets.SheetsFetchError, match="malformed JSON"):
            sheets.fetch_sheet_values("s", "Garbage!A:B", base_url=base)
        with pytest.raises(sheets.SheetsFetchError, match="non-object"):
            sheets.fetch_sheet_values("s", "NonObject!A:B", base_url=base)

        assert sheets.fetch_sheet_values("s", "Empty!A:B", base_url=base) == []
    finally:
        srv.shutdown()


def test_sheets_ingest_skips_broken_ranges_loudly(spark, tmp_path):
    """ingest_sheets degrades per range like the reference's per-table
    try/except (data_loader.py:83-85) but LOUDLY: the broken range is
    skipped with a warning and absent from the returned counts; the
    healthy ranges still land as bronze parquet."""
    import json as _json
    import warnings

    from medallion_data_pipeline_spark.sources import sheets

    good = _json.dumps(
        {"values": [["supplier_id", "name"], ["1", "Acme"], ["2", "Bolt"]]}
    ).encode()
    script = {
        "Good!A:B": [(200, good)],
        "Bad!A:B": [(403, b'{"error": {"code": 403}}')],
    }
    srv, base, _hits = _scripted_sheets_server(script)
    try:
        wh = str(tmp_path / "wh")
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            counts = sheets.ingest_sheets(
                spark, "s", wh,
                ranges={"suppliers": "Good!A:B", "products": "Bad!A:B"},
                base_url=base)
        assert counts == {"suppliers": 2}
        assert any("skipping range 'products'" in str(w.message)
                   for w in caught)
        landed = read_table(spark, wh, "bronze", "suppliers")
        assert landed.count() == 2
    finally:
        srv.shutdown()


def test_jsonl_corrupt_capture_and_split(spark, tmp_path):
    """PERMISSIVE JSONL read: good lines parse, malformed lines land
    whole in _corrupt_record with data fields NULL; split_rejects
    separates them losslessly; DROPMALFORMED drops exactly the bad
    lines."""
    from pyspark.sql import types as T

    from medallion_data_pipeline_spark.sources import jsonl as J

    shard = tmp_path / "part-00000.json"
    good_lines = [
        '{"doc_id": 1, "text": "hello world", "n_chars": 11}',
        '{"doc_id": 2, "text": "quoted \\"x\\"", "n_chars": 10}',
        '{"doc_id": 3, "text": null, "n_chars": 0}',
    ]
    bad_lines = [
        '{"doc_id": 4, "text": "truncated',       # unterminated string
        'not json at all',
        '{"doc_id": "not_a_long", "text": "type drift", "n_chars": 9}',
    ]
    shard.write_text("\n".join(good_lines + bad_lines) + "\n")

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ])
    df = J.read_jsonl(spark, str(tmp_path), schema)
    assert J.CORRUPT_COL in df.columns
    n_rows, n_good, n_rejects = J.ingest_audit(df)
    assert (n_rows, n_good, n_rejects) == (6, 3, 3)
    good, bad = J.split_rejects(df)
    # NEITHER side supports a bare count(): count prunes every data
    # column, so the corrupt-col filter leaves the scan referencing
    # the corrupt column alone,
    # which Spark disallows (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — the
    # sanctioned reject ops are write/collect (full projection) and
    # ingest_audit above. Land the rejects like the pipeline would:
    rej_path = str(tmp_path / "rejects")
    bad.write.mode("overwrite").parquet(rej_path)
    assert spark.read.parquet(rej_path).count() == 3

    got = {r.doc_id: r for r in good.collect()}
    assert got[1].text == "hello world" and got[1].n_chars == 11
    assert got[2].text == 'quoted "x"'
    assert got[3].text is None and got[3].n_chars == 0
    # rejects carry the raw line verbatim (audit-don't-drop) AND any
    # fields that DID parse (type drift nulls only the drifted field)
    rej = {r.raw_line: r for r in bad.collect()}
    assert set(bad_lines) <= set(rej)
    drift = rej['{"doc_id": "not_a_long", "text": "type drift", "n_chars": 9}']
    assert drift.doc_id is None and drift.text == "type drift" \
        and drift.n_chars == 9

    dropped = J.read_jsonl(spark, str(tmp_path), schema,
                           mode="DROPMALFORMED")
    assert sorted(r.doc_id for r in dropped.collect()) == [1, 2, 3]


def test_jsonl_roundtrip_gzip_and_float_fidelity(spark, tmp_path):
    """write_jsonl(gzip) -> read_jsonl reproduces the embeddings table
    exactly — including every float32 of the vector column (JSON
    shortest-round-trip encoding is lossless for floats) — and the
    gzip shards actually carry the .gz suffix."""
    from pyspark.sql import types as T

    from medallion_data_pipeline_spark.sources import jsonl as J
    from medallion_data_pipeline_spark.sources.testdata import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = str(tmp_path / "emb_jsonl")
    J.write_jsonl(emb, out, compression="gzip")
    assert glob.glob(os.path.join(out, "*.json.gz"))

    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ])
    back = J.read_jsonl(spark, out, schema)
    a = {r.vec_id: (r.embedding, r.label) for r in emb.collect()}
    b = {r.vec_id: (r.embedding, r.label) for r in back.collect()}
    assert a == b
