"""Streaming batch/stream parity + forecasting fan-out tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from medallion_data_pipeline_spark._util import read_table
from medallion_data_pipeline_spark.sources import load_table
from medallion_data_pipeline_spark.streaming import events as SE


def test_streaming_hourly_rollup_matches_batch(spark, tmp_path):
    # re-land events as micro-batch-friendly parquet (micros timestamps)
    batch = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "events_stream")
    batch.repartition(4).write.parquet(src)

    stream = SE.read_event_stream(spark, src)
    assert stream.isStreaming
    SE.run_to_memory(SE.hourly_rollup(stream), "stream_rollup")
    streamed = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM stream_rollup").collect()
    }

    expected = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in (
            batch.groupBy(
                F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias("window_start"),
                "event_type",
            )
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"))
            .collect()
        )
    }
    assert streamed == expected


def test_streaming_session_windows(spark, tmp_path):
    batch = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "events_sessions")
    batch.write.parquet(src)
    SE.run_to_memory(SE.session_windows(SE.read_event_stream(spark, src)), "stream_sessions")
    out = spark.sql("SELECT * FROM stream_sessions")
    assert out.count() > 0
    assert out.filter(F.col("end_ms") < F.col("start_ms")).count() == 0


def test_single_pass_forecast_equals_per_level(spark, tmp_path):
    """run_forecasts' single-pass fan-out (build_series_multi + the
    level-dispatching worker) must be row-for-row identical to the
    per-level build_series + make_forecast_worker union it replaced —
    same series, same models, same bounds, for every level."""
    from medallion_data_pipeline_spark.plans import (
        bronze, fixtures, forecasting, silver)

    wh = str(tmp_path / "wh")
    bronze.write_bronze(fixtures.generate_bronze(spark, n_orders=3000), wh)
    silver.run_silver(spark, wh, run_id="t")
    orders = read_table(spark, wh, "silver", "supply_orders")
    levels = ("product", "warehouse", "store")

    multi = forecasting.build_series_multi(orders, levels)
    per_level = {}
    for lv in levels:
        for r in forecasting.build_series(orders, lv).collect():
            per_level[(lv, r.entity_id, r.ds)] = r.y
    got = {(r.level, r.entity_id, r.ds): r.y for r in multi.collect()}
    assert got == per_level

    fc_multi = {
        (r.level, r.entity_id, r.ds): (r.yhat, r.yhat_lower, r.yhat_upper,
                                       r.model)
        for r in multi.groupBy("level", "entity_id").applyInPandas(
            forecasting.make_forecast_worker_multi(7, "x"),
            forecasting.FORECAST_SCHEMA).collect()}
    fc_union = {}
    for lv in levels:
        fc = forecasting.build_series(orders, lv) \
            .groupBy("entity_id").applyInPandas(
                forecasting.make_forecast_worker(lv, 7, "x"),
                forecasting.FORECAST_SCHEMA)
        for r in fc.collect():
            fc_union[(lv, r.entity_id, r.ds)] = (
                r.yhat, r.yhat_lower, r.yhat_upper, r.model)
    assert fc_multi == fc_union and len(fc_multi) > 0


def test_forecast_fanout(spark, tmp_path):
    from medallion_data_pipeline_spark.plans import bronze, fixtures, forecasting, silver

    wh = str(tmp_path / "wh")
    bronze.write_bronze(fixtures.generate_bronze(spark, n_orders=3000), wh)
    silver.run_silver(spark, wh, run_id="t")
    overwrite_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    fc = forecasting.run_forecasts(spark, wh, levels=("warehouse",), horizon=7, run_id="r1")
    rows = fc.collect()
    assert len(rows) > 0
    assert all(r.yhat >= 0 and r.yhat_lower <= r.yhat <= r.yhat_upper for r in rows)
    per_entity = fc.groupBy("entity_id").count().collect()
    assert all(r["count"] == 7 for r in per_entity)        # horizon rows per entity
    # run_id overwrite: second run replaces, first run stays
    fc2 = forecasting.run_forecasts(spark, wh, levels=("warehouse",), horizon=7, run_id="r2")
    assert fc2.count() > 0
    both = read_table(spark, wh, "gold", "forecasts")
    assert {r.run_id for r in both.select("run_id").distinct().collect()} == {"r1", "r2"}
    # the dynamic overwrite is per write: the session's mode is left as it was
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == overwrite_mode


def test_stateful_running_totals_across_batches(spark, tmp_path):
    batch = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "events_stateful")
    # two files -> two micro-batches (maxFilesPerTrigger=1): state must carry over
    batch.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(src)
    batch.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)

    stream = SE.read_event_stream(spark, src, max_files_per_trigger=1)
    q = (SE.running_user_totals(stream)
         .writeStream.outputMode("update").format("memory")
         .queryName("user_totals").start())
    try:
        q.processAllAvailable()
        assert q.lastProgress["batchId"] >= 1   # really ran >1 micro-batch
    finally:
        q.stop()

    # in update mode the memory sink appends each batch's emissions;
    # the LAST emission per user must equal the full-batch totals
    out = spark.sql("""
        SELECT user_id, n_events, total_value FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn
            FROM user_totals) WHERE rn = 1
    """)
    got = {r.user_id: (r.n_events, r.total_value) for r in out.collect()}
    expected = {
        r.user_id: (r.n, r.tv)
        for r in batch.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 2).alias("tv")).collect()
    }
    assert set(got) == set(expected)
    mismatch = {u: (got[u], expected[u]) for u in expected
                if got[u][0] != expected[u][0]}
    assert mismatch == {}


def test_global_model_autoregressive_forecast(spark, tmp_path):
    from medallion_data_pipeline_spark.plans import bronze, fixtures, forecasting, silver

    wh = str(tmp_path / "whg")
    bronze.write_bronze(fixtures.generate_bronze(spark, n_orders=3000), wh)
    silver.run_silver(spark, wh, run_id="t")
    fc = forecasting.run_global_forecast(spark, wh, level="warehouse", horizon=10, run_id="g1")
    rows = fc.collect()
    assert len(rows) > 0
    assert all(r.model == "global_linear" and r.yhat >= 0 for r in rows)
    per_entity = fc.groupBy("entity_id").count().collect()
    assert all(r["count"] == 10 for r in per_entity)
    # deterministic: same inputs -> same forecasts
    fc2 = forecasting.run_global_forecast(spark, wh, level="warehouse", horizon=10, run_id="g1")
    a = sorted((r.entity_id, str(r.ds), r.yhat) for r in rows)
    b = sorted((r.entity_id, str(r.ds), r.yhat) for r in fc2.collect())
    assert a == b


def test_watermark_drops_late_events(spark, tmp_path):
    import datetime as dt
    import time as _time

    src = str(tmp_path / "events_late")
    t0 = dt.datetime(2024, 6, 1, 12, 0, 0)

    def mk(rows):
        return spark.createDataFrame(
            [(i, ts, 1, et, 1.0, "{}") for i, (ts, et) in enumerate(rows)],
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string")

    # phase 1: events up to t0+2h; processed FIRST so the watermark
    # advances to t0+1h before the late file even exists
    mk([(t0, "click"), (t0 + dt.timedelta(hours=2), "click")]).coalesce(1).write.parquet(src)

    stream = SE.read_event_stream(spark, src, max_files_per_trigger=1)
    q = (SE.hourly_rollup(stream, watermark="1 hour")
         .writeStream.outputMode("update").format("memory")
         .queryName("late_test").start())
    try:
        q.processAllAvailable()   # watermark now t0+2h - 1h = t0+1h
        # phase 2: one LATE event far behind the watermark + one on-time
        mk([(t0 - dt.timedelta(hours=5), "late"),
            (t0 + dt.timedelta(hours=2, minutes=30), "ontime")]) \
            .coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        n_batches = q.lastProgress["batchId"] + 1
    finally:
        q.stop()
    _time.sleep(0)  # keep the import used

    out = spark.sql("SELECT * FROM late_test").collect()
    types = {r.event_type for r in out}
    assert n_batches >= 2
    assert "click" in types and "ontime" in types
    # the late event's window predates the watermark -> dropped, never emitted
    assert "late" not in types


def test_kafka_decode_batch_parity(spark):
    """parse_kafka_events decodes wire frames without a broker: payload
    ts wins, corrupt payloads flagged (not dropped)."""
    import json

    frames = [
        (json.dumps({"event_id": 1, "ts": "2024-06-01T12:00:00", "user_id": 7,
                     "event_type": "click", "value": 2.5, "props": "{}"}),),
        (json.dumps({"event_id": 2, "ts": "2024-06-01T12:30:00", "user_id": 8,
                     "event_type": "view", "value": 1.0, "props": "{}"}),),
        ("{not json",),
    ]
    raw = spark.createDataFrame(frames, "value string").select(
        F.col("value").cast("binary").alias("value"))
    out = SE.parse_kafka_events(raw)
    assert [f.name for f in out.schema.fields][:6] == [
        "event_id", "ts", "user_id", "event_type", "value", "props"]
    rows = {r.event_id: r for r in out.collect()}
    assert rows[1].event_type == "click" and rows[1].value == 2.5
    assert rows[1].ts.hour == 12 and rows[1].ts.minute == 0
    corrupt = [r for r in rows.values() if r.event_id is None]
    assert len(corrupt) == 1 and corrupt[0]._corrupt


def test_foreach_batch_merge_sink_idempotent(spark, tmp_path):
    """hourly_rollup -> foreachBatch merge: final table equals the batch
    aggregation, and replaying the whole stream (fresh checkpoint, same
    target) leaves the table unchanged."""
    batch = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "events_merge")
    # two files -> multiple micro-batches, so keys get re-emitted/merged
    batch.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(src)
    batch.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)

    target = str(tmp_path / "rollup_target")
    pk = ["window_start", "event_type"]

    def run(checkpoint):
        stream = SE.read_event_stream(spark, src, max_files_per_trigger=1)
        SE.run_merge_stream(SE.hourly_rollup(stream), target, pk,
                            str(tmp_path / checkpoint))

    run("cp1")
    expected = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in (
            batch.groupBy(
                F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias("window_start"),
                "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"))
            .collect())
    }
    got = {(r.window_start, r.event_type): (r.n_events, r.total_value)
           for r in spark.read.parquet(target).collect()}
    assert got == expected

    run("cp2")  # full replay into the same target: idempotent
    got2 = {(r.window_start, r.event_type): (r.n_events, r.total_value)
            for r in spark.read.parquet(target).collect()}
    assert got2 == expected


def test_foreach_batch_jdbc_merge_idempotent(spark, tmp_path):
    """The stream-to-serving-database shape EXECUTED end-to-end:
    hourly_rollup -> foreachBatch -> staged server-side MERGE into
    embedded Derby. Final table equals the batch aggregation, and a
    full replay (fresh checkpoint, same database) leaves it unchanged
    — exactly-once results over at-least-once delivery, same contract
    as the parquet merge_sink test above, now against a real RDBMS."""
    from medallion_data_pipeline_spark.sources import sinks

    batch = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "events_jdbc_merge")
    batch.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(src)
    batch.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append").parquet(src)

    url, props = sinks.derby_url(str(tmp_path / "servingdb"))
    pk = ["window_start", "event_type"]

    def run(checkpoint):
        stream = SE.read_event_stream(spark, src, max_files_per_trigger=1)
        SE.run_merge_stream_jdbc(SE.hourly_rollup(stream), url,
                                 "hourly_rollup", pk,
                                 str(tmp_path / checkpoint),
                                 properties=props)

    run("cp_jdbc1")
    expected = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in (
            batch.groupBy(
                F.date_format(F.date_trunc("hour", "ts"),
                              "yyyy-MM-dd HH:00").alias("window_start"),
                "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(12,2)"))
                 .cast("double").alias("total_value"))
            .collect())
    }

    def read_target():
        df = (spark.read.format("jdbc").option("url", url)
              .option("dbtable", "hourly_rollup").options(**props).load())
        return {(r.window_start, r.event_type): (r.n_events, r.total_value)
                for r in df.collect()}

    assert read_target() == expected
    run("cp_jdbc2")  # full replay into the same database: idempotent
    assert read_target() == expected


def test_streaming_bronze_csv_ingest(spark, tmp_path, monkeypatch):
    """File-watch CSV -> keyed merge into bronze: later files upsert on
    pk, incremental runs only process new files, silver can read the
    result, and a crash mid-swap loses no rows."""
    import os

    import pytest

    from medallion_data_pipeline_spark.streaming import ingest as SI

    land = tmp_path / "landing"
    land.mkdir()
    schema = ("supplier_id long, supplier_name string, "
              "contact_email string, phone_number string")
    (land / "batch1.csv").write_text(
        "supplier_id,supplier_name,contact_email,phone_number\n"
        "1,Acme Corp,a@x.com,555-0001\n"
        "2,Beta LLC,b@x.com,555-0002\n")
    wh = str(tmp_path / "wh")
    cp = str(tmp_path / "cp")

    SI.run_csv_ingest(spark, str(land), wh, "suppliers", schema, cp)
    got = {r.supplier_id: r.supplier_name
           for r in read_table(spark, wh, "bronze", "suppliers").collect()}
    assert got == {1: "Acme Corp", 2: "Beta LLC"}

    # second landing file: one pk update, one new row
    (land / "batch2.csv").write_text(
        "supplier_id,supplier_name,contact_email,phone_number\n"
        "2,Beta Holdings,b2@x.com,555-0002\n"
        "3,Gamma Inc,c@x.com,555-0003\n")
    SI.run_csv_ingest(spark, str(land), wh, "suppliers", schema, cp)
    got = {r.supplier_id: r.supplier_name
           for r in read_table(spark, wh, "bronze", "suppliers").collect()}
    assert got == {1: "Acme Corp", 2: "Beta Holdings", 3: "Gamma Inc"}

    # third file dies between the sink's two renames (old target out,
    # staging in); the restart on the same checkpoint replays the batch
    # and bronze converges to the clean-run state
    (land / "batch3.csv").write_text(
        "supplier_id,supplier_name,contact_email,phone_number\n"
        "4,Delta Co,d@x.com,555-0004\n")
    target = os.path.join(wh, "bronze", "suppliers")
    real_replace = os.replace
    crashed = []

    def crash_once(src, dst):
        if os.fspath(dst) == target and not crashed \
                and os.fspath(src).endswith(".staging"):
            crashed.append(src)
            raise OSError("simulated crash between the swap renames")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", crash_once)
    with pytest.raises(Exception):
        SI.run_csv_ingest(spark, str(land), wh, "suppliers", schema, cp)
    assert crashed
    SI.run_csv_ingest(spark, str(land), wh, "suppliers", schema, cp)
    got = {r.supplier_id: r.supplier_name
           for r in read_table(spark, wh, "bronze", "suppliers").collect()}
    assert got == {1: "Acme Corp", 2: "Beta Holdings", 3: "Gamma Inc",
                   4: "Delta Co"}
    assert not os.path.exists(target + ".aside")


def test_streaming_incremental_dedup_ingest(spark, tmp_path):
    """Continuous corpus construction: each micro-batch is near-dup
    filtered against the maintained band index of everything accepted
    so far — cross-batch dups and within-batch dups are rejected, the
    index grows only with keepers, and a full replay (same landing
    files, fresh checkpoint) appends nothing."""
    from medallion_data_pipeline_spark.streaming import ingest as SI

    base = "the quick brown fox jumps over the lazy dog near the river"
    distinct1 = "completely different legal boilerplate about contract law"
    distinct2 = "astronomy lecture notes covering stellar fusion processes"
    rows1 = [
        (1, base),
        (2, base + " bank"),           # near-dup of 1 (within batch 1)
        (3, distinct1),
    ]
    rows2 = [
        (4, base + " delta"),          # near-dup of 1 (cross-batch, via index)
        (5, distinct2),
        (6, distinct2 + " appendix"),  # near-dup of 5 (within batch 2)
    ]
    land = tmp_path / "landing"
    land.mkdir()
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq
    now = time.time()
    # distinct mtimes: the file source orders batches by modification
    # time, and online dedup is first-seen-wins, so arrival order is
    # part of the test's contract
    for age, (fname, rows) in enumerate((("b1.parquet", rows1),
                                         ("b2.parquet", rows2))):
        ids, texts = zip(*rows)
        path = str(land / fname)
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64()),
                      "text": pa.array(texts, pa.string())}),
            path)
        os.utime(path, (now - 60 + age * 10, now - 60 + age * 10))

    wh = str(tmp_path / "wh")
    SI.run_dedup_ingest(spark, str(land), wh, str(tmp_path / "cp1"))

    docs = read_table(spark, wh, "silver", "documents")
    accepted = {r.doc_id for r in docs.select("doc_id").collect()}
    assert accepted == {1, 3, 5}

    # the index holds exactly the keepers' band rows
    idx = read_table(spark, wh, "silver", "doc_band_index")
    assert {r.doc for r in idx.select("doc").distinct().collect()} == {1, 3, 5}

    # full replay with a fresh checkpoint: accepted ids are dropped by
    # the replay guard, rejected ids are re-flagged -> no growth
    SI.run_dedup_ingest(spark, str(land), wh, str(tmp_path / "cp2"))
    docs2 = read_table(spark, wh, "silver", "documents")
    assert docs2.count() == 3
    assert read_table(spark, wh, "silver", "doc_band_index").count() == idx.count()


def test_streaming_ingest_maintains_band_index_cap(spark, tmp_path):
    """max_bucket on the streaming dedup sink maintains the per-bucket
    index cap ACROSS batches (append-time capacity check): bucket
    membership never exceeds the cap, earliest-accepted members are
    retained, an exact duplicate of a retained doc is still rejected
    through the capped index, and the accepted set matches an
    uncapped run's."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from medallion_data_pipeline_spark.streaming import ingest as SI

    # a template family accepted at threshold=0.99 (mutual Jaccard
    # ~0.9 < 0.99) whose shared shingles pile its band rows into the
    # same buckets — the shape that fills a bucket past the cap
    # without any doc being a rejectable duplicate
    template = " ".join(f"w{i}" for i in range(60))
    rows1 = [(i, template + f" uniq{i}") for i in range(1, 11)]
    rows2 = [
        (11, template + " uniq1"),  # exact dup of doc 1 (retained)
        (12, "a wholly fresh document about glacier hydrology"),
    ]
    land = tmp_path / "landing"
    land.mkdir()
    now = time.time()
    for age, (fname, rows) in enumerate((("b1.parquet", rows1),
                                         ("b2.parquet", rows2))):
        ids, texts = zip(*rows)
        path = str(land / fname)
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64()),
                      "text": pa.array(texts, pa.string())}), path)
        os.utime(path, (now - 60 + age * 10, now - 60 + age * 10))

    def run(wh_name, max_bucket):
        wh = str(tmp_path / wh_name)
        SI.run_dedup_ingest(
            spark, str(land), wh, str(tmp_path / f"cp_{wh_name}"),
            threshold=0.99, max_bucket=max_bucket)
        docs = read_table(spark, wh, "silver", "documents")
        idx = read_table(spark, wh, "silver", "doc_band_index")
        return ({r.doc_id for r in docs.select("doc_id").collect()},
                idx.groupBy("band_key").count())

    capped_accept, capped_sizes = run("wh_capped", 3)
    full_accept, full_sizes = run("wh_full", None)

    # doc 11 rejected through the CAPPED index; fresh doc accepted
    assert capped_accept == set(range(1, 11)) | {12}
    assert capped_accept == full_accept
    # the invariant the cap exists for — and it actually bound
    from pyspark.sql import functions as SF
    assert capped_sizes.agg(SF.max("count")).first()[0] <= 3
    assert full_sizes.agg(SF.max("count")).first()[0] > 3
    # earliest-accepted members retained: doc 1's rows survive capping
    wh = str(tmp_path / "wh_capped")
    idx = read_table(spark, wh, "silver", "doc_band_index")
    assert idx.filter(SF.col("doc") == 1).count() > 0


def test_stream_static_enrichment(spark, tmp_path):
    """Stream-static broadcast join: every micro-batch row is enriched
    with the dimension attributes; rows with no dim match survive
    (left join) with nulls."""
    batch = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "events_enrich_src")
    batch.repartition(4).write.parquet(src)

    dim = spark.createDataFrame(
        [("click", "engagement"), ("view", "engagement"),
         ("purchase", "conversion")],
        ["event_type", "event_class"],
    )
    stream = SE.read_event_stream(spark, src)
    SE.run_to_memory(
        SE.enrich_with_dimension(stream, dim, "event_type"), "stream_enriched",
        output_mode="append")
    out = spark.sql("SELECT * FROM stream_enriched")
    assert out.count() == batch.count()
    classed = {r.event_type: r.event_class for r in
               out.select("event_type", "event_class").distinct().collect()}
    assert classed["click"] == "engagement"
    assert classed["purchase"] == "conversion"
    assert classed["error"] is None  # unmatched types survive the left join


def test_dedup_within_watermark_drops_replays(spark, tmp_path):
    """Replayed event_ids inside the watermark window are dropped;
    output is exactly the distinct key set."""
    # deterministic subset — limit() can pick different rows in each
    # union branch under parallel scheduling
    batch = load_table(spark, "/root/testdata/sf0.001", "events").filter(
        F.col("event_id") < 200)
    doubled = batch.union(batch)  # exact replay of every event
    src = str(tmp_path / "events_dedup_src")
    doubled.repartition(4).write.parquet(src)

    # watermark must exceed the dataset's full time span here: rows
    # behind the advancing watermark are dropped as LATE (not as
    # duplicates), and the unordered source files would make that
    # nondeterministic across micro-batch schedules
    stream = SE.read_event_stream(spark, src, max_files_per_trigger=64)
    SE.run_to_memory(
        SE.dedup_within_watermark(stream, ["event_id"], watermark="90 days"),
        "stream_deduped", output_mode="append")
    out = spark.sql("SELECT event_id FROM stream_deduped")
    assert out.count() == batch.count()
    assert out.distinct().count() == batch.count()


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """The watermarked stream-stream interval join must produce exactly
    the batch join's pairs (purchase x same-user clicks in the
    preceding 30 min)."""
    batch = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "events_ssj_src")
    batch.repartition(4).write.parquet(src)

    stream = SE.read_event_stream(spark, src, max_files_per_trigger=64)
    SE.run_to_memory(
        SE.clicks_to_purchases_join(stream, watermark="90 days"),
        "stream_ssj", output_mode="append")
    streamed = {(r.purchase_id, r.click_id)
                for r in spark.sql("SELECT * FROM stream_ssj").collect()}

    c = batch.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("event_id").alias("click_id"),
        F.unix_millis("ts").alias("cms"))
    p = batch.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("event_id").alias("purchase_id"),
        F.unix_millis("ts").alias("pms"))
    expected = {
        (r.purchase_id, r.click_id)
        for r in p.join(c, (F.col("pu") == F.col("cu"))
                        & (F.col("cms") <= F.col("pms"))
                        & (F.col("cms") >= F.col("pms") - 1800000)).collect()
    }
    assert streamed == expected
    assert len(expected) > 0


def _series_pdf(days: int = 60):
    import pandas as pd

    ds = pd.date_range("2024-01-01", periods=days).date
    y = [10.0 + (i % 7) + 0.1 * i for i in range(days)]
    return pd.DataFrame({"entity_id": "E1", "ds": ds, "y": y})


def test_forecast_worker_falls_back_without_heavy_deps():
    """In this container (no prophet/statsmodels) model='auto' must
    land on the documented seasonal_naive fallback, producing the full
    horizon with +-20% bounds."""
    from medallion_data_pipeline_spark.plans import forecasting as FC

    out = FC.make_forecast_worker("warehouse", 14, "r1")(_series_pdf())
    assert len(out) == 14
    assert set(out["model"]) == {"seasonal_naive"}
    assert (out["yhat_lower"] <= out["yhat"]).all()
    assert (out["yhat_upper"] >= out["yhat"]).all()


def test_forecast_worker_dispatches_to_available_model(monkeypatch):
    """The optional-import seam: when a model fitter succeeds the
    worker uses its output and tags the model column; when it raises
    (dep missing OR fit failure) the chain falls through. Pinned by
    stubbing the fitter table — the worker body is a plain pandas
    function, so the dispatch contract is testable without the dep."""
    import numpy as np

    from medallion_data_pipeline_spark.plans import forecasting as FC

    def fake_fit(pdf, horizon):
        yhat = np.full(horizon, 42.0)
        return yhat, yhat * 0.9, yhat * 1.1

    def broken_fit(pdf, horizon):
        raise ImportError("dep absent")

    monkeypatch.setattr(FC, "_MODEL_FITTERS",
                        (("prophet", broken_fit), ("sarimax", fake_fit)))
    out = FC.make_forecast_worker("warehouse", 7, "r1")(_series_pdf())
    assert set(out["model"]) == {"sarimax"}
    assert (out["yhat"] == 42.0).all()

    monkeypatch.setattr(FC, "_MODEL_FITTERS",
                        (("prophet", broken_fit), ("sarimax", broken_fit)))
    out = FC.make_forecast_worker("warehouse", 7, "r1")(_series_pdf())
    assert set(out["model"]) == {"seasonal_naive"}

    # model= pins a single fitter: others are never consulted
    monkeypatch.setattr(FC, "_MODEL_FITTERS",
                        (("prophet", fake_fit), ("sarimax", broken_fit)))
    out = FC.make_forecast_worker("warehouse", 7, "r1", model="prophet")(
        _series_pdf())
    assert set(out["model"]) == {"prophet"}


def test_forecast_worker_real_prophet():
    """Runs only where the real dep exists (skipped in this container):
    the prophet branch must fit and fill the horizon."""
    import pytest

    pytest.importorskip("prophet")
    from medallion_data_pipeline_spark.plans import forecasting as FC

    out = FC.make_forecast_worker("warehouse", 7, "r1", model="prophet")(
        _series_pdf())
    assert len(out) == 7
    assert set(out["model"]) == {"prophet"}


def test_forecast_worker_real_sarimax():
    """Runs only where statsmodels exists (skipped in this container)."""
    import pytest

    pytest.importorskip("statsmodels")
    from medallion_data_pipeline_spark.plans import forecasting as FC

    out = FC.make_forecast_worker("warehouse", 7, "r1", model="sarimax")(
        _series_pdf())
    assert len(out) == 7
    assert set(out["model"]) == {"sarimax"}


def test_global_model_seam():
    """fit_global_model returns the OLS fallback here (no lightgbm);
    its predict closure must agree with the raw theta path, and
    model='lightgbm' must raise loudly when the dep is absent."""
    import numpy as np
    import pandas as pd
    import pytest

    from medallion_data_pipeline_spark.plans import forecasting as FC

    rng = range(60)
    panel = pd.DataFrame({
        "y": [10.0 + (i % 7) for i in rng],
        "lag_1": [10.0 + ((i - 1) % 7) for i in rng],
        "lag_7": [10.0 + (i % 7) for i in rng],
        "roll_mean_7": [13.0] * 60,
        "isodow": [(i % 7) + 1.0 for i in rng],
        "month": [1.0] * 60,
    })
    import importlib.util

    name, predict = FC.fit_global_model(panel)
    if importlib.util.find_spec("lightgbm") is not None:
        assert name == "lightgbm"
    else:
        assert name == "global_linear"
        theta = FC.fit_global_linear_model(panel)
        x = [1.0, 12.0, 11.0, 13.0, 3.0, 1.0]
        assert abs(predict(x) - float(np.dot(theta, x))) < 1e-9
        with pytest.raises(ImportError):
            FC.fit_global_model(panel, model="lightgbm")


def test_global_model_real_lightgbm():
    """Runs only where lightgbm exists (skipped in this container)."""
    import pytest

    pytest.importorskip("lightgbm")
    import pandas as pd

    from medallion_data_pipeline_spark.plans import forecasting as FC

    panel = pd.DataFrame({
        "y": [float(i % 7) for i in range(60)],
        "lag_1": [float((i - 1) % 7) for i in range(60)],
        "lag_7": [float(i % 7) for i in range(60)],
        "roll_mean_7": [3.0] * 60,
        "isodow": [(i % 7) + 1.0 for i in range(60)],
        "month": [1.0] * 60,
    })
    name, predict = FC.fit_global_model(panel, model="lightgbm")
    assert name == "lightgbm"
    assert isinstance(predict([1.0, 2.0, 3.0, 3.0, 4.0, 1.0]), float)


def test_streaming_ingest_quality_gate(spark, tmp_path):
    """quality_gate=True applies the corpus pipeline's Gopher gate
    before the dedup probe: rejected docs land nowhere (corpus OR
    index), gated keepers still dedup across batches."""
    from medallion_data_pipeline_spark.streaming import ingest as SI

    words = ("the quick brown fox and the lazy dog walk over that "
             "green hill while some birds from this forest watch them "
             "with great interest during one warm morning in early "
             "spring weather today").split()
    good = " ".join(words)                      # 33 words, stopword-rich
    short = "tiny doc"                          # fails the 30-word floor
    near = good + " indeed"                     # near-dup of good

    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq
    land = tmp_path / "landing"
    land.mkdir()
    now = time.time()
    for age, (fname, rows) in enumerate((
            ("b1.parquet", [(1, good), (2, short)]),
            ("b2.parquet", [(3, near)]))):
        ids, texts = zip(*rows)
        path = str(land / fname)
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64()),
                      "text": pa.array(texts, pa.string())}), path)
        os.utime(path, (now - 60 + age * 10, now - 60 + age * 10))

    wh = str(tmp_path / "wh")
    SI.run_dedup_ingest(spark, str(land), wh, str(tmp_path / "cp"),
                        quality_gate=True)
    docs = read_table(spark, wh, "silver", "documents")
    assert {r.doc_id for r in docs.collect()} == {1}  # 2 gated, 3 deduped
    idx = read_table(spark, wh, "silver", "doc_band_index")
    assert {r.doc for r in idx.select("doc").distinct().collect()} == {1}


def test_backtest_perfect_periodic_series_scores_100(spark):
    """backtest_forecast on a zero-drift weekly-periodic series: the
    seasonal-naive worker reproduces the holdout exactly, so mape=0,
    bias=0, accuracy_pct=100, and every actual sits inside the ±20%
    band (coverage=1). Pins the hold-out split (train max = full max −
    horizon), the metric arithmetic, and the MIN_SERIES_LEN gate (a
    second entity with a too-short train prefix must be absent)."""
    import datetime as dt

    from medallion_data_pipeline_spark.plans.forecasting import backtest_forecast

    d0 = dt.date(2024, 1, 1)
    week = [10.0, 20.0, 30.0, 40.0, 30.0, 20.0, 10.0]
    rows = [("e1", d0 + dt.timedelta(days=i), week[i % 7]) for i in range(35)]
    # e2: 35-day span but horizon=14 leaves a 21-day... make it short:
    # 20 days total -> train 6 < MIN_SERIES_LEN -> excluded entirely
    rows += [("e2", d0 + dt.timedelta(days=i), 5.0) for i in range(20)]
    series = spark.createDataFrame(rows, "entity_id string, ds date, y double")

    out = backtest_forecast(series, horizon=14, model="seasonal_naive")
    got = {r["entity_id"]: r.asDict() for r in out.collect()}
    assert set(got) == {"e1"}
    m = got["e1"]
    assert m["n_train"] == 21 and m["n_eval"] == 14
    assert m["mape"] == 0.0 and m["bias"] == 0.0
    assert m["accuracy_pct"] == 100.0
    assert m["smape"] == 0.0
    assert m["interval_coverage"] == 1.0


def test_streaming_jsonl_crawl_ingest(spark, tmp_path):
    """Crawl-shard JSONL -> keyed merge into bronze + per-batch reject
    partitions: later shards upsert on doc_id, malformed lines land in
    the audit trail with their raw text, and a full replay (fresh
    checkpoint, same landing dir) converges to the same bronze AND
    reject state."""
    from pyspark.sql import types as T

    from medallion_data_pipeline_spark.streaming import ingest as SI

    land = tmp_path / "landing"
    land.mkdir()
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    (land / "shard1.json").write_text(
        '{"doc_id": 1, "text": "alpha"}\n'
        '{"doc_id": 2, "text": "beta"}\n'
        'garbage line\n')
    wh = str(tmp_path / "wh")

    SI.run_jsonl_ingest(spark, str(land), wh, "docs", schema,
                        str(tmp_path / "cp1"), pk=["doc_id"])
    bronze = f"{wh}/bronze/docs"
    rejects = f"{wh}/audit/docs_jsonl_rejects"
    got = {r.doc_id: r.text for r in spark.read.parquet(bronze).collect()}
    assert got == {1: "alpha", 2: "beta"}
    rej = spark.read.parquet(rejects).collect()
    assert [r.raw_line for r in rej] == ["garbage line"]

    # second shard: pk update + new doc + another bad line
    (land / "shard2.json").write_text(
        '{"doc_id": 2, "text": "beta v2"}\n'
        '{"doc_id": 3, "text": "gamma"}\n'
        '{"doc_id": 4, "text": "trunc\n')
    SI.run_jsonl_ingest(spark, str(land), wh, "docs", schema,
                        str(tmp_path / "cp1"), pk=["doc_id"])
    got = {r.doc_id: r.text for r in spark.read.parquet(bronze).collect()}
    assert got == {1: "alpha", 2: "beta v2", 3: "gamma"}
    raws = sorted(r.raw_line for r in spark.read.parquet(rejects).collect())
    assert raws == ["garbage line", '{"doc_id": 4, "text": "trunc']

    # full replay, fresh checkpoint: same bronze state, same reject
    # SET (each replayed batch overwrites its own partition)
    SI.run_jsonl_ingest(spark, str(land), wh, "docs", schema,
                        str(tmp_path / "cp2"), pk=["doc_id"])
    got2 = {r.doc_id: r.text for r in spark.read.parquet(bronze).collect()}
    assert got2 == got
    raws2 = sorted(r.raw_line for r in spark.read.parquet(rejects).collect())
    assert raws2 == raws


def test_streaming_cms_accumulates_and_replays_idempotently(spark, tmp_path):
    """Streaming CMS: per-batch partial sketches sum to EXACTLY the
    batch sketch of the full corpus (merge = counter addition, the
    distributive property executed); estimates from the merged sketch
    upper-bound exact counts; a full replay (fresh checkpoint)
    converges to the same counters."""
    from medallion_data_pipeline_spark.operators import sketch as K
    from medallion_data_pipeline_spark.streaming import ingest as SI

    land = tmp_path / "docs"
    land.mkdir()
    (land / "s1.json").write_text(
        '{"doc_id": 1, "text": "spark join join scan"}\n'
        '{"doc_id": 2, "text": "hash join spark"}\n')
    (land / "s2.json").write_text(
        '{"doc_id": 3, "text": "scan scan window spark"}\n')
    wh = str(tmp_path / "wh")

    SI.run_cms_stream(spark, str(land), wh, str(tmp_path / "cp1"))
    merged = {(r.j, r.b): r.c
              for r in SI.read_cms_counters(spark, wh).collect()}

    # the merged stream sketch equals the one-shot batch sketch
    all_words = spark.createDataFrame(
        [(w,) for w in ("spark join join scan hash join spark "
                        "scan scan window spark").split()], "word string")
    batch = {(r.j, r.b): r.c for r in K.cms_counters(all_words).collect()}
    assert merged == batch

    # estimates from the merged sketch upper-bound exact counts
    est = {r.word: r.cms_est for r in K.cms_estimate(
        all_words, SI.read_cms_counters(spark, wh)).collect()}
    exact = {"spark": 3, "join": 3, "scan": 3, "hash": 1, "window": 1}
    for w, c in exact.items():
        assert est[w] >= c

    # full replay with a fresh checkpoint: identical counters
    SI.run_cms_stream(spark, str(land), wh, str(tmp_path / "cp2"))
    again = {(r.j, r.b): r.c
             for r in SI.read_cms_counters(spark, wh).collect()}
    assert again == merged


def test_streaming_jsonl_url_canonical_dedup(spark, tmp_path):
    """canonicalize_url_from: crawl shards whose raw URLs differ only
    in case/port/fragment/tracking-params merge to ONE bronze row per
    canonical page (pk = canonical_url), later shards win on the same
    page, and url_host is staged for per-host budget caps. A full
    replay converges to the same state."""
    from pyspark.sql import types as T

    from medallion_data_pipeline_spark.streaming import ingest as SI

    land = tmp_path / "landing"
    land.mkdir()
    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("text", T.StringType()),
    ])
    (land / "s1.json").write_text(
        '{"url": "HTTP://Example.COM:80/a/?utm_source=x#f", "text": "v1"}\n'
        '{"url": "https://other.net/b?b=2&a=1", "text": "w1"}\n')
    wh = str(tmp_path / "wh")
    SI.run_jsonl_ingest(spark, str(land), wh, "pages", schema,
                        str(tmp_path / "cp1"), pk=["canonical_url"],
                        canonicalize_url_from="url")
    first = {r.canonical_url: r.text
             for r in read_table(spark, wh, "bronze", "pages").collect()}
    assert first == {"http://example.com/a": "v1",
                     "https://other.net/b?a=1&b=2": "w1"}

    # second shard: same two PAGES under differently-messy raw URLs —
    # the keyed merge must update, not append
    (land / "s2.json").write_text(
        '{"url": "http://example.com/a", "text": "v2"}\n'
        '{"url": "https://other.net/b?a=1&b=2&fbclid=z", "text": "w2"}\n')
    SI.run_jsonl_ingest(spark, str(land), wh, "pages", schema,
                        str(tmp_path / "cp1"), pk=["canonical_url"],
                        canonicalize_url_from="url")
    rows = {r.canonical_url: (r.text, r.url_host)
            for r in read_table(spark, wh, "bronze", "pages").collect()}
    assert rows == {
        "http://example.com/a": ("v2", "example.com"),
        "https://other.net/b?a=1&b=2": ("w2", "other.net"),
    }

    # replay with a fresh checkpoint: identical bronze
    SI.run_jsonl_ingest(spark, str(land), wh, "pages", schema,
                        str(tmp_path / "cp2"), pk=["canonical_url"],
                        canonicalize_url_from="url")
    again = {r.canonical_url: (r.text, r.url_host)
             for r in read_table(spark, wh, "bronze", "pages").collect()}
    assert again == rows


def test_streaming_bloom_accumulates_and_is_replay_proof(spark, tmp_path):
    """Streaming Bloom filter: per-batch partial filters OR to exactly
    the one-shot batch filter of the full digest set; the merged
    filter reports every streamed digest present and a fresh digest
    absent; replaying the stream (fresh checkpoint) converges to the
    same packed words — doubly guaranteed, by partition overwrite AND
    because OR is idempotent."""
    from medallion_data_pipeline_spark.operators import sketch as K
    from medallion_data_pipeline_spark.streaming import ingest as SI

    land = tmp_path / "docs"
    land.mkdir()
    (land / "s1.json").write_text(
        '{"doc_id": 1, "text": "spark join scan"}\n'
        '{"doc_id": 2, "text": "hash join spark"}\n')
    (land / "s2.json").write_text(
        '{"doc_id": 3, "text": "scan window spark"}\n')
    wh = str(tmp_path / "wh")

    SI.run_bloom_stream(spark, str(land), wh, str(tmp_path / "cp1"))
    merged = {(r.word_idx, r.bits)
              for r in SI.read_bloom_bits(spark, wh).collect()}

    texts = ["spark join scan", "hash join spark", "scan window spark"]
    all_items = spark.createDataFrame(
        [(t,) for t in texts], "text string").select(
        F.md5("text").alias("item"))
    batch = {(r.word_idx, r.bits)
             for r in K.bloom_bits(all_items).collect()}
    assert merged == batch

    probes = all_items.unionByName(
        spark.createDataFrame([("never seen",)], "text string")
        .select(F.md5("text").alias("item")))
    got = {r.item: r.might_contain for r in K.bloom_might_contain(
        probes, SI.read_bloom_bits(spark, wh)).collect()}
    seen = {r.item for r in all_items.collect()}
    assert all(got[i] for i in seen)
    fresh = [i for i in got if i not in seen]
    assert len(fresh) == 1 and not got[fresh[0]]

    SI.run_bloom_stream(spark, str(land), wh, str(tmp_path / "cp2"))
    again = {(r.word_idx, r.bits)
             for r in SI.read_bloom_bits(spark, wh).collect()}
    assert again == merged


def test_streaming_jsonl_host_budget_cap(spark, tmp_path):
    """host_budget: bronze never exceeds N pages per host across
    batches — new keys admitted deterministically (pk order) up to
    remaining capacity, overflow lands in the host_capped audit
    trail, UPDATES to present keys pass freely, and a replay
    converges (updates consume no capacity)."""
    from pyspark.sql import types as T

    from medallion_data_pipeline_spark.streaming import ingest as SI

    land = tmp_path / "landing"
    land.mkdir()
    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("text", T.StringType()),
    ])
    kw = dict(pk=["canonical_url"], canonicalize_url_from="url",
              host_budget=2)
    (land / "s1.json").write_text(
        '{"url": "http://a.com/1", "text": "a1"}\n'
        '{"url": "http://a.com/2", "text": "a2"}\n'
        '{"url": "http://b.net/1", "text": "b1"}\n')
    wh = str(tmp_path / "wh")
    SI.run_jsonl_ingest(spark, str(land), wh, "pages", schema,
                        str(tmp_path / "cp1"), **kw)
    bronze = f"{wh}/bronze/pages"
    got = {r.canonical_url: r.text
           for r in spark.read.parquet(bronze).collect()}
    assert got == {"http://a.com/1": "a1", "http://a.com/2": "a2",
                   "http://b.net/1": "b1"}

    # batch 2: a.com FULL -> /3 and /4 overflow to the audit trail;
    # the update to /1 passes; b.net takes one more then is full
    (land / "s2.json").write_text(
        '{"url": "http://a.com/3", "text": "a3"}\n'
        '{"url": "http://a.com/4", "text": "a4"}\n'
        '{"url": "http://a.com/1", "text": "a1 v2"}\n'
        '{"url": "http://b.net/2", "text": "b2"}\n')
    SI.run_jsonl_ingest(spark, str(land), wh, "pages", schema,
                        str(tmp_path / "cp1"), **kw)
    got = {r.canonical_url: r.text
           for r in spark.read.parquet(bronze).collect()}
    assert got == {"http://a.com/1": "a1 v2", "http://a.com/2": "a2",
                   "http://b.net/1": "b1", "http://b.net/2": "b2"}
    capped = sorted(
        r.canonical_url for r in
        read_table(spark, wh, "audit", "pages_host_capped").collect())
    assert capped == ["http://a.com/3", "http://a.com/4"]

    # replay from scratch: keepers are already present -> updates,
    # no capacity consumed; bronze unchanged
    SI.run_jsonl_ingest(spark, str(land), wh, "pages", schema,
                        str(tmp_path / "cp2"), **kw)
    again = {r.canonical_url: r.text
             for r in spark.read.parquet(bronze).collect()}
    assert again == got


def test_bloom_epoch_assignment_is_replay_deterministic():
    """_bloom_epoch_assignments: cumulative fill up to epoch_rows then
    roll; assignment of a batch is a pure function of EARLIER batches'
    immutable counts, so recomputing with the same meta (any insertion
    order) reproduces it — the replay-safety argument."""
    from medallion_data_pipeline_spark.streaming.ingest import (
        _bloom_epoch_assignments)

    meta = [(0, 4), (1, 2), (2, 2), (3, 1)]
    assign, cur = _bloom_epoch_assignments(meta, epoch_rows=4)
    assert assign == {0: 0, 1: 1, 2: 1, 3: 2} and cur == 2
    # shuffled meta order -> identical assignment
    assign2, _ = _bloom_epoch_assignments(list(reversed(meta)), 4)
    assert assign2 == assign
    # a replayed batch (same id, same count) changes nothing
    assign3, _ = _bloom_epoch_assignments(meta, 4)
    assert assign3 == assign
    assert _bloom_epoch_assignments([], 4) == ({}, 0)


def test_streaming_bloom_epochs_roll_and_expire(spark, tmp_path):
    """run_bloom_epoch_stream: batches fill epochs by cumulative count
    (epoch_rows), each epoch is an independently sized filter, only
    the newest live_epochs survive on disk, probes OR across the live
    epochs (expired items forgotten, live items all seen), and a
    replay with a fresh checkpoint converges to the same state."""
    import json as _json
    import os as _os

    from medallion_data_pipeline_spark.operators import sketch as K
    from medallion_data_pipeline_spark.streaming import ingest as SI

    land = tmp_path / "docs"
    land.mkdir()
    wh = str(tmp_path / "wh")
    kw = dict(epoch_rows=4, live_epochs=2, fpr=0.01)

    def feed(name, ids):
        (land / name).write_text("".join(
            _json.dumps({"doc_id": i, "text": f"doc text {i}"}) + "\n"
            for i in ids))
        SI.run_bloom_epoch_stream(spark, str(land), wh,
                                  str(tmp_path / "cp1"), **kw)

    feed("s1.json", range(0, 4))      # batch 0 -> epoch 0 (fills it)
    feed("s2.json", range(4, 8))      # batch 1 -> epoch 1 (fills it)
    feed("s3.json", range(8, 12))     # batch 2 -> epoch 2; epoch 0 expires

    eroot = _os.path.join(wh, "sketch", "bloom_epochs")
    assert sorted(_os.listdir(eroot)) == ["epoch=1", "epoch=2"]

    m = K.bloom_m_for(4, 0.01)
    live = SI.read_bloom_epoch_bits(spark, wh, live_epochs=2)
    probes = spark.range(12).select(
        F.md5(F.concat(F.lit("doc text "), F.col("id").cast("string")))
        .alias("item"))
    got = {r.item: r.might_contain for r in
           K.bloom_epochs_might_contain(probes, live, m=m).collect()}
    digest = {i: r.item for i, r in enumerate(spark.range(12).select(
        F.md5(F.concat(F.lit("doc text "), F.col("id").cast("string")))
        .alias("item")).collect())}
    # expired epoch 0 items forgotten; live epochs all seen
    assert not any(got[digest[i]] for i in range(0, 4))
    assert all(got[digest[i]] for i in range(4, 12))

    # full replay, fresh checkpoint: same directories, same filters
    before = {r.epoch: r.bits for r in live.groupBy("epoch")
              .agg(F.bit_xor("bits").alias("bits")).collect()}
    SI.run_bloom_epoch_stream(spark, str(land), wh,
                              str(tmp_path / "cp2"), **kw)
    assert sorted(_os.listdir(eroot)) == ["epoch=1", "epoch=2"]
    after_df = SI.read_bloom_epoch_bits(spark, wh, live_epochs=2)
    after = {r.epoch: r.bits for r in after_df.groupBy("epoch")
             .agg(F.bit_xor("bits").alias("bits")).collect()}
    assert after == before

    # a replayed RETIRED batch alone must NOT delete the live epochs:
    # it re-lands in its ORIGINAL epoch (0), but expiry keys off the
    # walk's NEWEST epoch — keying off the replayed batch's own epoch
    # would rmtree epochs 1 and 2 (regression-pinned)
    sink = SI.bloom_epoch_stream_sink(wh, **kw)
    items0 = spark.range(0, 4).select(
        F.md5(F.concat(F.lit("doc text "), F.col("id").cast("string")))
        .alias("item"))
    sink(items0, 0)
    assert sorted(_os.listdir(eroot)) == ["epoch=1", "epoch=2"]
    after2 = {r.epoch: r.bits
              for r in SI.read_bloom_epoch_bits(spark, wh, live_epochs=2)
              .groupBy("epoch").agg(F.bit_xor("bits").alias("bits"))
              .collect()}
    assert after2 == before


def test_streaming_jsonl_host_budget_batch_dup_one_slot(spark, tmp_path):
    """ADVICE r13 (medium): two raw URLs in ONE micro-batch that
    canonicalize to the same page must consume one capacity slot, not
    two — before the pk-dedup-before-ranking fix, a genuinely new
    page was misrouted to the host_capped audit while bronze held
    fewer than host_budget pages for that host."""
    from pyspark.sql import types as T

    from medallion_data_pipeline_spark.streaming import ingest as SI

    land = tmp_path / "landing"
    land.mkdir()
    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("text", T.StringType()),
    ])
    # /1 arrives twice (messy + clean form -> same canonical_url);
    # budget 2 must still admit /2
    (land / "s1.json").write_text(
        '{"url": "HTTP://A.com:80/1/", "text": "a1 messy"}\n'
        '{"url": "http://a.com/1", "text": "a1"}\n'
        '{"url": "http://a.com/2", "text": "a2"}\n')
    wh = str(tmp_path / "wh")
    SI.run_jsonl_ingest(spark, str(land), wh, "pages", schema,
                        str(tmp_path / "cp1"), pk=["canonical_url"],
                        canonicalize_url_from="url", host_budget=2)
    got = sorted(r.canonical_url
                 for r in read_table(spark, wh, "bronze", "pages").collect())
    assert got == ["http://a.com/1", "http://a.com/2"]
    import os as _os
    capped_root = f"{wh}/audit/pages_host_capped"
    if _os.path.isdir(capped_root):
        assert spark.read.parquet(capped_root).count() == 0


def test_streaming_phash_index_self_heals(spark, tmp_path):
    """ADVICE r13: a crash BETWEEN the media_docs append and the
    media_phash_index append must not permanently blind the index —
    each batch re-derives index rows for accepted docs missing from
    the index, so a later perceptual duplicate is still flagged."""
    import json as _json
    import shutil as _shutil

    from medallion_data_pipeline_spark.streaming import ingest as SI

    base = ("key agg row scan slow fast table value part hash value "
            "table part a row fast merge batch part value line")
    variant = base[:9] + "q" + base[10:]

    land = tmp_path / "media"
    land.mkdir()
    (land / "s1.json").write_text(
        _json.dumps({"doc_id": 1, "text": base}) + "\n")
    wh = str(tmp_path / "wh")
    SI.run_phash_ingest(spark, str(land), wh, str(tmp_path / "cp1"))
    idx = f"{wh}/silver/media_phash_index"
    assert {r.doc_id for r in spark.read.parquet(idx).collect()} == {1}

    # simulate the crash window: docs append landed, index append lost
    _shutil.rmtree(idx)

    (land / "s2.json").write_text(
        _json.dumps({"doc_id": 3, "text": variant}) + "\n")
    SI.run_phash_ingest(spark, str(land), wh, str(tmp_path / "cp1"))

    # the variant was flagged against the SELF-HEALED index…
    flags = {r.doc_id: r.dup_of for r in
             read_table(spark, wh, "audit", "media_phash_dups").collect()}
    assert flags == {3: 1}
    # …and the index again holds exactly the keepers' fingerprints
    assert {r.doc_id for r in spark.read.parquet(idx).collect()} == {1}
    docs = f"{wh}/silver/media_docs"
    assert {r.doc_id for r in spark.read.parquet(docs).collect()} == {1}


def test_streaming_phash_incremental_dedup(spark, tmp_path):
    """Incremental perceptual dedup: a 1-char variant arriving in a
    LATER batch is flagged against the maintained fingerprint index
    (dup_of = the accepted original, hamming <= 4); within-batch
    variants keep the lower id; distinct texts pass; the index holds
    exactly the keepers' fingerprints; a full replay converges."""
    from medallion_data_pipeline_spark.streaming import ingest as SI

    base = ("key agg row scan slow fast table value part hash value "
            "table part a row fast merge batch part value line")
    other = ("window merge spark merge batch table a big a join batch "
             "table window big the join line agg small slow value row")
    third = ("filter group sort shuffle spill cache limit scan probe "
             "build stage task core node rack disk page block byte row")
    variant = base[:9] + "q" + base[10:]

    land = tmp_path / "media"
    land.mkdir()
    import json as _json
    (land / "s1.json").write_text(
        _json.dumps({"doc_id": 1, "text": base}) + "\n"
        + _json.dumps({"doc_id": 2, "text": other}) + "\n")
    wh = str(tmp_path / "wh")
    SI.run_phash_ingest(spark, str(land), wh, str(tmp_path / "cp1"))

    docs = f"{wh}/silver/media_docs"
    idx = f"{wh}/silver/media_phash_index"
    assert {r.doc_id for r in spark.read.parquet(docs).collect()} == {1, 2}

    # batch 2: a perceptual variant of doc 1 (cross-batch flag) and
    # two within-batch copies of a NEW text (lower id kept)
    (land / "s2.json").write_text(
        _json.dumps({"doc_id": 3, "text": variant}) + "\n"
        + _json.dumps({"doc_id": 5, "text": third}) + "\n"
        + _json.dumps({"doc_id": 4, "text": third}) + "\n")
    SI.run_phash_ingest(spark, str(land), wh, str(tmp_path / "cp1"))

    kept = {r.doc_id for r in spark.read.parquet(docs).collect()}
    assert kept == {1, 2, 4}
    flags = {r.doc_id: (r.dup_of, r.hamming) for r in
             read_table(spark, wh, "audit", "media_phash_dups").collect()}
    assert flags[3][0] == 1 and flags[3][1] <= 4    # cross-batch
    assert flags[5] == (4, 0)                       # within-batch, lower id
    idx_ids = {r.doc_id for r in spark.read.parquet(idx).collect()}
    assert idx_ids == kept

    # full replay, fresh checkpoint: same state
    SI.run_phash_ingest(spark, str(land), wh, str(tmp_path / "cp2"))
    assert {r.doc_id for r in spark.read.parquet(docs).collect()} == kept
    assert {r.doc_id for r in spark.read.parquet(idx).collect()} == kept
