"""Structured Streaming operators over the events stream.

The reference is batch-only (SURVEY §2.8; Kafka is a roadmap item,
reference README.md:502-506), so this module is the engine's
green-field extension: the SAME logical queries as
queries/events_q.py, expressed as streaming plans with watermarks.
Batch/stream parity is pinned by test: driving the parquet events
through readStream must reproduce the batch tumbling aggregation.

Production shape: swap the file source for Kafka
(`spark.readStream.format("kafka")...`) — the plan below is unchanged,
which is the point of Structured Streaming's unified model. At 100 TB/
day the watermark bounds state; the sink is an idempotent
foreachBatch merge keyed on (window, event_type).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .._util import read_parquet

EVENT_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])


def read_event_stream(spark: SparkSession, path: str,
                      max_files_per_trigger: int = 1) -> DataFrame:
    """File-based event stream (the smoke/test source; Kafka in prod)."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def parse_kafka_events(raw: DataFrame) -> DataFrame:
    """Decode Kafka-wire frames into typed event rows.

    `raw` has the Kafka source schema (key/value binary, topic,
    partition, offset, timestamp); the payload is a JSON event in
    `value`. Event time comes from the PAYLOAD ts (broker ingest time
    would misplace late events against the watermark). Rows whose
    payload fails to parse keep a NULL struct -> surfaced as a
    `_corrupt` flag so the caller can route them to a dead-letter sink
    instead of silently dropping.

    Broker-independent by design: works on any DataFrame with a binary
    `value` column, so the decode logic is unit-tested on batch data
    without a Kafka cluster.
    """
    parse_schema = T.StructType(
        EVENT_SCHEMA.fields + [T.StructField("_corrupt_record", T.StringType())]
    )
    parsed = raw.select(
        F.from_json(
            F.col("value").cast("string"),
            parse_schema,
            {"columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("e"),
    )
    return parsed.select(
        *[f"e.{f.name}" for f in EVENT_SCHEMA.fields],
        F.col("e._corrupt_record").isNotNull().alias("_corrupt"),
    )


def read_kafka_event_stream(spark: SparkSession, bootstrap_servers: str,
                            topic: str, starting_offsets: str = "latest",
                            max_offsets_per_trigger: int | None = None) -> DataFrame:
    """Kafka event source: same downstream plan as the file source —
    the format swap is the ONLY difference (Structured Streaming's
    unified model; reference roadmap README.md:502-506).

    `maxOffsetsPerTrigger` is the backpressure bound (records per
    micro-batch across all partitions); `failOnDataLoss=false` rides
    through broker retention evictions on restart. Requires the
    spark-sql-kafka package on the classpath (not bundled in this test
    environment — construction is covered by the batch-decode test).
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", "false")
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return parse_kafka_events(reader.load())


def hourly_rollup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming dual of queries/events_q.py::events_tumbling_hour:
    1-hour tumbling windows per event_type with late-data tolerance."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:00").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_windows(events: DataFrame, gap: str = "30 minutes",
                    watermark: str = "2 hours") -> DataFrame:
    """Streaming sessionization via session_window — the native stateful
    dual of the batch lag+cumsum sessionizer."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_millis("win.start").alias("start_ms"),
            F.unix_millis("win.end").alias("end_ms"),
            "n_events",
        )
    )


USER_TOTALS_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("total_value", T.DoubleType()),
])
_USER_STATE_SCHEMA = T.StructType([
    T.StructField("n", T.LongType()),
    T.StructField("total", T.DoubleType()),
])


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running event count + value total carried across micro-batches
    (the arbitrary-state API the built-in aggregations can't express
    when the update logic is imperative).

    State is a (n, total) tuple per user; each batch folds its rows in
    and emits the updated totals. At scale state lives in the state
    store (RocksDB provider), partitioned by the groupBy key.
    """
    import pandas as pd  # noqa: F811 (worker-side import)

    def update(key, pdfs, state):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, round(total, 2)))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]})

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=USER_TOTALS_SCHEMA,
            stateStructType=_USER_STATE_SCHEMA,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


def merge_sink(path: str, pk: list[str]):
    """foreachBatch body: idempotently MERGE each micro-batch into a
    parquet target keyed on `pk`.

    Update-mode aggregations re-emit a key whenever it changes; a
    replayed batch after restart re-emits the same keys. Both collapse
    to last-write-wins on pk, so results are exactly-once over
    at-least-once delivery. The overwrite goes through a staging dir +
    atomic rename because the merge plan READS the same target path
    (self-overwrite guard, local-fs semantics). On a real cluster swap
    the body for `MERGE INTO` on a Delta/Iceberg table — the stream
    wiring is unchanged.
    """
    from ..operators.upsert import merge_upsert

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        import os
        import shutil

        spark = batch_df.sparkSession
        batch = batch_df.dropDuplicates(pk)
        if os.path.isdir(path):
            merged = merge_upsert(read_parquet(spark, path), batch, pk)
        else:
            merged = batch
        staging = path + ".staging"
        merged.write.mode("overwrite").parquet(staging)
        if os.path.isdir(path):
            shutil.rmtree(path)
        os.replace(staging, path)

    return _sink


def jdbc_merge_sink(url: str, table: str, pk: list[str],
                    properties: dict | None = None):
    """foreachBatch body: idempotently MERGE each micro-batch into a
    serving RDBMS keyed on ``pk`` — the stream-to-dashboard-database
    shape (the reference serves its dashboards from PostgreSQL;
    gold/push.py). Each batch is deduped on pk, staged with the
    batched JDBC writer, and folded in with one server-side MERGE
    (sources/sinks.py::upsert_jdbc), so update-mode re-emissions and
    post-restart replays collapse to last-write-wins: exactly-once
    results over at-least-once delivery, same contract as
    :func:`merge_sink`. Executed in-sandbox against embedded Derby."""
    from ..sources.sinks import upsert_jdbc

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        # upsert_jdbc enforces the pk dedup + NULL-pk drop itself
        upsert_jdbc(batch_df, url, table, pk, properties=properties)

    return _sink


def run_merge_stream(stream_df: DataFrame, path: str, pk: list[str],
                     checkpoint_dir: str) -> None:
    """Drive an update-mode streaming aggregation into an idempotent
    keyed parquet target via foreachBatch (the production sink shape
    promised in the module docstring), synchronously to exhaustion."""
    _run_update_stream(stream_df, merge_sink(path, pk), checkpoint_dir)


def run_merge_stream_jdbc(stream_df: DataFrame, url: str, table: str,
                          pk: list[str], checkpoint_dir: str,
                          properties: dict | None = None) -> None:
    """`run_merge_stream` with the RDBMS target: update-mode stream →
    foreachBatch → staged server-side MERGE per micro-batch."""
    _run_update_stream(
        stream_df, jdbc_merge_sink(url, table, pk, properties),
        checkpoint_dir)


def _run_update_stream(stream_df: DataFrame, sink, checkpoint_dir: str) -> None:
    q = (
        stream_df.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def run_to_memory(stream_df: DataFrame, name: str,
                  output_mode: str = "complete") -> None:
    """Drive a streaming plan over all currently-available input and
    stop — the synchronous smoke harness (memory sink). Results land in
    the `name` temp view. Aggregating plans use the default complete
    mode; stateless / dedup plans need ``output_mode="append"``."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def enrich_with_dimension(events: DataFrame, dim: DataFrame,
                          on: str) -> DataFrame:
    """Stream-static join: enrich the event stream with a broadcast
    dimension snapshot. Spark re-plans the static side per micro-batch,
    so a slowly-changing dim table is re-read without restarting the
    query; the join itself is stateless (no watermark needed). At
    cluster scale the dim side stays a broadcast hash join — the
    stream never shuffles for the enrichment."""
    return events.join(F.broadcast(dim), on, "left")


def dedup_within_watermark(events: DataFrame, keys: list[str],
                           watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup with BOUNDED state:
    dropDuplicatesWithinWatermark keeps a key's fingerprint only until
    the watermark passes it, so state size tracks the late-data window
    — the streaming dual of the batch hash-groupBy dedup
    (operators/dedup.py), and the scale-safe form of the unbounded
    dropDuplicates."""
    return events.withWatermark("ts", watermark) \
        .dropDuplicatesWithinWatermark(keys)


def clicks_to_purchases_join(events: DataFrame,
                             horizon_minutes: int = 30,
                             watermark: str = "2 hours") -> DataFrame:
    """Watermarked STREAM-STREAM interval join: each purchase joins the
    same user's clicks from the preceding ``horizon_minutes``. Both
    sides carry a watermark and the join condition bounds event-time
    distance, so Spark can expire buffered state — the interval-join
    contract that keeps stream-stream joins bounded-memory at scale.
    Batch dual: operators/temporal.py::range_join_count (the same
    time-bounded pairs, counted per left row)."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"),
                F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", watermark)
    )
    horizon = F.expr(f"INTERVAL {horizon_minutes} MINUTES")
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - horizon)
    )
    return purchases.join(clicks, cond).select(
        F.col("p_user").alias("user_id"), "purchase_id", "click_id",
        F.unix_millis("purchase_ts").alias("purchase_ms"),
        F.unix_millis("click_ts").alias("click_ms"),
    )
