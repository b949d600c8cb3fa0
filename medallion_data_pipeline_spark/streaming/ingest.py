"""Streaming bronze ingest — the reference's streaming roadmap item
(reference README.md:502-506) over the file-source path.

The batch loader lands CSV exports with PERMISSIVE parsing and per-pk
ON CONFLICT upsert semantics (bronze/data_loader.py:74-77, 112-119).
This is the same contract as a continuous plan: watch a landing
directory with ``readStream``, and land each micro-batch through the
idempotent keyed merge sink (streaming/events.py::merge_sink) — new
files upsert on pk, replayed batches after restart are no-ops. Swapping
the file source for Kafka (events.py::read_kafka_event_stream) changes
nothing downstream: that unified model is the point of Structured
Streaming.

At 100 TB/day: the landing dir becomes an object-store prefix with
file-notification discovery, the merge becomes MERGE INTO on a
Delta/Iceberg bronze table, and maxFilesPerTrigger bounds batch size.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .._util import read_parquet
from ..plans.bronze import PRIMARY_KEYS
from .events import merge_sink


def read_csv_stream(spark: SparkSession, csv_dir: str, schema: str,
                    max_files_per_trigger: int = 1) -> DataFrame:
    """PERMISSIVE streaming CSV source over a landing directory.
    Schema is mandatory for streaming reads — pass the bronze
    accept-anything schema (ids + TEXT columns)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .csv(csv_dir)
    )


def run_csv_ingest(spark: SparkSession, csv_dir: str, warehouse: str,
                   table: str, schema: str, checkpoint_dir: str,
                   max_files_per_trigger: int = 1) -> None:
    """Drain all currently-available landing files into bronze/<table>
    with per-pk last-write-wins merge, synchronously.

    Restart-safe: the checkpoint remembers consumed files, and the merge
    sink is idempotent on pk, so an at-least-once replay after a crash
    converges to the same bronze state.
    """
    stream = read_csv_stream(spark, csv_dir, schema, max_files_per_trigger)
    target = os.path.join(warehouse, "bronze", table)
    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(merge_sink(target, [PRIMARY_KEYS[table]]))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def dedup_ingest_sink(warehouse: str, threshold: float = 0.4,
                      k: int = 3, num_hashes: int = 16, bands: int = 4,
                      quality_gate: bool = False,
                      max_bucket: int | None = None):
    """foreachBatch sink for CONTINUOUS corpus construction with
    incremental near-dup filtering — the streaming form of
    ``operators.dedup.incremental_near_duplicates``: each micro-batch
    of documents is probed against the maintained (doc, band_key)
    MinHash index of everything accepted so far; survivors are appended
    to the corpus AND their band rows to the index, so the next batch
    probes an index that already includes them. Per-batch cost is
    batch size + band collisions — the corpus is never re-shingled.

    Maintained tables under ``warehouse``:
      - ``silver/documents``       accepted docs (doc_id, text)
      - ``silver/doc_band_index``  their (doc, band_key) rows

    Idempotent over at-least-once replay: a doc_id already in the
    corpus is dropped before probing, so a replayed batch appends
    nothing. At 100 TB both appends become transactional writes to a
    Delta/Iceberg table (one commit per batch); the probe join and the
    accept/append logic are unchanged.

    ``quality_gate=True`` applies the batch corpus pipeline's
    Gopher/C4 gate (plans/corpus.py::quality_gate) BEFORE the replay
    guard and dedup probe — the streaming form of the curation
    pipeline's cheap-filters-first staging rule: rejected docs never
    touch the index.

    ``max_bucket=N`` maintains the crawl-scale per-bucket index cap
    (operators/dedup.py::band_index docstring): each band bucket holds
    at most N members across ALL batches — a new doc's band rows are
    appended only up to the bucket's remaining capacity (lowest new
    ids first; existing members are never evicted, so the retained set
    is the N earliest-accepted members, deterministic given arrival
    order + the replay guard). Without the cap, a boilerplate-heavy
    stream grows one giant bucket that multiplies every matching
    newcomer's candidates by the bucket size — the index stays
    bounded per bucket with the cap, and any retained member still
    flags a true boilerplate newcomer (the clique is mutually >=
    threshold). The capacity lookup counts ONLY the buckets this
    batch touches (left-semi on the batch's band keys), so per-batch
    cost stays proportional to batch size + collisions, not |index|.
    """
    from ..operators.dedup import band_index, incremental_near_duplicates
    from ..plans.corpus import quality_gate as _gate

    docs_path = os.path.join(warehouse, "silver", "documents")
    idx_path = os.path.join(warehouse, "silver", "doc_band_index")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.select("doc_id", "text").dropDuplicates(["doc_id"])
        if quality_gate:
            batch = _gate(batch)
        have_corpus = os.path.isdir(docs_path)
        if have_corpus:
            corpus = read_parquet(spark, docs_path)
            # replay guard: already-accepted ids are no-ops
            batch = batch.join(corpus.select("doc_id"), "doc_id", "left_anti")
        batch = batch.persist()
        # the batch's band rows serve BOTH the dedup probe and the
        # index append below — compute the shingle/minhash pass once
        # and thread it through via new_index (one pass per batch
        # instead of two; at crawl scale shingling IS the map cost).
        # EAGER checkpoint, not persist: the rows' lineage includes
        # the replay guard's read of docs_path, and the index append
        # runs AFTER this batch's keepers were appended there — a
        # cache miss at that point would recompute the guard against
        # a listing that now contains the batch's own output and
        # silently drop the keepers' rows (caught by the ingest test).
        batch_bands = band_index(batch, k=k, num_hashes=num_hashes,
                                 bands=bands).localCheckpoint(eager=True)
        try:
            if have_corpus:
                idx = read_parquet(spark, idx_path)
                flagged = incremental_near_duplicates(
                    corpus, batch, k=k, num_hashes=num_hashes, bands=bands,
                    threshold=threshold, corpus_index=idx,
                    new_index=batch_bands,
                ).select("doc_id")
            else:
                # first batch: only within-batch dedup (empty corpus)
                empty = batch.limit(0)
                flagged = incremental_near_duplicates(
                    empty, batch, k=k, num_hashes=num_hashes, bands=bands,
                    threshold=threshold, new_index=batch_bands,
                ).select("doc_id")
            # Eager lineage truncation BEFORE the appends: keepers'
            # plan reads docs_path (replay guard + verify join), and
            # appending to that path invalidates any cached plan over
            # it — the second write would silently recompute against a
            # file list that now contains this batch's own output.
            # localCheckpoint pins the batch-sized result first (the
            # same self-read guard merge_sink solves with staging+
            # rename; a Delta/Iceberg MERGE removes the need entirely).
            keepers = (batch.join(flagged, "doc_id", "left_anti")
                       .localCheckpoint(eager=True))
            keepers.write.mode("append").parquet(docs_path)
            # keepers' band rows = the cached batch rows filtered to
            # the surviving ids — no second shingle/minhash pass
            new_idx = batch_bands.join(
                keepers.select(F.col("doc_id").alias("doc")), "doc",
                "left_semi")
            if max_bucket:
                from pyspark.sql.window import Window as W

                new_idx = new_idx.withColumn(
                    "_rk",
                    F.row_number().over(
                        W.partitionBy("band_key").orderBy(F.asc("doc"))))
                if have_corpus:
                    # remaining capacity per TOUCHED bucket only: count
                    # existing members just for the batch's band keys
                    # (left-semi against the batch-sized key set), so
                    # the lookup never scans untouched buckets' rows
                    # into the aggregation
                    touched = new_idx.select("band_key").distinct()
                    have = (
                        read_parquet(spark, idx_path)
                        .join(F.broadcast(touched), "band_key",
                              "left_semi")
                        .groupBy("band_key")
                        .agg(F.count(F.lit(1)).alias("_have")))
                    new_idx = (
                        new_idx.join(F.broadcast(have), "band_key",
                                     "left")
                        .filter(F.col("_rk") <= F.lit(max_bucket)
                                - F.coalesce(F.col("_have"), F.lit(0)))
                        .drop("_have"))
                else:
                    new_idx = new_idx.filter(F.col("_rk") <= max_bucket)
                # same self-read guard as keepers: pin the capped rows
                # before appending to the path their plan reads
                new_idx = new_idx.drop("_rk").localCheckpoint(eager=True)
            new_idx.write.mode("append").parquet(idx_path)
        finally:
            batch.unpersist()

    return _sink


def run_dedup_ingest(spark: SparkSession, docs_dir: str, warehouse: str,
                     checkpoint_dir: str, threshold: float = 0.4,
                     max_files_per_trigger: int = 1,
                     quality_gate: bool = False,
                     max_bucket: int | None = None) -> None:
    """Drain a landing directory of document parquet files through the
    incremental-dedup sink, synchronously (batch-drain form of the
    always-on stream)."""
    stream = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(docs_dir)
    )
    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(dedup_ingest_sink(warehouse, threshold,
                                        quality_gate=quality_gate,
                                        max_bucket=max_bucket))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def read_jsonl_stream(spark: SparkSession, jsonl_dir: str, schema,
                      max_files_per_trigger: int = 1) -> DataFrame:
    """PERMISSIVE streaming JSONL source over a crawl landing
    directory (sources/jsonl.py's contract, streamed): explicit
    schema + corrupt-record capture, one-object-per-line framing.
    Crawl shards arrive continuously; this is the same unified-model
    story as read_csv_stream — downstream plans don't know whether
    the shards came as files or a Kafka topic."""
    from ..sources.jsonl import CORRUPT_COL, corrupt_capture_schema

    return (
        spark.readStream.schema(corrupt_capture_schema(schema))
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("multiLine", "false")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(jsonl_dir)
    )


def jsonl_bronze_sink(warehouse: str, table: str, pk: list[str],
                      canonicalize_url_from: str | None = None,
                      host_budget: int | None = None):
    """foreachBatch body for crawl-shard ingest: split each
    micro-batch on the corrupt column; good rows take the idempotent
    keyed merge into bronze/<table>; reject rows (raw line + whatever
    fields DID parse) land under audit/<table>_jsonl_rejects/
    batch_id=<n> — a replayed batch rewrites ITS OWN partition dir,
    so rejects are exactly-once over at-least-once delivery without
    needing a pk they don't have.

    ``canonicalize_url_from``: name of a raw-URL column; when set,
    good rows gain ``canonical_url`` + ``url_host``
    (functions/urls.py, native expressions) BEFORE the keyed merge —
    pass ``pk=["canonical_url"]`` and the sink dedups the crawl by
    canonical page identity as shards land (the same dedup the gated
    dedup_canonical_url query certifies), with url_host ready for
    downstream per-host budget caps.

    ``host_budget=N`` (requires ``canonicalize_url_from``) enforces
    the per-host cap ACROSS batches: bronze never holds more than N
    pages per url_host. Updates to already-present keys pass freely
    (they consume no new capacity — which also makes replays no-ops);
    new keys are ranked deterministically per host (pk order) and
    admitted up to the host's remaining capacity; the overflow lands
    under audit/<table>_host_capped/batch_id=<n> — the same
    partition-overwrite idempotence as the reject trail. The batch
    query dedup_canonical_url certifies the one-shot form of this
    cap; here the count lookup is a per-host aggregate of bronze
    (at 100 TB: a maintained per-host count table updated in the
    same transaction)."""
    from ..sources.jsonl import split_rejects

    target = os.path.join(warehouse, "bronze", table)
    good_sink = merge_sink(target, pk)
    rejects_root = os.path.join(warehouse, "audit",
                                f"{table}_jsonl_rejects")
    capped_root = os.path.join(warehouse, "audit", f"{table}_host_capped")
    if host_budget is not None and not canonicalize_url_from:
        raise ValueError("host_budget requires canonicalize_url_from")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql.window import Window as W

        good, bad = split_rejects(batch_df)
        if canonicalize_url_from:
            from ..functions.urls import with_canonical_url

            good = with_canonical_url(good, canonicalize_url_from)
        if host_budget is not None:
            # ADVICE r13 (medium): pk-dedup BEFORE the capacity
            # ranking — two raw URLs in one micro-batch that
            # canonicalize to the same page must consume ONE _rk slot,
            # not two (merge_sink only dropDuplicates(pk) later, so a
            # genuinely new page could be misrouted to the host_capped
            # audit while bronze held fewer than host_budget pages for
            # that host). The dropped raw duplicates are rows
            # merge_sink would have collapsed anyway.
            good = good.dropDuplicates(pk)
            spark = batch_df.sparkSession
            if os.path.isdir(target):
                existing = read_parquet(spark, target)
                keys = existing.select(*pk).dropDuplicates(pk)
                upd = good.join(keys, pk, "left_semi")
                new = good.join(keys, pk, "left_anti")
                counts = existing.groupBy("url_host").agg(
                    F.count(F.lit(1)).alias("_have"))
                new = new.join(F.broadcast(counts), "url_host", "left")
            else:
                upd, new = good.limit(0), good.withColumn("_have", F.lit(0))
            ranked = (
                new.withColumn("_have", F.coalesce("_have", F.lit(0)))
                .withColumn("_rk", F.row_number().over(
                    W.partitionBy("url_host").orderBy(*pk))))
            over = F.col("_rk") + F.col("_have") > host_budget
            # audit the overflow BEFORE the merge mutates the target
            # path the lineage above reads (same self-read guard as
            # merge_sink's staging rename)
            ranked.filter(over).drop("_rk", "_have").write \
                .mode("overwrite") \
                .parquet(os.path.join(capped_root, f"batch_id={batch_id}"))
            good = upd.unionByName(ranked.filter(~over)
                                   .drop("_rk", "_have"))
        good_sink(good, batch_id)
        out = os.path.join(rejects_root, f"batch_id={batch_id}")
        bad.write.mode("overwrite").parquet(out)

    return _sink


def run_jsonl_ingest(spark: SparkSession, jsonl_dir: str, warehouse: str,
                     table: str, schema, checkpoint_dir: str,
                     pk: list[str],
                     max_files_per_trigger: int = 1,
                     canonicalize_url_from: str | None = None,
                     host_budget: int | None = None) -> None:
    """Drain all currently-available crawl shards into bronze/<table>
    (+ the reject audit trail), synchronously. Restart-safe for the
    same reasons as run_csv_ingest; additionally the reject partition
    scheme keeps the no-pk audit rows idempotent under replay.
    ``canonicalize_url_from`` / ``host_budget``: see
    jsonl_bronze_sink — URL-keyed crawl dedup + per-host cap at
    ingest."""
    stream = read_jsonl_stream(spark, jsonl_dir, schema,
                               max_files_per_trigger)
    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(jsonl_bronze_sink(warehouse, table, pk,
                                        canonicalize_url_from,
                                        host_budget))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def cms_stream_sink(warehouse: str, text_col: str = "text"):
    """foreachBatch body for a STREAMING Count-Min Sketch: each
    micro-batch's partial sketch (256 exact-integer counters,
    operators/sketch.py) lands under sketch/cms/batch_id=<n> — a
    replayed batch rewrites its own partition, so the accumulated
    sketch is exactly-once over at-least-once delivery. The live
    sketch is read with read_cms_counters (SUM over batch partitions):
    sketch merge IS counter addition, which is the whole reason CMS
    survives distribution."""
    from ..functions import text as X
    from ..operators import sketch as K

    root = os.path.join(warehouse, "sketch", "cms")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        words = batch_df.select(
            F.explode(X.words(F.col(text_col))).alias("word"))
        out = os.path.join(root, f"batch_id={batch_id}")
        K.cms_counters(words).write.mode("overwrite").parquet(out)

    return _sink


def read_cms_counters(spark: SparkSession, warehouse: str) -> DataFrame:
    """The live merged sketch: SUM of all per-batch partial sketches."""
    from ..operators import sketch as K

    root = os.path.join(warehouse, "sketch", "cms")
    return K.merge_counters(read_parquet(spark, root).select("j", "b", "c"))


def run_cms_stream(spark: SparkSession, docs_dir: str, warehouse: str,
                   checkpoint_dir: str, schema="doc_id BIGINT, text STRING",
                   max_files_per_trigger: int = 1) -> None:
    """Drain available doc shards into the accumulated CMS,
    synchronously — the streaming twin of cms_frequency_sketch's batch
    construction."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(docs_dir)
    )
    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(cms_stream_sink(warehouse))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def bloom_stream_sink(warehouse: str, item_col: str = "item"):
    """foreachBatch body for a STREAMING Bloom filter over item
    digests (the crawl's live seen-set): each micro-batch's partial
    filter (<= m/32 packed words, operators/sketch.py) lands under
    sketch/bloom/batch_id=<n>. Bitwise OR is idempotent, so replayed
    batches are harmless twice over — by the partition overwrite AND
    by the merge algebra itself."""
    from ..operators import sketch as K

    root = os.path.join(warehouse, "sketch", "bloom")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        items = batch_df.select(F.col(item_col).alias("item"))
        out = os.path.join(root, f"batch_id={batch_id}")
        K.bloom_bits(items).write.mode("overwrite").parquet(out)

    return _sink


def read_bloom_bits(spark: SparkSession, warehouse: str) -> DataFrame:
    """The live merged filter: bitwise OR of all per-batch partials."""
    from ..operators import sketch as K

    root = os.path.join(warehouse, "sketch", "bloom")
    return K.merge_bloom(read_parquet(spark, root).select("word_idx", "bits"))


def _bloom_epoch_assignments(meta_rows, epoch_rows: int):
    """Deterministic batch->epoch assignment from per-batch item
    counts: walk batches in batch_id order, filling the current epoch
    until it holds >= epoch_rows items, then roll. Pure driver-side
    arithmetic over the (small) meta table, so a replayed batch
    recomputes the SAME epoch it landed in originally (counts of
    earlier batches are immutable)."""
    assign: dict[int, int] = {}
    epoch, filled = 0, 0
    for bid, n in sorted(meta_rows):
        if filled >= epoch_rows:
            epoch, filled = epoch + 1, 0
        assign[bid] = epoch
        filled += n
    return assign, epoch


def bloom_epoch_stream_sink(warehouse: str, item_col: str = "item",
                            epoch_rows: int = 2048,
                            live_epochs: int = 3,
                            fpr: float = 0.01):
    """foreachBatch body for the ROLLING-EPOCH streaming Bloom
    seen-set (VERDICT r13 #4 — the documented contract as code): each
    epoch is an independent filter sized m = bloom_m_for(epoch_rows,
    fpr) (~1.44*n*log2(1/fpr) bits); a batch lands in the epoch the
    deterministic cumulative-count walk assigns it
    (_bloom_epoch_assignments); probes OR across the newest
    ``live_epochs`` epochs (read_bloom_epoch_bits); epochs older than
    that expire — an unbounded stream holds bounded bits at a bounded
    false-positive rate, instead of the fixed-m filter's saturation
    beyond ~500 items (SCALING.md addendum 14b).

    Layout under ``warehouse``/sketch:
      - bloom_epoch_meta/batch_id=<n>   (batch_id, n_items) rows
      - bloom_epochs/epoch=<e>/batch_id=<n>  per-batch partial filter

    Replay-safe twice over: meta and partial are partition-overwrite
    idempotent on batch_id, and epoch assignment is a pure function
    of earlier batches' immutable counts; the filter merge itself is
    bitwise OR. Expiry physically removes retired epoch directories;
    a replayed retired batch briefly recreates one, and the next roll
    removes it again — probes never read it either way.

    Meta growth note: each batch re-collects the full (batch_id,
    n_items) meta table for the assignment walk — two longs per
    batch ever processed, so a year at one batch/minute is ~8 MB and
    sub-second, but unbounded in principle. At 100 TB the walk's
    prefix is frozen (sealed epochs never change), so a compaction
    that snapshots (last_sealed_batch, epoch, fill) and drops older
    meta rows is semantics-preserving when needed."""
    import shutil

    from ..operators import sketch as K

    meta_root = os.path.join(warehouse, "sketch", "bloom_epoch_meta")
    epochs_root = os.path.join(warehouse, "sketch", "bloom_epochs")
    m = K.bloom_m_for(epoch_rows, fpr)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        items = batch_df.select(F.col(item_col).alias("item"))
        n = items.count()
        prior = []
        if os.path.isdir(meta_root):
            prior = [(int(r.batch_id), int(r.n_items))
                     for r in read_parquet(spark, meta_root).collect()
                     if int(r.batch_id) != batch_id]
        assign, newest = _bloom_epoch_assignments(prior + [(batch_id, n)],
                                                  epoch_rows)
        epoch = assign[batch_id]
        K.bloom_bits(items, m=m).write.mode("overwrite").parquet(
            os.path.join(epochs_root, f"epoch={epoch}",
                         f"batch_id={batch_id}"))
        spark.createDataFrame([(batch_id, n)],
                              "batch_id long, n_items long") \
            .write.mode("overwrite").parquet(
            os.path.join(meta_root, f"batch_id={batch_id}"))
        # expire: keep only the newest live_epochs epoch directories —
        # keyed off the WALK'S newest epoch, never this batch's own
        # (a replayed retired batch is assigned its ORIGINAL old
        # epoch; keying the live set off it would delete the current
        # filters)
        if os.path.isdir(epochs_root):
            live = set(range(max(newest - live_epochs + 1, 0),
                             newest + 1))
            for d in os.listdir(epochs_root):
                if d.startswith("epoch=") and int(d.split("=")[1]) not in live:
                    shutil.rmtree(os.path.join(epochs_root, d),
                                  ignore_errors=True)

    return _sink


def read_bloom_epoch_bits(spark: SparkSession, warehouse: str,
                          live_epochs: int = 3) -> DataFrame:
    """The live epoch filters: (epoch, word_idx, bits), per-epoch OR
    of that epoch's per-batch partials, restricted to the newest
    ``live_epochs`` epochs — the frame bloom_epochs_might_contain
    probes against."""
    root = os.path.join(warehouse, "sketch", "bloom_epochs")
    df = read_parquet(spark, root)
    epochs = sorted(int(r.epoch) for r in df.select("epoch")
                    .dropDuplicates(["epoch"]).collect())
    live = set(epochs[-live_epochs:])
    return (df.filter(F.col("epoch").isin(list(live)))
            .groupBy("epoch", "word_idx")
            .agg(F.bit_or("bits").alias("bits")))


def run_bloom_epoch_stream(spark: SparkSession, docs_dir: str,
                           warehouse: str, checkpoint_dir: str,
                           schema="doc_id BIGINT, text STRING",
                           epoch_rows: int = 2048,
                           live_epochs: int = 3, fpr: float = 0.01,
                           max_files_per_trigger: int = 1) -> None:
    """Drain available doc shards into the rolling-epoch seen-set,
    synchronously (items = md5(text), as run_bloom_stream)."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(docs_dir)
        .select(F.md5(F.col("text")).alias("item"))
    )
    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(bloom_epoch_stream_sink(
            warehouse, epoch_rows=epoch_rows, live_epochs=live_epochs,
            fpr=fpr))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def run_bloom_stream(spark: SparkSession, docs_dir: str, warehouse: str,
                     checkpoint_dir: str,
                     schema="doc_id BIGINT, text STRING",
                     max_files_per_trigger: int = 1) -> None:
    """Drain available doc shards into the accumulated seen-digest
    Bloom filter, synchronously — the streaming twin of
    bloom_seen_digests' batch construction (items = md5(text))."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(docs_dir)
        .select(F.md5(F.col("text")).alias("item"))
    )
    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(bloom_stream_sink(warehouse))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def phash_ingest_sink(warehouse: str, max_distance: int = 4):
    """foreachBatch sink for CONTINUOUS media ingest with incremental
    PERCEPTUAL dedup — the image twin of dedup_ingest_sink: each
    micro-batch's payloads are fingerprinted once (stub dHash here;
    decoder="auto" swaps in Pillow unchanged), probed against the
    maintained (doc_id, phash) index via
    operators/dedup.py::phash_incremental_flags (pigeonhole blocks —
    per-batch cost is batch size + block collisions, the corpus is
    never re-fingerprinted); survivors land in the media table AND
    their fingerprints in the index, so the next batch probes an
    index that already includes them. Flagged near-dups go to
    audit/media_phash_dups/batch_id=<n> (partition-overwrite
    idempotent) with their best match and distance.

    Maintained tables under ``warehouse``:
      - ``silver/media_docs``          accepted rows (doc_id, text)
      - ``silver/media_phash_index``   their (doc_id, phash) rows

    Idempotent over at-least-once replay: already-accepted doc_ids
    drop before probing. At 100 TB both appends become transactional
    table commits; probe and admission logic are unchanged.

    Crash-window reconciliation (ADVICE r13): the two appends are
    separate local-fs writes, so a crash BETWEEN them leaves accepted
    docs permanently missing from the index (replay left-antis them
    out before fingerprinting, so future perceptual duplicates of
    those docs would pass unflagged). The sink's FIRST batch therefore
    re-derives index rows for any docs_path ids absent from idx_path —
    within a run foreachBatch is sequential so the gap cannot reopen,
    and a restart constructs a fresh sink which heals again. The index
    is self-healing from the docs table, which is exactly the
    reconciliation a transactional table commit makes unnecessary at
    100 TB."""
    from ..operators.dedup import phash_incremental_flags
    from ..operators.multimodal import phash_binary, with_binary_payload

    docs_path = os.path.join(warehouse, "silver", "media_docs")
    idx_path = os.path.join(warehouse, "silver", "media_phash_index")
    dups_root = os.path.join(warehouse, "audit", "media_phash_dups")
    healed = {"done": False}  # reconcile once per sink lifetime

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.select("doc_id", "text").dropDuplicates(["doc_id"])
        have = os.path.isdir(docs_path)
        if have:
            docs = read_parquet(spark, docs_path)
            if not healed["done"]:
                # self-heal the index ONCE per sink lifetime (see
                # docstring): the docs/index gap can only exist at
                # stream (re)start — within a run foreachBatch is
                # sequential, so batch N's appends complete before
                # batch N+1 — and running the two reads + anti-join +
                # fingerprint pass per batch would be a fixed latency
                # tax for provably-empty healing.
                if os.path.isdir(idx_path):
                    missing = docs.join(
                        read_parquet(spark, idx_path).select("doc_id"),
                        "doc_id", "left_anti")
                else:
                    missing = docs
                miss_fps = phash_binary(
                    with_binary_payload(missing.select("doc_id", "text"),
                                        "text"),
                    decoder="stub").select("doc_id", "phash") \
                    .localCheckpoint(eager=True)
                if miss_fps.count() > 0:
                    miss_fps.write.mode("append").parquet(idx_path)
            batch = batch.join(docs.select("doc_id"), "doc_id",
                               "left_anti")
        healed["done"] = True
        # one fingerprint pass per batch; EAGER checkpoint because the
        # lineage includes the replay guard's read of docs_path, and
        # the index append below runs after keepers were appended
        # there (same self-read guard as dedup_ingest_sink)
        fps = phash_binary(with_binary_payload(batch, "text"),
                           decoder="stub").localCheckpoint(eager=True)
        idx = (read_parquet(spark, idx_path) if os.path.isdir(idx_path)
               else spark.createDataFrame([], "doc_id long, phash long"))
        flagged = phash_incremental_flags(
            idx, fps, max_distance=max_distance).localCheckpoint(eager=True)
        flagged.write.mode("overwrite").parquet(
            os.path.join(dups_root, f"batch_id={batch_id}"))
        keep_fps = fps.join(flagged.select("doc_id"), "doc_id", "left_anti") \
            .localCheckpoint(eager=True)
        keepers = batch.join(keep_fps.select("doc_id"), "doc_id",
                             "left_semi").localCheckpoint(eager=True)
        keepers.write.mode("append").parquet(docs_path)
        keep_fps.select("doc_id", "phash").write.mode("append") \
            .parquet(idx_path)

    return _sink


def run_phash_ingest(spark: SparkSession, docs_dir: str, warehouse: str,
                     checkpoint_dir: str,
                     schema="doc_id BIGINT, text STRING",
                     max_distance: int = 4,
                     max_files_per_trigger: int = 1) -> None:
    """Drain available media shards through the incremental perceptual
    dedup sink, synchronously."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(docs_dir)
    )
    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(phash_ingest_sink(warehouse, max_distance))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
