"""End-to-end crawl-ingest pipeline (VERDICT r13 #6): one entry point,
run_crawl_increment_epochs, takes a landing directory of raw JSONL
crawl shards through the standard web-ingest stages against an epoch
seen-ledger and lands each layer as parquet with per-stage audited
counts — the crawl dual of plans/corpus.py's curation pipeline, so
the tier's composed cost is a tracked bench number rather than a sum
of query walls.

    landing JSONL -> permissive ingest (corrupt-line capture)
        -> HTML extraction (title / text / links)
        -> URL canonicalization (+ host identity)
        -> robots.txt politeness gate (functions/robots.py, RFC 9309;
           optional — pass robots_dir)
        -> frontier blocklist filter (rule table, lowest rule wins)
        -> dedup: canonical-URL keep-lowest, then content-digest
           keep-lowest
        -> seen filter: drop digests an earlier increment landed
           (Bloom probe of every ledger epoch + exact verification)
        -> epoch append: the new digests and their formula-sized
           Bloom filter (operators/sketch.py::bloom_m_for) become the
           ledger's next epoch
        -> language-ID gate (functions/langid.py, keep_langs)
        -> quality gate (plans/corpus.py Gopher/C4 rules)

Every stage is a composition of the oracle-gated operators
(sources/jsonl.py, functions/html.py, functions/urls.py,
functions/langid.py, plans/corpus.py), so the pipeline inherits their
verified semantics; this module adds layering, writes, and stats.
All stages are deterministic — re-running on the same landing dir
and ledger reproduces byte-identical layers.

Landed layers: bronze/ rejects/ extracted/ [robotspass/] admitted/
deduped/ [new_docs/] langpass/ corpus/, plus one ledger epoch under
seen_root. A from-scratch crawl is the bootstrap increment against an
empty seen_root: everything is new, so it lands no new_docs/ copy.

The seen-set's Bloom sizing m/k/fpr/n is persisted as constant
columns alongside the bits — a prober recomputing m from its own
count would silently break the zero-false-negative contract — and
the "might contain" candidates are exact-verified against the
ledger's digests (the Bloom's false-positive rate makes verification
mandatory). The Bloom prefilter is what scales: new documents mostly
probe false and never enter the digest join.

Scale shape: ingest/extract/canonicalize/frontier are scan-local
expressions (the rules side broadcasts); both dedup stages are
partial-agg-friendly groupBy(key).agg(min) + semi-join (a hot
canonical URL collapses map-side instead of sorting all its replicas
in one window partition); the Bloom artifact is one map-side-combined
bit_or; langid is one explode + a doc-partitioned window + broadcast
joins; the gate is scan-local. Nothing in the composition introduces
a join or window that wouldn't hold at 100 TB.
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .corpus import quality_gate
from .._util import StageRecorder, StageResult, read_parquet, write_counted
from ..sources.testdata import load_table

#: landing contract for synthesized + real crawl shards
CRAWL_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("url", T.StringType()),
    T.StructField("html", T.StringType()),
])

#: frontier blocklist (kind, pattern) — same rule forms as the gated
#: crawl_frontier_filter query
CRAWL_BLOCK_RULES = [
    (1, "host_suffix", ".example.net"),
    (2, "path_prefix", "/page/13"),
]


def synthesize_crawl_shards(spark: SparkSession, sf_dir: str,
                            landing_dir: str, replicas: int = 10,
                            shards: int = 8,
                            corrupt_every: int = 997,
                            keep_mod: int = 1,
                            keep_rem: int = 0) -> int:
    """Materialize a crawl landing directory from the documents table:
    each document appears ``replicas`` times under rotating messy URL
    forms (mixed-case scheme/host + default port + trailing slash,
    tracking params + fragment, clean) and two host families (one of
    which the frontier blocklist rejects), with the text wrapped in a
    deterministic HTML skeleton; every ``corrupt_every``-th line is
    truncated mid-object to exercise the corrupt-line capture. Returns
    the number of lines written. Deterministic end to end.
    ``keep_mod``/``keep_rem`` restrict the synthesized landing to
    documents with doc_id % keep_mod == keep_rem — two landings from
    different residues give an increment corpus with controlled
    seen/new overlap (the bench's increment entry synthesizes the
    prior run from half the documents and the increment from all)."""
    docs = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "source", "text")
    if keep_mod > 1:
        docs = docs.filter(F.col("doc_id") % keep_mod == keep_rem)
    reps = F.explode(F.array(*[F.lit(i) for i in range(replicas)]))
    raw = docs.select("doc_id", "source", "text", reps.alias("rep"))
    rid = (F.col("doc_id") * replicas + F.col("rep"))
    page = F.col("doc_id").cast("string")  # one page per document —
    # the replicas' mess forms collapse, distinct docs never do
    tld = F.when(F.col("doc_id") % 11 == 0, F.lit(".example.net")) \
        .otherwise(F.lit(".example.com"))
    hostpart = F.concat(F.col("source"), tld)
    pathpart = F.concat(F.lit("/page/"), page)
    # mess form 1 uppercases ONLY scheme+host and puts :80 on the
    # HOSTPORT (canonicalization lowercases scheme/host and strips
    # default ports from the hostport — an uppercased path or a
    # port-after-path would be a genuinely different page and would
    # never collapse)
    url = F.when(
        F.col("rep") % 3 == 0, F.concat(F.lit("http://"), hostpart,
                                        pathpart)
    ).when(
        F.col("rep") % 3 == 1,
        F.concat(F.lit("HTTP://"), F.upper(hostpart), F.lit(":80"),
                 pathpart, F.lit("/"))
    ).otherwise(
        F.concat(F.lit("http://"), hostpart, pathpart,
                 F.lit("?utm_source=feed&ref=x#top")))
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title></head><body><h1>Heading</h1><p>"),
        F.col("text"),
        F.lit("</p><a href=\"/next\">next</a></body></html>"))
    lines = raw.select(
        F.to_json(F.struct(rid.alias("doc_id"), url.alias("url"),
                           html.alias("html"))).alias("value"))
    # deterministic corrupt lines: truncate mid-object
    lines = lines.withColumn(
        "value",
        F.when(F.xxhash64("value") % corrupt_every == 0,
               F.substring("value", 1, 40)).otherwise(F.col("value")))
    lines.repartition(shards).write.mode("overwrite").text(landing_dir)
    # count the WRITTEN shards — re-counting `lines` would replay the
    # whole synthesis lineage a second time just for the number
    return int(spark.read.text(landing_dir).count())


def frontier_admit(df: DataFrame) -> DataFrame:
    """Blocklist filter over canonicalized rows: keeps rows NO rule in
    the broadcast rule table matches (same semantics as the gated
    crawl_frontier_filter query). One broadcast LEFT ANTI join — the
    r14 shape (inner hit join -> groupBy(doc_id) min -> left join back
    -> null filter) paid a doc_id Exchange and two joins to compute a
    blocked_by column that only ever fed the null filter; the
    surviving row set is identical by definition (anti = no rule
    matches). The gated frontier query still reports WHICH rule
    blocked; this admission path only needs who survived."""
    spark = df.sparkSession
    rules = spark.createDataFrame(CRAWL_BLOCK_RULES,
                                  "rule_id int, kind string, pattern string")
    path = F.regexp_replace("canonical_url", r"^https?://[^/]*", "")
    d = df.withColumn("_path", path)
    cond = (
        ((F.col("kind") == "host_suffix")
         & F.col("url_host").endswith(F.col("pattern")))
        | ((F.col("kind") == "path_prefix")
           & F.col("_path").startswith(F.col("pattern"))))
    return d.join(F.broadcast(rules), cond, "left_anti").drop("_path")


def keep_lowest(df: DataFrame, key: str,
                id_col: str = "doc_id") -> DataFrame:
    """Skew-safe keep-lowest-id per key (VERDICT r14 #5): partial-agg
    groupBy(key).agg(min(id)) + semi-join back on (key, id). A hot key
    (the power-law canonical URL) collapses map-side in the partial
    aggregation and the composite-key join hash-spreads its replicas;
    the row_number-window form this replaces sorted ALL of a hot key's
    replicas in a single window partition. Requires id_col unique per
    row (landing line ids are).

    The key equality is NULL-SAFE (<=>): a crawl row with a NULL key
    (e.g. NULL html -> NULL extracted text -> NULL digest) groups into
    the NULL bucket and keeps its min-id representative, matching the
    window form's NULL-partition behavior — a plain equi-join would
    silently drop every NULL-key row (caught in the round-15
    self-review, regression-pinned)."""
    reps = (df.groupBy(key).agg(F.min(id_col).alias("_kl_min"))
            .withColumnRenamed(key, "_kl_key"))
    cond = (F.col(key).eqNullSafe(F.col("_kl_key"))
            & (F.col(id_col) == F.col("_kl_min")))
    return df.join(reps, cond, "left_semi")


def _crawl_front(spark: SparkSession, landing_dir: str,
                 rec: StageRecorder, robots_dir: str | None = None,
                 robots_agent: str = "sparkbot") -> int:
    """The front half — ingest through within-run dedup; lands
    bronze/ rejects/ extracted/ admitted/ deduped/ under
    ``rec.out_dir`` and records their stages. Returns the deduped
    count.

    ``robots_dir`` (optional) points at a parquet of per-host
    robots.txt bodies (host, robots_txt); when given, an RFC 9309
    politeness gate (functions/robots.py) runs between
    canonicalization and the frontier blocklist — URLs a host's
    robots disallows for ``robots_agent`` are dropped and the stage
    is audited like any other (lands robotspass/)."""
    from ..functions.html import with_html_extraction
    from ..functions.urls import with_canonical_url
    from ..sources.jsonl import read_jsonl, split_rejects

    out_dir = rec.out_dir
    t0 = time.time()
    good, bad = split_rejects(read_jsonl(spark, landing_dir, CRAWL_SCHEMA))
    # rejects and bronze are independent sinks over the same parsed
    # landing scan — overlapped jobs (guide §2.6), the rejects write's
    # tasks back-fill executors the bronze write leaves idle; the
    # stage audit lands once both sinks have committed
    with ThreadPoolExecutor(max_workers=1) as pool:
        fut_bad = pool.submit(
            bad.write.mode("overwrite").parquet,
            os.path.join(out_dir, "rejects"))
        try:
            n_good = write_counted(good, os.path.join(out_dir, "bronze"))
        except BaseException:
            # both sinks read the same landing scan, so a bad shard
            # typically fails BOTH — surface the worker's exception
            # (the likelier shared root cause) instead of silently
            # discarding it with the pool exit (ADVICE r15). Only a
            # finished sink is asked: waiting on a still-running one
            # would hold the original exception until it completes.
            exc = fut_bad.exception() if fut_bad.done() else None
            if exc is not None:
                import logging
                logging.getLogger(__name__).error(
                    "rejects sink also failed: %r", exc)
            raise
        fut_bad.result()
    n = rec.record("ingest", -1, n_good, t0)
    bronze = read_parquet(spark, os.path.join(out_dir, "bronze"))

    t0 = time.time()
    extracted = with_html_extraction(bronze, "html") \
        .select("doc_id", "url", "title",
                F.col("text_extracted").alias("text"),
                F.size("links").alias("n_links"))
    n = rec.write("html_extract", n, extracted, "extracted", t0)
    extracted = read_parquet(spark, os.path.join(out_dir, "extracted"))

    canon = with_canonical_url(extracted, "url")
    if robots_dir is not None:
        from ..functions.robots import with_robots_decision

        t0 = time.time()
        robots = read_parquet(spark, robots_dir)
        verdicts = with_robots_decision(canon, robots,
                                        agent=robots_agent)
        canon = canon.join(
            verdicts.filter(F.col("allowed")).select("doc_id"),
            "doc_id", "left_semi")
        n = rec.write("robots_gate", n, canon, "robotspass", t0)
        canon = read_parquet(spark, os.path.join(out_dir, "robotspass"))

    t0 = time.time()
    admitted = frontier_admit(canon)
    n = rec.write("canonicalize_frontier", n, admitted, "admitted", t0)
    admitted = read_parquet(spark, os.path.join(out_dir, "admitted"))

    t0 = time.time()
    # keep-lowest per canonical URL (crawl identity), then per content
    # digest (exact dedup) — both skew-safe partial-agg + semi-join
    by_url = keep_lowest(admitted, "canonical_url")
    digested = by_url.withColumn("digest", F.md5(F.col("text")))
    deduped = keep_lowest(digested, "digest")
    return rec.write("dedup", n, deduped, "deduped", t0)


def _crawl_back(spark: SparkSession, docs: DataFrame,
                keep_langs: tuple[str, ...], rec: StageRecorder,
                n: int) -> int:
    """The back half — script-aware langid gate + quality gate; lands
    langpass/ corpus/ under ``rec.out_dir``.

    Within-script profile routing is derived from ``keep_langs``: the
    flat script->language maps can only ever say ru for Cyrillic and
    ar for Arabic script, so asking to keep uk/bg (or fa/ur) without
    the trigram profiles would silently keep NOTHING — if keep_langs
    names such a language, the matching per-script profile route
    turns on (ru/ar stay reachable either way; under profile routing
    a too-short-to-trigram doc falls back to the family's first
    language with margin 0 and is gated out, where the flat map would
    have kept it on script evidence alone — the price of asking for
    within-script discrimination)."""
    from ..functions import langid as LG

    t0 = time.time()
    lang = LG.with_langid_script(
        docs, "doc_id", "text",
        cyrillic_profiles=bool(set(keep_langs) & {"uk", "bg"}),
        arabic_profiles=bool(set(keep_langs) & {"fa", "ur"}))
    kept = docs.join(
        lang.filter(F.col("lang").isin(list(keep_langs))
                    & (F.col("margin") > 0)).select("doc_id"),
        "doc_id", "left_semi")
    n_out = rec.write("langid_gate", n, kept, "langpass", t0)
    kept = read_parquet(spark, os.path.join(rec.out_dir, "langpass"))

    t0 = time.time()
    return rec.write("quality_gate", n_out, quality_gate(kept), "corpus",
                     t0)


# ---------------------------------------------------------------------------
# The epoch seen-ledger. The seen-set is stored the way the r14
# rolling-epoch contract says to: one epoch per increment, each holding
# only THAT increment's genuinely-new digests plus a Bloom filter sized
# at that count (operators/sketch.py::bloom_m_for), laid out as parquet
# partitions
#
#     seen_root/digests/epoch=N/       (exact side, append-only)
#     seen_root/bloom_epochs/epoch=N/  (prefilter, persisted m/k/fpr/n)
#
# An increment probes ALL live epoch filters in one pass
# (bloom_epoch_hit_pairs_sized — per-epoch m as a column, positions
# recomputed per epoch), then exact-verifies candidates against ONLY
# the digest shards of the epochs whose filter hit (path-level
# partition pruning: the per-epoch candidate sets are filters on the
# hit pairs, and each epoch shard is read by its own path). Writes
# are one new epoch: O(this increment's new digests), independent of
# corpus age — a merged seen-set re-hashed the whole corpus into a
# re-sized Bloom every increment (SCALING.md addendum 17). The epoch
# set is the bloom_epochs/epoch=N directories; a new epoch is staged
# under seen_root/_staging/ and renamed into place. Retiring old
# epochs = deleting their two directories.
# ---------------------------------------------------------------------------


def stage_epoch_seen(spark: SparkSession, new_digests: DataFrame,
                     seen_root: str, n: int, bloom_fpr: float) -> int:
    """Write the ledger's next epoch to seen_root/_staging/:
    digests/ (only this increment's genuinely-new digests — the
    ledger stays globally distinct because an increment never
    re-writes a digest an earlier epoch verified) and bloom_epochs/
    (the filter sized at this epoch's OWN count, sizing persisted as
    constant columns). Returns m. O(new digests) — live epochs are
    never touched; publish_epoch_seen moves the staged epoch in."""
    from ..operators import sketch as K

    staging = os.path.join(seen_root, "_staging")
    new_digests.select("digest").write.mode("overwrite").parquet(
        os.path.join(staging, "digests"))
    m = K.bloom_m_for(max(int(n), 1), bloom_fpr)
    (K.bloom_bits(new_digests.select(F.col("digest").alias("item")),
                  m=m)
     .select("word_idx", "bits",
             F.lit(m).cast("int").alias("m"),
             F.lit(K.BLOOM_K).cast("int").alias("k"),
             F.lit(float(bloom_fpr)).alias("fpr"),
             F.lit(int(n)).cast("long").alias("n"))
     .write.mode("overwrite")
     .parquet(os.path.join(staging, "bloom_epochs")))
    return m


def publish_epoch_seen(seen_root: str, epoch: int) -> None:
    """Rename the staged epoch into the live ledger as epoch ``epoch``.
    The Bloom filter moves last: epochs are discovered by listing
    bloom_epochs/, so its epoch=N directory is the commit marker. A
    crash between the two renames leaves a digest shard no probe
    reads, which the re-run's epoch N replaces."""
    staging = os.path.join(seen_root, "_staging")
    shutil.rmtree(os.path.join(seen_root, "digests", f"epoch={epoch}"),
                  ignore_errors=True)
    for part in ("digests", "bloom_epochs"):
        os.makedirs(os.path.join(seen_root, part), exist_ok=True)
        os.rename(os.path.join(staging, part),
                  os.path.join(seen_root, part, f"epoch={epoch}"))
    os.rmdir(staging)


def run_crawl_increment_epochs(spark: SparkSession, landing_dir: str,
                               out_dir: str, seen_root: str,
                               keep_langs: tuple[str, ...] = ("en",),
                               bloom_fpr: float = 0.01,
                               stage_hook=None,
                               robots_dir: str | None = None,
                               robots_agent: str = "sparkbot") -> list[StageResult]:
    """Run one crawl increment over ``landing_dir``'s JSONL shards
    against the epoch seen-LEDGER at ``seen_root`` (see the block
    comment above) and land its layers under ``out_dir``. The front
    half lands bronze/ rejects/ extracted/ [robotspass/] admitted/
    deduped/; the seen-filter probes every live epoch filter with its
    own persisted m and exact-verifies candidates against only the
    hit epochs' digest shards, landing the genuinely-new docs as
    new_docs/; the language gate (SCRIPT-AWARE, functions/langid.py::
    with_langid_script — keep_langs=("en", "zh") keeps Chinese pages)
    and the quality gate land langpass/ corpus/; and the ledger gains
    exactly one new epoch. Returns per-stage audited counts + wall
    times, epoch_append recorded as (new docs, Bloom bits m).

    A from-scratch crawl is the bootstrap increment: an empty
    ``seen_root`` means nothing was ever seen, so the new docs are
    deduped/ itself (seen_filter records (n, n) and writes no
    new_docs/) and the ledger starts at epoch 0.

    Cross-increment identity is CONTENT (digest): a URL recrawled
    with changed content is a new document by design, and a digest
    first seen in increment N keeps N's copy (keep-lowest is
    per-increment, so the global doc_id tiebreak is first-increment-
    wins — parity with a from-scratch run on the union holds on
    digest sets, which is what the parity test pins).

    Crash consistency: the new epoch is staged outside the live
    ledger and renamed in only after the back half has landed
    corpus/, so an increment that fails at any stage leaves the
    ledger as it was and its re-run treats the same docs as new.
    Two increments running concurrently against one ``seen_root``
    would pick the same next epoch; that is not supported.

    ``stage_hook(name)`` contract: the epoch append and the back half
    run as overlapped jobs, so the hook may fire from a NON-MAIN
    thread, CONCURRENTLY with another firing, and OUT of canonical
    stage order inside that pair (epoch_append vs langid_gate/
    quality_gate) — hooks must be thread-safe, and consumers
    differencing cumulative cluster counters between firings
    (docs/SCALING.md addenda 16-17) get blended attribution WITHIN the
    pair (their sum stays exact). The returned StageResult list keeps
    canonical order regardless."""
    from ..operators import sketch as K

    rec = StageRecorder(out_dir, stage_hook)
    n = _crawl_front(spark, landing_dir, rec, robots_dir=robots_dir,
                     robots_agent=robots_agent)
    deduped = read_parquet(spark, os.path.join(out_dir, "deduped"))

    bloom_root = os.path.join(seen_root, "bloom_epochs")
    t0 = time.time()
    live = os.listdir(bloom_root) if os.path.isdir(bloom_root) else []
    epochs = sorted(int(d.split("=", 1)[1]) for d in live
                    if d.startswith("epoch="))
    if epochs:
        # persisted: the verification below filters `pairs` once per
        # hit epoch, and each reference would otherwise re-run the
        # whole probe (deduped x ALL epoch filters) — guide §2.4
        pairs = K.bloom_epoch_hit_pairs_sized(
            deduped.select(F.col("digest").alias("item")),
            read_parquet(spark, bloom_root)) \
            .select(F.col("item").alias("digest"), "epoch").persist()
        # which epochs actually hit: one tiny collect, then exact
        # verification reads ONLY the hit epochs' digest shards (by
        # path — explicit partition pruning). The Bloom's fpr makes
        # this join mandatory.
        hit_epochs = sorted(int(r["epoch"]) for r in
                            pairs.select("epoch").dropDuplicates()
                            .collect())
        verified = None
        for e in hit_epochs:
            shard = read_parquet(
                spark, os.path.join(seen_root, "digests", f"epoch={e}"))
            v = pairs.filter(F.col("epoch") == e).select("digest") \
                .join(shard, "digest", "left_semi")
            verified = v if verified is None else verified.unionByName(v)
        # a digest lives in exactly one epoch (the ledger invariant),
        # so the union is already distinct
        new_docs = (deduped.join(verified, "digest", "left_anti")
                    if verified is not None else deduped)
        n_new = write_counted(new_docs, os.path.join(out_dir, "new_docs"))
        pairs.unpersist()
        rec.record("seen_filter", n, n_new, t0)
        new_docs = read_parquet(spark, os.path.join(out_dir, "new_docs"))
    else:
        # bootstrap: nothing was ever seen, so the landed deduped/ is
        # already the new docs — no copy
        new_docs = deduped
        n_new = rec.record("seen_filter", n, n, t0)

    # the staged epoch and the back half both consume the new docs and
    # nothing of each other — overlapped jobs, guide §2.6. The epoch
    # is published only after the back half returns (crash
    # consistency, see the docstring).
    t0 = time.time()
    next_epoch = (max(epochs) + 1) if epochs else 0
    back = StageRecorder(out_dir, stage_hook)
    with ThreadPoolExecutor(max_workers=1) as pool:
        fut_back = pool.submit(_crawl_back, spark, new_docs, keep_langs,
                               back, n_new)
        m = stage_epoch_seen(spark, new_docs, seen_root, n_new, bloom_fpr)
        # record the COMPLETED stage before joining the back half — if
        # _crawl_back raised, the audit trail would otherwise lose a
        # stage that did finish (ADVICE r15)
        rec.record("epoch_append", n_new, m, t0)
        fut_back.result()
    publish_epoch_seen(seen_root, next_epoch)
    rec.results.extend(back.results)
    return rec.results
