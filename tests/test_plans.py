"""Physical-plan regression tests. Every registered query's operator
counts (``metrics.plan_fingerprint`` at sf0.001) are pinned in
``plan_snapshot.json``, so a refactor that silently introduces a
cartesian product, drops a broadcast or adds a shuffle fails CI — not a
100 TB run. Named contracts on a few rows pin the bounds the design
rests on (broadcast dims, one Expand, no shuffle in extraction), and
the remaining tests check plan text the counts cannot see: pushed
filters, pruned columns, operator order, join types and partition keys.

Regenerate the snapshot after an intended plan change with

    python -m tests.test_plans

and name every changed row, with its reason, in CHANGES.md."""

from __future__ import annotations

import json
import os

import pytest

from medallion_data_pipeline_spark.metrics import executed_plan, plan_fingerprint
from medallion_data_pipeline_spark.queries import REGISTRY, _load

_load()
SF = "/root/testdata/sf0.001"
SNAPSHOT = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "plan_snapshot.json")


def _plan(spark, name: str) -> str:
    return executed_plan(REGISTRY[name].fn(spark, SF))


def _fingerprints(spark, names) -> dict[str, dict[str, int]]:
    return {name: plan_fingerprint(REGISTRY[name].fn(spark, SF))
            for name in names}


def _read_snapshot() -> dict[str, dict[str, int]]:
    with open(SNAPSHOT) as f:
        return json.load(f)


def _write_snapshot(rows: dict[str, dict[str, int]]) -> None:
    body = ",\n".join(f"  {json.dumps(name)}: {json.dumps(rows[name])}"
                      for name in sorted(rows))
    with open(SNAPSHOT, "w") as f:
        f.write("{\n" + body + "\n}\n")


def _mismatches(got: dict, want: dict, names) -> list[str]:
    """One line per query whose fingerprint differs from its snapshot
    row, naming the query and each changed count as (snapshot, plan)."""
    out = []
    for name in names:
        g, w = got.get(name, {}), want.get(name, {})
        diff = {k: (w.get(k), g.get(k)) for k in sorted({*g, *w})
                if w.get(k) != g.get(k)}
        if diff:
            out.append(f"{name}: {diff}")
    return out


@pytest.fixture(scope="module")
def fingerprints(spark):
    """Every registered query's plan fingerprint, built in one pass
    from an empty cache, as ``python -m tests.test_plans`` builds it:
    frames other tests persisted would otherwise enter the plans."""
    spark.catalog.clearCache()
    return _fingerprints(spark, REGISTRY)


@pytest.mark.parametrize("name", sorted(set(REGISTRY) | set(_read_snapshot())))
def test_plan_snapshot(fingerprints, name):
    """The query's plan has exactly its snapshot row's operator counts,
    and never a CartesianProduct (a bounded side may broadcast into a
    BroadcastNestedLoopJoin — the exact-ANN and 1-row-bounds shapes)."""
    assert _mismatches(fingerprints, _read_snapshot(), [name]) == []
    assert fingerprints[name]["CartesianProduct"] == 0


def test_plan_snapshot_names_a_planted_exchange(spark, monkeypatch):
    """An extra shuffle planted into one query's plan makes the
    snapshot comparison fail and name that query."""
    name = "gopher_quality_filters"
    fn = REGISTRY[name].fn
    monkeypatch.setattr(REGISTRY[name], "fn",
                        lambda spark, sf: fn(spark, sf).repartition(3))
    bad = _mismatches(_fingerprints(spark, [name]), _read_snapshot(), [name])
    assert len(bad) == 1 and bad[0].startswith(f"{name}: "), bad
    assert "exchange_round_robin" in bad[0], bad


# The contracts below read the same fingerprint rows as the snapshot, so
# they plan nothing of their own. The snapshot pins exact counts; these
# pin the bound the design depends on, which a regenerated row must not
# cross.

_JOINS = ("BroadcastHashJoin", "BroadcastNestedLoopJoin", "SortMergeJoin",
          "ShuffledHashJoin", "CartesianProduct")


def test_supplier_performance_plan_shape(fingerprints):
    row = fingerprints["supplier_performance"]
    # dims broadcast; the countDistinct rewrite must not plan an Expand
    assert row["BroadcastHashJoin"] >= 1
    assert row["Expand"] == 0


def test_sketch_bounds_has_no_expand(fingerprints):
    """approx_sketches splits its two exact distincts and the
    sketch agg into separate 1-row subaggs precisely to avoid the
    Expand x3 + two-key ObjectHashAggregate the combined agg plans
    (measured 205 s vs 8 s at sf0.1); pin the split."""
    assert fingerprints["approx_sketches"]["Expand"] == 0


def test_monthly_sales_broadcasts_dims(fingerprints):
    row = fingerprints["monthly_sales"]
    assert row["BroadcastHashJoin"] >= 2
    assert row["SortMergeJoin"] == 0


def test_minhash_band_join_is_equi_join(fingerprints):
    row = fingerprints["dedup_minhash_lsh"]
    assert row["CartesianProduct"] == 0
    assert row["BroadcastNestedLoopJoin"] == 0


def test_asof_join_is_single_window_no_join(fingerprints):
    row = fingerprints["asof_last_click"]
    assert all(row[j] == 0 for j in _JOINS), row
    assert row["Window"] >= 1


def test_gopher_filters_single_shuffle(fingerprints):
    """The quality gates are scan-local expressions; only the tiny
    per-language rollup shuffles — exactly one HASH exchange. (The
    round-robin exchange is td()'s layout spread: a narrow
    one-row-group-scan fix that is a no-op on real multi-file inputs —
    see _util.spread — not part of the query's data movement.)"""
    row = fingerprints["gopher_quality_filters"]
    assert row["exchange_hash"] == 1, row
    # an accidental extra repartition would otherwise hide behind the
    # hash-only count above
    assert row["exchange_round_robin"] == 1, row


def test_grouping_sets_is_single_expand(fingerprints):
    """All three grains come from ONE Expand feeding one agg — not a
    union of three separate groupBys."""
    row = fingerprints["grouping_sets_revenue"]
    assert row["Expand"] == 1
    assert row["Union"] == 0


@pytest.mark.parametrize("name", ("event_id_islands", "quartile_bins"))
def test_block_offset_ranking_single_partition_counts_only(fingerprints,
                                                           name):
    """Global row_number / exact ntile by block offsets: partitioned
    row_number per key-range block plus broadcast cumulative block
    counts. Only the tiny per-block counts frame crosses a single
    partition (exactly one single exchange) — never the rows
    themselves — and no pair scan ranks them."""
    row = fingerprints[name]
    assert row["exchange_single"] == 1, row
    assert row["CartesianProduct"] == 0, row


def test_phash_retrieval_is_block_equijoin(fingerprints):
    """dedup_image_phash: candidate retrieval must be the pigeonhole
    block EQUI-join on (blk, val) — a hash join, never a nested-loop
    or cartesian pair scan — with both join sides reading the SAME
    persisted fingerprint frame (InMemoryTableScan on each side, so
    the mapInPandas fingerprint pass executes once to fill the cache)."""
    row = fingerprints["dedup_image_phash"]
    assert row["CartesianProduct"] == 0
    assert row["BroadcastNestedLoopJoin"] == 0
    assert row["SortMergeJoin"] + row["ShuffledHashJoin"] \
        + row["BroadcastHashJoin"] >= 1
    assert row["InMemoryTableScan"] >= 2  # shared persist seam


def test_bloom_query_broadcasts_filter(fingerprints):
    """bloom_seen_digests: the <=128-row packed filter must broadcast
    into the probe join (never sort-merge), with zero Python stages —
    construction and probes are pure bit arithmetic."""
    row = fingerprints["bloom_seen_digests"]
    assert row["BroadcastHashJoin"] >= 1
    assert row["SortMergeJoin"] == 0
    assert row["python_eval"] == 0


def test_html_extraction_is_pure_map(fingerprints):
    """html_extract_text: extraction cost IS the scan — no data
    shuffle of any kind (the 100 TB crawl-extraction contract), zero
    Python. The one round-robin exchange is td()'s local
    one-row-group layout spread (see test_gopher_filters_single_
    shuffle), not query data movement."""
    row = fingerprints["html_extract_text"]
    assert row["exchange_hash"] == 0
    assert row["exchange_single"] == 0
    assert row["exchange_range"] == 0
    assert row["exchange_round_robin"] == 1
    assert row["python_eval"] == 0


def test_pricing_summary_filter_pushdown(spark):
    plan = _plan(spark, "pricing_summary")
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters:")[1].split("]")[0]


def test_source_budget_cap_prunes_map_side(spark):
    """source_budget_cap's docstring promises the rank<=K runs in the
    map-side WindowGroupLimit shape: each input partition is pruned to
    K rows per source BEFORE the exchange, so the shuffle carries
    O(sources*K*partitions), not the corpus. Pin the Partial
    WindowGroupLimit below the Exchange and that no GLOBAL sort is
    planned (only partition-local sorts feeding the group limit)."""
    plan = _plan(spark, "source_budget_cap")
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan.split("WindowGroupLimit")[2], plan
    # the Partial prune sits BELOW (prints after) the shuffle exchange
    exchange_at = plan.index("Exchange hashpartitioning")
    partial_at = plan.index(", Partial")
    assert partial_at > exchange_at, "map-side prune not below exchange"
    # all sorts are partition-local (global flag false): `Sort [...], false, 0`
    assert ", true, 0" not in plan, "unexpected global sort"


def test_locality_key_queries_plan_shape(spark):
    """zorder_locality and hilbert_locality compute the curve key as
    pure shift/mask codegen; their snapshot rows pin the rest (no
    Python eval, the 1-row bounds agg broadcast into a
    BroadcastNestedLoopJoin, one data shuffle)."""
    for name in ("zorder_locality", "hilbert_locality"):
        assert "shiftright" in _plan(spark, name), name


def test_column_pruning_reaches_scan(spark):
    """orders_page projects a few columns; the parquet ReadSchema must
    not contain the unused o_comment column."""
    plan = _plan(spark, "orders_page")
    reads = [seg.split(">")[0] for seg in plan.split("ReadSchema: struct<")[1:]]
    assert reads, "no parquet scan found"
    assert all("o_comment" not in r for r in reads)


def test_correlated_exists_plans_semi_anti(spark):
    plan = _plan(spark, "customers_open_no_final")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_q3_filters_pushdown_and_broadcast(spark):
    plan = _plan(spark, "q3_shipping_priority")
    pushed = plan.split("PushedFilters:")
    assert any("o_orderdate" in p.split("]")[0] or "l_shipdate" in p.split("]")[0]
               for p in pushed[1:])
    assert "TakeOrderedAndProject" in plan  # top-10 never global-sorts


def test_session_scale_configs_pinned(spark):
    """The scale-critical session settings PERFORMANCE.md relies on:
    AQE (+ coalesce/skew-join), Arrow for pandas exchange, UTC
    timezone (oracle parity), a real broadcast threshold."""
    conf = spark.conf
    assert conf.get("spark.sql.adaptive.enabled") == "true"
    assert conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    assert conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    assert conf.get("spark.sql.session.timeZone") == "UTC"
    assert int(conf.get("spark.sql.autoBroadcastJoinThreshold")) >= 10 * 1024 * 1024


def test_feature_scaling_prunes_text_column(spark):
    """feature_scaling touches only doc_id/lang/n_chars — the wide
    `text` column must not appear in the parquet ReadSchema."""
    plan = _plan(spark, "feature_scaling")
    for schema in plan.split("ReadSchema:")[1:]:
        assert "text" not in schema.split("\n")[0], schema.split("\n")[0]


def test_scheduler_config_jobs_and_cron(tmp_path):
    """Schedule surface parity (reference scheduler_manager.py:136-205):
    add/remove/clear persist to JSON and survive reload; next_run is
    computed from the cron expression."""
    from datetime import datetime

    from medallion_data_pipeline_spark.plans import scheduler as SCH

    m = SCH.SchedulerManager(str(tmp_path))
    now = datetime(2026, 1, 5, 10, 30)  # a Monday
    j1 = m.add_schedule("daily", "0 2 * * *", stage="full", now=now)
    j2 = m.add_schedule("hourly", "15 * * * *", stage="gold", now=now)
    assert j1["next_run"] == "2026-01-06T02:00:00"
    assert j2["next_run"] == "2026-01-05T11:15:00"

    m2 = SCH.SchedulerManager(str(tmp_path))  # reload from disk
    assert [j["id"] for j in m2.get_active_jobs(now)] == [j1["id"], j2["id"]]
    assert m2.remove_schedule(j1["id"]) and not m2.remove_schedule(j1["id"])
    m2.clear_all_schedules()
    assert SCH.SchedulerManager(str(tmp_path)).jobs_config == []

    assert SCH.cron_matches("*/5 9-17 * * 1-5", datetime(2026, 1, 5, 9, 25))
    assert not SCH.cron_matches("*/5 9-17 * * 1-5", datetime(2026, 1, 4, 9, 25))
    assert not SCH.cron_matches("*/5 9-17 * * 1-5", datetime(2026, 1, 5, 8, 25))


def test_scheduler_run_log_truncates_at_100(tmp_path):
    """Two scheduled idempotent runs append run-log rows; the log keeps
    only the last 100 entries (reference scheduler_manager.py:285)."""
    from datetime import datetime

    from medallion_data_pipeline_spark.plans import scheduler as SCH

    runs = []
    m = SCH.SchedulerManager(str(tmp_path), runner=lambda stage: (runs.append(stage), True)[1])
    now = datetime(2026, 1, 5, 2, 0)
    m.add_schedule("daily", "0 2 * * *", stage="full", now=now)
    m.add_schedule("daily-gold", "0 2 * * *", stage="gold", now=now)

    assert len(m.run_due_jobs(now)) == 2      # both jobs fire this minute
    assert len(m.run_due_jobs(now)) == 2      # idempotent re-tick
    assert runs == ["full", "gold", "full", "gold"]
    hist = m.get_execution_history(limit=None)
    assert len(hist) == 4
    assert {h["status"] for h in hist} == {"success"}
    assert m.run_due_jobs(datetime(2026, 1, 5, 3, 0)) == []  # off-minute

    for _ in range(120):
        m.log_execution("full", "success")
    assert len(m.get_execution_history(limit=None)) == 100
    assert len(m.get_execution_history(limit=10)) == 10

    # a crashing runner is logged as error, never raised (ref :258-261)
    boom = SCH.SchedulerManager(str(tmp_path), runner=lambda s: 1 / 0)
    assert boom.run_pipeline_job("full") is False
    assert boom.get_execution_history(limit=1)[0]["status"] == "error"


def test_scheduler_drives_real_pipeline(spark, tmp_path):
    """End-to-end wiring: a cron job executed by run_due_jobs drives the
    actual medallion pipeline through make_pipeline_runner and records
    the success in the run log."""
    from datetime import datetime

    from medallion_data_pipeline_spark.plans import scheduler as SCH

    wh = str(tmp_path / "wh")
    m = SCH.SchedulerManager(str(tmp_path / "sched"),
                             runner=SCH.make_pipeline_runner(spark, wh))
    now = datetime(2026, 1, 5, 2, 0)
    m.add_schedule("nightly", "0 2 * * *", stage="full", now=now)
    assert m.run_due_jobs(now) != []
    hist = m.get_execution_history(limit=1)
    assert hist[0]["status"] == "success" and hist[0]["stage"] == "full"
    import os
    assert os.path.isdir(os.path.join(wh, "gold"))


def test_pack_contexts_bins_stay_dense_with_long_docs(spark):
    """A document longer than the context size must not leave holes in
    the bin sequence: bins are a running count of boundary crossings,
    not floor(prefix/context) — which would skip indices after a long
    doc."""
    from medallion_data_pipeline_spark.plans.corpus import pack_contexts

    rows = [(1, "a " * 50, "en", "train"),      # 50 tok
            (2, "b " * 2000, "en", "train"),    # 2000 tok — 3.9x context
            (3, "c " * 50, "en", "train"),
            (4, "d " * 50, "en", "train"),
            (5, "e " * 600, "en", "train")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, split string")
    out = pack_contexts(df, context_tokens=512).orderBy("doc_id").collect()
    bins = [r.bin for r in out]
    assert bins == sorted(bins)
    assert set(bins) == set(range(max(bins) + 1)), bins  # dense, no holes
    # doc 3 opens the bin right after doc 2's (not bin 4 as raw floor would)
    assert bins[2] == bins[1] + 1


def test_corpus_pipeline_layers_and_leakage(spark, tmp_path):
    """End-to-end corpus curation (plans/corpus.py): stage counts only
    shrink, the landed corpus partitions into the three splits, packing
    bins are per-(split, lang) contiguous, and NO minhash near-dup pair
    straddles two splits (the leakage invariant the cluster-aware split
    exists for)."""
    from medallion_data_pipeline_spark.operators.dedup import minhash_near_duplicates
    from medallion_data_pipeline_spark.plans.corpus import run_corpus_pipeline

    out = str(tmp_path / "corpus")
    results = run_corpus_pipeline(spark, "/root/testdata/sf0.01", out)

    assert [r.stage for r in results] == [
        "quality_gate", "exact_dedup", "near_dedup", "split_and_pack"]
    for r in results:
        assert r.rows_out <= r.rows_in
    assert results[-1].rows_out > 0

    corpus = spark.read.parquet(f"{out}/corpus")
    rows = corpus.select("doc_id", "split", "lang", "bin").collect()
    assert {r.split for r in rows} <= {"train", "val", "test"}

    # bins contiguous from 0 within each (split, lang)
    by_sl = {}
    for r in rows:
        by_sl.setdefault((r.split, r.lang), set()).add(r.bin)
    for bins in by_sl.values():
        assert bins == set(range(len(bins)))

    # leakage: near-dup pairs among survivors share a split
    splits = {r.doc_id: r.split for r in rows}
    pairs = minhash_near_duplicates(
        corpus.select("doc_id", "text"), threshold=0.4).collect()
    for p in pairs:
        assert splits[p.id_a] == splits[p.id_b], (p.id_a, p.id_b)


def test_crawl_pipeline_stages_and_parity(spark, tmp_path):
    """End-to-end crawl tier (plans/crawl.py), a from-scratch crawl as
    the bootstrap increment against an empty ledger: corrupt lines
    are captured not dropped, the frontier blocklist removes exactly
    the rule-matching hosts/paths, dedup collapses each document's
    messy replicas to ONE row (keep-lowest), the seen filter keeps
    everything without copying deduped/, ledger epoch 0's Bloom
    filter is formula-sized over the surviving digests with zero
    false negatives, the langid gate keeps only confident keep_langs
    rows, and every quality-gate survivor satisfies the corpus
    quality_gate predicate — stage-by-stage parity with the
    operators the pipeline composes."""
    import os

    from pyspark.sql import functions as F

    from medallion_data_pipeline_spark.operators import sketch as K
    from medallion_data_pipeline_spark.plans import crawl as C
    from medallion_data_pipeline_spark.plans.corpus import quality_gate

    land = str(tmp_path / "landing")
    out = str(tmp_path / "wh")
    seen = str(tmp_path / "seen")
    n_lines = C.synthesize_crawl_shards(
        spark, "/root/testdata/sf0.001", land, replicas=6, shards=2)
    results = C.run_crawl_increment_epochs(spark, land, out, seen_root=seen)
    stages = {r.stage: r for r in results}
    assert [r.stage for r in results] == [
        "ingest", "html_extract", "canonicalize_frontier", "dedup",
        "seen_filter", "epoch_append", "langid_gate", "quality_gate"]

    # ingest: good + captured rejects account for every line
    n_rejects = spark.read.parquet(f"{out}/rejects").count()
    assert stages["ingest"].rows_out + n_rejects == n_lines
    assert n_rejects > 0  # the planted truncations were captured

    # extraction is row-preserving and recovers the planted skeleton
    assert stages["html_extract"].rows_out == stages["ingest"].rows_out
    ex = spark.read.parquet(f"{out}/extracted")
    bad_title = ex.filter(~F.col("title").startswith("Doc ")).count()
    assert bad_title == 0 and ex.filter(F.col("n_links") != 1).count() == 0

    # frontier: no admitted row matches any blocklist rule — including
    # the path_prefix rule, which only bites if canonicalization
    # actually collapsed the messy forms (regression-pinned: the :80
    # mess form once appended the port AFTER the path and uppercased
    # it, so /page/13 pages leaked past the frontier un-collapsed)
    adm = spark.read.parquet(f"{out}/admitted")
    path = F.regexp_replace("canonical_url", r"^https?://[^/]*", "")
    for _rid, kind, pat in C.CRAWL_BLOCK_RULES:
        if kind == "host_suffix":
            assert adm.filter(F.col("url_host").endswith(pat)).count() == 0
        elif kind == "path_prefix":
            assert adm.withColumn("_p", path) \
                .filter(F.col("_p").startswith(pat)).count() == 0
    # canonical forms are fully normalized (no scheme/host case or
    # default-port residue) and every replica of an admitted page
    # collapsed to ONE canonical identity
    assert adm.filter(F.col("canonical_url").rlike("[A-Z]|:80")).count() == 0
    # every replica of an admitted page collapsed to ONE canonical
    # identity: 6 raw rows per page, short only where a planted
    # corrupt line swallowed a replica
    percnt = adm.groupBy("canonical_url").count().collect()
    assert all(1 <= r["count"] <= 6 for r in percnt)
    assert sum(6 - r["count"] for r in percnt) <= n_rejects
    assert stages["canonicalize_frontier"].rows_out < \
        stages["html_extract"].rows_out

    # dedup: one row per canonical_url AND per digest, keep-lowest
    dd = spark.read.parquet(f"{out}/deduped")
    assert dd.groupBy("canonical_url").count() \
        .filter(F.col("count") > 1).count() == 0
    assert dd.groupBy("digest").count() \
        .filter(F.col("count") > 1).count() == 0

    # bootstrap seen filter: nothing was seen, deduped/ is not copied
    n_dd = stages["dedup"].rows_out
    assert (stages["seen_filter"].rows_in,
            stages["seen_filter"].rows_out) == (n_dd, n_dd)
    assert not os.path.isdir(f"{out}/new_docs")

    # ledger epoch 0: formula-sized, sizing PERSISTED as constant
    # columns (ADVICE r14 — m is data-dependent, a prober recomputing
    # it from a different count silently loses zero-false-negatives),
    # zero false negatives on digests; its digest shard carries the
    # exact side of the seen-set contract
    m = stages["epoch_append"].rows_out  # recorded as m
    assert m == K.bloom_m_for(n_dd, 0.01)
    assert os.listdir(f"{seen}/bloom_epochs") == ["epoch=0"]
    bloom = spark.read.parquet(f"{seen}/bloom_epochs/epoch=0")
    metas = bloom.select("m", "k", "fpr", "n").distinct().collect()
    assert len(metas) == 1 and metas[0]["m"] == m \
        and metas[0]["k"] == K.BLOOM_K and metas[0]["fpr"] == 0.01 \
        and metas[0]["n"] == n_dd
    miss = K.bloom_might_contain(
        dd.select(F.col("digest").alias("item")),
        bloom.select("word_idx", "bits"), m=m) \
        .filter(~F.col("might_contain")).count()
    assert miss == 0
    digests = spark.read.parquet(f"{seen}/digests/epoch=0")
    assert {r.digest for r in digests.collect()} == \
        {r.digest for r in dd.select("digest").collect()}

    # langid gate: survivors are exactly the confident-en deduped rows
    # under the SCRIPT-AWARE classifier (Latin corpus, so the trigram
    # verdicts decide; the multi-script routing is pinned separately)
    from medallion_data_pipeline_spark.functions import langid as LG
    lp = spark.read.parquet(f"{out}/langpass")
    verdicts = LG.with_langid_script(dd, "doc_id", "text")
    want = {r.doc_id for r in verdicts.filter(
        (F.col("lang") == "en") & (F.col("margin") > 0)).collect()}
    assert {r.doc_id for r in lp.select("doc_id").collect()} == want

    # quality gate: survivors all satisfy the corpus predicate
    corpus = spark.read.parquet(f"{out}/corpus")
    re_gated = quality_gate(lp).count()
    assert corpus.count() == re_gated
    for r in results:
        if r.stage not in ("ingest", "epoch_append"):
            assert r.rows_out <= r.rows_in


def test_crawl_keep_lowest_skew_safe(spark):
    """plans/crawl.py::keep_lowest (VERDICT r14 #5): the planted
    hot-URL case — one canonical URL with 5000 replicas among
    singletons — must keep exactly the min-id row per key, and the
    plan must be partial-agg + join with NO window (the row_number
    form sorted every hot-key replica in a single window
    partition)."""
    from pyspark.sql import functions as F

    from medallion_data_pipeline_spark.plans import crawl as C

    df = spark.range(5000).select(
        F.lit("http://hot.example.com/").alias("canonical_url"),
        (F.col("id") + 17).alias("doc_id")
    ).unionByName(spark.range(40).select(
        F.concat(F.lit("http://cold.example.com/"),
                 F.col("id").cast("string")).alias("canonical_url"),
        (F.col("id") + 100_000).alias("doc_id")
    )).unionByName(spark.range(3).select(
        # NULL keys (e.g. NULL html -> NULL digest) must keep ONE
        # min-id representative like the window form did — a plain
        # equi-join semi would silently drop all three (r15
        # self-review regression pin)
        F.lit(None).cast("string").alias("canonical_url"),
        (F.col("id") + 200_000).alias("doc_id")))
    out = C.keep_lowest(df, "canonical_url")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Window" not in plan, plan
    rows = {r.canonical_url: r.doc_id for r in out.collect()}
    assert len(rows) == 42
    assert rows["http://hot.example.com/"] == 17
    assert rows["http://cold.example.com/39"] == 100_039
    assert rows[None] == 200_000


def test_crawl_langid_gate_profile_routing(spark, tmp_path):
    """plans/crawl.py::_crawl_back derives within-script profile
    routing from keep_langs: asking for Urdu turns the ARABIC_SEEDS
    route on, so a ur document survives the gate (the flat map would
    have labeled it ar and dropped it) while a PERSIAN document is
    discriminated within the same script and dropped — the composed
    pipeline, not just the langid function, honors
    keep_langs=('en', 'ur')."""
    import json as J

    from medallion_data_pipeline_spark.plans import crawl as C

    texts = {
        1: ("the people said that they would come to the house with "
            "their friends because it was a good day for everyone "
            "there and the children play in the garden"),
        2: ("شام کو وہ کھڑکی کے پاس کتاب پڑھ رہا تھا اور اس کام کے "
            "بارے میں سوچ رہا تھا جو ہفتے کے اخر تک ختم ہونا چاہیے "
            "اور لوگوں نے کہا کہ وہ اپنے دوستوں کے ساتھ گھر ائیں گے"),
        3: ("در شب او کتابی را کنار پنجره می خواند و به کاری فکر می "
            "کرد که باید تا پایان هفته تمام شود و مردم گفتند که با "
            "دوستان خود به خانه خواهند امد"),
    }
    lines = []
    for i, txt in sorted(texts.items()):
        html = (f"<html><head><title>Doc {i}</title></head>"
                f"<body><h1>Heading</h1><p>{txt}</p></body></html>")
        lines.append(J.dumps({"doc_id": i,
                              "url": f"http://s{i}.example.com/doc/{i}",
                              "html": html}))
    land = tmp_path / "rland"
    land.mkdir()
    (land / "part0.jsonl").write_text("\n".join(lines) + "\n")

    out = str(tmp_path / "rwh")
    C.run_crawl_increment_epochs(spark, str(land), out,
                                 seen_root=str(tmp_path / "rseen"),
                                 keep_langs=("en", "ur"))
    kept = {r.doc_id for r in spark.read.parquet(f"{out}/langpass")
            .select("doc_id").collect()}
    assert kept == {1, 2}


def test_crawl_robots_gate(spark, tmp_path):
    """plans/crawl.py robots_dir option: the RFC 9309 politeness gate
    slots between canonicalization and the frontier — URLs a host's
    robots.txt disallows for the crawl agent drop with an audited
    robotspass/ stage, hosts without robots rows pass, and omitting
    robots_dir keeps the pipeline byte-identical (no robotspass
    layer)."""
    import json as J
    import os

    from medallion_data_pipeline_spark.plans import crawl as C

    text = ("the people said that they would come to the house with "
            "their friends because it was a good day for everyone "
            "there and the children play in the garden")
    lines = []
    for i in (1, 2, 3):
        html = (f"<html><head><title>Doc {i}</title></head>"
                f"<body><h1>Heading</h1><p>{text} doc {i}</p>"
                f"</body></html>")
        lines.append(J.dumps({"doc_id": i,
                              "url": f"http://s{i}.example.com/doc/{i}",
                              "html": html}))
    land = tmp_path / "rbland"
    land.mkdir()
    (land / "part0.jsonl").write_text("\n".join(lines) + "\n")

    robots = spark.createDataFrame(
        [("s1.example.com",
          "User-Agent: *\nDisallow: /doc/"),
         ("s2.example.com",
          "User-Agent: sparkbot\nAllow: /doc/\n\n"
          "User-Agent: *\nDisallow: /")],
        "host string, robots_txt string")
    rdir = str(tmp_path / "robots_pq")
    robots.write.parquet(rdir)

    out = str(tmp_path / "rbwh")
    res = C.run_crawl_increment_epochs(spark, str(land), out,
                                       seen_root=str(tmp_path / "rbseen"),
                                       robots_dir=rdir)
    stages = {r.stage: r for r in res}
    assert stages["robots_gate"].rows_in == 3
    assert stages["robots_gate"].rows_out == 2
    kept = {r.doc_id for r in spark.read.parquet(f"{out}/robotspass")
            .select("doc_id").collect()}
    # s1 blocked by *-group Disallow /doc/; s2 allowed by the
    # agent-specific group (its * group is ignored); s3 has no robots
    assert kept == {2, 3}

    out2 = str(tmp_path / "rbwh2")
    C.run_crawl_increment_epochs(spark, str(land), out2,
                                 seen_root=str(tmp_path / "rbseen2"))
    assert not os.path.isdir(os.path.join(out2, "robotspass"))
    assert {r.doc_id for r in spark.read.parquet(f"{out2}/deduped")
            .select("doc_id").collect()} == {1, 2, 3}


def _crawl_ab_landings(spark, tmp_path):
    """Two overlapping crawl landings plus their union: A = docs 0..11,
    B = docs 6..19 under HIGHER line ids, so the overlap 6..11
    re-appears as content dupes and 12..19 are new. URLs use /doc/,
    not /page/, so the frontier's /page/13 rule cannot swallow a
    planted doc and blur the exact counts. Returns the three landing
    dirs (a, b, a∪b)."""
    import json as J

    from pyspark.sql import functions as F

    from medallion_data_pipeline_spark.sources.testdata import load_table

    docs = (load_table(spark, "/root/testdata/sf0.001", "documents")
            .filter(F.col("text").isNotNull())
            .orderBy("doc_id").limit(20)
            .select("doc_id", "source", "text").collect())
    assert len(docs) == 20

    def line(rid, d):
        html = (f"<html><head><title>Doc {d.doc_id}</title></head>"
                f"<body><h1>Heading</h1><p>{d.text}</p>"
                f"<a href=\"/next\">next</a></body></html>")
        url = f"http://{d.source}.example.com/doc/{d.doc_id}"
        return J.dumps({"doc_id": rid, "url": url, "html": html})

    a_lines = [line(i, d) for i, d in enumerate(docs[:12])]
    b_lines = [line(100_000 + i, d) for i, d in enumerate(docs[6:])]
    lands = []
    for name, lines in [("eland_a", a_lines), ("eland_b", b_lines),
                        ("eland_full", a_lines + b_lines)]:
        p = tmp_path / name
        p.mkdir()
        (p / "part0.jsonl").write_text("\n".join(lines) + "\n")
        lands.append(str(p))
    return lands


def _ledger_epochs(spark, ledger):
    """{epoch: digest count} of the live seen-ledger."""
    from pyspark.sql import functions as F

    return {int(r["epoch"]): r["cnt"] for r in
            spark.read.parquet(f"{ledger}/digests").groupBy("epoch")
            .agg(F.count(F.lit(1)).alias("cnt")).collect()}


def _corpus_digests(spark, out):
    return {r.digest for r in spark.read.parquet(f"{out}/corpus")
            .select("digest").collect()}


def test_crawl_increment_epochs_parity(spark, tmp_path):
    """plans/crawl.py::run_crawl_increment_epochs — increment(A) then
    increment(B | ledger(A)) must agree with a from-scratch run on
    A∪B on the surviving corpus DIGEST sets (cross-increment identity
    is content; the doc_id tiebreak is first-increment-wins by
    design), while writing only one new epoch per increment: the
    seen filter drops exactly the digests A already saw (Bloom
    prefilter + mandatory exact verification), epoch 0 holds exactly
    A's deduped digests, epoch 1 exactly B's genuinely-new ones, each
    Bloom sized at ITS OWN count (different m across epochs — the
    arithmetic the gated bloom_sized_epochs query hash-pins), and
    probing the ledger never false-negatives a seen digest."""
    from pyspark.sql import functions as F

    from medallion_data_pipeline_spark.operators import sketch as K
    from medallion_data_pipeline_spark.plans import crawl as C

    land_a, land_b, land_full = _crawl_ab_landings(spark, tmp_path)
    ledger = str(tmp_path / "seen_ledger")
    out_a, out_b, out_full = (str(tmp_path / x)
                              for x in ("ewh_a", "ewh_b", "ewh_full"))
    res_a = C.run_crawl_increment_epochs(spark, land_a, out_a,
                                         seen_root=ledger)
    res_b = C.run_crawl_increment_epochs(spark, land_b, out_b,
                                         seen_root=ledger)
    full_ledger = str(tmp_path / "full_ledger")
    C.run_crawl_increment_epochs(spark, land_full, out_full,
                                 seen_root=full_ledger)

    # bootstrap: everything new, epoch 0 holds A's 12 deduped digests
    st_a = {r.stage: r for r in res_a}
    assert st_a["seen_filter"].rows_out == 12
    # increment: B's 14 distinct texts, A's 6 already-seen drop
    st_b = {r.stage: r for r in res_b}
    assert st_b["dedup"].rows_out == 14
    assert st_b["seen_filter"].rows_out == 8

    # the ledger: two epochs, disjoint digest shards, per-epoch sizing
    assert _ledger_epochs(spark, ledger) == {0: 12, 1: 8}
    ldg = spark.read.parquet(f"{ledger}/digests")
    new_digests = {r.digest for r in spark.read.parquet(
        f"{out_b}/new_docs").select("digest").collect()}
    a_digests = {r.digest for r in ldg.filter(F.col("epoch") == 0)
                 .select("digest").collect()}
    assert not (new_digests & a_digests)
    eblooms = spark.read.parquet(f"{ledger}/bloom_epochs")
    meta = {int(r["epoch"]): r for r in
            eblooms.select("epoch", "m", "k", "n").distinct().collect()}
    assert meta[0]["m"] == K.bloom_m_for(12, 0.01)
    assert meta[1]["m"] == K.bloom_m_for(8, 0.01)
    assert meta[0]["m"] != meta[1]["m"]  # heterogeneous m is the point

    # ledger union == from-scratch seen set; zero false negatives:
    # every ledger digest full-hits its OWN epoch's filter
    ledger_digests = {r.digest for r in ldg.select("digest").collect()}
    scratch = {r.digest for r in spark.read.parquet(
        f"{full_ledger}/digests").select("digest").collect()}
    assert ledger_digests == scratch
    pairs = {(r.item, int(r.epoch)) for r in K.bloom_epoch_hit_pairs_sized(
        ldg.select(F.col("digest").alias("item")), eblooms).collect()}
    for r in ldg.collect():
        assert (r.digest, int(r.epoch)) in pairs

    # corpus parity: A's corpus ∪ B's new corpus == from-scratch A∪B
    assert _corpus_digests(spark, out_a) | _corpus_digests(spark, out_b) \
        == _corpus_digests(spark, out_full)


def test_crawl_increment_failure_leaves_ledger_unchanged(spark, tmp_path):
    """An increment that fails after its epoch is staged (here: the
    langid gate's stage_hook raises while the epoch append runs
    overlapped) must leave the seen-ledger as it was. Otherwise the
    re-run would treat the failed increment's digests as seen and
    silently drop its new docs. The re-run then gives the same ledger
    and corpus as an uninterrupted A-then-B run."""
    from medallion_data_pipeline_spark.plans import crawl as C

    land_a, land_b, _ = _crawl_ab_landings(spark, tmp_path)
    ledger = str(tmp_path / "seen_ledger")
    C.run_crawl_increment_epochs(spark, land_a, str(tmp_path / "wh_a"),
                                 seen_root=ledger)

    def fail_at_langid(name):
        if name == "langid_gate":
            raise RuntimeError("injected langid_gate failure")

    out_b = str(tmp_path / "wh_b")
    with pytest.raises(RuntimeError, match="injected langid_gate"):
        C.run_crawl_increment_epochs(spark, land_b, out_b,
                                     seen_root=ledger,
                                     stage_hook=fail_at_langid)
    assert _ledger_epochs(spark, ledger) == {0: 12}

    C.run_crawl_increment_epochs(spark, land_b, out_b, seen_root=ledger)
    assert _ledger_epochs(spark, ledger) == {0: 12, 1: 8}

    clean = str(tmp_path / "clean_ledger")
    clean_b = str(tmp_path / "cwh_b")
    C.run_crawl_increment_epochs(spark, land_a, str(tmp_path / "cwh_a"),
                                 seen_root=clean)
    C.run_crawl_increment_epochs(spark, land_b, clean_b, seen_root=clean)

    def ledger_digests(root):
        return {(r.digest, int(r.epoch)) for r in
                spark.read.parquet(f"{root}/digests").collect()}

    assert ledger_digests(ledger) == ledger_digests(clean)
    assert _corpus_digests(spark, out_b) == _corpus_digests(spark, clean_b)
    assert _corpus_digests(spark, out_b)


def test_session_excludes_infer_filters_from_generate(spark):
    """The engine session must exclude InferFiltersFromGenerate: its
    inferred size(arr) > 0 filter re-substitutes a computed array
    expression at every reference site — O(tokens²) per row for
    shingles-over-tokens (docs/PERFORMANCE.md #28). Checks both the
    conf and the observable plan shape: no size(...)-filter below the
    projection when exploding a staged shingle column."""
    from pyspark.sql import functions as F

    from medallion_data_pipeline_spark.functions import text as X

    excluded = spark.conf.get("spark.sql.optimizer.excludedRules", "")
    assert "InferFiltersFromGenerate" in excluded

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h")], "doc_id long, text string")
    sh = (docs.withColumn("_toks", X.words(F.col("text")))
              .withColumn("_sh", X.shingles_from_tokens(F.col("_toks"), 4)))
    plan = sh.select(F.explode("_sh").alias("g")) \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert "Filter (size(" not in plan, plan


def test_no_filter_on_computed_array_size(spark):
    """Filters must gate on cheap input columns, never on the size of
    a computed array: the pushed-down predicate re-evaluates the whole
    interpreted HOF chain per row (PERFORMANCE.md #34 — winnowing paid
    4.6 s of its 5 s wall in `filter(size(_sh) >= w)`). Pins the fixed
    shapes: no Filter in the optimized plan evaluates a shingle
    builder (`concat_ws`) or a transform chain."""
    for name in ("doc_winnowing_fingerprints", "dedup_ngram_jaccard"):
        plan = REGISTRY[name].fn(spark, SF) \
            ._jdf.queryExecution().optimizedPlan().toString()
        for line in plan.splitlines():
            if line.lstrip().startswith(("Filter", "+- Filter", ":- Filter")):
                assert "concat_ws" not in line, (name, line)
                assert "transform(" not in line, (name, line)


def test_chunk_split_plans_only_on_skewed_corpus(spark):
    """The oversized-group split must be plan-INVISIBLE on uniform
    corpora (2-key grouping) and plan-VISIBLE on the power-law query
    (the 4-key (tbl, bucket, _lo, _hi) grouping). The snapshot rows pin
    the Generate counts: one (the key posexplode) vs two (plus the
    chunk-pair explode)."""
    uniform = _plan(spark, "dedup_embedding_lsh")
    skewed = _plan(spark, "dedup_embedding_lsh_skew")
    assert "_lo" not in uniform and "_hi" not in uniform
    assert "_lo" in skewed and "_hi" in skewed


def test_readme_query_counts_match_registry():
    """README's query/oracle counts are derived claims — this test
    greps them against the live registry so the suite goes red the
    moment a query is registered without updating README (the drift
    recurred three rounds running: VERDICT r9 'What's wrong #1')."""
    import os
    import re

    from medallion_data_pipeline_spark.queries import REGISTRY, _load

    _load()
    n_queries = len(REGISTRY)
    n_oracles = sum(1 for q in REGISTRY.values() if q.oracle is not None)
    readme = open(os.path.join(os.path.dirname(__file__), "..",
                               "README.md")).read()

    m = re.search(r"the declared inventory: (\d+) queries.*?"
                  r"DuckDB oracle SQL for (\d+)", readme)
    assert m, "README inventory line not found"
    assert (int(m.group(1)), int(m.group(2))) == (n_queries, n_oracles), (
        f"README says {m.group(1)}/{m.group(2)} queries/oracles; "
        f"registry has {n_queries}/{n_oracles} — update README.md")

    m = re.search(r"check_correctness\.py\s+# (\d+) hash-match \+ (\d+) "
                  r"rows-only", readme)
    assert m, "README check_correctness line not found"
    assert int(m.group(1)) == n_oracles
    assert int(m.group(1)) + int(m.group(2)) == n_queries

    # the PERFORMANCE.md headline makes the same derived claim —
    # same guard (the drift recurred there in r10 after README was
    # already test-pinned)
    perf = open(os.path.join(os.path.dirname(__file__), "..",
                             "docs", "PERFORMANCE.md")).read()
    m = re.search(r"full registry is (\d+) queries \((\d+) "
                  r"DuckDB-oracle hash-matched", perf)
    assert m, "PERFORMANCE.md registry line not found"
    assert (int(m.group(1)), int(m.group(2))) == (n_queries, n_oracles), (
        f"PERFORMANCE.md says {m.group(1)}/{m.group(2)}; registry has "
        f"{n_queries}/{n_oracles}")


def test_expr_cache_builds_once_under_threads():
    """run_silver drives the cached cleaners from a ThreadPoolExecutor;
    the cache must build exactly once even when first touched by many
    threads at once (the double-build race ADVICE r10 flagged)."""
    import time
    from concurrent.futures import ThreadPoolExecutor

    from medallion_data_pipeline_spark.plans.silver import _expr_cache

    calls = []

    @_expr_cache
    def slow_build():
        calls.append(1)
        time.sleep(0.05)  # widen the race window
        return object()

    with ThreadPoolExecutor(8) as ex:
        results = list(ex.map(lambda _: slow_build(), range(16)))
    assert len(calls) == 1
    assert all(r is results[0] for r in results)


def test_bm25_top_k_is_take_ordered_not_global_window(spark):
    """bm25_doc_ranking's two rank<=K windows (term top-3, doc top-20)
    must plan as distributed TakeOrderedAndProject (Spark rewrites the
    rank-filter pattern), NOT a single-partition global Window over
    the corpus; the snapshot row pins the broadcast term join."""
    plan = _plan(spark, "bm25_doc_ranking")
    assert "TakeOrderedAndProject(limit=20" in plan
    assert "TakeOrderedAndProject(limit=3" in plan


def test_hard_negatives_fuse_label_filter_into_join(spark):
    """hard_negative_mining: label mismatch must live IN the
    broadcast join condition (pairs pruned before the stream exists),
    not a post-join filter."""
    plan = _plan(spark, "hard_negative_mining")
    assert "NOT (query_label" in plan or "query_label#" in plan.split(
        "BroadcastNestedLoopJoin")[1].split("\n")[0]


def test_curriculum_top_k_is_take_ordered(spark):
    """curriculum_interleave's global position<=K plans as distributed
    TakeOrderedAndProject feeding a K-row bounded window — never a
    single-partition sort of the corpus."""
    plan = _plan(spark, "curriculum_interleave")
    assert "TakeOrderedAndProject(limit=60" in plan


def test_rrf_fusion_shape(spark):
    """hybrid_rrf_fusion: the full-outer rank fusion is the one
    sort-merge join (full outer cannot broadcast-hash — two slim
    (doc_id, rank) columns is the correct at-scale shape)."""
    plan = _plan(spark, "hybrid_rrf_fusion")
    assert len([ln for ln in plan.splitlines()
                if "SortMergeJoin" in ln and "FullOuter" in ln]) == 1


def test_langid_windows_partition_by_doc(spark):
    """langid_confidence: every ranking window must partition (by
    doc_id or lang) — a global single-partition window over the
    corpus would serialize at scale."""
    plan = _plan(spark, "langid_confidence")
    import re as _re
    for m in _re.finditer(r"Window \[row_number\(\).*?windowspecdefinition\(([^,]*),", plan):
        assert ("doc_id" in m.group(1)) or ("lang" in m.group(1)), \
            m.group(0)[:200]


def test_training_order_no_global_window(spark):
    """training_order_shuffle: the corpus-side row_number must run
    partitioned by the 256 key-prefix buckets — corpus rows flow
    through a hashpartitioning(blk) exchange; the snapshot row pins
    the one SinglePartition exchange feeding the bounded 256-row
    offsets frame."""
    assert "hashpartitioning(blk" in _plan(spark, "training_order_shuffle")


def test_canonical_url_host_cap_plan_shape(spark):
    """dedup_canonical_url: the per-host rank<=K runs in the map-side
    WindowGroupLimit shape (Partial prune below the exchange, the
    source_budget_cap contract)."""
    plan = _plan(spark, "dedup_canonical_url")
    assert "WindowGroupLimit" in plan and ", Partial" in plan
    assert plan.index(", Partial") > plan.index("Exchange hashpartitioning")


if __name__ == "__main__":
    from medallion_data_pipeline_spark.session import get_spark

    _write_snapshot(_fingerprints(get_spark("plan-snapshot", 8), REGISTRY))
