"""Property tests for the corpus-quality / time-series batches.

The oracle gate certifies value equality vs DuckDB; these tests pin the
SEMANTIC invariants that make the operators correct at any scale —
properties a refactor could silently break while still hash-matching a
co-broken oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from medallion_data_pipeline_spark.functions import text as X
from medallion_data_pipeline_spark.metrics import executed_plan
from medallion_data_pipeline_spark.queries import REGISTRY, _load
from medallion_data_pipeline_spark.sources.testdata import load_table

SF_SMOKE = "/root/testdata/sf0.001"


def _q(name):
    _load()
    return REGISTRY[name].fn


def test_sequence_packing_bins_are_contiguous_and_closed(spark):
    """Per language: bin ids are 0..n_bins-1 with no holes, and every
    non-final bin is 'closed' — the running token sum at its last doc
    has crossed the next 512 boundary (otherwise the next doc would
    still belong to it)."""
    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "lang", F.size(X.words(F.col("text"))).alias("tok"))
    w = W.partitionBy("lang").orderBy("doc_id")
    d = docs.withColumn("cum", F.sum("tok").over(w))
    d = d.withColumn("bin", F.floor((F.col("cum") - F.col("tok")) / 512))
    per_bin = d.groupBy("lang", "bin").agg(F.max("cum").alias("cum_end"))
    wb = W.partitionBy("lang").orderBy("bin")
    per_bin = per_bin.withColumn("rk", F.row_number().over(wb))
    rows = per_bin.collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, bins in by_lang.items():
        bins.sort(key=lambda r: r.bin)
        assert [r.bin for r in bins] == list(range(len(bins))), lang
        for r in bins[:-1]:  # every non-final bin crossed its boundary
            assert r.cum_end >= 512 * (r.bin + 1), (lang, r.bin, r.cum_end)


def test_debounce_is_idempotent(spark):
    """Debouncing the kept set again drops nothing: consecutive kept
    events are always >= the 5-min gap apart (the dropped events between
    them only widen the spacing)."""
    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "event_type", "ts")
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    ms = F.unix_millis("ts")
    g = ev.withColumn("gap", ms - F.lag(ms).over(w))
    kept = g.filter(F.col("gap").isNull() | (F.col("gap") >= 300000)).select(
        "event_id", "event_type", "ts")
    g2 = kept.withColumn("gap", ms - F.lag(ms).over(w))
    n_dropped_second_pass = g2.filter(
        F.col("gap").isNotNull() & (F.col("gap") < 300000)).count()
    assert n_dropped_second_pass == 0


def test_gap_fill_spine_is_complete(spark):
    """Every (event_type, hour) cell of the spine exists exactly once;
    counts are zero-filled (never null); forward-filled value is only
    null before a type's first observed hour."""
    out = _q("events_gap_fill")(spark, SF_SMOKE).cache()
    n_types = out.select("event_type").distinct().count()
    n_hours = out.select("hour").distinct().count()
    assert out.count() == n_types * n_hours
    assert out.groupBy("event_type", "hour").count().agg(
        F.max("count")).collect()[0][0] == 1
    assert out.filter(F.col("n_events").isNull()).count() == 0
    # once a type has a value, every later hour carries one
    w = W.partitionBy("event_type").orderBy("hour")
    flagged = out.withColumn(
        "seen", F.max(F.col("ffill_avg_value").isNotNull().cast("int")).over(w))
    assert flagged.filter(
        (F.col("seen") == 1) & F.col("ffill_avg_value").isNull()).count() == 0
    out.unpersist()


def test_temperature_weights_normalize(spark):
    rows = _q("temperature_resample")(spark, SF_SMOKE).collect()
    assert abs(sum(r.sample_weight for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.token_share for r in rows) - 1.0) < 1e-4
    # flattening: smallest language gains weight relative to its share,
    # largest loses
    lo = min(rows, key=lambda r: r.token_share)
    hi = max(rows, key=lambda r: r.token_share)
    assert lo.sample_weight > lo.token_share
    assert hi.sample_weight < hi.token_share


def test_grouping_sets_grain_counts(spark):
    out = _q("grouping_sets_revenue")(spark, SF_SMOKE).collect()
    regions = {r.region for r in out if r.g_priority == 1 and r.g_region == 0}
    priorities = {r.priority for r in out if r.g_region == 1 and r.g_priority == 0}
    grand = [r for r in out if r.g_region == 1 and r.g_priority == 1]
    assert len(out) == len(regions) + len(priorities) + 1
    assert len(grand) == 1
    # each grain sums to the same grand total
    tot = grand[0].revenue
    assert abs(sum(r.revenue for r in out if r.g_priority == 1 and r.g_region == 0) - tot) < 1e-6
    assert abs(sum(r.revenue for r in out if r.g_region == 1 and r.g_priority == 0) - tot) < 1e-6


def test_gopher_filter_tallies_are_consistent(spark):
    rows = _q("gopher_quality_filters")(spark, SF_SMOKE).collect()
    for r in rows:
        assert 0 <= r.n_pass <= r.n_docs
        # a doc fails iff it trips at least one gate (mwl band never
        # trips on this corpus, so the three tallies cover all failures)
        assert r.n_fail_short + r.n_fail_stopword + r.n_fail_repetitive >= r.n_docs - r.n_pass


def test_ann_variants_recall_floor(spark):
    """LSH and IVF approximate top-5 must retain reasonable recall vs
    the exact brute-force top-5 on the same queries. sf0.01 (500
    vectors, 10 queries) — sf0.001's single query has degenerate
    buckets."""
    from medallion_data_pipeline_spark.operators import similarity as S
    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    qs = emb.filter(F.col("vec_id") % 50 == 0)

    def pairs(df):
        return {(r.query_id, r.neighbor_id) for r in df.collect()}

    exact = pairs(S.knn_bruteforce(emb, qs, k=5))
    # wider buckets (fewer planes) for recall; the synthetic embeddings
    # are near-isotropic, so hyperplane agreement among true neighbors
    # is weak — floors sit far above the ~0.01 chance baseline, not at
    # production levels (real clustered embeddings bucket far better)
    lsh = pairs(S.knn_lsh(emb, qs, k=5, n_planes=4))
    ivf = pairs(S.knn_ivf_probe(emb, qs, k=5, nprobe=1))
    assert len(exact) > 0
    assert len(lsh & exact) / len(exact) >= 0.1
    assert len(ivf & exact) / len(exact) >= 0.3


def test_digests_stable_across_shuffle_partitioning(spark):
    """The reproducibility contract: digest-certified queries produce
    IDENTICAL results under a different shuffle partitioning (the
    cluster-size-independence the deterministic samplers promise)."""
    from medallion_data_pipeline_spark.queries import REGISTRY, _load
    _load()
    names = ["hash_split", "sequence_packing", "deterministic_sample",
             "stratified_sample"]
    before = {}
    for n in names:
        before[n] = sorted(map(str, REGISTRY[n].fn(spark, SF_SMOKE).collect()))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        for n in names:
            after = sorted(map(str, REGISTRY[n].fn(spark, SF_SMOKE).collect()))
            assert after == before[n], n
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_incremental_merge_is_associative_and_order_free(spark):
    """merge(partial(A), partial(B)) == agg(A ∪ B) for several split
    points, and merging in either order gives identical state — the
    invariant that legalizes O(delta) refreshes."""
    from medallion_data_pipeline_spark.operators import incremental as I

    o = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
        F.col("o_orderdate").cast("date").alias("d"))
    spec = {
        "n": ("count", "p"),
        "s": ("sum", "p"),
        "mn": ("min", "d"),
        "mx": ("max", "d"),
    }
    keys = ["o_orderpriority"]
    full = {tuple(r) for r in I.partial_agg(o, keys, spec).collect()}
    for boundary in ("1994-06-01", "1996-01-01", "1998-01-01"):
        a = o.filter(F.col("d") < boundary)
        b = o.filter(F.col("d") >= boundary)
        ab = I.merge_partials(I.partial_agg(a, keys, spec),
                              I.partial_agg(b, keys, spec), keys, spec)
        ba = I.merge_partials(I.partial_agg(b, keys, spec),
                              I.partial_agg(a, keys, spec), keys, spec)
        assert {tuple(r) for r in ab.collect()} == full, boundary
        assert {tuple(r) for r in ba.collect()} == full, boundary


def test_cluster_aware_split_never_straddles(spark):
    """Leakage invariant: every near-dup cluster lands wholly in one
    split, and the assignment covers every document exactly once."""
    _load()
    out = REGISTRY["cluster_aware_split"].fn(spark, SF_SMOKE)
    docs_n = out.count()
    assert docs_n == out.select("doc_id").distinct().count()
    straddlers = (
        out.groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .count()
    )
    assert straddlers == 0
    # multi-doc clusters exist in the corpus, so the invariant is real
    assert out.groupBy("cluster_id").count().filter("count > 1").count() > 0


def test_simhash_hamming_probe_equals_all_pairs(spark):
    """The bit-flip probe expansion must recover EXACTLY the all-pairs
    Hamming<=1 set (100% recall is structural, not probabilistic), with
    each pair emitted once (the asymmetric probe-vs-exact join plus
    id_a < id_b kills duplicate and mirror collisions)."""
    from medallion_data_pipeline_spark.operators import dedup as D

    docs = load_table(spark, SF_SMOKE, "documents")
    got = D.simhash_hamming_pairs(docs, max_distance=1).collect()
    pair_list = [(r.id_a, r.id_b) for r in got]
    assert len(pair_list) == len(set(pair_list))  # no duplicate pairs

    fps = {r.doc_id: r.simhash
           for r in D.simhash_fingerprints(docs).collect()}
    ids = sorted(fps)
    expect = {
        (a, b): bin(fps[a] ^ fps[b]).count("1")
        for i, a in enumerate(ids) for b in ids[i + 1:]
        if bin(fps[a] ^ fps[b]).count("1") <= 1
    }
    assert {(r.id_a, r.id_b): r.hamming for r in got} == expect
    assert any(h == 1 for h in expect.values())  # d=1 pairs exist: the
    # operator genuinely catches what equal-fp grouping misses


def test_ngram_jaccard_prefix_filter_equals_all_pairs(spark):
    """The prefix-filter set-similarity join must recover EXACTLY the
    brute-force all-pairs Jaccard>=t set (the AllPairs prefix theorem
    makes 100% recall structural — this is the exact tier, so ANY
    missed pair is a correctness bug, not a recall trade-off)."""
    from medallion_data_pipeline_spark.operators import dedup as D

    docs = load_table(spark, SF_SMOKE, "documents")
    got = {(r.id_a, r.id_b): r.jaccard
           for r in D.ngram_jaccard_duplicates(docs, threshold=0.4).collect()}
    pair_list = list(got)
    assert len(pair_list) == len(set(pair_list))  # one row per pair

    shingled = (
        docs.withColumn("_toks", X.words(F.col("text")))
        .filter(F.size("_toks") >= 3)
        .select("doc_id",
                F.array_distinct(
                    X.shingles_from_tokens(F.col("_toks"), 3)).alias("ds"))
        .collect()
    )
    sets = {r.doc_id: set(r.ds) for r in shingled if r.ds}
    ids = sorted(sets)
    expect = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            uni = len(sets[a] | sets[b])
            j = round(inter / uni, 6) if uni else None
            if j is not None and j >= 0.4:
                expect[(a, b)] = j
    assert got == expect
    # near-dups (not just exact dups) exist, so the test has teeth
    assert any(j < 1.0 for j in expect.values())


def test_incremental_dedup_matches_full_pair_set(spark):
    """Batch-vs-corpus dedup must agree with the full symmetric MinHash
    pair set: a new doc is flagged iff it has a qualifying partner
    (corpus doc, or lower-id batch doc), and its reported best match is
    the max-Jaccard / min-id partner. Band collisions are symmetric, so
    restricting the probe side to the batch loses no pair."""
    from medallion_data_pipeline_spark.operators import dedup as D

    docs = load_table(spark, SF_SMOKE, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    got = {r.doc_id: (r.dup_of, r.jaccard)
           for r in D.incremental_near_duplicates(corpus, new).collect()}

    full = D.minhash_near_duplicates(docs, threshold=0.4).collect()
    matches = {}
    for r in full:
        for b, a in ((r.id_b, r.id_a), (r.id_a, r.id_b)):
            if b % 10 == 0 and (a % 10 != 0 or a < b):
                matches.setdefault(b, []).append((r.jaccard, a))
    expect = {b: (min(cs, key=lambda x: (-x[0], x[1]))[1],
                  max(cs)[0])
              for b, cs in matches.items()}
    assert got == {b: (a, j) for b, (a, j) in expect.items()}
    # the batch genuinely hits the corpus, not just itself
    assert any(a % 10 != 0 for a, _ in got.values())


def test_embedding_lsh_pairs_sound_and_recalls(spark):
    """Banded sign-LSH near-dup pairs: every reported pair must be a
    true pair (cosine >= threshold, exact within-bucket scoring = no
    false positives), reported cosines must match the exact all-pairs
    values, and recall vs exact all-pairs must clear a floor."""
    import math

    from medallion_data_pipeline_spark.operators import similarity as S

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    got = {(r.id_a, r.id_b): r.cosine
           for r in S.embedding_lsh_pairs(emb, threshold=0.42).collect()}

    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return num / (math.sqrt(sum(x * x for x in a))
                      * math.sqrt(sum(y * y for y in b)))

    ids = sorted(vecs)
    exact = {
        (a, b): cos(vecs[a], vecs[b])
        for i, a in enumerate(ids) for b in ids[i + 1:]
        if cos(vecs[a], vecs[b]) >= 0.42
    }
    assert set(got) <= set(exact)          # soundness: no false pairs
    for p, c in got.items():
        assert abs(c - exact[p]) < 1e-5    # exact scoring within buckets
    assert len(got) / len(exact) >= 0.5    # recall floor (measured ~0.7)


def test_embedding_kernels_carry_string_and_decimal_ids(spark):
    """The Arrow pair kernels carry the id column in its own type: string
    and decimal(12,0) ids give the integer-id run's pairs and 6-dp
    cosines, also when the oversized-group split runs on them
    (max_group=64), and the output ids keep the input's type."""
    from pyspark.sql import functions as F

    from medallion_data_pipeline_spark.operators import similarity as S

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    int_pairs = {(r.id_a, r.id_b): r.cosine
                 for r in S.embedding_lsh_pairs(emb, threshold=0.42).collect()}
    int_cells = {(r.id_a, r.id_b): r.cosine
                 for r in S.semantic_dedup_cells(
                     emb, k=4, iters=2, threshold=0.42).collect()}
    assert int_pairs and int_cells
    ids = {
        "string": (F.format_string("v%08d", "vec_id"), lambda v: int(v[1:])),
        "decimal(12,0)": (F.col("vec_id").cast("decimal(12,0)"), int),
    }
    for id_type, (id_expr, to_int) in ids.items():
        typed = emb.withColumn("tid", id_expr)
        for max_group in (8192, 64):
            lsh = S.embedding_lsh_pairs(typed, threshold=0.42, id_col="tid",
                                        max_group=max_group)
            assert dict(lsh.dtypes)["id_a"] == id_type
            assert {(to_int(r.id_a), to_int(r.id_b)): r.cosine
                    for r in lsh.collect()} == int_pairs, (id_type, max_group)
            cells = S.semantic_dedup_cells(typed, k=4, iters=2, threshold=0.42,
                                           id_col="tid", max_group=max_group)
            assert dict(cells.dtypes)["id_b"] == id_type
            assert {(to_int(r.id_a), to_int(r.id_b)): r.cosine
                    for r in cells.collect()} == int_cells, (id_type, max_group)


def test_segment_dedup_first_occurrence_wins(spark):
    """A span shared by two docs survives only in the earlier doc; the
    reassembled digest equals md5 of the surviving segments in order."""
    import hashlib

    from medallion_data_pipeline_spark.operators.dedup import exact_segment_dedup

    w = 3
    seg_a = "alpha beta gamma"          # appears in doc 1 then doc 2
    seg_b = "delta epsilon zeta"        # unique to doc 1
    seg_c = "eta theta iota"            # unique to doc 2
    docs = spark.createDataFrame(
        [(1, f"{seg_a} {seg_b}"), (2, f"{seg_c} {seg_a}"),
         (3, seg_a)],                   # doc 3: entirely duplicated
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           exact_segment_dedup(docs, seg_tokens=w).collect()}

    assert out[1]["n_dup_segments"] == 0
    assert out[1]["dedup_digest"] == hashlib.md5(
        f"{seg_a} {seg_b}".encode()).hexdigest()
    # doc 2's copy of seg_a is dropped (doc 1 owns the first occurrence)
    assert out[2]["n_dup_segments"] == 1
    assert out[2]["dedup_digest"] == hashlib.md5(seg_c.encode()).hexdigest()
    assert out[2]["kept_chars"] == len(seg_c)
    # doc 3 is reduced to the empty string
    assert out[3]["n_dup_segments"] == 1
    assert out[3]["kept_chars"] == 0
    assert out[3]["dedup_digest"] == hashlib.md5(b"").hexdigest()


def test_segment_dedup_tail_segment_is_partial(spark):
    """len(toks) not divisible by w: the tail segment is the remainder,
    and identical tails still dedup across docs."""
    from medallion_data_pipeline_spark.operators.dedup import exact_segment_dedup

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y z d e")],  # w=3: tails "d e" both
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           exact_segment_dedup(docs, seg_tokens=3).collect()}
    assert out[1]["n_segments"] == 2 and out[1]["n_dup_segments"] == 0
    assert out[2]["n_segments"] == 2 and out[2]["n_dup_segments"] == 1


def test_semantic_dedup_cells_sound_and_partitioned(spark):
    """SemDeDup in-cell pairs: every reported pair is a true pair with
    the exact cosine, both members share the reported k-means cell, and
    recall vs exact all-pairs clears a floor (missed pairs can only be
    cell-straddlers)."""
    import math

    from medallion_data_pipeline_spark.operators import similarity as S

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    rows = S.semantic_dedup_cells(emb, k=4, iters=2, threshold=0.42).collect()
    got = {(r.id_a, r.id_b): r.cosine for r in rows}

    cells = {r.vec_id: r.cell
             for r in S.lloyd_assignments(emb, k=4, iters=2).collect()}
    for r in rows:
        assert cells[r.id_a] == r.cell and cells[r.id_b] == r.cell

    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return num / (math.sqrt(sum(x * x for x in a))
                      * math.sqrt(sum(y * y for y in b)))

    ids = sorted(vecs)
    exact = {
        (a, b): cos(vecs[a], vecs[b])
        for i, a in enumerate(ids) for b in ids[i + 1:]
        if cos(vecs[a], vecs[b]) >= 0.42
    }
    assert set(got) <= set(exact)          # soundness: no false pairs
    for p, c in got.items():
        assert abs(c - exact[p]) < 1e-5    # exact scoring within cells
    # every miss straddles two cells (the documented recall mechanism)
    for (a, b) in set(exact) - set(got):
        assert cells[a] != cells[b]
    assert len(got) / len(exact) >= 0.3    # k=4 coarse-cell floor


def test_segment_dedup_global_uniqueness_property(spark):
    """Property (hypothesis): over ANY corpus, after segment dedup each
    distinct segment string survives exactly once corpus-wide, segment
    counts are conserved, and kept_chars equals the summed length of
    the surviving segments (separator-exclusive, matching the oracle's
    SUM(len(seg)))."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from medallion_data_pipeline_spark.operators.dedup import exact_segment_dedup

    w = 3
    token = st.sampled_from(list("abcdef"))  # tiny vocab -> heavy collisions
    doc = st.lists(token, min_size=1, max_size=12).map(" ".join)
    corpus = st.lists(doc, min_size=1, max_size=8)

    @given(texts=corpus)
    @settings(max_examples=6, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def run(texts):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
        rows = exact_segment_dedup(df, seg_tokens=w).collect()

        # replay the semantics in plain Python
        seen: set[str] = set()
        expect = {}
        for i, t in enumerate(texts):
            toks = t.split()
            segs = [" ".join(toks[j:j + w]) for j in range(0, len(toks), w)]
            kept = []
            for s in segs:
                if s not in seen:
                    seen.add(s)
                    kept.append(s)
            expect[i] = (len(segs), len(segs) - len(kept), " ".join(kept))

        assert len(rows) == len(expect)
        import hashlib
        for r in rows:
            n_seg, n_dup, kept_text = expect[r["doc_id"]]
            assert r["n_segments"] == n_seg
            assert r["n_dup_segments"] == n_dup
            n_kept = n_seg - n_dup
            assert r["kept_chars"] == len(kept_text) - max(n_kept - 1, 0)
            assert r["dedup_digest"] == hashlib.md5(kept_text.encode()).hexdigest()

    run()


def test_quality_quantile_filter_threshold_property(spark):
    """The per-language threshold is the exact p25 of the 2-dp score
    histogram: strictly fewer than 25% of a language's docs score BELOW
    the threshold, and dropping the threshold one distinct value down
    would break that."""
    from medallion_data_pipeline_spark.queries.llmops import quality_quantile_filter
    from medallion_data_pipeline_spark.functions import text as X

    sf = "/root/testdata/sf0.01"
    out = {r["lang"]: r for r in quality_quantile_filter(spark, sf).collect()}

    docs = load_table(spark, sf, "documents").withColumnRenamed("lang", "src_lang")
    scored = X.with_text_features(docs, "text").select(
        F.col("src_lang").alias("lang"), "quality").collect()
    by_lang: dict[str, list[float]] = {}
    for r in scored:
        by_lang.setdefault(r["lang"], []).append(r["quality"])

    for lang, row in out.items():
        qs = sorted(by_lang[lang])
        thr = row["threshold"]
        below = sum(1 for q in qs if q < thr)
        at_or_below = sum(1 for q in qs if q <= thr)
        assert below * 4 < len(qs)            # < 25% strictly below
        assert at_or_below * 4 >= len(qs)     # thr itself reaches p25
        assert row["n_kept"] == len(qs) - below
        assert row["n_total"] == len(qs)


def test_pq_codes_are_argmin_and_rerank_is_exact(spark):
    """PQ invariants: (a) every (vector, subspace) code is the true
    argmin over its codebook with the matching d2; (b) re-ranked
    cosines are EXACT — identical to the brute-force value for every
    returned pair; (c) the ADC shortlist recovers a floor of the true
    top-5."""
    import numpy as np

    from medallion_data_pipeline_spark.operators import similarity as S

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    books = S.pq_train(emb, m=4, k=8, iters=1)
    codes = S.pq_assign_long(emb, books).collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype="float64")
            for r in emb.collect()}
    subdim = len(books[0][0][1])
    for r in codes:
        sub = vecs[r.vec_id][r.subspace * subdim:(r.subspace + 1) * subdim]
        # codebooks are labeled (cell_id, centroid) pairs; the assigned
        # code must be the label of the argmin cell (ties -> lowest id)
        dists = {cid: float(((sub - np.array(c)) ** 2).sum())
                 for cid, c in books[r.subspace]}
        best = min(dists, key=lambda cid: (dists[cid], cid))
        assert r.code == best
        assert abs(r.d2 - dists[best]) < 1e-9

    q = emb.filter(F.col("vec_id") % 50 == 0)
    rer = {(r.query_id, r.neighbor_id): r.cosine
           for r in S.knn_pq_rerank(emb, q, k=5, shortlist=50).collect()}
    bf = {(r.query_id, r.neighbor_id): r.cosine
          for r in S.knn_bruteforce(emb, q, k=5).collect()}

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    for (qi, ni), c in rer.items():
        assert abs(c - round(cos(vecs[qi], vecs[ni]), 6)) < 2e-6
    # shortlist coverage floor (measured 0.40 on this corpus)
    assert len(set(rer) & set(bf)) / len(bf) >= 0.25


def _skewed_embeddings(spark, frac_mod: int = 7):
    """Power-law variant of the sf0.01 embeddings: every vec_id % frac_mod
    == 0 row is pulled onto one boilerplate direction (base + 0.05 * own
    embedding — deterministic, plan-side), so ~1/frac_mod of the corpus
    shares LSH signs / a k-means cell: the one-giant-bucket shape a real
    crawl produces and uniform synthetic corpora never do."""
    from medallion_data_pipeline_spark.functions.vectors import lit_double_array

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    base = lit_double_array([((j * 37 + 11) % 97) / 97.0 - 0.4
                             for j in range(64)])
    dv = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    skew = F.zip_with(base, dv, lambda b, x: b + 0.05 * x)
    return emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") % frac_mod == 0, skew).otherwise(dv))


def test_chunk_split_replicates_rows_and_covers_all_wedges(spark):
    """_chunk_split_oversized: an oversized group's rows replicate
    exactly C = ceil(n/max_group) ways, every unordered chunk pair
    (lo <= hi) appears, and groups at or under max_group stay single
    (C = 1, one (0, 0) subtask)."""
    from medallion_data_pipeline_spark.operators.similarity import (
        _chunk_split_oversized)

    rows = [(i, "big") for i in range(100)] + [(i, "small") for i in range(9)]
    keyed = spark.createDataFrame(rows, "vid long, bucket string")
    uniform, cols = _chunk_split_oversized(keyed, ["bucket"], max_group=200)
    assert cols == ["bucket"] and uniform is keyed  # no-skew: pinned plan
    split, cols = _chunk_split_oversized(keyed, ["bucket"], max_group=16)
    assert cols == ["bucket", "_lo", "_hi"]
    out = split.collect()
    big = [r for r in out if r.bucket == "big"]
    small = [r for r in out if r.bucket == "small"]
    c = 7  # ceil(100/16)
    assert len(big) == 100 * c
    assert len(small) == 9  # no replication below the threshold
    assert {(r._lo, r._hi) for r in small} == {(0, 0)}
    assert {(r._lo, r._hi) for r in big} == {
        (lo, hi) for lo in range(c) for hi in range(lo, c)}
    # each row lands once per subtask it participates in
    per_pair = {}
    for r in big:
        per_pair.setdefault((r._lo, r._hi), set()).add(r.vid)
    for (lo, hi), vids in per_pair.items():
        want = {v for v in range(100) if v % c in (lo, hi)}
        assert vids == want, (lo, hi)


def test_skewed_bucket_split_pair_sets_identical(spark):
    """The straggler split must be invisible in the OUTPUT: on a
    power-law corpus whose boilerplate cluster oversizes one LSH
    bucket per table (and one k-means cell), a forced split
    (max_group far below the cluster size) yields exactly the pair
    set and 6-dp cosines of the pinned one-task-per-group layout."""
    from medallion_data_pipeline_spark.operators import similarity as S

    emb = _skewed_embeddings(spark)
    # threshold above the cluster plateau so output stays bounded while
    # the quadratic scoring work still happens for every cluster pair
    unsplit = {(r.id_a, r.id_b): r.cosine
               for r in S.embedding_lsh_pairs(
                   emb, threshold=0.9, max_group=None).collect()}
    split = {(r.id_a, r.id_b): r.cosine
             for r in S.embedding_lsh_pairs(
                 emb, threshold=0.9, max_group=64).collect()}
    assert len(unsplit) > 100  # the cluster actually collides
    assert split == unsplit

    cells_unsplit = {(r.id_a, r.id_b): (r.cell, r.cosine)
                     for r in S.semantic_dedup_cells(
                         emb, k=4, iters=2, threshold=0.9,
                         max_group=None).collect()}
    cells_split = {(r.id_a, r.id_b): (r.cell, r.cosine)
                   for r in S.semantic_dedup_cells(
                       emb, k=4, iters=2, threshold=0.9,
                       max_group=64).collect()}
    assert len(cells_unsplit) > 100
    assert cells_split == cells_unsplit


def test_chunk_split_lut_branch_many_oversized_groups(spark):
    """With more than 64 oversized groups the split helper switches
    from a literal when-chain to a broadcast-joined lookup — same
    contract: exact replication counts, full wedge coverage, and
    untouched small groups."""
    from medallion_data_pipeline_spark.operators.similarity import (
        _chunk_split_oversized)

    rows = [(b * 1000 + i, b) for b in range(70) for i in range(21)]
    rows += [(90_000 + i, 999) for i in range(5)]
    keyed = spark.createDataFrame(rows, "vid long, bucket int")
    split, cols = _chunk_split_oversized(keyed, ["bucket"], max_group=10)
    assert cols == ["bucket", "_lo", "_hi"]
    out = split.collect()
    c = 3  # ceil(21/10)
    big = [r for r in out if r.bucket != 999]
    small = [r for r in out if r.bucket == 999]
    assert len(small) == 5 and {(r._lo, r._hi) for r in small} == {(0, 0)}
    assert len(big) == 70 * 21 * c
    for b in range(70):
        pairs = {(r._lo, r._hi) for r in big if r.bucket == b}
        assert pairs == {(lo, hi) for lo in range(c) for hi in range(lo, c)}


def test_chunk_split_null_keyed_group_splits_in_both_paths(spark):
    """A NULL-keyed oversized group must split like any other in BOTH
    lookup paths — the <=64-group when-chain (eqNullSafe literals) and
    the >64-group joined lookup (eqNullSafe join condition; a plain key
    join would leave the null group _c0=NULL -> c=1, a silently unsplit
    straggler — ADVICE r9)."""
    from medallion_data_pipeline_spark.operators.similarity import (
        _chunk_split_oversized)

    def null_group_wedges(n_other_groups: int):
        rows = [(i, None) for i in range(21)]
        rows += [(g * 1000 + i, g) for g in range(n_other_groups)
                 for i in range(21)]
        keyed = spark.createDataFrame(rows, "vid long, bucket int")
        split, cols = _chunk_split_oversized(keyed, ["bucket"],
                                             max_group=10)
        assert cols == ["bucket", "_lo", "_hi"]
        out = [r for r in split.collect() if r.bucket is None]
        return len(out), {(r._lo, r._hi) for r in out}

    c = 3  # ceil(21/10)
    want = {(lo, hi) for lo in range(c) for hi in range(lo, c)}
    for n_other in (1, 70):  # when-chain path, then lut-join path
        n_rows, wedges = null_group_wedges(n_other)
        assert n_rows == 21 * c, n_other
        assert wedges == want, n_other


def test_table_rows_footer_and_n_rows_hint(spark):
    """sources.testdata.table_rows reads exact counts from parquet
    footers (no Spark job), and passing it as the operators' n_rows
    hint changes NOTHING in the output — it only makes the no-split /
    split decision job-free at plan-build time."""
    from medallion_data_pipeline_spark.operators import similarity as S
    from medallion_data_pipeline_spark.sources.testdata import (
        load_table, table_rows)

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    n = table_rows(sf, "embeddings")
    assert n == emb.count()

    skewed = _skewed_embeddings(spark)
    n_skew = skewed.count()
    base = {(r.id_a, r.id_b): r.cosine
            for r in S.embedding_lsh_pairs(
                skewed, threshold=0.9, max_group=64).collect()}
    hinted = {(r.id_a, r.id_b): r.cosine
              for r in S.embedding_lsh_pairs(
                  skewed, threshold=0.9, max_group=64,
                  n_rows=n_skew).collect()}
    assert hinted == base and len(base) > 100
    cells_base = {(r.id_a, r.id_b): (r.cell, r.cosine)
                  for r in S.semantic_dedup_cells(
                      skewed, k=4, iters=2, threshold=0.9,
                      max_group=64).collect()}
    cells_hinted = {(r.id_a, r.id_b): (r.cell, r.cosine)
                    for r in S.semantic_dedup_cells(
                        skewed, k=4, iters=2, threshold=0.9,
                        max_group=64, n_rows=n_skew).collect()}
    assert cells_hinted == cells_base and len(cells_base) > 100


def test_capped_band_index_still_flags_every_clique_newcomer(spark):
    """The crawl-scale index cap (band_index(max_bucket=N), VERDICT r9
    next-round #3): with the corpus-side index capped at N=8 lowest
    ids per band bucket, EVERY newcomer matching a 40-doc boilerplate
    clique is still flagged — flag SET equality vs the uncapped index
    (dup_of may name a different clique member; here both name the
    retained lowest id), fresh docs stay unflagged, and the bucket
    invariant |bucket| <= N holds."""
    from medallion_data_pipeline_spark.operators import dedup as D

    template = " ".join(f"boiler{i}" for i in range(30))
    corpus_rows = [(i, template) for i in range(40)]  # the clique
    corpus_rows += [
        (100 + i, f"distinct corpus document number {i} discussing "
                  f"subject {i * 7} with particular vocabulary {i * 13}")
        for i in range(5)
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    new_rows = [(1000 + i, template) for i in range(6)]  # clique newcomers
    new_rows += [
        (2000, "entirely fresh subject matter about oceanography currents"),
        (2001, "another novel document covering medieval trade routes"),
    ]
    new = spark.createDataFrame(new_rows, "doc_id long, text string")

    capped = D.band_index(corpus, max_bucket=8)
    assert capped.groupBy("band_key").count() \
        .agg(F.max("count")).first()[0] <= 8
    # the retained members are the N lowest ids of each bucket
    clique_retained = {r.doc for r in capped.filter(F.col("doc") < 100)
                       .select("doc").distinct().collect()}
    assert clique_retained == set(range(8))

    flags_capped = {r.doc_id: r.dup_of for r in D.incremental_near_duplicates(
        corpus, new, corpus_index=capped).collect()}
    flags_full = {r.doc_id: r.dup_of for r in D.incremental_near_duplicates(
        corpus, new).collect()}
    # flag SET equality (the contract); every clique newcomer flagged
    assert set(flags_capped) == set(flags_full)
    assert {1000 + i for i in range(6)} <= set(flags_capped)
    assert 2000 not in flags_capped and 2001 not in flags_capped
    # capped dup_of must point at a RETAINED member
    for nid in (1000 + i for i in range(6)):
        assert flags_capped[nid] in clique_retained


def test_oversized_star_preserves_clusters_on_clique(spark):
    """Star candidates in oversized band buckets must preserve the
    connected components (and therefore the dedup survivors) on a
    boilerplate clique — while emitting a candidate set that is a
    strict, linear-size subset of the full quadratic one."""
    from medallion_data_pipeline_spark.operators import dedup as D
    from medallion_data_pipeline_spark.operators.graph import connected_components
    from medallion_data_pipeline_spark.plans.corpus import drop_near_duplicates

    template = " ".join(f"boiler{j}" for j in range(60))
    rows = [(i, f"{template} uq{i}a uq{i}b uq{i}c") for i in range(30)]
    rows += [(100 + i,
              " ".join(f"tok{i}x{j}" for j in range(40))) for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    full = D.minhash_near_duplicates(docs, threshold=0.4)
    star = D.minhash_near_duplicates(docs, threshold=0.4, oversized_star=8)
    full_pairs = {(r.id_a, r.id_b) for r in full.collect()}
    star_pairs = {(r.id_a, r.id_b) for r in star.collect()}
    assert star_pairs < full_pairs          # strictly fewer edges
    assert len(full_pairs) == 30 * 29 // 2  # the clique is quadratic
    # linear-ish, not exactly n-1: the unique tokens perturb a few
    # min-hashes, so the clique smears over several band buckets and
    # the sub-cap ones still pair fully
    assert len(star_pairs) <= 2 * 29

    def comps(pairs_df):
        c = connected_components(pairs_df).collect()
        by = {}
        for r in c:
            by.setdefault(r.comp, set()).add(r.node)
        return frozenset(frozenset(v) for v in by.values())

    assert comps(full) == comps(star) == frozenset({frozenset(range(30))})

    surv_full, _ = drop_near_duplicates(docs, threshold=0.4)
    surv_star, _ = drop_near_duplicates(docs, threshold=0.4,
                                        oversized_star=8)
    assert ({r.doc_id for r in surv_full.collect()}
            == {r.doc_id for r in surv_star.collect()})


def test_pq_books_registry_caches_and_invalidates(spark, tmp_path):
    """The PQ codebook registry returns the SAME trained books for an
    unchanged corpus file (no re-training jobs), retrains when the
    file changes (mtime/size key), and — training being deterministic
    — the retrained books are value-identical for identical bytes."""
    import os
    import shutil

    from medallion_data_pipeline_spark.queries import llmops as L

    sf = str(tmp_path)
    shutil.copy("/root/testdata/sf0.001/embeddings.parquet",
                os.path.join(sf, "embeddings.parquet"))
    b1 = L._pq_books(spark, sf)
    assert L._pq_books(spark, sf) is b1  # cache hit, no retrain
    os.utime(os.path.join(sf, "embeddings.parquet"))  # new mtime
    b2 = L._pq_books(spark, sf)
    assert b2 is not b1      # invalidated -> retrained
    assert b2 == b1          # deterministic training, same bytes


def test_model_registry_evicts_rewritten_source(tmp_path):
    """A rewritten corpus file must REPLACE its registry entry, not
    accumulate next to it: bench re-layouts and test tmp dirs rewrite
    the same path repeatedly, and keys retained forever would grow the
    registry (and pin trained artifacts) for the process lifetime."""
    import os

    from medallion_data_pipeline_spark.queries import llmops as L

    f = tmp_path / "embeddings.parquet"
    real = os.path.realpath(str(f))
    before = set(L._MODEL_REGISTRY)
    try:
        f.write_bytes(b"v1")
        assert L._trained_model(
            str(tmp_path), "embeddings", ("p", 1), lambda: "m1") == "m1"
        f.write_bytes(b"v2-longer")  # new size (and mtime): stale key
        assert L._trained_model(
            str(tmp_path), "embeddings", ("p", 1), lambda: "m2") == "m2"
        mine = [k for k in L._MODEL_REGISTRY
                if k not in before and k[0] == real]
        assert len(mine) == 1, f"stale entry not evicted: {mine}"
        # a DIFFERENT params tuple for the same path is a different
        # model — it must coexist, not be evicted
        L._trained_model(str(tmp_path), "embeddings", ("q", 2),
                         lambda: "m3")
        mine = [k for k in L._MODEL_REGISTRY
                if k not in before and k[0] == real]
        assert len(mine) == 2
    finally:
        for k in [k for k in list(L._MODEL_REGISTRY) if k not in before]:
            del L._MODEL_REGISTRY[k]


def test_source_budget_cap_keeps_lowest_hash_k_per_source(spark):
    """The cap keeps EXACTLY the K lowest-(md5, doc_id) docs per
    source, independent of input partitioning — the determinism that
    makes the sample reproducible on any cluster layout."""
    import hashlib

    from medallion_data_pipeline_spark.queries import REGISTRY, _load
    from medallion_data_pipeline_spark.queries.llmops import _SOURCE_CAP_K
    from medallion_data_pipeline_spark.sources.testdata import load_table

    _load()
    out = {r["source"]: r for r in
           REGISTRY["source_budget_cap"].fn(spark, SF_SMOKE).collect()}
    docs = load_table(spark, SF_SMOKE, "documents") \
        .select("source", "doc_id", "n_chars").collect()

    by_source: dict = {}
    for r in docs:
        by_source.setdefault(r["source"], []).append(r)
    assert set(out) == set(by_source)
    for src, rows in by_source.items():
        ranked = sorted(rows, key=lambda r: (
            hashlib.md5(f"cap:{r['doc_id']}".encode()).hexdigest(),
            r["doc_id"]))
        kept = ranked[:_SOURCE_CAP_K]
        assert out[src]["n_kept"] == len(kept)
        assert out[src]["kept_chars"] == sum(r["n_chars"] for r in kept)
        ids = ",".join(str(r["doc_id"]) for r in
                       sorted(kept, key=lambda r: r["doc_id"]))
        assert out[src]["kept_digest"] == hashlib.md5(ids.encode()).hexdigest()


def test_capped_band_index_false_negative_on_mixed_bucket(spark):
    """The cap's DOCUMENTED limitation, demonstrated (ADVICE r10 #1):
    flag preservation is guaranteed only for true mutual->=threshold
    clique buckets. This corpus builds a MIXED bucket — 13 docs that
    share a 42-token core block (pairwise Jaccard 0.32 < 0.4, so NOT
    near-dups) yet land in one band-0 bucket because that band's
    minima all hash into the shared block — plus a newcomer X whose
    only genuine >=threshold partner H (J=0.73) is the bucket's
    highest id and collides with X in no other band. Capping below
    the bucket size evicts H and silently unflags X; sizing the cap
    at the bucket size (the docstring's guidance) restores the flag.
    The member seeds were found by replaying the deterministic hash
    family (md5 shingle ints + seeded affine maps) in pure Python."""
    from medallion_data_pipeline_spark.operators import dedup as D

    core = [f"core{i:02d}" for i in range(42)]
    member_seeds = [17, 61, 72, 226, 248, 320, 330, 355, 428, 436,
                    438, 520, 572]  # band-0 minima all fall in `core`

    def member_tokens(seed):
        return core + [f"b{seed}x{j}" for j in range(42)]

    rows = []
    for i, seed in enumerate(member_seeds[:-1]):
        rows.append((i, " ".join(member_tokens(seed))))
    h_id = 10_000  # H: highest id in the bucket -> first evicted
    h_seed = member_seeds[-1]
    rows.append((h_id, " ".join(member_tokens(h_seed))))
    corpus = spark.createDataFrame(rows, "doc_id long, text string")

    # X: the core block + 29 of H's 42 body tokens + fresh tail
    x_tokens = core + member_tokens(h_seed)[42:][:29] \
        + [f"f1y{j}" for j in range(13)]
    new = spark.createDataFrame([(50_000, " ".join(x_tokens))],
                                "doc_id long, text string")

    # the mixed bucket exists and is NOT a clique
    full = D.band_index(corpus)
    bucket_sizes = full.groupBy("band_key").count()
    assert bucket_sizes.agg(F.max("count")).first()[0] == len(member_seeds)

    flags_full = {r.doc_id: r.dup_of for r in
                  D.incremental_near_duplicates(
                      corpus, new, corpus_index=full).collect()}
    assert flags_full == {50_000: h_id}  # H is X's only real match

    # cap below the bucket size -> H evicted -> SILENT false negative
    capped = D.band_index(corpus, max_bucket=len(member_seeds) - 1)
    assert capped.filter(F.col("doc") == h_id).count() < 4  # rows lost
    flags_capped = {r.doc_id: r.dup_of for r in
                    D.incremental_near_duplicates(
                        corpus, new, corpus_index=capped).collect()}
    assert flags_capped == {}, "expected the documented false negative"

    # the sizing guidance: cap >= observed bucket size keeps the flag
    sized = D.band_index(corpus, max_bucket=len(member_seeds))
    flags_sized = {r.doc_id: r.dup_of for r in
                   D.incremental_near_duplicates(
                       corpus, new, corpus_index=sized).collect()}
    assert flags_sized == {50_000: h_id}


def test_sq8_codes_roundtrip_and_recall(spark):
    """SQ8 invariants: (a) every code is round((x-vmin)*255/span)
    clamped to [0,255] against numpy ground truth; (b) a constant
    dimension yields code 0 everywhere (span guard); (c) dequantized
    reconstruction error per element is <= span/510 + eps (half a
    quantization step); (d) recall@5 vs brute force on the sf0.01
    corpus is >= 0.9 (measured 0.98 — SQ8 is near-lossless where
    PQ-ADC's codebook floor sits at ~0.4)."""
    import numpy as np

    from medallion_data_pipeline_spark.operators import similarity as S

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    vmins, vmaxs = S.sq_train(emb)
    vecs = {r.vec_id: np.array(r.embedding, dtype="float64")
            for r in emb.collect()}
    mn = np.array(vmins)
    span = np.array(vmaxs) - mn
    assert (span > 0).all()          # synthetic corpus: no constant dims

    codes = {r.vec_id: np.array(r.codes)
             for r in S.sq_assign(emb, vmins, vmaxs).collect()}
    assert set(codes) == set(vecs)
    for vid, v in vecs.items():
        want = np.floor(np.clip((v - mn) * 255.0 / span, 0.0, 255.0) + 0.5)
        assert (codes[vid] == want.astype("int64")).all()
        assert codes[vid].min() >= 0 and codes[vid].max() <= 255
        vhat = codes[vid] * span / 255.0 + mn
        assert (np.abs(vhat - v) <= span / 510.0 + 1e-12).all()

    # span guard: a constant dimension (span 0) must code to 0, not NaN
    const = emb.withColumn(
        "embedding",
        F.expr("transform(embedding, (x, i) -> "
               "CASE WHEN i = 0 THEN CAST(1.5 AS FLOAT) ELSE x END)"))
    cmn, cmx = S.sq_train(const)
    assert cmn[0] == cmx[0] == 1.5
    ccodes = S.sq_assign(const, cmn, cmx).collect()
    assert all(r.codes[0] == 0 for r in ccodes)

    q = emb.filter(F.col("vec_id") % 50 == 0)
    sq = {(r.query_id, r.neighbor_id)
          for r in S.knn_sq8(emb, q, k=5, stats=(vmins, vmaxs)).collect()}
    bf = {(r.query_id, r.neighbor_id)
          for r in S.knn_bruteforce(emb, q, k=5).collect()}
    assert len(sq & bf) / len(bf) >= 0.9


def test_bm25_matches_pure_python_reference(spark):
    """bm25_doc_ranking's scores equal an independent pure-Python BM25
    (k1=1.2, b=0.75, Lucene idf) computed from the same tokenization —
    on the sf0.001 corpus, for every returned row, to 1e-6."""
    import math

    from medallion_data_pipeline_spark.queries.llmops import (
        bm25_doc_ranking)

    sf = "/root/testdata/sf0.001"
    docs = {r.doc_id: r.text
            for r in load_table(spark, sf, "documents").collect()}

    def toks(s):
        return [w for w in " ".join(s.lower().split()).split(" ") if w]

    words = {d: toks(t) for d, t in docs.items()}
    n = len(words)
    avgdl = sum(len(w) for w in words.values()) / n
    dfreq: dict = {}
    for ws in words.values():
        for t in set(ws):
            dfreq[t] = dfreq.get(t, 0) + 1
    terms = sorted(dfreq, key=lambda t: (-dfreq[t], t))[:3]

    def score(d):
        s = 0.0
        for t in terms:
            tf = words[d].count(t)
            if not tf:
                continue
            idf6 = round(math.log(1 + (n - dfreq[t] + 0.5)
                                  / (dfreq[t] + 0.5)), 6)
            dl = len(words[d])
            s += idf6 * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
        return round(s, 6)

    got = bm25_doc_ranking(spark, sf).collect()
    assert len(got) == 20
    expected_order = sorted(words, key=lambda d: (-score(d), d))[:20]
    assert [r.doc_id for r in got] == expected_order
    for r in got:
        assert abs(r.score_bm25 - score(r.doc_id)) <= 1e-6
        assert r.dl == len(words[r.doc_id])


def test_bm25_degenerate_corpora(spark, tmp_path):
    """BM25 must stay well-defined on degenerate corpora: a 1-doc
    corpus (df == N for every term — the Lucene idf ln(1 + ~0.33)
    stays positive) and a 2-word vocabulary (fewer terms than the
    top-3 query: missing ranks contribute COALESCE 0, never null).
    Built as a synthetic sf_dir so the REGISTERED query runs
    unmodified."""
    from medallion_data_pipeline_spark.queries.llmops import (
        bm25_doc_ranking)

    one = str(tmp_path / "one")
    os.makedirs(one)
    spark.createDataFrame(
        [(1, "alpha beta alpha", "en", "s", 16)],
        "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(os.path.join(one, "documents.parquet"))
    got = bm25_doc_ranking(spark, one).collect()
    assert len(got) == 1
    r = got[0]
    assert r.doc_id == 1 and r.dl == 3
    assert r.score_bm25 > 0          # positive idf even at df == N

    two = str(tmp_path / "two")
    os.makedirs(two)
    spark.createDataFrame(
        [(1, "x y x", "en", "s", 5), (2, "y y", "en", "s", 3)],
        "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(os.path.join(two, "documents.parquet"))
    rows = {r.doc_id: r for r in bm25_doc_ranking(spark, two).collect()}
    assert set(rows) == {1, 2}
    assert all(r.score_bm25 is not None and r.score_bm25 > 0
               for r in rows.values())


def test_jsonl_shards_registry_keyed_by_file_stat(spark, tmp_path):
    """_jsonl_shards reuses the shard dir for an unchanged source file
    and re-converts when the file changes (the _trained_model
    stat-keyed contract, applied to the conversion artifact)."""
    import shutil

    from medallion_data_pipeline_spark.queries import llmops as L

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    src = os.path.join(sf, "documents.parquet")
    spark.createDataFrame(
        [(1, "a b", "en", "s", 3)],
        "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(src)

    d1 = L._jsonl_shards(spark, sf)
    assert d1 == L._jsonl_shards(spark, sf)       # cache hit, same dir

    # rewrite the source (different bytes -> different stat key)
    shutil.rmtree(src)
    spark.createDataFrame(
        [(1, "a b", "en", "s", 3), (2, "c d e", "en", "s", 5)],
        "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(src)
    d2 = L._jsonl_shards(spark, sf)
    assert d2 != d1                                # re-converted
    assert spark.read.json(d2).count() == 2


def test_jsonl_shards_removed_at_exit(spark, tmp_path, monkeypatch):
    """Every shard dir _jsonl_shards converts into is registered for
    removal at process exit, so building jsonl_ingest_roundtrip leaves
    no temp dir behind."""
    import atexit

    from medallion_data_pipeline_spark.queries import llmops as L

    exits = []
    monkeypatch.setattr(atexit, "register",
                        lambda fn, *a, **kw: exits.append((fn, a, kw)))
    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        [(1, "a b", "en", "s", 3)],
        "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(os.path.join(sf, "documents.parquet"))

    shards = L._jsonl_shards(spark, sf)
    assert os.path.isdir(shards)
    mine = [(fn, a, kw) for fn, a, kw in exits if shards in a]
    assert len(mine) == 1, exits
    fn, a, kw = mine[0]
    fn(*a, **kw)
    assert not os.path.exists(shards)


def test_doc_chunking_null_text_parity_with_oracle(spark, tmp_path):
    """NULL text (representable via the JSONL crawl tier) must chunk
    identically in Spark and the DuckDB oracle (ADVICE r12): both
    coalesce to '' and emit exactly ONE empty chunk — without the
    coalesce Spark emits a chunk with n_toks = -1 (legacy sizeOfNull)
    while DuckDB's range(0, NULL) emits zero rows. Synthetic sf_dir so
    the REGISTERED query and its registered oracle run unmodified."""
    import duckdb

    from medallion_data_pipeline_spark.queries import REGISTRY, _load

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    pq_path = os.path.join(sf, "documents.parquet")
    spark.createDataFrame(
        [(1, "a b c", "en", "s", 5), (2, None, "en", "s", 0),
         (3, "", "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(pq_path)

    _load()
    entry = REGISTRY["doc_chunking_stride"]
    got = {(r.doc_id, r.chunk_id): (r.n_toks, r.chunk_digest)
           for r in entry.fn(spark, sf).collect()}

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{pq_path}/*.parquet')")
    exp = {(d, c): (n, h)
           for d, c, n, h in con.execute(entry.oracle).fetchall()}
    assert got == exp
    # null + empty text each yield exactly one 0-token chunk
    assert got[(2, 0)][0] == 0 and got[(3, 0)][0] == 0
    assert got[(2, 0)] == got[(3, 0)]


def test_url_canonicalization_rules_and_oracle_parity(spark):
    """functions/urls.py: every canonicalization rule asserted on a
    fixed edge-case battery, AND the DuckDB dual (built from the same
    constants) must agree bit-for-bit on all of them — the parity the
    dedup_canonical_url oracle depends on."""
    import duckdb

    from medallion_data_pipeline_spark.functions import urls as U

    cases = [
        # (raw, canonical, host)
        ("HTTP://Example.COM:80/a/b/?utm_source=x&b=2&a=1#frag",
         "http://example.com/a/b?a=1&b=2", "example.com"),
        ("https://Example.com:443/a/b",
         "https://example.com/a/b", "example.com"),
        ("http://example.com", "http://example.com/", "example.com"),
        ("http://example.com/", "http://example.com/", "example.com"),
        # non-default port is load-bearing in the URL, stripped in host
        ("http://example.com:8080/x?gclid=1",
         "http://example.com:8080/x", "example.com"),
        ("  https://HOST.net/path///?z=9&utm_campaign=c&y=2&ref=r  ",
         "https://host.net/path?y=2&z=9", "host.net"),
        # path case preserved; non-http scheme keeps its port rule out
        ("ftp://Mixed.Case/Dir/", "ftp://mixed.case/Dir", "mixed.case"),
        # non-URL strings pass through (minus fragment)
        ("not a url at all#frag", "not a url at all", ""),
        ("http://example.com/a?&&a=1&", "http://example.com/a?a=1",
         "example.com"),
        ("http://example.com/A/B?b=2&a=1",
         "http://example.com/A/B?a=1&b=2", "example.com"),
        ("https://a.b:443", "https://a.b/", "a.b"),
        ("http://UP.com:80?x=1", "http://up.com/?x=1", "up.com"),
    ]
    df = spark.createDataFrame(
        [(i, c[0]) for i, c in enumerate(cases)], "i long, url string")
    got = {r.i: (r.canonical_url, r.url_host)
           for r in U.with_canonical_url(df, "url").collect()}
    con = duckdb.connect()
    for i, (raw, canon, host) in enumerate(cases):
        assert got[i] == (canon, host), f"spark: {raw!r} -> {got[i]}"
        duck = con.execute(
            f"SELECT {U.canonical_url_sql('u')}, {U.url_host_sql('u')} "
            f"FROM (SELECT ? AS u)", [raw]).fetchone()
        assert tuple(duck) == (canon, host), f"duck: {raw!r} -> {duck}"


def test_html_extraction_rules_and_oracle_parity(spark):
    """functions/html.py: block-before-tag stripping (script content
    with markup inside), comment removal, entity decode order (&amp;
    last, decode after tag-strip so decoded '<raw>' survives), title
    and link extraction — asserted on fixed cases AND matched against
    the DuckDB duals built from the same pattern constants."""
    import duckdb

    from medallion_data_pipeline_spark.functions import html as H

    cases = [
        ('<p>Hello <b>world</b></p>', "Hello world", "", 0),
        ('<head><title> T1 </title></head><body>x</body>', "x", "T1", 0),
        ('<script>var p="<p>no</p>";</script>after', "after", "", 0),
        ('<STYLE>p{color:red}</STYLE>kept', "kept", "", 0),
        ('<!-- <p>gone</p> -->here', "here", "", 0),
        ('a &amp; b &lt;tag&gt; &quot;q&quot; &#39;s&#39; &nbsp;c',
         'a & b <tag> "q" \'s\' c', "", 0),
        ('&amp;lt; stays literal', "&lt; stays literal", "", 0),
        ('<a href="http://x.com/1">one</a><a href="y">two</a>',
         "one two", "", 2),
        ('multi\n\n  space\t\ttext', "multi space text", "", 0),
    ]
    df = spark.createDataFrame(
        [(i, c[0]) for i, c in enumerate(cases)], "i long, html string")
    got = {r.i: (r.text_extracted, r.title, len(r.links))
           for r in H.with_html_extraction(df, "html").collect()}
    con = duckdb.connect()
    for i, (raw, text, title, n_links) in enumerate(cases):
        assert got[i] == (text, title, n_links), f"spark: {raw!r} -> {got[i]}"
        duck = con.execute(
            f"SELECT {H.html_to_text_sql('h')}, {H.html_title_sql('h')}, "
            f"len({H.html_links_sql('h')}) FROM (SELECT ? AS h)",
            [raw]).fetchone()
        assert (duck[0], duck[1], duck[2]) == (text, title, n_links), \
            f"duck: {raw!r} -> {duck}"


def test_bpe_train_matches_pure_python_reference(spark):
    """The distributed trainer must reproduce a from-scratch Python
    BPE (Sennrich counting: every adjacent occurrence, overlaps
    included; argmax by count then lexicographic pair; merge =
    non-overlapping left-to-right replace) on the classic
    low/lower/newest/widest corpus — merges AND final segmentations.
    bpe_segment then re-derives the same segmentation from raw words
    with the learned merge list."""
    from medallion_data_pipeline_spark.operators import bpe as B

    corpus = {"low": 5, "lower": 2, "newest": 6, "widest": 3}

    def py_merge(w, a, b):
        # the TRUE left-to-right symbol fold (str.replace would merge
        # across symbol boundaries — 'w es t' + (s,t) -> 'w est')
        out, carry = [], None
        for sym in w.split(" "):
            if carry == a and sym == b:
                out.append(a + b)
                carry = None
            else:
                if carry is not None:
                    out.append(carry)
                carry = sym
        if carry is not None:
            out.append(carry)
        return " ".join(out)

    def py_bpe(wc, n):
        words = {" ".join(w): c for w, c in wc.items()}
        merges = []
        for _ in range(n):
            counts = {}
            for w, c in words.items():
                syms = w.split(" ")
                for i in range(len(syms) - 1):
                    counts[(syms[i], syms[i + 1])] = \
                        counts.get((syms[i], syms[i + 1]), 0) + c
            if not counts:
                break
            best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            (a, b), n_ = best
            merges.append((a, b, a + b, n_))
            words = {py_merge(w, a, b): c for w, c in words.items()}
        return merges, words

    exp_merges, exp_words = py_bpe(corpus, 6)

    wc = spark.createDataFrame(list(corpus.items()), "word string, cnt long")
    merges, words = B.bpe_train(wc, 6)
    got = [(m["left"], m["right"], m["merged"], m["pair_count"])
           for m in merges]
    assert got == exp_merges
    assert {r.w: r.cnt for r in words.collect()} == exp_words

    # the shipped tokenizer reproduces training-time segmentation
    raw = spark.createDataFrame(
        [(w,) for w in corpus], "word string").select(
        "word", B.bpe_segment(F.col("word"), merges).alias("seg"))
    seg = {r.word: r.seg for r in raw.collect()}
    assert seg == {k.replace(" ", ""): k for k in exp_words}
    words.unpersist()


def test_bpe_merge_is_boundary_aware_fold(spark):
    """merge_pair must NOT match across symbol boundaries (the
    substring-replace bug: 'w es t' + (s,t) corrupting 'es'), must be
    exact on a==b runs (left-to-right non-overlap: 'a a a' -> 'aa a'),
    and must merge ALL disjoint occurrences in one pass."""
    from medallion_data_pipeline_spark.operators import bpe as B

    df = spark.createDataFrame(
        [("w es t",), ("a a a a a",), ("x a b c a b",)], "w string")
    got = {r.w: (r.st, r.aa, r.ab) for r in df.select(
        "w",
        B.merge_pair(F.col("w"), "s", "t").alias("st"),
        B.merge_pair(F.col("w"), "a", "a").alias("aa"),
        B.merge_pair(F.col("w"), "a", "b").alias("ab")).collect()}
    assert got["w es t"] == ("w es t", "w es t", "w es t")
    assert got["a a a a a"] == ("a a a a a", "aa aa a", "a a a a a")
    assert got["x a b c a b"] == ("x a b c a b", "x a b c a b",
                                  "x ab c ab")


def _py_merge(w, a, b):
    """Pure-Python boundary-aware left-to-right merge (the reference
    fold shared by the batched-BPE tests)."""
    out, carry = [], None
    for sym in w.split(" "):
        if carry == a and sym == b:
            out.append(a + b)
            carry = None
        else:
            if carry is not None:
                out.append(carry)
            carry = sym
    if carry is not None:
        out.append(carry)
    return " ".join(out)


def test_bpe_batch_apply_equals_sequential(spark):
    """merge_pairs_batch on pairwise symbol-disjoint merges must equal
    sequential merge_pair application in EITHER order (disjoint merges
    commute) — on seeded random words over a small alphabet plus the
    boundary/run edge cases, including an a==b run-collapsing rule."""
    import random

    from medallion_data_pipeline_spark.operators import bpe as B

    rng = random.Random(14)
    segs = [" ".join(rng.choice("abcd") for _ in range(rng.randint(1, 9)))
            for _ in range(60)]
    segs += ["a b c d", "c d a b", "a b a b c d c d", "a a a",
             "d c b a", "b a d c", "a", "c d"]
    for pairs in ([("a", "b"), ("c", "d")], [("a", "a"), ("b", "c")]):
        df = spark.createDataFrame([(s,) for s in segs], "w string")
        got = {r.w: r.batched for r in df.select(
            "w", B.merge_pairs_batch(F.col("w"), pairs).alias("batched")
        ).collect()}
        for s in segs:
            fwd = _py_merge(_py_merge(s, *pairs[0]), *pairs[1])
            rev = _py_merge(_py_merge(s, *pairs[1]), *pairs[0])
            assert fwd == rev, (s, pairs)
            assert got[s] == fwd, (s, pairs, got[s], fwd)


def test_bpe_select_disjoint():
    """Greedy prefix selection: overlapping inputs are skipped, a rule
    whose MERGED output is another's input (or vice versa) is skipped,
    the first candidate is always taken, and the limit binds."""
    from medallion_data_pipeline_spark.operators.bpe import select_disjoint

    cands = [("a", "b"),   # taken
             ("b", "c"),   # shares b -> skip
             ("ab", "x"),  # input 'ab' == merged of pick 1 -> skip
             ("c", "d"),   # taken
             ("x", "y"),   # taken
             ("e", "f")]   # beyond limit
    assert select_disjoint(cands, limit=3) == \
        [("a", "b"), ("c", "d"), ("x", "y")]
    # a candidate whose merged output equals a claimed input: ('x','y')
    # claims 'xy'; ('x','y') again would collide; and ('w','z') with
    # merged 'wz' is fine
    assert select_disjoint([("x", "y"), ("w", "z")], limit=9) == \
        [("x", "y"), ("w", "z")]
    assert select_disjoint([], limit=5) == []


def test_bpe_train_batched_batch1_matches_sequential(spark):
    """bpe_train_batched(batch=1) must reproduce bpe_train EXACTLY —
    same merges (steps, pairs, counts) and same final segmentations."""
    from medallion_data_pipeline_spark.operators import bpe as B

    corpus = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    wc = spark.createDataFrame(list(corpus.items()), "word string, cnt long")
    seq_m, seq_w = B.bpe_train(wc, 6)
    bat_m, bat_w = B.bpe_train_batched(wc, 6, batch=1)
    assert bat_m == seq_m
    assert {r.w: r.cnt for r in bat_w.collect()} == \
        {r.w: r.cnt for r in seq_w.collect()}
    seq_w.unpersist()
    bat_w.unpersist()


def test_bpe_train_batched_applies_its_merges_sequentially(spark):
    """For ANY batch size, the final segmentations must equal the
    sequential pure-Python application of the trainer's OWN merge
    list to the raw corpus (batch application == sequential
    application of disjoint picks), and within each snapshot the
    recorded counts must be non-increasing with rank order."""
    from medallion_data_pipeline_spark.operators import bpe as B

    corpus = {"low": 5, "lower": 2, "newest": 6, "widest": 3,
              "slowest": 4, "wide": 1, "newer": 2}
    wc = spark.createDataFrame(list(corpus.items()), "word string, cnt long")
    for batch in (2, 4, 8):
        merges, words = B.bpe_train_batched(wc, 8, batch=batch)
        got = {r.w: r.cnt for r in words.collect()}
        words.unpersist()
        exp = {}
        for w, c in corpus.items():
            seg = " ".join(w)
            for m in merges:
                seg = _py_merge(seg, m["left"], m["right"])
            exp[seg] = c
        assert got == exp, (batch, got, exp)
        assert len(merges) == 8


def test_bpe_c0_control_words_dropped(spark):
    """ADVICE r13: a corpus token carrying a C0 control (e.g. the
    fold-state separator U+001E) must be dropped at vocabulary intake
    — training output is identical to the same corpus without the
    garbage token, in both trainers."""
    from medallion_data_pipeline_spark.operators import bpe as B

    clean = {"low": 5, "lower": 2, "newest": 6}
    dirty = dict(clean)
    dirty["ne\x1ewest"] = 7   # would corrupt the packed fold state
    dirty["bad\x00tok"] = 9
    wc_clean = spark.createDataFrame(
        list(clean.items()), "word string, cnt long")
    wc_dirty = spark.createDataFrame(
        list(dirty.items()), "word string, cnt long")
    for trainer in (B.bpe_train,
                    lambda df, n: B.bpe_train_batched(df, n, batch=2)):
        m_clean, w_clean = trainer(wc_clean, 4)
        m_dirty, w_dirty = trainer(wc_dirty, 4)
        assert m_dirty == m_clean
        assert {r.w: r.cnt for r in w_dirty.collect()} == \
            {r.w: r.cnt for r in w_clean.collect()}
        w_clean.unpersist()
        w_dirty.unpersist()


def test_langid_discriminates_planted_languages(spark):
    """functions/langid.py: held-out sentences (NOT from the seed
    paragraphs) in each seed language must classify as their planted
    language with a strictly positive margin; degenerate inputs take
    the documented fallback (first language alphabetically, 0, 0)."""
    from medallion_data_pipeline_spark.functions import langid as L

    planted = {
        "en": ("she walked along the street in the morning and bought "
               "some bread and milk from the shop before going back "
               "home to make breakfast for her family"),
        "de": ("sie ging am morgen die strasse entlang und kaufte brot "
               "und milch im laden bevor sie nach hause zurueckkehrte "
               "um fruehstueck fuer ihre familie zu machen"),
        "es": ("ella camino por la calle por la manana y compro pan y "
               "leche en la tienda antes de volver a casa para "
               "preparar el desayuno para su familia"),
        "fr": ("elle marchait dans la rue le matin et achetait du pain "
               "et du lait au magasin avant de rentrer chez elle pour "
               "preparer le petit dejeuner pour sa famille"),
        "it": ("lei camminava per la strada al mattino e comprava pane "
               "e latte al negozio prima di tornare a casa per "
               "preparare la colazione per la sua famiglia"),
    }
    rows = [(i, lang, txt)
            for i, (lang, txt) in enumerate(sorted(planted.items()))]
    rows.append((90, "none", ""))      # no trigrams -> fallback
    rows.append((91, "none", "a!"))    # normalizes below 3 chars
    rows.append((92, "none", None))    # NULL text (crawl tier) ->
    # fallback too: length(NULL) < 3 is NULL, so the filter must
    # match NULL explicitly or the row vanishes from both paths
    df = spark.createDataFrame(rows, "doc_id long, want string, text string")

    got = {r.doc_id: (r.lang, r.dist, r.margin)
           for r in L.with_langid(df, "doc_id", "text").collect()}
    assert len(got) == len(rows)
    for i, (lang, _) in enumerate(sorted(planted.items())):
        top, dist, margin = got[i]
        assert top == lang, (lang, got[i])
        assert margin > 0, (lang, got[i])
        assert dist >= 0
    first = sorted(L.LANG_SEEDS)[0]
    assert got[90] == (first, 0, 0)
    assert got[91] == (first, 0, 0)
    assert got[92] == (first, 0, 0)


def test_langid_script_routing(spark):
    """functions/langid.py::with_langid_script (VERDICT r14 #1):
    held-out multi-script sentences route correctly — non-Latin
    scripts classify by script with margin = winning codepoint count,
    kanji-DOMINANT Japanese goes to ja via the kana-presence rule
    (NOT the argmax, which says cjk), kana-dominant Japanese agrees,
    Latin text flows to the trigram profiles unchanged, mixed content
    resolves by majority, and scriptless rows get none/und."""
    from pyspark.sql import functions as F

    from medallion_data_pipeline_spark.functions import langid as L

    rows = [
        # held-out (not the SCRIPT_SAMPLES literals)
        (1, "cyrillic", "ru", "утром она шла по улице и купила хлеб и молоко в магазине"),
        (2, "greek", "el", "το πρωι περπατησε στον δρομο και αγορασε ψωμι και γαλα"),
        (3, "arabic", "ar", "في الصباح مشت في الشارع واشترت الخبز والحليب من المتجر"),
        (4, "hebrew", "he", "בבוקר היא הלכה ברחוב וקנתה לחם וחלב בחנות"),
        (5, "devanagari", "hi", "सुबह वह सड़क पर चली और दुकान से रोटी और दूध खरीदा"),
        (6, "cjk", "zh", "早上她沿着街道散步并在商店买了面包和牛奶然后回家做早餐"),
        # kanji strictly outnumber kana -> argmax is cjk, kana rule -> ja
        (7, "cjk", "ja", "東京大阪京都名古屋横浜神戸福岡は大都市です"),
        # kana dominant -> argmax kana -> ja by both routes
        (8, "kana", "ja", "あさ かのじょは みちを あるいて パンと ぎゅうにゅうを かいました"),
        (9, "hangul", "ko", "아침에 그녀는 거리를 걸으며 가게에서 빵과 우유를 샀다"),
        # mixed majority: more Cyrillic than Latin
        (10, "cyrillic", "ru", "смотрите на сайте горячие новости дня see www example com"),
        # scriptless rows
        (90, "none", "und", ""),
        (91, "none", "und", "123 456 !!!"),
        (92, "none", "und", None),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, _, _, t in rows], "doc_id long, text string")
    got = {r.doc_id: r for r in
           L.with_langid_script(df, "doc_id", "text").collect()}
    assert len(got) == len(rows)
    for i, script, lang, text in rows:
        r = got[i]
        assert r.script == script, (i, r)
        assert r.lang == lang, (i, r)
        if script == "none":
            assert (r.dist, r.margin) == (0, 0), (i, r)
        else:
            assert r.dist == 0 and r.margin > 0, (i, r)

    # Latin rows flow to the trigram classifier with IDENTICAL
    # verdicts to plain with_langid
    lat = spark.createDataFrame(
        [(20, "she walked along the street in the morning and bought "
              "some bread and milk from the shop"),
         (21, "sie ging am morgen die strasse entlang und kaufte brot "
              "und milch im laden")],
        "doc_id long, text string")
    plain = {r.doc_id: (r.lang, r.dist, r.margin)
             for r in L.with_langid(lat, "doc_id", "text").collect()}
    scripted = {r.doc_id: (r.lang, r.dist, r.margin)
                for r in L.with_langid_script(lat, "doc_id", "text")
                .collect()}
    assert plain == scripted
    assert scripted[20][0] == "en" and scripted[21][0] == "de"
    sc = {r.doc_id: r.script for r in
          L.with_script(lat, "doc_id", "text").collect()}
    assert sc == {20: "latin", 21: "latin"}

    # the script stage itself is scan-local: no shuffle below the
    # script columns (Exchange appears only in the Latin branch's
    # trigram profile build)
    plan = executed_plan(L.with_script(lat, "doc_id", "text"))
    assert "Exchange" not in plan, plan


def test_langid_cyrillic_profiles_and_routing(spark):
    """functions/langid.py CYRILLIC_SEEDS tier: held-out ru/uk/bg
    sentences (NOT the seed paragraphs) classify to their language
    with positive margin under with_langid(seeds=CYRILLIC_SEEDS,
    norm=langid_norm_cyrillic); with_langid_script's
    cyrillic_profiles=True routes Cyrillic-dominant rows through
    those profiles (uk/bg no longer flattened to ru) while the
    default keeps the flat map; Latin text under the Cyrillic
    normalization takes the documented fallback (first language
    alphabetically = bg, 0, 0)."""
    from medallion_data_pipeline_spark.functions import langid as L

    planted = {
        "ru": ("вечером он читал книгу возле окна и думал о работе "
               "которую нужно закончить до конца недели"),
        "uk": ("ввечері він читав книгу біля вікна і думав про роботу "
               "яку треба закінчити до кінця тижня"),
        "bg": ("вечерта той четеше книга до прозореца и мислеше за "
               "работата която трябва да завърши до края на седмицата"),
    }
    rows = [(i, lang, txt)
            for i, (lang, txt) in enumerate(sorted(planted.items()))]
    rows.append((90, "bg", "latin only text here"))  # fallback
    df = spark.createDataFrame(
        [(i, t) for i, _, t in rows], "doc_id long, text string")

    got = {r.doc_id: (r.lang, r.margin) for r in
           L.with_langid(df, "doc_id", "text", seeds=L.CYRILLIC_SEEDS,
                         norm=L.langid_norm_cyrillic).collect()}
    for i, lang, _ in rows[:3]:
        assert got[i][0] == lang and got[i][1] > 0, (lang, got[i])
    assert got[90] == ("bg", 0)

    # routing: default flattens to ru; cyrillic_profiles discriminates
    cyr_df = spark.createDataFrame(
        [(1, planted["uk"]), (2, planted["bg"]), (3, planted["ru"])],
        "doc_id long, text string")
    flat = {r.doc_id: (r.script, r.lang) for r in
            L.with_langid_script(cyr_df, "doc_id", "text").collect()}
    assert flat == {1: ("cyrillic", "ru"), 2: ("cyrillic", "ru"),
                    3: ("cyrillic", "ru")}
    prof = {r.doc_id: (r.script, r.lang, r.margin) for r in
            L.with_langid_script(cyr_df, "doc_id", "text",
                                 cyrillic_profiles=True).collect()}
    assert prof[1][:2] == ("cyrillic", "uk") and prof[1][2] > 0
    assert prof[2][:2] == ("cyrillic", "bg") and prof[2][2] > 0
    assert prof[3][:2] == ("cyrillic", "ru") and prof[3][2] > 0


def test_langid_arabic_profiles_and_routing(spark):
    """functions/langid.py ARABIC_SEEDS tier: held-out ar/fa/ur
    sentences (NOT the seed paragraphs) classify to their language
    with positive margin under with_langid(seeds=ARABIC_SEEDS,
    norm=langid_norm_arabic); with_langid_script's
    arabic_profiles=True routes Arabic-dominant rows through those
    profiles (fa/ur no longer flattened to ar) while the default
    keeps the flat map; Latin text under the Arabic normalization
    takes the documented fallback (first language alphabetically =
    ar, 0, 0)."""
    from medallion_data_pipeline_spark.functions import langid as L

    planted = {
        "ar": ("في المساء كان يقرا كتابا بجانب النافذة ويفكر في "
               "العمل الذي يجب ان ينتهي قبل نهاية الاسبوع"),
        "fa": ("در شب او کتابی را کنار پنجره می خواند و به کاری فکر "
               "می کرد که باید تا پایان هفته تمام شود"),
        "ur": ("شام کو وہ کھڑکی کے پاس کتاب پڑھ رہا تھا اور اس کام "
               "کے بارے میں سوچ رہا تھا جو ہفتے کے اخر تک ختم ہونا "
               "چاہیے"),
    }
    rows = [(i, lang, txt)
            for i, (lang, txt) in enumerate(sorted(planted.items()))]
    rows.append((90, "ar", "latin only text here"))  # fallback
    df = spark.createDataFrame(
        [(i, t) for i, _, t in rows], "doc_id long, text string")

    got = {r.doc_id: (r.lang, r.margin) for r in
           L.with_langid(df, "doc_id", "text", seeds=L.ARABIC_SEEDS,
                         norm=L.langid_norm_arabic).collect()}
    for i, lang, _ in rows[:3]:
        assert got[i][0] == lang and got[i][1] > 0, (lang, got[i])
    assert got[90] == ("ar", 0)

    # routing: default flattens to ar; arabic_profiles discriminates
    ara_df = spark.createDataFrame(
        [(1, planted["fa"]), (2, planted["ur"]), (3, planted["ar"])],
        "doc_id long, text string")
    flat = {r.doc_id: (r.script, r.lang) for r in
            L.with_langid_script(ara_df, "doc_id", "text").collect()}
    assert flat == {1: ("arabic", "ar"), 2: ("arabic", "ar"),
                    3: ("arabic", "ar")}
    prof = {r.doc_id: (r.script, r.lang, r.margin) for r in
            L.with_langid_script(ara_df, "doc_id", "text",
                                 arabic_profiles=True).collect()}
    assert prof[1][:2] == ("arabic", "fa") and prof[1][2] > 0
    assert prof[2][:2] == ("arabic", "ur") and prof[2][2] > 0
    assert prof[3][:2] == ("arabic", "ar") and prof[3][2] > 0

    # both per-script routes compose in one call
    both_df = spark.createDataFrame(
        [(1, planted["fa"]),
         (2, "вечером он читал книгу возле окна и думал о работе "
             "которую нужно закончить до конца недели")],
        "doc_id long, text string")
    both = {r.doc_id: (r.script, r.lang) for r in
            L.with_langid_script(both_df, "doc_id", "text",
                                 cyrillic_profiles=True,
                                 arabic_profiles=True).collect()}
    assert both == {1: ("arabic", "fa"), 2: ("cyrillic", "ru")}


def test_robots_rules_and_decisions(spark):
    """functions/robots.py (RFC 9309): group assembly with multi-agent
    headers, exact-agent specificity beating * (the * group is then
    IGNORED entirely), case-insensitive agent match, comment/unknown-
    directive/empty-pattern handling, metachar escaping (+), trailing-$
    anchoring, longest-match precedence with allow-beats-disallow, and
    default-allow for unmatched URLs and robots-less hosts."""
    from pyspark.sql import functions as F

    from medallion_data_pipeline_spark.functions import robots as R

    body1 = "\n".join([
        "# politeness for h1",
        "User-Agent: OtherBot",
        "Disallow: /",
        "",
        "User-Agent: SparkBot",
        "User-Agent: AnotherBot",
        "Allow: /a/1*",
        "Disallow: /a/",
        "Disallow: /b+c/",
        "Disallow: /exact$",
        "Allow:",
        "Crawl-delay: 10",
        "",
        "User-Agent: *",
        "Disallow: /z/",
    ])
    body2 = "\n".join(["User-Agent: *", "Disallow: /page/13$"])
    robots = spark.createDataFrame(
        [("h1.example.com", body1), ("h2.example.com", body2)],
        "host string, robots_txt string")

    cases = [
        (1, "h1.example.com", "/a/15", True, "/a/1*"),
        (2, "h1.example.com", "/a/25", False, "/a/"),
        (3, "h1.example.com", "/b+c/x", False, "/b+c/"),
        (4, "h1.example.com", "/exact", False, "/exact$"),
        (5, "h1.example.com", "/exactly", True, None),
        (6, "h1.example.com", "/z/q", True, None),  # * group ignored
        (7, "h1.example.com", "/", True, None),     # empty Disallow dropped
        (8, "h2.example.com", "/page/13", False, "/page/13$"),
        (9, "h2.example.com", "/page/13?x=1", True, None),
        (10, "h3.example.com", "/anything", True, None),  # no robots
    ]
    urls = spark.createDataFrame(
        [(i, f"http://{h}{p}", h) for i, h, p, _, _ in cases],
        "doc_id long, canonical_url string, url_host string")

    got = {r.doc_id: (r.allowed, r.matched_rule) for r in
           R.with_robots_decision(urls, robots, agent="sparkbot")
           .collect()}
    for i, _, p, allowed, rule in cases:
        assert got[i] == (allowed, rule), (i, p, got[i])

    # the rule table itself: decoy group absent, * group dropped on
    # h1 (exact agent chosen), empty pattern dropped
    rules = {(r.host, r.pattern, r.is_allow) for r in
             R.robots_rules(robots, "sparkbot").collect()}
    assert ("h1.example.com", "/", False) not in rules
    assert ("h1.example.com", "/z/", False) not in rules
    assert ("h1.example.com", "/a/1*", True) in rules
    assert ("h2.example.com", "/page/13$", False) in rules


def test_robots_crawl_delay_and_fetch_schedule(spark):
    """functions/robots.py crawl-delay + scheduler: the delay comes
    from the CHOSEN group only (the decoy's 99 is never read), a
    crawl-delay line terminates a User-Agent header run (the UA line
    after it starts a NEW group — h2 pins the boundary), malformed
    values are ignored, and fetch_schedule assigns each host a
    1..n slot permutation with offsets = (slot-1) * delay * 1000,
    defaulting hosts without a delay."""
    from pyspark.sql import functions as F

    from medallion_data_pipeline_spark.functions import robots as R

    body1 = "\n".join([
        "User-Agent: OtherBot", "Crawl-delay: 99", "Disallow: /",
        "", "User-Agent: SparkBot", "Crawl-delay: 7",
        "Disallow: /private/",
    ])
    # crawl-delay between UA lines: group(a) = {agent a, delay 5};
    # "User-Agent: *" after it is a NEW group with NO delay
    body2 = "\n".join([
        "User-Agent: a", "Crawl-delay: 5",
        "User-Agent: *", "Disallow: /x/", "Crawl-delay: oops",
    ])
    robots = spark.createDataFrame(
        [("h1.example.com", body1), ("h2.example.com", body2)],
        "host string, robots_txt string")

    delays = {r.host: r.crawl_delay_s for r in
              R.robots_crawl_delay(robots, "sparkbot").collect()}
    assert delays == {"h1.example.com": 7}  # h2: * group, malformed

    urls = spark.createDataFrame(
        [(i, "h1.example.com") for i in range(10)]
        + [(100 + i, "h2.example.com") for i in range(5)]
        + [(200, "h3.example.com")],
        "doc_id long, url_host string")
    sched = R.fetch_schedule(urls, robots, agent="sparkbot",
                             default_delay_s=3).collect()
    by_host = {}
    for r in sched:
        by_host.setdefault(r.host, []).append(r)
        assert r.fetch_offset_ms == (r.slot - 1) * r.delay_s * 1000
    assert sorted(r.slot for r in by_host["h1.example.com"]) == \
        list(range(1, 11))
    assert all(r.delay_s == 7 for r in by_host["h1.example.com"])
    assert sorted(r.slot for r in by_host["h2.example.com"]) == \
        list(range(1, 6))
    assert all(r.delay_s == 3 for r in by_host["h2.example.com"])
    assert by_host["h3.example.com"][0].delay_s == 3


def test_sitemap_extraction(spark):
    """functions/sitemap.py: <url> entries extract loc (entity-
    decoded) / lastmod (lenient DATE prefix) / priority; loc-less
    entries drop; <sitemapindex> children surface via
    sitemap_index_locs and never leak into the page-URL stream."""
    from medallion_data_pipeline_spark.functions import sitemap as SM

    xml = ("<urlset>"
           "<url><loc>http://h/a?x=1&amp;y=2</loc>"
           "<lastmod>2024-03-05T10:00:00+00:00</lastmod>"
           "<priority>0.8</priority></url>"
           "<url><loc> http://h/b </loc><lastmod>soon</lastmod></url>"
           "<url><lastmod>2024-01-01</lastmod></url>"
           "<sitemap><loc>http://h/more.xml</loc></sitemap>"
           "</urlset>")
    df = spark.createDataFrame([("h", xml)],
                               "host string, sitemap_xml string")
    rows = {r.loc: r for r in SM.sitemap_urls(df).collect()}
    assert set(rows) == {"http://h/a?x=1&y=2", "http://h/b"}
    a = rows["http://h/a?x=1&y=2"]
    assert str(a.lastmod) == "2024-03-05" and a.priority == 0.8
    b = rows["http://h/b"]
    assert b.lastmod is None and b.priority is None
    idx = [r.sitemap_loc for r in SM.sitemap_index_locs(df).collect()]
    assert idx == ["http://h/more.xml"]


def test_langid_profile_contract(spark):
    """Seed profiles: one rank sequence 1..n per language, capped at
    LANGID_K, every trigram 3 chars from [a-z ], and all five seed
    languages present."""
    from medallion_data_pipeline_spark.functions import langid as L

    prof = L.seed_profiles(spark).collect()
    by_lang = {}
    for r in prof:
        by_lang.setdefault(r.lang, []).append((r.rl, r.tri))
        assert len(r.tri) == 3 and all(c == " " or "a" <= c <= "z"
                                       for c in r.tri), r.tri
    assert set(by_lang) == set(L.LANG_SEEDS)
    for lang, rows in by_lang.items():
        ranks = sorted(rl for rl, _ in rows)
        assert ranks == list(range(1, len(rows) + 1)), lang
        assert len(rows) <= L.LANGID_K
        assert len(rows) > 100, (lang, len(rows))  # seeds are rich


def test_langid_seed_profiles_literal_matches_inplan(spark):
    """r16 optimization pin: seed_profiles now derives the profile
    table in Python at plan-build time (zero Spark jobs per langid
    invocation); its rows must equal the in-plan explode + count +
    ranking-window derivation EXACTLY, for all three seed sets."""
    from medallion_data_pipeline_spark.functions import langid as L

    cases = [
        (None, L.langid_norm),
        (L.CYRILLIC_SEEDS, L.langid_norm_cyrillic),
        (L.ARABIC_SEEDS, L.langid_norm_arabic),
    ]
    for seeds, norm in cases:
        lit = {(r.lang, r.tri, r.rl)
               for r in L.seed_profiles(spark, seeds=seeds,
                                        norm=norm).collect()}
        inp = {(r.lang, r.tri, r.rl)
               for r in L.seed_profiles_inplan(spark, seeds=seeds,
                                               norm=norm).collect()}
        assert lit == inp, (norm.__name__,
                            len(lit - inp), len(inp - lit))
