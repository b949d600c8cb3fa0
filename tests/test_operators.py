"""Operator-level tests on constructed micro-data with KNOWN duplicates
and neighbors — the sf testdata may contain no true near-dups, so these
pin the semantics directly."""

from __future__ import annotations

from pyspark.sql import functions as F

from medallion_data_pipeline_spark.operators import dedup as D
from medallion_data_pipeline_spark.operators import multimodal as M
from medallion_data_pipeline_spark.operators import similarity as S


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "THE  Quick Brown Fox jumps over the lazy dog"),   # exact dup after normalize
        (3, "the quick brown fox jumps over the sleepy dog"),  # near dup (1 word)
        (4, "completely different content about spark engines and shuffles"),
        (5, "tiny"),                                           # below min_tokens
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(spark):
    out = D.exact_duplicates(_docs(spark)).collect()
    groups = {r.fingerprint: (r.n_docs, r.keep_id) for r in out}
    assert len(groups) == 4  # docs 1+2 collapse
    assert (2, 1) in groups.values()


def test_minhash_near_duplicates(spark):
    pairs = D.minhash_near_duplicates(_docs(spark), threshold=0.3).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in got          # identical after normalization: jaccard 1.0
    assert (1, 3) in got or (2, 3) in got  # one-word-off near dup
    assert all(p[0] != 4 and p[1] != 4 for p in got)
    jac = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert jac[(1, 2)] == 1.0


def test_simhash_groups_near_dups_collide_or_close(spark):
    out = {r.keep_id: r for r in D.simhash_groups(_docs(spark)).collect()}
    # exact dups 1,2 share a fingerprint group
    groups = D.simhash_groups(_docs(spark)).filter(F.col("n_docs") >= 2).collect()
    assert any(g.n_docs == 2 for g in groups)
    assert out  # non-empty


def test_knn_bruteforce_identical_vector_is_top1(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0]),    # identical to 0
        (2, [0.0, 1.0, 0.0]),    # orthogonal
        (3, [0.9, 0.1, 0.0]),    # close
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = S.search(emb, emb.filter("vec_id = 0"), 2).collect()
    assert [r.neighbor_id for r in out] == [1, 3]
    assert out[0].cosine == 1.0


def test_knn_matmul_matches_bruteforce(spark):
    import random

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(60)]
    rows.append((80, [0.0] * 16))  # zero vector: NULL cosines, ranked last
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.filter("vec_id % 20 = 0")
    bf = sorted(map(tuple, S.search(emb, queries, 4).collect()))
    mm = sorted(map(tuple, S.knn_matmul(emb, queries, k=4).collect()))
    assert bf == mm


def test_knn_lsh_finds_identical(spark):
    rows = [(i, [float(i == j) for j in range(8)]) for i in range(8)]
    rows.append((100, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]))  # dup of vec 0
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = S.search(emb, emb.filter("vec_id = 0"), 3,
                   lsh=(8, 7, 8)).collect()
    assert any(r.neighbor_id == 100 and r.cosine == 1.0 for r in out)


def test_multimodal_featurize_schema_and_determinism(spark):
    media = M.with_binary_payload(_docs(spark), "text")
    assert media.columns == ["doc_id", "payload", "media_type", "byte_len"]
    out = M.featurize_binary(media).collect()
    assert len(out) == 5
    r = {x.doc_id: x for x in out}
    assert r[1].byte_len == len("the quick brown fox jumps over the lazy dog")
    assert len(r[1].sha_hex) == 64 and len(r[1].feat) == 4
    # deterministic: same payload -> same features
    again = {x.doc_id: x for x in M.featurize_binary(media).collect()}
    assert again[4].sha_hex == r[4].sha_hex


def test_multimodal_resize_and_frame_sample(spark):
    media = M.with_binary_payload(_docs(spark), "text")
    resized = {r.doc_id: r for r in M.resize_batch(media).collect()}
    assert all(r.resized_len == len(bytes(r.resized)) for r in resized.values())
    # deterministic across runs
    again = {r.doc_id: bytes(r.resized) for r in M.resize_batch(media).collect()}
    assert again[1] == bytes(resized[1].resized)

    frames = M.frame_sample(media, every_n=2).collect()
    assert len(frames) > 0
    by_doc = {}
    for f in frames:
        by_doc.setdefault(f.doc_id, []).append(f.frame_idx)
    for idxs in by_doc.values():
        assert idxs == sorted(idxs) and idxs[0] == 0


def test_knn_ivf_finds_identical_in_cell(spark):
    rows = [(i, [float(i == j) for j in range(8)]) for i in range(8)]
    rows.append((100, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]))  # dup of vec 0
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = S.search(emb, emb.filter("vec_id = 0"), 3, nprobe=1,
                   cents=S.deterministic_centroids(emb, 4)).collect()
    assert any(r.neighbor_id == 100 and r.cosine == 1.0 for r in out)


def test_pii_redaction(spark):
    from medallion_data_pipeline_spark.functions import text as X

    rows = [
        (1, "contact john.doe+x@example.co.uk or 555-123-4567 today"),
        (2, "ssn 123-45-6789 and email a@b.io; phone 555.987.6543"),
        (3, "no pii here at all"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    counts = X.pii_counts(F.col("text"))
    out = df.select(
        "id",
        X.redact_pii(F.col("text")).alias("red"),
        *[c.alias(k) for k, c in counts.items()],
    )
    got = {r.id: r for r in out.collect()}
    assert got[1].red == "contact [EMAIL] or [PHONE] today"
    assert got[1].EMAIL == 1 and got[1].PHONE == 1 and got[1].SSN == 0
    assert got[2].red == "ssn [SSN] and email [EMAIL]; phone [PHONE]"
    assert got[2].EMAIL == 1 and got[2].PHONE == 1 and got[2].SSN == 1
    assert got[3].red == "no pii here at all"
    assert got[3].EMAIL == got[3].PHONE == got[3].SSN == 0


def test_connected_components_known_graph(spark):
    from medallion_data_pipeline_spark.operators.graph import connected_components

    # chain 1-2-3-4 (diameter 3), triangle 10-11-12, isolated pair 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long")
    got = {r.node: r.comp for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_pandas_udf_token_count_matches_expression(spark):
    """The Arrow-batched pandas_udf token counter must agree with the
    codegen expression version on every document."""
    from medallion_data_pipeline_spark.functions import text as X
    from medallion_data_pipeline_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text")
    both = docs.select(
        X.token_count_bpe_ish(F.col("text")).alias("expr_n"),
        X.token_count_bpe_pandas(F.col("text")).alias("udf_n"),
    )
    assert both.filter(F.col("expr_n") != F.col("udf_n")).count() == 0


def test_multimodal_decoder_resolution_and_seam():
    """decoder='auto' resolves to the stub in this container (Pillow
    absent) and the stub output is deterministic; the pil branch is
    selectable and fails loudly on unknown names. The corrupt-media
    contract of decode_pil (feat=None, sha still computed) is pinned
    where Pillow exists."""
    import pytest

    name, fn = M.resolve_decoder("auto")
    if M._pil_available():
        assert (name, fn) == ("pil", M.decode_pil)
    else:
        assert (name, fn) == ("stub", M.decode_stub)
    assert M.resolve_decoder("stub") == ("stub", M.decode_stub)
    assert M.resolve_decoder("pil") == ("pil", M.decode_pil)
    with pytest.raises(ValueError):
        M.resolve_decoder("librosa")

    d = M.decode_stub(b"payload")
    assert d == M.decode_stub(b"payload") and len(d["feat"]) == 4


def test_multimodal_decode_pil_real():
    """Runs only where Pillow exists (skipped in this container): a
    real in-memory PNG round-trips through decode_pil/resize_pil, and
    non-image bytes produce the corrupt-media marker row."""
    import pytest

    pytest.importorskip("PIL")
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (8, 8), (255, 0, 0)).save(buf, format="PNG")
    png = buf.getvalue()

    d = M.decode_pil(png)
    assert len(d["feat"]) == 4
    assert abs(d["feat"][0] - 1.0) < 1e-6  # red channel saturated
    assert M.decode_pil(b"not an image")["feat"] is None

    out = M.resize_pil(png, (4, 4))
    assert out is not None and Image.open(io.BytesIO(out)).size == (4, 4)
    assert M.resize_pil(b"not an image") is None


def test_quartile_bins_small_n_matches_ntile(spark, tmp_path):
    """quartile_bins' block-offset ntile arithmetic at every N in 1..7 —
    pins the N<4 branch analysis (q=0 ⇒ thresh=N ⇒ when-branch always
    taken; the greatest(q,1) guard only de-NULLs a dead else) against
    the real ntile(4) over the same total order."""
    from pyspark.sql import Window

    from medallion_data_pipeline_spark.queries.analytics import quartile_bins

    for n in range(1, 8):
        rows = [(i + 1, float(100 * i + 7)) for i in range(n)]
        df = spark.createDataFrame(rows, "o_orderkey long, o_totalprice double")
        sf_dir = str(tmp_path / f"n{n}")
        df.write.mode("overwrite").parquet(f"{sf_dir}/orders.parquet")

        got = {
            r["tile"]: (r["n_orders"], r["min_price"], r["max_price"])
            for r in quartile_bins(spark, sf_dir).collect()
        }
        exp_rows = (
            df.withColumn(
                "tile",
                F.ntile(4).over(Window.orderBy("o_totalprice", "o_orderkey")))
            .groupBy("tile")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.min("o_totalprice").alias("min_price"),
                 F.max("o_totalprice").alias("max_price"))
            .collect()
        )
        exp = {r["tile"]: (r["n_orders"], r["min_price"], r["max_price"])
               for r in exp_rows}
        assert got == exp, f"N={n}: {got} != {exp}"


def test_describe_plus_exact_stats(spark):
    """describe_plus on a known column: every statistic checked against
    hand-computed values, pinning the shared-buffer array percentile +
    split-distinct restructuring (values must be identical to the
    one-agg original)."""
    import statistics

    from medallion_data_pipeline_spark.operators.profiling import describe_plus

    vals = [1.0, 2.0, 2.0, 4.0, 7.0, 11.0, 16.0, 22.0]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    r = describe_plus(df, "x").collect()[0]
    assert r["count"] == 8
    assert r["n_distinct"] == 7
    assert r["min"] == 1.0 and r["max"] == 22.0
    assert abs(r["mean"] - round(sum(vals) / 8, 6)) < 1e-9
    assert abs(r["stddev"] - round(statistics.stdev(vals), 6)) < 1e-9
    # exact type-7 (linear interpolation) percentiles over sorted vals
    assert abs(r["q25"] - 2.0) < 1e-9            # pos 2.75 between 2,2
    assert abs(r["median"] - 5.5) < 1e-9         # between 4 and 7
    assert abs(r["q75"] - 12.25) < 1e-9          # between 11 and 16


def test_cms_estimate_absent_token_is_zero(spark):
    """cms_estimate on a SPARSE sketch: a token none of whose d buckets
    were ever touched must estimate 0 (and must not vanish from the
    output), and a token sharing SOME empty buckets must not have its
    min taken over only the dense ones. Pins the left-join + coalesce-0
    contract (ADVICE r12): an inner join against stored counters
    silently drops all-empty tokens and inflates partially-empty ones.
    """
    from medallion_data_pipeline_spark.operators import sketch as K

    corpus = spark.createDataFrame(
        [("alpha",), ("alpha",), ("alpha",)], "word string")
    counters = K.cms_counters(corpus)           # 4 dense buckets only
    assert counters.count() <= K.CMS_D

    probe = spark.createDataFrame(
        [("alpha",), ("zeta",), ("omega",)], "word string")
    est = {r.word: r.cms_est
           for r in K.cms_estimate(probe, counters).collect()}
    # every probed token appears, even with all buckets empty
    assert set(est) == {"alpha", "zeta", "omega"}
    assert est["alpha"] == 3
    # absent tokens: CMS never underestimates, and with d*w = 256
    # mostly-empty buckets the min over d rows is 0 for these tokens
    # (deterministic hash family — stable across runs/engines)
    assert est["zeta"] == 0
    assert est["omega"] == 0


def _hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_dhash_stub_perceptual_locality():
    """The perceptual contract (VERDICT r12 #2 acceptance): a
    1-character perturbation of a long-enough text stays within the
    Hamming-4 retrieval radius (the changed position feeds at most 2
    grid cells, each in at most 2 gradient comparisons), while a
    different text re-rolls ~half the 64 bits and falls far outside.
    Deterministic fixed inputs, mirrors the testdata shape (ASCII,
    n >= 48)."""
    base = ("key agg row scan slow fast table value part hash value "
            "table part a row fast merge batch part value line")
    fp0 = M.dhash_stub(base.encode())
    assert fp0 == M.dhash_stub(base.encode())  # deterministic

    for pos in (0, 7, 31, len(base) // 2, len(base) - 1):
        perturbed = base[:pos] + "q" + base[pos + 1:]
        d = _hamming64(fp0, M.dhash_stub(perturbed.encode()))
        assert d <= 4, f"substitution at {pos}: hamming {d} > 4"

    other = ("window merge spark merge batch table a big a join batch "
             "table window big the join line agg small slow value row")
    assert _hamming64(fp0, M.dhash_stub(other.encode())) > 10

    # degenerate payloads: empty and 1-char collapse to the all-zero
    # gradient fingerprint (the blank-image collision class)
    assert M.dhash_stub(b"") == 0 and M.dhash_stub(b"x") == 0


def test_dhash_pil_perceptual_locality():
    """Runs only where Pillow exists: a real image's dHash moves <= 4
    bits under a 1-pixel perturbation and far under a different
    image."""
    import pytest

    pytest.importorskip("PIL")
    import numpy as np
    from PIL import Image

    rng = np.random.default_rng(7)
    arr = rng.integers(0, 256, (64, 64, 3), dtype=np.uint8)

    def png(a):
        import io
        buf = io.BytesIO()
        Image.fromarray(a, "RGB").save(buf, format="PNG")
        return buf.getvalue()

    fp0 = M.dhash_pil(png(arr))
    bumped = arr.copy()
    bumped[10, 10] = (bumped[10, 10] + 8) % 256
    assert _hamming64(fp0, M.dhash_pil(png(bumped))) <= 4

    other = rng.integers(0, 256, (64, 64, 3), dtype=np.uint8)
    assert _hamming64(fp0, M.dhash_pil(png(other))) > 10
    assert M.dhash_pil(b"not an image") is None


def test_fingerprint_hamming_pairs_pigeonhole_recall(spark):
    """fingerprint_hamming_pairs at 64 bits / d=4: every planted pair
    at distance 1..4 from a base fingerprint is recovered (pigeonhole
    recall is exact by construction), a 5-bit-away fingerprint is
    excluded by the verify filter, and each recovered pair appears
    exactly once even when it agrees on several blocks (identical
    fingerprints collide in all 5)."""
    from medallion_data_pipeline_spark.operators.dedup import (
        fingerprint_hamming_pairs)

    base = 0x0123_4567_89AB_CDEF
    rows = [(0, base), (1, base)]                      # distance 0
    flips = [(1,), (3, 40), (0, 21, 42), (5, 20, 35, 60),
             (2, 15, 28, 41, 54)]                      # distances 1..5
    for i, bits in enumerate(flips, start=2):
        v = base
        for b in bits:
            v ^= 1 << b
        rows.append((i, v - (1 << 64) if v >= (1 << 63) else v))
    fp = spark.createDataFrame(rows, "doc_id long, phash long")

    got = {(r.id_a, r.id_b): r.hamming
           for r in fingerprint_hamming_pairs(fp, max_distance=4).collect()}
    # base-vs-base and base-vs-(d<=4) pairs all present with exact d;
    # doc 6 (d=5 from base) pairs with nothing within 4
    assert got[(0, 1)] == 0
    for i, bits in enumerate(flips[:4], start=2):
        assert got[(0, i)] == len(bits) and got[(1, i)] == len(bits)
    assert not any(6 in pair for pair in got)
    # no duplicate pair rows (dict construction would hide them):
    n_rows = fingerprint_hamming_pairs(fp, max_distance=4).count()
    assert n_rows == len(got)


def test_bloom_filter_contract(spark):
    """Bloom operator invariants: zero false negatives (every inserted
    item reports might_contain), definite-absence verdicts for items
    with untouched bits, packed-word count bounded by m/32, and
    merge-by-OR idempotence (a partial applied twice is a no-op)."""
    from medallion_data_pipeline_spark.operators import sketch as K

    items = spark.createDataFrame(
        [(f"item-{i}",) for i in range(30)], "item string")
    bloom = K.bloom_bits(items).persist()
    assert bloom.count() <= K.BLOOM_M // K.BLOOM_W

    probes = items.unionByName(spark.createDataFrame(
        [(f"other-{i}",) for i in range(30)], "item string"))
    got = {r.item: (r.n_hits, r.might_contain)
           for r in K.bloom_might_contain(probes, bloom).collect()}
    # no false negatives, ever
    assert all(got[f"item-{i}"] == (K.BLOOM_K, True) for i in range(30))
    # with 120 of 4096 bits set, absent probes stay overwhelmingly
    # negative (deterministic family — this is a fixed outcome)
    absent_flags = [got[f"other-{i}"][1] for i in range(30)]
    assert sum(absent_flags) <= 2

    # merge is idempotent: OR-ing the same partial twice changes nothing
    merged_twice = K.merge_bloom(bloom.unionByName(bloom))
    a = {(r.word_idx, r.bits) for r in bloom.collect()}
    b = {(r.word_idx, r.bits) for r in merged_twice.collect()}
    assert a == b


def test_bloom_m_for_formula_and_mirror(spark):
    # the spark fixture is required even though no DataFrame is built:
    # operators.sketch's module import constructs Column expressions,
    # which asserts an active SparkContext — without the fixture this
    # test fails standalone / under -k / xdist ordering (ADVICE r14)
    """bloom_m_for: the 1.44*n*log2(1/fpr) sizing rounded up to packed
    words, and the query-module mirror (_bloom_m_for, the _CMS_D
    import-trap duplication idiom) must agree exactly."""
    import math

    from medallion_data_pipeline_spark.operators.sketch import (
        BLOOM_W, bloom_m_for)
    from medallion_data_pipeline_spark.queries.llmops import _bloom_m_for

    for n, fpr in ((1, 0.5), (256, 0.02), (1024, 0.01), (2048, 0.01),
                   (4096, 0.001), (500, 0.05)):
        m = bloom_m_for(n, fpr)
        assert m == _bloom_m_for(n, fpr)
        assert m % BLOOM_W == 0
        assert m >= math.floor(1.44 * n * math.log2(1.0 / fpr))
    # monotone in n, anti-monotone in fpr
    assert bloom_m_for(2048, 0.01) > bloom_m_for(256, 0.01)
    assert bloom_m_for(1024, 0.001) > bloom_m_for(1024, 0.05)


def test_bloom_sized_fpr_tracks_formula(spark):
    """VERDICT r13 #4 acceptance: a filter sized by bloom_m_for at its
    design capacity must measure a false-positive rate within 2x of
    the target at three sizes (fixed k=4 is slightly below the
    optimal k ~ log2(1/fpr), so the analytic rate (1-e^(-kn/m))^k
    sits just above target — still inside the 2x band). The hash
    family is seeded, so these are fixed outcomes, not flaky
    statistics. Zero false negatives must hold exactly at every
    size."""
    from medallion_data_pipeline_spark.operators import sketch as K

    target = 0.02
    n_probes = 3000
    for n in (256, 1024, 4096):
        m = K.bloom_m_for(n, target)
        items = spark.range(n).select(
            F.concat(F.lit(f"in-{n}-"), F.col("id").cast("string"))
            .alias("item"))
        bloom = K.bloom_bits(items, m=m).persist()
        assert bloom.count() <= m // K.BLOOM_W
        present = K.bloom_might_contain(items, bloom, m=m)
        assert present.filter(~F.col("might_contain")).count() == 0
        absent = spark.range(n_probes).select(
            F.concat(F.lit(f"out-{n}-"), F.col("id").cast("string"))
            .alias("item"))
        fp = K.bloom_might_contain(absent, bloom, m=m) \
            .filter(F.col("might_contain")).count()
        measured = fp / n_probes
        assert measured <= 2 * target, (n, m, measured)
        bloom.unpersist()


def test_bloom_epoch_probe_ors_across_epochs(spark):
    """bloom_epoch_bits / bloom_epochs_might_contain: an item is
    "seen" iff SOME passed epoch contains it; dropping an epoch from
    the probe frame (expiry) forgets exactly that epoch's items (up
    to fp); per-epoch zero false negatives survives the union."""
    from medallion_data_pipeline_spark.operators import sketch as K

    rows = [(e, f"e{e}-{i}") for e in range(3) for i in range(40)]
    items = spark.createDataFrame(rows, "epoch int, item string")
    m = K.bloom_m_for(64, 0.01)
    eb = K.bloom_epoch_bits(items, m=m).persist()
    assert {r.epoch for r in eb.select("epoch").distinct().collect()} \
        == {0, 1, 2}

    probes = items.select("item")
    got = {r.item: (r.n_epochs_hit, r.might_contain)
           for r in K.bloom_epochs_might_contain(probes, eb, m=m)
           .collect()}
    assert all(got[f"e{e}-{i}"][1] for e in range(3) for i in range(40))

    # expire epoch 0: its items are forgotten (allowing rare fp)
    live = eb.filter(F.col("epoch") != 0)
    got2 = {r.item: r.might_contain
            for r in K.bloom_epochs_might_contain(probes, live, m=m)
            .collect()}
    forgotten = sum(0 if got2[f"e0-{i}"] else 1 for i in range(40))
    assert forgotten >= 38            # near-all of epoch 0 forgotten
    assert all(got2[f"e{e}-{i}"] for e in (1, 2) for i in range(40))
    eb.unpersist()


def test_fingerprint_grouped_mode_spans_all_pairs_graph(spark):
    """group_identical=True must produce a SPANNING edge set: fewer
    edges than all-pairs on identical-fingerprint cliques, but the
    same connected components (the contract that lets clustering and
    keep-one dedup use the linear mode). Crafted input: a 4-member
    identical clique, a 2-member clique one bit away (merges with the
    first through rep pairs), and an isolated far fingerprint."""
    from medallion_data_pipeline_spark.operators.dedup import (
        fingerprint_hamming_pairs)

    base = 0x0F0F_0F0F_0F0F_0F0F
    rows = [(1, base), (2, base), (3, base), (4, base),
            (10, base ^ 1), (11, base ^ 1),
            (99, 0x7234_5678_9ABC_0000)]
    fp = spark.createDataFrame(rows, "doc_id long, phash long")

    def components(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        for i, _ in rows:
            find(i)
        groups = {}
        for i, _ in rows:
            groups.setdefault(find(i), set()).add(i)
        return {frozenset(g) for g in groups.values()}

    all_pairs = [(r.id_a, r.id_b) for r in fingerprint_hamming_pairs(
        fp, max_distance=4).collect()]
    spanning = [(r.id_a, r.id_b) for r in fingerprint_hamming_pairs(
        fp, max_distance=4, group_identical=True).collect()]

    # all-pairs: C(4,2) + C(2,2) + 4*2 cross = 6 + 1 + 8 = 15 edges;
    # spanning: 3 member edges + 1 member edge + 1 rep pair = 5
    assert len(all_pairs) == 15
    assert len(spanning) == 5
    assert components(all_pairs) == components(spanning) == {
        frozenset({1, 2, 3, 4, 10, 11}), frozenset({99})}


def test_phash_incremental_flags_contract(spark):
    """phash_incremental_flags: index-vs-index pairs structurally
    excluded, new-vs-index flags at any id order, new-vs-new keeps
    the lower id, the BEST match wins (min distance, then min id),
    and clean fingerprints pass unflagged."""
    from medallion_data_pipeline_spark.operators.dedup import (
        phash_incremental_flags)

    base = 0x0F0F_0F0F_0F0F_0F0F
    idx = spark.createDataFrame(
        [(10, base), (11, base ^ 1)], "doc_id long, phash long")
    new = spark.createDataFrame(
        [(1, base),                      # lower id than index: still flagged
         (20, base ^ 3),                 # d=2 to base, d=1 to base^1 -> 11
         (21, base ^ 3),                 # also matches 20 at d=0 -> 20 wins
         (30, 0x7234_5678_9ABC_0000)],   # far from everything
        "doc_id long, phash long")
    got = {r.doc_id: (r.dup_of, r.hamming)
           for r in phash_incremental_flags(idx, new).collect()}
    assert got[1] == (10, 0)
    assert got[20] == (11, 1)
    assert got[21] == (20, 0)    # min distance beats the index match
    assert 30 not in got
    assert set(got) == {1, 20, 21}
