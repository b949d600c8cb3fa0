"""Document deduplication operators for training-data pipelines.

Five tiers, each a pure DataFrame composition (no Python in the hot
path), designed around the shuffle pattern that survives 100 TB:

- exact:      md5-fingerprint groupBy (one shuffle on the 32-hex key)
- minhash+LSH: tokens -> shingles -> md5 minhash signature -> band keys
               -> explode -> self-join on band key -> exact Jaccard on
               candidates. The band join replaces the O(n²) cross join:
               cost is sum over buckets of |bucket|², which LSH keeps
               tiny.
- simhash:    single fingerprint groupBy; Hamming-adjacent buckets
              optional via bit-flip expansion
- ngram Jaccard: exact verification on candidate pairs only
- span-level: disjoint-segment rewrite (exact_segment_dedup) and
              stride-1 arbitrary-alignment duplicate-span intervals
              (duplicate_span_intervals), both first-occurrence-wins
              and digest-certified

All hashing is md5-based (portable to any SQL oracle, reproducible
across engines) — deliberately NOT xxhash64, which is faster but
engine-specific; swap in xxhash64 for production-only runs.

PERF NOTE (measured, sf0.1): tokenize/shingle/hash stages are staged
as NAMED COLUMNS (withColumn) rather than one nested expression —
inline composition re-evaluates the shared subtrees per reference
(~13 ms/doc for a 16-hash signature); staged, the same signature costs
~0.1 ms/doc. Catalyst keeps non-cheap multi-referenced aliases
un-inlined, so each stage is computed once per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .._util import spread
from ..functions import text as X


def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup groups: one row per normalized-text fingerprint with
    group size and the keeper (min id). Scale: single shuffle on md5."""
    return (
        docs.select(F.col(id_col), X.md5_fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keep_id"),
        )
    )


def _staged_shingles(docs: DataFrame, text_col: str, id_col: str, k: int,
                     min_tokens: int | None = None) -> DataFrame:
    """(id, shingles) with tokenization staged once per row.

    Input is spread to full parallelism first: the driver testdata is
    one row group per table, and tokenize+shingle+hash chained onto a
    one-task scan serializes the whole corpus onto one core (9.9s vs
    ~1s at sf0.1 on local[32])."""
    out = spread(docs).withColumn("_toks", X.words(F.col(text_col)))
    if min_tokens is not None:
        out = out.filter(F.size("_toks") >= min_tokens)
    return out.select(
        F.col(id_col),
        X.shingles_from_tokens(F.col("_toks"), k).alias("shingles"),
    )


def _band_rows(staged: DataFrame, id_col: str, num_hashes: int,
               bands: int) -> DataFrame:
    """(doc, band_key) MinHash-LSH rows of a staged (id, shingles)
    frame: one row per band of each doc's signature."""
    return (
        staged.withColumn("_xs", X.shingle_ints(F.col("shingles")))
        .withColumn("_sig", X.minhash_sig_from_ints(F.col("_xs"), num_hashes))
        .select(
            F.col(id_col).alias("doc"),
            F.explode(X.band_keys_from_int_sig(F.col("_sig"), num_hashes, bands)).alias("band_key"),
        )
    )


def _band_candidates(with_bands: DataFrame,
                     oversized_star: int | None = None) -> DataFrame:
    """Distinct candidate pairs from an exploded (doc, band_key) frame:
    full within-bucket self-join, with buckets over ``oversized_star``
    reduced to (hub, member) star edges (see minhash_near_duplicates)."""
    if oversized_star:
        # one whole-partition window pass tags each row with its
        # bucket's size and hub (no ordering -> full-partition agg);
        # the self-join below then only sees the small buckets
        from pyspark.sql.window import Window as W

        w = W.partitionBy("band_key")
        tagged = (with_bands
                  .withColumn("_n", F.count(F.lit(1)).over(w))
                  .withColumn("_hub", F.min("doc").over(w)))
        big = (tagged.filter((F.col("_n") > oversized_star)
                             & (F.col("doc") != F.col("_hub")))
               .select(F.col("_hub").alias("id_a"), F.col("doc").alias("id_b")))
        with_bands = (tagged.filter(F.col("_n") <= oversized_star)
                      .select("doc", "band_key"))
    a = with_bands.alias("a")
    b = with_bands.alias("b")
    pairs = (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key")) & (F.col("a.doc") < F.col("b.doc")))
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
    )
    if oversized_star:
        pairs = pairs.unionByName(big)
    return pairs.distinct()


def jaccard_pairs(shingled: DataFrame, candidates: DataFrame,
                  id_col: str = "doc_id",
                  threshold: float = 0.4) -> DataFrame:
    """Exact k-shingle Jaccard on candidate (id_a, id_b) pairs over a
    staged (id, shingles) frame; keeps pairs >= threshold.

    Set semantics (distinct shingles). The shingle arrays join onto
    the (small) candidate set twice; only (id, distinct shingles)
    travels, so the shuffle is narrow.
    """
    sets = shingled.select(
        F.col(id_col).alias("sid"), F.array_distinct("shingles").alias("ds")
    )
    out = (
        candidates
        .join(sets.withColumnRenamed("sid", "id_a").withColumnRenamed("ds", "sh_a"), "id_a")
        .join(sets.withColumnRenamed("sid", "id_b").withColumnRenamed("ds", "sh_b"), "id_b")
        .withColumn("_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("_union", F.size("sh_a") + F.size("sh_b") - F.col("_inter"))
    )
    jac = F.round(
        F.when(F.col("_union") > 0, F.col("_inter").cast("double") / F.col("_union").cast("double")),
        6,
    )
    return (
        out.select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_near_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                            k: int = 3, num_hashes: int = 16, bands: int = 4,
                            threshold: float = 0.4, min_tokens: int = 3,
                            oversized_star: int | None = None) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: band candidates -> exact
    Jaccard.

    Candidates are pairs (id_a < id_b) sharing >= 1 LSH band: explode
    band keys and self-join on the key. At 100 TB this is the only
    viable plan — work is proportional to colliding pairs, not n².
    Skewed buckets (boilerplate docs) are handled by AQE skew-join on
    the join itself; what AQE cannot fix is the OUTPUT of a giant
    bucket — an m-doc boilerplate clique emits m(m-1)/2 candidate rows
    by construction, and every one is a true near-dup the verifier
    must score.

    The staged (id, shingles) frame feeds FOUR subplans (both sides of
    the band self-join, both sides of the Jaccard join); persisting it
    avoids recomputing tokenization+shingling each time — measured 2x
    end-to-end at sf0.1. At 100 TB use StorageLevel.DISK_ONLY or a
    materialized intermediate table instead of memory.

    ``oversized_star`` is the cluster-flow answer: band buckets larger
    than the cap emit only (hub, member) edges — hub = the bucket's
    minimum id — so candidates are LINEAR in bucket size. This is NOT
    pair-set-preserving (use it for the dedup/cluster flow, never for
    pair-level reporting): connected components are preserved whenever
    in-bucket near-dup relations reach members through the hub (true
    boilerplate cliques — the shape that creates oversized buckets in
    the first place); a member that fails Jaccard against the hub but
    would have passed against another member can fall out of the
    cluster unless the pair also collides in a small bucket. Verified
    star edges still connect the clique for the connected-components
    consumer (drop_near_duplicates). Pinned by the cluster-equality
    test on a clique corpus; measured linear-vs-quadratic in
    docs/SCALING.md addendum 4.

    Cost note: enabling ``oversized_star`` adds one whole-partition
    window pass (count+min over band_key) over the ENTIRE exploded
    frame — an extra full shuffle paid even when no bucket exceeds the
    cap. That is why it defaults to None: turn it on for corpora where
    boilerplate cliques are expected (real crawls), leave it off for
    vetted-uniform ones.
    """
    staged = _staged_shingles(docs, text_col, id_col, k, min_tokens).persist()
    cands = _band_candidates(_band_rows(staged, id_col, num_hashes, bands),
                             oversized_star)
    return jaccard_pairs(staged, cands, id_col, threshold)


def ngram_jaccard_duplicates(docs: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id", k: int = 3,
                             threshold: float = 0.4, min_tokens: int = 3) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs (>= ``threshold``) via a
    prefix-filtering set-similarity join (AllPairs/PPJoin family).

    Unlike MinHash-LSH this has 100% recall by construction — no pair
    with true Jaccard >= t is ever missed — yet it avoids the O(n²)
    cross join. The classic prefix-filter theorem: order every doc's
    distinct-shingle set by ONE global total order (document frequency
    ascending, shingle string as tiebreak — rarest first) and keep only
    the first ``|s| - ceil(t*|s|) + 1`` shingles (the "prefix"). If
    J(A,B) >= t then |A∩B| >= ceil(t*|A|), so the common shingles
    cannot all hide in A's suffix of size ceil(t*|A|) - 1 — every
    qualifying pair must collide on at least one PREFIX shingle of both
    sides. Candidate generation is therefore an equi-self-join on
    prefix shingles only; because prefixes are the globally RAREST
    shingles, bucket sizes stay tiny even when the corpus shares heavy
    boilerplate n-grams (which a naive shared-any-ngram inverted index
    would blow up on).

    Shuffle inventory at scale: one explode+agg for document
    frequencies, one equi-join to rank shingles, one groupBy to
    reassemble ordered sets, one narrow (id, shingle) self-join for
    candidates, then the exact-Jaccard verify join — all key-partition
    shuffles, work proportional to colliding prefix pairs, not n².

    The ceil is computed as ``ceil(t*n - 1e-9)``: the epsilon guards
    against float error ever rounding an exact integer product UP
    (which would shorten the prefix and break the completeness proof);
    at worst the prefix is one shingle longer — more candidates, never
    a missed pair.
    """
    # the non-empty-set gate runs as a TOKEN floor inside the staging
    # (size(_toks) >= max(min_tokens, k) <=> size(ds) >= 1 exactly: a
    # doc shingles to [] iff it has < k tokens) — filtering on the
    # size of the COMPUTED ds array would substitute the whole
    # interpreted shingle chain into the pushed-down predicate and
    # re-evaluate it per row (PERFORMANCE.md #34)
    floor = k if min_tokens is None else max(min_tokens, k)
    staged = _staged_shingles(docs, text_col, id_col, k, floor).select(
        F.col(id_col).alias("sid"), F.array_distinct("shingles").alias("ds")
    ).withColumn(
        "xs", F.array_distinct(X.shingle_ints(F.col("ds")))
    ).persist()

    # Candidate generation and pre-verification run over the 8-byte md5
    # image of each shingle, not the string: narrower shuffles and a
    # cheaper join key. A hash collision merges two universe elements,
    # which can only RAISE a pair's candidate-universe Jaccard
    # (intersections keep every truly-shared element; unions can only
    # shrink), so J_hashed >= J_true and no qualifying pair escapes any
    # filter stated on the hashed sets; the exact verify at the end
    # re-scores the few survivors on the true strings.
    grams = staged.select("sid", F.explode("xs").alias("g"))
    freq = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        grams.join(freq, "g")
        .groupBy("sid")
        .agg(F.array_sort(F.collect_list(F.struct("df", "g"))).alias("ordered"))
        .withColumn("n", F.size("ordered"))
        .withColumn(
            "plen",
            (F.col("n") - F.ceil(F.lit(threshold) * F.col("n") - F.lit(1e-9)) + 1)
            .cast("int"),
        )
    )
    prefix = ordered.select(
        "sid", "n",
        F.posexplode(F.slice("ordered", 1, F.col("plen"))).alias("pos0", "p"),
    ).select("sid", "n", (F.col("pos0") + 1).alias("pos"), F.col("p.g").alias("g"))
    a, b = prefix.alias("a"), prefix.alias("b")
    # PPJoin prunes on top of the prefix filter (both are safe for the
    # pair's FIRST common prefix element, which every qualifying pair
    # has, so neither can cause a miss):
    #  - length filter: J >= t forces t*|A| <= |B| <= |A|/t;
    #  - positional filter: at the first shared element no earlier
    #    element is common, so overlap <= 1 + min(|A|-posA, |B|-posB),
    #    and J >= t needs overlap >= ceil(t/(1+t) * (|A|+|B|)).
    min_overlap = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("a.n") + F.col("b.n"))
        - F.lit(1e-9)
    )
    cands = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.sid") < F.col("b.sid"))
            & (F.col("b.n") * F.lit(1.0) >= F.lit(threshold) * F.col("a.n"))
            & (F.col("a.n") * F.lit(1.0) >= F.lit(threshold) * F.col("b.n"))
            & (F.lit(1) + F.least(F.col("a.n") - F.col("a.pos"),
                                  F.col("b.n") - F.col("b.pos")) >= min_overlap),
        )
        .select(F.col("a.sid").alias("id_a"), F.col("b.sid").alias("id_b"))
    )

    # NOTE: candidates are NOT distinct'd here — a pair colliding on
    # several prefix shingles appears once per collision. Measured
    # multiplicity at sf0.1 is 1.05×, so a full candidate-width
    # distinct shuffle would cost more than the 5% duplicate scoring
    # it saves; dedup happens after stage-1 verify on the ~3 orders of
    # magnitude smaller survivor set instead. (If a corpus had heavy
    # prefix-collision multiplicity, AQE still splits the skewed join
    # output; the duplicate scoring stays proportional.)

    # Two-stage verify. Stage 1 scores the (many) candidates on the
    # cheap int arrays: J_hashed >= J_true, and the final filter keeps
    # round(J_true, 6) >= t, i.e. J_true >= t - 5e-7, so pruning at
    # J_hashed >= t - 1e-6 is a strictly necessary condition — no true
    # pair is lost. Stage 2 re-joins only the survivors (≈ the true
    # pair count) against the string sets for the exact Jaccard the
    # caller (and the SQL oracle) sees.
    pre = (
        cands
        .join(staged.select(F.col("sid").alias("id_a"), F.col("xs").alias("xa")), "id_a")
        .join(staged.select(F.col("sid").alias("id_b"), F.col("xs").alias("xb")), "id_b")
        .withColumn("_ih", F.size(F.array_intersect("xa", "xb")))
        .withColumn("_uh", F.size("xa") + F.size("xb") - F.col("_ih"))
        .filter(
            (F.col("_uh") > 0)
            & (F.col("_ih").cast("double") / F.col("_uh").cast("double")
               >= F.lit(threshold - 1e-6))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    out = (
        pre
        .join(staged.select(F.col("sid").alias("id_a"), F.col("ds").alias("sh_a")), "id_a")
        .join(staged.select(F.col("sid").alias("id_b"), F.col("ds").alias("sh_b")), "id_b")
        .withColumn("_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("_union", F.size("sh_a") + F.size("sh_b") - F.col("_inter"))
    )
    jac = F.round(
        F.when(F.col("_union") > 0, F.col("_inter").cast("double") / F.col("_union").cast("double")),
        6,
    )
    return (
        out.select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def band_index(docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", k: int = 3, num_hashes: int = 16,
               bands: int = 4, min_tokens: int = 3,
               max_bucket: int | None = None) -> DataFrame:
    """The (doc, band_key) MinHash-LSH index rows for ``docs`` — the
    exact frame ``incremental_near_duplicates`` probes. Materialize
    this for accepted docs as batches land (a maintained parquet/Delta
    table appended per batch, never recomputed) and pass it back via
    ``corpus_index=`` so incremental dedup's corpus-side cost is an
    index scan, not a corpus re-shingle.

    ``max_bucket``: cap each band bucket at its N LOWEST doc ids
    (deterministic). Against a boilerplate-heavy corpus an uncapped
    index multiplies every matching newcomer's candidates by the
    bucket size — an m-member clique bucket makes each probing
    newcomer score m exact-Jaccard pairs per band, unbounded as the
    crawl grows. For a TRUE boilerplate clique (every bucket member
    mutually >= threshold), any retained member still flags a matching
    newcomer — incremental_near_duplicates returns the BEST match — so
    capping changes only WHICH member `dup_of` names, never whether
    the newcomer is flagged; that clique-scoped contract is what the
    capped-index test pins. The guarantee does NOT extend to buckets
    padded by band collisions between non-near-dups: if a newcomer's
    only genuine >= threshold partner lands above the cap (higher doc
    id) in such a mixed bucket AND the pair collides in no other band,
    the newcomer goes unflagged — a residual false negative
    (constructed and pinned by
    test_capped_band_index_false_negative_on_mixed_bucket, which also
    shows a cap >= the observed bucket size restores the flag). Size
    ``max_bucket`` well above the expected non-dup collision density
    per bucket (collision mass is bounded by the band width, so tens
    suffice in practice) and reserve tight caps for corpora where
    oversized buckets are known boilerplate cliques. Costs one window
    shuffle at build time.
    The same invariant is maintained incrementally (append-time
    capacity check) by streaming/ingest.py::dedup_ingest_sink."""
    idx = _band_rows(_staged_shingles(docs, text_col, id_col, k, min_tokens),
                     id_col, num_hashes, bands)
    if max_bucket:
        from pyspark.sql.window import Window as W

        idx = (
            idx.withColumn(
                "_rk",
                F.row_number().over(
                    W.partitionBy("band_key").orderBy(F.asc("doc"))))
            .filter(F.col("_rk") <= max_bucket)
            .drop("_rk")
        )
    return idx


def incremental_near_duplicates(corpus: DataFrame, new_docs: DataFrame,
                                text_col: str = "text", id_col: str = "doc_id",
                                k: int = 3, num_hashes: int = 16, bands: int = 4,
                                threshold: float = 0.4, min_tokens: int = 3,
                                corpus_index: DataFrame | None = None,
                                new_index: DataFrame | None = None) -> DataFrame:
    """Flag near-duplicates in an INCOMING batch against an existing
    corpus (and against earlier docs of the same batch) — the daily
    shape of a production training-data pipeline: yesterday's 100 TB
    corpus is already deduped; today's 1 TB batch must be checked
    against it WITHOUT re-pairing the corpus with itself.

    Returns one row per flagged new doc: (doc_id, dup_of, jaccard) —
    its best match (highest exact k-shingle Jaccard >= ``threshold``,
    ties to the lowest matching id) among corpus docs and lower-id
    batch docs. Unflagged new docs are the keepers.

    Scale shape: the corpus side contributes only its (id, band_key)
    MinHash-LSH index — at scale a maintained TABLE, appended as
    batches are accepted, never recomputed — and the band equi-join is
    driven by the NEW side's keys, so per-batch cost is proportional
    to batch size plus band collisions, never |corpus|² nor even a
    corpus re-scan once the index is materialized. Corpus-vs-corpus
    pairs are structurally excluded (the probe side is new docs only);
    new-vs-new pairs keep the id_a < id_b convention so exactly one of
    two identical incoming docs is flagged.

    ``corpus_index``: pass the maintained (doc, band_key) table built
    by ``band_index`` to skip re-shingling the corpus; when omitted the
    index is computed from ``corpus`` (correctness-identical — same
    deterministic hash family — just pays the corpus scan).
    ``new_index``: likewise for the BATCH side — a caller that also
    needs the batch's band rows afterwards (the streaming sink appends
    the keepers' rows to the maintained index) computes them once,
    persists them, and passes them here, halving the per-batch
    shingle/minhash work; the caller owns persist/unpersist.

    Boilerplate-clique note (100 TB): a giant corpus-side band bucket
    multiplies each matching NEW doc's candidates by the bucket size.
    Because this operator returns the BEST match (not all pairs), the
    crawl-scale mitigation is to cap the maintained index's per-bucket
    membership at ingest time (keep the N lowest ids per band_key —
    any retained member still flags a true boilerplate newcomer, only
    `dup_of`/`jaccard` may name a different clique member). That is an
    index-maintenance policy, deliberately NOT a flag here: the
    operator stays exact and the cap lives where the index is built —
    ``band_index(max_bucket=N)`` for a one-shot build, and the
    append-time capacity check in
    ``streaming/ingest.py::dedup_ingest_sink(max_bucket=N)`` for the
    maintained streaming index; pass the capped index via
    ``corpus_index=``. Flag-set preservation on a clique corpus is
    pinned by the capped-index test; the wall-clock win is measured
    in docs/SCALING.md (capped vs uncapped probe of a fixed batch
    against the 50k skew-clique corpus).
    """
    from pyspark.sql.window import Window as W

    def _bands(docs: DataFrame) -> DataFrame:
        return band_index(docs, text_col, id_col, k, num_hashes, bands,
                          min_tokens)

    if corpus_index is None:
        # at scale: read this from the maintained corpus-index table
        corpus_index = _bands(corpus)
    corpus_index = corpus_index.select("doc", "band_key").withColumn(
        "is_corpus", F.lit(True))
    if new_index is not None:
        # caller already computed (and owns the lifecycle of) the
        # batch's band rows — e.g. the streaming sink, which also
        # appends them to the maintained index: one shingle/minhash
        # pass per batch instead of two
        new_bands = new_index.select("doc", "band_key")
    else:
        new_bands = _bands(new_docs).persist()

    a = corpus_index.unionByName(
        new_bands.withColumn("is_corpus", F.lit(False))
    ).alias("a")
    b = new_bands.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.is_corpus") | (F.col("a.doc") < F.col("b.doc")))
            & (F.col("a.doc") != F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )

    # exact-Jaccard verify needs shingles of the matched corpus docs
    # too; at scale this is a narrow (id, shingles) lookup join against
    # the stored silver docs, touched only for colliding ids
    all_docs = corpus.select(id_col, text_col).unionByName(
        new_docs.select(id_col, text_col)
    )
    scored = jaccard_pairs(_staged_shingles(all_docs, text_col, id_col, k),
                           cands, id_col, threshold)
    w = W.partitionBy("id_b").orderBy(F.desc("jaccard"), F.asc("id_a"))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(
            F.col("id_b").alias("doc_id"),
            F.col("id_a").alias("dup_of"),
            "jaccard",
        )
    )


def simhash_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                   bits: int = 16) -> DataFrame:
    """SimHash-equal buckets: doc count per fingerprint. Equal
    fingerprints are near-dup clusters; Hamming<=d pairs (one bit of
    drift between two near-identical docs flips a fingerprint bit) are
    recovered by :func:`simhash_hamming_pairs`."""
    return (
        simhash_fingerprints(docs, text_col, id_col, bits)
        .groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keep_id"))
    )


def simhash_fingerprints(docs: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", bits: int = 16) -> DataFrame:
    """(id, simhash) — the staged fingerprint frame shared by the
    grouping and Hamming-retrieval paths."""
    return (
        docs.withColumn("_toks", X.words(F.col(text_col)))
        .withColumn("_hashed", F.transform("_toks", F.md5))
        .select(F.col(id_col),
                X.simhash_from_hashes(F.col("_hashed"), bits).alias("simhash"))
    )


def simhash_hamming_pairs(docs: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", bits: int = 16,
                          max_distance: int = 1) -> DataFrame:
    """Near-dup pairs at Hamming distance <= ``max_distance`` between
    SimHash fingerprints — the bit-flip bucket expansion that
    equal-fingerprint grouping misses.

    Plan: the probe side explodes each fingerprint into its
    sum(C(bits, e), e<=d) bit-flip variants (17 keys at 16/1) and
    equi-joins against the EXACT fingerprint side. The asymmetric
    probe-vs-exact design means a pair at distance e <= d collides on
    exactly ONE mask (mask == fp_a XOR fp_b), and the id_a < id_b
    predicate kills the mirror collision — so there is no pair-dedup
    shuffle at all; the only shuffle is the equi-join on the 8-byte
    probe key. 100% recall within d by construction (verified against
    the all-pairs SQL oracle). At 100 TB the probe fan-out is a fixed
    x17 row multiplier on a narrow (id, key) projection — linear, not
    quadratic; raise ``bits`` to keep buckets sparse as n grows.

    Cache lifetime: the persisted fingerprint frame lives until the
    session ends (same idiom as minhash_near_duplicates' staged
    shingles). Long-lived sessions making many independent calls
    clear it with ``spark.catalog.clearCache()`` between batches; the
    cache is not unpersisted here because the returned (lazy)
    DataFrame still references it.
    """
    from itertools import combinations

    masks = [0]
    for d in range(1, max_distance + 1):
        for combo in combinations(range(bits), d):
            m = 0
            for b in combo:
                m |= 1 << b
            masks.append(m)

    # fp feeds BOTH join sides; unpersisted, the per-token md5 +
    # bit-vote scan runs twice (measured ~2x end-to-end at sf0.1 — same
    # rationale as minhash_near_duplicates). At 100 TB use DISK_ONLY or
    # a materialized fingerprint table.
    fp = simhash_fingerprints(docs, text_col, id_col, bits).persist()
    probe = fp.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("fp_a"),
        F.explode(F.array(*[F.lit(m).cast("long") for m in masks])).alias("mask"),
    ).select(
        "id_a", "fp_a",
        F.col("fp_a").bitwiseXOR(F.col("mask")).alias("probe_key"),
    )
    exact = fp.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("fp_b"))
    return (
        probe.join(exact, (F.col("probe_key") == F.col("fp_b"))
                   & (F.col("id_a") < F.col("id_b")))
        .select(
            "id_a", "id_b",
            F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).alias("hamming"),
        )
    )


def exact_segment_dedup(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", seg_tokens: int = 10) -> DataFrame:
    """Duplicate-span removal (the C4 / Dolma exact paragraph-dedup
    shape, reference has no counterpart — LLM-pipeline extension).

    Each document's token stream is cut into consecutive
    ``seg_tokens``-wide segments; a segment seen in more than one place
    survives only at its FIRST global occurrence (lowest (doc, seg_idx)
    — the deterministic dual of "keep the first crawl hit"). Returns
    one row per document with segment counts, kept_chars (summed
    length of surviving segments, separator-exclusive), and an md5
    digest of the reassembled (deduplicated) text, so the rewrite
    itself is verified, not just the drop counts.

    Scale shape: explode to one row per segment; the first occurrence
    per segment hash is a groupBy MIN(struct(doc, seg_idx)) — NOT a
    row_number window, deliberately: partial (map-side) aggregation
    absorbs a boilerplate mega-span repeated 10^9 times into per-task
    partial minima, where a window would funnel every copy into one
    unsplittable partition. The keeper map joins back on the hash
    (same shuffle key), then ONE shuffle on doc id reassembles. Work
    is linear in corpus tokens; nothing is quadratic and nothing
    collects to the driver.
    """
    from ..functions import text as X

    toks = X.words(F.col(text_col))
    nseg = F.ceil(F.size("_toks") / F.lit(seg_tokens)).cast("int")
    seg = (
        spread(docs).withColumn("_toks", toks)
        .filter(F.size("_toks") > 0)
        .select(
            F.col(id_col),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), nseg - 1),
                    lambda i: F.concat_ws(
                        " ", F.slice(F.col("_toks"), i * seg_tokens + 1, seg_tokens)),
                )
            ).alias("seg_idx", "seg"),
        )
        .withColumn("seg_hash", F.md5("seg"))
    )
    keepers = seg.groupBy("seg_hash").agg(
        F.min(F.struct(F.col(id_col).alias("kid"),
                       F.col("seg_idx").alias("kidx"))).alias("keeper"))
    flagged = seg.join(keepers, "seg_hash").withColumn(
        "keep", ((F.col("keeper.kid") == F.col(id_col))
                 & (F.col("keeper.kidx") == F.col("seg_idx"))).cast("int"))
    kept_structs = F.sort_array(
        F.collect_list(F.when(F.col("keep") == 1,
                              F.struct(F.col("seg_idx"), F.col("seg")))))
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            (F.count(F.lit(1)) - F.sum("keep")).alias("n_dup_segments"),
            F.sum(F.when(F.col("keep") == 1, F.length("seg"))
                  .otherwise(F.lit(0))).alias("kept_chars"),
            F.md5(F.concat_ws(" ", F.transform(kept_structs, lambda s: s.seg)))
            .alias("dedup_digest"),
        )
    )


def duplicate_span_intervals(docs: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id", w: int = 8) -> DataFrame:
    """Arbitrary-alignment duplicated-substring detection — the
    stride-1 upgrade of :func:`exact_segment_dedup` (which cuts
    DISJOINT segments and so misses a duplicated passage that straddles
    a segment boundary). Every ``w``-token window is hashed; a window
    whose hash occurs anywhere earlier (first occurrence = global
    MIN(struct(doc, pos)), the same deterministic keep-first-crawl-hit
    rule) marks its token interval [pos, pos+w-1] as duplicated; a
    document's overlapping duplicate intervals are then MERGED
    (gaps-and-islands on interval starts) into maximal spans — the
    fixed-minimum-width approximation of suffix-array substring dedup
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"): any duplicated run of >= w aligned tokens is
    caught regardless of offset.

    Returns one row per document (>= w tokens) with its token count,
    merged duplicate-span count, duplicated/kept token counts, and an
    md5 digest of the merged "start-end" span list — certifying the
    exact intervals, not just totals.

    Scale shape: one row per token position (explode, ~|tokens| rows);
    first-occurrence is a groupBy MIN with map-side combine (a
    boilerplate mega-window collapses to per-task partial minima, same
    rationale as exact_segment_dedup); interval merging windows are
    partitioned BY DOCUMENT (bounded by doc length), never global.
    Work is linear in corpus tokens.
    """
    from pyspark.sql.window import Window as W

    from ..functions import text as X

    staged = (
        spread(docs).withColumn("_toks", X.words(F.col(text_col)))
        .filter(F.size("_toks") >= w)
        .select(F.col(id_col), F.col("_toks"), F.size("_toks").alias("n_tokens"))
    )
    win = (
        staged.select(
            F.col(id_col), "n_tokens",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col("n_tokens") - (w - 1)),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.md5(F.concat_ws(" ", F.slice(F.col("_toks"), i, w)))
                        .alias("h")),
                )
            ).alias("e"),
        )
        .select(F.col(id_col), "n_tokens", F.col("e.pos").alias("pos"),
                F.col("e.h").alias("h"))
    )
    # win has two consumers (the first-occurrence agg and the probe
    # side of the join), so the explode+md5 pass runs twice. That
    # duplication is the MEASURED best form at bench scale (r15
    # optimization round, guide §1.1's "ideal plan" gotcha): an
    # explicit repartition(h) that makes the two subtrees share one
    # reused exchange read 1.53 -> ~2.0 s (the token-scale full-frame
    # exchange outweighs the saved compute), and persist() read
    # 1.53 -> ~1.8 s (cache materialization serializes the first
    # consumer) — both with an in-window control. The agg side only
    # shuffles partial minima; the join side's exchange carries rows
    # the join needs anyway; the recompute is scan-local CPU that
    # parallelizes perfectly, which is also the 100 TB-safe trade.
    first = win.groupBy("h").agg(
        F.min(F.struct(F.col(id_col).alias("kid"),
                       F.col("pos").alias("kpos"))).alias("keeper"))
    dups = (
        win.join(first, "h")
        .filter(~((F.col("keeper.kid") == F.col(id_col))
                  & (F.col("keeper.kpos") == F.col("pos"))))
        .select(F.col(id_col), "n_tokens",
                F.col("pos").alias("start"),
                (F.col("pos") + (w - 1)).alias("end"))
    )
    wd = W.partitionBy(id_col).orderBy("start")
    prev_max_end = F.max("end").over(wd.rowsBetween(W.unboundedPreceding, -1))
    flagged = dups.withColumn(
        "new_span",
        F.when(prev_max_end.isNull() | (F.col("start") > prev_max_end), 1)
        .otherwise(0))
    spans = (
        flagged.withColumn(
            "span_id",
            F.sum("new_span").over(wd.rowsBetween(W.unboundedPreceding, 0)))
        .groupBy(id_col, "n_tokens", "span_id")
        .agg(F.min("start").alias("s"), F.max("end").alias("e"))
    )
    span_structs = F.sort_array(F.collect_list(F.struct("s", "e")))
    per_doc = spans.groupBy(id_col, "n_tokens").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("e") - F.col("s") + 1).alias("dup_tokens"),
        F.md5(F.concat_ws(",", F.transform(
            span_structs,
            lambda x: F.concat_ws("-", x.s.cast("string"), x.e.cast("string")))))
        .alias("span_digest"),
        span_structs.alias("_spans"),
    )
    # rewrite certification: reassemble the KEPT tokens (positions not
    # covered by any merged span — the spans array is bounded by doc
    # length, so the per-token exists() stays row-local) and digest the
    # result, so the rewrite itself is verified, not just the counts.
    joined = staged.join(per_doc.drop("n_tokens"), id_col, "left")
    spans_arr = F.coalesce("_spans", F.array().cast("array<struct<s:int,e:int>>"))
    covered = lambda p: F.exists(  # noqa: E731
        spans_arr, lambda sp: (p >= sp.s) & (p <= sp.e))
    kept_toks = F.filter(
        F.transform(F.sequence(F.lit(1), F.col("n_tokens").cast("long")),
                    lambda p: F.when(~covered(p),
                                     F.element_at("_toks", p.cast("int")))),
        lambda x: x.isNotNull())
    return joined.select(
        id_col, "n_tokens",
        F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
        F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
        (F.col("n_tokens") - F.coalesce("dup_tokens", F.lit(0)))
        .alias("kept_tokens"),
        F.coalesce("span_digest", F.md5(F.lit(""))).alias("span_digest"),
        F.md5(F.concat_ws(" ", kept_toks)).alias("kept_digest"),
    )


def fingerprint_hamming_pairs(fp: DataFrame, id_col: str = "doc_id",
                              fp_col: str = "phash", bits: int = 64,
                              max_distance: int = 4,
                              group_identical: bool = False) -> DataFrame:
    """All pairs of fingerprints at Hamming distance <= ``max_distance``
    via pigeonhole block retrieval (Manku/Jain/Das Sarma, WWW'07 — the
    Google simhash-at-scale construction): split the ``bits``-wide
    fingerprint into ``max_distance + 1`` disjoint blocks; any pair
    differing in at most d bits must agree EXACTLY on at least one
    block, so candidates come from a (block_idx, block_value) equi-join
    and the exact distance check runs only on collisions. 100% recall
    within d by construction.

    Versus :func:`simhash_hamming_pairs`' bit-flip probe (all masks up
    to distance d): probes cost sum(C(bits, e)) keys per doc —
    C(64, <=4) ~ 679k, unusable — while blocks cost d+1 keys per doc
    at ANY d/bits, at the price of verifying collisions. On random
    fingerprints a b-bit block collides with probability 2^-b, so
    expected verify pairs are n^2 / 2^(bits/(d+1)) per block — at
    64/4 that is n^2/2^12.8: negligible until corpus size approaches
    ~2^12 times the acceptable verify budget; raise ``bits`` (or
    pre-group identical fingerprints and pair group representatives)
    to push it out further. The only shuffles are the equi-join on the
    block key and the pair-level dropDuplicates (a pair agreeing on
    several blocks collides once per agreeing block).

    Used by the perceptual-image dedup query (dedup_image_phash) over
    operators/multimodal.py::phash_binary fingerprints; works on any
    integer fingerprint column (simhash included).

    ``group_identical=True`` is the oversized-clique guard (measured,
    SCALING.md addendum 14: the replica-grown sf1 corpus has identical-
    fingerprint groups averaging 7 members, and all-pairs candidates
    grew at exponent ~2.1 — 14.8M at 100K fingerprints): distinct
    fingerprints are reduced to their min-id representative first,
    block retrieval runs over REPRESENTATIVES only, and the result is
    the union of (a) member -> representative edges at hamming 0 and
    (b) representative-pair edges within d. That edge set is a
    SPANNING set, not all pairs — its transitive closure equals the
    all-pairs graph's (identical members are interchangeable), so it
    feeds dedup/keep-one and connected-components clustering
    unchanged, at member-linear + rep-collision cost instead of
    clique-quadratic. Set it whenever pairs feed clustering rather
    than being the product themselves.
    """
    if bits > 64:
        raise ValueError(f"bits={bits}: fingerprint must fit a long")
    nb = max_distance + 1
    if nb > bits:
        raise ValueError(f"max_distance={max_distance} needs {nb} blocks "
                         f"> bits={bits}")
    base, rem = divmod(bits, nb)
    blocks = []  # (idx, lo, width)
    lo = 0
    for i in range(nb):
        width = base + (1 if i < rem else 0)
        blocks.append((i, lo, width))
        lo += width

    fp = fp.select(F.col(id_col).alias("_id"),
                   F.col(fp_col).cast("long").alias("_fp")) \
        .filter(F.col("_fp").isNotNull())
    member_edges = None
    if group_identical:
        reps = fp.groupBy("_fp").agg(F.min("_id").alias("_rep")).persist()
        member_edges = (
            fp.join(reps, "_fp")
            .filter(F.col("_id") != F.col("_rep"))
            .select(F.col("_rep").alias("id_a"),
                    F.col("_id").alias("id_b"),
                    F.lit(0).alias("hamming")))
        fp = reps.select(F.col("_rep").alias("_id"), "_fp")
    fp = fp.persist()

    def block_val(lo: int, width: int):
        shifted = F.shiftrightunsigned(F.col("_fp"), lo) if lo else F.col("_fp")
        return shifted.bitwiseAND(F.lit((1 << width) - 1))

    keyed = fp.select(
        "_id", "_fp",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("blk"), block_val(lo, w).alias("val"))
            for i, lo, w in blocks])).alias("k"),
    ).select("_id", "_fp", "k.blk", "k.val")

    left = keyed.select(F.col("_id").alias("id_a"),
                        F.col("_fp").alias("fp_a"), "blk", "val")
    right = keyed.select(F.col("_id").alias("id_b"),
                         F.col("_fp").alias("fp_b"), "blk", "val")
    out = (
        left.join(right, ["blk", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
                .alias("hamming"))
        .filter(F.col("hamming") <= max_distance)
        .dropDuplicates(["id_a", "id_b"])
    )
    if member_edges is not None:
        out = out.unionByName(member_edges)
    return out


def phash_incremental_flags(index_fp: DataFrame, new_fp: DataFrame,
                            id_col: str = "doc_id", fp_col: str = "phash",
                            bits: int = 64,
                            max_distance: int = 4) -> DataFrame:
    """Flag perceptual near-duplicates in an INCOMING fingerprint
    batch against a maintained index — the image twin of
    incremental_near_duplicates: the index side contributes only its
    (id, fingerprint) rows (a maintained table, appended as batches
    are accepted, never recomputed), candidates come from the same
    pigeonhole block equi-join as fingerprint_hamming_pairs (d+1 keys
    per fingerprint), index-vs-index pairs are structurally excluded
    (the probe side is new fingerprints only), and new-vs-new keeps
    the lower-id-wins convention so exactly one of two identical
    incoming images is flagged.

    Returns one row per flagged new id: (id, dup_of, hamming) — its
    BEST match (lowest distance, ties to the lowest id) among index
    fingerprints and lower-id batch fingerprints. Unflagged new ids
    are the keepers. Block keys are recomputed from the fingerprint
    in-plan (pure shift/mask — the index stores only (id, phash))."""
    nb = max_distance + 1
    base, rem = divmod(bits, nb)
    blocks = []
    lo = 0
    for i in range(nb):
        width = base + (1 if i < rem else 0)
        blocks.append((i, lo, width))
        lo += width

    def keyed(df, side):
        f = df.select(F.col(id_col).alias(f"id_{side}"),
                      F.col(fp_col).cast("long").alias(f"fp_{side}")) \
            .filter(F.col(f"fp_{side}").isNotNull())

        def block_val(lo_, w):
            sh = (F.shiftrightunsigned(F.col(f"fp_{side}"), lo_)
                  if lo_ else F.col(f"fp_{side}"))
            return sh.bitwiseAND(F.lit((1 << w) - 1))

        return f.select(
            f"id_{side}", f"fp_{side}",
            F.explode(F.array(*[
                F.struct(F.lit(i).alias("blk"), block_val(lo_, w).alias("val"))
                for i, lo_, w in blocks])).alias("k"),
        ).select(f"id_{side}", f"fp_{side}", "k.blk", "k.val")

    probe = keyed(new_fp, "n")
    corpus = keyed(index_fp, "c").withColumn("_idx", F.lit(True)) \
        .unionByName(keyed(new_fp, "c").withColumn("_idx", F.lit(False)))
    cand = (
        probe.join(corpus, ["blk", "val"])
        .filter(F.col("_idx") | (F.col("id_c") < F.col("id_n")))
        .select("id_n", "id_c",
                F.bit_count(F.col("fp_n").bitwiseXOR(F.col("fp_c")))
                .alias("hamming"))
        .filter(F.col("hamming") <= max_distance)
        .dropDuplicates(["id_n", "id_c"])
    )
    from pyspark.sql.window import Window as W

    best = F.row_number().over(
        W.partitionBy("id_n").orderBy(F.asc("hamming"), F.asc("id_c")))
    return (cand.withColumn("_rk", best).filter(F.col("_rk") == 1)
            .select(F.col("id_n").alias(id_col),
                    F.col("id_c").alias("dup_of"), "hamming"))


def containment_pairs(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 3,
                      threshold: float = 0.8,
                      df_cap: int | None = None) -> DataFrame:
    """Ordered near-CONTAINMENT pairs: (contained, container,
    containment, jaccard) where containment(A in B) =
    |S_A ∩ S_B| / |S_A| >= threshold over distinct k-word shingles —
    the quote/snippet/subset relation symmetric Jaccard dedup misses
    (a 40% excerpt of a long page has Jaccard ~0.4 but containment
    1.0).

    Scale shape — the asymmetric prefix filter, EXACT recall by
    pigeonhole: order each doc's shingle-hash set globally (the md5
    image is the canonical order, portable to the oracle); if
    C(A,B) >= t then |A ∩ B| >= ceil(t·|A|), so B must contain at
    least one of A's p = |A| - ceil(t·|A|) + 1 smallest hashes —
    missing all of them caps the intersection at ceil(t·|A|) - 1.
    Candidates therefore come from joining each doc's p-element
    PREFIX against the full inverted index (token-linear, the BM25
    shape), never prefix-vs-prefix (which is the symmetric-Jaccard
    filter and would lose recall here) and never all-pairs.
    ceil(t·|A|) is exact integer arithmetic ((4·|A| + 4) div 5 at
    t = 0.8) — never floor-of-double (the layout-tier lesson).
    Verification is one array_intersect per candidate pair.

    ``df_cap=N`` is the boilerplate-bucket guard (SCALING.md addendum
    14c): shingles whose document frequency exceeds N are EXCLUDED
    from candidate generation (both the prefix and the inverted
    index) — a navigation bar shared by a million pages otherwise
    fattens one inverted-index bucket into a million-row join hotspot
    carrying no containment signal, exactly BM25's stopword logic.
    Verification still scores FULL sets, so reported containment
    values are unchanged; the trade is RECALL, bounded and honest: a
    pair is missed only if every shingle of A's (filtered-universe)
    prefix that B shares is ultra-common — i.e. the pair's evidence
    is mostly boilerplate. The capped-band-index precedent applies:
    the residual false negative is constructed and pinned in
    test_containment_df_cap_..., which also shows a cap above the
    boilerplate's df restores the pair."""
    # threshold as an exact rational over 100 so every comparison is
    # integer arithmetic in both engines
    frac_num, frac_den = int(round(threshold * 100)), 100

    staged = _staged_shingles(docs, text_col, id_col, k, min_tokens=k)
    sets = staged.select(
        F.col(id_col).alias("id"),
        F.array_distinct(X.shingle_ints(F.col("shingles"))).alias("xs"),
    ).filter(F.size("xs") >= 1).persist()

    lf = sets.select("id", F.explode("xs").alias("h"))
    from pyspark.sql.window import Window as W

    if df_cap:
        common = (lf.groupBy("h").agg(F.count(F.lit(1)).alias("_df"))
                  .filter(F.col("_df") > df_cap).select("h"))
        lf = lf.join(common, "h", "left_anti")
        # candidate universe = filtered sets; prefix size p derives
        # from the FILTERED size so the pigeonhole bound holds within
        # the filtered universe
        csets = (lf.groupBy("id")
                 .agg(F.sort_array(F.collect_list("h")).alias("xs"))
                 .filter(F.size("xs") >= 1))
    else:
        csets = sets

    # ceil(t*sz) = (num*sz + den - 1) div den, exact integers
    p = F.size("xs") - F.expr(
        f"(({frac_num} * size(xs)) + {frac_den} - 1) div {frac_den}"
    ).cast("int") + F.lit(1)
    prefix = (csets.select("id", p.alias("p"), F.explode("xs").alias("h"))
              .withColumn("_rk", F.row_number().over(
                  W.partitionBy("id").orderBy("h")))
              .filter(F.col("_rk") <= F.col("p"))
              .select(F.col("id").alias("id_a"), "h"))
    cand = (prefix.join(lf.select(F.col("id").alias("id_b"), "h"), "h")
            .filter(F.col("id_a") != F.col("id_b"))
            .select("id_a", "id_b").dropDuplicates(["id_a", "id_b"]))

    a = sets.select(F.col("id").alias("id_a"), F.col("xs").alias("xa"))
    b = sets.select(F.col("id").alias("id_b"), F.col("xs").alias("xb"))
    inter = F.size(F.array_intersect("xa", "xb"))
    return (cand.join(a, "id_a").join(b, "id_b")
            .withColumn("_i", inter)
            .filter(F.col("_i") * frac_den >= F.lit(frac_num) * F.size("xa"))
            .select(
                F.col("id_a").alias("contained"),
                F.col("id_b").alias("container"),
                F.round(F.col("_i").cast("double") / F.size("xa"), 6)
                .alias("containment"),
                F.round(F.col("_i").cast("double")
                        / (F.size("xa") + F.size("xb") - F.col("_i")), 6)
                .alias("jaccard")))
