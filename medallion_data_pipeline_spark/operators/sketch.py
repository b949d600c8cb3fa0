"""Count-Min Sketch primitives (Cormode/Muthukrishnan 2005).

The sketch is d rows x w buckets of exact-integer counters built from
the engine's seeded md5-affine hash family (functions/text.py — the
same portable family minhash uses), so construction is bit-reproducible
across engines and runs. Two properties make it THE frequency structure
at 100 TB:

- **O(d*w) memory at any corpus size** — one map-side-combined
  aggregation produces 256 rows from any number of input tokens.
- **Merge = counter addition.** Partial sketches from partitions,
  shards, or micro-batches sum into the sketch of the union, exactly
  (integer adds commute) — which is why the streaming sink
  (streaming/ingest.py::run_cms_stream) can land per-batch counters
  and read the live sketch as a SUM over batch partitions.

Shared by the gated query (queries/llmops.py::cms_frequency_sketch,
whose DuckDB oracle replays construction and estimation) and the
streaming accumulator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as X

CMS_D = 4
CMS_W = 64


def token_hash(col=F.col("word")) -> F.Column:
    """The portable 32-bit token image (first 8 md5 hex chars) every
    hash row derives from — ONE digest per token."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def bucket_cols(h=F.col("h"), d: int = CMS_D, w: int = CMS_W):
    """The d bucket columns b0..b{d-1} for a staged token-hash column."""
    return [((F.lit(a) * h + F.lit(b)) % F.lit(X.MINHASH_PRIME)
             % F.lit(w)).alias(f"b{j}")
            for j, (a, b) in enumerate(X.minhash_params(d))]


def cms_long(tokens: DataFrame, token_col: str = "word",
             d: int = CMS_D, w: int = CMS_W) -> DataFrame:
    """(token, j, b) long form — each token occurrence's d bucket
    coordinates. Map-only."""
    w_ = tokens.withColumn("h", token_hash(F.col(token_col)))
    staged = w_.select(token_col, *bucket_cols(F.col("h"), d, w))
    return staged.select(
        token_col,
        F.explode(F.array(*[
            F.struct(F.lit(j).alias("j"), F.col(f"b{j}").alias("b"))
            for j in range(d)])).alias("e")
    ).select(token_col, "e.j", "e.b")


def cms_counters(tokens: DataFrame, token_col: str = "word",
                 d: int = CMS_D, w: int = CMS_W) -> DataFrame:
    """The sketch itself: (j, b, c) counters — d*w rows from any input
    size, one map-side-combined aggregation."""
    return (cms_long(tokens, token_col, d, w)
            .groupBy("j", "b").agg(F.count(F.lit(1)).alias("c")))


def merge_counters(parts: DataFrame) -> DataFrame:
    """Merge partial sketches (any union of (j, b, c) frames): counter
    addition IS sketch union."""
    return parts.groupBy("j", "b").agg(F.sum("c").alias("c"))


def cms_estimate(words: DataFrame, counters: DataFrame,
                 token_col: str = "word", d: int = CMS_D,
                 w: int = CMS_W) -> DataFrame:
    """Point estimates for a (small) set of distinct tokens: min over
    the d counters each token hashes to. The token set broadcasts; the
    counter table is d*w rows — both joins are map-side.

    The counter join is a LEFT join with absent buckets coalesced to 0:
    a sketch stores only touched buckets, so an untouched bucket means
    a true count of 0 — an inner join would take the min over only the
    dense buckets (inflating the estimate) and would drop a token whose
    d buckets are all empty entirely. Matters for point queries against
    small or streaming sketches; invisible on dense w=64 corpora."""
    coords = cms_long(words.select(token_col).dropDuplicates([token_col]),
                      token_col, d, w)
    return (coords.join(F.broadcast(counters), ["j", "b"], "left")
            .withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
            .groupBy(token_col).agg(F.min("c").alias("cms_est")))


# ---------------------------------------------------------------------------
# Bloom filter (Bloom 1970): the MEMBERSHIP sketch next to CMS's
# frequency sketch — "have we seen this URL/digest before?" with
# bounded memory and zero false negatives. Same portable seeded
# md5-affine family, so construction and probes are bit-reproducible
# across engines; merge = bitwise OR (idempotent AND commutative, so
# replayed/overlapping partials are harmless by algebra, one step
# stronger than CMS's addition).
#
# Representation: packed words of BLOOM_W = 32 bits each, (word_idx,
# bits) rows — at most m/32 rows regardless of item count. 32, not
# 64: the high mask would be 1 << 63 (the sign bit), and signed-long
# edge semantics differ enough across engines/formats to not be worth
# one bit of density. The filter frame is broadcastable by
# construction; at 100 TB the crawl keeps one per shard epoch and
# ORs them.
# ---------------------------------------------------------------------------

BLOOM_M = 4096
BLOOM_K = 4
BLOOM_W = 32


def bloom_long(items: DataFrame, col: str = "item",
               m: int = BLOOM_M, k: int = BLOOM_K) -> DataFrame:
    """(item, j, pos) — each item's k bit positions. Map-only."""
    w_ = items.withColumn("h", token_hash(F.col(col)))
    staged = w_.select(col, *[
        ((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(X.MINHASH_PRIME)
         % F.lit(m)).alias(f"p{j}")
        for j, (a, b) in enumerate(X.minhash_params(k))])
    return staged.select(
        col,
        F.explode(F.array(*[
            F.struct(F.lit(j).alias("j"), F.col(f"p{j}").alias("pos"))
            for j in range(k)])).alias("e")
    ).select(col, "e.j", "e.pos")


def bloom_bits(items: DataFrame, col: str = "item",
               m: int = BLOOM_M, k: int = BLOOM_K) -> DataFrame:
    """The filter itself: (word_idx, bits) packed words — <= m/32 rows
    from any input size, one map-side-combined aggregation."""
    # `div`, not /-then-cast: true integer division (the layout-tier
    # lesson — double round-trips are exact here but the idiom is
    # banned on principle)
    return (bloom_long(items, col, m, k)
            .select(F.expr(f"pos div {BLOOM_W}").alias("word_idx"),
                    F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                           f"CAST(pos % {BLOOM_W} AS INT))").alias("mask"))
            .groupBy("word_idx").agg(F.bit_or("mask").alias("bits")))


def bloom_m_for(n: int, fpr: float) -> int:
    """Production filter sizing (VERDICT r13 #4): the classic
    m ~ 1.44 * n * log2(1/fpr) bits for n items at a target
    false-positive rate, rounded UP to a whole number of packed
    BLOOM_W-bit words. This is the per-epoch size the rolling-epoch
    seen-set uses; the fixed BLOOM_M above remains the
    oracle-determinism default for the unsized gated query."""
    import math

    m = math.ceil(1.44 * n * math.log2(1.0 / fpr))
    return max(BLOOM_W, ((m + BLOOM_W - 1) // BLOOM_W) * BLOOM_W)


def bloom_epoch_bits(items: DataFrame, epoch_col: str = "epoch",
                     col: str = "item", m: int = BLOOM_M,
                     k: int = BLOOM_K) -> DataFrame:
    """One filter PER EPOCH: (epoch, word_idx, bits) — the
    rolling-epoch seen-set's storage shape. Each epoch's filter is
    independently <= m/32 rows; the union stays broadcastable for any
    bounded number of live epochs. Same seeded affine family as
    bloom_bits, so construction is bit-reproducible across engines."""
    w_ = items.withColumn("h", token_hash(F.col(col)))
    staged = w_.select(epoch_col, *[
        ((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(X.MINHASH_PRIME)
         % F.lit(m)).alias(f"p{j}")
        for j, (a, b) in enumerate(X.minhash_params(k))])
    return (staged.select(
        epoch_col,
        F.explode(F.array(*[F.col(f"p{j}") for j in range(k)]))
        .alias("pos"))
        .select(epoch_col,
                F.expr(f"pos div {BLOOM_W}").alias("word_idx"),
                F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                       f"CAST(pos % {BLOOM_W} AS INT))").alias("mask"))
        .groupBy(epoch_col, "word_idx")
        .agg(F.bit_or("mask").alias("bits")))


def bloom_epochs_might_contain(probes: DataFrame, eblooms: DataFrame,
                               col: str = "item", m: int = BLOOM_M,
                               k: int = BLOOM_K) -> DataFrame:
    """Membership verdicts against a SET of live epoch filters:
    (item, n_epochs_hit, might_contain) — an item "might be seen" iff
    SOME live epoch's filter has all k bits set (probe ORs across
    epochs; expiry = the caller simply not passing retired epochs).
    Zero false negatives holds per epoch, hence across the union; the
    fpr is ~live_epochs x the per-epoch rate (union bound). The
    filter side is (epochs x m/32) rows and broadcasts."""
    p = bloom_long(probes.select(col).dropDuplicates([col]), col, m, k) \
        .select(col,
                F.expr(f"pos div {BLOOM_W}").alias("word_idx"),
                F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                       f"CAST(pos % {BLOOM_W} AS INT))").alias("mask"))
    j = p.join(F.broadcast(eblooms), "word_idx")
    hit = (F.col("bits").bitwiseAND(F.col("mask")) != 0).cast("int")
    ehits = (j.withColumn("hit", hit)
             .groupBy(col, "epoch").agg(F.sum("hit").alias("nh")))
    per_item = (ehits.filter(F.col("nh") == k)
                .groupBy(col)
                .agg(F.count(F.lit(1)).alias("n_epochs_hit")))
    return (probes.select(col).dropDuplicates([col])
            .join(per_item, col, "left")
            .select(col,
                    F.coalesce("n_epochs_hit", F.lit(0)).cast("long")
                    .alias("n_epochs_hit"))
            .withColumn("might_contain", F.col("n_epochs_hit") > 0))


def bloom_epoch_hit_pairs_sized(probes: DataFrame, eblooms: DataFrame,
                                col: str = "item",
                                k: int = BLOOM_K) -> DataFrame:
    """(col, epoch) pairs where epoch's filter reads full-hit — against
    epoch filters whose m DIFFERS per epoch (the seen-ledger shape,
    plans/crawl.py::stage_epoch_seen): each crawl increment sizes its
    own epoch filter at its own new-digest count (bloom_m_for), so
    probe positions must be recomputed with each epoch's persisted m —
    probing epoch e with epoch f's m silently loses the
    zero-false-negative guarantee. ``eblooms`` carries (epoch,
    word_idx, bits, m); m participates as a per-row COLUMN in the
    position arithmetic (no collect), while k is structural (the
    number of affine hash rows) and is uniform across the ledger by
    contract (BLOOM_K constant columns). The pairs are what epoch-
    pruned exact verification wants: a candidate only needs checking
    against the digest shards of the epochs whose filter hit.

    Cost: probes x live-epochs staged rows (epochs are bounded by the
    retention policy, never by data volume) and a broadcast of
    sum_e m_e/32 filter rows."""
    meta = eblooms.select("epoch", "m").dropDuplicates(["epoch"])
    p = probes.select(col).dropDuplicates([col]) \
        .withColumn("h", token_hash(F.col(col)))
    staged = p.crossJoin(F.broadcast(meta))
    pos = staged.select(
        col, "epoch",
        F.explode(F.array(*[
            ((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(X.MINHASH_PRIME)
             % F.col("m"))
            for (a, b) in X.minhash_params(k)])).alias("pos"))
    pw = pos.select(
        col, "epoch",
        F.expr(f"pos div {BLOOM_W}").alias("word_idx"),
        F.expr(f"shiftleft(CAST(1 AS BIGINT), "
               f"CAST(pos % {BLOOM_W} AS INT))").alias("mask"))
    j = pw.join(F.broadcast(eblooms.select("epoch", "word_idx", "bits")),
                ["epoch", "word_idx"], "left")
    hit = (F.coalesce(F.col("bits"), F.lit(0))
           .bitwiseAND(F.col("mask")) != 0).cast("int")
    return (j.withColumn("hit", hit)
            .groupBy(col, "epoch").agg(F.sum("hit").alias("nh"))
            .filter(F.col("nh") == k)
            .select(col, "epoch"))


def bloom_epochs_might_contain_sized(probes: DataFrame,
                                     eblooms: DataFrame,
                                     col: str = "item",
                                     k: int = BLOOM_K) -> DataFrame:
    """Membership verdicts (col, n_epochs_hit, might_contain) ORed
    across epoch filters with PER-EPOCH m (see
    bloom_epoch_hit_pairs_sized). Zero false negatives holds per
    epoch with its own m, hence across the union; the fpr is the
    union bound over the per-epoch formula rates."""
    pairs = bloom_epoch_hit_pairs_sized(probes, eblooms, col, k)
    per_item = pairs.groupBy(col).agg(
        F.count(F.lit(1)).alias("n_epochs_hit"))
    return (probes.select(col).dropDuplicates([col])
            .join(per_item, col, "left")
            .select(col,
                    F.coalesce("n_epochs_hit", F.lit(0)).cast("long")
                    .alias("n_epochs_hit"))
            .withColumn("might_contain", F.col("n_epochs_hit") > 0))


def merge_bloom(parts: DataFrame) -> DataFrame:
    """Merge partial filters (any union of (word_idx, bits) frames):
    bitwise OR IS filter union, and it is idempotent — a partial
    applied twice changes nothing."""
    return parts.groupBy("word_idx").agg(F.bit_or("bits").alias("bits"))


def bloom_might_contain(probes: DataFrame, bloom: DataFrame,
                        col: str = "item", m: int = BLOOM_M,
                        k: int = BLOOM_K) -> DataFrame:
    """Membership verdicts for a set of distinct probes: (item,
    n_hits, might_contain). might_contain=false is DEFINITE absence
    (zero false negatives by construction); true is presence up to
    the filter's false-positive rate ~(1 - e^(-nk/m))^k. The filter
    side is <= m/32 rows and broadcasts; absent words coalesce to 0
    so probes hashing into never-touched words still get verdicts."""
    p = bloom_long(probes.select(col).dropDuplicates([col]), col, m, k) \
        .select(col, "j",
                F.expr(f"pos div {BLOOM_W}").alias("word_idx"),
                F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                       f"CAST(pos % {BLOOM_W} AS INT))").alias("mask"))
    joined = p.join(F.broadcast(bloom), "word_idx", "left")
    hit = (F.coalesce(F.col("bits"), F.lit(0))
           .bitwiseAND(F.col("mask")) != 0).cast("int")
    return (joined.withColumn("hit", hit)
            .groupBy(col)
            .agg(F.sum("hit").alias("n_hits"))
            .withColumn("might_contain", F.col("n_hits") == k))
