"""Similarity search over embedding columns (array<float>).

Top-k search is one pipeline, :func:`search`: prepare the query and
corpus sides, optionally route them to coarse partitions, score
candidate pairs from a vector code, optionally re-rank a shortlist
exactly, and rank per query (``_top_k``). Each stage is set by its
arguments:

=======  ===========================  =====================  ============
stage    argument                     effect                 score column
=======  ===========================  =====================  ============
route    (none)                       exhaustive cross join
route    ``cents``, ``nprobe``        IVF: the query's
                                      ``nprobe`` nearest
                                      cells
route    ``lsh=(n_planes, seed,       sign-LSH bucket
         dim)``
code     (none)                       raw vectors            cosine
code     ``sq8=(vmins, vmaxs)``       decoded 8-bit codes    cosine_sq8
code     ``books``                    PQ-ADC lookups         cosine_adc
re-rank  ``shortlist``                exact cosine of the    cosine
                                      top ``shortlist``
=======  ===========================  =====================  ============

``knn_matmul`` (the same exhaustive raw search on Arrow-batched BLAS)
and ``hard_negatives`` (label mismatch fused into the join condition)
are separate kernels.

Ranking is cosine descending, NULL (zero-norm pair) last, ties to the
lower neighbor id; a query never matches itself. LSH buckets come from
deterministic md5-derived hyperplanes (functions/vectors.py) and IVF
cells from deterministic centroids, so results are reproducible
run-to-run and engine-to-engine.

No MLlib: higher-order array functions keep everything inside
whole-stage codegen and avoid Vector serialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .._util import spread
from ..functions import vectors as V


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


_SIDES = {"q": ("query_id", "qv", "qn"), "c": ("neighbor_id", "cv", "cn")}


def _side(df: DataFrame, role: str, id_col: str, vec, *extra) -> DataFrame:
    """One side of a top-k join: (id, *extra, double vector, norm),
    named (query_id, qv, qn) for ``role="q"`` and (neighbor_id, cv, cn)
    for ``role="c"``. The norm is a second select over the aliased
    vector, so a decoded or cast vector is computed once per row
    (CollapseProject does not inline a non-cheap expression into a
    Project that references it twice)."""
    i, v, n = _SIDES[role]
    return (df.select(F.col(id_col).alias(i), *extra, vec.alias(v))
            .select("*", V.norm(F.col(v)).alias(n)))


def _route_nprobe(q: DataFrame, cents, nprobe: int) -> DataFrame:
    """Coarse IVF route of the query side: one row per (query, probed
    cell) for the ``nprobe`` nearest centroids. Sorting the (d2, cell)
    structs ascending breaks distance ties toward the lower cell id
    (struct field order), like the corpus side's staged argmin."""
    dists = []
    for i, cent in enumerate(cents):
        d = F.aggregate(F.zip_with(F.col("qv"), V.lit_double_array(cent),
                                   lambda x, y: (x - y) * (x - y)),
                        F.lit(0.0), lambda acc, v: acc + v)
        dists.append(F.struct(d.alias("d2"), F.lit(i).alias("cell")))
    near = F.explode(F.slice(F.array_sort(F.array(*dists)), 1, nprobe))
    return (q.select("*", near.alias("pc"))
            .select(*q.columns, F.col("pc.cell").alias("cell")))


def _cosine_pairs(pairs: DataFrame, *keep) -> DataFrame:
    """Raw-vector scorer: exact cosine of joined (qv, cv) pairs as
    ``cos_raw``, self-matches dropped."""
    return (pairs.filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id", *keep,
                    _paired_cosine().alias("cos_raw")))


def _adc_lut(q: DataFrame, books) -> DataFrame:
    """Per-query PQ-ADC lookup: dot(q_sub, centroid) and the centroid's
    squared norm for every (subspace, code). Each entry is ONE F.expr
    parse (same plan-construction rationale as _staged_argmin_multi),
    the same zip_with/aggregate fold as V.dot."""
    subdim = len(books[0][0][1])
    entries = []
    for s, book in enumerate(books):
        for code, cent in book:
            arr = ",".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in cent)
            cn2 = float(sum(x * x for x in cent))
            entries.append(F.expr(
                f"named_struct('subspace', {s}, 'code', {code}, "
                f"'qdot', aggregate(zip_with("
                f"slice(qv, {s * subdim + 1}, {subdim}), array({arr}), "
                "(x, y) -> x * y), CAST(0.0 AS DOUBLE), "
                "(acc, v) -> acc + v), "
                f"'cn2', CAST('{cn2!r}' AS DOUBLE))"))
    return q.select(
        "query_id", "qn", F.explode(F.array(*entries)).alias("e")
    ).select("query_id", "qn", "e.subspace", "e.code", "e.qdot", "e.cn2")


def _adc_cosine(codes: DataFrame, lut: DataFrame, keys) -> DataFrame:
    """PQ-ADC scorer: join the long-form corpus codes to the broadcast
    lookup on ``keys`` and assemble each pair's approximate cosine
    from its m lookup entries as ``cos_raw``."""
    d = F.col("qn") * F.sqrt("cn2_sum")
    return (
        codes.join(F.broadcast(lut), keys)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("qdot").alias("dot_adc"), F.sum("cn2").alias("cn2_sum"),
             F.min("qn").alias("qn"))
        .withColumn("cos_raw", F.when(d > 0, F.col("dot_adc") / d))
    )


#: Code levels of the 8-bit scalar quantizer (codes 0..255); the SQ8
#: oracles in queries/llmops.py read the same constant.
SQ8_LEVELS = 255


def _sq8_codec(vmins, vmaxs):
    """(encode, decode) Column builders of the 8-bit scalar quantizer.
    encode: per element ``round((x - vmin_d) * L / span_d)`` clamped
    to [0, L] with L = ``SQ8_LEVELS``, code 0 when the dimension is
    constant; decode: ``vmin_d + code_d * span_d / L``. Every step is a
    single IEEE op in a fixed order (subtract, multiply, divide, +0.5,
    floor), so the DuckDB oracle replays the exact codes."""
    mn = V.lit_double_array(vmins)
    span = V.lit_double_array([mx - mnv for mnv, mx in zip(vmins, vmaxs)])
    lv = F.lit(float(SQ8_LEVELS))

    def encode(dv):
        shifted = F.zip_with(dv, mn, lambda x, m: x - m)
        return F.zip_with(
            shifted, span,
            lambda y, s: F.when(
                s > 0,
                F.floor(F.greatest(F.lit(0.0), F.least(lv, y * lv / s))
                        + F.lit(0.5))
            ).otherwise(F.lit(0)).cast("int"))

    def decode(codes):
        return F.zip_with(F.zip_with(codes, span, lambda c, s: c * s / lv),
                          mn, lambda x, m: x + m)

    return encode, decode


def _rerank(cand: DataFrame, queries: DataFrame, corpus: DataFrame,
            id_col: str, vec_col: str) -> DataFrame:
    """Exact re-rank of a (query_id, neighbor_id) shortlist: only those
    pairs fetch their raw vectors."""
    q = _side(queries, "q", id_col, _as_double(vec_col))
    c = _side(corpus, "c", id_col, _as_double(vec_col))
    return _cosine_pairs(
        cand.join(F.broadcast(q), "query_id").join(c, "neighbor_id"))


_TOPK_COLS = ("query_id", "rank", "neighbor_id")


def _top_k(scored: DataFrame, k: int, out: str = "cosine",
           cols=_TOPK_COLS) -> DataFrame:
    """Per-query top-``k`` of ``cos_raw`` (descending, NULL last, ties
    to the lower neighbor id), emitted as ``cols`` plus the 6-dp score
    named ``out``."""
    w = W.partitionBy("query_id").orderBy(F.desc("cos_raw"),
                                          F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*cols, F.round("cos_raw", 6).alias(out))
    )


_INTEGRAL_TYPES = ("tinyint", "smallint", "int", "bigint")


def _id_is_integral(df: DataFrame, id_col: str) -> bool:
    """An integral id is its own chunk key in :func:`_chunk_split_oversized`
    (``pmod(vid, C)``); any other id type (string, decimal) is hashed
    to a long first."""
    return dict(df.dtypes).get(id_col) in _INTEGRAL_TYPES


def _pairs_schema(keyed: DataFrame, *fields: str) -> str:
    """``applyInPandas`` output schema of a pair kernel: ``id_a`` and
    ``id_b`` in the type of ``keyed``'s ``vid`` column, then ``fields``."""
    id_t = keyed.schema["vid"].dataType.simpleString()
    return ", ".join([f"id_a {id_t}", f"id_b {id_t}", *fields])


def _paired_cosine(qv="qv", cv="cv", qn="qn", cn="cn"):
    """cos from per-row precomputed norms: dot/(qn*cn). Identical IEEE
    ops in the same order as V.cosine (norm product, >0 guard, one
    divide), but the norms are computed once per ROW before the join
    instead of once per PAIR after it — 3x fewer array folds on the
    scored-pairs path, which dominates candidate scoring."""
    d = F.col(qn) * F.col(cn)
    return F.when(d > 0, V.dot(F.col(qv), F.col(cv)) / d)


def _chunk_split_oversized(keyed: DataFrame, group_cols, max_group: int,
                           row_bound: int | None = None):
    """Straggler split for the per-group pair-scoring kernels.

    ``applyInPandas`` runs ONE task per group, and a power-law corpus
    puts its boilerplate cluster into one LSH bucket / k-means cell
    regardless of parameter choice — that task then does |group|²/2 of
    the total work while every other core idles (the uniform growth
    corpora in docs/SCALING.md can never produce this shape; the skew
    measurement is addendum 4). Groups larger than ``max_group`` rows
    split into C = ceil(|group|/max_group) deterministic id-chunks
    (``pmod(vid, C)``, or ``pmod(xxhash64(vid), C)`` for a non-integral
    id); each unordered chunk pair (lo <= hi) becomes an
    independent subtask scoring only its wedge — lo == hi the
    within-chunk upper triangle, lo < hi the cross rectangle — so every
    candidate pair is scored exactly once and the giant group
    parallelizes into C(C+1)/2 bounded tasks. Rows replicate C ways
    (Arrow volume × C for the oversized groups ONLY); pair arithmetic
    is unchanged.

    The size pass is a map-side-combined count of (group, n) pairs
    with only OVERSIZED groups collected to the driver at plan-build
    time — by the skew premise these are few (a boilerplate cluster,
    not the bulk; with the n_planes/k sizing rules a uniform corpus
    has none), so the collect is bounded like the Lloyd centroid
    literals. Uniform corpora (empty list) keep the pinned
    one-task-per-group plan with ZERO per-row overhead — no join, no
    Generate node in the hot path (the always-split layout measured
    +1.0s on the sf0.1 bench for nothing). When oversized groups
    exist, C arrives per-row via a literal when-chain (few groups) or
    a broadcast-joined lookup (many), and the explode adds one
    Generate over rows that is the price of de-quadraticing the
    straggler.

    Returns ``(keyed, group_cols)`` — extended with ["_lo", "_hi"]
    only when a split engaged; the kernel reads each row's chunk id
    from ``_ci``. Callers that know an upper bound on any group's size
    (for these kernels: n input rows — a bucket/cell never holds more
    than one row per input vector) pass it as ``row_bound`` so small
    corpora skip the size pass entirely (one cheap input count beats
    re-keying + aggregating the exploded frame; worth ~0.3-0.5 s per
    sf0.1 bench entry).
    """
    group_cols = list(group_cols)
    if row_bound is not None and row_bound <= max_group:
        return keyed, group_cols
    sizes = (keyed.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("_n"))
             .filter(F.col("_n") > max_group))
    # bounded collect: the skew premise is that oversized groups are
    # FEW; if a mis-sized max_group makes them legion (e.g. max_group
    # far below the uniform load), stop materializing at the cap and
    # fall back to the distributed broadcast-join lookup — the split
    # stays correct, only the uniform-case zero-overhead shortcut and
    # the when-chain literal path are skipped
    _CAP = 100_000
    big = sizes.limit(_CAP + 1).collect()
    import functools
    import math
    import operator

    if not big:
        return keyed, group_cols
    if len(big) <= 64:
        c = F.lit(1)
        for row in big:
            cond = functools.reduce(operator.and_, [
                F.col(k).eqNullSafe(F.lit(row[k])) for k in group_cols])
            c = F.when(cond,
                       F.lit(math.ceil(row["_n"] / max_group))).otherwise(c)
    else:
        if len(big) > _CAP:
            # too many to ship as driver rows: join the sizes frame
            # itself (still only oversized groups wide) — as a PLAIN
            # shuffle join: broadcasting it would materialize the
            # unbounded oversized-groups frame on the driver, exactly
            # the blowup this cap branch exists to avoid
            lut = sizes.withColumn(
                "_c0", F.ceil(F.col("_n") / F.lit(max_group)).cast("int")
            ).drop("_n")
            broadcast_lut = False
        else:
            rows = [tuple(row[k] for k in group_cols)
                    + (math.ceil(row["_n"] / max_group),) for row in big]
            lut = keyed.sparkSession.createDataFrame(
                rows,
                schema=keyed.select(*group_cols).schema.add("_c0", "integer"))
            broadcast_lut = True
        # null-safe join so a NULL-keyed oversized group (null bucket/
        # cell key) splits like any other — the <=64-group when-chain
        # above uses eqNullSafe, and a plain key join here would leave
        # such a group _c0=NULL -> c=1, a silently unsplit straggler
        lut = lut.select(
            *[F.col(k).alias(f"_k_{k}") for k in group_cols], "_c0")
        if broadcast_lut:
            lut = F.broadcast(lut)
        cond = functools.reduce(operator.and_, [
            keyed[k].eqNullSafe(lut[f"_k_{k}"]) for k in group_cols])
        keyed = keyed.join(lut, cond, "left") \
            .drop(*[f"_k_{k}" for k in group_cols])
        c = F.coalesce(F.col("_c0"), F.lit(1))
    chunk_key = (F.col("vid") if _id_is_integral(keyed, "vid")
                 else F.xxhash64("vid"))
    keyed = (
        keyed.withColumn("_ci", F.pmod(chunk_key, c).cast("int"))
        .withColumn("_cj", F.explode(F.sequence(F.lit(0), c - F.lit(1))))
        .withColumn("_lo", F.least("_ci", "_cj"))
        .withColumn("_hi", F.greatest("_ci", "_cj"))
        .drop("_cj", "_c0")
    )
    return keyed, group_cols + ["_lo", "_hi"]


def _score_group_pairs(pdf, vec_field: str, thr: float, chunk: int = 1024):
    """Shared numpy kernel for one pair-scoring (sub)group: returns
    (id_a, id_b, cos) arrays with id_a < id_b, cos >= thr. Ids keep
    the type they arrive in (int64, or objects for string and decimal
    ids), so the pair order is the id column's own order.

    The hot loop is MEMORY-BANDWIDTH-bound at 32-way task concurrency
    (measured: the same loop runs 5x slower in 32 concurrent workers
    than alone), so it touches each candidate-slot matrix as few times
    as possible: pre-normalize rows ONCE (no denom rectangle, no divide
    pass; zero-norm rows become zero vectors and die at the threshold),
    GEMM only the surviving wedge, one threshold compare, and the
    id/self filter runs on the EXTRACTED 1-D candidates, not the 2-D
    grid. Output is assembled once per group, not once per chunk.
    Pre-normalized cosines differ from dot/(na*nb) in the last ulps —
    covered by the same empirical 6-dp parity contract as
    all_pairs_cosine_matmul, pinned by the exact-cosine tests and the
    oracle gates.

    Two shapes, selected by the :func:`_chunk_split_oversized` columns:

    - within-chunk group (no split columns, or ``_lo == _hi``): sort by
      id, upper-wedge GEMM — ids sorted means only columns j > i can
      survive the id-order filter, so each chunk row-block multiplies
      against the tail only.
    - cross-chunk group (``_lo < _hi``): the group holds chunk-_lo rows
      and chunk-_hi rows; GEMM the full A×B rectangle (every cross pair
      is a candidate exactly once — chunks are disjoint id classes, so
      no self pairs and no double counting) and order ids per pair.
    """
    import numpy as np

    ids = pdf["vid"].to_numpy()
    empty = (ids[:0], ids[:0], np.empty(0, dtype="float64"))
    if not len(ids):
        return empty
    m = np.stack(pdf[vec_field].to_numpy())
    norms = np.linalg.norm(m, axis=1)
    nz = norms > 0
    mn = m / np.where(nz, norms, 1.0)[:, None]
    mn[~nz] = 0.0
    out_a, out_b, out_c = [], [], []
    if "_lo" in pdf.columns and int(pdf["_lo"].iloc[0]) != int(pdf["_hi"].iloc[0]):
        side_a = pdf["_ci"].to_numpy() == int(pdf["_lo"].iloc[0])
        ia = np.nonzero(side_a)[0]
        ib = np.nonzero(~side_a)[0]
        if not len(ia) or not len(ib):
            return empty
        for lo in range(0, len(ia), chunk):
            sel = ia[lo:lo + chunk]
            sims = mn[sel] @ mn[ib].T
            xi, yi = np.nonzero(sims >= thr)
            sv = sims[xi, yi]
            gi, gj = sel[xi], ib[yi]
            keep = nz[gi] & nz[gj]
            gi, gj, sv = gi[keep], gj[keep], sv[keep]
            out_a.append(np.minimum(ids[gi], ids[gj]))
            out_b.append(np.maximum(ids[gi], ids[gj]))
            out_c.append(sv)
    else:
        order = np.argsort(ids)
        ids = ids[order]
        mn = mn[order]
        nz = nz[order]
        for lo in range(0, len(ids), chunk):
            hi = min(lo + chunk, len(ids))
            sims = mn[lo:hi] @ mn[lo:].T
            ai, bi = np.nonzero(sims >= thr)
            # id order + the old denom>0 guard (exact at thr<=0 too),
            # applied to the extracted 1-D candidates
            keep = (ids[lo:][bi] > ids[lo + ai]) \
                & nz[lo + ai] & nz[lo:][bi]
            ai, bi = ai[keep], bi[keep]
            out_a.append(ids[lo + ai])
            out_b.append(ids[lo:][bi])
            out_c.append(sims[ai, bi])
    if not out_a:
        return empty
    return (np.concatenate(out_a), np.concatenate(out_b),
            np.concatenate(out_c))


def search(corpus: DataFrame, queries: DataFrame, k: int = 5, *,
           cents: list | None = None, nprobe: int = 1,
           lsh: tuple[int, int, int] | None = None,
           sq8: tuple[list[float], list[float]] | None = None,
           books: list | None = None, shortlist: int | None = None,
           id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Top-``k`` cosine neighbors of each query vector (excluding
    itself), one stage per argument (module table): ``cents`` /
    ``lsh`` route, ``sq8`` / ``books`` pick the corpus code,
    ``shortlist`` re-ranks exactly (``sq8`` and ``books`` are
    alternative codes). Recall knobs: ``nprobe`` (equal to the cell
    count it is exact), fewer LSH planes (bigger buckets), the
    shortlist width and the codebook resolution; with ``shortlist``
    the reported cosines are exact. Trained artifacts are inputs —
    :func:`deterministic_centroids`, :func:`sq_train` and
    :func:`pq_train` build them once, and a caller that searches the
    same corpus repeatedly keeps them (train once, serve many).

    Embeddings are cast float->double BEFORE the products so the
    arithmetic is engine-portable (float*float truncates). The corpus
    is scanned once: the IVF cell argmin and every PQ subspace argmin
    are independent argmins over the same row, so they run in ONE
    :func:`_staged_argmin_multi` pass. Only the query side fans out
    over its ``nprobe`` cells, so the join cost scales with queries ×
    nprobe, not corpus size. Deterministic end to end (seeded
    centroids, decimal-exact Lloyd, strict argmins, fixed-order
    quantize ops, tie-broken ranks), so the DuckDB oracle replays
    routing, training, codes, scoring and the re-rank."""
    c = spread(corpus).select(F.col(id_col),
                              _as_double(F.col(vec_col)).alias("dv"))
    q = _side(queries, "q", id_col, _as_double(vec_col))
    routed, keys, argmins = q, [], []
    if cents is not None:
        routed = _route_nprobe(routed, cents, nprobe)
        argmins.append(("dv", list(enumerate(cents)), "cell", "_d2c"))
        keys.append("cell")
    if lsh is not None:
        c = c.withColumn("bucket", V.sign_lsh_key(F.col("dv"), *lsh))
        routed = routed.withColumn("bucket", V.sign_lsh_key(F.col("qv"), *lsh))
        keys.append("bucket")
    if books is not None:
        subdim = len(books[0][0][1])
        c = c.select("*", *[
            F.slice("dv", s * subdim + 1, subdim).alias(f"_sub{s}")
            for s in range(len(books))])
        argmins += [(f"_sub{s}", book, f"_cell{s}", f"_d2_{s}")
                    for s, book in enumerate(books)]
    if argmins:
        c = _staged_argmin_multi(c, argmins)

    if books is not None:
        # one row per (vector, subspace): the 8-byte-per-subspace index
        codes = F.explode(F.array(*[
            F.struct(F.lit(s).alias("subspace"),
                     F.col(f"_cell{s}").alias("code"))
            for s in range(len(books))]))
        c = (c.select(F.col(id_col).alias("neighbor_id"), *keys,
                      codes.alias("e"))
             .select("neighbor_id", *keys, "e.subspace", "e.code"))
    elif sq8 is not None:
        # decode-at-scan: the candidate vector derives from the 1-byte
        # codes, never from the raw vector
        encode, decode = _sq8_codec(*sq8)
        c = _side(c, "c", id_col, decode(encode(F.col("dv"))), *keys)
    else:
        c = _side(c, "c", id_col, F.col("dv"), *keys)
    if cents is not None:
        # lineage barrier: CollapseProject otherwise merges the staged
        # argmin back together when the join consumes it, re-substituting
        # every per-centroid distance fold into the least()/when-chain
        # references (a 276 KB plan; 7.9 s -> 1.9 s at sf0.1 with it)
        c = c.localCheckpoint(eager=False)

    # No post-score dedup is needed: every corpus vector routes to
    # exactly ONE cell and bucket (strict-< argmin) and a query's probed
    # cells are distinct, so each (query, neighbor) pair is scored at
    # most once. If corpus routing ever becomes multi-cell, dedupe with
    # groupBy(query_id, neighbor_id).agg(F.max("cos_raw")) — map-side
    # combine — never `.distinct()` on the near-unique scored triple.
    if books is not None:
        # the lookup is built from the UNROUTED queries and then joined
        # to their probed keys; built from the routed side it would be
        # duplicated once per probed cell
        lut = _adc_lut(q, books)
        if keys:
            lut = routed.select("query_id", *keys).join(lut, "query_id")
        scored = _adc_cosine(c, lut, keys + ["subspace", "code"])
        out = "cosine_adc"
    else:
        scored = _cosine_pairs(c.join(F.broadcast(routed), keys or None))
        out = "cosine" if sq8 is None else "cosine_sq8"
    if shortlist is None:
        return _top_k(scored, k, out)
    cand = _top_k(scored, shortlist).select("query_id", "neighbor_id")
    return _top_k(_rerank(cand, queries, corpus, id_col, vec_col), k)


def knn_matmul(corpus: DataFrame, queries: DataFrame, k: int = 5,
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors via Arrow-batched BLAS — the
    vectorized-Pandas-UDF dual of exhaustive :func:`search` (same result).

    The (small-by-contract) query set is collected once into a numpy
    matrix (with its row norms) and broadcast; each corpus Arrow batch
    then costs ONE `Q @ C_batch.T` matmul, and only |Q| x k candidate
    rows per batch ever leave the executor (local top-k inside the UDF,
    global top-k after). This is the shape that wins as dim or |Q|
    grows: the crossJoin plan evaluates |Q| x |C| expression trees,
    the matmul path hands the same arithmetic to BLAS. At 100 TB the
    corpus side stays fully distributed; if |Q| outgrows a broadcast,
    shard the query matrix and union the shards.
    """
    import numpy as np
    import pandas as pd

    qrows = queries.select(id_col, vec_col).collect()
    qids = np.array([r[0] for r in qrows], dtype="int64")
    qm = np.asarray([list(r[1]) for r in qrows], dtype="float64")
    qnorm = np.linalg.norm(qm, axis=1)
    bq = corpus.sparkSession.sparkContext.broadcast((qids, qm, qnorm))

    def run(batches):
        b_qids, b_qm, b_qnorm = bq.value
        for pdf in batches:
            if not len(pdf):
                continue
            nids = pdf[id_col].to_numpy(dtype="int64")
            cm = np.asarray([list(v) for v in pdf[vec_col]], dtype="float64")
            cnorm = np.linalg.norm(cm, axis=1)
            # dot / (|q| * |c|) — the same final-division order as
            # V.cosine, so ties rank identically across the two paths
            # (normalize-then-matmul rounds differently in the low bits)
            denom = b_qnorm[:, None] * cnorm[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = (b_qm @ cm.T) / denom
            # sort key: NULL cosines (zero norm product) after every
            # real one, the self-match (NaN) after everything
            key = np.where(denom > 0, -sims, np.inf)
            key[b_qids[:, None] == nids[None, :]] = np.nan
            take = min(k, key.shape[1])
            head = np.partition(key, take - 1, axis=1)[:, :take]
            kth = np.max(np.where(np.isnan(head), -np.inf, head), axis=1)
            out_q, out_n, out_c = [], [], []
            for qi in range(key.shape[0]):
                cols = np.nonzero(key[qi] <= kth[qi])[0]
                # ties at the cut keep the lower neighbor ids, as the
                # final window does
                cols = cols[np.lexsort((nids[cols], key[qi, cols]))[:take]]
                out_q.extend([b_qids[qi]] * len(cols))
                out_n.extend(nids[cols])
                out_c.extend(np.where(np.isinf(key[qi, cols]), np.nan,
                                      sims[qi, cols]))
            # NaN crosses Arrow as NULL, which the window ranks last
            yield pd.DataFrame({
                "query_id": np.array(out_q, dtype="int64"),
                "neighbor_id": np.array(out_n, dtype="int64"),
                "cos_raw": np.array(out_c, dtype="float64"),
            })

    candidates = spread(corpus).select(id_col, vec_col).mapInPandas(
        run, schema="query_id long, neighbor_id long, cos_raw double")
    return _top_k(candidates, k)


def all_pairs_cosine_matmul(emb: DataFrame, threshold: float = 0.42,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """Exact all-pairs cosine >= ``threshold`` via Arrow-batched BLAS —
    the vectorized dual of the expression-tree all-pairs join. The
    division order (dot/(na*nb)) matches V.cosine, but BLAS may
    reassociate the dot-product summation vs a sequential fold, so
    6-dp/threshold agreement with the expression path is *verified
    empirically on the gated corpora* (property-pinned against numpy
    brute force in tests), not bit-guaranteed by construction — a
    cosine landing exactly on a rounding/threshold boundary could in
    principle flip on other data.

    This op is the small-SF recall BASELINE for the banded-LSH scale
    path, so the O(n²) arithmetic is by design — the matmul kernel
    just stops paying it as n² interpreted expression folds. The full
    (id, vector, norm) matrix is collected and broadcast (bounded by
    the baseline contract: sf0.1 is 6000 x 64 doubles ≈ 3 MB; at real
    scale use embedding_lsh_pairs, which is the gated path). Each
    corpus Arrow batch costs one ``M @ B.T``; only pairs at or above
    the threshold leave the executor.
    """
    import numpy as np
    import pandas as pd

    rows = emb.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows], dtype="int64")
    m = np.asarray([list(r[1]) for r in rows], dtype="float64")
    norms = np.linalg.norm(m, axis=1)
    bc = emb.sparkSession.sparkContext.broadcast((ids, m, norms))
    thr = threshold

    def run(batches):
        a_ids, am, an = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            b_ids = pdf[id_col].to_numpy(dtype="int64")
            bm = np.asarray([list(v) for v in pdf[vec_col]], dtype="float64")
            bn = np.linalg.norm(bm, axis=1)
            denom = an[:, None] * bn[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = (am @ bm.T) / denom
            mask = (a_ids[:, None] < b_ids[None, :]) & (denom > 0) \
                & (sims >= thr)
            ai, bi = np.nonzero(mask)
            yield pd.DataFrame({
                "id_a": a_ids[ai], "id_b": b_ids[bi],
                "cos_raw": sims[ai, bi],
            })

    out = spread(emb).select(id_col, vec_col).mapInPandas(
        run, schema="id_a long, id_b long, cos_raw double")
    return out.select("id_a", "id_b", F.round("cos_raw", 6).alias("cosine"))


def deterministic_centroids(corpus: DataFrame, n_cells: int = 8,
                            id_col: str = "vec_id", vec_col: str = "embedding") -> list[list[float]]:
    """Pick n_cells seed vectors deterministically (lowest ids) — the
    reproducible stand-in for a k-means fit; adequate for cell routing."""
    rows = (
        corpus.orderBy(id_col).limit(n_cells)
        .select(_as_double(F.col(vec_col)).alias("v")).collect()
    )
    return [list(r.v) for r in rows]


def embedding_lsh_pairs(emb: DataFrame, threshold: float = 0.42,
                        n_planes: int = 4, n_tables: int = 8, seed: int = 101,
                        dim: int = 64, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        max_group: int | None = 8192,
                        n_rows: int | None = None) -> DataFrame:
    """Embedding-cosine near-dup pairs via banded sign-LSH — the scale
    path that replaces the all-pairs self-join.

    ``n_tables`` independent hash tables, each keyed by an
    ``n_planes``-bit sign-LSH bucket (deterministic md5-derived
    hyperplanes, seeds ``seed..seed+n_tables-1``). Candidates are pairs
    colliding in ANY table, scored exactly, filtered at ``threshold``,
    then deduped across tables with groupBy+max (map-side combine —
    never `.distinct()` on the scored triple). The plan contains no
    all-pairs join: work is proportional to colliding pairs.

    Recall for a pair at cosine c is 1-(1-p^n_planes)^n_tables with
    p = 1 - arccos(c)/pi (~0.80 theoretical at c=0.42 for the 4x8
    default; 71-76% measured against the exact all-pairs oracle on the
    synthetic corpus, whose 0.42-0.51 cosine band is hyperplane LSH's
    weakest regime — production near-dup thresholds ~0.9 bucket far
    more sharply). At 100 TB, grow n_planes with log2(n) to keep buckets
    bounded, and raise n_tables to buy recall back.

    Scoring never self-joins the buckets: explode (vid, vector) by
    (table, bucket) once, group by the bucket key, and score every
    within-bucket pair with a chunked BLAS ``M_chunk @ M.T`` inside
    ``applyInPandas`` (:func:`_score_group_pairs`). Vectors cross the
    Arrow boundary once per EXPLODED ROW (n x n_tables), never once
    per candidate pair — decisive on collision-heavy corpora: at 10x
    sf0.1 the uniform test embeddings produce 104.6M table-collisions
    (82.1M distinct candidate pairs) under the 4x8 default, where a
    bucket self-join paid 30.4s of per-pair expression folds
    (docs/SCALING.md). Same empirical 6-dp BLAS parity contract as
    all_pairs_cosine_matmul, pinned by the exact-cosine tests and the
    oracle gates. Ids of any orderable type (integral, string,
    decimal) pass through the kernel in their own type, and the output
    id columns keep it.

    Per-bucket memory is chunk x |bucket| doubles; n_planes ~ log2(n)
    keeps |bucket| bounded at scale — for UNIFORM data. A power-law
    corpus (real crawls: one boilerplate cluster holding 5-10% of all
    docs) lands its whole cluster in ONE bucket in every table
    regardless of plane count, so ``max_group`` (default 8192)
    chunk-splits any bucket larger than that into C(C+1)/2 independent
    wedge/rectangle subtasks via :func:`_chunk_split_oversized` —
    identical pair set, bounded task size (straggler measurement:
    docs/SCALING.md addendum 4). Pass ``max_group=None`` to pin the
    one-task-per-bucket layout, and ``n_rows`` (a caller-known
    row-count bound: catalog stats / parquet footer metadata) to make
    the no-split decision job-free — a bucket never holds more than
    one row per input vector, so ``n_rows <= max_group`` proves no
    split is needed without running any Spark job at plan-build time.
    """
    import pandas as pd

    dv = _as_double(F.col(vec_col))
    keys = F.array(*[
        V.sign_lsh_key(dv, n_planes, seed + t, dim) for t in range(n_tables)
    ])
    thr = threshold
    keyed = spread(emb).select(
        F.col(id_col).alias("vid"), dv.alias("v"),
        F.posexplode(keys).alias("tbl", "bucket"),
    )
    schema = _pairs_schema(keyed, "cos_raw double")
    group_cols = ["tbl", "bucket"]
    if max_group:
        # |bucket| <= n (one exploded row per vector per table), so
        # a corpus at or under max_group provably needs no split —
        # a caller-supplied ``n_rows`` (catalog stats / parquet
        # footer metadata) makes that decision JOB-FREE; without
        # the hint, one cheap count of the un-spread input (spread's
        # round-robin repartition would turn it into a shuffle) skips
        # the exploded-frame size pass
        keyed, group_cols = _chunk_split_oversized(
            keyed, group_cols, max_group,
            row_bound=n_rows if n_rows is not None else emb.count())

    def score_bucket(pdf: "pd.DataFrame") -> "pd.DataFrame":
        # wedge GEMM for within-chunk groups, cross rectangle for
        # chunk-pair subtasks of a split oversized bucket
        id_a, id_b, cos = _score_group_pairs(pdf, "v", thr)
        return pd.DataFrame({"id_a": id_a, "id_b": id_b, "cos_raw": cos})

    scored = keyed.groupBy(*group_cols).applyInPandas(score_bucket, schema)
    return (
        scored.groupBy("id_a", "id_b")
        .agg(F.round(F.max("cos_raw"), 6).alias("cosine"))
    )


def lloyd_centroids(emb: DataFrame, k: int = 4, iters: int = 2,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> list:
    """Train the deterministic Lloyd centroids and return them as
    labeled (cell, centroid) pairs — the OFFLINE half of the k-means
    family, split out so callers that cluster the same corpus
    repeatedly (a codebook/centroid registry; production systems
    train an index once and serve many) can skip the per-call
    training jobs. Seeds = the k lowest-id vectors; per iteration one
    argmin scan + one (cell, pos) decimal-mean aggregation collected
    to the driver (k*dim doubles). Deterministic, so a cached result
    is byte-identical to retraining on unchanged input."""
    v = spread(emb).select(F.col(id_col), _as_double(F.col(vec_col)).alias("dv"))
    cents = [(i, c) for i, c in
             enumerate(deterministic_centroids(emb, k, id_col, vec_col))]
    for _ in range(iters):
        a = _staged_argmin(v, "dv", cents)
        m = (
            a.select("cell", F.posexplode("dv").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.round(
                F.sum(F.col("x").cast("decimal(18,12)")).cast("double")
                / F.count(F.lit(1)), 6).alias("cx"))
            .collect()
        )
        new = {}
        for r in m:
            new.setdefault(r.cell, {})[r.pos] = r.cx
        cents = [(cell, [d[p] for p in sorted(d)])
                 for cell, d in sorted(new.items())]
    return cents


def lloyd_assignments(emb: DataFrame, k: int = 4, iters: int = 2,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      centroids: list | None = None) -> DataFrame:
    """Final per-vector cell assignments from a deterministic Lloyd
    run: seeds = the k lowest-id vectors, a fixed number of iterations,
    argmin ties broken toward the lower cell index, and element-wise
    centroid means computed as exact DECIMAL sums rounded to 6 dp
    (order-independent across partitions — a plain double AVG would
    hash-diverge between engines).

    Per iteration: one scan with a codegen'd argmin over k broadcast
    centroid literals (no shuffle), then a (cell, pos) aggregation —
    k*dim groups — to rebuild centroids on the driver. The iterative
    loop moves k*dim doubles per round; the data never re-shuffles, so
    the pattern holds at 100 TB (each pass is a map + tiny agg).

    ``centroids``: pre-trained labeled pairs (:func:`lloyd_centroids`
    return shape) — skips the training jobs entirely; the assignment
    is then ONE argmin scan. Training is deterministic, so passing a
    registry's centroids for unchanged input is result-identical.

    Returns (id, dv, cell, d2) — d2 is the squared distance to the
    final centroid. Shared by :func:`lloyd_kmeans_stats` (per-cell
    stats) and :func:`semantic_dedup_cells` (SemDeDup bucketing).
    """
    if centroids is None:
        centroids = lloyd_centroids(emb, k, iters, id_col, vec_col)
    v = spread(emb).select(F.col(id_col), _as_double(F.col(vec_col)).alias("dv"))
    return _staged_argmin(v, "dv", centroids)


def lloyd_kmeans_stats(emb: DataFrame, k: int = 4, iters: int = 2,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       centroids: list | None = None) -> DataFrame:
    """Per-cell stats over :func:`lloyd_assignments`: size,
    decimal-exact inertia, and an md5 digest of the ordered member ids
    certifying the exact clustering."""
    final = lloyd_assignments(emb, k, iters, id_col, vec_col, centroids)
    final = final.withColumn(
        "d2_6", F.round("d2", 6).cast("decimal(18,6)"))
    return final.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("d2_6").cast("double").alias("inertia"),
        F.md5(F.concat_ws(",", F.transform(
            F.sort_array(F.collect_list(F.col(id_col))),
            lambda x: x.cast("string")))).alias("member_digest"),
    )


def semantic_dedup_cells(emb: DataFrame, k: int = 4, iters: int = 2,
                         threshold: float = 0.42,
                         id_col: str = "vec_id", vec_col: str = "embedding",
                         max_group: int | None = 8192,
                         n_rows: int | None = None,
                         centroids: list | None = None) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, public paper):
    k-means cells bound the candidate space, exact cosine runs only
    WITHIN a cell. The standard embedding-dedup shape for web-scale
    corpora — clustering cost is linear (see lloyd_assignments), and
    in-cell pair scoring is sum over cells of |cell|², kept small by
    growing k with n (the paper uses k ~ sqrt(n)).

    Like IVF search, pairs that straddle a cell boundary are missed by
    construction — the recall knob is k (smaller k = bigger cells =
    higher recall, more in-cell work); the banded sign-LSH dedup
    (embedding_lsh_pairs) is the multi-table alternative when recall
    must be tunable without re-clustering.

    Deterministic end-to-end (lowest-id seeds, decimal-exact centroid
    means, tie-broken argmin), so an SQL oracle can replay the exact
    cell assignment AND the in-cell pair set.

    In-cell scoring is one ``applyInPandas`` per cell, chunked
    ``M_chunk @ M.T`` (:func:`_score_group_pairs`) so peak memory is
    chunk*|cell| doubles regardless of cell size. An expression-fold
    self-join costs ~10 us per candidate pair (measured: 2*10^8 HOF
    cosine folds = ~30 s of a 32 s sf1 wall); the BLAS kernel pays the
    same n²/k arithmetic at vectorized speed. Same
    empirical-not-bit-guaranteed 6-dp parity caveat as
    :func:`all_pairs_cosine_matmul` (BLAS may reassociate the dot sum),
    pinned by the exact-cosine tests and the oracle gates. Ids of any
    orderable type pass through in their own type, as in
    embedding_lsh_pairs. Parallelism is k tasks (one per cell) — with
    the paper's k ~ sqrt(n) that is also the scale-out knob, and cells
    arrive via one shuffle of (id, vector), never a broadcast. On a
    power-law corpus the dominant cluster is one CELL whatever k is,
    so ``max_group`` (default 8192) chunk-splits oversized cells into
    independent wedge/rectangle subtasks exactly like
    embedding_lsh_pairs (:func:`_chunk_split_oversized`; identical pair
    set, docs/SCALING.md addendum 4); ``None`` pins the
    one-task-per-cell layout, and ``n_rows`` (caller-known row bound)
    makes the no-split decision job-free exactly as in
    embedding_lsh_pairs.

    Assignments are locally checkpointed first so the Lloyd argmin
    chain (a k*dim-literal expression tree) is computed once and the
    scoring stage carries a truncated lineage, not extra copies of
    the staged-argmin plan.
    """
    import numpy as np
    import pandas as pd

    a = lloyd_assignments(emb, k, iters, id_col, vec_col, centroids).select(
        F.col(id_col).alias("vid"), "dv", "cell",
    ).localCheckpoint(eager=False)

    thr = threshold
    schema = _pairs_schema(a, "cell int", "cos_raw double")
    group_cols = ["cell"]
    if max_group:
        # |cell| <= n; a caller-supplied ``n_rows`` keeps plan
        # construction job-free (the lazy checkpoint then
        # materializes at the scoring action); without the hint,
        # counting `a` also materializes the checkpoint the size
        # pass would have materialized anyway
        a, group_cols = _chunk_split_oversized(
            a, group_cols, max_group,
            row_bound=n_rows if n_rows is not None else a.count())

    def score_cell(pdf: "pd.DataFrame") -> "pd.DataFrame":
        # wedge GEMM within a (chunk of a) cell, cross rectangle for
        # the chunk-pair subtasks of a split oversized cell
        cell = int(pdf["cell"].iloc[0])
        id_a, id_b, cos = _score_group_pairs(pdf, "dv", thr)
        return pd.DataFrame({
            "id_a": id_a,
            "id_b": id_b,
            "cell": np.full(len(id_a), cell, dtype="int32"),
            "cos_raw": cos})

    pairs = a.groupBy(*group_cols).applyInPandas(score_cell, schema)
    return pairs.select("id_a", "id_b", "cell",
                        F.round("cos_raw", 6).alias("cosine"))


def _staged_argmin(df: DataFrame, dv_name: str, cent_pairs,
                   cell_name: str = "cell", d2_name: str = "d2") -> DataFrame:
    """Argmin over centroid literals with per-centroid distances staged
    as NAMED COLUMNS. The fold-the-when-chain alternative nests each
    distance subtree inside every later comparison — the expression
    tree (and analysis + codegen time) grows superlinearly in k; staged
    columns are computed once each (see the dedup.py PERF note on
    multi-referenced aliases). Ties break toward the lower cell index
    (first equality wins), matching the SQL oracle's ORDER BY d2, cell.

    Plan-construction cost note: the k distance folds are built as ONE
    F.expr parse each and appended in ONE select (not k sequential
    withColumns — every withColumn re-analyzes the whole growing plan
    on the JVM, which made a 4x8 PQ argmin cost ~1.4 s of driver time
    before any job ran). The staged-columns EXECUTION shape is
    unchanged: withColumn and select("*", ...) produce the same
    Project, only the number of analysis passes differs.
    """
    return _staged_argmin_multi(df, [(dv_name, cent_pairs, cell_name,
                                      d2_name)])


def _staged_argmin_multi(df: DataFrame, specs) -> DataFrame:
    """N independent staged argmins appended in ONE three-select pass
    (all distance folds, then all mins, then all when-chains) — the
    m-subspace PQ assignment is one call instead of m, so the driver
    pays 3 analysis passes instead of 3m on a plan that grows with
    every subspace. ``specs``: (dv_name, cent_pairs, cell_name,
    d2_name) tuples; temp distance columns are namespaced by d2_name
    (unique per spec by construction at every call site)."""
    dcols, per_spec = [], []
    for dv_name, cent_pairs, cell_name, d2_name in specs:
        names = []
        for label, c in cent_pairs:
            arr = ",".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in c)
            dist = F.expr(
                f"aggregate(zip_with(`{dv_name}`, array({arr}), "
                "(x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE), "
                "(acc, d) -> acc + d)")
            names.append((label, f"_d{d2_name}_{label}"))
            dcols.append(dist.alias(names[-1][1]))
        per_spec.append((names, cell_name, d2_name))
    df = df.select("*", *dcols)
    df = df.select("*", *[
        F.least(*[F.col(n) for _, n in names]).alias(d2_name)
        for names, _, d2_name in per_spec])
    cells = []
    for names, cell_name, d2_name in per_spec:
        cell = None
        for label, n in names:
            cond = F.col(n) == F.col(d2_name)
            cell = (F.when(cond, F.lit(label)) if cell is None
                    else cell.when(cond, F.lit(label)))
        cells.append(cell.alias(cell_name))
    return df.select("*", *cells).drop(
        *[n for names, _, _ in per_spec for _, n in names])


def pq_train(emb: DataFrame, m: int = 2, k: int = 4, iters: int = 1,
             id_col: str = "vec_id", vec_col: str = "embedding",
             dim: int = 64) -> list[list[tuple[int, list[float]]]]:
    """Product-quantization codebooks: the vector is split into ``m``
    contiguous subspaces and each gets an independent deterministic
    Lloyd codebook (lowest-id seeds, ``iters`` iterations,
    decimal-exact means rounded to 6 dp — the same oracle-replayable
    recipe as lloyd_assignments). Returns m codebooks of LABELED
    (cell_id, centroid) pairs — labels are preserved through Lloyd
    updates (not re-enumerated) so that if a cell ever empties, code
    ids stay aligned with the SQL oracle's label-preserving
    mean-update CTE, exactly as lloyd_assignments does.

    Training is FUSED across subspaces: one seed collect (the k
    lowest-id FULL vectors, sliced driver-side — byte-identical to
    slicing in-plan) and, per Lloyd iteration, ONE job computing every
    (subspace, cell, pos) decimal mean via struct-explode, instead of
    m sequential (seed + mean) job pairs. On driver-job-overhead-bound
    corpora the sequential shape was the whole wall: knn_cosine_pq_adc
    measured ~7.5 s of corpus-size-independent fixed cost at every SF
    (docs/SCALING.md). The per-subspace math, seeds, labels, and
    6-dp-rounded means are unchanged, so the SQL oracle replays
    identically. The driver still holds only m*k*subdim floats —
    the IVF-PQ memory story at 100 TB.
    """
    subdim = dim // m
    v = emb.select(F.col(id_col), _as_double(F.col(vec_col)).alias("dv"))
    seed_rows = (v.orderBy(id_col).limit(k).select("dv").collect())
    books = [
        [(i, list(r.dv[s * subdim:(s + 1) * subdim]))
         for i, r in enumerate(seed_rows)]
        for s in range(m)
    ]
    for _ in range(iters):
        # all m slices appended in one select (not m withColumns) —
        # same Project, m fewer full-plan analysis passes
        df = v.select("*", *[
            F.slice("dv", s * subdim + 1, subdim).alias(f"_sub{s}")
            for s in range(m)])
        df = _staged_argmin_multi(df, [
            (f"_sub{s}", books[s], f"_cell{s}", f"_d2_{s}")
            for s in range(m)])
        structs = [
            F.struct(
                F.lit(s).alias("s"), F.col(f"_cell{s}").alias("cell"),
                F.col(f"_sub{s}").alias("sub"))
            for s in range(m)]
        rows = (
            df.select(F.explode(F.array(*structs)).alias("e"))
            .select("e.s", "e.cell", F.posexplode("e.sub").alias("pos", "x"))
            .groupBy("s", "cell", "pos")
            .agg(F.round(
                F.sum(F.col("x").cast("decimal(18,12)")).cast("double")
                / F.count(F.lit(1)), 6).alias("cx"))
            .collect()
        )
        new: list[dict[int, dict[int, float]]] = [{} for _ in range(m)]
        for r in rows:
            new[r.s].setdefault(r.cell, {})[r.pos] = r.cx
        books = [
            [(cell_id, [d[p] for p in sorted(d)])
             for cell_id, d in sorted(new[s].items())]
            for s in range(m)
        ]
    return books


def pq_assign_long(emb: DataFrame, codebooks: list[list[tuple[int, list[float]]]],
                   id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Long-form PQ code assignment: one row per (vector, subspace)
    with the nearest-centroid code and the quantization error d2.
    Map-only (argmin over broadcast centroid literals) — no shuffle,
    and ONE corpus scan for all m subspaces (each row computes its m
    argmins, then struct-explodes to long form) instead of an m-way
    union of per-subspace scans. Codes are the codebooks' own cell
    labels (pq_train preserves them through Lloyd updates), never
    re-enumerated positions."""
    m = len(codebooks)
    subdim = len(codebooks[0][0][1])
    df = spread(emb).select(F.col(id_col), _as_double(F.col(vec_col)).alias("dv"))
    df = df.select("*", *[
        F.slice("dv", s * subdim + 1, subdim).alias(f"_sub{s}")
        for s in range(m)])
    df = _staged_argmin_multi(df, [
        (f"_sub{s}", book, f"_cell{s}", f"_d2_{s}")
        for s, book in enumerate(codebooks)])
    structs = [
        F.struct(
            F.lit(s).alias("subspace"), F.col(f"_cell{s}").alias("code"),
            F.col(f"_d2_{s}").alias("d2"))
        for s in range(m)]
    return (
        df.select(F.col(id_col), F.explode(F.array(*structs)).alias("e"))
        .select(F.col(id_col), "e.subspace", "e.code", "e.d2")
    )


def pq_quantization_stats(emb: DataFrame, m: int = 2, k: int = 4,
                          iters: int = 1, id_col: str = "vec_id",
                          vec_col: str = "embedding", dim: int = 64) -> DataFrame:
    """Per-(subspace, code) PQ stats: population, decimal-exact summed
    quantization error, and an md5 digest of the ordered member ids —
    certifying the exact code assignment against the SQL oracle."""
    books = pq_train(emb, m, k, iters, id_col, vec_col, dim)
    codes = pq_assign_long(emb, books, id_col, vec_col)
    return (
        codes.withColumn("d2_6", F.round("d2", 6).cast("decimal(18,6)"))
        .groupBy("subspace", "code")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("d2_6").cast("double").alias("sq_err"),
            F.md5(F.concat_ws(",", F.transform(
                F.sort_array(F.collect_list(F.col(id_col))),
                lambda x: x.cast("string")))).alias("member_digest"),
        )
    )


def sq_train(emb: DataFrame, id_col: str = "vec_id",
             vec_col: str = "embedding", dim: int = 64
             ) -> tuple[list[float], list[float]]:
    """Scalar-quantizer training: per-dimension (min, max) over the
    corpus — the entire SQ 'codebook' is 2*dim doubles (FAISS
    ScalarQuantizer QT_8bit recipe). ONE global aggregate with 2*dim
    expressions (no explode, no shuffle beyond the map-side-combined
    final merge); min/max are order-independent exact, so the SQL
    oracle's per-position MIN/MAX reproduces them bit-for-bit."""
    dv = _as_double(F.col(vec_col))
    aggs = []
    for i in range(dim):
        aggs.append(F.min(F.element_at("dv", i + 1)).alias(f"mn{i}"))
        aggs.append(F.max(F.element_at("dv", i + 1)).alias(f"mx{i}"))
    row = emb.select(dv.alias("dv")).agg(*aggs).collect()[0]
    return ([row[f"mn{i}"] for i in range(dim)],
            [row[f"mx{i}"] for i in range(dim)])


def sq_assign(emb: DataFrame, vmins: list[float], vmaxs: list[float],
              id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """8-bit scalar-quantization codes: per element,
    ``round((x - vmin_d) * 255 / span_d)`` clamped to [0, 255]
    (code 0 when the dimension is constant). Map-only — zip_with over
    broadcast literal min/span arrays inside whole-stage codegen; the
    output row is (id, array<int>) — the 1-byte-per-dimension
    compressed corpus (64 B/vector vs 512 B raw at dim=64).

    Every step is single IEEE ops in a fixed order (subtract, multiply,
    divide, +0.5, floor), so the DuckDB oracle replays the exact codes.
    Out-of-range values (queries quantized against stale stats) clamp
    to the edge codes instead of corrupting neighbors — the same
    graceful-degradation contract as functions/layout.normalize_dim."""
    encode, _ = _sq8_codec(vmins, vmaxs)
    return spread(emb).select(F.col(id_col),
                              encode(_as_double(vec_col)).alias("codes"))


def hard_negatives(corpus: DataFrame, queries: DataFrame, k: int = 3,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   label_col: str = "label") -> DataFrame:
    """Hard-negative mining for contrastive / embedding-model
    training: per query, the top-k most-cosine-similar corpus vectors
    whose LABEL DIFFERS from the query's — the near-misses a triplet
    or InfoNCE loss learns most from (easy negatives are already far;
    these are the boundary cases).

    Same broadcast-|Q| exhaustive shape as :func:`search` with the
    label-mismatch predicate fused into the join condition, so
    same-label pairs are dropped BEFORE scoring ever materializes —
    at 100 TB the pruned pairs never enter the pair stream. Swap the
    corpus side for an IVF/SQ8-indexed variant exactly as the main
    search tier does when exhaustive stops paying."""
    q = _side(queries, "q", id_col, _as_double(vec_col),
              F.col(label_col).alias("query_label"))
    c = _side(corpus, "c", id_col, _as_double(vec_col),
              F.col(label_col).alias("neighbor_label"))
    scored = _cosine_pairs(
        c.join(F.broadcast(q),
               F.col("query_label") != F.col("neighbor_label")),
        "query_label", "neighbor_label")
    return _top_k(scored, k, cols=("query_id", "query_label", "rank",
                                   "neighbor_id", "neighbor_label"))
