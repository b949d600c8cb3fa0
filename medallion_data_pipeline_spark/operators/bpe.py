"""Distributed BPE vocabulary training (Sennrich et al. 2016) — the
real merge-learning loop, not a regex approximation.

Representation: a word's segmentation is the string of its symbols
joined by ONE SPACE. Corpus tokens come from functions/text.py::words
(whitespace tokenization of normalized text), so tokens can never
contain a space — the separator is unambiguous — and a merge is a
plain non-overlapping left-to-right ``replace('a b' -> 'ab')``, which
is exactly the BPE apply rule and has identical semantics in Spark,
DuckDB, and Python's ``str.replace`` (the gated query's oracle unrolls
the same loop as chained CTEs; the unit test checks the trainer
against a pure-Python reference).

Scale shape: training runs on the DISTINCT-WORD table (word, count) —
Heaps-law-small relative to the corpus — cached once; each merge
iteration is one adjacent-pair count shuffle + a 1-row argmax
collect, the same bounded-driver-round-trip pattern as the k-means /
PageRank tiers. Pair statistics count every adjacent occurrence
(overlaps included, the classic Sennrich counting rule).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def segment_chars(col) -> Column:
    """'spark' -> 's p a r k' (initial character segmentation)."""
    return F.trim(F.regexp_replace(col, "(.)", "$1 "))


def pair_counts(words: DataFrame) -> DataFrame:
    """(a, b, n): adjacent symbol pairs over segmented words weighted
    by word count. Map-only explode + one shuffle."""
    syms = F.split(F.col("w"), " ")
    idx = F.when(
        F.size(syms) > 1,
        F.sequence(F.lit(1), F.size(syms) - 1)
    ).otherwise(F.array().cast("array<int>"))
    pairs = words.select(
        "cnt",
        F.explode(F.transform(idx, lambda i: F.struct(
            F.element_at(syms, i).alias("a"),
            F.element_at(syms, i + 1).alias("b")))).alias("p"))
    return pairs.groupBy("p.a", "p.b").agg(F.sum("cnt").alias("n"))


#: fold-state separator (never appears in symbols — tokens are
#: whitespace-split text, segmentations use spaces)
_RS = "\x1e"


def merge_pair(seg: Column, a: str, b: str) -> Column:
    """TRUE left-to-right BPE merge of pair (a, b) in a space-joined
    segmentation — a FOLD over the symbol array, not a substring
    replace. A plain replace('a b' -> 'ab') matches ACROSS symbol
    boundaries: in 'w es t' the pair (s, t) would corrupt symbol 'es'
    into 'w est' (regression-pinned in tests), and padded-separator
    variants mis-handle adjacent repeats. The fold carries
    state = emitted-output || RS || carry-symbol: when carry == a and
    the next symbol == b, emit the merged symbol and clear the carry
    (so overlapping matches cannot chain — exact on a == b runs:
    'a a a' -> 'aa a'); otherwise flush the carry and keep scanning.
    The DuckDB oracle runs the IDENTICAL fold via list_reduce with a
    prepended init sentinel."""
    merged = " " + a + b

    def step(acc, x):
        out = F.split(acc, _RS).getItem(0)
        carry = F.split(acc, _RS).getItem(1)
        flushed = F.concat(
            out,
            F.when(carry == "", F.lit("")).otherwise(
                F.concat(F.lit(" "), carry)))
        return F.when(
            (carry == a) & (x == b),
            F.concat(out, F.lit(merged + _RS)),
        ).otherwise(F.concat(flushed, F.lit(_RS), x))

    def finish(acc):
        # the final out/carry flush runs INSIDE the aggregate's finish
        # lambda so the (expensive) fold expression is referenced
        # exactly once — referencing the aggregate from three sibling
        # expressions re-substitutes the whole fold per reference and
        # chained merges then blow up 3^k (measured: bpe_token_counts
        # 581 s -> seconds at sf0.01 after this restructuring)
        out = F.split(acc, _RS).getItem(0)
        carry = F.split(acc, _RS).getItem(1)
        return F.trim(F.concat(
            out, F.when(carry == "", F.lit("")).otherwise(
                F.concat(F.lit(" "), carry))))

    return F.aggregate(F.split(seg, " "), F.lit(_RS), step, finish)


def apply_merge(words: DataFrame, a: str, b: str) -> DataFrame:
    """Merge pair (a, b) everywhere: the boundary-aware fold."""
    return words.withColumn("w", merge_pair(F.col("w"), a, b))


def merge_pairs_batch(seg: Column, pairs) -> Column:
    """ONE boundary-aware fold applying a whole batch of pairwise
    SYMBOL-DISJOINT merges (VERDICT r13 #3: sequential training costs
    2 Spark jobs per merge — a 32K-merge production vocabulary is
    hours of scheduler round-trips; disjoint merges commute, so a
    batch collapses to one pass).

    Requires what select_disjoint guarantees: across all pairs, the
    symbol sets {a, b, a+b} are mutually disjoint. Then at each scan
    position at most ONE rule can match (the carry determines the
    rule uniquely, since left symbols are distinct and no rule's
    merged output is another rule's input), no rule can create or
    destroy another rule's adjacencies, and the single fold is
    EXACTLY equivalent to applying the merges sequentially in any
    order (property-pinned in tests against merge_pair chains and
    the pure-Python reference)."""
    if not pairs:
        return seg
    rules = [(a, b) for a, b in pairs]

    def step(acc, x):
        out = F.split(acc, _RS).getItem(0)
        carry = F.split(acc, _RS).getItem(1)
        flushed = F.concat(
            out,
            F.when(carry == "", F.lit("")).otherwise(
                F.concat(F.lit(" "), carry)))
        expr = F.concat(flushed, F.lit(_RS), x)
        for a, b in rules:
            expr = F.when(
                (carry == a) & (x == b),
                F.concat(out, F.lit(" " + a + b + _RS))).otherwise(expr)
        return expr

    def finish(acc):
        out = F.split(acc, _RS).getItem(0)
        carry = F.split(acc, _RS).getItem(1)
        return F.trim(F.concat(
            out, F.when(carry == "", F.lit("")).otherwise(
                F.concat(F.lit(" "), carry))))

    return F.aggregate(F.split(seg, " "), F.lit(_RS), step, finish)


def select_disjoint(cands, limit: int):
    """Greedy prefix-respecting selection of up to ``limit`` pairwise
    symbol-disjoint merge candidates from a (count desc, a, b)-ordered
    list of (a, b) pairs: accept a candidate iff its symbol set
    {a, b, a+b} is disjoint from every symbol already claimed
    (left/right inputs AND merged outputs of prior picks — a rule
    whose input is another's output, or that emits another rule's
    input, would break the commutation argument). The FIRST candidate
    is always accepted, so training always progresses."""
    sel: list[tuple[str, str]] = []
    used: set[str] = set()
    for a, b in cands:
        if len(sel) >= limit:
            break
        syms = {a, b, a + b}
        if used & syms:
            continue
        sel.append((a, b))
        used |= syms
    return sel


def bpe_train_batched(word_counts: DataFrame, n_merges: int,
                      batch: int = 8, word_col: str = "word",
                      cnt_col: str = "cnt"):
    """bpe_train's scale mode (VERDICT r13 #3): per iteration, take
    the top candidates of ONE pair-count snapshot, keep a greedy
    pairwise-disjoint prefix (select_disjoint), and apply them all in
    ONE fold pass — ~batch x fewer Spark jobs for the same vocabulary
    size (2 jobs per ITERATION instead of 2 per merge; measured in
    docs/SCALING.md addendum 15).

    Semantics, stated exactly: APPLYING a selected batch is provably
    identical to applying its merges sequentially (disjoint merges
    commute — merge_pairs_batch). The LEARNING trajectory may differ
    from strict sequential Sennrich: a merge created by an earlier
    pick in the same batch (e.g. the new symbol 'ab' pairing with a
    neighbor) cannot be seen until the next snapshot, and a skipped
    overlapping candidate is re-ranked next iteration. batch=1
    reproduces bpe_train exactly (property-pinned). Recorded
    pair_counts are snapshot counts, which for disjoint picks equal
    the counts sequential application would have seen."""
    word_counts = word_counts.filter(
        ~F.col(word_col).rlike(r"[\x00-\x1f]"))
    words = word_counts.select(
        segment_chars(F.col(word_col)).alias("w"),
        F.col(cnt_col).cast("long").alias("cnt")).persist()
    merges = []
    while len(merges) < n_merges:
        want = n_merges - len(merges)
        top = (pair_counts(words)
               .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
               .limit(max(4 * batch, 16)).collect())
        if not top:
            break
        by_pair = {(r["a"], r["b"]): int(r["n"]) for r in top}
        sel = select_disjoint([(r["a"], r["b"]) for r in top],
                              limit=min(batch, want))
        for a, b in sel:
            merges.append({"step": len(merges) + 1, "left": a,
                           "right": b, "merged": a + b,
                           "pair_count": by_pair[(a, b)]})
        nxt = words.withColumn("w", merge_pairs_batch(F.col("w"), sel)) \
            .persist()
        nxt.count()  # materialize before dropping the parent cache
        words.unpersist()
        words = nxt
    return merges, words


def bpe_train(word_counts: DataFrame, n_merges: int,
              word_col: str = "word", cnt_col: str = "cnt"):
    """Learn ``n_merges`` merges from a (word, count) table. Returns
    (merges, final_words): merges as a list of dicts (step, left,
    right, merged, pair_count), final_words the segmented frame after
    all merges (for tokenization downstream). Stops early when no
    adjacent pair remains.

    C0-control guard (ADVICE r13): the fold-state separator \\x1e is
    safe only because symbols never contain it — but words() splits
    on ASCII whitespace only, so a corpus token carrying U+001E (or
    any C0 control) would corrupt merge_pair's packed
    out||RS||carry state, and the DuckDB oracle runs the identical
    fold so the hash gate could not catch it. Words containing C0
    controls are therefore DROPPED here (they are encoding garbage,
    not vocabulary); gated queries apply the same filter on the
    oracle side (_bpe_ctes w0/doc_tokens WHERE clauses)."""
    word_counts = word_counts.filter(
        ~F.col(word_col).rlike(r"[\x00-\x1f]"))
    words = word_counts.select(
        segment_chars(F.col(word_col)).alias("w"),
        F.col(cnt_col).cast("long").alias("cnt")).persist()
    merges = []
    for step in range(1, n_merges + 1):
        best = (pair_counts(words)
                .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
                .limit(1).collect())
        if not best:
            break
        a, b, n = best[0]["a"], best[0]["b"], int(best[0]["n"])
        merges.append({"step": step, "left": a, "right": b,
                       "merged": a + b, "pair_count": n})
        nxt = apply_merge(words, a, b).persist()
        nxt.count()  # materialize before dropping the parent cache
        words.unpersist()
        words = nxt
    return merges, words


def bpe_segment(col, merges) -> Column:
    """Apply a learned merge list to raw tokens: character
    segmentation followed by the merges in training order — the
    tokenizer that ships with the vocabulary."""
    s = segment_chars(col)
    for m in merges:
        s = merge_pair(s, m["left"], m["right"])
    return s


def with_bpe_segmentation(df: DataFrame, word_col: str, merges,
                          out_col: str = "w") -> DataFrame:
    """bpe_segment staged as one named column per merge (withColumn):
    chaining k folds inside a single expression re-substitutes shared
    subtrees across levels — the engine-wide staged-named-columns rule
    (module docstring of operators/dedup.py)."""
    df = df.withColumn(out_col, segment_chars(F.col(word_col)))
    for m in merges:
        df = df.withColumn(out_col,
                           merge_pair(F.col(out_col), m["left"], m["right"]))
    return df
