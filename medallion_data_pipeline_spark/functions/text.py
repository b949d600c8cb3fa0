"""Text-analysis column expressions for large-scale training-data pipelines.

Green-field extensions beyond the reference's operator surface
(BASELINE.json north star): language-ID, quality scoring, token
counting, and document fingerprinting over a ``text`` column — all as
native Spark expressions (JVM-side, whole-stage codegen) so they run at
100 TB without Python in the loop.

Determinism contract: everything here is reproducible in ANSI SQL
(DuckDB oracle) — hashing uses md5 (identical hex output in every
engine) rather than Spark's xxhash64 (engine-specific seed/impl).
"""

from __future__ import annotations

import pandas as pd  # needed at module scope: pandas_udf resolves
                     # PEP-563 string annotations against module globals

from pyspark.sql import Column
from pyspark.sql import functions as F

#: tiny embedded English stopword list (public, ubiquitous); enough for a
#: ratio heuristic — NOT a linguistics claim.
EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "was", "at", "by", "be", "this",
]

# small function-word sets for the n-gram/function-word language heuristic
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "la", "los", "que", "es"],
}


def normalize_text(col: Column) -> Column:
    """lowercase + collapse whitespace + trim — the canonical form used
    by fingerprints and shingles.

    Whitespace audit (no reference dual for the corpus tier — this is a
    deliberate, stated choice): tokenization uses Java's ASCII ``\\s``
    on purpose, because the DuckDB oracle duals (queries/llmops.py
    ``_SQL_NORM``, token stats) use RE2's ``\\s``, which is also
    ASCII-only — so Spark and oracle agree by construction. Corpus
    fingerprints/shingles only need a *consistent* canonical form, not
    Python-``str.split`` parity; the silver cleaners, which DO owe the
    reference Python semantics, use cleaning.PY_WS instead.
    """
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def words(col: Column) -> Column:
    """Whitespace tokenization of normalized text -> array<string>."""
    w = F.split(normalize_text(col), " ")
    return F.filter(w, lambda x: x != "")


def token_count_ws(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(words(col))


# one proto-token = a word-char run or a single non-space punct char
# (shared by the expression and pandas_udf implementations). \w/\s
# audit: Java regex and DuckDB's RE2 both treat bare \w and \s as
# ASCII, so the expression path and the SQL oracle agree by
# construction; the pandas_udf dual compiles with re.ASCII to match
# (Python's default \w is Unicode — 'café' would otherwise count 1
# token in pandas vs 2 in the JVM). Deliberate ASCII choice for the
# corpus tier; the silver cleaners use cleaning.PY_WS/PY_WORD where
# Python parity is owed to the reference.
BPE_ISH_PATTERN = r"\w+|[^\w\s]"


def token_count_bpe_ish(col: Column) -> Column:
    """BPE-ish token estimate: count of maximal runs of word chars or
    single non-space punctuation — the standard cheap proxy for subword
    tokenizers ('words + punctuation', then ~1.3 tokens/word)."""
    s = normalize_text(col)
    # every match of a word-run or single punct char is one proto-token
    only_tokens = F.regexp_replace(s, r"\w+|[^\w\s]", "#")
    return F.length(F.regexp_replace(only_tokens, r"[^#]", ""))


def punct_ratio(col: Column) -> Column:
    """Fraction of non-space characters that are punctuation."""
    s = normalize_text(col)
    non_space = F.length(F.regexp_replace(s, r"\s", ""))
    punct = F.length(F.regexp_replace(s, r"[\w\s]", ""))
    return F.when(non_space > 0, punct.cast("double") / non_space)


def stopword_ratio(col: Column, stopwords: list[str] | None = None) -> Column:
    """Fraction of whitespace tokens that are common-English stopwords."""
    sw = stopwords or EN_STOPWORDS
    toks = words(col)
    hits = F.size(F.filter(toks, lambda t: t.isin(sw)))
    return F.when(F.size(toks) > 0, hits.cast("double") / F.size(toks))


def mean_word_len(col: Column) -> Column:
    toks = words(col)
    total = F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
    return F.when(F.size(toks) > 0, total.cast("double") / F.size(toks))


def quality_score(col: Column) -> Column:
    """Composite document quality heuristic in [0, 1]:

    starts at 1.0 and subtracts penalties for (a) very short docs,
    (b) punctuation-heavy text, (c) unnaturally low stopword ratio,
    (d) degenerate mean word length. Mirrors the shape of public
    web-corpus quality filters (C4/Gopher-style rules) without any
    model dependency.
    """
    n = token_count_ws(col)
    pr = F.coalesce(punct_ratio(col), F.lit(1.0))
    sr = F.coalesce(stopword_ratio(col), F.lit(0.0))
    mwl = F.coalesce(mean_word_len(col), F.lit(0.0))
    score = (
        F.lit(1.0)
        - F.when(n < 20, 0.3).otherwise(0.0)
        - F.when(pr > 0.2, 0.3).otherwise(0.0)
        - F.when(sr < 0.05, 0.2).otherwise(0.0)
        - F.when((mwl < 2.0) | (mwl > 12.0), 0.2).otherwise(0.0)
    )
    return F.round(F.greatest(score, F.lit(0.0)), 2)


def with_text_features(df, text_col: str = "text"):
    """Staged text-feature pipeline: adds n_tokens, n_tokens_bpe, lang,
    quality columns with normalization/tokenization computed ONCE per
    row (named-column staging; see word_shingles PERF note)."""
    s = F.col("_txt_norm")
    toks = F.col("_txt_toks")
    df = df.withColumn("_txt_norm", normalize_text(F.col(text_col)))
    df = df.withColumn("_txt_toks", F.filter(F.split(s, " "), lambda x: x != ""))

    only_tokens = F.regexp_replace(s, r"\w+|[^\w\s]", "#")
    non_space = F.length(F.regexp_replace(s, r"\s", ""))
    punct = F.length(F.regexp_replace(s, r"[\w\s]", ""))
    hits = F.size(F.filter(toks, lambda t: t.isin(EN_STOPWORDS)))
    total_len = F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))

    df = df.withColumn("n_tokens", F.size(toks))
    df = df.withColumn("n_tokens_bpe", F.length(F.regexp_replace(only_tokens, r"[^#]", "")))
    df = df.withColumn("_punct_ratio", F.when(non_space > 0, punct.cast("double") / non_space))
    df = df.withColumn("_stop_ratio", F.when(F.size(toks) > 0, hits.cast("double") / F.size(toks)))
    df = df.withColumn("_mwl", F.when(F.size(toks) > 0, total_len.cast("double") / F.size(toks)))
    df = df.withColumn("lang", detect_lang_from_tokens(toks))

    pr = F.coalesce(F.col("_punct_ratio"), F.lit(1.0))
    sr = F.coalesce(F.col("_stop_ratio"), F.lit(0.0))
    mwl = F.coalesce(F.col("_mwl"), F.lit(0.0))
    score = (
        F.lit(1.0)
        - F.when(F.col("n_tokens") < 20, 0.3).otherwise(0.0)
        - F.when(pr > 0.2, 0.3).otherwise(0.0)
        - F.when(sr < 0.05, 0.2).otherwise(0.0)
        - F.when((mwl < 2.0) | (mwl > 12.0), 0.2).otherwise(0.0)
    )
    df = df.withColumn("quality", F.round(F.greatest(score, F.lit(0.0)), 2))
    return df.drop("_txt_norm", "_txt_toks", "_punct_ratio", "_stop_ratio", "_mwl")


def detect_lang_from_tokens(toks: Column) -> Column:
    """Language heuristic over a MATERIALIZED token-array column."""
    def marker_filter(markers: list[str]):
        # closure factory — a default-arg lambda changes the HOF arity and
        # pyspark would bind the second param to the element index
        return lambda t: t.isin(markers)

    best_lang = F.lit("und")
    best_hits = F.lit(0)
    # iterate in reverse so earlier languages win ties via strict '>'
    for lang in reversed(list(LANG_MARKERS)):
        hits = F.size(F.filter(toks, marker_filter(LANG_MARKERS[lang])))
        is_better = hits > best_hits
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(is_better, hits).otherwise(best_hits)
    return best_lang


# ---------------------------------------------------------------------------
# Fingerprints & shingles (dedup building blocks)
# ---------------------------------------------------------------------------

def md5_fingerprint(col: Column) -> Column:
    """Exact-dup fingerprint: md5 of normalized text. md5 is
    engine-portable (same hex in Spark / DuckDB / Postgres), unlike
    xxhash64."""
    return F.md5(normalize_text(col))


def shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """k-word shingles from an ALREADY-MATERIALIZED token array column.

    Callers should stage ``words(text)`` as a named column first (see
    perf note below) — passing a raw expression here duplicates the
    tokenization subtree three times.
    """
    n = F.size(toks)
    # guard: Spark sequence(1, 0) yields a DESCENDING [1, 0], not empty —
    # docs shorter than k shingles must produce an empty array explicitly
    idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))


def word_shingles(col: Column, k: int = 3) -> Column:
    """k-word shingles of the normalized text -> array<string>.

    Pure Spark SQL expressions (no UDF), expressible verbatim in the
    DuckDB oracle via list comprehensions.

    PERF: evaluating deep higher-order-function chains costs ~ms/row
    when the shared subtrees are duplicated inline. For bulk paths use
    the staged pipeline (operators/dedup.py): materialize ``words`` ->
    ``shingles`` -> signature as separate named columns, which keeps
    each subtree evaluated once per row.
    """
    return shingles_from_tokens(words(col), k)


def minhash_sig_from_shingles(shingles: Column, num_hashes: int = 16) -> Column:
    """MinHash signature (array<string>, length ``num_hashes``) from a
    MATERIALIZED shingle-array column.

    Each hash family h_i(s) = md5(i || ':' || s); the signature element
    is the lexicographic MIN of the hex digests over all shingles.
    Lexicographic min over md5 hex is a valid uniform min-hash (hex
    order == byte order) and is reproducible in any engine with md5.
    Empty docs -> array of NULLs.
    """
    def hash_family(prefix: str):
        # closure factory — a default-arg lambda would be treated as the
        # two-arg (element, index) HOF form and bind prefix to the index
        return lambda s: F.md5(F.concat(F.lit(prefix), s))

    sig = []
    for i in range(num_hashes):
        sig.append(F.array_min(F.transform(shingles, hash_family(f"{i}:"))))
    return F.array(*sig)


# --- integer universal-hash MinHash family -------------------------------
#
# The md5-per-(shingle × hash) family above is simple and portable but
# does num_hashes full digests per shingle — the measured hot loop of the
# fuzzy-dedup pipeline. This family digests each shingle ONCE (md5 -> the
# first 8 hex chars as a 32-bit integer x) and derives every hash by an
# affine map h_i(x) = (a_i*x + b_i) mod p over that integer: ~16 integer
# mults instead of 16 digests per shingle (measured ~2.5x end-to-end at
# sf0.1). Constants are generated from a FIXED seed so the DuckDB oracle
# regenerates the identical family. All intermediates fit signed 64-bit:
# a < 2^31, x < 2^32 => a*x + b < 2^63 (both engines overflow-safe).

MINHASH_PRIME = 4_294_967_311  # smallest prime > 2^32
_MINHASH_SEED = 20260813


def minhash_params(num_hashes: int = 16) -> list[tuple[int, int]]:
    """The (a_i, b_i) affine constants — deterministic; shared by the
    Spark expressions and the SQL-oracle generator."""
    import random

    rng = random.Random(_MINHASH_SEED)
    return [
        (rng.randrange(1, 2 ** 31 - 1), rng.randrange(0, MINHASH_PRIME))
        for _ in range(num_hashes)
    ]


def shingle_ints(shingles: Column) -> Column:
    """array<long>: each shingle's 32-bit integer image — the first 8 hex
    chars of its md5. ONE digest per shingle; stage this as a named
    column so every hash in the family reuses it."""
    return F.transform(
        shingles, lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
    )


def minhash_sig_from_ints(xs: Column, num_hashes: int = 16) -> Column:
    """MinHash signature (array<long>) from the materialized shingle-int
    column: sig_i = min over shingles of (a_i*x + b_i) mod p."""
    def fam(a: int, b: int):
        # closure factory — see hash_family note above on HOF lambda arity
        return lambda x: (F.lit(a) * x + F.lit(b)) % F.lit(MINHASH_PRIME)

    return F.array(*[
        F.array_min(F.transform(xs, fam(a, b))) for a, b in minhash_params(num_hashes)
    ])


def band_keys_from_int_sig(sig: Column, num_hashes: int = 16, bands: int = 4) -> Column:
    """LSH band keys from an array<long> signature: md5 of the
    comma-joined band values, prefixed with the band index."""
    rows = num_hashes // bands
    keys = []
    for b in range(bands):
        band = F.slice(sig, b * rows + 1, rows)
        joined = F.concat_ws(",", F.transform(band, lambda v: v.cast("string")))
        keys.append(F.md5(F.concat_ws("|", F.lit(str(b)), joined)))
    return F.array(*keys)


def band_keys_from_sig(sig: Column, num_hashes: int = 16, bands: int = 4) -> Column:
    """LSH band keys from a MATERIALIZED signature column: split into
    ``bands`` rows of ``num_hashes/bands`` values; each key is md5 of
    the joined band. Documents sharing ANY band key are near-dup
    candidates. Returns array<string> of length ``bands``."""
    rows = num_hashes // bands
    keys = []
    for b in range(bands):
        band = F.slice(sig, b * rows + 1, rows)
        keys.append(F.md5(F.concat_ws("|", F.lit(str(b)), F.concat_ws(",", band))))
    return F.array(*keys)


def minhash_signature(col: Column, k: int = 3, num_hashes: int = 16) -> Column:
    """Convenience single-expression form; for bulk paths stage
    words/shingles as columns first (see word_shingles PERF note)."""
    return minhash_sig_from_shingles(word_shingles(col, k), num_hashes)


def simhash(col: Column, bits: int = 16) -> Column:
    """SimHash fingerprint over word tokens, ``bits`` wide (<=32; 16 by
    default for oracle-friendliness; widen at scale).

    Portable bit source: bit ``b`` of a token's hash is the parity of
    the ASCII code of hex char ``b+1`` of md5(token) — reproducible in
    any engine with md5+ascii+substr (DuckDB 1.0 lacks hex->int conv).
    For each bit, sum +1/-1 votes over tokens; the fingerprint sets the
    bit iff the sum is positive. Near-duplicate docs land at small
    Hamming distance; equal fingerprints bucket near-dups directly.
    """
    return simhash_from_hashes(F.transform(words(col), F.md5), bits)


def simhash_from_hashes(hashed_toks: Column, bits: int = 16) -> Column:
    """SimHash from a MATERIALIZED array of md5(token) hex strings —
    stage ``transform(words(text), md5)`` as a column first so each
    token is hashed once, not once per bit."""

    def vote_fn(bit: int):
        # closure factory: a default-arg lambda would change the lambda arity
        return lambda acc, h: acc + F.when(
            F.ascii(F.substring(h, bit + 1, 1)) % 2 == 1, 1
        ).otherwise(-1)

    fp = F.lit(0).cast("long")
    for b in range(bits):
        votes = F.aggregate(hashed_toks, F.lit(0).cast("long"), vote_fn(b))
        fp = fp + F.when(votes > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return fp


# --- PII redaction -------------------------------------------------------
#
# Training-data scrubbing: mask emails/phones/SSNs with typed tokens.
# Plain codegen'd regexp_replace chains — no Python in the scan. The
# patterns are deliberately RE2-safe (no backrefs/lookaround) so the
# same strings run in Spark (Java regex) and any RE2 engine.

PII_PATTERNS = {
    # order matters: emails first (may contain digits), SSN (3-2-4)
    # before phone (3-3-4) so neither masks inside the other's token.
    # \w/\s audit: these patterns use only \d and explicit ASCII
    # classes; Java and RE2 both read bare \d as [0-9], so the Spark
    # path and the DuckDB oracle agree without flags.
    "EMAIL": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "SSN": r"\d{3}-\d{2}-\d{4}",
    "PHONE": r"\d{3}[-.]\d{3}[-.]\d{4}",
}


def redact_pii(col: Column) -> Column:
    """Replace every PII match with its [TYPE] token."""
    out = col
    for token, pattern in PII_PATTERNS.items():
        out = F.regexp_replace(out, pattern, f"[{token}]")
    return out


def pii_counts(col: Column) -> dict[str, Column]:
    """{type: match-count column} for audit/reporting alongside the
    redacted text (count before redaction)."""
    return {
        token: F.size(F.regexp_extract_all(col, F.lit(pattern), F.lit(0)))
        for token, pattern in PII_PATTERNS.items()
    }


def token_count_bpe_pandas(col: Column) -> Column:
    """Arrow-batched scalar pandas_udf dual of token_count_bpe_ish —
    kept as the reference implementation of 'when you must drop to
    Python, batch it'. The expression version stays the production
    path (whole-stage codegen, ~10x faster locally); this one
    demonstrates the U-surface shape: vectorized pandas in, pandas
    out, one Arrow transfer per batch instead of per row.

    Parity with the expression version is pinned by a unit test.
    """
    import re

    from pyspark.sql.functions import pandas_udf

    # re.ASCII: match the JVM expression path and the RE2 oracle, whose
    # bare \w/\s are ASCII (see BPE_ISH_PATTERN audit note).
    pattern = re.compile(BPE_ISH_PATTERN, re.ASCII)

    @pandas_udf("int")
    def _count(texts: pd.Series) -> pd.Series:
        return texts.fillna("").str.count(pattern).astype("int32")

    return _count(col)
