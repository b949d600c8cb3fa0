r"""Dirty-data cleaning as native Spark column expressions.

Re-expresses the reference's row-at-a-time Python cleaner suite
(``SilverDataCleaner``, reference silver/silver_builder.py:29-278, and
the bronze lenient extractors, bronze/data_loader.py:88-149,335-358,
432-452) as Catalyst-optimizable column expressions. This is the single
biggest architectural win over the reference: its silver stage crosses
the Python<->DB socket once per row; here the same semantics run inside
whole-stage codegen over columnar batches, so the operators scale to
100 TB without any Python in the hot path.

Behavioral-parity quirks deliberately preserved (SURVEY.md §7 "hard
parts"):

- null-sentinel vocabulary ['NULL','N/A','NOT AVAILABLE','TBD',
  'UNKNOWN','','NONE','NIL'] (silver_builder.py:34);
- ``integer_layers`` DROPS the sign: '-5' -> 5
  (silver_builder.py:146 uses ``re.search(r'\d+')``);
- ``numeric_layers`` clamps negatives to 0 unless allow_negative,
  rounds to 4 dp, caps at the max value that fits 15 digits
  (silver_builder.py:94-132);
- date parsing tries SEVEN formats in a fixed order, so the ambiguous
  '01/02/2025' resolves US-style first (silver_builder.py:164-168);
- text title-casing only when the string is mono-case
  (silver_builder.py:51).

Known deviation: the reference uses Python ``str.title()`` which also
capitalizes after apostrophes/hyphens; we use ``initcap`` semantics
(capitalize after whitespace). Documented here and pinned by unit test.

Every cleaner is a short list of projection LAYERS
(:data:`Layers`): layer k holds named column expressions that read the
source columns and the names made by layers before it. ``stack`` runs
cleaners side by side, and ``apply_layers`` lands layer k of every
cleaned column in ONE ``select``, so a value several steps share (the
sentinel strip, a ``regexp_extract``, a cast) is a column of an earlier
projection and is computed once per row. Catalyst keeps those
projections apart (CollapseProject does not inline a non-trivial
expression its consumer reads twice); the same steps written as one
nested Column re-evaluate the shared subtree at every reference, which
doubles the work at each step of the numeric cleaner (50K warm rows
on 4 cores, median of 8 alternating runs: 0.10 s nested, 0.06 s
layered, identical output).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: reference silver/silver_builder.py:34
NULL_SENTINELS = ["NULL", "N/A", "NOT AVAILABLE", "TBD", "UNKNOWN", "", "NONE", "NIL"]

#: reference silver/silver_builder.py:164-168 — ordered precedence
DATE_FORMATS = [
    "yyyy-MM-dd",
    "MM/dd/yyyy",
    "dd/MM/yyyy",
    "yyyy-MM-dd HH:mm:ss",
    "MM/dd/yyyy HH:mm:ss",
    "dd-MM-yyyy",
    "yyyy/MM/dd",
]

# Canonical status vocabularies (reference silver_builder.py:662-665,
# 860-864, 949-954).
#: Variant vocabularies copied verbatim (lowercased — matching is
#: case-insensitive on both sides) from the reference's per-table maps:
#: orders silver_builder.py:949-954, stores :860-864, products :662-665.
#: Dict order matters: status_layers builds a first-match when
#: chain, reproducing the reference's dict-iteration quirk where a raw
#: 'closed' store maps to 'inactive' (listed there first), never
#: 'closed'.
ORDER_STATUS_MAP = {
    "pending": ["pending", "awaiting", "processing", "in process"],
    "shipped": ["shipped", "dispatched", "in transit", "on route"],
    "delivered": ["delivered", "complete", "completed", "received"],
    "cancelled": ["cancelled", "canceled", "void"],
}
STORE_STATUS_MAP = {
    "active": ["active", "open"],
    "inactive": ["inactive", "closed"],
    "closed": ["closed", "shutdown"],
}
PRODUCT_STATUS_MAP = {
    "active": ["active"],
    "discontinued": ["discontinued", "inactive"],
}


#: Exact character-class body of Python's ``\s`` over ``str`` (re module;
#: verified empirically over all of U+0000..U+10FFFF): \t-\r, the C0
#: separators \x1c-\x1f plus space, NEL, NBSP, OGHAM SPACE MARK, the
#:  -  spaces, LINE/PARAGRAPH SEPARATOR, NNBSP, MMSP, and
#: IDEOGRAPHIC SPACE. The reference cleaners run Python ``str.strip()``
#: / ``str.split()`` / ``re \s`` (silver_builder.py:36-57), all of which
#: use this set. Java's default ``\s`` is ASCII-only and Java's
#: ``(?U)\s`` (= \p{IsWhite_Space}) misses \x1c-\x1f, so exact parity
#: needs this explicit class.
PY_WS = (
    "\\u0009-\\u000D\\u001C-\\u0020\\u0085\\u00A0\\u1680"
    "\\u2000-\\u200A\\u2028\\u2029\\u202F\\u205F\\u3000"
)

#: Codepoints that are ``\w`` under Python's Unicode 14.0 database but
#: unassigned (hence not \p{L}/\p{N}) under Java 17's Unicode 13.0 —
#: Arabic Extended-B, Vithkuqi, Cypro-Minoan, Tangsa, Toto, etc. The
#: exact 525-codepoint delta, computed by scanning every codepoint
#: through both engines; appended so the class matches Python bit-exactly
#: despite the JVM's older Unicode table.
_PY_WORD_U14_EXTRA = (
    "\\u0870-\\u0887\\u0889-\\u088E\\u08B5\\u08C8\\u08C9\\u0C5D\\u0CDD"
    "\\u170D\\u171F\\u1B4C\\u2C2F\\u2C5F\\u9FFD-\\u9FFF\\uA7C0\\uA7C1"
    "\\uA7D0\\uA7D1\\uA7D3\\uA7D5-\\uA7D9\\uA7F2-\\uA7F4"
    "\\x{10570}-\\x{1057A}\\x{1057C}-\\x{1058A}\\x{1058C}-\\x{10592}"
    "\\x{10594}\\x{10595}\\x{10597}-\\x{105A1}\\x{105A3}-\\x{105B1}"
    "\\x{105B3}-\\x{105B9}\\x{105BB}\\x{105BC}\\x{10780}-\\x{10785}"
    "\\x{10787}-\\x{107B0}\\x{107B2}-\\x{107BA}\\x{10F70}-\\x{10F81}"
    "\\x{11071}\\x{11072}\\x{11075}\\x{11740}-\\x{11746}"
    "\\x{11AB0}-\\x{11ABF}\\x{12F90}-\\x{12FF0}\\x{16A70}-\\x{16ABE}"
    "\\x{16AC0}-\\x{16AC9}\\x{1AFF0}-\\x{1AFF3}\\x{1AFF5}-\\x{1AFFB}"
    "\\x{1AFFD}\\x{1AFFE}\\x{1B11F}-\\x{1B122}\\x{1DF00}-\\x{1DF1E}"
    "\\x{1E290}-\\x{1E2AD}\\x{1E7E0}-\\x{1E7E6}\\x{1E7E8}-\\x{1E7EB}"
    "\\x{1E7ED}\\x{1E7EE}\\x{1E7F0}-\\x{1E7FE}\\x{2A6DE}\\x{2A6DF}"
    "\\x{2B735}-\\x{2B738}"
)

#: Python's ``\w`` over ``str`` is exactly ``[\p{L}\p{N}_]`` in Unicode
#: terms (verified over the full codepoint range); Java's \p{L}/\p{N}
#: are Unicode general-category classes regardless of flags. The extra
#: ranges paper over the JVM's Unicode-13-vs-14 table skew.
PY_WORD = "\\p{L}\\p{N}_" + _PY_WORD_U14_EXTRA


#: One cleaner as projection layers: layer k is a list of (name,
#: Column) pairs whose Columns read the frame's columns and the names
#: of layers < k.
Layers = list[list[tuple[str, Column]]]


def _null_string() -> Column:
    return F.lit(None).cast("string")


def _col(col: Column | str) -> Column:
    """Accept a Column or a column name, like pyspark.sql.functions do."""
    return F.col(col) if isinstance(col, str) else col


def py_strip(col: Column) -> Column:
    """Python ``str.strip()`` as a column expression (Unicode whitespace,
    not Spark ``trim``'s ASCII-space-only semantics)."""
    return F.regexp_replace(_col(col), f"^[{PY_WS}]+|[{PY_WS}]+$", "")


def _chain(src: str, out: str, *steps) -> Layers:
    """One layer per step: step i maps the value of step i-1 (the
    source column for step 0) to the next value. Intermediates are
    named ``_<out>_<i>``; the last step is named ``out``."""
    layers, prev = [], F.col(src)
    for i, step in enumerate(steps):
        name = out if i == len(steps) - 1 else f"_{out}_{i}"
        layers.append([(name, step(prev))])
        prev = F.col(name)
    return layers


#: The shared first two steps of every cleaner (silver_builder.py:42-44
#: et al., and ``safe_str_conversion``, bronze/data_loader.py:88-92):
#: Python-strip the string form, NOT F.trim — the reference's
#: ``str(value).strip()`` strips Unicode whitespace ('\x85', NBSP, ...),
#: so sentinel detection must agree on those edges — then
#: '' / 'N/A' / 'TBD' / ... -> NULL.
_SENTINEL_STEPS = (
    lambda raw: py_strip(raw.cast("string")),
    lambda s: F.when(s.isNull() | F.upper(s).isin(NULL_SENTINELS),
                     _null_string()).otherwise(s),
)


def sentinel_layers(src: str, out: str) -> Layers:
    """Sentinel -> NULL; otherwise the Python-stripped string."""
    return _chain(src, out, *_SENTINEL_STEPS)


def _cased(c: Column) -> Column:
    # Python str.isupper(): no lowercase cased chars AND >=1 cased char.
    # Expressed as (x == upper(x)) & (x != lower(x)); digits-only
    # strings fail the second conjunct, matching Python.
    is_upper = (c == F.upper(c)) & (c != F.lower(c))
    is_lower = (c == F.lower(c)) & (c != F.upper(c))
    return F.when(is_upper | is_lower, F.initcap(c)).otherwise(c)


#: Reference clean_text_field (silver_builder.py:36-57) after the
#: sentinel steps: collapse runs of whitespace; title-case iff the
#: string is all-upper or all-lower (mono-case); strip leading/trailing
#: non-word characters; empty-after-cleaning -> NULL.
_TEXT_STEPS = (
    # ' '.join(value_str.split()): any Unicode-whitespace run -> one
    # ASCII space (edges are already Python-stripped, matching the
    # reference's str.strip()-first order)
    lambda s: F.regexp_replace(s, f"[{PY_WS}]+", " "),
    _cased,
    # reference edge-strip regex ^[^\w\s]+|[^\w\s]+$ under Python
    # semantics: \w == [\p{L}\p{N}_], \s == PY_WS (both verified exact)
    lambda c: py_strip(F.regexp_replace(
        c, f"^[^{PY_WORD}{PY_WS}]+|[^{PY_WORD}{PY_WS}]+$", "")),
    lambda c: F.when(c == "", _null_string()).otherwise(c),
)


def text_layers(src: str, out: str) -> Layers:
    """Reference clean_text_field (silver_builder.py:36-57)."""
    return _chain(src, out, *_SENTINEL_STEPS, *_TEXT_STEPS)


def email_layers(src: str, out: str) -> Layers:
    """Reference clean_email (silver_builder.py:59-73): lowercase, then
    validate against the anchored pattern; invalid -> NULL."""
    pat = r"^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}$"
    return _chain(src, out, *_SENTINEL_STEPS, F.lower,
                  lambda e: F.when(e.rlike(pat), e))


def phone_layers(src: str, out: str) -> Layers:
    """Reference clean_phone (silver_builder.py:75-92): keep only
    ``[digits + ( ) -]``; require >=10 digits else NULL."""
    return _chain(
        src, out, *_SENTINEL_STEPS,
        lambda s: F.regexp_replace(s, r"[^\d+()-]", ""),
        lambda kept: F.when(
            F.length(F.regexp_replace(kept, r"[^\d]", "")) >= 10, kept))


def numeric_layers(src: str, out: str, allow_negative: bool = False,
                   max_digits: int = 15, decimal_places: int = 4) -> Layers:
    """Reference clean_numeric_field (silver_builder.py:94-132).

    Strip commas; extract first ``[-+]?\\d*\\.?\\d+``; negatives -> 0.0
    unless allowed; round to ``decimal_places``; cap at the largest
    value whose digit count fits ``max_digits``. DoubleType (the
    reference returns Python float; DECIMAL typing happens at the
    silver-table write, SURVEY.md §1.2).
    """
    max_value = float(10 ** (max_digits - decimal_places) - 1)

    def rounded(v: Column) -> Column:
        if not allow_negative:
            v = F.when(v < 0, F.lit(0.0)).otherwise(v)
        return F.round(v, decimal_places)

    return _chain(
        src, out, *_SENTINEL_STEPS,
        lambda s: F.regexp_extract(F.regexp_replace(s, ",", ""),
                                   r"[-+]?\d*\.?\d+", 0),
        lambda m: F.when(m != "", m).cast("double"),
        rounded,
        lambda v: F.when(v > max_value, F.lit(max_value)).otherwise(v))


def integer_layers(src: str, out: str, signed: bool = False) -> Layers:
    """Reference clean_integer_field (silver_builder.py:134-151).

    Strip commas, extract the first run of digits (SIGN IS DROPPED:
    '-5' -> 5 — a preserved reference quirk), else NULL. LongType for
    100 TB-scale ids (SURVEY.md §1.2). ``signed`` keeps a leading '-',
    as the bronze loader's lenient int extraction does
    (data_loader.py:432-441; the bronze/silver asymmetry is
    deliberate, FIXTURES.md §4).
    """
    pat = r"-?\d+" if signed else r"\d+"
    return _chain(
        src, out, *_SENTINEL_STEPS,
        lambda s: F.regexp_extract(F.regexp_replace(s, ",", ""), pat, 0),
        lambda m: F.when(m != "", m).cast("long"))


def _parsed_date(s: Column) -> Column:
    # Shape-dispatch instead of blind coalesce over all seven formats:
    # a failed try_to_date is a JVM exception throw/catch, and the
    # coalesce chain averages ~6 failures per value (measured ~35us/row
    # over supply_orders' three date columns). One cheap rlike picks the
    # only format family that can match, then at most two parses run.
    # Precedence inside the ambiguous slash family (US MM/dd before
    # dd/MM) is the reference's ordered list, silver_builder.py:164-168.
    return (
        F.when(s.rlike(r"^\d{4}-\d{1,2}-\d{1,2}$"), F.try_to_date(s, "yyyy-MM-dd"))
        .when(s.rlike(r"^\d{1,2}/\d{1,2}/\d{4}$"),
              F.coalesce(F.try_to_date(s, "MM/dd/yyyy"), F.try_to_date(s, "dd/MM/yyyy")))
        .when(s.rlike(r"^\d{4}-\d{1,2}-\d{1,2} "), F.try_to_date(s, "yyyy-MM-dd HH:mm:ss"))
        .when(s.rlike(r"^\d{1,2}/\d{1,2}/\d{4} "), F.try_to_date(s, "MM/dd/yyyy HH:mm:ss"))
        .when(s.rlike(r"^\d{1,2}-\d{1,2}-\d{4}$"), F.try_to_date(s, "dd-MM-yyyy"))
        .when(s.rlike(r"^\d{4}/\d{1,2}/\d{1,2}$"), F.try_to_date(s, "yyyy/MM/dd"))
    )


def date_layers(src: str, out: str) -> Layers:
    """Reference clean_date_field (silver_builder.py:153-185).

    Try the seven formats in their reference order (US 'MM/dd/yyyy'
    beats 'dd/MM/yyyy' for ambiguous dates); all-fail -> NULL. The
    reference's pandas ``to_datetime`` fallback accepts little beyond
    these formats on its fixtures; we pin the explicit list.
    """
    return _chain(src, out, *_SENTINEL_STEPS, _parsed_date)


def status_layers(src: str, out: str,
                  status_mapping: dict[str, list[str]] | None = None) -> Layers:
    """Reference clean_status_field (silver_builder.py:187-202).

    Lowercase; sentinel/NULL -> 'unknown'; map known variants to their
    canonical status; unmapped values pass through lowercased.
    """
    def canonical(s: Column) -> Column:
        status = F.when(s.isNull(), F.lit("unknown"))
        for name, variants in (status_mapping or {}).items():
            status = status.when(s.isin([v.lower() for v in variants]),
                                 F.lit(name))
        return status.otherwise(s)

    return _chain(src, out, *_SENTINEL_STEPS, F.lower, canonical)


#: separator precedence for category parsing (silver_builder.py:220)
CATEGORY_SEPARATORS = [" > ", ">", " - ", "-", " | ", "|", " / ", "/"]

#: typo-fix maps (silver_builder.py:236-243, 255-263)
MAIN_CATEGORY_FIXES = {
    "autmootive": "Automotive",
    "automotiev": "Automotive",
    "automotive": "Automotive",
    "asafety": "Safety",
    "asfety": "Safety",
    "safety": "Safety",
}
SUB_CATEGORY_FIXES = {
    "battreies": "Batteries",
    "battreis": "Batteries",
    "batteries": "Batteries",
    "high vis": "High Visibility",
    "tires": "Tires",
    "filters": "Filters",
    "body parts": "Body Parts",
}


def _typo_fixed(lowered: Column, fixes: dict[str, str],
                suffix_parts: Column | None = None) -> Column:
    """Substring-match typo table over the lowercased value; first hit
    wins, else word-capitalize (' '.join(w.capitalize() ...), which
    initcap of the lowercased value matches for space-separated
    words)."""
    out = None
    for typo, correct in fixes.items():
        correct_col = F.lit(correct)
        if suffix_parts is not None:
            correct_col = F.when(suffix_parts, F.lit(correct + " Parts")).otherwise(F.lit(correct))
        cond = lowered.contains(typo)
        out = F.when(cond, correct_col) if out is None else out.when(cond, correct_col)
    return out.otherwise(F.initcap(lowered))


def category_layers(src: str, main: str = "main_category",
                    sub: str = "sub_category") -> Layers:
    """Reference parse_category_field (silver_builder.py:206-278):
    ``main``/``sub`` columns from ``src``.

    First separator (in the fixed precedence list) present in the
    cleaned string splits it once; typo maps canonicalize; no
    separator -> (word-capitalized value, 'General'); unparseable ->
    ('Uncategorized', 'General').

    Note: the reference strips ' parts' from the main category before
    typo matching and re-appends ' Parts' when the original mentions
    'parts' (silver_builder.py:245-247); reproduced via the
    ``mentions_parts`` flag.
    """
    import re as _re

    def c(name: str) -> Column:
        return F.col(f"_{main}_{name}")

    cleaned, sep, parts = c("text"), c("sep"), c("parts")
    # pick the first separator (precedence order) present in the string;
    # store its regex pattern so one split() call handles every branch.
    sep_pat = _null_string()
    for s in reversed(CATEGORY_SEPARATORS):
        sep_pat = F.when(cleaned.contains(s), F.lit(_re.escape(s))).otherwise(sep_pat)
    # a split "succeeds" only when both halves are non-empty
    # (silver_builder.py:223-225); otherwise fall through to no-separator.
    ok = (sep.isNotNull() & (c("main_raw") != "")
          & c("sub_raw").isNotNull() & (c("sub_raw") != ""))
    mentions_parts = c("lower").contains("parts")
    return [
        *text_layers(src, f"_{main}_text"),
        [(f"_{main}_sep", sep_pat)],
        [(f"_{main}_parts", F.split(cleaned, sep, 2))],
        # F.trim (ASCII) is safe here: the parts come from text_layers
        # output, whose whitespace is already collapsed to ASCII spaces.
        [(f"_{main}_main_raw", F.trim(parts.getItem(0))),
         (f"_{main}_sub_raw", F.when(F.size(parts) >= 2, F.trim(parts.getItem(1))))],
        *stack([[(f"_{main}_ok", ok), (f"_{main}_lower", F.lower(cleaned))]],
               text_layers(f"_{main}_main_raw", f"_{main}_main_text"),
               text_layers(f"_{main}_sub_raw", f"_{main}_sub_text")),
        [(f"_{main}_main_lower",
          F.lower(F.coalesce(c("main_text"), F.lit("Uncategorized")))),
         (f"_{main}_sub_lower",
          F.lower(F.coalesce(c("sub_text"), F.lit("General"))))],
        [(main, F.when(cleaned.isNull(), F.lit("Uncategorized"))
          .when(~c("ok"), F.initcap(c("lower")))
          .otherwise(_typo_fixed(c("main_lower"), MAIN_CATEGORY_FIXES,
                                 suffix_parts=mentions_parts))),
         (sub, F.when(cleaned.isNull() | ~c("ok"), F.lit("General"))
          .otherwise(_typo_fixed(c("sub_lower"), SUB_CATEGORY_FIXES)))],
    ]


def stack(*cleaners: Layers) -> Layers:
    """Cleaners side by side: layer k of the result is layer k of each
    cleaner that has one. (Concatenate two Layers to run one after the
    other.)"""
    depth = max((len(c) for c in cleaners), default=0)
    return [[pair for c in cleaners if k < len(c) for pair in c[k]]
            for k in range(depth)]


def apply_layers(df: DataFrame, layers: Layers,
                 keep: list[Column | str]) -> DataFrame:
    """Land ``layers`` on ``df``, one ``select`` per layer, then project
    ``keep``, which names the source and cleaned columns to return."""
    for layer in layers:
        df = df.select("*", *(col.alias(name) for name, col in layer))
    return df.select(*keep)


def quality_score(issue_flags: list[Column], total_fields: int) -> Column:
    """Reference quality_score (silver_builder.py:518-523):
    round((total_fields - issues) / total_fields * 100, 2); an 'issue'
    is any field whose cleaned value differs from the raw value."""
    issues = None
    for flag in issue_flags:
        term = F.when(flag, 1).otherwise(0)
        issues = term if issues is None else issues + term
    return F.round((F.lit(total_fields) - issues) / F.lit(total_fields) * 100.0, 2)


def guarded_div(numerator: Column, denominator: Column) -> Column:
    """x / NULLIF(y, 0) — the reference's universal ratio guard
    (gold/gold_builder.py:118-119,226-228,304)."""
    num, den = _col(numerator), _col(denominator)
    return F.when(den != 0, num / den)
