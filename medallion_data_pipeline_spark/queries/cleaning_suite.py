r"""Cleaning-operator queries (SURVEY §2.7 F1-F19 / §2.9 U1).

The driver testdata is clean, so each query first MANUFACTURES dirty
values deterministically from real columns (mod-keyed variants: wrapped
currency, mixed date formats, shouting text, status codes), then cleans
them with the engine's layered cleaner library. The oracle
re-implements the reference cleaning semantics in ANSI SQL, so a
hash-match proves behavioral parity of the cleaners themselves — the
hardest-to-verify semantics in the reference (SURVEY §7 "hard parts").
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import cleaning as C
from . import register
from ._util import t

_SENTINELS_SQL = "('NULL','N/A','NOT AVAILABLE','TBD','UNKNOWN','','NONE','NIL')"

#: RE2 dual of cleaning.PY_WS — Python str's whitespace set, written with
#: RE2 \x{...} escapes (DuckDB's regexp engine; its bare \s is ASCII).
_RE2_WS = (
    "\\x09-\\x0d\\x1c-\\x20\\x{85}\\x{a0}\\x{1680}"
    "\\x{2000}-\\x{200a}\\x{2028}\\x{2029}\\x{202f}\\x{205f}\\x{3000}"
)
#: RE2 dual of cleaning.PY_WORD (RE2's bare \w is ASCII-only; Python's
#: \w is exactly Unicode L∪N∪'_').
_RE2_WORD = "\\pL\\pN_"


def _sql_py_strip(expr: str) -> str:
    """Python str.strip() in DuckDB SQL (Unicode whitespace)."""
    return f"regexp_replace({expr}, '^[{_RE2_WS}]+|[{_RE2_WS}]+$', '', 'g')"


def _sql_sentinel_null(expr: str) -> str:
    return (f"CASE WHEN {expr} IS NULL OR upper(trim({expr})) IN {_SENTINELS_SQL} "
            f"THEN NULL ELSE trim({expr}) END")


def _sql_sentinel_null_py(expr: str) -> str:
    """Sentinel nulling with Python-strip semantics — required when the
    fixture rows carry Unicode whitespace (NEL/NBSP/LS) that ASCII
    ``trim`` would leave in place, diverging from the reference's
    ``str(value).strip()`` (silver_builder.py:42-44)."""
    stripped = _sql_py_strip(expr)
    return (f"CASE WHEN {expr} IS NULL OR upper({stripped}) IN {_SENTINELS_SQL} "
            f"THEN NULL ELSE {stripped} END")


# ---------------------------------------------------------------------------
# q20 — numeric cleaner parity (F4): currency strip, extraction,
# negative clamp, 4-dp rounding.
# ---------------------------------------------------------------------------

_CLEAN_NUMERIC_SQL = """
WITH dirty AS (
    SELECT o_orderkey,
           CASE o_orderkey % 5
             WHEN 0 THEN 'N/A'
             WHEN 1 THEN '$' || CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) || ' USD'
             WHEN 2 THEN '-' || CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)
             WHEN 3 THEN 'approx ' || CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)
             ELSE CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)
           END AS raw
    FROM orders
), base AS (
    SELECT o_orderkey, {snull} AS s FROM dirty
), ext AS (
    SELECT o_orderkey, regexp_extract(replace(s, ',', ''), '[-+]?\\d*\\.?\\d+', 0) AS m
    FROM base
)
SELECT o_orderkey,
       CASE WHEN m IS NULL OR m = '' THEN NULL
            ELSE round(greatest(CAST(m AS DOUBLE), 0.0), 4) END AS cleaned_price
FROM ext
""".format(snull=_sql_sentinel_null("raw"))


@register("clean_numeric_parity", oracle=_CLEAN_NUMERIC_SQL)
def clean_numeric_parity(spark, sf_dir):
    """numeric_layers over manufactured dirty currency strings
    (reference silver_builder.py:94-132): sentinel->NULL, '$'/commas
    stripped, negatives clamped to 0, rounded to 4 dp."""
    o = t(spark, sf_dir, "orders")
    price_str = F.col("o_totalprice").cast("decimal(18,2)").cast("string")
    raw = (
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("N/A"))
        .when(F.col("o_orderkey") % 5 == 1, F.concat(F.lit("$"), price_str, F.lit(" USD")))
        .when(F.col("o_orderkey") % 5 == 2, F.concat(F.lit("-"), price_str))
        .when(F.col("o_orderkey") % 5 == 3, F.concat(F.lit("approx "), price_str))
        .otherwise(price_str)
    )
    return C.apply_layers(o.select("o_orderkey", raw.alias("raw")),
                          C.numeric_layers("raw", "cleaned_price"),
                          keep=["o_orderkey", "cleaned_price"])


# ---------------------------------------------------------------------------
# q21 — date cleaner parity (F6): seven-format ordered precedence.
# ---------------------------------------------------------------------------

_CLEAN_DATE_SQL = """
WITH dirty AS (
    SELECT o_orderkey,
           CASE o_orderkey % 5
             WHEN 0 THEN strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d')
             WHEN 1 THEN strftime(CAST(o_orderdate AS DATE), '%m/%d/%Y')
             WHEN 2 THEN strftime(CAST(o_orderdate AS DATE), '%d-%m-%Y')
             WHEN 3 THEN strftime(CAST(o_orderdate AS DATE), '%Y/%m/%d')
             ELSE 'TBD'
           END AS raw
    FROM orders
), base AS (
    SELECT o_orderkey, {snull} AS s FROM dirty
)
SELECT o_orderkey,
       strftime(CAST(coalesce(
           try_strptime(s, '%Y-%m-%d'),
           try_strptime(s, '%m/%d/%Y'),
           try_strptime(s, '%d/%m/%Y'),
           try_strptime(s, '%Y-%m-%d %H:%M:%S'),
           try_strptime(s, '%m/%d/%Y %H:%M:%S'),
           try_strptime(s, '%d-%m-%Y'),
           try_strptime(s, '%Y/%m/%d')
       ) AS DATE), '%Y-%m-%d') AS cleaned_date
FROM base
""".format(snull=_sql_sentinel_null("raw"))


@register("clean_date_parity", oracle=_CLEAN_DATE_SQL)
def clean_date_parity(spark, sf_dir):
    """date_layers over four mixed date formats + sentinels
    (reference silver_builder.py:153-185) — ordered precedence means
    ambiguous mm/dd strings resolve US-style, and the round-trip is
    still the identity on the originals."""
    o = t(spark, sf_dir, "orders")
    k = F.col("o_orderkey") % 5
    raw = (
        F.when(k == 0, F.date_format("o_orderdate", "yyyy-MM-dd"))
        .when(k == 1, F.date_format("o_orderdate", "MM/dd/yyyy"))
        .when(k == 2, F.date_format("o_orderdate", "dd-MM-yyyy"))
        .when(k == 3, F.date_format("o_orderdate", "yyyy/MM/dd"))
        .otherwise(F.lit("TBD"))
    )
    return C.apply_layers(
        o.select("o_orderkey", raw.alias("raw")),
        C.date_layers("raw", "cleaned_date"),
        keep=["o_orderkey",
              F.date_format("cleaned_date", "yyyy-MM-dd").alias("cleaned_date")])


# ---------------------------------------------------------------------------
# q22 — text cleaner parity (F1): whitespace collapse, mono-case
# title-casing, edge-punctuation strip.
# ---------------------------------------------------------------------------

_INITCAP = ("array_to_string(list_transform(string_split({0}, ' '), "
            "w -> upper(w[1:1]) || lower(w[2:])), ' ')")

_CLEAN_TEXT_SQL = """
WITH dirty AS (
    SELECT c_custkey,
           CASE c_custkey % 8
             WHEN 0 THEN '  ' || upper(c_mktsegment) || '!! '
             WHEN 1 THEN lower(c_name) || '   ' || lower(c_mktsegment)
             WHEN 2 THEN '***' || c_name || '***'
             WHEN 3 THEN 'NONE'
             WHEN 4 THEN ' ' || upper(c_mktsegment) || '!!   '
             WHEN 5 THEN lower(c_mktsegment) || ' 　' || lower(c_name)
             WHEN 6 THEN ' NULL'
             ELSE chr(13) || chr(133) || CAST(c_custkey % 10 AS VARCHAR)
           END AS raw
    FROM customer
), base AS (
    SELECT c_custkey, {snull} AS s FROM dirty
), collapsed AS (
    SELECT c_custkey, regexp_replace(s, '[{ws}]+', ' ', 'g') AS c FROM base
), cased AS (
    SELECT c_custkey,
           CASE WHEN (c = upper(c) AND c <> lower(c)) OR (c = lower(c) AND c <> upper(c))
                THEN {initcap}
                ELSE c END AS x
    FROM collapsed
), stripped AS (
    SELECT c_custkey,
           {strip} AS y
    FROM cased
)
SELECT c_custkey, CASE WHEN y = '' THEN NULL ELSE y END AS cleaned_text
FROM stripped
""".format(snull=_sql_sentinel_null_py("raw"), initcap=_INITCAP.format("c"),
           ws=_RE2_WS,
           strip=_sql_py_strip(
               f"regexp_replace(x, '^[^{_RE2_WORD}{_RE2_WS}]+"
               f"|[^{_RE2_WORD}{_RE2_WS}]+$', '', 'g')"))


@register("clean_text_parity", oracle=_CLEAN_TEXT_SQL)
def clean_text_parity(spark, sf_dir):
    """text_layers over shouting/whispering/punct-wrapped strings
    (reference silver_builder.py:36-57), plus Unicode-whitespace rows
    (NEL/NBSP/LS/ideographic space) that pin the Python-``\\s`` parity
    semantics of PY_WS/PY_WORD — the '\\r\\x850' -> '0' shape that
    ASCII ``\\s`` + ``trim`` got wrong."""
    c = t(spark, sf_dir, "customer")
    k = F.col("c_custkey") % 8
    raw = (
        F.when(k == 0, F.concat(F.lit("  "), F.upper("c_mktsegment"), F.lit("!! ")))
        .when(k == 1, F.concat(F.lower("c_name"), F.lit("   "), F.lower("c_mktsegment")))
        .when(k == 2, F.concat(F.lit("***"), F.col("c_name"), F.lit("***")))
        .when(k == 3, F.lit("NONE"))
        .when(k == 4, F.concat(F.lit(" "), F.upper("c_mktsegment"),
                               F.lit("!!   ")))
        .when(k == 5, F.concat(F.lower("c_mktsegment"), F.lit(" 　"),
                               F.lower("c_name")))
        .when(k == 6, F.lit(" NULL"))
        .otherwise(F.concat(F.lit("\r"), (F.col("c_custkey") % 10).cast("string")))
    )
    return C.apply_layers(c.select("c_custkey", raw.alias("raw")),
                          C.text_layers("raw", "cleaned_text"),
                          keep=["c_custkey", "cleaned_text"])


# ---------------------------------------------------------------------------
# q23 — status cleaner parity (F7): variant canonicalization.
# ---------------------------------------------------------------------------

_ORDERSTATUS_MAP = {
    "open": ["o", "open", "in progress"],
    "fulfilled": ["f", "fulfilled", "complete"],
    "pending": ["p", "pending", "awaiting"],
}

_CLEAN_STATUS_SQL = """
WITH dirty AS (
    SELECT o_orderkey,
           CASE o_orderkey % 3
             WHEN 0 THEN upper(o_orderstatus)
             WHEN 1 THEN ' ' || lower(o_orderstatus) || ' '
             ELSE 'N/A'
           END AS raw
    FROM orders
), canon AS (
    SELECT o_orderkey,
           CASE WHEN raw IS NULL OR upper(trim(raw)) IN {sent} THEN 'unknown'
                WHEN lower(trim(raw)) IN ('o','open','in progress') THEN 'open'
                WHEN lower(trim(raw)) IN ('f','fulfilled','complete') THEN 'fulfilled'
                WHEN lower(trim(raw)) IN ('p','pending','awaiting') THEN 'pending'
                ELSE lower(trim(raw)) END AS status
    FROM dirty
)
SELECT status, COUNT(*) AS n FROM canon GROUP BY status
""".format(sent=_SENTINELS_SQL)


@register("clean_status_parity", oracle=_CLEAN_STATUS_SQL)
def clean_status_parity(spark, sf_dir):
    """status_layers variant mapping + sentinel->'unknown'
    (reference silver_builder.py:187-202)."""
    o = t(spark, sf_dir, "orders")
    k = F.col("o_orderkey") % 3
    raw = (
        F.when(k == 0, F.upper("o_orderstatus"))
        .when(k == 1, F.concat(F.lit(" "), F.lower("o_orderstatus"), F.lit(" ")))
        .otherwise(F.lit("N/A"))
    )
    return (
        C.apply_layers(o.select(raw.alias("raw")),
                       C.status_layers("raw", "status", _ORDERSTATUS_MAP),
                       keep=["status"])
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# q — category parsing parity (F8): the one cleaner family that had no
# oracle dual. Exercises the 8-separator precedence, both typo maps
# (substring first-match, dict order), the ' Parts' suffix re-append,
# the sentinel and no-separator fallbacks — against a DuckDB replay of
# the engine semantics (reference silver_builder.py:206-278). The
# fixture stays ASCII, so the ASCII clean_text dual coincides with the
# Python-class one.
# ---------------------------------------------------------------------------

def _sql_clean_text_stages(expr: str, prefix: str) -> str:
    """text_layers as lateral-alias SELECT stages; final value is
    ``{prefix}_cleaned``. ASCII dual (fixture contract: no Unicode)."""
    return f"""
           {_sql_sentinel_null(expr)} AS {prefix}_s,
           regexp_replace({prefix}_s, '\\s+', ' ', 'g') AS {prefix}_c,
           CASE WHEN ({prefix}_c = upper({prefix}_c) AND {prefix}_c <> lower({prefix}_c))
                  OR ({prefix}_c = lower({prefix}_c) AND {prefix}_c <> upper({prefix}_c))
                THEN {_INITCAP.format(prefix + '_c')}
                ELSE {prefix}_c END AS {prefix}_x,
           trim(regexp_replace({prefix}_x, '^[^\\w\\s]+|[^\\w\\s]+$', '', 'g')) AS {prefix}_y,
           CASE WHEN {prefix}_y = '' THEN NULL ELSE {prefix}_y END AS {prefix}_cleaned"""


_WORD_CAP = _INITCAP.format("lower({0})")

_CLEAN_CATEGORY_SQL = """
WITH dirty AS (
    SELECT p_partkey,
           CASE p_partkey % 8
             WHEN 0 THEN 'Automotive > Tires'
             WHEN 1 THEN '  autmootive - battreis  '
             WHEN 2 THEN 'safety|high vis'
             WHEN 3 THEN 'automotive parts / filters'
             WHEN 4 THEN 'N/A'
             WHEN 5 THEN lower(p_type)
             WHEN 6 THEN '***ASFETY > body parts***'
             ELSE 'a>b-c'
           END AS raw
    FROM part
), base AS (
    SELECT p_partkey, {raw_stages}
    FROM dirty
), sep AS (
    SELECT p_partkey, raw_cleaned AS c,
           CASE WHEN contains(raw_cleaned, ' > ') THEN ' > '
                WHEN contains(raw_cleaned, '>') THEN '>'
                WHEN contains(raw_cleaned, ' - ') THEN ' - '
                WHEN contains(raw_cleaned, '-') THEN '-'
                WHEN contains(raw_cleaned, ' | ') THEN ' | '
                WHEN contains(raw_cleaned, '|') THEN '|'
                WHEN contains(raw_cleaned, ' / ') THEN ' / '
                WHEN contains(raw_cleaned, '/') THEN '/' END AS sp
    FROM base
), split_raw AS (
    SELECT p_partkey, c, sp,
           trim(CASE WHEN sp IS NOT NULL
                     THEN substr(c, 1, strpos(c, sp) - 1) END) AS m_raw,
           trim(CASE WHEN sp IS NOT NULL
                     THEN substr(c, strpos(c, sp) + len(sp)) END) AS s_raw
    FROM sep
), okd AS (
    SELECT *, sp IS NOT NULL AND m_raw <> '' AND s_raw IS NOT NULL
              AND s_raw <> '' AS is_ok,
           {m_stages},
           {s_stages}
    FROM split_raw
), cleaned2 AS (
    SELECT p_partkey, c, is_ok,
           COALESCE(m_cleaned, 'Uncategorized') AS m_clean,
           COALESCE(s_cleaned, 'General') AS s_clean,
           contains(lower(c), 'parts') AS mentions_parts
    FROM okd
), fixed AS (
    SELECT p_partkey, c, is_ok,
           CASE WHEN contains(lower(m_clean), 'autmootive')
                  OR contains(lower(m_clean), 'automotiev')
                  OR contains(lower(m_clean), 'automotive')
                THEN CASE WHEN mentions_parts THEN 'Automotive Parts'
                          ELSE 'Automotive' END
                WHEN contains(lower(m_clean), 'asafety')
                  OR contains(lower(m_clean), 'asfety')
                  OR contains(lower(m_clean), 'safety')
                THEN CASE WHEN mentions_parts THEN 'Safety Parts'
                          ELSE 'Safety' END
                ELSE {m_cap} END AS m_fixed,
           CASE WHEN contains(lower(s_clean), 'battreies')
                  OR contains(lower(s_clean), 'battreis')
                  OR contains(lower(s_clean), 'batteries') THEN 'Batteries'
                WHEN contains(lower(s_clean), 'high vis') THEN 'High Visibility'
                WHEN contains(lower(s_clean), 'tires') THEN 'Tires'
                WHEN contains(lower(s_clean), 'filters') THEN 'Filters'
                WHEN contains(lower(s_clean), 'body parts') THEN 'Body Parts'
                ELSE {s_cap} END AS s_fixed
    FROM cleaned2
)
SELECT p_partkey,
       CASE WHEN c IS NULL THEN 'Uncategorized'
            WHEN NOT is_ok THEN {c_cap}
            ELSE m_fixed END AS main_category,
       CASE WHEN c IS NULL OR NOT is_ok THEN 'General'
            ELSE s_fixed END AS sub_category
FROM fixed
""".format(
    raw_stages=_sql_clean_text_stages("raw", "raw"),
    m_stages=_sql_clean_text_stages("m_raw", "m"),
    s_stages=_sql_clean_text_stages("s_raw", "s"),
    m_cap=_WORD_CAP.format("m_clean"),
    s_cap=_WORD_CAP.format("s_clean"),
    c_cap=_WORD_CAP.format("c"),
)


@register("clean_category_parity", oracle=_CLEAN_CATEGORY_SQL)
def clean_category_parity(spark, sf_dir):
    """category_layers over manufactured dirty categories
    (reference parse_category_field, silver_builder.py:206-278):
    separator precedence ('>' family before '-' before '|' before
    '/'), typo canonicalization on both levels, ' Parts' suffix
    re-append when the raw string mentions parts, sentinel ->
    ('Uncategorized', 'General'), no-separator -> word-capitalized
    main + 'General'."""
    p = t(spark, sf_dir, "part")
    k = F.col("p_partkey") % 8
    raw = (
        F.when(k == 0, F.lit("Automotive > Tires"))
        .when(k == 1, F.lit("  autmootive - battreis  "))
        .when(k == 2, F.lit("safety|high vis"))
        .when(k == 3, F.lit("automotive parts / filters"))
        .when(k == 4, F.lit("N/A"))
        .when(k == 5, F.lower("p_type"))
        .when(k == 6, F.lit("***ASFETY > body parts***"))
        .otherwise(F.lit("a>b-c"))
    )
    df = p.select("p_partkey", raw.alias("raw_category"))
    return C.apply_layers(df, C.category_layers("raw_category"),
                          keep=["p_partkey", "main_category", "sub_category"])


# ---------------------------------------------------------------------------
# q24 — rejection split (P7): validate-or-reject with first-failing
# reason, both branches produced from one pass.
# ---------------------------------------------------------------------------

_REJECTION_SQL = """
WITH flagged AS (
    SELECT *,
           CASE WHEN l_quantity <= 2 THEN 'low_quantity'
                WHEN l_discount > 0.09 THEN 'excessive_discount'
                WHEN l_tax > 0.07 THEN 'excessive_tax'
           END AS reject_reason
    FROM lineitem
)
SELECT COALESCE(reject_reason, 'VALID') AS disposition,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM flagged
GROUP BY 1
"""


@register("rejection_split", oracle=_REJECTION_SQL)
def rejection_split(spark, sf_dir):
    """Validate-or-reject split with ordered reject reasons (reference
    silver rejection P7, silver_builder.py:566-576). One scan produces
    both branches; at scale this is a single pass + two filtered
    writes, not two scans."""
    li = t(spark, sf_dir, "lineitem")
    reason = (
        F.when(F.col("l_quantity") <= 2, "low_quantity")
        .when(F.col("l_discount") > 0.09, "excessive_discount")
        .when(F.col("l_tax") > 0.07, "excessive_tax")
    )
    return (
        li.withColumn("disposition", F.coalesce(reason, F.lit("VALID")))
        .groupBy("disposition")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# q25 — per-row quality_score then grouped average (F19).
# ---------------------------------------------------------------------------

_QUALITY_SCORE_SQL = """
WITH scored AS (
    SELECT l_returnflag,
           round((3 - (CASE WHEN l_quantity <= 2 THEN 1 ELSE 0 END
                     + CASE WHEN l_discount > 0.09 THEN 1 ELSE 0 END
                     + CASE WHEN l_tax > 0.07 THEN 1 ELSE 0 END)) / 3.0 * 100.0, 2) AS q
    FROM lineitem
)
SELECT l_returnflag,
       COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(q AS DECIMAL(7,2))) AS DOUBLE) / COUNT(*), 4) AS avg_quality
FROM scored GROUP BY l_returnflag
"""


@register("quality_scores", oracle=_QUALITY_SCORE_SQL)
def quality_scores(spark, sf_dir):
    """Row quality_score = (fields - issues)/fields*100 (reference
    silver_builder.py:518-523), averaged per group via exact decimal
    sums."""
    li = t(spark, sf_dir, "lineitem")
    score = C.quality_score(
        [F.col("l_quantity") <= 2, F.col("l_discount") > 0.09, F.col("l_tax") > 0.07],
        total_fields=3,
    )
    return (
        li.withColumn("q", score)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("q").cast("decimal(7,2)")).cast("double") / F.count(F.lit(1)), 4)
            .alias("avg_quality"),
        )
    )


# ---------------------------------------------------------------------------
# q — edit-distance fuzzy matching: near-identical part names within a
# brand block (levenshtein <= 2). Blocking on the brand key turns the
# n² similarity scan into per-block equi-join work — the classic
# record-linkage shape.
# ---------------------------------------------------------------------------

_FUZZY_SQL = """
WITH p AS (
    SELECT p_partkey AS k, p_brand AS brand, p_name AS name FROM part
), pairs AS (
    SELECT a.brand, a.k AS k_a, b.k AS k_b, levenshtein(a.name, b.name) AS d
    FROM p a JOIN p b ON a.brand = b.brand AND a.k < b.k
    WHERE levenshtein(a.name, b.name) <= 2
)
SELECT brand, COUNT(*) AS n_close_pairs,
       CAST(SUM(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       md5(string_agg(CAST(k_a AS VARCHAR) || '>' || CAST(k_b AS VARCHAR),
                      ',' ORDER BY k_a, k_b)) AS pair_digest
FROM pairs GROUP BY brand
"""


@register("fuzzy_part_match", oracle=_FUZZY_SQL)
def fuzzy_part_match(spark, sf_dir):
    """Blocked edit-distance record linkage: self-join parts within a
    brand block, keep pairs with levenshtein(name) <= 2, report
    per-brand pair counts + a digest of the exact matched pair set.
    Levenshtein runs JVM-side (builtin), and blocking bounds the
    quadratic term to block_size² — at 100 TB you'd block on
    (brand, size) or an LSH key to keep blocks small; the join shape
    is unchanged.

    Two semantics-free prunes on the block self-join (measured
    13.7s -> 6.4s warm at sf0.1): (a) edit distance is >= the length
    difference, so ``|len(a)-len(b)| <= 2`` filters pairs before any
    edit-distance work; (b) the thresholded ``levenshtein(l, r, 2)``
    variant runs the banded O(len x threshold) algorithm and bails out
    at -1 past the bound, instead of filling the full DP matrix for
    pairs that are nowhere close."""
    p = t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("k"), F.col("p_brand").alias("brand"),
        F.col("p_name").alias("name"))
    a = p.alias("a")
    b = p.alias("b")
    len_gap = F.abs(F.length(F.col("a.name")) - F.length(F.col("b.name")))
    pairs = (
        a.join(b, (F.col("a.brand") == F.col("b.brand"))
               & (F.col("a.k") < F.col("b.k")) & (len_gap <= 2))
        .select(F.col("a.brand").alias("brand"),
                F.col("a.k").alias("k_a"), F.col("b.k").alias("k_b"),
                F.levenshtein(F.col("a.name"), F.col("b.name"), 2).alias("d"))
        .filter(F.col("d") >= 0)
    )
    pair = F.concat_ws(">", F.col("k_a").cast("string"),
                       F.col("k_b").cast("string"))
    pairs = pairs.withColumn(
        "pr", F.struct(F.col("k_a"), F.col("k_b"), pair.alias("s")))
    return pairs.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n_close_pairs"),
        F.sum((F.col("d") == 0).cast("int")).alias("n_exact"),
        F.md5(F.concat_ws(",", F.transform(
            F.sort_array(F.collect_list("pr")), lambda x: x["s"])))
        .alias("pair_digest"),
    )


# ---------------------------------------------------------------------------
# q — scalar string-function parity: translate / lpad / reverse /
# repeat / strpos / initcap-emulation agree byte-for-byte per row.
# ---------------------------------------------------------------------------

from ._util import sql_initcap as _sql_initcap

_STRING_FUNCS_SQL = """
SELECT p_partkey AS k,
       translate(p_name, 'aeiou', 'AEIOU') AS tr,
       lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS padded,
       reverse(p_name) AS rev,
       repeat(p_name[1:2], 2) AS rep,
       strpos(p_name, 'widget') AS pos,
       {initcap} AS cap
FROM part
""".format(initcap=_sql_initcap("p_name"))


@register("string_functions_parity", oracle=_STRING_FUNCS_SQL)
def string_functions_parity(spark, sf_dir):
    """Row-level scalar string surface (SURVEY F-class widening):
    translate, lpad, reverse, repeat, instr/strpos, initcap (DuckDB
    lacks initcap; the shared sql_initcap emulation is the oracle
    dual). All codegen expressions — zero shuffle, scan-local."""
    p = t(spark, sf_dir, "part")
    return p.select(
        F.col("p_partkey").alias("k"),
        F.translate("p_name", "aeiou", "AEIOU").alias("tr"),
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("padded"),
        F.reverse("p_name").alias("rev"),
        F.repeat(F.substring("p_name", 1, 2), 2).alias("rep"),
        F.instr("p_name", "widget").cast("long").alias("pos"),
        F.initcap("p_name").alias("cap"),
    )


# ---------------------------------------------------------------------------
# q — scalar date-function parity: last_day / add_months / quarter
# trunc / dayofyear / ISO weekofyear / ISODOW per row.
# ---------------------------------------------------------------------------

_DATE_FUNCS_SQL = """
SELECT o_orderkey AS k,
       strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
       strftime(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus_3m,
       strftime(date_trunc('quarter', CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS quarter_start,
       CAST(dayofyear(CAST(o_orderdate AS DATE)) AS BIGINT) AS doy,
       CAST(weekofyear(CAST(o_orderdate AS DATE)) AS BIGINT) AS iso_week,
       CAST(isodow(CAST(o_orderdate AS DATE)) AS BIGINT) AS iso_dow
FROM orders
"""


@register("date_functions_parity", oracle=_DATE_FUNCS_SQL)
def date_functions_parity(spark, sf_dir):
    """Row-level scalar date surface: last_day, add_months, quarter
    truncation, dayofyear, ISO week, ISODOW (weekday()+1 — the
    Postgres-convention bridge from SURVEY §7 hard-part (b)). Spark's
    add_months clamps month-ends exactly like SQL interval month
    addition on these engines."""
    o = t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        F.col("o_orderkey").alias("k"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.date_format(F.add_months(d, 3), "yyyy-MM-dd").alias("plus_3m"),
        F.date_format(F.date_trunc("quarter", d), "yyyy-MM-dd")
        .alias("quarter_start"),
        F.dayofyear(d).cast("long").alias("doy"),
        F.weekofyear(d).cast("long").alias("iso_week"),
        (F.weekday(d) + 1).cast("long").alias("iso_dow"),
    )


# ---------------------------------------------------------------------------
# q — posexplode with ordinality: token position distribution of part
# names (position -> distinct vocabulary, top token with total-order
# tiebreak). DuckDB 1.0 lacks UNNEST WITH ORDINALITY; the oracle
# enumerates positions via a range cross join.
# ---------------------------------------------------------------------------

_POSEXPLODE_SQL = """
WITH w AS (
    SELECT p_partkey, string_split(p_name, ' ') AS ws FROM part
), pw AS (
    SELECT i.i AS pos, ws[i.i] AS word
    FROM w CROSS JOIN (SELECT unnest(range(1, 5)) AS i) i
    WHERE i.i <= len(ws)
), counts AS (
    SELECT pos, word, COUNT(*) AS cnt FROM pw GROUP BY pos, word
)
SELECT pos, CAST(COUNT(*) AS BIGINT) AS n_distinct_words,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       arg_max(word, cnt || ':' || word) AS top_word_tiebreak
FROM counts GROUP BY pos
"""


@register("word_position_stats", oracle=_POSEXPLODE_SQL)
def word_position_stats(spark, sf_dir):
    """posexplode (explode WITH ORDINALITY): per token position of the
    part name, vocabulary size and token count. The top-word column
    uses a packed (count, word) max_by key — note the string packing
    makes '9' > '10' lexicographically; both engines apply the SAME
    ordering so the hash still certifies parity (the column
    demonstrates tie-breaking mechanics, not numeric max)."""
    p = t(spark, sf_dir, "part")
    pw = p.select(F.posexplode(F.split("p_name", " ")).alias("pos0", "word")) \
          .select((F.col("pos0") + 1).alias("pos"), "word")
    counts = pw.groupBy("pos", "word").agg(F.count(F.lit(1)).alias("cnt"))
    key = F.concat_ws(":", F.col("cnt").cast("string"), F.col("word"))
    return counts.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n_distinct_words"),
        F.sum("cnt").alias("n_tokens"),
        F.max_by("word", key).alias("top_word_tiebreak"),
    )
