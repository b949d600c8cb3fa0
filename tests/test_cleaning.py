"""Unit tests for the layered cleaning library.

Each case pins a documented reference behavior (file:line cited in
functions/cleaning.py docstrings), including the deliberate quirks:
sign-dropping integer extraction, negative-clamping numerics, ordered
date-format precedence, mono-case-only title-casing, null sentinels.
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from medallion_data_pipeline_spark.functions import cleaning as C


def _run(spark, layers_fn, values):
    df = spark.createDataFrame([(v,) for v in values], "raw string")
    cleaned = C.apply_layers(df, layers_fn("raw", "out"), keep=["out"])
    return [r.out for r in cleaned.collect()]


def test_null_sentinels(spark):
    vals = ["NULL", "n/a", "TBD", "unknown", "", "  ", "NONE", "nil", "ok"]
    out = _run(spark, C.sentinel_layers, vals)
    assert out == [None] * 8 + ["ok"]


def test_clean_text_field(spark):
    cases = {
        "  ACME   corp  ": "Acme Corp",          # collapse + title (all chars monocase? 'ACME corp' is mixed!)
        "  ACME   CORP  ": "Acme Corp",          # all-upper -> title
        "acme corp": "Acme Corp",                # all-lower -> title
        "Acme CORP": "Acme CORP",                # mixed case -> untouched
        "!!Acme Corp??": "Acme Corp",            # edge punctuation stripped
        "N/A": None,
        "   ": None,
        "123": "123",                            # no cased chars -> no title-case
    }
    out = _run(spark, C.text_layers, list(cases))
    expected = list(cases.values())
    # first case is actually mixed-case ('ACME corp'), stays as-is after collapse
    expected[0] = "ACME corp"
    assert out == expected


def test_clean_text_unicode_whitespace_parity(spark):
    """Regression for the round-4 Hypothesis find: the reference runs
    Python ``str.strip()`` / ``\\s`` (silver_builder.py:36-57), which
    treat NEL (\\x85), NBSP (\\xa0), the C0 separators \\x1c-\\x1f, LS
    (\\u2028), and ideographic space (\\u3000) as whitespace; Java's
    ASCII ``\\s`` + ``F.trim`` did not. Expected values are hand-traced
    through the reference algorithm."""
    cases = {
        "\r\x850": "0",                     # the original Hypothesis counterexample
        "\xa0NULL\x85": None,               # sentinel detected after Unicode strip
        "\x1c a": "A",                      # C0 file-separator is Python whitespace
        "a.\x1c": "A",                      # trailing C0 stripped, then edge '.'
        "x　\xa0y": "X Y",              # interior Unicode ws collapses to ' '
        "AUTO MOBILE": "Auto Mobile",  # LS collapses; mono-case titles
        "\xbd": "\xbd",                     # ½ is Python \w (No) — survives edge strip
        "***\x85***": None,                 # whitespace-only after edge strip -> NULL
        "\x85": None,
    }
    out = _run(spark, C.text_layers, list(cases))
    assert out == list(cases.values())


def test_clean_email(spark):
    cases = {
        " A@B.COM ": "a@b.com",
        "user.name+tag@example.co.uk": "user.name+tag@example.co.uk",
        "not-an-email": None,
        "x@y": None,
        "NULL": None,
    }
    assert _run(spark, C.email_layers, list(cases)) == list(cases.values())


def test_clean_phone(spark):
    cases = {
        "+1-555-123-4567": "+1-555-123-4567",
        "(555) 123-4567 ext 9": "(555)123-45679",  # keeps [digits+()-], >=10 digits
        "12345": None,
        "N/A": None,
    }
    assert _run(spark, C.phone_layers, list(cases)) == list(cases.values())


def test_clean_numeric_field(spark):
    cases = {
        "$1,299.99": 1299.99,
        "12.34567": 12.3457,          # round to 4 dp
        "-5.00": 0.0,                 # negative clamped
        "junk": None,
        "price: 42 usd": 42.0,
        "NULL": None,
    }
    assert _run(spark, C.numeric_layers, list(cases)) == list(cases.values())


def test_clean_numeric_allow_negative(spark):
    out = _run(spark, lambda src, out: C.numeric_layers(src, out, allow_negative=True), ["-5.5"])
    assert out == [-5.5]


def test_clean_integer_sign_drop_quirk(spark):
    cases = {
        "25": 25,
        "-5": 5,              # reference quirk: sign dropped (silver_builder.py:146)
        "1,000 units": 1000,
        "none": None,
    }
    assert _run(spark, C.integer_layers, list(cases)) == list(cases.values())


def test_bronze_extract_int_keeps_sign(spark):
    # bronze's lenient int extraction allows negatives
    # (data_loader.py:437) — the bronze/silver asymmetry is deliberate
    # (FIXTURES.md §4)
    signed = lambda src, out: C.integer_layers(src, out, signed=True)
    assert _run(spark, signed, ["-5"]) == [-5]


def test_clean_date_ordered_precedence(spark):
    cases = {
        "2025-03-14": datetime.date(2025, 3, 14),
        "03/14/2025": datetime.date(2025, 3, 14),
        "14/03/2025": datetime.date(2025, 3, 14),   # falls through MM/dd to dd/MM
        "01/02/2025": datetime.date(2025, 1, 2),    # ambiguous -> US order first
        "2025-03-14 10:30:00": datetime.date(2025, 3, 14),
        "14-03-2025": datetime.date(2025, 3, 14),
        "2025/03/14": datetime.date(2025, 3, 14),
        "not a date": None,
        "TBD": None,
    }
    assert _run(spark, C.date_layers, list(cases)) == list(cases.values())


def test_clean_status_field(spark):
    fn = lambda src, out: C.status_layers(src, out, C.ORDER_STATUS_MAP)
    cases = {
        "Delivered": "delivered",
        "In Transit": "shipped",
        "DISPATCHED": "shipped",
        "Void": "cancelled",
        "Awaiting": "pending",
        "weird-status": "weird-status",   # unmapped -> raw lowercase
        "N/A": "unknown",
        None: "unknown",
    }
    assert _run(spark, fn, list(cases)) == list(cases.values())


def test_parse_category_field(spark):
    df = spark.createDataFrame(
        [
            ("Automotive Parts > Batteries",),
            ("autmootive parts - battreies",),
            ("Safety | high vis",),
            ("Electronics",),
            (None,),
            ("asfety/filters",),
        ],
        "raw string",
    )
    rows = C.apply_layers(df, C.category_layers("raw", "m", "s"),
                          keep=["m", "s"]).collect()
    got = [(r.m, r.s) for r in rows]
    assert got == [
        ("Automotive Parts", "Batteries"),
        ("Automotive Parts", "Batteries"),
        ("Safety", "High Visibility"),
        ("Electronics", "General"),
        ("Uncategorized", "General"),
        ("Safety", "Filters"),
    ]


def test_quality_score(spark):
    df = spark.createDataFrame([(1,)], "x int")
    flags = [F.lit(True), F.lit(False), F.lit(False), F.lit(False)]
    out = df.select(C.quality_score(flags, 4).alias("q")).collect()[0].q
    assert out == 75.0


def test_guarded_div(spark):
    df = spark.createDataFrame([(10.0, 2.0), (10.0, 0.0)], "a double, b double")
    out = [r.r for r in df.select(C.guarded_div(F.col("a"), F.col("b")).alias("r")).collect()]
    assert out == [5.0, None]


def test_status_maps_match_reference_vocabularies(spark):
    """Reference maps verbatim (silver_builder.py:949-954, 860-864,
    662-665), including the first-match quirk: a raw 'closed' store
    canonicalizes to 'inactive' (listed first), never 'closed'."""
    fn = lambda src, out: C.status_layers(src, out, C.ORDER_STATUS_MAP)
    cases = {"In Process": "pending", "On Route": "shipped",
             "Received": "delivered", "Canceled": "cancelled",
             "fulfilled": "fulfilled"}   # NOT in the reference map -> raw
    assert _run(spark, fn, list(cases)) == list(cases.values())

    sfn = lambda src, out: C.status_layers(src, out, C.STORE_STATUS_MAP)
    s_cases = {"closed": "inactive", "Shutdown": "closed", "OPEN": "active"}
    assert _run(spark, sfn, list(s_cases)) == list(s_cases.values())

    pfn = lambda src, out: C.status_layers(src, out, C.PRODUCT_STATUS_MAP)
    p_cases = {"inactive": "discontinued", "in stock": "in stock"}
    assert _run(spark, pfn, list(p_cases)) == list(p_cases.values())


def test_supply_order_validation_flags_reference_semantics(spark):
    """is_calculation_correct keeps the reference's falsy guard (NULL/0
    invoice -> True, silver_builder.py:964-971); date_logic_valid also
    fails on delivered < shipped (:975-981)."""
    from medallion_data_pipeline_spark.plans.silver import clean_supply_orders

    rows = [
        # id, product, wh, store, qty, price, invoice, od, sd, dd, status
        (1, "1", "1", "1", "10", "2.0", "20.0", "2024-01-01", "2024-01-02", "2024-01-03", "delivered"),
        (2, "1", "1", "1", "10", "2.0", None,   "2024-01-01", "2024-01-02", "2024-01-03", "delivered"),
        (3, "1", "1", "1", "10", "2.0", "0",    "2024-01-01", "2024-01-02", "2024-01-03", "delivered"),
        (4, "1", "1", "1", "10", "2.0", "99.0", "2024-01-01", "2024-01-02", "2024-01-03", "delivered"),
        (5, "1", "1", "1", "10", "2.0", "20.0", "2024-01-05", "2024-01-02", "2024-01-06", "delivered"),
        (6, "1", "1", "1", "10", "2.0", "20.0", "2024-01-01", "2024-01-04", "2024-01-02", "delivered"),
    ]
    schema = ("supply_order_id long, product_id string, warehouse_id string, "
              "retail_store_id string, quantity string, price string, "
              "total_invoice string, order_date string, shipped_date string, "
              "delivered_date string, status string")
    cleaned, _ = clean_supply_orders(spark.createDataFrame(rows, schema))
    got = {r.supply_order_id: (r.is_calculation_correct, r.date_logic_valid)
           for r in cleaned.collect()}
    assert got[1] == (True, True)
    assert got[2] == (True, True)     # NULL invoice -> calc flag stays True
    assert got[3] == (True, True)     # 0 invoice -> falsy guard -> True
    assert got[4] == (False, True)    # drift > 0.01
    assert got[5] == (True, False)    # shipped < order
    assert got[6] == (True, False)    # delivered < shipped


def _bronze_table(spark, wh, table):
    """A landed bronze table, as silver reads it (a scan: a local
    relation would fold the projections away at plan time)."""
    from medallion_data_pipeline_spark._util import read_table
    from medallion_data_pipeline_spark.plans import bronze, fixtures

    frames = fixtures.generate_bronze(spark, n_orders=20)
    bronze.write_bronze({table: frames[table]}, str(wh))
    return read_table(spark, str(wh), "bronze", table)


def test_supply_orders_extract_each_value_once(spark, tmp_path):
    """The layered cleaners compute each shared value once per row: the
    executed plan of supply_orders holds one ``regexp_extract`` per
    integer or numeric source column (four ids/quantity, price and
    total_invoice), where nested Column trees repeat the extraction at
    every later step that reads it."""
    from medallion_data_pipeline_spark.metrics import executed_plan
    from medallion_data_pipeline_spark.plans.silver import clean_supply_orders

    cleaned, _ = clean_supply_orders(
        _bronze_table(spark, tmp_path, "supply_orders"))
    assert executed_plan(cleaned).count("regexp_extract(") == 6


def test_products_extract_each_value_once(spark, tmp_path):
    """products has two numeric source columns (unit_cost,
    selling_price): two ``regexp_extract`` in its executed plan."""
    from medallion_data_pipeline_spark.metrics import executed_plan
    from medallion_data_pipeline_spark.plans.silver import clean_products

    cleaned, _ = clean_products(_bronze_table(spark, tmp_path, "products"))
    assert executed_plan(cleaned).count("regexp_extract(") == 2
