"""Seeded input generators for the benchmark.

The benchmark hands the program only what these functions write. The
tables follow the shape of the engine's TPC-H-ish testdata (same table
and column names, physical types and value domains), one parquet row
group per table, so the registered queries and their DuckDB oracles run
unchanged on them. The same seed always writes the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

QUERY_TABLES = ("region", "nation", "customer", "supplier", "part",
                "orders", "lineitem", "events")

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_WORDS = ("a agg batch big column customer data dup fast filter group hash "
          "join key line merge order part query row scan slow small sort "
          "spark stream table the value vector window").split()
_LANGS = ["en", "zh", "de", "fr", "es"]
_LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def _write(df: pd.DataFrame, path: str, schema: pa.Schema) -> None:
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, path, row_group_size=len(df) + 1)


def _schema(*cols: tuple[str, pa.DataType]) -> pa.Schema:
    return pa.schema(list(cols))


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    off = rng.integers(0, (hi_d - lo_d).astype(int) + 1, n)
    return (lo_d + off).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_query_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the eight star-schema tables at scale factor ``sf`` into
    ``out_dir`` as ``<table>.parquet``; returns rows per table."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), \
        pa.timestamp("us")

    frames = {
        "region": (pd.DataFrame({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
            _schema(("r_regionkey", i32), ("r_name", s))),
        "nation": (pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=np.int32) % 5}),
            _schema(("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32))),
        "customer": (pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust)}),
            _schema(("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                    ("c_acctbal", f64), ("c_mktsegment", s))),
        "supplier": (pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
            _schema(("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                    ("s_acctbal", f64))),
        "part": (pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)}),
            _schema(("p_partkey", i64), ("p_name", s), ("p_brand", s),
                    ("p_type", s), ("p_size", i32), ("p_retailprice", f64))),
        "orders": (pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord)}),
            _schema(("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                    ("o_totalprice", f64), ("o_orderdate", ts),
                    ("o_orderpriority", s))),
        "lineitem": (pd.DataFrame({
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)}),
            _schema(("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                    ("l_linenumber", i32), ("l_quantity", f64),
                    ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
                    ("l_returnflag", s), ("l_linestatus", s), ("l_shipdate", ts))),
        "events": (pd.DataFrame({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": (np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
                rng.integers(0, 30 * 86_400 * 10**6, n_ev)).astype(
                    "timedelta64[us]")),
            "user_id": rng.integers(0, 1500, n_ev),
            "event_type": rng.choice(_EVENTS, n_ev),
            "value": np.round(rng.exponential(60.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
            _schema(("event_id", i64), ("ts", ts), ("user_id", i64),
                    ("event_type", s), ("value", f64), ("props", s))),
    }
    rows = {}
    for name, (df, schema) in frames.items():
        _write(df, os.path.join(out_dir, f"{name}.parquet"), schema)
        rows[name] = len(df)
    return rows


def write_documents(out_dir: str, n_docs: int, seed: int) -> int:
    """Write ``documents.parquet`` (doc_id, text, lang, source, n_chars):
    10-100 words from a small technical vocabulary, five language tags,
    twenty sources, and a few exact duplicate texts for the dedup
    stages. Returns the row count."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    lens = rng.integers(10, 101, n_docs)
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    for i in rng.choice(n_docs, max(n_docs // 600, 1), replace=False):
        texts[i] = texts[(i + 1) % n_docs]
    df = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    _write(df, os.path.join(out_dir, "documents.parquet"), pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64())]))
    return n_docs
