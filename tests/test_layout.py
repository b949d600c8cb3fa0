"""Physical layout tests: partition pruning and bucketed shuffle-free
joins, asserted from the actual physical plans."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from medallion_data_pipeline_spark.metrics import executed_plan, plan_fingerprint
from medallion_data_pipeline_spark.sources import layout
from medallion_data_pipeline_spark.sources.testdata import load_table


def test_partitioned_write_prunes(spark, tmp_path):
    orders = load_table(spark, "/root/testdata/sf0.001", "orders").withColumn(
        "order_year", F.year("o_orderdate"))
    path = str(tmp_path / "orders_part")
    layout.write_partitioned(orders, path, ["order_year"])

    df = spark.read.parquet(path).filter(F.col("order_year") == 1995)
    plan = executed_plan(df)
    assert "PartitionFilters" in plan
    # only the 1995 partition directory is scanned
    assert df.count() == orders.filter(F.year("o_orderdate") == 1995).count()


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    lineitem = load_table(spark, "/root/testdata/sf0.001", "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey")
    layout.write_bucketed_table(orders, "b_orders", "o_orderkey", n_buckets=4,
                                path=str(tmp_path / "b_orders"))
    layout.write_bucketed_table(lineitem, "b_lineitem", "o_orderkey", n_buckets=4,
                                path=str(tmp_path / "b_lineitem"))

    # disable auto-broadcast so the join would otherwise need a shuffle
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
        fp = plan_fingerprint(joined)
        assert fp["SortMergeJoin"] == 1
        # bucketing eliminated the shuffle
        assert sum(v for k, v in fp.items() if k.startswith("exchange_")) == 0
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_write_sized_bounds_file_count(spark, tmp_path):
    df = spark.range(10000).withColumn("v", F.rand(seed=1))
    path = str(tmp_path / "sized")
    layout.write_sized(df, path, target_file_mb=1, approx_row_bytes=100)
    import glob
    files = glob.glob(f"{path}/part-*")
    assert 1 <= len(files) <= 4


def test_write_sized_aqe_splits_without_count_pass(spark, tmp_path):
    """write_sized_aqe must produce multiple advisory-sized files from
    AQE's runtime statistics (no count() pass), and restore the
    advisory-size conf afterwards."""
    import glob

    advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    before = spark.conf.get(advisory)
    # ~7 MB of incompressible payload in one input partition
    df = spark.range(200000).coalesce(1).select(
        "id", F.md5(F.col("id").cast("string")).alias("payload"))
    path = str(tmp_path / "sized_aqe")
    layout.write_sized_aqe(df, path, target_file_mb=1)
    files = glob.glob(f"{path}/part-*")
    assert 2 <= len(files) <= 12, "files not advisory-sized"
    assert spark.conf.get(advisory) == before
    assert spark.read.parquet(path).count() == 200000


def test_clustered_write_produces_disjoint_file_ranges(spark, tmp_path):
    """write_clustered must yield files whose [min,max] ranges on the
    cluster column do not overlap — the property that makes parquet
    footer stats an effective skip index for range predicates."""
    import glob

    import pyarrow.parquet as pq

    from medallion_data_pipeline_spark.sources import layout as L
    from medallion_data_pipeline_spark.sources.testdata import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    out = str(tmp_path / "events_clustered")
    L.write_clustered(events.select("event_id", "ts", "event_type"), out,
                      ["event_id"], n_files=4)

    ranges = []
    for f in glob.glob(f"{out}/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx["event_id"]).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 2
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges {(lo1, hi1)} vs {(lo2, hi2)}"


def _py_z(px: int, py: int, bits: int = 10) -> int:
    """Reference bit-interleave: bit i of dim d at position i*2 + d."""
    z = 0
    for i in range(bits):
        z |= ((px >> i) & 1) << (2 * i)
        z |= ((py >> i) & 1) << (2 * i + 1)
    return z


def test_zorder_key_matches_reference_interleave(spark):
    """Spark's shift/mask z-key equals the Python reference on exact
    values — incl. the hand-checked (3, 1, bits=2) -> 7 case — and the
    full 8x8 grid at bits=3 is a permutation of 0..63 (bijectivity)."""
    from medallion_data_pipeline_spark.functions import layout as L

    assert _py_z(3, 1, bits=2) == 7
    grid = spark.createDataFrame(
        [(x, y) for x in range(8) for y in range(8)], "x long, y long")
    got = grid.select(
        "x", "y",
        L.interleave_bits([F.col("x"), F.col("y")], bits=3).alias("z"),
    ).collect()
    assert sorted(r.z for r in got) == list(range(64))
    for r in got:
        assert r.z == _py_z(r.x, r.y, bits=3)


def test_zorder_sql_matches_spark(spark):
    """functions.layout.zorder_sql (the DuckDB oracle form) and
    zorder_key (the Spark form) produce identical values over the
    normalized dims — the can't-drift guarantee the gated
    zorder_locality query depends on."""
    import duckdb

    from medallion_data_pipeline_spark.functions import layout as L

    rows = [(i * 37 % 501, i * 91 % 257) for i in range(200)]
    df = spark.createDataFrame(rows, "a long, b long")
    spark_z = sorted(
        r.z for r in df.select(L.zorder_key(
            [(F.col("a"), 0, 500), (F.col("b"), 0, 256)]).alias("z"))
        .collect())
    zsql = L.zorder_sql([("a", "0", "500"), ("b", "0", "256")])
    duck_z = sorted(v for (v,) in duckdb.connect().execute(
        f"SELECT {zsql} FROM (SELECT UNNEST($1) a, UNNEST($2) b)",
        [[r[0] for r in rows], [r[1] for r in rows]]).fetchall())
    assert spark_z == duck_z


def test_normalize_dim_exact_at_large_spans(spark):
    """Regression: normalize_dim must use exact integral division, not
    floor-of-double — at span = 2**48 + 5 the float64 quotient for
    v = 56349970923521 rounds UP across an integer boundary (205) while
    exact div (and DuckDB's ``//``, i.e. the oracle) says 204."""
    import duckdb

    from medallion_data_pipeline_spark.functions import layout as L

    span = (1 << 48) + 5
    vals = [56349970923521, 0, span - 1, 123456789012345, (1 << 47) + 3]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {r.v: r.d for r in df.select(
        "v", L.normalize_dim(F.col("v"), 0, span - 1).alias("d")).collect()}
    exact = {v: min((v * (1 << L.ZORDER_BITS)) // span,
                    (1 << L.ZORDER_BITS) - 1) for v in vals}
    assert got == exact
    assert got[56349970923521] == 204  # floor-of-double would say 205
    duck = {v: d for v, d in duckdb.connect().execute(
        f"SELECT v, GREATEST(0, LEAST({(1 << L.ZORDER_BITS) - 1},"
        f" (v * {1 << L.ZORDER_BITS}) // {span})) FROM (SELECT UNNEST($1) v)",
        [vals]).fetchall()}
    assert got == duck


def test_normalize_dim_clamps_out_of_range(spark):
    """Stale catalog stats must degrade gracefully: v < vmin clamps to
    bucket 0 (not all-bits-on via sign propagation) and v > vmax clamps
    to the top bucket (not bleeding into other dims' bit positions) —
    identically in the Spark form and the zorder_sql oracle form."""
    import duckdb

    from medallion_data_pipeline_spark.functions import layout as L

    top = (1 << L.ZORDER_BITS) - 1
    df = spark.createDataFrame(
        [(-50,), (0,), (99,), (100,), (750,)], "v long")
    got = {r.v: r.d for r in df.select(
        "v", L.normalize_dim(F.col("v"), 0, 99).alias("d")).collect()}
    assert got[-50] == 0 and got[100] == top and got[750] == top
    assert 0 <= got[0] <= got[99] <= top
    # and the interleaved key stays within its dims' bit budget
    z = df.select(L.zorder_key([(F.col("v"), 0, 99),
                                (F.lit(5), 0, 99)]).alias("z")).collect()
    assert all(0 <= r.z < (1 << (2 * L.ZORDER_BITS)) for r in z)
    zsql = L.zorder_sql([("v", "0", "99"), ("5", "0", "99")])
    duck = sorted(v for (v,) in duckdb.connect().execute(
        f"SELECT {zsql} FROM (SELECT UNNEST($1) v)",
        [[-50, 0, 99, 100, 750]]).fetchall())
    assert sorted(r.z for r in z) == duck


def _py_hilbert(x: int, y: int, bits: int) -> int:
    """Classic xy2d reference (reflect+swap per level) — structurally
    independent of the packed-table state machine shipped in
    functions/layout.py, so agreement is meaningful."""
    n = 1 << bits
    d, s = 0, n >> 1
    while s > 0:
        rx = 1 if x & s else 0
        ry = 1 if y & s else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = (n - 1) ^ x, (n - 1) ^ y
            x, y = y, x
        s >>= 1
    return d


def test_hilbert_key_matches_reference_and_is_a_walk(spark):
    """The Spark hilbert_key equals the classic xy2d algorithm on the
    full 16x16 grid (bits=4), is a bijection onto 0..255, and — the
    defining Hilbert property z-order lacks — CONSECUTIVE keys are
    always Manhattan-adjacent cells (no diagonal locality jumps)."""
    from medallion_data_pipeline_spark.functions import layout as L

    bits, n = 4, 16
    grid = spark.createDataFrame(
        [(x, y) for x in range(n) for y in range(n)], "x long, y long")
    got = grid.select("x", "y", L.hilbert_key(
        [(F.col("x"), 0, n - 1), (F.col("y"), 0, n - 1)],
        bits=bits).alias("h")).collect()
    pts = {}
    for r in got:
        assert r.h == _py_hilbert(r.x, r.y, bits), (r.x, r.y)
        pts[r.h] = (r.x, r.y)
    assert sorted(pts) == list(range(n * n))
    for d in range(n * n - 1):
        (x1, y1), (x2, y2) = pts[d], pts[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, f"jump at d={d}"


def test_hilbert_sql_matches_spark(spark):
    """hilbert_sql (the DuckDB oracle form) and hilbert_key (the Spark
    form) produce identical values — the can't-drift guarantee, same
    contract as test_zorder_sql_matches_spark — including out-of-range
    values hitting the shared clamp, at the default 10 bits."""
    import duckdb

    from medallion_data_pipeline_spark.functions import layout as L

    rows = [(i * 37 % 501 - 25, i * 91 % 257) for i in range(300)]
    df = spark.createDataFrame(rows, "a long, b long")
    spark_h = sorted(
        r.h for r in df.select(L.hilbert_key(
            [(F.col("a"), 0, 450), (F.col("b"), 0, 256)]).alias("h"))
        .collect())
    hsql = L.hilbert_sql([("a", "0", "450"), ("b", "0", "256")])
    duck_h = sorted(v for (v,) in duckdb.connect().execute(
        f"SELECT {hsql} FROM (SELECT UNNEST($1) a, UNNEST($2) b)",
        [[r[0] for r in rows], [r[1] for r in rows]]).fetchall())
    assert spark_h == duck_h


def test_zorder_bit_budget_guard():
    """4 dims x 16 bits = 64 z-bits would shift into the long sign bit;
    both the Spark form and the SQL oracle form must refuse."""
    import pytest as _pytest

    from medallion_data_pipeline_spark.functions import layout as L

    with _pytest.raises(ValueError, match="sign bit"):
        L.interleave_bits([F.lit(0)] * 4, bits=16)
    with _pytest.raises(ValueError, match="sign bit"):
        L.zorder_sql([("a", "0", "1")] * 4, bits=16)


def test_write_zordered_bounds_every_dimension_per_file(spark, tmp_path):
    """After write_zordered, EVERY interleaved dimension's per-file
    extent is a small fraction of its global span (that is the whole
    point: min/max pruning works for all of them); a linear
    write_clustered bounds only its sort column."""
    import pyarrow.parquet as pq

    n = 1 << 14
    df = spark.range(n).select(
        (F.col("id") * 2654435761 % n).alias("x"),
        (F.col("id") * 40503 % n).alias("y"))
    path = str(tmp_path / "z")
    layout.write_zordered(df, path, [("x", 0, n - 1), ("y", 0, n - 1)],
                          files=16)

    import glob
    spans = []
    for f in sorted(glob.glob(f"{path}/part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        lo, hi = {}, {}
        for rg in range(md.num_row_groups):
            row = md.row_group(rg)
            for ci in range(row.num_columns):
                col = row.column(ci)
                cname = col.path_in_schema
                st = col.statistics
                lo[cname] = min(lo.get(cname, st.min), st.min)
                hi[cname] = max(hi.get(cname, st.max), st.max)
        spans.append({c: (hi[c] - lo[c]) / n for c in ("x", "y")})
    assert len(spans) == 16
    # 16 z-files over a 2-D square: most files fix the top two bits of
    # BOTH dims (span ~0.25-0.5); a few straddle a sampled range
    # boundary at a high bit and legitimately span a dimension (the
    # one shape range partitioning cannot avoid), so the claim is
    # distributional — means well under the global span, straddlers a
    # small minority. (A linear sort bounds only its own column: its
    # y-span would be ~1.0 for EVERY file.)
    import statistics

    assert statistics.mean(s["x"] for s in spans) <= 0.45
    assert statistics.mean(s["y"] for s in spans) <= 0.45
    tight = sum(1 for s in spans if s["x"] <= 0.55 and s["y"] <= 0.55)
    assert tight >= 12, spans


def test_write_hilbert_bounds_every_dimension_per_file(spark, tmp_path):
    """write_hilbert gives the same both-dimensions-bounded per-file
    property as write_zordered — with the jump-free walk the bounds
    are at least as tight (measured 2/64 vs 4/64 files for the 2-D box
    at sf0.1, SCALING.md addendum 10)."""
    import glob
    import statistics

    import pyarrow.parquet as pq

    n = 1 << 14
    df = spark.range(n).select(
        (F.col("id") * 2654435761 % n).alias("x"),
        (F.col("id") * 40503 % n).alias("y"))
    path = str(tmp_path / "h")
    layout.write_hilbert(df, path, [("x", 0, n - 1), ("y", 0, n - 1)],
                         files=16)

    spans = []
    for f in sorted(glob.glob(f"{path}/part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        lo, hi = {}, {}
        for rg in range(md.num_row_groups):
            row = md.row_group(rg)
            for ci in range(row.num_columns):
                col = row.column(ci)
                cname = col.path_in_schema
                st = col.statistics
                lo[cname] = min(lo.get(cname, st.min), st.min)
                hi[cname] = max(hi.get(cname, st.max), st.max)
        spans.append({c: (hi[c] - lo[c]) / n for c in ("x", "y")})
    assert len(spans) == 16
    assert statistics.mean(s["x"] for s in spans) <= 0.45
    assert statistics.mean(s["y"] for s in spans) <= 0.45
    tight = sum(1 for s in spans if s["x"] <= 0.55 and s["y"] <= 0.55)
    assert tight >= 12, spans


def test_dynamic_partition_pruning_from_dim_filter(spark, tmp_path):
    """Dynamic partition pruning: a selective filter on the DIM side
    of a partition-key join must prune fact partitions at RUNTIME —
    the executed plan carries the dynamicpruning subquery (broadcast
    reuse), and the join returns exactly the filtered year's rows.
    This is the mechanism that makes the partitioned gold layout pay
    off for dimension-driven queries at 100 TB: the fact scan reads
    1/7 of the directories without any literal year in the query."""
    orders = load_table(spark, "/root/testdata/sf0.001", "orders").withColumn(
        "order_year", F.year("o_orderdate"))
    path = str(tmp_path / "orders_dpp")
    layout.write_partitioned(orders, path, ["order_year"])
    fact = spark.read.parquet(path)

    years = sorted(r.order_year
                   for r in fact.select("order_year").distinct().collect())
    dim = spark.createDataFrame([(y, f"tag{y}") for y in years],
                                "order_year int, tag string")
    j = fact.join(dim.filter(F.col("tag") == f"tag{years[0]}"),
                  "order_year")
    rows = j.collect()  # DPP instantiates on execution (AQE)
    plan = executed_plan(j)
    assert "dynamicpruning" in plan.lower()
    assert "SubqueryAdaptiveBroadcast" in plan
    want = fact.filter(F.col("order_year") == years[0]).count()
    assert len(rows) == want > 0


def test_runtime_bloom_filter_prunes_shuffle_join_probe(spark):
    """Runtime row-level bloom filter: when a shuffle join's build
    side is selective, Spark injects might_contain(...) on the probe
    side so non-matching rows drop BEFORE the exchange. Size
    thresholds are tuned down to fire at test scale — the pin is that
    the session leaves the feature ON and the mechanism engages (at
    100 TB the default thresholds are the realistic regime)."""
    assert spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
        orders = load_table(spark, "/root/testdata/sf0.001", "orders") \
            .filter(F.col("o_orderpriority") == "1-URGENT")
        j = li.join(orders, li.l_orderkey == orders.o_orderkey)
        n = j.count()
        plan = executed_plan(j)
        assert "might_contain" in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert n > 0
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_parquet_aggregate_pushdown_answers_from_footers(spark):
    """Footer-stat aggregate pushdown: with the v2 parquet reader,
    MIN/MAX/COUNT over an unfiltered scan must be answered from
    parquet metadata (PushedAggregation in the BatchScan) — at 100 TB
    that is a catalog-speed statistics query instead of a full read.
    The engine's layout tools write plain parquet precisely so these
    footer paths (also row-group skipping, addenda 9-10) stay
    available."""
    confs = {"spark.sql.parquet.aggregatePushdown": "true",
             "spark.sql.sources.useV1SourceList": ""}
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        agg = df.agg(F.min("l_quantity").alias("mn"),
                     F.max("l_quantity").alias("mx"),
                     F.count(F.lit(1)).alias("n"))
        plan = executed_plan(agg)
        assert "PushedAggregation" in plan
        assert "min(l_quantity)" in plan  # pushed INTO the BatchScan
        row = agg.collect()[0]
        # values must equal the row-decoded answer
        want = df.selectExpr("min(l_quantity)", "max(l_quantity)",
                             "count(1)").collect()[0]
        assert (row.mn, row.mx, row.n) == tuple(want)
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
