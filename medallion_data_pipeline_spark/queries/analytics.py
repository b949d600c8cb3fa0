"""EDA / statistics / window-function queries (SURVEY §2.4 A8-A13 and
§2.5 W1-W3) — the reference's eda/supply_chain_eda.py surface plus the
forecasting feature windows, re-expressed declaratively.

Determinism: every statistic is computed from EXACT decimal moment sums
(sum x, sum x², sum xy) cast to double only for the final arithmetic,
so both engines produce bit-identical doubles regardless of row order —
this sidesteps Welford-vs-two-pass implementation differences in the
built-in stddev/corr of either engine. Exact percentiles use the same
type-7 linear interpolation in Spark (percentile) and DuckDB
(quantile_cont); results are rounded to 4 dp to absorb the one ulp of
formula-order difference.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from . import register
from ._util import dmoney, dsum, fdiv, sql_dsum, sql_fdiv, t

# ---------------------------------------------------------------------------
# q10 — lag + rolling window features (SURVEY W1/W2: the forecasting
# lag_1/lag_7/roll_mean_7 features, forecasting.py:244-272). Scale: one
# shuffle on the partition key (region); the window is then a local sort.
# ---------------------------------------------------------------------------

_LAG_ROLLING_SQL = """
WITH daily AS (
    SELECT r.r_name AS region,
           strftime(CAST(o.o_orderdate AS DATE), '%Y-%m-%d') AS ds,
           {rev} AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
)
SELECT region, ds, revenue,
       lag(revenue, 1) OVER w AS lag_1,
       lag(revenue, 7) OVER w AS lag_7,
       ROUND(
         CAST(SUM(CAST(revenue AS DECIMAL(18,2))) OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
         / COUNT(*) OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS roll_mean_7
FROM daily
WINDOW w AS (PARTITION BY region ORDER BY ds)
""".format(rev=sql_dsum("o.o_totalprice"))


@register("lag_rolling_features", oracle=_LAG_ROLLING_SQL, bench=True)
def lag_rolling_features(spark, sf_dir):
    """Per-entity lag_1 / lag_7 / 7-row rolling mean over a daily revenue
    series (SURVEY W1/W2). Rolling mean via exact decimal window-sum /
    window-count — order-independent, unlike a double running sum."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = t(spark, sf_dir, "region")
    daily = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("ds"),
        )
        .agg(dsum("o_totalprice").alias("revenue"))
    )
    w = W.partitionBy("region").orderBy("ds")
    wf = w.rowsBetween(-6, 0)
    return daily.select(
        "region",
        "ds",
        "revenue",
        F.lag("revenue", 1).over(w).alias("lag_1"),
        F.lag("revenue", 7).over(w).alias("lag_7"),
        F.round(
            F.sum(dmoney("revenue")).over(wf).cast("double") / F.count(F.lit(1)).over(wf), 6
        ).alias("roll_mean_7"),
    )


# ---------------------------------------------------------------------------
# q11 — null / duplicate profiling (SURVEY A9).
# ---------------------------------------------------------------------------

_PROFILE_SQL = """
SELECT (SELECT COUNT(*) FROM lineitem)                                   AS n_rows,
       (SELECT COUNT(*) FROM (SELECT DISTINCT * FROM lineitem))          AS n_distinct_rows,
       (SELECT COUNT(*) FROM lineitem) -
       (SELECT COUNT(*) FROM (SELECT DISTINCT * FROM lineitem))          AS n_duplicate_rows,
       (SELECT COUNT(*) - COUNT(l_shipdate) FROM lineitem)               AS nulls_l_shipdate,
       (SELECT COUNT(*) - COUNT(l_quantity) FROM lineitem)               AS nulls_l_quantity,
       (SELECT COUNT(*) - COUNT(l_returnflag) FROM lineitem)             AS nulls_l_returnflag
"""


@register("null_dup_profile", oracle=_PROFILE_SQL)
def null_dup_profile(spark, sf_dir):
    """Table profile: row count, full-row duplicate count, per-column
    null counts (reference eda/supply_chain_eda.py:141-184)."""
    li = t(spark, sf_dir, "lineitem")
    stats = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("l_shipdate").isNull(), 1).otherwise(0)).cast("long").alias("nulls_l_shipdate"),
        F.sum(F.when(F.col("l_quantity").isNull(), 1).otherwise(0)).cast("long").alias("nulls_l_quantity"),
        F.sum(F.when(F.col("l_returnflag").isNull(), 1).otherwise(0)).cast("long").alias("nulls_l_returnflag"),
    )
    distinct_rows = li.distinct().agg(F.count(F.lit(1)).alias("n_distinct_rows"))
    return (
        stats.crossJoin(distinct_rows)
        .withColumn("n_duplicate_rows", F.col("n_rows") - F.col("n_distinct_rows"))
        .select("n_rows", "n_distinct_rows", "n_duplicate_rows",
                "nulls_l_shipdate", "nulls_l_quantity", "nulls_l_returnflag")
    )


# ---------------------------------------------------------------------------
# q12 — descriptive statistics from exact moments (SURVEY A8).
# ---------------------------------------------------------------------------

_DESCRIBE_SQL = """
WITH m AS (
    SELECT COUNT(*)                                            AS n,
           SUM(CAST(l_extendedprice AS DECIMAL(18,2)))         AS s1,
           SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(l_extendedprice AS DECIMAL(18,2)))       AS s2,
           CAST(MIN(l_extendedprice) AS DOUBLE)                AS min_v,
           CAST(MAX(l_extendedprice) AS DOUBLE)                AS max_v,
           COUNT(DISTINCT l_extendedprice)                     AS n_distinct,
           ROUND(quantile_cont(l_extendedprice, 0.25), 4)      AS q25,
           ROUND(quantile_cont(l_extendedprice, 0.50), 4)      AS median,
           ROUND(quantile_cont(l_extendedprice, 0.75), 4)      AS q75
    FROM lineitem
)
SELECT n, n_distinct, min_v, max_v, q25, median, q75,
       ROUND(CAST(s1 AS DOUBLE) / n, 4) AS mean,
       ROUND(sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1)), 4) AS stddev
FROM m
"""


@register("describe_extendedprice", oracle=_DESCRIBE_SQL, bench=True)
def describe_extendedprice(spark, sf_dir):
    """describe+ statistics (count/mean/std/min/max/quartiles/distinct,
    reference eda/supply_chain_eda.py:689-710) from exact decimal
    moments; quartiles are exact type-7 percentiles."""
    li = t(spark, sf_dir, "lineitem")
    x = dmoney("l_extendedprice")
    # One shared-buffer array percentile (three scalar percentile aggs
    # each carry an independent full value-count buffer), and the
    # distinct count in its OWN agg: countDistinct alongside other
    # aggregates plans an Expand that doubles every input row through
    # the percentile buffers. Together: 9.3 s -> 1.9 s at sf0.1,
    # identical values.
    q = F.percentile("l_extendedprice",
                     F.array(F.lit(0.25), F.lit(0.50), F.lit(0.75)))
    m = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
        F.min("l_extendedprice").cast("double").alias("min_v"),
        F.max("l_extendedprice").cast("double").alias("max_v"),
        q.alias("_q"),
    ).crossJoin(li.agg(
        F.countDistinct("l_extendedprice").alias("n_distinct"))
    ).select(
        "n", "s1", "s2", "min_v", "max_v", "n_distinct",
        F.round(F.col("_q")[0], 4).alias("q25"),
        F.round(F.col("_q")[1], 4).alias("median"),
        F.round(F.col("_q")[2], 4).alias("q75"),
    )
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    n = F.col("n")
    return m.select(
        "n", "n_distinct", "min_v", "max_v", "q25", "median", "q75",
        F.round(s1d / n, 4).alias("mean"),
        F.round(F.sqrt((s2d - s1d * s1d / n) / (n - F.lit(1))), 4).alias("stddev"),
    )


# ---------------------------------------------------------------------------
# q13 — correlation matrix from exact moments (SURVEY A10).
# ---------------------------------------------------------------------------

def _corr_sql_pair(x: str, y: str, label: str) -> str:
    return f"""
SELECT '{label}' AS pair,
       ROUND((n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS pearson_r
FROM (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST({x} AS DECIMAL(18,2))) AS DOUBLE) AS sx,
           CAST(SUM(CAST({y} AS DECIMAL(18,2))) AS DOUBLE) AS sy,
           CAST(SUM(CAST({x} AS DECIMAL(18,2)) * CAST({x} AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST({y} AS DECIMAL(18,2)) * CAST({y} AS DECIMAL(18,2))) AS DOUBLE) AS syy,
           CAST(SUM(CAST({x} AS DECIMAL(18,2)) * CAST({y} AS DECIMAL(18,2))) AS DOUBLE) AS sxy
    FROM lineitem
)
"""


_CORR_SQL = (_corr_sql_pair("l_quantity", "l_extendedprice", "qty_vs_price")
             + " UNION ALL "
             + _corr_sql_pair("l_extendedprice", "l_discount", "price_vs_discount"))


def _corr_spark(li, x: str, y: str, label: str):
    xd, yd = dmoney(x), dmoney(y)
    m = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum(xd * xd).cast("double").alias("sxx"),
        F.sum(yd * yd).cast("double").alias("syy"),
        F.sum(xd * yd).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return m.select(
        F.lit(label).alias("pair"),
        F.round((n * sxy - sx * sy) / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)), 6)
        .alias("pearson_r"),
    )


@register("correlation_pairs", oracle=_CORR_SQL)
def correlation_pairs(spark, sf_dir):
    """Pairwise Pearson correlation from exact decimal moments
    (reference eda/supply_chain_eda.py:604-635)."""
    li = t(spark, sf_dir, "lineitem")
    a = _corr_spark(li, "l_quantity", "l_extendedprice", "qty_vs_price")
    b = _corr_spark(li, "l_extendedprice", "l_discount", "price_vs_discount")
    return a.unionByName(b)


# ---------------------------------------------------------------------------
# q14 — quantile binning via ntile over a total order (SURVEY A13).
# ---------------------------------------------------------------------------

_QUARTILE_BINS_SQL = """
WITH tiled AS (
    SELECT o_totalprice,
           ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS tile
    FROM orders
)
SELECT tile,
       COUNT(*) AS n_orders,
       CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
       CAST(MAX(o_totalprice) AS DOUBLE) AS max_price,
       {tot} AS total_price
FROM tiled GROUP BY tile
""".format(tot=sql_dsum("o_totalprice"))


@register("quartile_bins", oracle=_QUARTILE_BINS_SQL)
def quartile_bins(spark, sf_dir):
    """Quantile binning (reference pd.cut Low/Medium/High,
    eda/supply_chain_eda.py:554-558) with EXACT ntile(4) semantics over
    a TOTAL order (unique tiebreak) — but distributed: no
    single-partition sort over orders.

    The block-offset pattern (same as event_id_islands): price-range
    blocks give a partitioned row_number whose block-cumulative offset
    reconstructs the global rank, and the ntile arithmetic (first
    N mod 4 tiles get one extra row) is applied to (rank, N) directly.
    The only unpartitioned window runs over the per-block counts frame
    (one row per 512-price block), never over orders. Bit-identical to
    the oracle's ntile because rank and N are exact."""
    o = t(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    d = o.withColumn(
        "blk", F.floor(F.col("o_totalprice") / F.lit(512.0)).cast("long"))
    counts = d.groupBy("blk").agg(F.count(F.lit(1)).alias("cnt"))
    wb = W.orderBy("blk")
    offsets = counts.select(
        "blk",
        F.coalesce(
            F.sum("cnt").over(wb.rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0)).alias("offset"),
        F.sum("cnt").over(
            wb.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
        .alias("n_total"),
    )
    wl = W.partitionBy("blk").orderBy("o_totalprice", "o_orderkey")
    rn = F.row_number().over(wl) + F.col("offset")
    # ntile(4): q = N div 4, r = N mod 4; tiles 1..r hold q+1 rows.
    # When N < 4, q = 0 but thresh = N so EVERY row takes the when-
    # branch; greatest(q, 1) still guards the dead else against a
    # divide-by-zero NULL under non-ANSI evaluation.
    q = F.floor(F.col("n_total") / 4)
    r = F.col("n_total") % 4
    thresh = r * (q + 1)
    tile = F.when(rn <= thresh, F.ceil(rn / (q + 1))).otherwise(
        r + F.ceil((rn - thresh) / F.greatest(q, F.lit(1))))
    return (
        d.join(F.broadcast(offsets), "blk")
        .withColumn("tile", tile.cast("int"))
        .groupBy("tile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").cast("double").alias("min_price"),
            F.max("o_totalprice").cast("double").alias("max_price"),
            dsum("o_totalprice").alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# q14b — quantile binning, threshold-broadcast form (SURVEY A13 scale
# path). The plan that survives 100 TB: one distributed percentile
# aggregate produces the three cut points (a single small row), which
# broadcast to a fully-parallel when()-chain binning pass — no global
# sort, no single-partition window. Contrast quartile_bins above.
# ---------------------------------------------------------------------------

_QUANTILE_BROADCAST_SQL = """
WITH cuts AS (
    SELECT quantile_cont(CAST(o_totalprice AS DOUBLE), [0.25, 0.5, 0.75]) AS c
    FROM orders
), binned AS (
    SELECT CASE
             WHEN CAST(o_totalprice AS DOUBLE) <= c[1] THEN 'Q1'
             WHEN CAST(o_totalprice AS DOUBLE) <= c[2] THEN 'Q2'
             WHEN CAST(o_totalprice AS DOUBLE) <= c[3] THEN 'Q3'
             ELSE 'Q4'
           END AS bin,
           o_totalprice
    FROM orders, cuts
)
SELECT bin,
       COUNT(*) AS n_orders,
       CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
       CAST(MAX(o_totalprice) AS DOUBLE) AS max_price,
       {tot} AS total_price
FROM binned GROUP BY bin
""".format(tot=sql_dsum("o_totalprice"))


@register("quantile_bins_broadcast", oracle=_QUANTILE_BROADCAST_SQL)
def quantile_bins_broadcast(spark, sf_dir):
    """Quantile binning without a global sort: exact percentile cut
    points (type-7 interpolation — same definition as DuckDB
    quantile_cont, so the thresholds are bit-identical) in ONE
    distributed aggregate, broadcast to every task, bin with a when()
    chain. Two narrow jobs, both fully parallel.

    At 100 TB swap F.percentile for F.approx_percentile (fixed-size
    KLL-style sketch per partition, mergeable) — the binning pass is
    unchanged. Boundary safety: data is cent-grained while interior
    thresholds are >=0.0025 away from any cent, so a last-ulp
    difference between engines cannot flip a bin assignment."""
    o = t(spark, sf_dir, "orders").select("o_totalprice")
    p = F.col("o_totalprice").cast("double")
    cuts = o.agg(F.percentile(p, F.lit([0.25, 0.5, 0.75])).alias("c"))
    c = F.col("c")
    binned = o.crossJoin(F.broadcast(cuts)).select(
        F.when(p <= c[0], "Q1")
        .when(p <= c[1], "Q2")
        .when(p <= c[2], "Q3")
        .otherwise("Q4")
        .alias("bin"),
        "o_totalprice",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_totalprice").cast("double").alias("min_price"),
        F.max("o_totalprice").cast("double").alias("max_price"),
        dsum("o_totalprice").alias("total_price"),
    )


# ---------------------------------------------------------------------------
# q15 — scalar KPI card (SURVEY A6): single-row global KPIs.
# ---------------------------------------------------------------------------

_KPI_SQL = """
SELECT COUNT(*)                                             AS n_orders,
       COUNT(DISTINCT o_custkey)                            AS n_customers,
       {rev}                                                AS total_revenue,
       {aov}                                                AS avg_order_value,
       {urgent}                                             AS pct_urgent,
       CAST(MIN(strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d')) AS VARCHAR) AS first_order,
       CAST(MAX(strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d')) AS VARCHAR) AS last_order
FROM orders
""".format(
    rev=sql_dsum("o_totalprice"),
    aov=sql_fdiv("SUM(CAST(o_totalprice AS DECIMAL(18,2)))", "COUNT(*)"),
    urgent=sql_fdiv(
        "SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)", "COUNT(*)"
    ),
)


@register("kpi_card", oracle=_KPI_SQL)
def kpi_card(spark, sf_dir):
    """Global KPI aggregates: counts, guarded ratios, conditional
    percentages, min/max dates (reference app.py:801-880)."""
    o = t(spark, sf_dir, "orders")
    n = F.count(F.lit(1))
    return o.agg(
        n.alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        dsum("o_totalprice").alias("total_revenue"),
        fdiv(F.sum(dmoney("o_totalprice")), n).alias("avg_order_value"),
        fdiv(
            F.sum(F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)), n
        ).alias("pct_urgent"),
        F.min(F.date_format("o_orderdate", "yyyy-MM-dd")).alias("first_order"),
        F.max(F.date_format("o_orderdate", "yyyy-MM-dd")).alias("last_order"),
    )


# ---------------------------------------------------------------------------
# q — ranking-function family (rank / dense_rank / lead / percent_rank)
# over a total order per group.
# ---------------------------------------------------------------------------

_RANKING_SQL = """
WITH rev AS (
    SELECT n.n_name AS nation, c.c_custkey,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY 1, 2
), ranked AS (
    SELECT nation, c_custkey, revenue,
           RANK()         OVER w AS rnk,
           DENSE_RANK()   OVER w AS drnk,
           LEAD(c_custkey) OVER w AS next_custkey,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank
    FROM rev
    WINDOW w AS (PARTITION BY nation ORDER BY revenue DESC, c_custkey)
)
SELECT * FROM ranked WHERE rnk <= 3
"""


@register("ranking_functions", oracle=_RANKING_SQL)
def ranking_functions(spark, sf_dir):
    """rank/dense_rank/lead/percent_rank over a per-nation revenue
    ranking (SURVEY §2.5 'available if needed' row, made concrete)."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), "c_custkey")
        .agg(dsum("o_totalprice").alias("revenue"))
    )
    w = W.partitionBy("nation").orderBy(F.desc("revenue"), F.asc("c_custkey"))
    return (
        rev.select(
            "nation", "c_custkey", "revenue",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.lead("c_custkey").over(w).alias("next_custkey"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        )
        .filter(F.col("rnk") <= 3)
    )


# ---------------------------------------------------------------------------
# q — approximate sketches, oracle-gated through their error
# contracts: raw HLL++/percentile_approx estimates are engine-specific
# bit patterns no second engine reproduces, but each estimate's
# documented BOUND against the exact ground truth is an exact,
# SQL-expressible fact — so the query emits the exact values plus
# booleans asserting every bound, and the oracle pins the booleans
# TRUE against independently computed exact answers.
# ---------------------------------------------------------------------------

_SKETCH_BOUNDS_SQL = """
SELECT COUNT(DISTINCT l_orderkey)       AS exact_distinct_orders,
       COUNT(DISTINCT l_extendedprice)  AS exact_distinct_prices,
       TRUE AS orders_within_bound,
       TRUE AS prices_within_bound,
       TRUE AS q50_within_rank_bound
FROM lineitem
"""


@register("approx_sketches", oracle=_SKETCH_BOUNDS_SQL)
def approx_sketches(spark, sf_dir):
    """approx_count_distinct (HLL++) and percentile_approx sketches
    (SURVEY A15 'free in Spark'): the scalable duals of the exact
    countDistinct/percentile used elsewhere — at 100 TB these are the
    defaults and the exact forms are the special case.

    Oracle-gated through the error contracts (formerly the separate
    `approx_sketches_bounds` twin; merged r11 so the inventory carries
    zero rows-only entries): raw sketch estimates are engine-specific
    (HLL++ vs DuckDB's sketch differ bit-for-bit), but each estimate's
    documented bound is an exact, SQL-expressible fact — so this query
    computes the sketches, emits the exact ground truths plus booleans
    asserting each estimate honors its bound, and the oracle pins the
    booleans TRUE against independently-computed exact values.

    Bounds checked (both deterministic for a fixed input, so the gate
    is stable, not flaky):
    - approx_count_distinct(rsd=0.01): relative error within 5 rsd
      (the standard-deviation parameter; 5 sigma is far beyond any
      observed HLL++ deviation, while a broken sketch misses by much
      more).
    - percentile_approx(accuracy=10000): rank error <= n/accuracy.
      Checked as a RANK test, not an interpolated-value test: the
      estimate's position in the sorted data (count of values strictly
      below / at-or-below it) must sit within n*eps + 1 rows of rank
      n/2, eps = 2/accuracy (double the guarantee; +1 row absorbs
      tie/boundary granularity). A value-interval check against
      interpolated percentiles breaks at small n, where the
      (0.5 +/- eps) interpolation band is narrower than the gap
      between adjacent data values — the guarantee was never about
      interpolated values.
    """
    li = t(spark, sf_dir, "lineitem")
    eps = 2.0 / 10000
    # Three independent single-row aggs cross-joined, NOT one agg:
    # combining two count_distincts with sketch/percentile aggregates
    # forces an Expand x3 plus an ObjectHashAggregate keyed on BOTH
    # distinct columns (measured 205 s at sf0.1). Separated, each
    # distinct is the two-phase partial-distinct shape and the sketch
    # agg is a plain partial->final; the cross joins are 1-row.
    d_o = (li.select("l_orderkey").distinct()
           .agg(F.count(F.lit(1)).alias("exact_distinct_orders")))
    d_p = (li.select("l_extendedprice").distinct()
           .agg(F.count(F.lit(1)).alias("exact_distinct_prices")))
    sk = li.agg(
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("ad_o"),
        F.approx_count_distinct("l_extendedprice", rsd=0.01).alias("ad_p"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("aq50"),
    )
    # rank test: one extra scan with the 1-row estimate broadcast —
    # the estimate's sorted-position window must straddle rank n/2
    rank = li.crossJoin(F.broadcast(sk)).agg(
        F.first("ad_o").alias("ad_o"),
        F.first("ad_p").alias("ad_p"),
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("l_extendedprice") < F.col("aq50")).cast("long"))
        .alias("n_lt"),
        F.sum((F.col("l_extendedprice") <= F.col("aq50")).cast("long"))
        .alias("n_le"),
    )
    tol = 0.05  # 5 * rsd
    half = F.col("n") / 2.0
    slack = eps * F.col("n") + 1
    return d_o.crossJoin(d_p).crossJoin(rank).select(
        "exact_distinct_orders",
        "exact_distinct_prices",
        (F.abs(F.col("ad_o") - F.col("exact_distinct_orders"))
         <= tol * F.col("exact_distinct_orders")).alias("orders_within_bound"),
        (F.abs(F.col("ad_p") - F.col("exact_distinct_prices"))
         <= tol * F.col("exact_distinct_prices")).alias("prices_within_bound"),
        ((F.col("n_lt") <= half + slack) & (F.col("n_le") >= half - slack))
        .alias("q50_within_rank_bound"),
    )


# ---------------------------------------------------------------------------
# SQL-surface batch: GROUPING SETS, correlated EXISTS, exact money
# percentiles, sorted listagg — ANSI surface the Query-Runner exposes
# (SURVEY §3.2) pinned as first-class oracle-gated queries.
# ---------------------------------------------------------------------------

_GROUPING_SETS_SQL = """
SELECT COALESCE(r.r_name, 'ALL') AS region,
       COALESCE(o.o_orderpriority, 'ALL') AS priority,
       GROUPING(r.r_name) AS g_region,
       GROUPING(o.o_orderpriority) AS g_priority,
       COUNT(*) AS n_orders,
       {rev} AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
GROUP BY GROUPING SETS ((r.r_name), (o.o_orderpriority), ())
""".format(rev=sql_dsum("o.o_totalprice"))


@register("grouping_sets_revenue", oracle=_GROUPING_SETS_SQL)
def grouping_sets_revenue(spark, sf_dir):
    """GROUPING SETS ((region), (priority), ()) via the DataFrame
    groupingSets API (Spark 4) with grouping() flags — one shuffle
    produces all three rollup grains (Expand feeds a single hash agg),
    cheaper at scale than unioning three separate groupBys."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    j = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(F.col("r_name"), F.col("o_orderpriority"), F.col("o_totalprice"))
    )
    g = j.groupingSets(
        [["r_name"], ["o_orderpriority"], []], "r_name", "o_orderpriority"
    ).agg(
        F.grouping("r_name").alias("g_region"),
        F.grouping("o_orderpriority").alias("g_priority"),
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("revenue"),
    )
    return g.select(
        F.coalesce("r_name", F.lit("ALL")).alias("region"),
        F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
        F.col("g_region").cast("int").alias("g_region"),
        F.col("g_priority").cast("int").alias("g_priority"),
        "n_orders", "revenue",
    )


_PRICE_PERCENTILES_SQL = """
SELECT o_orderpriority AS priority, COUNT(*) AS n_orders,
       ROUND(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.25), 4) AS p25,
       ROUND(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.50), 4) AS p50,
       ROUND(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.75), 4) AS p75,
       ROUND(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.90), 4) AS p90
FROM orders GROUP BY o_orderpriority
"""


@register("priority_price_percentiles", oracle=_PRICE_PERCENTILES_SQL)
def priority_price_percentiles(spark, sf_dir):
    """Exact interpolated percentiles of order value per priority —
    Spark `percentile` and SQL quantile_cont share type-7 linear
    interpolation; inputs cast to DOUBLE pre-agg on both engines and
    rounded to 4 dp (module determinism note). The exact form is a
    per-group sort; approx_sketches is the 100 TB default."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderpriority", F.col("o_totalprice").cast("double").alias("v"))
    return o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.percentile("v", F.lit(0.25)), 4).alias("p25"),
        F.round(F.percentile("v", F.lit(0.50)), 4).alias("p50"),
        F.round(F.percentile("v", F.lit(0.75)), 4).alias("p75"),
        F.round(F.percentile("v", F.lit(0.90)), 4).alias("p90"),
    )


_OPEN_NO_FINAL_SQL = """
SELECT n.n_name AS nation, COUNT(*) AS n_customers
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
GROUP BY n.n_name
"""


@register("customers_open_no_final", oracle=_OPEN_NO_FINAL_SQL)
def customers_open_no_final(spark, sf_dir):
    """Correlated EXISTS / NOT EXISTS through Spark SQL (the
    Query-Runner passthrough surface): customers with an open order and
    no finalized one, counted per nation. Catalyst rewrites the
    subqueries to left-semi + left-anti hash joins — same plan the
    DataFrame semi/anti variant (customer_activity) produces."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    t(spark, sf_dir, "nation").createOrReplaceTempView("v_nation")
    t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql("""
        SELECT n.n_name AS nation, COUNT(*) AS n_customers
        FROM v_customer c
        JOIN v_nation n ON c.c_nationkey = n.n_nationkey
        WHERE EXISTS (SELECT 1 FROM v_orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
          AND NOT EXISTS (SELECT 1 FROM v_orders o
                          WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        GROUP BY n.n_name
    """)


_NATIONS_LISTAGG_SQL = """
SELECT r.r_name AS region, COUNT(*) AS n_nations,
       string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations_csv
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
"""


@register("nations_listagg", oracle=_NATIONS_LISTAGG_SQL)
def nations_listagg(spark, sf_dir):
    """Ordered string aggregation (LISTAGG/string_agg dual):
    array_join(sort_array(collect_list(...))) gives a deterministic
    csv independent of partition arrival order."""
    n = t(spark, sf_dir, "nation").select("n_name", "n_regionkey")
    r = t(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.array_join(F.sort_array(F.collect_list("n_name")), ",")
            .alias("nations_csv"),
        )
    )


# ---------------------------------------------------------------------------
# q — RANGE-frame rolling window: 7 calendar days, not 7 rows — the
# frame that stays correct when dates have gaps. Ordered by integer
# epoch-day both engines (identical RANGE arithmetic).
# ---------------------------------------------------------------------------

_ROLLING_RANGE_SQL = """
WITH daily AS (
    SELECT r.r_name AS region, CAST(o.o_orderdate AS DATE) AS d,
           {rev} AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
)
SELECT region, strftime(d, '%Y-%m-%d') AS ds, revenue,
       ROUND(SUM(revenue) OVER (
           PARTITION BY region ORDER BY d - DATE '1970-01-01'
           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS rolling_7d,
       COUNT(*) OVER (
           PARTITION BY region ORDER BY d - DATE '1970-01-01'
           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS days_in_window
FROM daily
""".format(rev=sql_dsum("o.o_totalprice"))


@register("rolling_7day_range_window", oracle=_ROLLING_RANGE_SQL)
def rolling_7day_range_window(spark, sf_dir):
    """7-CALENDAR-DAY rolling revenue per region via a RANGE frame over
    epoch-day (rangeBetween(-6, 0)) — counts actual days present, stays
    correct across date gaps where a ROWS frame would silently widen.
    One shuffle on region; the frame scan is a local sorted pass.

    Determinism: the window SUM adds pre-rounded 2dp doubles in frame
    order (identical sequential order both engines), rounded again at
    2dp."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    daily = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"),
                 F.col("o_orderdate").cast("date").alias("d"))
        .agg(dsum("o_totalprice").alias("revenue"))
    )
    w = (W.partitionBy("region").orderBy(F.unix_date(F.col("d")))
         .rangeBetween(-6, 0))
    return daily.select(
        "region", F.date_format("d", "yyyy-MM-dd").alias("ds"), "revenue",
        F.round(F.sum("revenue").over(w), 2).alias("rolling_7d"),
        F.count(F.lit(1)).over(w).alias("days_in_window"),
    )


# ---------------------------------------------------------------------------
# q — unpivot: wide per-region KPIs -> long (region, metric, value),
# the DataFrame.unpivot / SQL UNPIVOT duals.
# ---------------------------------------------------------------------------

_UNPIVOT_SQL = """
WITH wide AS (
    SELECT r.r_name AS region,
           CAST(COUNT(*) AS DOUBLE) AS n_orders,
           {rev} AS revenue,
           CAST(COUNT(DISTINCT o.o_custkey) AS DOUBLE) AS n_customers
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY 1
)
SELECT region, metric, value
FROM wide UNPIVOT (value FOR metric IN (n_orders, revenue, n_customers))
""".format(rev=sql_dsum("o.o_totalprice"))


@register("unpivot_region_kpis", oracle=_UNPIVOT_SQL)
def unpivot_region_kpis(spark, sf_dir):
    """Wide->long unpivot of the per-region KPI row (the inverse of
    pivot_status_by_region) via DataFrame.unpivot — Catalyst's Expand,
    3 output rows per input row, no shuffle beyond the source agg."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    wide = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_orders"),
            dsum("o_totalprice").alias("revenue"),
            F.countDistinct("o_custkey").cast("double").alias("n_customers"),
        )
    )
    return wide.unpivot(
        ["region"], ["n_orders", "revenue", "n_customers"], "metric", "value")


# ---------------------------------------------------------------------------
# q — FULL OUTER join (§2.3 gap): finalized-order revenue by day vs
# returned-line value by ship day. Ship dates extend past order dates,
# so both unmatched sides genuinely occur.
# ---------------------------------------------------------------------------

_FULL_OUTER_SQL = """
WITH fin AS (
    SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS ds,
           {rev} AS finalized_revenue
    FROM orders WHERE o_orderstatus = 'F' GROUP BY 1
), ret AS (
    SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d') AS ds,
           {ret} AS returned_value
    FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1
)
SELECT COALESCE(fin.ds, ret.ds) AS ds,
       COALESCE(fin.finalized_revenue, 0.0) AS finalized_revenue,
       COALESCE(ret.returned_value, 0.0) AS returned_value,
       CASE WHEN fin.ds IS NULL THEN 'returns_only'
            WHEN ret.ds IS NULL THEN 'finalized_only'
            ELSE 'both' END AS presence
FROM fin FULL OUTER JOIN ret ON fin.ds = ret.ds
""".format(rev=sql_dsum("o_totalprice"),
           ret=sql_dsum("l_extendedprice"))


@register("full_outer_day_reconcile", oracle=_FULL_OUTER_SQL)
def full_outer_day_reconcile(spark, sf_dir):
    """FULL OUTER reconciliation of two independently-derived daily
    series with COALESCE key/measure fill and a presence tag — the
    join type the rest of the inventory didn't yet pin. Both inputs
    pre-aggregate to day grain before the join, so the outer join is
    between two small frames regardless of fact size."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    fin = (o.filter(F.col("o_orderstatus") == "F")
           .groupBy(F.date_format(F.col("o_orderdate").cast("date"),
                                  "yyyy-MM-dd").alias("ds"))
           .agg(dsum("o_totalprice").alias("finalized_revenue")))
    ret = (li.filter(F.col("l_returnflag") == "R")
           .groupBy(F.date_format(F.col("l_shipdate").cast("date"),
                                  "yyyy-MM-dd").alias("ds"))
           .agg(dsum("l_extendedprice").alias("returned_value")))
    j = fin.join(ret, fin.ds == ret.ds, "full_outer")
    return j.select(
        F.coalesce(fin.ds, ret.ds).alias("ds"),
        F.coalesce("finalized_revenue", F.lit(0.0)).alias("finalized_revenue"),
        F.coalesce("returned_value", F.lit(0.0)).alias("returned_value"),
        F.when(fin.ds.isNull(), "returns_only")
        .when(ret.ds.isNull(), "finalized_only")
        .otherwise("both").alias("presence"),
    )


# ---------------------------------------------------------------------------
# q — incremental aggregation: fold a delta batch's partial aggregates
# into a base partial table and read final measures from merged state.
# The oracle computes the same result directly over the full input —
# passing certifies merged-state == from-scratch.
# ---------------------------------------------------------------------------

_INCREMENTAL_SQL = """
SELECT o_orderpriority AS priority, COUNT(*) AS n_orders,
       {rev} AS revenue,
       strftime(MIN(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS first_date,
       strftime(MAX(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS last_date
FROM orders GROUP BY 1
""".format(rev=sql_dsum("o_totalprice"))


@register("incremental_agg_merge", oracle=_INCREMENTAL_SQL)
def incremental_agg_merge(spark, sf_dir):
    """Partial-aggregate merge (operators/incremental.py): the orders
    fact is split at 1997-01-01 into 'history' and 'delta', each
    collapsed to per-priority mergeable state (count / decimal sum /
    min / max), then folded together WITHOUT touching raw history
    rows. The oracle aggregates the full table directly — the hash
    match proves merge(partial(a), partial(b)) == agg(a ∪ b), the
    invariant that makes O(delta) refreshes legal at 100 TB."""
    from ..operators import incremental as I
    o = t(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderdate",
        dmoney("o_totalprice").alias("price_dec"),
        F.col("o_orderdate").cast("date").alias("d"))
    base = o.filter(F.col("d") < "1997-01-01")
    delta = o.filter(F.col("d") >= "1997-01-01")
    spec = {
        "n_orders": ("count", "price_dec"),
        "revenue_dec": ("sum", "price_dec"),
        "first_d": ("min", "d"),
        "last_d": ("max", "d"),
    }
    keys = ["o_orderpriority"]
    merged = I.merge_partials(
        I.partial_agg(base, keys, spec), I.partial_agg(delta, keys, spec),
        keys, spec)
    return merged.select(
        F.col("o_orderpriority").alias("priority"),
        "n_orders",
        F.col("revenue_dec").cast("double").alias("revenue"),
        F.date_format("first_d", "yyyy-MM-dd").alias("first_date"),
        F.date_format("last_d", "yyyy-MM-dd").alias("last_date"),
    )


# ---------------------------------------------------------------------------
# q — generated calendar dimension: a date spine with derived
# attributes, left-joined to facts — the dimension you generate, not
# ingest. ISODOW convention: Spark weekday()+1 == Postgres/DuckDB
# isodow (Mon=1), per SURVEY §7 hard-part (b).
# ---------------------------------------------------------------------------

_CALENDAR_SQL = """
WITH spine AS (
    SELECT unnest(generate_series(DATE '1995-01-01', DATE '1996-12-31',
                                  INTERVAL 1 DAY))::DATE AS d
), cal AS (
    SELECT d, year(d) AS yr, quarter(d) AS qtr,
           CASE WHEN isodow(d) >= 6 THEN 1 ELSE 0 END AS is_weekend
    FROM spine
), daily AS (
    SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n,
           {rev} AS rev
    FROM orders GROUP BY 1
)
SELECT cal.yr, cal.qtr, cal.is_weekend,
       COUNT(*) AS n_days,
       CAST(SUM(COALESCE(daily.n, 0)) AS BIGINT) AS n_orders,
       ROUND(SUM(COALESCE(daily.rev, 0.0)), 2) AS revenue
FROM cal LEFT JOIN daily ON cal.d = daily.d
GROUP BY 1, 2, 3
""".format(rev=sql_dsum("o_totalprice"))


@register("calendar_dim_rollup", oracle=_CALENDAR_SQL)
def calendar_dim_rollup(spark, sf_dir):
    """Generated calendar dimension (2-year date spine with year /
    quarter / ISO-weekend attributes) left-joined to daily order
    aggregates and rolled up per (year, quarter, weekend). The spine
    is 730 rows — generated, broadcast, never a scale concern; facts
    pre-aggregate to day grain before touching it."""
    o = t(spark, sf_dir, "orders")
    daily = (o.groupBy(F.col("o_orderdate").cast("date").alias("d"))
             .agg(F.count(F.lit(1)).alias("n"),
                  dsum("o_totalprice").alias("rev")))
    spine = spark.range(1).select(F.explode(F.sequence(
        F.lit("1995-01-01").cast("date"), F.lit("1996-12-31").cast("date"),
        F.expr("interval 1 day"))).alias("d"))
    cal = spine.select(
        "d", F.year("d").alias("yr"), F.quarter("d").alias("qtr"),
        ((F.weekday("d") + 1) >= 6).cast("int").alias("is_weekend"))
    j = cal.join(daily, "d", "left")
    return j.groupBy("yr", "qtr", "is_weekend").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.coalesce("n", F.lit(0))).alias("n_orders"),
        F.round(F.sum(F.coalesce("rev", F.lit(0.0))), 2).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# q — HAVING + scalar subquery via SQL passthrough.
# ---------------------------------------------------------------------------

_HAVING_SCALAR_SQL = """
SELECT n.n_name AS nation, COUNT(*) AS n_customers
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
HAVING COUNT(*) > (SELECT COUNT(*) * 1.0 / COUNT(DISTINCT c_nationkey)
                   FROM customer)
"""


@register("having_above_avg_nations", oracle=_HAVING_SCALAR_SQL)
def having_above_avg_nations(spark, sf_dir):
    """HAVING with an uncorrelated SCALAR SUBQUERY threshold (nations
    with more customers than the per-nation average) through the
    spark.sql passthrough — Catalyst plans the scalar subquery as a
    broadcast single-row join, so the threshold never collects to the
    driver."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("v_customer_h")
    t(spark, sf_dir, "nation").createOrReplaceTempView("v_nation_h")
    return spark.sql("""
        SELECT n.n_name AS nation, COUNT(*) AS n_customers
        FROM v_customer_h c JOIN v_nation_h n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        HAVING COUNT(*) > (SELECT COUNT(*) * 1.0 / COUNT(DISTINCT c_nationkey)
                           FROM v_customer_h)
    """)


# ---------------------------------------------------------------------------
# q — RFM segmentation: per-customer recency/frequency/monetary scored
# into quartile buckets via BROADCAST thresholds (no global ntile
# sort — the quantile_bins_broadcast scale path applied 3-ways).
# ---------------------------------------------------------------------------

_RFM_SQL = """
WITH per_cust AS (
    SELECT o_custkey AS cust,
           date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                     (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders))
               AS recency_days,
           COUNT(*) AS frequency,
           SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS mon_dec,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
    FROM orders GROUP BY o_custkey
), th AS (
    SELECT quantile_cont(recency_days, [0.25, 0.5, 0.75]) AS r_th,
           quantile_cont(frequency,    [0.25, 0.5, 0.75]) AS f_th,
           quantile_cont(monetary,     [0.25, 0.5, 0.75]) AS m_th
    FROM per_cust
), scored AS (
    SELECT cust, recency_days, frequency, mon_dec, monetary,
           CASE WHEN recency_days <= r_th[1] THEN 4
                WHEN recency_days <= r_th[2] THEN 3
                WHEN recency_days <= r_th[3] THEN 2 ELSE 1 END AS r,
           CASE WHEN frequency <= f_th[1] THEN 1
                WHEN frequency <= f_th[2] THEN 2
                WHEN frequency <= f_th[3] THEN 3 ELSE 4 END AS f,
           CASE WHEN monetary <= m_th[1] THEN 1
                WHEN monetary <= m_th[2] THEN 2
                WHEN monetary <= m_th[3] THEN 3 ELSE 4 END AS m
    FROM per_cust CROSS JOIN th
)
SELECT r, f, m, COUNT(*) AS n_customers,
       CAST(SUM(mon_dec) AS DOUBLE) AS total_monetary
FROM scored GROUP BY r, f, m
"""


@register("rfm_segmentation", oracle=_RFM_SQL)
def rfm_segmentation(spark, sf_dir):
    """RFM customer segmentation: recency scored 4->1 (recent = best),
    frequency/monetary 1->4, quartile thresholds computed once (exact
    percentiles on the per-customer frame — customer-grain, orders of
    magnitude smaller than facts) and broadcast back; no global sort
    anywhere. 64-cell segment grid with exact-decimal spend means."""
    o = t(spark, sf_dir, "orders")
    maxd = o.agg(F.max(F.col("o_orderdate").cast("date"))).collect()[0][0]
    per_cust = o.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.datediff(F.lit(maxd), F.max(F.col("o_orderdate").cast("date")))
        .alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(dmoney("o_totalprice")).alias("mon_dec"),
        F.sum(dmoney("o_totalprice")).cast("double").alias("monetary"),
    )
    th = per_cust.agg(*[
        F.percentile(c, F.lit(q)).alias(f"{c}_{int(q * 100)}")
        for c in ("recency_days", "frequency", "monetary")
        for q in (0.25, 0.5, 0.75)
    ])
    j = per_cust.join(F.broadcast(th))

    def bucket(col, prefix, reverse=False):
        t1, t2, t3 = (F.col(f"{col}_{p}") for p in (25, 50, 75))
        c = F.col(col)
        up = (F.when(c <= t1, 1).when(c <= t2, 2).when(c <= t3, 3)
              .otherwise(4))
        down = (F.when(c <= t1, 4).when(c <= t2, 3).when(c <= t3, 2)
                .otherwise(1))
        return (down if reverse else up).alias(prefix)

    scored = j.select(
        "mon_dec",
        bucket("recency_days", "r", reverse=True),
        bucket("frequency", "f"),
        bucket("monetary", "m"),
    )
    return scored.groupBy("r", "f", "m").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("mon_dec").cast("double").alias("total_monetary"),
    )


# ---------------------------------------------------------------------------
# q — duplicate-order detection: same customer, same total, order
# dates within 7 days — the fraud/double-submit dedup pattern. The
# (custkey, totalprice) equi-join does the blocking; the day window is
# a residual filter.
# ---------------------------------------------------------------------------

_DUP_ORDERS_SQL = """
WITH p AS (
    SELECT o_orderkey AS k, o_custkey AS cust, o_totalprice AS price,
           CAST(o_orderdate AS DATE) AS d
    FROM orders
), pairs AS (
    SELECT a.cust, a.k AS k_a, b.k AS k_b,
           abs(date_diff('day', a.d, b.d)) AS day_gap
    FROM p a JOIN p b
      ON a.cust = b.cust AND a.k < b.k
    WHERE abs(a.price - b.price) < 1000
      AND abs(date_diff('day', a.d, b.d)) <= 30
)
SELECT COUNT(*) AS n_suspect_pairs,
       COUNT(DISTINCT cust) AS n_customers,
       CAST(MIN(day_gap) AS BIGINT) AS min_gap,
       md5(COALESCE(string_agg(CAST(k_a AS VARCHAR) || '>' || CAST(k_b AS VARCHAR),
                               ',' ORDER BY k_a, k_b), '')) AS pair_digest
FROM pairs
"""


@register("duplicate_order_detection", oracle=_DUP_ORDERS_SQL)
def duplicate_order_detection(spark, sf_dir):
    """Double-submit detection: customer-blocked self-join (per-block
    pair count bounded by a customer's order count), then near-amount
    (<$1000) and ±30-day residual predicates — synthetic prices never
    collide exactly, so near-duplicate matching IS the realistic
    semantics. Digest certifies the exact suspect-pair set (md5('')
    when empty — the oracle COALESCEs to match)."""
    p = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), F.col("o_custkey").alias("cust"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderdate").cast("date").alias("d"))
    a, b = p.alias("a"), p.alias("b")
    gap = F.abs(F.datediff(F.col("a.d"), F.col("b.d")))
    pairs = (
        a.join(b, (F.col("a.cust") == F.col("b.cust"))
               & (F.col("a.k") < F.col("b.k")))
        .filter((F.abs(F.col("a.price") - F.col("b.price")) < 1000)
                & (gap <= 30))
        .select(F.col("a.cust").alias("cust"),
                F.col("a.k").alias("k_a"), F.col("b.k").alias("k_b"),
                gap.alias("day_gap"))
    )
    pr = F.struct("k_a", "k_b",
                  F.concat_ws(">", F.col("k_a").cast("string"),
                              F.col("k_b").cast("string")).alias("s"))
    return pairs.withColumn("pr", pr).agg(
        F.count(F.lit(1)).alias("n_suspect_pairs"),
        F.countDistinct("cust").alias("n_customers"),
        F.min("day_gap").cast("long").alias("min_gap"),
        F.md5(F.concat_ws(",", F.transform(
            F.sort_array(F.collect_list("pr")), lambda x: x["s"])))
        .alias("pair_digest"),
    )


# ---------------------------------------------------------------------------
# q — market-basket affinity: part pairs co-occurring in an order,
# ranked by lift vs independence. Blocking key = the order itself.
# ---------------------------------------------------------------------------

_AFFINITY_SQL = """
WITH li AS (
    SELECT DISTINCT l_orderkey AS ok, l_partkey AS part FROM lineitem
), n AS (
    SELECT COUNT(DISTINCT ok) AS n_orders FROM li
), part_freq AS (
    SELECT part, COUNT(*) AS cnt FROM li GROUP BY part
), pairs AS (
    SELECT a.part AS part_a, b.part AS part_b, COUNT(*) AS together
    FROM li a JOIN li b ON a.ok = b.ok AND a.part < b.part
    GROUP BY a.part, b.part
)
SELECT part_a, part_b, together,
       ROUND(CAST(together AS DOUBLE) * n.n_orders
             / (fa.cnt * CAST(fb.cnt AS DOUBLE)), 6) AS lift
FROM pairs
JOIN part_freq fa ON pairs.part_a = fa.part
JOIN part_freq fb ON pairs.part_b = fb.part
CROSS JOIN n
WHERE together >= 3
ORDER BY lift DESC, part_a ASC, part_b ASC
LIMIT 20
"""


@register("part_affinity_lift", oracle=_AFFINITY_SQL)
def part_affinity_lift(spark, sf_dir):
    """Market-basket lift: P(a,b)/(P(a)P(b)) for part pairs appearing
    in >= 3 common orders, top-20 by lift with a total-order tiebreak.
    The pair explosion is bounded per order (few lines each), the
    frequency table is part-grain (broadcast), and the count shuffle is
    on the pair key — the canonical affinity plan at any scale."""
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part")
    ).distinct()
    n_orders = li.select("ok").distinct().count()
    freq = li.groupBy("part").agg(F.count(F.lit(1)).alias("cnt"))
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(b, (F.col("a.ok") == F.col("b.ok"))
               & (F.col("a.part") < F.col("b.part")))
        .groupBy(F.col("a.part").alias("part_a"),
                 F.col("b.part").alias("part_b"))
        .agg(F.count(F.lit(1)).alias("together"))
        .filter(F.col("together") >= 3)
    )
    fa = freq.select(F.col("part").alias("part_a"), F.col("cnt").alias("cnt_a"))
    fb = freq.select(F.col("part").alias("part_b"), F.col("cnt").alias("cnt_b"))
    lift = F.round(
        F.col("together").cast("double") * F.lit(n_orders)
        / (F.col("cnt_a") * F.col("cnt_b").cast("double")), 6)
    return (
        pairs.join(F.broadcast(fa), "part_a").join(F.broadcast(fb), "part_b")
        .select("part_a", "part_b", "together", lift.alias("lift"))
        .orderBy(F.desc("lift"), F.asc("part_a"), F.asc("part_b")).limit(20)
    )


# ---------------------------------------------------------------------------
# q — array set algebra over windowed baskets: Jaccard overlap between
# a customer's consecutive order part-sets (repeat-purchase affinity).
# array_intersect/array_union on collect_set arrays + lag window.
# ---------------------------------------------------------------------------

_BASKET_OVERLAP_SQL = """
WITH baskets AS (
    SELECT o.o_custkey AS cust, o.o_orderkey AS ok,
           CAST(o.o_orderdate AS DATE) AS d,
           list_sort(list_distinct(list(l.l_partkey))) AS parts
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2, 3
), seq AS (
    SELECT cust, ok, parts,
           lag(parts) OVER (PARTITION BY cust ORDER BY d, ok) AS prev_parts
    FROM baskets
), ovl AS (
    SELECT cust,
           ROUND(CAST(len(list_intersect(parts, prev_parts)) AS DOUBLE)
                 / len(list_distinct(list_concat(parts, prev_parts))), 6)
               AS jaccard
    FROM seq WHERE prev_parts IS NOT NULL
)
SELECT COUNT(*) AS n_consecutive_pairs,
       CAST(SUM(CASE WHEN jaccard > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_with_overlap,
       ROUND(CAST(SUM(CAST(jaccard AS DECIMAL(12,6))) AS DOUBLE)
             / COUNT(*), 6) AS avg_jaccard,
       CAST(MAX(CAST(jaccard AS DECIMAL(12,6))) AS DOUBLE) AS max_jaccard
FROM ovl
"""


@register("repeat_purchase_overlap", oracle=_BASKET_OVERLAP_SQL)
def repeat_purchase_overlap(spark, sf_dir):
    """Set algebra on windowed ARRAY columns: per customer, Jaccard
    between consecutive orders' part sets — collect_set baskets, lag
    over the order sequence, array_intersect / array_union sizes.
    Baskets are bounded per order, so the arrays stay small; the only
    shuffles are the basket agg and the per-customer window."""
    o = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust"), F.col("o_orderkey").alias("ok"),
        F.col("o_orderdate").cast("date").alias("d"))
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), "l_partkey")
    baskets = (o.join(li, "ok")
               .groupBy("cust", "ok", "d")
               .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts")))
    w = W.partitionBy("cust").orderBy("d", "ok")
    seq = baskets.withColumn("prev_parts", F.lag("parts").over(w))
    jac = F.round(
        F.size(F.array_intersect("parts", "prev_parts")).cast("double")
        / F.size(F.array_union("parts", "prev_parts")), 6)
    overlaps = (seq.filter(F.col("prev_parts").isNotNull())
                .select("cust", jac.alias("jaccard")))
    return overlaps.agg(
        F.count(F.lit(1)).alias("n_consecutive_pairs"),
        F.sum((F.col("jaccard") > 0).cast("int")).alias("n_with_overlap"),
        F.round(F.sum(F.col("jaccard").cast("decimal(12,6)")).cast("double")
                / F.count(F.lit(1)), 6).alias("avg_jaccard"),
        F.max(F.col("jaccard").cast("decimal(12,6)")).cast("double")
        .alias("max_jaccard"),
    )


# ---------------------------------------------------------------------------
# q — share-of-total via window sums (ratio_to_report): nation revenue
# as a share of its region and of the grand total, one row per nation.
# ---------------------------------------------------------------------------

_REVENUE_SHARE_SQL = """
WITH nat AS (
    SELECT r.r_name AS region, n.n_name AS nation,
           {rev} AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
)
SELECT region, nation, revenue,
       ROUND(revenue / SUM(revenue) OVER (PARTITION BY region), 6)
           AS share_of_region,
       ROUND(revenue / SUM(revenue) OVER (), 6) AS share_of_total
FROM nat
""".format(rev=sql_dsum("o.o_totalprice"))


@register("nation_revenue_share", oracle=_REVENUE_SHARE_SQL)
def nation_revenue_share(spark, sf_dir):
    """ratio_to_report: each nation's revenue share within its region
    and overall, from two window sums over the 25-row nation grain —
    the facts collapse before any window touches them, so the
    unpartitioned window is a non-issue at any scale.

    Determinism: window sums add the pre-rounded 2dp revenues; with 25
    values the fp accumulation is exact to far beyond 6dp."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    nat = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(dsum("o_totalprice").alias("revenue"))
    )
    wr = W.partitionBy("region")
    wt = W.partitionBy()
    return nat.select(
        "region", "nation", "revenue",
        F.round(F.col("revenue") / F.sum("revenue").over(wr), 6)
        .alias("share_of_region"),
        F.round(F.col("revenue") / F.sum("revenue").over(wt), 6)
        .alias("share_of_total"),
    )


# ---------------------------------------------------------------------------
# q — seasonal-naive forecasting, ORACLE-GATED through the real
# applyInPandas worker (SURVEY U2): the fan-out path previously had
# only unit/batch-parity coverage because Prophet/SARIMAX aren't
# SQL-expressible — but the deterministic fallback model IS, so the
# gate runs plans/forecasting.make_forecast_worker end-to-end
# (grouped applyInPandas, in-worker sort, MIN_SERIES_LEN guard,
# horizon fan-out, ±20% bounds) and DuckDB replays the arithmetic:
# yhat[h] = y[d1 - 6 + ((h-1) mod 7)] + drift*h, clipped at 0.
# ---------------------------------------------------------------------------

_FC_HORIZON = 12

_SEASONAL_NAIVE_SQL = f"""
WITH daily AS (
    SELECT o_orderpriority AS entity_id, CAST(o_orderdate AS DATE) AS ds,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y
    FROM orders GROUP BY 1, 2
), bounds AS (
    SELECT entity_id, MIN(ds) AS d0, MAX(ds) AS d1, COUNT(*) AS _nd
    FROM daily GROUP BY 1
), spine AS (
    SELECT entity_id,
           CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS ds
    FROM bounds
), series AS (
    SELECT s.entity_id, s.ds, COALESCE(d.y, 0.0) AS y
    FROM spine s LEFT JOIN daily d
      ON s.entity_id = d.entity_id AND s.ds = d.ds
), stats AS (
    SELECT entity_id, COUNT(*) AS n, MIN(ds) AS d0, MAX(ds) AS d1,
           arg_min(y, ds) AS y_first, arg_max(y, ds) AS y_last
    FROM series GROUP BY 1
), horizons AS (
    SELECT st.*, unnest(range(1, {_FC_HORIZON} + 1)) AS h FROM stats st
    WHERE st.n >= 14
), joined AS (
    SELECT hz.entity_id,
           CAST(hz.d1 + CAST(hz.h AS INT) * INTERVAL 1 DAY AS DATE) AS ds,
           GREATEST(se.y + ((hz.y_last - hz.y_first) / CAST(GREATEST(hz.n - 1, 1) AS DOUBLE)) * hz.h,
                    0.0) AS yhat
    FROM horizons hz JOIN series se
      ON se.entity_id = hz.entity_id
     AND se.ds = CAST(hz.d1 - CAST(6 - ((hz.h - 1) % 7) AS INT) * INTERVAL 1 DAY AS DATE)
)
SELECT entity_id, strftime(ds, '%Y-%m-%d') AS ds,
       ROUND(yhat, 6) AS yhat,
       ROUND(yhat * 0.8, 6) AS yhat_lower,
       ROUND(yhat * 1.2, 6) AS yhat_upper
FROM joined
"""


@register("forecast_seasonal_naive", oracle=_SEASONAL_NAIVE_SQL)
def forecast_seasonal_naive(spark, sf_dir):
    """Per-priority daily revenue series (decimal-exact sums, date-spine
    zero-fill exactly as plans/forecasting.build_series) pushed through
    the REAL forecast worker (applyInPandas fan-out,
    model='seasonal_naive' pins the deterministic fallback: weekly
    seasonal-naive + linear drift, floor 0, ±20% bounds). The oracle
    recomputes every forecast value in SQL — upgrading the U2 surface
    from unit-only to hash-gated."""
    from ..plans.forecasting import FORECAST_SCHEMA, make_forecast_worker

    o = t(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderpriority").alias("entity_id"),
                  F.col("o_orderdate").cast("date").alias("ds"))
        .agg(dsum("o_totalprice").alias("y"))
    )
    spine = (
        daily.groupBy("entity_id")
        .agg(F.min("ds").alias("d0"), F.max("ds").alias("d1"))
        .select("entity_id", F.explode(F.sequence("d0", "d1")).alias("ds"))
    )
    series = (
        spine.join(daily, ["entity_id", "ds"], "left")
        .select("entity_id", "ds",
                F.coalesce("y", F.lit(0.0)).cast("double").alias("y"))
    )
    worker = make_forecast_worker("priority", _FC_HORIZON, "oracle-gate",
                                  model="seasonal_naive")
    fc = series.groupBy("entity_id").applyInPandas(worker, FORECAST_SCHEMA)
    return fc.select(
        "entity_id", F.date_format("ds", "yyyy-MM-dd").alias("ds"),
        F.round("yhat", 6).alias("yhat"),
        F.round("yhat_lower", 6).alias("yhat_lower"),
        F.round("yhat_upper", 6).alias("yhat_upper"),
    )


# ---------------------------------------------------------------------------
# q — forecast BACKTEST: hold out the final 30 days per entity, forecast
# them from the prefix with the real applyInPandas worker, and score
# forecast-vs-actual. The reference CLAIMS "Forecast Accuracy: 85%+ for
# 30-day demand predictions" (README.md:364) but never computes it —
# this query is that computation, oracle-gated: DuckDB replays the
# worker arithmetic on the train prefix AND the metric aggregation
# (8dp-rounded per-day terms summed as DECIMAL(18,8) — exact and
# order-independent on both engines).
# ---------------------------------------------------------------------------

_BT_HORIZON = 30
# The Spark query below passes this constant as backtest_forecast's
# model arg; _BACKTEST_SQL hardcodes the matching seasonal-naive
# recursion and its +/-20% interval. Sharing the constant makes a
# model change structurally touch this block (and force the oracle
# rewrite) instead of silently diverging.
_BT_MODEL = "seasonal_naive"

_BACKTEST_SQL = f"""
WITH daily AS (
    SELECT o_orderpriority AS entity_id, CAST(o_orderdate AS DATE) AS ds,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y
    FROM orders GROUP BY 1, 2
), bounds AS (
    SELECT entity_id, MIN(ds) AS d0, MAX(ds) AS d1 FROM daily GROUP BY 1
), spine AS (
    SELECT entity_id,
           CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS ds
    FROM bounds
), series AS (
    SELECT s.entity_id, s.ds, COALESCE(d.y, 0.0) AS y
    FROM spine s LEFT JOIN daily d
      ON s.entity_id = d.entity_id AND s.ds = d.ds
), cut AS (
    SELECT entity_id, CAST(MAX(ds) - INTERVAL {_BT_HORIZON} DAY AS DATE) AS cutd
    FROM series GROUP BY 1
), train AS (
    SELECT s.entity_id, s.ds, s.y
    FROM series s JOIN cut USING (entity_id) WHERE s.ds <= cutd
), tstats AS (
    SELECT entity_id, COUNT(*) AS n_train, MAX(ds) AS t1,
           arg_min(y, ds) AS y_first, arg_max(y, ds) AS y_last
    FROM train GROUP BY 1
), horizons AS (
    SELECT st.*, unnest(range(1, {_BT_HORIZON} + 1)) AS h FROM tstats st
    WHERE st.n_train >= 14
), fc AS (
    SELECT hz.entity_id, hz.n_train,
           CAST(hz.t1 + CAST(hz.h AS INT) * INTERVAL 1 DAY AS DATE) AS ds,
           GREATEST(tr.y + ((hz.y_last - hz.y_first)
                            / CAST(GREATEST(hz.n_train - 1, 1) AS DOUBLE)) * hz.h,
                    0.0) AS yhat
    FROM horizons hz JOIN train tr
      ON tr.entity_id = hz.entity_id
     AND tr.ds = CAST(hz.t1 - CAST(6 - ((hz.h - 1) % 7) AS INT) * INTERVAL 1 DAY AS DATE)
), actual AS (
    SELECT s.entity_id, s.ds, s.y
    FROM series s JOIN cut USING (entity_id) WHERE s.ds > cutd
), terms AS (
    SELECT f.entity_id, f.n_train, f.yhat, a.y,
           CASE WHEN abs(a.y) > 0
                THEN CAST(ROUND(abs(f.yhat - a.y) / abs(a.y), 8)
                          AS DECIMAL(18,8)) END AS ape,
           CASE WHEN abs(a.y) + abs(f.yhat) > 0
                THEN CAST(ROUND(2.0 * abs(f.yhat - a.y)
                                / (abs(a.y) + abs(f.yhat)), 8)
                          AS DECIMAL(18,8)) END AS smt,
           CAST(ROUND(f.yhat - a.y, 8) AS DECIMAL(18,8)) AS biast,
           CASE WHEN a.y >= f.yhat * 0.8 AND a.y <= f.yhat * 1.2
                THEN 1 ELSE 0 END AS hit
    FROM fc f JOIN actual a ON f.entity_id = a.entity_id AND f.ds = a.ds
), agg AS (
    SELECT entity_id, MAX(n_train) AS n_train, COUNT(*) AS n_eval,
           SUM(ape) AS ape_sum, COUNT(ape) AS ape_n,
           SUM(smt) AS sm_sum, COUNT(smt) AS sm_n,
           SUM(biast) AS bias_sum, SUM(hit) AS hits
    FROM terms GROUP BY 1
)
SELECT entity_id, n_train, n_eval,
       ROUND(CASE WHEN ape_n > 0 THEN CAST(ape_sum AS DOUBLE) / ape_n END, 6) AS mape,
       ROUND(CASE WHEN sm_n > 0 THEN CAST(sm_sum AS DOUBLE) / sm_n END, 6) AS smape,
       ROUND(CAST(bias_sum AS DOUBLE) / n_eval, 6) AS bias,
       ROUND(GREATEST(0.0, 100.0 * (1.0 -
           ROUND(CASE WHEN ape_n > 0 THEN CAST(ape_sum AS DOUBLE) / ape_n END, 6))), 2)
         AS accuracy_pct,
       ROUND(CAST(hits AS DOUBLE) / n_eval, 6) AS interval_coverage
FROM agg
"""


@register("forecast_backtest_accuracy", oracle=_BACKTEST_SQL)
def forecast_backtest_accuracy(spark, sf_dir):
    """30-day hold-out backtest of the forecast fan-out over the same
    per-priority daily revenue series as forecast_seasonal_naive: the
    REAL applyInPandas worker forecasts the withheld final 30 days from
    the train prefix, and plans/forecasting.backtest_forecast scores
    per-entity MAPE / sMAPE / bias / accuracy_pct / interval coverage
    with order-independent decimal-sum aggregation. Computes the
    accuracy number the reference claims (README.md:364: "85%+ for
    30-day demand predictions") but never measures.

    ORACLE PIN: the DuckDB dual hardcodes BOTH the seasonal-naive
    recursion (last-week lookup + linear drift) and the worker's ±20 %
    interval (``y BETWEEN yhat*0.8 AND yhat*1.2``,
    plans/forecasting.py:74). They agree only because this query pins
    ``model="seasonal_naive"`` below — switching the model arg (or
    "auto" on a host with prophet/statsmodels installed) changes yhat
    and yhat_lower/upper, so _BACKTEST_SQL must be rewritten in the
    same change. The assert keeps that coupling loud."""
    from ..plans.forecasting import backtest_forecast

    o = t(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderpriority").alias("entity_id"),
                  F.col("o_orderdate").cast("date").alias("ds"))
        .agg(dsum("o_totalprice").alias("y"))
    )
    spine = (
        daily.groupBy("entity_id")
        .agg(F.min("ds").alias("d0"), F.max("ds").alias("d1"))
        .select("entity_id", F.explode(F.sequence("d0", "d1")).alias("ds"))
    )
    series = (
        spine.join(daily, ["entity_id", "ds"], "left")
        .select("entity_id", "ds",
                F.coalesce("y", F.lit(0.0)).cast("double").alias("y"))
    )
    # _BT_MODEL is defined beside _BACKTEST_SQL: the oracle hardcodes
    # the seasonal-naive recursion and the +/-20% interval, so a model
    # change must edit that block (and rewrite the SQL) first.
    return backtest_forecast(series, horizon=_BT_HORIZON, level="priority",
                             model=_BT_MODEL)


# ---------------------------------------------------------------------------
# q — Z-order clustering key (functions/layout.py): the multi-dim
# data-clustering layout behind Delta's OPTIMIZE ZORDER BY. The query
# gates the exact subtract-scale-interleave arithmetic (the oracle
# regenerates the identical bit expression via layout.zorder_sql) and
# SHOWS the locality it buys: grouped by the z-value's top 6 bits,
# every bucket's per-dimension extent is a small fraction of the
# global span — which is precisely why parquet min/max pruning works
# for BOTH dimensions of a z-sorted layout (measured file-level in
# docs/SCALING.md addendum 9).
# ---------------------------------------------------------------------------

def _zorder_oracle() -> str:
    from ..functions import layout as L

    z = L.zorder_sql([("l_partkey", "pmin", "pmax"),
                      ("l_suppkey", "smin", "smax")])
    return f"""
WITH mm AS (
    SELECT MIN(l_partkey) AS pmin, MAX(l_partkey) AS pmax,
           MIN(l_suppkey) AS smin, MAX(l_suppkey) AS smax
    FROM lineitem
), z AS (
    SELECT l_partkey, l_suppkey, {z} AS zval
    FROM lineitem CROSS JOIN mm
)
SELECT zval >> 14 AS z_bucket, COUNT(*) AS n_li,
       MIN(l_partkey) AS part_lo, MAX(l_partkey) AS part_hi,
       MIN(l_suppkey) AS supp_lo, MAX(l_suppkey) AS supp_hi
FROM z GROUP BY 1
"""


@register("zorder_locality", oracle=_zorder_oracle())
def zorder_locality(spark, sf_dir):
    """Z-values for lineitem over (l_partkey, l_suppkey), bucketed by
    the top 6 bits: per-bucket row count and per-dimension min/max
    extents. Min/max normalization bounds come from one tiny agg
    (catalog stats at scale), broadcast to the scan; the interleave is
    pure shift/mask codegen — no UDF, no extra shuffle beyond the
    final 64-group agg."""
    from ..functions import layout as L

    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    mm = li.agg(
        F.min("l_partkey").alias("pmin"), F.max("l_partkey").alias("pmax"),
        F.min("l_suppkey").alias("smin"), F.max("l_suppkey").alias("smax"))
    staged = (
        li.crossJoin(F.broadcast(mm))
        .withColumn("px", L.normalize_dim(
            F.col("l_partkey"), F.col("pmin"), F.col("pmax")))
        .withColumn("py", L.normalize_dim(
            F.col("l_suppkey"), F.col("smin"), F.col("smax")))
        .withColumn("zval", L.interleave_bits([F.col("px"), F.col("py")]))
    )
    return staged.groupBy(
        F.shiftright("zval", 14).alias("z_bucket")).agg(
        F.count(F.lit(1)).alias("n_li"),
        F.min("l_partkey").alias("part_lo"),
        F.max("l_partkey").alias("part_hi"),
        F.min("l_suppkey").alias("supp_lo"),
        F.max("l_suppkey").alias("supp_hi"),
    )


# ---------------------------------------------------------------------------
# q — Hilbert-curve clustering key (functions/layout.py::hilbert_key):
# the z-order walk with the diagonal jumps removed — consecutive keys
# are always Manhattan-adjacent cells, so a key-range slice maps to a
# tighter bounding box and prunes FEWER files for the same box
# predicate (measured head-to-head at sf0.1/64 files: the 10%x10% box
# reads 2/64 files vs z-order's 4/64, docs/SCALING.md addendum
# 10). The oracle regenerates the identical
# 4-state shift/mask machine via layout.hilbert_sql, so the gate pins
# the exact key arithmetic AND the per-bucket locality it buys.
# ---------------------------------------------------------------------------

def _hilbert_oracle() -> str:
    from ..functions import layout as L

    h = L.hilbert_sql([("l_partkey", "pmin", "pmax"),
                       ("l_suppkey", "smin", "smax")])
    return f"""
WITH mm AS (
    SELECT MIN(l_partkey) AS pmin, MAX(l_partkey) AS pmax,
           MIN(l_suppkey) AS smin, MAX(l_suppkey) AS smax
    FROM lineitem
), h AS (
    SELECT l_partkey, l_suppkey, {h} AS hval
    FROM lineitem CROSS JOIN mm
)
SELECT hval >> 14 AS h_bucket, COUNT(*) AS n_li,
       MIN(l_partkey) AS part_lo, MAX(l_partkey) AS part_hi,
       MIN(l_suppkey) AS supp_lo, MAX(l_suppkey) AS supp_hi
FROM h GROUP BY 1
"""


@register("hilbert_locality", oracle=_hilbert_oracle())
def hilbert_locality(spark, sf_dir):
    """Hilbert keys for lineitem over (l_partkey, l_suppkey), bucketed
    by the top 6 bits: per-bucket row count and per-dimension min/max
    extents — zorder_locality's twin on the jump-free curve. Same plan
    shape: one tiny min/max agg broadcast into the scan, the 4-state
    machine as pure shift/mask codegen (expression depth linear in
    bits), a single 64-group agg."""
    from ..functions import layout as L

    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    mm = li.agg(
        F.min("l_partkey").alias("pmin"), F.max("l_partkey").alias("pmax"),
        F.min("l_suppkey").alias("smin"), F.max("l_suppkey").alias("smax"))
    staged = (
        li.crossJoin(F.broadcast(mm))
        .withColumn("hval", L.hilbert_key([
            (F.col("l_partkey"), F.col("pmin"), F.col("pmax")),
            (F.col("l_suppkey"), F.col("smin"), F.col("smax"))]))
    )
    return staged.groupBy(
        F.shiftright("hval", 14).alias("h_bucket")).agg(
        F.count(F.lit(1)).alias("n_li"),
        F.min("l_partkey").alias("part_lo"),
        F.max("l_partkey").alias("part_hi"),
        F.min("l_suppkey").alias("supp_lo"),
        F.max("l_suppkey").alias("supp_hi"),
    )
