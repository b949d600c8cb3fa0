#!/usr/bin/env python
"""Round-8 stretch experiment: does a bucketed layout pay for itself
once the star's fact⋈orders join has outgrown the broadcast?

docs/SCALING.md measured dashboard_wide's broadcast→shuffle-join
transition at sf10 (3.6 GB shuffle write, the first nonzero bytes in
its curve). On a real cluster the standard mitigation is a bucketed
(co-located) layout: both join sides hash-distributed identically on
disk, so the sort-merge join reads pre-bucketed files and plans NO
exchange (sources/layout.py::write_bucketed_table). This tool measures
that claim on the grown sf10 corpus:

- layout cost: one-time bucketBy(32, orderkey) writes of lineitem and
  orders (repartitioned to one file per bucket so the bucketed sort
  order is usable);
- the dashboard star (the exact join/select shape of
  queries/core.py::dashboard_wide, dims broadcast from parquet) on
  plain parquet vs bucketed tables;
- a fact-fact rollup (lineitem ⋈ orders -> month revenue, the
  pure-join probe with no wide projection) both ways.

Wall is min-of-2 and shuffle-write deltas come from the UI API, same
harness as scale_sf10.py. A negative result is still evidence — the
single-node page cache hides much of the I/O win a cluster would see,
while the sort cost the bucketed layout removes is real CPU either
way.

Usage: python tools/scale_bucketed.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from medallion_data_pipeline_spark.metrics import plan_fingerprint
from medallion_data_pipeline_spark.session import get_spark
from medallion_data_pipeline_spark.sources.testdata import load_table
from tools.scale_heavy import best_of, grow_sf1

N_BUCKETS = 32


def dashboard_star(li, o, p, s):
    """The dashboard_wide join/select (queries/core.py:284) over
    caller-supplied frames, so parquet and bucketed inputs run the
    IDENTICAL logical plan."""
    ship_days = F.datediff(F.col("l_shipdate").cast("date"),
                           F.col("o_orderdate").cast("date"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left")
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey, "left")
        .join(o, li.l_orderkey == o.o_orderkey, "left")
        .select(
            "l_orderkey", "l_linenumber",
            F.coalesce("p_name", F.lit("Unknown")).alias("part_name"),
            F.coalesce("s_name", F.lit("Unknown")).alias("supplier_name"),
            F.coalesce("o_orderpriority", F.lit("Unknown"))
            .alias("order_priority"),
            F.col("l_extendedprice").cast("double").alias("extended_price"),
            F.when(F.col("l_extendedprice") >= 50000, "High")
            .when(F.col("l_extendedprice") >= 10000, "Medium")
            .otherwise("Low").alias("value_tier"),
            F.when(ship_days <= 30, "Excellent")
            .when(ship_days <= 90, "Good")
            .when(ship_days <= 180, "Fair")
            .otherwise("Poor").alias("ship_speed_tier"),
            (F.col("l_returnflag") == "R").alias("is_returned"),
            (F.col("p_partkey").isNull() | F.col("s_suppkey").isNull()
             | F.col("o_orderkey").isNull()).alias("dq_missing_dim"),
            ((F.col("l_extendedprice") < 0)
             | (F.col("l_quantity") <= 0)).alias("dq_bad_amount"),
        )
    )


def fact_fact(li, o):
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.date_trunc("month", F.col("o_orderdate").cast("date"))
                 .alias("month"))
        .agg(F.sum(F.col("l_extendedprice").cast("double")).alias("revenue"),
             F.count(F.lit(1)).alias("n_lines"))
    )


def run(spark, label, df):
    best, c = best_of(spark, df.write.format("noop").mode("overwrite").save)
    sh_w = c["shuffle_write_bytes"]
    n_ex = sum(v for k, v in plan_fingerprint(df).items()
               if k.startswith("exchange_"))
    print(f"  {label:28s} {best:7.2f}s write={sh_w / 1e6:9.1f}MB "
          f"exchanges={n_ex}", flush=True)
    return {"wall_s": round(best, 2),
            "shuffle_write_mb": round(sh_w / 1e6, 1), "exchanges": n_ex}


def main() -> None:
    spark = get_spark("scale-bucketed", shuffle_partitions=32)
    sf10_dir = os.environ.get("MDP_SF10_DIR", "/tmp/mdp_sf10_keep")
    if not os.path.exists(os.path.join(sf10_dir, "embeddings.parquet")):
        t0 = time.time()
        grow_sf1(spark, "/root/testdata/sf0.1", sf10_dir, replicas=100)
        print(f"grown sf10 in {time.time() - t0:.1f}s", flush=True)

    li = load_table(spark, sf10_dir, "lineitem")
    o = load_table(spark, sf10_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority")
    p = load_table(spark, sf10_dir, "part").select("p_partkey", "p_name")
    s = load_table(spark, sf10_dir, "supplier").select("s_suppkey", "s_name")

    out = {}
    # one-time bucketed layout (one file per bucket so the on-disk sort
    # survives and SMJ needs neither exchange nor, with sortBy, a sort)
    bdir = os.path.join(os.environ.get("MDP_BUCKET_DIR", "/tmp/mdp_bucketed"))
    t0 = time.time()
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    (li.repartition(N_BUCKETS, "l_orderkey").write.mode("overwrite")
     .bucketBy(N_BUCKETS, "l_orderkey").sortBy("l_orderkey")
     .option("path", os.path.join(bdir, "li_b"))
     .format("parquet").saveAsTable("li_b"))
    (o.repartition(N_BUCKETS, "o_orderkey").write.mode("overwrite")
     .bucketBy(N_BUCKETS, "o_orderkey").sortBy("o_orderkey")
     .option("path", os.path.join(bdir, "ord_b"))
     .format("parquet").saveAsTable("ord_b"))
    out["bucketed_layout_ingest_s"] = round(time.time() - t0, 2)
    print(f"  bucketed ingest {out['bucketed_layout_ingest_s']}s",
          flush=True)

    li_b = spark.table("li_b")
    o_b = spark.table("ord_b")

    # warm-up both shapes once
    fact_fact(li, o).write.format("noop").mode("overwrite").save()
    fact_fact(li_b, o_b).write.format("noop").mode("overwrite").save()

    out["dashboard_parquet"] = run(spark, "dashboard_star parquet",
                                   dashboard_star(li, o, p, s))
    out["dashboard_bucketed"] = run(spark, "dashboard_star bucketed",
                                    dashboard_star(li_b, o_b, p, s))
    out["factfact_parquet"] = run(spark, "fact_fact parquet",
                                  fact_fact(li, o))
    out["factfact_bucketed"] = run(spark, "fact_fact bucketed",
                                   fact_fact(li_b, o_b))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
