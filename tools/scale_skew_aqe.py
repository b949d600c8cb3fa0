#!/usr/bin/env python
"""AQE skew-join splitting vs explicit salting, measured head-to-head
(SCALING.md addendum 11; guidance lives in operators/skew.py).

Question (VERDICT r11 next-round #7): when does Spark's runtime
post-shuffle skew splitting (spark.sql.adaptive.skewJoin.*) make the
manual salting in operators/skew.py unnecessary, and where does
salting still win?

Corpus: a power-law join — 8M-row fact with 50% of rows on ONE hot
key, joined to a 100K-row dim. Broadcast is disabled throughout
(autoBroadcastJoinThreshold=-1): AQE skew handling only applies to
shuffle joins (SMJ/SHJ), and with a broadcastable dim the whole
question disappears (no shuffle to skew). AQE's default trigger is
skewedPartitionThresholdInBytes=256MB AND 5x the median partition —
sized for clusters; this local corpus lowers it to 16MB/8MB advisory
(factor 2) so the trigger fires at sandbox scale (at 100 TB the defaults fire on
their own).

Cases (each min-of-3 warm, identical result counts asserted;
quote minima over >=2 tool runs — the host has noise windows):
  join_aqe_off   plain join, skewJoin disabled  -> one straggler task
  join_aqe_on    plain join, skewJoin enabled   -> runtime split
  join_salted    operators.skew.salted_join(32) -> compile-time spread
  agg_direct     groupBy(hot key).collect_set   -> AQE does NOT split
                                                   aggregations
  agg_salted     operators.skew.salted_two_phase_agg -> two-phase spread
  agg_sketch     approx_count_distinct -> mergeable sketch (the scale
                                          answer for distinct state)

Usage: python tools/scale_skew_aqe.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from medallion_data_pipeline_spark.session import get_spark

N_BIG = 16_000_000
N_DIM = 100_000
N_AGG = 8_000_000
SALTS = 32


def _timed(df, reps: int = 3) -> tuple[float, int]:
    """Wall via noop sink (a count() would let Catalyst PRUNE the
    expensive aggregate expressions — collect_set vanished entirely
    from the counted plan in the first version of this tool); row
    parity via one untimed count."""
    best = float("inf")
    for _ in range(reps):
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.time() - t0)
    return round(best, 3), df.count()


def main() -> None:
    spark = get_spark("scale-skew-aqe", shuffle_partitions=32)
    conf = spark.conf
    root = tempfile.mkdtemp(prefix="mdp_skew_aqe_")
    out: dict[str, dict] = {"n_big": N_BIG, "n_dim": N_DIM,
                            "n_agg": N_AGG, "salts": SALTS}
    try:
        # --- corpora (written once; all cases scan the same files) ---
        big = spark.range(N_BIG).select(
            F.when(F.pmod("id", 2) == 0, F.lit(0))
            .otherwise(F.pmod("id", N_DIM)).alias("user_id"),
            (F.col("id") % 1000).cast("double").alias("value"),
            # incompressible ballast so the hot partition's shuffle
            # bytes actually cross the (lowered) AQE skew threshold,
            # as a fat fact row would at cluster scale
            F.md5(F.col("id").cast("string")).alias("ballast"))
        big.write.mode("overwrite").parquet(os.path.join(root, "big"))
        dim = spark.range(N_DIM).select(
            F.col("id").alias("user_id"),
            F.pmod("id", 5).cast("int").alias("segment"))
        dim.write.mode("overwrite").parquet(os.path.join(root, "dim"))
        agg_src = spark.range(N_AGG).select(
            F.when(F.pmod("id", 2) == 0, F.lit(0))
            .otherwise(F.pmod("id", N_DIM)).alias("user_id"),
            F.md5(F.col("id").cast("string")).alias("payload"))
        agg_src.write.mode("overwrite").parquet(os.path.join(root, "agg"))

        bigf = spark.read.parquet(os.path.join(root, "big"))
        dimf = spark.read.parquet(os.path.join(root, "dim"))
        aggf = spark.read.parquet(os.path.join(root, "agg"))

        saved = {k: conf.get(k) for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )}
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.skewJoin."
                 "skewedPartitionThresholdInBytes", "16m")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")

        def plain_join():
            # count(ballast) keeps the fat column flowing through the
            # join shuffle (pruned otherwise), as a real fact row would
            return (bigf.join(dimf, "user_id")
                    .groupBy("segment")
                    .agg(F.sum("value"), F.count("ballast")))

        counts = set()

        conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        w, r = _timed(plain_join())
        out["join_aqe_off"] = {"wall_s": w, "rows": r}
        counts.add(r)

        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        df = plain_join()
        w, r = _timed(df)
        # the AQE final plan only exists on an EXECUTED QueryExecution;
        # collect() runs this df's own QE (the noop/count above built
        # their own), then the skew markers are readable
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        out["join_aqe_on"] = {
            "wall_s": w, "rows": r,
            "plan_shows_skew_split": "skew=true" in plan,
            "skewed_reads": plan.count("AQEShuffleRead skewed")}
        counts.add(r)

        conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        from medallion_data_pipeline_spark.operators.skew import (
            salted_join, salted_two_phase_agg)
        w, r = _timed(salted_join(bigf, dimf, key="user_id",
                                  n_salts=SALTS)
                      .groupBy("segment")
                      .agg(F.sum("value"), F.count("ballast")))
        out["join_salted"] = {"wall_s": w, "rows": r}
        counts.add(r)
        assert len(counts) == 1, f"join results differ: {counts}"

        # --- aggregation skew: AQE skew handling is JOIN-only ---
        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        agg_counts = set()
        w, r = _timed(aggf.groupBy("user_id").agg(
            F.size(F.collect_set("payload")).alias("n_distinct")))
        out["agg_direct"] = {"wall_s": w, "rows": r}
        agg_counts.add(r)

        w, r = _timed(salted_two_phase_agg(
            aggf, ["user_id"],
            {"n_distinct": (
                lambda: F.collect_set("payload"),
                lambda c: F.size(F.array_distinct(
                    F.flatten(F.collect_list(c)))))},
            n_salts=SALTS))
        out["agg_salted"] = {"wall_s": w, "rows": r}
        agg_counts.add(r)

        # the scale answer for distinct-heavy skew: a mergeable sketch
        w, r = _timed(aggf.groupBy("user_id").agg(
            F.approx_count_distinct("payload").alias("n_distinct")))
        out["agg_sketch"] = {"wall_s": w, "rows": r}
        agg_counts.add(r)
        assert len(agg_counts) == 1, f"agg results differ: {agg_counts}"

        for k, v in saved.items():
            conf.set(k, v)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
