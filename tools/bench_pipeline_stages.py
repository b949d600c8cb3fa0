"""Adjudicate the medallion pipeline-stage bench entries in isolation.

Replicates bench.py's pipeline protocol exactly — same 2K-order codegen
warm-up, then N fresh-warehouse 50K reps timing each stage — WITHOUT the
34 query entries in front, so a drift flagged on the full run (VERDICT
r10: pipeline_forecast_50k 2.53->2.93 s, pipeline_bronze_50k
1.86->2.24 s) can be re-measured free of cross-entry state and of the
host's run-length noise windows. Prints per-rep times and the min, plus
a plan-build vs execute split for the forecast stage (plan construction
was the dominant silver cost in r10; tools/profile_silver.py).

Usage: python tools/bench_pipeline_stages.py [reps]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from medallion_data_pipeline_spark.metrics import release_cached_blocks
from medallion_data_pipeline_spark.session import get_spark


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    spark = get_spark("bench_pipeline_stages", 32)

    from medallion_data_pipeline_spark.plans import (
        bronze, fixtures, forecasting, gold, quality, silver)

    wh_warm = tempfile.mkdtemp(prefix="mdp_adj_warm_")
    try:
        bronze.write_bronze(fixtures.generate_bronze(spark, n_orders=2000), wh_warm)
        silver.run_silver(spark, wh_warm, run_id="warm")
        gold.run_gold(spark, wh_warm)
        quality.run_quality_checks(spark, wh_warm).collect()
        forecasting.run_forecasts(spark, wh_warm, run_id="warm").count()
    finally:
        shutil.rmtree(wh_warm, ignore_errors=True)
    release_cached_blocks(spark)

    all_reps: dict[str, list[float]] = {}
    fc_split: list[dict[str, float]] = []
    for _rep in range(reps):
        wh = tempfile.mkdtemp(prefix="mdp_adj_wh_")
        try:
            t0 = time.time()
            bronze.write_bronze(fixtures.generate_bronze(spark, n_orders=50000), wh)
            all_reps.setdefault("pipeline_bronze_50k", []).append(
                round(time.time() - t0, 3))
            t0 = time.time()
            silver.run_silver(spark, wh, run_id="bench")
            all_reps.setdefault("pipeline_silver_50k", []).append(
                round(time.time() - t0, 3))
            t0 = time.time()
            gold.run_gold(spark, wh)
            all_reps.setdefault("pipeline_gold_50k", []).append(
                round(time.time() - t0, 3))
            t0 = time.time()
            quality.run_quality_checks(spark, wh).collect()
            all_reps.setdefault("pipeline_quality_50k", []).append(
                round(time.time() - t0, 3))
            # forecast, split into plan-build (everything up to the
            # write action's submission) vs the executed write+count
            t0 = time.time()
            forecasting.run_forecasts(spark, wh, run_id="bench").count()
            wall = round(time.time() - t0, 3)
            all_reps.setdefault("pipeline_forecast_50k", []).append(wall)
            # plan-only probe: build the same frame, stop before action
            t0 = time.time()
            orders = silver.read_silver(spark, wh, "supply_orders")
            series = forecasting.build_series_multi(
                orders, ("product", "warehouse", "store"))
            fc = series.groupBy("level", "entity_id").applyInPandas(
                forecasting.make_forecast_worker_multi(14, "probe"),
                forecasting.FORECAST_SCHEMA)
            fc.schema  # force analysis
            fc_split.append({"wall": wall,
                             "plan_build": round(time.time() - t0, 3)})
        finally:
            shutil.rmtree(wh, ignore_errors=True)
        release_cached_blocks(spark)

    out = {k: {"reps": v, "min": min(v)} for k, v in sorted(all_reps.items())}
    out["forecast_split"] = fc_split
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
