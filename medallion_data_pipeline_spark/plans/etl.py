"""Pipeline orchestrator — the reference's etl.py CLI re-shaped for
Spark (etl.py:93-187): `--layer bronze|silver|gold|quality|forecast|all` with
fail-fast gating (silver only runs if bronze landed, etc.) and
idempotent overwrite semantics per layer.

Usage:
    python -m medallion_data_pipeline_spark.plans.etl --layer all \
        --warehouse /tmp/mdp_warehouse [--csv-dir DIR]

Bronze lands the deterministic dirty fixtures unless ``--csv-dir``
names CSVs to ingest instead.
"""

from __future__ import annotations

import argparse
import sys
import time

from pyspark.sql import SparkSession

from ..session import get_spark
from . import bronze, fixtures, gold, quality, silver


def _report(layer: str, records: dict[str, object], ok: bool, t0: float) -> bool:
    """Print a layer's records, one ``[layer] name: value`` line each,
    then its verdict and wall time; returns ``ok``."""
    for name, value in records.items():
        print(f"[{layer}] {name}: {value}")
    print(f"[{layer}] ok={ok} ({time.time() - t0:.1f}s)")
    return ok


def run_pipeline(spark: SparkSession, warehouse: str, layer: str = "all",
                 csv_dir: str | None = None) -> bool:
    t0 = time.time()
    ok = True

    if layer in ("bronze", "all"):
        if csv_dir:
            counts = bronze.ingest_csv_dir(spark, csv_dir, warehouse)
        else:
            counts = bronze.write_bronze(fixtures.generate_bronze(spark), warehouse)
        if not _report("bronze", counts, all(v > 0 for v in counts.values()), t0):
            return False

    if layer in ("silver", "all"):
        t = time.time()
        results = silver.run_silver(spark, warehouse)
        records = {r.stage: f"in={r.rows_in} out={r.rows_out} "
                            f"rejected={r.rows_in - r.rows_out}" for r in results}
        if not _report("silver", records, all(r.rows_out > 0 for r in results), t):
            return False

    if layer in ("gold", "all"):
        t = time.time()
        counts = gold.run_gold(spark, warehouse)
        if not _report("gold", counts, all(v > 0 for v in counts.values()), t):
            return False

    if layer == "forecast":
        # deliberately NOT part of "all": the reference runs forecasting
        # as its own entry point (python forecasting.py), separate from
        # etl.py --layer all (etl.py:153-167, forecasting.py:434-449)
        t = time.time()
        from . import forecasting
        n = forecasting.run_forecasts(spark, warehouse).count()
        if not _report("forecast", {"forecast rows": n}, n > 0, t):
            return False

    if layer in ("quality", "all"):
        t = time.time()
        failed = quality.run_quality_checks(spark, warehouse).filter("NOT passed").collect()
        recon = quality.reconcile_silver_gold(spark, warehouse).collect()
        records = {
            **{f"FAIL {r.check_name} on {r.table_name}": f"{r.violations} violations"
               for r in failed},
            **{f"reconcile {r.measure}": f"silver={r.silver_value} gold={r.gold_value} "
                                          f"dropped={r.dropped_value} diff={r.pct_diff}% "
                                          f"passed={r.passed}" for r in recon},
        }
        ok = _report("quality", records, not failed and all(r.passed for r in recon), t)

    print(f"[pipeline] total {time.time() - t0:.1f}s ok={ok}")
    return ok


def main() -> int:
    ap = argparse.ArgumentParser(description="Medallion pipeline (Spark)")
    ap.add_argument("--layer", default="all",
                    choices=["bronze", "silver", "gold", "quality", "forecast", "all"])
    ap.add_argument("--warehouse", default="/tmp/mdp_warehouse")
    ap.add_argument("--csv-dir", default=None, help="ingest bronze from CSVs instead")
    args = ap.parse_args()
    spark = get_spark("mdp-etl")
    ok = run_pipeline(spark, args.warehouse, args.layer, csv_dir=args.csv_dir)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
