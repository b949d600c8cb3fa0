#!/usr/bin/env python
"""Per-stage wall breakdown of the two crawl bench entries at bench
scale (sf0.1 synthesized shards) — guide §1 measurement for the r15
optimization round. Mirrors bench.py's prep exactly; prints each
StageResult so the optimization targets the stage, not the total.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from medallion_data_pipeline_spark.plans import crawl as crawl_plan
from medallion_data_pipeline_spark.session import get_spark


def show(tag, results, wall):
    print(f"--- {tag}: total {wall:.2f}s")
    for r in results:
        print(f"    {r.stage:24s} in={r.rows_in:>7} out={r.rows_out:>7} "
              f"{r.wall_s:6.2f}s")


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("crawl-profile")
    land = tempfile.mkdtemp(prefix="crawlprof_land_")
    crawl_plan.synthesize_crawl_shards(spark, sf_dir, land,
                                       replicas=10, shards=8)
    reps = int(os.environ.get("REPS", "2"))

    for rep in range(reps):
        cw = tempfile.mkdtemp(prefix="crawlprof_full_")
        t0 = time.time()
        res = crawl_plan.run_crawl_increment_epochs(
            spark, land, os.path.join(cw, "wh"),
            seen_root=os.path.join(cw, "seen"))
        show(f"pipeline_crawl_50k rep{rep}", res, time.time() - t0)
        shutil.rmtree(cw, ignore_errors=True)

    half = tempfile.mkdtemp(prefix="crawlprof_half_")
    crawl_plan.synthesize_crawl_shards(spark, sf_dir, half, replicas=10,
                                       shards=8, keep_mod=2, keep_rem=0)
    prior_root = tempfile.mkdtemp(prefix="crawlprof_ledg_")
    boot = tempfile.mkdtemp(prefix="crawlprof_boot_")
    crawl_plan.run_crawl_increment_epochs(spark, half, boot,
                                          seen_root=prior_root)
    shutil.rmtree(boot, ignore_errors=True)
    for rep in range(reps):
        cw = tempfile.mkdtemp(prefix="crawlprof_einc_")
        ledger = os.path.join(cw, "ledger")
        shutil.copytree(prior_root, ledger)
        t0 = time.time()
        res = crawl_plan.run_crawl_increment_epochs(
            spark, land, os.path.join(cw, "wh"), seen_root=ledger)
        show(f"pipeline_crawl_increment_epochs rep{rep}", res,
             time.time() - t0)
        shutil.rmtree(cw, ignore_errors=True)
    shutil.rmtree(prior_root, ignore_errors=True)
    shutil.rmtree(half, ignore_errors=True)
    shutil.rmtree(land, ignore_errors=True)


if __name__ == "__main__":
    main()
