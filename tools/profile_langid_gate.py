#!/usr/bin/env python
"""Micro-profile of the crawl langid_gate stage (guide §1): reproduce
the gate's input (the deduped layer of a bench-scale crawl run), then
time each internal action separately — the script stage's lazy
localCheckpoint materialization, the trigram classification, and the
semi-join + langpass write — so the optimization targets the job that
actually costs, not the stage total.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from medallion_data_pipeline_spark._util import write_counted
from medallion_data_pipeline_spark.functions import langid as LG
from medallion_data_pipeline_spark.plans import crawl as crawl_plan
from medallion_data_pipeline_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("langid-gate-profile")
    land = tempfile.mkdtemp(prefix="lgprof_land_")
    out = tempfile.mkdtemp(prefix="lgprof_out_")
    crawl_plan.synthesize_crawl_shards(spark, sf_dir, land,
                                       replicas=10, shards=8)
    crawl_plan.run_crawl_increment_epochs(
        spark, land, out, seen_root=os.path.join(out, "seen"))
    deduped_path = os.path.join(out, "deduped")

    reps = int(os.environ.get("REPS", "3"))
    for rep in range(reps):
        docs = spark.read.parquet(deduped_path)

        t0 = time.time()
        staged = LG._with_script_cols(docs.select("doc_id", "text"),
                                      "doc_id", "text")
        staged = staged.localCheckpoint(eager=False)
        staged.write.format("noop").mode("overwrite").save()
        t_script = time.time() - t0

        t0 = time.time()
        lang = LG.with_langid_script(docs, "doc_id", "text")
        lang.write.format("noop").mode("overwrite").save()
        t_langid = time.time() - t0

        t0 = time.time()
        lang = LG.with_langid_script(docs, "doc_id", "text")
        kept = docs.join(
            lang.filter(F.col("lang").isin(["en"])
                        & (F.col("margin") > 0)).select("doc_id"),
            "doc_id", "left_semi")
        lp = tempfile.mkdtemp(prefix="lgprof_lp_")
        n = write_counted(kept, os.path.join(lp, "langpass"))
        t_full = time.time() - t0
        shutil.rmtree(lp, ignore_errors=True)

        print(f"rep{rep}: script_stage={t_script:.2f}s "
              f"langid_noop={t_langid:.2f}s full_gate_write={t_full:.2f}s "
              f"(kept {n})")
        spark.catalog.clearCache()

    shutil.rmtree(land, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()
