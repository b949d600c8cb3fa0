#!/usr/bin/env python
"""Time individual registered queries with the noop sink (guide §1.4),
mirroring bench.py's layout prep (per-core re-layout of the big
tables) and min-of-warm-reps methodology so numbers are comparable to
BENCH_DETAIL entries.

Usage: python tools/time_queries.py name [name ...]
       REPS=4 python tools/time_queries.py name
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from medallion_data_pipeline_spark.metrics import release_cached_blocks
from medallion_data_pipeline_spark.queries import REGISTRY, _load
from medallion_data_pipeline_spark.session import get_spark, default_parallelism
from medallion_data_pipeline_spark.sources.testdata import TABLES, load_table


def main() -> None:
    _load()
    names = sys.argv[1:]
    reps_n = int(os.environ.get("REPS", "4"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("time-queries")

    layout_dir = tempfile.mkdtemp(prefix="mdp_time_layout_")
    big = {"lineitem": min(16, default_parallelism()), "orders": 8,
           "events": 8}
    for name in TABLES:
        src = os.path.join(sf_dir, f"{name}.parquet")
        dst = os.path.join(layout_dir, f"{name}.parquet")
        if name in big:
            load_table(spark, sf_dir, name).repartition(big[name]) \
                .write.mode("overwrite").parquet(dst)
        else:
            os.symlink(src, dst)

    try:
        for name in names:
            q = REGISTRY[name]
            # codegen warm-up at the smallest SF, as bench.py does
            q.fn(spark, "/root/testdata/sf0.001") \
                .write.format("noop").mode("overwrite").save()
            reps = []
            for _ in range(reps_n):
                t0 = time.time()
                q.fn(spark, layout_dir) \
                    .write.format("noop").mode("overwrite").save()
                reps.append(round(time.time() - t0, 3))
                release_cached_blocks(spark)
            print(f"{name}: min_warm={min(reps[1:]) if reps[0] > 1.0 and len(reps) > 1 else min(reps)} reps={reps}")
    finally:
        shutil.rmtree(layout_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
