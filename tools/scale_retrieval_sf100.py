#!/usr/bin/env python
"""Round-12 measurement: FOURTH decade for the retrieval/sketch tier —
bm25_doc_ranking / cms_frequency_sketch / doc_chunking_stride at the
sf100-equivalent documents corpus (5 M docs, ~600 M tokens), the same
replica-grown construction addendum 8 used for the dedup tier
(tools/scale_text_sf100.grow_documents), so the point extends the
addendum-13 curve (5k -> 50k -> 500k -> 5M) on an unchanged growth
model and unchanged shipped plans.

Usage: python tools/scale_retrieval_sf100.py
"""

from __future__ import annotations

import json
import math
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from medallion_data_pipeline_spark.session import get_spark
from tools.scale_heavy import best_of
from tools.scale_text_sf100 import grow_documents

OPS = ("bm25_doc_ranking", "cms_frequency_sketch", "doc_chunking_stride")
# addendum-13 sf10 (500k docs) walls, the previous decade's datum
PREV = {"bm25_doc_ranking": 10.95, "cms_frequency_sketch": 5.46,
        "doc_chunking_stride": 0.87}


def main() -> None:
    spark = get_spark("scale-retrieval-sf100", shuffle_partitions=32)
    from medallion_data_pipeline_spark.queries import REGISTRY, _load
    _load()

    for name in OPS:  # codegen/JIT warm-up
        REGISTRY[name].fn(spark, "/root/testdata/sf0.001") \
            .write.format("noop").mode("overwrite").save()

    d = tempfile.mkdtemp(prefix="mdp_retr_sf100_")
    t0 = time.time()
    grow_documents(spark, "/root/testdata/sf0.1", d, replicas=1000)
    n = spark.read.parquet(os.path.join(d, "documents.parquet")).count()
    print(f"grown {n} docs in {time.time() - t0:.1f}s", flush=True)

    out = {"docs": n}
    for name in OPS:
        best, c = best_of(spark, lambda: REGISTRY[name].fn(spark, d).write
                          .format("noop").mode("overwrite").save())
        sh_w = c["shuffle_write_bytes"]
        e = math.log10(best / PREV[name])
        out[name] = {"wall_s": round(best, 2),
                     "shuffle_write_mb": round(sh_w / 1e6, 1),
                     "exp_vs_500k": round(e, 2)}
        print(f"  sf100eq {name:22s} {best:8.2f}s "
              f"write={sh_w / 1e6:9.1f}MB exp={e:.2f}", flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
