#!/usr/bin/env python
"""Round-12 measurement: the retrieval tier's corpus-side scaling —
BM25 document ranking, the CMS sketch, and stride chunking across
sf0.1 -> sf1 -> sf10 (5k -> 50k -> 500k documents; grown corpora from
the scale_heavy growth model, same as every other decade curve).

Expected shapes, to be confirmed not assumed:
- bm25_doc_ranking: two word-keyed counts + a broadcast term join —
  linear in total tokens, exponent ~1 once fixed cost amortizes.
- cms_frequency_sketch: one pass to 256 counters + one exact top-10 —
  linear scan cost; sketch size CONSTANT (the point).
- doc_chunking_stride: map-only explode — linear, shuffle-free
  (output rows ~ n/S, the chunker's inherent output).

Protocol: min-of-2 per (decade, op), warm-up at sf0.001, one process,
shuffle deltas from the UI REST totals (scale_heavy harness).

Usage: python tools/scale_retrieval.py
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from medallion_data_pipeline_spark.queries import REGISTRY, _load
from medallion_data_pipeline_spark.session import get_spark
from tools.scale_heavy import best_of
from tools.scale_knn_fixedq import ensure

OPS = ("bm25_doc_ranking", "cms_frequency_sketch", "doc_chunking_stride")


def measure(spark, sf_dir, label):
    out = {}
    for name in OPS:
        fn = REGISTRY[name].fn
        best, c = best_of(spark, lambda: fn(spark, sf_dir).write
                          .format("noop").mode("overwrite").save())
        sh_w = c["shuffle_write_bytes"]
        out[name] = {"wall_s": round(best, 2),
                     "shuffle_write_mb": round(sh_w / 1e6, 1)}
        print(f"  {label} {name:22s} {best:8.2f}s "
              f"write={sh_w / 1e6:8.1f}MB", flush=True)
    return out


def main() -> None:
    _load()
    spark = get_spark("scale-retrieval", shuffle_partitions=32)
    sf1_dir = os.environ.get("MDP_SF1_DIR", "/tmp/mdp_sf1_keep")
    sf10_dir = os.environ.get("MDP_SF10_DIR", "/tmp/mdp_sf10_keep")
    ensure(spark, "/root/testdata/sf0.1", sf1_dir, 10)
    ensure(spark, "/root/testdata/sf0.1", sf10_dir, 100)

    for name in OPS:  # codegen/JIT warm-up
        REGISTRY[name].fn(spark, "/root/testdata/sf0.001") \
            .write.format("noop").mode("overwrite").save()

    out = {"sf0.1": measure(spark, "/root/testdata/sf0.1", "sf0.1"),
           "sf1": measure(spark, sf1_dir, "sf1  "),
           "sf10": measure(spark, sf10_dir, "sf10 ")}
    for name in OPS:
        for a, b, tag in (("sf0.1", "sf1", "exp_01_1"),
                          ("sf1", "sf10", "exp_1_10")):
            e = math.log10(out[b][name]["wall_s"] / out[a][name]["wall_s"])
            out.setdefault(tag, {})[name] = round(e, 2)
            print(f"  exp({a} -> {b}) {name} = {e:.2f}", flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
