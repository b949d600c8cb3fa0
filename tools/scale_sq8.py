#!/usr/bin/env python
"""Round-12 measurement: the SQ8 tier's two claims, measured.

1. **Storage (the reason SQ8 exists):** the serving index written as
   8-bit codes vs raw float32 vectors — actual parquet bytes on disk
   at sf10 (500k vectors). Codes are written as array<int> and rely
   on parquet's bit-packing; the honest comparison is bytes in files,
   not theoretical widths.
2. **Search wall at a FIXED query batch** (|Q| = 200, the
   scale_knn_fixedq protocol) across sf1 -> sf10: knn_sq8 vs
   knn_bruteforce. Both are exhaustive broadcast-|Q| scans, so the
   expected exponent is ~1 for both; SQ8's win is the index bytes
   (above) and the decode-at-scan arithmetic staying within ~1x of
   raw scoring — this tool pins both.

Training (per-dimension min/max) is ONE aggregate over the corpus —
its wall is also reported so the "train once, serve many" amortization
claim has a number.

Usage: python tools/scale_sq8.py
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from medallion_data_pipeline_spark.operators.similarity import (
    knn_bruteforce, knn_sq8, sq_assign, sq_train)
from medallion_data_pipeline_spark.session import get_spark
from medallion_data_pipeline_spark.sources.testdata import load_table
from tools.scale_heavy import best_of
from tools.scale_knn_fixedq import Q_MAX, ensure


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def measure(spark, sf_dir, label):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < Q_MAX)
    assert q.count() == Q_MAX

    t0 = time.time()
    stats = sq_train(emb)
    train_s = time.time() - t0

    out = {"train_s": round(train_s, 2)}
    ops = {
        "knn_bruteforce": lambda: knn_bruteforce(emb, q, k=5),
        "knn_sq8": lambda: knn_sq8(emb, q, k=5, stats=stats),
    }
    for name, fn in ops.items():
        best, c = best_of(
            spark, lambda: fn().write.format("noop").mode("overwrite").save())
        sh_w = c["shuffle_write_bytes"]
        out[name] = {"wall_s": round(best, 2),
                     "shuffle_write_mb": round(sh_w / 1e6, 1)}
        print(f"  {label} {name:15s} {best:8.2f}s "
              f"(train {train_s:.2f}s)", flush=True)
    return out, emb, stats


def index_bytes(spark, emb, stats, tag):
    """Write the raw float32 index and the SQ8 code index, report
    actual parquet bytes."""
    raw_dir = f"/tmp/mdp_sq8_raw_{tag}"
    code_dir = f"/tmp/mdp_sq8_codes_{tag}"
    emb.select("vec_id", "embedding").write.mode("overwrite") \
        .parquet(raw_dir)
    sq_assign(emb, *stats).write.mode("overwrite").parquet(code_dir)
    raw_b, code_b = dir_bytes(raw_dir), dir_bytes(code_dir)
    print(f"  {tag} index bytes: raw={raw_b / 1e6:.1f}MB "
          f"codes={code_b / 1e6:.1f}MB ratio={raw_b / code_b:.2f}x",
          flush=True)
    return {"raw_mb": round(raw_b / 1e6, 1),
            "codes_mb": round(code_b / 1e6, 1),
            "ratio": round(raw_b / code_b, 2)}


def main() -> None:
    spark = get_spark("scale-sq8", shuffle_partitions=32)
    sf1_dir = os.environ.get("MDP_SF1_DIR", "/tmp/mdp_sf1_keep")
    sf10_dir = os.environ.get("MDP_SF10_DIR", "/tmp/mdp_sf10_keep")
    ensure(spark, "/root/testdata/sf0.1", sf1_dir, 10)
    ensure(spark, "/root/testdata/sf0.1", sf10_dir, 100)

    # warm-up (codegen/JIT) at sf0.001
    warm = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    wq = warm.filter(F.col("vec_id") < Q_MAX)
    wstats = sq_train(warm)
    knn_bruteforce(warm, wq).write.format("noop").mode("overwrite").save()
    knn_sq8(warm, wq, stats=wstats).write.format("noop") \
        .mode("overwrite").save()

    out = {}
    out["sf1"], _, _ = measure(spark, sf1_dir, "sf1 ")
    out["sf10"], emb10, stats10 = measure(spark, sf10_dir, "sf10")
    for name in ("knn_bruteforce", "knn_sq8"):
        e = math.log10(out["sf10"][name]["wall_s"]
                       / out["sf1"][name]["wall_s"])
        out[f"exp_{name}"] = round(e, 2)
        print(f"  exp(sf1 -> sf10) {name} = {e:.2f}", flush=True)
    out["index_sf10"] = index_bytes(spark, emb10, stats10, "sf10")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
