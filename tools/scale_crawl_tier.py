#!/usr/bin/env python
"""Round-13 measurement: the crawl-tier additions across decades.

Three claims to pin on the grown corpora (5K -> 50K -> 500K docs):
- html_extract_text and dedup_canonical_url are map-only / one-shuffle
  plans whose wall grows ~linearly (exponent ~1);
- bloom_bits stays a CONSTANT-size filter (<= m/32 packed words) no
  matter the corpus, with construction wall ~linear in items (one
  map-side-combined aggregation);
- bloom probe cost for a FIXED 1000-probe batch is flat across corpus
  size (the filter side is always <= 128 rows).

Usage: python tools/scale_crawl_tier.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from medallion_data_pipeline_spark.queries import REGISTRY, _load
from medallion_data_pipeline_spark.session import get_spark
from medallion_data_pipeline_spark.sources.testdata import load_table


def wall(fn) -> float:
    t0 = time.time()
    fn()
    return round(time.time() - t0, 2)


def measure(spark, sf_dir, label):
    from medallion_data_pipeline_spark.operators import sketch as K

    _load()
    out = {"label": label}
    for q in ("html_extract_text", "dedup_canonical_url"):
        df = REGISTRY[q].fn(spark, sf_dir)
        out[f"{q}_s"] = wall(
            lambda: df.write.format("noop").mode("overwrite").save())

    docs = load_table(spark, sf_dir, "documents")
    items = docs.select(F.md5("text").alias("item"))
    t0 = time.time()
    bloom = K.bloom_bits(items).persist()
    out["bloom_words"] = bloom.count()        # <= 128, any corpus
    out["bloom_build_s"] = round(time.time() - t0, 2)

    probes = spark.range(1000).select(
        F.md5(F.concat(F.lit("probe:"), F.col("id").cast("string")))
        .alias("item"))
    verd = K.bloom_might_contain(probes, bloom)
    out["probe_s"] = wall(
        lambda: verd.write.format("noop").mode("overwrite").save())
    out["probe_fp"] = verd.filter("might_contain").count()  # saturation
    bloom.unpersist()
    return out


def main() -> None:
    spark = get_spark("scale-crawl-tier", shuffle_partitions=32)
    points = [("sf0.1", "/root/testdata/sf0.1"),
              ("sf1", "/tmp/mdp_sf1_keep"),
              ("sf10", "/tmp/mdp_sf10_keep")]
    for label, sf_dir in points:
        if os.path.isdir(sf_dir):
            print(json.dumps(measure(spark, sf_dir, label)), flush=True)


if __name__ == "__main__":
    main()
