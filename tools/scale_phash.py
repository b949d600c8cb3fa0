#!/usr/bin/env python
"""Round-13 measurement: perceptual-hash dedup across three decades.

Runs the REGISTERED dedup_image_phash pipeline pieces (stub dHash
fingerprints via mapInPandas over binary payloads + the planted
1-char variants + pigeonhole block retrieval at Hamming<=4) on the
sf0.1 corpus and the grown sf1/sf10 corpora (/tmp/mdp_sf{1,10}_keep,
tools/scale_text_sf100.grow_documents protocol: 5K -> 50K -> 500K
docs, fingerprint count 2x that with variants).

Reported per decade:
- fingerprint_s: the map-only mapInPandas pass (expected exponent ~1)
- pairs_s + n_pairs: block-join retrieval wall and recovered pairs
  (planted pairs grow linearly; extra pairs reveal fingerprint skew)
- n_candidates: block-collision pairs BEFORE the distance filter —
  the quantity the Manku analysis bounds by n^2 / 2^(bits/(d+1));
  dHash bits on real text are NOT uniform, so the honest number is
  measured, not derived
- n_distinct_fp: fingerprint entropy (collision driver)

Usage: python tools/scale_phash.py [sf0.1-only]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from medallion_data_pipeline_spark.operators import multimodal as M
from medallion_data_pipeline_spark.operators.dedup import (
    fingerprint_hamming_pairs)
from medallion_data_pipeline_spark.queries.llmops import (
    _PHASH_MAXDIST, _PHASH_VARIANT_OFFSET)
from medallion_data_pipeline_spark.session import get_spark
from medallion_data_pipeline_spark.sources.testdata import load_table


def fingerprints(spark, sf_dir):
    """The registered query's fingerprint stage: corpus + planted
    variants -> binary payload -> stub dHash."""
    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pos = (F.col("doc_id") % F.length("text")).cast("int") + F.lit(1)
    variants = base.select(
        (F.col("doc_id") + F.lit(_PHASH_VARIANT_OFFSET)).alias("doc_id"),
        F.concat(
            F.col("text").substr(F.lit(1), pos - 1), F.lit("q"),
            F.col("text").substr(pos + 1, F.length("text"))).alias("text"))
    u = base.unionByName(variants)
    return M.phash_binary(M.with_binary_payload(u, "text"), decoder="stub")


def measure(spark, sf_dir, label):
    out = {"label": label}

    t0 = time.time()
    fp = fingerprints(spark, sf_dir).persist()
    out["n_fingerprints"] = fp.count()
    out["fingerprint_s"] = round(time.time() - t0, 2)
    out["n_distinct_fp"] = fp.select("phash").distinct().count()

    # verify workload: block collisions BEFORE the distance filter
    # (same 5-block layout the real query uses)
    out["n_candidates"] = fingerprint_hamming_pairs(
        fp, max_distance=_PHASH_MAXDIST, persist_intermediate=False,
        filter_distance=False).count()

    t0 = time.time()
    pairs = fingerprint_hamming_pairs(fp, max_distance=_PHASH_MAXDIST,
                                      persist_intermediate=False)
    out["n_pairs"] = pairs.count()
    out["pairs_s"] = round(time.time() - t0, 2)

    # the clique guard: identical fingerprints collapse to their
    # representative before retrieval (spanning edge set)
    t0 = time.time()
    grouped = fingerprint_hamming_pairs(
        fp, max_distance=_PHASH_MAXDIST, persist_intermediate=False,
        group_identical=True)
    out["n_edges_grouped"] = grouped.count()
    out["grouped_s"] = round(time.time() - t0, 2)
    fp.unpersist()
    return out


def measure_grouped_only(spark, sf_dir, label):
    """sf10-size point: the all-pairs mode's candidates grow ~n^2 on
    this corpus (the reason group_identical exists) — measure the
    guard path alone."""
    out = {"label": label}
    t0 = time.time()
    fp = fingerprints(spark, sf_dir).persist()
    out["n_fingerprints"] = fp.count()
    out["fingerprint_s"] = round(time.time() - t0, 2)
    out["n_distinct_fp"] = fp.select("phash").distinct().count()
    t0 = time.time()
    grouped = fingerprint_hamming_pairs(
        fp, max_distance=_PHASH_MAXDIST, persist_intermediate=False,
        group_identical=True)
    out["n_edges_grouped"] = grouped.count()
    out["grouped_s"] = round(time.time() - t0, 2)
    fp.unpersist()
    return out


def main() -> None:
    spark = get_spark("scale-phash", shuffle_partitions=32)
    points = [("sf0.1", "/root/testdata/sf0.1")]
    if "sf0.1-only" not in sys.argv:
        for lbl, d in (("sf1", "/tmp/mdp_sf1_keep"),
                       ("sf10", "/tmp/mdp_sf10_keep")):
            if os.path.isdir(d):
                points.append((lbl, d))
    for label, sf_dir in points:
        print(json.dumps(measure(spark, sf_dir, label)), flush=True)


if __name__ == "__main__":
    main()
