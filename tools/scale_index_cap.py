#!/usr/bin/env python
"""Round-10 measurement: the index-side per-bucket cap for incremental
dedup (VERDICT r9 "Next round #3" — the documented-but-unbuilt scale
mechanism, now implemented as band_index(max_bucket=) +
streaming/ingest.py's append-time capacity check).

The scenario is the daily crawl shape: a maintained ~50k-doc corpus
whose boilerplate clique (one 60-token template + 3 unique tokens per
doc, pairwise 3-shingle Jaccard ~0.85) owns one giant band bucket per
band; a fixed 2k-doc incoming batch — half clique newcomers (every one
a true near-dup the probe must flag), half fresh docs — probes the
maintained (doc, band_key) index. Uncapped, each clique newcomer's
candidates multiply by the FULL bucket size; capped at N=64 lowest ids
per bucket, candidates are bounded at 64 per newcomer per band and the
verify work stops growing with corpus size.

THE CURVE IS THE POINT, so the measurement runs at TWO clique sizes
(1.5k and 6k members, same 50k tail, same fixed batch): the uncapped
probe cost must grow with the clique while the capped probe stays
flat — the shape that makes the uncapped index disqualifying at a
real crawl's clique sizes. Correctness contract checked in-run at
both sizes: the FLAG SET is identical capped vs uncapped (the clique
is mutually >= threshold, so any retained member still matches every
newcomer; only dup_of/jaccard may name a different member).

Usage: python tools/scale_index_cap.py [--regen]
Writes the measurement JSON to stdout; the base corpus parquet is
reused from tools/scale_skew.py's /tmp/mdp_skew_keep (regenerated if
absent).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from medallion_data_pipeline_spark.operators import dedup as D
from medallion_data_pipeline_spark.session import get_spark
from medallion_data_pipeline_spark.sources.testdata import load_table
from tools.scale_skew import SKEW_DIR, ensure_skew_documents, measure

CAP = 64
N_CLIQUE_NEW = 1_000
N_FRESH_NEW = 1_000
IDX_DIR = "/tmp/mdp_index_cap"

_TEMPLATE = " ".join(f"boiler{j}" for j in range(60))


def build_batch(spark):
    """2k incoming docs: 1k clique newcomers (same 60-token template as
    the corpus clique + 3 unique tokens -> J~0.85 vs every member) and
    1k fresh docs with disjoint shingles."""
    clique_new = spark.range(N_CLIQUE_NEW).select(
        (F.col("id") + 60_000_000).alias("doc_id"),
        F.concat(F.lit(_TEMPLATE + " "),
                 F.format_string("nw%da nw%db nw%dc",
                                 "id", "id", "id")).alias("text"),
    )
    fresh = spark.range(N_FRESH_NEW).select(
        (F.col("id") + 70_000_000).alias("doc_id"),
        F.format_string(
            "fresh document %d covering disjoint topic %d with vocabulary "
            "%d entirely absent from the corpus shingle space %d item %d",
            "id", "id", "id", "id", "id").alias("text"),
    )
    return clique_new.unionByName(fresh)


def make_clique(spark, n: int):
    """n boilerplate docs in the same shape as scale_skew's clique
    (ids 50M+, template + 3 unique tokens)."""
    return spark.range(n).select(
        (F.col("id") + 50_000_000).alias("doc_id"),
        F.concat(F.lit(_TEMPLATE + " "),
                 F.format_string("uq%da uq%db uq%dc",
                                 "id", "id", "id")).alias("text"),
    )


def run_one(spark, corpus, batch, tag: str, n_clique: int) -> dict:
    out = {"n_clique": n_clique, "n_corpus": corpus.count()}
    os.makedirs(IDX_DIR, exist_ok=True)
    for label, cap in (("uncapped", None), (f"capped{CAP}", CAP)):
        dst = os.path.join(IDX_DIR, f"idx_{tag}_{label}.parquet")
        t0 = time.time()
        D.band_index(corpus, max_bucket=cap) \
            .write.mode("overwrite").parquet(dst)
        build_s = time.time() - t0
        idx = spark.read.parquet(dst)
        max_bucket = idx.groupBy("band_key").count() \
            .agg(F.max("count")).first()[0]
        print(f"[{tag}] index {label}: build={build_s:.1f}s "
              f"rows={idx.count()} max_bucket={max_bucket}", flush=True)
        out[f"index_{label}"] = {
            "build_s": round(build_s, 1), "max_bucket": max_bucket}

    flagged = {}
    for label in ("uncapped", f"capped{CAP}"):
        idx = spark.read.parquet(
            os.path.join(IDX_DIR, f"idx_{tag}_{label}.parquet"))
        out[f"probe_{label}"] = measure(
            spark, f"[{tag}] probe_{label}",
            lambda idx=idx: D.incremental_near_duplicates(
                corpus, batch, corpus_index=idx))
        flagged[label] = {
            r.doc_id for r in D.incremental_near_duplicates(
                corpus, batch, corpus_index=idx).select("doc_id").collect()}
    same = flagged["uncapped"] == flagged[f"capped{CAP}"]
    n_clique_flagged = sum(1 for d in flagged[f"capped{CAP}"]
                           if 60_000_000 <= d < 70_000_000)
    print(f"[{tag}] flag-set equal: {same}; clique newcomers flagged: "
          f"{n_clique_flagged}/{N_CLIQUE_NEW}", flush=True)
    out["flag_set_equal"] = same
    out["clique_newcomers_flagged"] = n_clique_flagged
    return out


def main():
    spark = get_spark("scale-index-cap", shuffle_partitions=32)
    if "--regen" in sys.argv:
        import shutil
        shutil.rmtree(SKEW_DIR, ignore_errors=True)
    ensure_skew_documents(spark, SKEW_DIR)
    base = load_table(spark, SKEW_DIR, "documents").select("doc_id", "text")
    batch = build_batch(spark).localCheckpoint()

    results = {}
    # base corpus: the skew corpus's own 1.5k clique
    results["clique1500"] = run_one(spark, base.localCheckpoint(),
                                    batch, "c1500", 1_500)
    # grown clique, SAME tail and SAME batch: only the clique quadruples
    tail = base.filter(F.col("doc_id") < 50_000_000)
    big = tail.unionByName(make_clique(spark, 6_000)).localCheckpoint()
    results["clique6000"] = run_one(spark, big, batch, "c6000", 6_000)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
