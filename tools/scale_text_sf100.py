#!/usr/bin/env python
"""Fourth decade for the TEXT dedup tier: sf100-equivalent documents
(5 M docs, ~50× the sf10 point) for dedup_minhash_lsh and
dedup_exact_segments (VERDICT r10 next-round #6).

Addendum 2 took the ANN tier to sf100 with embeddings-only growth;
this does the text dual with a DOCUMENTS-ONLY corpus — both queries
read only the documents table, so growing lineitem et al. (600 GB at
sf100) would measure parquet writing, not the operators.

Growth model matches tools/scale_heavy.grow_sf1 (duplicate-density
preserving: every replica suffixes each token with `~r{r}`, so
within-replica shingle/minhash/segment relationships are preserved
and replicas never collide across band buckets or segment hashes),
but built as ONE replica-explode plan instead of a 1000-way union —
`explode(sequence(0, R-1))` × dynamic regexp_replace — so plan size
is O(1) in the replica count.

Points measured (min-of-2 per point, shuffle-write deltas from the UI
REST API): 500 K docs (sf10-equivalent) and 5 M docs
(sf100-equivalent) — the decade where fixed-overhead amortization is
long gone.

Usage: python tools/scale_text_sf100.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from medallion_data_pipeline_spark.session import get_spark
from tools.scale_heavy import best_of

_DOC_OFF = 10_000_000   # divisible by 100 -> doc_id % 100 structure kept
QUERIES = ("dedup_minhash_lsh", "dedup_exact_segments")
POINTS = (("sf10eq", 100), ("sf100eq", 1000))  # replicas of sf0.1 (5K docs)


def grow_documents(spark, base_dir: str, out_dir: str, replicas: int) -> None:
    """Replica-explode growth: one plan regardless of replica count.
    Replica 0 keeps the original text byte-identical; replica r>0
    suffixes every token with ~r{r} (same transform as
    scale_heavy.grow_sf1, where it's a per-replica union branch)."""
    os.makedirs(out_dir, exist_ok=True)
    docs = spark.read.parquet(os.path.join(base_dir, "documents.parquet"))
    grown = (
        docs.select(
            "doc_id", "text", "lang", "source",
            F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))).alias("r"))
        .select(
            (F.col("doc_id") + F.col("r").cast("long") * _DOC_OFF).alias("doc_id"),
            F.when(F.col("r") == 0, F.col("text")).otherwise(
                F.regexp_replace(
                    "text", r"(\S+)",
                    F.concat(F.lit("$1~r"), F.col("r").cast("string"))))
            .alias("text"),
            "lang", "source",
        )
        .withColumn("n_chars", F.length("text"))
    )
    grown.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet"))
    # the queries only read documents; symlink the rest for load_table
    for name in ("region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "embeddings"):
        dst = os.path.join(out_dir, f"{name}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(base_dir, f"{name}.parquet"), dst)


def main() -> None:
    spark = get_spark("scale-text-sf100", shuffle_partitions=32)
    from medallion_data_pipeline_spark.queries import REGISTRY, _load
    _load()

    print("warm-up at sf0.001", flush=True)
    for name in QUERIES:
        REGISTRY[name].fn(spark, "/root/testdata/sf0.001") \
            .write.format("noop").mode("overwrite").save()

    out: dict[str, dict] = {}
    for label, replicas in POINTS:
        d = tempfile.mkdtemp(prefix=f"mdp_text_{label}_")
        try:
            t0 = time.time()
            grow_documents(spark, "/root/testdata/sf0.1", d, replicas)
            n = spark.read.parquet(
                os.path.join(d, "documents.parquet")).count()
            print(f"== {label}: {n} docs grown in {time.time()-t0:.1f}s ==",
                  flush=True)
            out[label] = {"docs": n}
            for name in QUERIES:
                q = REGISTRY[name]
                best, c = best_of(spark, lambda: q.fn(spark, d).write
                                  .format("noop").mode("overwrite").save())
                sh_w = c["shuffle_write_bytes"]
                rows = q.fn(spark, d).count()
                out[label][name] = {
                    "wall_s": round(best, 2),
                    "shuffle_write_mb": round(sh_w / 1e6, 1),
                    "rows": rows,
                }
                print(f"  {label:8s} {name:22s} {best:8.2f}s "
                      f"write={sh_w/1e6:9.1f}MB rows={rows}", flush=True)
        finally:
            shutil.rmtree(d, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
