#!/usr/bin/env python
"""Round-15 measurement: epoch-LEDGER seen-set maintenance as the
corpus AGES (plans/crawl.py::run_crawl_increment_epochs).

Claim to pin: the ledger appends one epoch sized at the increment's
own new-digest count, so its maintenance stage (epoch_append) stays
FLAT at constant increment size, and the seen-filter probe is
near-constant (the filter side is packed words; candidates are few
when increments are disjoint). The merged seen-set this replaced
re-hashed the ENTIRE seen corpus every increment and grew linearly;
that comparison is recorded in SCALING.md addendum 17.

Method: N_INC increments of IDENTICAL size and fully disjoint content
(every line's text carries the increment id, so each increment is
100% new — gate cost is constant across increments, and the
maintenance stage is the signal). Per increment we record the
seen_filter and epoch_append stage walls plus executor-CPU /
bytes-written deltas (medallion_data_pipeline_spark/metrics.py), so the
growth attribution is measured, not argued.

Usage: python tools/scale_crawl_ledger.py [n_increments] [mult]
  (defaults 6 increments x ~10 variants per sf0.1 document
   ~= 50K distinct digests per increment)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from medallion_data_pipeline_spark.metrics import capture
from medallion_data_pipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def synth_increment(spark, land: str, inc: int, mult: int) -> int:
    """A landing of fully-disjoint content: every sf document appears
    ``mult`` times with the increment id AND variant id appended to
    the text, so every line is a distinct digest and no increment
    ever overlaps another. Distinct URLs per line (URL dedup keeps
    all) — the dedup stages do equal, constant work per increment."""
    from pyspark.sql import functions as F

    from medallion_data_pipeline_spark.sources.testdata import load_table

    docs = (load_table(spark, SF_DIR, "documents")
            .filter(F.col("text").isNotNull())
            .select("doc_id", "source", "text"))
    reps = F.explode(F.array(*[F.lit(j) for j in range(mult)]))
    raw = docs.select("doc_id", "source", "text", reps.alias("rep"))
    rid = (F.lit(inc).cast("long") * F.lit(1_000_000_000).cast("long")
           + F.col("doc_id") * mult + F.col("rep"))
    text2 = F.concat(F.col("text"),
                     F.lit(f" increment {inc} variant "),
                     F.col("rep").cast("string"))
    url = F.concat(F.lit("http://"), F.col("source"),
                   F.lit(".example.com/doc/"), rid.cast("string"))
    html = F.concat(
        F.lit("<html><head><title>D</title></head><body><p>"),
        text2, F.lit("</p></body></html>"))
    (raw.select(F.to_json(F.struct(
        rid.alias("doc_id"), url.alias("url"), html.alias("html")))
        .alias("value"))
     .repartition(16).write.mode("overwrite").text(land))
    return int(spark.read.text(land).count())


def stage_delta(before: dict, after: dict) -> dict:
    """{cpu_s, out_mb, shuf_mb} between two ``Window.read()`` marks:
    executor CPU, table-output and shuffle-write bytes of one stage."""
    return {"cpu_s": round(after["cpu_s"] - before["cpu_s"], 2),
            "out_mb": round((after["output_bytes"]
                             - before["output_bytes"]) / 2 ** 20, 1),
            "shuf_mb": round((after["shuffle_write_bytes"]
                              - before["shuffle_write_bytes"]) / 2 ** 20, 1)}


def run_ledger(spark, lands: list[str]) -> list[dict]:
    from medallion_data_pipeline_spark.plans import crawl as C

    rows: list[dict] = []
    keep: list[str] = []
    root = tempfile.mkdtemp(prefix="scale_ledger_root_")
    keep.append(root)
    corpus = 0
    try:
        for i, land in enumerate(lands):
            out = tempfile.mkdtemp(prefix=f"scale_ledger_{i}_")
            keep.append(out)
            with capture(spark) as win:
                marks = [("_base", win.read())]
                t0 = time.time()
                res = C.run_crawl_increment_epochs(
                    spark, land, out, seen_root=root,
                    stage_hook=lambda nm: marks.append((nm, win.read())))
                wall = round(time.time() - t0, 2)
            stages = {r.stage: r for r in res}
            deltas = {name: stage_delta(pm, m)
                      for (_, pm), (name, m) in zip(marks, marks[1:])}
            n_new = stages["seen_filter"].rows_out
            corpus += n_new
            rows.append({
                "inc": i, "new_digests": n_new,
                "corpus_digests": corpus, "total_s": wall,
                "seen_filter_s": stages["seen_filter"].wall_s,
                "maint_s": stages["epoch_append"].wall_s,
                "maint_cpu": deltas.get("epoch_append", {}),
                "probe_cpu": deltas.get("seen_filter", {}),
            })
            print(json.dumps(rows[-1]), flush=True)
    finally:
        for d in keep:
            shutil.rmtree(d, ignore_errors=True)
    return rows


def main() -> None:
    n_inc = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    mult = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    spark = get_spark("scale-crawl-ledger", shuffle_partitions=32)
    lands = []
    for i in range(n_inc):
        land = tempfile.mkdtemp(prefix=f"scale_ledger_land_{i}_")
        n = synth_increment(spark, land, i, mult)
        print(json.dumps({"synth_inc": i, "lines": n}), flush=True)
        lands.append(land)
    try:
        ledger = run_ledger(spark, lands)
    finally:
        for land in lands:
            shutil.rmtree(land, ignore_errors=True)
    print(json.dumps({
        "summary": {
            "ledger_maint_s": [r["maint_s"] for r in ledger],
            "ledger_probe_s": [r["seen_filter_s"] for r in ledger],
        }}), flush=True)


if __name__ == "__main__":
    main()
