#!/usr/bin/env python
"""Round-14 measurement: the composed crawl pipeline and the langid
tier across decades (5K -> 50K -> 500K docs on the grown corpora).

Claims to pin:
- run_crawl_increment_epochs (plans/crawl.py) bootstrapping an empty
  ledger: every stage is scan-local or one content-key shuffle, so
  end-to-end wall should grow ~linearly with the landing size (10
  messy replicas per doc at every decade);
- langid_confidence: one explode (~chars) + doc-partitioned window +
  broadcast scoring joins — wall ~linear in corpus chars, profile
  side constant.

Usage: python tools/scale_crawl_pipeline.py [max_decades]
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
from medallion_data_pipeline_spark.queries import REGISTRY, _load
from medallion_data_pipeline_spark.session import get_spark


def measure(spark, sf_dir, label):
    from medallion_data_pipeline_spark.plans import crawl as C
    from tools.scale_crawl_ledger import stage_delta

    _load()
    out = {"label": label}

    land = tempfile.mkdtemp(prefix="scale_crawl_land_")
    t0 = time.time()
    out["lines"] = C.synthesize_crawl_shards(spark, sf_dir, land,
                                             replicas=10, shards=32)
    out["synth_s"] = round(time.time() - t0, 2)
    wh = tempfile.mkdtemp(prefix="scale_crawl_wh_")
    wh2 = tempfile.mkdtemp(prefix="scale_crawl_inc_")
    seen = os.path.join(wh, "seen")
    try:
        # per-stage executor CPU + bytes-written deltas alongside the
        # walls (VERDICT r14 #6): wall >> cpu with out_mb ~ the layer
        # size is disk writeback, wall ~ cpu is compute — the sf10
        # spread attribution becomes a measurement.
        with capture(spark) as win:
            marks = [("_base", win.read())]
            t0 = time.time()
            stages = C.run_crawl_increment_epochs(
                spark, land, os.path.join(wh, "crawl"), seen_root=seen,
                stage_hook=lambda nm: marks.append((nm, win.read())))
            out["pipeline_s"] = round(time.time() - t0, 2)
        deltas = {name: stage_delta(pm, m)
                  for (_, pm), (name, m) in zip(marks, marks[1:])}
        out["stages"] = {r.stage: {"out": r.rows_out, "s": r.wall_s,
                                   **deltas.get(r.stage, {})}
                         for r in stages}

        # steady-state increment replay: same landing against its own
        # ledger — every digest Bloom-probes seen and exact-verifies
        # away, so this prices the probe + verification + epoch-append
        # path with zero new docs flowing to the gates.
        t0 = time.time()
        inc = C.run_crawl_increment_epochs(spark, land, wh2, seen_root=seen)
        out["increment_replay_s"] = round(time.time() - t0, 2)
        out["increment_new_docs"] = \
            {r.stage: r.rows_out for r in inc}["seen_filter"]
    finally:
        shutil.rmtree(wh, ignore_errors=True)
        shutil.rmtree(wh2, ignore_errors=True)
        shutil.rmtree(land, ignore_errors=True)

    for q in ("langid_confidence", "langid_script"):
        df = REGISTRY[q].fn(spark, sf_dir)
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        out[f"{q}_s"] = round(time.time() - t0, 2)
    return out


def main() -> None:
    spark = get_spark("scale-crawl-pipeline", shuffle_partitions=32)
    points = [("sf0.1", "/root/testdata/sf0.1"),
              ("sf1", "/tmp/mdp_sf1_keep"),
              ("sf10", "/tmp/mdp_sf10_keep")]
    limit = int(sys.argv[1]) if len(sys.argv) > 1 else len(points)
    for label, sf_dir in points[:limit]:
        if os.path.isdir(sf_dir):
            print(json.dumps(measure(spark, sf_dir, label)), flush=True)


if __name__ == "__main__":
    main()
