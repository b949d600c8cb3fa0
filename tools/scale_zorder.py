#!/usr/bin/env python
"""Measure what z-order clustering buys: file-level min/max pruning on
BOTH filter dimensions at once (SCALING.md addendum 9).

Lays sf0.1 lineitem (~600 K rows) three ways into the same file count:

- natural:  hash repartition (every file spans the whole keyspace)
- linear:   range-partition + sort by l_partkey (clusters ONE column)
- zorder:   sources.layout.write_zordered over (l_partkey, l_suppkey)
- hilbert:  sources.layout.write_hilbert over the same dims (no
            diagonal jumps -> tighter per-file bounding boxes)

then evaluates a two-dimensional box predicate (a ~10% range on EACH
key — the dashboard/retrieval shape "this part family at these
suppliers") two ways:

1. FOOTER TRUTH: for each layout, count files whose parquet footer
   (min, max) ranges overlap the box on every constrained column —
   exactly the skipping decision Spark/any engine makes before reading
   data pages (pyarrow metadata read, no Spark).
2. SPARK WALLS: the filtered scan wall per layout (min-of-3, warm),
   with the result row count asserted identical across layouts.

Usage: python tools/scale_zorder.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from medallion_data_pipeline_spark.session import get_spark

FILES = 64
COLS = ("l_partkey", "l_suppkey")


def footer_overlap(path: str, box: dict[str, tuple[int, int]]) -> tuple[int, int]:
    """(files overlapping the box on every column, total files) from
    parquet footer column statistics only."""
    total, hit = 0, 0
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        total += 1
        md = pq.ParquetFile(os.path.join(path, name)).metadata
        lo: dict[str, int] = {}
        hi: dict[str, int] = {}
        for rg in range(md.num_row_groups):
            row = md.row_group(rg)
            for ci in range(row.num_columns):
                col = row.column(ci)
                cname = col.path_in_schema
                if cname in box and col.statistics is not None:
                    st = col.statistics
                    lo[cname] = min(lo.get(cname, st.min), st.min)
                    hi[cname] = max(hi.get(cname, st.max), st.max)
        if all(lo.get(c, box[c][0]) <= box[c][1]
               and hi.get(c, box[c][1]) >= box[c][0] for c in box):
            hit += 1
    return hit, total


def main() -> None:
    spark = get_spark("scale-zorder", shuffle_partitions=32)
    li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
    mm = li.agg(
        F.min("l_partkey"), F.max("l_partkey"),
        F.min("l_suppkey"), F.max("l_suppkey")).first()
    pmin, pmax, smin, smax = mm
    # a ~10% x ~10% box in the middle of the keyspace
    pw, sw = (pmax - pmin) // 10, (smax - smin) // 10
    box = {"l_partkey": (pmin + 4 * pw, pmin + 5 * pw),
           "l_suppkey": (smin + 4 * sw, smin + 5 * sw)}
    print(f"box: {box}  (global part {pmin}-{pmax}, supp {smin}-{smax})",
          flush=True)

    root = tempfile.mkdtemp(prefix="mdp_zorder_")
    out: dict[str, dict] = {"box": {k: list(v) for k, v in box.items()},
                            "files": FILES}
    try:
        from medallion_data_pipeline_spark.sources import layout as slayout

        layouts = {}
        t0 = time.time()
        li.repartition(FILES).write.mode("overwrite") \
            .parquet(os.path.join(root, "natural"))
        layouts["natural"] = round(time.time() - t0, 2)
        t0 = time.time()
        (li.repartitionByRange(FILES, "l_partkey")
         .sortWithinPartitions("l_partkey")
         .write.mode("overwrite").parquet(os.path.join(root, "linear")))
        layouts["linear"] = round(time.time() - t0, 2)
        t0 = time.time()
        slayout.write_zordered(
            li, os.path.join(root, "zorder"),
            [("l_partkey", pmin, pmax), ("l_suppkey", smin, smax)],
            files=FILES)
        layouts["zorder"] = round(time.time() - t0, 2)
        t0 = time.time()
        slayout.write_hilbert(
            li, os.path.join(root, "hilbert"),
            [("l_partkey", pmin, pmax), ("l_suppkey", smin, smax)],
            files=FILES)
        layouts["hilbert"] = round(time.time() - t0, 2)
        out["write_walls_s"] = layouts

        predicates = {
            "box_2d": box,
            # the second dimension ALONE — a linear sort on l_partkey
            # cannot prune this at all; z-order still can
            "suppkey_only": {"l_suppkey": box["l_suppkey"]},
        }
        for pname, pred in predicates.items():
            counts = set()
            out[pname] = {}
            for layout in ("natural", "linear", "zorder", "hilbert"):
                path = os.path.join(root, layout)
                hit, total = footer_overlap(path, pred)
                cond = None
                for c, (lo, hi) in pred.items():
                    piece = F.col(c).between(lo, hi)
                    cond = piece if cond is None else cond & piece
                df = spark.read.parquet(path).filter(cond)
                best, rows = float("inf"), None
                for _ in range(3):
                    t0 = time.time()
                    rows = df.count()
                    best = min(best, time.time() - t0)
                counts.add(rows)
                out[pname][layout] = {
                    "files_overlapping": hit, "files_total": total,
                    "scan_wall_s": round(best, 3), "rows": rows}
                print(f"  {pname:12s} {layout:8s} files {hit}/{total} "
                      f"overlap, scan {best:.3f}s, rows={rows}", flush=True)
            assert len(counts) == 1, \
                f"{pname}: row counts differ across layouts: {counts}"
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
