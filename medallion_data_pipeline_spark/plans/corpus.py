"""End-to-end training-corpus curation pipeline.

The LLM-data dual of plans/etl.py: one entry point that takes a raw
document table through the standard web-corpus prep stages and lands
each layer as parquet, with per-stage audited counts —

    raw -> quality gate (Gopher/C4 rules)
        -> exact dedup (md5 fingerprint, keep lowest id)
        -> near-dup dedup (MinHash-LSH pairs -> connected components,
           longest doc per cluster wins)
        -> cluster-aware train/val/test split (near-dups can never
           straddle splits; md5 buckets, no RNG)
        -> sequence packing (512-token contexts per (split, lang))

Every stage is a composition of the oracle-gated operators
(operators/dedup.py, operators/graph.py, functions/text.py), so the
pipeline inherits their verified semantics; this module adds the
layering, writes, and stats. All stage choices are deterministic —
re-running on the same input reproduces byte-identical layers.

Scale shape: the gate is scan-local expressions; both dedup stages
shuffle on content keys (fingerprint / band key) with work linear in
colliding pairs; the cluster map is bounded by the near-dup population
(broadcast); the split is a map; packing windows on (split, lang) —
sub-shard by a hash at extreme scale as sequence_packing documents.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .._util import StageRecorder, StageResult, read_parquet
from ..functions import text as X
from ..operators.dedup import exact_duplicates, minhash_near_duplicates
from ..operators.graph import connected_components
from ..sources.testdata import load_table


def quality_gate(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher/C4 gates (word-count floor, stopword floor,
    distinct-token floor, mean-word-length band) as pure staged column
    expressions — the same predicate the oracle-gated
    `gopher_quality_filters` query tallies."""
    d = docs.withColumn("_toks", X.words(F.col(text_col)))
    n = F.size("_toks")
    stop = F.size(F.filter(F.col("_toks"), lambda t: t.isin(X.EN_STOPWORDS)))
    total_len = F.aggregate(F.col("_toks"), F.lit(0).cast("long"),
                            lambda acc, t: acc + F.length(t))
    d = (
        d.withColumn("_n", n)
        .withColumn("_stop_frac", F.when(n > 0, stop.cast("double") / n))
        .withColumn("_distinct_frac",
                    F.when(n > 0, F.size(F.array_distinct("_toks")).cast("double") / n))
        .withColumn("_mwl", F.when(n > 0, total_len.cast("double") / n))
    )
    keep = (
        (F.col("_n") >= 30) & (F.col("_stop_frac") >= 0.02)
        & (F.col("_distinct_frac") >= 0.5) & F.col("_mwl").between(3, 10)
    )
    return d.filter(keep).drop("_toks", "_n", "_stop_frac",
                               "_distinct_frac", "_mwl")


def drop_exact_duplicates(docs: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id document per normalized-text fingerprint."""
    keepers = exact_duplicates(docs, text_col, id_col).select(
        F.col("keep_id").alias(id_col))
    return docs.join(keepers, id_col, "left_semi")


def drop_near_duplicates(docs: DataFrame, threshold: float = 0.4,
                         text_col: str = "text",
                         id_col: str = "doc_id",
                         oversized_star: int | None = None
                         ) -> tuple[DataFrame, DataFrame]:
    """MinHash-LSH near-dup clusters; the longest doc per cluster wins
    (tiebreak: lowest id). Returns (survivors, cluster_map) — the map
    (bounded by the near-dup population) feeds the split stage so
    near-dup survivors still split by their cluster key.

    ``oversized_star`` is the boilerplate-clique knob: this flow only
    consumes connected COMPONENTS, so star candidates in oversized
    band buckets (operators/dedup.py::minhash_near_duplicates) keep the
    clusters while cutting a clique's candidate volume from quadratic
    to linear — the knob to turn on for crawl-scale corpora."""
    pairs = minhash_near_duplicates(docs, text_col, id_col,
                                    threshold=threshold,
                                    oversized_star=oversized_star)
    clusters = connected_components(pairs).select(
        F.col("node").alias(id_col), F.col("comp").alias("cluster_id"))
    sized = (
        docs.join(F.broadcast(clusters), id_col)
        .select("cluster_id", F.col(id_col),
                F.size(X.words(F.col(text_col))).cast("long").alias("_tok"))
    )
    w = W.partitionBy("cluster_id").orderBy(F.desc("_tok"), F.asc(id_col))
    losers = (
        sized.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") > 1).select(F.col(id_col))
    )
    return docs.join(losers, id_col, "left_anti"), clusters


def cluster_split(docs: DataFrame, clusters: DataFrame,
                  id_col: str = "doc_id") -> DataFrame:
    """Deterministic md5 80/10/10 split keyed on the dedup cluster id
    (singletons key on themselves) — near-dups never straddle splits."""
    keyed = (
        docs.join(F.broadcast(clusters), id_col, "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col(id_col)))
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    return keyed.withColumn(
        "split",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"),
    )


def pack_contexts(docs: DataFrame, context_tokens: int = 512,
                  text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Assign each document to a packed context bin per (split, lang):
    stream docs in id order, cut a new bin when the running token sum
    crosses the boundary (the sequence_packing recipe, keyed by split
    as well so bins never cross split boundaries).

    Bin ids are DENSE (0..n_bins-1 per partition, no holes): a raw
    floor(prefix_sum/context) bin skips indices whenever one document
    is longer than ``context_tokens``, so the bin id is instead the
    running count of boundary crossings. All three windows share one
    (split, lang, id) sort — a single shuffle."""
    d = docs.withColumn("_tok", F.size(X.words(F.col(text_col))))
    wf = W.partitionBy("split", "lang").orderBy(id_col)
    w = wf.rowsBetween(W.unboundedPreceding, -1)
    cum_before = F.coalesce(F.sum("_tok").over(w), F.lit(0))
    d = d.withColumn("_rawbin", F.floor(cum_before / context_tokens))
    crossed = F.when(
        F.lag("_rawbin").over(wf).isNull()
        | (F.col("_rawbin") == F.lag("_rawbin").over(wf)),
        F.lit(0),
    ).otherwise(F.lit(1))
    return (
        d.withColumn(
            "bin",
            F.sum(crossed).over(wf.rowsBetween(W.unboundedPreceding, 0))
            .cast("long"))
        .drop("_rawbin")
        .withColumnRenamed("_tok", "n_tokens")
    )


def run_corpus_pipeline(spark: SparkSession, sf_dir: str, out_dir: str,
                        threshold: float = 0.4,
                        context_tokens: int = 512,
                        oversized_star: int | None = None) -> list[StageResult]:
    """Run the full curation pipeline over ``sf_dir``'s documents and
    land the layers under ``out_dir``: filtered/, dedup/, and corpus/
    (partitioned by split, with cluster_id, n_tokens, and bin columns).
    Returns per-stage audited counts + wall times."""
    rec = StageRecorder(out_dir)

    # the raw count rides the first stage's write action: observe is
    # placed BEFORE the gate's filter, so it sees every scanned row —
    # identical to a separate docs.count() job, one fewer action
    # (r15, the silver-plan pattern; count never NULLs on empty input)
    from pyspark.sql import Observation

    raw_obs = Observation()
    docs = load_table(spark, sf_dir, "documents") \
        .observe(raw_obs, F.count(F.lit(1)).alias("n"))

    t0 = time.time()
    gated = quality_gate(docs)
    n = rec.write("quality_gate", -1, gated, "filtered", t0)
    # patch the just-appended stage in place (StageResult is a mutable
    # dataclass — ADVICE r15: reconstructing results[0] coupled the
    # patch to the stage's index and left a -1 sentinel on failure)
    rec.results[-1].rows_in = int(raw_obs.get["n"])
    gated = read_parquet(spark, os.path.join(out_dir, "filtered"))

    t0 = time.time()
    # persisted: feeds its own count plus both sides of the near-dup
    # stage (pair generation and the anti-join) — unpersisted, the
    # fingerprint semi-join would re-run per consumer
    exact = drop_exact_duplicates(gated).persist()
    n = rec.record("exact_dedup", n, exact.count(), t0)

    t0 = time.time()
    survivors, clusters = drop_near_duplicates(
        exact, threshold=threshold, oversized_star=oversized_star)
    survivors = survivors.persist()
    n = rec.write("near_dedup", n, survivors, "dedup", t0)

    t0 = time.time()
    split = cluster_split(survivors, clusters)
    packed = pack_contexts(split, context_tokens=context_tokens)
    rec.write("split_and_pack", n, packed, "corpus", t0,
              partition_by=["split"])
    survivors.unpersist()
    exact.unpersist()
    return rec.results


def main() -> None:  # pragma: no cover - CLI convenience
    import sys

    from ..session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/corpus_wh"
    spark = get_spark("corpus-pipeline", shuffle_partitions=16)
    for r in run_corpus_pipeline(spark, sf_dir, out_dir):
        print(f"[corpus] {r.stage}: in={r.rows_in} out={r.rows_out} ({r.wall_s}s)")


if __name__ == "__main__":
    main()
