"""Skew-aware join: explicit key salting.

AQE's skew-join handling (on in session.py) splits oversized shuffle
partitions automatically; explicit salting is still the right tool when
one hot key dominates a shuffle-hash join whose small side can be
replicated. Pattern: append salt 0..n-1 to the big side's key, explode
the small side across all salt values, equi-join on (key, salt) —
the hot key's rows spread over n partitions.

Measured head-to-head (docs/SCALING.md addendum 11; 16M-row fact
with 50% on one hot key, broadcast disabled, all variants moving the
SAME columns through the shuffle, minima over two runs of min-of-3):

- **Shuffle JOINS: let AQE handle it first.** Runtime skew splitting
  beat manual salting at equal workload (4.36 s unsplit -> 1.35 s
  AQE vs 1.95 s salted, `SortMergeJoin(skew=true)` in the final
  plan) — zero code cost, and salting additionally pays the exploded
  small side and the salt column in every shuffled row. Salting
  remains for: skew below AQE's byte thresholds (default 256 MB AND
  5x median — many moderately-hot keys can straggle without tripping
  it), engines/paths with AQE unavailable, and hot-on-BOTH-sides
  joins (AQE splits one side's partition and replicates the other's
  — the N x M hot-cell explosion needs a semantic fix, not routing).
- **Aggregations: AQE does NOT split them, but Spark's map-side
  partial aggregation already absorbs combinable skew** (sum/count/
  dup-heavy sets collapse before the shuffle). For DISTINCT-heavy
  per-key state, two-phase salting is a measured PESSIMIZATION
  (16.1 s vs 3.2 s direct: nothing combines, so the second phase
  re-shuffles every element into one fat merge task); the scale
  answer is a mergeable sketch (approx_count_distinct: 0.66 s).
  `salted_two_phase_agg` earns its keep only when partials SHRINK
  under merge or when one reducer's state exceeds memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(big: DataFrame, small: DataFrame, key: str,
                n_salts: int = 8, how: str = "inner") -> DataFrame:
    """Join ``big`` (skewed on ``key``) with ``small`` by salting.

    Deterministic salt from a stable hash of the big side's whole row
    key-space would need a unique id; spreading by pmod(xxhash64(key,
    monotonically_increasing_id)) is nondeterministic across runs, so
    we salt by pmod over an arbitrary second column when present, else
    a per-partition counter — correctness is unaffected (salt only
    routes rows), results are identical to an unsalted join.

    Only inner/left (big-side-preserving) joins are supported: a
    right/full join would emit every unmatched small-side row once per
    salt replica, which is NOT the unsalted result.
    """
    if how not in ("inner", "left", "leftouter", "left_outer"):
        raise ValueError(
            f"salted_join supports inner/left joins, got {how!r}: the "
            "exploded small side would duplicate unmatched rows under "
            "right/full joins")
    salt = F.pmod(F.xxhash64(F.col(key), F.spark_partition_id()), F.lit(n_salts))
    b = big.withColumn("_salt", salt)
    s = small.withColumn("_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)])))
    out = b.join(s, on=[key, "_salt"], how=how)
    return out.drop("_salt")


def salted_two_phase_agg(df: DataFrame, keys: list[str], aggs: dict,
                         n_salts: int = 8) -> DataFrame:
    """Skew-safe aggregation: pre-aggregate on (keys, salt) so a hot
    group's rows combine across n_salts partitions first, then merge
    the partials per key. Measures must be mergeable (sum/count/min/
    max — see operators/incremental.py for the same algebra).

    ``aggs``: out_col -> (partial_fn, merge_fn) column-builder pair,
    e.g. {"n": (lambda: F.count(F.lit(1)), lambda c: F.sum(c))}.

    Spark's own hash aggregate already does map-side partials, which
    covers most skew; explicit salting matters when the per-key state
    is too big for one reducer (huge collect_list/distinct state) or
    when AQE is unavailable. Results are identical to a direct groupBy
    — the salt only routes rows.
    """
    salt = F.pmod(F.xxhash64(*[F.col(k) for k in keys],
                             F.spark_partition_id()), F.lit(n_salts))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*keys, "_salt")
        .agg(*[build().alias(out) for out, (build, _m) in aggs.items()])
    )
    return partial.groupBy(*keys).agg(
        *[merge(out).alias(out) for out, (_b, merge) in aggs.items()])
