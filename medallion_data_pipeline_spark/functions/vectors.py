"""Dense-vector math over ``array<float/double>`` embedding columns.

Built entirely from Spark's higher-order array functions (zip_with /
aggregate / transform) so the dot products run inside codegen — no
Python UDF, no MLlib Vector conversion. At 100 TB the brute-force path
is a cross-join bounded by a candidate filter (LSH bucket / IVF cell);
see operators/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def lit_double_array(values) -> Column:
    """Literal array<double> built as ONE ``F.expr`` parse instead of
    len(values)+1 py4j round-trips (``F.array(*[F.lit(x) ...])``).
    Plan-construction cost, not execution cost — but it dominated the
    PQ/LSH walls: a 4x8-codebook staged argmin plus its ADC lookup is
    ~2,300 literal calls (~2 s of driver time per plan build), and a
    10-plane x 100-table LSH key would be ~64,000. repr(float) is the
    shortest round-trip decimal and Java's Double.parseDouble parses
    it back to the identical bits, so the Literal is byte-identical to
    the F.lit path (pinned by test_lit_double_array_identical).

    An empty iterable still types as array<double>: bare ``array()``
    would be array<string> — a latent type mismatch if a zero-dim
    plane or empty centroid ever reached a zip_with/aggregate over
    doubles."""
    body = ",".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in values)
    if not body:
        return F.expr("CAST(array() AS array<double>)")
    return F.expr("array(" + body + ")")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    d = norm(a) * norm(b)
    return F.when(d > 0, dot(a, b) / d)


def _plane_component(seed: int, p: int, j: int) -> float:
    """Deterministic pseudo-random plane component in [-1, 1): derived
    from md5(seed:p:j) so the planes are reproducible across runs,
    engines, and languages (same derivation usable in a SQL oracle)."""
    import hashlib

    h = hashlib.md5(f"{seed}:{p}:{j}".encode()).hexdigest()
    return int(h[:8], 16) / float(2**31) - 1.0


def sign_lsh_key(a: Column, n_planes: int = 8, seed: int = 7, dim: int = 64) -> Column:
    """Random-hyperplane (sign) LSH bucket key for cosine similarity.

    The key is the n_planes-bit sign pattern of projections onto
    deterministic md5-derived hyperplanes. Same-bucket vectors are
    cosine neighbors with high probability; used to prune the ANN
    cross-join. Planes are materialized driver-side as array literals
    (they are per-(plane, dim) CONSTANTS — deriving them inside the row
    expression would recompute n_planes x dim md5s per row).
    """
    key = F.lit(0).cast("long")
    for p in range(n_planes):
        plane = lit_double_array(
            _plane_component(seed, p, j) for j in range(dim))
        proj = F.aggregate(
            F.zip_with(a, plane, lambda x, w: x * w),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        key = key + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return key
