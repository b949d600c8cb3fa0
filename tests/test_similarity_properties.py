"""Property-based tests for the similarity kernel and the tokenizer.

- exhaustive ``search`` against a Python mirror on random INTEGER-valued
  embeddings: integer components keep every dot product and squared
  norm exact in IEEE doubles regardless of summation order, so the
  engine's sequential fold and the mirror's math produce bit-identical
  cosines and the (rank, neighbor) assertion is deterministic — no
  tolerance fudging that could mask a real scoring bug.
- ``token_count_bpe_ish`` (JVM regex) against Python ``re.ASCII``
  counting with the shared pattern — pins the cross-engine ASCII-\\w
  contract stated in functions/text.py.
"""

from __future__ import annotations

import math
import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from medallion_data_pipeline_spark.functions.text import BPE_ISH_PATTERN
from medallion_data_pipeline_spark.operators import similarity as S

_SETTINGS = dict(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,
)

_DIM = 6

vectors = st.lists(
    st.lists(st.integers(min_value=-9, max_value=9),
             min_size=_DIM, max_size=_DIM),
    min_size=3, max_size=10,
)


@given(vecs=vectors)
@settings(**_SETTINGS)
def test_knn_bruteforce_matches_python_mirror(spark, vecs):
    # drop zero vectors: cosine is undefined there and the operator
    # NULL-guards them out of scoring
    vecs = [v for v in vecs if any(v)] or [[1] * _DIM]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>")
    k = 2
    got: dict[int, list[tuple[int, int]]] = {}
    for r in S.search(df, df, k).collect():
        got.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))

    norms = [math.sqrt(float(sum(x * x for x in v))) for v in vecs]
    for q, qv in enumerate(vecs):
        scored = []
        for n, nv in enumerate(vecs):
            if n == q:
                continue
            cos = float(sum(a * b for a, b in zip(qv, nv))) / (norms[q] * norms[n])
            scored.append((-cos, n))
        scored.sort()
        expected = [(rank + 1, n) for rank, (_, n) in enumerate(scored[:k])]
        assert sorted(got.get(q, [])) == expected, (q, qv)


@given(texts=st.lists(
    st.text(alphabet=st.characters(codec="ascii"), max_size=30),
    min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_bpe_ish_token_count_matches_python_ascii(spark, texts):
    from medallion_data_pipeline_spark.functions.text import token_count_bpe_ish

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r.n for r in df.select(token_count_bpe_ish(F.col("text")).alias("n")).collect()]
    pat = re.compile(BPE_ISH_PATTERN, re.ASCII)
    ascii_ws = " \t\n\r\f\v"  # Java/RE2 \s; NOT Python str.split()'s set,
    #                           which also eats \x1c-\x1f (Unicode rules)
    for t, n in zip(texts, got):
        norm = re.sub(r"\s+", " ", t.lower(), flags=re.ASCII).strip(ascii_ws)
        assert n == len(pat.findall(norm)), repr(t)


def test_all_pairs_matmul_matches_numpy_brute_force(spark):
    """The BLAS all-pairs kernel returns exactly the numpy brute-force
    pair set at the threshold, with matching 6-dp cosines — pinning
    the mapInPandas batching, the id_a < id_b triangle mask, and the
    zero-norm guard against an independent implementation."""
    import numpy as np

    from medallion_data_pipeline_spark.operators.similarity import (
        all_pairs_cosine_matmul,
    )
    from medallion_data_pipeline_spark.sources.testdata import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    got = {(r.id_a, r.id_b): r.cosine
           for r in all_pairs_cosine_matmul(emb, threshold=0.42).collect()}

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    m = np.asarray([list(r.embedding) for r in rows], dtype="float64")
    norms = np.linalg.norm(m, axis=1)
    sims = (m @ m.T) / (norms[:, None] * norms[None, :])
    expected = {}
    for a in range(len(ids)):
        for b in range(len(ids)):
            if ids[a] < ids[b] and sims[a, b] >= 0.42:
                expected[(int(ids[a]), int(ids[b]))] = round(float(sims[a, b]), 6)
    assert got == expected and len(got) > 0


def test_lit_double_array_identical(spark):
    """lit_double_array (one F.expr parse) must produce BIT-identical
    doubles to the F.lit-per-element path for adversarial values:
    repr(float) is the shortest round-trip decimal and the SQL CAST
    parses it back to the same IEEE bits."""
    import math
    import struct

    from pyspark.sql import functions as F

    from medallion_data_pipeline_spark.functions.vectors import lit_double_array

    vals = [0.1, -0.1, 1e-308, -1e308, 2.0 ** -52, 1 + 2.0 ** -52,
            123456789.123456789, -0.0, 0.0, 3.141592653589793,
            6.02214076e23, 1e-7, -2.5e-10, 0.30000000000000004]
    df = spark.range(1).select(
        lit_double_array(vals).alias("a"),
        F.array(*[F.lit(float(x)) for x in vals]).alias("b"))
    row = df.collect()[0]
    bits = lambda x: struct.pack(">d", x)
    assert [bits(x) for x in row.a] == [bits(x) for x in row.b]
    assert [bits(x) for x in row.a] == [bits(float(v)) for v in vals]
    assert not any(math.isnan(x) for x in row.a)


def test_lit_double_array_empty_is_typed(spark):
    """The empty case must still be array<double> — bare array() types
    as array<string> and would blow up a zip_with over doubles."""
    from medallion_data_pipeline_spark.functions.vectors import lit_double_array

    df = spark.range(1).select(lit_double_array([]).alias("a"))
    assert df.schema["a"].dataType.simpleString() == "array<double>"
    assert df.collect()[0].a == []


# --- SQ8 quantization: adversarial-float properties ------------------------

_sq_floats = st.floats(min_value=-1e300, max_value=1e300,
                       allow_nan=False, allow_infinity=False)

_sq_corpora = st.lists(
    st.lists(_sq_floats, min_size=3, max_size=3),
    min_size=2, max_size=6,
)


@given(vecs=_sq_corpora, widen=st.floats(min_value=0.0, max_value=1e5))
@settings(**_SETTINGS)
def test_sq8_codes_match_numpy_mirror_and_stay_in_range(
        spark, vecs, widen):
    """For ANY finite doubles — huge magnitudes whose (x-vmin)*255
    overflows to inf, near-zero spans, stats WIDER than the data
    (stale-catalog case: values land strictly inside [vmin, vmax]) —
    the engine's codes must (a) equal a numpy mirror of the exact op
    order, (b) stay in [0, 255], (c) be 0 on zero-span dims. This is
    the same class of edge the z-order floor-of-double bug hid in
    (functions/layout.py history): pin the arithmetic, not the happy
    path."""
    import numpy as np

    arr = np.array(vecs, dtype="float64")
    vmins = arr.min(axis=0) - widen
    vmaxs = arr.max(axis=0) + widen
    if not (np.isfinite(vmins).all() and np.isfinite(vmaxs).all()):
        return

    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    got = {r.vec_id: np.array(r.codes)
           for r in S.sq_assign(df, list(vmins), list(vmaxs)).collect()}

    span = vmaxs - vmins
    with np.errstate(over="ignore", invalid="ignore"):
        scaled = (arr - vmins) * 255.0 / span
    want = np.floor(np.clip(scaled, 0.0, 255.0) + 0.5)
    want = np.where(span > 0, want, 0.0).astype("int64")

    for i in range(len(vecs)):
        assert (got[i] >= 0).all() and (got[i] <= 255).all()
        assert (got[i] == want[i]).all(), (vecs[i], got[i], want[i])


@given(vecs=_sq_corpora)
@settings(**_SETTINGS)
def test_sq8_out_of_range_values_clamp_to_edge_codes(spark, vecs):
    """Stale stats (values OUTSIDE the trained [vmin, vmax]) must clamp
    to codes 0/255 — degrade, never corrupt (the normalize_dim
    contract, mirrored)."""
    import numpy as np

    arr = np.array(vecs, dtype="float64")
    # train on the interior rows only, then quantize everything
    vmins = (arr.min(axis=0) + 1.0).tolist()
    vmaxs = [mn + 2.0 for mn in vmins]
    got = {r.vec_id: np.array(r.codes) for r in S.sq_assign(
        spark.createDataFrame(
            [(i, [float(x) for x in row]) for i, row in enumerate(vecs)],
            "vec_id long, embedding array<double>"),
        vmins, vmaxs).collect()}
    # at |v| >= 2^53 the +1/+2 construction collapses (ulp > 1) and the
    # span degenerates to 0 — there the zero-span contract (code 0,
    # pinned by the mirror property above) applies, not the clamp
    span = np.array(vmaxs) - np.array(vmins)
    for i, row in enumerate(arr):
        below = (row < np.array(vmins)) & (span > 0)
        above = (row > np.array(vmaxs)) & (span > 0)
        assert (got[i][below] == 0).all()
        assert (got[i][above] == 255).all()
