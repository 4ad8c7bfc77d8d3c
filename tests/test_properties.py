"""Property-based invariants (hypothesis) for the core kernels.

Each property runs a handful of generated examples through real Spark jobs,
so example counts are small and deadlines disabled — the value is the
generator's adversarial shapes (empty docs, dup tokens), not volume.
"""

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

TOKEN = st.text(alphabet="abcdefgh", min_size=1, max_size=3)
DOC = st.lists(TOKEN, min_size=0, max_size=40)

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@settings(**_SETTINGS)
@given(a=DOC, b=DOC)
def test_shingle_representation_preserves_jaccard(spark, a, b):
    """The v2 windowed-hash shingles must induce the same SET semantics as
    v1 string shingles: per-doc distinct count and pairwise jaccard agree
    for any token sequences (hash collisions are ~2^-64, never seen)."""
    from nhse_probabilistic_linkage_spark.functions.text import (
        shingle_hashes,
        shingles,
        tokenize,
        windowed_shingle_hashes,
    )

    df = spark.createDataFrame([(1, " ".join(a)), (2, " ".join(b))], "id long, text string")
    t = df.withColumn("_toks", tokenize(F.col("text"))).withColumn(
        "_th", F.transform(F.col("_toks"), lambda x: F.xxhash64(x))
    )
    rows = t.select(
        "id",
        shingle_hashes(shingles(F.col("_toks"), 5)).alias("v1"),
        windowed_shingle_hashes(F.col("_th"), 5).alias("v2"),
    ).collect()
    by_id = {r.id: r for r in rows}
    for i in (1, 2):
        assert len(set(by_id[i].v1)) == len(set(by_id[i].v2))

    def jac(x, y):
        return len(x & y) / len(x | y) if (x | y) else None

    # pairwise jaccard identical under both representations
    j_v1 = jac(set(by_id[1].v1), set(by_id[2].v1))
    j_v2 = jac(set(by_id[1].v2), set(by_id[2].v2))
    assert j_v1 == j_v2


@settings(**_SETTINGS)
@given(
    a=st.lists(st.integers(min_value=0, max_value=30), min_size=0, max_size=25),
    b=st.lists(st.integers(min_value=0, max_value=30), min_size=0, max_size=25),
)
def test_verify_jaccard_equals_set_jaccard(spark, a, b):
    """verify_pairs' arithmetic-union jaccard equals the plain set-theoretic
    jaccard for arbitrary arrays, INCLUDING inputs with duplicate elements
    (the per-doc size uses array_distinct) and empty arrays (-> 1.0)."""
    from nhse_probabilistic_linkage_spark.operators.verify import verify_pairs

    docs = spark.createDataFrame(
        [(1, [int(x) for x in a]), (2, [int(x) for x in b])],
        "doc_id long, shingles array<bigint>",
    )
    pairs = spark.createDataFrame([(1, 2)], "id_l long, id_r long")
    got = verify_pairs(pairs, docs).collect()[0]["jaccard"]
    sa, sb = set(a), set(b)
    want = len(sa & sb) / len(sa | sb) if (sa | sb) else 1.0
    assert got == pytest.approx(want)
