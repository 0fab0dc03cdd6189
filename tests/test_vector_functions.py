"""Unit tests for vector math, mirroring the reference's property checks
(self-similarity ≈ 1.0 at demo/similarity_search_demo.py:136-147, shape
checks at tests/test_generate_embeddings.py:42-50)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from pgvector_db_spark.functions.vector import (
    cosine_distance,
    cosine_similarity,
    dot_product,
    inner_product_distance,
    l1_distance,
    l2_distance,
    l2_norm,
    l2_normalize,
    to_vector,
    vector_dims,
    vector_literal,
)


@pytest.fixture(scope="module")
def pair_df(spark):
    return spark.createDataFrame(
        [([1.0, 2.0, 2.0], [2.0, 0.0, 0.0])], "a array<double>, b array<double>"
    )


def one(df, col):
    return df.select(col.alias("v")).collect()[0]["v"]


def test_dot_product(pair_df):
    assert one(pair_df, dot_product("a", "b")) == 2.0


def test_l2_norm(pair_df):
    assert one(pair_df, l2_norm("a")) == 3.0


def test_cosine_similarity_orthogonal(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0])], "a array<double>, b array<double>"
    )
    assert one(df, cosine_similarity("a", "b")) == 0.0
    assert one(df, cosine_distance("a", "b")) == 1.0


def test_cosine_identity(pair_df):
    assert abs(one(pair_df, cosine_similarity("a", "a")) - 1.0) < 1e-12


def test_l2_distance(pair_df):
    assert one(pair_df, l2_distance("a", "b")) == 3.0


def test_l1_distance(pair_df):
    assert one(pair_df, l1_distance("a", "b")) == 5.0


def test_inner_product_distance(pair_df):
    assert one(pair_df, inner_product_distance("a", "b")) == -2.0


def test_to_vector_and_dims(spark):
    df = spark.createDataFrame([("[0.5, 1.5, -2.0]",)], "s string")
    vec = one(df, to_vector("s"))
    assert vec == [0.5, 1.5, -2.0]
    assert one(df, vector_dims(to_vector("s"))) == 3


def test_l2_normalize(pair_df):
    n = one(pair_df.withColumn("u", l2_normalize("a")), l2_norm("u"))
    assert abs(n - 1.0) < 1e-12


def test_vector_literal(spark):
    df = spark.range(1)
    assert one(df, vector_literal([1.0, 2.0])) == [1.0, 2.0]


def test_self_similarity_on_fixture(tables):
    """Reference property: 1 - (e <=> e) == 1.0 for every row."""
    emb = tables["embeddings"]
    bad = (
        emb.select(cosine_similarity("embedding", "embedding").alias("s"))
        .filter(F.abs(F.col("s") - 1.0) > 1e-9)
        .count()
    )
    assert bad == 0


def test_dims_on_fixture(tables):
    dims = tables["embeddings"].select(vector_dims("embedding").alias("d")).distinct()
    assert [r["d"] for r in dims.collect()] == [64]


def test_nan_free_distances(tables):
    emb = tables["embeddings"].limit(50)
    q = emb.select(F.col("embedding").alias("qe")).limit(1)
    joined = emb.crossJoin(q)
    rows = joined.select(
        cosine_distance("embedding", "qe").alias("d"),
        l2_distance("embedding", "qe").alias("l2"),
    ).collect()
    assert all(not math.isnan(r["d"]) and not math.isnan(r["l2"]) for r in rows)


def test_quantize_int8_roundtrip(tables):
    from pyspark.sql import functions as F

    from pgvector_db_spark.functions.vector import (
        cosine_similarity,
        dequantize,
        quantize_int8,
        quantize_scale,
    )

    emb = tables["embeddings"].limit(100)
    s = quantize_scale("embedding")
    withq = emb.select(
        "vec_id",
        "embedding",
        quantize_int8("embedding", s).alias("q"),
        s.alias("scale"),
    )
    back = withq.withColumn("dq", dequantize("q", F.col("scale"))).select(
        "vec_id",
        cosine_similarity("embedding", "dq").alias("sim"),
        F.array_max("q").alias("qmax"),
        F.array_min("q").alias("qmin"),
    )
    rows = back.collect()
    assert all(r["sim"] > 0.999 for r in rows)       # <0.1% cosine error
    assert all(-127 <= r["qmin"] and r["qmax"] <= 127 for r in rows)
    assert dict(withq.schema["q"].dataType.jsonValue().items())["elementType"] == "byte"


def test_binary_quantize_bits(tables):
    from pgvector_db_spark.functions.vector import (
        binary_quantize,
        hamming_distance,
        jaccard_bit_distance,
    )

    emb = tables["embeddings"].limit(100)
    bq = emb.select(
        "vec_id",
        binary_quantize("embedding", 64).alias("bits"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
    )
    rows = bq.collect()
    assert all(len(r["bits"]) == 2 for r in rows)  # 64 dims -> two 32-bit words
    # total popcount equals the number of strictly-positive components
    pop = bq.select(
        "n_pos",
        F.aggregate(
            F.transform("bits", lambda w: F.bit_count(w)),
            F.lit(0),
            lambda a, x: a + x,
        ).alias("popcount"),
    ).collect()
    assert all(r["popcount"] == r["n_pos"] for r in pop)
    # identity distances
    d = bq.select(
        hamming_distance("bits", "bits").alias("h"),
        jaccard_bit_distance("bits", "bits").alias("j"),
    ).collect()
    assert all(r["h"] == 0 for r in d)
    assert all(abs(r["j"]) < 1e-12 for r in d)


# --- sparse surface (functions/sparse.py) ---------------------------------

from pgvector_db_spark.functions.sparse import (  # noqa: E402
    sparse_cosine_distance,
    sparse_dot,
    sparse_indices,
    sparse_norm,
    sparse_values,
    to_sparse,
)


@pytest.fixture(scope="module")
def sparse_df(spark):
    # a = [0, 2, 0, 3], b = [1, 2, 0, 0] -> dense dot = 4.0
    return spark.createDataFrame(
        [([0.0, 2.0, 0.0, 3.0], [1.0, 2.0, 0.0, 0.0])],
        "a array<double>, b array<double>",
    )


def test_to_sparse_drops_zeros(sparse_df):
    row = sparse_df.select(to_sparse("a").alias("s")).first()["s"]
    assert list(row["indices"]) == [2, 4]
    assert list(row["values"]) == [2.0, 3.0]


def test_sparse_dot_matches_dense(sparse_df):
    df = sparse_df.select(
        sparse_indices("a").alias("ai"), sparse_values("a").alias("av"),
        sparse_indices("b").alias("bi"), sparse_values("b").alias("bv"),
    )
    assert one(df, sparse_dot("ai", "av", "bi", "bv")) == 4.0


def test_sparse_dot_disjoint_is_zero(spark):
    df = spark.createDataFrame(
        [([1, 2], [5.0, 6.0], [3, 4], [7.0, 8.0])],
        "ai array<int>, av array<double>, bi array<int>, bv array<double>",
    )
    assert one(df, sparse_dot("ai", "av", "bi", "bv")) == 0.0


def test_sparse_self_cosine_zero(sparse_df):
    df = sparse_df.select(
        sparse_indices("a").alias("ai"), sparse_values("a").alias("av"),
    )
    d = one(df, sparse_cosine_distance("ai", "av", "ai", "av"))
    assert abs(d) < 1e-12


def test_sparse_norm_matches_dense(sparse_df):
    df = sparse_df.select(sparse_values("a").alias("av"))
    assert one(df, sparse_norm("av")) == one(sparse_df, l2_norm("a"))


def test_sparse_eps_prunes(sparse_df):
    row = sparse_df.select(to_sparse("a", eps=2.5).alias("s")).first()["s"]
    assert list(row["indices"]) == [4]


def test_half_quantize_grid(spark):
    from pgvector_db_spark.functions.vector import half_quantize

    df = spark.createDataFrame(
        [([0.0, 1.0, -2.5, 1.0 / 3.0, 1e-8],)], "a array<double>"
    )
    got = one(df, half_quantize("a"))
    # exact values survive; 1/3 snaps to the 11-bit grid near 1/3
    assert got[0] == 0.0 and got[1] == 1.0 and got[2] == -2.5
    assert got[3] == pytest.approx(1.0 / 3.0, rel=2**-10)
    assert got[3] != 1.0 / 3.0
    assert got[4] == pytest.approx(1e-8, rel=2**-10)  # no subnormal clamp
    # idempotent: snapping an already-snapped vector is a no-op
    df2 = spark.createDataFrame([(got,)], "a array<double>")
    assert one(df2, half_quantize("a")) == got


def test_subvector(pair_df):
    from pgvector_db_spark.functions.vector import subvector, subvector_sql

    assert one(pair_df, subvector("a", 1, 2)) == [1.0, 2.0]
    assert one(pair_df, subvector("a", 2, 2)) == [2.0, 2.0]
    # prefix distance equals full distance when the tail is identical
    assert one(
        pair_df,
        cosine_distance(subvector_sql("a", 1, 3), subvector_sql("b", 1, 3))
        - cosine_distance("a", "b"),
    ) == pytest.approx(0.0)
