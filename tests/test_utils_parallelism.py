"""r14 optimization-round pins: local_rows_df (bounded-slice local
frames) and the _base_stats broadcast byte estimate."""

from __future__ import annotations

from pyspark.sql import functions as F

from pgvector_db_spark.utils import local_rows_df


def test_local_rows_df_matches_createdataframe(spark):
    """Rows, schema and null handling must be IDENTICAL to the plain
    spark.createDataFrame(list, schema) spelling — local_rows_df only
    bounds the slice count (one Python-worker round trip per slice per
    action instead of defaultParallelism of them)."""
    src = spark.sql(
        """
        SELECT id, CAST(id AS STRING) s, array(id, id + 1) arr,
               timestamp'2024-01-02 03:04:05.123456' ts,
               CAST(NULL AS DOUBLE) d, unhex('DEADBEEF') b
        FROM range(5)
        """
    )
    rows = src.collect()
    a = spark.createDataFrame(rows, src.schema)
    b = local_rows_df(spark, rows, src.schema)
    assert a.schema == b.schema
    assert a.collect() == b.collect()
    assert b.rdd.getNumPartitions() == 1


def test_local_rows_df_null_and_empty(spark):
    schema = "i int, arr array<double>, s string"
    rows = [(1, None, None), (None, [1.0, None], "x")]
    a = spark.createDataFrame(rows, schema).collect()
    b = local_rows_df(spark, rows, schema)
    assert b.collect() == a
    empty = local_rows_df(spark, [], schema)
    assert empty.count() == 0
    assert empty.schema == b.schema


def test_local_rows_df_slices_scale_with_rows(spark):
    rows = [(i,) for i in range(10)]
    df = local_rows_df(spark, rows, "i int", slice_rows=3)
    assert df.rdd.getNumPartitions() == 4  # ceil(10/3)
    assert sorted(r["i"] for r in df.collect()) == list(range(10))


def test_base_stats_estimate_orders_of_magnitude(spark):
    """_base_stats must return the exact doc count and a byte estimate
    of the per-doc gram table that is at least the raw character count
    and within a small factor of it (overheads only) — the input to the
    verification-broadcast byte gate."""
    from pgvector_db_spark.operators.dedup import (
        _base_stats,
        _word_ngrams,
    )

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(20)],
        "doc_id bigint, text string",
    )
    base = docs.select(
        F.col("doc_id"), _word_ngrams("text", 3).alias("_ng")
    )
    n_docs, est = _base_stats(base)
    assert n_docs == 20
    raw_chars = sum(
        len(" ".join(["alpha", "beta", "gamma", "delta", "epsilon", "zeta"][j:j + 3]))
        for j in range(4)
    ) * 20
    assert est >= raw_chars
    assert est <= raw_chars * 20  # overhead-bounded, not runaway


def test_prefix_filter_byte_budget_matches_unbudgeted(spark):
    """broadcast_max_bytes=0 forces the shuffled verification path; the
    pair results must be identical to the broadcast path (the gate is
    an execution-strategy choice, never a semantics choice)."""
    from pgvector_db_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g x"),
            (3, "q w e r t y u i"),
            (4, "q w e r t y u o"),
            (5, "z z z unrelated text here ok"),
        ],
        "doc_id bigint, text string",
    )
    broad = sorted(
        map(tuple, prefix_filter_jaccard_pairs(docs, n=2).collect())
    )
    shuffled = sorted(
        map(
            tuple,
            prefix_filter_jaccard_pairs(
                docs, n=2, broadcast_max_bytes=0
            ).collect(),
        )
    )
    assert broad == shuffled
    assert broad, "fixture must produce at least one pair"
