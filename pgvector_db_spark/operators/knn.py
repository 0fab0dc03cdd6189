"""Exact vector-search operators (the reference's read path).

Reference queries re-expressed Spark-first:
  - top-k: ``ORDER BY embedding <=> q LIMIT k``
    (demo/aws_rds_demo.py:71-77 k=3; demo/aws_rds_similarity_search_demo.py
    :170-180 k=3, :199-203 k=10; README.md:230-241 k=5)
  - query-by-example CTE + cross join
    (demo/similarity_search_demo.py:83-95, README.md:232-241)
  - pairwise average similarity over a self cross-join
    (demo/similarity_search_demo.py:125-130)
  - self-similarity identity (demo/similarity_search_demo.py:136-143)

Scale notes:
  - ``orderBy(dist).limit(k)`` compiles to ``TakeOrderedAndProject``:
    each partition computes a local top-k, the driver merges k*partitions
    rows — no global sort, no full shuffle. This is the right exact-kNN
    plan at any scale; the ANN path (operators/ivf.py) prunes partitions
    before this same kernel runs.
  - The 1-row query-by-example side is always broadcast: a
    BroadcastNestedLoopJoin with a single build row is a map-side operation.
  - The O(n^2) pairwise aggregate is kept for parity with the reference's
    demo; at scale use a sampled estimate (``pairwise_avg_similarity(...,
    sample=...)``) or an LSH similarity join (operators/dedup.py).

All distance math is float64 sequential-fold (functions/vector.py) so the
DuckDB oracle matches bitwise; ORDER BY always tie-breaks on the unique id
so top-k row sets are deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pgvector_db_spark.functions.vector import (
    DISTANCE_SQL,
    col_sql,
    cosine_distance,
    cosine_distance_precomputed_sql,
    cosine_similarity,
    fold_norm,
    vector_literal_sql,
)


def knn(
    df: DataFrame,
    query_vec: list[float],
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    distance: str = "cosine",
    norm_col: str | None = None,
) -> DataFrame:
    """Exact top-k nearest neighbors of the list ``query_vec``.

    Returns the input columns plus ``distance`` and ``similarity``
    (cosine), ordered nearest-first with ``id_col`` as tie-break.

    ``norm_col`` names a column holding each row's precomputed
    :func:`l2_norm` (a norm-materialized layout, e.g. the IVF index):
    scoring then folds over each vector ONCE (the dot product) instead of
    three times, with bitwise-identical distances (the query norm is the
    same sequential fold, driver-side).

    The distance with its dimension guard, and the similarity, are SQL
    text from the functions/vector.py generators with the query inlined
    as one literal, so building the plan costs the same few JVM calls at
    any dimension.
    """
    if distance not in DISTANCE_SQL:
        raise ValueError(f"unsupported distance: {distance}")
    v, q = col_sql(vec_col), vector_literal_sql(query_vec)
    if distance == "cosine" and norm_col is not None:
        qnorm = f"CAST('{fold_norm(query_vec)!r}' AS DOUBLE)"
        dist = cosine_distance_precomputed_sql(v, q, col_sql(norm_col), qnorm)
    else:
        dist = DISTANCE_SQL[distance](v, q)
    # dimension guard inside the expression (no extra driver job):
    # zip_with pads the shorter side with nulls, which would silently
    # poison distances — pgvector errors on dim mismatch, so do we
    msg = f"knn: query vector dim {len(query_vec)} != {vec_col} dim "
    msg = msg.replace("\\", "\\\\").replace("'", "\\'")
    dist = (
        f"CASE WHEN size({v}) = {len(query_vec)} THEN {dist} "
        f"ELSE raise_error(concat('{msg}', CAST(size({v}) AS STRING))) END"
    )
    # l2 and ip (pgvector's other operator classes) negate, so the schema
    # is stable; for ip that is the raw inner product
    sim = "(1.0 - distance)" if distance == "cosine" else "(-distance)"
    return (
        df.withColumn("distance", F.expr(dist))
        .withColumn("similarity", F.expr(sim))
        .orderBy(F.col("distance").asc(), F.col(id_col).asc())
        .limit(k)
    )


def query_by_example(
    df: DataFrame,
    example_id: int,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The reference's CTE pattern: pick one row's embedding as the query,
    rank every *other* row by similarity to it
    (demo/similarity_search_demo.py:83-95).

    The 1-row example side is broadcast — the join is map-side only.
    """
    example = (
        df.filter(F.col(id_col) == example_id)
        .select(F.col(vec_col).alias("_query_vec"))
        .limit(1)
    )
    joined = df.crossJoin(F.broadcast(example)).filter(F.col(id_col) != example_id)
    dist = cosine_distance(col_sql(vec_col), "_query_vec")
    return (
        joined.withColumn("similarity", F.lit(1.0) - dist)
        .drop("_query_vec")
        .orderBy(F.col("similarity").desc(), F.col(id_col).asc())
        .limit(k)
    )


def knn_batch(
    df: DataFrame,
    queries: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_id_col: str = "query_id",
    q_vec_col: str = "query_vec",
    metric: str = "cosine",
) -> DataFrame:
    """Top-k neighbors for a BATCH of query vectors in one plan.

    The query side broadcasts (a query batch is small by construction);
    each input partition scores its rows against every query, and the
    ``rank <= k`` predicate compiles to WindowGroupLimit — Spark inserts a
    per-partition partial top-k *before* the shuffle on ``query_id``, so
    the exchanged data is ~``k × partitions × queries`` rows, not
    ``n × queries``. This is the grouped analogue of
    TakeOrderedAndProject, and the right batch-scoring plan at any scale.

    ``metric`` mirrors pgvector's operator classes — ``cosine`` (<=>),
    ``l2`` (<->), ``ip`` (<#>, negative inner product) — so the batch
    kernel serves whichever IVF layout calls it; all three are the same
    float64 sequential fold the single-query kernel uses, so the DuckDB
    oracle matches bitwise.

    Returns (query_id, vec_id, distance, rank), rank 1 = nearest,
    tie-broken by ``id_col``.
    """
    from pyspark.sql.window import Window

    if metric not in DISTANCE_SQL:
        raise ValueError(f"unsupported metric: {metric!r}")
    q = queries.select(F.col(q_id_col), F.col(q_vec_col).alias("_qv"))
    scored = df.crossJoin(F.broadcast(q)).withColumn(
        "distance", F.expr(DISTANCE_SQL[metric](col_sql(vec_col), "_qv"))
    )
    w = Window.partitionBy(q_id_col).orderBy(
        F.col("distance").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("knn_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("knn_rank") <= k)
        .select(q_id_col, id_col, "distance", "knn_rank")
    )


def pairwise_avg_similarity(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample: float | None = None,
    seed: int = 42,
) -> DataFrame:
    """Average pairwise cosine similarity over all distinct-id pairs
    (demo/similarity_search_demo.py:125-130). O(n^2) — pass ``sample`` to
    estimate on a fraction at scale (flagged, not oracle-checked)."""
    if sample is not None:
        df = df.sample(fraction=sample, seed=seed)
    a = df.select(F.col(id_col).alias("_ida"), F.col(vec_col).alias("_va"))
    b = df.select(F.col(id_col).alias("_idb"), F.col(vec_col).alias("_vb"))
    pairs = a.crossJoin(b).filter(F.col("_ida") != F.col("_idb"))
    return pairs.agg(
        F.avg(cosine_similarity("_va", "_vb")).alias("avg_similarity")
    )


def self_similarity_check(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """``1 - (e <=> e)`` should be 1.0 for every row
    (demo/similarity_search_demo.py:136-143). Doubles as a unit test."""
    return df.select(
        F.col(id_col),
        cosine_similarity(col_sql(vec_col), col_sql(vec_col)).alias(
            "self_similarity"
        ),
    )
