"""Random-hyperplane LSH approximate nearest-neighbor search (cosine).

The second ANN scale path beside the IVF index (operators/ivf.py),
covering the same need as pgvector's ANN indexes (reference
README.md:185 names ivfflat; hyperplane LSH is the classic alternative
for cosine space): avoid scanning every vector for a top-k query.

Scheme (Charikar's SimHash for angles): draw ``num_bits`` fixed random
hyperplanes; a vector's signature bit j is ``1`` iff ``dot(v, h_j) >= 0``.
P(bit agrees) = 1 - angle(a, b)/pi, so near vectors collide in signature
space. Search probes the query's bucket plus all buckets within hamming
distance ``hamming_probe`` (multi-probe LSH), then exact-cosine re-ranks
survivors with the same TakeOrderedAndProject kernel as the exact path.

Scale notes:
  - The signature is a plain int column computed JVM-side (no Python);
    persist it with ``partitionBy("sig")`` (like the IVF layout) and the
    probe filter becomes partition pruning — a 1000-executor cluster
    reads only ``probes/2^num_bits`` of the data.
  - Hyperplanes are seeded-deterministic and tiny (num_bits × dim
    doubles); they ride into the plan inside ONE SQL expression (the
    functions/vector.py generators) — no broadcast, no side file, and
    no per-element JVM call while the plan is built.
  - recall/latency tradeoff = (num_bits, hamming_probe), mirroring
    ivfflat's (lists, nprobe).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pgvector_db_spark.functions.vector import (
    col_sql,
    cosine_distance,
    cosine_distance_precomputed,
    dot_sql,
    fold_norm,
    l2_norm,
    vector_literal_sql,
)
from pgvector_db_spark.utils import local_rows_df
from pgvector_db_spark.operators.knn import knn


def hyperplanes(dim: int, num_bits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes (rows are unit-free normals)."""
    rng = np.random.default_rng(seed)
    return [[float(x) for x in row] for row in rng.standard_normal((num_bits, dim))]


def lsh_signature(vec: str, planes: list[list[float]]) -> Column:
    """Signature int of the SQL expression ``vec``: bit j set iff
    dot(v, h_j) >= 0. Pure JVM expression (float64 sequential fold, the
    same kernel as the distance math)."""
    bits = "".join(
        f" + CASE WHEN {dot_sql(vec, vector_literal_sql(h))} >= 0.0 "
        f"THEN {1 << j} ELSE 0 END"
        for j, h in enumerate(planes)
    )
    return F.expr(f"CAST((0{bits}) AS INT)")


def _signature_of(vec: list[float], planes: list[list[float]]) -> int:
    """Driver-side signature of the query vector — same sequential fold
    order as the Spark expression so boundary cases agree bitwise."""
    sig = 0
    for j, h in enumerate(planes):
        acc = 0.0
        for x, y in zip(vec, h):
            acc += float(x) * float(y)
        if acc >= 0.0:
            sig |= 1 << j
    return sig


def _hamming_masks(num_bits: int, hamming_probe: int) -> list[int]:
    """All bitmasks of weight ≤ hamming_probe — O(C(num_bits, ≤h)) via
    combinations, NOT O(2^num_bits) enumeration (which would hang the
    driver at the num_bits≈24+ regimes large bucket spaces need)."""
    from itertools import combinations

    masks = []
    for h in range(hamming_probe + 1):
        for bits in combinations(range(num_bits), h):
            m = 0
            for i in bits:
                m |= 1 << i
            masks.append(m)
    return masks


def _probe_signatures(qsig: int, num_bits: int, hamming_probe: int) -> list[int]:
    return [qsig ^ m for m in _hamming_masks(num_bits, hamming_probe)]


def similarity_join(
    left: DataFrame,
    right: DataFrame,
    threshold: float,
    num_bits: int = 6,
    hamming_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine similarity join: all (left, right) pairs with
    ``cosine_similarity >= threshold``, candidates found by signature
    buckets instead of an O(n·m) cross join.

    The probe side explodes each row into every bucket within hamming
    distance ``hamming_probe`` of its signature (multiprobe on the build
    side), the join is hash-equi on the bucket, and the threshold filter
    re-checks exact cosine — so precision is exact and only recall is
    approximate (pairs whose signatures disagree in > ``hamming_probe``
    bits are missed; for sim ≥ 0.9 and 6 bits that tail is a few %).
    Shuffle is on the signature (bounded buckets), never the pair space.

    Returns (id_left, id_right, similarity).
    """
    dim = len(left.select(vec_col).first()[0])
    planes = hyperplanes(dim, num_bits, seed)
    masks = _hamming_masks(num_bits, hamming_probe)
    l2 = left.select(
        F.col(id_col).alias("id_left"),
        F.col(vec_col).alias("_vl"),
        lsh_signature(col_sql(vec_col), planes).alias("_sig"),
    )
    rsig = lsh_signature(col_sql(vec_col), planes)
    r2 = right.select(
        F.col(id_col).alias("id_right"),
        F.col(vec_col).alias("_vr"),
        F.explode(
            F.array(*[rsig.bitwiseXOR(F.lit(m)) for m in masks])
        ).alias("_sig"),
    )
    sim = 1.0 - cosine_distance("_vl", "_vr")
    return (
        l2.join(r2, "_sig")
        .withColumn("similarity", sim)
        .filter(F.col("similarity") >= threshold)
        .select("id_left", "id_right", "similarity")
        .dropDuplicates(["id_left", "id_right"])
    )


def build_lsh_layout(
    df: DataFrame,
    path: str,
    num_bits: int = 6,
    vec_col: str = "embedding",
    seed: int = 42,
) -> None:
    """Persist the dataset partitioned by LSH signature.

    The searched-at-scale form: ``sig`` becomes a Hive partition column,
    so the probe filter in :func:`search_lsh_layout` is partition pruning
    — unprobed buckets are never listed, opened, or read.
    """
    dim = len(df.select(vec_col).first()[0])
    planes = hyperplanes(dim, num_bits, seed)
    (
        df.withColumn("sig", lsh_signature(col_sql(vec_col), planes))
        # norm materialized at build (same fold as l2_norm at query time,
        # bitwise-equal distances): probed searches fold each row once
        .withColumn("_vnorm", l2_norm(col_sql(vec_col)))
        .repartition("sig")
        .write.mode("overwrite")
        .partitionBy("sig")
        .parquet(path)
    )
    from pgvector_db_spark.operators.layout import invalidate_layout

    invalidate_layout(df.sparkSession, path)


def append_lsh_layout(
    df: DataFrame,
    path: str,
    num_bits: int = 6,
    vec_col: str = "embedding",
    seed: int = 42,
) -> None:
    """Incremental insert into a persisted LSH layout (the maintenance
    parity of IVFIndex.append). The hyperplanes are a pure function of
    (dim, num_bits, seed) — no stored state — so appended rows compute
    the same signatures as the build and land in the right partitions;
    only the new batch's files are written, existing data untouched."""
    dim = len(df.select(vec_col).first()[0])
    planes = hyperplanes(dim, num_bits, seed)
    (
        df.withColumn("sig", lsh_signature(col_sql(vec_col), planes))
        .withColumn("_vnorm", l2_norm(col_sql(vec_col)))
        .repartition("sig")
        .write.mode("append")
        .partitionBy("sig")
        .parquet(path)
    )
    from pgvector_db_spark.operators.layout import invalidate_layout

    invalidate_layout(df.sparkSession, path)


def _read_probed_partitions(spark, path: str, probes: list[int]) -> DataFrame:
    """Read ONLY the probed ``sig=`` partition directories, keeping the
    partition column via ``basePath`` — row-identical to
    ``read(path).filter(sig.isin(probes))`` but skips discovering and
    pruning the 2^num_bits non-probed partitions, which at serving
    latency is the dominant fixed cost (measured r12: the pruned-scan
    count dropped 461 ms → 225 ms at sf0.1, local[32]). Shared with the
    IVF point query since r13 (operators/layout.py)."""
    from pgvector_db_spark.operators.layout import read_probed_partitions

    return read_probed_partitions(spark, path, "sig", probes)


def search_lsh_layout(
    spark,
    path: str,
    query_vec: list[float],
    k: int,
    num_bits: int = 6,
    hamming_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """ANN top-k over a :func:`build_lsh_layout` dataset: rank buckets
    driver-side, scan only the probed partitions, exact re-rank."""
    planes = hyperplanes(len(query_vec), num_bits, seed)
    qsig = _signature_of(query_vec, planes)
    probes = _probe_signatures(qsig, num_bits, hamming_probe)
    data = _read_probed_partitions(spark, path, probes).drop("sig")
    return knn(
        data, query_vec, k, vec_col=vec_col, id_col=id_col, norm_col="_vnorm"
    ).drop("_vnorm")


def batch_search_lsh_layout(
    spark,
    path: str,
    queries: DataFrame,
    k: int,
    num_bits: int = 6,
    hamming_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    q_id_col: str = "query_id",
    q_vec_col: str = "query_vec",
    mode: str = "auto",
    driver_batch_max: int = 8192,
) -> DataFrame:
    """ANN top-k for a BATCH of queries over the persisted layout, in ONE
    plan (the LSH twin of ``IVFIndex.batch_search``).

    ``mode='driver'`` (interactive batches): per-query bucket ranking on
    the driver yields a (query_id, sig, qvec, qnorm) probe table; the
    scan reads only the UNION of probed sig partitions (static partition
    pruning) and the probe table broadcasts into the join on ``sig``.

    ``mode='distributed'`` (corpus-vs-corpus batches — millions of
    queries): the batch never leaves the executors. The signature is the
    same JVM expression the build used (:func:`lsh_signature` — the
    hyperplanes ride in as literals), multiprobe expansion is an
    ``explode`` over the ≤``C(num_bits, hamming_probe)`` XOR masks, and
    the probe table joins the layout on ``sig`` unhinted (AQE broadcasts
    it when it turns out small; a huge batch probes every bucket anyway).

    ``mode='auto'`` picks driver for ≤ ``driver_batch_max`` queries.
    Auto mode costs ONE extra (bounded) Spark job for the routing count
    and assumes a DETERMINISTIC query batch — a ``sample``/``rand``-
    derived frame may count different rows than it later scores;
    ``.persist()`` such a batch first, or pass ``mode`` explicitly at
    scale. Both modes share every fold order, so results are bitwise
    identical (pinned by tests/test_knn.py).

    In every mode each row is scored only against queries probing its
    bucket, and ``rank <= k`` compiles to WindowGroupLimit (partial top-k
    before the query_id shuffle). Returns (query_id, id_col, distance,
    knn_rank).
    """
    from pyspark.sql.window import Window

    if mode == "auto":
        small = queries.limit(driver_batch_max + 1).count() <= driver_batch_max
        mode = "driver" if small else "distributed"

    if mode == "driver":
        qrows = queries.select(q_id_col, q_vec_col).collect()
        dim = len(qrows[0][q_vec_col])
        planes = hyperplanes(dim, num_bits, seed)

        pairs = [
            (r[q_id_col], sig, qv, fold_norm(qv))
            for r in qrows
            for qv in [[float(x) for x in r[q_vec_col]]]
            for sig in _probe_signatures(
                _signature_of(qv, planes), num_bits, hamming_probe
            )
        ]
        probe_df = local_rows_df(
            spark,
            pairs,
            f"{q_id_col} bigint, sig int, _qv array<double>, _qnorm double",
        )
        probed = sorted({p[1] for p in pairs})
        data = _read_probed_partitions(spark, path, probed)
        probe_side = F.broadcast(probe_df)
    elif mode == "distributed":
        dim = len(queries.select(q_vec_col).first()[0])
        planes = hyperplanes(dim, num_bits, seed)
        masks = _hamming_masks(num_bits, hamming_probe)
        q = queries.select(
            F.col(q_id_col).cast("bigint").alias(q_id_col),
            F.expr(
                f"transform({col_sql(q_vec_col)}, x -> CAST(x AS DOUBLE))"
            ).alias("_qv"),
        ).withColumn("_qnorm", l2_norm("_qv"))
        qsig = lsh_signature("_qv", planes)
        probe_df = q.select(
            q_id_col,
            F.explode(
                F.array(*[qsig.bitwiseXOR(F.lit(m)) for m in masks])
            ).alias("sig"),
            "_qv",
            "_qnorm",
        )
        data = spark.read.parquet(path)
        probe_side = probe_df
    else:
        raise ValueError(f"unknown mode: {mode}")

    joined = data.join(probe_side, "sig")
    dist = cosine_distance_precomputed(
        col_sql(vec_col), "_qv", "_vnorm", "_qnorm"
    )
    w = Window.partitionBy(q_id_col).orderBy(
        F.col("distance").asc(), F.col(id_col).asc()
    )
    return (
        joined.withColumn("distance", dist)
        .withColumn("knn_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("knn_rank") <= k)
        .select(q_id_col, id_col, "distance", "knn_rank")
    )


def lsh_ann_knn(
    df: DataFrame,
    query_vec: list[float],
    k: int,
    num_bits: int = 6,
    hamming_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k by hyperplane-LSH bucket probing + exact re-rank.

    ``hamming_probe = num_bits`` degenerates to the exact scan (every
    bucket probed) — used by tests as the equivalence oracle.
    """
    planes = hyperplanes(len(query_vec), num_bits, seed)
    qsig = _signature_of(query_vec, planes)
    probes = _probe_signatures(qsig, num_bits, hamming_probe)
    cand = (
        df.withColumn("_sig", lsh_signature(col_sql(vec_col), planes))
        .filter(F.col("_sig").isin(probes))
        .drop("_sig")
    )
    return knn(cand, query_vec, k, vec_col=vec_col, id_col=id_col)
