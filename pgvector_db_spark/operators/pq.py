"""Product quantization (PQ) — the memory-compression scale path for ANN.

pgvector compresses vectors with scalar (halfvec) and binary quantization
(`README.md:40` of the reference names the index types; our
`functions/vector.py` covers those). PQ is the next rung the 100 TB
engine needs: split each d-dim vector into ``m`` subvectors, k-means each
subspace into ``k`` codes, store ``m`` small ints per row instead of
``d`` floats (64-dim float32 -> 8 bytes at m=8: 32x). Search uses
asymmetric distance computation (ADC): one tiny lookup table per query,
then every row's approximate distance is ``m`` table lookups — no float
math per row at all.

Spark-first split of the work:

- **Train** (driver, numpy): codebooks are fit on a bounded deterministic
  sample, exactly like FAISS trains on a sample regardless of corpus
  size. O(sample x iters), independent of table size — NOT the
  distributed step.
- **Encode** (executors, Arrow-batched pandas UDF): the O(n) pass.
  ``mapInPandas`` with the broadcast codebooks; per batch one einsum
  against (m, k, dsub) — vectorized, no per-row Python.
- **ADC search** (executors, pure codegen): the per-query LUT is a
  literal array; the distance is ``zip_with(codes, sequence, lookup)``
  + ``aggregate`` — JVM-side, whole-stage codegen, and the top-k is
  ``TakeOrderedAndProject``. At 100 TB the scan reads ONLY the codes
  column (32x narrower than the raw vectors) and ships no Python.

Determinism: seeded k-means on an id-ordered sample → identical
codebooks, codes, and shortlists on every run, which is what lets the
rerank pipeline be oracle-checked exactly (queries.py ``vs_pq_rerank``).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

from pgvector_db_spark.functions.vector import col_sql, l2_sql, vector_literal_sql


@dataclass
class PQModel:
    m: int  # number of subspaces
    k: int  # codes per subspace
    dim: int
    metric: str  # "l2" | "ip"
    codebooks: np.ndarray  # (m, k, dim // m) float64

    @property
    def dsub(self) -> int:
        return self.dim // self.m


def _kmeans(x: np.ndarray, k: int, iters: int, rng: np.random.RandomState) -> np.ndarray:
    """Seeded Lloyd's k-means (deterministic). x: (n, d) -> (k, d)."""
    n = x.shape[0]
    k = min(k, n)
    centroids = x[rng.choice(n, size=k, replace=False)].copy()
    for _ in range(iters):
        # (n, k) squared L2 via expansion — one BLAS matmul, no n*k*d loop
        d2 = (
            (x * x).sum(axis=1, keepdims=True)
            - 2.0 * x @ centroids.T
            + (centroids * centroids).sum(axis=1)
        )
        assign = d2.argmin(axis=1)
        for j in range(k):
            pts = x[assign == j]
            if len(pts):
                centroids[j] = pts.mean(axis=0)
    return centroids


def train_pq(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    k: int = 16,
    metric: str = "l2",
    sample: int = 4096,
    iters: int = 20,
    seed: int = 42,
) -> PQModel:
    """Fit per-subspace codebooks on an id-ordered bounded sample
    (deterministic; sample size bounds driver memory at any table size)."""
    if metric not in ("l2", "ip"):
        raise ValueError(f"unsupported metric {metric!r}")
    pdf = df.select(id_col, vec_col).orderBy(id_col).limit(sample).toPandas()
    x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    rng = np.random.RandomState(seed)
    dsub = dim // m
    books = np.stack(
        [_kmeans(x[:, i * dsub : (i + 1) * dsub], k, iters, rng) for i in range(m)]
    )
    return PQModel(m=m, k=books.shape[1], dim=dim, metric=metric, codebooks=books)


def encode_pq(
    df: DataFrame,
    model: PQModel,
    vec_col: str = "embedding",
    out_col: str = "codes",
) -> DataFrame:
    """Append the ``m``-code column. One Arrow-batched pass; everything
    else in the row is carried through untouched."""
    books = model.codebooks  # captured; shipped once per executor
    m, dsub = model.m, model.dsub
    out_schema = StructType(
        df.schema.fields + [StructField(out_col, ArrayType(IntegerType(), False), False)]
    )

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cnorm = (books * books).sum(axis=2)  # (m, k)
        for pdf in batches:
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            xs = x.reshape(len(pdf), m, dsub)
            # (n, m, k) distances: ||x||^2 - 2 x.C + ||C||^2; argmin over k
            d2 = cnorm - 2.0 * np.einsum("nmd,mkd->nmk", xs, books)
            codes = d2.argmin(axis=2).astype(np.int32)
            pdf = pdf.copy()
            pdf[out_col] = list(codes)
            yield pdf

    return df.mapInPandas(enc, schema=out_schema)


def adc_lut(model: PQModel, query_vec: list[float]) -> list[float]:
    """Per-query lookup table, flattened row-major (m*k doubles).
    l2 -> squared L2 per subspace; ip -> negated inner product (so
    smaller = closer for both metrics)."""
    q = np.asarray(query_vec, dtype=np.float64).reshape(model.m, 1, model.dsub)
    if model.metric == "l2":
        lut = ((model.codebooks - q) ** 2).sum(axis=2)
    else:
        lut = -(model.codebooks * q).sum(axis=2)
    return [float(v) for v in lut.ravel()]


def adc_distance(model: PQModel, query_vec: list[float], codes_col: str = "codes") -> Column:
    """Pure-codegen ADC distance: m lookups into the LUT, inlined as one
    array literal, + a fold; one SQL expression whatever ``m * k``."""
    lut = vector_literal_sql(adc_lut(model, query_vec))
    return F.expr(
        f"aggregate(zip_with({col_sql(codes_col)}, sequence(0, {model.m - 1}), "
        f"(c, i) -> element_at({lut}, CAST(i * {model.k} + c + 1 AS INT))), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def pq_search(
    encoded: DataFrame,
    model: PQModel,
    query_vec: list[float],
    k_top: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "codes",
) -> DataFrame:
    """ADC top-k over the encoded table (TakeOrderedAndProject; scans only
    the codes column when the caller selects nothing else)."""
    return (
        encoded.withColumn("adc_distance", adc_distance(model, query_vec, codes_col))
        .orderBy(F.col("adc_distance").asc(), F.col(id_col).asc())
        .limit(k_top)
    )


# -- persisted layout ------------------------------------------------------
# The production read path: codes live in their own narrow parquet dataset
# (id + m ints per row), so an ADC scan reads ~32x fewer bytes than the
# raw vectors and never touches the embedding column. Candidate ids then
# semi-join back to the base table for the exact rerank — at 100 TB the
# rerank reads only k_shortlist rows' vectors, not the corpus.


def build_pq_layout(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 16,
    k: int = 32,
    metric: str = "l2",
    sample: int = 4096,
    seed: int = 42,
) -> PQModel:
    """Train + encode + persist: ``{path}/codes`` (narrow parquet) and
    ``{path}/model.json`` (codebooks; a few KB — driver/broadcast size)."""
    import json
    import os

    model = train_pq(
        df, vec_col=vec_col, id_col=id_col, m=m, k=k, metric=metric,
        sample=sample, seed=seed,
    )
    encoded = encode_pq(df, model, vec_col=vec_col)
    encoded.select(id_col, "codes").write.mode("overwrite").parquet(
        os.path.join(path, "codes")
    )
    meta = {
        "m": model.m, "k": model.k, "dim": model.dim, "metric": model.metric,
        "codebooks": model.codebooks.tolist(),
    }
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "model.json"), "w") as f:
        json.dump(meta, f)
    return model


def load_pq_model(path: str) -> PQModel:
    import json
    import os

    with open(os.path.join(path, "model.json")) as f:
        meta = json.load(f)
    return PQModel(
        m=meta["m"], k=meta["k"], dim=meta["dim"], metric=meta["metric"],
        codebooks=np.asarray(meta["codebooks"], dtype=np.float64),
    )


def build_ivfpq_layout(
    df: DataFrame,
    path: str,
    lists: int = 100,
    m: int = 16,
    k: int = 32,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample: int = 4096,
    seed: int = 42,
):
    """IVF + PQ composed (the FAISS ``IVFx,PQy`` production shape): the
    PQ codes column rides along into the IVF ``partitionBy(list_id)``
    layout, so a search combines BOTH prunings — partition pruning from
    the centroid probe (reads nprobe/lists of the files) and column
    pruning from ADC (reads the codes column, not the vectors, inside
    probed partitions). L2 metric end-to-end. Returns (IVFIndex, PQModel).
    """
    import json
    import os

    from pgvector_db_spark.operators.ivf import IVFIndex

    model = train_pq(
        df, vec_col=vec_col, id_col=id_col, m=m, k=k, metric="l2",
        sample=sample, seed=seed,
    )
    encoded = encode_pq(df, model, vec_col=vec_col)
    idx = IVFIndex.build(
        encoded, path, lists=lists, vec_col=vec_col, id_col=id_col,
        seed=seed, metric="l2",
    )
    meta = {
        "m": model.m, "k": model.k, "dim": model.dim, "metric": model.metric,
        "codebooks": model.codebooks.tolist(),
    }
    with open(os.path.join(path, "model.json"), "w") as f:
        json.dump(meta, f)
    return idx, model


def search_ivfpq_layout(
    spark,
    path: str,
    query_vec: list[float],
    k_top: int = 10,
    nprobe: int = 1,
    shortlist: int = 100,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe ``nprobe`` lists (partition pruning), ADC-shortlist on the
    codes column inside survivors, exact-L2 rerank of shortlisted rows
    only. With ``nprobe = lists`` and a covering shortlist this
    degenerates to the exact result (oracle-checked in queries.py)."""
    from pgvector_db_spark.operators.ivf import IVFIndex
    from pgvector_db_spark.operators.knn import knn

    idx = IVFIndex(spark, path, vec_col, id_col)
    model = load_pq_model(path)
    v = idx._load()
    probes = [lid for lid, _ in idx._rank_lists(query_vec, v)[:nprobe]]
    # direct partition-path read of only the probed list_id dirs (r13 —
    # the same fix that took the LSH and IVF point queries off their
    # full-layout-listing fixed cost; row/schema-identical to
    # _data().filter(isin))
    data = idx._probed_data(probes, v)
    cand = pq_search(
        data.select(id_col, "codes"), model, query_vec, shortlist, id_col=id_col
    )
    # the shortlist is bounded by the `shortlist` parameter — broadcast it
    # so the semi-join never shuffles the (partition-pruned) data side
    survivors = data.join(F.broadcast(cand.select(id_col)), id_col, "left_semi")
    return knn(
        survivors, query_vec, k_top,
        vec_col=vec_col, id_col=id_col, distance="l2",
    ).drop("_vnorm", "codes", "list_id")


def search_pq_layout(
    spark,
    path: str,
    query_vec: list[float],
    k_top: int = 10,
    shortlist: int = 100,
    base: DataFrame | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC shortlist over the codes dataset, then (if ``base`` is given)
    exact L2 rerank of just the shortlisted rows. Returns
    ``(id, distance)`` rows, smallest first."""
    import os

    model = load_pq_model(path)
    codes = spark.read.parquet(os.path.join(path, "codes"))
    cand = pq_search(codes, model, query_vec, shortlist, id_col=id_col)
    if base is None:
        return cand
    d = F.expr(l2_sql(col_sql(vec_col), vector_literal_sql(query_vec)))
    return (
        base.join(F.broadcast(cand.select(id_col)), id_col, "left_semi")
        .withColumn("distance", d)
        .select(id_col, "distance")
        .orderBy(F.col("distance").asc(), F.col(id_col).asc())
        .limit(k_top)
    )
