"""Scalar-quantized (SQ8) persisted vector layout: the quantized codes
stored as their OWN column so the first-pass candidate scan reads 4x
less than the float32 column, and the float vectors are touched only for
the bounded rerank shortlist.

pgvector parity: quantized/half-precision storage (pgvector's halfvec /
quantized index options). Reference context: the reference stores all
vectors in a pgvector column it creates itself (reference
README.md:172-176 table DDL; index creation
demo/aws_rds_similarity_search_demo.py:134-139); this is the layout
form of the same storage-compression dial, Spark-first.

Spark-first design:
  build: one corpus aggregate -> corpus-global (vmin, vmax); one
         map-only pass writes (id, label, codes int array, embedding)
         plus model.json. No shuffle.
  search: scan ONLY (id, codes) -- column pruning does the 4x -- score
          by integer ADC fold against the in-plan quantized query,
          TakeOrderedAndProject(shortlist), broadcast the shortlist ids
          into a semi-join that re-reads (id, embedding) for the exact
          float rerank, TakeOrderedAndProject(k).

Everything is deterministic double/integer math (affine code =
floor((x - vmin)/(vmax - vmin)*255 + 0.5) on the BIGINT grid), so the
whole two-stage pipeline is bitwise oracle-checkable -- no seeded build,
no recall floor needed (queries.py vs_sq8_layout_knn shares the
vs_sq8_adc_rerank oracle).

At 100 TB: the codes column is the hot tier (4x less scan bandwidth,
whole-stage-codegen integer folds); the float column is cold and read
for <= shortlist rows per query. Both passes are per-partition top-k
merges (TakeOrderedAndProject), never a global sort.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgvector_db_spark.functions.vector import (
    col_sql,
    l2_distance,
    vector_literal_sql,
)

# clamped to the 0..255 grid: a no-op for the corpus the (vmin, vmax)
# model was trained on, and the defined drift behavior for rows appended
# later whose components fall outside the frozen range (the SQ8 analogue
# of IVF's frozen-centroid INSERT semantics — heavy drift degrades
# quantized-ordering quality, never correctness of the exact rerank;
# rebuild is the remedy, as with pgvector index rebuilds)
_CODE = (
    "CAST(least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT), "
    "floor((CAST({v} AS DOUBLE) - {vmin}) / ({vmax} - {vmin}) * 255"
    " + 0.5))) AS INT)"
)


def build_sq8_layout(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Persist ``df`` with an added int SQ8 ``codes`` column and the
    corpus-global affine model (model.json). Map-only after one tiny
    stats aggregate."""
    row = df.agg(
        F.min(F.array_min(vec_col)).alias("vmin"),
        F.max(F.array_max(vec_col)).alias("vmax"),
    ).head()
    if row["vmin"] is None or row["vmax"] is None:
        raise ValueError(
            "build_sq8_layout: empty corpus (or all-NULL vectors) — "
            "cannot fit an affine model"
        )
    vmin, vmax = float(row["vmin"]), float(row["vmax"])
    if not vmax > vmin:
        # a constant corpus makes the affine divisor zero, silently
        # producing NULL codes at build time (r5 ADVICE) — fail loudly
        raise ValueError(
            f"build_sq8_layout: degenerate value range "
            f"[vmin={vmin}, vmax={vmax}] — affine model undefined"
        )
    code = _CODE.format(v="x", vmin=repr(vmin), vmax=repr(vmax))
    out = df.withColumn(
        "codes", F.expr(f"transform({vec_col}, x -> {code})")
    )
    out.write.mode("errorifexists").parquet(os.path.join(path, "data"))
    from pgvector_db_spark.operators.layout import invalidate_layout

    invalidate_layout(df.sparkSession, os.path.join(path, "data"))
    with open(os.path.join(path, "model.json"), "w") as f:
        json.dump({"vmin": vmin, "vmax": vmax}, f)


def append_sq8_layout(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """INSERT-into-quantized-layout analogue: new rows are coded with
    the FROZEN (vmin, vmax) model — never refit on insert (refitting
    would silently re-grid every existing code). Components outside the
    frozen range clamp to 0/255; searches over the maintained layout
    stay exact in the rerank stage by construction. Map-only append —
    no shuffle, existing files untouched."""
    with open(os.path.join(path, "model.json")) as f:
        model = json.load(f)
    code = _CODE.format(
        v="x", vmin=repr(model["vmin"]), vmax=repr(model["vmax"])
    )
    out = df.withColumn(
        "codes", F.expr(f"transform({vec_col}, x -> {code})")
    )
    out.write.mode("append").parquet(os.path.join(path, "data"))


def search_sq8_layout(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k_top: int = 10,
    shortlist: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Two-stage SQ8 search over the persisted layout. Returns
    ``(id, dist_sq8, distance)`` -- integer ADC distance of the
    shortlist pass and the exact float L2 of the rerank -- ordered by
    exact distance, ``k_top`` rows."""
    with open(os.path.join(path, "model.json")) as f:
        model = json.load(f)
    vmin, vmax = repr(model["vmin"]), repr(model["vmax"])
    data = os.path.join(path, "data")

    qlit = vector_literal_sql(query_vec)
    qcode = _CODE.format(v="y", vmin=vmin, vmax=vmax)
    from pgvector_db_spark.operators.layout import read_layout

    # first pass: ONLY (id, codes) is read -- the 4x-narrower scan; the
    # query is quantized by the same expression, in-plan (schema cached
    # per session, r13 — two fresh reads per point query each paid
    # footer-sampling inference)
    adc = (
        read_layout(spark, data)
        .select(
            id_col,
            F.expr(
                f"aggregate(zip_with(codes, {qlit}, (c, y) -> "
                f"CAST((c - {qcode}) AS BIGINT) * (c - {qcode})), "
                "CAST(0 AS BIGINT), (acc, d) -> acc + d)"
            ).alias("dist_sq8"),
        )
        .orderBy(F.col("dist_sq8").asc(), F.col(id_col).asc())
        .limit(shortlist)
    )
    # rerank: the bounded shortlist broadcasts into a semi-join that
    # reads the float column for shortlist rows only
    full = read_layout(spark, data).select(id_col, vec_col)
    return (
        full.join(F.broadcast(adc), id_col)
        .select(
            id_col,
            "dist_sq8",
            l2_distance(col_sql(vec_col), qlit).alias("distance"),
        )
        .orderBy(F.col("distance").asc(), F.col(id_col).asc())
        .limit(k_top)
    )
