"""IVF build and append: one sampled-Lloyd build path and one list
assignment kernel (operators/ivf.py ``_assign_lists``) shared by
``build`` and ``append``."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pgvector_db_spark.operators import ivf
from pgvector_db_spark.operators.ivf import (
    IVFIndex,
    deterministic_sample_centroids,
)

SCHEMA = "vec_id bigint, embedding array<float>"


def _rows(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _small(spark):
    return _rows(
        spark,
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0]),
            (3, [0.0, 1.0, 0.0]),
            (4, [0.0, 0.9, 0.1]),
            (5, [0.0, 0.0, 1.0]),
        ],
    )


@pytest.mark.parametrize("metric", ["cosine", "l2", "ip"])
def test_append_rejects_dimension_mismatch(spark, tmp_path, metric):
    """A 2-d row appended to a 3-d index must fail, not land in list 0
    (zip_with pads the short side with nulls, and a null distance would
    otherwise sort first)."""
    idx = IVFIndex.build(
        _small(spark), str(tmp_path / "idx"), lists=2, metric=metric
    )
    with pytest.raises(Exception, match="dim 2 != index dim 3"):
        idx.append(_rows(spark, [(9, [1.0, 0.0])]))
    assert spark.read.parquet(idx.data_path).count() == 5


def test_build_rejects_dimension_mismatch(spark, tmp_path):
    df = _small(spark).unionByName(_rows(spark, [(9, [1.0, 0.0])]))
    with pytest.raises(Exception, match="dim"):
        IVFIndex.build(df, str(tmp_path / "idx"), lists=2)


def test_cosine_zero_norm_rejected_on_build(spark, tmp_path):
    df = _small(spark).unionByName(_rows(spark, [(9, [0.0, 0.0, 0.0])]))
    with pytest.raises(Exception, match="zero-norm"):
        IVFIndex.build(df, str(tmp_path / "idx"), lists=2)


def test_cosine_zero_norm_rejected_on_append(spark, tmp_path):
    idx = IVFIndex.build(_small(spark), str(tmp_path / "idx"), lists=2)
    with pytest.raises(Exception, match="zero-norm"):
        idx.append(_rows(spark, [(9, [0.0, 0.0, 0.0])]))


def test_l2_accepts_zero_vector(spark, tmp_path):
    """The zero-norm guard is cosine-only: l2 distance is defined."""
    idx = IVFIndex.build(
        _small(spark), str(tmp_path / "idx"), lists=2, metric="l2"
    )
    idx.append(_rows(spark, [(9, [0.0, 0.0, 0.0])]))
    assert spark.read.parquet(idx.data_path).count() == 6


def _layout(spark, idx):
    cents = sorted(
        (r["list_id"], list(r["centroid"]))
        for r in spark.read.parquet(idx.centroids_path).collect()
    )
    pairs = {
        (r["vec_id"], r["list_id"])
        for r in spark.read.parquet(idx.data_path).collect()
    }
    return cents, pairs


@pytest.mark.parametrize("metric", ["cosine", "l2", "ip"])
def test_default_build_equals_explicit_sampled_centroids(
    spark, tables, tmp_path, metric
):
    """The default build IS the sampled path: spherical Lloyd for cosine,
    euclidean Lloyd for l2 and ip."""
    emb = tables["embeddings"]
    default = IVFIndex.build(
        emb, str(tmp_path / "default"), lists=8, metric=metric
    )
    explicit = IVFIndex.build(
        emb,
        str(tmp_path / "explicit"),
        lists=8,
        metric=metric,
        centroids=deterministic_sample_centroids(
            emb, 8, metric="cosine" if metric == "cosine" else "l2"
        ),
    )
    assert _layout(spark, default) == _layout(spark, explicit)


def test_fewer_rows_than_lists(spark, tmp_path):
    """5 rows with lists=8 give 5 lists, one row each."""
    idx = IVFIndex.build(_small(spark), str(tmp_path / "idx"), lists=8)
    cents, pairs = _layout(spark, idx)
    assert len(cents) == 5
    assert sorted(lid for _, lid in pairs) == [0, 1, 2, 3, 4]


def test_assignment_matches_cosine_distance_argmin(spark, tables, tmp_path):
    """The shared-norm map-side argmin picks the same list as a plain
    cosine_distance argmin with (distance, list_id) tie-break."""
    from pgvector_db_spark.functions.vector import cosine_distance

    emb = tables["embeddings"]
    idx = IVFIndex.build(emb, str(tmp_path / "idx"), lists=8)
    cents, pairs = _layout(spark, idx)
    c = spark.createDataFrame(cents, "list_id int, centroid array<double>")
    scored = emb.crossJoin(F.broadcast(c)).select(
        "vec_id",
        F.struct(
            cosine_distance("embedding", "centroid"),
            F.col("list_id"),
        ).alias("s"),
    )
    want = {
        (r["vec_id"], r["m"]["list_id"])
        for r in scored.groupBy("vec_id")
        .agg(F.min("s").alias("m"))
        .collect()
    }
    assert pairs == want


def test_build_and_append_share_one_shuffle_free_assignment(
    spark, tables, tmp_path, monkeypatch
):
    """build and append both assign through ``_assign_lists``; the
    frame each writes has no Window and exactly one shuffle, the
    ``repartition("list_id")`` that groups files by list."""
    calls = []
    real = ivf._assign_lists

    def spy(*args, **kwargs):
        out = real(*args, **kwargs)
        calls.append(out)
        return out

    monkeypatch.setattr(ivf, "_assign_lists", spy)
    emb = tables["embeddings"]
    idx = IVFIndex.build(
        emb.filter("vec_id % 2 = 0"), str(tmp_path / "idx"), lists=4
    )
    idx.append(emb.filter("vec_id % 2 = 1"))
    assert len(calls) == 2
    for assigned in calls:
        plan = (
            assigned.repartition("list_id")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Window" not in plan, plan
        shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
        assert shuffles == 1, plan
        assert "Exchange hashpartitioning(list_id" in plan, plan


def test_assign_lists_broadcasts_a_local_table(spark):
    """The centroid table rides into the assignment as a LocalRelation
    (part of the plan), not as a parallelized RDD whose broadcast runs a
    Python-worker job."""
    df = spark.range(4).selectExpr(
        "id AS vec_id", "array(CAST(id AS FLOAT), 1.0F, 0.0F) AS embedding"
    )
    assigned = ivf._assign_lists(df, [[0.0, 1.0, 0.0], [3.0, 1.0, 0.0]], "l2", "embedding")
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan and "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan
    got = {r["vec_id"]: r["list_id"] for r in assigned.collect()}
    assert got == {0: 0, 1: 0, 2: 1, 3: 1}
