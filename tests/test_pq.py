"""Product quantization operator tests (operators/pq.py)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pgvector_db_spark.catalog import load_tables
from pgvector_db_spark.operators.pq import (
    PQModel,
    adc_lut,
    build_pq_layout,
    encode_pq,
    load_pq_model,
    pq_search,
    search_pq_layout,
    train_pq,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_tables(spark, SF_DIR)["embeddings"]


@pytest.fixture(scope="module")
def model(emb):
    return train_pq(emb, m=16, k=32)


def test_train_deterministic(emb, model):
    again = train_pq(emb, m=16, k=32)
    assert np.array_equal(model.codebooks, again.codebooks)
    assert model.codebooks.shape == (16, 32, 4)


def test_encode_shape_and_range(emb, model):
    row = encode_pq(emb, model).select("vec_id", "codes").first()
    assert len(row["codes"]) == 16
    assert all(0 <= c < 32 for c in row["codes"])


def test_adc_matches_numpy(emb, model):
    """The JVM zip_with/aggregate fold must equal the numpy LUT sum."""
    qvec = [float(v) for v in emb.filter("vec_id = 1").first()["embedding"]]
    enc = encode_pq(emb, model)
    got = {
        r["vec_id"]: r["adc_distance"]
        for r in pq_search(enc, model, qvec, 5).collect()
    }
    lut = np.asarray(adc_lut(model, qvec)).reshape(model.m, model.k)
    codes = {
        r["vec_id"]: r["codes"]
        for r in enc.filter(F.col("vec_id").isin(list(got))).collect()
    }
    for vid, dist in got.items():
        expect = float(sum(lut[i, c] for i, c in enumerate(codes[vid])))
        assert dist == pytest.approx(expect, rel=1e-12)


def test_pq_search_plan_round_trips_do_not_grow_with_codebook(
    spark, py4j_round_trips
):
    """Building ``pq_search``'s plan costs the same few JVM round trips
    at m=4, k=8 and at m=16, k=32: the ADC lookup table rides in as one
    SQL literal, not one ``F.lit`` per entry."""
    rng = np.random.default_rng(0)
    codes = spark.createDataFrame(
        [(0, [0] * 16)], "vec_id bigint, codes array<int>"
    )
    q = [float(x) for x in rng.normal(size=64)]

    def plan(m, k):
        model = PQModel(
            m=m, k=k, dim=64, metric="l2",
            codebooks=rng.normal(size=(m, k, 64 // m)),
        )
        return lambda: pq_search(codes, model, q, 5)

    plan(4, 8)()  # warm any first-use lookups
    small = py4j_round_trips(plan(4, 8))
    large = py4j_round_trips(plan(16, 32))
    assert small == large < 100, (small, large)


def test_rerank_recovers_exact_top10(emb, model):
    """Shortlist(100) + exact rerank == brute-force L2 top-10 (this is
    what makes vs_pq_rerank exactly oracle-checkable)."""
    qvec = [float(v) for v in emb.filter("vec_id = 0").first()["embedding"]]
    qarr = F.array(*[F.lit(v) for v in qvec])
    d = F.aggregate(
        F.zip_with("embedding", qarr, lambda x, y: (x.cast("double") - y) ** 2),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    exact = [r["vec_id"] for r in emb.withColumn("d", d).orderBy("d", "vec_id").limit(10).collect()]
    sl = [r["vec_id"] for r in pq_search(encode_pq(emb, model), model, qvec, 100).collect()]
    assert set(exact) <= set(sl)


def test_layout_roundtrip(spark, emb, tmp_path):
    path = str(tmp_path / "pq")
    built = build_pq_layout(emb, path, m=16, k=32)
    loaded = load_pq_model(path)
    assert np.array_equal(built.codebooks, loaded.codebooks)
    qvec = [float(v) for v in emb.filter("vec_id = 0").first()["embedding"]]
    out = search_pq_layout(spark, path, qvec, 10, base=emb).collect()
    assert len(out) == 10
    assert [r["vec_id"] for r in out][0] == 0  # self is nearest (distance 0)
    assert out[0]["distance"] == pytest.approx(0.0, abs=1e-9)
    # codes-only ADC scan reads the narrow dataset, not the vectors
    plan = search_pq_layout(spark, path, qvec, 10)._jdf.queryExecution().toString()
    assert "embedding" not in plan


def test_ivfpq_fullprobe_equals_exact(spark, emb, tmp_path):
    from pgvector_db_spark.operators.pq import build_ivfpq_layout, search_ivfpq_layout

    path = str(tmp_path / "ivfpq")
    build_ivfpq_layout(emb, path, lists=4, m=16, k=32)
    qvec = [float(v) for v in emb.filter("vec_id = 0").first()["embedding"]]
    qarr = F.array(*[F.lit(v) for v in qvec])
    d = F.sqrt(
        F.aggregate(
            F.zip_with("embedding", qarr, lambda x, y: (x.cast("double") - y) ** 2),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    exact = [
        (r["vec_id"], r["d"])
        for r in emb.withColumn("d", d).orderBy("d", "vec_id").limit(10).collect()
    ]
    got = [
        (r["vec_id"], r["distance"])
        for r in search_ivfpq_layout(spark, path, qvec, 10, nprobe=4, shortlist=100).collect()
    ]
    assert [v for v, _ in got] == [v for v, _ in exact]
    for (_, a), (_, b) in zip(got, exact):
        assert a == pytest.approx(b, rel=1e-12)
    # probed path returns k rows and includes the query row itself
    probed = search_ivfpq_layout(spark, path, qvec, 10, nprobe=1, shortlist=50).collect()
    assert len(probed) == 10 and probed[0]["vec_id"] == 0
