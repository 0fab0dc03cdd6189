"""IVF serving tier: ``IVFIndex.search`` scores the probed lists on the
driver and must return, bit for bit, the rows the Spark kernel
``_knn(_probed_data(...))`` returns over the same lists."""

from __future__ import annotations

import math

import numpy as np
import pytest

import pgvector_db_spark.operators.ivf as ivf
from pgvector_db_spark.operators.ivf import IVFIndex

ROWS = 240
LISTS = 4
NPROBE = 2


def _bits(rows) -> list[str]:
    """Rows as text that tells apart every float bit pattern (repr is
    exact, and keeps -0.0 and nan apart from 0.0)."""
    return [repr(tuple(r)) for r in rows]


def _spark_rows(idx: IVFIndex, q: list[float], k: int, nprobe: int):
    v = idx._load()
    probes = [lid for lid, _ in idx._rank_lists(q, v)[:nprobe]]
    return idx._knn(idx._probed_data(probes, v), q, k, v).collect()


def _frame(spark, dim: int, elem: str, lo: int, hi: int, seed: int = 7):
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(LISTS, dim))
    x = centers[rng.integers(0, LISTS, ROWS)] + 0.4 * rng.normal(size=(ROWS, dim))
    if elem == "float":
        x = x.astype(np.float32)
    rows = [(i, x[i].tolist(), f"doc {i}") for i in range(lo, hi)]
    return spark.createDataFrame(
        rows, f"vec_id bigint, embedding array<{elem}>, text string"
    )


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """One index per (metric, dim, element type), built from half the rows
    and then appended the other half, so lists span several files."""
    root = tmp_path_factory.mktemp("ivf_serving")
    cache = {}

    def get(metric: str, dim: int, elem: str) -> IVFIndex:
        key = (metric, dim, elem)
        if key not in cache:
            path = str(root / f"{metric}_{dim}_{elem}")
            idx = IVFIndex.build(
                _frame(spark, dim, elem, 0, ROWS // 2), path,
                lists=LISTS, metric=metric,
            )
            idx.append(_frame(spark, dim, elem, ROWS // 2, ROWS))
            cache[key] = idx
        return cache[key]

    return get


@pytest.mark.parametrize("metric", ["cosine", "l2", "ip"])
@pytest.mark.parametrize("dim,elem", [(64, "float"), (768, "double")])
def test_resident_search_is_bitwise_the_spark_kernel(
    built, spark, metric, dim, elem
):
    idx = built(metric, dim, elem)
    several = [
        lid for lid in range(LISTS)
        if len(ivf._list_files(idx.data_path, lid)) > 1
    ]
    assert several, "append should leave lists made of several files"
    rng = np.random.default_rng(dim)
    for _ in range(6):
        q = [float(x) for x in rng.normal(size=dim)]
        got = idx.search(q, k=10, nprobe=NPROBE)
        assert got.columns == [
            "vec_id", "embedding", "text", "list_id", "distance", "similarity"
        ]
        assert _bits(got.collect()) == _bits(
            _spark_rows(idx, q, 10, NPROBE)
        )
    # the lists were served from the driver, not by the fallback
    assert set(ivf._VERSIONS[idx.path].lists) <= set(range(LISTS))
    assert ivf._VERSIONS[idx.path].lists


def test_search_and_its_collect_start_no_spark_job(built, spark):
    idx = built("cosine", 64, "float")
    q = [float(x) for x in np.random.default_rng(1).normal(size=64)]
    idx.search(q, k=10, nprobe=NPROBE).collect()  # loads version and lists
    sc = spark.sparkContext
    sc.setJobGroup("ivf_search_resident", "search + collect")
    try:
        rows = idx.search(q, k=10, nprobe=NPROBE).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("ivf_search_resident") == []
    assert len(rows) == 10


def test_wrong_dim_query_raises_the_knn_guard(built):
    idx = built("l2", 64, "float")
    with pytest.raises(ValueError, match="knn: query vector dim 3 != embedding dim 64"):
        idx.search([1.0, 2.0, 3.0], k=5, nprobe=NPROBE)


def test_negative_k_raises_like_spark_limit(built):
    idx = built("l2", 64, "float")
    with pytest.raises(ValueError, match="k must be >= 0"):
        idx.search([0.5] * 64, k=-1, nprobe=NPROBE)
    with pytest.raises(Exception, match="(?i)limit"):
        _spark_rows(idx, [0.5] * 64, -1, NPROBE)


def test_zero_norm_query_raises_under_cosine(built):
    idx = built("cosine", 64, "float")
    with pytest.raises(ZeroDivisionError, match="DIVIDE_BY_ZERO"):
        idx.search([0.0] * 64, k=5, nprobe=NPROBE)
    # the Spark kernel raises the same class of error at collect
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        _spark_rows(idx, [0.0] * 64, 5, NPROBE)


def test_over_budget_search_falls_back_to_spark_with_the_same_rows(
    built, spark, monkeypatch
):
    idx = built("ip", 64, "float")
    q = [float(x) for x in np.random.default_rng(3).normal(size=64)]
    resident = _bits(idx.search(q, k=10, nprobe=LISTS).collect())
    # a fresh version has nothing loaded; with no budget nothing loads
    ivf._VERSIONS.pop(idx.path)
    monkeypatch.setattr(ivf, "_RESIDENT_MAX_BYTES", 0)
    fallback = idx.search(q, k=10, nprobe=LISTS)
    assert fallback.inputFiles(), "the fallback is a Spark scan"
    assert _bits(fallback.collect()) == resident
    assert ivf._VERSIONS[idx.path].lists == {}


def test_rank_lists_keeps_its_order(built):
    """The numpy fold ranks the lists exactly as the per-element Python
    folds it replaced, distances included."""

    def python_rank(v, q):
        ranked = []
        if v.metric == "cosine":
            qn = math.sqrt(sum(x * x for x in q))
            for lid, c, cn in v.centers:
                dot = sum(x * y for x, y in zip(q, c))
                ranked.append((lid, 1.0 - dot / (qn * cn) if qn and cn else 1.0))
        elif v.metric == "l2":
            for lid, c, _ in v.centers:
                ranked.append(
                    (lid, math.sqrt(sum((x - y) ** 2 for x, y in zip(q, c))))
                )
        else:
            for lid, c, _ in v.centers:
                ranked.append((lid, -sum(x * y for x, y in zip(q, c))))
        return sorted(ranked, key=lambda t: (t[1], t[0]))

    rng = np.random.default_rng(11)
    for metric in ("cosine", "l2", "ip"):
        idx = built(metric, 64, "float")
        v = idx._load()
        for _ in range(20):
            q = [float(x) for x in rng.normal(size=64).astype(np.float32)]
            assert repr(idx._rank_lists(q, v)) == repr(python_rank(v, q))


def test_a_new_version_drops_the_loaded_lists(spark, tmp_path):
    """Lists loaded under one version are never served under the next:
    an append replaces the version, and its rows show in the next search."""
    path = str(tmp_path / "idx")
    idx = IVFIndex.build(_frame(spark, 16, "float", 0, 100), path, lists=2)
    q = [1.0] * 16
    idx.search(q, k=200, nprobe=2).collect()
    before = ivf._VERSIONS[path]
    assert before.lists
    idx.append(_frame(spark, 16, "float", 100, 160))
    got = idx.search(q, k=200, nprobe=2).collect()
    assert ivf._VERSIONS[path] is not before
    assert sorted(r["vec_id"] for r in got) == list(range(160))
    assert _bits(got) == _bits(_spark_rows(idx, q, 200, 2))


def test_null_elements_rank_first_as_in_spark(spark, tmp_path):
    """An l2 row holding a null element has a null distance, which Spark
    orders first; the driver tier keeps that order and the nulls."""
    rng = np.random.default_rng(5)
    rows = [
        (i, [None if i % 9 == 4 and j == 2 else float(x)
             for j, x in enumerate(rng.normal(size=8))])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    idx = IVFIndex.build(df, str(tmp_path / "idx"), lists=2, metric="l2")
    q = [float(x) for x in rng.normal(size=8)]
    got = idx.search(q, k=12, nprobe=2).collect()
    assert got[0]["distance"] is None and got[0]["similarity"] is None
    assert _bits(got) == _bits(_spark_rows(idx, q, 12, 2))
