"""IVF index tests: layout, partition pruning, recall semantics
(pgvector ivfflat parity — reference README.md:185, nprobe tradeoff)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pgvector_db_spark.operators.ivf import IVFIndex
from pgvector_db_spark.operators.knn import knn

LISTS = 8


@pytest.fixture(scope="module")
def index(spark, tables, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivf") / "emb_idx")
    return IVFIndex.build(tables["embeddings"], path, lists=LISTS)


def test_build_layout(index, spark, tables):
    data = spark.read.parquet(index.data_path)
    assert data.count() == tables["embeddings"].count()
    lists = data.select("list_id").distinct().count()
    assert 1 < lists <= LISTS
    cents = spark.read.parquet(index.centroids_path)
    assert cents.count() == LISTS
    assert len(cents.first()["centroid"]) == 64


def test_search_returns_k(index, tables):
    q = tables["embeddings"].filter("vec_id = 0").first()["embedding"]
    res = index.search(list(q), k=5, nprobe=2).collect()
    assert len(res) == 5
    dists = [r["distance"] for r in res]
    assert dists == sorted(dists)


def test_search_prunes_partitions(index, tables, monkeypatch):
    """nprobe=1 must read ONLY the probed list's partition (the whole
    point of the index: unprobed lists are never read). The serving
    tier loads lists on their first probe under an index version, so on
    a fresh version one search leaves exactly the probed list loaded.
    The Spark fallback reads the probed ``list_id=`` directory DIRECTLY
    (basePath read, the r12 LSH fix — listing the non-probed dirs was
    the dominant serving fixed cost), so there the evidence is the
    plan's actual input files, strictly stronger than a PartitionFilters
    assert: every file read must lie under the one probed dir."""
    import re

    import pgvector_db_spark.operators.ivf as ivf

    q = tables["embeddings"].filter("vec_id = 0").first()["embedding"]
    probe = index._rank_lists(list(q))[0][0]
    ivf._VERSIONS.pop(index.path)
    index.search(list(q), k=3, nprobe=1)
    assert set(ivf._VERSIONS[index.path].lists) == {probe}

    monkeypatch.setattr(ivf, "_RESIDENT_MAX_BYTES", 0)
    ivf._VERSIONS.pop(index.path)
    df = index.search(list(q), k=3, nprobe=1)
    read_lists = {
        int(m.group(1))
        for f in df.inputFiles()
        for m in [re.search(r"/list_id=(\d+)/", f)]
        if m
    }
    assert read_lists == {probe}, f"scan read lists {read_lists}, probed {probe}"


def test_full_probe_equals_exact(index, tables):
    """nprobe = lists ⇒ identical row set to the exact kNN path."""
    emb = tables["embeddings"]
    q = list(emb.filter("vec_id = 123").first()["embedding"])
    exact = [r["vec_id"] for r in knn(emb, q, 10).collect()]
    full = [r["vec_id"] for r in index.search(q, 10, nprobe=LISTS).collect()]
    assert exact == full


def test_search_filtered_iterative_widens_until_k(index, tables):
    """pgvector 0.8 iterative scan: a selective predicate with nprobe=1
    must widen until k qualifying rows are found. The result is the exact
    top-k WITHIN the probed lists (pgvector's iterative-scan guarantee,
    not global exactness — that is the fullprobe case below)."""
    emb = tables["embeddings"]
    q = list(emb.filter("vec_id = 0").first()["embedding"])
    # ~10% of rows carry label 6: one list cannot hold 10 of them, so the
    # loop provably iterates past its nprobe=1 start
    one_list = index.search(q, k=10, nprobe=1).filter("label = 6")
    assert len(one_list.take(10)) < 10
    res = index.search_filtered(
        q, k=10, filter_expr="label = 6", nprobe=1
    ).collect()
    assert len(res) == 10
    assert all(r["label"] == 6 for r in res)
    dists = [r["distance"] for r in res]
    assert dists == sorted(dists)


def test_search_filtered_fullprobe_equals_exact(index, tables):
    """Widened to every list the iterative scan degenerates to the exact
    filtered kNN — the same argument that makes the SQL oracle for
    vs_ivf_knn_filtered_fullprobe valid."""
    emb = tables["embeddings"]
    q = list(emb.filter("vec_id = 0").first()["embedding"])
    exact = [
        r["vec_id"] for r in knn(emb.filter("label = 6"), q, 10).collect()
    ]
    got = [
        r["vec_id"]
        for r in index.search_filtered(
            q, k=10, filter_expr="label = 6", nprobe=LISTS
        ).collect()
    ]
    assert got == exact


def test_search_filtered_respects_max_probes(index, tables):
    """max_probes caps the widening: with a single probed list the result
    is the filtered top-k of that list only (may be < k rows)."""
    emb = tables["embeddings"]
    q = list(emb.filter("vec_id = 0").first()["embedding"])
    res = index.search_filtered(
        q, k=10, filter_expr="label = 6", nprobe=1, max_probes=1
    ).collect()
    assert len(res) < 10
    dists = [r["distance"] for r in res]
    assert dists == sorted(dists)


def test_recall_monotone_in_nprobe(index, tables):
    q = list(tables["embeddings"].filter("vec_id = 7").first()["embedding"])
    r1 = index.recall_at_k(tables["embeddings"], q, k=10, nprobe=1)
    r4 = index.recall_at_k(tables["embeddings"], q, k=10, nprobe=4)
    r8 = index.recall_at_k(tables["embeddings"], q, k=10, nprobe=LISTS)
    assert r8 == 1.0
    assert r1 <= r4 <= r8
    assert r4 >= 0.5  # probing half the lists should recover most neighbors


def test_batch_search_full_probe_equals_knn_batch(index, tables, spark):
    """nprobe = lists ⇒ batch_search over the index equals the exact
    knn_batch kernel over the raw table, row for row."""
    from pgvector_db_spark.operators.knn import knn_batch

    emb = tables["embeddings"]
    queries = (
        emb.filter(F.col("vec_id").isin([0, 7, 123]))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
    )
    got = sorted(
        map(
            tuple,
            index.batch_search(queries, k=5, nprobe=LISTS)
            .select("query_id", "vec_id", "knn_rank")
            .collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            knn_batch(emb, queries, k=5)
            .select("query_id", "vec_id", "knn_rank")
            .collect(),
        )
    )
    assert got == want


def test_batch_search_matches_per_query_search(index, tables):
    """Partial probe: the one-plan batch result equals N independent
    index.search calls at the same nprobe."""
    emb = tables["embeddings"]
    queries = (
        emb.filter(F.col("vec_id").isin([0, 7]))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
    )
    batch = {
        (r["query_id"], r["knn_rank"]): r["vec_id"]
        for r in index.batch_search(queries, k=5, nprobe=2).collect()
    }
    for qid in (0, 7):
        q = list(emb.filter(F.col("vec_id") == qid).first()["embedding"])
        single = index.search(q, k=5, nprobe=2).collect()
        for rank, row in enumerate(single, start=1):
            assert batch[(qid, rank)] == row["vec_id"]


# --- l2 / ip metric support (vector_l2_ops / vector_ip_ops parity) -------


@pytest.fixture(scope="module")
def l2_index(spark, tables, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivf_l2") / "emb_idx")
    return IVFIndex.build(tables["embeddings"], path, lists=LISTS, metric="l2")


def test_l2_metric_persisted_and_reloaded(l2_index, spark):
    fresh = IVFIndex(spark, l2_index.path, "embedding", "vec_id")
    assert fresh.metric == "l2"


def test_l2_full_probe_equals_exact(l2_index, tables):
    q = list(tables["embeddings"].first()["embedding"])
    exact = [
        r["vec_id"]
        for r in knn(tables["embeddings"], q, 10, distance="l2").collect()
    ]
    probed = [
        r["vec_id"] for r in l2_index.search(q, k=10, nprobe=LISTS).collect()
    ]
    assert probed == exact


def test_ip_knn_orders_by_negative_dot(tables):
    q = list(tables["embeddings"].first()["embedding"])
    rows = knn(tables["embeddings"], q, 5, distance="ip").collect()
    dists = [r["distance"] for r in rows]
    assert dists == sorted(dists)
    # similarity is the raw inner product (negated distance)
    assert all(abs(r["similarity"] + r["distance"]) < 1e-12 for r in rows)


def test_ip_index_build_and_search(spark, tables, tmp_path):
    idx = IVFIndex.build(
        tables["embeddings"], str(tmp_path / "ip_idx"), lists=4, metric="ip"
    )
    q = list(tables["embeddings"].first()["embedding"])
    exact = [
        r["vec_id"]
        for r in knn(tables["embeddings"], q, 10, distance="ip").collect()
    ]
    probed = [r["vec_id"] for r in idx.search(q, k=10, nprobe=4).collect()]
    assert probed == exact


def test_unknown_metric_rejected(tables, tmp_path):
    with pytest.raises(ValueError):
        IVFIndex.build(tables["embeddings"], str(tmp_path / "x"), metric="hamming")


def test_append_assigns_to_existing_lists(spark, tables, tmp_path):
    """pgvector INSERT semantics: new rows join the frozen centroids'
    nearest list (no refit); a full-probe search over the grown index
    equals exact kNN over the full table."""
    emb = tables["embeddings"]
    base = emb.filter("vec_id % 2 = 0")
    extra = emb.filter("vec_id % 2 = 1")
    idx = IVFIndex.build(base, str(tmp_path / "grow_idx"), lists=4)
    cents_before = spark.read.parquet(idx.centroids_path).collect()
    idx.append(extra)
    # centroids untouched, every row present exactly once
    assert spark.read.parquet(idx.centroids_path).collect() == cents_before
    data = spark.read.parquet(idx.data_path)
    assert data.count() == emb.count()
    assert data.select("vec_id").distinct().count() == emb.count()
    # appended rows landed in valid lists
    assert data.select("list_id").distinct().count() <= 4
    q = list(emb.filter("vec_id = 123").first()["embedding"])
    exact = [r["vec_id"] for r in knn(emb, q, 10).collect()]
    full = [r["vec_id"] for r in idx.search(q, 10, nprobe=4).collect()]
    assert exact == full


def test_append_l2_metric(spark, tables, tmp_path):
    emb = tables["embeddings"].filter("vec_id < 400")
    idx = IVFIndex.build(
        emb.filter("vec_id < 200"), str(tmp_path / "grow_l2"), lists=4, metric="l2"
    )
    idx.append(emb.filter("vec_id >= 200"))
    q = list(emb.filter("vec_id = 42").first()["embedding"])
    exact = [r["vec_id"] for r in knn(emb, q, 10, distance="l2").collect()]
    full = [r["vec_id"] for r in idx.search(q, 10, nprobe=4).collect()]
    assert exact == full


def test_batch_search_distributed_equals_driver(index, tables):
    """mode='distributed' (no driver collect of the batch) must be
    bitwise-identical to mode='driver' at a PARTIAL nprobe — same fold
    orders ⇒ same centroid ranking ⇒ same probed lists ⇒ same scores."""
    queries = (
        tables["embeddings"]
        .filter("vec_id <= 4")
        .selectExpr("vec_id AS query_id", "embedding AS query_vec")
    )
    drv = sorted(
        map(tuple, index.batch_search(queries, 5, 2, mode="driver").collect())
    )
    dist = sorted(
        map(
            tuple,
            index.batch_search(queries, 5, 2, mode="distributed").collect(),
        )
    )
    assert drv == dist


def test_batch_search_auto_routes_large_batches_distributed(index, tables):
    """auto mode with a tiny driver_batch_max must take the distributed
    path and still return the exact same rows."""
    queries = (
        tables["embeddings"]
        .filter("vec_id <= 4")
        .selectExpr("vec_id AS query_id", "embedding AS query_vec")
    )
    auto = sorted(
        map(
            tuple,
            index.batch_search(
                queries, 5, 2, mode="auto", driver_batch_max=2
            ).collect(),
        )
    )
    drv = sorted(
        map(tuple, index.batch_search(queries, 5, 2, mode="driver").collect())
    )
    assert auto == drv


def test_batch_search_distributed_plan_has_no_static_prune(index, tables):
    """The distributed plan is built without collecting the batch, so it
    cannot contain a static list_id IN (...) partition filter — the probe
    side arrives via a join. (Documents the pruning tradeoff: huge
    batches probe most lists, so the full scan is the intended plan.)"""
    queries = (
        tables["embeddings"]
        .filter("vec_id <= 2")
        .selectExpr("vec_id AS query_id", "embedding AS query_vec")
    )
    df = index.batch_search(queries, 3, 1, mode="distributed")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_probed_read_schema_cache_sees_appends(spark, tables, tmp_path):
    """The layout schema cached per index version must cache ONLY the
    schema, never the file listing: rows appended after the first probed
    read (which primes the cache) must appear in the next search, and
    results must stay identical to the declarative filtered read."""
    from pgvector_db_spark.operators.ivf import IVFIndex
    from pyspark.sql import functions as F

    emb = tables["embeddings"]
    half = emb.filter("vec_id % 2 = 0")
    rest = emb.filter("vec_id % 2 = 1")
    idx = IVFIndex.build(half, str(tmp_path / "sc"), lists=4)
    q = list(emb.filter("vec_id = 0").first()["embedding"])
    # primes the schema cached for the index version
    before = idx.search(q, k=50, nprobe=4).collect()
    idx.append(rest)
    after = idx.search(q, k=50, nprobe=4)
    got = sorted(r["vec_id"] for r in after.collect())
    # appended rows are visible: odd vec_ids can now rank
    assert len(got) >= len(before)
    assert any(v % 2 == 1 for v in got)
    # row-identical to the declarative filtered read
    probes = [lid for lid, _ in idx._rank_lists(q)[:4]]
    declarative = (
        idx._data().filter(F.col("list_id").isin(probes)).count()
    )
    direct = idx._probed_data(probes).count()
    assert direct == declarative


def test_search_filtered_result_collects_without_a_spark_job(
    index, tables, spark
):
    """search_filtered returns the rows its last round already fetched:
    collecting them runs no second Spark job."""
    emb = tables["embeddings"]
    q = list(emb.filter("vec_id = 0").first()["embedding"])
    out = index.search_filtered(q, k=10, filter_expr="label = 6", nprobe=1)
    sc = spark.sparkContext
    sc.setJobGroup("search_filtered_collect", "collect only")
    try:
        rows = out.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("search_filtered_collect") == []
    assert len(rows) == 10 and all(r["label"] == 6 for r in rows)
    assert out.columns == index.search(q, k=10, nprobe=1).columns


def test_index_renamed_into_place_is_served_with_its_own_metric_and_lists(
    spark, tmp_path
):
    """An index rebuilt elsewhere and renamed over the path of an index
    that a handle has already searched (what a second process, or
    queries._atomic_cached_build, does) is served with ITS metric, list
    count and layout — the handle's cache follows the manifest version."""
    import math
    import os
    import shutil

    rows = [
        (i, [(1 + i % 5) * math.cos(i * 0.4), (1 + i % 5) * math.sin(i * 0.4), 0.5])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [2.0, 0.3, 0.5]
    path = str(tmp_path / "idx")
    IVFIndex.build(df, path, lists=4, metric="cosine")
    handle = IVFIndex(spark, path, "embedding", "vec_id")
    handle.search(q, k=5, nprobe=4).collect()
    assert handle.metric == "cosine" and len(handle._centroids()) == 4

    IVFIndex.build(df, str(tmp_path / "other"), lists=2, metric="l2")
    shutil.rmtree(path)
    os.rename(str(tmp_path / "other"), path)

    assert handle.metric == "l2" and len(handle._centroids()) == 2

    def ranked(frame):
        return [(r["vec_id"], r["distance"]) for r in frame.collect()]

    want = ranked(knn(df, q, 5, distance="l2"))
    assert want != ranked(knn(df, q, 5, distance="cosine"))
    assert ranked(handle.search(q, k=5, nprobe=2)) == want
