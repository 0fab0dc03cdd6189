"""VectorTable facade: the reference's end-to-end lifecycle
(CREATE TABLE -> pg_insert/pg_copy -> CREATE INDEX ivfflat -> top-k query)
as one object. Mirrors reference tests/test_pg.py's insert/copy/readback
shape and demo/aws_rds_similarity_search_demo.py's index+search flow."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pgvector_db_spark.sources.table import SchemaValidationError
from pgvector_db_spark.vector_table import VectorTable


@pytest.fixture()
def vt(spark, tmp_path):
    return VectorTable.create(spark, str(tmp_path / "docs"), dim=3)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "text string, embedding array<float>")


def test_insert_assigns_serial_ids(spark, vt):
    vt.insert(_docs(spark, [("a", [0.1, 0.2, 0.3]), ("b", [0.3, 0.1, 0.2])]))
    df = vt.to_df()
    assert vt.count() == 2
    ids = sorted(r["id"] for r in df.collect())
    assert ids == [1, 2]
    # second batch continues the sequence
    vt.insert(_docs(spark, [("c", [0.0, 1.0, 0.0])]))
    assert sorted(r["id"] for r in vt.to_df().collect()) == [1, 2, 3]


def test_vector_dim_enforced(spark, vt):
    with pytest.raises(SchemaValidationError, match="VECTOR\\(3\\)"):
        vt.insert(_docs(spark, [("bad", [0.1, 0.2])]))
    with pytest.raises(SchemaValidationError, match="missing required"):
        vt.insert(spark.createDataFrame([("a",)], "text string"))


def test_copy_requires_ids_and_loads(spark, vt):
    with pytest.raises(ValueError, match="SERIAL"):
        vt.copy_from(_docs(spark, [("a", [0.1, 0.2, 0.3])]))
    withids = spark.createDataFrame(
        [(1, "a", [0.1, 0.2, 0.3]), (2, "b", [0.3, 0.1, 0.2])],
        "id long, text string, embedding array<float>",
    )
    assert vt.copy_from(withids) == 2
    assert vt.count() == 2


def test_search_exact_then_indexed(spark, vt):
    import math

    rows = [
        (f"doc{i}", [math.cos(i * 0.7), math.sin(i * 0.7), 0.1 * (i % 5)])
        for i in range(60)
    ]
    vt.insert(_docs(spark, rows))
    q = [1.0, 0.0, 0.0]
    exact = vt.search(q, k=5)  # no index: seq-scan path
    exact_ids = [r["id"] for r in exact.collect()]
    assert len(exact_ids) == 5

    vt.create_index(lists=4)
    assert vt.has_index()
    # full probe degenerates to exact
    full = [r["id"] for r in vt.search(q, k=5, probes=4).collect()]
    assert full == exact_ids
    # probed path returns k rows
    assert len(vt.search(q, k=5, probes=1).collect()) == 5
    # probes=None stays exact even with an index present
    assert [r["id"] for r in vt.search(q, k=5)].__len__() == 5


def test_insert_after_index_keeps_index_fresh(spark, vt):
    rows = [(f"d{i}", [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(40)]
    vt.insert(_docs(spark, rows))
    vt.create_index(lists=3)
    # a new row lands in the index without a rebuild (frozen centroids);
    # [0,0,-50] is the unique direction with negative z in the table
    vt.insert(_docs(spark, [("needle", [0.0, 0.0, -50.0])]))
    got = vt.search([0.0, 0.0, -50.0], k=1, probes=3).collect()
    assert got[0]["id"] == 41


def test_chunk_embed_search_roundtrip(spark, tables, tmp_path):
    """The full RAG loop over the facade: chunk documents into overlapping
    word windows (ds_chunk_documents), fake-embed each chunk (A12 stand-in),
    load into a VectorTable, index, and search with a known chunk's
    embedding — the nearest neighbor must be that chunk itself
    (self-distance 0, reference demo/similarity_search_demo.py:136-143
    property applied end-to-end)."""
    from tests.conftest import SF_DIR

    from pgvector_db_spark.functions.embedding import fake_embedding
    from pgvector_db_spark.queries import REGISTRY

    chunks = REGISTRY["ds_chunk_documents"].spark_fn(spark, SF_DIR)
    embedded = chunks.select(
        F.col("chunk_text").alias("text"),
        fake_embedding(F.col("chunk_text")).cast("array<float>").alias("embedding"),
    )
    vt = VectorTable.create(spark, str(tmp_path / "chunks"), dim=8)
    vt.insert(embedded)
    assert vt.count() == embedded.count()
    vt.create_index(lists=4)

    probe = embedded.first()
    hits = vt.search(list(probe["embedding"]), k=3, probes=4).collect()
    assert hits[0]["text"] == probe["text"]
    assert abs(hits[0]["distance"]) < 1e-9


def test_delete_masks_index_until_vacuum(spark, vt):
    """DELETE semantics: rows vanish from scans and exact search at
    once; the indexed path masks dead entries (pgvector dead-tuple
    behavior) and still returns k live rows; vacuum() rebuilds the
    index from live rows and clears tombstones."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = [
        (f"doc{i}", [float(x) for x in rng.normal(size=3)]) for i in range(40)
    ]
    vt.insert(_docs(spark, rows))
    vt.create_index(lists=4)

    q = rows[0][1]
    before = [r["id"] for r in vt.search(q, k=5, probes=4).collect()]
    victims = before[:2]  # delete the two nearest hits
    assert vt.delete(victims) == 38
    assert vt.count() == 38

    # exact path: deleted rows gone immediately
    exact = [r["id"] for r in vt.search(q, k=5).collect()]
    assert not set(victims) & set(exact) and len(exact) == 5

    # indexed path: tombstone mask, still k live rows
    masked = [r["id"] for r in vt.search(q, k=5, probes=4).collect()]
    assert not set(victims) & set(masked) and len(masked) == 5
    assert masked == exact  # full-probe masked search == exact survivors

    # vacuum folds the tombstones into a rebuilt index
    vt.vacuum()
    assert vt._tombstones() == []
    after = [r["id"] for r in vt.search(q, k=5, probes=4).collect()]
    assert after == exact


def test_upsert_replaces_vectors_and_reindexes(spark, vt):
    """UPDATE analogue: a replaced embedding must win subsequent
    searches through BOTH the exact and the rebuilt indexed path."""
    vt.insert(_docs(spark, [("a", [1.0, 0.0, 0.0]),
                            ("b", [0.0, 1.0, 0.0]),
                            ("c", [0.0, 0.0, 1.0])]))
    vt.create_index(lists=2)
    # SERIAL ids are content-hash ordered — look "c"'s id up
    ids = {r["text"]: r["id"] for r in vt.to_df().collect()}
    # move doc "c" right on top of the query direction
    upd = spark.createDataFrame(
        [(ids["c"], "c2", [1.0, 0.0, 0.0])],
        "id long, text string, embedding array<float>",
    )
    assert vt.upsert(upd) == 3
    q = [1.0, 0.0, 0.0]
    exact = vt.search(q, k=1).first()
    indexed = vt.search(q, k=1, probes=2).first()
    # the winner is one of the two vectors now sitting exactly on q
    assert exact["id"] in (ids["a"], ids["c"])
    assert indexed["id"] == exact["id"]
    row = {r["id"]: r["text"] for r in vt.to_df().collect()}
    assert row[ids["c"]] == "c2" and vt.count() == 3
    assert vt._tombstones() == []  # rebuild cleared any mask


def test_failed_staging_write_leaves_table_intact(spark, tmp_path):
    """Copy-on-write safety: if the replacement's staging write fails
    (here: the keys frame throws during evaluation), the swap never
    happens and the original table is untouched — the rollback contract
    of the staged-swap machinery."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from pgvector_db_spark.sources.table import ParquetTable

    table = ParquetTable(spark, str(tmp_path / "t"))
    spark.range(10).withColumnRenamed("id", "k").write.parquet(table.path)

    boom = F.udf(lambda x: 1 // 0, LongType())
    bad_keys = spark.range(1).select(boom("id").alias("k"))
    with pytest.raises(Exception):
        table.delete(bad_keys, key="k")
    assert table.read().count() == 10  # original files untouched


def test_delete_edge_cases_and_id_recycling_guard(spark, vt):
    """Review regressions: empty delete is a no-op; SERIAL never reuses
    a tombstoned id (the new live row must stay visible to indexed
    search); vacuum after deleting everything drops the index cleanly."""
    rows = [(f"d{i}", [float(i), 1.0, 0.0]) for i in range(8)]
    vt.insert(_docs(spark, rows))
    vt.create_index(lists=2)

    assert vt.delete([]) == 8  # no-op, returns current count

    # delete the max id, then insert a new row WITHOUT an id: SERIAL
    # must skip past the tombstone, and the new row must be findable
    # through the indexed path
    max_id = max(r["id"] for r in vt.to_df().collect())
    vt.delete([max_id])
    vt.insert(_docs(spark, [("fresh", [0.0, 0.0, -9.0])]))
    new_id = {r["text"]: r["id"] for r in vt.to_df().collect()}["fresh"]
    assert new_id > max_id  # not recycled
    hit = vt.search([0.0, 0.0, -9.0], k=1, probes=2).first()
    assert hit["id"] == new_id  # visible despite the tombstone set

    # explicit-id write over a tombstoned id revives it
    vt.delete([new_id])
    vt.copy_from(
        spark.createDataFrame(
            [(new_id, "revived", [0.0, 0.0, -9.0])],
            "id long, text string, embedding array<float>",
        )
    )
    hit = vt.search([0.0, 0.0, -9.0], k=1, probes=2).first()
    assert hit["id"] == new_id and new_id not in vt._tombstones()

    # drain the table: vacuum must drop the index, not crash KMeans
    vt.delete([r["id"] for r in vt.to_df().collect()])
    assert vt.count() == 0
    vt.vacuum()
    assert not vt.has_index() and vt._tombstones() == []


def _indexed_table(spark, vt, n=40):
    """``vt`` with ``n`` rows and a 4-list index; returns the query and
    the ids of its 3 nearest rows."""
    import math

    rows = [
        (f"d{i}", [math.cos(i * 0.3), math.sin(i * 0.3), 0.1 * (i % 4)])
        for i in range(n)
    ]
    vt.insert(_docs(spark, rows))
    vt.create_index(lists=4)
    q = rows[0][1]
    return q, [r["id"] for r in vt.search(q, k=3, probes=4).collect()]


def _assert_index_serves_only_table_rows(vt, q):
    table = {(r["id"], r["text"]) for r in vt.to_df().collect()}
    served = {(r["id"], r["text"]) for r in vt.search(q, k=10, probes=4).collect()}
    assert served and served <= table


def _boom(*args, **kwargs):
    raise RuntimeError("injected failure")


def test_delete_through_one_handle_masks_another_handles_index(spark, vt):
    """Two handles on one table: after handle A deletes a row, handle
    B's indexed search stops returning it, like its exact search."""
    q, near = _indexed_table(spark, vt)
    other = VectorTable(spark, vt.path, dim=3)
    assert near[0] in [r["id"] for r in other.search(q, k=3, probes=4).collect()]
    vt.delete([near[0]])
    assert near[0] not in [r["id"] for r in other.search(q, k=3).collect()]
    assert near[0] not in [
        r["id"] for r in other.search(q, k=3, probes=4).collect()
    ]


@pytest.mark.parametrize("fail_at", ["tombstones", "swap"])
def test_delete_failure_never_leaves_index_serving_deleted_rows(
    spark, vt, monkeypatch, fail_at
):
    """A delete that fails between committing its tombstones and swapping
    the rows leaves every (id, text) that indexed search returns in the
    table."""
    import os

    from pgvector_db_spark.sources.table import ParquetTable

    q, near = _indexed_table(spark, vt)
    if fail_at == "tombstones":
        # the atomic rename that commits tombstones.json
        monkeypatch.setattr(os, "replace", _boom)
    else:
        monkeypatch.setattr(ParquetTable, "_swap_in", _boom)
    with pytest.raises(RuntimeError, match="injected"):
        vt.delete(near)
    monkeypatch.undo()
    _assert_index_serves_only_table_rows(vt, q)


@pytest.mark.parametrize("fail_at", ["drop_index", "swap", "rebuild"])
def test_upsert_failure_never_leaves_index_serving_replaced_rows(
    spark, vt, monkeypatch, fail_at
):
    """An upsert drops the index before its row swap and rebuilds it
    after: a failure at any step leaves every (id, text) that indexed
    search returns in the table."""
    from pgvector_db_spark.sources.table import ParquetTable

    q, near = _indexed_table(spark, vt)
    vecs = {r["id"]: list(r["embedding"]) for r in vt.to_df().collect()}
    upd = spark.createDataFrame(
        [(i, f"new{i}", vecs[i]) for i in near],
        "id long, text string, embedding array<float>",
    )
    target = {
        "drop_index": (VectorTable, "drop_index"),
        "swap": (ParquetTable, "_swap_in"),
        "rebuild": (VectorTable, "create_index"),
    }[fail_at]
    monkeypatch.setattr(*target, _boom)
    with pytest.raises(RuntimeError, match="injected"):
        vt.upsert(upd)
    monkeypatch.undo()
    _assert_index_serves_only_table_rows(vt, q)


def test_has_index_checks_the_manifest(spark, vt):
    """An index directory without its MANIFEST.json is no index: search
    takes the exact path."""
    import os

    q, near = _indexed_table(spark, vt)
    os.remove(os.path.join(vt.index_path, "MANIFEST.json"))
    assert not vt.has_index()
    assert [r["id"] for r in vt.search(q, k=3, probes=4).collect()] == near


def test_concurrent_tombstone_commits_lose_no_id(vt):
    """Tombstone commits are read-modify-writes under the commit lock:
    16 threads each adding one id, with a shortened switch interval,
    lose none of them."""
    import sys
    import threading

    def add(i):
        vt._commit_tombstones(lambda dead: dead | {i})

    threads = [threading.Thread(target=add, args=(i,)) for i in range(16)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert vt._tombstones() == list(range(16))
