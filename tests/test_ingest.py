"""Ingest/export tests mirroring the reference's suite:
- 1-row insert roundtrip, shape (3,) (reference tests/test_pg.py:53-71)
- 2-row bulk copy, COUNT == 2 (reference tests/test_pg.py:74-90)
- missing-required-column raises (reference pg_insert.py:26-28)
- parquet export roundtrip + partitioned append
  (reference tests/test_generate_embeddings.py:53-88)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pgvector_db_spark.sources import ParquetTable, SchemaValidationError
from pgvector_db_spark.sources.export import save_partitioned, save_to_parquet


@pytest.fixture()
def table(spark, tmp_path):
    return ParquetTable(
        spark,
        str(tmp_path / "test_embeddings"),
        required_cols=("text", "embedding"),
        vector_dims={"embedding": 3},
    )


def _df(spark, rows):
    return spark.createDataFrame(rows, "text string, embedding array<float>")


def test_insert_roundtrip(spark, table):
    table.insert(_df(spark, [("Hello world", [0.1, 0.2, 0.3])]))
    rows = table.read().collect()
    assert len(rows) == 1
    assert rows[0]["text"] == "Hello world"
    assert len(rows[0]["embedding"]) == 3  # shape (3,) like test_pg.py:69


def test_copy_two_rows(spark, table):
    n = table.copy_from(
        _df(spark, [("a", [0.1, 0.2, 0.3]), ("b", [0.4, 0.5, 0.6])])
    )
    assert n == 2
    assert table.read().count() == 2  # test_pg.py:89 COUNT(*) == 2


def test_copy_from_parquet_path(spark, table, tmp_path):
    src = str(tmp_path / "src.parquet")
    _df(spark, [("x", [1.0, 0.0, 0.0])]).write.parquet(src)
    assert table.copy_from(src) == 1
    assert table.read().count() == 1


def test_copy_appends_to_existing(spark, table):
    table.insert(_df(spark, [("a", [0.1, 0.2, 0.3])]))
    table.copy_from(_df(spark, [("b", [0.4, 0.5, 0.6])]))
    assert table.read().count() == 2
    assert not [
        f for f in table.read().inputFiles() if "_staging" in f
    ], "staging dir must be cleaned up"


def test_missing_required_column_raises(spark, table):
    df = spark.createDataFrame([("only text",)], "text string")
    with pytest.raises(SchemaValidationError, match="embedding"):
        table.insert(df)


def test_wrong_vector_dim_raises(spark, table):
    with pytest.raises(SchemaValidationError, match="VECTOR\\(3\\)"):
        table.insert(_df(spark, [("bad", [0.1, 0.2])]))


def test_copy_wrong_dim_raises_and_leaves_nothing(spark, table):
    """copy_from checks VECTOR(n) inside its staging write: a wrong-dim
    row fails the load, the staging dir is removed and no row lands."""
    import os

    table.insert(_df(spark, [("a", [0.1, 0.2, 0.3])]))
    bad = _df(spark, [("b", [0.4, 0.5, 0.6]), ("c", [0.1, 0.2])])
    with pytest.raises(SchemaValidationError, match="'embedding'.*VECTOR\\(3\\)"):
        table.copy_from(bad)
    assert not [f for f in os.listdir(table.path) if f.startswith("_staging")]
    assert [r["text"] for r in table.read().collect()] == ["a"]
    with pytest.raises(SchemaValidationError, match="VECTOR\\(3\\)"):
        table.copy_from(_df(spark, [("n", None)]))


def test_insert_batch_rows_controls_files(spark, table):
    df = _df(spark, [(f"t{i}", [float(i), 0.0, 0.0]) for i in range(10)])
    table.insert(df, batch_rows=5)
    assert len(table.read().inputFiles()) == 2


def test_save_to_parquet_roundtrip(spark, tmp_path):
    df = _df(spark, [("a", [0.1, 0.2, 0.3]), ("b", [0.4, 0.5, 0.6])])
    out = str(tmp_path / "export.parquet")
    save_to_parquet(df, out)
    back = spark.read.parquet(out)
    assert sorted(back.columns) == ["embedding", "text"]
    assert back.count() == 2


def test_save_partitioned_append(spark, tmp_path):
    df = _df(spark, [("a", [0.1, 0.2, 0.3])])
    out = str(tmp_path / "parts")
    save_partitioned(df, out, date="2026-01-01")
    save_partitioned(df, out, date="2026-01-02")
    save_partitioned(df, out, date="2026-01-02")  # append within partition
    back = spark.read.parquet(out)
    assert back.count() == 3
    dates = {str(r["generation_date"]) for r in back.select("generation_date").collect()}
    assert dates == {"2026-01-01", "2026-01-02"}  # read back as DateType partitions
    # partition pruning: the filter must land in PartitionFilters (pruned
    # scan), not a post-scan Filter over all partitions
    pruned = back.filter(F.col("generation_date") == "2026-01-01")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "generation_date" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    assert pruned.count() == 1


def test_upsert_replaces_and_appends(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "up"), required_cols=("text",))
    base = spark.createDataFrame(
        [(1, "one"), (2, "two"), (3, "three")], "id bigint, text string"
    )
    t.insert(base)
    n = t.upsert(
        spark.createDataFrame([(2, "TWO"), (4, "four")], "id bigint, text string"),
        key="id",
    )
    assert n == 4
    got = {r["id"]: r["text"] for r in t.read().collect()}
    assert got == {1: "one", 2: "TWO", 3: "three", 4: "four"}


def test_upsert_validates_schema(spark, tmp_path):
    import pytest

    t = ParquetTable(spark, str(tmp_path / "up2"), required_cols=("text",))
    t.insert(spark.createDataFrame([(1, "a")], "id bigint, text string"))
    with pytest.raises(SchemaValidationError):
        t.upsert(spark.createDataFrame([(2,)], "id bigint"), key="id")


def test_compact_reduces_files_keeps_rows(spark, tmp_path):
    import glob

    t = ParquetTable(spark, str(tmp_path / "frag"))
    df = spark.range(1000).withColumnRenamed("id", "v")
    for _ in range(5):
        t.insert(df.repartition(8))  # 40 small files
    before = len(glob.glob(str(tmp_path / "frag" / "*.parquet")))
    n = t.compact(target_files=2)
    after = len(glob.glob(str(tmp_path / "frag" / "*.parquet")))
    assert n == 5000 and t.read().count() == 5000
    assert after <= 2 < before


def test_csv_json_source_roundtrip(spark, tmp_path):
    """Source-format breadth: the engine's tables round-trip through CSV
    and JSON with explicit schemas (Spark built-in readers; vector
    columns stay parquet-only by design — CSV/JSON carry scalars)."""
    from pgvector_db_spark.catalog import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "lang", "n_chars"
    )
    csv_path, json_path = str(tmp_path / "csv"), str(tmp_path / "json")
    docs.write.option("header", True).csv(csv_path)
    docs.write.json(json_path)
    schema = "doc_id bigint, lang string, n_chars bigint"
    got_csv = spark.read.option("header", True).schema(schema).csv(csv_path)
    got_json = spark.read.schema(schema).json(json_path)
    want = {(r["doc_id"], r["lang"], r["n_chars"]) for r in docs.collect()}
    assert {(r["doc_id"], r["lang"], r["n_chars"]) for r in got_csv.collect()} == want
    assert {(r["doc_id"], r["lang"], r["n_chars"]) for r in got_json.collect()} == want


def test_orc_source_roundtrip(spark, tmp_path):
    """ORC round-trip INCLUDING the vector column — ORC is columnar with
    full nested-type support, so unlike CSV/JSON the embedding array
    survives intact (second built-in columnar format besides parquet)."""
    from pgvector_db_spark.catalog import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "label", "embedding"
    )
    orc_path = str(tmp_path / "orc")
    emb.write.orc(orc_path)
    got = spark.read.orc(orc_path)
    assert dict(got.dtypes) == dict(emb.dtypes)
    want = {(r["vec_id"], r["label"], tuple(r["embedding"])) for r in emb.collect()}
    have = {(r["vec_id"], r["label"], tuple(r["embedding"])) for r in got.collect()}
    assert have == want
