"""Managed Parquet tables: the engine's write paths.

Replaces the reference's two Postgres ingest paths with Spark-native
equivalents (SURVEY.md §3.2-3.3):

- ``insert`` ↔ ``pg_insert`` (reference src/pgvector_db/pg_insert.py:23-80):
  required-column validation (:26-28 raises ValueError), batched append.
  Batch sizing maps to partition sizing; Spark's job commit protocol gives
  all-or-nothing semantics, *stronger* than the reference's per-batch
  commit.
- ``copy_from`` ↔ ``pg_copy`` (reference src/pgvector_db/pg_copy.py:28-107):
  input polymorphism (DataFrame | parquet path, :39-45), staging write,
  then atomic promote (temp table + INSERT INTO SELECT at :62-91 becomes a
  staging directory + filesystem rename into the table root).

Vector-dimension enforcement replicates ``VECTOR(n)`` insert-time checks
(pgvector rejects wrong-dim rows): ``insert`` and ``upsert`` run a
pre-write validation count; ``copy_from`` checks inside its staging write
with ``raise_error``, so the bulk path reads its input once.

Scale notes: all validation is distributed (no collect); the promote step
moves file pointers via the Hadoop FileSystem API, so it works unchanged on
HDFS/S3A with a cluster and committers; appended files never rewrite
existing data.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class SchemaValidationError(ValueError):
    """Raised when an ingest DataFrame is missing required columns or
    violates a declared vector dimension (reference pg_insert.py:26-28)."""


def _dim_error(col: str, dim: int) -> str:
    return f"column {col!r}: rows violate VECTOR({dim}) dimension"


class ParquetTable:
    """A named Parquet dataset directory with declared ingest constraints.

    ``required_cols`` mirrors the reference's {text, embedding} check;
    ``vector_dims`` maps column → fixed dimension (VECTOR(n) semantics).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        required_cols: tuple[str, ...] = (),
        vector_dims: dict[str, int] | None = None,
    ) -> None:
        self.spark = spark
        self.path = path
        self.required_cols = required_cols
        self.vector_dims = vector_dims or {}

    # -- read ---------------------------------------------------------------

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    def exists(self) -> bool:
        """True iff the table directory exists on the table's filesystem
        (Hadoop FS API, so s3a:///hdfs:// paths behave like local ones)."""
        jvm = self.spark.sparkContext._jvm
        conf = self.spark.sparkContext._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(self.path)
        return p.getFileSystem(conf).exists(p)

    # -- validation ---------------------------------------------------------

    def _check_required(self, df: DataFrame) -> None:
        missing = [c for c in self.required_cols if c not in df.columns]
        if missing:
            # same error semantics as reference pg_insert.py:26-28
            raise SchemaValidationError(
                f"DataFrame is missing required columns: {missing}"
            )

    def validate(self, df: DataFrame) -> None:
        self._check_required(df)
        for col, dim in self.vector_dims.items():
            if col not in df.columns:
                continue
            bad = df.filter(
                F.col(col).isNull() | (F.size(F.col(col)) != F.lit(dim))
            ).count()
            if bad:
                raise SchemaValidationError(
                    f"column {col!r}: {bad} rows violate VECTOR({dim}) dimension"
                )

    # -- insert path (pg_insert analogue) ------------------------------------

    def insert(self, df: DataFrame, batch_rows: int | None = None) -> None:
        """Validated append. ``batch_rows`` maps the reference's
        ``batch_size=1000`` to output-partition sizing (rows per task /
        file) — at scale this controls file counts, not txn boundaries."""
        self.validate(df)
        if batch_rows:
            n = df.count()
            df = df.repartition(max(1, (n + batch_rows - 1) // batch_rows))
        df.write.mode("append").parquet(self.path)

    # -- copy path (pg_copy analogue) ----------------------------------------

    def copy_from(self, data: DataFrame | str) -> int:
        """Bulk load via staging + atomic promote.

        DataFrame or parquet-path input (reference pg_copy.py:39-45) is
        written to ``<path>/_staging_<uuid>``, then its files are renamed
        into the table root in one pass and the staging dir removed — the
        Spark equivalent of COPY-into-temp-table + INSERT..SELECT + single
        commit (pg_copy.py:62-91). Returns rows loaded.

        The ``VECTOR(n)`` check runs inside the staging write, one pass
        over the input: a wrong-dim or null vector fails the write, the
        staging dir is deleted, and the failure is raised as
        :class:`SchemaValidationError` naming the column.
        """
        df = (
            self.spark.read.parquet(data) if isinstance(data, str) else data
        )
        self._check_required(df)
        for col, dim in self.vector_dims.items():
            if col in df.columns:
                v = F.col(col)
                df = df.withColumn(
                    col,
                    F.when(v.isNotNull() & (F.size(v) == dim), v).otherwise(
                        F.raise_error(F.lit(_dim_error(col, dim)))
                    ),
                )

        staging = f"{self.path.rstrip('/')}/_staging_{uuid.uuid4().hex}"
        jvm = self.spark.sparkContext._jvm
        jsc = self.spark.sparkContext._jsc
        conf = jsc.hadoopConfiguration()
        src = jvm.org.apache.hadoop.fs.Path(staging)
        dst = jvm.org.apache.hadoop.fs.Path(self.path)
        fs = src.getFileSystem(conf)
        try:
            df.write.mode("overwrite").parquet(staging)
        except Exception as e:
            fs.delete(src, True)
            for col, dim in self.vector_dims.items():
                if _dim_error(col, dim) in str(e):
                    raise SchemaValidationError(_dim_error(col, dim)) from e
            raise
        n = self.spark.read.parquet(staging).count()

        moved = 0
        for status in fs.listStatus(src):
            name = status.getPath().getName()
            if name.endswith(".parquet"):
                target = jvm.org.apache.hadoop.fs.Path(
                    dst, f"part-{uuid.uuid4().hex}-{name.lstrip('_')}"
                )
                if not fs.rename(status.getPath(), target):
                    raise OSError(f"promote failed for {name}")
                moved += 1
        fs.delete(src, True)
        if not moved:
            raise OSError("staging produced no parquet files")
        return n

    # -- maintenance ----------------------------------------------------------

    def compact(self, target_files: int = 8) -> int:
        """Rewrite the table into ``target_files`` files (small-file
        compaction — the operational fix for streaming/append-created file
        sprawl, which at scale degrades scan planning and shuffle-read).
        Atomic via the same staged-swap machinery as :meth:`upsert`.
        Returns the row count."""
        return self._swap_in(self.read().coalesce(target_files))

    # -- upsert path (ON CONFLICT DO UPDATE analogue) -------------------------

    def upsert(self, df: DataFrame, key: str) -> int:
        """Merge by key: incoming rows replace existing rows with the same
        ``key``; new keys append. (Postgres ``INSERT ... ON CONFLICT DO
        UPDATE``; the reference's ingest paths are append-only, so this is
        an engine extension.)

        Implementation is copy-on-write merge: survivors = current rows
        anti-joined against incoming keys, union incoming, rewrite via
        staging + atomic directory swap. One shuffle (the anti join);
        at scale, partition the table and rewrite only affected
        partitions (same code path — the anti join prunes untouched
        partitions when the key is the partition column).
        Returns the post-merge row count.
        """
        self.validate(df)
        if not self.exists():
            # first write: nothing to merge with
            df.write.mode("errorifexists").parquet(self.path)
            return df.count()
        current = self.read()
        keys = df.select(key).distinct()
        survivors = current.join(keys, key, "left_anti")
        return self._swap_in(survivors.unionByName(df))

    def delete(self, keys: DataFrame, key: str) -> int:
        """Delete rows whose ``key`` appears in ``keys`` (Postgres
        ``DELETE ... WHERE key IN (...)`` analogue; completes the
        mutable-table surface next to :meth:`upsert`). Copy-on-write
        anti join + the same atomic staged swap; at scale the anti join
        prunes untouched partitions when the key is the partition
        column. Returns the post-delete row count."""
        if not self.exists():
            return 0
        survivors = self.read().join(
            keys.select(key).distinct(), key, "left_anti"
        )
        return self._swap_in(survivors)

    def _swap_in(self, replacement: DataFrame) -> int:
        """Write ``replacement`` to a staging dir and atomically swap it in
        for the current table directory (rollback on failed promote)."""
        staging = f"{self.path.rstrip('/')}_swap_{uuid.uuid4().hex}"
        replacement.write.mode("overwrite").parquet(staging)
        n = self.spark.read.parquet(staging).count()

        jvm = self.spark.sparkContext._jvm
        conf = self.spark.sparkContext._jsc.hadoopConfiguration()
        old = jvm.org.apache.hadoop.fs.Path(self.path)
        new = jvm.org.apache.hadoop.fs.Path(staging)
        fs = old.getFileSystem(conf)
        trash = jvm.org.apache.hadoop.fs.Path(
            f"{self.path.rstrip('/')}_old_{uuid.uuid4().hex}"
        )
        if not fs.rename(old, trash):
            raise OSError("swap: could not move current table aside")
        if not fs.rename(new, old):
            fs.rename(trash, old)  # roll back
            raise OSError("swap: promote failed; rolled back")
        fs.delete(trash, True)
        return n
