"""VectorTable — the reference's end-to-end workflow as one object.

Mirrors the user-visible lifecycle of deburky/pgvector_db so a user of
the reference can switch 1:1 (reference lines cited per method):

    CREATE TABLE documents (id SERIAL, text TEXT, embedding VECTOR(n))
        -> VectorTable.create(spark, path, dim=n)          (README.md:172-176)
    pg_insert(df, config)        -> vt.insert(df)          (pg_insert.py:23-80)
    pg_copy(df_or_path, config)  -> vt.copy_from(...)      (pg_copy.py:28-107)
    CREATE INDEX ... USING ivfflat (embedding vector_cosine_ops)
      WITH (lists=100)           -> vt.create_index(lists=100)  (README.md:185)
    SET ivfflat.probes = p; SELECT ... ORDER BY embedding <=> q LIMIT k
        -> vt.search(q, k, probes=p)                       (README.md:230-241)

Semantics preserved:
- VECTOR(n) dimension enforcement on every write (insert AND copy).
- SERIAL id assignment for rows that arrive without ids (documented
  deviation: ids are unique + monotone per batch but assignment order
  within a batch follows a content hash, not arrival order — Spark has
  no global row order).
- ``probes=None`` (no index / unset) is the exact seq-scan path, like a
  pgvector query before CREATE INDEX; with an index, ``probes`` trades
  recall for partition-pruned scans exactly like ``ivfflat.probes``.
- INSERT after CREATE INDEX keeps the index fresh (frozen centroids,
  like pgvector's insert-time list assignment).

On disk: ``rows/`` (parquet, swapped in atomically by delete and
upsert), ``index/`` (the IVF layout; its ``MANIFEST.json`` marks it
committed) and ``tombstones.json`` (ids deleted since the last vacuum).
Both JSON files are committed with sources/commitlog.py and read on
every call, so every handle and process sees every write.

At scale each piece is the engine's existing distributed operator:
validated append / staged copy (sources/table.py), a list-partitioned
layout whose centers come from sampled k-means + pruning search
(operators/ivf.py), codegen distance kernels.
"""

from __future__ import annotations

import contextlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pgvector_db_spark.operators.ivf import IVFIndex
from pgvector_db_spark.operators.knn import knn
from pgvector_db_spark.sources.commitlog import commit_json, file_lock, read_json
from pgvector_db_spark.sources.table import ParquetTable


class VectorTable:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        dim: int,
        vec_col: str = "embedding",
        id_col: str = "id",
        metric: str = "cosine",
    ) -> None:
        self.spark = spark
        self.path = path
        self.dim = dim
        self.vec_col = vec_col
        self.id_col = id_col
        self.metric = metric
        self._table = ParquetTable(
            spark,
            os.path.join(path, "rows"),
            required_cols=("text", vec_col),
            vector_dims={vec_col: dim},
        )

    # -- lifecycle -----------------------------------------------------------

    @classmethod
    def create(cls, spark: SparkSession, path: str, dim: int, **kw) -> VectorTable:
        """CREATE TABLE analogue (schema is declared, enforced on write)."""
        os.makedirs(path, exist_ok=True)
        return cls(spark, path, dim, **kw)

    @property
    def index_path(self) -> str:
        return os.path.join(self.path, "index")

    def _index(self) -> IVFIndex:
        return IVFIndex(self.spark, self.index_path, self.vec_col, self.id_col)

    def has_index(self) -> bool:
        return os.path.exists(self._index().manifest_path)

    def to_df(self) -> DataFrame:
        return self._table.read()

    def count(self) -> int:
        return self.to_df().count() if self._table.exists() else 0

    # -- writes --------------------------------------------------------------

    def _with_ids(self, df: DataFrame) -> DataFrame:
        """SERIAL analogue: assign ids ``max_existing + 1 ..`` to incoming
        rows that lack the id column. Deterministic (content-hash order);
        a single pass, the window is per-batch not per-corpus."""
        if self.id_col in df.columns:
            return df
        start = 0
        if self._table.exists():
            row = self.to_df().agg(F.max(self.id_col)).first()
            start = (row[0] or 0) if row else 0
        # SERIAL never reuses: a tombstoned (deleted, not yet vacuumed)
        # max id would otherwise be recycled and the new live row masked
        # out of indexed search
        dead = self._tombstones()
        if dead:
            start = max(start, max(dead))
        w = Window.orderBy(F.xxhash64("text", self.vec_col))
        return df.withColumn(
            self.id_col, (F.row_number().over(w) + F.lit(start)).cast("long")
        )

    def insert(self, df: DataFrame, batch_rows: int | None = None) -> None:
        """pg_insert analogue: required-column + VECTOR(n) validation,
        SERIAL ids, append; keeps an existing index fresh (frozen
        centroids, pgvector insert semantics)."""
        self._table.validate(df)  # before id assignment references columns
        df = self._with_ids(df)
        self._table.insert(df, batch_rows=batch_rows)
        if self.has_index():
            self._index().append(df)
            self._unmask_written_ids(df)

    def copy_from(self, data: DataFrame | str) -> int:
        """pg_copy analogue: staged bulk load + atomic promote. Rows must
        already carry ids (COPY, like the binary path, ships full rows)."""
        df = data if isinstance(data, DataFrame) else self.spark.read.parquet(data)
        if self.id_col not in df.columns:
            raise ValueError(
                f"copy_from requires the {self.id_col!r} column; "
                "use insert() for SERIAL id assignment"
            )
        n = self._table.copy_from(df)
        if self.has_index():
            self._index().append(df)
            self._unmask_written_ids(df)
        return n

    # -- index ---------------------------------------------------------------

    def create_index(self, lists: int = 100, metric: str | None = None) -> IVFIndex:
        """CREATE INDEX ... USING ivfflat WITH (lists=...) analogue."""
        return IVFIndex.build(
            self.to_df(),
            self.index_path,
            lists=lists,
            vec_col=self.vec_col,
            id_col=self.id_col,
            metric=metric or self.metric,
        )

    def drop_index(self) -> None:
        # the manifest goes first: a half-removed directory is no index
        with contextlib.suppress(FileNotFoundError):
            os.remove(self._index().manifest_path)
        shutil.rmtree(self.index_path, ignore_errors=True)

    # -- deletes (DELETE FROM t WHERE id IN (...)) ---------------------------

    @property
    def _tombstone_path(self) -> str:
        return os.path.join(self.path, "tombstones.json")

    def _tombstones(self) -> list[int]:
        """Ids deleted since the last vacuum. Read on every call, so a
        delete through any handle or process masks the next search."""
        try:
            return read_json(self._tombstone_path)
        except FileNotFoundError:
            return []

    def _commit_tombstones(self, change) -> None:
        """Replace the tombstone set with ``change(current set)``, as one
        read-modify-write under the commit lock."""
        with file_lock(self._tombstone_path + ".lock"):
            ids = change(set(self._tombstones()))
            commit_json(self._tombstone_path, sorted(ids))

    def _unmask_written_ids(self, df: DataFrame) -> None:
        """A write that carries a tombstoned id revives it — drop those
        ids from the mask so the new live rows stay visible to indexed
        search. Cheap: intersects the (bounded) tombstone list with the
        batch's ids via one filtered collect."""
        dead = set(self._tombstones())
        if not dead:
            return
        revived = [
            r[self.id_col]
            for r in df.select(self.id_col)
            .filter(F.col(self.id_col).isin(list(dead)))
            .distinct()
            .collect()
        ]
        if revived:
            self._commit_tombstones(lambda d: d - set(revived))

    def delete(self, ids: list[int]) -> int:
        """DELETE analogue: the base table is rewritten immediately
        (copy-on-write anti join + atomic swap), so scans and exact
        search stop returning the rows at once. The IVF index keeps its
        dead entries until :meth:`vacuum` — searches mask them with a
        tombstone predicate, exactly Postgres' dead-tuple semantics
        (deleted rows stop matching at query time; the index physically
        shrinks at VACUUM). The tombstone set is a bounded predicate
        literal — run vacuum() before it grows past ~10k ids."""
        ids = [int(i) for i in ids]
        if not ids:
            return self.count()
        # tombstones before the row swap: a failure in between leaves
        # live rows masked, never deleted rows served by the index.
        # Unconditional: _with_ids uses the set as the SERIAL never-reuse
        # high-water mark, so an unindexed delete of the max id must
        # still be recorded or the id gets recycled
        self._commit_tombstones(lambda d: d | set(ids))
        keys = self.spark.createDataFrame(
            [(i,) for i in ids], [self.id_col]
        )
        return self._table.delete(keys, self.id_col)

    def upsert(self, df: DataFrame) -> int:
        """UPDATE/ON CONFLICT analogue: incoming rows replace same-id
        rows, new ids append (rows must carry ids, like copy_from). An
        existing index is REBUILT from the merged table: a replaced
        row's old index entry and its new one share the id, so the
        tombstone mask cannot distinguish them — rebuild is the correct
        (and at this layer, honest) cost; Postgres pays the equivalent
        via per-row index maintenance under MVCC. Returns the post-merge
        row count."""
        if self.id_col not in df.columns:
            raise ValueError(
                f"upsert requires the {self.id_col!r} column"
            )
        # no explicit validate: ParquetTable.upsert validates the frame
        if not self.has_index():
            return self._table.upsert(df, key=self.id_col)
        # the index goes before the swap: a failure in between leaves no
        # index (exact search), never one serving the replaced rows
        v = self._index()._load()
        self.drop_index()
        n = self._table.upsert(df, key=self.id_col)
        self._reindex(v)
        return n

    def vacuum(self) -> None:
        """VACUUM analogue: rebuild the index from live rows only and
        clear the tombstone set. Shrinks ``lists`` to the live row
        count when deletes left fewer rows than centroids; an emptied
        table just drops its index (nothing to cluster). Without an
        index it only clears the tombstones."""
        v = self._index()._load() if self.has_index() else None
        self.drop_index()
        self._reindex(v)

    def _reindex(self, v) -> None:
        """Build the index like version ``v`` of the dropped one (same
        metric, at most as many lists) over the live rows, then clear
        the tombstones. With ``v`` None, only clear them."""
        live = self.count() if v else 0
        if live:
            self.create_index(lists=min(live, len(v.centers)), metric=v.metric)
        self._commit_tombstones(lambda d: set())

    # -- reads ---------------------------------------------------------------

    def search(
        self, query_vec: list[float], k: int = 5, probes: int | None = None
    ) -> DataFrame:
        """``ORDER BY embedding <op> q LIMIT k``. Exact scan when
        ``probes`` is None or there is no index (pre-CREATE INDEX
        behavior); partition-pruned ANN + exact re-rank otherwise."""
        if probes is None or not self.has_index():
            return knn(
                self.to_df(), query_vec, k,
                vec_col=self.vec_col, id_col=self.id_col, distance=self.metric,
            )
        idx = self._index()
        dead = self._tombstones()
        if dead:
            # mask dead index entries; the iterative scan widens probes
            # if masking leaves fewer than k qualifying rows
            return idx.search_filtered(
                query_vec,
                k,
                filter_expr=~F.col(self.id_col).isin(dead),
                nprobe=probes,
            )
        return idx.search(query_vec, k, nprobe=probes)
