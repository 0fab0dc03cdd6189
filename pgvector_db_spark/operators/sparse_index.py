"""Inverted-index sparse-vector search — the SPLADE/sparsevec serving
layout (r10 VERDICT item #5; lifecycle completed r12 per r11 VERDICT
item #1).

The scan path (queries.py ``vs_sparse_*_topk``) scores EVERY row's
sparse dot against the query: O(corpus) work per query, the one
remaining full-corpus ANN scan in the registry. But a sparse dot is
nonzero only where the two index sets OVERLAP — so the candidate set of
any query is exactly the union of the posting lists of its nonzero
indices, the same observation behind every sparse-retrieval engine
(SPLADE serving, Lucene WAND, pgvector sparsevec users pairing the type
with GIN-style inverted structures). This module persists that layout
as immutable segments under an atomically-committed manifest — the
same Lucene recipe the BM25 index uses (operators/text_search.py):

    <path>/META.json           {num_buckets, eps, id_col, carry_cols,
                                n_rows, segments: [...],
                                batch_tags: [...]} — committed by
                               atomic rename; readers always see a
                               CONSISTENT segment set
    <path>/seg_<id>/vectors/   (id, carry..., si array<int>,
                                sv array<double>) — the eps-pruned
                               rows, the rerank side (read via
                               candidate semi-join only)
    <path>/seg_<id>/postings/bucket=N/
                               (term int, vec_id) — one row per
                               nonzero entry, partitioned by
                               bucket = term % num_buckets

Terms are the 1-based vector positions (integers), so bucketing is
``term % num_buckets`` — the driver computes a query's probe-bucket set
with modular arithmetic, no hash parity concerns, and the postings scan
prunes to |{i % B : i in qi}| partitions (PartitionFilters at every
segment scan — bucket/term filters push through the Union).

A row lives in exactly ONE segment, so the union of segment frames IS
the corpus: candidate generation unions the pruned per-segment postings
probes and the rerank semi-joins the per-segment vectors — no additive
statistics to reconcile (unlike BM25's df/n_docs), which is why
index == scan stays bitwise across any append/compact history.

``append`` writes a whole NEW segment and then commits the manifest
under the shared commit lock: a crash at ANY point leaves the old
manifest → old consistent index (an orphaned segment dir is garbage,
never read). ``batch_tag`` makes appends idempotent — a Structured
Streaming retry of an already-committed micro-batch is a no-op, which
is what makes ``stream_sparse_index_ingest`` exactly-once. ``compact``
merges all segments back into one (a long-running ingest pays a scan
per segment per query) without changing a single score, keeping the
replaced segments' batch_tags so replays remain no-ops; it is safe
against concurrent appends (survivor-preserving swap) and concurrent
compactions (snapshot-conflict retry), and the segments it replaces
are retained as manifest tombstones until an explicit ``vacuum`` —
copy-on-write, so in-flight readers keep serving. ``health_report``
is the measure-only merge-policy gate that decides WHEN to compact.

Search = candidate generation + exact rerank, NEVER scoring-by-postings:
the determinism contract (functions/sparse.py) pins every distance to a
SEQUENTIAL float64 fold over the row's entries in index order, and a
groupBy-SUM of per-term partial products would be partition-order float
addition. Candidates (distinct vec_ids sharing >= 1 retained index with
the query) semi-join into the segment vectors, and the candidate rows
are scored with the IDENTICAL fold expression the scan path uses — so
index and scan results are bitwise equal whenever the top-k is
reachable (see below), which the registry canary asserts in-query.

Losslessness contract (cosine): a row OUTSIDE the candidate set has
zero overlap, hence dot = 0 and distance exactly 1.0 — the index path
returns the true top-k iff at least k candidates score < 1.0. For ip
the analogue is k candidates with dot > 0. A pathological query whose
overlap support is thinner than k would surface as a canary failure
(loud), never a silently-wrong row.

At 100 TB: per-query cost is |postings of the query's nnz terms| for
candidates plus |candidates| fold evaluations — corpus size enters only
through posting-list lengths, exactly like the BM25 index whose layout
discipline this reuses. The build is one corpus pass (explode +
partitioned write); an append is one BATCH pass; compaction is a pure
re-layout (postings/vectors unions rewritten, no recompute). No Python
UDF anywhere; the query literal broadcasts into the scan.
"""

from __future__ import annotations

import os
import shutil
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgvector_db_spark.functions.sparse import (
    sparse_cosine_distance,
    sparse_dot,
    sparse_indices,
    sparse_values,
)
from pgvector_db_spark.functions.vector import vector_literal_sql
from pgvector_db_spark.sources.commitlog import (
    commit_json,
    file_lock,
    read_json,
)


class SparseIndex:
    """Segmented inverted index over sparse-vector nonzero positions."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")

    # -- manifest ---------------------------------------------------------------

    def _meta_path(self) -> str:
        return os.path.join(self.path, "META.json")

    def meta(self) -> dict:
        return read_json(self._meta_path())

    def _commit_meta(self, meta: dict) -> None:
        commit_json(self._meta_path(), meta)

    def _lock_path(self) -> str:
        return self._meta_path() + ".lock"

    def segment_count(self) -> int:
        """Number of committed segments (the per-search scan multiplier
        that ``compact()`` collapses back to 1)."""
        return len(self.meta()["segments"])

    # -- segment writer (shared by build, append and compact) -------------------

    @staticmethod
    def _write_segment(
        se: DataFrame,
        seg_path: str,
        num_buckets: int,
        id_col: str,
    ) -> int:
        """Persist one segment from an already-sparse frame
        ``(id, carry..., si, sv)``: vectors first, then postings derived
        from the WRITTEN vectors (so the candidate side can never drift
        from the rerank side). Returns the segment row count."""
        spark = se.sparkSession
        se.write.mode("overwrite").parquet(os.path.join(seg_path, "vectors"))
        vectors = spark.read.parquet(os.path.join(seg_path, "vectors"))
        postings = vectors.select(
            F.col(id_col), F.explode("si").alias("term")
        ).withColumn(
            "bucket", F.pmod(F.col("term"), F.lit(num_buckets))
        )
        postings.repartition("bucket").write.mode("overwrite").partitionBy(
            "bucket"
        ).parquet(os.path.join(seg_path, "postings"))
        return vectors.count()

    @staticmethod
    def _sparsify(
        df: DataFrame,
        vec_col: str,
        id_col: str,
        eps: float,
        carry_cols: tuple[str, ...],
    ) -> DataFrame:
        return df.select(
            F.col(id_col),
            *[F.col(c) for c in carry_cols],
            sparse_indices(F.col(vec_col), eps).alias("si"),
            sparse_values(F.col(vec_col), eps).alias("sv"),
        )

    # -- build ----------------------------------------------------------------

    @classmethod
    def build(
        cls,
        df: DataFrame,
        path: str,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        eps: float = 0.1,
        num_buckets: int = 16,
        carry_cols: tuple[str, ...] = (),
    ) -> "SparseIndex":
        """One corpus pass: eps-prune to sparse form, persist segment
        seg_000 (vectors = rerank side, exploded postings = candidate
        side, partitioned by ``term % num_buckets``), commit the
        manifest. ``carry_cols`` ride along in vectors/ so search
        results need no join back to the source table."""
        os.makedirs(path, exist_ok=True)
        se = cls._sparsify(df, vec_col, id_col, eps, carry_cols)
        seg = "seg_000"
        n = cls._write_segment(
            se, os.path.join(path, seg), num_buckets, id_col
        )
        idx = cls(df.sparkSession, path)
        idx._commit_meta(
            {
                "num_buckets": int(num_buckets),
                "eps": float(eps),
                "id_col": id_col,
                "carry_cols": list(carry_cols),
                "n_rows": n,
                "segments": [seg],
                "batch_tags": [],
            }
        )
        return idx

    # -- maintenance ------------------------------------------------------------

    def append(
        self,
        df: DataFrame,
        vec_col: str = "embedding",
        batch_tag: str | None = None,
    ) -> None:
        """Incremental insert (maintenance parity of BM25Index.append /
        IVFIndex.append): the batch becomes a NEW immutable segment
        sparsified under the index's pinned eps and bucketed under the
        SAME ``term % num_buckets``, committed by the atomic manifest
        rename — existing segments are never touched, a crash never
        tears the index, and a replayed ``batch_tag`` is a no-op
        (exactly-once under streaming retry)."""
        m = self.meta()
        if batch_tag is not None and batch_tag in m["batch_tags"]:
            return
        se = self._sparsify(
            df, vec_col, m["id_col"], m["eps"], tuple(m["carry_cols"])
        )
        seg = f"seg_{uuid.uuid4().hex[:12]}"
        n = self._write_segment(
            se, os.path.join(self.path, seg), m["num_buckets"], m["id_col"]
        )
        # commit under the lock: the segment write above is
        # side-effect-free until its manifest entry lands, so only this
        # re-read → commit window needs serializing
        with file_lock(self._lock_path()):
            m2 = self.meta()
            if batch_tag is not None and batch_tag in m2["batch_tags"]:
                # a racing replay committed this batch first — our
                # segment is an unreachable orphan; reclaim its space
                shutil.rmtree(
                    os.path.join(self.path, seg), ignore_errors=True
                )
                return
            m2["segments"].append(seg)
            m2["n_rows"] = int(m2["n_rows"]) + n
            if batch_tag is not None:
                m2["batch_tags"].append(batch_tag)
            self._commit_meta(m2)

    def compact(self, max_retries: int = 3) -> None:
        """Merge every committed segment into one (the Lucene merge
        policy a continuously ingesting serving tier needs — each
        search pays a postings probe + semi-join per segment). Rows are
        disjoint across segments, so the merge is a pure re-layout: the
        vectors union is rewritten as one segment and its postings
        re-derived from the rewritten files — not a single score can
        change, which the streaming entry asserts bitwise. Committed by
        the same atomic rename; a crash leaves the old multi-segment
        (consistent) view, and the replaced segments' batch_tags stay
        in the manifest so replays remain no-ops.

        Concurrency (r12 VERDICT item #1 — the SnapshotTable.compact
        ``expect_parent`` discipline): the merge is built from a
        SNAPSHOT of the segment list, so a segment committed by a
        concurrent ``append`` inside the merge window must not be
        dropped by the manifest swap. Under the commit lock the swap
        replaces ONLY the snapshotted segments, keeping concurrently
        appended ones (their rows are disjoint from the merge by
        construction, and the merge carries exactly the snapshot's
        rows, so ``n_rows`` is untouched). A concurrent COMPACT that
        already replaced a snapshotted segment makes this merge a
        duplicate of rows now served elsewhere — that conflict is
        detected under the lock and the whole pass retries from a
        fresh snapshot (our uncommitted segment is reclaimed), up to
        ``max_retries`` races in a row.

        Retention (r12 VERDICT item #2): replaced segments are NOT
        deleted at the swap — a reader holding the pre-compact manifest
        (a lazy search plan, or a ``meta()`` read straddling the
        commit) must still resolve their files. They move to the
        manifest's ``replaced`` list (unreachable from any new read)
        and are reclaimed by an explicit :meth:`vacuum`, mirroring the
        snapshot table's copy-on-write + vacuum contract
        (sources/snapshots.py). Pre-r13 manifests lack the key and
        read fine (``meta.get("replaced", [])``)."""
        for _ in range(max_retries):
            m = self.meta()
            snap = list(m["segments"])
            if len(snap) <= 1:
                return
            merged = reduce(
                DataFrame.unionByName,
                [
                    self.spark.read.parquet(
                        os.path.join(self.path, s, "vectors")
                    )
                    for s in snap
                ],
            )
            seg = f"seg_{uuid.uuid4().hex[:12]}"
            self._write_segment(
                merged,
                os.path.join(self.path, seg),
                m["num_buckets"],
                m["id_col"],
            )
            with file_lock(self._lock_path()):
                m2 = self.meta()
                cur = set(m2["segments"])
                if set(snap) <= cur:
                    # every merged segment is still live: swap them for
                    # the merge, keep concurrent appends' segments.
                    # n_rows is untouched — the merge re-lays-out
                    # exactly the snapshot's rows, and survivors'
                    # counts already live in the manifest total.
                    survivors = [s for s in m2["segments"] if s not in set(snap)]
                    m2["segments"] = [seg] + survivors
                    m2["replaced"] = list(m2.get("replaced", [])) + snap
                    self._commit_meta(m2)
                    return
            # a concurrent compact retired part of our snapshot:
            # committing would duplicate its rows. Our segment never
            # reached the manifest — reclaim it and retry fresh.
            shutil.rmtree(os.path.join(self.path, seg), ignore_errors=True)
        raise RuntimeError(
            f"sparse index compact at {self.path} lost {max_retries} "
            "consecutive races against concurrent compactions; re-run"
        )

    def vacuum(self) -> int:
        """Reclaim segments retired by :meth:`compact`. The manifest's
        ``replaced`` list is cleared FIRST (atomic commit), then the
        directories are deleted — a crash in between leaves orphan dirs
        (never-read garbage, same class as a crashed append's segment),
        never a manifest pointing at missing files. Readers that
        resolved a pre-compact manifest before this call fail on the
        deleted paths — the same documented stale-lazy-plan hazard as
        the snapshot table's vacuum; run vacuum outside serving reads'
        grace window. Returns the number of segment dirs removed."""
        with file_lock(self._lock_path()):
            m = self.meta()
            dead = list(m.get("replaced", []))
            if not dead:
                return 0
            m["replaced"] = []
            self._commit_meta(m)
        removed = 0
        for s in dead:
            p = os.path.join(self.path, s)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
                removed += 1
        return removed

    def health_report(
        self, q_indices: list[int], max_segments: int = 2
    ) -> dict:
        """Measure-only merge-policy gate (r12 VERDICT item #7 — the
        sparse twin of ``ivf_health_report``): the signals that decide
        WHEN to run the expensive :meth:`compact`, cheap enough for a
        timer. Returns a dict:

        - ``n_segments`` / ``n_rows`` — manifest state;
        - ``total_postings`` — inverted-list entries across segments
          (one count over the postings union — at 100 TB this is the
          only full pass here and it is metadata-light columnar count);
        - ``probe_files`` — parquet files a probe for ``q_indices``
          must OPEN (per segment, per probed bucket — the physical
          per-query fixed cost that grows linearly with segment count
          and that compaction collapses back to one file per bucket);
        - ``n_candidates`` — candidate rows for the probe (the rerank
          cost, segment-layout-invariant: compaction must not move it);
        - ``compact_recommended`` — 1 when ``n_segments`` exceeds
          ``max_segments``.

        Writes nothing; reads the manifest, one postings count, one
        candidates count, and the probed dirs' file listings."""
        meta = self.meta()
        b = int(meta["num_buckets"])
        buckets = sorted({int(i) % b for i in q_indices})
        probe_files = 0
        for seg in meta["segments"]:
            for bk in buckets:
                d = os.path.join(
                    self.path, seg, "postings", f"bucket={bk}"
                )
                if os.path.isdir(d):
                    probe_files += sum(
                        1
                        for f in os.listdir(d)
                        if f.endswith(".parquet")
                    )
        return {
            "n_segments": len(meta["segments"]),
            "n_rows": int(meta["n_rows"]),
            "total_postings": int(self.postings().count()),
            "probe_files": int(probe_files),
            "n_candidates": int(self.candidates(q_indices).count()),
            "compact_recommended": int(
                len(meta["segments"]) > max_segments
            ),
        }

    # -- read sides -----------------------------------------------------------

    def _segment_union(self, sub: str, segs: list[str]) -> DataFrame:
        return reduce(
            DataFrame.unionByName,
            [
                self.spark.read.parquet(os.path.join(self.path, s, sub))
                for s in segs
            ],
        )

    def vectors(self) -> DataFrame:
        return self._segment_union("vectors", self.meta()["segments"])

    def postings(self) -> DataFrame:
        return self._segment_union("postings", self.meta()["segments"])

    # -- search ---------------------------------------------------------------

    def candidates(self, q_indices: list[int]) -> DataFrame:
        """Distinct ids sharing >= 1 retained index with the query: the
        probe reads ONLY the buckets the query's terms land in
        (PartitionFilters at every segment scan — the filters push
        through the Union) and within them only matching terms
        (PushedFilters)."""
        meta = self.meta()
        b = int(meta["num_buckets"])
        probe = sorted({int(i) % b for i in q_indices})
        terms = [int(i) for i in q_indices]
        return (
            self._segment_union("postings", meta["segments"])
            .filter(F.col("bucket").isin(probe))
            .filter(F.col("term").isin(terms))
            .select(meta["id_col"])
            .distinct()
        )

    def search(
        self,
        q_indices: list[int],
        q_values: list[float],
        k: int = 10,
        metric: str = "cosine",
    ) -> DataFrame:
        """Exact top-k of the candidate set under the pinned fold —
        bitwise equal to the full scan whenever k candidates have
        nonzero overlap (the losslessness contract above). Returns
        ``(id, carry..., nnz, distance)``, ties broken by id."""
        if metric not in ("cosine", "ip"):
            raise ValueError(f"unsupported sparse index metric: {metric}")
        if len(q_indices) != len(q_values):
            raise ValueError("q_indices and q_values length mismatch")
        meta = self.meta()
        id_col = meta["id_col"]
        cand = self.candidates(q_indices)
        rows = self._segment_union("vectors", meta["segments"]).join(
            cand, id_col, "left_semi"
        )
        qi = F.expr(f"array({', '.join(str(int(i)) for i in q_indices)})")
        qv = F.expr(vector_literal_sql(q_values))
        scored = rows.withColumn("_qi", qi).withColumn("_qv", qv)
        if metric == "cosine":
            dist = sparse_cosine_distance("si", "sv", "_qi", "_qv")
        else:
            dist = F.lit(0.0) - sparse_dot("si", "sv", "_qi", "_qv")
        return (
            scored.select(
                F.col(id_col),
                *[F.col(c) for c in meta["carry_cols"]],
                F.size("si").cast("int").alias("nnz"),
                dist.alias("distance"),
            )
            .orderBy(F.col("distance").asc(), F.col(id_col).asc())
            .limit(k)
        )
