"""The benchmark workloads.

Each workload function takes a :class:`Run`, sets up its inputs
``SETUP_REPEATS`` times (reporting the median), runs its timed loop for
``run.seconds`` and checks every output outside the timed spans. It
fills ``run.e2e`` with the end-to-end metrics and ``run.report`` with
the workload's own named figures.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import inputs
from inputs import DIM

SETUP_REPEATS = 3
K = 10

# Sizes per workload; BENCHMARK.json's "why" lines quote them.
READ = dict(rows=10_000, lists=16, probes=4, labels=200, filtered_probes=2, warm_ops=10)
# The search_read client walks this 30-step cycle:
# 27 IVF top-10, 2 filtered ANN, 1 exact. A fixed cycle keeps the number
# of slow queries in a short window the same from run to run.
READ_CYCLE = ["filtered" if j in (0, 15) else "exact" if j == 8 else "ivf" for j in range(30)]
PIPELINE = dict(docs=1_500, lists=16, probes=2, queries=200, dup_share=0.05,
                date="2024-01-01")
SQL = dict(orders=15_000)
HEADLINE = [
    "vs_knn_topk",
    "vs_query_by_example",
    "vs_knn_per_label",
    "rel_pricing_summary",
    "rel_revenue_by_nation",
    "rel_window_top2_lineitems",
    "rel_events_window_5min",
    "ds_exact_dedup",
    "ds_embed_fake",
]


class Run:
    """State of one benchmark run: timed operations, check outcomes and
    the metrics they yield."""

    def __init__(self, spark, tracer, seed: int, seconds: float, work: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.lat: dict[str, list[tuple[float, bool]]] = defaultdict(list)
        self.roots = []  # traced root spans of timed operations
        self.setup_s: list[float] = []
        self.e2e: dict[str, float] = {}
        self.report: dict[str, tuple[float, str]] = {}
        self.extra: dict[str, list[float]] = defaultdict(list)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def op(self, kind: str, fn, traced: bool = True):
        """Run one timed operation; returns ``fn()``, or None if it raised."""
        traced = traced and self.tracer.enabled
        self.attempted += 1
        with self.tracer.paused(not traced):
            t0 = time.perf_counter()
            try:
                with self.tracer.span(f"op.{kind}") as root:
                    out = fn()
            except Exception:
                traceback.print_exc()
                self.failed += 1
                return None
            dt = time.perf_counter() - t0
        self.lat[kind].append((dt, traced))
        if root is not None:
            self.roots.append(root)
        return out

    def check(self, err: str | None) -> None:
        """Count one output check; a failed check is a failed operation."""
        self.attempted += 1
        if err:
            self.failed += 1
            print(f"check failed: {err}", file=sys.stderr)

    def setup(self, fn):
        """Run ``fn(i)`` SETUP_REPEATS times, timing each; returns the last
        result (earlier ones are discarded by ``fn`` itself)."""
        out = None
        for i in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            out = fn(i)
            self.setup_s.append(time.perf_counter() - t0)
        return out

    def times(self, kind: str, traced: bool | None = None) -> list[float]:
        """Latencies of ``kind`` in seconds: all, or only the traced or
        untraced ones."""
        return [t for t, tr in self.lat[kind] if traced is None or tr == traced]


# -- helpers --------------------------------------------------------------------


def tail(values: list[float], pct: float = 95.0) -> tuple[float, float]:
    """Value at ``pct``, lowered until at least ten samples lie beyond it.
    Returns (value, percentile used)."""
    xs = sorted(values)
    i = max(0, min(int(pct / 100.0 * len(xs)), len(xs) - 11))
    return xs[i], 100.0 * i / len(xs)


def p10(values: list[float]) -> float:
    """10th percentile, linearly interpolated between samples. Host noise
    on a shared machine only ever adds time, so a low percentile moves
    with the program and much less with the neighbours than the median
    does."""
    return float(np.percentile(values, 10)) if values else 0.0


def parquet_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) of the Parquet files under ``path``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


def footer_rows(paths) -> int:
    return sum(pq.ParquetFile(p.removeprefix("file:")).metadata.num_rows for p in paths)


def result_ids(rows, id_col: str = "id") -> tuple[list[int], list[float]]:
    return [r[id_col] for r in rows], [r["distance"] for r in rows]


def embed(run: Run, df, n: int):
    """``embed_text`` through the real mapInPandas path, materialized."""
    from pgvector_db_spark.functions.embedding import embed_text

    with run.tracer.span("embedding.embed_text") as sp:
        out = embed_text(
            df, model="hash-projection", dim=DIM,
            model_factory=inputs.HashProjectionEncoder,
        ).persist()
        out.count()
        if sp is not None:
            sp.work = n
    return out


def _query(vt, q: np.ndarray, probes, tracer, name: str):
    """One top-K search through ``VectorTable.search``: the planning call
    and the collect are separate spans."""
    with tracer.span(f"{name}.plan"):
        df = vt.search([float(x) for x in q], K, probes=probes)
    with tracer.span(f"{name}.exec"):
        rows = df.collect()
    return df, rows


# -- search_read ------------------------------------------------------------------


def search_read(run: Run) -> None:
    from pyspark.sql import functions as F

    from pgvector_db_spark.operators.ivf import IVFIndex
    from pgvector_db_spark.vector_table import VectorTable

    cfg = READ

    def setup(i):
        shutil.rmtree(run.path(f"read{i - 1}"), ignore_errors=True)
        rng = np.random.default_rng(run.seed)
        n = cfg["rows"]
        vecs = inputs.clustered_vectors(rng, n, cfg["lists"])
        labels = rng.integers(0, cfg["labels"], n)
        ids = np.arange(1, n + 1)
        src = run.path(f"read{i}/input.parquet")
        os.makedirs(os.path.dirname(src))
        pq.write_table(inputs.vector_table_arrow(ids, vecs, labels), src)
        vt = VectorTable.create(run.spark, run.path(f"read{i}/table"), dim=DIM)
        with run.tracer.span("vector_table.copy_from") as sp:
            vt.copy_from(src)
            if sp is not None:
                sp.work = n
        with run.tracer.span("ivf.build"):
            vt.create_index(lists=cfg["lists"])
        pool = (vecs[rng.integers(0, n, 512)] + 0.3 * rng.normal(size=(512, DIM))).astype(np.float32)
        return vt, ids, vecs, labels, pool

    vt, ids, vecs, labels, pool = run.setup(setup)
    run.extra["table_rows"] = [len(ids)]
    idx = IVFIndex(run.spark, vt.index_path, "embedding", "id")

    def do(kind, q, label):
        if kind == "ivf":
            return _query(vt, q, cfg["probes"], run.tracer, "ivf.search")
        if kind == "exact":
            return _query(vt, q, None, run.tracer, "knn.exact")
        with run.tracer.span("ivf.search_filtered.plan"):
            df = idx.search_filtered(
                [float(x) for x in q], K, filter_expr=F.col("label") == int(label),
                nprobe=cfg["filtered_probes"],
            )
        with run.tracer.span("ivf.search_filtered.exec"):
            rows = df.collect()
        return df, rows

    rng = np.random.default_rng([run.seed, 1])
    for i in range(cfg["warm_ops"]):  # untimed
        do(READ_CYCLE[i], pool[int(rng.integers(0, len(pool)))], int(rng.integers(0, cfg["labels"])))

    # One client in a closed loop for the whole window: each query is sent
    # when the previous one returns.
    records = []
    start = done_at = time.perf_counter()
    deadline = start + run.seconds
    i = 0
    while time.perf_counter() < deadline:
        kind = READ_CYCLE[i % len(READ_CYCLE)]
        qi = int(rng.integers(0, len(pool)))
        label = int(rng.integers(0, cfg["labels"]))
        traced = i % 2 == 0
        i += 1
        out = run.op(kind, lambda: do(kind, pool[qi], label), traced)
        if out is None:
            continue
        done_at = time.perf_counter()
        df, rows = out
        if kind == "ivf" and traced and run.tracer.enabled:
            files = df.inputFiles()
            run.extra["files_per_query"].append(len(files))
            run.extra["rows_examined_per_result"].append(footer_rows(files) / K)
        records.append((kind, qi, label, *result_ids(rows)))

    # checks, against float64 brute force over the generated vectors
    hits = []
    for kind, qi, label, got, dist in records:
        row = checks.cosine_distances(vecs, pool[qi][None, :])[0]
        if kind == "exact":
            want_ids, want_d = checks.exact_topk(row, ids, K)
            run.check(checks.check_exact(got, dist, want_ids, want_d))
            continue

        def dist_of(i, row=row):
            return float(row[i - 1]) if 1 <= i <= len(ids) else None

        run.check(checks.check_ann(got, dist, K, dist_of))
        if kind == "filtered":
            run.check(None if all(labels[i - 1] == label for i in got) else "filtered: label predicate violated")
        else:
            hits.append(checks.recall(got, checks.exact_topk(row, ids, K)[0]))

    ivf = run.times("ivf")
    qps = len(records) / (done_at - start)
    run.e2e["latency_p10_ms"] = p10(ivf) * 1e3
    run.report["search_p10_ms"] = (run.e2e["latency_p10_ms"], "ms")
    run.report["search_p50_ms"] = (statistics.median(ivf) * 1e3, "ms")
    p_tail, used = tail(ivf)
    run.report[f"search_tail_ms (p{used:.1f} of n={len(ivf)})"] = (p_tail * 1e3, "ms")
    run.report["search_qps"] = (qps, "1/s")
    for kind in ("filtered", "exact"):
        t = run.times(kind)
        run.report[f"{kind}_p50_ms (n={len(t)})"] = (statistics.median(t) * 1e3 if t else 0.0, "ms")
    run.report["recall_at_10"] = (float(np.mean(hits)) if hits else 0.0, "ratio")
    _layout_stats(run, vt)


def _layout_stats(run: Run, vt) -> None:
    files, size = parquet_stats(os.path.join(vt.index_path, "data"))
    run.extra["ivf.layout.files"] = [files]
    run.extra["ivf.layout.bytes"] = [size]


def _storage_ratio(run: Run, vt, rows: int) -> None:
    _, table_bytes = parquet_stats(vt.path)  # rows and index layout
    run.report["storage_ratio"] = (table_bytes / (rows * DIM * 4), "ratio")


# -- batch_pipeline -----------------------------------------------------------------


def batch_pipeline(run: Run) -> None:
    from pyspark.sql import functions as F

    from pgvector_db_spark.operators.dedup import minhash_lsh_pairs
    from pgvector_db_spark.sources.export import save_partitioned
    from pgvector_db_spark.vector_table import VectorTable

    cfg = PIPELINE
    n = cfg["docs"]

    def setup(i):
        rng = np.random.default_rng(run.seed)
        texts, planted = inputs.corpus_with_near_dups(rng, n, cfg["dup_share"])
        src = run.path(f"corpus{i}.parquet")
        pq.write_table(
            pa.table({"id": pa.array(np.arange(1, n + 1)), "text": pa.array(texts)}), src
        )
        sample = sorted(int(x) for x in rng.choice(np.arange(1, n + 1), cfg["queries"], replace=False))
        return src, planted, sample

    src, planted, sample = run.setup(setup)
    state = {}

    def one_pass(p: int):
        out = run.path(f"pass{p}")
        corpus = run.spark.read.parquet(src)
        emb = embed(run, corpus, n)
        try:
            vt = VectorTable.create(run.spark, f"{out}/table", dim=DIM)
            with run.tracer.span("vector_table.copy_from") as sp:
                vt.copy_from(emb)
                if sp is not None:
                    sp.work = n
        finally:
            emb.unpersist()
        with run.tracer.span("ivf.build"):
            idx = vt.create_index(lists=cfg["lists"])
        queries = (
            vt.to_df()
            .filter(F.col("id").isin(sample))
            .select(F.col("id").alias("query_id"), F.col("embedding").alias("query_vec"))
        )
        with run.tracer.span("ivf.batch_search"):
            t0 = time.perf_counter()
            hits = idx.batch_search(queries, K, nprobe=cfg["probes"], mode="distributed").collect()
            run.extra["batch_search_s"].append(time.perf_counter() - t0)
        with run.tracer.span("dedup.minhash_lsh_pairs") as sp:
            pairs = minhash_lsh_pairs(corpus, text_col="text", id_col="id").collect()
            if sp is not None:
                sp.work = n
        with run.tracer.span("export.save_partitioned"):
            save_partitioned(vt.to_df(), f"{out}/export", date=cfg["date"])
        state.update(vt=vt, hits=hits, pairs=pairs, out=out)
        return True

    deadline = time.perf_counter() + run.seconds
    p = 0
    while time.perf_counter() < deadline or p == 0:
        traced = p % 2 == 0
        ok = run.op("pass", lambda: one_pass(p), traced) is not None
        p += 1
        if not ok:
            continue
        # checks: every query finds itself first, export holds every row
        by_q = defaultdict(list)
        for r in state["hits"]:
            by_q[r["query_id"]].append((r["knn_rank"], r["id"], r["distance"]))
        for q in sample:
            got = sorted(by_q.get(q, []))
            ok_self = (
                len(got) == K
                and got[0][2] <= checks.TOL
                and any(i == q and d <= checks.TOL for _, i, d in got)
            )
            run.check(None if ok_self else f"pipeline: query {q} is not its own nearest neighbour")
        files = [
            os.path.join(d, f) for d, _, fs in os.walk(f"{state['out']}/export")
            for f in fs if f.endswith(".parquet")
        ]
        rows = footer_rows(files)
        run.check(None if rows == n else f"pipeline: export holds {rows} rows, want {n}")
        run.check(
            None if all(0 < a < b <= n for a, b, _ in state["pairs"]) else "pipeline: bad dedup pair ids"
        )
        found = {(a, b) for a, b, _ in state["pairs"]}
        run.extra["planted_pairs_found_ratio"].append(
            sum(pair in found for pair in planted) / len(planted)
        )
        run.extra["export.bytes_per_row"].append(parquet_stats(f"{state['out']}/export")[1] / n)
        _layout_stats(run, state["vt"])
        _storage_ratio(run, state["vt"], n)
        shutil.rmtree(state["out"], ignore_errors=True)
    passes = run.times("pass")
    run.e2e["latency_p10_ms"] = p10(passes) * 1e3
    run.report[f"pipeline_rows_per_s (passes={len(passes)})"] = (n * len(passes) / sum(passes), "rows/s")
    batch = run.extra["batch_search_s"]
    run.report["batch_ann_qps"] = (cfg["queries"] / statistics.median(batch), "1/s")


# -- sql_analytics ------------------------------------------------------------------


def sql_analytics(run: Run) -> None:
    import duckdb

    from pgvector_db_spark.catalog import TABLES, load_tables, table_path
    from pgvector_db_spark.queries import REGISTRY

    difftest = _difftest()

    def setup(i):
        shutil.rmtree(run.path(f"sf{i - 1}"), ignore_errors=True)
        sf_dir = run.path(f"sf{i}")
        inputs.write_star_schema(np.random.default_rng(run.seed), sf_dir, SQL["orders"])
        with run.tracer.span("catalog.load_tables"):
            load_tables(run.spark, sf_dir)
        return sf_dir

    sf_dir = run.setup(setup)

    def run_query(name: str):
        with run.tracer.span(f"queries.{name}"):
            df = REGISTRY[name].spark_fn(run.spark, sf_dir)
            rows = df.collect()
        return df, rows

    for _ in range(2):  # warm passes
        for name in HEADLINE:
            run_query(name)
    rng = np.random.default_rng(run.seed)
    outputs = []
    deadline = time.perf_counter() + run.seconds
    p = 0
    while time.perf_counter() < deadline or p == 0:
        order = [HEADLINE[j] for j in rng.permutation(len(HEADLINE))]
        traced = p % 2 == 0
        p += 1

        def one_pass():
            return [(name, *run_query(name)) for name in order]

        got = run.op("pass", one_pass, traced)
        if got is not None:
            outputs.extend(got)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'")
    oracle = {}
    for name in HEADLINE:
        res = con.execute(REGISTRY[name].oracle).fetch_arrow_table()
        cols = res.schema.names
        oracle[name] = (res.schema, cols, difftest.rows_to_multiset(
            cols, [tuple(d[c] for c in cols) for d in res.to_pylist()]))
    con.close()
    for name, df, rows in outputs:
        schema, cols, want = oracle[name]
        err = None
        if sorted(df.columns) != sorted(cols):
            err = f"{name}: columns differ from the oracle"
        elif difftest.type_mismatches(df.schema, schema):
            err = f"{name}: result types differ from the oracle"
        elif difftest.rows_to_multiset(df.columns, [tuple(r) for r in rows]) != want:
            err = f"{name}: values differ from the oracle"
        run.check(err)

    passes = run.times("pass")
    run.e2e["latency_p10_ms"] = p10(passes) * 1e3
    run.report[f"sql_suite_s (median of {len(passes)} passes)"] = (statistics.median(passes), "s")
    run.report["sql_queries_per_s"] = (len(HEADLINE) * len(passes) / sum(passes), "1/s")


def _difftest():
    """tools/difftest.py, whose comparison rules the oracle check reuses."""
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "difftest", os.path.join(root, "tools", "difftest.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


WORKLOADS = {
    "search_read": search_read,
    "batch_pipeline": batch_pipeline,
    "sql_analytics": sql_analytics,
}
