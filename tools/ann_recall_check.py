"""Measure the actual recall of every lossy ANN probe against its exact
twin at each scale factor — the numbers the `_ann_probe_audit` floors
(queries.py) must sit safely below.

Run this after ANY change to an index build (sample size, Lloyd seed or
iterations, the assignment kernel) or to the execution environment
(the shared ``_ivf_cache`` fixture's centers are an MLlib fit, which
varies with the session's partitioning), and lower floors if a
measured recall ever comes within 1 of its floor.

Usage: python tools/ann_recall_check.py
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pgvector_db_spark import get_spark  # noqa: E402

# probe entry -> (exact twin entry, current audit floor /10)
PAIRS = {
    "vs_ivf_knn": ("vs_ivf_knn_fullprobe", 4),
    "vs_ivf_knn_filtered": ("vs_ivf_knn_filtered_fullprobe", 1),
    "vs_lsh_ann_knn": ("vs_lsh_ann_fullprobe", 3),
    "vs_pq_adc_topk": ("vs_pq_rerank", 2),
    "vs_ivfpq_knn": ("vs_ivfpq_knn_fullprobe", 4),
}

# the audit entries return the scalar contract, not row sets — re-run
# the underlying probes directly via the registry functions' internals
PROBE_ROWSETS = {
    "vs_ivf_knn": lambda spark, sf: _ivf_rows(spark, sf, nprobe=2),
    "vs_ivf_knn_filtered": lambda spark, sf: _ivf_filtered_rows(spark, sf),
    "vs_lsh_ann_knn": lambda spark, sf: _lsh_rows(spark, sf),
    "vs_pq_adc_topk": lambda spark, sf: _pq_adc_rows(spark, sf),
    "vs_ivfpq_knn": lambda spark, sf: _ivfpq_rows(spark, sf),
}


def _ivf_rows(spark, sf, nprobe):
    from pgvector_db_spark.catalog import load_tables
    from pgvector_db_spark.operators.ivf import IVFIndex
    from pgvector_db_spark.queries import _ivf_cache, _query_vec

    t = load_tables(spark, sf)
    idx = IVFIndex(
        spark, _ivf_cache(spark, sf, t["embeddings"]), "embedding", "vec_id"
    )
    q = _query_vec(t["embeddings"], sf)
    return {r[0] for r in idx.search(list(q), k=10, nprobe=nprobe).collect()}


def _ivf_filtered_rows(spark, sf):
    from pgvector_db_spark.catalog import load_tables
    from pgvector_db_spark.operators.ivf import IVFIndex
    from pgvector_db_spark.queries import _ivf_cache, _query_vec

    t = load_tables(spark, sf)
    idx = IVFIndex(
        spark, _ivf_cache(spark, sf, t["embeddings"]), "embedding", "vec_id"
    )
    q = _query_vec(t["embeddings"], sf)
    return {
        r[0]
        for r in idx.search_filtered(
            q, k=10, filter_expr="label = 6", nprobe=1
        ).collect()
    }


def _lsh_rows(spark, sf):
    from pgvector_db_spark.catalog import load_tables
    from pgvector_db_spark.operators.lsh_ann import lsh_ann_knn
    from pgvector_db_spark.queries import _query_vec

    t = load_tables(spark, sf)
    q = _query_vec(t["embeddings"], sf)
    return {
        r[0]
        for r in lsh_ann_knn(
            t["embeddings"], list(q), k=10, num_bits=6, hamming_probe=2
        ).collect()
    }


def _pq_adc_rows(spark, sf):
    from pgvector_db_spark.catalog import load_tables
    from pgvector_db_spark.operators.pq import encode_pq, pq_search, train_pq
    from pgvector_db_spark.queries import _query_vec

    t = load_tables(spark, sf)
    emb = t["embeddings"]
    model = train_pq(emb, m=16, k=32)
    q = _query_vec(emb, sf)
    return {r[0] for r in pq_search(encode_pq(emb, model), model, q, 10).collect()}


def _ivfpq_rows(spark, sf):
    from pgvector_db_spark.catalog import load_tables
    from pgvector_db_spark.operators.pq import search_ivfpq_layout
    from pgvector_db_spark.queries import _ivfpq_path, _query_vec

    t = load_tables(spark, sf)
    q = _query_vec(t["embeddings"], sf)
    return {
        r[0]
        for r in search_ivfpq_layout(
            spark, _ivfpq_path(spark, sf), q, k_top=10, nprobe=2, shortlist=100
        ).collect()
    }


def main() -> None:
    from pgvector_db_spark.queries import REGISTRY

    spark = get_spark("ann_recall_check")
    bad = 0
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        d = f"/root/testdata/{sf}"
        for probe, (exact_name, floor) in PAIRS.items():
            p = PROBE_ROWSETS[probe](spark, d)
            e = {r[0] for r in REGISTRY[exact_name].spark_fn(spark, d).collect()}
            rec = len(p & e)
            flag = ""
            if rec < floor:
                flag = "  << BELOW FLOOR"
                bad += 1
            elif rec - floor < 2:
                flag = "  (margin < 2 — consider lowering the floor)"
            print(f"{sf} {probe}: recall {rec}/10, floor {floor}{flag}")
    if bad:
        print(f"\n{bad} probe(s) below floor — FIX THE FLOORS")
        sys.exit(1)
    print("\nall floors hold")


if __name__ == "__main__":
    main()
