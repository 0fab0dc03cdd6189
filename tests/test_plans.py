"""Plan-shape tests: the scale contract (SURVEY §4) asserted at the
physical-plan level — pushdown, pruning, broadcast, top-k."""

from __future__ import annotations

from pyspark.sql import functions as F

from pgvector_db_spark.plans import (
    assert_broadcast_join,
    assert_pushed_filters,
    assert_take_ordered,
    physical_plan,
)
from pgvector_db_spark.queries import REGISTRY

SF_DIR = "/root/testdata/sf0.001"


def test_filter_pushdown_to_parquet(tables):
    df = tables["lineitem"].filter(F.col("l_quantity") > 30).select("l_orderkey")
    assert_pushed_filters(df, "GreaterThan(l_quantity")


def test_column_pruning(tables):
    df = tables["lineitem"].select("l_orderkey", "l_quantity")
    plan = physical_plan(df)
    schema_seg = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_orderkey" in schema_seg and "l_quantity" in schema_seg
    assert "l_extendedprice" not in schema_seg, "unused column not pruned"


def test_knn_is_take_ordered(spark):
    df = REGISTRY["vs_knn_topk"].spark_fn(spark, SF_DIR)
    assert_take_ordered(df)


def test_star_join_broadcasts_dimensions(spark):
    df = REGISTRY["rel_revenue_by_nation"].spark_fn(spark, SF_DIR)
    assert_broadcast_join(df, count=3)  # customer, nation, region


def test_query_by_example_broadcasts(spark):
    df = REGISTRY["vs_query_by_example"].spark_fn(spark, SF_DIR)
    assert_broadcast_join(df, count=1)


def test_agg_is_partial_then_final(spark):
    df = REGISTRY["rel_pricing_summary"].spark_fn(spark, SF_DIR)
    plan = physical_plan(df)
    assert plan.count("HashAggregate") >= 2, "no partial aggregation (map-side combine)"


def test_vector_fold_stays_in_codegen(tables):
    """The cosine fold must be a native expression inside WholeStageCodegen
    — no BatchEvalPython / ArrowEvalPython (Python boundary) in the plan."""
    from pgvector_db_spark.functions.vector import cosine_distance

    emb = tables["embeddings"]
    q = emb.limit(1).select(F.col("embedding").alias("qe"))
    df = emb.crossJoin(F.broadcast(q)).select(
        cosine_distance("embedding", "qe").alias("d")
    )
    plan = physical_plan(df)
    # no Python serde boundary: the fold is a JVM expression in the Project
    # (higher-order fns are CodegenFallback, so no WholeStageCodegen span —
    # still vectorized-read + JVM-eval, vs an Arrow/pickle roundtrip)
    assert "EvalPython" not in plan
    assert "aggregate(zip_with" in plan


def test_bucketed_join_has_no_exchange(spark, tables, tmp_path):
    """Both sides bucketed on the join key → sort-merge join reads
    pre-shuffled buckets; no Exchange in the plan."""
    from pgvector_db_spark.plans.explain import physical_plan
    from pgvector_db_spark.plans.layouts import write_bucketed

    orders = tables["orders"].select("o_orderkey", "o_custkey", "o_totalprice")
    li = tables["lineitem"].select("l_orderkey", "l_quantity")
    write_bucketed(orders, "b_orders", "o_orderkey", buckets=4)
    write_bucketed(li.withColumnRenamed("l_orderkey", "o_orderkey"), "b_lineitem",
                   "o_orderkey", buckets=4)
    # at test scale the planner would broadcast instead (and skip the
    # bucketed scan); disable it to exercise the big-big join path
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
        plan = physical_plan(joined)
        assert "Exchange hashpartitioning" not in plan, plan
        assert "Bucketed: true" in plan, plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_salted_join_equals_plain_join(spark, tables):
    from pgvector_db_spark.plans.layouts import salted_join

    orders = tables["orders"].select("o_orderkey", "o_custkey")
    cust = tables["customer"].select("c_custkey", "c_name").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    plain = orders.join(cust, "o_custkey").select("o_orderkey", "c_name")
    salted = salted_join(orders, cust, "o_custkey", salt=4).select(
        "o_orderkey", "c_name"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_knn_batch_uses_window_group_limit(spark, tables):
    """rank<=k over the batch-scored relation must compile to
    WindowGroupLimit (per-partition partial top-k before the shuffle)."""
    from pyspark.sql import functions as F

    from pgvector_db_spark.operators.knn import knn_batch
    from pgvector_db_spark.plans.explain import physical_plan

    emb = tables["embeddings"]
    qs = emb.filter(F.col("vec_id") <= 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = knn_batch(emb, qs, k=5)
    assert "WindowGroupLimit" in physical_plan(out)
    got = out.groupBy("query_id").count().collect()
    assert all(r["count"] == 5 for r in got)


def test_sparse_topk_plan_shape(spark):
    """Sparse cosine top-k: 1-row broadcast build side (nested loop),
    top-k via TakeOrderedAndProject, all folds in the projection — the
    same zero-shuffle scan shape as the dense kNN."""
    from pgvector_db_spark.catalog import load_tables

    load_tables(spark, SF_DIR)
    df = REGISTRY["vs_sparse_cosine_topk"].spark_fn(spark, SF_DIR)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "EvalPython" not in plan  # no Python in the hot path


def test_gapfill_grid_is_generated_not_scanned(spark):
    """The gapfill grid comes from sequence()/explode, not a table scan:
    exactly one parquet source (events) appears in the plan."""
    df = REGISTRY["rel_time_bucket_gapfill"].spark_fn(spark, SF_DIR)
    plan = physical_plan(df)
    assert plan.count("events.parquet") >= 1
    assert "Generate explode" in plan or "Generate" in plan


def test_zorder_layout_prunes_both_dims(spark, tmp_path):
    """Z-order layout: parquet footer min/max on BOTH curve columns are
    narrow per file, so a selective predicate on EITHER column makes most
    files skippable — measured directly from the written footers."""
    import glob

    import pyarrow.parquet as pq

    from pgvector_db_spark.plans.layouts import write_zordered

    df = (
        spark.range(20000)
        .selectExpr(
            "CAST(id % 141 AS DOUBLE) AS x",
            "CAST((id * 7919) % 131 AS DOUBLE) AS y",
            "id AS payload",
        )
    )
    zpath, rpath = str(tmp_path / "z"), str(tmp_path / "r")
    write_zordered(df, zpath, ["x", "y"], files=16)
    df.repartition(16).write.parquet(rpath)

    def overlap_fraction(path, col, lo, hi):
        touched = total = 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col:
                        total += 1
                        st = c.statistics
                        if st.min <= hi and st.max >= lo:
                            touched += 1
        return touched / total

    # a 10%-of-range predicate on each dimension
    for col, hi in (("x", 14.0), ("y", 13.0)):
        z_frac = overlap_fraction(zpath, col, 0.0, hi)
        r_frac = overlap_fraction(rpath, col, 0.0, hi)
        assert r_frac == 1.0  # random layout: every file overlaps
        assert z_frac <= 0.5  # z-order: most files skippable
    # and the data survives intact
    assert spark.read.parquet(zpath).count() == 20000


def test_runtime_bloom_filter_injected(spark, tables):
    """Selective dim filter → AQE injects a runtime bloom filter on the
    fact side, pruning probe rows before the join shuffle (the runtime
    analogue of static partition pruning; session.py enables it)."""
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li, orders = tables["lineitem"], tables["orders"]
        sel = orders.filter("o_orderpriority = '1-URGENT'")
        plan = (
            li.join(sel, li.l_orderkey == sel.o_orderkey)
            ._jdf.queryExecution().optimizedPlan().toString()
        )
        assert "bloom" in plan.lower() or "might_contain" in plan.lower()
    finally:
        spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
        spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_bm25_topk_plan_shape(tables):
    """BM25: partial-before-final aggregation, broadcast side inputs, and
    a TakeOrderedAndProject top-k — never a global sort; the term filter
    must sit below the explode so only postings shuffle."""
    from pgvector_db_spark.operators.text_search import bm25_topk

    df = bm25_topk(tables["documents"], ["vector", "join"], k=10)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 2
    # r13: the corpus is tokenized ONCE into a checkpointed per-doc tf
    # frame; the returned plan reads THAT (ExistingRDD) — the corpus
    # parquet is never rescanned and no full-token explode/groupBy
    # shuffle remains (the only explode is over the |terms|-entry
    # per-doc struct array)
    assert plan.count("Scan parquet") == 0
    assert "Scan ExistingRDD" in plan
    # one exchange (the per-doc score aggregation); the old
    # (id, term) postings groupBy exchange is gone
    assert plan.count("Exchange") <= 1, "postings shuffle crept back in"
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Sort [score" not in plan, "global sort instead of top-k"


def test_partitioned_export_prunes_partitions(spark, tables, tmp_path):
    """Reading a Hive-partitioned export with a partition predicate must
    show the filter under PartitionFilters (directory pruning), not as a
    row-level DataFilter."""
    out = str(tmp_path / "orders_by_year")
    tables["orders"].withColumn(
        "order_year", F.year("o_orderdate").cast("bigint")
    ).write.partitionBy("order_year").parquet(out)
    back = spark.read.parquet(out).filter(F.col("order_year") >= 1997)
    plan = physical_plan(back)
    seg = plan.split("PartitionFilters: ")[1].splitlines()[0]
    assert "order_year" in seg, f"partition filter not pruned: {seg}"


def test_hybrid_rrf_no_cartesian(spark):
    """Hybrid fusion joins two 50-row ranked lists — the merge must be a
    broadcastable join on doc_id, never a CartesianProduct over the
    corpus (the only nested-loop allowed is the 1-row query broadcast)."""
    df = REGISTRY["vs_hybrid_rrf_search"].spark_fn(spark, SF_DIR)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan


def test_minhash_verify_broadcast_is_size_conditional(spark, tables):
    """The MinHash verification join broadcasts the per-doc shingle table
    only below ``broadcast_max_docs``; above it the hint must be absent so
    verification falls back to a shuffled join (an explicit broadcast hint
    is honored regardless of size and would OOM at corpus scale).
    autoBroadcastJoinThreshold is disabled so the ONLY way a broadcast can
    appear in the initial plan is the explicit hint."""
    from pgvector_db_spark.operators.dedup import minhash_lsh_pairs

    docs = tables["documents"].filter("doc_id < 100")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hinted = physical_plan(minhash_lsh_pairs(docs, broadcast_max_docs=10**6))
        assert "BroadcastHashJoin" in hinted, hinted
        capped = physical_plan(minhash_lsh_pairs(docs, broadcast_max_docs=0))
        assert "BroadcastHashJoin" not in capped, (
            "broadcast hint survived above the doc cap:\n" + capped
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_cobucketed_join_has_no_exchange(spark, tables, tmp_path):
    """Co-bucketed orders⋈lineitem on orderkey: both scans report the
    bucket hash partitioning, so the sort-merge join plans with ZERO
    Exchange — the write-time contract that removes the last fact-table
    shuffle from the star-join family (sources/bucketed.py)."""
    from pyspark.sql import functions as F

    from pgvector_db_spark.sources.bucketed import write_bucketed

    write_bucketed(
        tables["orders"], "orders_bt_plan", str(tmp_path / "o"),
        ["o_orderkey"], num_buckets=8, sort_cols=["o_orderkey"],
    )
    write_bucketed(
        tables["lineitem"], "lineitem_bt_plan", str(tmp_path / "l"),
        ["l_orderkey"], num_buckets=8, sort_cols=["l_orderkey"],
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = spark.table("lineitem_bt_plan").join(
            spark.table("orders_bt_plan"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert df.count() == tables["lineitem"].count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS orders_bt_plan")
        spark.sql("DROP TABLE IF EXISTS lineitem_bt_plan")


def test_bm25_index_search_prunes_and_matches_scan(spark, tables, tmp_path):
    """BM25Index.search equals bm25_topk bitwise (shared scoring tail)
    and its postings scan is partition-pruned on the term bucket."""
    from pgvector_db_spark.operators.text_search import BM25Index, bm25_topk

    docs = tables["documents"]
    idx = BM25Index.build(docs, str(tmp_path / "bm25"), num_buckets=16)
    terms = ["vector", "join", "filter"]
    scan = sorted(map(tuple, bm25_topk(docs, terms, k=20).collect()))
    indexed_df = idx.search(terms, k=20)
    indexed = sorted(map(tuple, indexed_df.collect()))
    assert scan == indexed
    plan = indexed_df._jdf.queryExecution().executedPlan().toString()
    part_filters = plan.split("PartitionFilters")[1].split("]")[0]
    assert "bucket" in part_filters


def test_bm25_append_idempotent_and_crash_safe(spark, tables, tmp_path):
    """Segment+manifest contract: (1) replaying an already-committed
    batch_tag is a no-op (streaming retry exactly-once); (2) an orphan
    segment dir without a manifest commit — the crash-mid-append state —
    is never read."""
    import os
    import shutil

    from pgvector_db_spark.operators.text_search import BM25Index, bm25_topk

    docs = tables["documents"]
    terms = ["vector", "join", "filter"]
    idx = BM25Index.build(
        docs.filter("doc_id % 4 != 0"), str(tmp_path / "idx"), num_buckets=8
    )
    idx.append(docs.filter("doc_id % 4 = 0"), batch_tag="b1")
    want = sorted(map(tuple, bm25_topk(docs, terms, k=20).collect()))
    got1 = sorted(map(tuple, idx.search(terms, k=20).collect()))
    assert got1 == want

    # replay the same batch: scores must NOT double-count
    idx.append(docs.filter("doc_id % 4 = 0"), batch_tag="b1")
    got2 = sorted(map(tuple, idx.search(terms, k=20).collect()))
    assert got2 == want

    # crash simulation: a segment dir that never reached the manifest
    orphan = str(tmp_path / "idx" / "seg_orphan")
    shutil.copytree(
        os.path.join(str(tmp_path / "idx"), "seg_000"), orphan
    )
    got3 = sorted(map(tuple, idx.search(terms, k=20).collect()))
    assert got3 == want


def test_bm25_concurrent_appends_both_commit(spark, tables, tmp_path):
    """Two appends racing the manifest commit: with the manifest lock
    both segment entries land — pre-lock, the last committer silently
    dropped the other's entry (r3 ADVICE)."""
    import threading

    from pgvector_db_spark.operators.text_search import BM25Index, bm25_topk

    docs = tables["documents"]
    idx = BM25Index.build(
        docs.filter("doc_id % 3 = 0"), str(tmp_path / "race"), num_buckets=8
    )
    errs: list[Exception] = []

    def app(mod: int) -> None:
        try:
            idx.append(docs.filter(f"doc_id % 3 = {mod}"), batch_tag=f"t{mod}")
        except Exception as exc:  # pragma: no cover - diagnostic
            errs.append(exc)

    threads = [threading.Thread(target=app, args=(m,)) for m in (1, 2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errs == []
    m = idx._read_manifest()
    assert len(m["segments"]) == 3
    assert set(m["batch_tags"]) == {"t1", "t2"}
    assert idx.doc_count() == docs.count()
    terms = ["vector", "join", "filter"]
    want = sorted(map(tuple, bm25_topk(docs, terms, k=20).collect()))
    got = sorted(map(tuple, idx.search(terms, k=20).collect()))
    assert got == want


def test_bm25_compact_preserves_scores(spark, tables, tmp_path):
    """Compaction merges all segments into one without changing a single
    score (docs disjoint ⇒ postings union unchanged, df/stats additive)."""
    from pgvector_db_spark.operators.text_search import BM25Index

    docs = tables["documents"]
    terms = ["vector", "join", "filter"]
    idx = BM25Index.build(
        docs.filter("doc_id % 3 = 0"), str(tmp_path / "c"), num_buckets=8
    )
    idx.append(docs.filter("doc_id % 3 = 1"), batch_tag="b1")
    idx.append(docs.filter("doc_id % 3 = 2"), batch_tag="b2")
    before = sorted(map(tuple, idx.search(terms, k=20).collect()))
    old_segs = idx._read_manifest()["segments"]
    assert len(old_segs) == 3
    idx.compact()
    m = idx._read_manifest()
    assert len(m["segments"]) == 1
    assert set(m["batch_tags"]) == {"b1", "b2"}  # replay guard survives
    after = sorted(map(tuple, idx.search(terms, k=20).collect()))
    assert after == before
    # replaced segments are GC'd at commit (disk stays O(index), not
    # O(total-ever-ingested) under a continuously compacting ingest)
    import os

    for s in old_segs:
        assert not os.path.exists(os.path.join(str(tmp_path / "c"), s))
    assert os.path.exists(os.path.join(str(tmp_path / "c"), m["segments"][0]))


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tables, tmp_path):
    """Join-driven partition pruning (DPP): a fact table partitioned on
    the join key, joined to a selectively-filtered dimension, must plan a
    dynamicpruning subquery on the fact scan — at 100 TB this is what
    turns a full-fact-scan join into a few-partition read when the dim
    filter survives only a handful of partition values."""
    fact_path = str(tmp_path / "orders_by_priority")
    tables["orders"].write.partitionBy("o_orderpriority").parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    # the dim filter is on a NON-join column, so the surviving join-key
    # values are only known at runtime — static constraint propagation
    # can't pre-prune, which is exactly the case DPP exists for
    dim = (
        tables["orders"]
        .select("o_orderpriority", "o_orderstatus")
        .distinct()
        .filter(F.col("o_orderstatus") == "P")
        .select("o_orderpriority")
        .distinct()
    )
    joined = fact.join(dim, "o_orderpriority").groupBy("o_orderpriority").count()
    plan = physical_plan(joined)
    assert "dynamicpruning" in plan.lower(), plan
    expect = {r["o_orderpriority"] for r in dim.collect()}
    got = {r["o_orderpriority"] for r in joined.collect()}
    assert got == expect and expect


def test_sq8_layout_candidate_scan_prunes_float_column(spark):
    """The persisted SQ8 layout's first pass must read ONLY the codes
    column (the 4x-narrower scan is the point of the layout); the float
    column appears only in the rerank scan — and nothing drops to
    Python."""
    import re

    df = REGISTRY["vs_sq8_layout_knn"].spark_fn(spark, SF_DIR)
    plan = physical_plan(df)
    schemas = re.findall(r"ReadSchema: (.*)", plan)
    code_scans = [s for s in schemas if "codes" in s]
    assert code_scans, f"no codes-column scan in plan: {schemas}"
    assert all(
        "embedding" not in s for s in code_scans
    ), f"candidate scan reads the float column: {code_scans}"
    assert "Python" not in plan


def test_bm25_batch_matches_single_query_and_dedups_terms(tables):
    """Each qid's rows in the batch plan equal the single-query scan
    bitwise (shared grid + driver-folded idf), and repeated terms in a
    query score once (bag-of-words term-set semantics, enforced by
    _normalize_batch_queries on BOTH the Spark plan and the oracle)."""
    from pgvector_db_spark.operators.text_search import (
        bm25_batch_topk,
        bm25_topk,
    )

    docs = tables["documents"]
    queries = [(0, ["vector", "join"]), (1, ["index", "scan", "scan"])]
    batch = bm25_batch_topk(docs, queries, k=10)
    got = {
        qid: sorted(
            (r["doc_id"], r["score_micro"], r["n_matched"], r["rnk"])
            for r in batch.collect()
            if r["qid"] == qid
        )
        for qid in (0, 1)
    }
    for qid, terms in [(0, ["vector", "join"]), (1, ["index", "scan"])]:
        single = bm25_topk(docs, sorted(set(terms)), k=10).collect()
        ranked = sorted(
            single, key=lambda r: (-r["score_micro"], r["doc_id"])
        )
        want = sorted(
            (r["doc_id"], r["score_micro"], r["n_matched"], i + 1)
            for i, r in enumerate(ranked)
        )
        assert got[qid] == want, f"qid {qid} diverges from single-query scan"


def test_bm25_batch_plan_shape(tables):
    """The batch top-k must be a qid-partitioned rank window (partial
    per-task top-k via WindowGroupLimit — never a global sort) and the
    whole scoring pipeline stays JVM-side."""
    from pgvector_db_spark.operators.text_search import bm25_batch_topk

    df = bm25_batch_topk(
        tables["documents"], [(0, ["vector"]), (1, ["join", "filter"])], k=5
    )
    plan = physical_plan(df)
    assert "WindowGroupLimit" in plan
    assert "Python" not in plan


def test_bm25_batch_index_matches_scan(spark, tables, tmp_path):
    """BM25Index.batch_search == bm25_batch_topk bitwise: the pruned
    union-bucket postings read feeds the same _batch_score_and_topk
    tail, so the persisted layout serves batches losslessly."""
    from pgvector_db_spark.operators.text_search import (
        BM25Index,
        bm25_batch_topk,
    )

    docs = tables["documents"]
    idx = BM25Index.build(docs, str(tmp_path / "bm25b"), num_buckets=16)
    queries = [(7, ["vector", "filter"]), (9, ["index", "merge"])]
    scan = sorted(map(tuple, bm25_batch_topk(docs, queries, k=10).collect()))
    indexed = sorted(map(tuple, idx.batch_search(queries, k=10).collect()))
    assert scan == indexed


def test_bm25_batch_empty_inputs(spark, tables):
    """Empty query list and empty corpus both yield an empty, correctly
    typed frame (no ZeroDivisionError — the ADVICE r6 guard extends to
    the batch path)."""
    from pgvector_db_spark.operators.text_search import bm25_batch_topk

    docs = tables["documents"]
    assert bm25_batch_topk(docs, [], k=5).count() == 0
    empty = docs.filter(F.lit(False))
    out = bm25_batch_topk(empty, [(0, ["vector"])], k=5)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "qid", "doc_id", "rnk", "score_micro", "n_matched",
    ]


def test_sparse_index_search_prunes_and_matches_scan(
    spark, tables, tmp_path
):
    """SparseIndex.search equals the pinned-fold scan bitwise AND its
    postings probe is partition-pruned: PartitionFilters carries the
    bucket In set and PushedFilters carries the term In filter (r11
    VERDICT item #2 — the same pin test_bm25_index_search_prunes_and_
    matches_scan gives BM25's probe)."""
    from pgvector_db_spark.functions.sparse import (
        sparse_cosine_distance,
        sparse_indices,
        sparse_values,
    )
    from pgvector_db_spark.operators.sparse_index import SparseIndex

    emb = tables["embeddings"]
    idx = SparseIndex.build(
        emb, str(tmp_path / "sxp"), eps=0.1, num_buckets=16,
        carry_cols=("label",),
    )
    se = emb.select(
        "vec_id",
        "label",
        sparse_indices("embedding", 0.1).alias("si"),
        sparse_values("embedding", 0.1).alias("sv"),
    )
    q = se.filter("vec_id = 0").first()
    qi, qv = list(q["si"]), list(q["sv"])
    scan = (
        se.withColumn("_qi", F.array(*[F.lit(i) for i in qi]))
        .withColumn("_qv", F.array(*[F.lit(v) for v in qv]))
        .select(
            "vec_id",
            "label",
            F.size("si").cast("int").alias("nnz"),
            sparse_cosine_distance("si", "sv", "_qi", "_qv").alias(
                "distance"
            ),
        )
        .orderBy(F.col("distance").asc(), F.col("vec_id").asc())
        .limit(10)
        .collect()
    )
    searched = idx.search(qi, qv, k=10)
    assert [tuple(r) for r in searched.collect()] == [
        tuple(r) for r in scan
    ]
    # pin the probe on the executed plan: the postings scan must read
    # only the query's buckets and push the term membership filter
    plan = searched._jdf.queryExecution().executedPlan().toString()
    # the plan holds several scans (vectors has no partition filter);
    # the POSTINGS scan must show both prunes
    part_filters = [
        seg.split("]")[0] for seg in plan.split("PartitionFilters")[1:]
    ]
    assert any("bucket" in pf and "IN" in pf.upper() for pf in part_filters), (
        part_filters
    )
    pushed = [seg.split("]")[0] for seg in plan.split("PushedFilters")[1:]]
    assert any("In(term" in p for p in pushed), pushed


def test_prefix_verify_broadcast_stage_shape(spark, tables):
    """r14 (r13 VERDICT #4): pin the PRE-checkpoint stage plan of the
    prefix-filter verification join — with broadcast_base=True BOTH
    per-doc gram attachments must be broadcast hash joins (the pair
    frame streams map-side; gram arrays never enter a shuffle). The
    after-plan dumps cannot show this (the operator checkpoints its
    result), so the pin lives here."""
    from pgvector_db_spark.operators.dedup import (
        _join_gram_sets,
        _word_ngrams,
    )

    docs = tables["documents"].filter("doc_id < 50")
    base = docs.select(
        F.col("doc_id"), _word_ngrams("text", 3).alias("_ng")
    )
    cand = docs.selectExpr("doc_id AS id_a", "doc_id + 1 AS id_b")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hinted = physical_plan(
            _join_gram_sets(cand, base, "doc_id", broadcast_base=True)
        )
        assert hinted.count("BroadcastHashJoin") == 2, hinted
        plain = physical_plan(
            _join_gram_sets(cand, base, "doc_id", broadcast_base=False)
        )
        assert "BroadcastHashJoin" not in plain, plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_cc_round_single_join_single_shuffle(spark, tables):
    """r14 (r13 VERDICT #4): pin the PRE-checkpoint plan of one
    connected-components propagation round — exactly ONE join (the
    edge⋈labels propagation; the r12 spelling's second prop⋈labels
    convergence join must stay gone) and exactly one shuffle exchange
    (the groupBy(id) aggregate; broadcast exchanges excluded)."""
    from pgvector_db_spark.operators.dedup import _cc_round_frame

    labels = tables["documents"].selectExpr(
        "doc_id AS id", "doc_id AS component"
    )
    edges = tables["documents"].selectExpr(
        "doc_id AS src", "doc_id + 1 AS dst"
    )
    plan = physical_plan(_cc_round_frame(edges, labels))
    n_joins = sum(
        plan.count(j)
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )
    assert n_joins == 1, plan
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    # the labels side broadcasts, so the aggregate's exchange is the only one
    assert shuffles == 1, plan


def test_pagerank_bucketed_iteration_no_shuffle(spark, tables, tmp_path):
    """r14: with the edge table bucketed on ``dst``, one PageRank
    iteration (broadcast rank join -> contribution groupBy) plans with
    ZERO shuffle exchanges — the scan's HashPartitioning(dst) flows
    through the broadcast join and the dst->node alias into the
    aggregate (sources/bucketed.py; ds_pagerank_partsupp_bucketed)."""
    from pgvector_db_spark.sources.bucketed import write_bucketed

    edges = tables["documents"].selectExpr(
        "CAST(doc_id % 40 AS STRING) AS src",
        "CAST(doc_id % 97 AS STRING) AS dst",
    )
    write_bucketed(
        edges, "pr_edges_plan_t", str(tmp_path / "e"), ["dst"], num_buckets=4
    )
    try:
        eb = spark.table("pr_edges_plan_t")
        # shuffle-free rank state (the real loop's state is a
        # checkpointed frame, likewise exchange-free)
        state = spark.range(40).selectExpr(
            "CAST(id AS STRING) AS node", "CAST(1.0 AS DOUBLE) AS rank",
            "CAST(2 AS BIGINT) AS outdeg",
        )
        contribs = eb.join(
            F.broadcast(state), eb["src"] == state["node"]
        ).select(
            F.col("dst").alias("node"),
            F.floor(F.col("rank") / F.col("outdeg") * F.lit(1e12) + F.lit(0.5))
            .cast("bigint")
            .alias("c"),
        )
        summed = contribs.groupBy("node").agg(F.sum("c").alias("s"))
        plan = physical_plan(summed)
        shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
        assert shuffles == 0, plan
        assert "Bucketed: true" in plan, plan
    finally:
        spark.sql("DROP TABLE IF EXISTS pr_edges_plan_t")


def test_bloom_bitmap_is_single_literal(spark, tables):
    """r14: the Bloom bitmap must ride the plan as ONE binary Literal —
    the old CreateArray-of-4096-words spelling made every referencing
    plan ~170 KB and re-analyzed ~12k expression nodes per streaming
    micro-batch. A 1<<17-bit predicate's filter plan must stay small
    and carry the conv(hex(substring(...))) word reads."""
    from pgvector_db_spark.operators.dedup import build_gram_bloom

    import re

    ev = tables["documents"].filter("doc_id % 97 = 0")
    ev_post, might = build_gram_bloom(ev, n=3)
    flt = ev_post.filter(might(F.col("_g")))
    plan = physical_plan(flt)
    # one binary-literal word read per hash (the bitmap prints as one
    # hex blob per reference — a single Literal NODE each)
    assert plan.count("conv(hex(substring(") == 3, plan[:2000]
    # the old spelling expanded a CreateArray of num_bits/32 integer
    # literals into the plan — visible as thousands of comma-separated
    # ints; only the 32-element _POW2 array may remain
    assert not re.search(r"(?:\d+, ){100,}", plan), (
        "bloom bitmap expanded as an element-wise array literal"
    )
    # no false negatives: every eval gram passes its own bitmap
    assert flt.count() == ev_post.count()
