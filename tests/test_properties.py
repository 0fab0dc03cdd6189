"""Property-based tests (hypothesis) for the math kernels.

The reference ships no property tests; these pin the invariants the
engine's determinism story rests on: metric bounds, scale invariance,
and cascade-exactness of the decimal rollup.
"""

from __future__ import annotations

import math

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from pgvector_db_spark.functions.vector import (
    cosine_distance,
    l1_distance,
    l2_distance,
    vector_literal_sql,
)

finite = st.floats(
    min_value=-100, max_value=100, allow_nan=False, allow_infinity=False
)
vec = st.lists(finite, min_size=4, max_size=4).filter(
    lambda v: sum(x * x for x in v) > 1e-6
)


def _one(spark, cols):
    return spark.range(1).select(*cols).first()


@settings(max_examples=10, deadline=None)
@given(a=vec, b=vec, scale=st.floats(min_value=0.1, max_value=50))
def test_cosine_properties(spark, a, b, scale):
    la, lb = vector_literal_sql(a), vector_literal_sql(b)
    ls = vector_literal_sql([x * scale for x in b])
    r = _one(
        spark,
        [
            cosine_distance(la, lb).alias("d"),
            cosine_distance(la, la).alias("self_d"),
            cosine_distance(la, ls).alias("d_scaled"),
        ],
    )
    assert -1e-9 <= r["d"] <= 2 + 1e-9          # cosine distance ∈ [0, 2]
    assert abs(r["self_d"]) < 1e-9               # identity
    assert abs(r["d"] - r["d_scaled"]) < 1e-6    # positive-scale invariance


@settings(max_examples=10, deadline=None)
@given(a=vec, b=vec, c=vec)
def test_lp_distance_properties(spark, a, b, c):
    la, lb, lc = (vector_literal_sql(v) for v in (a, b, c))
    r = _one(
        spark,
        [
            l2_distance(la, lb).alias("ab2"),
            l2_distance(lb, lc).alias("bc2"),
            l2_distance(la, lc).alias("ac2"),
            l1_distance(la, lb).alias("ab1"),
        ],
    )
    # triangle inequality + symmetry-free sanity vs driver-side math
    assert r["ac2"] <= r["ab2"] + r["bc2"] + 1e-9
    want2 = math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))
    want1 = sum(abs(x - y) for x, y in zip(a, b))
    assert abs(r["ab2"] - want2) < 1e-6 * (1 + want2)
    assert abs(r["ab1"] - want1) < 1e-6 * (1 + want1)


def _assert_one_definition(spark, a, b, n_chunks, chunk_dim):
    """Every generator, rendered three ways, gives the same float64 bits:
    the Column API (``F.expr`` of the Spark dialect) equals DuckDB
    evaluating the ``duckdb`` dialect, and the registered SQL function
    (functions/sql_registry.py) equals the Column API on the function's
    declared ARRAY<FLOAT> input. maxsim has no registered SQL function."""
    import duckdb

    from pgvector_db_spark.functions import vector as V
    from pgvector_db_spark.functions.sql_registry import register_sql_functions

    register_sql_functions(spark)
    cases = [  # (name, Column builder, registered function, generator, arity)
        ("dot", V.dot_product, "dot_product", V.dot_sql, 2),
        ("norm", V.l2_norm, "vector_norm", V.norm_sql, 1),
        ("cos_sim", V.cosine_similarity, "cosine_similarity",
         V.cosine_similarity_sql, 2),
        ("cos", V.cosine_distance, "cosine_distance", V.cosine_distance_sql, 2),
        ("l2", V.l2_distance, "l2_distance", V.l2_sql, 2),
        ("ip", V.inner_product_distance, "inner_product_distance", V.ip_sql, 2),
        ("l1", V.l1_distance, "l1_distance", V.l1_sql, 2),
        ("l2_normalize", V.l2_normalize, "l2_normalize", V.l2_normalize_sql, 1),
    ]
    # a and b are columns of a one-row relation, as in the registry queries
    spark_src = f"SELECT {vector_literal_sql(a)} AS a, {vector_literal_sql(b)} AS b"
    duck_src = (
        f"(SELECT {vector_literal_sql(a, 'duckdb')} AS a, "
        f"{vector_literal_sql(b, 'duckdb')} AS b) t"
    )
    args = ("a", "b")
    as_float = ("CAST(a AS ARRAY<FLOAT>)", "CAST(b AS ARRAY<FLOAT>)")

    col = spark.sql(spark_src).select(
        *[fn(*args[:n]).alias(name) for name, fn, _, _, n in cases],
        *[fn(*as_float[:n]).alias(f"{name}_f") for name, fn, _, _, n in cases],
        V.maxsim_score(
            V.chunk_vector_sql("a", n_chunks, chunk_dim),
            V.chunk_vector_sql("b", n_chunks, chunk_dim),
        ).alias("maxsim"),
    ).first()
    reg = spark.sql(
        "SELECT "
        + ", ".join(
            f"{udf}({', '.join(as_float[:n])}) AS {name}"
            for name, _, udf, _, n in cases
        )
        + f" FROM ({spark_src})"
    ).first()
    duck_maxsim = V.maxsim_sql(
        V.chunk_vector_sql("a", n_chunks, chunk_dim, "duckdb"),
        V.chunk_vector_sql("b", n_chunks, chunk_dim, "duckdb"),
        "duckdb",
    )
    duck = duckdb.sql(
        "SELECT "
        + ", ".join(
            f"{gen(*args[:n], 'duckdb')} AS {name}"
            for name, _, _, gen, n in cases
        )
        + f", {duck_maxsim} AS maxsim FROM {duck_src}"
    ).fetchone()
    for i, (name, *_rest) in enumerate(cases):
        # exact, no tolerance
        assert col[name] == duck[i], name
        assert col[f"{name}_f"] == reg[name], name
    assert col["maxsim"] == duck[-1], "maxsim"


@settings(max_examples=10, deadline=None)
@given(a=vec, b=vec)
def test_cosine_fold_bitwise_matches_duckdb(spark, a, b):
    """The determinism contract itself, fuzzed: each dual-dialect SQL
    generator produces BIT-IDENTICAL float64 results through the Column
    API, the registered SQL function and DuckDB, on arbitrary finite
    vectors — not approximately equal, equal. This is what the driver's
    value-hash gate assumes on every vector query."""
    _assert_one_definition(spark, a, b, n_chunks=2, chunk_dim=2)


def test_one_definition_bitwise_768d(spark):
    """The same three-way bitwise equality at a real embedding width
    (768-d, MaxSim over 12 chunks of 64)."""
    import numpy as np

    rng = np.random.default_rng(7)
    a, b = ([float(x) for x in rng.standard_normal(768)] for _ in range(2))
    _assert_one_definition(spark, a, b, n_chunks=12, chunk_dim=64)


@settings(max_examples=10, deadline=None)
@given(a=vec, b=vec)
def test_sparse_dot_bitwise_matches_duckdb_and_dense(spark, a, b):
    """Sparse fold vs DuckDB: bit-identical; and with eps=0 the sparse
    dot over non-zero entries equals the dense dot when entries align."""
    import duckdb

    from pgvector_db_spark.functions.sparse import (
        sparse_dot_sql,
        sparse_indices_sql,
        sparse_values_sql,
    )
    from pgvector_db_spark.functions.vector import vector_literal_sql

    def q(dialect):
        la = vector_literal_sql(a, dialect)
        lb = vector_literal_sql(b, dialect)
        ai = sparse_indices_sql(la, 0.0, dialect)
        av = sparse_values_sql(la, 0.0, dialect)
        bi = sparse_indices_sql(lb, 0.0, dialect)
        bv = sparse_values_sql(lb, 0.0, dialect)
        return f"SELECT {sparse_dot_sql(ai, av, bi, bv, dialect)} AS v"

    got_spark = spark.sql(q("spark")).first()["v"]
    got_duck = duckdb.sql(q("duckdb")).fetchone()[0]
    assert got_spark == got_duck  # exact, no tolerance


@settings(max_examples=8, deadline=None)
@given(
    vals=st.lists(
        st.floats(min_value=0, max_value=1000, allow_nan=False), min_size=1, max_size=40
    )
)
def test_rollup_cascade_exact(spark, vals):
    """Cascaded decimal sums equal direct sums regardless of grouping."""
    from pgvector_db_spark.operators.rollup import time_rollup

    rows = [
        (i, f"2024-01-01 {i % 24:02d}:{(i * 7) % 60:02d}:00", round(v, 2))
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts_s", "value"]).withColumn(
        "ts", F.to_timestamp("ts_s")
    )
    out = time_rollup(df, "ts", "value", (300, 3600, 86400))
    per_level = {
        r["resolution_sec"]: r["total"]
        for r in out.groupBy("resolution_sec")
        .agg(F.sum(F.col("sum_value").cast("decimal(28,2)")).alias("total"))
        .collect()
    }
    totals = set(per_level.values())
    assert len(totals) == 1  # every resolution sums to the same exact total
    n_by_level = {
        r["resolution_sec"]: r["n"]
        for r in out.groupBy("resolution_sec").agg(F.sum("n_events").alias("n")).collect()
    }
    assert set(n_by_level.values()) == {len(vals)}


def test_partitioning_invariance(spark, tables):
    """Results are invariant to physical partitioning — the property that
    makes the differential oracle meaningful on a 1000-executor cluster:
    decimal-exact aggregation and fold-exact distances produce bitwise
    identical values whether the data lives in 1 partition or 17."""
    from pgvector_db_spark.functions.vector import cosine_distance
    from pyspark.sql import functions as F

    emb = tables["embeddings"]
    q = vector_literal_sql(
        [float(v) for v in emb.filter("vec_id = 0").first()["embedding"]]
    )
    li = tables["lineitem"]

    def knn_vals(df):
        return [
            (r["vec_id"], r["d"])
            for r in df.select("vec_id", cosine_distance("embedding", q).alias("d"))
            .orderBy("d", "vec_id")
            .limit(10)
            .collect()
        ]

    def agg_vals(df):
        return [
            (r["f"], float(r["s"]), r["n"])
            for r in df.groupBy("l_returnflag")
            .agg(
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("s"),
                F.count("*").alias("n"),
            )
            .select(F.col("l_returnflag").alias("f"), "s", "n")
            .orderBy("f")
            .collect()
        ]

    assert knn_vals(emb.coalesce(1)) == knn_vals(emb.repartition(17))
    assert agg_vals(li.coalesce(1)) == agg_vals(li.repartition(17, "l_orderkey"))


@settings(max_examples=10, deadline=None)
@given(
    d=st.lists(finite, min_size=8, max_size=8),
    q=st.lists(finite, min_size=8, max_size=8),
)
def test_maxsim_matches_python_reference(spark, d, q):
    """maxsim_score over 2 chunks of 4 dims equals the plain-Python
    fold (sequential dots, max, ordered sum) bitwise — the invariant the
    vs_maxsim_topk oracle depends on."""
    from pgvector_db_spark.functions.vector import chunk_vector_sql, maxsim_score

    ld, lq = (vector_literal_sql(v) for v in (d, q))
    got = _one(
        spark,
        [
            maxsim_score(
                chunk_vector_sql(ld, 2, 4), chunk_vector_sql(lq, 2, 4)
            ).alias("s")
        ],
    )["s"]

    def dot(x, y):
        acc = 0.0
        for a_, b_ in zip(x, y):
            acc += a_ * b_
        return acc

    chunks = lambda v: [v[0:4], v[4:8]]
    want = 0.0
    for qc in chunks(q):
        want += max(dot(qc, dc) for dc in chunks(d))
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("ab x"), min_size=12, max_size=40
        ),
        min_size=4,
        max_size=8,
    )
)
def test_bloom_decontaminate_always_equals_plain(spark, texts):
    """For ANY corpus, the Bloom prefilter never changes the overlap
    result (false positives verified away; false negatives impossible)."""
    from pgvector_db_spark.operators.dedup import (
        bloom_decontaminate,
        contamination_overlap,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    tr, ev = df.filter("doc_id % 2 = 0"), df.filter("doc_id % 2 = 1")
    plain = sorted(
        map(tuple, contamination_overlap(tr, ev, n=2, min_shared=1).collect())
    )
    bloom = sorted(
        map(
            tuple,
            bloom_decontaminate(
                tr, ev, n=2, min_shared=1, num_bits=512, n_hashes=2
            ).collect(),
        )
    )
    assert plain == bloom


# -- round-4 additions: CMS vs brute force, PageRank vs numpy ---------------

_token = st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh"])


@settings(max_examples=8, deadline=None)
@given(toks=st.lists(_token, min_size=1, max_size=60))
def test_cms_estimate_bounds_vs_brute_force(spark, toks):
    """For every token in a random stream: true <= est <= true + (sum of
    collision mass), and with 8 tokens over width 64 the estimate is
    usually exact — check the hard bound plus the exactness bound est <=
    stream length."""
    from collections import Counter

    from pgvector_db_spark.operators.sketches import cms_build, cms_estimate

    tok_df = spark.createDataFrame([(t,) for t in toks], ["t"])
    sketch = cms_build(tok_df, depth=4, width=64)
    est = {
        r["t"]: r["est"]
        for r in cms_estimate(
            tok_df.distinct(), sketch, depth=4, width=64
        ).collect()
    }
    truth = Counter(toks)
    for t, c in truth.items():
        assert c <= est[t] <= len(toks)


@settings(max_examples=6, deadline=None)
@given(
    edge_ids=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 5)),
        min_size=2,
        max_size=12,
    )
)
def test_pagerank_matches_numpy_power_iteration(spark, edge_ids):
    """The DataFrame loop equals an independent numpy power iteration
    with the same grid quantization, on random graphs closed under edge
    reversal (the no-dangling construction the queries use)."""
    import numpy as np

    from pgvector_db_spark.operators.graph import GRID, pagerank

    pairs = {(f"n{a}", f"n{b}") for a, b in edge_ids if a != b}
    if not pairs:
        return
    edges = sorted(pairs | {(b, a) for a, b in pairs})
    edf = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["rank"] for r in pagerank(edf, iterations=3).collect()}

    nodes = sorted({x for e in edges for x in e})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out: dict[str, list[str]] = {m: [] for m in nodes}
    for a, b in edges:
        out[a].append(b)
    rank = np.full(n, 1.0 / n)
    for _ in range(3):
        contrib = np.zeros(n, dtype=np.int64)
        for a in nodes:
            c = int(np.floor(rank[idx[a]] / len(out[a]) * GRID + 0.5))
            for b in out[a]:
                contrib[idx[b]] += c
        rank = (1.0 - 0.85) / n + 0.85 * (contrib / GRID)
    assert got == {m: rank[idx[m]] for m in nodes}
