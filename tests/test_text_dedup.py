"""Text-analysis primitives + dedup operator tests."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pgvector_db_spark.functions.text import (
    char_shingles,
    char_shingles_sql,
    doc_fingerprint,
    hamming_distance,
    hash32,
    jaccard,
    lang_scores,
    minhash_signature,
    simhash,
    tokens,
)
from pgvector_db_spark.operators.dedup import (
    connected_components,
    embedding_near_dup_survivors,
    embedding_top_pairs,
    exact_dedup,
    minhash_dedup,
    minhash_lsh_pairs,
    simhash_pairs,
)


def one(df, col):
    return df.select(col.alias("v")).first()["v"]


def test_hash32_range_and_determinism(spark):
    df = spark.createDataFrame([("abc",)], "s string")
    v1 = one(df, hash32(F.col("s")))
    v2 = one(df, hash32(F.col("s")))
    assert v1 == v2
    assert 0 <= v1 < 2**32


def test_char_shingles(spark):
    df = spark.createDataFrame([("abcdefg",)], "s string")
    sh = one(df, char_shingles("s", k=5))
    assert sh == ["abcde", "bcdef", "cdefg"]


def test_minhash_identical_texts_same_signature(spark):
    df = spark.createDataFrame([("hello world text",), ("hello world text",)], "s string")
    sigs = df.select(minhash_signature(char_shingles_sql("s"), 16).alias("sig")).collect()
    assert sigs[0]["sig"] == sigs[1]["sig"]
    assert len(sigs[0]["sig"]) == 16


def _fold_signature(sh, n, hash_fn):
    """The per-shingle fold spelled with Column functions: every
    (shingle, component) hash decoded, then the minimum taken."""

    def comp(j):
        if hash_fn == "xxhash64":
            return F.array_min(F.transform(sh, lambda s: F.xxhash64(s, F.lit(j))))
        return F.array_min(
            F.transform(sh, lambda s: hash32(F.concat(s, F.lit(f"_mh{j}"))))
        )

    return F.array(*[comp(j) for j in range(n)])


@pytest.mark.parametrize("parts", [1, 4])
def test_minhash_signature_equals_per_shingle_hash32_fold(tables, parts):
    """The one-expression signature (hex-min form under md5) is bitwise
    the per-shingle hash fold, whatever the input partitioning."""
    docs = tables["documents"].filter("doc_id < 300").repartition(parts)
    docs = docs.unionByName(
        docs.sparkSession.createDataFrame(
            [(-1, ""), (-2, "abc"), (-3, None)], "doc_id bigint, text string"
        ),
        allowMissingColumns=True,
    )
    for hash_fn in ("md5", "xxhash64"):
        rows = docs.select(
            minhash_signature(char_shingles_sql("text"), 16, hash_fn=hash_fn).alias("a"),
            _fold_signature(char_shingles("text"), 16, hash_fn).alias("b"),
        ).collect()
        assert len(rows) > 100
        assert all(r["a"] == r["b"] for r in rows), hash_fn


def _reference_pairs(docs, hash_fn, threshold=0.5):
    """minhash_lsh_pairs recomputed from Column-built signatures and band
    keys, with banding and exact jaccard done in Python."""
    sh = char_shingles("text")
    if hash_fn == "xxhash64":
        sh = F.array_distinct(F.transform(sh, lambda s: F.xxhash64(s)))
    sig = _fold_signature(F.col("_sh"), 16, hash_fn)
    keys = [
        F.md5(
            F.concat(
                F.lit(f"band{b}:"),
                F.concat_ws(",", F.transform(F.slice(sig, 4 * b + 1, 4), lambda x: x.cast("string"))),
            )
        )
        for b in range(4)
    ]
    rows = docs.select("doc_id", sh.alias("_sh")).select(
        "doc_id", "_sh", F.array(*keys).alias("k")
    ).collect()
    buckets = {}
    for r in rows:
        for k in r["k"]:
            buckets.setdefault(k, []).append(r)
    out = {}
    for members in buckets.values():
        for a in members:
            for b in members:
                if a["doc_id"] < b["doc_id"]:
                    sa, sb = set(a["_sh"]), set(b["_sh"])
                    j = len(sa & sb) / len(sa | sb)
                    if j >= threshold:
                        out[(a["doc_id"], b["doc_id"])] = j
    return out


@pytest.mark.parametrize("hash_fn", ["md5", "xxhash64"])
def test_minhash_lsh_pairs_match_reference(tables, hash_fn):
    docs = tables["documents"].filter("doc_id < 200")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard_sim"]
        for r in minhash_lsh_pairs(docs, hash_fn=hash_fn).collect()
    }
    assert got and got == _reference_pairs(docs, hash_fn)


def test_minhash_plan_round_trips_do_not_grow_with_hashes(spark, py4j_round_trips):
    """The signature and its band keys are one parsed expression each, so
    building the pipeline costs the same JVM calls at 16 hashes as at 64."""
    docs = spark.range(8).selectExpr(
        "id AS doc_id", "concat('near duplicate text number ', id % 2) AS text"
    )
    minhash_lsh_pairs(docs)  # first-call JVM setup is not plan building
    counts = {
        n: py4j_round_trips(lambda n=n: minhash_lsh_pairs(docs, num_hashes=n))
        for n in (16, 64)
    }
    assert counts[16] == counts[64], counts


def _write_docs(path, texts):
    pq.write_table(
        pa.table({"doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
                  "text": pa.array(texts)}),
        path,
    )


@pytest.mark.parametrize("pairs_of", ["minhash", "simhash"])
def test_pair_search_rereads_a_rewritten_source(spark, tmp_path, pairs_of):
    """A second call over the same parquet path, after the file changed,
    sees the new rows: the per-doc table of the first call must not be
    left in Spark's cache, where the next plan over the path would find
    it."""
    fn = {"minhash": minhash_lsh_pairs, "simhash": simhash_pairs}[pairs_of]
    path = str(tmp_path / "docs.parquet")
    dup = "the quick brown fox jumps over the lazy dog near the river bank"
    other = "completely unrelated words about spark query planning and codegen"
    _write_docs(path, [dup, dup, other])
    first = {(r["id_a"], r["id_b"]) for r in fn(spark.read.parquet(path)).collect()}
    assert first == {(1, 2)}
    _write_docs(path, [other, dup, dup])
    second = {(r["id_a"], r["id_b"]) for r in fn(spark.read.parquet(path)).collect()}
    assert second == {(2, 3)}


def test_jaccard_bounds(spark):
    df = spark.createDataFrame(
        [(["a", "b", "c"], ["b", "c", "d"])], "a array<string>, b array<string>"
    )
    assert one(df, jaccard(F.col("a"), F.col("b"))) == 0.5


def test_simhash_similar_texts_close(spark):
    df = spark.createDataFrame(
        [
            ("the quick brown fox jumps over the lazy dog",),
            ("the quick brown fox jumps over the lazy cat",),
            ("completely different words entirely unrelated tokens",),
        ],
        "s string",
    )
    vals = [r["h"] for r in df.select(simhash("s", 16).alias("h")).collect()]
    d_similar = one(
        spark.createDataFrame([(vals[0], vals[1])], "a bigint, b bigint"),
        hamming_distance(F.col("a"), F.col("b"), 16),
    )
    d_diff = one(
        spark.createDataFrame([(vals[0], vals[2])], "a bigint, b bigint"),
        hamming_distance(F.col("a"), F.col("b"), 16),
    )
    assert d_similar < d_diff


def test_doc_fingerprint_deterministic(spark):
    df = spark.createDataFrame([("abc",)], "s string")
    # fold: ((0*31+97)*31+98)%p ... computed by hand
    expected = ((97 * 31 + 98) * 31 + 99) % 1_000_000_007
    assert one(df, doc_fingerprint("s")) == expected


def test_lang_scores(spark):
    df = spark.createDataFrame([("the cat of the house and a dog",)], "s string")
    scores = {k: one(df, v) for k, v in lang_scores("s").items()}
    assert scores["en"] == 5  # the, of, the, and, a
    assert scores["de"] == 0


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, "other")], "id bigint, text string"
    )
    kept = exact_dedup(df, ["text"], "id")
    assert sorted(r["id"] for r in kept.collect()) == [1, 3]


def test_minhash_lsh_finds_near_dups(tables):
    pairs = minhash_lsh_pairs(tables["documents"].filter("doc_id < 200")).collect()
    assert len(pairs) > 0
    assert all(p["jaccard_sim"] >= 0.5 and p["id_a"] < p["id_b"] for p in pairs)


def test_minhash_dedup_removes_losers(tables):
    docs = tables["documents"].filter("doc_id < 200")
    pairs = minhash_lsh_pairs(docs)
    kept = minhash_dedup(docs)
    losers = {r["id_b"] for r in pairs.collect()}
    kept_ids = {r["doc_id"] for r in kept.collect()}
    assert kept_ids == {r["doc_id"] for r in docs.collect()} - losers


def test_simhash_pairs_verified(tables):
    pairs = simhash_pairs(
        tables["documents"].filter("doc_id < 100"), max_hamming=3
    ).collect()
    assert all(p["hamming"] <= 3 and p["id_a"] < p["id_b"] for p in pairs)


def test_embedding_top_pairs_blocked(tables):
    res = embedding_top_pairs(tables["embeddings"], block_col="label", top=10).collect()
    assert len(res) == 10
    sims = [r["similarity"] for r in res]
    assert sims == sorted(sims, reverse=True)
    assert all(r["id_a"] < r["id_b"] for r in res)


def test_connected_components(spark):
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.8), (10, 11, 0.7)],
        "id_a bigint, id_b bigint, jaccard_sim double",
    )
    comp = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_tokens(spark):
    df = spark.createDataFrame([("  a b   c ",)], "s string")
    assert one(df, tokens("s")) == ["a", "b", "c"]


def test_ngram_jaccard_pairs(spark):
    from pgvector_db_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different words entirely here now"),
            (4, "hi"),  # fewer than n tokens → empty n-gram set, no crash
        ],
        ["doc_id", "text"],
    )
    rows = {
        (r["id_a"], r["id_b"]): r["jaccard_sim"]
        for r in ngram_jaccard_pairs(df, threshold=0.3).collect()
    }
    assert set(rows) == {(1, 2)}
    # docs 1/2: 7 trigrams each, 6 shared ("the lazy dog"≠"the lazy cat")
    # → jaccard 6/8
    assert abs(rows[(1, 2)] - 0.75) < 1e-12


def test_ngram_jaccard_df_cap_drops_stop_grams(spark):
    from pgvector_db_spark.operators.dedup import ngram_jaccard_pairs

    # every doc shares the same trigram; with max_df=2 that posting list
    # is dropped, so no candidates survive
    df = spark.createDataFrame(
        [(i, f"common shared gram unique{i} tail{i}") for i in range(1, 5)],
        ["doc_id", "text"],
    )
    assert ngram_jaccard_pairs(df, threshold=0.0, max_df=2).count() == 0


def test_embedding_near_dup_ivf_blocked(spark, tables, tmp_path):
    """The scale path claimed in embedding_top_pairs' docstring: block the
    pair search on the IVF list_id instead of a label column — same
    operator, candidate space bounded by cluster co-membership."""
    from pgvector_db_spark.operators.dedup import embedding_top_pairs
    from pgvector_db_spark.operators.ivf import IVFIndex

    path = str(tmp_path / "ivf_dedup")
    IVFIndex.build(tables["embeddings"], path, lists=4)
    clustered = spark.read.parquet(path + "/data")
    pairs = embedding_top_pairs(clustered, block_col="list_id", top=10).collect()
    assert 0 < len(pairs) <= 10
    # near-dups are same-cluster by construction; similarity ordered
    sims = [r["similarity"] for r in pairs]
    assert sims == sorted(sims, reverse=True)


def test_embedding_near_dup_survivors_semantics(spark):
    """Row survives iff no smaller-id row is similar above threshold:
    id 0 always survives; an exact duplicate of id 0 never does; an
    orthogonal vector does."""
    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [1.0, 0.0]),   # dup of 0 -> dropped
            (2, [0.0, 1.0]),   # orthogonal -> survives
            (3, [0.0, 0.9]),   # dup of 2 (sim 1.0 after norm) -> dropped
        ],
        "vec_id bigint, embedding array<float>",
    )
    kept = {
        r["vec_id"]
        for r in embedding_near_dup_survivors(df, threshold=0.9).collect()
    }
    assert kept == {0, 2}


def test_minhash_xxhash_mode_same_near_dups(tables):
    """The fast xxhash64 production hash finds the same verified pairs as
    the oracle-parity md5 hash (verification is exact jaccard, so only
    candidate generation could differ — banding statistics are identical)."""
    docs = tables["documents"].filter("doc_id < 200")
    slow = {
        (r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(docs).collect()
    }
    fast = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, hash_fn="xxhash64").collect()
    }
    # exact-duplicate pairs (jaccard 1.0) collide under ANY hash: both
    # modes must find all of them; near-1.0 pairs may differ per banding
    certain = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, threshold=0.999).collect()
    }
    assert certain <= fast and certain <= slow
    assert len(fast) >= len(certain)


def test_contamination_overlap(spark):
    from pgvector_db_spark.operators.dedup import contamination_overlap

    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),   # shares 3 trigrams w/ eval
            (2, "one two three four five"),          # shares none
            (3, "alpha beta gamma zeta"),            # shares 1 trigram
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    out = contamination_overlap(train, ev, n=3, min_shared=3)
    rows = {(r["train_id"], r["eval_id"]): r["n_shared"] for r in out.collect()}
    assert rows == {(1, 100): 3}
    # lowering the bar surfaces the 1-gram overlap too
    loose = contamination_overlap(train, ev, n=3, min_shared=1)
    assert {r["train_id"] for r in loose.collect()} == {1, 3}
    # eval side is broadcast: the corpus never shuffles before the pair agg
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_pack_bins_partition_invariant(spark):
    from pgvector_db_spark.operators.packing import pack_bins

    df = spark.createDataFrame(
        [(i, (i * 37) % 90 + 10) for i in range(400)], "doc_id long, n_tok long"
    )

    def run(p):
        return sorted(
            (r["doc_id"], r["bin_id"])
            for r in pack_bins(df, "n_tok", "doc_id", budget=256, partitions=p).collect()
        )

    one = run(1)  # degenerate = the naive global window
    assert run(7) == one and run(32) == one
    # bins fill to the budget: every bin except possibly the last spans
    # docs whose preceding cumsum stayed under one budget stride
    bins = [b for _, b in one]
    assert bins == sorted(bins)  # contiguous assignment in doc order


def test_minhash_index_incremental(spark, tmp_path, tables):
    from pgvector_db_spark.operators.dedup import MinHashIndex

    docs = tables["documents"].filter("doc_id < 120").persist()
    idx = MinHashIndex(spark, str(tmp_path / "mh"), threshold=0.5)

    # empty state: nothing is flagged, everything survives
    b1 = docs.filter("doc_id < 60")
    assert idx.check(b1).count() == 0
    assert idx.ingest(b1).count() == b1.count()

    # batch 2 = fresh docs + exact copies of 5 seen docs
    copies = b1.limit(5).selectExpr(
        "doc_id + 100000 AS doc_id", "text", "lang", "source", "n_chars"
    )
    b2 = docs.filter("doc_id >= 60 and doc_id < 90").unionByName(copies)
    flagged = idx.check(b2).collect()
    by_batch = {}
    for r in flagged:
        by_batch.setdefault(r["batch_id"], []).append(r)
    # every exact copy is caught at jaccard 1.0 against its original
    for r in copies.collect():
        hits = by_batch.get(r["doc_id"])
        assert hits and any(
            h["seen_id"] == r["doc_id"] - 100000 and h["jaccard_sim"] == 1.0
            for h in hits
        )
    # flagged non-copies must be genuine near-dups of SEEN (batch-1) docs
    assert all(r["seen_id"] < 60 for r in flagged)

    # ingest drops every copy; survivors joined the state
    s2 = idx.ingest(b2)
    assert s2.filter("doc_id >= 100000").count() == 0
    # re-checking the survivors now flags all of them (self-duplicates)
    assert idx.check(s2).select("batch_id").distinct().count() == s2.count()


def test_minhash_skew_guard_caps_hot_band_buckets(spark):
    """Synthetic skew: a 60-doc templated cluster funnels O(60²) pairs
    through one band bucket. With max_band_docs set below the cluster
    size, the hot buckets are excluded from candidate generation (the
    boilerplate cluster drops out) while pairs living in small buckets
    are still found; with the guard off, the full cluster pair space
    comes back."""
    template = "the quick brown fox jumps over the lazy dog again and again "
    rows = [(i, template + "boilerplate footer common to every crawl page") for i in range(60)]
    # a genuine near-dup pair, textually far from the template cluster
    rows += [
        (100, "completely different document about spark adaptive query execution xyzzy"),
        (101, "completely different document about spark adaptive query execution xyzzq"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    unguarded = minhash_lsh_pairs(docs, threshold=0.5)
    assert unguarded.filter("id_a < 100").count() == 60 * 59 // 2

    guarded = minhash_lsh_pairs(docs, threshold=0.5, max_band_docs=50)
    got = {(r["id_a"], r["id_b"]) for r in guarded.collect()}
    assert (100, 101) in got, "small-bucket pair lost to the skew guard"
    assert not any(a < 100 for a, _ in got), "hot-bucket pairs not capped"


def test_embedding_near_dup_ivf_partial_assign_recall(spark, tables, tmp_path):
    """IVF blocking at partial assign: dominated ⊆ exact dominated, so
    survivors ⊇ exact survivors (blocking can only MISS pairs, never
    invent them) — and multi-assign recovers most of the pair space."""
    from pgvector_db_spark.operators.dedup import (
        embedding_near_dup_survivors,
        embedding_near_dup_survivors_ivf,
    )
    from pgvector_db_spark.operators.ivf import IVFIndex

    emb = tables["embeddings"]
    idx = IVFIndex.build(emb, str(tmp_path / "idx"), lists=8)
    exact = {
        r["vec_id"]
        for r in embedding_near_dup_survivors(emb, threshold=0.3).collect()
    }
    blocked = {
        r["vec_id"]
        for r in embedding_near_dup_survivors_ivf(
            emb, idx, assign=2, threshold=0.3
        ).collect()
    }
    assert blocked >= exact
    n = emb.count()
    # multi-assign must catch the bulk of the dominated set
    dropped_exact, dropped_blocked = n - len(exact), n - len(blocked)
    assert dropped_blocked >= 0.6 * dropped_exact


def test_embedding_near_dup_ivf_plan_is_blocked(spark, tables, tmp_path):
    """The IVF-blocked plan must contain no cartesian product — the pair
    space is an equi-join on list_id."""
    from pgvector_db_spark.operators.dedup import (
        embedding_near_dup_survivors_ivf,
    )
    from pgvector_db_spark.operators.ivf import IVFIndex

    emb = tables["embeddings"]
    idx = IVFIndex.build(emb, str(tmp_path / "idx2"), lists=8)
    df = embedding_near_dup_survivors_ivf(emb, idx, assign=2, threshold=0.3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the only nested-loop join allowed is the broadcast of the tiny
    # `lists`-row centroid table during assignment; the PAIR join itself
    # must be hash-equi on list_id
    assert "list_id" in plan.split("Join")[0] or "list_id#" in plan


def test_bloom_decontaminate_equals_plain_path(spark, tables):
    """The Bloom prefilter must not change the result: false positives
    are verified away by the exact join, false negatives are impossible
    (every eval gram's bits are set)."""
    from pgvector_db_spark.operators.dedup import (
        bloom_decontaminate,
        contamination_overlap,
    )

    docs = tables["documents"]
    tr, ev = docs.filter("doc_id % 31 != 0"), docs.filter("doc_id % 31 = 0")
    plain = sorted(
        map(tuple, contamination_overlap(tr, ev, n=3, min_shared=2).collect())
    )
    bloom = sorted(
        map(tuple, bloom_decontaminate(tr, ev, n=3, min_shared=2).collect())
    )
    assert plain == bloom and len(plain) > 0


def test_bloom_decontaminate_tiny_bitmap_still_exact(spark, tables):
    """A deliberately undersized bitmap (high FPP) may pass junk through
    the prefilter but the verify join keeps the result exact."""
    from pgvector_db_spark.operators.dedup import (
        bloom_decontaminate,
        contamination_overlap,
    )

    docs = tables["documents"].limit(60)
    tr, ev = docs.filter("doc_id % 7 != 0"), docs.filter("doc_id % 7 = 0")
    plain = sorted(
        map(tuple, contamination_overlap(tr, ev, n=3, min_shared=2).collect())
    )
    bloom = sorted(
        map(
            tuple,
            bloom_decontaminate(
                tr, ev, n=3, min_shared=2, num_bits=256, n_hashes=2
            ).collect(),
        )
    )
    assert plain == bloom


def test_key_bloom_semijoin_is_lossless(spark, tables):
    """build_key_bloom pushed into the fact side must never lose a
    matching row (no false negatives); after the exact join the pruned
    path equals the plain semi-join bitwise. A tiny bitmap only adds
    false positives, which the join removes."""
    from pgvector_db_spark.operators.dedup import build_key_bloom

    from pyspark.sql import functions as F

    orders = tables["orders"].select("o_custkey", "o_orderkey")
    dim = (
        tables["customer"]
        .filter("c_acctbal > 8000")
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    plain = sorted(map(tuple, orders.join(dim, "o_custkey").collect()))
    assert len(plain) > 0
    for num_bits in (1 << 12, 64):  # roomy and deliberately undersized
        might = build_key_bloom(dim, "o_custkey", num_bits=num_bits, n_hashes=2)
        pruned = sorted(
            map(
                tuple,
                orders.filter(might(F.col("o_custkey")))
                .join(dim, "o_custkey")
                .collect(),
            )
        )
        assert pruned == plain, num_bits
    # the roomy bitmap actually prunes: non-qualifying keys mostly fail
    might = build_key_bloom(dim, "o_custkey", num_bits=1 << 14, n_hashes=3)
    n_total = orders.count()
    n_pass = orders.filter(might(F.col("o_custkey"))).count()
    n_match = orders.join(dim, "o_custkey").count()
    assert n_match <= n_pass < n_total


def test_substring_dup_stats_hash_modes_agree(spark, tables):
    """The at-scale xxhash64 mode (8-byte shuffle keys) must produce the
    same per-doc counts as the cross-engine md5_16 oracle mode — the
    hash only buckets shingles, and at test scale neither collides."""
    from pgvector_db_spark.operators.dedup import substring_dup_stats

    docs = tables["documents"]
    fast = sorted(
        map(tuple, substring_dup_stats(docs, n=5, hash_fn="xxhash64").collect())
    )
    oracle_mode = sorted(
        map(tuple, substring_dup_stats(docs, n=5, hash_fn="md5_16").collect())
    )
    assert fast == oracle_mode
    assert len(fast) > 0


def test_substring_dup_stats_semantics(spark):
    """Hand-checkable fixture: cross-doc shared spans count, within-doc
    repeats don't (unless shared), short docs drop out."""
    from pgvector_db_spark.operators.dedup import substring_dup_stats

    docs = spark.createDataFrame(
        [
            # docs 1 and 2 share the 5-gram "a b c d e" (1 occurrence each)
            (1, "a b c d e x y z w v"),
            (2, "q a b c d e"),
            # doc 3: no overlap with anyone
            (3, "p1 p2 p3 p4 p5 p6"),
            # doc 4: under 5 tokens -> excluded
            (4, "too short here"),
        ],
        "doc_id bigint, text string",
    )
    rows = {
        r["doc_id"]: (r["n_shingles"], r["n_dup_shingles"], r["flagged"])
        for r in substring_dup_stats(docs, n=5).collect()
    }
    assert 4 not in rows
    assert rows[3] == (2, 0, 0)          # 6 tokens -> 2 shingles, none shared
    assert rows[1] == (6, 1, 0)          # 10 tokens -> 6 shingles, 1 shared
    assert rows[2] == (2, 1, 1)          # 6 tokens -> 2 shingles, 1 shared -> flagged


# -- r7: BM25 pure-Python recompute + empty-corpus guard ---------------------


def test_bm25_topk_py_matches_spark_bitwise(tables):
    """The engine-free third spelling of the BM25 scoring tail must be
    BIT-IDENTICAL to the Spark result — it is the decisive in-query
    verifier stream_bm25_ingest raises on (r7)."""
    from pgvector_db_spark.operators.text_search import (
        bm25_topk,
        bm25_topk_py,
        tokens_col,
    )

    docs = tables["documents"]
    terms = ["vector", "join", "filter"]
    got = [
        (int(r[0]), int(r[1]), int(r[2]))
        for r in bm25_topk(docs, terms, k=20).collect()
    ]
    post_rows = (
        docs.select("doc_id", tokens_col(F.col("text")).alias("_t"))
        .select(
            "doc_id",
            F.size("_t").alias("dl"),
            F.explode("_t").alias("term"),
        )
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
        .select("doc_id", "term", "tf", "dl")
        .collect()
    )
    crow = (
        docs.select(tokens_col(F.col("text")).alias("_t"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.size("_t")).alias("s"))
        .first()
    )
    want = bm25_topk_py(post_rows, int(crow["n"]), int(crow["s"]), k=20)
    assert got == want


def test_bm25_empty_corpus_returns_empty(spark):
    """BM25 over zero documents is zero rows, not ZeroDivisionError
    (r6 ADVICE)."""
    from pgvector_db_spark.operators.text_search import bm25_topk

    empty = spark.createDataFrame([], "doc_id bigint, text string")
    out = bm25_topk(empty, ["anything"], k=5)
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == [
        "doc_id",
        "score_micro",
        "n_matched",
    ]


def test_bm25_terms_absent_from_corpus(spark):
    """Query terms that match nothing produce zero rows (the idf CASE
    fold must not break on df=0 / empty postings)."""
    from pgvector_db_spark.operators.text_search import bm25_topk

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta gamma delta")],
        "doc_id bigint, text string",
    )
    assert bm25_topk(docs, ["zzz_not_there"], k=5).collect() == []


def test_bm25_prf_expansion_composition(spark, tables):
    """PRF pipeline semantics: with fb_terms=0 the result must equal
    plain seed BM25 (no expansion); with expansion on, every result row
    still ranks by the grid score and the expansion terms really came
    from the seed query's feedback docs (>= min length, non-seed)."""
    from pyspark.sql import functions as F

    from pgvector_db_spark.operators.text_search import (
        bm25_prf_topk,
        bm25_topk,
        tokens_col,
    )

    docs = tables["documents"]
    seeds = ["vector", "index"]
    no_exp = sorted(map(tuple, bm25_prf_topk(
        docs, seeds, k=10, fb_docs=10, fb_terms=0
    ).collect()))
    plain = sorted(map(tuple, bm25_topk(docs, seeds, k=10).collect()))
    assert no_exp == plain

    fb_ids = [r["doc_id"] for r in bm25_topk(docs, seeds, k=10).collect()]
    fb_vocab = {
        r["term"]
        for r in docs.filter(F.col("doc_id").isin(fb_ids))
        .select(F.explode(tokens_col(F.col("text"))).alias("term"))
        .distinct()
        .collect()
    }
    expanded = bm25_prf_topk(docs, seeds, k=10, fb_docs=10, fb_terms=3)
    rows = expanded.collect()
    assert len(rows) == 10
    assert [f.name for f in expanded.schema.fields] == [
        "doc_id", "score_micro", "n_matched",
    ]
    # some result must match more terms than the 2 seeds can provide —
    # proof the expansion terms entered scoring
    assert any(r["n_matched"] > 2 for r in rows)
    # and n_matched can never exceed seeds + fb_terms
    assert all(r["n_matched"] <= 5 for r in rows)
    # the expansion was drawn from feedback-doc vocabulary: rerunning
    # selection by hand reproduces a subset of that vocabulary
    exp_rows = (
        docs.filter(F.col("doc_id").isin(fb_ids))
        .select(F.explode(tokens_col(F.col("text"))).alias("term"))
        .filter(F.length("term") >= 4)
        .filter(~F.col("term").isin(seeds))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf_fb"))
        .orderBy(F.col("tf_fb").desc(), F.col("term").asc())
        .limit(3)
        .collect()
    )
    assert {r["term"] for r in exp_rows} <= fb_vocab


def test_ql_dirichlet_guards_and_semantics(spark, tables):
    """Dirichlet QL: (1) absent terms drop from scoring AND from the
    |q| length-normalization count (cf=0 has no smoothed estimate in
    the sparse decomposition); (2) empty corpus / all-absent queries
    return an empty typed frame; (3) the score is monotone in tf for
    fixed dl (the ln(1 + tf*C/(mu*cf)) term grows with tf)."""
    from pyspark.sql import Row
    from pgvector_db_spark.operators.text_search import ql_dirichlet_topk

    docs = tables["documents"]
    with_absent = sorted(map(tuple, ql_dirichlet_topk(
        docs, ["vector", "join", "zzqqxplugh"], k=10
    ).collect()))
    without = sorted(map(tuple, ql_dirichlet_topk(
        docs, ["vector", "join"], k=10
    ).collect()))
    assert with_absent == without

    empty = docs.filter("doc_id < 0")
    out = ql_dirichlet_topk(empty, ["vector"], k=5)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "score_micro", "n_matched",
    ]
    assert ql_dirichlet_topk(docs, ["zzqqxplugh"], k=5).count() == 0

    tiny = spark.createDataFrame(
        [
            Row(doc_id=1, text="apple pear plum kiwi"),
            Row(doc_id=2, text="apple apple plum kiwi"),
        ]
    )
    r = {
        row["doc_id"]: row["score_micro"]
        for row in ql_dirichlet_topk(tiny, ["apple"], k=2).collect()
    }
    assert r[2] > r[1]


def test_bm25_snippet_semantics(spark):
    """Snippet window selection: max matched-term count wins, leftmost
    on ties (a window STARTING before the first match can tie and then
    wins by position); the snippet string is the exact token slice."""
    from pyspark.sql import Row
    from pgvector_db_spark.operators.text_search import bm25_snippet_topk

    docs = spark.createDataFrame(
        [
            # matches at positions 3 and 5 (1-based): with window=3 the
            # best window is [3,5] with 2 matches
            Row(doc_id=1, text="aa bb cat dd cat ff gg"),
            # single match at position 6: windows starting 4,5,6 all
            # contain it -> leftmost start 4
            Row(doc_id=2, text="aa bb cc dd ee cat gg hh"),
        ]
    )
    out = {
        r["doc_id"]: (r["snippet_start"], r["snippet_matches"], r["snippet"])
        for r in bm25_snippet_topk(docs, ["cat"], k=2, window=3).collect()
    }
    assert out[1] == (3, 2, "cat dd cat")
    assert out[2] == (4, 1, "dd ee cat")
    # window clamped at the end of short docs
    short = spark.createDataFrame([Row(doc_id=9, text="xx cat")])
    row = bm25_snippet_topk(short, ["cat"], k=1, window=5).collect()[0]
    assert (row["snippet_start"], row["snippet"]) == (1, "xx cat")
    # empty corpus
    assert bm25_snippet_topk(
        docs.filter("doc_id < 0"), ["cat"], k=2, window=3
    ).count() == 0


def test_bm25_batch_empty_paths_share_schema(spark, tmp_path):
    """Both batch empty paths — scan over zero docs and index search
    with only absent terms — return the SAME typed empty frame via the
    shared _empty_batch_topk helper (r7 review: the two schemas were
    previously duplicated and could drift)."""
    from pyspark.sql import Row

    from pgvector_db_spark.operators.text_search import (
        BM25Index,
        bm25_batch_topk,
    )

    queries = [(0, ["anything"]), (1, ["else"])]
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    scan_out = bm25_batch_topk(empty, queries, k=3)
    assert scan_out.collect() == []

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="alpha beta gamma")]
    )
    path = str(tmp_path / "bidx")
    BM25Index.build(docs, path, num_buckets=4)
    idx = BM25Index(spark, path)
    idx_out = idx.batch_search(queries, k=3)
    assert idx_out.collect() == []
    assert scan_out.schema == idx_out.schema
    assert [f.name for f in scan_out.schema.fields] == [
        "qid",
        "doc_id",
        "rnk",
        "score_micro",
        "n_matched",
    ]


# -- r8: retrieval evaluation metrics ----------------------------------------


def test_ndcg_discount_fold_is_deterministic():
    """The Python-folded log2 discount table is the ONLY transcendental
    input to the IR eval — pin it: rank 1 discounts to exactly 1e9
    (log2(2)=1), values strictly decrease, and re-folding reproduces the
    same integers (pure function of the bit-pinned detmath tree)."""
    from pgvector_db_spark.operators.text_search import ndcg_discount_nano

    d = ndcg_discount_nano(10)
    assert d[0] == (1, 1_000_000_000)
    vals = [v for _, v in d]
    assert vals == sorted(vals, reverse=True) and len(set(vals)) == 10
    assert ndcg_discount_nano(10) == d


def test_retrieval_eval_perfect_and_empty_cases(spark):
    """Hand-checkable corpus: when the only relevant doc is ranked
    first, nDCG = MRR = recall = 1.0 exactly; with no relevant docs all
    ratio metrics are 0 (guarded, not div-by-zero)."""
    from pgvector_db_spark.operators.text_search import (
        retrieval_eval_metrics,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta alpha beta"),
            (2, "alpha gamma gamma delta"),
            (3, "delta epsilon zeta eta"),
        ],
        "doc_id bigint, text string",
    )
    row = retrieval_eval_metrics(docs, ["alpha", "beta"], k=5).first()
    assert row["n_relevant"] == 1
    assert row["n_hits"] == 1
    assert row["first_rel_rank"] == 1
    assert row["recall_micro"] == 1_000_000
    assert row["mrr_micro"] == 1_000_000
    assert row["ndcg_micro"] == 1_000_000

    row0 = retrieval_eval_metrics(docs, ["alpha", "zeta"], k=5).first()
    assert row0["n_relevant"] == 0
    assert row0["n_hits"] == 0
    assert row0["first_rel_rank"] == 0
    assert row0["recall_micro"] == 0
    assert row0["mrr_micro"] == 0
    assert row0["idcg_nano"] == 0
    assert row0["ndcg_micro"] == 0


# -- r8: prefix-filtered set-similarity join ---------------------------------


def test_prefix_filter_join_is_lossless(tables):
    """The PPJoin prefix-filter candidate scheme must reproduce the
    UNPRUNED inverted-join result exactly (the prefix lemma guarantee)
    — compare against ngram_jaccard_pairs with the stop-gram cap
    effectively disabled and the same 0.6 threshold."""
    from pgvector_db_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_jaccard_pairs,
    )

    docs = tables["documents"]
    got = {
        (r["id_a"], r["id_b"]): (r["n_inter"], r["n_union"])
        for r in prefix_filter_jaccard_pairs(
            docs, n=3, tau_num=3, tau_den=5
        ).collect()
    }
    want = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(
            docs, n=3, threshold=0.6, max_df=10**9
        ).collect()
    }
    assert set(got) == want
    # sanity: every verified pair really clears the integer threshold
    assert all(5 * i >= 3 * u for i, u in got.values())


# -- r8: exact-substring span REMOVAL ----------------------------------------


def test_substring_span_removal_semantics(spark):
    """Hand-checkable corpus: overlapping cross-doc spans merge into one
    removal span, disjoint spans stay separate, a fully-duplicated doc
    cleans to the empty string, within-doc-only repeats are NOT removed
    (document frequency, not occurrence count, drives removal)."""
    import hashlib

    from pgvector_db_spark.operators.dedup import substring_span_removal

    docs = spark.createDataFrame(
        [
            (1, "z1 a b c d e f z2 z3 z4"),
            (2, "a b c d e f q1 q2 q3 q4"),
            (3, "m1 m2 m3 m4 m5"),
            (4, "m1 m2 m3 m4 m5"),
            (5, "u1 u2 u3 u4 u5 u6"),
            (6, "a b c d e k1 k2 k3 k4 k5 k6 m1 m2 m3 m4 m5"),
            (7, "r1 r2 r3 r4 r5 r1 r2 r3 r4 r5"),
        ],
        "doc_id bigint, text string",
    )

    def h8(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()[:8]

    rows = {
        r["doc_id"]: (
            r["n_tokens"],
            r["n_removed"],
            r["n_spans"],
            r["cleaned_hash8"],
        )
        for r in substring_span_removal(docs, n=5).collect()
    }
    # docs 1/2 share "a b c d e" and "b c d e f": two overlapping starts
    # merge into ONE span covering 6 tokens
    assert rows[1] == (10, 6, 1, h8("z1 z2 z3 z4"))
    assert rows[2] == (10, 6, 1, h8("q1 q2 q3 q4"))
    # exact duplicate pair: everything removed, cleaned text empty
    assert rows[3] == (5, 5, 1, h8(""))
    assert rows[4] == (5, 5, 1, h8(""))
    # unique doc: untouched
    assert rows[5] == (6, 0, 0, h8("u1 u2 u3 u4 u5 u6"))
    # two DISJOINT shared spans (head 1-5, tail 12-16): two spans
    assert rows[6] == (16, 10, 2, h8("k1 k2 k3 k4 k5 k6"))
    # "r1..r5" repeats only WITHIN doc 7 -> document frequency 1 -> kept
    assert rows[7] == (10, 0, 0, h8("r1 r2 r3 r4 r5 r1 r2 r3 r4 r5"))


def test_substring_span_removal_hash_modes_agree(tables):
    """The at-scale xxhash64 mode must reproduce the md5_16 oracle-mode
    output exactly on the fixture corpus (hashes only bucket shingles)."""
    from pgvector_db_spark.operators.dedup import substring_span_removal

    docs = tables["documents"]
    fast = sorted(
        map(
            tuple,
            substring_span_removal(docs, n=5, hash_fn="xxhash64").collect(),
        )
    )
    oracle_mode = sorted(
        map(
            tuple,
            substring_span_removal(docs, n=5, hash_fn="md5_16").collect(),
        )
    )
    assert fast == oracle_mode
    assert len(fast) > 0


def test_per_doc_tf_equals_explode_groupby(tables):
    """r13: the one-pass per-doc tf frame must carry the identical
    (id, term, tf, dl) multiset as the old explode+isin+groupBy
    spelling — same integers into the shared BM25 scoring fold."""
    from pgvector_db_spark.operators.text_search import (
        _per_doc_tf,
        tokens_col,
    )

    docs = tables["documents"]
    terms = ["vector", "join", "filter"]
    tf_new, n_docs, sum_dl, df_by_term = _per_doc_tf(
        docs, terms, "doc_id", "text"
    )
    old = (
        docs.select("doc_id", tokens_col(F.col("text")).alias("_toks"))
        .select(
            "doc_id",
            F.size("_toks").alias("dl"),
            F.explode("_toks").alias("term"),
        )
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
    )
    new_rows = {
        (r["doc_id"], r["term"]): (int(r["tf"]), int(r["dl"]))
        for r in tf_new.collect()
    }
    old_rows = {
        (r["doc_id"], r["term"]): (int(r["tf"]), int(r["dl"]))
        for r in old.collect()
    }
    assert new_rows == old_rows
    # stats fold parity with the old single-row aggregate
    srow = (
        docs.select(tokens_col(F.col("text")).alias("_toks"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.size("_toks")).alias("s"),
            *[
                F.sum(F.array_contains("_toks", t).cast("bigint")).alias(
                    f"d{i}"
                )
                for i, t in enumerate(terms)
            ],
        )
        .first()
    )
    assert n_docs == int(srow["n"]) and sum_dl == int(srow["s"])
    assert df_by_term == {
        t: int(srow[f"d{i}"]) for i, t in enumerate(terms)
    }


def test_prefix_positional_filter_is_lossless(tables):
    """r13: the PPJoin positional filter may only DROP candidate pairs
    that cannot reach the threshold — the verified output must equal
    the brute-force pair set (threshold integer cross-multiply)."""
    from pgvector_db_spark.operators.dedup import (
        _word_ngrams,
        prefix_filter_jaccard_pairs,
    )

    docs = tables["documents"].filter("doc_id % 7 = 0")
    got = {
        (r["id_a"], r["id_b"], r["n_inter"], r["n_union"])
        for r in prefix_filter_jaccard_pairs(
            docs, n=3, tau_num=3, tau_den=5
        ).collect()
    }
    g = docs.select("doc_id", _word_ngrams("text", 3).alias("_ng"))
    brute = (
        g.alias("a")
        .join(g.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.size(F.array_intersect("a._ng", "b._ng"))
            .cast("bigint")
            .alias("n_inter"),
            F.size(F.array_distinct(F.concat("a._ng", "b._ng")))
            .cast("bigint")
            .alias("n_union"),
        )
        .filter(F.lit(5) * F.col("n_inter") >= F.lit(3) * F.col("n_union"))
    )
    want = {
        (r["id_a"], r["id_b"], r["n_inter"], r["n_union"])
        for r in brute.collect()
    }
    assert got == want


def test_cc_propagate_changed_count_and_schema(spark):
    """r13: the fused old-label convergence check must not leak the
    side column and must converge to the same labels as before."""
    from pgvector_db_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a bigint, id_b bigint",
    )
    labels = connected_components(pairs)
    assert labels.columns == ["id", "component"]
    got = {(r["id"], r["component"]) for r in labels.collect()}
    want = {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20), (23, 20),
    }
    assert got == want


def test_per_doc_tf_wide_fallback_equivalent(tables):
    """r14 (r13 VERDICT #1): above _PER_DOC_TF_MAX_TERMS query terms
    _per_doc_tf falls back to the explode spelling — the two paths must
    return identical (tf multiset, n_docs, sum_dl, df_by_term) at a
    large synthetic term set, including zero-df terms."""
    import pgvector_db_spark.operators.text_search as ts

    docs = tables["documents"]
    vocab = [
        r["t"]
        for r in docs.select(
            F.explode(ts.tokens_col(F.col("text"))).alias("t")
        )
        .groupBy("t")
        .count()
        .orderBy(F.desc("count"), "t")
        .limit(ts._PER_DOC_TF_MAX_TERMS + 20)
        .collect()
    ]
    terms = vocab + ["zz_never_in_corpus_1", "zz_never_in_corpus_2"]
    assert len(terms) > ts._PER_DOC_TF_MAX_TERMS

    wide = ts._per_doc_tf(docs, terms, "doc_id", "text")  # explode path
    old_max = ts._PER_DOC_TF_MAX_TERMS
    ts._PER_DOC_TF_MAX_TERMS = 10**9
    try:
        per_doc = ts._per_doc_tf(docs, terms, "doc_id", "text")
    finally:
        ts._PER_DOC_TF_MAX_TERMS = old_max

    def key(res):
        tf, n, s, dfb = res
        return (
            sorted(
                (r["doc_id"], r["term"], int(r["tf"]), int(r["dl"]))
                for r in tf.collect()
            ),
            n,
            s,
            sorted(dfb.items()),
        )

    kw, kp = key(wide), key(per_doc)
    assert kw == kp
    assert kw[3][-1][1] == 0 or any(v == 0 for _, v in kw[3]), (
        "zero-df sentinel terms must appear with df=0"
    )


def test_bm25_batch_wide_vocabulary_matches_per_doc(tables):
    """End-to-end: a batch whose union vocabulary exceeds the threshold
    (explode path) must score identically to the per-doc path forced
    over the same batch."""
    import pgvector_db_spark.operators.text_search as ts

    docs = tables["documents"]
    vocab = [
        r["t"]
        for r in docs.select(
            F.explode(ts.tokens_col(F.col("text"))).alias("t")
        )
        .groupBy("t")
        .count()
        .orderBy(F.desc("count"), "t")
        .limit(ts._PER_DOC_TF_MAX_TERMS + 8)
        .collect()
    ]
    step = max(1, len(vocab) // 4)
    queries = [
        (qid, vocab[qid * step:(qid + 1) * step] or vocab[:1])
        for qid in range(4)
    ]
    assert len({t for _, ts_ in queries for t in ts_}) > 4

    wide_queries = queries + [(9, vocab)]  # force union > threshold
    got = ts.bm25_batch_topk(docs, wide_queries, k=5).collect()
    old_max = ts._PER_DOC_TF_MAX_TERMS
    ts._PER_DOC_TF_MAX_TERMS = 10**9
    try:
        want = ts.bm25_batch_topk(docs, wide_queries, k=5).collect()
    finally:
        ts._PER_DOC_TF_MAX_TERMS = old_max
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
