"""Deduplication operators (BASELINE.json north star; SURVEY §2.3).

Five families, all DataFrame-native:

- exact:      content hash → groupBy → keep canonical (min id). One
              shuffle on the hash; map-side combine.
- MinHash+LSH near-dup: shingle → minhash signature → band keys →
              explode + shuffle on band key → candidate pairs within
              buckets → exact jaccard verification. The banding bounds
              the join: candidates are only docs agreeing on ≥1 band,
              so the O(n²) pair space never materializes. This is the
              100 TB-scale path.
- n-gram Jaccard: exact word-n-gram set similarity; candidates via an
              inverted-index join on rare n-grams (posting lists capped
              by document frequency), exact Jaccard verification.
- SimHash:    16-bit (default; oracle-parity size) fingerprint; near-dups = pairs within
              hamming distance d, found via LSH on bit-chunks of the
              fingerprint (same banding trick, no O(n²)).
- embedding:  cosine-similarity near-dup over the vector column —
              exact block-join within a blocking key, or IVF-bucketed
              at scale (reuses operators/ivf.py layouts).

All primitives come from functions/text.py and are oracle-checkable;
the end-to-end pipelines are exercised both as queries (queries.py) and
operator tests.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pgvector_db_spark.functions.text import (
    char_shingles_sql,
    hamming_distance,
    jaccard,
    lsh_band_keys,
    minhash_signature,
    simhash,
    tokens,
)
from pgvector_db_spark.functions.vector import col_sql, cosine_similarity
from pgvector_db_spark.utils import ensure_min_parallelism


def exact_dedup(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Keep one row (min id) per distinct combination of ``cols``.

    groupBy on a content hash rather than the raw columns, so wide text
    never rides the shuffle — only (hash, id)."""
    h = F.sha2(F.concat_ws("\u001f", *[F.col(c) for c in cols]), 256)
    keep = (
        df.select(h.alias("_h"), F.col(id_col))
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keep, id_col, "left_semi")


def _xxhash_shingles_sql(shingles: str) -> str:
    """The shingle array as its distinct int64 xxhash64 values."""
    return f"array_distinct(transform({shingles}, _s -> xxhash64(_s)))"


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    hash_fn: str = "md5",
    broadcast_max_docs: int = 1_000_000,
    max_band_docs: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding, jaccard-verified.

    Returns (id_a, id_b, jaccard_sim) with id_a < id_b and
    jaccard_sim >= threshold. Shuffles on band keys (candidate discovery)
    and id (verification join) — never the full pair space.
    ``hash_fn='xxhash64'`` is the fast production hash; 'md5' matches the
    DuckDB oracle (see functions/text.minhash_signature).

    ``broadcast_max_docs`` caps the verification-join broadcast: up to
    this many documents the per-doc shingle table is broadcast (the pair
    relation never shuffles its attached arrays); above it the hint is
    OMITTED and verification runs as a shuffled hash join — an explicit
    ``F.broadcast()`` hint is honored unconditionally by the planner, so
    an unconditional hint would OOM executors once the shingle table
    outgrows memory at corpus scale.

    ``max_band_docs`` is the skew guard: a band bucket holding ``m``
    documents yields O(m²) candidate pairs through ONE join task, and a
    templated/boilerplate corpus concentrates near-identical docs into
    the same buckets across every band. When set, buckets larger than the
    cap are excluded from candidate generation (their doc count and
    bucket count are logged as overflow) — the same move as the
    ``max_df`` stop-gram guard in :func:`ngram_jaccard_pairs`: an
    over-full bucket is boilerplate, and any genuinely near-dup pair it
    holds is usually rediscovered through a less-common band. Default
    ``None`` (off) preserves exact oracle parity.
    """
    rows_per_band = num_hashes // bands
    shingles = char_shingles_sql(col_sql(text_col), shingle_k)
    if hash_fn == "xxhash64":
        # Fast mode collapses shingle strings to int64 hashes ONCE, then
        # both the signature components and the exact-jaccard verification
        # run over the int array: signature hashing works on 8-byte ints
        # instead of strings, and int-array intersect/union is a
        # several-fold cheaper kernel (same jaccard value up to 64-bit
        # collisions) — templated corpora push O(cluster²) candidate
        # pairs through verification, so the kernel cost is the bill.
        # The md5 mode keeps raw strings: it is the DuckDB-oracle path.
        shingles = _xxhash_shingles_sql(shingles)
    # the signature is the stage's whole cost (num_hashes hashes per
    # distinct shingle): a single-file input scans as ONE partition, so
    # spread it over the session's cores first
    base = (
        ensure_min_parallelism(df)
        .select(F.col(id_col), F.expr(shingles).alias("_sh"))
        .withColumn("_sig", minhash_signature("_sh", num_hashes, hash_fn=hash_fn))
    )
    # base feeds the band explode, BOTH sides of the candidate self-join,
    # and both verification joins: materialize it once, eagerly, or the
    # parallel first stages race to recompute the lineage (MLlib's LSH
    # does the same; measured 37s -> ~8s at sf0.1). localCheckpoint, not
    # persist(): a persisted frame stays registered with the cache
    # manager, which then answers the next call over the same source
    # path from the stale cache, and it is never released.
    base = base.localCheckpoint(eager=True)
    n_docs = base.count()
    banded = base.withColumn(
        "_bk", F.explode(lsh_band_keys("_sig", bands, rows_per_band))
    ).select(id_col, "_bk")

    if max_band_docs is not None:
        # Skew guard: drop band buckets whose membership exceeds the cap
        # BEFORE the self-join, so no task ever materializes a hot
        # bucket's O(m²) pair space. The hot-key list is tiny by
        # construction (≤ bands·n/cap keys) — broadcast the anti-join.
        hot = (
            banded.groupBy("_bk")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") > max_band_docs)
        )
        # one collect for the overflow log; the anti-join recomputes the
        # (cheap, fed-from-persisted-base) aggregation rather than
        # persisting `hot`, which would leak executor storage for the
        # session lifetime (nothing here unpersists after the lazy
        # result's eventual action)
        stats = hot.agg(
            F.count(F.lit(1)).alias("k"), F.sum("_n").alias("docs")
        ).first()
        if stats["k"]:
            import logging

            logging.getLogger(__name__).warning(
                "minhash_lsh_pairs skew guard: dropping %d band buckets "
                "(%s member rows) exceeding max_band_docs=%d",
                stats["k"],
                stats["docs"],
                max_band_docs,
            )
        banded = banded.join(F.broadcast(hot.select("_bk")), "_bk", "left_anti")

    cand = (
        banded.alias("a")
        .join(banded.alias("b"), "_bk")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )

    # Verification: attach both shingle sets to each candidate pair. The
    # shingle table is per-DOCUMENT (n rows), the candidate table is
    # per-PAIR (can be O(cluster²) on templated corpora) — broadcasting
    # the doc side keeps the heavy pair relation from shuffling its
    # attached arrays. Auto-broadcast misses this (array payload
    # overshoots the 10MB size estimate), so hint explicitly — but ONLY
    # below broadcast_max_docs: the hint is honored regardless of actual
    # size, so past the cap we omit it and let the verification run as a
    # shuffled hash join on id (pairs shuffle slim (id_a, id_b) rows;
    # the shingle arrays ride exactly one exchange each).
    sh = base.select(F.col(id_col), F.col("_sh"))
    if n_docs <= broadcast_max_docs:
        sh = F.broadcast(sh)
    verified = (
        cand.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("_sh", "_sha"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("_sh", "_shb"), "id_b")
        .withColumn("jaccard_sim", jaccard(F.col("_sha"), F.col("_shb")))
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", "jaccard_sim")
    )
    return verified


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **kwargs,
) -> DataFrame:
    """Drop near-duplicates: keep the smallest id of each duplicate pair
    cluster (greedy: remove every id that appears as the larger side of a
    verified pair — single pass, no iterative connected components; for
    transitive-cluster canonicalization see ``connected_components``)."""
    pairs = minhash_lsh_pairs(df, text_col, id_col, **kwargs)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def _word_ngrams(text_col: str, n: int) -> Column:
    """Distinct word-n-gram set of a text column, as a pure expression
    (whitespace tokens, space-joined n-grams, empty set when < n words).

    r14: the token array is bound ONCE as a lambda variable (the
    1-element-array transform trick) — referencing the raw ``split()``
    expression from inside the position lambda re-evaluates the split
    PER N-GRAM POSITION (higher-order functions evaluate their whole
    function subtree per element; subexpression elimination does not
    hoist across lambda scopes), i.e. O(words²) per document. Measured
    2-3x on gram extraction at sf0.1 (0.9 -> 0.4 s for the 5000-doc
    corpus), byte-identical gram sets."""

    def grams_of(t):
        return F.array_distinct(
            F.when(
                F.size(t) >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size(t) - (n - 1)),
                    lambda i: F.array_join(F.slice(t, i, n), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        )

    return F.element_at(
        F.transform(F.array(tokens(F.col(text_col))), grams_of), 1
    )


def substring_dup_stats(
    docs: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Substring-level duplication profile (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" signal,
    re-expressed distributed): for every document, the number of its
    word-``n``-gram occurrences that also occur in at least one OTHER
    document. Doc-level MinHash misses boilerplate shared across
    otherwise-distinct pages; this catches it at span granularity.

    Scale shape (100 TB): ONE pass over the corpus — shingle TEXT never
    shuffles (each n-gram is hashed the moment it is formed;
    ``xxhash64`` → 8-byte key, collision odds ~2^-64 per pair), and the
    doc-frequency comes from a window over the per-(doc, hash) counts
    instead of a self-join back to the corpus (which Spark would plan as
    a SECOND full scan + re-shingling). Every exchange after the scan
    moves only (id, hash, count) triples: partial-agged groupBy
    (doc, hash), window partitioned by hash, final groupBy doc.
    ``hash_fn='md5_16'`` swaps in a 16-hex-char md5 prefix computable by
    any engine — the cross-engine oracle mode (tests pin both modes
    agree on every count at test scale).

    Returns (id_col, n_shingles, n_dup_shingles, flagged) where
    ``flagged`` = 1 when dup occurrences are >= half of all occurrences
    (integer cross-multiplication, no float ratio).
    """
    toks = tokens(F.col(text_col))
    base = docs.select(F.col(id_col), toks.alias("_toks")).filter(
        F.size("_toks") >= n
    )
    shingle = F.explode(
        F.transform(
            F.sequence(F.lit(1), F.size("_toks") - (n - 1)),
            lambda i: F.array_join(F.slice("_toks", i, n), " "),
        )
    ).alias("_shingle")
    if hash_fn == "xxhash64":
        h = F.xxhash64("_shingle")
    elif hash_fn == "md5_16":
        h = F.substring(F.md5("_shingle"), 1, 16)
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn}")
    hashed = base.select(id_col, shingle).select(
        id_col, h.alias("_h")
    )
    from pyspark.sql.window import Window

    per_doc = hashed.groupBy(id_col, "_h").agg(F.count("*").alias("_cnt"))
    # rows of per_doc are unique per (doc, hash), so a plain row count
    # over the hash partition IS the shingle's document frequency
    docs_with = F.count(F.lit(1)).over(Window.partitionBy("_h"))
    return (
        per_doc.withColumn("_docs_with", docs_with)
        .groupBy(id_col)
        .agg(
            F.sum("_cnt").alias("n_shingles"),
            F.sum(
                F.when(F.col("_docs_with") >= 2, F.col("_cnt")).otherwise(0)
            ).alias("n_dup_shingles"),
        )
        .withColumn(
            "flagged",
            (F.col("n_dup_shingles") * 2 >= F.col("n_shingles")).cast("int"),
        )
    )


def substring_span_removal(
    docs: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Exact-substring dedup as a TRANSFORM (the removal step of Lee et
    al. 2022, not just the report ``substring_dup_stats`` emits): delete
    every word-``n``-gram span that also occurs in at least one other
    document, merge overlapping/adjacent spans, and rebuild the cleaned
    text per document.

    Scale shape (100 TB): shingle text is hashed the moment it is formed
    — every exchange after the scan moves (id, position, hash) triples,
    never text. The duplicate-start set comes from one groupBy(hash)
    document-frequency pass joined back on the 8-byte hash; span
    merging is a per-document window over that document's duplicate
    starts (bounded by document length, never a global window); the
    cleaned text is rebuilt map-side with array HOFs from the covered-
    position set carried as one small array per document.
    ``hash_fn='md5_16'`` is the cross-engine oracle mode.

    Returns (id_col, n_tokens, n_removed, n_spans, cleaned_hash8) —
    ``n_removed`` counts deleted token positions, ``n_spans`` the merged
    removal spans (starts closer than ``n`` coalesce), ``cleaned_hash8``
    an md5 prefix of the space-rejoined surviving tokens (empty string
    when the whole document is boilerplate).
    """
    from pyspark.sql.window import Window

    toks = tokens(F.col(text_col))
    base = docs.select(F.col(id_col), toks.alias("_toks")).filter(
        F.size("_toks") >= n
    )
    # (start, shingle) pairs, 1-based starts; hash immediately
    pairs = F.explode(
        F.transform(
            F.sequence(F.lit(1), F.size("_toks") - (n - 1)),
            lambda i: F.struct(
                i.alias("i"),
                F.array_join(F.slice("_toks", i, n), " ").alias("sh"),
            ),
        )
    ).alias("_p")
    if hash_fn == "xxhash64":
        h = F.xxhash64(F.col("_p.sh"))
    elif hash_fn == "md5_16":
        h = F.substring(F.md5(F.col("_p.sh")), 1, 16)
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn}")
    hashed = base.select(id_col, pairs).select(
        id_col, F.col("_p.i").alias("_i"), h.alias("_h")
    )
    # document frequency WITHOUT a second corpus scan: fold each doc's
    # start positions for a hash into one row (starts are unique per
    # doc, so rows of per_doc are (doc, hash)-distinct and a plain row
    # count over the hash partition IS the hash's document frequency —
    # the substring_dup_stats shape), then explode the survivors back.
    per_doc = hashed.groupBy(id_col, "_h").agg(
        F.collect_list("_i").alias("_ps")
    )
    docs_with = F.count(F.lit(1)).over(Window.partitionBy("_h"))
    dup = (
        per_doc.withColumn("_dw", docs_with)
        .filter(F.col("_dw") >= 2)
        .select(id_col, F.explode("_ps").alias("_i"))
    )
    # both the span-merge branch and the covered-position branch read
    # dup; checkpoint the small (id, pos) frame so the corpus is
    # tokenized exactly once, not once per branch
    dup = dup.localCheckpoint(eager=True)
    # merged spans: a duplicate start opens a new span iff it begins
    # beyond the previous start's reach (same-width intervals → the
    # running max end is simply lag(start) + n - 1; adjacency merges)
    w = Window.partitionBy(id_col).orderBy("_i")
    spans = (
        dup.withColumn("_lg", F.lag("_i").over(w))
        .groupBy(id_col)
        .agg(
            F.sum(
                F.when(
                    F.col("_lg").isNull() | (F.col("_i") > F.col("_lg") + n),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_spans")
        )
    )
    cov = (
        dup.select(
            id_col,
            F.explode(
                F.sequence(F.col("_i"), F.col("_i") + (n - 1))
            ).alias("_cp"),
        )
        .distinct()
        .groupBy(id_col)
        .agg(
            F.collect_set("_cp").alias("_cov"),
            F.count("*").cast("bigint").alias("n_removed"),
        )
    )
    joined = base.join(cov, id_col, "left").join(spans, id_col, "left")
    cov_arr = F.coalesce(F.col("_cov"), F.array().cast("array<int>"))
    kept = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.size("_toks")),
            lambda p: F.when(
                ~F.array_contains(cov_arr, p), F.element_at("_toks", p)
            ),
        ),
        lambda x: x.isNotNull(),
    )
    return joined.select(
        id_col,
        F.size("_toks").cast("bigint").alias("n_tokens"),
        F.coalesce(F.col("n_removed"), F.lit(0).cast("bigint")).alias(
            "n_removed"
        ),
        F.coalesce(F.col("n_spans"), F.lit(0).cast("bigint")).alias(
            "n_spans"
        ),
        F.substring(F.md5(F.array_join(kept, " ")), 1, 8).alias(
            "cleaned_hash8"
        ),
    )


def contamination_overlap(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_shared: int = 3,
) -> DataFrame:
    """Benchmark decontamination (the GPT-3/PaLM-style eval-overlap
    check a pretraining pipeline runs before training): flag corpus
    documents sharing >= ``min_shared`` distinct word-``n``-grams with
    any eval-set document.

    Scale shape: the eval side is benchmarks — megabytes against a
    100 TB corpus — so its exploded posting list is **broadcast** and
    the corpus side never shuffles: explode grams, map-side hash join
    against the broadcast postings, partial-aggregated count per
    (train, eval) pair. One wide pass over the corpus, zero corpus
    shuffles before the (tiny) pair aggregation.

    Returns (train_id, eval_id, n_shared) with n_shared >= min_shared.
    """
    tr_post = _gram_postings(train, text_col, id_col, n, "train_id")
    ev_post = _gram_postings(eval_df, text_col, id_col, n, "eval_id")
    return _overlap_aggregate(tr_post, ev_post, min_shared)


def _bitmap_predicate(words: list, _positions):
    """Build the ``might_contain`` Column-predicate closure over a Bloom
    bitmap of 32-bit ``words`` — shared by the gram and key blooms.

    The bitmap rides in the plan as ONE BinaryType Literal of 4
    big-endian bytes per word (r14, guide §7.2 "read the plan"): the
    previous ``F.lit(words)`` spelling built a ``CreateArray`` with one
    child Literal per word — at the gram bloom's 1<<17 bits that is
    4096 nodes, referenced once per hash, so every plan carrying the
    predicate re-analyzed ~12k expression nodes and shipped them in the
    task binary. A streaming foreachBatch sink re-plans per micro-batch,
    which made this THE per-trigger fixed cost of the decontamination
    gate (~0.45 s planning per batch, measured). Packing the words into
    a single binary Literal and reading them back with
    ``conv(hex(substring(...)), 16, 10)`` keeps every bit test pure
    integer (word values are < 2^32, so the hex/conv round-trip is
    exact) while collapsing the plan to one node per reference. Binary
    — NOT string — substring matters: Spark slices BinaryType in
    O(slice) but walks StringType byte-by-byte for UTF-8 char
    boundaries, i.e. O(bitmap) per row (measured 38 s vs 0.6 s over
    260k grams on a 1<<17-bit map). The per-word bit is still an
    ``element_at`` on a 32-element array literal — small, and never
    routed through a float ``pow`` whose 1-ulp error a truncating cast
    would turn into a silent false negative.
    """
    _WORD = 32
    _POW2 = F.lit([1 << i for i in range(_WORD)]).cast("array<bigint>")
    bitmap = F.lit(b"".join(w.to_bytes(4, "big") for w in words))

    def _might_contain(kcol):
        cond = F.lit(True)
        for pos in _positions(kcol):
            widx = (pos / _WORD).cast("int")
            word = F.conv(
                F.hex(F.substring(bitmap, widx * 4 + 1, F.lit(4))), 16, 10
            ).cast("bigint")
            bit = F.element_at(
                _POW2, F.pmod(pos, F.lit(_WORD)).cast("int") + 1
            )
            cond = cond & (word.bitwiseAND(bit) != 0)
        return cond

    return _might_contain


def _gram_postings(
    df: DataFrame, text_col: str, id_col: str, n: int, out_id: str
) -> DataFrame:
    """(out_id, gram) posting list — ONE definition shared by the plain
    and Bloom-prefiltered decontamination paths, so their gram
    normalization can never drift apart (the Bloom path's exactness
    guarantee depends on it)."""
    g = df.select(
        F.col(id_col).alias(out_id), _word_ngrams(text_col, n).alias("_ng")
    )
    return g.select(out_id, F.explode("_ng").alias("_g"))


def _overlap_aggregate(
    tr_post: DataFrame, ev_post: DataFrame, min_shared: int
) -> DataFrame:
    """Shared verify tail: broadcast the (benchmark-sized) eval postings,
    count shared grams per (train, eval) pair."""
    return (
        tr_post.join(F.broadcast(ev_post), "_g")
        .groupBy("train_id", "eval_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def bloom_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_shared: int = 3,
    num_bits: int = 1 << 17,
    n_hashes: int = 3,
) -> DataFrame:
    """:func:`contamination_overlap` with a Bloom-filter prefilter on the
    corpus postings — the cheaper 100 TB form: the eval grams collapse
    into a ``num_bits``-bit Bloom bitmap that rides into the corpus scan
    as ONE array<bigint> literal (32 bits per word, like
    functions/vector.binary_quantize — ``pow(2, i)`` is float64-exact for
    i ≤ 31, so every bit test is a pure codegen'd expression; Spark's
    own ``bloom_filter_agg``/``might_contain`` are optimizer-internal and
    not SQL-callable). ``n_hashes`` independent positions per gram come
    from ``xxhash64(gram, seed)``. The bitmap prunes the overwhelming
    majority of corpus grams BEFORE the join; the join then verifies
    survivors exactly — false positives die there, false negatives are
    impossible — so the result is bitwise the plain path's (the gate
    query shares ds_decontaminate's oracle).

    Sizing: bits/item ≈ num_bits / distinct eval grams; ~10 bits/item at
    3 hashes gives ~2% FPP. The bitmap is num_bits/8 bytes regardless of
    eval size — the point over broadcasting the posting list. Building it
    collects the ~n_hashes × distinct-grams BIT POSITIONS (ints) to the
    driver — bounded by the bitmap's own size, never the corpus.
    """
    ev_post, might_contain = build_gram_bloom(
        eval_df, text_col, id_col, n, num_bits, n_hashes
    )
    tr_post = _gram_postings(train, text_col, id_col, n, "train_id").filter(
        might_contain(F.col("_g"))
    )
    return _overlap_aggregate(tr_post, ev_post, min_shared)


def build_gram_bloom(
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_bits: int = 1 << 17,
    n_hashes: int = 3,
):
    """Build the eval-gram Bloom bitmap ONCE and return
    ``(ev_post, might_contain)``: the eval posting frame and a
    Column-predicate closure over the bitmap literal. Split out of
    :func:`bloom_decontaminate` so a STREAMING decontamination gate can
    pay the (bounded, bitmap-sized) build a single time and reuse the
    literal across every micro-batch instead of re-collecting the eval
    positions per trigger."""
    _WORD = 32
    ev_post = _gram_postings(eval_df, text_col, id_col, n, "eval_id")

    def _positions(gcol):
        return [
            F.pmod(F.xxhash64(gcol, F.lit(s)), F.lit(num_bits))
            for s in range(n_hashes)
        ]

    pos_rows = (
        ev_post.select(F.explode(F.array(*_positions(F.col("_g")))).alias("p"))
        .distinct()
        .collect()
    )
    words = [0] * ((num_bits + _WORD - 1) // _WORD)
    for r in pos_rows:
        p = int(r["p"])
        words[p // _WORD] |= 1 << (p % _WORD)
    return ev_post, _bitmap_predicate(words, _positions)


def build_key_bloom(
    keys: DataFrame,
    key_col: str,
    num_bits: int = 1 << 14,
    n_hashes: int = 3,
):
    """Bloom bitmap literal over an arbitrary KEY column — the explicit
    runtime-filter / semi-join-reduction primitive (Spark's own
    ``bloom_filter_agg``/``might_contain`` are optimizer-internal, not
    SQL-callable). Returns a Column-predicate closure ``might_contain``
    to push into the FACT side's scan before the join shuffles anything:
    false positives die in the join itself, false negatives are
    impossible, so a bloom-pruned join is bitwise the plain join.

    Same machinery as :func:`build_gram_bloom` (xxhash64 positions,
    array<bigint> word literal, integer-only bit tests) generalized from
    n-grams to any column. Building collects DISTINCT bit positions —
    bounded by ``num_bits``, never by the key count.
    """
    _WORD = 32

    def _positions(kcol):
        return [
            F.pmod(F.xxhash64(kcol, F.lit(s)), F.lit(num_bits))
            for s in range(n_hashes)
        ]

    pos_rows = (
        keys.select(
            F.explode(F.array(*_positions(F.col(key_col)))).alias("p")
        )
        .distinct()
        .collect()
    )
    words = [0] * ((num_bits + _WORD - 1) // _WORD)
    for r in pos_rows:
        p = int(r["p"])
        words[p // _WORD] |= 1 << (p % _WORD)
    return _bitmap_predicate(words, _positions)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.3,
    max_df: int = 50,
) -> DataFrame:
    """Near-duplicate pairs by exact word-n-gram Jaccard similarity.

    Candidate generation is an inverted-index self-join: explode each
    document's distinct n-grams into a posting list, drop n-grams that
    occur in more than ``max_df`` documents (stop-gram guard — the
    longest posting list bounds the join fan-out, and frequent grams
    carry no dedup signal anyway), then join postings on the n-gram.
    Only documents sharing ≥1 rare-enough n-gram ever meet, so the
    O(n²) pair space never materializes; the shuffles are on the n-gram
    (bounded buckets) and on ids (verification join). Verification is
    exact Jaccard over the full distinct n-gram sets.

    Returns (id_a, id_b, jaccard_sim) with id_a < id_b and
    jaccard_sim >= threshold.
    """
    base, cand = _ngram_candidate_pairs(df, text_col, id_col, n, max_df)
    base.count()  # materialize the persisted gram table
    # no broadcast hint here: the max_df stop-gram cap bounds the
    # candidate set, and for a small pair frame the two gram-table
    # broadcast builds cost more than the shuffle they replace
    # (measured A/B at sf0.1; the gram-table broadcast is used by the
    # prefix-filter and containment VERIFICATION joins, whose pair
    # frames are unbounded by contract / containment-shaped)
    out = (
        _join_gram_sets(cand, base, id_col)
        .withColumn("jaccard_sim", jaccard(F.col("_nga"), F.col("_ngb")))
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", "jaccard_sim")
    )
    return _materialize_and_release(out, base)


# Rough per-gram / per-row UnsafeRow overheads for the broadcast size
# estimate below (offset+length slot, padding, array header): the gate
# needs the right order of magnitude, not exact bytes.
_GRAM_OVERHEAD_BYTES = 24
_DOC_ROW_OVERHEAD_BYTES = 64
# Default byte budget for broadcasting the per-doc gram table into the
# verification joins (r13 judged the raw 1M-doc gate OOM-risky: 1M docs
# x ~100 grams x ~20 chars is multi-GB). Guide §3.1: a few hundred MB
# broadcasts fine; the table is built into TWO joins, so budget each.
_GRAM_BROADCAST_MAX_BYTES = 256 << 20


def _base_stats(base: DataFrame) -> tuple[int, int]:
    """(n_docs, est_gram_bytes) in the ONE materializing pass over the
    persisted per-doc gram table (replaces the plain ``count()``):
    est = Σ_docs (row overhead + Σ_grams (octet_length + gram overhead)).
    Feeds the size-conditional broadcast gate (guide §3.1 — estimate the
    REAL payload; Spark's own estimate inflates on array columns, and a
    doc-count cap alone lets a long-document corpus build a multi-GB
    broadcast)."""
    row = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.aggregate(
                "_ng",
                F.lit(_DOC_ROW_OVERHEAD_BYTES).cast("bigint"),
                lambda acc, g: acc
                + F.octet_length(g).cast("bigint")
                + F.lit(_GRAM_OVERHEAD_BYTES),
            )
        ).alias("b"),
    ).first()
    return int(row["n"]), int(row["b"] or 0)


def _ngram_candidate_pairs(
    df: DataFrame, text_col: str, id_col: str, n: int, max_df: int
):
    """Shared inverted-index candidate generation for the n-gram pair
    scorers (Jaccard / containment): rare-gram postings self-join, so
    only documents sharing >=1 sub-max_df gram ever meet. Returns the
    persisted per-doc gram table, which the caller materializes with the
    one pass it needs (a count, or :func:`_base_stats`), and the
    candidate pairs."""
    # spread the n-gram extraction across cores (single-file inputs
    # scan as one partition; no-op at scale)
    base = ensure_min_parallelism(df).select(
        F.col(id_col), _word_ngrams(text_col, n).alias("_ng")
    )
    # reused by the posting explode (twice, via the self-join) and both
    # verification joins — persist (the caller materializes it eagerly)
    # so parallel first stages don't race-recompute the n-gram arrays
    base = base.persist()
    posting = base.select(F.col(id_col), F.explode("_ng").alias("_g"))
    rare = (
        posting.groupBy("_g").count().filter(F.col("count") <= max_df).drop("count")
    )
    posting = posting.join(rare, "_g")
    cand = (
        posting.alias("a")
        .join(posting.alias("b"), "_g")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    return base, cand


def _materialize_and_release(out: DataFrame, base: DataFrame) -> DataFrame:
    """Pin the (small) pair result via localCheckpoint, then unpersist the
    full gram-array cache — without this every call leaks one corpus-sized
    persisted copy into executor storage for the session lifetime."""
    out = out.localCheckpoint(eager=True)
    base.unpersist()
    return out


def _join_gram_sets(
    cand: DataFrame,
    base: DataFrame,
    id_col: str,
    broadcast_base: bool = False,
) -> DataFrame:
    """Attach both docs' gram arrays to each candidate pair.

    ``broadcast_base=True`` (size-conditional at the caller, the
    minhash_lsh_pairs ``broadcast_max_docs`` discipline) broadcasts the
    per-doc gram table into BOTH verification joins, so the candidate
    frame streams map-side and the gram arrays never enter a shuffle —
    the old shape exchanged the pair frame twice with an attached
    ~|grams|-string array per row (guide §2.3 "shuffle keys, not
    payloads"). Auto-broadcast misses this: the array payload inflates
    the size estimate."""
    a = base.select(F.col(id_col).alias("id_a"), F.col("_ng").alias("_nga"))
    b = base.select(F.col(id_col).alias("id_b"), F.col("_ng").alias("_ngb"))
    if broadcast_base:
        # both joins are then map-side over the CANDIDATE side — which
        # AQE typically coalesced to one tiny partition at the upstream
        # distinct, serializing the whole intersect/union verification
        # on one core; spread it first (the pair frame is ids-only, so
        # the shuffle is a few bytes/row)
        return (
            ensure_min_parallelism(cand)
            .join(F.broadcast(a), "id_a")
            .join(F.broadcast(b), "id_b")
        )
    return cand.join(a, "id_a").join(b, "id_b")


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    tau_num: int = 3,
    tau_den: int = 5,
    broadcast_max_docs: int = 1_000_000,
    broadcast_max_bytes: int = _GRAM_BROADCAST_MAX_BYTES,
) -> DataFrame:
    """Set-similarity self-join by PREFIX FILTERING (the All-Pairs /
    PPJoin candidate scheme of Bayardo et al. WWW'07 and Xiao et al.
    WWW'08, the published scalable algorithm for exact-threshold
    similarity joins): order every document's distinct word-n-grams by
    a global canonical order (document frequency asc, gram asc — rarest
    first), keep only each doc's first ``s - ceil(tau*s) + 1`` grams as
    its probing prefix, and join docs on SHARED PREFIX GRAMS only.

    Unlike the rare-gram candidate cap (``ngram_jaccard_pairs``'s
    ``max_df`` stop-gram guard, which silently misses pairs sharing
    only frequent grams), prefix filtering is LOSSLESS: Jaccard >= tau
    implies the intersection has >= ceil(tau*max(sa, sb)) grams, and
    the prefix lemma then guarantees the two prefixes share >= 1 gram
    — so after exact verification the output EQUALS the brute-force
    join, by theorem. The threshold compare is an integer
    cross-multiply (``tau_den * inter >= tau_num * union``), never a
    float epsilon.

    Scale shape (100 TB): df counting and the prefix self-join shuffle
    only (gram, id) postings — and only the PREFIX postings, which the
    canonical order biases toward the rarest grams, so the heaviest
    posting lists (stop-grams) never enter the join; the global order
    is never materialized as a global rank (each doc sorts its OWN
    grams in a per-doc window); verification touches candidate pairs
    only. Returns (id_a, id_b, n_inter, n_union, jaccard_micro) with
    id_a < id_b and Jaccard >= tau_num/tau_den.
    """
    from pyspark.sql.window import Window

    # spread the n-gram extraction across cores (single-file inputs
    # scan as one partition; no-op at scale)
    base = ensure_min_parallelism(df).select(
        F.col(id_col), _word_ngrams(text_col, n).alias("_ng")
    )
    base = base.persist()
    n_docs, est_bytes = _base_stats(base)
    posting = base.select(
        F.col(id_col), F.size("_ng").alias("_s"), F.explode("_ng").alias("_g")
    )
    dfreq = posting.groupBy("_g").agg(F.count(F.lit(1)).alias("_df"))
    # NOTE(r14, measured and REJECTED): restructuring this dfreq-join +
    # per-doc row_number window into one groupBy(id) with an in-array
    # sort-and-slice (array_sort(collect_list(struct(_df, _g))) +
    # posexplode(slice(...))) produces the identical prefix rows but
    # measured equal-to-slower at sf0.1 (window 0.63-0.97 s vs array
    # 0.83-0.97 s over 3 interleaved noop reps) — same two shuffles
    # either way, and the per-group array build/sort costs more than
    # WindowExec's run-sort. Kept the window spelling.
    ranked = posting.join(dfreq, "_g").withColumn(
        "_pos",
        F.row_number().over(
            Window.partitionBy(id_col).orderBy(F.asc("_df"), F.asc("_g"))
        ),
    )
    # p = s - ceil(tau*s) + 1, ceil via pure integer arithmetic
    prefix = ranked.filter(
        F.col("_pos")
        <= F.col("_s")
        - F.expr(f"(({tau_num} * _s + {tau_den - 1}) div {tau_den})")
        + 1
    ).select(F.col(id_col), F.col("_s"), F.col("_pos"), F.col("_g"))
    # PPJoin POSITIONAL filter (Xiao et al. WWW'08 §3.2), r13: for a
    # shared gram at canonical positions (pa, pb), every common gram
    # sorts consistently before or after it in BOTH docs, so
    # inter <= min(pa-1, pb-1) + 1 + min(sa-pa, sb-pb); J >= tau needs
    # inter >= tau_num*(sa+sb)/(tau_num+tau_den). LOSSLESS: a true pair
    # has inter >= alpha, and the bound >= inter at EVERY shared gram,
    # so all its join rows survive into the distinct — only
    # cannot-qualify candidates are pruned before the expensive
    # verification join (integer cross-multiply, no ceil/floats).
    pos_bound = (
        F.least(F.col("a._pos"), F.col("b._pos"))
        - F.lit(1)
        + F.lit(1)
        + F.least(
            F.col("a._s") - F.col("a._pos"),
            F.col("b._s") - F.col("b._pos"),
        )
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "_g")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        # lossless length filter: J >= tau needs tau_den*min >= tau_num*max
        .filter(
            F.lit(tau_den) * F.least(F.col("a._s"), F.col("b._s"))
            >= F.lit(tau_num) * F.greatest(F.col("a._s"), F.col("b._s"))
        )
        .filter(
            F.lit(tau_num + tau_den) * pos_bound
            >= F.lit(tau_num) * (F.col("a._s") + F.col("b._s"))
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    # size-conditional broadcast (guide §3.1): doc-count cap AND a byte
    # budget on the estimated gram payload — the r13 doc-count-only gate
    # let a ~1M-doc corpus of long documents attempt a multi-GB
    # broadcast build (r13 VERDICT "what's wrong" #2)
    out = (
        _join_gram_sets(
            cand,
            base,
            id_col,
            broadcast_base=(
                n_docs <= broadcast_max_docs
                and est_bytes <= broadcast_max_bytes
            ),
        )
        .withColumn(
            "n_inter",
            F.size(F.array_intersect("_nga", "_ngb")).cast("bigint"),
        )
        # |A ∪ B| = |A| + |B| − |A ∩ B| (the gram arrays are distinct
        # sets by construction) — replaces the per-pair
        # array_distinct(concat(...)) hash-set build with two size()
        # lookups; identical integers (r13)
        .withColumn(
            "n_union",
            (
                F.size("_nga") + F.size("_ngb")
            ).cast("bigint")
            - F.col("n_inter"),
        )
        .filter(
            F.lit(tau_den) * F.col("n_inter")
            >= F.lit(tau_num) * F.col("n_union")
        )
        .withColumn(
            "jaccard_micro",
            F.floor(
                F.col("n_inter").cast("double")
                / F.col("n_union").cast("double")
                * F.lit(1000000.0)
                + F.lit(0.5)
            ).cast("bigint"),
        )
        .select("id_a", "id_b", "n_inter", "n_union", "jaccard_micro")
    )
    return _materialize_and_release(out, base)


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.6,
    max_df: int = 50,
    broadcast_max_docs: int = 1_000_000,
    broadcast_max_bytes: int = _GRAM_BROADCAST_MAX_BYTES,
) -> DataFrame:
    """Near-duplicate pairs by n-gram CONTAINMENT of the smaller set:
    |A ∩ B| / min(|A|, |B|). Catches a short document embedded inside a
    long one, where symmetric Jaccard is diluted by the longer
    document's extra grams (the asymmetric-duplication case in crawl
    corpora). Same candidate machinery and shuffle bounds as
    :func:`ngram_jaccard_pairs`."""
    base, cand = _ngram_candidate_pairs(df, text_col, id_col, n, max_df)
    n_docs, est_bytes = _base_stats(base)
    inter = F.size(F.array_intersect(F.col("_nga"), F.col("_ngb"))).cast(
        "double"
    )
    smaller = F.least(
        F.size(F.col("_nga")), F.size(F.col("_ngb"))
    ).cast("double")
    out = (
        _join_gram_sets(
            cand,
            base,
            id_col,
            # doc-count cap AND byte budget (guide §3.1; r13 VERDICT #2)
            broadcast_base=(
                n_docs <= broadcast_max_docs
                and est_bytes <= broadcast_max_bytes
            ),
        )
        .withColumn("containment", inter / smaller)
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )
    return _materialize_and_release(out, base)


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash: candidates share ≥1 of ``chunks``
    bit-chunks (pigeonhole: any pair within hamming d < chunks agrees on
    some chunk), then exact hamming verification."""
    chunk_bits = bits // chunks
    mask = (1 << chunk_bits) - 1
    # both sides of the chunk self-join reuse the fingerprints: pin them
    # eagerly (parallel scan stages would race-recompute them), and with
    # localCheckpoint, not persist(), so no later call over the same
    # source is served from this call's cache
    base = df.select(
        F.col(id_col), simhash(F.col(text_col), bits).alias("_sh")
    ).localCheckpoint(eager=True)
    chunked = base.select(
        id_col,
        "_sh",
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"c{i}:"),
                        F.shiftright(F.col("_sh"), i * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .cast("string"),
                    )
                    for i in range(chunks)
                ]
            )
        ).alias("_ck"),
    )
    cand = (
        chunked.alias("a")
        .join(chunked.alias("b"), "_ck")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a._sh").alias("_sha"),
            F.col("b._sh").alias("_shb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", hamming_distance(F.col("_sha"), F.col("_shb"), bits))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def embedding_top_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = None,
    top: int = 20,
) -> DataFrame:
    """Most-similar pairs by cosine over the vector column.

    With ``block_col`` the join is blocked (equi-join on the block key →
    per-block pair space only); without it, a full cross join — only for
    small inputs. At scale, block on an IVF list_id (operators/ivf.py)
    for sub-quadratic near-dup discovery."""
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        *([F.col(block_col).alias("_blk")] if block_col else []),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        *([F.col(block_col).alias("_blk")] if block_col else []),
    )
    pairs = a.join(b, "_blk") if block_col else a.crossJoin(b)
    out_block = [F.col("_blk").alias(block_col)] if block_col else []
    return (
        pairs.filter(F.col("id_a") < F.col("id_b"))
        .withColumn("similarity", cosine_similarity("_va", "_vb"))
        .select(*out_block, "id_a", "id_b", "similarity")
        .orderBy(F.col("similarity").desc(), F.col("id_a").asc(), F.col("id_b").asc())
        .limit(top)
    )


def embedding_near_dup_survivors(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = None,
    threshold: float = 0.3,
) -> DataFrame:
    """Embedding-cosine dedup with "dominated-by-earlier" semantics: a row
    survives iff NO smaller-id row in its block is cosine-similar above
    ``threshold``. (This over-drops relative to greedy sequential dedup —
    a row similar only to an already-dropped row is still dropped — but it
    is order-independent, one-pass, and SQL-expressible, which is why
    large pipelines use it; exact greedy needs the iterative
    :func:`connected_components` + min-id canonical pick.)

    Scale: pair space is bounded by the block (label here; IVF ``list_id``
    at 100 TB), the dominated set is distinct ids only (small), and the
    final step is a left-anti hash join — no O(n²) materialization."""
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        *([F.col(block_col).alias("_blk")] if block_col else []),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        *([F.col(block_col).alias("_blk")] if block_col else []),
    )
    pairs = a.join(b, "_blk") if block_col else a.crossJoin(b)
    dominated = (
        pairs.filter(F.col("id_a") < F.col("id_b"))
        .filter(cosine_similarity("_va", "_vb") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return df.join(dominated, id_col, "left_anti")


def embedding_near_dup_survivors_ivf(
    df: DataFrame,
    index,
    assign: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.3,
) -> DataFrame:
    """:func:`embedding_near_dup_survivors` with IVF blocking — the actual
    100 TB shape (the label-blocked variant needs a semantic label; this
    one manufactures blocks from the data's own geometry).

    Every row is MULTI-ASSIGNED to its ``assign`` nearest IVF centroids
    (``index`` — operators/ivf.IVFIndex, cosine metric) via the same
    distributed centroid-broadcast + WindowGroupLimit ranking the batch
    ANN search uses — no driver collect. Pairs are generated per
    ``list_id`` block only; multi-assignment recovers near-boundary pairs
    a single-assignment blocking would miss. ``assign = lists``
    degenerates to the exact unblocked dedup (every pair co-blocked),
    which is the oracle for the registry entry; recall at partial
    ``assign`` is pinned in tests/test_text_dedup.py.

    Scale: pair space is sum over lists of (rows assigned)² instead of
    n²; the dominated set is distinct ids; the final step is a left-anti
    hash join. Everything shuffles on list_id / id only — vectors never
    shuffle more than ``assign`` copies.
    """
    if index.metric != "cosine":
        raise NotImplementedError(
            "embedding_near_dup_survivors_ivf requires a cosine IVF index "
            "(the distributed centroid ranking and the similarity "
            "threshold are both cosine); got metric="
            f"{index.metric!r}"
        )
    probe = index._probe_table_distributed(
        df.select(F.col(id_col).alias("_qid"), F.col(vec_col).alias("_qv0")),
        nprobe=assign,
        q_id_col="_qid",
        q_vec_col="_qv0",
    )
    a = probe.select(
        F.col("_qid").alias("id_a"), "list_id", F.col("_qv").alias("_va")
    )
    b = probe.select(
        F.col("_qid").alias("id_b"), "list_id", F.col("_qv").alias("_vb")
    )
    dominated = (
        a.join(b, "list_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cosine_similarity("_va", "_vb") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return df.join(dominated, id_col, "left_anti")


def _cc_edges(pairs: DataFrame) -> DataFrame:
    """Symmetrized, deduped, PERSISTED edge list — materialized once so
    no iteration re-runs the (arbitrarily expensive) pairs lineage."""
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
        .persist()
    )
    edges.count()
    return edges


def _cc_round_frame(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """ONE label-propagation round, pre-checkpoint: the convergence
    check rides the SAME aggregate (r13) — each node's own row carries
    its old label in a side column (contributed rows carry NULL, max()
    ignores them; every node has an own row since the edge list is
    symmetrized), so `changed` is a local filter-count on the
    checkpointed frame instead of a second prop⋈labels join per round.
    min(component) folds the identical candidate set as the old
    spelling — propagation is bit-for-bit unchanged. Exactly one join
    and one shuffle per round; shape pinned in tests/test_plans.py."""
    contrib = edges.join(labels, edges.src == labels.id).select(
        F.col("dst").alias("id"),
        F.col("component"),
        F.lit(None).cast(labels.schema["component"].dataType).alias("_old"),
    )
    own = labels.select(
        "id", "component", F.col("component").alias("_old")
    )
    return (
        contrib.union(own)
        .groupBy("id")
        .agg(
            F.min("component").alias("component"),
            F.max("_old").alias("_old"),
        )
    )


def _cc_propagate(
    edges: DataFrame, labels: DataFrame, rounds: int
) -> tuple[DataFrame, int | None, int]:
    """Up to ``rounds`` min-label propagation rounds from ``labels``
    (each one shuffle). Returns (labels, converged_at, last_changed):
    ``converged_at`` is the 1-based round whose propagation changed
    nothing (None if the budget ran out first). Propagation is
    monotone — labels only decrease toward the fixpoint — so the
    returned labels are valid partial progress a caller may RESUME
    from with a bigger budget (connected_components_adaptive)."""
    changed = -1
    for i in range(rounds):
        # One materialization per round — see _cc_round_frame for the
        # r13 single-join/single-shuffle round shape (split out so the
        # PRE-checkpoint stage plan is pin-able in tests/test_plans.py,
        # r14: the checkpointed loop hides it from any later explain).
        prop = _cc_round_frame(edges, labels).localCheckpoint()
        changed = prop.filter(F.col("component") != F.col("_old")).count()
        labels = prop.select("id", "component")
        if not changed:
            return labels, i + 1, 0
    return labels, None, changed


def connected_components_adaptive(
    pairs: DataFrame, initial_iter: int = 4, max_total_iter: int = 64
) -> tuple[DataFrame, dict]:
    """The RECOVERY playbook for :func:`connected_components`'s loud
    failure (r10 VERDICT item #7): start with a small round budget and
    DOUBLE it on non-convergence, RESUMING from the partial labels
    (monotone propagation makes them valid input) — a deep chain costs
    exactly the rounds its diameter demands plus the final confirming
    round, never a restart. Each extra round is one more
    edges⋈labels shuffle (per-round cost measured in
    docs/SCALE_AUDIT.md). Still fails loud at ``max_total_iter``:
    unbounded escalation on a pathological graph would be the silent
    cost overrun this family refuses.

    Returns (labels, stats) where stats = {"rounds_total": cumulative
    propagation rounds run, "escalations": number of budget doublings,
    "final_budget": the budget in force at convergence}."""
    if initial_iter < 1:
        raise ValueError(f"initial_iter must be >= 1, got {initial_iter}")
    edges = _cc_edges(pairs)
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    budget = initial_iter
    total = 0
    escalations = 0
    try:
        while True:
            grant = min(budget, max_total_iter - total)
            labels, converged_at, changed = _cc_propagate(
                edges, labels, grant
            )
            total += converged_at if converged_at is not None else grant
            if converged_at is not None:
                return labels, {
                    "rounds_total": total,
                    "escalations": escalations,
                    "final_budget": budget,
                }
            if total >= max_total_iter:
                raise RuntimeError(
                    f"connected_components_adaptive did not converge "
                    f"within {max_total_iter} total rounds ({changed} "
                    f"labels still changing) — component diameter "
                    f"exceeds the escalation ceiling"
                )
            budget *= 2
            escalations += 1
    finally:
        edges.unpersist()


def connected_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Small-world connected components over dup pairs (id_a, id_b) →
    (id, component) where component = min id reachable. Label-propagation
    loop; each iteration is one shuffle. Converges in O(diameter)
    iterations — dup clusters are shallow, so a handful in practice.

    FAILS LOUD on non-convergence: if ``max_iter`` rounds complete with
    labels still changing (a chain-shaped component whose diameter
    exceeds ``max_iter``), raises RuntimeError rather than silently
    returning partially-propagated labels. At 100 TB a silent partial
    answer would mislabel every long chain, and every cluster-dedup
    survivor op rests on this loop — wrong-but-quiet is the one failure
    mode it must not have. Raise the ``max_iter`` budget for deep
    graphs; each extra round is one more shuffle."""
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    # The pairs lineage can be arbitrarily expensive (LSH banding +
    # verification) — materialize the edge list ONCE; every iteration
    # joins against this cached table, never the upstream pipeline.
    edges = _cc_edges(pairs)
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    try:
        labels, converged_at, changed = _cc_propagate(
            edges, labels, max_iter
        )
        if converged_at is None:
            raise RuntimeError(
                f"connected_components did not converge within "
                f"{max_iter} iterations ({changed} labels still "
                f"changing) — component diameter exceeds the round "
                f"budget; raise max_iter or use "
                f"connected_components_adaptive"
            )
    finally:
        edges.unpersist()
    return labels


class MinHashIndex:
    """Persisted MinHash/LSH state for INCREMENTAL dedup — the
    continuous-crawl shape: dedupe each incoming batch against the whole
    corpus seen so far WITHOUT re-shingling the corpus.

    The state is the banded key table ``(doc_id, band_key)`` plus the
    per-doc shingle arrays, partitioned by a band-key bucket so a batch
    probe is a pruned join, not a corpus scan. ``check(batch)`` returns
    the batch rows that near-duplicate an already-seen doc; ``add``
    appends the batch's keys/shingles to the state. One batch = one
    bounded join against matching buckets + one append; existing state
    files are never rewritten.
    """

    N_BUCKETS = 64

    def __init__(
        self,
        spark,
        path: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        shingle_k: int = 5,
        num_hashes: int = 16,
        bands: int = 4,
        threshold: float = 0.5,
    ) -> None:
        self.spark = spark
        self.path = path
        self.text_col = text_col
        self.id_col = id_col
        self.shingle_k = shingle_k
        self.num_hashes = num_hashes
        self.bands = bands
        self.threshold = threshold

    def _prepared(self, df: DataFrame) -> DataFrame:
        sh = _xxhash_shingles_sql(
            char_shingles_sql(col_sql(self.text_col), self.shingle_k)
        )
        base = df.select(F.col(self.id_col), F.expr(sh).alias("_sh")).withColumn(
            "_sig", minhash_signature("_sh", self.num_hashes, hash_fn="xxhash64")
        )
        banded = base.withColumn(
            "_bk",
            F.explode(
                lsh_band_keys("_sig", self.bands, self.num_hashes // self.bands)
            ),
        ).select(self.id_col, "_sh", "_bk")
        return banded.withColumn(
            "_bucket", F.pmod(F.xxhash64("_bk"), F.lit(self.N_BUCKETS))
        )

    def exists(self) -> bool:
        import os

        return os.path.exists(self.path)

    def add(self, df: DataFrame) -> None:
        (
            self._prepared(df)
            .repartition("_bucket")
            .write.mode("append")
            .partitionBy("_bucket")
            .parquet(self.path)
        )

    def check(self, batch: DataFrame) -> DataFrame:
        """(batch_id, seen_id, jaccard_sim) for batch docs whose verified
        jaccard vs some already-seen doc clears the threshold. The probe
        joins only the state buckets the batch's band keys hash into
        (partition pruning on _bucket), and the batch side broadcasts —
        the corpus-sized state never shuffles."""
        probe = self._prepared(batch)
        if not self.exists():
            return (
                probe.select(
                    F.col(self.id_col).alias("batch_id"),
                    F.col(self.id_col).alias("seen_id"),
                    F.lit(0.0).alias("jaccard_sim"),
                ).limit(0)
            )
        buckets = [r["_bucket"] for r in probe.select("_bucket").distinct().collect()]
        state = self.spark.read.parquet(self.path).filter(
            F.col("_bucket").isin(buckets)
        )
        p = probe.select(
            F.col(self.id_col).alias("batch_id"),
            F.col("_sh").alias("_shb"),
            "_bk",
        )
        cand = (
            state.join(F.broadcast(p), "_bk")
            .select(
                F.col(self.id_col).alias("seen_id"),
                "batch_id",
                "_sh",
                "_shb",
            )
            .dropDuplicates(["seen_id", "batch_id"])
        )
        return (
            cand.withColumn("jaccard_sim", jaccard(F.col("_sh"), F.col("_shb")))
            .filter(F.col("jaccard_sim") >= self.threshold)
            .select("batch_id", "seen_id", "jaccard_sim")
        )

    def ingest(self, batch: DataFrame) -> DataFrame:
        """check + add in one call: returns the batch's SURVIVORS (rows
        not near-duplicating seen docs) and registers the survivors —
        not the dups — as seen. The streaming-dedup loop body."""
        dups = self.check(batch).select("batch_id").distinct()
        survivors = batch.join(
            dups.withColumnRenamed("batch_id", self.id_col),
            self.id_col,
            "left_anti",
        )
        # localCheckpoint (GC-owned blocks) instead of persist(): ingest
        # is called once per batch in a continuous-crawl loop, and a
        # never-unpersisted cache would leak one frame per batch for the
        # session lifetime.
        survivors = survivors.localCheckpoint(eager=True)
        self.add(survivors)
        return survivors
