"""Full-text relevance search: Okapi BM25 top-k over a document table.

The reference delegates all text querying to Postgres (ILIKE patterns,
e.g. demo/similarity_search_demo.py:76,85,92); Postgres' own full-text
surface (tsvector ranking) is the natural extension a user of that stack
reaches for next. Spark-first design (the r13 one-pass shape):

  tokenize ONCE -> compact per-doc tf frame   [(id, dl, tf_i per query
                                               term): a handful of ints
                                               per doc, EAGERLY
                                               localCheckpoint'ed — so
                                               bm25_topk runs jobs at
                                               construction time and the
                                               frame costs O(|docs|)
                                               executor storage]
  corpus stats (N, avgdl, df per term)        [one aggregate over that
                                               frame; idf folds to plan
                                               literals driver-side]
  unpivot -> per-term score -> sum per doc    [the ONE wide exchange:
                                               the doc_id score agg]
  top-k via TakeOrderedAndProject             [no global sort]

Above _PER_DOC_TF_MAX_TERMS query terms (a large batch's union
vocabulary) the per-doc spelling would rescan each token array per term
and checkpoint a very wide row, so it falls back to the classic
tokenize -> explode -> (doc_id, term) groupBy, whose per-doc cost is
|terms|-independent (r14; identical integers either way).

Everything is built-in JVM expressions (no Python UDF). The per-term
scores are fixed to an integer grid (floor(x*1e6 + 0.5) micro-units)
before the final SUM so the aggregate is an order-independent BIGINT sum
— bit-exact against the DuckDB oracle regardless of partition count.

Determinism note (r6): the score pipeline contains NO engine
transcendental. JVM ``Math.log`` and DuckDB's libm ``ln`` are each
allowed 1-ulp slack and use different implementations, so the same
``ln()`` input can produce doubles 1 ulp apart across engines — enough
to flip ``floor(x*1e6 + 0.5)`` at a grid knife-edge (the r3-r5
driver-gate divergence on stream_bm25_ingest). The idf term
``ln((n - df + 0.5)/(df + 0.5) + 1)`` is exactly ``ln(2n+2) - ln(2df+1)``
— two logs of INTEGERS — and ``ln_bigint`` below evaluates those using
only exactly-rounded IEEE-754 ops (integer bit-length range reduction +
atanh Horner series), so Spark and DuckDB produce bitwise-identical
doubles by construction. All float literals (k1+1, 1-b, ln 2, series
coefficients) are precomputed in Python and embedded identically on
both sides.

At 100 TB: the only wide exchange on the default path is the doc_id
score aggregation (plus the (doc_id, term) tf groupBy on the
wide-vocabulary fallback); df/N/avgdl are scalar or |terms|-row side
inputs folded to literals. Matching is evaluated per doc against the
query terms, so the shuffled volume is O(docs with a match), never
O(corpus tokens).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pgvector_db_spark.sources.commitlog import commit_json, file_lock, read_json
from pgvector_db_spark.utils import local_rows_df

TOKEN_PATTERN = r"\s+"

def _ln_bigint_sql(m: str) -> str:
    from pgvector_db_spark.functions.detmath import ln_bigint_sql

    return ln_bigint_sql(m, "duckdb")


def tokens_col(text_col):
    """Whitespace tokenization of lowercased, trimmed text (parity with the
    corpus tokenizer used by the dedup/quality operators)."""
    return F.split(F.trim(F.lower(text_col)), TOKEN_PATTERN)


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k documents by BM25 relevance to a bag of query terms.

    Returns (id_col, score_micro BIGINT, n_matched) — score in 1e-6 units
    on the integer grid (exact, engine-independent); callers wanting the
    float divide by 1e6.

    r13 optimization (guide §1.2/§2.3): the corpus is tokenized ONCE
    into a checkpointed per-doc tf frame (id, dl, tf per query term —
    a handful of ints/doc), instead of two full tokenize passes (stats
    aggregate + posting explode). Stats fold from the compact frame;
    the scoring tail consumes its unpivot, so the explode+isin over
    EVERY corpus token and the (id, term) groupBy shuffle are gone.
    tf(t) = size(filter(toks, x -> x = t)) equals the old
    explode-count, df(t) = count(tf > 0) equals SUM(array_contains) —
    same integers into the same ``_score_and_topk`` fold.
    """
    tf, n_docs, sum_dl, df_by_term = _per_doc_tf(
        docs, list(dict.fromkeys(query_terms)), id_col, text_col
    )
    return _score_and_topk(tf, n_docs, sum_dl, df_by_term, k, k1, b, id_col)


# Crossover for the two _per_doc_tf spellings (r14, VERDICT #3): the
# per-doc spelling evaluates size(filter(toks, x = t)) once per term —
# O(|terms| x |tokens|) per document and one checkpointed column per
# term — so its cost grows linearly in |terms| while the explode
# spelling pays a fixed two corpus passes + one (id, term) shuffle
# regardless of |terms|. Measured at sf0.1 (5000 docs, interleaved,
# min of 2, tf-frame construction + count): per-doc
# 0.90/1.19/1.80/1.78/1.80/1.41 s vs explode
# 0.88/0.83/0.83/0.78/0.80/0.65 s at 4/16/32/64/128/256 terms — equal
# at 4 terms, explode ahead from 16 up. 16 keeps every registered
# query (point queries and the 12-term batch union) on the r13-pinned
# one-pass plan; larger batch vocabularies take the explode path.
_PER_DOC_TF_MAX_TERMS = 16


def _per_doc_tf(
    docs: DataFrame, terms: list, id_col: str, text_col: str
):
    """ONE tokenize pass shared by the BM25 scan paths: a checkpointed
    compact frame (id, dl, tf_i per term) feeds BOTH the driver stats
    fold and the long-form (id, term, tf, dl) scoring input. Returns
    (tf_long, n_docs, sum_dl, df_by_term); tf_long has tf > 0 rows
    only, bitwise-identical integers to the explode+groupBy spelling.
    The two-step select keeps exactly one split() per row: Catalyst's
    CollapseProject refuses to inline a non-cheap expression referenced
    more than once.

    Above ``_PER_DOC_TF_MAX_TERMS`` query terms (a large batch's union
    vocabulary) the per-term filter-count columns turn O(|terms| x
    |tokens|) per doc and the checkpointed row very wide — fall back to
    the explode+groupBy spelling, which produces the identical multiset
    (pinned by tests/test_text_dedup.py)."""
    if len(terms) > _PER_DOC_TF_MAX_TERMS:
        return _per_doc_tf_explode(docs, terms, id_col, text_col)
    # NOTE(r13): measured A/B rejected an ensure_min_parallelism
    # repartition here — whitespace tokenize + per-term filter counts
    # are light enough that the extra exchange costs more than the
    # parallelism buys on a single-partition corpus scan
    base = docs.select(
        F.col(id_col), tokens_col(F.col(text_col)).alias("_toks")
    )

    def _eq(term):
        # single-arg lambda factory: a default-arg lambda would have
        # arity 2 and PySpark would bind the array INDEX to it
        return lambda x: x == F.lit(term)

    pdf = base.select(
        F.col(id_col),
        F.size("_toks").alias("dl"),
        *[
            F.size(F.filter(F.col("_toks"), _eq(t)))
            .cast("bigint")
            .alias(f"_tf_{i}")
            for i, t in enumerate(terms)
        ],
    ).localCheckpoint(eager=True)
    srow = pdf.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"_tf_{i}") > 0).cast("bigint")).alias(f"_df_{i}")
            for i in range(len(terms))
        ],
    ).first()
    n_docs, sum_dl = int(srow["n_docs"]), int(srow["sum_dl"] or 0)
    df_by_term = {
        t: int(srow[f"_df_{i}"] or 0) for i, t in enumerate(terms)
    }
    if not terms:
        return pdf.select(
            F.col(id_col),
            F.lit("").alias("term"),
            F.lit(0).cast("bigint").alias("tf"),
            F.col("dl"),
        ).filter(F.lit(False)), n_docs, sum_dl, df_by_term
    entries = F.array(
        *[
            F.struct(
                F.lit(t).alias("term"),
                F.col(f"_tf_{i}").alias("tf"),
            )
            for i, t in enumerate(terms)
        ]
    )
    tf_long = (
        pdf.select(F.col(id_col), F.col("dl"), F.explode(entries).alias("_e"))
        .select(
            F.col(id_col),
            F.col("_e.term").alias("term"),
            F.col("_e.tf").alias("tf"),
            F.col("dl"),
        )
        .filter(F.col("tf") > 0)
    )
    return tf_long, n_docs, sum_dl, df_by_term


def _per_doc_tf_explode(
    docs: DataFrame, terms: list, id_col: str, text_col: str
):
    """Wide-vocabulary spelling of :func:`_per_doc_tf` (r14): tokenize →
    explode → isin filter → (id, term) groupBy — one pass whose cost is
    O(|tokens|) per doc regardless of |terms|, plus one corpus stats
    pass (count + sum dl) and a |terms|-row df fold off the checkpointed
    tf frame. Identical (tf, dl, df) integers to the per-doc spelling:
    tf = count per (id, term) ≡ size(filter(toks, x = t)); df =
    count(tf > 0) either way; zero-df terms are back-filled so the idf
    CASE covers the full term list on both paths."""
    base = docs.select(
        F.col(id_col), tokens_col(F.col(text_col)).alias("_toks")
    )
    srow = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("_toks")).alias("sum_dl"),
    ).first()
    n_docs, sum_dl = int(srow["n_docs"]), int(srow["sum_dl"] or 0)
    tf_long = (
        base.select(
            F.col(id_col),
            F.size("_toks").alias("dl"),
            F.explode("_toks").alias("term"),
        )
        .filter(F.col("term").isin(list(terms)))
        .groupBy(id_col, "term")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("tf"),
            F.first("dl").alias("dl"),
        )
        .select(F.col(id_col), "term", "tf", "dl")
        .localCheckpoint(eager=True)
    )
    df_by_term = {t: 0 for t in terms}
    for r in tf_long.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("_df")
    ).collect():
        df_by_term[r["term"]] = int(r["_df"])
    return tf_long, n_docs, sum_dl, df_by_term


def _empty_topk(spark, id_col: str, id_type) -> DataFrame:
    """Empty (id, score_micro, n_matched) frame — the zero-docs result.
    An empty corpus previously raised ZeroDivisionError computing avgdl
    (r6 ADVICE); BM25 of anything against nothing is simply no rows."""
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [
            StructField(id_col, id_type, True),
            StructField("score_micro", LongType(), True),
            StructField("n_matched", LongType(), False),
        ]
    )
    return local_rows_df(spark, [], schema)


def _empty_batch_topk(spark, id_col: str, id_type) -> DataFrame:
    """Empty (qid, id, rnk, score_micro, n_matched) frame — the batch
    twin of :func:`_empty_topk`, shared by ``bm25_batch_topk`` and
    ``BM25Index.batch_search`` so the two paths cannot drift (r7
    review)."""
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [
            StructField("qid", LongType(), True),
            StructField(id_col, id_type, True),
            StructField("rnk", LongType(), False),
            StructField("score_micro", LongType(), True),
            StructField("n_matched", LongType(), False),
        ]
    )
    return local_rows_df(spark, [], schema)


def _score_and_topk(
    tf: DataFrame,
    n_docs: int,
    sum_dl: int,
    df_by_term: dict,
    k: int,
    k1: float,
    b: float,
    id_col: str,
) -> DataFrame:
    """Shared scoring tail: ``tf`` carries (id, term, tf, dl); the SAME
    expression tree serves the scan path (bm25_topk) and the indexed
    path (BM25Index.search), so their grid-fixed scores are bitwise
    identical by construction. The idf
    ``ln((n - df + 0.5)/(df + 0.5) + 1) = ln(2n+2) - ln(2df+1)`` is
    evaluated with NO engine ``ln()`` and — since r7 — NO per-row ln
    tree at all: n_docs and every df are driver-known integers (at most
    |query terms| distinct df values exist), so each idf is folded with
    ``detmath.ln_bigint_py`` (bitwise-identical to the engine trees,
    pinned by tests/test_detmath.py) into a per-term CASE literal. The
    double subtraction ln(2n+2)-ln(2df+1) happens on the same two
    doubles in the same order as the r6 in-plan tree, so every score is
    bit-unchanged while the per-posting Horner tree and the df window
    exchange are gone (r6 VERDICT #3). k1/b constants are likewise
    Python-folded — every double in the pipeline is engine-independent
    (module note)."""
    from pgvector_db_spark.functions.detmath import ln_bigint_py

    if n_docs == 0 or not df_by_term:
        return _empty_topk(
            tf.sparkSession, id_col, tf.schema[id_col].dataType
        )
    k1p1 = k1 + 1.0
    omb = 1.0 - b
    ln_n = ln_bigint_py(2 * n_docs + 2)
    # CAST-then-divide, matching the oracle's CAST(sum_dl AS DOUBLE)/n
    avgdl = float(sum_dl) / float(n_docs)
    idf_by_term = {
        t: ln_n - ln_bigint_py(2 * int(df) + 1)
        for t, df in df_by_term.items()
    }
    idf = None
    for t, v in sorted(idf_by_term.items()):
        branch = F.when(F.col("term") == F.lit(t), F.lit(v))
        idf = branch if idf is None else idf.when(
            F.col("term") == F.lit(t), F.lit(v)
        )
    scored = (
        tf.withColumn("idf", idf)
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * F.lit(k1p1))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(omb) + F.lit(b) * F.col("dl") / F.lit(avgdl))
            ),
        )
        # integer grid before the order-sensitive double SUM
        .withColumn(
            "term_score_micro",
            F.floor(F.col("term_score") * 1e6 + F.lit(0.5)).cast("bigint"),
        )
    )

    agg = scored.groupBy(id_col).agg(
        F.sum("term_score_micro").alias("score_micro"),
        F.count(F.lit(1)).alias("n_matched"),
    )
    return agg.orderBy(
        F.col("score_micro").desc(), F.col(id_col).asc()
    ).limit(k)


def _sql_str(t: str) -> str:
    """Single-quoted SQL string literal with quotes doubled — the
    oracle generators interpolate user-supplied query terms, and a
    term containing ``'`` must not produce malformed (or injectable)
    oracle SQL while the Spark side handles it fine (r7 ADVICE)."""
    return "'" + str(t).replace("'", "''") + "'"


def _term_list(terms) -> str:
    """Comma-joined quoted term literals; raises on an empty list so a
    degenerate query surfaces as a named error on BOTH engines instead
    of a malformed ``IN ()`` / ``VALUES`` clause on the oracle side
    only."""
    terms = list(terms)
    if not terms:
        raise ValueError(
            "BM25 oracle: empty query-term list (the Spark side "
            "returns the typed empty frame; there is no oracle SQL "
            "for zero terms)"
        )
    return ", ".join(_sql_str(t) for t in terms)


def _normalize_batch_queries(queries) -> list[tuple[int, list[str]]]:
    """Canonical batch-query form shared by the Spark plan, the oracle
    generator, and the pure-Python recompute: qids as ints, each
    query's terms deduped and sorted (BM25 bag-of-words scores a term
    once per (query, doc); a repeated query term must not double a
    score)."""
    return [
        (int(qid), sorted(set(terms))) for qid, terms in queries
    ]


def bm25_batch_topk(
    docs: DataFrame,
    queries,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Batch BM25: score MANY bag-of-terms queries in ONE plan — the
    text twin of the distributed batch-ANN probe tables
    (operators/ivf.py batch path). ``queries`` is a list of
    ``(qid, [terms])``.

    Returns (qid, id_col, rnk, score_micro, n_matched) for each
    query's top-k, ordered by (qid, rnk) with the usual unique-key
    tie-break (score desc, id asc).

    At 100 TB: the corpus is tokenized ONCE for the union of all query
    terms — the matched postings shuffle once regardless of how many
    queries share them (never O(queries x corpus)); the (qid, term)
    probe table is a driver literal that broadcasts; per-query top-k is
    a rank window PARTITIONED by qid (WindowGroupLimit takes partial
    top-k per task before the exchange), never a global sort. The idf
    fold is the same driver-side literal CASE as ``bm25_topk`` — the
    union vocabulary is driver-known by definition.
    """
    qnorm = _normalize_batch_queries(queries)
    all_terms = sorted({t for _, ts in qnorm for t in ts})
    # one tokenize pass (r13, same restructure as bm25_topk): the
    # per-doc tf frame replaces the separate stats pass + full-corpus
    # posting explode
    tf, n_docs, sum_dl, df_by_term = _per_doc_tf(
        docs, all_terms, id_col, text_col
    )
    spark = docs.sparkSession
    if n_docs == 0 or not all_terms:
        return _empty_batch_topk(
            spark, id_col, docs.schema[id_col].dataType
        )
    return _batch_score_and_topk(
        tf, n_docs, sum_dl, df_by_term, qnorm, k, k1, b, id_col
    )


def _batch_score_and_topk(
    tf: DataFrame,
    n_docs: int,
    sum_dl: int,
    df_by_term: dict,
    qnorm,
    k: int,
    k1: float,
    b: float,
    id_col: str,
) -> DataFrame:
    """Shared batch scoring tail (scan path ``bm25_batch_topk`` and the
    indexed ``BM25Index.batch_search``): same idf literal fold and grid
    as ``_score_and_topk``, plus the broadcast (qid, term) probe join
    and the qid-partitioned rank window."""
    from pgvector_db_spark.functions.detmath import ln_bigint_py

    spark = tf.sparkSession
    k1p1 = k1 + 1.0
    omb = 1.0 - b
    ln_n = ln_bigint_py(2 * n_docs + 2)
    avgdl = float(sum_dl) / float(n_docs)
    idf_by_term = {
        t: ln_n - ln_bigint_py(2 * int(df) + 1)
        for t, df in df_by_term.items()
    }
    qpairs = local_rows_df(
        spark,
        [(qid, t) for qid, ts in qnorm for t in ts],
        "qid bigint, term string",
    )
    idf = None
    for t, v in sorted(idf_by_term.items()):
        cond = F.col("term") == F.lit(t)
        idf = (
            F.when(cond, F.lit(v))
            if idf is None
            else idf.when(cond, F.lit(v))
        )
    scored = (
        tf.join(F.broadcast(qpairs), "term")
        .withColumn("idf", idf)
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * F.lit(k1p1))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(omb) + F.lit(b) * F.col("dl") / F.lit(avgdl))
            ),
        )
        .withColumn(
            "term_score_micro",
            F.floor(F.col("term_score") * 1e6 + F.lit(0.5)).cast("bigint"),
        )
    )
    agg = scored.groupBy("qid", id_col).agg(
        F.sum("term_score_micro").alias("score_micro"),
        F.count(F.lit(1)).alias("n_matched"),
    )
    from pyspark.sql.window import Window as _W

    w = _W.partitionBy("qid").orderBy(
        F.col("score_micro").desc(), F.col(id_col).asc()
    )
    return (
        agg.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
        .select("qid", id_col, "rnk", "score_micro", "n_matched")
        .orderBy("qid", "rnk")
    )


def _bm25_toks_stats_ctes() -> str:
    """The toks/stats CTE text shared by EVERY BM25 oracle generator.
    Factored (r7 review) so the four generators cannot drift out of
    bitwise lockstep: a tokenize or stats change edits exactly one
    spelling."""
    return """toks AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS dl,
             unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
      FROM documents
    ),
    stats AS (
      SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM (
        SELECT len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS dl
        FROM documents)
    )"""


def _bm25_tf_dft_ctes(terms_pred: str, tf: str = "tf", dft: str = "dft") -> str:
    """The (doc,term) tf + per-term df CTE pair over ``toks``, with the
    query-term predicate inlined. ``terms_pred`` is the full IN-list
    body (quoted literals or a subquery)."""
    return f"""{tf} AS (
      SELECT doc_id, term, COUNT(*) AS tf, MIN(dl) AS dl
      FROM toks WHERE term IN ({terms_pred})
      GROUP BY doc_id, term
    ),
    {dft} AS (SELECT term, COUNT(*) AS df FROM {tf} GROUP BY term)"""


def _bm25_term_score_sql(
    k1: float, b: float, tf: str = "tf", dft: str = "dft"
) -> str:
    """The grid-fixed per-(doc,term) BM25 contribution — the ONE DuckDB
    spelling of the score every oracle generator embeds (idf via the
    deterministic ln tree, Python-folded k1/b literals, 1e6 grid). Must
    stay bitwise-identical to ``_score_and_topk``'s column expressions
    and ``bm25_topk_py``."""
    k1p1 = k1 + 1.0
    omb = 1.0 - b
    idf = (
        f"({_ln_bigint_sql('2 * stats.n_docs + 2')}"
        f" - {_ln_bigint_sql(f'2 * {dft}.df + 1')})"
    )
    return (
        f"CAST(floor({idf}"
        f" * ({tf}.tf * CAST({k1p1!r} AS DOUBLE))"
        f" / ({tf}.tf + CAST({k1!r} AS DOUBLE)"
        f"    * (CAST({omb!r} AS DOUBLE) + CAST({b!r} AS DOUBLE)"
        f"       * {tf}.dl"
        f"       / (CAST(stats.sum_dl AS DOUBLE)"
        f"          / CAST(stats.n_docs AS DOUBLE))))"
        f" * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE))"
        f" AS BIGINT)"
    )


def bm25_batch_oracle_sql(
    queries,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """DuckDB SQL computing the identical batch-BM25 result — same
    grid, same deterministic ln tree, same (qid, term) pair set as the
    Spark plan (both derive from ``_normalize_batch_queries``)."""
    qnorm = _normalize_batch_queries(queries)
    if not any(ts for _, ts in qnorm):
        raise ValueError(
            "bm25_batch_oracle_sql: no query has any terms (a "
            "malformed VALUES clause is not a valid oracle)"
        )
    pairs = ", ".join(
        f"({qid}, {_sql_str(t)})" for qid, ts in qnorm for t in ts
    )
    all_terms = sorted({t for _, ts in qnorm for t in ts})
    terms = _term_list(all_terms)
    return f"""
    WITH q(qid, term) AS (VALUES {pairs}),
    {_bm25_toks_stats_ctes()},
    {_bm25_tf_dft_ctes(terms)},
    scored AS (
      SELECT q.qid, tf.doc_id,
             {_bm25_term_score_sql(k1, b)} AS term_score_micro
      FROM tf JOIN dft USING (term) JOIN q USING (term) CROSS JOIN stats
    ),
    agg AS (
      SELECT qid, doc_id,
             CAST(SUM(term_score_micro) AS BIGINT) AS score_micro,
             COUNT(*) AS n_matched
      FROM scored GROUP BY qid, doc_id
    ),
    ranked AS (
      SELECT qid, doc_id,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY score_micro DESC, doc_id ASC)
               AS rnk,
             score_micro, n_matched
      FROM agg
    )
    SELECT CAST(qid AS BIGINT) AS qid, doc_id, CAST(rnk AS BIGINT) AS rnk,
           score_micro, n_matched
    FROM ranked WHERE rnk <= {k} ORDER BY qid, rnk
    """


def bm25_topk_py(
    tf_rows,
    n_docs: int,
    sum_dl: int,
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
):
    """Pure-Python BM25 top-k over collected postings — the third,
    engine-free spelling of the scoring tail, for DECISIVE in-query
    verification (r6 VERDICT "Next round" #1). CPython floats are
    IEEE-754 doubles with exactly-rounded +,-,*,/ and an exact
    int->float conversion below 2^53, and this function performs the
    SAME operations in the SAME order as ``_score_and_topk``'s column
    expressions (idf literal via ``ln_bigint_py``, which is pinned
    bitwise to the engine trees), so its output is bit-identical to the
    Spark result by construction — any difference is an environment
    divergence, not rounding.

    ``tf_rows``: iterable of (doc_id, term, tf, dl) for the matched
    postings (bounded: only docs containing a query term). Returns the
    top-k as a list of (doc_id, score_micro, n_matched) tuples in
    (score desc, doc_id asc) order.
    """
    import math as _math
    from collections import defaultdict as _dd

    from pgvector_db_spark.functions.detmath import ln_bigint_py

    rows = [tuple(r) for r in tf_rows]
    if n_docs == 0 or not rows:
        return []
    df: dict = _dd(int)
    for _, term, _, _ in rows:
        df[term] += 1
    k1p1 = k1 + 1.0
    omb = 1.0 - b
    ln_n = ln_bigint_py(2 * n_docs + 2)
    avgdl = float(sum_dl) / float(n_docs)
    idf = {t: ln_n - ln_bigint_py(2 * d + 1) for t, d in df.items()}
    score: dict = _dd(int)
    n_matched: dict = _dd(int)
    for doc_id, term, tf, dl in rows:
        ts = (
            idf[term]
            * (tf * k1p1)
            / (tf + k1 * (omb + b * dl / avgdl))
        )
        score[doc_id] += int(_math.floor(ts * 1e6 + 0.5))
        n_matched[doc_id] += 1
    ranked = sorted(
        ((d, s, n_matched[d]) for d, s in score.items()),
        key=lambda r: (-r[1], r[0]),
    )[:k]
    return [(int(d), int(s), int(n)) for d, s, n in ranked]


def bm25_oracle_sql(
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """DuckDB SQL computing the identical BM25 grid-fixed score —
    bitwise, not approximately: the idf uses ``_ln_bigint_sql`` (the
    DuckDB spelling of ``ln_bigint``'s exact-rounded tree) and the k1/b
    constants are the same Python-folded double literals the Spark side
    embeds."""
    terms = _term_list(query_terms)
    return f"""
    WITH {_bm25_toks_stats_ctes()},
    {_bm25_tf_dft_ctes(terms)},
    scored AS (
      SELECT tf.doc_id,
             {_bm25_term_score_sql(k1, b)} AS term_score_micro
      FROM tf JOIN dft USING (term) CROSS JOIN stats
    )
    SELECT doc_id, CAST(SUM(term_score_micro) AS BIGINT) AS score_micro,
           COUNT(*) AS n_matched
    FROM scored GROUP BY doc_id
    ORDER BY score_micro DESC, doc_id ASC LIMIT {k}
    """


def bm25_prf_topk(
    docs: DataFrame,
    seed_terms: list[str],
    k: int = 10,
    fb_docs: int = 10,
    fb_terms: int = 3,
    min_term_len: int = 4,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (Rocchio/RM-style):
    run BM25 with the seed terms, take the top ``fb_docs`` results as
    implicit relevance feedback, pick the ``fb_terms`` most frequent
    non-seed terms (>= ``min_term_len`` chars) from those docs, and
    rescore the corpus with the expanded term set. The classic recall
    lever when seed queries are short.

    At 100 TB: stage 1 is the ordinary distributed BM25; the only
    driver-side materialization is the feedback set (``fb_docs`` ids ~
    10 rows) and the expansion terms (``fb_terms`` rows, selected by a
    TakeOrderedAndProject over the feedback docs' vocabulary — the
    feedback frame is a semi-join of the corpus against 10 ids, pruned
    at the scan). Stage 3 is another ordinary BM25 with a slightly
    longer literal term list. Nothing unbounded ever reaches the
    driver.

    Determinism: every stage ranks on integers (grid score, term
    counts) with id/term ASC tie-breaks, so the composite pipeline is
    exactly reproducible by the self-contained three-stage oracle SQL
    (``bm25_prf_oracle_sql``), which recomputes the SAME feedback set
    and expansion choice relationally."""
    seed_terms = sorted(set(seed_terms))
    fb_rows = bm25_topk(
        docs, seed_terms, k=fb_docs, k1=k1, b=b,
        id_col=id_col, text_col=text_col,
    ).collect()
    fb_ids = [r[id_col] for r in fb_rows]
    if fb_ids:
        exp_rows = (
            docs.filter(F.col(id_col).isin(fb_ids))
            .select(F.explode(tokens_col(F.col(text_col))).alias("term"))
            .filter(F.length("term") >= min_term_len)
            .filter(~F.col("term").isin(seed_terms))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("tf_fb"))
            .orderBy(F.col("tf_fb").desc(), F.col("term").asc())
            .limit(fb_terms)
            .collect()
        )
        expansion = [r["term"] for r in exp_rows]
    else:
        expansion = []
    expanded = sorted(set(seed_terms) | set(expansion))
    return bm25_topk(
        docs, expanded, k=k, k1=k1, b=b, id_col=id_col, text_col=text_col
    )


def bm25_prf_oracle_sql(
    seed_terms: list[str],
    k: int = 10,
    fb_docs: int = 10,
    fb_terms: int = 3,
    min_term_len: int = 4,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """Self-contained three-stage DuckDB SQL: seed BM25 -> feedback-doc
    expansion-term selection -> expanded BM25, all inside one query (the
    oracle cannot collect mid-way, so the expansion choice itself is
    recomputed relationally — a genuinely independent implementation of
    the whole pipeline). Same grid, same deterministic ln tree, same
    integer tie-breaks as the Spark side."""
    seeds = _term_list(sorted(set(seed_terms)))

    def _score(tf: str, dft: str) -> str:
        return _bm25_term_score_sql(k1, b, tf, dft)

    return f"""
    WITH {_bm25_toks_stats_ctes()},
    {_bm25_tf_dft_ctes(seeds, "tf1", "dft1")},
    fb AS (
      SELECT doc_id FROM (
        SELECT tf1.doc_id, SUM({_score('tf1', 'dft1')}) AS score_micro
        FROM tf1 JOIN dft1 USING (term) CROSS JOIN stats
        GROUP BY tf1.doc_id
        ORDER BY score_micro DESC, doc_id ASC LIMIT {fb_docs}
      )
    ),
    exp_terms AS (
      SELECT term FROM (
        SELECT term,
               ROW_NUMBER() OVER (
                 ORDER BY COUNT(*) DESC, term ASC) AS trn
        FROM toks JOIN fb USING (doc_id)
        WHERE length(term) >= {min_term_len} AND term NOT IN ({seeds})
        GROUP BY term
      ) WHERE trn <= {fb_terms}
    ),
    qterms AS (
      SELECT term FROM exp_terms
      UNION
      SELECT unnest([{seeds}]) AS term
    ),
    {_bm25_tf_dft_ctes("SELECT term FROM qterms", "tf2", "dft2")}
    SELECT tf2.doc_id, CAST(SUM({_score('tf2', 'dft2')}) AS BIGINT)
               AS score_micro,
           COUNT(*) AS n_matched
    FROM tf2 JOIN dft2 USING (term) CROSS JOIN stats
    GROUP BY tf2.doc_id
    ORDER BY score_micro DESC, doc_id ASC LIMIT {k}
    """


def bm25_snippet_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 5,
    window: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Best-window snippet extraction (Lucene highlighter semantics,
    integer-exact): for each of the query's BM25 top-k docs, find the
    ``window``-token span containing the MOST query-term occurrences
    (leftmost on ties) and return its start position, match count and
    text. The display layer of a search engine, expressed relationally.

    Returns (id_col, snippet_start BIGINT 1-based, snippet_matches
    BIGINT, snippet STRING), ordered by id.

    At 100 TB: only the k result docs enter the positional stage (the
    ``isin`` filter prunes at the scan), so the posexplode + per-doc
    range-frame window is O(k x doc length) — display-time work, not
    corpus work. All ranking is integer counts with leftmost
    tie-breaks; the snippet string is a deterministic slice+join, so
    the whole result is exactly oracle-checkable."""
    from pyspark.sql.window import Window as _W

    terms = sorted(set(query_terms))
    top_ids = [
        r[id_col]
        for r in bm25_topk(
            docs, terms, k=k, k1=k1, b=b, id_col=id_col, text_col=text_col
        ).collect()
    ]
    spark = docs.sparkSession
    if not top_ids:
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        id_type = docs.schema[id_col].dataType
        return local_rows_df(
            spark,
            [],
            StructType(
                [
                    StructField(id_col, id_type, True),
                    StructField("snippet_start", LongType(), True),
                    StructField("snippet_matches", LongType(), True),
                    StructField("snippet", StringType(), True),
                ]
            ),
        )
    hits = docs.filter(F.col(id_col).isin(top_ids)).select(
        F.col(id_col), tokens_col(F.col(text_col)).alias("_toks")
    )
    pos = hits.select(
        F.col(id_col),
        F.posexplode("_toks").alias("p0", "term"),
    ).select(
        F.col(id_col),
        (F.col("p0") + F.lit(1)).cast("bigint").alias("pos"),
        F.col("term"),
    )
    wf = (
        _W.partitionBy(id_col)
        .orderBy("pos")
        .rangeBetween(_W.currentRow, window - 1)
    )
    wcnt = pos.withColumn(
        "wcnt",
        F.sum(
            F.when(F.col("term").isin(terms), F.lit(1)).otherwise(F.lit(0))
        ).over(wf).cast("bigint"),
    )
    rank_w = _W.partitionBy(id_col).orderBy(
        F.col("wcnt").desc(), F.col("pos").asc()
    )
    best = (
        wcnt.withColumn("rn", F.row_number().over(rank_w))
        .filter(F.col("rn") == 1)
        .select(
            F.col(id_col),
            F.col("pos").alias("snippet_start"),
            F.col("wcnt").alias("snippet_matches"),
        )
    )
    return (
        best.join(F.broadcast(hits), id_col)
        .select(
            F.col(id_col),
            "snippet_start",
            "snippet_matches",
            F.array_join(
                F.slice(
                    F.col("_toks"),
                    F.col("snippet_start").cast("int"),
                    window,
                ),
                " ",
            ).alias("snippet"),
        )
        .orderBy(id_col)
    )


def bm25_snippet_oracle_sql(
    query_terms: list[str],
    k: int = 5,
    window: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """DuckDB SQL for the identical snippet result: BM25 top-k CTE
    (same grid as ``bm25_oracle_sql``), positional unnest, the same
    range-frame window count, leftmost-max selection, and the same
    slice+join snippet string."""
    terms_sorted = sorted(set(query_terms))
    terms = _term_list(terms_sorted)
    return f"""
    WITH {_bm25_toks_stats_ctes()},
    {_bm25_tf_dft_ctes(terms)},
    top AS (
      SELECT tf.doc_id,
             CAST(SUM({_bm25_term_score_sql(k1, b)}) AS BIGINT)
                 AS score_micro
      FROM tf JOIN dft USING (term) CROSS JOIN stats
      GROUP BY tf.doc_id
      ORDER BY score_micro DESC, doc_id ASC LIMIT {k}
    ),
    arrs AS (
      SELECT d.doc_id,
             regexp_split_to_array(trim(lower(d.text)), '\\s+') AS toks
      FROM documents d JOIN top USING (doc_id)
    ),
    pos AS (
      SELECT doc_id, toks,
             unnest(toks) AS term,
             generate_subscripts(toks, 1) AS pos
      FROM arrs
    ),
    wcnt AS (
      SELECT doc_id, toks, pos,
             CAST(SUM(CASE WHEN term IN ({terms}) THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     RANGE BETWEEN CURRENT ROW
                     AND {window - 1} FOLLOWING) AS BIGINT) AS wcnt
      FROM pos
    ),
    best AS (
      SELECT doc_id, toks, pos AS snippet_start, wcnt AS snippet_matches
      FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY doc_id ORDER BY wcnt DESC, pos ASC) AS rn
        FROM wcnt
      ) WHERE rn = 1
    )
    SELECT doc_id, CAST(snippet_start AS BIGINT) AS snippet_start,
           snippet_matches,
           array_to_string(
             toks[snippet_start : snippet_start + {window} - 1], ' ')
             AS snippet
    FROM best ORDER BY doc_id
    """


def ql_dirichlet_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    mu: int = 2000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Query-likelihood ranking with Dirichlet smoothing (Zhai &
    Lafferty, SIGIR'01) — the other classic probabilistic text scorer
    next to BM25. Rank-equivalent sparse decomposition over docs
    matching >= 1 query term:

        score(d) = SUM_{t in q∩d} ln(1 + tf*|C| / (mu*cf_t))
                 + |q| * (ln(mu) - ln(dl + mu))

    With integer ``mu``, EVERY log argument is a positive BIGINT
    (mu*cf + tf*|C|, mu*cf, mu, dl+mu), so the whole scorer runs on the
    deterministic cross-engine ln tree (functions/detmath.py) — no
    engine transcendental anywhere. Each term contribution and the
    per-doc length part are fixed to the 1e-6 grid BEFORE summation, so
    the aggregate is an order-independent BIGINT sum.

    At 100 TB: same shape as ``bm25_topk`` — the corpus-stats pass
    collects |C| and the <=|q| collection frequencies to the driver
    (so ln(mu*cf) folds to literals); matched postings are filtered at
    the explode; the only in-plan ln trees run per matched POSTING row
    (ln(mu*cf + tf*|C|)) and per matched DOC (ln(dl+mu)) — inputs that
    are genuinely data-dependent and unbounded, unlike the df-driven
    idf that r7 folded driver-side."""
    from pgvector_db_spark.functions.detmath import (
        ln_bigint_py,
        ln_bigint_staged,
    )

    terms = sorted(set(query_terms))

    def _eq(term: str):
        # single-arg lambda: a two-arg signature would make pyspark
        # pass the ELEMENT INDEX as the second argument
        return lambda x: x == F.lit(term)

    srow = (
        docs.select(tokens_col(F.col(text_col)).alias("_toks"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size("_toks")).alias("sum_dl"),
            *[
                F.sum(
                    F.size(F.filter(F.col("_toks"), _eq(t)))
                ).alias(f"_cf_{i}")
                for i, t in enumerate(terms)
            ],
        )
        .first()
    )
    n_docs = int(srow["n_docs"])
    coll = int(srow["sum_dl"] or 0)
    cf_by_term = {
        t: int(srow[f"_cf_{i}"] or 0)
        for i, t in enumerate(terms)
        if srow[f"_cf_{i}"]
    }
    spark = docs.sparkSession
    live = sorted(cf_by_term)
    if n_docs == 0 or not live:
        from pyspark.sql.types import (
            LongType,
            StructField,
            StructType,
        )

        id_type = docs.schema[id_col].dataType
        return local_rows_df(
            spark,
            [],
            StructType(
                [
                    StructField(id_col, id_type, True),
                    StructField("score_micro", LongType(), True),
                    StructField("n_matched", LongType(), False),
                ]
            ),
        )
    nq = float(len(live))
    ln_mu = ln_bigint_py(mu)

    tf = (
        docs.select(
            F.col(id_col), tokens_col(F.col(text_col)).alias("_toks")
        )
        .select(
            F.col(id_col),
            F.size("_toks").alias("dl"),
            F.explode("_toks").alias("term"),
        )
        .filter(F.col("term").isin(live))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
    )
    # per-term driver-folded literals: mu*cf (BIGINT) and ln(mu*cf)
    mucf = None
    ln_mucf = None
    for t in live:
        cond = F.col("term") == F.lit(t)
        mc = mu * cf_by_term[t]
        lv = ln_bigint_py(mc)
        mucf = (
            F.when(cond, F.lit(mc))
            if mucf is None
            else mucf.when(cond, F.lit(mc))
        )
        ln_mucf = (
            F.when(cond, F.lit(lv))
            if ln_mucf is None
            else ln_mucf.when(cond, F.lit(lv))
        )
    scored = tf.withColumn(
        "_m",
        (mucf.cast("bigint") + F.col("tf") * F.lit(coll)).cast("bigint"),
    )
    scored = ln_bigint_staged(scored, F.col("_m"), "_ln_num", prefix="_qn")
    scored = scored.withColumn(
        "c_micro",
        F.floor(
            (F.col("_ln_num") - ln_mucf)
            * F.lit(1000000.0)
            + F.lit(0.5)
        ).cast("bigint"),
    )
    agg = scored.groupBy(id_col).agg(
        F.sum("c_micro").alias("sum_c"),
        F.count(F.lit(1)).alias("n_matched"),
        F.min("dl").alias("dl"),
    )
    agg = ln_bigint_staged(
        agg,
        (F.col("dl") + F.lit(mu)).cast("bigint"),
        "_ln_dlmu",
        prefix="_qd",
    )
    return (
        agg.withColumn(
            "score_micro",
            F.col("sum_c")
            + F.floor(
                F.lit(nq)
                * (F.lit(ln_mu) - F.col("_ln_dlmu"))
                * F.lit(1000000.0)
                + F.lit(0.5)
            ).cast("bigint"),
        )
        .select(id_col, "score_micro", "n_matched")
        .orderBy(
            F.col("score_micro").desc(), F.col(id_col).asc()
        )
        .limit(k)
    )


def ql_dirichlet_oracle_sql(
    query_terms: list[str],
    k: int = 10,
    mu: int = 2000,
) -> str:
    """DuckDB SQL computing the identical Dirichlet QL grid score —
    collection stats, live-term cf, per-posting and per-doc ln trees
    all recomputed relationally (``ln_bigint_sql`` spelling, bitwise
    the Spark doubles). nq counts terms PRESENT in the corpus (the
    Spark side drops cf=0 terms), via a scalar subquery."""
    terms = _term_list(sorted(set(query_terms)))
    ln_num = _ln_bigint_sql(
        f"{mu} * cf.cf + tf.tf * stats.sum_dl"
    )
    ln_mucf = _ln_bigint_sql(f"{mu} * cf.cf")
    ln_mu = _ln_bigint_sql(str(mu))
    ln_dlmu = _ln_bigint_sql(f"agg.dl + {mu}")
    return f"""
    WITH toks AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS dl,
             unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
      FROM documents
    ),
    stats AS (
      SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM (
        SELECT len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS dl
        FROM documents)
    ),
    cf AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS cf
      FROM toks WHERE term IN ({terms}) GROUP BY term
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf, MIN(dl) AS dl
      FROM toks WHERE term IN ({terms})
      GROUP BY doc_id, term
    ),
    contrib AS (
      SELECT tf.doc_id, tf.dl,
             CAST(floor(
               ({ln_num} - {ln_mucf})
               * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE))
             AS BIGINT) AS c_micro
      FROM tf JOIN cf USING (term) CROSS JOIN stats
    ),
    agg AS (
      SELECT doc_id, SUM(c_micro) AS sum_c,
             COUNT(*) AS n_matched, MIN(dl) AS dl
      FROM contrib GROUP BY doc_id
    )
    SELECT agg.doc_id,
           CAST(agg.sum_c + CAST(floor(
             CAST((SELECT COUNT(*) FROM cf) AS DOUBLE)
             * ({ln_mu} - {ln_dlmu})
             * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE))
           AS BIGINT) AS BIGINT) AS score_micro,
           agg.n_matched
    FROM agg
    ORDER BY score_micro DESC, agg.doc_id ASC LIMIT {k}
    """


# ---------------------------------------------------------------------------
# Persisted inverted-index layout — the at-scale BM25 (text twin of the
# IVF layout in operators/ivf.py). Lucene-style immutable segments under
# an atomically-committed manifest.
# ---------------------------------------------------------------------------


# per-(path, segment-set) cache of summed (n_docs, sum_dl): the segment
# stats read is a Spark job, pure per-query driver overhead if repeated
# (the IVF index keeps its centers per version the same way).
_STATS_CACHE: dict[tuple, tuple[int, int]] = {}
# assembled (postings, terms) source frames per (path, segment set): a
# segment is immutable once committed and any layout change (append,
# compact) changes the segment list — so the key can never alias stale
# files. Reusing the frames skips per-search parquet schema inference,
# the dominant fixed cost of serving at toy scale.
_FRAMES_CACHE: dict[tuple, tuple[DataFrame, DataFrame]] = {}
# one lock for both caches: concurrent searches (the regime
# tests/test_concurrent_invocation.py drives) would otherwise race the
# evict-scan against inserts ("dict changed size during iteration") or
# double-del a key. pop(key, None) + the lock makes evict/insert atomic.
import threading as _threading

_CACHE_LOCK = _threading.Lock()


def _evict_cache(cache: dict, live_path: str) -> None:
    """Drop same-path entries with a different segment set (superseded by
    an append/compact) AND entries whose index path no longer exists on
    disk (per-invocation mkdtemp indexes that were removed — without
    this, every temporary index leaks one never-evicted entry). The
    liveness probe only applies to LOCAL paths: ``os.path.isdir`` is
    always False for a URI like ``s3://...``, so sweeping on it would
    permanently evict every remote index's entry on each insert (r7
    review finding) — remote entries are evicted only by their own
    path's segment-set change. Caller holds _CACHE_LOCK."""
    import os as _os

    def _local(p: str) -> bool:
        return "://" not in p

    for key in [
        k
        for k in cache
        if k[0] == live_path or (_local(k[0]) and not _os.path.isdir(k[0]))
    ]:
        cache.pop(key, None)


class BM25Index:
    """Build-once inverted index: per-query cost is a partition-pruned
    read of the query terms' postings, never a corpus scan.

    Layout — immutable segments + manifest (the Lucene recipe):

      MANIFEST.json        {"num_buckets": N, "segments": [...],
                            "batch_tags": [...]}, committed by atomic
                           rename — readers always see a CONSISTENT set.
      seg_<id>/postings/   (doc_id, term, tf, dl) partitionBy(bucket),
                           bucket = crc32(term) % N (crc32 because the
                           driver computes the probe set with zlib.crc32
                           byte-identically to Spark's ``crc32``).
      seg_<id>/terms/      (term, df) per segment, same bucketing.
      seg_<id>/stats/      one row (n_docs, sum_dl).

    ``df``, ``n_docs`` and ``sum_dl`` are ADDITIVE across segments (a doc
    lives in exactly one segment), so a search unions the segments'
    pruned postings, sums their per-term df, and sums their stats — the
    scores are bitwise what a single-segment build over the full corpus
    produces (gate-checked). ``append`` writes a whole new segment and
    then commits the manifest: a crash at ANY point leaves the old
    manifest → old consistent index (an orphaned segment dir is garbage,
    never read). ``batch_tag`` makes appends idempotent — a Structured
    Streaming retry of an already-committed micro-batch is a no-op,
    which is what makes ``stream_bm25_ingest`` exactly-once.

    A query reads only the buckets its terms hash into (PartitionFilters
    at each segment scan) and runs the SAME grid-fixed scoring expression
    as the scan path — bitwise-equal scores, pinned by tests. At 100 TB
    the build is one corpus pass; each search touches
    |query terms| / num_buckets of the postings bytes.
    """

    def __init__(self, spark, path: str, id_col: str = "doc_id"):
        self.spark = spark
        self.path = path
        self.id_col = id_col

    # -- manifest ------------------------------------------------------------

    def _manifest_path(self) -> str:
        import os as _os

        return _os.path.join(self.path, "MANIFEST.json")

    def _read_manifest(self) -> dict:
        return read_json(self._manifest_path())

    def _lock_path(self) -> str:
        # serializes each manifest read-modify-write: without it two
        # appends could re-read one manifest and the last committer
        # would silently drop the other's segment entry
        return self._manifest_path() + ".lock"

    # -- segment writer (shared by build and append) -------------------------

    @staticmethod
    def _write_segment(
        docs: DataFrame,
        seg_path: str,
        num_buckets: int,
        id_col: str,
        text_col: str,
    ) -> None:
        """One pipeline over the batch: tokenize ONCE (persisted), derive
        postings, per-term df, and stats from the same materialization."""
        import os as _os

        base = (
            docs.select(
                F.col(id_col), tokens_col(F.col(text_col)).alias("_toks")
            )
            .select(F.col(id_col), F.size("_toks").alias("dl"), "_toks")
            .persist()
        )
        try:
            tf = (
                base.select(
                    F.col(id_col), "dl", F.explode("_toks").alias("term")
                )
                .groupBy(id_col, "term")
                .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
                .persist()
            )
            try:
                bucket = F.pmod(
                    F.crc32(F.col("term").cast("binary")), F.lit(num_buckets)
                ).cast("int")
                (
                    tf.withColumn("bucket", bucket)
                    .repartition("bucket")
                    .write.mode("overwrite")
                    .partitionBy("bucket")
                    .parquet(_os.path.join(seg_path, "postings"))
                )
                (
                    tf.groupBy("term")
                    .agg(F.count(F.lit(1)).alias("df"))
                    .withColumn("bucket", bucket)
                    .repartition("bucket")
                    .write.mode("overwrite")
                    .partitionBy("bucket")
                    .parquet(_os.path.join(seg_path, "terms"))
                )
                (
                    base.agg(
                        F.count(F.lit(1)).alias("n_docs"),
                        F.sum("dl").alias("sum_dl"),
                    )
                    .coalesce(1)
                    .write.mode("overwrite")
                    .parquet(_os.path.join(seg_path, "stats"))
                )
            finally:
                tf.unpersist()
        finally:
            base.unpersist()

    # -- build / append ------------------------------------------------------

    @classmethod
    def build(
        cls,
        docs: DataFrame,
        path: str,
        num_buckets: int = 64,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> "BM25Index":
        import os as _os

        _os.makedirs(path, exist_ok=True)
        seg = "seg_000"
        cls._write_segment(
            docs, _os.path.join(path, seg), num_buckets, id_col, text_col
        )
        idx = cls(docs.sparkSession, path, id_col)
        commit_json(
            idx._manifest_path(),
            {"num_buckets": num_buckets, "segments": [seg], "batch_tags": []}
        )
        return idx

    def append(
        self,
        docs: DataFrame,
        text_col: str = "text",
        batch_tag: str | None = None,
    ) -> None:
        """Incremental insert (maintenance parity of IVFIndex.append):
        the batch becomes a NEW immutable segment, committed by the
        atomic manifest rename — existing segments are never touched, a
        crash never tears the index, and a replayed ``batch_tag`` is a
        no-op (exactly-once under streaming retry)."""
        import os as _os
        import shutil as _shutil
        import uuid as _uuid

        m = self._read_manifest()
        if batch_tag is not None and batch_tag in m["batch_tags"]:
            return
        seg = f"seg_{_uuid.uuid4().hex[:12]}"
        self._write_segment(
            docs,
            _os.path.join(self.path, seg),
            m["num_buckets"],
            self.id_col,
            text_col,
        )
        # commit under the manifest lock: the segment write above is
        # side-effect-free until its entry lands, so only this re-read →
        # commit window needs serializing against concurrent writers
        with file_lock(self._lock_path()):
            m2 = self._read_manifest()
            if batch_tag is not None and batch_tag in m2["batch_tags"]:
                # a racing replay committed this batch first — our
                # segment is an unreachable orphan; reclaim its space
                _shutil.rmtree(
                    _os.path.join(self.path, seg), ignore_errors=True
                )
                return
            m2["segments"].append(seg)
            if batch_tag is not None:
                m2["batch_tags"].append(batch_tag)
            commit_json(self._manifest_path(), m2)

    # -- search --------------------------------------------------------------

    def _source_frames(self, segs: list[str]):
        """Assembled (postings, terms) union frames for a segment set,
        via _FRAMES_CACHE (keyed on path + segment set + applicationId —
        segments are immutable and any layout change changes the list,
        so a key can never alias stale files). Shared by ``search`` and
        ``batch_search`` so both skip the per-call parquet schema
        inference (r7 review finding: batch_search previously re-read
        the segments every call)."""
        import os as _os
        from functools import reduce

        fkey = (
            self.path,
            tuple(segs),
            self.spark.sparkContext.applicationId,
        )
        with _CACHE_LOCK:
            frames = _FRAMES_CACHE.get(fkey)
        if frames is None:
            post = reduce(
                DataFrame.unionByName,
                [
                    self.spark.read.parquet(
                        _os.path.join(self.path, s, "postings")
                    )
                    for s in segs
                ],
            )
            terms = reduce(
                DataFrame.unionByName,
                [
                    self.spark.read.parquet(
                        _os.path.join(self.path, s, "terms")
                    )
                    for s in segs
                ],
            )
            # bounded cache: one live entry per existing path —
            # append/compact change the segment set, and removed
            # (mkdtemp) index paths are swept, so streaming
            # maintenance can't grow this without bound
            with _CACHE_LOCK:
                _evict_cache(_FRAMES_CACHE, self.path)
                _FRAMES_CACHE[fkey] = (post, terms)
        else:
            post, terms = frames
        return post, terms

    def search(
        self,
        query_terms: list[str],
        k: int = 20,
        k1: float = 1.2,
        b: float = 0.75,
    ) -> DataFrame:
        import zlib

        m = self._read_manifest()
        nb = m["num_buckets"]
        segs = m["segments"]
        # driver-side probe set: zlib.crc32 over UTF-8 == Spark's crc32
        probe = sorted(
            {zlib.crc32(t.encode("utf-8")) % nb for t in query_terms}
        )
        post, terms = self._source_frames(segs)
        # filters push through the Union into every segment scan, so the
        # per-segment bucket pruning is preserved
        post = post.filter(F.col("bucket").isin(probe)).filter(
            F.col("term").isin(query_terms)
        )
        # df is additive across segments; the pruned terms read is at
        # most |query terms| x |segments| rows, so collecting it to fold
        # each idf into a plan literal (r7, matching the scan path) is a
        # tiny job — and the broadcast dft join the postings previously
        # paid disappears entirely
        dft_rows = (
            terms.filter(F.col("bucket").isin(probe))
            .filter(F.col("term").isin(query_terms))
            .groupBy("term")
            .agg(F.sum("df").alias("df"))
            .collect()
        )
        df_by_term = {r["term"]: int(r["df"]) for r in dft_rows}
        n_docs, sum_dl = self._stats(segs)
        return _score_and_topk(
            post, n_docs, sum_dl, df_by_term, k, k1, b, self.id_col
        )

    def batch_search(
        self,
        queries,
        k: int = 10,
        k1: float = 1.2,
        b: float = 0.75,
    ) -> DataFrame:
        """Batch form of :meth:`search` — many (qid, [terms]) queries
        against the persisted layout in ONE plan. Reads only the union
        of the queries' buckets (one pruned postings scan serves every
        query), folds idf from the segment term stats exactly like
        ``search``, and shares ``_batch_score_and_topk`` with the scan
        path, so results are bitwise the scan path's. At scale this is
        the BM25 serving tier's bulk path: per-batch cost is
        O(matched postings of the union vocabulary), not
        O(queries x corpus)."""
        import zlib

        qnorm = _normalize_batch_queries(queries)
        all_terms = sorted({t for _, ts in qnorm for t in ts})
        m = self._read_manifest()
        nb = m["num_buckets"]
        segs = m["segments"]
        probe = sorted(
            {zlib.crc32(t.encode("utf-8")) % nb for t in all_terms}
        )
        post, terms = self._source_frames(segs)
        post = post.filter(F.col("bucket").isin(probe)).filter(
            F.col("term").isin(all_terms)
        )
        dft_rows = (
            terms.filter(F.col("bucket").isin(probe))
            .filter(F.col("term").isin(all_terms))
            .groupBy("term")
            .agg(F.sum("df").alias("df"))
            .collect()
        )
        df_by_term = {r["term"]: int(r["df"]) for r in dft_rows}
        n_docs, sum_dl = self._stats(segs)
        if n_docs == 0 or not df_by_term:
            return _empty_batch_topk(
                self.spark,
                self.id_col,
                post.schema[self.id_col].dataType,
            )
        return _batch_score_and_topk(
            post, n_docs, sum_dl, df_by_term, qnorm, k, k1, b, self.id_col
        )

    def doc_count(self) -> int:
        """Total indexed documents across committed segments (docs are
        disjoint across segments, so the per-segment counts sum)."""
        return self._stats(self._read_manifest()["segments"])[0]

    def segment_count(self) -> int:
        """Number of committed segments (the per-search scan multiplier
        that ``compact()`` collapses back to 1)."""
        return len(self._read_manifest()["segments"])

    def _stats(self, segs: list[str]) -> tuple[int, int]:
        import os as _os
        from functools import reduce

        key = (self.path, tuple(segs))
        with _CACHE_LOCK:
            cached = _STATS_CACHE.get(key)
        if cached is None:
            all_stats = reduce(
                DataFrame.unionByName,
                [
                    self.spark.read.parquet(_os.path.join(self.path, s, "stats"))
                    for s in segs
                ],
            )
            row = all_stats.agg(
                F.sum("n_docs").alias("n"), F.sum("sum_dl").alias("s")
            ).first()
            cached = (int(row["n"]), int(row["s"] or 0))
            # bounded: one live entry per existing path (appends change
            # the segment set; removed mkdtemp paths are swept)
            with _CACHE_LOCK:
                _evict_cache(_STATS_CACHE, self.path)
                _STATS_CACHE[key] = cached
        return cached

    # -- maintenance ---------------------------------------------------------

    def compact(self) -> None:
        """Merge every committed segment into one (the Lucene merge /
        ParquetTable.compact analogue): a long-running streaming ingest
        accumulates a segment per micro-batch, and each search pays a
        scan per segment — compaction restores single-segment read cost.
        Docs are disjoint across segments, so the merge is a pure
        re-layout: postings union unchanged, per-term df summed, stats
        summed. Committed by the same atomic manifest rename; a crash
        leaves the old multi-segment (consistent) view, and the replaced
        segments' batch_tags stay in the manifest so replays remain
        no-ops."""
        import os as _os
        import shutil as _shutil
        import uuid as _uuid
        from functools import reduce

        m = self._read_manifest()
        if len(m["segments"]) <= 1:
            return
        seg = f"seg_{_uuid.uuid4().hex[:12]}"
        seg_path = _os.path.join(self.path, seg)
        post = reduce(
            DataFrame.unionByName,
            [
                self.spark.read.parquet(_os.path.join(self.path, s, "postings"))
                for s in m["segments"]
            ],
        )
        (
            post.repartition("bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(_os.path.join(seg_path, "postings"))
        )
        terms = reduce(
            DataFrame.unionByName,
            [
                self.spark.read.parquet(_os.path.join(self.path, s, "terms"))
                for s in m["segments"]
            ],
        )
        (
            terms.groupBy("term", "bucket")
            .agg(F.sum("df").alias("df"))
            .select("term", "df", "bucket")
            .repartition("bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(_os.path.join(seg_path, "terms"))
        )
        n_docs, sum_dl = self._stats(m["segments"])
        local_rows_df(
            self.spark, [(n_docs, sum_dl)], "n_docs bigint, sum_dl bigint"
        ).coalesce(1).write.mode("overwrite").parquet(
            _os.path.join(seg_path, "stats")
        )
        with file_lock(self._lock_path()):
            m2 = self._read_manifest()
            if m2["segments"] != m["segments"]:
                # a concurrent append landed between our snapshot and now —
                # committing [seg] would silently drop it; abort and let
                # the caller retry; reclaim our never-committed segment
                # (the lock makes this check-then-commit atomic)
                _shutil.rmtree(seg_path, ignore_errors=True)
                return
            m2["segments"] = [seg]
            commit_json(self._manifest_path(), m2)
        # the replaced segments are unreachable from the committed
        # manifest — delete them, or a continuously compacting ingest
        # grows disk O(total-ever-ingested) instead of O(index). Readers
        # must MATERIALIZE results before a subsequent compact (every
        # gate/served path does: search results are collected top-k) —
        # a lazy frame held across generations would lose its files.
        for s in m["segments"]:
            _shutil.rmtree(_os.path.join(self.path, s), ignore_errors=True)


# ---------------------------------------------------------------------------
# Retrieval-quality evaluation: nDCG@k / MRR / recall@k of the BM25
# ranking against deterministic AND-semantics relevance labels (a doc is
# "relevant" iff it contains EVERY query term — BM25 itself scores with
# OR semantics, so the metric is not trivially 1). This is the IR eval
# harness every search stack ships next to its ranker (the reference's
# Postgres stack would reach for pg_trgm + manual judgments; here the
# labels are derivable so the whole evaluation is oracle-checkable).
#
# Determinism: the log2 discounts 1/log2(r+1) for r=1..k are folded
# DRIVER-SIDE from the bit-pinned detmath tree (ln_bigint_py — the
# DSIR-fold pattern; no transcendental in either plan), fixed to the
# 1e-9 grid as BIGINT nano-units so DCG/IDCG are order-independent
# integer sums; the final recall/MRR/nDCG ratios are single
# correctly-rounded double ops spelled identically on both engines.
#
# At 100 TB: the corpus-sized work is exactly bm25_topk's two passes
# plus one tokenize->filter->group for the label set (map-side partial,
# shuffles only matching postings); everything downstream operates on
# <= k-row or 1-row frames (the unpartitioned rank window is over the
# ALREADY-LIMITED k-row result — the bounded-candidate pattern).
# ---------------------------------------------------------------------------


def ndcg_discount_nano(k: int) -> list[tuple[int, int]]:
    """(rank, floor(1/log2(rank+1) * 1e9 + 0.5)) for rank = 1..k, every
    log from the bit-pinned ``ln_bigint_py`` tree — the Python-folded
    discount table both engines embed as literals."""
    import math as _math

    from pgvector_db_spark.functions.detmath import ln_bigint_py

    ln2 = ln_bigint_py(2)
    return [
        (r, int(_math.floor(ln2 / ln_bigint_py(r + 1) * 1e9 + 0.5)))
        for r in range(1, k + 1)
    ]


def retrieval_eval_metrics(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One-row IR evaluation of ``bm25_topk`` against AND-semantics
    relevance: (n_relevant, n_retrieved, n_hits, first_rel_rank,
    recall_micro, mrr_micro, dcg_nano, idcg_nano, ndcg_micro), all
    BIGINT, bit-exact against ``retrieval_eval_oracle_sql``."""
    from pyspark.sql.window import Window

    spark = docs.sparkSession
    terms = sorted(set(query_terms))
    nt = len(terms)

    top = bm25_topk(
        docs, terms, k=k, k1=k1, b=b, id_col=id_col, text_col=text_col
    )
    topk = top.select(
        F.col(id_col),
        F.row_number()
        .over(Window.orderBy(F.col("score_micro").desc(), F.col(id_col).asc()))
        .alias("rnk"),
    )

    toks = docs.select(
        F.col(id_col),
        F.explode(tokens_col(F.col(text_col))).alias("term"),
    )
    rel = (
        toks.filter(F.col("term").isin(terms))
        .groupBy(id_col)
        .agg(F.count_distinct("term").alias("_ntm"))
        .filter(F.col("_ntm") == nt)
        .select(id_col)
    )
    nrel = rel.agg(F.count(F.lit(1)).cast("bigint").alias("n_relevant"))
    nretr = topk.agg(F.count(F.lit(1)).cast("bigint").alias("n_retrieved"))

    disc = local_rows_df(
        spark, ndcg_discount_nano(k), "rnk int, d_nano bigint"
    )
    hits = topk.join(rel, id_col).join(F.broadcast(disc), "rnk")
    hagg = hits.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits"),
        F.coalesce(F.min("rnk"), F.lit(0)).cast("bigint").alias(
            "first_rel_rank"
        ),
        F.coalesce(F.sum("d_nano"), F.lit(0)).cast("bigint").alias(
            "dcg_nano"
        ),
    )
    ideal = (
        disc.crossJoin(nrel)
        .filter(F.col("rnk") <= F.least(F.col("n_relevant"), F.lit(k)))
        .agg(
            F.coalesce(F.sum("d_nano"), F.lit(0)).cast("bigint").alias(
                "idcg_nano"
            )
        )
    )

    half, mil = F.lit(0.5), F.lit(1000000.0)
    out = hagg.crossJoin(nretr).crossJoin(ideal).crossJoin(nrel)
    recall = (
        F.when(F.col("n_relevant") == 0, F.lit(0))
        .otherwise(
            F.floor(
                F.col("n_hits").cast("double")
                / F.col("n_relevant").cast("double")
                * mil
                + half
            )
        )
        .cast("bigint")
    )
    mrr = (
        F.when(F.col("first_rel_rank") == 0, F.lit(0))
        .otherwise(
            F.floor(mil / F.col("first_rel_rank").cast("double") + half)
        )
        .cast("bigint")
    )
    ndcg = (
        F.when(F.col("idcg_nano") == 0, F.lit(0))
        .otherwise(
            F.floor(
                F.col("dcg_nano").cast("double")
                / F.col("idcg_nano").cast("double")
                * mil
                + half
            )
        )
        .cast("bigint")
    )
    return out.select(
        "n_relevant",
        "n_retrieved",
        "n_hits",
        "first_rel_rank",
        recall.alias("recall_micro"),
        mrr.alias("mrr_micro"),
        "dcg_nano",
        "idcg_nano",
        ndcg.alias("ndcg_micro"),
    )


def retrieval_eval_oracle_sql(
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """DuckDB SQL computing the identical one-row evaluation — the same
    BM25 scored CTEs every other oracle shares, the same Python-folded
    discount literals, the same grid spellings."""
    terms = sorted(set(query_terms))
    nt = len(terms)
    tlist = _term_list(terms)
    disc_vals = ", ".join(
        f"({r}, {d})" for r, d in ndcg_discount_nano(k)
    )
    return f"""
    WITH disc(rnk, d_nano) AS (VALUES {disc_vals}),
    {_bm25_toks_stats_ctes()},
    {_bm25_tf_dft_ctes(tlist)},
    scored AS (
      SELECT tf.doc_id,
             {_bm25_term_score_sql(k1, b)} AS term_score_micro
      FROM tf JOIN dft USING (term) CROSS JOIN stats
    ),
    agg AS (
      SELECT doc_id, CAST(SUM(term_score_micro) AS BIGINT) AS score_micro
      FROM scored GROUP BY doc_id
    ),
    topk AS (
      SELECT doc_id, rnk FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id ASC)
                 AS rnk
        FROM agg) WHERE rnk <= {k}
    ),
    rel AS (SELECT doc_id FROM tf GROUP BY doc_id HAVING COUNT(*) = {nt}),
    nrel AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_relevant FROM rel),
    nretr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_retrieved FROM topk),
    hits AS (
      SELECT t.rnk, d.d_nano
      FROM topk t JOIN rel r ON t.doc_id = r.doc_id
                  JOIN disc d ON d.rnk = t.rnk
    ),
    hagg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_hits,
             CAST(COALESCE(MIN(rnk), 0) AS BIGINT) AS first_rel_rank,
             CAST(COALESCE(SUM(d_nano), 0) AS BIGINT) AS dcg_nano
      FROM hits
    ),
    ideal AS (
      SELECT CAST(COALESCE(SUM(d.d_nano), 0) AS BIGINT) AS idcg_nano
      FROM disc d CROSS JOIN nrel
      WHERE d.rnk <= LEAST(nrel.n_relevant, {k})
    )
    SELECT nrel.n_relevant, nretr.n_retrieved, h.n_hits, h.first_rel_rank,
           CASE WHEN nrel.n_relevant = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(floor(CAST(h.n_hits AS DOUBLE)
                     / CAST(nrel.n_relevant AS DOUBLE)
                     * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE))
                     AS BIGINT) END AS recall_micro,
           CASE WHEN h.first_rel_rank = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(floor(CAST(1000000.0 AS DOUBLE)
                     / CAST(h.first_rel_rank AS DOUBLE)
                     + CAST(0.5 AS DOUBLE)) AS BIGINT) END AS mrr_micro,
           h.dcg_nano, i.idcg_nano,
           CASE WHEN i.idcg_nano = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(floor(CAST(h.dcg_nano AS DOUBLE)
                     / CAST(i.idcg_nano AS DOUBLE)
                     * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE))
                     AS BIGINT) END AS ndcg_micro
    FROM hagg h CROSS JOIN ideal i CROSS JOIN nrel CROSS JOIN nretr
    """
