"""Vector math as native Catalyst expressions (no Python UDFs).

Re-implements the pgvector operator surface the reference issues in SQL:
  - ``<=>`` cosine distance  (reference demo/similarity_search_demo.py:90,93,
    demo/aws_rds_demo.py:73,75, README.md:237,240)
  - ``1 - (a <=> b)`` cosine similarity projection
  - ``<->`` l2, ``<#>`` negative inner product, ``<+>`` l1 (pgvector's other
    distance operators; named in pgvector docs, kept for parity)
  - ``'[...]'::vector`` literal cast (demo/aws_rds_demo.py:68, README.md:292)
  - ``vector_dims()`` (reference demo/README.md:96)

One definition: the ``*_sql(..., dialect)`` generators are the only place
the vector math is written. ``dialect="spark"`` emits Spark SQL
(higher-order functions); ``dialect="duckdb"`` emits the DuckDB
equivalent with the SAME sequential fold, so float64 results are bitwise
identical — which is what makes the differential oracle's value-hash
comparison exact. Everything else renders them:
  - each Column builder below is ``F.expr(<its generator>)``; its
    arguments are SQL expression strings, a plain column name counts as
    one, and :func:`col_sql` backtick-quotes any other name;
  - the SQL-surface functions (functions/sql_registry.py), the query
    registry's Spark SQL and its DuckDB oracles (queries.py), and the
    ANN operators (knn, IVF, LSH, SQ8) splice the same text.
A plan pays one parse per expression however long the vector: a 768-d
query literal is one JVM call, not 768.

Design for determinism + scale:
  - All arithmetic in float64 with a **sequential left fold**
    (``aggregate`` / DuckDB ``list_reduce``), so results are
    bitwise-reproducible across engines and partitionings.
  - Everything stays inside whole-stage codegen (higher-order functions are
    JVM expressions) — no serde boundary, vectorized parquet reads feed it
    directly. This is the hot inner loop of every kNN scan at 100 TB; a
    Python UDF here would be a 10-100x regression.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _d(x: Column) -> Column:
    return x.cast("double")


def col_sql(name: str) -> str:
    """A column name as Spark SQL text: backtick-quoted, so a name holding
    a space, a dot or a backtick stays one identifier."""
    return "`" + name.replace("`", "``") + "`"


# ---------------------------------------------------------------------------
# SQL-text generators: the one definition of the vector math.
# ---------------------------------------------------------------------------


def dot_sql(a: str, b: str, dialect: str = "spark") -> str:
    if dialect == "spark":
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, len({a}) + 1), i -> "
        f"CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
        f"(acc, x) -> acc + x)"
    )


def norm_sql(a: str, dialect: str = "spark") -> str:
    return f"sqrt({dot_sql(a, a, dialect)})"


def fold_norm(vec: list[float]) -> float:
    """:func:`norm_sql` evaluated driver-side: the same sequential float64
    fold and sqrt, so the same bits."""
    acc = 0.0
    for x in vec:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def l2sq_sql(a: str, b: str, dialect: str = "spark") -> str:
    """Squared L2 distance as the same sequential left fold as
    ``dot_sql`` — the KMeans/assignment kernel (no sqrt: argmin is
    order-preserving and the squared grid keeps inertia exact)."""
    if dialect == "spark":
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> "
            f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
            f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
            f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, len({a}) + 1), i -> "
        f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) * "
        f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))), "
        f"(acc, x) -> acc + x)"
    )


def l2_sql(a: str, b: str, dialect: str = "spark") -> str:
    """pgvector ``<->``: Euclidean distance."""
    return f"sqrt({l2sq_sql(a, b, dialect)})"


def ip_sql(a: str, b: str, dialect: str = "spark") -> str:
    """pgvector ``<#>``: negative inner product (ORDER BY ASC = most
    similar)."""
    return f"(-{dot_sql(a, b, dialect)})"


def l1_sql(a: str, b: str, dialect: str = "spark") -> str:
    """pgvector ``<+>``: Manhattan distance."""
    if dialect == "spark":
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> "
            f"abs(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
            f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, len({a}) + 1), i -> "
        f"abs(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))), "
        f"(acc, x) -> acc + x)"
    )


def cosine_similarity_sql(a: str, b: str, dialect: str = "spark") -> str:
    return f"({dot_sql(a, b, dialect)} / ({norm_sql(a, dialect)} * {norm_sql(b, dialect)}))"


def cosine_distance_sql(a: str, b: str, dialect: str = "spark") -> str:
    return f"(1.0 - {cosine_similarity_sql(a, b, dialect)})"


# pgvector's ivfflat operator classes by metric name: <=>, <->, <#>
DISTANCE_SQL = {"cosine": cosine_distance_sql, "l2": l2_sql, "ip": ip_sql}


def cosine_distance_precomputed_sql(
    a: str, b: str, a_norm: str, b_norm: str, dialect: str = "spark"
) -> str:
    """``1 - dot/(a_norm * b_norm)`` with the norms supplied, not
    recomputed: ONE fold over the vectors per comparison instead of
    three. Bitwise equal to :func:`cosine_distance_sql` when the norms
    were produced by :func:`norm_sql` (same fold, same sqrt) — which is
    what lets a norm-materialized layout (operators/ivf.py) keep the
    exact-path oracle."""
    return f"(1.0 - {dot_sql(a, b, dialect)} / ({a_norm} * {b_norm}))"


def l2_normalize_sql(a: str, dialect: str = "spark") -> str:
    """Unit-normalize. On Spark the norm fold is evaluated ONCE per row:
    Catalyst has no let-binding and does not hoist loop-invariant
    expressions out of higher-order lambdas, so ``transform(a, x -> x /
    norm(a))`` would re-run the O(d) fold per element (O(d²) per
    vector). Instead the norm is materialized into a d-length array via
    ``array_repeat`` (its scalar argument is evaluated once) and divided
    element-wise with ``zip_with`` — O(d) total, identical values. The
    DuckDB form is the plain per-element division (an oracle, not a hot
    path)."""
    if dialect == "spark":
        return (
            f"zip_with({a}, array_repeat({norm_sql(a)}, size({a})), "
            f"(x, n) -> CAST(x AS DOUBLE) / n)"
        )
    return f"list_transform({a}, x -> CAST(x AS DOUBLE) / {norm_sql(a, dialect)})"


def vector_literal_sql(vec: list[float], dialect: str = "spark") -> str:
    """Inline array literal (Spark needs ``array(...)``; DuckDB ``[...]``).
    Values go through a STRING→DOUBLE cast, not a bare numeric literal:
    both engines parse strings with correct rounding, whereas a bare
    high-precision literal becomes DECIMAL first and the extra
    decimal→double hop can land one ULP off (observed on DuckDB)."""
    body = ", ".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in vec)
    return f"array({body})" if dialect == "spark" else f"[{body}]"


def subvector_sql(a: str, start: int, count: int, dialect: str = "spark") -> str:
    """pgvector ``subvector(v, start, count)`` — 1-based, count elements."""
    if dialect == "spark":
        return f"slice({a}, {start}, {count})"
    return f"({a})[{start}:{start + count - 1}]"


def chunk_vector_sql(
    a: str, n_chunks: int, chunk_dim: int, dialect: str = "spark"
) -> str:
    """array<numeric>(n·d) → array<array>(n) of d-dim chunks — the
    multi-vector (token-vector) view of a packed embedding. Chunk i is
    elements [i·d+1 .. i·d+d] (1-based slice on both engines)."""
    if n_chunks < 1 or chunk_dim < 1:
        # sequence(0, -1) would count DOWN and yield garbage chunks
        raise ValueError(
            f"n_chunks and chunk_dim must be >= 1, got {n_chunks}/{chunk_dim}"
        )
    d = chunk_dim
    if dialect == "spark":
        return f"transform(sequence(0, {n_chunks - 1}), i -> slice({a}, i * {d} + 1, {d}))"
    return f"list_transform(range(0, {n_chunks}), i -> ({a})[i * {d} + 1 : i * {d} + {d}])"


def maxsim_sql(doc_chunks: str, q_chunks: str, dialect: str = "spark") -> str:
    """ColBERT-style late-interaction MaxSim over inner product:
    ``Σ over query chunks of max over doc chunks of dot(qc, dc)``.
    Each dot is the sequential float64 fold, max over finite doubles is
    order-independent, and the outer sum folds the query chunks in array
    order — so both dialects are bitwise-equal."""
    if dialect == "spark":
        return (
            f"aggregate(transform({q_chunks}, qc -> array_max(transform("
            f"{doc_chunks}, dc -> {dot_sql('qc', 'dc')}))), "
            f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform({q_chunks}, qc -> list_max(list_transform("
        f"{doc_chunks}, dc -> {dot_sql('qc', 'dc', dialect)})))), "
        f"(acc, x) -> acc + x)"
    )


# pgvector 0.7's `bit(n)` surface: binary_quantize(vector) -> bit string,
# hamming_distance (`<~>`) and jaccard_distance (`<%>`) over bits. Sign
# bits pack into 32-bit words stored in BIGINTs (an array<bigint>), so a
# 64-dim embedding is 2 words — a 32x narrower shuffle/scan payload than
# the float32 array, which is the whole point at 100 TB: the Hamming
# prefilter pass reads ~3% of the bytes of the exact pass. 32 bits per
# word (not 63) keeps every shift identical on Spark and DuckDB (DuckDB
# range-checks `1 << 63`).

_BITS_PER_WORD = 32


def binary_quantize_sql(a: str, dim: int, dialect: str = "spark") -> str:
    """array<numeric>(dim) → array<bigint> of ceil(dim/32) sign-bit words
    (bit i of word w = 1 iff a[32w+i] > 0, matching pgvector's
    binary_quantize threshold). Both dialects produce the identical
    array<bigint>."""
    nwords = (dim + _BITS_PER_WORD - 1) // _BITS_PER_WORD
    w = _BITS_PER_WORD
    if dialect == "spark":
        return (
            f"transform(sequence(0, {nwords - 1}), w -> "
            f"aggregate(zip_with(slice({a}, w*{w}+1, {w}), sequence(0, {w - 1}), "
            f"(v, i) -> CASE WHEN v > 0 THEN shiftleft(CAST(1 AS BIGINT), i) "
            f"ELSE CAST(0 AS BIGINT) END), "
            f"CAST(0 AS BIGINT), (acc, x) -> acc | x))"
        )
    return (
        f"list_transform(range(0, {nwords}), w -> "
        f"list_sum(list_transform({a}[w*{w}+1 : w*{w}+{w}], "
        f"(v, i) -> CASE WHEN v > 0 THEN (1::BIGINT << (i-1)) "
        f"ELSE 0::BIGINT END))::BIGINT)"
    )


def hamming_sql(a: str, b: str, dialect: str = "spark") -> str:
    """popcount(a XOR b) over packed words → INT on both engines."""
    if dialect == "spark":
        return (
            f"CAST(aggregate(zip_with({a}, {b}, (x, y) -> bit_count(x ^ y)), "
            f"0, (acc, v) -> acc + v) AS INT)"
        )
    return (
        f"CAST(list_sum(list_transform({a}, (x, i) -> "
        f"bit_count(xor(x, {b}[i])))) AS INT)"
    )


def jaccard_bits_sql(a: str, b: str, dialect: str = "spark") -> str:
    """1 - popcount(a AND b)/popcount(a OR b) → DOUBLE on both engines.
    Two exact integer popcounts and one double division — deterministic
    across engines with no fold-order caveats."""
    if dialect == "spark":
        inter = (
            f"aggregate(zip_with({a}, {b}, (x, y) -> bit_count(x & y)), "
            f"0, (acc, v) -> acc + v)"
        )
        union = (
            f"aggregate(zip_with({a}, {b}, (x, y) -> bit_count(x | y)), "
            f"0, (acc, v) -> acc + v)"
        )
    else:
        inter = f"list_sum(list_transform({a}, (x, i) -> bit_count(x & {b}[i])))"
        union = f"list_sum(list_transform({a}, (x, i) -> bit_count(x | {b}[i])))"
    return f"(1.0 - CAST({inter} AS DOUBLE) / CAST({union} AS DOUBLE))"


# ---------------------------------------------------------------------------
# Column API: each builder renders its generator. Arguments are SQL
# expression strings (a column name is one; see col_sql).
# ---------------------------------------------------------------------------


def dot_product(a: str, b: str) -> Column:
    """Sequential-fold float64 dot product of two array<numeric>s."""
    return F.expr(dot_sql(a, b))


def l2_norm(a: str) -> Column:
    return F.expr(norm_sql(a))


def cosine_similarity(a: str, b: str) -> Column:
    """``1 - (a <=> b)`` — cosine similarity in [-1, 1]."""
    return F.expr(cosine_similarity_sql(a, b))


def cosine_distance(a: str, b: str) -> Column:
    """pgvector ``<=>``: 1 - cosine similarity."""
    return F.expr(cosine_distance_sql(a, b))


def cosine_distance_precomputed(a: str, b: str, a_norm: str, b_norm: str) -> Column:
    """:func:`cosine_distance` with each side's :func:`l2_norm` supplied."""
    return F.expr(cosine_distance_precomputed_sql(a, b, a_norm, b_norm))


def l2_distance(a: str, b: str) -> Column:
    """pgvector ``<->``: Euclidean distance."""
    return F.expr(l2_sql(a, b))


def inner_product_distance(a: str, b: str) -> Column:
    """pgvector ``<#>``: negative inner product."""
    return F.expr(ip_sql(a, b))


def l1_distance(a: str, b: str) -> Column:
    """pgvector ``<+>``: Manhattan distance."""
    return F.expr(l1_sql(a, b))


def l2_normalize(a: str) -> Column:
    """Unit-normalize; with normalized vectors cosine top-k reduces to a
    dot-product top-k (one fold instead of three) — the fast path for
    repeated kNN at scale."""
    return F.expr(l2_normalize_sql(a))


def vector_literal(vec: list[float]) -> Column:
    """Driver-side constant vector → array<double> literal column."""
    return F.expr(vector_literal_sql(vec))


def subvector(a: str, start: int, count: int) -> Column:
    """pgvector 0.7 ``subvector(vector, start, count)`` — 1-based start,
    like the Postgres function. The Matryoshka-retrieval primitive: with
    MRL-trained embeddings, distance on a dim-prefix is a cheap coarse
    rank whose cost scales with the prefix, not the full dimension."""
    return F.expr(subvector_sql(a, start, count))


def chunk_vector(a: str, n_chunks: int, chunk_dim: int) -> Column:
    """The multi-vector view of a packed embedding (:func:`chunk_vector_sql`)."""
    return F.expr(chunk_vector_sql(a, n_chunks, chunk_dim))


def maxsim_score(doc_chunks: str, q_chunks: str) -> Column:
    """Late-interaction MaxSim (:func:`maxsim_sql`) — the vs_maxsim_topk
    kernel."""
    return F.expr(maxsim_sql(doc_chunks, q_chunks))


def binary_quantize(a: str, dim: int) -> Column:
    """Sign-bit words of a dim-d vector (:func:`binary_quantize_sql`)."""
    return F.expr(binary_quantize_sql(a, dim))


def hamming_distance(a: str, b: str) -> Column:
    """pgvector ``<~>`` over packed sign-bit words: popcount(a XOR b)."""
    return F.expr(hamming_sql(a, b))


def jaccard_bit_distance(a: str, b: str) -> Column:
    """pgvector ``<%>``: 1 - popcount(a AND b) / popcount(a OR b)."""
    return F.expr(jaccard_bits_sql(a, b))


def to_vector(s: ColumnOrName) -> Column:
    """``'[0.1,0.2,...]'::vector`` literal cast (reference README.md:292).

    The pgvector literal format is valid JSON, so ``from_json`` parses it
    JVM-side; returns array<float> to match the VECTOR wire type.
    """
    return F.from_json(_c(s), "array<float>")


def vector_dims(a: ColumnOrName) -> Column:
    """pgvector ``vector_dims()`` (reference demo/README.md:96)."""
    return F.size(_c(a))


# -- scalar quantization (int8) ---------------------------------------------
# At 100 TB, float32 embeddings dominate storage and shuffle width; int8
# symmetric quantization cuts both 4x at <1% cosine error for unit-scale
# embeddings. pgvector gained the same idea as halfvec/scalar quant; here
# it is two pure Catalyst expressions, so quantized datasets stay fully
# queryable (dequantize → any distance expression).


def quantize_scale(a: ColumnOrName) -> Column:
    """Per-vector symmetric scale: 127 / max|x| (0-vectors → scale 1)."""
    mx = F.array_max(F.transform(_c(a), lambda x: F.abs(_d(x))))
    return F.when(mx > 0.0, F.lit(127.0) / mx).otherwise(F.lit(1.0))


def quantize_int8(a: ColumnOrName, scale: Column) -> Column:
    """array<float> → array<tinyint>, round-half-up after scaling."""
    return F.transform(_c(a), lambda x: F.round(_d(x) * scale).cast("tinyint"))


def dequantize(q: ColumnOrName, scale: Column) -> Column:
    """array<tinyint> → array<double> (x' = q / scale)."""
    return F.transform(_c(q), lambda x: x.cast("double") / scale)


def half_quantize(a: ColumnOrName) -> Column:
    """pgvector ``halfvec``-style precision reduction as a pure Catalyst
    expression: snap each component to an 11-bit-mantissa grid
    (quantum = 2^(floor(log2|x|) - 10), round half-away) — the storage
    precision of IEEE half without its rounding mode (half-even),
    subnormals, or range clamp. Power-of-two scaling and the integer
    round are exact in float64, so the grid is engine-independent and
    the op is exactly oracle-checkable (unlike true float16, which
    neither Spark SQL nor DuckDB exposes)."""

    def snap(x: Column) -> Column:
        d = _d(x)
        qtm = F.pow(F.lit(2.0), F.floor(F.log2(F.abs(d))) - 10)
        return F.when(d == 0.0, F.lit(0.0)).otherwise(F.round(d / qtm) * qtm)

    return F.transform(_c(a), snap)
