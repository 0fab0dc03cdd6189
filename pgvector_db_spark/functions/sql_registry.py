"""SQL-surface registration of the vector operators.

pgvector's operators are SQL-level (``embedding <=> q``); this registers
the engine's equivalents as Spark SQL functions (Spark 4 SQL UDFs — pure
SQL bodies, fully Catalyst-optimized, no Python), so a user can write:

    SELECT id, 1 - cosine_distance(embedding, to_vector('[...]')) AS sim
    FROM documents ORDER BY cosine_distance(embedding, q) LIMIT 5

mirroring the reference's issued SQL (demo/similarity_search_demo.py:83-95,
README.md:230-241) with function-call syntax instead of operators.

Note: Spark disallows SQL UDFs directly inside ORDER BY
(UNSUPPORTED_SQL_UDF_USAGE on Sort); project the distance as a column in a
subquery/CTE and order by that column — Catalyst still collapses it into
one TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from pgvector_db_spark.functions import vector as V

_FUNCTIONS: dict[str, str] = {
    "dot_product": f"""
        CREATE OR REPLACE TEMPORARY FUNCTION dot_product(a ARRAY<FLOAT>, b ARRAY<FLOAT>)
        RETURNS DOUBLE RETURN {V.dot_sql('a', 'b')}""",
    "vector_norm": f"""
        CREATE OR REPLACE TEMPORARY FUNCTION vector_norm(a ARRAY<FLOAT>)
        RETURNS DOUBLE RETURN {V.norm_sql('a')}""",
    "cosine_similarity": f"""
        CREATE OR REPLACE TEMPORARY FUNCTION cosine_similarity(a ARRAY<FLOAT>, b ARRAY<FLOAT>)
        RETURNS DOUBLE RETURN {V.cosine_similarity_sql('a', 'b')}""",
    "cosine_distance": f"""
        CREATE OR REPLACE TEMPORARY FUNCTION cosine_distance(a ARRAY<FLOAT>, b ARRAY<FLOAT>)
        RETURNS DOUBLE RETURN {V.cosine_distance_sql('a', 'b')}""",
    "inner_product_distance": f"""
        CREATE OR REPLACE TEMPORARY FUNCTION inner_product_distance(a ARRAY<FLOAT>, b ARRAY<FLOAT>)
        RETURNS DOUBLE RETURN {V.ip_sql('a', 'b')}""",
    "l2_distance": f"""
        CREATE OR REPLACE TEMPORARY FUNCTION l2_distance(a ARRAY<FLOAT>, b ARRAY<FLOAT>)
        RETURNS DOUBLE RETURN {V.l2_sql('a', 'b')}""",
    "l1_distance": f"""
        CREATE OR REPLACE TEMPORARY FUNCTION l1_distance(a ARRAY<FLOAT>, b ARRAY<FLOAT>)
        RETURNS DOUBLE RETURN {V.l1_sql('a', 'b')}""",
    "to_vector": """
        CREATE OR REPLACE TEMPORARY FUNCTION to_vector(s STRING)
        RETURNS ARRAY<FLOAT> RETURN from_json(s, 'array<float>')""",
    "vector_dims": """
        CREATE OR REPLACE TEMPORARY FUNCTION vector_dims(a ARRAY<FLOAT>)
        RETURNS INT RETURN size(a)""",
    "l2_normalize": f"""
        CREATE OR REPLACE TEMPORARY FUNCTION l2_normalize(a ARRAY<FLOAT>)
        RETURNS ARRAY<DOUBLE> RETURN {V.l2_normalize_sql('a')}""",
}

# sparsevec surface (functions/sparse.py), same SQL-UDF treatment; the
# sparsify bodies are inlined (not generator output) because eps is a
# runtime UDF parameter here, not a baked-in literal
from pgvector_db_spark.functions.sparse import sparse_dot_sql  # noqa: E402

_SPARSE_DOT = sparse_dot_sql("ai", "av", "bi", "bv", "spark")
_FUNCTIONS.update(
    {
        "sparse_indices": f"""
        CREATE OR REPLACE TEMPORARY FUNCTION sparse_indices(a ARRAY<FLOAT>, eps DOUBLE)
        RETURNS ARRAY<INT> RETURN filter(sequence(1, size(a)),
          i -> abs(CAST(element_at(a, i) AS DOUBLE)) > eps)""",
        "sparse_values": f"""
        CREATE OR REPLACE TEMPORARY FUNCTION sparse_values(a ARRAY<FLOAT>, eps DOUBLE)
        RETURNS ARRAY<DOUBLE> RETURN transform(
          filter(sequence(1, size(a)),
                 i -> abs(CAST(element_at(a, i) AS DOUBLE)) > eps),
          i -> CAST(element_at(a, i) AS DOUBLE))""",
        "sparse_dot": f"""
        CREATE OR REPLACE TEMPORARY FUNCTION sparse_dot(
          ai ARRAY<INT>, av ARRAY<DOUBLE>, bi ARRAY<INT>, bv ARRAY<DOUBLE>)
        RETURNS DOUBLE RETURN {_SPARSE_DOT}""",
        "sparse_cosine_distance": f"""
        CREATE OR REPLACE TEMPORARY FUNCTION sparse_cosine_distance(
          ai ARRAY<INT>, av ARRAY<DOUBLE>, bi ARRAY<INT>, bv ARRAY<DOUBLE>)
        RETURNS DOUBLE RETURN 1.0 - {_SPARSE_DOT} /
          ({V.norm_sql('av')} * {V.norm_sql('bv')})""",
    }
)


# pgvector 0.7 bit-vector surface: binary_quantize(vector) -> bit, plus
# the two bit distances `<~>` (hamming_distance) and `<%>`
# (jaccard_distance). Codes are ARRAY<INT> of 0/1 (Spark has no bit
# type); all math is integer folds -> engine-exact.
_FUNCTIONS.update(
    {
        # strict x > 0 (not >=): pgvector's binary_quantize sets a bit
        # only for positive components, so exact 0.0 maps to 0
        # (pgvector src/vector.c binary_quantize; r5 ADVICE)
        "binary_quantize": """
        CREATE OR REPLACE TEMPORARY FUNCTION binary_quantize(a ARRAY<FLOAT>)
        RETURNS ARRAY<INT> RETURN transform(a, x -> IF(x > 0, 1, 0))""",
        "hamming_distance": """
        CREATE OR REPLACE TEMPORARY FUNCTION hamming_distance(a ARRAY<INT>, b ARRAY<INT>)
        RETURNS BIGINT RETURN aggregate(zip_with(a, b,
          (x, y) -> IF(x != y, CAST(1 AS BIGINT), CAST(0 AS BIGINT))),
          CAST(0 AS BIGINT), (acc, d) -> acc + d)""",
        # zero-union guard: pgvector returns NaN when both codes are
        # all-zero (0/0); without the CASE the division yields NULL here
        # (engine-dependent) — match pgvector (r5 ADVICE)
        "jaccard_distance": """
        CREATE OR REPLACE TEMPORARY FUNCTION jaccard_distance(a ARRAY<INT>, b ARRAY<INT>)
        RETURNS DOUBLE RETURN CASE
          WHEN aggregate(zip_with(a, b,
            (x, y) -> IF(x = 1 OR y = 1, CAST(1 AS BIGINT), CAST(0 AS BIGINT))),
            CAST(0 AS BIGINT), (acc, d) -> acc + d) = 0
          THEN CAST('NaN' AS DOUBLE)
          ELSE 1.0 -
          CAST(aggregate(zip_with(a, b,
            (x, y) -> IF(x = 1 AND y = 1, CAST(1 AS BIGINT), CAST(0 AS BIGINT))),
            CAST(0 AS BIGINT), (acc, d) -> acc + d) AS DOUBLE) /
          aggregate(zip_with(a, b,
            (x, y) -> IF(x = 1 OR y = 1, CAST(1 AS BIGINT), CAST(0 AS BIGINT))),
            CAST(0 AS BIGINT), (acc, d) -> acc + d)
        END""",
    }
)


def register_sql_functions(spark: SparkSession) -> list[str]:
    """Install the vector function surface into the session (idempotent)."""
    for ddl in _FUNCTIONS.values():
        spark.sql(ddl)
    return sorted(_FUNCTIONS)
