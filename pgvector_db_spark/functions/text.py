"""Text-analysis primitives for the LLM-data-pipeline operators
(BASELINE.json north star; SURVEY §2.3): shingling, MinHash, SimHash,
rolling-hash fingerprints, token stats, language-ID heuristic.

All pure Catalyst expressions (higher-order functions + md5) — the hot
path of a 100 TB dedup run must stay JVM-side, and every primitive is
SQL-expressible so the DuckDB oracle replays it exactly:

  hash32(s)  = first 8 hex chars of md5(s) as a bigint   (order-free min)
  minhash_j  = min over shingles of hash32(shingle || '_mh<j>')
  simhash    = per-bit majority vote over token hash32s
  fingerprint = sequential polynomial fold over characters

One generator per MinHash primitive: ``char_shingles_sql``,
``minhash_signature_sql`` and ``lsh_band_keys_sql`` write the Spark SQL
text, and the Column builders of the same name are ``F.expr(<generator>)``
over SQL-text arguments (a plain column name is one; ``col_sql`` quotes
any other). A signature is one parsed expression, so building its plan
costs the same few JVM calls at 16 hashes as at 64.

Hex-min form: the md5 mode takes ``array_min`` over the 8-char hex
prefixes and decodes the winner once per component, instead of decoding
every (shingle, component) hash. Fixed-width lowercase hex sorts like
its value ('0'-'9' < 'a'-'f' byte-wise), so the result is bitwise the
per-shingle ``hash32`` fold the DuckDB oracle replays.

Determinism: md5 is identical everywhere; min / majority / fold are either
order-insensitive or sequentially folded, so results are bitwise equal
across engines and partitionings.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str

MOD = 1_000_000_007


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


def hash32(s: Column) -> Column:
    """First 32 bits of md5 as bigint — the shared cross-engine hash."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint")


def char_shingles_sql(text: str, k: int = 5) -> str:
    """Distinct character k-grams of ``text`` (the MinHash input units)."""
    return (
        f"array_distinct(transform(sequence(1, length({text}) - {k - 1}), "
        f"_p -> substring({text}, _p, {k})))"
    )


def minhash_signature_sql(
    shingles: str,
    num_hashes: int = 16,
    prefix: str = "_mh",
    hash_fn: str = "md5",
) -> str:
    """MinHash signature of the ``shingles`` array as array<bigint>:
    component j is the minimum of hash(shingle, j) over the set. md5
    components take the min over hex prefixes and decode it once (the
    hex-min form, see the module docstring); xxhash64 components hash the
    shingle with the component number."""

    def comp(j: int) -> str:
        if hash_fn == "xxhash64":
            return f"array_min(transform({shingles}, _s -> xxhash64(_s, {j})))"
        return (
            f"CAST(conv(array_min(transform({shingles}, "
            f"_s -> substring(md5(concat(_s, '{prefix}{j}')), 1, 8))), 16, 10) AS BIGINT)"
        )

    return "array(" + ", ".join(comp(j) for j in range(num_hashes)) + ")"


def lsh_band_keys_sql(sig: str, bands: int, rows_per_band: int) -> str:
    """Band keys of signature ``sig``: md5 over each band's slice."""
    keys = [
        f"md5(concat('band{b}:', concat_ws(',', transform("
        f"slice({sig}, {b * rows_per_band + 1}, {rows_per_band}), "
        f"_x -> CAST(_x AS STRING)))))"
        for b in range(bands)
    ]
    return "array(" + ", ".join(keys) + ")"


def char_shingles(text: str, k: int = 5) -> Column:
    """Distinct character k-grams (the MinHash input units)."""
    return F.expr(char_shingles_sql(text, k))


def tokens(text: ColumnOrName) -> Column:
    """Whitespace tokens."""
    return F.split(F.trim(_c(text)), r"\s+")


def minhash_signature(
    shingles: str,
    num_hashes: int = 16,
    prefix: str = "_mh",
    hash_fn: str = "md5",
) -> Column:
    """MinHash signature as array<bigint>: component j is the minimum of
    hash(shingle, j) over the shingle set. Each component is an
    independent permutation approximation; P(minhash_a == minhash_b) =
    jaccard(a, b).

    ``hash_fn='md5'`` is the cross-engine (DuckDB-replicable) hash used by
    oracle-checked queries; ``'xxhash64'`` is the production path — the
    same statistics at a fraction of the cost (one JVM hash vs an md5
    per (shingle, component))."""
    return F.expr(minhash_signature_sql(shingles, num_hashes, prefix, hash_fn))


def lsh_band_keys(sig: str, bands: int, rows_per_band: int) -> Column:
    """Band keys for LSH bucketing: md5 over each band's slice of the
    signature. Docs sharing ANY band key are candidate pairs — the
    banding turns O(n²) comparison into a shuffle on band keys."""
    return F.expr(lsh_band_keys_sql(sig, bands, rows_per_band))


def jaccard(a: Column, b: Column) -> Column:
    """Jaccard similarity of two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return inter / union


def simhash(text: ColumnOrName, bits: int = 16) -> Column:
    """SimHash over whitespace tokens: bit b of the result is the majority
    vote of bit b across all token hash32s (strict majority → 1)."""
    toks = tokens(text)
    hashes = F.transform(toks, lambda t: hash32(t))
    n = F.size(hashes)

    def ones_at(b: int) -> Column:
        def step(acc: Column, h: Column) -> Column:
            return acc + F.shiftright(h, b).bitwiseAND(F.lit(1))

        return F.aggregate(hashes, F.lit(0).cast("bigint"), step)

    out = F.lit(0).cast("bigint")
    for b in range(bits):
        out = out + F.when(ones_at(b) * 2 > n, F.lit(2**b).cast("bigint")).otherwise(
            F.lit(0)
        )
    return out


def hamming_distance(a: Column, b: Column, bits: int = 16) -> Column:
    """Hamming distance between two simhash values."""
    x = a.bitwiseXOR(b)
    return sum(
        (F.shiftright(x, i).bitwiseAND(F.lit(1)) for i in range(bits)),
        F.lit(0),
    )


def doc_fingerprint(text: ColumnOrName) -> Column:
    """Rolling polynomial hash over characters: fold (acc*31 + code) % p.
    Sequential fold → engine- and partitioning-independent."""
    t = _c(text)
    codes = F.transform(
        F.sequence(F.lit(1), F.length(t)),
        lambda i: F.ascii(F.substring(t, i, 1)).cast("bigint"),
    )
    return F.aggregate(
        codes,
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * 31 + x) % F.lit(MOD),
    )


STOPWORDS = {
    "en": ("the", "of", "and", "to", "in", "a"),
    "es": ("el", "de", "la", "que", "los", "y"),
    "fr": ("le", "de", "la", "et", "les", "des"),
    "de": ("der", "die", "und", "das", "von", "zu"),
    "zh": ("de5", "le5", "shi4", "zai4", "he2", "you3"),
}


def lang_scores(text: ColumnOrName) -> dict[str, Column]:
    """Stopword-hit count per language — the n-gram-heuristic language ID.
    Deterministic and SQL-expressible; predict with argmax + alphabetical
    tie-break (see queries.ds_lang_id)."""
    toks = tokens(F.lower(_c(text)))

    def score(ws: tuple[str, ...]) -> Column:
        # Chained equality, NOT w.isin(...): an In expression inside a
        # higher-order-function lambda generates pathological codegen that
        # Janino takes ~13 s to compile (measured; OR-chain compiles in
        # <0.4 s). Same semantics — split() never yields NULL elements.
        def is_stop(w: Column) -> Column:
            pred = w == F.lit(ws[0])
            for s in ws[1:]:
                pred = pred | (w == F.lit(s))
            return pred

        return F.size(F.filter(toks, is_stop))

    return {lang: score(ws) for lang, ws in STOPWORDS.items()}
