"""Seeded input generators for the benchmark.

Everything the program under test receives is made here from the
workload seed: clustered vectors, texts with planted near-duplicate
pairs, a TPC-H-shaped star schema, and a cheap hash-projection text
encoder that stands in for a sentence-transformers model so the real
``embed_text`` ``mapInPandas`` path runs without downloads. The same
seed always yields byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64

_WORDS = (
    "spark vector index query scan batch stream table row column join "
    "filter group order merge hash sort window value key data part line "
    "fast slow big small agg cluster probe list centroid shard cache page "
    "file layout commit snapshot export embed token model recall latency"
).split()


# -- vectors -----------------------------------------------------------------


def clustered_vectors(rng: np.random.Generator, n: int, clusters: int) -> np.ndarray:
    """``n`` float32 vectors drawn around ``clusters`` random centres, so an
    IVF index has real structure to find."""
    centres = rng.normal(size=(clusters, DIM))
    assign = rng.integers(0, clusters, n)
    return (centres[assign] + 0.45 * rng.normal(size=(n, DIM))).astype(np.float32)


def vector_table_arrow(ids: np.ndarray, vecs: np.ndarray, labels: np.ndarray) -> pa.Table:
    """Rows in the ``VectorTable`` shape: id, text, embedding, label."""
    return pa.table(
        {
            "id": pa.array(ids.astype(np.int64)),
            "text": pa.array([f"item {i}" for i in ids]),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


# -- texts -------------------------------------------------------------------


_TOPICS = 24
_TOPIC_WORDS = 30


def random_texts(rng: np.random.Generator, n: int, words: int = 24) -> list[str]:
    """``n`` texts of ``words`` tokens each. Every text draws three
    quarters of its words from one of ``_TOPICS`` topic vocabularies and
    the rest from a shared one, so the texts' embeddings cluster by
    topic; a numbered tail token keeps every text's token set distinct."""
    topic = rng.integers(0, _TOPICS, size=(n, 1))
    own = rng.random(size=(n, words)) < 0.75
    topic_word = rng.integers(0, _TOPIC_WORDS, size=(n, words))
    shared_word = rng.integers(0, len(_WORDS), size=(n, words))
    tails = rng.integers(0, 10**9, size=n)
    out = []
    for i in range(n):
        toks = [
            f"t{topic[i, 0]}x{topic_word[i, j]}" if own[i, j] else _WORDS[shared_word[i, j]]
            for j in range(words)
        ]
        out.append(" ".join(toks) + f" w{tails[i]}")
    return out


def corpus_with_near_dups(
    rng: np.random.Generator, n: int, dup_share: float = 0.05
) -> tuple[list[str], list[tuple[int, int]]]:
    """``n`` texts where ``dup_share`` of them are near-copies of an earlier
    text: one word swapped for a fresh token. Returns the texts and the
    planted (original_id, copy_id) pairs, ids being 1-based positions."""
    texts = random_texts(rng, n, words=40)
    n_dups = int(n * dup_share)
    copies = rng.choice(np.arange(n // 2, n), size=n_dups, replace=False)
    pairs = []
    for c in copies:
        src = int(rng.integers(0, n // 2))
        words = texts[src].split()
        pos = int(rng.integers(0, len(words) - 1))
        words[pos] = f"edit{int(rng.integers(0, 10**9))}"
        texts[c] = " ".join(words)
        pairs.append((src + 1, int(c) + 1))
    return texts, sorted(pairs)


# -- encoder -----------------------------------------------------------------


class HashProjectionEncoder:
    """Bag-of-words hash projection: every token picks a fixed random row
    of a seeded matrix by its crc32, and a text's embedding is the sum of
    its tokens' rows. Exposes the ``encode(texts, batch_size=)`` surface
    ``embed_text`` expects from a sentence-transformers model."""

    buckets = 4096

    def __init__(self, dim: int = DIM) -> None:
        self.dim = dim
        self.table = (
            np.random.default_rng(20240101).normal(size=(self.buckets, dim))
        ).astype(np.float32)

    def encode(self, texts, batch_size: int = 32) -> np.ndarray:
        out = np.zeros((len(texts), self.dim), dtype=np.float32)
        for i, text in enumerate(texts):
            rows = [zlib.crc32(tok.encode()) % self.buckets for tok in text.split()]
            if rows:
                out[i] = self.table[rows].sum(axis=0)
        return out


# -- relational star schema ----------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_EVENT_TYPES = ["click", "view", "purchase", "error", "login"]
_EPOCH_1992 = dt.datetime(1992, 1, 1)


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("datetime64[us]"), type=pa.timestamp("us"))


def write_star_schema(rng: np.random.Generator, out_dir: str, orders: int) -> dict[str, int]:
    """Write the ten tables ``pgvector_db_spark.catalog.TABLES`` names, in
    the fixture schema, sized by the ``orders`` count (lineitem ~4x).
    Money columns hold whole cents and quantities whole units, as in the
    fixtures, so the queries' decimal sums are exact on both engines.
    Returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(100, orders // 10)
    n_supp = max(20, orders // 150)
    n_part = max(100, orders // 8)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(_REGIONS),
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(rng.integers(-99999, 999999, n_cust) / 100.0),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust)),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(rng.integers(-99999, 999999, n_supp) / 100.0),
        }
    )
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array([f"part {i}" for i in range(n_part)]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 6, n_part)]),
            "p_type": pa.array(rng.choice(["SMALL", "MEDIUM", "LARGE"], n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(rng.integers(90000, 200000, n_part) / 100.0),
        }
    )
    order_days = rng.integers(0, 2400, orders)
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(orders, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, orders).astype(np.int64)),
            "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], orders)),
            "o_totalprice": pa.array(rng.integers(100000, 50000000, orders) / 100.0),
            "o_orderdate": _ts(
                np.datetime64(_EPOCH_1992) + order_days.astype("timedelta64[D]")
            ),
            "o_orderpriority": pa.array(
                rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPEC", "5-LOW"], orders)
            ),
        }
    )
    lines = rng.integers(1, 8, orders)
    l_order = np.repeat(np.arange(orders, dtype=np.int64), lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n_li = len(l_order)
    ship = order_days[l_order] + rng.integers(1, 120, n_li)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
            "l_linenumber": pa.array(l_num),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(rng.integers(90000, 10000000, n_li) / 100.0),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
            "l_linestatus": pa.array(rng.choice(["O", "F"], n_li)),
            "l_shipdate": _ts(np.datetime64(_EPOCH_1992) + ship.astype("timedelta64[D]")),
        }
    )
    n_ev = orders
    ev_us = np.sort(rng.integers(0, 3 * 86400 * 10**6, n_ev))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": _ts(np.datetime64(dt.datetime(2024, 1, 1)) + ev_us.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, 1000, n_ev).astype(np.int64)),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, n_ev)),
            "value": pa.array(rng.integers(0, 10000, n_ev) / 100.0),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    n_docs = max(200, orders // 5)
    texts = random_texts(rng, n_docs)
    # exact copies, so the content-hash dedup has groups to fold
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))]
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(["en", "de", "fr", "zh"], n_docs)),
            "source": pa.array([f"src{s}" for s in rng.integers(0, 5, n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    n_vec = 2000
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
            "embedding": pa.array(
                list(clustered_vectors(rng, n_vec, 10)), type=pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, n_vec).astype(np.int32)),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
