"""Shared partition-layout read helpers for point-query serving paths.

A partitioned serving layout (LSH ``sig=``, IVF ``list_id=``) answers a
point query by reading a handful of partitions out of hundreds. The
declarative read — ``spark.read.parquet(root).filter(col.isin(...))`` —
IS partition-pruned by Catalyst (PartitionFilters, pinned in
tests/test_plans.py), but planning it still LISTS every partition
directory to discover the layout, and at serving latency that listing
dominates the fixed cost: measured r12 on the LSH layout, the pruned
full-listing scan took 461 ms vs 225 ms for a direct read of only the
probed directories (sf0.1, local[32]). r12 VERDICT item #3 extends the
same direct read to the IVF point query, whose ``knn_ivf_ms`` ~202 ms
sat at exact-scan parity (~200 ms) for exactly this reason.

At 100 TB the data cost of the probed partitions dominates either way —
this helper removes the O(num_partitions) metadata term from the
point-query critical path, which is what interactive serving feels.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# layout schema per (session, path): a serving layout's schema is fixed
# for the life of the layout (appends write the same columns), so the
# footer-sampling inference — measured ~90 ms per call at sf0.1, ~40%
# of the whole IVF point query — runs once per session and every later
# probe passes the schema explicitly (~16 ms read construction).
# Writers that could change the column set call invalidate_layout().
_SCHEMA_CACHE: dict[tuple[int, str], object] = {}


def invalidate_layout(spark: SparkSession, path: str) -> None:
    """Drop the cached schema for ``path`` (call after a write that
    might change the layout's column set)."""
    _SCHEMA_CACHE.pop((id(spark), path.rstrip("/")), None)


def read_layout(spark: SparkSession, path: str) -> DataFrame:
    """Read an UNPARTITIONED serving layout with the per-session cached
    schema (r13): the SQ8 search constructs two reads of the same data
    dir per point query, each paying footer-sampling schema inference —
    the same fixed cost the probed-partition reader already caches
    away. File LISTING still happens per call, so appended files stay
    visible; writers that could change the column set call
    :func:`invalidate_layout`."""
    path = path.rstrip("/")
    key = (id(spark), path)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def read_probed_partitions(
    spark: SparkSession,
    path: str,
    part_col: str,
    values: list[int],
    schema=None,
) -> DataFrame:
    """Read ONLY the probed ``<part_col>=<v>`` partition directories,
    keeping the partition column via ``basePath`` — row-identical to
    ``read(path).filter(part_col.isin(values))`` but skips discovering
    and pruning the non-probed partitions, and skips schema inference:
    ``schema`` is the caller's layout schema, else (after the first call
    per session) the cached one.
    Falls back to the filtered full-listing read when the path isn't a
    local directory (object-store URIs: existence probes cost a request
    each, and the catalog listing is the portable path) or when every
    probed partition is empty (the fallback preserves the schema)."""
    path = path.rstrip("/")
    if os.path.isdir(path):
        dirs = [
            f"{path}/{part_col}={v}"
            for v in values
            if os.path.isdir(os.path.join(path, f"{part_col}={v}"))
        ]
        if dirs:
            reader = spark.read.option("basePath", path)
            if schema is None:
                key = (id(spark), path)
                schema = _SCHEMA_CACHE.get(key)
                if schema is None:
                    df = reader.parquet(*dirs)
                    _SCHEMA_CACHE[key] = df.schema
                    return df
            return reader.schema(schema).parquet(*dirs)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path).filter(
        F.col(part_col).isin(list(values))
    )
