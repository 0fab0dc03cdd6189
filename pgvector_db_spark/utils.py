"""Operational utilities mirroring the reference's ``utils.py``.

- ``time_it`` — wall-clock timing decorator (reference utils.py:17-34);
  kept for bench-harness parity and used by tools/difftest.py-style
  scripts. Timings are also observable in the Spark UI per job/stage.
- ``download_model`` / ``distribute_model_dir`` — model snapshot download
  + executor distribution (reference utils.py:83-123 downloads HF /
  sentence-transformers snapshots to a local dir). The heavy hub libs are
  not in this image, so the downloader is injectable and the default path
  is gated behind an import-try; the distribution step (driver dir →
  every executor via ``SparkContext.addFile``) is real.
"""

from __future__ import annotations

import functools
import logging
import time
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, MapType, StructField, StructType

logger = logging.getLogger(__name__)


def time_it(fn: Callable) -> Callable:
    """Log wall-clock duration of each call; the last duration is kept on
    ``wrapper.last_seconds`` so harnesses can record it."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            dt = time.perf_counter() - t0
            wrapper.last_seconds = dt
            logger.info("%s took %.3fs", fn.__name__, dt)

    wrapper.last_seconds = None
    return wrapper


def ensure_min_parallelism(df):
    """Repartition a too-coarse input UP to the session's default
    parallelism before a compute-heavy narrow stage.

    The optimization guide's unsplittable-input fix (§2.5 "one huge
    unsplittable file … repartition immediately after the read"): a
    single small parquet file scans as ONE partition (one row group
    cannot split), so every narrow stage built on it — tokenize,
    n-gram/shingle extraction, per-row distance folds, greedy
    re-encodes — runs single-threaded no matter how many cores the
    session has (measured at sf0.1: documents/embeddings/orders/events
    all scan as 1 partition on local[32]).

    Scale-safe BY CONSTRUCTION, not by tuning: the branch fires only
    when the scan yields fewer partitions than
    ``sparkContext.defaultParallelism`` — i.e. only when the input is
    tiny (≲ a few file splits), which bounds the round-robin shuffle it
    introduces to those same few splits' bytes. A 100 TB scan has
    thousands of splits and passes through untouched. Row-level results
    are unaffected: every downstream reduction in this repo is
    order-independent by the oracle discipline (integer grids, decimal
    sums, tie-broken windows), and keyless repartition keeps Spark's
    sort-before-repartition retry determinism.
    """
    sc = df.sparkSession.sparkContext
    dp = sc.defaultParallelism
    if df.rdd.getNumPartitions() < dp:
        return df.repartition(dp)
    return df


def local_rows_df(spark: SparkSession, rows, schema, slice_rows: int = 100_000):
    """``spark.createDataFrame`` over driver-local rows with a BOUNDED
    slice count (r14, guide §4 "the Python boundary").

    ``createDataFrame(list, schema)`` parallelizes the rows into
    ``defaultParallelism`` slices no matter how few rows there are, and
    EVERY action over the frame then pays one full Python-worker round
    trip per slice (~120 ms each, measured): a 4-row frame on local[32]
    costs ~4 s to write through a single ``coalesce(1)`` task (32
    sequential worker round trips) and ~0.5 s per parallel action — the
    hidden fixed cost of every tiny driver-built frame (centroid
    tables, audit rows, streamed-result re-frames). Slicing by
    ``slice_rows`` instead gives tiny frames ONE slice (one ~120 ms
    round trip, measured 0.27 s for the same write) while a genuinely
    large local collection still splits. Row conversion runs the same
    schema converter as the list form — rows, schema and null handling
    are identical (pinned in tests/test_utils_parallelism.py).
    Classic Spark only: ``sparkContext`` (an RDD API) does not exist
    under Spark Connect.
    """
    rows = rows if isinstance(rows, list) else list(rows)
    n_slices = max(1, -(-len(rows) // slice_rows))
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n_slices), schema
    )


def local_relation_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Rows already on the driver, a list or a ``pyarrow.Table``, as a
    ``LocalRelation`` frame: collecting it, or a projection of it, starts
    no Spark job, where ``createDataFrame(rows, schema)`` parallelizes the
    rows and its collect runs one. A list goes through Arrow with
    pyspark's own local-data converter; nullability is relaxed because
    that converter rejects non-nullable nested fields. Needs classic
    Spark: it is tested there only, and under Spark Connect the
    no-job collect is unverified."""
    import pyarrow as pa
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = _nullable(schema)
    if isinstance(rows, pa.Table):
        table = rows
    elif rows:
        table = LocalDataToArrowConversion.convert(rows, schema, False)
    else:
        table = to_arrow_schema(schema).empty_table()
    return spark.createDataFrame(table, schema)


def _nullable(t):
    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata)
             for f in t.fields]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def download_model(
    model_name: str,
    save_path: str,
    downloader: Callable[[str, str], str] | None = None,
) -> str:
    """Snapshot a model to ``save_path`` and return the local dir.

    ``downloader(model_name, dest) -> path`` is injectable for tests and
    for environments with a private mirror. The default uses
    huggingface_hub if importable and raises ``NotImplementedError``
    otherwise (the image ships no hub/torch stack).
    """
    dest = str(Path(save_path) / model_name.replace("/", "__"))
    if downloader is not None:
        return downloader(model_name, dest)
    try:
        from huggingface_hub import snapshot_download  # type: ignore
    except ImportError as exc:  # pragma: no cover - heavy dep absent
        raise NotImplementedError(
            "huggingface_hub is not installed; pass an explicit downloader "
            "or use the deterministic fake embedder (functions/embedding.py)"
        ) from exc
    return snapshot_download(repo_id=model_name, local_dir=dest)


def distribute_model_dir(spark: SparkSession, local_dir: str) -> str:
    """Ship a driver-local model directory to every executor.

    Executors resolve it with ``SparkFiles.get(basename)``; on a shared
    filesystem (the usual cluster deployment) this is a no-op and the
    path is used directly.
    """
    spark.sparkContext.addFile(local_dir, recursive=True)
    return Path(local_dir).name
