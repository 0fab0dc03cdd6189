"""The one commit protocol of every manifest in the engine: an atomic
JSON commit (temp file + rename) and an O_CREAT|O_EXCL lock serializing
read-modify-write commit windows.

Users: the snapshot log (sources/snapshots.py), the BM25 and sparse
indexes' manifests (operators/text_search.py, operators/sparse_index.py),
the IVF index's ``MANIFEST.json`` (operators/ivf.py) and VectorTable's
``tombstones.json``. POSIX-atomic (incl. NFSv4 / HDFS-fuse); on object
stores without atomic create, run writers under a sequential
single-writer contract (e.g. the streaming engine's foreachBatch) — the
lock then never contends.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import uuid
from collections.abc import Iterator


def commit_json(path: str, payload) -> None:
    """Write ``payload`` to ``path`` via temp-file + atomic rename:
    readers see the old or the new content, never a torn state."""
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, path)


def read_json(path: str):
    with open(path) as f:
        return json.load(f)


@contextlib.contextmanager
def file_lock(
    lock_path: str, timeout: float = 60.0, stale_after: float = 300.0
) -> Iterator[None]:
    """Exclusive advisory lock via atomic ``O_CREAT|O_EXCL``. A lock older
    than ``stale_after`` is a crashed writer, reclaimed ATOMICALLY via
    rename (a plain unlink could delete a fresh winner's lock and re-open
    the double-writer window)."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            try:
                if time.time() - os.path.getmtime(lock_path) > stale_after:
                    stale = f"{lock_path}.stale.{uuid.uuid4().hex[:8]}"
                    try:
                        os.rename(lock_path, stale)
                        os.unlink(stale)
                    except FileNotFoundError:
                        pass  # another waiter won the reclaim
                    continue
            except FileNotFoundError:
                continue  # holder released between check and stat
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"commit lock busy for >{timeout}s: {lock_path}"
                )
            time.sleep(0.05)
    try:
        os.write(fd, str(os.getpid()).encode())
        os.close(fd)
        yield
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(lock_path)
