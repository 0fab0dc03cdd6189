"""sources/commitlog.py: the commit lock every manifest writer shares
(snapshot log, BM25 and sparse indexes, IVF manifest, tombstones)."""

from __future__ import annotations

import os
import time

import pytest

from pgvector_db_spark.sources.commitlog import file_lock


def test_file_lock_excludes_and_reclaims_stale(tmp_path):
    """The lock is mutually exclusive (a second acquirer times out) and
    a stale lock file from a crashed writer is reclaimed."""
    lock = str(tmp_path / "MANIFEST.json.lock")
    with file_lock(lock):
        with pytest.raises(TimeoutError):
            with file_lock(lock, timeout=0.3):
                pass
    assert not os.path.exists(lock)
    # crashed-writer simulation: a lock file nobody will release
    with open(lock, "w") as f:
        f.write("dead")
    old = time.time() - 1000
    os.utime(lock, (old, old))
    with file_lock(lock, timeout=1.0, stale_after=300.0):
        pass  # reclaimed without waiting out the timeout
    assert not os.path.exists(lock)
