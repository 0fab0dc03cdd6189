from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pgvector_db_spark import get_spark, load_tables  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", cpus=8, shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def tables(spark):
    return load_tables(spark, SF_DIR)


@pytest.fixture
def py4j_round_trips(spark, monkeypatch):
    """``count(fn)``: the py4j commands ``fn()`` sends to the JVM, not
    counting py4j's release of collected Java objects, which the
    collector sends at arbitrary times (bookkeeping, not planning)."""
    from py4j.protocol import MEMORY_COMMAND_NAME

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = [0]

    def counting(command, *args, **kwargs):
        if not command.startswith(MEMORY_COMMAND_NAME):
            calls[0] += 1
        return send(command, *args, **kwargs)

    def count(fn) -> int:
        calls[0] = 0
        with monkeypatch.context() as m:
            m.setattr(client, "send_command", counting)
            fn()
        return calls[0]

    return count


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "realmodel: needs real sentence-transformers/torch weights "
        "(absent in this image; the test skips itself cleanly)",
    )
    config.addinivalue_line(
        "markers",
        "slow: multi-minute full-registry sweeps (deselect with "
        "-m 'not slow' for a quick loop)",
    )
