"""Shared pytest fixtures: one session-scoped local SparkSession, and a
counter of py4j round trips (calls from the Python driver into the JVM)."""

from __future__ import annotations

import contextlib
import pathlib
import sys

import pytest

sys.path.insert(0, str(pathlib.Path(__file__).parent.parent))


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("engine-tests")
        # keep catalog-managed tables (tests/test_catalog.py) out of the
        # repo tree — spark.sql.warehouse.dir is static, set-at-start-only;
        # pytest's tmp factory garbage-collects old sessions' dirs
        .config(
            "spark.sql.warehouse.dir",
            str(tmp_path_factory.mktemp("spark-wh")),
        )
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@contextlib.contextmanager
def _count_round_trips():
    """Record every command the Python driver sends to the JVM while the
    block runs, one per round trip. Wraps `GatewayClient.send_command`,
    which pyspark's `JavaClient` inherits, so method calls, reflection
    lookups and Java-object deletes all count. Yields a namespace of two
    lists: `caller`, the commands of the thread that entered the block,
    and `other`, those of any other thread — mostly the deletes py4j's
    finalizer thread sends whenever it gets to them, so they cannot be
    pinned to the code that dropped the objects."""
    import threading
    import types

    from py4j.java_gateway import GatewayClient

    calls = types.SimpleNamespace(caller=[], other=[])
    caller = threading.get_ident()
    real = GatewayClient.send_command

    def counting(self, command, *args, **kwargs):
        mine = threading.get_ident() == caller
        (calls.caller if mine else calls.other).append(command)
        return real(self, command, *args, **kwargs)

    GatewayClient.send_command = counting
    try:
        yield calls
    finally:
        GatewayClient.send_command = real


@pytest.fixture
def py4j_round_trips():
    """`with py4j_round_trips() as calls:` — see `_count_round_trips`."""
    return _count_round_trips
