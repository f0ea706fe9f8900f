"""Shared Spark fixtures for the test suite, plus the fast/full profile
split: tests listed in ``tests/full_profile.txt`` (measured-heavy
lifecycle/property/parity replicas) carry the ``full`` marker, which the
default profile excludes (see pytest.ini) so the driver's test gate
finishes inside its verification window."""

from __future__ import annotations

import os
from pathlib import Path

import pytest

from glue_hudi_spark.session import get_spark


def _full_profile_ids() -> set[str]:
    path = Path(__file__).parent / "full_profile.txt"
    ids: set[str] = set()
    if not path.is_file():
        return ids
    for line in path.read_text().splitlines():
        entry = line.split("#", 1)[0].strip()
        if entry:
            ids.add(entry)
    return ids


def pytest_collection_modifyitems(config, items):
    slow = _full_profile_ids()
    if not slow:
        return
    # nodeid: tests/test_x.py::test_y[param] -> test_x.py::test_y[param]
    collected = {item.nodeid.split("/")[-1] for item in items}
    # an entry naming no collected test of a wholly collected file is
    # stale (a renamed or removed test would silently leave the profile);
    # a file named with ``::`` on the command line is collected in part
    partial = {a.split("::")[0].split("/")[-1]
               for a in config.args if "::" in a}
    files = {c.split("::")[0] for c in collected} - partial
    stale = sorted(e for e in slow
                   if e.split("::")[0] in files and e not in collected)
    if stale:
        raise pytest.UsageError(
            "tests/full_profile.txt names tests that were not collected: "
            + ", ".join(stale))
    for item in items:
        if item.nodeid.split("/")[-1] in slow:
            item.add_marker(pytest.mark.full)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="glue_hudi_spark-tests",
        master=os.environ.get("GHS_TEST_MASTER", "local[4]"),
        shuffle_partitions=int(os.environ.get("GHS_TEST_SHUFFLE", "4")),
        extra_conf={
            "spark.sql.warehouse.dir": "/tmp/ghs-test-warehouse",
            "spark.default.parallelism": "4",
            **(dict(kv.split("=", 1) for kv in
                    os.environ.get("GHS_TEST_CONF", "").split(";") if kv)),
        },
    )
    yield s


@pytest.fixture()
def tmp_table_dir(tmp_path):
    return tmp_path / "curated" / "db" / "schema" / "tbl"


@pytest.fixture()
def persistent_rdds(spark):
    """Count of persisted RDDs, read once unpersists issued without
    blocking have landed (polls until two reads 0.1 s apart agree)."""
    import time

    jsc = spark.sparkContext._jsc.sc()

    def count() -> int:
        n = jsc.getPersistentRDDs().size()
        for _ in range(20):
            time.sleep(0.1)
            m = jsc.getPersistentRDDs().size()
            if m == n:
                return m
            n = m
        return n

    return count


@pytest.fixture()
def job_ids(spark):
    """Ids of every job the status tracker knows, read once the listener
    bus has delivered all events posted so far — equal sets before and
    after a call mean the call started no Spark job."""
    sc = spark.sparkContext

    def ids() -> set[int]:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup(None))

    return ids


@pytest.fixture()
def no_streaming_query(monkeypatch):
    """Fail the test if anything starts a Structured Streaming query."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    def no_stream(*a, **kw):
        raise AssertionError("a drain started a streaming query")

    monkeypatch.setattr(DataStreamWriter, "start", no_stream)
