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
    for item in items:
        # nodeid: tests/test_x.py::test_y[param] -> test_x.py::test_y[param]
        short = item.nodeid.split("/")[-1]
        if short in slow:
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
