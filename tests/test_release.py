"""Multi-table dataset releases: tag-pinned, manifest-loaded,
retention-immune, atomically created."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from glue_hudi_spark.storage import release as R
from glue_hudi_spark.storage.native import NativeTable


def _mk(spark, path, n, retain=2):
    t = NativeTable(spark, path, record_keys=["k"], precombine="s",
                    files_per_partition=2, retain_commits=retain)
    t.bulk_insert(spark.range(n).selectExpr(
        "format_string('k%04d', id) AS k", "id AS v", "1 AS s"))
    return t


def test_release_pins_all_tables_against_churn(spark, tmp_path):
    docs = _mk(spark, tmp_path / "docs", 40)
    emb = _mk(spark, tmp_path / "emb", 25)
    m = R.create_release("v1", {"docs": docs, "emb": emb}, tmp_path)
    assert set(m["tables"]) == {"docs", "emb"}
    # churn both tables hard enough that retention cleans old commits
    for i in range(4):
        docs.upsert(spark.range(40).selectExpr(
            "format_string('k%04d', id) AS k", f"id + {100 * (i + 1)} AS v",
            f"{i + 2} AS s"))
        emb.delete(spark.createDataFrame(
            [(f"k{i:04d}",)], "k string"))
    assert len(docs.timeline.history()) == 2  # clean ran
    loaded = R.load_release(spark, tmp_path, "v1")
    assert loaded["docs"].count() == 40
    # the pinned docs are the ORIGINAL values, pre-churn
    assert loaded["docs"].filter("v >= 100").count() == 0
    assert loaded["emb"].count() == 25
    assert R.list_releases(tmp_path) == ["v1"]
    # live reads still see the churned state
    assert docs.read_snapshot().filter("v >= 100").count() == 40


def test_release_create_is_all_or_nothing(spark, tmp_path):
    docs = _mk(spark, tmp_path / "docs", 10)
    emb = _mk(spark, tmp_path / "emb", 10)
    emb.create_tag("release-v2")  # force a collision on the SECOND table
    with pytest.raises(ValueError, match="already exists"):
        R.create_release("v2", {"docs": docs, "emb": emb}, tmp_path)
    # the first table's tag was rolled back — no half-release
    assert docs.timeline.tags() == []
    assert R.list_releases(tmp_path) == []


def test_release_blocks_destructive_restore(spark, tmp_path):
    docs = _mk(spark, tmp_path / "docs", 10)
    docs.upsert(spark.createDataFrame([("k0001", -1, 2)],
                                      "k string, v long, s int"))
    R.create_release("pin", {"docs": docs}, tmp_path)
    with pytest.raises(ValueError, match="drop the ref first"):
        docs.restore(1)
    R.drop_release("pin", {"docs": docs}, tmp_path)
    docs.restore(1)
    assert R.list_releases(tmp_path) == []


def test_drop_release_frees_files(spark, tmp_path):
    docs = _mk(spark, tmp_path / "docs", 20, retain=1)
    R.create_release("old", {"docs": docs}, tmp_path)
    docs.upsert(spark.range(20).selectExpr(
        "format_string('k%04d', id) AS k", "id + 900 AS v", "2 AS s"))
    assert R.load_release(spark, tmp_path, "old")["docs"].count() == 20
    R.drop_release("old", {"docs": docs}, tmp_path)
    docs.timeline.clean(1)
    docs.vacuum()
    assert docs.validate()["ok"]
    with pytest.raises(ValueError, match="no release"):
        R.load_release(spark, tmp_path, "old")


def test_load_release_of_mor_table_with_pending_deltas(spark, tmp_path):
    """A release tagging a MoR commit with an uncompacted delta delete
    loads the merged rows."""
    t = NativeTable(spark, tmp_path / "mor", record_keys=["k"],
                    precombine="s", storage_type="mor", compact_every=100)
    t.bulk_insert(spark.range(4).selectExpr(
        "format_string('k%04d', id) AS k", "id AS v", "1 AS s"))
    t.delete(spark.createDataFrame([("k0001",)], "k string"))
    assert t.timeline.latest().deltas
    R.create_release("mor", {"mor": t}, tmp_path)
    rows = R.load_release(spark, tmp_path, "mor")["mor"].collect()
    assert sorted((r.k, r.v) for r in rows) == [
        ("k0000", 0), ("k0002", 2), ("k0003", 3)]
    assert sorted(rows[0].asDict()) == ["k", "s", "v"]
