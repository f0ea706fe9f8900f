"""Deletion vectors (Delta DV / Iceberg positional-delete class).

The scale contract under test: a DV delete commit rewrites ZERO data
files (the manifest's file list is unchanged; only position sidecars
under ``_dv/`` appear), every read path anti-filters the marked
positions, and maintenance (purge/cluster/upsert-rewrite) materializes
the marks back into clean files.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from glue_hudi_spark.storage.native import NativeTable


def _rows(spark, rows):
    return spark.createDataFrame(rows)


def _mk(spark, path, **kw):
    kw.setdefault("deletion_vectors", True)
    return NativeTable(spark, path, record_keys=["id"], precombine="seq",
                       **kw)


def _seed(spark, t, n=40):
    t.bulk_insert(_rows(spark, [dict(id=f"k{i:03d}", v=float(i), seq=1)
                                for i in range(n)]))


def test_mor_rejects_deletion_vectors(spark, tmp_path):
    with pytest.raises(ValueError, match="MoR"):
        _mk(spark, tmp_path / "t", storage_type="mor")


def test_dv_delete_rewrites_no_files(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    _seed(spark, t)
    before = t.timeline.latest()
    c = t.delete(_rows(spark, [dict(id="k003"), dict(id="k017")]))
    assert c.files == before.files  # zero rewrites — THE point of DVs
    assert c.stats["files_rewritten"] == 0
    assert c.stats["dv_rows_marked"] == 2
    assert sum(e["rows"] for e in c.dvs.values()) == 2
    got = {r["id"] for r in t.read_snapshot().collect()}
    assert "k003" not in got and "k017" not in got
    assert len(got) == 38
    # sidecars live under _dv/ and are manifest-referenced
    dv_rels = [r for e in c.dvs.values() for r in e["files"]]
    assert dv_rels and all(r.startswith("_dv/") for r in dv_rels)
    assert all((t.root / r).is_file() for r in dv_rels)


def test_dv_delete_missing_keys_is_noop_commit(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    _seed(spark, t, n=10)
    c = t.delete(_rows(spark, [dict(id="nope")]))
    assert c.stats["dv_rows_marked"] == 0
    assert t.read_snapshot().count() == 10
    assert t.count_rows() == 10


def test_dv_redelete_keeps_counts_exact(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    _seed(spark, t, n=20)
    t.delete(_rows(spark, [dict(id="k005")]))
    c = t.delete(_rows(spark, [dict(id="k005"), dict(id="k006")]))
    # re-deleting a marked row must not double-count
    assert sum(e["rows"] for e in c.dvs.values()) == 2
    assert t.count_rows() == 18 == t.read_snapshot().count()


def test_metadata_count_matches_actual(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    _seed(spark, t, n=30)
    t.delete(_rows(spark, [dict(id=f"k{i:03d}") for i in range(0, 30, 3)]))
    assert t.count_rows() == 20
    assert t.read_snapshot().count() == 20


def test_dv_delete_where(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", stats_cols=["v"])
    _seed(spark, t, n=30)
    before = t.timeline.latest()
    c = t.delete_where(F.col("v") >= 25.0)
    assert c.files == before.files
    assert c.stats["dv_rows_marked"] == 5
    assert t.read_snapshot().count() == 25
    assert t.count_rows() == 25


def test_dv_delete_where_null_semantics(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.bulk_insert(_rows(spark, [dict(id="a", v=1.0, seq=1),
                                dict(id="b", v=None, seq=1),
                                dict(id="c", v=9.0, seq=1)]))
    t.delete_where(F.col("v") > 5.0)
    got = {r["id"] for r in t.read_snapshot().collect()}
    assert got == {"a", "b"}  # NULL predicate row KEPT (SQL DELETE)


def test_point_lookup_respects_dvs(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", bloom_index=True)
    _seed(spark, t)
    t.delete(_rows(spark, [dict(id="k011")]))
    assert t.read_keys(["k011"]).count() == 0
    assert t.read_keys(["k012"]).count() == 1


def test_time_travel_before_dv_delete(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    _seed(spark, t, n=10)
    first = t.timeline.latest().commit_id
    t.delete(_rows(spark, [dict(id="k001")]))
    assert t.read_snapshot(as_of=first).count() == 10
    assert t.read_snapshot().count() == 9


def test_rollback_past_dv_delete_unmarks(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    _seed(spark, t, n=10)
    first = t.timeline.latest().commit_id
    t.delete(_rows(spark, [dict(id="k001"), dict(id="k002")]))
    t.rollback(first)
    assert t.read_snapshot().count() == 10
    assert t.count_rows() == 10


def test_upsert_materializes_dv_on_rewritten_file(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    _seed(spark, t, n=20)
    t.delete(_rows(spark, [dict(id="k004")]))
    # upsert overlapping the deleted key's file: the rewrite must read
    # DV-filtered rows (no resurrection), and re-inserting the deleted
    # key works because the new file carries no marks
    c = t.upsert(_rows(spark, [dict(id="k004", v=99.0, seq=2),
                               dict(id="k005", v=55.0, seq=2)]))
    got = {r["id"]: r["v"] for r in t.read_snapshot().collect()}
    assert got["k004"] == 99.0 and got["k005"] == 55.0
    assert len(got) == 20
    # every surviving dv entry references a live file
    assert all(f in set(c.files) for f in c.dvs)


def test_purge_deleted_materializes(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    _seed(spark, t, n=30)
    t.delete(_rows(spark, [dict(id="k001"), dict(id="k020")]))
    c = t.purge_deleted()
    assert c is not None and c.action == "purge"
    assert not c.dvs  # marks materialized away
    assert t.read_snapshot().count() == 28
    assert t.count_rows() == 28
    assert t.purge_deleted() is None  # nothing left to purge


def test_cluster_materializes_dvs(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", files_per_partition=2)
    _seed(spark, t, n=30)
    t.delete(_rows(spark, [dict(id="k000")]))
    c = t.cluster()
    assert not c.dvs
    assert t.read_snapshot().count() == 29


def test_fsck_vacuum_lifecycle(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", retain_commits=2)
    _seed(spark, t, n=12)
    t.delete(_rows(spark, [dict(id="k001")]))
    assert t.validate()["ok"]
    # an orphan dv sidecar (crashed writer, committed id) is vacuumable
    orphan_dir = t.root / "_dv" / "00000000000000000001-deadbeef"
    orphan_dir.mkdir(parents=True)
    spark.createDataFrame([("x", 0)], "file string, pos long") \
        .coalesce(1).write.mode("overwrite").parquet(str(orphan_dir))
    rep = t.validate()
    assert rep["orphan_dvs"] and not rep["ok"]
    vac = t.vacuum()
    assert vac["deleted_dvs"]
    assert t.validate()["ok"]
    # live sidecars survive retention cleaning while referenced
    for i in range(5):
        t.upsert(_rows(spark, [dict(id=f"n{i}", v=0.0, seq=9)]))
    assert t.validate()["ok"]
    assert t.read_snapshot().filter(F.col("id") == "k001").count() == 0


def test_restore_past_dv_delete_drops_sidecars(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    _seed(spark, t, n=10)
    first = t.timeline.latest().commit_id
    c = t.delete(_rows(spark, [dict(id="k001")]))
    dv_rels = [r for e in c.dvs.values() for r in e["files"]]
    assert all((t.root / r).is_file() for r in dv_rels)
    t.restore(first)
    assert all(not (t.root / r).exists() for r in dv_rels)
    assert t.read_snapshot().count() == 10
    assert t.validate()["ok"]


def test_clone_carries_dvs(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    _seed(spark, t, n=10)
    t.delete(_rows(spark, [dict(id="k003")]))
    clone = t.clone_to(tmp_path / "clone")
    assert clone.read_snapshot().count() == 9
    assert clone.timeline.latest().dvs


def test_export_snapshot_refuses_live_dvs(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    _seed(spark, t, n=10)
    t.delete(_rows(spark, [dict(id="k003")]))
    with pytest.raises(ValueError, match="deletion vectors"):
        t.export_snapshot()
    t.purge_deleted()
    assert t.export_snapshot().is_dir()


def test_datasource_batch_applies_dvs(spark, tmp_path):
    from glue_hudi_spark.sources import datasource as DS

    DS.register(spark)
    t = _mk(spark, tmp_path / "t")
    _seed(spark, t, n=15)
    t.delete(_rows(spark, [dict(id="k002"), dict(id="k009")]))
    df = spark.read.format("ghs_table").option("path", str(t.root)).load()
    got = {r["id"] for r in df.collect()}
    assert len(got) == 13 and "k002" not in got


def test_occ_rebase_carries_disjoint_dv_delete(spark, tmp_path):
    """Writer A upserts new keys; writer B DV-deletes old keys; B loses
    the id race and must rebase, keeping BOTH effects."""
    t = _mk(spark, tmp_path / "t")
    _seed(spark, t, n=10)
    winner = _mk(spark, tmp_path / "t")
    orig_publish = t.timeline.publish
    fired = {}

    def race(commit):
        if not fired:
            fired["x"] = True
            winner.upsert(_rows(spark, [dict(id="z9", v=1.0, seq=2)]))
        return orig_publish(commit)

    t.timeline.publish = race
    try:
        c = t.delete(_rows(spark, [dict(id="k000")]))
    finally:
        t.timeline.publish = orig_publish
    assert "occ_rebased_from" in c.stats
    got = {r["id"] for r in t.read_snapshot().collect()}
    assert "z9" in got and "k000" not in got and len(got) == 10


def test_occ_conflict_winner_rewrote_marked_file(spark, tmp_path):
    """Writer B DV-marks a file the winner rewrote — positions are
    stale, the rebase must refuse."""
    from glue_hudi_spark.storage.commits import ConcurrentWriteError

    t = _mk(spark, tmp_path / "t")
    _seed(spark, t, n=10)
    winner = _mk(spark, tmp_path / "t")
    orig_publish = t.timeline.publish
    fired = {}

    def race(commit):
        if not fired:
            fired["x"] = True
            # winner rewrites the same key neighborhood B is marking
            winner.upsert(_rows(spark, [dict(id="k000", v=7.0, seq=2)]))
        return orig_publish(commit)

    t.timeline.publish = race
    try:
        with pytest.raises(ConcurrentWriteError):
            t.delete(_rows(spark, [dict(id="k001")]))
    finally:
        t.timeline.publish = orig_publish
