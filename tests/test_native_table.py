"""Unit tests for NativeTable: commit timeline, partition-pruned merge,
time travel, cleaning, MoR views and compaction, schema evolution."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from glue_hudi_spark.storage.commits import CommitTimeline
from glue_hudi_spark.storage.native import NativeTable


def _mk(spark, path, **kw):
    kw.setdefault("record_keys", ["id"])
    kw.setdefault("precombine", "seq")
    kw.setdefault("partition_keys", ["pt"])
    return NativeTable(spark, path, **kw)


def _rows(spark, rows):
    return spark.createDataFrame([Row(**r) for r in rows])


def test_bulk_insert_and_snapshot(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    df = _rows(spark, [dict(id=i, v=f"v{i}", seq=1, pt="a" if i < 5 else "b") for i in range(10)])
    c = t.bulk_insert(df)
    assert c.action == "bulk_insert" and c.commit_id == 1
    snap = t.read_snapshot()
    assert snap.count() == 10
    assert set(snap.columns) == {"id", "v", "seq", "pt"}
    # typed partition column preserved (no dir-name re-inference)
    assert dict(snap.dtypes)["pt"] == "string"
    # meta columns retrievable on demand
    meta = t.read_snapshot(with_meta=True)
    assert "_ghs_record_key" in meta.columns


def test_upsert_updates_and_inserts(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    t.bulk_insert(_rows(spark, [dict(id=i, v="old", seq=1, pt="a") for i in range(5)]))
    t.upsert(
        _rows(
            spark,
            [dict(id=3, v="new", seq=2, pt="a"), dict(id=99, v="fresh", seq=1, pt="a")],
        )
    )
    got = {r["id"]: r["v"] for r in t.read_snapshot().collect()}
    assert got[3] == "new" and got[99] == "fresh" and got[0] == "old"
    assert len(got) == 6


def test_partition_pruned_rewrite(spark, tmp_table_dir):
    """An upsert touching only partition 'b' must carry partition-'a' files
    over by reference — the 100 TB-scale guarantee."""
    t = _mk(spark, tmp_table_dir)
    t.bulk_insert(
        _rows(spark, [dict(id=i, v="x", seq=1, pt="a" if i % 2 else "b") for i in range(10)])
    )
    before = set(t.timeline.latest().files)
    a_files = {f for f in before if "_pp_pt=a" in f}
    c = t.upsert(_rows(spark, [dict(id=2, v="y", seq=2, pt="b")]))
    after = set(t.timeline.latest().files)
    assert a_files <= after, "untouched partition files must carry over"
    # at least every partition-'a' file carries; key-range pruning may carry
    # additional partition-'b' files whose key interval misses the batch
    assert c.stats["files_carried"] >= len(a_files)
    assert c.stats["files_rewritten"] + c.stats["files_carried"] == len(before)
    got = {r["id"]: r["v"] for r in t.read_snapshot().collect()}
    assert got[2] == "y" and len(got) == 10


def test_delete_and_precombine(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    t.bulk_insert(_rows(spark, [dict(id=i, v="x", seq=1, pt="a") for i in range(4)]))
    # delete id 1,2
    t.delete(_rows(spark, [dict(id=1, v="x", seq=9, pt="a"), dict(id=2, v="x", seq=9, pt="a")]))
    assert {r["id"] for r in t.read_snapshot().collect()} == {0, 3}
    # precombine: two same-key rows in one batch → max seq wins
    t.upsert(
        _rows(
            spark,
            [dict(id=0, v="low", seq=5, pt="a"), dict(id=0, v="high", seq=7, pt="a")],
        )
    )
    got = {r["id"]: r["v"] for r in t.read_snapshot().collect()}
    assert got[0] == "high"


def test_composite_key_null_safe(spark, tmp_table_dir):
    t = NativeTable(
        spark, tmp_table_dir, record_keys=["k1", "k2"], precombine="seq", partition_keys=[]
    )
    schema = "k1 string, k2 string, v int, seq int"
    t.bulk_insert(
        spark.createDataFrame([("a", None, 1, 1), ("a", "x", 2, 1)], schema)
    )
    t.upsert(spark.createDataFrame([("a", None, 10, 2)], schema))
    got = {(r["k1"], r["k2"]): r["v"] for r in t.read_snapshot().collect()}
    assert got[("a", None)] == 10 and got[("a", "x")] == 2


def test_time_travel_and_history(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    t.bulk_insert(_rows(spark, [dict(id=1, v="v1", seq=1, pt="a")]))
    t.upsert(_rows(spark, [dict(id=1, v="v2", seq=2, pt="a")]))
    assert [r["v"] for r in t.read_snapshot(as_of=1).collect()] == ["v1"]
    assert [r["v"] for r in t.read_snapshot(as_of=2).collect()] == ["v2"]
    assert [c.action for c in t.timeline.history()] == ["bulk_insert", "upsert"]


def test_cleaner_retention(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir, retain_commits=3)
    t.bulk_insert(_rows(spark, [dict(id=1, v="v0", seq=0, pt="a")]))
    for i in range(1, 6):
        t.upsert(_rows(spark, [dict(id=1, v=f"v{i}", seq=i, pt="a")]))
    hist = t.timeline.history()
    assert len(hist) == 3, "older manifests cleaned"
    # data files only referenced by dropped manifests are gone
    live = {f for c in hist for f in c.files}
    on_disk = {
        str(p.relative_to(t.root))
        for p in Path(t.root, "data").rglob("*.parquet")
    }
    assert on_disk == live
    assert [r["v"] for r in t.read_snapshot().collect()] == ["v5"]


def test_column_stats_data_skipping(spark, tmp_table_dir):
    """stats_cols builds a per-file [min,max] column index at write time;
    read_snapshot(prune=...) drops files driver-side before Spark lists
    them, and applies the exact row filter on what's left."""
    t = NativeTable(spark, tmp_table_dir, record_keys=["id"], precombine="seq",
                    files_per_partition=4, stats_cols=["d"])
    # zero-padded string keys: the unpartitioned writer range-clusters on
    # the (string) record key, so a key-correlated column gets disjoint
    # per-file ranges — the layout a real ingest keyed by time/sequence has
    rows = spark.createDataFrame(
        [(f"{i:04d}", i, 1) for i in range(1000)], "id string, d int, seq int"
    )
    t.bulk_insert(rows)
    commit = t.timeline.latest()
    assert len(commit.files) == 4
    assert len(commit.col_stats) == 4  # every file indexed

    pruned = t.read_snapshot(prune={"d": (0, 10)})
    assert len(pruned.inputFiles()) < 4  # files skipped before the scan
    assert pruned.count() == 11
    # open upper bound
    assert t.read_snapshot(prune={"d": (990, None)}).count() == 10
    # un-indexed column: no skipping, but the filter still applies
    assert t.read_snapshot(prune={"seq": (2, None)}).count() == 0

    # a merge carries stats for untouched files and indexes the new ones
    t.upsert(spark.createDataFrame([("0005", 5, 9)], "id string, d int, seq int"))
    commit = t.timeline.latest()
    assert len(commit.col_stats) == len(commit.files)
    out = t.read_snapshot(prune={"d": (0, 10)})
    assert out.count() == 11
    assert {r["seq"] for r in out.filter("id = '0005'").collect()} == {9}


def test_zorder_clustering_multi_dim_skipping(spark, tmp_table_dir):
    """cluster(zorder_by=[x, y]) lays files along a Morton curve, so the
    column-stats index prunes on EITHER dimension — key-range layout only
    ever prunes on the leading key. x cycles with the record key here, so
    before z-ordering every file sees the full x range (no skipping)."""
    t = NativeTable(spark, tmp_table_dir, record_keys=["id"], precombine="s",
                    files_per_partition=16, stats_cols=["x", "y"])
    rows = spark.createDataFrame(
        [(f"{i:05d}", i % 100, (i * 37) % 100, 1) for i in range(10_000)],
        "id string, x int, y int, s int",
    )
    t.bulk_insert(rows)
    assert len(t.read_snapshot(prune={"x": (0, 24)}).inputFiles()) == 16

    t.cluster(zorder_by=["x", "y"])
    commit = t.timeline.latest()
    assert len(commit.files) == 16
    prx = t.read_snapshot(prune={"x": (0, 24)})
    pry = t.read_snapshot(prune={"y": (0, 24)})
    assert len(prx.inputFiles()) < 16
    assert len(pry.inputFiles()) < 16
    assert prx.count() == 2500
    assert pry.count() == 2500
    both = t.read_snapshot(prune={"x": (0, 24), "y": (0, 24)})
    assert len(both.inputFiles()) <= min(len(prx.inputFiles()),
                                         len(pry.inputFiles()))
    expected = sum(1 for i in range(10_000)
                   if i % 100 <= 24 and (i * 37) % 100 <= 24)
    assert both.count() == expected
    # layout rewrite, not a data change
    assert t.read_snapshot().count() == 10_000

    with pytest.raises(ValueError, match="zorder column"):
        t.cluster(zorder_by=["id", "x"])  # string col rejected
    pt = NativeTable(spark, str(tmp_table_dir) + "_p", record_keys=["id"],
                     partition_keys=["x"])
    with pytest.raises(ValueError, match="unpartitioned"):
        pt.cluster(zorder_by=["x", "y"])


def test_zorder_without_configured_width(spark, tmp_table_dir):
    """A table opened without files_per_partition (the CLI path) must
    still Z-order: the rewrite falls back to the current file count and
    the z-value column never leaks into the files (it did before the
    round-3 fix — the layout branch silently skipped on width=None)."""
    seed = NativeTable(spark, tmp_table_dir, record_keys=["id"],
                       precombine="s", files_per_partition=4,
                       stats_cols=["x", "y"])
    seed.bulk_insert(spark.createDataFrame(
        [(f"{i:04d}", i % 50, (i * 7) % 50, 1) for i in range(800)],
        "id string, x int, y int, s int"))
    t = NativeTable(spark, tmp_table_dir, record_keys=["id"], precombine="s",
                    stats_cols=["x", "y"])  # no files_per_partition
    c = t.cluster(zorder_by=["x", "y"])
    assert len(c.files) == 4
    out = seed.read_snapshot(prune={"y": (0, 9)})
    assert len(out.inputFiles()) < 4
    assert out.count() == 160
    assert "_ghs_zvalue" not in spark.read.parquet(
        str(seed.root / c.files[0])
    ).columns


def test_for_control_table_tuning_fields(spark, tmp_path):
    """Control records can carry the round-3 table-tuning extensions
    (stats_cols / files_per_partition / bloom_index); old control JSONs
    without them still load (defaults)."""
    from glue_hudi_spark.config import JobControl
    from tests.fixtures_cdc import CONTROL

    ctl = JobControl(**{**CONTROL, "partition_key": "", "stats_cols": "a;b",
                        "files_per_partition": "4", "bloom_index": "yes"})
    t = NativeTable.for_control(spark, tmp_path, ctl)
    assert t.stats_cols == ["a", "b"]
    assert t.files_per_partition == 4
    assert t.bloom_index is True
    legacy = JobControl(**CONTROL)
    t2 = NativeTable.for_control(spark, tmp_path, legacy)
    assert t2.stats_cols == [] and t2.files_per_partition is None
    assert t2.bloom_index is False


def test_compaction_byte_trigger(spark, tmp_table_dir):
    """compact_delta_bytes compacts on cumulative delta SIZE, not count:
    one delta commit whose files exceed the bound compacts immediately,
    long before compact_every's count trigger would fire."""
    t = NativeTable(spark, tmp_table_dir, record_keys=["id"], precombine="s",
                    storage_type="mor", compact_every=100,
                    compact_delta_bytes=1)  # any delta bytes trip it
    t.bulk_insert(spark.createDataFrame([("a", 1, "x")], "id string, s int, v string"))
    c = t.upsert(spark.createDataFrame([("b", 1, "y")], "id string, s int, v string"))
    assert c.action == "compact"
    assert c.deltas == []
    assert t.read_snapshot().count() == 2

    # a roomy bound leaves deltas pending (count trigger still far away)
    t2 = NativeTable(spark, str(tmp_table_dir) + "_2", record_keys=["id"],
                     precombine="s", storage_type="mor", compact_every=100,
                     compact_delta_bytes=1 << 30)
    t2.bulk_insert(spark.createDataFrame([("a", 1, "x")], "id string, s int, v string"))
    c2 = t2.upsert(spark.createDataFrame([("b", 1, "y")], "id string, s int, v string"))
    assert c2.action != "compact"
    assert len(c2.deltas) == 1


def test_maybe_cluster_policy(spark, tmp_table_dir):
    """maybe_cluster is a no-op on a healthy table and rewrites the
    layout once fragmentation passes the caller's bound."""
    t = NativeTable(spark, tmp_table_dir, record_keys=["id"], precombine="s",
                    files_per_partition=2)
    t.bulk_insert(spark.createDataFrame(
        [(f"{i:03d}", 1, "x") for i in range(20)], "id string, s int, v string"))
    assert t.maybe_cluster(max_files=8) is None
    # only-new-key upserts prune every existing file and append one
    # fragment each — the accumulation clustering exists to undo
    for i in range(8):
        t.upsert(spark.createDataFrame(
            [(f"n{i}", 2, "y")], "id string, s int, v string"))
    frag = len(t.timeline.latest().files)
    assert frag > 4
    c = t.maybe_cluster(max_files=4)
    assert c is not None and c.action == "cluster"
    assert len(c.files) <= 4
    assert t.read_snapshot().count() == 28
    assert t.read_snapshot().filter("v = 'y'").count() == 8


def test_export_snapshot_zero_copy_without_hardlinks(spark, tmp_table_dir, monkeypatch):
    """On a filesystem without hardlink support the export must fall back
    to symlinks (metadata-only), never to a data-byte copy — the round-2
    copy2 fallback made every per-commit catalog sync a full-table copy."""
    import os
    import shutil

    t = _mk(spark, tmp_table_dir, partition_keys=[])
    t.bulk_insert(_rows(spark, [dict(id=i, v=f"v{i}", seq=1) for i in range(10)]))

    def no_link(*a, **k):
        raise OSError("hardlinks unsupported")

    def no_copy(*a, **k):
        raise AssertionError("export copied data bytes")

    monkeypatch.setattr(os, "link", no_link)
    monkeypatch.setattr(shutil, "copy2", no_copy)
    snap = t.export_snapshot()
    files = sorted(snap.glob("*.parquet"))
    assert files and all(f.is_symlink() for f in files)
    # the exported dir is readable as plain parquet through the symlinks
    assert spark.read.parquet(str(snap)).count() == 10


def test_pipeline_sync_catalog_false_skips_export(spark, tmp_path):
    from glue_hudi_spark.config import JobControl
    from glue_hudi_spark.pipeline import CdcPipeline
    from tests.fixtures_cdc import CONTROL, make_full_load_df

    ctl = JobControl(**{**CONTROL, "db_name": "nosync_db"})
    pipe = CdcPipeline(spark, tmp_path / "raw", tmp_path / "curated",
                       sync_catalog=False)
    raw = pipe._raw_dir(ctl)
    raw.mkdir(parents=True, exist_ok=True)
    make_full_load_df(spark).coalesce(1).write.parquet(str(raw / "LOAD1"))
    pipe.process_table(ctl)
    table = pipe._table(ctl)
    assert not (Path(table.root) / "_snapshot").exists()
    # session temp view still registered
    name = f"{ctl.catalog_db}_{ctl.table_name}"
    assert spark.sql(f"SELECT COUNT(*) c FROM {name}").first().c == 100


def test_mor_delta_and_compaction(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir, storage_type="mor", compact_every=3)
    t.bulk_insert(_rows(spark, [dict(id=i, v="base", seq=1, pt="a") for i in range(3)]))
    t.upsert(_rows(spark, [dict(id=0, v="d1", seq=2, pt="a")]))
    t.delete(_rows(spark, [dict(id=1, v="", seq=3, pt="a")]))
    # read-optimized view ignores deltas (Hudi _ro, processData.py:131-132)
    ro = {r["id"]: r["v"] for r in t.read_snapshot(view="read_optimized").collect()}
    assert ro == {0: "base", 1: "base", 2: "base"}
    # real-time view merges deltas (Hudi _rt)
    rt = {r["id"]: r["v"] for r in t.read_snapshot().collect()}
    assert rt == {0: "d1", 2: "base"}
    # third delta triggers compaction (compact_every=3)
    t.upsert(_rows(spark, [dict(id=2, v="d3", seq=4, pt="a")]))
    last = t.timeline.latest()
    assert last.action == "compact" and last.deltas == []
    ro2 = {r["id"]: r["v"] for r in t.read_snapshot(view="read_optimized").collect()}
    assert ro2 == {0: "d1", 2: "d3"}


def test_schema_evolution_add_column(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    t.bulk_insert(_rows(spark, [dict(id=1, v="a", seq=1, pt="a")]))
    t.upsert(
        spark.createDataFrame([Row(id=2, v="b", seq=1, pt="a", extra="NEW")])
    )
    snap = t.read_snapshot()
    assert "extra" in snap.columns
    got = {r["id"]: r["extra"] for r in snap.collect()}
    assert got == {1: None, 2: "NEW"}


def test_merge_single_commit(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    t.bulk_insert(_rows(spark, [dict(id=i, v="old", seq=1, pt="a") for i in range(4)]))
    batch = _rows(
        spark,
        [
            dict(id=1, v="upd", seq=2, pt="a", op="U"),
            dict(id=2, v="", seq=2, pt="a", op="D"),
            dict(id=9, v="new", seq=1, pt="a", op="I"),
        ],
    )
    c = t.merge(batch, op_col="op")
    assert c.action == "merge"
    got = {r["id"]: r["v"] for r in t.read_snapshot().collect()}
    assert got == {0: "old", 1: "upd", 3: "old", 9: "new"}
    assert len(t.timeline.history()) == 2  # exactly one commit for all ops


def test_empty_guards(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    empty = _rows(spark, [dict(id=1, v="x", seq=1, pt="a")]).filter(F.lit(False))
    assert t.bulk_insert(empty) is None
    assert not CommitTimeline(tmp_table_dir).exists()


def test_empty_string_partition_upsert(spark, tmp_table_dir):
    """'' and null partition values both land in __HIVE_DEFAULT_PARTITION__
    dirs; the pruner must classify those files as touched or the upsert
    silently leaves stale duplicates (round-1 advice finding)."""
    t = _mk(spark, tmp_table_dir)
    t.bulk_insert(
        _rows(spark, [dict(id=1, v="old", seq=1, pt=""), dict(id=2, v="old", seq=1, pt="a")])
    )
    t.upsert(_rows(spark, [dict(id=1, v="new", seq=2, pt="")]))
    got = {r["id"]: r["v"] for r in t.read_snapshot().collect()}
    assert got == {1: "new", 2: "old"}  # no duplicate id=1, value updated


def test_key_range_pruning_unpartitioned(spark, tmp_table_dir):
    """Record-level index: a narrow-key upsert on an UNPARTITIONED table must
    rewrite only the files whose key interval it can hit (Hudi bloom-index
    parity, processData.py:369-374)."""
    t = NativeTable(
        spark, tmp_table_dir, record_keys=["id"], precombine="seq",
        partition_keys=[], files_per_partition=4,
    )
    t.bulk_insert(_rows(spark, [dict(id=f"{i:04d}", v="old", seq=1) for i in range(400)]))
    first = t.timeline.latest()
    assert len(first.files) == 4  # range-clustered into exactly N files
    assert len(first.key_stats) == 4

    c = t.upsert(_rows(spark, [dict(id="0010", v="new", seq=2), dict(id="0020", v="new", seq=2)]))
    assert c.stats["files_rewritten"] < 4, c.stats
    assert c.stats["files_rewritten"] >= 1
    snap = t.read_snapshot()
    assert snap.count() == 400
    got = {r["id"]: r["v"] for r in snap.filter(F.col("id").isin("0010", "0020", "0300")).collect()}
    assert got == {"0010": "new", "0020": "new", "0300": "old"}

    # deletes prune the same way
    c2 = t.delete(_rows(spark, [dict(id="0399", v="", seq=3)]))
    assert c2.stats["files_rewritten"] < 4
    assert t.read_snapshot().count() == 399

    # inserts of brand-new keys beyond every file's range rewrite nothing
    c3 = t.upsert(_rows(spark, [dict(id="zzzz", v="fresh", seq=1)]))
    assert c3.stats["files_rewritten"] == 0, c3.stats
    assert t.read_snapshot().count() == 400


def test_mor_merge_returns_commit_without_deletes(spark, tmp_table_dir):
    """merge() on MoR must report the upsert commit when the batch has no
    deletes (round-1 advice: delete() returns None and the write looked
    like a no-op)."""
    t = _mk(spark, tmp_table_dir, storage_type="mor")
    t.bulk_insert(_rows(spark, [dict(id=1, v="old", seq=1, pt="a")]))
    batch = _rows(spark, [dict(id=1, v="upd", seq=2, pt="a", op="U")])
    c = t.merge(batch, op_col="op")
    # round 10: every MoR merge is one atomic delta_merge commit
    assert c is not None and c.action == "delta_merge"
    got = {r["id"]: r["v"] for r in t.read_snapshot().collect()}
    assert got == {1: "upd"}


def test_schema_type_widening_with_carried_files(spark, tmp_table_dir):
    """Column-type widening (int→bigint) on upsert: the union widens the
    write schema, the manifest records it, and carried files written under
    the narrower type still read correctly under the widened schema
    (Spark 4 parquet reader upcasts int32→int64)."""
    t = _mk(spark, tmp_table_dir)
    t.bulk_insert(
        spark.createDataFrame(
            [(1, 10, 1, "a"), (2, 20, 1, "b")], "id int, v int, seq int, pt string"
        )
    )
    t.upsert(
        spark.createDataFrame(
            [(2, 9_000_000_000, 2, "b")], "id int, v long, seq int, pt string"
        )
    )
    snap = t.read_snapshot()
    assert dict(snap.dtypes)["v"] == "bigint"
    assert {(r["id"], r["v"]) for r in snap.collect()} == {(1, 10), (2, 9_000_000_000)}


def test_incremental_feed_survives_compaction(spark, tmp_table_dir):
    """Compaction must not disturb the change feed: per-record commit
    times are preserved, so read_incremental still reports only the rows
    the delta commits actually changed (before the round-3 fix it
    re-reported the whole table after every compaction)."""
    t = NativeTable(spark, tmp_table_dir, record_keys=["id"], precombine="s",
                    storage_type="mor", compact_every=100)
    t.bulk_insert(spark.createDataFrame(
        [(i, 1, "x") for i in range(10)], "id int, s int, v string"))
    first = t.timeline.latest().commit_id
    t.upsert(spark.createDataFrame([(3, 2, "y")], "id int, s int, v string"))
    t.compact()
    assert t.timeline.latest().action == "compact"
    got = {(r["id"], r["v"]) for r in t.read_incremental(first).collect()}
    assert got == {(3, "y")}
    assert t.read_snapshot().count() == 10


def test_validate_fsck(spark, tmp_table_dir):
    """validate() reports missing/orphan/sidecar inconsistencies and is
    all-clear on a healthy table."""
    t = NativeTable(spark, tmp_table_dir, record_keys=["id"], precombine="s",
                    files_per_partition=2, bloom_index=True)
    t.bulk_insert(spark.createDataFrame(
        [(f"{i:03d}", i, 1) for i in range(100)], "id string, d int, s int"))
    assert t.validate()["ok"]

    # break it three ways
    victim = t.timeline.latest().files[0]
    (t.root / victim).unlink()                       # missing data file
    orphan = t.root / "data" / "99999999999999999999" / "stray.parquet"
    orphan.parent.mkdir(parents=True, exist_ok=True)
    orphan.write_bytes(b"not parquet")               # orphan data file
    rep = t.validate()
    assert not rep["ok"]
    assert rep["missing_files"] == [victim]
    assert rep["orphan_files"] == [str(orphan.relative_to(t.root))]
    # the missing data file's sidecar is now orphaned too
    assert rep["orphan_blooms"] == [victim]


def test_delete_where_predicate_retention(spark, tmp_table_dir):
    """delete_where drops matching rows, carries stats-pruned files
    unread, and keeps rows where the predicate is NULL (SQL DELETE
    semantics — filter(~cond) alone would drop them)."""
    t = NativeTable(spark, tmp_table_dir, record_keys=["id"], precombine="s",
                    files_per_partition=4, stats_cols=["d"])
    t.bulk_insert(spark.createDataFrame(
        [(f"{i:04d}", i, 1) for i in range(1000)], "id string, d int, s int"))
    c = t.delete_where(F.col("d") < 100)
    assert c.stats["files_rewritten"] == 1
    assert c.stats["files_carried"] == 3
    snap = t.read_snapshot()
    assert snap.count() == 900
    assert snap.filter("d < 100").count() == 0

    # NULL predicate rows are kept
    t2 = NativeTable(spark, str(tmp_table_dir) + "_n", record_keys=["id"],
                     precombine="s")
    t2.bulk_insert(spark.createDataFrame(
        [("a", 1, 1), ("b", None, 1), ("c", 200, 1)],
        "id string, d int, s int"))
    t2.delete_where(F.col("d") < 100)
    assert {r["id"] for r in t2.read_snapshot().collect()} == {"b", "c"}


def test_schema_evolution_whole_row_replacement(spark, tmp_table_dir):
    """Add-column on upsert (Hudi-style evolution): the batch's new column
    appends to the schema, existing rows read NULL for it, carried files
    stay valid, and a later batch without the column still merges.
    (The basic add-column case is also covered above; this pins the
    whole-row-replacement semantics for batches missing evolved cols.)"""
    t = _mk(spark, tmp_table_dir)
    t.bulk_insert(spark.createDataFrame(
        [(1, 10, 1, "a"), (2, 20, 1, "b")], "id int, v int, seq int, pt string"))
    t.upsert(spark.createDataFrame(
        [(2, 21, 2, "b", "extra")], "id int, v int, seq int, pt string, note string"))
    snap = t.read_snapshot()
    assert dict(snap.dtypes)["note"] == "string"
    got = {(r["id"], r["v"], r["note"]) for r in snap.collect()}
    assert got == {(1, 10, None), (2, 21, "extra")}

    # upsert semantics are whole-row replacement: a later batch WITHOUT
    # the evolved column nulls it for the rows it replaces (pinned —
    # partial-row patch would need a read-modify merge, not an upsert)
    t.upsert(spark.createDataFrame(
        [(2, 22, 3, "b")], "id int, v int, seq int, pt string"))
    got = {(r["id"], r["v"], r["note"]) for r in t.read_snapshot().collect()}
    assert got == {(1, 10, None), (2, 22, None)}


def test_concurrent_writer_conflict_detected(spark, tmp_table_dir):
    """Two writers racing to the same commit id: the second publish must
    fail loudly (optimistic concurrency), never silently clobber the
    winner's manifest."""
    from glue_hudi_spark.storage.commits import Commit, ConcurrentWriteError

    t = _mk(spark, tmp_table_dir)
    t.bulk_insert(_rows(spark, [dict(id=1, v="x", seq=1, pt="a")]))
    c = t.timeline.latest()
    loser = Commit(commit_id=c.commit_id, action="upsert", files=[],
                   schema_json=c.schema_json)
    with pytest.raises(ConcurrentWriteError, match="another writer"):
        t.timeline.publish(loser)
    # the winner's manifest is untouched
    assert t.timeline.latest().files == c.files


def test_merge_rewrite_width_and_cluster(spark, tmp_table_dir):
    """A merge rewriting 1 affected file must emit ~1 file (not shatter into
    the full clustering width), and cluster() restores the configured width
    with tight key ranges while preserving the incremental feed."""
    t = NativeTable(
        spark, tmp_table_dir, record_keys=["id"], precombine="seq",
        partition_keys=[], files_per_partition=8,
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(f"{i:04d}", "old", 1) for i in range(800)], "id string, v string, seq int"
        )
    )
    first_commit = t.timeline.latest().commit_id
    assert len(t.timeline.latest().files) == 8
    c = t.upsert(
        spark.createDataFrame([("0000", "new", 2)], "id string, v string, seq int")
    )
    assert c.stats["files_rewritten"] == 1
    # 7 carried + ~1 rewritten: no sliver-file explosion
    assert len(t.timeline.latest().files) <= 9

    c2 = t.cluster()
    assert c2.action == "cluster"
    assert len(c2.files) == 8 and len(c2.key_stats) == 8
    snap = t.read_snapshot()
    assert snap.count() == 800
    assert snap.filter("v = 'new'").count() == 1
    # clustering preserved per-record commit times → change feed intact
    inc = t.read_incremental(first_commit)
    assert {r["id"] for r in inc.collect()} == {"0000"}


def test_schema_evolution_mor_delta(spark, tmp_table_dir):
    """MoR evolution: a delta batch ADDS a column (schema widens, base
    rows read NULL), and a later delta batch WITHOUT that column must not
    regress the stored schema — base and delta files keep serving the
    evolved column instead of silently dropping it."""
    t = _mk(spark, tmp_table_dir, storage_type="mor", compact_every=100)
    t.bulk_insert(spark.createDataFrame(
        [(1, 10, 1, "a"), (2, 20, 1, "b")], "id int, v int, seq int, pt string"))
    t.upsert(spark.createDataFrame(
        [(2, 21, 2, "b", "extra")], "id int, v int, seq int, pt string, note string"))
    snap = t.read_snapshot()
    assert dict(snap.dtypes)["note"] == "string"
    assert {(r["id"], r["v"], r["note"]) for r in snap.collect()} == {
        (1, 10, None), (2, 21, "extra")}

    # narrower follow-up delta: schema must stay evolved
    t.upsert(spark.createDataFrame(
        [(1, 11, 3, "a")], "id int, v int, seq int, pt string"))
    snap = t.read_snapshot()
    assert "note" in snap.columns, "narrower delta regressed the schema"
    assert {(r["id"], r["v"], r["note"]) for r in snap.collect()} == {
        (1, 11, None), (2, 21, "extra")}

    # compaction folds deltas into base files without losing the column
    t.compact()
    snap = t.read_snapshot()
    assert {(r["id"], r["v"], r["note"]) for r in snap.collect()} == {
        (1, 11, None), (2, 21, "extra")}


def test_rollback_restores_prior_state(spark, tmp_table_dir):
    """rollback() publishes a replay manifest: snapshot flips back, key
    pruning still works (stats carried), history keeps both lineages, and
    a targeted rollback reaches any retained commit."""
    t = _mk(spark, tmp_table_dir)
    t.bulk_insert(spark.createDataFrame(
        [(1, 10, 1, "a"), (2, 20, 1, "b")], "id int, v int, seq int, pt string"))
    t.upsert(spark.createDataFrame(
        [(2, 21, 2, "b"), (3, 30, 2, "a")], "id int, v int, seq int, pt string"))
    assert {(r["id"], r["v"]) for r in t.read_snapshot().collect()} == {
        (1, 10), (2, 21), (3, 30)}

    c = t.rollback()  # undo the upsert
    assert c.action == "rollback" and c.stats["rolled_back_to"] == 1
    assert {(r["id"], r["v"]) for r in t.read_snapshot().collect()} == {
        (1, 10), (2, 20)}
    # stats replayed: point lookup prunes as before the upsert
    assert [r["v"] for r in t.read_keys(["1"]).collect()] == [10]

    # roll FORWARD again by targeting the upsert commit explicitly
    t.rollback(to_commit_id=2)
    assert {(r["id"], r["v"]) for r in t.read_snapshot().collect()} == {
        (1, 10), (2, 21), (3, 30)}

    # writes continue normally on top of a rollback
    t.upsert(spark.createDataFrame(
        [(1, 11, 3, "a")], "id int, v int, seq int, pt string"))
    assert {(r["id"], r["v"]) for r in t.read_snapshot().collect()} == {
        (1, 11), (2, 21), (3, 30)}
    import pytest as _pt
    with _pt.raises(ValueError):
        t.rollback(to_commit_id=99)


def test_rollback_mor_deltas(spark, tmp_table_dir):
    """MoR rollback replays the delta list too — the _rt view reflects it."""
    t = _mk(spark, tmp_table_dir, storage_type="mor", compact_every=100)
    t.bulk_insert(spark.createDataFrame(
        [(1, 10, 1, "a")], "id int, v int, seq int, pt string"))
    t.upsert(spark.createDataFrame(
        [(1, 11, 2, "a")], "id int, v int, seq int, pt string"))
    assert [r["v"] for r in t.read_snapshot().collect()] == [11]
    t.rollback()
    assert [r["v"] for r in t.read_snapshot().collect()] == [10]


def test_restore_truncates_timeline_and_deletes_orphans(spark, tmp_table_dir):
    """restore() is the destructive complement of rollback(): the timeline
    ends at the target, later commits' exclusive files are gone from disk,
    shared (carried) files survive, and writes resume at target+1."""
    t = _mk(spark, tmp_table_dir)
    t.bulk_insert(spark.createDataFrame(
        [(1, 10, 1, "a"), (2, 20, 1, "b")], "id int, v int, seq int, pt string"))
    t.upsert(spark.createDataFrame(
        [(2, 21, 2, "b")], "id int, v int, seq int, pt string"))   # commit 2
    t.upsert(spark.createDataFrame(
        [(3, 30, 3, "a")], "id int, v int, seq int, pt string"))   # commit 3
    c2_files = set(t.timeline.at(2).files)
    c3_only = set(t.timeline.at(3).files) - c2_files
    assert c3_only, "commit 3 should have written at least one new file"

    r = t.restore(2)
    assert r["restored_to"] == 2 and r["rolled_back"] == [3]
    # timeline truncated; snapshot is the as-of-2 state
    assert [c.commit_id for c in t.timeline.history()] == [1, 2]
    assert {(x["id"], x["v"]) for x in t.read_snapshot().collect()} == {
        (1, 10), (2, 21)}
    root = Path(t.root)
    for rel in r["deleted_files"]:
        assert not (root / rel).exists()
    for rel in c2_files:  # carried files untouched
        assert (root / rel).exists()
    # the erased commit's exclusive files are among the deleted
    assert c3_only <= set(r["deleted_files"]) | c2_files

    # writes resume from commit 3 and the table stays consistent
    t.upsert(spark.createDataFrame(
        [(4, 40, 4, "b")], "id int, v int, seq int, pt string"))
    assert t.timeline.latest().commit_id == 3
    assert {(x["id"], x["v"]) for x in t.read_snapshot().collect()} == {
        (1, 10), (2, 21), (4, 40)}
    assert t.validate()["orphan_files"] == []

    with pytest.raises(ValueError):
        t.restore(99)


def test_restore_mor_keeps_retained_deltas(spark, tmp_table_dir):
    """MoR restore: delta files referenced by retained commits survive;
    the erased commit's delta files are deleted; the _rt view reflects
    the rewound state."""
    t = _mk(spark, tmp_table_dir, storage_type="mor", compact_every=100)
    t.bulk_insert(spark.createDataFrame(
        [(1, 10, 1, "a")], "id int, v int, seq int, pt string"))
    t.upsert(spark.createDataFrame(
        [(1, 11, 2, "a")], "id int, v int, seq int, pt string"))   # delta c2
    t.upsert(spark.createDataFrame(
        [(1, 12, 3, "a")], "id int, v int, seq int, pt string"))   # delta c3
    r = t.restore(2)
    assert r["rolled_back"] == [3]
    assert [x["v"] for x in t.read_snapshot().collect()] == [11]
    root = Path(t.root)
    c2 = t.timeline.at(2)
    for d in c2.deltas:
        for rel in d["files"]:
            assert (root / rel).exists()


def test_vacuum_deletes_orphans_not_inflight(spark, tmp_table_dir):
    """vacuum() removes a crashed writer's unreferenced files but never
    touches files staged under a commit id newer than the latest
    committed one (an in-flight writer's work area)."""
    t = _mk(spark, tmp_table_dir)
    t.bulk_insert(spark.createDataFrame(
        [(1, 10, 1, "a")], "id int, v int, seq int, pt string"))
    t.upsert(spark.createDataFrame(
        [(1, 11, 2, "a")], "id int, v int, seq int, pt string"))
    root = Path(t.root)

    # simulate a crashed writer: orphan parquet under an OLD commit dir
    crashed = root / "data" / f"{1:020d}" / "pt=a"
    crashed.mkdir(parents=True, exist_ok=True)
    (crashed / "orphan_crashed.parquet").write_bytes(b"PAR1 junk PAR1")
    # simulate an IN-FLIGHT writer: staged file under commit id latest+1
    inflight = root / "data" / f"{t.timeline.next_commit_id():020d}" / "pt=a"
    inflight.mkdir(parents=True, exist_ok=True)
    (inflight / "staged.parquet").write_bytes(b"PAR1 junk PAR1")

    assert not t.validate()["ok"]
    v = t.vacuum()
    assert any("orphan_crashed" in f for f in v["deleted_files"])
    assert any("staged" in f for f in v["skipped_inflight"])
    assert (inflight / "staged.parquet").exists()
    assert not (crashed / "orphan_crashed.parquet").exists()
    # table still healthy and readable; the only fsck noise left is the
    # in-flight file
    assert t.read_snapshot().count() == 1
    rep = t.validate()
    assert rep["orphan_files"] and all("staged" in f for f in rep["orphan_files"])


def test_bin_pack_coalesces_small_files_only(spark, tmp_table_dir):
    """OPTIMIZE-style packing: slivers merge, full files carry over,
    rows + per-record commit times + point-lookup stats survive."""
    t = NativeTable(spark, tmp_table_dir, record_keys=["id"],
                    precombine="seq", partition_keys=[],
                    files_per_partition=2)
    t.bulk_insert(spark.createDataFrame(
        [(f"{i:04d}", i, 1) for i in range(2000)], "id string, v int, seq int"))
    # three sliver-producing narrow upserts
    for j in range(3):
        t.upsert(spark.createDataFrame(
            [(f"{j:04d}", 900 + j, 2)], "id string, v int, seq int"))
    before = t.timeline.latest()
    n_before = len(before.files)

    c = t.bin_pack(target_bytes=64 * 1024)
    assert c is not None and c.action == "bin_pack"
    assert len(c.files) < n_before
    assert c.stats["packed_files"] >= 2
    # row + value parity
    snap = {r["id"]: r["v"] for r in t.read_snapshot().collect()}
    assert len(snap) == 2000 and snap["0001"] == 901
    # incremental feed unaffected: rows changed since commit 1 are the 3
    # upserts only (commit times preserved through the rewrite)
    inc = t.read_incremental(1)
    assert {r["id"] for r in inc.collect()} == {"0000", "0001", "0002"}
    # a second pack finds nothing new to do at the same threshold
    again = t.bin_pack(target_bytes=64 * 1024)
    assert again is None or again.stats["packed_files"] < c.stats["packed_files"]
    assert t.validate()["ok"]


def test_maintain_reports_packed_file_count(spark, tmp_table_dir):
    """maintain()'s report names how many files its bin-pack step
    coalesced: the ``packed_files`` count that commit recorded."""
    t = NativeTable(spark, tmp_table_dir, record_keys=["id"],
                    precombine="seq", files_per_partition=2)
    t.bulk_insert(spark.createDataFrame(
        [(f"{i:04d}", i, 1) for i in range(20)], "id string, v int, seq int"))
    assert len(t.timeline.latest().files) == 2
    report = t.maintain()
    packed = [c for c in t.timeline.history() if c.action == "bin_pack"]
    assert len(packed) == 1 and packed[0].stats["packed_files"] == 2
    assert report["bin_packed"] == 2
    assert t.read_snapshot().count() == 20


def test_bin_pack_uses_manifest_sizes_not_stat(spark, tmp_table_dir, monkeypatch):
    """The sliver scan must read the manifest's carried file_sizes, not
    issue a per-file stat() — on an object store that's O(files) metadata
    round-trips. _stat_size is the only sanctioned fallback (pre-field
    manifests); with sizes present it must never fire."""
    t = NativeTable(spark, tmp_table_dir, record_keys=["id"],
                    precombine="seq", files_per_partition=2)
    t.bulk_insert(spark.createDataFrame(
        [(f"{i:04d}", i, 1) for i in range(2000)], "id string, v int, seq int"))
    for j in range(3):
        t.upsert(spark.createDataFrame(
            [(f"{j:04d}", 900 + j, 2)], "id string, v int, seq int"))
    latest = t.timeline.latest()
    assert set(latest.file_sizes) >= set(latest.files)   # sizes recorded
    for f in latest.files:                               # and correct
        assert latest.file_sizes[f] == (t.root / f).stat().st_size

    calls = []
    monkeypatch.setattr(
        NativeTable, "_stat_size",
        lambda self, rel: calls.append(rel) or None)
    c = t.bin_pack(target_bytes=64 * 1024)
    assert c is not None and c.stats["packed_files"] >= 2
    # the only _stat_size calls allowed are for THIS commit's new files
    # (recorded into the new manifest), never the carried inventory scan
    assert not [r for r in calls if r in set(latest.files)], calls[:5]


def test_old_manifest_without_sizes_still_bin_packs(spark, tmp_table_dir):
    """Manifests written before the file_sizes field fall back to stat()."""
    import json as _json

    t = NativeTable(spark, tmp_table_dir, record_keys=["id"],
                    precombine=None, files_per_partition=2)
    t.bulk_insert(spark.createDataFrame(
        [(f"{i}", i) for i in range(20)], "id string, v int"))
    t.bulk_insert(spark.createDataFrame(
        [(f"x{i}", i) for i in range(20)], "id string, v int"))
    # strip the field from every manifest, simulating an old table
    for p in t.timeline._manifest_paths():
        d = _json.loads(p.read_text())
        d.pop("file_sizes", None)
        p.write_text(_json.dumps(d))
    c = t.bin_pack(target_bytes=1024 * 1024)
    assert c is not None and c.stats["packed_files"] >= 2
    assert t.read_snapshot().count() == 40
    # and the repacking commit re-records sizes going forward
    assert set(t.timeline.latest().file_sizes) >= set(t.timeline.latest().files)


def test_bin_pack_partitioned_packs_per_partition(spark, tmp_table_dir):
    t = NativeTable(spark, tmp_table_dir, record_keys=["id"],
                    precombine=None, partition_keys=["d"])
    for j in range(3):  # 3 commits × 2 partitions -> 6 sliver files
        t.bulk_insert(spark.createDataFrame(
            [(f"a{j}", "2024-01-01", j), (f"b{j}", "2024-01-02", j)],
            "id string, d string, v int"))
    c = t.bin_pack(target_bytes=1024 * 1024)
    assert c is not None
    # one packed file per partition
    assert c.stats["new_files"] == 2 and c.stats["packed_files"] == 6
    got = {(r["id"], r["d"]) for r in t.read_snapshot().collect()}
    assert len(got) == 6
    # partition pruning still works over packed files
    one = t.read_snapshot(prune={"d": ("2024-01-02", "2024-01-02")})
    assert {r["id"] for r in one.collect()} == {"b0", "b1", "b2"}


def test_clone_is_zero_copy_and_diverges(spark, tmp_path):
    """Shallow clone: hardlinked data, independent future writes, bloom
    sidecars and MoR deltas carried, destination collision rejected."""
    import os

    src = NativeTable(spark, tmp_path / "src", record_keys=["id"],
                      precombine="seq", storage_type="mor",
                      compact_every=100, secondary_bloom_cols=["cat"])
    src.bulk_insert(spark.createDataFrame(
        [(f"{i:03d}", f"c{i % 3}", i, 1) for i in range(60)],
        "id string, cat string, v int, seq int"))
    src.upsert(spark.createDataFrame(        # leaves a live delta
        [("001", "c9", 999, 2)], "id string, cat string, v int, seq int"))

    clone = src.clone_to(tmp_path / "dst")
    # same content through the full MoR merge path
    s = {r["id"]: r["v"] for r in src.read_snapshot().collect()}
    c = {r["id"]: r["v"] for r in clone.read_snapshot().collect()}
    assert s == c and c["001"] == 999
    # zero-copy: shared inode (or symlink fallback)
    rel = src.timeline.latest().files[0]
    st_s, st_c = os.stat(tmp_path / "src" / rel), os.stat(tmp_path / "dst" / rel)
    assert st_s.st_ino == st_c.st_ino
    # divergence: write to the clone, source unchanged
    clone.upsert(spark.createDataFrame(
        [("002", "c9", -1, 3)], "id string, cat string, v int, seq int"))
    assert {r["v"] for r in clone.read_keys(["002"]).collect()} == {-1}
    assert {r["v"] for r in src.read_keys(["002"]).collect()} == {2}
    # secondary bloom sidecars work on the clone after compaction
    clone.compact()
    assert clone.read_by_value("cat", ["c9"]).count() == 2
    # a second clone into the same destination is rejected
    import pytest as _pytest
    with _pytest.raises(ValueError):
        src.clone_to(tmp_path / "dst")


def test_delete_writes_tombstones_and_lifecycle(spark, tmp_path):
    """Delete commits land their key projection under _changes/ and
    reference it in the manifest; clean() and fsck track the files."""
    t = NativeTable(spark, tmp_path / "t", record_keys=["id"],
                    precombine="s", retain_commits=3,
                    change_feed_deletes=True)
    t.bulk_insert(spark.createDataFrame(
        [(f"k{i}", 1, "x") for i in range(20)], "id string, s int, v string"))
    t.delete(spark.createDataFrame([("k3",), ("k7",)], "id string"))
    c = t.timeline.latest()
    assert c.action == "delete" and c.tombstones
    import pyarrow.parquet as pq
    keys = set()
    for rel in c.tombstones:
        keys |= set(pq.read_table(str(t.root / rel))
                    .column("id").to_pylist())
    assert keys == {"k3", "k7"}
    assert t.validate()["ok"]  # referenced tombstones are not orphans
    # an unreferenced _changes file is flagged by fsck
    stray = t.root / "_changes" / "deadbeef" / "part-0.parquet"
    stray.parent.mkdir(parents=True)
    stray.write_bytes(b"PAR1")
    rep = t.validate()
    assert not rep["ok"] and rep["orphan_tombstones"] == [
        "_changes/deadbeef/part-0.parquet"]
    stray.unlink(); stray.parent.rmdir()
    # retention cleaning drops the tombstones with their manifest
    for i in range(5):
        t.upsert(spark.createDataFrame([(f"n{i}", 1, "y")],
                                       "id string, s int, v string"))
    assert not any((t.root / rel).exists() for rel in c.tombstones)
    assert t.validate()["ok"]


def test_delete_where_and_merge_write_tombstones(spark, tmp_path):
    t = NativeTable(spark, tmp_path / "t", record_keys=["id"],
                    precombine="s", change_feed_deletes=True)
    t.bulk_insert(spark.createDataFrame(
        [(f"k{i}", 1, float(i)) for i in range(10)],
        "id string, s int, v double"))
    t.delete_where(F.col("v") >= 8.0)
    assert t.timeline.latest().tombstones
    opb = spark.createDataFrame(
        [("k0", 2, 0.0, "D"), ("k1", 2, 99.0, "U")],
        "id string, s int, v double, op string")
    t.merge(opb, op_col="op")
    c = t.timeline.latest()
    import pyarrow.parquet as pq
    keys = set()
    for rel in c.tombstones:
        keys |= set(pq.read_table(str(t.root / rel))
                    .column("id").to_pylist())
    assert keys == {"k0"}
    # an upsert-only merge writes NO tombstone files
    t.merge(spark.createDataFrame([("k2", 3, 5.0, "U")],
                                  "id string, s int, v double, op string"),
            op_col="op")
    assert t.timeline.latest().tombstones == []


def test_table_changes_per_version_attribution(spark, tmp_path):
    """Delta table_changes parity: an update-then-delete key surfaces
    in BOTH versions (endpoint change_feed would collapse it), with
    _commit_version / _commit_timestamp attribution."""
    import pytest as _pytest

    t = NativeTable(spark, tmp_path / "tc", record_keys=["id"],
                    precombine="s")
    t.bulk_insert(spark.createDataFrame(
        [("a", 1, 1.0), ("b", 1, 2.0)], "id string, s int, v double"))
    t.upsert(spark.createDataFrame([("a", 2, 9.0)],
                                   "id string, s int, v double"))
    t.delete(spark.createDataFrame([("a",)], "id string"))
    rows = {(r["_change_type"], r["_commit_version"], r["id"], r["v"])
            for r in t.table_changes(1).collect()}
    assert rows == {
        ("update_preimage", 2, "a", 1.0),
        ("update_postimage", 2, "a", 9.0),
        ("delete", 3, "a", 9.0),  # deleted row as of version 2
    }
    ts = [r["_commit_timestamp"] for r in t.table_changes(1).collect()]
    assert all(x is not None for x in ts)
    with _pytest.raises(ValueError, match="must be <"):
        t.table_changes(3)


def test_change_feed_scans_only_changed_files(spark, tmp_path):
    # adjacent-commit diffs must read O(changed files), not two full
    # snapshots: files shared by both manifests (same DV state) serve
    # byte-identical rows and are excluded from BOTH sides
    t = NativeTable(spark, tmp_path / "cf", record_keys=["k"],
                    precombine="s", files_per_partition=16)
    t.bulk_insert(spark.range(4000).selectExpr(
        "format_string('k%05d', id) AS k", "id AS v", "1 AS s"))
    total = len(t.timeline.latest().files)
    assert total == 16
    c = t.upsert(spark.createDataFrame(
        [("k00042", -1, 2)], "k string, v long, s int"))
    rewritten = c.stats["files_rewritten"]
    assert rewritten <= 2
    diff = t.change_feed(c.commit_id - 1, c.commit_id)
    rows = {(r["_change_type"], r["k"]) for r in diff.collect()}
    assert rows == {("update_preimage", "k00042"),
                    ("update_postimage", "k00042")}
    scanned = diff.inputFiles()
    # old side: the rewritten files' originals; new side: their rewrites
    assert len(scanned) <= 2 * rewritten, scanned
    # the same bound holds through table_changes' per-version replay
    tc = t.table_changes(c.commit_id - 1, c.commit_id)
    assert len(tc.inputFiles()) <= 2 * rewritten
    assert tc.count() == 2


def test_read_incremental_scans_only_new_commits_files(spark, tmp_path):
    # a file's dir commit id upper-bounds its row stamps, so an
    # incremental read scans O(files written since), never the table
    t = NativeTable(spark, tmp_path / "inc", record_keys=["k"],
                    precombine="s", files_per_partition=16)
    t.bulk_insert(spark.range(4000).selectExpr(
        "format_string('k%05d', id) AS k", "id AS v", "1 AS s"))
    c = t.upsert(spark.createDataFrame(
        [("k00042", -1, 2)], "k string, v long, s int"))
    inc = t.read_incremental(c.commit_id - 1)
    rows = {(r["k"], r["v"]) for r in inc.collect()}
    assert rows == {("k00042", -1)}
    # only the rewrite commit's files are opened
    assert all(f"/data/{c.commit_id:020d}" in f for f in inc.inputFiles())
    assert len(inc.inputFiles()) <= c.stats["files_rewritten"]


def test_sort_order_layout_prunes_on_sort_column(spark, tmp_path):
    # Iceberg SortOrder class: a table declared sorted on ts serves
    # ts-range predicates from a few files; the same table laid out by
    # record key cannot prune on ts at all (every file spans all ts)
    rows = spark.range(4000).selectExpr(
        "format_string('k%05d', pmod(hash(id), 100000)) AS k",
        "id AS ts", "id * 2 AS v", "1 AS s")
    sorted_t = NativeTable(spark, tmp_path / "st", record_keys=["k"],
                           precombine="s", files_per_partition=16,
                           stats_cols=["ts"], sort_order=["ts"],
                           bloom_index=True)
    sorted_t.bulk_insert(rows)
    got = sorted_t.read_snapshot(prune={"ts": (100, 150)})
    assert got.count() == 51
    assert len(got.inputFiles()) <= 2  # a narrow ts slice = 1-2 files
    plain = NativeTable(spark, tmp_path / "pt", record_keys=["k"],
                        precombine="s", files_per_partition=16,
                        stats_cols=["ts"])
    plain.bulk_insert(rows)
    unsorted = plain.read_snapshot(prune={"ts": (100, 150)})
    assert unsorted.count() == 51
    assert len(unsorted.inputFiles()) == 16  # key layout: no ts pruning
    # the documented trade: upserts on the sorted table still work (the
    # bloom index carries the pruning the key layout gave up)
    c = sorted_t.upsert(rows.filter("ts = 100").withColumn(
        "v", F.lit(-1).cast("long")))
    assert c.stats["files_carried"] > 0  # blooms pruned the rewrite
    assert sorted_t.read_snapshot().filter("v = -1").count() == 1


def test_sort_order_requires_stats(spark, tmp_path):
    with pytest.raises(ValueError, match="stats_cols"):
        NativeTable(spark, tmp_path / "t", record_keys=["k"],
                    sort_order=["ts"])


def test_mor_merge_is_one_atomic_commit(spark, tmp_path):
    """Round-10: a mixed I/U/D batch on a MoR table lands as ONE delta
    append under ONE commit (rows carry their own 'u'/'d' markers) —
    previously two commits with a visible in-between state."""
    import pyspark.sql.functions as F

    t = NativeTable(spark, tmp_path / "m", record_keys=["id"],
                    precombine="seq", storage_type="mor",
                    compact_every=100)
    t.bulk_insert(spark.createDataFrame(
        [(f"k{i}", i, 1) for i in range(6)], "id string, v int, seq int"))
    n0 = len(t.timeline.history())
    batch = spark.createDataFrame(
        [("k0", 99, 2, "U"), ("k1", 0, 2, "D"), ("knew", 7, 1, "I")],
        "id string, v int, seq int, op string")
    c = t.merge(batch, op_col="op")
    hist = t.timeline.history()
    assert len(hist) == n0 + 1 and c.action == "delta_merge"
    got = {r["id"]: r["v"] for r in t.read_snapshot().collect()}
    assert got["k0"] == 99 and got["knew"] == 7 and "k1" not in got
    assert got["k5"] == 5
    # compaction resolves the mixed markers identically
    t.compact()
    assert {r["id"]: r["v"] for r in t.read_snapshot().collect()} == got


def test_single_file_merge_skips_range_sampling(spark, tmp_table_dir):
    """A width-1 rewrite must not plan a RangePartitioning exchange: range
    partitioning samples its child, so the merge plan would execute twice
    for boundaries that are vacuous with one output partition. The fast
    path must still produce one sorted file with key stats."""
    t = NativeTable(
        spark, tmp_table_dir, record_keys=["id"], precombine="seq",
        partition_keys=[], files_per_partition=1,
    )
    df = _rows(spark, [dict(id=f"{i:04d}", v="old", seq=1) for i in range(100)])
    out = t._range_cluster(df, 1, "id")
    # plan-level pin: no range exchange in the width-1 path
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower(), plan
    assert out.rdd.getNumPartitions() == 1
    # width > 1 keeps the range clustering (disjoint per-file intervals)
    wide = t._range_cluster(df, 4, "id")
    plan4 = wide._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan4.lower(), plan4

    # end-to-end: the written file is still key-sorted with stats
    t.bulk_insert(df)
    c = t.upsert(_rows(spark, [dict(id="0010", v="new", seq=2)]))
    assert len(c.files) >= 1 and c.key_stats
    snap = t.read_snapshot()
    assert snap.count() == 100
    assert snap.filter(F.col("id") == "0010").first()["v"] == "new"


def test_rewrite_persist_knob_on_path(spark, tmp_table_dir):
    """rewrite_persist_max_bytes > 0 caches the merged rewrite across the
    range-sampling pass (object-storage deployments). Off by default; the
    ON path must produce byte-identical results and release the cache."""
    t = NativeTable(
        spark, tmp_table_dir, record_keys=["id"], precombine="seq",
        partition_keys=[], files_per_partition=4,
    )
    t.bulk_insert(_rows(spark, [dict(id=f"{i:04d}", v="old", seq=1)
                                for i in range(400)]))
    t.rewrite_persist_max_bytes = 8 << 30
    # the knob pays for repartitionByRange's SAMPLING pass; manifest-
    # boundary rewrites have no sampling pass and rightly skip the
    # persist — force the sampling path this test exists to cover
    t._merge_boundaries = lambda affected, prev: None
    jsc = spark.sparkContext._jsc.sc()
    cached_before = jsc.getPersistentRDDs().size()
    # spy: the cache must actually ENGAGE (a broken size guard that
    # silently never persists would otherwise pass every assert below)
    import contextlib

    engaged = {"persisted": False}
    orig_cm = NativeTable._range_write_cache

    @contextlib.contextmanager
    def spy(self, df, affected, prev):
        with orig_cm(self, df, affected, prev) as out:
            lvl = out.storageLevel
            engaged["persisted"] |= bool(lvl.useMemory or lvl.useDisk)
            yield out

    NativeTable._range_write_cache = spy
    try:
        # scattered batch straddling all 4 files -> width-4 range write
        c = t.upsert(_rows(spark, [dict(id=f"{i:04d}", v="new", seq=2)
                                   for i in range(0, 400, 100)]))
    finally:
        NativeTable._range_write_cache = orig_cm
    assert engaged["persisted"], "persist knob never engaged"
    assert c.stats["files_rewritten"] == 4
    snap = t.read_snapshot()
    assert snap.count() == 400
    assert snap.filter(F.col("v") == "new").count() == 4
    # cache released after the write (unpersist ran; other fixtures may
    # hold their own caches — compare against the entry count)
    assert jsc.getPersistentRDDs().size() <= cached_before


def _shape_upsert(spark, t):
    return t.upsert(_rows(spark, [dict(id=3, v="new", seq=2, pt="a")]))


def _shape_partial(spark, t):
    return t.upsert(spark.createDataFrame(
        [(3, None, 2, "a")], "id bigint, v string, seq bigint, pt string"),
        partial=True)


def _shape_delete(spark, t):
    return t.delete(_rows(spark, [dict(id=3, v="", seq=2, pt="a")]))


def _shape_merge(spark, t):
    return t.merge(_rows(spark, [dict(id=3, v="upd", seq=2, pt="a", op="U"),
                                 dict(id=4, v="", seq=2, pt="a", op="D")]))


def _shape_delete_where(spark, t):
    return t.delete_where(F.col("id") == 3)


def _shape_dv_miss(spark, t):
    # a partition no file lives in: nothing is affected, no file is read
    return t.delete(_rows(spark, [dict(id=99, v="", seq=2, pt="c")]))


@pytest.mark.parametrize("dv, write, shape", [
    # (action, files_rewritten, files_carried, tombstones?, dv_rows_marked)
    (False, _shape_upsert, ("upsert", 1, 1, False, None)),
    (False, _shape_partial, ("upsert", 1, 1, False, None)),
    (False, _shape_delete, ("delete", 1, 1, True, None)),
    (False, _shape_merge, ("merge", 1, 1, True, None)),
    (False, _shape_delete_where, ("delete", 1, 1, True, None)),
    (True, _shape_delete, ("delete", 0, 2, True, 1)),
    (True, _shape_dv_miss, ("delete", 0, None, True, 0)),
], ids=["upsert", "partial", "delete", "merge", "delete_where",
        "dv_delete", "dv_delete_miss"])
def test_commit_shape_per_write_path(spark, tmp_path, dv, write, shape):
    """The manifest each keyed write path publishes: action, rewrite and
    carry counts, whether delete keys reached the change feed, and the
    DV mark count. Two partitions of one file each; every batch
    touches partition ``a`` only."""
    t = _mk(spark, tmp_path / "t", files_per_partition=1, stats_cols=["id"],
            change_feed_deletes=True, deletion_vectors=dv)
    t.bulk_insert(_rows(spark, [
        dict(id=i, v=f"v{i}", seq=1, pt="a" if i < 10 else "b")
        for i in range(20)]))
    assert len(t.timeline.latest().files) == 2
    c = write(spark, t)
    assert (c.action, c.stats.get("files_rewritten"),
            c.stats.get("files_carried"), bool(c.tombstones),
            c.stats.get("dv_rows_marked")) == shape
    assert t.validate()["ok"]


def test_footer_stats_start_no_spark_job(spark, tmp_table_dir, job_ids):
    from glue_hudi_spark.storage.native import _file_footer_stats

    t = _mk(spark, tmp_table_dir, partition_keys=["pt"],
            files_per_partition=1, stats_cols=["v", "n"])
    t.bulk_insert(spark.range(300).selectExpr(
        "id", "format_string('v%03d', id) AS v", "id * 2 AS n",
        "1 AS seq", "CAST(id % 30 AS int) AS pt"))
    files = t.timeline.latest().files
    assert len(files) == 30
    before = job_ids()
    key_stats, col_stats = t._collect_file_stats(files)
    assert job_ids() == before
    per_file = [_file_footer_stats(str(t.root), f, ["v", "n"])
                for f in files]
    assert key_stats == {rel: kv for rel, kv, _ in per_file if kv}
    assert col_stats == {rel: cs for rel, _, cs in per_file if cs}
    assert len(key_stats) == len(col_stats) == 30


def test_partitioned_upsert_files_sorted_by_record_key(spark, tmp_table_dir):
    """The planned write's own sort on the partition dirs must not undo
    the per-file key order (it used to replace the key sort)."""
    import pyarrow.parquet as pq

    t = _mk(spark, tmp_table_dir, partition_keys=["pt"],
            files_per_partition=1)
    t.bulk_insert(spark.range(0, 4000, 2, numPartitions=4).selectExpr(
        "id", "'a' AS v", "1 AS seq", "CAST(id % 3 AS int) AS pt"))
    t.upsert(spark.range(1, 4000, 2, numPartitions=4).selectExpr(
        "id", "'b' AS v", "2 AS seq", "CAST(id % 3 AS int) AS pt")
        .repartition(4))
    files = t.timeline.latest().files
    assert len(files) == 3
    for f in files:
        ids = pq.read_table(str(t.root / f), columns=["id"]) \
            .column("id").to_pylist()
        assert ids == sorted(ids), f
