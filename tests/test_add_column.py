"""Metadata-only ADD COLUMN with DEFAULT values (Delta ADD COLUMN ...
DEFAULT class): pre-add files serve the default (they cannot hold real
values), post-add writes serve stored values — an explicit NULL stays
NULL. Zero rewrites; compaction materializes."""

from __future__ import annotations

import pytest

from glue_hudi_spark.sources import datasource as DS
from glue_hudi_spark.storage.native import NativeTable


def _rows(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def _mk(spark, path, **kw):
    t = NativeTable(spark, path, record_keys=["id"], precombine="seq", **kw)
    t.bulk_insert(_rows(spark, [(f"k{i:02d}", float(i), 1) for i in range(20)],
                        "id string, v double, seq int"))
    return t


def test_add_column_nullable_no_default(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    c = t.add_column("note", "string")
    assert c.action == "add_column" and c.files  # zero rewrite
    snap = t.read_snapshot()
    assert dict(snap.dtypes)["note"] == "string"
    assert snap.filter("note is not null").count() == 0


def test_add_column_default_backfills_only_pre_add_rows(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", files_per_partition=4)
    prev_files = set(t.timeline.latest().files)
    t.add_column("tier", "string", default="legacy")
    assert set(t.timeline.latest().files) == prev_files  # metadata-only
    # all pre-add rows read the default
    snap = {r["id"]: r["tier"] for r in t.read_snapshot().collect()}
    assert set(snap.values()) == {"legacy"} and len(snap) == 20
    # post-add writer: explicit value AND explicit NULL both stored
    t.upsert(_rows(spark, [("k00", 0.0, 2, "gold"), ("k01", 1.0, 2, None)],
                   "id string, v double, seq int, tier string"))
    snap = {r["id"]: r["tier"] for r in t.read_snapshot().collect()}
    assert snap["k00"] == "gold"
    assert snap["k01"] is None          # NOT backfilled: post-add null
    assert snap["k05"] == "legacy"      # untouched pre-add row
    # rows of pre-add files REWRITTEN by the merge materialized their
    # default (they rode through the defaults-applied read)
    assert snap["k02"] == "legacy"


def test_add_column_time_travel_and_compaction(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.add_column("tier", "string", default="legacy")
    # VERSION AS OF before the add: no such column
    old = t.read_snapshot(as_of=1)
    assert "tier" not in old.columns
    # compaction materializes the default into file bytes + clears entry
    t.compact()
    assert t.timeline.latest().column_defaults == {}
    snap = {r["id"]: r["tier"] for r in t.read_snapshot().collect()}
    assert set(snap.values()) == {"legacy"}


def test_add_column_int_default_and_point_lookup(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", files_per_partition=4)
    t.add_column("score", "bigint", default=7)
    row = t.read_keys(["k13"]).collect()[0]
    assert row["score"] == 7
    got = {r["id"]: r["score"] for r in t.read_snapshot().collect()}
    assert all(v == 7 for v in got.values())


def test_add_column_validation(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    with pytest.raises(ValueError, match="already exists"):
        t.add_column("v", "double")
    t.add_column("x", "int")
    t.drop_column("x")
    with pytest.raises(ValueError, match="dropped column"):
        t.add_column("x", "int")
    with pytest.raises(ValueError, match="JSON scalar"):
        t.add_column("y", "string", default={"a": 1})


def test_drop_column_clears_its_default(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.add_column("tier", "string", default="legacy")
    t.drop_column("tier")
    assert t.timeline.latest().column_defaults == {}
    assert "tier" not in t.read_snapshot().columns


def test_ghs_table_reads_serve_defaults(spark, tmp_path):
    """The datasource batch and stream readers and a replica drain agree
    with the engine read: pre-add files fill the default, post-add
    explicit NULL stays NULL."""
    from glue_hudi_spark.streaming.replicate import TableReplicationStream

    DS.register(spark)
    t = _mk(spark, tmp_path / "t", files_per_partition=4)
    t.add_column("tier", "string", default="legacy")
    t.upsert(_rows(spark, [("k00", 0.0, 2, "gold"), ("k01", 1.0, 2, None)],
                   "id string, v double, seq int, tier string"))
    want = {r["id"]: r["tier"] for r in t.read_snapshot().collect()}
    # batch tier
    df = spark.read.format("ghs_table").option("path", str(t.root)).load()
    got = {r["id"]: r["tier"] for r in df.collect()}
    assert got == want and got["k05"] == "legacy" and got["k01"] is None
    # partitioned stream tier (full-history drain = one version per key)
    out = tmp_path / "out"
    q = (spark.readStream.format("ghs_table")
         .option("path", str(t.root)).load()
         .writeStream.format("parquet").option("path", str(out))
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    srows = {r["id"]: r["tier"]
             for r in spark.read.parquet(str(out)).collect()}
    assert srows == want
    # replica drain (full history into an empty table)
    dest = NativeTable(spark, tmp_path / "dest", record_keys=["id"],
                       precombine="seq")
    TableReplicationStream(spark, t.root, dest, tmp_path / "rck") \
        .run_available()
    assert {r["id"]: r["tier"] for r in dest.read_snapshot().collect()} \
        == want


# ---- round-10: DEFAULTs must survive every rewrite path (r9 advice) ----
# A pre-add file rewritten by bin_pack/rewrite_files/delete_where/merge
# lands under a NEW dir commit >= the default's `since`; if the rewrite
# read skipped the default fill, those rows would permanently flip to
# NULL. Same class: match semantics (merge_into / delete predicates /
# DV deletes) evaluated against NULL instead of the default, rollback
# dropping the defaults map, and the change feed emitting NULLs.


def _legacy(t):
    return {r["id"]: r["tier"] for r in t.read_snapshot().collect()}


def test_default_survives_bin_pack(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", files_per_partition=4)
    t.add_column("tier", "string", default="legacy")
    c = t.bin_pack(target_bytes=64 * 1024 * 1024)  # everything is small
    assert c is not None and c.action == "bin_pack"
    snap = _legacy(t)
    assert len(snap) == 20 and set(snap.values()) == {"legacy"}


def test_default_survives_rewrite_files(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", files_per_partition=4)
    t.add_column("tier", "string", default="legacy")
    c = t.rewrite_data_files()
    assert c is not None and c.action == "rewrite_files"
    snap = _legacy(t)
    assert len(snap) == 20 and set(snap.values()) == {"legacy"}


def test_default_serves_delete_where_match_and_rewrite(spark, tmp_path):
    from pyspark.sql import functions as F

    t = _mk(spark, tmp_path / "t", files_per_partition=4)
    t.add_column("tier", "string", default="legacy")
    # match semantics: the predicate references the added column — every
    # pre-add row must MATCH via the default, not read NULL (kept)
    t.delete_where((F.col("tier") == "legacy") & (F.col("id") < "k05"))
    snap = _legacy(t)
    assert len(snap) == 15 and set(snap.values()) == {"legacy"}


def test_default_serves_dv_delete_where(spark, tmp_path):
    from pyspark.sql import functions as F

    t = _mk(spark, tmp_path / "t", files_per_partition=4,
            deletion_vectors=True)
    t.add_column("tier", "string", default="legacy")
    t.delete_where((F.col("tier") == "legacy") & (F.col("id") < "k05"))
    snap = _legacy(t)
    assert len(snap) == 15 and set(snap.values()) == {"legacy"}


def test_default_serves_merge_into_target(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", files_per_partition=4)
    t.add_column("tier", "string", default="legacy")
    src = _rows(spark, [("k03", 9.0, 2), ("k99", 99.0, 1)],
                "id string, v double, seq int")
    # update expression reads tgt.tier — must see the default
    t.merge_into(src, when_matched_update={"v": "src.v",
                                           "tier": "concat(tgt.tier, '+')"})
    snap = _legacy(t)
    assert snap["k03"] == "legacy+"
    assert snap["k99"] is None          # fresh insert: no default (post-add)
    assert snap["k05"] == "legacy"
    # the carried pre-add files still serve the default after the merge
    assert sum(v == "legacy" for v in snap.values()) == 19


def test_default_in_change_feed_rewrites(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", files_per_partition=4)
    t.add_column("tier", "string", default="legacy")
    head = t.timeline.latest().commit_id
    t.upsert(_rows(spark, [("k00", 5.0, 2, "gold")],
                   "id string, v double, seq int, tier string"))
    feed = t.change_feed(head, t.timeline.latest().commit_id)
    pre = {r["_change_type"]: r["tier"] for r in feed.collect()
           if r["id"] == "k00"}
    # the preimage row lived in a pre-add file: its tier is the default
    assert pre["update_preimage"] == "legacy"
    assert pre["update_postimage"] == "gold"
    # sibling rows rewritten alongside k00 must NOT surface as changes
    assert feed.filter("id <> 'k00'").count() == 0


def test_rollback_past_compact_restores_defaults(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", files_per_partition=4)
    t.add_column("tier", "string", default="legacy")
    pre_compact = t.timeline.latest().commit_id
    t.compact()  # materializes + clears the defaults map
    assert t.timeline.latest().column_defaults == {}
    t.rollback(pre_compact)
    assert t.timeline.latest().column_defaults != {}
    snap = _legacy(t)
    assert len(snap) == 20 and set(snap.values()) == {"legacy"}
