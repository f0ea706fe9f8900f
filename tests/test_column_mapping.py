"""Column rename/drop schema evolution (Delta column-mapping class).

Rename and drop are METADATA-ONLY commits: a manifest-carried
logical→physical mapping serves renamed columns from unmodified files,
and hides dropped ones; compact()/cluster() materialize the mapping
back into file schemas. Time travel renders each commit's own mapping,
so history reads with the names that were current then.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from glue_hudi_spark.storage.native import NativeTable


def _seed(spark, path, **kw):
    t = NativeTable(spark, path, record_keys=["id"], precombine="seq", **kw)
    t.bulk_insert(spark.createDataFrame(
        [(f"k{i}", 1, float(i), f"tag{i % 3}") for i in range(10)],
        "id string, seq int, v double, tag string"))
    return t


def test_rename_is_metadata_only_and_time_travel_sees_both(spark, tmp_path):
    t = _seed(spark, tmp_path / "t")
    files_before = set(t.timeline.latest().files)
    t.rename_column("v", "val")
    c = t.timeline.latest()
    assert c.action == "rename_column"
    assert set(c.files) == files_before          # zero data rewrite
    snap = t.read_snapshot()
    assert "val" in snap.columns and "v" not in snap.columns
    assert {r["val"] for r in snap.filter("id = 'k3'").collect()} == {3.0}
    # a merge AFTER the rename writes through the mapping
    t.upsert(spark.createDataFrame([("k3", 2, 99.0, "tagX")],
                                   "id string, seq int, val double, tag string"))
    assert t.read_snapshot().filter("id = 'k3'").first()["val"] == 99.0
    # time travel BEFORE the rename serves the old name
    old = t.read_snapshot(as_of=1)
    assert "v" in old.columns and "val" not in old.columns
    assert old.filter("id = 'k3'").first()["v"] == 3.0


def test_drop_hides_column_and_compact_materializes(spark, tmp_path):
    t = _seed(spark, tmp_path / "t")
    t.drop_column("tag")
    snap = t.read_snapshot()
    assert "tag" not in snap.columns
    # writes may omit the dropped column
    t.upsert(spark.createDataFrame([("k0", 2, 50.0)],
                                   "id string, seq int, v double"))
    assert t.read_snapshot().filter("id = 'k0'").first()["v"] == 50.0
    # time travel before the drop still serves it
    assert t.read_snapshot(as_of=1).filter("id = 'k1'").first()["tag"] == "tag1"
    # re-adding the retired name is rejected with a pointer to compact()
    with pytest.raises(ValueError, match="dropped"):
        t.upsert(spark.createDataFrame([("k9", 3, 1.0, "boom")],
                                       "id string, seq int, v double, tag string"))
    t.compact()
    c = t.timeline.latest()
    assert c.column_mapping == {} and c.retired_cols == []
    assert "tag" not in t.read_snapshot().columns
    # after materialization the name is free again (schema evolution)
    t.upsert(spark.createDataFrame([("k9", 3, 1.0, "fresh")],
                                   "id string, seq int, v double, tag string"))
    assert t.read_snapshot().filter("id = 'k9'").first()["tag"] == "fresh"


def test_rename_then_compact_materializes_physical_names(spark, tmp_path):
    t = _seed(spark, tmp_path / "t")
    t.rename_column("v", "val")
    t.compact()
    c = t.timeline.latest()
    assert c.column_mapping == {} and c.retired_cols == []
    import pyarrow.parquet as pq
    phys = set()
    for rel in c.files:
        phys |= set(pq.read_schema(str(t.root / rel)).names)
    assert "val" in phys and "v" not in phys
    assert t.read_snapshot().filter("id = 'k2'").first()["val"] == 2.0


def test_structural_columns_cannot_be_renamed_or_dropped(spark, tmp_path):
    t = _seed(spark, tmp_path / "t")
    for col, verb in [("id", "rename"), ("seq", "rename")]:
        with pytest.raises(ValueError, match="cannot"):
            (t.rename_column(col, "x") if verb == "rename"
             else t.drop_column(col))
    with pytest.raises(ValueError, match="cannot"):
        t.drop_column("id")
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("v", "tag")
    with pytest.raises(ValueError, match="no such column"):
        t.rename_column("ghost", "x")


def test_merge_into_on_renamed_table(spark, tmp_path):
    t = _seed(spark, tmp_path / "t")
    t.rename_column("v", "val")
    src = spark.createDataFrame([("k1", 2, 1000.0, "t"), ("new", 1, 7.0, "t")],
                                "id string, seq int, val double, tag string")
    t.merge_into(src, when_matched_update="*", when_not_matched_insert=True)
    rows = {r["id"]: r["val"] for r in t.read_snapshot().collect()}
    assert rows["k1"] == 1000.0 and rows["new"] == 7.0 and len(rows) == 11


def test_rollback_restores_mapping(spark, tmp_path):
    t = _seed(spark, tmp_path / "t")
    t.rename_column("v", "val")
    t.rollback()  # undo the rename
    snap = t.read_snapshot()
    assert "v" in snap.columns and "val" not in snap.columns


def test_ghs_table_reads_renamed_table(spark, tmp_path):
    """The data source serves the logical schema (batch + pushdown)."""
    from glue_hudi_spark.sources import datasource as DS

    DS.register(spark)
    t = _seed(spark, tmp_path / "t", stats_cols=["v"])
    # stats_cols protect 'v'; rename an unindexed column instead
    t.rename_column("tag", "label")
    df = (spark.read.format("ghs_table").option("path", str(t.root)).load())
    assert "label" in df.columns and "tag" not in df.columns
    got = {r["label"] for r in df.filter(F.col("label") == "tag1").collect()}
    assert got == {"tag1"}
    assert df.count() == 10


def test_strict_schema_rejects_unknown_columns(spark, tmp_path):
    """Delta-style schema enforcement: strict_schema=True fails a write
    that would silently evolve the schema; renamed names stay allowed,
    dropped names stay rejected."""
    t = NativeTable(spark, tmp_path / "t", record_keys=["id"],
                    precombine="seq", strict_schema=True)
    t.bulk_insert(spark.createDataFrame(
        [("a", 1, 1.0)], "id string, seq int, v double"))
    with pytest.raises(ValueError, match="strict_schema"):
        t.upsert(spark.createDataFrame(
            [("a", 2, 2.0, "oops")], "id string, seq int, v double, extra string"))
    # subset batches are fine (missing columns read NULL per usual)
    t.upsert(spark.createDataFrame([("b", 1, 5.0)],
                                   "id string, seq int, v double"))
    assert t.read_snapshot().count() == 2
    # after a rename the LOGICAL name is the allowed one
    t.rename_column("v", "val")
    t.upsert(spark.createDataFrame([("c", 1, 9.0)],
                                   "id string, seq int, val double"))
    with pytest.raises(ValueError, match="strict_schema"):
        t.upsert(spark.createDataFrame([("d", 1, 9.0)],
                                       "id string, seq int, v double"))
    assert t.read_snapshot().count() == 3


def _swapped(spark, path):
    """A table whose columns ``a`` and ``b`` were swapped by three
    renames: logical ``a`` is physical ``b`` and the other way round."""
    t = NativeTable(spark, path, record_keys=["id"], precombine="seq")
    t.bulk_insert(spark.createDataFrame(
        [(i, 1, i * 100, i * 10) for i in range(3)],
        "id int, seq int, a int, b int"))
    t.rename_column("a", "tmp")
    t.rename_column("b", "a")
    t.rename_column("tmp", "b")
    return t


def _ab(t):
    return {r.id: (r.a, r.b) for r in t.read_snapshot().collect()}


def test_upsert_after_swapped_rename_lands_in_its_columns(spark, tmp_path):
    t = _swapped(spark, tmp_path / "t")
    assert _ab(t) == {0: (0, 0), 1: (10, 100), 2: (20, 200)}
    t.upsert(spark.createDataFrame([(3, 1, 300, 30), (1, 2, 111, 11)],
                                   "id int, seq int, a int, b int"))
    assert _ab(t) == {0: (0, 0), 1: (111, 11), 2: (20, 200), 3: (300, 30)}


def test_merge_after_swapped_rename_lands_in_its_columns(spark, tmp_path):
    t = _swapped(spark, tmp_path / "t")
    t.merge(spark.createDataFrame(
        [(3, 2, 300, 30, "I"), (2, 2, 222, 22, "U"), (0, 2, 0, 0, "D")],
        "id int, seq int, a int, b int, op string"))
    assert _ab(t) == {1: (10, 100), 2: (222, 22), 3: (300, 30)}
    t.merge_into(spark.createDataFrame(
        [(1, 3, 101, 1), (4, 3, 400, 40)], "id int, seq int, a int, b int"),
        when_matched_update="*", when_not_matched_insert=True)
    assert _ab(t) == {1: (101, 1), 2: (222, 22), 3: (300, 30),
                      4: (400, 40)}


def test_batch_column_shadowing_a_mapped_name_raises(spark, tmp_path):
    """After ``v`` is renamed to ``val``, a batch carrying both ``val``
    and a new column ``v`` would write two physical ``v`` columns."""
    t = _seed(spark, tmp_path / "t")
    t.rename_column("v", "val")
    with pytest.raises(ValueError, match="twice"):
        t.upsert(spark.createDataFrame(
            [("k1", 2, 1.0, 2.0)], "id string, seq int, val double, v double"))


@pytest.mark.parametrize("dv", [False, True])
def test_dropped_column_does_not_resolve(spark, tmp_path, dv):
    """After DROP COLUMN, UPDATE, DELETE and ``delete_where`` naming the
    column fail to resolve it, on a CoW and a deletion-vector table; the
    rows stay as they were."""
    from pyspark.errors import AnalysisException

    from glue_hudi_spark.sql import GhsSql

    t = NativeTable(spark, tmp_path / "x", record_keys=["id"],
                    deletion_vectors=dv, files_per_partition=2)
    t.bulk_insert(spark.createDataFrame(
        [(i, i * 10, i % 2) for i in range(6)], "id int, v int, c int"))
    g = GhsSql(spark, tmp_path / "wh", tables={"x": t})
    g.sql("ALTER TABLE x DROP COLUMN c")
    head = t.timeline.latest().commit_id
    for stmt in ("UPDATE x SET v = 100 WHERE c = 1",
                 "DELETE FROM x WHERE c = 1"):
        with pytest.raises(AnalysisException, match="UNRESOLVED_COLUMN") as e:
            g.sql(stmt)
        assert "`c`" in str(e.value), stmt
    with pytest.raises(AnalysisException, match="UNRESOLVED_COLUMN"):
        t.delete_where(F.expr("c = 1"))
    assert t.timeline.latest().commit_id == head
    want = [(i, i * 10) for i in range(6)]
    assert sorted(tuple(r) for r in g.sql("SELECT * FROM x").collect()) == want
    # the live columns still serve UPDATE and DELETE
    g.sql("UPDATE x SET v = 100 WHERE v = 10")
    t.delete_where(F.expr("v = 20"))
    assert sorted(tuple(r) for r in t.read_snapshot().collect()) == [
        (0, 0), (1, 100), (3, 30), (4, 40), (5, 50)]
    # time travel before the drop still serves the column
    assert t.read_snapshot(as_of=1).filter("id = 3").first()["c"] == 1


@pytest.mark.parametrize("partitioned", [False, True])
def test_keyed_rewrites_leave_dropped_column_out(spark, tmp_path,
                                                 partitioned):
    """An upsert, merge, MERGE INTO and delete after DROP COLUMN rewrite
    their files without the dropped column's bytes; each commit still
    carries the stored schema with the retired column at its place, plus
    a column the batch evolves."""
    import pyarrow.parquet as pq

    t = NativeTable(spark, tmp_path / "t", record_keys=["id"],
                    precombine="seq",
                    partition_keys=["tag"] if partitioned else None,
                    files_per_partition=1)
    t.bulk_insert(spark.createDataFrame(
        [(f"k{i}", 1, float(i), f"tag{i % 3}", "x" * 50) for i in range(10)],
        "id string, seq int, v double, tag string, blob string"))
    t.drop_column("blob")
    def names(c):
        return [f["name"] for f in json.loads(c.schema_json)["fields"]]

    stored = names(t.timeline.latest())

    def new_file_columns(prev, c):
        new = sorted(set(c.files) - set(prev.files))
        assert new
        return {tuple(pq.read_schema(str(t.root / f)).names) for f in new}

    writes = [
        lambda: t.upsert(spark.createDataFrame(
            [("k1", 2, 10.0, "tag1")], "id string, seq int, v double, tag string")),
        lambda: t.merge(spark.createDataFrame(
            [("k2", 2, 20.0, "tag2", "U"), ("k4", 2, 0.0, "tag1", "D")],
            "id string, seq int, v double, tag string, op string"),
            op_col="op"),
        lambda: t.merge_into(spark.createDataFrame(
            [("k5", 2, 50.0, "tag2")], "id string, seq int, v double, tag string"),
            when_matched_update="*"),
        lambda: t.delete(spark.createDataFrame(
            [("k7", "tag1")], "id string, tag string")),
    ]
    for write in writes:
        prev = t.timeline.latest()
        c = write()
        for cols in new_file_columns(prev, c):
            assert "blob" not in cols
        assert names(c) == stored
        assert c.retired_cols == ["blob"]

    prev = t.timeline.latest()
    c = t.upsert(spark.createDataFrame(
        [("k3", 3, 30.0, "tag0", 7)],
        "id string, seq int, v double, tag string, extra int"))
    assert all("blob" not in n and "extra" in n
               for n in new_file_columns(prev, c))
    assert names(c) == stored + ["extra"]
    snap = {r.id: r for r in t.read_snapshot().collect()}
    assert "blob" not in t.read_snapshot().columns
    assert sorted(snap) == sorted(f"k{i}" for i in range(10) if i not in (4, 7))
    assert (snap["k1"].v, snap["k2"].v, snap["k5"].v, snap["k3"].extra) \
        == (10.0, 20.0, 50.0, 7)
    assert snap["k6"].extra is None
    assert t.read_snapshot(as_of=1).filter("id = 'k1'").first()["blob"] \
        == "x" * 50
    t.compact()
    assert "blob" not in t.read_snapshot().columns
    assert t.validate()["ok"]
