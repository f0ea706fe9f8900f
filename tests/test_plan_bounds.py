"""Prune bounds read from Catalyst's optimized plan, and the partition
dirs they prune.

``NativeTable.scan_bounds`` (SQL reads) and ``NativeTable._cond_bounds``
(``delete_where``, SQL UPDATE / OPTIMIZE WHERE) take the column-vs-
constant conjuncts of the filters Spark pushes to a table's scan. These
tests pin that identity partitions prune by their typed values, that a
shape whose filter does not reach the scan, or that reads the table in
two scans, prunes nothing and returns the unpruned rows, and that
deriving bounds starts no Spark job."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from glue_hudi_spark.sql import GhsSql
from glue_hudi_spark.storage.native import NativeTable


@pytest.fixture()
def ghs(spark, tmp_path):
    return GhsSql(spark, tmp_path / "wh")


def _dirs(files, field):
    """The ``field`` dir values of ``files`` ('' when the path lacks it)."""
    tag = f"_pp_{field}="
    return sorted({next((p[len(tag):] for p in f.split("/")
                         if p.startswith(tag)), "") for f in files})


def _kept(t, prune):
    c = t.timeline.latest()
    return t._prune_files(c.files, prune, c)


# ------------------------------------------------- identity partitions


def test_identity_date_partition_prunes_typed(spark, tmp_path):
    t = NativeTable(spark, tmp_path / "t", record_keys=["id"],
                    partition_keys=["d"], files_per_partition=1)
    days = [dt.date(2024, 1, i) for i in range(1, 6)] + [None]
    t.bulk_insert(spark.createDataFrame(
        [(f"k{i}", d, i) for i, d in enumerate(days)],
        "id string, d date, v int"))
    assert len(t.timeline.latest().files) == 6
    prune = {"d": (dt.date(2024, 1, 2), dt.date(2024, 1, 3))}
    # the default partition (the NULL date) is always kept
    assert _dirs(_kept(t, prune), "d") == [
        "2024-01-02", "2024-01-03", "__HIVE_DEFAULT_PARTITION__"]
    assert t.pruned_file_count(prune) == (3, 6)
    # ISO-string bounds parse as dates too; an open side stays open
    assert _dirs(_kept(t, {"d": ("2024-01-04", None)}), "d") == [
        "2024-01-04", "2024-01-05", "__HIVE_DEFAULT_PARTITION__"]
    # a bound of another type rules out nothing
    assert len(_kept(t, {"d": (dt.datetime(2024, 1, 4), None)})) == 6
    got = sorted(r.id for r in t.read_snapshot(prune=prune).collect())
    assert got == ["k1", "k2"]


def test_identity_int_partition_orders_numerically(spark, tmp_path):
    t = NativeTable(spark, tmp_path / "t", record_keys=["id"],
                    partition_keys=["pt"], files_per_partition=1)
    t.bulk_insert(spark.createDataFrame(
        [(f"k{p}", p) for p in (1, 2, 9, 10, 11)], "id string, pt int"))
    # as strings "10" < "9": a string range would drop the 10 dir
    assert _dirs(_kept(t, {"pt": (9, 10)}), "pt") == ["10", "9"]
    assert _dirs(_kept(t, {"pt": (None, 2)}), "pt") == ["1", "2"]
    got = sorted(r.pt for r in t.read_snapshot(prune={"pt": (9, 10)})
                 .collect())
    assert got == [9, 10]


def test_identity_string_partition_and_default_dir(spark, tmp_path):
    t = NativeTable(spark, tmp_path / "t", record_keys=["id"],
                    partition_keys=["region"], files_per_partition=1)
    t.bulk_insert(spark.createDataFrame(
        [("a", "eu"), ("b", "us"), ("c", "ap"), ("d", ""), ("e", None)],
        "id string, region string"))
    assert _dirs(_kept(t, {"region": ("eu", "eu")}), "region") == [
        "__HIVE_DEFAULT_PARTITION__", "eu"]


def test_identity_partition_keeps_older_spec_files(spark, tmp_path):
    t = NativeTable(spark, tmp_path / "t", record_keys=["id"],
                    files_per_partition=1)
    t.bulk_insert(spark.createDataFrame(
        [(f"k{i}", i % 3) for i in range(6)], "id string, pt int"))
    t.evolve_partition_spec(["pt"])
    t.upsert(spark.createDataFrame(
        [(f"n{i}", i % 3) for i in range(6)], "id string, pt int"))
    kept = _kept(t, {"pt": (1, 1)})
    # the unpartitioned file may hold any pt; of the new dirs only pt=1
    assert _dirs(kept, "pt") == ["", "1"]
    got = sorted(r.id for r in t.read_snapshot(prune={"pt": (1, 1)})
                 .collect())
    assert got == ["k1", "k4", "n1", "n4"]


def test_sql_date_range_reads_only_its_partitions(ghs, spark):
    t = NativeTable(spark, ghs.warehouse / "ev", record_keys=["id"],
                    partition_keys=["event_date"], files_per_partition=1)
    t.bulk_insert(spark.range(300).select(
        F.format_string("k%03d", "id").alias("id"),
        F.date_add(F.lit(dt.date(2026, 1, 1)),
                   (F.col("id") % 30).cast("int")).alias("event_date"),
        F.col("id").cast("decimal(12,2)").alias("amount")))
    ghs.register("ev", t)
    df = ghs.sql("SELECT count(*) AS n, sum(amount) AS s FROM ev "
                 "WHERE event_date BETWEEN DATE'2026-01-05' "
                 "AND date_add(DATE'2026-01-05', 2)")
    assert len(df.inputFiles()) == 3
    want = t.read_snapshot().filter(
        "event_date BETWEEN DATE'2026-01-05' AND DATE'2026-01-07'"
    ).agg(F.count("*"), F.sum("amount")).first()
    assert tuple(df.first()) == tuple(want)


# ------------------------------------------------------ plan soundness


def _ledger(ghs, spark):
    """Four files by ``x`` (0..99, stats-indexed); ``v = -x``."""
    t = NativeTable(spark, ghs.warehouse / "ledger", record_keys=["id"],
                    stats_cols=["x"], sort_order=["x"],
                    files_per_partition=4)
    t.bulk_insert(spark.range(100).select(
        F.col("id"), F.col("id").alias("x"), (-F.col("id")).alias("v")))
    ghs.register("ledger", t)
    return t


def _explain_note(ghs, q):
    return ghs.sql("EXPLAIN " + q).first().plan


@pytest.mark.parametrize("q, want", [
    # the filter sits above the window: row_number sees every row
    ("SELECT x, rn FROM (SELECT x, row_number() OVER (ORDER BY x) AS rn "
     "FROM ledger) WHERE x >= 90",
     [(x, x + 1) for x in range(90, 100)]),
    # the filter sits above LIMIT: the limit sees every row
    ("SELECT x FROM (SELECT x FROM ledger ORDER BY x LIMIT 40) "
     "WHERE x >= 30", [(x,) for x in range(30, 40)]),
    # two scans of one table
    ("SELECT a.x FROM ledger a JOIN ledger b ON a.id = b.id "
     "WHERE a.x >= 97", [(97,), (98,), (99,)]),
    ("SELECT x FROM ledger WHERE x >= 98 UNION ALL "
     "SELECT x FROM ledger WHERE x < 2", [(0,), (1,), (98,), (99,)]),
    # a scalar subquery over the same table: max(v) is v = 0 at x = 0
    ("SELECT x FROM ledger WHERE x >= 50 "
     "AND v = (SELECT max(v) FROM ledger)", []),
])
def test_unprunable_shapes_read_every_file(ghs, spark, q, want):
    t = _ledger(ghs, spark)
    assert "none derived" in _explain_note(ghs, q)
    assert sorted(tuple(r) for r in ghs.sql(q).collect()) == want
    # and the same statement over the Python API's unpruned view
    t.read_snapshot().createOrReplaceTempView("ledger")
    assert sorted(tuple(r) for r in spark.sql(q).collect()) == want


def test_single_scan_prunes(ghs, spark):
    t = _ledger(ghs, spark)
    total = len(t.timeline.latest().files)
    df = ghs.sql("SELECT x FROM ledger WHERE 90 <= x")
    assert 0 < len(df.inputFiles()) < total
    assert sorted(r.x for r in df.collect()) == list(range(90, 100))
    assert "none derived" not in _explain_note(
        ghs, "SELECT x FROM ledger WHERE x IN (1, 2, 3, 4, 5, 6, 7, 8, 9, "
             "10, 11, 12)")  # an InSet once past ten items
    # a join with another table still scans the ledger once
    other = NativeTable(spark, ghs.warehouse / "other", record_keys=["id"])
    other.bulk_insert(spark.range(100).select("id", F.lit(1).alias("w")))
    ghs.register("other", other)
    df = ghs.sql("SELECT l.x FROM `ledger` l JOIN other o ON l.id = o.id "
                 "WHERE l.x >= 90")
    assert len(df.inputFiles()) < total + len(other.timeline.latest().files)
    assert sorted(r.x for r in df.collect()) == list(range(90, 100))


def test_default_column_groups_prune_on_shared_bounds(ghs):
    """Files written before an ADD COLUMN ... DEFAULT are read in a scan
    of their own; a bound all the scans share still prunes, and one only
    some of them carry (the default-filled column) does not."""
    ghs.sql("""
        CREATE TABLE d (id BIGINT, x BIGINT) USING ghs_table
            TBLPROPERTIES ('primaryKey'='id', 'statsCols'='x',
                           'sortOrder'='x', 'filesPerPartition'='4');
        INSERT INTO d SELECT id, id FROM range(100);
        ALTER TABLE d ADD COLUMN tier STRING DEFAULT 'std';
        INSERT INTO d SELECT id, id, 'new' FROM range(100, 140)
    """)
    q = ("SELECT id FROM d WHERE x >= 90 AND tier = 'std' AND id IN "
         "('95', '96', '97', '98', '99', '100', '101', '102', '103', "
         "'104', '105')")
    note = _explain_note(ghs, q)
    assert "'x': (90, None)" in note and "'id': (95, 105)" in note
    assert "tier" not in note
    assert sorted(r.id for r in ghs.sql(q).collect()) == [95, 96, 97, 98,
                                                         99]


def test_timestamp_bound_under_session_time_zone(ghs, spark):
    t = NativeTable(spark, ghs.warehouse / "tz", record_keys=["id"],
                    stats_cols=["ts"], sort_order=["ts"],
                    files_per_partition=4)
    t.bulk_insert(spark.range(48).select(
        F.col("id"),
        F.timestamp_seconds(F.lit(1710072000) + F.col("id") * 3600)
        .alias("ts")))
    ghs.register("tz", t)
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        lit = "TIMESTAMP'2024-03-11 06:00:00'"
        want = spark.sql(f"SELECT {lit}").first()[0]
        assert ghs._where_bounds(t, f"ts >= {lit}") == {"ts": (want, None)}
        got = ghs.sql(f"SELECT id FROM tz WHERE ts >= {lit}")
        assert sorted(r.id for r in got.collect()) == sorted(
            r.id for r in t.read_snapshot().filter(f"ts >= {lit}")
            .collect())
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_renamed_columns_bound_by_logical_name(ghs, spark):
    t = NativeTable(spark, ghs.warehouse / "cm", record_keys=["id"],
                    stats_cols=["x"], sort_order=["x"],
                    files_per_partition=4)
    t.bulk_insert(spark.range(100).select(
        "id", F.col("id").alias("x"), (F.col("id") % 7).alias("a"),
        (F.col("id") % 5).alias("b")))
    ghs.register("cm", t)
    # swap names: logical ``a`` now reads the physical column ``b``
    t.rename_column("a", "c")
    t.rename_column("b", "a")
    assert ghs._where_bounds(t, "a = 3 AND x >= 90") == {
        "a": (3, 3), "x": (90, None)}
    total = len(t.timeline.latest().files)
    df = ghs.sql("SELECT id FROM cm WHERE a = 3 AND x >= 90")
    assert 0 < len(df.inputFiles()) < total
    assert sorted(r.id for r in df.collect()) == [93, 98]


def test_constant_where_starts_no_job_before_execution(
        ghs, spark, job_ids, monkeypatch):
    t = _ledger(ghs, spark)
    ghs.sql("SELECT x FROM ledger")  # bind the view first
    before = job_ids()
    df = ghs.sql("SELECT x FROM ledger WHERE x BETWEEN 10 AND 12 "
                 "AND v <= -11")
    assert job_ids() == before
    assert sorted(r.x for r in df.collect()) == [11, 12]

    # UPDATE: nothing runs before the upsert that executes it
    seen, upsert = [], t.upsert
    monkeypatch.setattr(t, "upsert", lambda *a, **kw: (
        seen.append(job_ids()), upsert(*a, **kw))[1])
    before = job_ids()
    ghs.sql("UPDATE ledger SET v = 0 WHERE x >= 95")
    assert seen == [before]
    # DELETE: the bounds are derived before the files are pruned
    seen, prune = [], t._prune_files
    monkeypatch.setattr(t, "_prune_files", lambda *a: (
        seen.append((job_ids(), a[1])), prune(*a))[1])
    before = job_ids()
    ghs.sql("DELETE FROM ledger WHERE x < 10")
    assert seen == [(before, {"x": (None, 10)})]
    c = t.timeline.latest()
    assert c.stats["files_carried"] == 3
    assert ghs.sql("SELECT count(*) FROM ledger").first()[0] == 90
