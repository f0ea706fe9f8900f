"""Hidden partitioning (Iceberg partition-transform class).

Partition specs like ``days(ts)`` / ``bucket(N, col)`` /
``truncate(W, col)`` lay files out by a TRANSFORM of a column while the
typed source column stays in the data — queries filter on the source,
the engine prunes the transformed dirs. The scale contract: a ts-range
read on a days-partitioned table lists only the in-range day dirs, and
an upsert batch confined to one day rewrites only that day's files.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from glue_hudi_spark.storage.native import (
    NativeTable,
    PartitionField,
    _parse_partition_field,
)


def _ts(day, hour=0):
    return dt.datetime(2024, 1, day, hour)


def _events(spark, n=48):
    # 48 hourly events across 2024-01-01..02 (24 per day)
    rows = [dict(id=f"e{i:03d}", ts=_ts(1 + i // 24, i % 24),
                 v=float(i)) for i in range(n)]
    return spark.createDataFrame(rows)


def test_parse_specs():
    f = _parse_partition_field("days(ts)")
    assert (f.transform, f.source, f.name) == ("days", "ts", "ts_day")
    f = _parse_partition_field("bucket(8, user_id)")
    assert (f.transform, f.param, f.name) == ("bucket", 8, "user_id_bucket8")
    f = _parse_partition_field("truncate(3, code)")
    assert (f.transform, f.param) == ("truncate", 3)
    assert _parse_partition_field("plain").transform == "identity"
    with pytest.raises(ValueError, match="unknown partition transform"):
        _parse_partition_field("zap(ts)")
    with pytest.raises(ValueError, match="needs a width"):
        _parse_partition_field("bucket(ts)")
    with pytest.raises(ValueError, match="takes no width"):
        _parse_partition_field("days(3, ts)")


def test_transform_bounds():
    f = _parse_partition_field("days(ts)")
    assert f.transform_bounds(_ts(3), _ts(5)) == ("2024-01-03", "2024-01-05")
    assert f.transform_bounds(None, "2024-01-05T12:00:00") == (
        None, "2024-01-05")
    assert f.transform_bounds("not a date", None) is None
    assert _parse_partition_field("bucket(4, k)").transform_bounds(
        1, 2) is None
    assert _parse_partition_field("truncate(2, s)").transform_bounds(
        "abc", "azz") == ("ab", "az")


def test_days_layout_and_source_column_intact(spark, tmp_path):
    t = NativeTable(spark, tmp_path / "t", record_keys=["id"],
                    precombine="v", partition_keys=["days(ts)"])
    t.bulk_insert(_events(spark))
    c = t.timeline.latest()
    dirs = {p for f in c.files for p in f.split("/") if "=" in p}
    assert dirs == {"_pp_ts_day=2024-01-01", "_pp_ts_day=2024-01-02"}
    # the typed source column survives in the data (hidden partitioning:
    # the dir value is derived, never stored)
    out = t.read_snapshot()
    assert dict(out.dtypes)["ts"].startswith("timestamp")
    assert out.count() == 48


def test_hidden_partition_read_pruning(spark, tmp_path):
    t = NativeTable(spark, tmp_path / "t", record_keys=["id"],
                    precombine="v", partition_keys=["days(ts)"],
                    files_per_partition=2)
    t.bulk_insert(_events(spark))
    # range predicate on the SOURCE column prunes day dirs
    out = t.read_snapshot(prune={"ts": (_ts(2), None)})
    assert out.count() == 24
    assert all("ts_day=2024-01-02" in f for f in out.inputFiles())
    # exactness: an intra-day bound still row-filters after dir pruning
    out = t.read_snapshot(prune={"ts": (_ts(2, 12), None)})
    assert out.count() == 12


def test_upsert_prunes_by_transformed_partition(spark, tmp_path):
    t = NativeTable(spark, tmp_path / "t", record_keys=["id"],
                    precombine="v", partition_keys=["days(ts)"])
    t.bulk_insert(_events(spark))
    patch = spark.createDataFrame(
        [dict(id="e030", ts=_ts(2, 6), v=999.0)])
    c = t.upsert(patch)
    assert c.stats["files_rewritten"] == 1  # only day-2's file
    got = {r["id"]: r["v"] for r in t.read_snapshot().collect()}
    assert got["e030"] == 999.0 and len(got) == 48


def test_bucket_transform_roundtrip(spark, tmp_path):
    t = NativeTable(spark, tmp_path / "t", record_keys=["id"],
                    precombine="v", partition_keys=["bucket(4, id)"])
    df = spark.createDataFrame(
        [dict(id=f"k{i}", v=float(i)) for i in range(40)])
    t.bulk_insert(df)
    parts = {t._file_partition(f)[0] for f in t.timeline.latest().files}
    assert parts <= {"0", "1", "2", "3"} and len(parts) > 1
    # upsert of one key touches only its bucket
    c = t.upsert(spark.createDataFrame([dict(id="k7", v=77.0)]))
    assert c.stats["files_rewritten"] < len(c.files)
    got = {r["id"]: r["v"] for r in t.read_snapshot().collect()}
    assert got["k7"] == 77.0 and len(got) == 40


def test_truncate_transform_and_null_partition(spark, tmp_path):
    t = NativeTable(spark, tmp_path / "t", record_keys=["id"],
                    precombine="v", partition_keys=["truncate(2, code)"])
    df = spark.createDataFrame(
        [("a", "DE-1", 1.0), ("b", "DE-2", 2.0), ("c", "FR-1", 3.0),
         ("d", None, 4.0)],
        "id string, code string, v double")
    t.bulk_insert(df)
    parts = {t._file_partition(f)[0] for f in t.timeline.latest().files}
    assert parts == {"DE", "FR", "__HIVE_DEFAULT_PARTITION__"}
    out = t.read_snapshot(prune={"code": ("DE", "DE~")})
    # null-partition files are conservatively kept; the row filter is
    # exact — DE rows plus nothing else matching the predicate
    assert {r["id"] for r in out.collect()} == {"a", "b"}
    assert t.read_snapshot().count() == 4


def test_duplicate_field_names_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="duplicate"):
        NativeTable(spark, tmp_path / "t", record_keys=["id"],
                    partition_keys=["days(ts)", "days(ts)"])


def test_delete_where_hidden_partition_prune(spark, tmp_path):
    t = NativeTable(spark, tmp_path / "t", record_keys=["id"],
                    precombine="v", partition_keys=["days(ts)"],
                    files_per_partition=1)
    t.bulk_insert(_events(spark))
    c = t.delete_where(F.col("ts") >= F.lit(_ts(2)))
    assert c.stats["files_rewritten"] == 1  # only day 2 touched
    assert t.read_snapshot().count() == 24


def test_identity_spec_unchanged(spark, tmp_path):
    """Plain column names keep the classic hive layout byte-for-byte."""
    t = NativeTable(spark, tmp_path / "t", record_keys=["id"],
                    precombine="v", partition_keys=["kind"])
    t.bulk_insert(spark.createDataFrame(
        [("a", "x", 1.0), ("b", "y", 2.0)], "id string, kind string, v double"))
    dirs = {p for f in t.timeline.latest().files
            for p in f.split("/") if "=" in p}
    assert dirs == {"_pp_kind=x", "_pp_kind=y"}
