"""The session's generated-code cache holds a whole commit round.

A change-feed merge, its replica drain and an aggregate view refresh
generate well over Spark's default 100 distinct classes; with a cache
that small every round evicts and recompiles most of them. ``get_spark``
sizes the cache so a repeated round compiles nothing new.
"""

from __future__ import annotations

import datetime as dt

from glue_hudi_spark.storage.native import NativeTable
from glue_hudi_spark.streaming.materialized import MaterializedAgg
from glue_hudi_spark.streaming.replicate import TableReplicationStream


def _compilations(spark) -> int:
    jvm = spark.sparkContext._jvm
    return (jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME().getCount())


def test_codegen_cache_size(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "512"


def test_repeated_feed_round_compiles_nothing(spark, tmp_path):
    schema = "id string, seq int, amount double, d date, op string"
    day = dt.date(2024, 1, 1)
    src = NativeTable(spark, tmp_path / "src", record_keys=["id"],
                      precombine="seq", partition_keys=["d"],
                      files_per_partition=1, change_feed_deletes=True)
    src.bulk_insert(spark.createDataFrame(
        [(f"k{i:03d}", 0, float(i), day + dt.timedelta(days=i % 3), "I")
         for i in range(60)], schema).drop("op"))
    replica = src.clone_to(tmp_path / "replica")
    stream = TableReplicationStream(
        spark, src.root, replica, tmp_path / "ckpt",
        starting_commit=src.timeline.latest().commit_id)
    view = MaterializedAgg(spark, src, tmp_path / "view", ["d"], "amount")
    view.refresh()

    def feed_round(r: int) -> None:
        ops = [(f"k{(7 * r + j) % 60:03d}", r, float(r * 100 + j),
                day + dt.timedelta(days=j % 3), "U") for j in range(4)]
        ops += [(f"n{r:03d}", r, 1.0, day, "I"),
                (f"k{(7 * r + 5) % 60:03d}", r, 0.0, day, "D")]
        src.merge(spark.createDataFrame(ops, schema))
        stream.run_available()
        view.refresh()

    for r in (1, 2):  # warm: first-of-kind plans compile here
        feed_round(r)
    before = _compilations(spark)
    feed_round(3)
    assert _compilations(spark) - before == 0
    # the round did its work: replica and view follow the source
    snap = src.read_snapshot()
    assert (sorted(map(tuple, replica.read_snapshot().collect()))
            == sorted(map(tuple, snap.collect())))
    assert ({r["d"] for r in view.read().collect()}
            == {r["d"] for r in snap.select("d").distinct().collect()})
