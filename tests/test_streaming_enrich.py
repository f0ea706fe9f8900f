"""Streaming SCD2 enrichment: each event carries the dimension version
in force AT ITS EVENT TIME, new versions flow in between micro-batches,
pre-history events keep NULL attributes."""

from __future__ import annotations

import datetime as dt
from pathlib import Path

from glue_hudi_spark.operators import scd2
from glue_hudi_spark.streaming.enrich import EnrichStream, enrich_asof


def _dim(spark, upto: int):
    changes = [
        (1, dt.datetime(2024, 1, 10), "bronze"),
        (1, dt.datetime(2024, 3, 1), "silver"),
        (1, dt.datetime(2024, 6, 1), "gold"),
        (2, dt.datetime(2024, 2, 1), "bronze"),
    ][:upto]
    ev = spark.createDataFrame(changes, "user_id int, ts timestamp, tier string")
    return scd2.scd2_build(ev, ["user_id"], "ts", ["tier"])


def test_enrich_asof_picks_version_at_event_time(spark):
    events = spark.createDataFrame(
        [(100, 1, dt.datetime(2024, 1, 5)),    # before first version
         (101, 1, dt.datetime(2024, 2, 15)),   # bronze era
         (102, 1, dt.datetime(2024, 3, 1)),    # exactly at silver start
         (103, 1, dt.datetime(2024, 7, 1)),    # gold (open interval)
         (104, 2, dt.datetime(2024, 5, 5))],
        "event_id int, user_id int, ts timestamp")
    out = {r["event_id"]: r["tier"] for r in enrich_asof(
        events, _dim(spark, 4), ["user_id"], "ts", ["tier"]).collect()}
    assert out == {100: None, 101: "bronze", 102: "silver",
                   103: "gold", 104: "bronze"}


def _land(spark, rows, d: Path, name: str):
    df = spark.createDataFrame(rows, "event_id int, user_id int, ts timestamp")
    stage = str(d) + "__stage__" + name
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    d.mkdir(parents=True, exist_ok=True)
    for i, p in enumerate(Path(stage).glob("*.parquet")):
        p.rename(d / f"{name}_{i}.parquet")


def test_enrich_stream_sees_dimension_updates_between_batches(spark, tmp_path):
    ev_dir = tmp_path / "events"
    _land(spark, [(1, 1, dt.datetime(2024, 2, 15))], ev_dir, "B1")
    state = {"upto": 2}   # dim initially knows bronze->silver only

    stream = EnrichStream(
        spark, ev_dir, tmp_path / "out", tmp_path / "ckpt",
        dim_loader=lambda: _dim(spark, state["upto"]),
        key_cols=["user_id"], event_ts="ts", attrs=["tier"])
    stream.run_available()

    # dimension gains the gold version; a later event lands
    state["upto"] = 3
    _land(spark, [(2, 1, dt.datetime(2024, 7, 1))], ev_dir, "B2")
    stream.run_available()

    got = {r["event_id"]: r["tier"] for r in
           spark.read.parquet(str(tmp_path / "out")).collect()}
    assert got == {1: "bronze", 2: "gold"}


def test_enrich_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a crash between the parquet write and
    the checkpoint commit re-delivers the batch. The batch_id-keyed overwrite
    sink must make the replay a rewrite, not a duplicate append."""
    stream = EnrichStream(
        spark, "/dev/null", tmp_path / "out", tmp_path / "ckpt",
        dim_loader=lambda: _dim(spark, 4),
        key_cols=["user_id"], event_ts="ts", attrs=["tier"],
        schema="event_id int, user_id int, ts timestamp")
    batch = spark.createDataFrame(
        [(1, 1, dt.datetime(2024, 2, 15)), (2, 1, dt.datetime(2024, 7, 1))],
        "event_id int, user_id int, ts timestamp")
    stream._enrich_batch(batch, 0)
    stream._enrich_batch(batch, 0)   # replay of the SAME batch
    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    assert len(rows) == 2            # not 4: replay overwrote, not appended
    assert {r["stream_batch_id"] for r in rows} == {0}


def test_legacy_flat_out_dir_fails_loudly(spark, tmp_path):
    """A pre-partition-dir sink left flat parquet in out_dir; mixing it
    with stream_batch_id= dirs makes the directory unreadable — refuse
    at construction with a migration hint."""
    import pytest as _pytest

    events = tmp_path / "events"
    spark.createDataFrame([(1, 1.0)], "k int, ts double").write.parquet(
        str(events))
    out = tmp_path / "out"
    out.mkdir()
    (out / "part-legacy.parquet").write_bytes(b"PAR1")
    with _pytest.raises(ValueError, match="legacy append sink"):
        EnrichStream(
            spark, events, out, tmp_path / "ckpt",
            dim_loader=lambda: None, key_cols=["k"], event_ts="ts",
            attrs=[])


def test_enrich_drain_starts_no_streaming_query(
        spark, tmp_path, no_streaming_query):
    ev_dir = tmp_path / "events"
    _land(spark, [(1, 1, dt.datetime(2024, 2, 15)),
                  (2, 2, dt.datetime(2024, 1, 5))], ev_dir, "B1")
    stream = EnrichStream(
        spark, ev_dir, tmp_path / "out", tmp_path / "ckpt",
        dim_loader=lambda: _dim(spark, 4),
        key_cols=["user_id"], event_ts="ts", attrs=["tier"])
    stream.run_available()
    assert spark.streams.active == []
    got = {(r["event_id"], r["tier"], r["stream_batch_id"]) for r in
           spark.read.parquet(str(tmp_path / "out")).collect()}
    assert got == {(1, "bronze", 0), (2, None, 0)}
