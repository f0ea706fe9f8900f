"""Streaming sketch log: per-batch deltas, merge-on-read estimates,
replay idempotence, equivalence with the one-shot batch sketch."""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import Row, functions as F

from glue_hudi_spark.functions import sketches as SK
from glue_hudi_spark.streaming import SketchStream


def _land(spark, rows, events_dir: Path, name: str):
    df = spark.createDataFrame([Row(**r) for r in rows])
    stage = str(events_dir) + "__stage__" + name
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    events_dir.mkdir(parents=True, exist_ok=True)
    for i, p in enumerate(Path(stage).glob("*.parquet")):
        p.rename(events_dir / f"{name}_{i}.parquet")


def test_streamed_sketch_equals_batch_sketch(spark, tmp_path):
    """Two micro-batches merged on read must equal the sketch built over
    all rows at once — the mergeability law, end-to-end through the
    stream + table."""
    ev = tmp_path / "events"
    b1 = [dict(user_id=i % 40) for i in range(300)]
    b2 = [dict(user_id=(i % 25) + 30) for i in range(200)]
    _land(spark, b1, ev, "B1")

    stream = SketchStream(spark, ev, tmp_path / "sketches", tmp_path / "ckpt")
    stream.run_available()
    _land(spark, b2, ev, "B2")
    stream.run_available()
    assert len(stream.table.timeline.history()) == 2

    whole = spark.createDataFrame([Row(**r) for r in b1 + b2])
    batch_est = SK.hll_estimate(SK.hll_sketch(whole, "user_id")) \
        .collect()[0]["hll_estimate"]
    assert stream.distinct_estimate() == batch_est

    exact = {r["user_id"]: r["n"] for r in whole.groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("n")).collect()}
    ests = stream.cms_estimates([0, 30, 54])
    for k in [0, 30, 54]:
        assert ests[str(k)] >= exact[k]


def test_replayed_batch_is_skipped(spark, tmp_path):
    ev = tmp_path / "events"
    _land(spark, [dict(user_id=i) for i in range(50)], ev, "B1")
    stream = SketchStream(spark, ev, tmp_path / "sketches", tmp_path / "ckpt")
    stream.run_available()
    n = len(stream.table.timeline.history())
    est = stream.distinct_estimate()

    replay = spark.createDataFrame([Row(user_id=999)])
    stream._ingest_batch(replay, 0)  # batch id 0 already applied
    assert len(stream.table.timeline.history()) == n
    assert stream.distinct_estimate() == est


def test_state_grows_with_batches_not_rows(spark, tmp_path):
    """The sketch log is bounded by registers+counters per batch — a big
    batch adds no more state rows than a small one."""
    ev = tmp_path / "events"
    _land(spark, [dict(user_id=i) for i in range(2000)], ev, "BIG")
    stream = SketchStream(spark, ev, tmp_path / "sketches", tmp_path / "ckpt")
    stream.run_available()
    n_state = stream.table.read_snapshot().count()
    assert n_state <= SK.HLL_M + SK.CMS_D * SK.CMS_W


def test_sketch_drain_starts_no_streaming_query(
        spark, tmp_path, no_streaming_query):
    ev = tmp_path / "events"
    _land(spark, [dict(user_id=i) for i in range(20)], ev, "B1")
    stream = SketchStream(spark, ev, tmp_path / "sketches", tmp_path / "ckpt")
    stream.run_available()
    assert spark.streams.active == []
    assert stream.table.last_stream_batch_id() == 0


def test_batch_failed_after_commit_replays_same_id_and_files(spark, tmp_path):
    """A handler that fails after its sink commit leaves the batch open
    in the log; the next drain replays it with the same id and files
    (skipped by the in-commit batch id), and a file landed after the
    failure goes into the next id. No delta is counted twice."""
    ev = tmp_path / "events"
    b1 = [dict(user_id=i % 30) for i in range(120)]
    b2 = [dict(user_id=(i % 20) + 25) for i in range(80)]
    _land(spark, b1, ev, "B1")
    stream = SketchStream(spark, ev, tmp_path / "sketches", tmp_path / "ckpt")
    seen = []
    ingest = stream._ingest_batch

    def record(df, batch_id):
        seen.append((batch_id, sorted(Path(f).name for f in df.inputFiles())))
        ingest(df, batch_id)

    stream._ingest_batch = record
    commit = stream.table.bulk_insert

    def commit_then_fail(*a, **kw):
        commit(*a, **kw)
        raise RuntimeError("crash after the sink commit")

    stream.table.bulk_insert = commit_then_fail
    with pytest.raises(RuntimeError, match="after the sink commit"):
        stream.run_available()
    del stream.table.bulk_insert
    log_path = tmp_path / "ckpt" / "batch_log.json"
    log = json.loads(log_path.read_text())
    assert log["open"]["id"] == 0 and log["done"] == []
    assert stream.table.last_stream_batch_id() == 0

    _land(spark, b2, ev, "B2")
    stream.run_available()
    assert seen == [(0, ["B1_0.parquet"]), (0, ["B1_0.parquet"]),
                    (1, ["B2_0.parquet"])]
    assert [c.stats["stream_batch_id"]
            for c in stream.table.timeline.history()] == [0, 1]
    log = json.loads(log_path.read_text())
    assert log["open"] is None and log["next_id"] == 2

    whole = spark.createDataFrame([Row(**r) for r in b1 + b2])
    assert stream.distinct_estimate() == SK.hll_estimate(
        SK.hll_sketch(whole, "user_id")).collect()[0]["hll_estimate"]
    # every event adds 1 to one counter per CMS row: a replayed delta
    # would double the total
    cms_total = stream._merged("cms").agg(F.sum("v")).first()[0]
    assert cms_total == SK.CMS_D * (len(b1) + len(b2))
