"""Structured Streaming CDC: availableNow backlog processing must converge
to the same snapshot as the batch pipeline (golden scenario)."""

from __future__ import annotations

import json
from decimal import Decimal
from pathlib import Path

import pytest

from glue_hudi_spark.config import JobControl
from glue_hudi_spark.streaming import CdcStream
from tests.fixtures_cdc import CDC_SCHEMA, CONTROL, make_cdc_df, make_full_load_df


def _land(df, raw_dir: Path, name: str):
    staging = str(raw_dir) + "__stage__" + name
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    raw_dir.mkdir(parents=True, exist_ok=True)
    for i, p in enumerate(Path(staging).glob("*.parquet")):
        p.rename(raw_dir / f"{name}_{i}.parquet")


def test_stream_backlog_merge(spark, tmp_path):
    ctl = JobControl(**CONTROL)
    raw = tmp_path / "raw" / ctl.db_name / ctl.schema_name / ctl.table_name

    # land the full load *in CDC envelope shape* (streams need one schema):
    # full-load rows become 'I' ops with low transaction_ids
    full = make_full_load_df(spark)
    full_cdc = spark.createDataFrame(
        [(*r, "I", f"{i:035d}") for i, r in enumerate(full.collect())], CDC_SCHEMA
    )
    _land(full_cdc, raw, "LOAD1")

    stream = CdcStream(
        spark, ctl, raw, tmp_path / "curated", tmp_path / "ckpt",
        schema=full_cdc.schema,
    )
    stream.run_available()
    assert stream.table.read_snapshot().count() == 100

    # land the CDC batch; a second availableNow run picks up only new files
    _land(make_cdc_df(spark), raw, "CDC1")
    stream.run_available()

    rows = {r["measurement_id"]: r for r in stream.table.read_snapshot().collect()}
    assert len(rows) == 190
    for i in range(10):
        assert rows[f"MeasurementID-{100 + i}"]["measurement_value"] == Decimal("100.00")
        assert f"MeasurementID-{200 + i}" not in rows


def test_stream_replayed_batch_is_skipped_exactly_once(spark, tmp_path):
    """foreachBatch is at-least-once: simulate the crash-between-merge-and-
    checkpoint window by re-invoking _merge_batch with an already-applied
    batch id — the marker inside the commit stats must make it a no-op
    (no new commit, no duplicate rows)."""
    ctl = JobControl(**CONTROL)
    raw = tmp_path / "raw" / ctl.db_name / ctl.schema_name / ctl.table_name
    full = make_full_load_df(spark)
    full_cdc = spark.createDataFrame(
        [(*r, "I", f"{i:035d}") for i, r in enumerate(full.collect())], CDC_SCHEMA
    )
    _land(full_cdc, raw, "LOAD1")
    stream = CdcStream(
        spark, ctl, raw, tmp_path / "curated", tmp_path / "ckpt",
        schema=full_cdc.schema,
    )
    stream.run_available()
    assert stream.table.last_stream_batch_id() == 0
    n_commits = len(stream.table.timeline.history())
    assert stream.table.read_snapshot().count() == 100

    # replay the SAME batch id (bulk_insert replay would duplicate rows)
    replay = spark.read.parquet(str(raw))
    stream._merge_batch(replay, 0)
    assert len(stream.table.timeline.history()) == n_commits
    assert stream.table.read_snapshot().count() == 100

    # a NEW batch id still applies
    stream._merge_batch(make_cdc_df(spark), 1)
    assert stream.table.read_snapshot().count() == 190
    assert stream.table.last_stream_batch_id() == 1


def test_stream_drain_starts_no_streaming_query(
        spark, tmp_path, no_streaming_query):
    ctl = JobControl(**CONTROL)
    raw = tmp_path / "raw"
    _land(make_full_load_df(spark), raw, "LOAD1")
    stream = CdcStream(spark, ctl, raw, tmp_path / "curated",
                       tmp_path / "ckpt")
    stream.run_available()
    assert spark.streams.active == []
    assert stream.table.read_snapshot().count() == 100
    assert stream.table.last_stream_batch_id() == 0


def test_max_files_per_trigger_cuts_rising_batch_ids(spark, tmp_path):
    """n=5 files at k=2 per batch drain as ceil(5/2)=3 batches, ids
    0, 1, 2, one merge commit each; a later drain continues at id 3."""
    ctl = JobControl(**CONTROL)
    raw = tmp_path / "raw"
    full = make_full_load_df(spark)
    rows = full.collect()
    for i in range(5):
        _land(spark.createDataFrame(rows[20 * i:20 * (i + 1)], full.schema),
              raw, f"F{i}")
    stream = CdcStream(spark, ctl, raw, tmp_path / "curated",
                       tmp_path / "ckpt", max_files_per_trigger=2)
    stream.run_available()
    assert [c.stats["stream_batch_id"]
            for c in stream.table.timeline.history()] == [0, 1, 2]
    assert stream.table.read_snapshot().count() == 100
    log = json.loads((tmp_path / "ckpt" / "batch_log.json").read_text())
    assert log["open"] is None and log["next_id"] == 3
    assert len(log["done"]) == 5

    stream.run_available()   # nothing new: no batch, no commit
    assert len(stream.table.timeline.history()) == 3
    _land(spark.createDataFrame(rows[:1], full.schema), raw, "G0")
    stream.run_available()
    assert stream.table.last_stream_batch_id() == 3


def test_legacy_streaming_checkpoint_raises(spark, tmp_path):
    """A checkpoint dir left by a Structured Streaming query (offsets/,
    no batch log) does not say which files it covered: refuse it."""
    ckpt = tmp_path / "ckpt"
    (ckpt / "offsets").mkdir(parents=True)
    stream = CdcStream(spark, JobControl(**CONTROL), tmp_path / "raw",
                       tmp_path / "curated", ckpt, schema=CDC_SCHEMA)
    with pytest.raises(ValueError, match=str(ckpt)):
        stream.run_available()
    assert not stream.table.exists()
