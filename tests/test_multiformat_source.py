"""Multi-format raw landing: CSV and JSON-lines files flow through the
same bookmarked-ledger contract and the full CDC pipeline."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from glue_hudi_spark.config import JobControl
from glue_hudi_spark.pipeline import CdcPipeline
from glue_hudi_spark.sources.batch import BookmarkedScan
from tests.fixtures_cdc import CONTROL, full_load_rows


def _write_csv(dirpath: Path, name: str, rows):
    dirpath.mkdir(parents=True, exist_ok=True)
    lines = ["measurement_id,measurement_date_time,measurement_value,"
             "measurement_date"]
    for mid, ts, val, d in rows:
        lines.append(f"{mid},{ts.isoformat(sep=' ')},{val},{d.isoformat()}")
    (dirpath / name).write_text("\n".join(lines))


def _write_jsonl(dirpath: Path, name: str, rows):
    dirpath.mkdir(parents=True, exist_ok=True)
    out = []
    for mid, ts, val, d in rows:
        out.append(json.dumps({
            "measurement_id": mid,
            "measurement_date_time": ts.isoformat(sep=" "),
            "measurement_value": float(val),
            "measurement_date": d.isoformat(),
        }))
    (dirpath / name).write_text("\n".join(out))


def test_csv_scan_bookmarks_like_parquet(spark, tmp_path):
    raw = tmp_path / "raw"
    _write_csv(raw, "batch1.csv", full_load_rows()[:10])
    scan = BookmarkedScan(spark, raw, fmt="csv")
    df = scan.read_batch()
    assert df.count() == 10
    assert "measurement_id" in df.columns
    scan.commit()
    assert scan.read_batch() is None  # ledger advanced
    _write_csv(raw, "batch2.csv", full_load_rows()[10:15])
    assert scan.read_batch().count() == 5


def test_json_pipeline_end_to_end(spark, tmp_path):
    ctl = JobControl(**{**CONTROL, "raw_format": "json",
                        "partition_key": ""})
    raw = tmp_path / "raw" / ctl.db_name / ctl.schema_name / ctl.table_name
    _write_jsonl(raw, "load1.jsonl", full_load_rows())
    pipe = CdcPipeline(spark, tmp_path / "raw", tmp_path / "curated",
                       sync_catalog=False)
    res = pipe.process_table(ctl)
    assert res.mode == "initial"
    assert pipe._table(ctl).read_snapshot().count() == 100
    # idempotent: nothing new → noop
    assert pipe.process_table(ctl).mode == "noop"


def test_unknown_format_rejected(spark, tmp_path):
    with pytest.raises(ValueError):
        BookmarkedScan(spark, tmp_path, fmt="avro")


def test_orc_scan_bookmarks_like_parquet(spark, tmp_path):
    raw = tmp_path / "raw"
    raw.mkdir()
    rows = [(i, f"u{i}", float(i)) for i in range(10)]
    df = spark.createDataFrame(rows, "id int, name string, v double")
    df.coalesce(1).write.orc(str(tmp_path / "_orc1"))
    orc_part = next((tmp_path / "_orc1").glob("*.orc"))
    (raw / "batch1.orc").write_bytes(orc_part.read_bytes())

    scan = BookmarkedScan(spark, raw, fmt="orc")
    first = scan.read_batch()
    assert first.count() == 10
    scan.commit()
    assert scan.read_batch() is None  # ledger advanced


def test_listing_skips_underscore_and_dot_paths_under_root(spark, tmp_path):
    """As in Spark's file index, a path component under the raw dir that
    starts with ``_`` or ``.`` hides the file: a writer's in-flight
    ``_temporary/`` attempt files and hidden staging are never listed.
    The raw dir's own name may start with either."""
    raw = tmp_path / "_raw"
    for rel in ["a.parquet", "sub/b.parquet", "_temporary/0/part-0.parquet",
                ".hidden/b.parquet", "sub/_c.parquet", "sub/.d.parquet"]:
        (raw / rel).parent.mkdir(parents=True, exist_ok=True)
        (raw / rel).write_bytes(b"PAR1")
    scan = BookmarkedScan(spark, raw)
    assert [Path(f).relative_to(raw).as_posix()
            for f in scan.list_unprocessed()] == ["a.parquet", "sub/b.parquet"]
