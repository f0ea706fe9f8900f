"""Per-table CDC ingestion pipeline — the reference's ``process_raw_data``
loop (processData.py:272-402) rebuilt Spark-first.

Run shape (entry point A/B in SURVEY §3):

1. fetch control records (``ControlStore`` — replaces DynamoDB);
2. per table: bookmarked scan of the raw dir (only files no successful run
   has consumed);
3. lowercase column names (P1);
4. initial load (table absent) → bulk_insert the batch as-is
   (processData.py:311-313,337-342);
5. incremental → W1 window-dedup by key on ``transaction_id`` desc, then op
   routing: I/U upserts then D deletes (with optional split-upsert and
   single-commit modes);
6. commit the bookmark ledger only after the write(s) succeed;
7. register the snapshot in the session catalog (hive-sync parity).

The reference's per-batch ``persist``/``unpersist`` (C5,
processData.py:301,388) lives inside ``apply_cdc_batch``: a deduped batch
whose estimated size fits ``storage.native.local_batch``'s cap is derived
once and held on the driver instead, and only a larger one is persisted
on the executors. The logging
``count()`` (processData.py:303) is intentionally not reproduced — it costs
a full extra job (SURVEY §4 known inefficiency).
"""

from __future__ import annotations

import shutil
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import SparkSession

from glue_hudi_spark.config import ControlStore, JobControl
from glue_hudi_spark.operators import cdc
from glue_hudi_spark.sources.batch import BookmarkedScan
from glue_hudi_spark.storage.native import NativeTable


@dataclass
class RunResult:
    table_name: str
    mode: str  # 'initial' | 'incremental' | 'noop'
    commits: list


class CdcPipeline:
    """Drives CDC ingestion for every table a control store manages."""

    def __init__(self, spark: SparkSession, raw_root: str | Path,
                 curated_root: str | Path, single_commit: bool = False,
                 sync_catalog: bool = True):
        self.spark = spark
        self.raw_root = Path(raw_root)
        self.curated_root = Path(curated_root)
        self.single_commit = single_commit
        # sync_catalog=False skips the durable external table (and its
        # snapshot export) — session temp views only. Use on storage where
        # links don't exist (object stores) and a per-commit export would
        # copy data bytes.
        self.sync_catalog = sync_catalog

    def _raw_dir(self, ctl: JobControl) -> Path:
        return self.raw_root / ctl.db_name / ctl.schema_name / ctl.table_name

    def _raw_dirs(self, ctl: JobControl) -> list[Path]:
        """Both case spellings of the landing dir — DMS may land files under
        ``MSRMT_TABLE/`` while the control record says ``msrmt_table``
        (processData.py:286-289 probes both)."""
        return BookmarkedScan.candidate_dirs(
            self.raw_root, ctl.db_name, ctl.schema_name, ctl.table_name
        )

    def _table(self, ctl: JobControl) -> NativeTable:
        return NativeTable.for_control(self.spark, self.curated_root, ctl)

    def _scan(self, ctl: JobControl) -> BookmarkedScan:
        table_dir = Path(self._table(ctl).root)
        table_dir.mkdir(parents=True, exist_ok=True)
        return BookmarkedScan(
            self.spark,
            self._raw_dirs(ctl),
            ledger_path=table_dir / "_processed_files.json",
            fmt=getattr(ctl, "raw_format", "parquet") or "parquet",
        )

    def process_table(self, ctl: JobControl) -> RunResult:
        table = self._table(ctl)
        scan = self._scan(ctl)
        batch = scan.read_batch()
        if batch is None:
            return RunResult(ctl.table_name, "noop", [])
        batch = cdc.lowercase_columns(batch)
        self._quality_gate(ctl, batch)

        if not table.exists():
            # initial load: no dedup, envelope dropped, bulk_insert
            out = cdc.drop_envelope(batch)
            commit = table.bulk_insert(out, parallelism=ctl.bulkinsert_parallelism)
            scan.commit()
            self._sync_catalog(ctl, table)
            return RunResult(ctl.table_name, "initial", [commit] if commit else [])

        deduped = cdc.dedup_latest_by_key(
            batch, ctl.primary_keys, order_col=cdc.ORDER_COL
        )
        commits = cdc.apply_cdc_batch(
            table,
            deduped,
            split_upsert=ctl.split_upsert,
            upsert_parallelism=ctl.upsert_parallelism,
            bulkinsert_parallelism=ctl.bulkinsert_parallelism,
            single_commit=self.single_commit,
        )
        scan.commit()
        self._sync_catalog(ctl, table)
        return RunResult(ctl.table_name, "incremental", commits)

    def _quality_gate(self, ctl: JobControl, batch) -> None:
        """Config-driven expectations over the RAW batch (one aggregate
        pass — see operators.expectations). Violations raise BEFORE any
        write and BEFORE the bookmark advances, so the offending files
        simply retry once fixed — a quarantine without extra state."""
        if not ctl.quality_gate:
            return
        from glue_hudi_spark.operators import expectations as EX

        rules = EX.parse_rules(ctl.quality_gate)
        report = [
            (r["rule"], r["violations"], r["total"])
            for r in EX.check_expectations(batch, rules).collect()
        ]
        if any(v for _, v, _ in report):
            raise EX.QualityGateError(ctl.table_name, report)

    def _sync_catalog(self, ctl: JobControl, table: NativeTable) -> None:
        """Hive-sync parity (processData.py:160-169): session temp views
        plus a durable external table over the exported snapshot — see
        ``glue_hudi_spark.catalog.register_snapshot``. With a persistent
        metastore (``get_spark(..., hive_metastore_dir=...)``) the
        ``dl_<db>_<schema>.<table>`` name survives the session."""
        from glue_hudi_spark import catalog

        catalog.register_snapshot(
            self.spark, ctl, table, durable=self.sync_catalog
        )

    def run(self, store: ControlStore, glue_job_name: str | None = None,
            parallel: int = 1) -> list[RunResult]:
        """The main() loop (processData.py:393-402).

        ``parallel > 1`` processes that many tables concurrently from a
        thread pool. Safe because tables are independent (separate roots,
        separate bookmark ledgers, per-table OCC on publish) and Spark's
        scheduler interleaves concurrent jobs across the executor pool —
        the win is wall-clock on many-small-table deployments, where a
        sequential loop leaves the cluster idle between jobs. Results
        come back in control-store order regardless of completion order.
        A sequential run (the reference's behavior, parallel=1) stays the
        default.
        """
        records = store.load(glue_job_name)
        if parallel <= 1 or len(records) <= 1:
            return [self.process_table(ctl) for ctl in records]
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=parallel) as pool:
            return list(pool.map(self.process_table, records))

    def reset_table(self, ctl: JobControl) -> None:
        """Replay support (resetForInitialLoad.sh:1-14): drop curated data
        and bookmark state so the next run is an initial load again."""
        table_dir = self._table(ctl).root
        if Path(table_dir).exists():
            shutil.rmtree(table_dir)
