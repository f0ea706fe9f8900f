"""Always-on CDC ingestion: a batch-log drain of the landing dir, each batch
merged — the continuous twin of the reference's micro-batch job (SURVEY
§2.5: the reference has no streaming; its bookmark semantics map to the
batch log of ``sources.batch.drain_batches``, and each batch goes through
exactly the same dedup → route → merge path as ``CdcPipeline``). A
continuous run is ``run_available()`` on the caller's schedule, as the
reference's Glue trigger runs its job.

Late data: the reference's contract is "every batch fully merged regardless
of event time — late rows lose at merge time via transaction_id ordering"
(SURVEY §2.5). That is preserved here: no watermark drops rows; ordering is
enforced per-key by W1 dedup within a batch and by the upsert key-replace
across batches. The optional ``max_files_per_trigger`` bounds batch size so
merge cost stays flat as the landing dir grows.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from glue_hudi_spark.config import JobControl
from glue_hudi_spark.operators import cdc
from glue_hudi_spark.sources.batch import drain_batches
from glue_hudi_spark.storage.native import NativeTable


class CdcStream:
    """Drain the raw dir in batches; each batch dedup + merge into a
    NativeTable."""

    def __init__(
        self,
        spark: SparkSession,
        ctl: JobControl,
        raw_dir: str | Path,
        curated_root: str | Path,
        checkpoint_dir: str | Path,
        schema: T.StructType | None = None,
        max_files_per_trigger: int | None = None,
        single_commit: bool = True,
        on_batch_merged=None,
    ):
        self.spark = spark
        self.ctl = ctl
        self.raw_dir = str(raw_dir)
        self.curated_root = curated_root
        self.checkpoint_dir = str(checkpoint_dir)
        self.schema = schema or self._infer_schema()
        self.max_files_per_trigger = max_files_per_trigger
        self.single_commit = single_commit
        # called as on_batch_merged(table, batch_id) AFTER each batch's
        # data commit publishes and BEFORE the batch is marked done in
        # the batch log — the hook downstream maintenance (e.g.
        # MaterializedAgg.refresh) attaches to; it must be idempotent,
        # since a crash between the commit and the mark replays the batch
        self.on_batch_merged = on_batch_merged
        self.table = NativeTable.for_control(spark, curated_root, ctl)

    def _infer_schema(self) -> T.StructType:
        # every batch reads with one schema; infer it once from the
        # current contents (same inference the batch path does implicitly)
        return self.spark.read.parquet(self.raw_dir).schema

    def _merge_batch(self, batch_df, batch_id: int) -> None:
        # exactly-once: the drain is at-least-once (a crash between the
        # merge and marking the batch done replays the batch).
        # The batch id is written INSIDE the data commit's stats — atomic
        # with the publish — so a replayed batch is detected here and
        # skipped instead of double-applied (bulk_insert replay would
        # duplicate rows; merge replay would emit spurious change events
        # to incremental readers).
        last = self.table.last_stream_batch_id()
        if last is not None and batch_id <= last:
            return
        if batch_df.isEmpty():
            return
        marker = {"stream_batch_id": int(batch_id)}
        b = cdc.lowercase_columns(batch_df)
        if not self.table.exists():
            # first batch bootstraps the table; CDC envelope (if present)
            # routes through the normal path right away
            if cdc.OP_COL not in b.columns:
                self.table.bulk_insert(
                    cdc.drop_envelope(b), self.ctl.bulkinsert_parallelism,
                    extra_stats=marker,
                )
                if self.on_batch_merged:
                    self.on_batch_merged(self.table, batch_id)
                return
        if cdc.OP_COL in b.columns:
            deduped = cdc.dedup_latest_by_key(b, self.ctl.primary_keys)
            cdc.apply_cdc_batch(
                self.table,
                deduped,
                split_upsert=self.ctl.split_upsert,
                upsert_parallelism=self.ctl.upsert_parallelism,
                bulkinsert_parallelism=self.ctl.bulkinsert_parallelism,
                single_commit=self.single_commit,
                extra_stats=marker,
            )
        else:  # full-load shaped files keep arriving → keyed upsert
            self.table.upsert(
                cdc.drop_envelope(b), self.ctl.upsert_parallelism,
                extra_stats=marker,
            )
        if self.on_batch_merged:
            self.on_batch_merged(self.table, batch_id)

    def run_available(self) -> None:
        """Process everything currently in the landing dir, then return."""
        drain_batches(self.spark, self.raw_dir, self.checkpoint_dir,
                      self.schema, self._merge_batch,
                      self.max_files_per_trigger)
