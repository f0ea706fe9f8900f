"""Streaming corpus ingestion with arrival-time dedup.

The training-data analog of ``CdcStream``: documents land continuously in
a directory; each ``run_available()`` drains the new files in batches
(``sources.batch.drain_batches``), each batch is deduplicated against the
already-ingested corpus (``operators.dedup.incremental_exact`` —
normalized-content-hash anti-join) and only genuinely new documents
append to the ``NativeTable``. Re-crawls and re-delivered files add zero
rows, so the corpus stays exact-dedup-clean without ever rewriting
history.

Exactly-once composes the same way as the CDC stream: the drain is
at-least-once, so the batch id is written inside the data commit's
stats — atomic with the manifest publish — and a replayed batch is
detected and skipped rather than re-appended.

Scale: the dedup side carries one DISTINCT md5 projection of the corpus
(narrow column, never the text bytes) per batch; the append is a
plain bulk write of the surviving rows. Nothing in the loop grows with
corpus size except that hash projection, which is the theoretical floor
for exact dedup.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from glue_hudi_spark.operators import dedup
from glue_hudi_spark.sources.batch import drain_batches
from glue_hudi_spark.storage.native import NativeTable


class CorpusIngestStream:
    """Drain the docs dir in batches; each batch incremental dedup +
    append."""

    def __init__(
        self,
        spark: SparkSession,
        docs_dir: str | Path,
        table_path: str | Path,
        checkpoint_dir: str | Path,
        id_col: str = "doc_id",
        text_col: str = "text",
        schema: T.StructType | None = None,
        max_files_per_trigger: int | None = None,
        min_quality: float | None = None,
        pipeline=None,
        use_index: bool = False,
        near_dup_threshold: float = 0.5,
        bloom_max_buckets: int = 0,
    ):
        self.spark = spark
        self.docs_dir = str(docs_dir)
        self.checkpoint_dir = str(checkpoint_dir)
        self.id_col = id_col
        self.text_col = text_col
        # optional curation-at-the-edge: drop low-quality docs inside the
        # batch (map-side expressions) BEFORE the dedup join, so
        # rejected docs never cost a corpus-hash comparison or a write
        self.min_quality = min_quality
        # full curation at the edge: a CurationPipeline whose stages run
        # over each batch's FRESH slice (after the corpus dedup
        # anti-join) — the config-driven batch pipeline, applied
        # continuously. Per-batch stages must be batch-local by nature
        # (filters/dedup); a corpus-relative stage like token_budget
        # belongs in a periodic batch re-curation, not here.
        self.pipeline = pipeline
        # use_index: dedup each batch against the PERSISTED fingerprint
        # store (operators.dedup_index) instead of re-hashing the corpus
        # text per batch — the 100-TB ingest shape: probes join hashes
        # only, and the batch is ALSO checked for verified near-dups
        # (band collision + Jaccard ≥ near_dup_threshold), which the
        # hash-only path can't see. The index refreshes after each
        # commit; a crash between commit and refresh self-heals (the
        # next batch's refresh is change-feed-driven and idempotent).
        self.use_index = use_index
        self.near_dup_threshold = near_dup_threshold
        # opt-in corpus-side Bloom bucket pre-filter for the non-index
        # dedup path (dedup.incremental_exact(bloom_max_buckets=));
        # irrelevant when use_index (the store probe is already pruned)
        self.bloom_max_buckets = bloom_max_buckets
        self.schema = schema or self.spark.read.parquet(self.docs_dir).schema
        self.max_files_per_trigger = max_files_per_trigger
        self.table = NativeTable(
            spark, table_path, record_keys=[id_col], precombine=None
        )

    def _ingest_batch(self, batch_df, batch_id: int) -> None:
        last = self.table.last_stream_batch_id()
        if last is not None and batch_id <= last:
            return  # replayed batch (crash between commit and done mark)
        if batch_df.isEmpty():
            return
        if self.min_quality is not None:
            from glue_hudi_spark.functions import text as TX

            batch_df = batch_df.filter(
                TX.quality_score(self.text_col) >= F.lit(self.min_quality))
            if batch_df.isEmpty():
                return
        marker = {"stream_batch_id": int(batch_id)}
        ix = None
        if self.use_index:
            from glue_hudi_spark.operators.dedup_index import DedupIndex

            ix = DedupIndex(self.table, id_col=self.id_col,
                            text_col=self.text_col)
        if self.table.exists() and ix is not None and ix.exists():
            ix.refresh()  # no-op when current; heals a post-commit crash
            fresh = ix.probe(batch_df,
                             verify_threshold=self.near_dup_threshold)
        elif self.table.exists():
            fresh = dedup.incremental_exact(
                batch_df,
                self.table.read_snapshot().select(self.text_col),
                id_col=self.id_col,
                text_col=self.text_col,
                bloom_max_buckets=self.bloom_max_buckets,
            )
        else:
            # first batch: in-batch dedup only (empty corpus)
            keep = dedup.exact_dedup(
                batch_df, id_col=self.id_col, text_col=self.text_col
            ).select(F.col("keep_id").alias(self.id_col))
            fresh = batch_df.join(keep, self.id_col, "left_semi")
        if self.pipeline is not None:
            counts: list = []
            fresh = self.pipeline.run(fresh, counts=counts)
            marker["curation_stages"] = dict(counts)
        # an all-duplicates (or all-curated-away) batch commits nothing
        # and carries no marker — safe: its replay re-runs to empty, a
        # natural no-op
        if fresh.isEmpty():
            return
        self.table.bulk_insert(fresh, extra_stats=marker)
        if ix is not None:
            if ix.exists():
                ix.refresh()
            else:
                ix.build()

    def run_available(self) -> None:
        drain_batches(self.spark, self.docs_dir, self.checkpoint_dir,
                      self.schema, self._ingest_batch,
                      self.max_files_per_trigger)
