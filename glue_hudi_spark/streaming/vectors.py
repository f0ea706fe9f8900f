"""Streaming embedding ingestion with continuous ANN-index maintenance.

The retrieval-side twin of ``CorpusIngestStream(use_index=True)``:
embedding rows land continuously (an upstream encoder writes parquet);
each ``run_available()`` drains the new files in batches
(``sources.batch.drain_batches``), and each batch upserts into the
vector NativeTable and catches the persisted IVF index
(``operators.vector_index``) up off the table's change feed — so queries
against the index are never stale by more than one in-flight batch, and
a retrieval service can keep ``allow_stale`` off permanently.

Per-batch cost: one keyed merge (partition/key-range/bloom pruned) plus
an index refresh that rewrites only the cells the batch's vectors moved
in or out of — both O(batch), never O(corpus). Crash safety composes
from parts that already have it: the upsert is idempotent per key, the
batch id rides in the commit stats (replays are detected and skipped),
and the refresh is change-feed-driven — a crash between commit and
refresh self-heals on the next batch's refresh call.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from glue_hudi_spark.operators.vector_index import VectorIndex
from glue_hudi_spark.sources.batch import drain_batches
from glue_hudi_spark.storage.native import NativeTable


class EmbeddingIngestStream:
    """Drain the embeddings dir in batches; each batch upsert + index
    refresh."""

    def __init__(
        self,
        spark: SparkSession,
        vectors_dir: str | Path,
        table_path: str | Path,
        checkpoint_dir: str | Path,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_centroids: int = 8,
        train_iters: int = 0,
        schema: T.StructType | None = None,
    ):
        self.spark = spark
        self.vectors_dir = str(vectors_dir)
        self.checkpoint_dir = str(checkpoint_dir)
        self.id_col = id_col
        self.vec_col = vec_col
        self.n_centroids = n_centroids
        self.train_iters = train_iters
        self.schema = schema or self.spark.read.parquet(
            self.vectors_dir).schema
        self.table = NativeTable(
            spark, table_path, record_keys=[id_col], precombine=None)
        self.index = VectorIndex(self.table, vec_col=vec_col)

    def _ingest_batch(self, batch_df, batch_id: int) -> None:
        last = self.table.last_stream_batch_id()
        if last is not None and batch_id <= last:
            return  # replayed batch
        if batch_df.isEmpty():
            return
        self.table.upsert(
            batch_df, extra_stats={"stream_batch_id": int(batch_id)})
        if self.index.exists():
            self.index.refresh()
        else:
            # first batch trains the centroids (refresh never retrains —
            # rebuild explicitly when drift degrades cell balance)
            self.index.build(id_col=self.id_col,
                             n_centroids=self.n_centroids,
                             train_iters=self.train_iters)

    def run_available(self) -> None:
        drain_batches(self.spark, self.vectors_dir, self.checkpoint_dir,
                      self.schema, self._ingest_batch)
