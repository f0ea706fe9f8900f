"""Streaming sketch maintenance: a mergeable sketch LOG over drained batches.

Continuous "how many distinct users / how hot is key X" without ever
holding the key space: each ``run_available()`` drains the new event
files in batches (``sources.batch.drain_batches``), and each batch
reduces to its own tiny sketch delta (HLL registers + Count-Min
counters, `functions.sketches`) and APPENDS it to a NativeTable — the
lakehouse version of a mergeable sketch store. Reads merge on the fly
(HLL: max rho per register; CMS: sum per counter), which is exactly the
sketches' algebra, so the log needs no rewrite path: compaction is just
the table's normal clustering.

Exactly-once composes like every drained sink here: the batch id rides
inside the commit's stats — atomic with the manifest publish — and a
batch the drain replays after a crash is detected and skipped. Sketch
deltas are a few hundred rows per batch whatever the batch size, so the
state table grows with BATCH COUNT, not data volume; `read-side merge
cost` is one narrow aggregate over (batches × registers) rows.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from glue_hudi_spark.functions import sketches as SK
from glue_hudi_spark.sources.batch import drain_batches
from glue_hudi_spark.storage.native import NativeTable

_STATE_SCHEMA = "kind string, a bigint, b bigint, v bigint"


class SketchStream:
    """Drain the events dir in batches; each batch's HLL + CMS deltas
    append to one state table. Rows: (kind, a, b, v) =
    ('hll', idx, 0, rho) | ('cms', row, bucket, cnt)."""

    def __init__(
        self,
        spark: SparkSession,
        events_dir: str | Path,
        table_path: str | Path,
        checkpoint_dir: str | Path,
        key_col: str = "user_id",
        schema: T.StructType | None = None,
    ):
        self.spark = spark
        self.events_dir = str(events_dir)
        self.checkpoint_dir = str(checkpoint_dir)
        self.key_col = key_col
        self.schema = schema or spark.read.parquet(self.events_dir).schema
        self.table = NativeTable(
            spark, table_path, record_keys=["kind", "a", "b"], precombine=None
        )

    # -- write side --------------------------------------------------------

    def _delta(self, batch_df: DataFrame) -> DataFrame:
        hll = SK.hll_sketch(batch_df, self.key_col).select(
            F.lit("hll").alias("kind"),
            F.col("idx").cast("bigint").alias("a"),
            F.lit(0).cast("bigint").alias("b"),
            F.col("rho").cast("bigint").alias("v"),
        )
        cms = SK.cms_build(batch_df, self.key_col).select(
            F.lit("cms").alias("kind"),
            F.col("row").cast("bigint").alias("a"),
            F.col("bucket").cast("bigint").alias("b"),
            F.col("cnt").cast("bigint").alias("v"),
        )
        return hll.unionByName(cms)

    def _ingest_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        last = self.table.last_stream_batch_id()
        if last is not None and batch_id <= last:
            return  # replayed batch
        if batch_df.isEmpty():
            return
        self.table.bulk_insert(
            self._delta(batch_df), extra_stats={"stream_batch_id": int(batch_id)}
        )

    def run_available(self) -> None:
        drain_batches(self.spark, self.events_dir, self.checkpoint_dir,
                      self.schema, self._ingest_batch)

    # -- read side (merge-on-read over the sketch log) ---------------------

    def _merged(self, kind: str) -> DataFrame:
        return self.table.read_snapshot().filter(F.col("kind") == kind)

    def distinct_estimate(self) -> float:
        """HLL merge = max(rho) per register across every batch delta."""
        regs = (
            self._merged("hll")
            .groupBy(F.col("a").alias("idx"))
            .agg(F.max("v").alias("rho"))
        )
        return SK.hll_estimate(regs).collect()[0]["hll_estimate"]

    def cms_estimates(self, keys: list) -> dict:
        """CMS merge = sum(cnt) per (row, bucket) across deltas, then the
        usual min-over-rows probe for each key."""
        table = (
            self._merged("cms")
            .groupBy(F.col("a").alias("row"), F.col("b").alias("bucket"))
            .agg(F.sum("v").alias("cnt"))
        )
        # keys probe as strings — cms_build hashes md5(cast(key as string)),
        # so the string form IS the sketch's key domain
        probes = self.spark.createDataFrame(
            [(str(k),) for k in keys], f"{self.key_col} string"
        )
        out = SK.cms_probe(table, probes, self.key_col).collect()
        return {r[self.key_col]: r["est_count"] for r in out}
