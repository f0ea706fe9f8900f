"""Streaming dimension enrichment: event stream × SCD2 history, as-of
event time.

The lake-house pattern the CDC merge + SCD2 operators exist to serve:
facts arrive continuously, the dimension changes slowly, and every fact
must carry the dimension attributes that were true AT ITS EVENT TIME —
enriching against the dimension's CURRENT row silently backdates every
attribute change (processData.py's latest-wins merge semantics are
exactly what this pattern must NOT use for historical facts).

Join strategy — an AS-OF join on the version-start time, not an
interval join: SCD2 rows are consecutive half-open intervals per key,
so "the version with the greatest valid_from ≤ event ts" IS the
containing interval, found with one union+window pass
(``operators.asof``). The interval-join alternative explodes each
interval into time buckets — catastrophic for SCD2's OPEN current rows,
whose sentinel end (2200-01-01) would fan out into ~1.5 M hourly
buckets each. Events earlier than a key's first version get NULL
attributes (no dimension existed yet) — preserved, not dropped.

Runs once per batch of ``sources.batch.drain_batches``: the dimension
snapshot is re-read per batch, so a CDC-merged dimension table picks up
new versions with at most one batch of lag; per-batch cost is one window
over (batch ∪ dim-versions), partitioned by key.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from glue_hudi_spark.operators import asof
from glue_hudi_spark.sources.batch import drain_batches
from glue_hudi_spark.storage.native import _parquet_writer


def enrich_asof(
    events: DataFrame,
    scd2_dim: DataFrame,
    key_cols: list[str],
    event_ts: str,
    attrs: list[str],
) -> DataFrame:
    """Batch core: each event row gains ``attrs`` from the SCD2 version
    in force at its event time (NULL before the first version)."""
    versions = scd2_dim.select(*key_cols, "valid_from", *attrs)
    return asof.asof_join(
        events, versions, key_cols=key_cols,
        left_time=event_ts, right_time="valid_from",
        right_payload=attrs, direction="backward",
    )


class EnrichStream:
    """Drain the events dir in batches; each batch as-of enrich → sink
    dir.

    ``dim_loader`` is a zero-arg callable returning the CURRENT SCD2
    DataFrame — called once per batch so dimension updates flow
    through without restarting the stream.

    Sink layout: each batch lands in its own hive-style
    ``stream_batch_id=<id>/`` subdirectory of ``out_dir`` (so replays
    overwrite instead of double-appending), which means readers of
    ``out_dir`` see an extra ``stream_batch_id`` partition column. A
    pre-existing FLAT parquet layout in ``out_dir`` (written by the
    old append sink) cannot be mixed with partition dirs — Spark's
    partition discovery refuses such a directory — so construction
    fails loudly instead of producing an unreadable sink.
    """

    def __init__(
        self,
        spark: SparkSession,
        events_dir: str | Path,
        out_dir: str | Path,
        checkpoint_dir: str | Path,
        dim_loader,
        key_cols: list[str],
        event_ts: str,
        attrs: list[str],
        schema=None,
    ):
        self.spark = spark
        self.events_dir = str(events_dir)
        self.out_dir = str(out_dir)
        self.checkpoint_dir = str(checkpoint_dir)
        self.dim_loader = dim_loader
        self.key_cols = key_cols
        self.event_ts = event_ts
        self.attrs = attrs
        self.schema = schema or spark.read.parquet(self.events_dir).schema
        # Legacy-layout guard: flat parquet files (pre-partition-dir sink)
        # mixed with stream_batch_id= dirs make out_dir unreadable. Fail
        # at construction with a migration hint, not at first read.
        out = Path(self.out_dir)
        if out.is_dir():
            flat = [p.name for p in out.iterdir()
                    if p.is_file() and p.suffix == ".parquet"]
            if flat:
                raise ValueError(
                    f"EnrichStream out_dir {self.out_dir} holds "
                    f"{len(flat)} flat parquet file(s) from the legacy "
                    "append sink; move them into a stream_batch_id=-1/ "
                    "subdirectory (or point out_dir elsewhere) before "
                    "resuming")

    def _enrich_batch(self, batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        out = enrich_asof(
            batch_df, self.dim_loader(), self.key_cols,
            self.event_ts, self.attrs)
        # Idempotent sink: the drain is at-least-once, so a crash between
        # the write and marking the batch done replays the batch. A plain
        # mode("append") into out_dir would re-append the whole batch; landing
        # each batch in its own hive-style stream_batch_id=<id> directory with
        # overwrite makes the replay rewrite the same files instead — the
        # exactly-once convention CorpusIngestStream implements with its
        # in-commit stream_batch_id marker. Readers of out_dir see
        # stream_batch_id as a partition column (batch lineage for free).
        _parquet_writer(out, "overwrite").parquet(
            f"{self.out_dir}/stream_batch_id={int(batch_id)}")

    def run_available(self) -> None:
        drain_batches(self.spark, self.events_dir, self.checkpoint_dir,
                      self.schema, self._enrich_batch)
