"""Table→table replication: tail one NativeTable's commit timeline and
merge each drained range of changed rows into another table.

The downstream-sync pattern the change feed exists for (a reporting copy,
a region replica, a redacted projection) — composed from two engine
pieces: the change-range rule the ``ghs_table`` stream also plans with
(``sources.datasource.change_range``: CoW incremental semantics,
deterministic replay from immutable manifests) and the keyed ``merge``
sink. A drain (``run_available``) is a plain batch loop, no Structured
Streaming query:

1. the watermark ``s`` is the newest ``replicated_through`` source
   commit in the destination's commit stats, else ``starting_commit``;
2. ``e`` is the source head — nothing to do when ``e <= s``;
3. the range ``(s, e]`` is read as a native Spark DataFrame (parquet
   scans of the changed files and tombstones, with deletion vectors,
   column defaults and column mapping applied);
4. one ``_apply_batch`` merges it (held on the driver when its
   estimated size fits ``local_batch``'s cap), and the marker it
   commits with —
   ``replicated_through: e`` plus the drain's ``stream_batch_id`` —
   lands atomically with the data. An empty range records the
   watermark with a metadata-only ``touch`` commit.

Exactly-once therefore lives wholly in the destination's commit stats:
a drain that fails before its commit leaves the watermark where it was,
and the next drain re-plans the same range from immutable manifests.

Deletes travel IN-RANGE when the SOURCE table opted into the change
feed (``NativeTable(change_feed_deletes=True)``, the Delta
``enableChangeDataFeed`` analogue — off by default): every delete
commit's tombstone keys (``_changes/``, Delta-CDF-style) arrive as
``_ghs_delta_op='d'`` rows, resolved per key against version rows by
commit time and applied in the SAME atomic merge as the range's
upserts. ``sync_deletes_every`` is thereby demoted to a consistency
check (an anti-join of destination keys vs source keys — two
key-projection scans, no data columns); it exists for replicas of
tables written with ``change_feed_deletes=False`` and as an fsck-grade
invariant probe.

Scale shape: per drain cost is the changed-row read (file-pruned by the
source's own manifest, executor-parallel parquet scans) + one keyed
merge into the destination (partition/key-range/bloom pruned like any
upsert). The reconciliation pass is the only table-sized step, and it
ships key projections only.

100-TB seeding: do not replay a huge table's FULL history through a
drain — seed the replica out-of-band (``NativeTable.clone_to`` on shared
storage, or a bulk ``format("ghs_table")`` batch read →
``bulk_insert``) and start it at the seed commit with
``starting_commit``; only the ongoing delta then flows through the
drains. Tombstones are retention-bounded: a drain whose range reaches a
cleaned source commit raises "no longer retained".
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql import types as T

from glue_hudi_spark.sources import datasource as DS
from glue_hudi_spark.storage.native import (
    COMMIT_TIME_COL,
    DELTA_OP_COL,
    RECORD_KEY_COL,
    NativeTable,
    live_schema,
    local_batch,
)


class TableReplicationStream:
    """Drain ``(watermark, source head]`` of ``src_path`` into ``dest``
    as one atomic merge of the range's upserts and deletes.

    ``checkpoint_dir`` is accepted for compatibility and not written:
    the watermark lives in ``dest``'s commit stats. A replica whose
    history predates the ``replicated_through`` marker (or whose marker
    aged out with ``dest``'s commit retention) restarts at
    ``starting_commit`` — an idempotent-by-key re-merge, never data
    loss."""

    def __init__(
        self,
        spark: SparkSession,
        src_path: str | Path,
        dest: NativeTable,
        checkpoint_dir: str | Path,
        starting_commit: int = 0,
        transform=None,
        sync_deletes_every: int | None = None,
    ):
        self.spark = spark
        self.src_path = str(src_path)
        self.dest = dest
        # a read-only handle on the source: the range read reuses its
        # scan path (DVs, defaults, column mapping); record keys matter
        # only for bootstrapped files, which carry no key column
        self._src = NativeTable(spark, self.src_path,
                                record_keys=dest.record_keys)
        self.checkpoint_dir = str(checkpoint_dir)
        self.starting_commit = starting_commit
        # optional per-batch projection (redaction, column subset) —
        # applied before the merge, so the replica can be a narrowed or
        # masked view of the source
        self.transform = transform
        self.sync_deletes_every = sync_deletes_every
        # True/False after each sync_deletes(): did the checksum gate
        # let the cadence skip the key anti-join?
        self.last_sync_skipped_join: bool | None = None

    def _apply_batch(self, batch_df, batch_id: int,
                     through: int | None = None) -> None:
        last = self.dest.last_stream_batch_id()
        # a redelivered id (at-least-once caller) is already applied
        replayed = last is not None and batch_id <= last
        if not replayed:
            marker = {"stream_batch_id": int(batch_id),
                      "replicated_from": self.src_path}
            if through is not None:
                marker["replicated_through"] = int(through)
            meta = [COMMIT_TIME_COL, RECORD_KEY_COL, DELTA_OP_COL]
            # a key can appear as several changes in one drained range
            # (update then delete, delete then reinsert): the newest
            # commit's row wins, THEN routes to its op
            w = Window.partitionBy(RECORD_KEY_COL).orderBy(
                F.col(COMMIT_TIME_COL).desc())
            latest = (batch_df.withColumn("_ghs_rn", F.row_number().over(w))
                      .filter(F.col("_ghs_rn") == 1).drop("_ghs_rn"))
            ups = latest.filter(F.col(DELTA_OP_COL) != "d").drop(*meta)
            if self.transform is not None:
                ups = self.transform(ups)
            dels = latest.filter(F.col(DELTA_OP_COL) == "d").drop(*meta)
            opb = ups.withColumn("_ghs_rep_op", F.lit("U")).unionByName(
                dels.withColumn("_ghs_rep_op", F.lit("D")),
                allowMissingColumns=True)
            # derive the range once, held on the driver: the merge's legs
            # read the held rows, and its size is the emptiness test. A
            # range past the cap merges unheld after an emptiness probe.
            held = local_batch(opb)
            if held is not None:
                opb, nonempty = held[0], held[1] > 0
            else:
                nonempty = not batch_df.isEmpty()
            merged = None
            if nonempty:
                # one atomic commit applies the range's upserts AND
                # deletes (CoW; MoR dest splits into its documented
                # delta pair) — the batch-id marker rides inside it
                merged = self.dest.merge(opb, op_col="_ghs_rep_op",
                                         extra_stats=marker)
            if merged is None and through is not None \
                    and self.dest.exists():
                # a range that changes nothing here (empty, or filtered
                # away by the transform) still moves the watermark: else
                # every later drain re-plans it until its tombstones age
                # out of retention. An empty replica has no head to
                # touch; re-planning its range is harmless.
                self.dest.touch(extra_stats=marker)
        # The consistency-check cadence runs regardless of batch contents:
        # a delete-only commit on a change_feed_deletes=False source (no
        # tombstones) arrives as exactly an EMPTY micro-batch, so gating
        # this behind the data write would silently disable the fallback
        # propagation path. It also runs on replayed batches — the crashed
        # attempt may have died before its check fired, and sync_deletes
        # is idempotent (anti-join).
        if self.sync_deletes_every and (batch_id + 1) % self.sync_deletes_every == 0:
            self.sync_deletes()

    def sync_deletes(self) -> int:
        """Consistency check / fallback: destination keys absent from the
        source are deleted here. With ``emitDeletes`` tombstones flowing
        in-stream this finds nothing (assert that, if auditing); it
        remains the propagation path for sources written with
        ``change_feed_deletes=False``. Key projections only — no data
        columns cross the join.

        Cost shape (the recurring cadence tax at 100 TB): the key-set
        anti-join — two full key shuffles — runs ONLY when a cheap
        checksum gate says the key sets differ. The gate is one global
        (count, order-independent md5-word-sum) aggregate per side
        (``operators.recon.table_checksum`` with no group columns):
        map-side combined, a 1-row result each, zero shuffle of keys.
        A converged replica therefore pays two narrow-column scans and
        no join per cadence; ``last_sync_skipped_join`` records which
        path the most recent call took (auditability + the pytest pin).
        """
        from glue_hudi_spark.operators.recon import table_checksum

        # the native snapshot, not the ghs_table batch reader: that one
        # rejects a MoR source with pending deltas
        src_keys = self._src.read_snapshot(with_meta=True).select(
            F.col(RECORD_KEY_COL).alias("_k"))
        dest_keys = self.dest.read_snapshot(with_meta=True).select(
            F.col(RECORD_KEY_COL).alias("_k"), *self.dest.record_keys)
        cs = table_checksum(src_keys, [], ["_k"]).first()
        cd = table_checksum(dest_keys.select("_k"), [], ["_k"]).first()
        if (cs["n"], cs["ck"]) == (cd["n"], cd["ck"]):
            self.last_sync_skipped_join = True
            return 0
        self.last_sync_skipped_join = False
        gone = dest_keys.join(src_keys, on="_k", how="left_anti").drop("_k")
        if gone.isEmpty():
            return 0
        n = gone.count()
        self.dest.delete(gone)
        return n

    def _watermark(self) -> tuple[int, int]:
        """(source commit the replica reflects, next batch id), from the
        destination's retained commit stats."""
        through = last = None
        for c in reversed(self.dest.timeline.history()):
            if through is None and "replicated_through" in c.stats:
                through = int(c.stats["replicated_through"])
            if last is None and "stream_batch_id" in c.stats:
                last = int(c.stats["stream_batch_id"])
            if through is not None and last is not None:
                break
        return (self.starting_commit if through is None else through,
                0 if last is None else last + 1)

    def _range_rows(self, s: int, e: int) -> DataFrame:
        """Source changes in ``(s, e]`` as one native DataFrame in the
        end commit's logical schema with meta columns: version rows
        stamped after ``s`` (MoR delete markers kept) plus one ``'d'``
        row per tombstoned key, stamped with its deleting commit."""
        src = self._src
        rng = DS.change_range(src.timeline, s, e, tombstones=True)
        c = rng.commit
        live = live_schema(c)
        rows = src._read_files(rng.files, live, dvs=c.dvs,
                               defaults=c.column_defaults)
        rows = rows.filter(F.col(COMMIT_TIME_COL) > f"{s:020d}")
        by_commit: dict[str, list[str]] = {}
        for ct, rel in rng.tombstones:
            by_commit.setdefault(ct, []).append(str(src.root / rel))
        # tombstone files hold the key columns only: read under the live
        # schema, every other column comes back NULL
        schema = T.StructType.fromJson(json.loads(live))
        for ct, paths in by_commit.items():
            rows = rows.unionByName(
                self.spark.read.schema(schema).parquet(*paths)
                .withColumn(COMMIT_TIME_COL, F.lit(ct))
                .withColumn(DELTA_OP_COL, F.lit("d")))
        return src._to_logical(rows, c)

    def run_available(self) -> None:
        """Drain every source commit past the watermark in one merge
        commit (no-op when the source head is not past it)."""
        s, batch_id = self._watermark()
        head = self._src.timeline.latest()
        if head is None or head.commit_id <= s:
            return
        e = head.commit_id
        self._apply_batch(self._range_rows(s, e), batch_id, through=e)
