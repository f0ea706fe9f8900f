"""Streaming materialized view: an aggregate table maintained from the
CDC stream's own change feed.

Composes three pieces this engine already has — the streaming CDC merge
(``CdcStream``), the commit-to-commit change feed
(``NativeTable.change_feed``), and additive-aggregate maintenance
(``operators.ivm``) — into the thing warehouses sell as "continuously
refreshed materialized views": after every merged micro-batch, the
(group, cnt, total) state absorbs exactly the rows that changed,
O(changes) per refresh, never a recompute.

Consistency contract: the state table's commit stats record the BASE
table commit id the state reflects (``view_of_commit``). Refresh is
idempotent — a replayed trigger sees the recorded watermark and skips —
and crash-safe in the same way the CDC merges are: the marker publishes
atomically with the state commit. The maintained state is bit-identical
to a from-scratch aggregate of the base snapshot (exact DECIMAL sums),
asserted in tests after every refresh.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import SparkSession

from glue_hudi_spark.checkpoints import release_checkpoint
from glue_hudi_spark.operators import ivm
from glue_hudi_spark.storage.native import NativeTable, local_batch


class MaterializedAgg:
    """Maintains groupBy(``group_cols``).agg(count, sum(``sum_col``))
    over a NativeTable, refreshed incrementally from its change feed."""

    def __init__(
        self,
        spark: SparkSession,
        base: NativeTable,
        state_path: str | Path,
        group_cols: list[str],
        sum_col: str,
        derive: "dict[str, str] | None" = None,
    ):
        self.spark = spark
        self.base = base
        self.group_cols = list(group_cols)
        self.sum_col = sum_col
        # derived group columns (TimescaleDB continuous aggregates):
        # name -> deterministic SQL expr over base columns, projected
        # onto BOTH the from-scratch snapshot and every change-feed row
        # before grouping. Deterministic row-local exprs only — each
        # feed image (pre and post) must re-derive the same bucket its
        # row originally grouped into, or the signed algebra misses.
        self.derive = dict(derive or {})
        self.state = NativeTable(
            spark, state_path, record_keys=list(group_cols), precombine=None
        )

    def _derived(self, df):
        from pyspark.sql import functions as F

        for name, ex in self.derive.items():
            df = df.withColumn(name, F.expr(ex))
        return df

    def _last_refreshed(self) -> int | None:
        latest = self.state.timeline.latest()
        if latest is None:
            return None
        return latest.stats.get("view_of_commit")

    def pending_commits(self) -> int:
        """Base commits not yet absorbed by the view (head id minus the
        recorded watermark; commit ids are head+1 sequential within a
        timeline). A never-materialized view counts everything pending.
        Drives the deferred ``refresh='commit:N'`` maintenance policy —
        a metadata-only check (two manifest heads), no scan."""
        latest = self.base.timeline.latest()
        if latest is None:
            return 0
        since = self._last_refreshed()
        if since is None:
            return latest.commit_id
        return max(0, latest.commit_id - since)

    def refresh(self) -> int | None:
        """Bring the view up to the base table's latest commit. Returns
        the new watermark (base commit id), or None when already fresh.
        First call materializes from scratch; later calls apply only the
        change feed between the recorded watermark and latest."""
        base_latest = self.base.timeline.latest()
        if base_latest is None:
            return None
        upto = base_latest.commit_id
        since = self._last_refreshed()
        marker = {"view_of_commit": int(upto)}
        if since is None:
            snap = ivm.aggregate_state(
                self._derived(self.base.read_snapshot(as_of=upto)),
                self.group_cols, self.sum_col,
            )
            self.state.insert_overwrite(snap, extra_stats=marker)
            return upto
        if since >= upto:
            return None  # fresh (or a replayed trigger) — no-op
        from pyspark.sql import functions as F

        feed = self._derived(self.base.change_feed(since, upto))
        # O(changed groups), round-10 (the MaterializedJoin shape): the
        # signed per-group delta (map-side combined over the feed)
        # semi-joins the CURRENT state down to touched groups only, the
        # algebra runs on that slice, and ONE atomic merge commit
        # upserts changed groups / deletes emptied ones — the state
        # rewrite prunes to the touched groups' files instead of
        # rewriting the whole view (insert_overwrite did O(state) file
        # writes per refresh however narrow the window was).
        delta = ivm.change_feed_delta(feed, self.group_cols, self.sum_col)
        touched = self.state.read_snapshot().join(
            delta.select(*self.group_cols), on=self.group_cols,
            how="left_semi")
        merged = ivm.merge_delta(touched, delta, self.group_cols)
        # The batch is O(touched groups): held on the driver, the
        # merge's probe, prune, anti-join and write legs read its rows
        # instead of each re-deriving change feed → delta → semi-join.
        # Not a localCheckpoint, as in the two join-shaped views: that
        # executor-side materialization measured 1.4x SLOWER here in the
        # round-14 A/B (sql_continuous_aggregate 4.78→6.61 s). Spark's
        # own size estimate of this join is a product of its sides, so
        # the size comes from the base's manifests: one batch row per
        # group the feed touches. A window past local_batch's cap
        # merges unheld.
        batch = merged.withColumn(
            "_ma_op", F.when(F.col("cnt") > 0, F.lit("U"))
            .otherwise(F.lit("D")))
        derived_keys = set(self.group_cols) & set(self.derive)
        held = local_batch(batch, max_rows=self.base.change_feed_max_rows(
            since, upto, None if derived_keys else self.group_cols))
        committed = self.state.merge(held[0] if held else batch,
                                     op_col="_ma_op", extra_stats=marker)
        if committed is None:
            # empty window (head moved by compact/etc.): metadata-only
            # watermark commit keeps the converged cadence O(1)
            self.state.touch(marker, action="watermark")
        return upto

    def read(self):
        return self.state.read_snapshot()


class MaterializedJoin:
    """Incrementally-maintained JOIN view: ``state = fact LEFT JOIN dim
    ON join_col`` (the N:1 enrichment join), refreshed from BOTH tables'
    change feeds — the join analogue of ``MaterializedAgg``, and the
    thing warehouses sell as an incrementally-refreshed join view.

    Delta equations per refresh window (f_since→f_upto, d_since→d_upto):

    * Δfact inserts/update-postimages re-join against the dim's CURRENT
      snapshot and upsert into the state; Δfact deletes delete their
      state rows — O(|Δfact|).
    * Δdim changed keys K select the AFFECTED facts: when the fact
      table indexes ``join_col`` (stats or secondary blooms) and K is
      driver-sized, ``fact.read_by_value(join_col, K)`` reads ONLY the
      files that can hold a changed key; otherwise a semi-join of the
      fact snapshot on ``join_col ∈ K`` (AQE broadcasts K). Either way
      O(|affected facts|), not O(|fact|). A dim DELETE re-emits its
      facts with NULL attributes — left-join semantics preserved, facts
      never silently dropped.

    ``cluster_by=join_col`` fixes the STATE layout for dim-heavy churn:
    by default state files range-cluster on the fact record key, so one
    changed dim key's facts scatter across every state file and the
    merge rewrites all of them (the round-9 probe's 32/32). With it,
    the state table is laid out by the join column
    (``sort_order=[join_col]`` + stats + secondary bloom), and each
    refresh passes the window's join-key set — PRE-images included, so
    a fact re-pointed at a new dim key still rewrites its old row's
    file — to ``merge(prune_values=...)``: rewrites become O(changed
    join keys' files). Windows whose join-key set exceeds
    ``prune_key_cap`` (or holds NULLs) fall back to unpruned merges —
    pruning is an optimization, never a correctness dependency.

    The whole window lands as ONE atomic ``merge`` commit (upserts +
    deletes together) carrying both watermarks
    (``join_of_fact_commit`` / ``join_of_dim_commit``) in its stats —
    idempotent under replayed triggers, crash-safe like every other
    streaming sink here. An EMPTY window (base heads moved by
    compact/add_column, or dim churn touching no fact) publishes a
    metadata-only ``touch`` commit so the watermark still advances and
    converged refreshes stay O(1) (round-9 advice). Maintained state is
    row-identical to the from-scratch join of the two snapshots (the
    pytest invariant).
    """

    def __init__(
        self,
        spark: SparkSession,
        fact: NativeTable,
        dim: NativeTable,
        state_path: str | Path,
        join_col: str,
        dim_cols: list[str] | None = None,
        cluster_by: str | None = None,
        prune_key_cap: int = 4096,
    ):
        self.spark = spark
        self.fact = fact
        self.dim = dim
        self.join_col = join_col
        self.dim_cols = dim_cols
        if cluster_by is not None and cluster_by != join_col:
            raise ValueError(
                f"cluster_by={cluster_by!r}: only the join column "
                f"({join_col!r}) is a meaningful state layout — merge "
                "pruning is driven by the window's join-key set")
        self.cluster_by = cluster_by
        self.prune_key_cap = int(prune_key_cap)
        # clustered layout needs an explicit write width: _write_files
        # only range-partitions on the sort order when a file count is
        # set (otherwise files fall out of the upstream shuffle and each
        # spans the full join-key range, defeating the prune)
        width = (int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
                 if cluster_by else None)
        self.state = NativeTable(
            spark, state_path, record_keys=list(fact.record_keys),
            precombine=None,
            **({"sort_order": [cluster_by], "stats_cols": [cluster_by],
                "secondary_bloom_cols": [cluster_by],
                "files_per_partition": width}
               if cluster_by else {}),
        )

    def _dim_proj(self, as_of: int | None):
        from pyspark.sql import functions as F

        d = self.dim.read_snapshot(as_of=as_of)
        cols = self.dim_cols or [
            c for c in d.columns if c != self.join_col]
        return d.select(F.col(self.join_col), *cols)

    def _watermarks(self):
        last = self.state.timeline.latest()
        if last is None:
            return None
        return (last.stats.get("join_of_fact_commit"),
                last.stats.get("join_of_dim_commit"))

    def pending_commits(self) -> int:
        """Unabsorbed base commits across BOTH sides (fact + dim head
        ids minus the recorded watermarks) — the deferred
        ``refresh='commit:N'`` trigger. Metadata-only."""
        f = self.fact.timeline.latest()
        d = self.dim.timeline.latest()
        if f is None and d is None:
            return 0
        wm = self._watermarks()
        if wm is None or wm[0] is None:
            # never refreshed: every base commit on BOTH sides is
            # pending — sum (missing watermark = 0), consistent with
            # the steady-state branch below, so a 'commit:N' trigger
            # counts the same metric before and after first refresh
            return (f.commit_id if f else 0) + (d.commit_id if d else 0)
        return (max(0, (f.commit_id if f else 0) - (wm[0] or 0))
                + max(0, (d.commit_id if d else 0) - (wm[1] or 0)))

    def refresh(self):
        """Bring the view to both base tables' heads. Returns the new
        (fact_commit, dim_commit) watermark, or None when fresh."""
        from pyspark.sql import functions as F

        f_latest = self.fact.timeline.latest()
        if f_latest is None:
            return None
        d_latest = self.dim.timeline.latest()
        f_upto = f_latest.commit_id
        d_upto = d_latest.commit_id if d_latest else 0
        marker = {"join_of_fact_commit": int(f_upto),
                  "join_of_dim_commit": int(d_upto)}
        dim_now = self._dim_proj(d_upto if d_latest else None)
        wm = self._watermarks()
        if wm is None or wm[0] is None:
            snap = self.fact.read_snapshot(as_of=f_upto).join(
                dim_now, on=self.join_col, how="left")
            self.state.insert_overwrite(snap, extra_stats=marker)
            return f_upto, d_upto
        f_since, d_since = wm
        if f_since >= f_upto and d_since >= d_upto:
            return None  # fresh, or a replayed trigger
        fk = self.fact.record_keys
        ups = dels = None
        # the window's join-key set, for the value-pruned state merge
        # (cluster_by layout). None = pruning disabled for this window
        # (off, too many keys, or NULL join values — merge stays exact
        # either way, the prune is only a file-skip).
        prune_keys: set | None = set() if self.cluster_by else None
        ff_persisted = None
        if f_upto > f_since:
            ff = self.fact.change_feed(f_since, f_upto)
            if prune_keys is not None:
                # the feed feeds three consumers (ups, dels, key probe) —
                # persist so its lineage computes once
                ff_persisted = ff = ff.persist()
                # ALL change types: a fact re-pointed to a new dim key
                # still has its OLD row in a file placed by the PRE-image
                # value — that file must stay in the merge's rewrite set
                prune_keys = self._bounded_keys(
                    ff.select(self.join_col).distinct(), prune_keys)
            ups = ff.filter(F.col("_change_type").isin(
                "insert", "update_postimage")).drop("_change_type")
            dels = ff.filter(
                F.col("_change_type") == "delete").drop("_change_type")
        if d_upto > d_since:
            dkeys = (self.dim.change_feed(d_since, d_upto)
                     .select(self.join_col).distinct())
            dvals = self._bounded_keys(dkeys, set())
            if dvals is not None and (
                    self.join_col in self.fact.stats_cols
                    or self.join_col in self.fact.secondary_bloom_cols):
                # bloom/stats-assisted affected-fact selection: reads
                # only fact files that can hold a changed dim key
                affected = self.fact.read_by_value(
                    self.join_col, sorted(dvals), as_of=f_upto)
            else:
                affected = self.fact.read_snapshot(as_of=f_upto).join(
                    dkeys, on=self.join_col, how="left_semi")
            if prune_keys is not None:
                prune_keys = (prune_keys | dvals
                              if dvals is not None else None)
            # overlap with Δfact rows is benign: both carry the same
            # as-of-f_upto image — dedup by the fact key
            ups = (affected if ups is None
                   else ups.unionByName(affected, allowMissingColumns=True)
                   .dropDuplicates(fk))
        parts = []
        if ups is not None:
            parts.append(ups.join(dim_now, on=self.join_col, how="left")
                         .withColumn("_mj_op", F.lit("U")))
        if dels is not None:
            parts.append(dels.withColumn("_mj_op", F.lit("D")))
        batch = parts[0]
        for p in parts[1:]:
            batch = batch.unionByName(p, allowMissingColumns=True)
        # derivation (feeds + affected-fact selection + dim join) runs
        # once; the merge's probe/anti-join/write read the checkpoint —
        # O(window changes) stored, the whole pipeline not re-executed
        # per leg (see MaterializedAgg.refresh)
        batch = batch.localCheckpoint(eager=False)
        # one atomic commit applies the window's upserts AND deletes,
        # with the watermarks in its stats
        try:
            committed = self.state.merge(
                batch, op_col="_mj_op", extra_stats=marker,
                prune_values=({self.join_col: sorted(prune_keys)}
                              if prune_keys else None))
        finally:
            release_checkpoint(batch)
            if ff_persisted is not None:
                ff_persisted.unpersist()
        if committed is None:
            # empty window (heads moved without row changes, or dim
            # churn touching no fact): advance the watermark with a
            # metadata-only commit, or every later refresh re-plans and
            # re-scans this same converged window forever
            self.state.touch(marker, action="watermark")
        return f_upto, d_upto

    def _bounded_keys(self, df, acc: set) -> set | None:
        """Driver-bounded distinct key collection: ``acc`` ∪ df's values
        when ≤ ``prune_key_cap`` and NULL-free, else None (pruning off —
        min/max file stats can't speak for NULLs, and an unbounded list
        would put O(changes) on the driver)."""
        rows = df.limit(self.prune_key_cap + 1).collect()
        if len(rows) > self.prune_key_cap:
            return None
        vals = {r[0] for r in rows}
        if None in vals:
            return None
        return acc | vals

    def read(self):
        return self.state.read_snapshot()


class MaterializedJoinAgg:
    """Incrementally-maintained AGGREGATE-OVER-JOIN view: ``state =
    SELECT group_cols..., count, sum(sum_col) FROM fact INNER JOIN dim
    ON join_col GROUP BY group_cols`` — the revenue-by-nation class,
    composed from the two existing view shapes: the fact is the big
    table, the dim the N:1 enrichment side (unique ``join_col``; fact
    and dim column names must be disjoint apart from it), and group
    columns may come from EITHER side.

    Maintenance is the classic bilinear delta — with ΔF/ΔD the signed
    change feeds of the window:

        Δ(F ⋈ D)  =  ΔF ⋈ D_new  +  F_old ⋈ ΔD

    Joining the fact deltas against the NEW dim snapshot and the dim
    deltas against the OLD fact snapshot cancels the ΔF⋈ΔD cross term
    exactly, so one pass over each feed suffices. Each leg then runs
    the same signed per-group aggregate ``MaterializedAgg`` uses
    (``ivm.change_feed_delta`` — the sign comes from that leg's own
    ``_change_type``), the two deltas sum, and the merge is the
    O(changed groups) keyed-state path: touched groups only, one
    atomic merge commit carrying both watermarks, emptied groups
    deleted, exact-DECIMAL totals bit-identical to a from-scratch
    GROUP BY over the join (the pytest invariant).

    Scale shape: leg 1 is O(|Δfact|) (feed ⋈ broadcastable dim); leg 2
    selects only the OLD facts holding a changed dim key — via the
    fact table's stats/bloom point lookup (``read_by_value`` at the
    old commit) when the key set is driver-sized, else a semi-join —
    so it is O(|affected facts|), never O(|fact|). Nothing recomputes.
    """

    def __init__(
        self,
        spark: SparkSession,
        fact: NativeTable,
        dim: NativeTable,
        state_path: str | Path,
        join_col: str,
        group_cols: list[str],
        sum_col: str,
        dim_cols: list[str] | None = None,
        dim_key_cap: int = 4096,
    ):
        self.spark = spark
        self.fact = fact
        self.dim = dim
        self.join_col = join_col
        self.group_cols = list(group_cols)
        self.sum_col = sum_col
        self.dim_cols = dim_cols
        self.dim_key_cap = int(dim_key_cap)
        self.state = NativeTable(
            spark, state_path, record_keys=list(group_cols),
            precombine=None)

    def _dim_proj(self, as_of: int | None):
        from pyspark.sql import functions as F

        d = self.dim.read_snapshot(as_of=as_of)
        cols = self.dim_cols or [
            c for c in d.columns if c != self.join_col]
        return d.select(F.col(self.join_col), *cols)

    def _watermarks(self):
        last = self.state.timeline.latest()
        if last is None:
            return None
        return (last.stats.get("ja_of_fact_commit"),
                last.stats.get("ja_of_dim_commit"))

    def pending_commits(self) -> int:
        """Unabsorbed base commits across both sides — metadata-only,
        same contract as the other two view classes."""
        f = self.fact.timeline.latest()
        d = self.dim.timeline.latest()
        if f is None and d is None:
            return 0
        wm = self._watermarks()
        if wm is None or wm[0] is None:
            return (f.commit_id if f else 0) + (d.commit_id if d else 0)
        return (max(0, (f.commit_id if f else 0) - (wm[0] or 0))
                + max(0, (d.commit_id if d else 0) - (wm[1] or 0)))

    def refresh(self):
        """Bring the view to both base heads. Returns the new
        (fact_commit, dim_commit) watermark, or None when fresh."""
        from pyspark.sql import functions as F

        f_latest = self.fact.timeline.latest()
        if f_latest is None:
            return None
        d_latest = self.dim.timeline.latest()
        f_upto = f_latest.commit_id
        d_upto = d_latest.commit_id if d_latest else 0
        marker = {"ja_of_fact_commit": int(f_upto),
                  "ja_of_dim_commit": int(d_upto)}
        dim_now = self._dim_proj(d_upto if d_latest else None)
        wm = self._watermarks()
        if wm is None or wm[0] is None:
            snap = ivm.aggregate_state(
                self.fact.read_snapshot(as_of=f_upto).join(
                    dim_now, on=self.join_col, how="inner"),
                self.group_cols, self.sum_col)
            self.state.insert_overwrite(snap, extra_stats=marker)
            return f_upto, d_upto
        f_since, d_since = wm
        if f_since >= f_upto and (d_since or 0) >= d_upto:
            return None  # fresh, or a replayed trigger
        deltas = []
        if f_upto > f_since:
            # leg 1: ΔF ⋈ D_new — the feed's own _change_type signs it
            j1 = self.fact.change_feed(f_since, f_upto).join(
                dim_now, on=self.join_col, how="inner")
            deltas.append(ivm.change_feed_delta(
                j1, self.group_cols, self.sum_col))
        if d_latest and d_upto > (d_since or 0):
            # leg 2: F_old ⋈ ΔD — the DIM feed's _change_type signs it;
            # only old facts holding a changed key participate
            dfd = self.dim.change_feed(d_since or 0, d_upto)
            dcols = self.dim_cols or [
                c for c in self._dim_proj(d_upto).columns
                if c != self.join_col]
            dsel = dfd.select(self.join_col, *dcols, "_change_type")
            keys = dfd.select(self.join_col).distinct()
            rows = keys.limit(self.dim_key_cap + 1).collect()
            vals = ({r[0] for r in rows}
                    if len(rows) <= self.dim_key_cap else None)
            if vals is not None and None in vals:
                vals = None
            if vals and (self.join_col in self.fact.stats_cols
                         or self.join_col
                         in self.fact.secondary_bloom_cols):
                f_old = self.fact.read_by_value(
                    self.join_col, sorted(vals), as_of=f_since)
            else:
                f_old = self.fact.read_snapshot(as_of=f_since).join(
                    keys, on=self.join_col, how="left_semi")
            need = {self.join_col, self.sum_col} | {
                g for g in self.group_cols if g in f_old.columns}
            j2 = dsel.join(f_old.select(*sorted(need)),
                           on=self.join_col, how="inner")
            deltas.append(ivm.change_feed_delta(
                j2, self.group_cols, self.sum_col))
        delta = deltas[0]
        for d in deltas[1:]:
            delta = delta.unionByName(d)
        if len(deltas) > 1:
            delta = delta.groupBy(*self.group_cols).agg(
                F.sum("_cnt_d").alias("_cnt_d"),
                F.sum("_sum_d").cast("decimal(28,6)").alias("_sum_d"))
        touched = self.state.read_snapshot().join(
            delta.select(*self.group_cols), on=self.group_cols,
            how="left_semi")
        merged = ivm.merge_delta(touched, delta, self.group_cols)
        # both bilinear legs (feed joins + signed aggregates) compute
        # once; the merge's probe/anti-join/write read the O(touched
        # groups) checkpoint (see MaterializedAgg.refresh)
        batch = merged.withColumn(
            "_ja_op", F.when(F.col("cnt") > 0, F.lit("U"))
            .otherwise(F.lit("D"))).localCheckpoint(eager=False)
        try:
            committed = self.state.merge(batch, op_col="_ja_op",
                                         extra_stats=marker)
        finally:
            release_checkpoint(batch)
        if committed is None:
            # empty window: metadata-only watermark commit keeps the
            # converged cadence O(1)
            self.state.touch(marker, action="watermark")
        return f_upto, d_upto

    def read(self):
        return self.state.read_snapshot()
