"""Materialized views over NativeTables, maintained from their bases' own
change feeds (``NativeTable.change_feed``): each refresh absorbs exactly
the rows that changed, O(changes), never a recompute. Three shapes:

* ``MaterializedAgg``: ``groupBy(group_cols).agg(count, sum(sum_col))``
  over one base, with optional derived group columns (the TimescaleDB
  continuous aggregate);
* ``MaterializedJoin``: ``fact LEFT JOIN dim ON join_col``, the N:1
  enrichment join;
* ``MaterializedJoinAgg``: the same aggregate over ``fact INNER JOIN
  dim``.

All three run one refresh protocol (``_View``); a shape supplies only
its from-scratch snapshot and its window's op batch.

* Watermarks: every state commit's stats record the base commit id(s)
  the state reflects, one key per base (``view_of_commit``;
  ``join_of_fact_commit`` / ``join_of_dim_commit``;
  ``ja_of_fact_commit`` / ``ja_of_dim_commit``). They publish
  atomically with the state, so a refresh is crash-safe the way the CDC
  merges are.
* ``pending_commits``: Σ max(0, head − watermark) over the bases, a
  missing head or watermark counted as 0. Metadata only (manifest
  heads, no scan); it drives the deferred ``refresh='commit:N'`` policy.
* ``refresh``: a view with no watermark materializes from scratch in
  one ``insert_overwrite``. One whose watermarks reach every head is
  fresh and returns None, so a replayed trigger is a no-op. Otherwise
  the window's upserts and deletes land as ONE atomic ``merge`` commit
  carrying the new watermarks; an empty window (heads moved by
  compact/bin_pack, or dim churn touching no fact) publishes a
  metadata-only ``touch(action="watermark")`` so a converged view's
  next refresh is the O(1) early exit. Every persist and checkpoint a
  refresh makes belongs to a call-local ``ExitStack``: it is released
  whether the merge commits or anything before it raises.

The maintained state is identical to the from-scratch result over the
bases' snapshots (exact DECIMAL sums), asserted in tests after every
refresh.
"""

from __future__ import annotations

from contextlib import ExitStack
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from glue_hudi_spark.checkpoints import release_checkpoint
from glue_hudi_spark.operators import ivm
from glue_hudi_spark.storage.native import NativeTable, local_batch

_OP = "_mv_op"  # the op column of every state merge batch


def _bounded_keys(df: DataFrame, cap: int) -> set | None:
    """Driver-bounded distinct key collection: ``df``'s (first column)
    values when there are at most ``cap`` and none is NULL, else None —
    min/max file stats can't speak for NULLs, and an unbounded set would
    put O(changes) on the driver."""
    rows = df.limit(cap + 1).collect()
    vals = {r[0] for r in rows}
    if len(rows) > cap or None in vals:
        return None
    return vals


def _group_ops(state: NativeTable, delta: DataFrame,
               group_cols: list[str]) -> DataFrame:
    """The keyed op batch for signed per-group deltas, O(changed
    groups): ``delta`` semi-joins the CURRENT state down to the groups
    it touches, ``ivm.merge_delta`` applies it on that slice, and each
    group becomes an upsert, or a delete once its count reaches 0. The
    state merge then rewrites only the touched groups' files."""
    touched = state.read_snapshot().join(
        delta.select(*group_cols), on=group_cols, how="left_semi")
    return ivm.merge_delta(touched, delta, group_cols).withColumn(
        _OP, F.when(F.col("cnt") > 0, F.lit("U")).otherwise(F.lit("D")))


class _View:
    """The refresh protocol of the module docstring. A shape sets
    ``state`` (its NativeTable), ``_bases`` (the base tables, the first
    one driving) and ``_marks`` (one watermark stat key per base), and
    supplies ``_snapshot(upto)`` and ``_batch(since, upto, owned)``."""

    def _watermarks(self) -> list:
        last = self.state.timeline.latest()
        stats = last.stats if last is not None else {}
        return [stats.get(k) for k in self._marks]

    def pending_commits(self) -> int:
        """Base commits not yet absorbed by the view: head id minus the
        recorded watermark, summed over the bases (commit ids are head+1
        sequential within a timeline). A never-materialized view counts
        every base commit pending, the same metric as after its first
        refresh."""
        heads = [t.timeline.latest() for t in self._bases]
        return sum(max(0, (h.commit_id if h else 0) - (w or 0))
                   for h, w in zip(heads, self._watermarks()))

    def refresh(self):
        """Bring the view to its bases' heads. Returns the new
        watermarks, one base commit id per base, or None when already
        fresh or the first base has no commits."""
        heads = [t.timeline.latest() for t in self._bases]
        if heads[0] is None:
            return None
        upto = tuple(h.commit_id if h else 0 for h in heads)
        marker = {k: int(u) for k, u in zip(self._marks, upto)}
        wm = self._watermarks()
        if wm[0] is None:
            self.state.insert_overwrite(self._snapshot(upto),
                                        extra_stats=marker)
            return upto
        since = tuple(w or 0 for w in wm)
        if all(s >= u for s, u in zip(since, upto)):
            return None  # fresh, or a replayed trigger
        with ExitStack() as owned:
            batch, prune = self._batch(since, upto, owned)
            committed = self.state.merge(batch, op_col=_OP,
                                         extra_stats=marker,
                                         prune_values=prune)
        if committed is None:
            self.state.touch(marker, action="watermark")
        return upto

    def read(self):
        return self.state.read_snapshot()


class _JoinView(_View):
    """What the two join shapes share: a ``fact`` and a ``dim`` base
    joined on ``join_col``, the dim side projected to ``dim_cols``."""

    def _dim_proj(self, as_of: int):
        """The dim at ``as_of``: ``join_col`` and ``dim_cols`` (default:
        every other column). Raises when the dim has no commit."""
        d = self.dim.read_snapshot(as_of=as_of)
        cols = self.dim_cols or [
            c for c in d.columns if c != self.join_col]
        return d.select(F.col(self.join_col), *cols)

    def _facts_with(self, keys: DataFrame, vals: set | None, as_of: int):
        """Facts at ``as_of`` whose join key is among ``keys``: when the
        fact table indexes ``join_col`` (stats or secondary blooms) and
        ``vals`` holds the keys driver-side, a point lookup reading only
        the files that can hold one, else a semi-join (AQE broadcasts
        the keys). O(affected facts) either way, not O(|fact|)."""
        if vals is not None and (
                self.join_col in self.fact.stats_cols
                or self.join_col in self.fact.secondary_bloom_cols):
            return self.fact.read_by_value(
                self.join_col, sorted(vals), as_of=as_of)
        return self.fact.read_snapshot(as_of=as_of).join(
            keys, on=self.join_col, how="left_semi")


class MaterializedAgg(_View):
    """Maintains groupBy(``group_cols``).agg(count, sum(``sum_col``))
    over a NativeTable, refreshed incrementally from its change feed.
    The watermark is ``view_of_commit``."""

    _marks = ("view_of_commit",)

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
        self._bases = (base,)
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
        for name, ex in self.derive.items():
            df = df.withColumn(name, F.expr(ex))
        return df

    def refresh(self) -> int | None:
        """Bring the view up to the base table's latest commit. Returns
        the new watermark (base commit id), or None when already fresh.
        First call materializes from scratch; later calls apply only the
        change feed between the recorded watermark and latest."""
        # defined on this class, not inherited: lakebench's tracer
        # patches the class's own ``refresh`` attribute
        wm = super().refresh()
        return None if wm is None else wm[0]

    def _snapshot(self, upto):
        return ivm.aggregate_state(
            self._derived(self.base.read_snapshot(as_of=upto[0])),
            self.group_cols, self.sum_col)

    def _batch(self, since, upto, owned):
        (since,), (upto,) = since, upto
        feed = self._derived(self.base.change_feed(since, upto))
        batch = _group_ops(self.state, ivm.change_feed_delta(
            feed, self.group_cols, self.sum_col), self.group_cols)
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
        derived_keys = set(self.group_cols) & set(self.derive)
        held = local_batch(batch, max_rows=self.base.change_feed_max_rows(
            since, upto, None if derived_keys else self.group_cols))
        return (held[0] if held else batch), None


class MaterializedJoin(_JoinView):
    """Incrementally-maintained JOIN view: ``state = fact LEFT JOIN dim
    ON join_col`` (the N:1 enrichment join), refreshed from BOTH tables'
    change feeds. Watermarks: ``join_of_fact_commit`` /
    ``join_of_dim_commit``.

    Delta equations per refresh window (f_since→f_upto, d_since→d_upto):

    * Δfact inserts/update-postimages re-join against the dim's CURRENT
      snapshot and upsert into the state; Δfact deletes delete their
      state rows — O(|Δfact|).
    * Δdim changed keys K select the AFFECTED facts (``_facts_with``),
      O(|affected facts|), which re-join and upsert. A dim DELETE
      re-emits its facts with NULL attributes — left-join semantics
      preserved, facts never silently dropped.

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
    """

    _marks = ("join_of_fact_commit", "join_of_dim_commit")

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
        self._bases = (fact, dim)
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

    def _snapshot(self, upto):
        return self.fact.read_snapshot(as_of=upto[0]).join(
            self._dim_proj(upto[1]), on=self.join_col, how="left")

    def _batch(self, since, upto, owned):
        (f_since, d_since), (f_upto, d_upto) = since, upto
        dim_now = self._dim_proj(d_upto)
        ups = dels = None
        # the window's join-key set, for the value-pruned state merge
        # (cluster_by layout). None = pruning disabled for this window
        # (off, too many keys, or NULL join values — merge stays exact
        # either way, the prune is only a file-skip).
        prune_keys: set | None = set() if self.cluster_by else None
        if f_upto > f_since:
            ff = self.fact.change_feed(f_since, f_upto)
            if prune_keys is not None:
                # the feed feeds three consumers (ups, dels, key probe) —
                # persist so its lineage computes once
                ff = ff.persist()
                owned.callback(ff.unpersist)
                # ALL change types: a fact re-pointed to a new dim key
                # still has its OLD row in a file placed by the PRE-image
                # value — that file must stay in the merge's rewrite set
                prune_keys = _bounded_keys(
                    ff.select(self.join_col).distinct(), self.prune_key_cap)
            ups = ff.filter(F.col("_change_type").isin(
                "insert", "update_postimage")).drop("_change_type")
            dels = ff.filter(
                F.col("_change_type") == "delete").drop("_change_type")
        if d_upto > d_since:
            dkeys = (self.dim.change_feed(d_since, d_upto)
                     .select(self.join_col).distinct())
            dvals = _bounded_keys(dkeys, self.prune_key_cap)
            affected = self._facts_with(dkeys, dvals, f_upto)
            if prune_keys is not None:
                prune_keys = (prune_keys | dvals
                              if dvals is not None else None)
            # overlap with Δfact rows is benign: both carry the same
            # as-of-f_upto image — dedup by the fact key
            ups = (affected if ups is None
                   else ups.unionByName(affected, allowMissingColumns=True)
                   .dropDuplicates(self.fact.record_keys))
        parts = []
        if ups is not None:
            parts.append(ups.join(dim_now, on=self.join_col, how="left")
                         .withColumn(_OP, F.lit("U")))
        if dels is not None:
            parts.append(dels.withColumn(_OP, F.lit("D")))
        batch = parts[0]
        for p in parts[1:]:
            batch = batch.unionByName(p, allowMissingColumns=True)
        # derivation (feeds + affected-fact selection + dim join) runs
        # once; the merge's probe/anti-join/write read the checkpoint —
        # O(window changes) stored, the whole pipeline not re-executed
        # per leg (see MaterializedAgg._batch)
        batch = batch.localCheckpoint(eager=False)
        owned.callback(release_checkpoint, batch)
        return batch, ({self.join_col: sorted(prune_keys)}
                       if prune_keys else None)


class MaterializedJoinAgg(_JoinView):
    """Incrementally-maintained AGGREGATE-OVER-JOIN view: ``state =
    SELECT group_cols..., count, sum(sum_col) FROM fact INNER JOIN dim
    ON join_col GROUP BY group_cols`` — the revenue-by-nation class,
    composed from the two other view shapes: the fact is the big
    table, the dim the N:1 enrichment side (unique ``join_col``; fact
    and dim column names must be disjoint apart from it), and group
    columns may come from EITHER side. Watermarks:
    ``ja_of_fact_commit`` / ``ja_of_dim_commit``.

    Maintenance is the classic bilinear delta — with ΔF/ΔD the signed
    change feeds of the window:

        Δ(F ⋈ D)  =  ΔF ⋈ D_new  +  F_old ⋈ ΔD

    Joining the fact deltas against the NEW dim snapshot and the dim
    deltas against the OLD fact snapshot cancels the ΔF⋈ΔD cross term
    exactly, so one pass over each feed suffices. Each leg then runs
    the same signed per-group aggregate ``MaterializedAgg`` uses
    (``ivm.change_feed_delta`` — the sign comes from that leg's own
    ``_change_type``), the two deltas sum, and the merge is the same
    O(changed groups) keyed-state path: touched groups only, emptied
    groups deleted, exact-DECIMAL totals bit-identical to a
    from-scratch GROUP BY over the join (the pytest invariant).

    Scale shape: leg 1 is O(|Δfact|) (feed ⋈ broadcastable dim); leg 2
    selects only the OLD facts holding a changed dim key
    (``_facts_with`` at the old commit), so it is O(|affected facts|),
    never O(|fact|). Nothing recomputes.
    """

    _marks = ("ja_of_fact_commit", "ja_of_dim_commit")

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
        self._bases = (fact, dim)
        self.join_col = join_col
        self.group_cols = list(group_cols)
        self.sum_col = sum_col
        self.dim_cols = dim_cols
        self.dim_key_cap = int(dim_key_cap)
        self.state = NativeTable(
            spark, state_path, record_keys=list(group_cols),
            precombine=None)

    def _snapshot(self, upto):
        return ivm.aggregate_state(
            self.fact.read_snapshot(as_of=upto[0]).join(
                self._dim_proj(upto[1]), on=self.join_col, how="inner"),
            self.group_cols, self.sum_col)

    def _batch(self, since, upto, owned):
        (f_since, d_since), (f_upto, d_upto) = since, upto
        dim_now = self._dim_proj(d_upto)
        deltas = []
        if f_upto > f_since:
            # leg 1: ΔF ⋈ D_new — the feed's own _change_type signs it
            j1 = self.fact.change_feed(f_since, f_upto).join(
                dim_now, on=self.join_col, how="inner")
            deltas.append(ivm.change_feed_delta(
                j1, self.group_cols, self.sum_col))
        if d_upto > d_since:
            # leg 2: F_old ⋈ ΔD — the DIM feed's _change_type signs it;
            # only old facts holding a changed key participate
            dfd = self.dim.change_feed(d_since, d_upto)
            keys = dfd.select(self.join_col).distinct()
            # an empty key set takes the semi-join, not a lookup
            vals = _bounded_keys(keys, self.dim_key_cap) or None
            f_old = self._facts_with(keys, vals, f_since)
            need = {self.join_col, self.sum_col} | {
                g for g in self.group_cols if g in f_old.columns}
            j2 = dfd.select(*dim_now.columns, "_change_type").join(
                f_old.select(*sorted(need)), on=self.join_col, how="inner")
            deltas.append(ivm.change_feed_delta(
                j2, self.group_cols, self.sum_col))
        delta = deltas[0]
        if len(deltas) > 1:
            delta = delta.unionByName(deltas[1]).groupBy(
                *self.group_cols).agg(
                F.sum("_cnt_d").alias("_cnt_d"),
                F.sum("_sum_d").cast("decimal(28,6)").alias("_sum_d"))
        # both bilinear legs (feed joins + signed aggregates) compute
        # once; the merge's probe/anti-join/write read the O(touched
        # groups) checkpoint (see MaterializedAgg._batch)
        batch = _group_ops(self.state, delta, self.group_cols
                           ).localCheckpoint(eager=False)
        owned.callback(release_checkpoint, batch)
        return batch, None
