"""Streaming materialized view: incremental refresh equals recompute
after every commit; idempotent refresh; atomic overwrite semantics."""

from __future__ import annotations

import pytest

from glue_hudi_spark.operators import ivm
from glue_hudi_spark.storage.native import NativeTable
from glue_hudi_spark.streaming import MaterializedAgg


def _mk(spark, path):
    return NativeTable(spark, path, record_keys=["id"], precombine="seq",
                       partition_keys=[])


def _rows(spark, rows):
    return spark.createDataFrame(
        rows, "id string, grp string, value double, seq int")


def _state(df):
    return {r["grp"]: (r["cnt"], float(r["total"])) for r in df.collect()}


def _recompute(base):
    return _state(ivm.aggregate_state(
        base.read_snapshot(), ["grp"], "value"))


def test_view_tracks_base_across_commits(spark, tmp_path):
    base = _mk(spark, tmp_path / "base")
    view = MaterializedAgg(spark, base, tmp_path / "view", ["grp"], "value")

    base.bulk_insert(_rows(spark, [
        ("a", "g1", 1.0, 1), ("b", "g1", 2.0, 1), ("c", "g2", 5.0, 1)]))
    assert view.refresh() == 1
    assert _state(view.read()) == _recompute(base)

    # incremental: move b, birth g3, delete c (kills g2)
    base.upsert(_rows(spark, [("b", "g3", 7.0, 2)]))
    base.delete(_rows(spark, [("c", "g2", 5.0, 3)]))
    assert view.refresh() == 3
    got = _state(view.read())
    assert got == _recompute(base)
    assert "g2" not in got

    # already fresh → no-op, no new state commit
    n = len(view.state.timeline.history())
    assert view.refresh() is None
    assert len(view.state.timeline.history()) == n


def test_refresh_is_single_atomic_commit(spark, tmp_path):
    base = _mk(spark, tmp_path / "base")
    view = MaterializedAgg(spark, base, tmp_path / "view", ["grp"], "value")
    base.bulk_insert(_rows(spark, [("a", "g1", 1.0, 1)]))
    view.refresh()
    base.upsert(_rows(spark, [("z", "g9", 3.0, 2)]))
    n_before = len(view.state.timeline.history())
    view.refresh()
    hist = view.state.timeline.history()
    assert len(hist) == n_before + 1          # exactly ONE commit per refresh
    # round 10: incremental refreshes are keyed merges (O(changed
    # groups) rewrite), not full-state overwrites
    assert hist[-1].action == "merge"
    assert hist[-1].stats["view_of_commit"] == 2


def test_insert_overwrite_replaces_snapshot(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.bulk_insert(_rows(spark, [("a", "g1", 1.0, 1), ("b", "g2", 2.0, 1)]))
    c = t.insert_overwrite(_rows(spark, [("z", "g9", 9.0, 2)]))
    assert c.action == "insert_overwrite"
    assert {(r["id"], r["grp"]) for r in t.read_snapshot().collect()} == {
        ("z", "g9")}
    # old snapshot still reachable via time travel until cleaned
    assert t.read_snapshot(as_of=1).count() == 2
    # overwrite with EMPTY honored (unlike bulk_insert's no-op)
    t.insert_overwrite(_rows(spark, []).limit(0))
    assert t.read_snapshot().count() == 0


def test_view_attached_to_cdc_stream(spark, tmp_path):
    """End-to-end composition: files land → CdcStream merges → the
    on_batch_merged hook refreshes the view inside the same trigger."""
    from pathlib import Path

    from glue_hudi_spark.config import JobControl
    from glue_hudi_spark.streaming import CdcStream

    ctl = JobControl(
        db_name="db", schema_name="sc", table_name="t",
        primary_key="id", precombine_field="seq", partition_key="")
    raw = tmp_path / "raw"

    def land(df, name):
        stage = str(raw) + "_s_" + name
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        raw.mkdir(parents=True, exist_ok=True)
        for i, p in enumerate(Path(stage).glob("*.parquet")):
            p.rename(raw / f"{name}_{i}.parquet")

    land(_rows(spark, [("a", "g1", 1.0, 1), ("b", "g2", 2.0, 1)]), "B1")
    view_holder = {}

    def hook(table, batch_id):
        if "view" not in view_holder:
            view_holder["view"] = MaterializedAgg(
                spark, table, tmp_path / "view", ["grp"], "value")
        view_holder["view"].refresh()

    stream = CdcStream(spark, ctl, raw, tmp_path / "curated",
                       tmp_path / "ckpt", on_batch_merged=hook)
    stream.run_available()
    assert _state(view_holder["view"].read()) == _recompute(stream.table)

    land(_rows(spark, [("b", "g9", 9.0, 2)]), "B2")
    stream.run_available()
    got = _state(view_holder["view"].read())
    assert got == _recompute(stream.table)
    assert "g9" in got and "g2" not in got


def test_analyze_one_pass_stats(spark, tmp_path):
    t = _mk(spark, tmp_path / "an")
    t.bulk_insert(_rows(spark, [
        ("a", "g1", 1.0, 1), ("b", "g1", 2.0, 1), ("c", None, 3.0, 1)]))
    a = t.analyze(["grp", "value"])
    assert a["row_count"] == 3 and a["as_of_commit"] == 1
    g = a["columns"]["grp"]
    assert g["null_count"] == 1 and g["min"] == "g1" and g["ndv_est"] >= 1
    v = a["columns"]["value"]
    assert (v["min"], v["max"]) == ("1.0", "3.0")
    # persisted for later planning sessions
    import json as _json
    on_disk = _json.loads((t.root / "_stats" / "analyze.json").read_text())
    assert on_disk == a


def test_insert_overwrite_partitions_restates_one_day(spark, tmp_path):
    """Hudi INSERT_OVERWRITE (partition scope): only the batch's
    partitions are replaced; other partitions' files carry over by
    manifest reference, unread and unrewritten."""
    t = NativeTable(spark, tmp_path / "pt", record_keys=["id"],
                    precombine="seq", partition_keys=["day"])
    df = spark.createDataFrame(
        [(f"r{i}", f"d{i % 3}", float(i), 1) for i in range(30)],
        "id string, day string, value double, seq int")
    t.bulk_insert(df)
    before = {f for f in t.timeline.latest().files
              if t._file_partition(f) != ("d1",)}

    restated = spark.createDataFrame(
        [("x1", "d1", 999.0, 2), ("x2", "d1", 998.0, 2)],
        "id string, day string, value double, seq int")
    c = t.insert_overwrite_partitions(restated)
    assert c.stats["partitions_replaced"] == 1
    assert c.stats["files_carried"] == len(before)
    snap = t.read_snapshot()
    assert snap.filter("day = 'd1'").count() == 2          # replaced
    assert snap.filter("day <> 'd1'").count() == 20        # untouched
    # carried files are the SAME physical files (no rewrite)
    after = {f for f in t.timeline.latest().files
             if t._file_partition(f) != ("d1",)}
    assert after == before


def test_partition_overwrite_compacts_mor_deltas_first(spark, tmp_path):
    """Partition-scoped overwrite on a MoR table with live deltas: the
    overwrite commit publishes deltas=[], so un-compacted delta records
    belonging to UNTOUCHED partitions must be folded into base files
    first — silently dropping them is data loss (round-5 advice)."""
    from glue_hudi_spark.storage.native import NativeTable

    t = NativeTable(
        spark, str(tmp_path / "mor_ow"), record_keys=["id"],
        precombine="v", partition_keys=["d"], storage_type="mor",
        compact_every=100,
    )
    t.bulk_insert(spark.createDataFrame(
        [("a", "2024-01-01", 1), ("b", "2024-01-02", 1)],
        "id string, d string, v int"))
    # delta upsert touching BOTH partitions, left un-compacted
    t.upsert(spark.createDataFrame(
        [("a", "2024-01-01", 2), ("b", "2024-01-02", 2)],
        "id string, d string, v int"))
    # restate only 2024-01-01
    t.insert_overwrite_partitions(spark.createDataFrame(
        [("a", "2024-01-01", 9)], "id string, d string, v int"))
    got = {(r["id"], r["v"]) for r in t.read_snapshot().collect()}
    # b's delta record (v=2) survived; a took the restated value
    assert got == {("a", 9), ("b", 2)}


# ---------------------------------------------------------- join views

from glue_hudi_spark.streaming.materialized import MaterializedJoin


def _mk_join_pair(spark, tmp_path):
    fact = NativeTable(spark, tmp_path / "fact", record_keys=["oid"],
                       precombine="seq")
    dim = NativeTable(spark, tmp_path / "dim", record_keys=["ckey"],
                      precombine="seq")
    fact.bulk_insert(spark.createDataFrame(
        [(i, i % 3, float(i), 1) for i in range(12)],
        "oid long, ckey long, amt double, seq int"))
    dim.bulk_insert(spark.createDataFrame(
        [(c, f"cust{c}", 1) for c in range(3)],
        "ckey long, name string, seq int"))
    mj = MaterializedJoin(spark, fact, dim, tmp_path / "mv",
                          join_col="ckey", dim_cols=["name"])
    return fact, dim, mj


def _scratch_join(fact, dim):
    from pyspark.sql import functions as F
    d = dim.read_snapshot().select("ckey", "name")
    return fact.read_snapshot().join(d, on="ckey", how="left")


def _mj_rows(df):
    return {tuple(r) for r in df.select(
        "oid", "ckey", "amt", "name").collect()}


def test_materialized_join_initial_and_fact_deltas(spark, tmp_path):
    fact, dim, mj = _mk_join_pair(spark, tmp_path)
    assert mj.refresh() is not None
    assert _mj_rows(mj.read()) == _mj_rows(_scratch_join(fact, dim))
    # fact insert + update + delete, one refresh
    fact.upsert(spark.createDataFrame(
        [(100, 2, 5.0, 1), (0, 0, 99.0, 2)],
        "oid long, ckey long, amt double, seq int"))
    fact.delete(spark.createDataFrame([(7,)], "oid long"))
    assert mj.refresh() is not None
    got = _mj_rows(mj.read())
    assert got == _mj_rows(_scratch_join(fact, dim))
    assert (100, 2, 5.0, "cust2") in got and (0, 0, 99.0, "cust0") in got
    assert not any(r[0] == 7 for r in got)
    # fresh → no-op
    assert mj.refresh() is None


def test_materialized_join_dim_deltas_touch_only_affected(spark, tmp_path):
    fact, dim, mj = _mk_join_pair(spark, tmp_path)
    mj.refresh()
    # dim rename of ckey=1 → exactly the ckey=1 facts re-emit
    dim.upsert(spark.createDataFrame([(1, "RENAMED", 2)],
                                     "ckey long, name string, seq int"))
    mj.refresh()
    got = _mj_rows(mj.read())
    assert got == _mj_rows(_scratch_join(fact, dim))
    assert all(r[3] == "RENAMED" for r in got if r[1] == 1)
    # the maintenance commit rewrote state rows only for affected keys:
    # its merge batch was the 4 ckey=1 facts, not the full view
    last = mj.state.timeline.latest()
    assert last.action == "merge"


def test_materialized_join_dim_delete_keeps_left_semantics(spark, tmp_path):
    fact, dim, mj = _mk_join_pair(spark, tmp_path)
    mj.refresh()
    dim.delete(spark.createDataFrame([(2,)], "ckey long"))
    mj.refresh()
    got = _mj_rows(mj.read())
    assert got == _mj_rows(_scratch_join(fact, dim))
    # ckey=2 facts survive with NULL name (left join), never dropped
    assert any(r[1] == 2 and r[3] is None for r in got)


def test_materialized_join_mixed_both_sides_and_replay(spark, tmp_path):
    fact, dim, mj = _mk_join_pair(spark, tmp_path)
    mj.refresh()
    fact.upsert(spark.createDataFrame([(1, 2, 50.0, 2)],
                                      "oid long, ckey long, amt double, seq int"))
    dim.upsert(spark.createDataFrame([(2, "BOTH", 2)],
                                     "ckey long, name string, seq int"))
    wm = mj.refresh()
    assert wm is not None
    want = _mj_rows(_scratch_join(fact, dim))
    assert _mj_rows(mj.read()) == want
    # replayed trigger: same watermark → no new state commit
    n = len(mj.state.timeline.history())
    assert mj.refresh() is None
    assert len(mj.state.timeline.history()) == n


# ------------------------------------------- clustered state layout (r10)

def _mk_clustered_pair(spark, tmp_path, **mj_kw):
    """64 facts over 8 dim keys, state clustered by the join column.
    conftest pins shuffle partitions = 4, so the clustered state lands
    as 4 range-files on ckey (≈2 keys per file)."""
    fact = NativeTable(spark, tmp_path / "fact", record_keys=["oid"],
                       precombine="seq")
    dim = NativeTable(spark, tmp_path / "dim", record_keys=["ckey"],
                      precombine="seq")
    fact.bulk_insert(spark.createDataFrame(
        [(i, i % 8, float(i), 1) for i in range(64)],
        "oid long, ckey long, amt double, seq int"))
    dim.bulk_insert(spark.createDataFrame(
        [(c, f"cust{c}", 1) for c in range(8)],
        "ckey long, name string, seq int"))
    mj = MaterializedJoin(spark, fact, dim, tmp_path / "mv",
                          join_col="ckey", dim_cols=["name"],
                          cluster_by="ckey", **mj_kw)
    return fact, dim, mj


def test_clustered_join_view_tracks_both_feeds(spark, tmp_path):
    fact, dim, mj = _mk_clustered_pair(spark, tmp_path)
    mj.refresh()
    assert _mj_rows(mj.read()) == _mj_rows(_scratch_join(fact, dim))
    # fact insert + update + RE-POINT (oid 3 moves ckey 3→7: its state
    # row lives in a file placed by the PRE-image value — the prune set
    # must cover it) + delete, then dim churn, across two refreshes
    fact.upsert(spark.createDataFrame(
        [(200, 5, 9.0, 1), (3, 7, 3.5, 2)],
        "oid long, ckey long, amt double, seq int"))
    fact.delete(spark.createDataFrame([(10,)], "oid long"))
    assert mj.refresh() is not None
    got = _mj_rows(mj.read())
    assert got == _mj_rows(_scratch_join(fact, dim))
    assert (3, 7, 3.5, "cust7") in got and not any(r[0] == 10 for r in got)
    dim.upsert(spark.createDataFrame([(2, "RENAMED", 2)],
                                     "ckey long, name string, seq int"))
    dim.delete(spark.createDataFrame([(6,)], "ckey long"))
    assert mj.refresh() is not None
    got = _mj_rows(mj.read())
    assert got == _mj_rows(_scratch_join(fact, dim))
    assert all(r[3] == "RENAMED" for r in got if r[1] == 2)
    assert any(r[1] == 6 and r[3] is None for r in got)  # left semantics


def test_clustered_join_view_prunes_state_rewrite(spark, tmp_path):
    """Dim churn on 1 of 8 keys: the unclustered layout rewrites every
    state file (facts of one dim key scatter across all of them); the
    clustered layout rewrites only the file(s) whose ckey range admits
    the changed key — the round-9 probe's 32/32 → O(changed keys)."""
    fact, dim, mj = _mk_clustered_pair(spark, tmp_path)
    mj.refresh()
    n_files = len(mj.state.timeline.latest().files)
    assert n_files >= 3  # layout actually spread the state
    dim.upsert(spark.createDataFrame([(0, "X", 2)],
                                     "ckey long, name string, seq int"))
    mj.refresh()
    c = mj.state.timeline.latest()
    assert c.action == "merge"
    assert c.stats["files_rewritten"] <= 2  # not n_files
    assert c.stats["files_rewritten"] + c.stats["files_carried"] >= n_files
    assert _mj_rows(mj.read()) == _mj_rows(_scratch_join(fact, dim))


def test_clustered_join_view_key_cap_falls_back_exact(spark, tmp_path):
    """A window whose join-key set exceeds prune_key_cap disables the
    file prune but the merge stays exact."""
    fact, dim, mj = _mk_clustered_pair(spark, tmp_path, prune_key_cap=1)
    mj.refresh()
    dim.upsert(spark.createDataFrame(
        [(1, "A", 2), (4, "B", 2), (5, "C", 2)],
        "ckey long, name string, seq int"))
    mj.refresh()
    assert _mj_rows(mj.read()) == _mj_rows(_scratch_join(fact, dim))


def test_join_view_empty_window_advances_watermark(spark, tmp_path):
    """A base-head move with zero row changes (bin_pack) publishes a
    metadata-only watermark commit — the converged cadence returns to
    the O(1) early-exit instead of re-scanning the window forever
    (round-9 advice)."""
    fact, dim, mj = _mk_clustered_pair(spark, tmp_path)
    mj.refresh()
    fact.bin_pack()  # head advances, no row changes
    wm = mj.refresh()
    assert wm is not None
    last = mj.state.timeline.latest()
    assert last.action == "watermark"
    assert last.stats["join_of_fact_commit"] == \
        fact.timeline.latest().commit_id
    # converged: next refresh is the cheap no-op
    n = len(mj.state.timeline.history())
    assert mj.refresh() is None
    assert len(mj.state.timeline.history()) == n
    assert _mj_rows(mj.read()) == _mj_rows(_scratch_join(fact, dim))


def test_agg_refresh_rewrites_only_touched_group_files(spark, tmp_path):
    """Round-10 state shape: a narrow base churn touches one group —
    the maintenance merge rewrites only the state files whose group-key
    range admits it, never the whole view (the pre-r10
    insert_overwrite rewrote O(state) files per refresh)."""
    base = NativeTable(spark, tmp_path / "base", record_keys=["id"],
                       precombine="seq")
    base.bulk_insert(spark.createDataFrame(
        [(i, f"g{i % 32:02d}", float(i), 1) for i in range(256)],
        "id long, grp string, value double, seq int"))
    view = MaterializedAgg(spark, base, tmp_path / "view", ["grp"],
                           "value")
    # spread the initial state over several files
    view.state.files_per_partition = 4
    view.refresh()
    n_files = len(view.state.timeline.latest().files)
    assert n_files >= 3
    base.upsert(spark.createDataFrame(
        [(0, "g00", 999.0, 2)], "id long, grp string, value double, seq int"))
    view.refresh()
    c = view.state.timeline.latest()
    assert c.action == "merge"
    assert c.stats["files_rewritten"] <= 2
    assert c.stats["files_rewritten"] + c.stats["files_carried"] >= n_files
    assert _state(view.read()) == _recompute(base)


def test_agg_refresh_deletes_emptied_groups_and_touch(spark, tmp_path):
    base = _mk(spark, tmp_path / "base")
    view = MaterializedAgg(spark, base, tmp_path / "view", ["grp"], "value")
    base.bulk_insert(_rows(spark, [("a", "g1", 1.0, 1), ("b", "g2", 2.0, 1)]))
    view.refresh()
    base.delete(spark.createDataFrame([("b",)], "id string"))
    view.refresh()
    assert _state(view.read()) == _recompute(base)   # g2 gone
    assert "g2" not in _state(view.read())
    # empty window: head moves with zero row changes -> watermark touch
    base.bin_pack()
    assert view.refresh() is not None
    assert view.state.timeline.latest().action == "watermark"
    assert view.refresh() is None  # converged early-exit


def test_join_pending_commits_consistent_before_first_refresh(
        spark, tmp_path):
    """r12 ADVICE materialized.py:244: never-refreshed views must count
    pending base commits the same way the steady state does — SUM of
    both sides (missing watermark = 0), not max — so a 'commit:N'
    trigger fires after the same N combined commits in both states."""
    fact, dim, mj = _mk_join_pair(spark, tmp_path)
    # one bulk_insert each side: fact head 1 + dim head 1
    assert mj.pending_commits() == 2
    fact.upsert(spark.createDataFrame(
        [(200, 1, 3.0, 1)], "oid long, ckey long, amt double, seq int"))
    assert mj.pending_commits() == 3  # 2 + 1, summed pre-watermark
    mj.refresh()
    assert mj.pending_commits() == 0
    dim.upsert(spark.createDataFrame(
        [(1, "one", 2)], "ckey long, name string, seq int"))
    assert mj.pending_commits() == 1  # steady state: same metric


# --------------------------------------------------- aggregate-over-join view

def _mk_ja(spark, tmp_path, **kw):
    from glue_hudi_spark.streaming import MaterializedJoinAgg
    fact = NativeTable(spark, tmp_path / "jf", record_keys=["oid"],
                       precombine="seq", stats_cols=["ckey"])
    dim = NativeTable(spark, tmp_path / "jd", record_keys=["ckey"],
                      precombine="seq")
    fact.bulk_insert(spark.createDataFrame(
        [(i, i % 3, float(i), 1) for i in range(12)],
        "oid long, ckey long, amt double, seq int"))
    dim.bulk_insert(spark.createDataFrame(
        [(c, f"nation{c}", 1) for c in range(3)],
        "ckey long, nation string, seq int"))
    ja = MaterializedJoinAgg(spark, fact, dim, tmp_path / "jv",
                             join_col="ckey", group_cols=["nation"],
                             sum_col="amt", dim_cols=["nation"], **kw)
    return fact, dim, ja


def _ja_recompute(fact, dim):
    j = fact.read_snapshot().join(
        dim.read_snapshot().select("ckey", "nation"),
        on="ckey", how="inner")
    return _state(ivm.aggregate_state(j, ["nation"], "amt")
                  .withColumnRenamed("nation", "grp"))


def _ja_state(ja):
    return _state(ja.read().withColumnRenamed("nation", "grp"))


def test_join_agg_initial_and_fact_deltas(spark, tmp_path):
    fact, dim, ja = _mk_ja(spark, tmp_path)
    assert ja.refresh() is not None
    assert _ja_state(ja) == _ja_recompute(fact, dim)
    # insert, value update, JOIN-KEY repoint, delete — one refresh
    fact.upsert(spark.createDataFrame(
        [(100, 2, 50.0, 1),        # new fact
         (1, 1, 41.0, 2),          # value change, same key
         (3, 2, 3.0, 2)],          # repoint ckey 0 -> 2
        "oid long, ckey long, amt double, seq int"))
    fact.delete(spark.createDataFrame([(6,)], "oid long"))
    assert ja.refresh() is not None
    assert _ja_state(ja) == _ja_recompute(fact, dim)
    # fresh → no-op, no extra state commit
    n = len(ja.state.timeline.history())
    assert ja.refresh() is None
    assert len(ja.state.timeline.history()) == n


def test_join_agg_dim_deltas_rename_and_delete(spark, tmp_path):
    fact, dim, ja = _mk_ja(spark, tmp_path)
    ja.refresh()
    # group RENAME: nation1 -> renamed (all its facts move groups)
    dim.upsert(spark.createDataFrame(
        [(1, "renamed", 2)], "ckey long, nation string, seq int"))
    assert ja.refresh() is not None
    got = _ja_state(ja)
    assert got == _ja_recompute(fact, dim)
    assert "renamed" in got and "nation1" not in got
    # dim DELETE: inner-join semantics — ckey 2's facts drop from view
    dim.delete(spark.createDataFrame([(2,)], "ckey long"))
    assert ja.refresh() is not None
    got = _ja_state(ja)
    assert got == _ja_recompute(fact, dim)
    assert "nation2" not in got


def test_join_agg_mixed_window_both_feeds(spark, tmp_path):
    """Fact churn AND dim churn in ONE refresh window — the bilinear
    delta's cross-term cancellation (ΔF⋈D_new + F_old⋈ΔD) must land
    exactly on the recompute."""
    fact, dim, ja = _mk_ja(spark, tmp_path)
    ja.refresh()
    fact.upsert(spark.createDataFrame(
        [(4, 1, 40.0, 2),          # value change on a dim-churned key
         (200, 1, 7.0, 1)],        # new fact on the churned key
        "oid long, ckey long, amt double, seq int"))
    dim.upsert(spark.createDataFrame(
        [(1, "moved", 2)], "ckey long, nation string, seq int"))
    fact.delete(spark.createDataFrame([(10,)], "oid long"))
    assert ja.refresh() is not None
    assert _ja_state(ja) == _ja_recompute(fact, dim)


def test_join_agg_single_atomic_merge_commit(spark, tmp_path):
    fact, dim, ja = _mk_ja(spark, tmp_path)
    ja.refresh()
    fact.upsert(spark.createDataFrame(
        [(300, 0, 9.0, 1)], "oid long, ckey long, amt double, seq int"))
    n = len(ja.state.timeline.history())
    ja.refresh()
    hist = ja.state.timeline.history()
    assert len(hist) == n + 1 and hist[-1].action == "merge"
    assert hist[-1].stats["ja_of_fact_commit"] == \
        fact.timeline.latest().commit_id


def test_join_agg_pending_commits_and_empty_window(spark, tmp_path):
    fact, dim, ja = _mk_ja(spark, tmp_path)
    assert ja.pending_commits() == 2       # never refreshed: both heads
    ja.refresh()
    assert ja.pending_commits() == 0
    # dim churn touching NO fact (new dim key): watermark still advances
    dim.upsert(spark.createDataFrame(
        [(99, "ghost", 1)], "ckey long, nation string, seq int"))
    assert ja.pending_commits() == 1
    assert ja.refresh() is not None
    assert ja.pending_commits() == 0
    assert _ja_state(ja) == _ja_recompute(fact, dim)


import random

import pytest


@pytest.mark.parametrize("seed", [11, 202, 4040])
def test_join_agg_random_churn_property(spark, tmp_path, seed):
    """Seeded-random churn property for the bilinear-delta algebra:
    arbitrary interleavings of fact upserts (value changes + join-key
    repoints + inserts), fact deletes, dim attribute renames, dim
    inserts and deletes — with a refresh after every wave — must keep
    the maintained state equal to the from-scratch GROUP BY over the
    inner join, wave after wave."""
    from glue_hudi_spark.streaming import MaterializedJoinAgg
    rng = random.Random(seed)
    fact = NativeTable(spark, tmp_path / "pf", record_keys=["oid"],
                       precombine="seq", stats_cols=["ckey"])
    dim = NativeTable(spark, tmp_path / "pd", record_keys=["ckey"],
                      precombine="seq")
    fact.bulk_insert(spark.createDataFrame(
        [(i, i % 4, float(rng.randrange(100)), 1) for i in range(20)],
        "oid long, ckey long, amt double, seq int"))
    dim.bulk_insert(spark.createDataFrame(
        [(c, f"g{c}", 1) for c in range(4)],
        "ckey long, nation string, seq int"))
    ja = MaterializedJoinAgg(spark, fact, dim, tmp_path / "pv",
                             join_col="ckey", group_cols=["nation"],
                             sum_col="amt", dim_cols=["nation"])
    ja.refresh()
    next_oid, seq = 100, 2
    live_dim = set(range(4))
    for wave in range(4):
        # fact churn: a few upserts (mix of repoints/new/changed values)
        ups = []
        for _ in range(rng.randrange(1, 5)):
            if rng.random() < 0.4:
                oid, next_oid = next_oid, next_oid + 1   # insert
            else:
                oid = rng.randrange(20)                  # update
            ups.append((oid, rng.randrange(6),           # may dangle
                        float(rng.randrange(100)), seq))
        seq += 1
        fact.upsert(spark.createDataFrame(
            ups, "oid long, ckey long, amt double, seq int"))
        if rng.random() < 0.7:
            fact.delete(spark.createDataFrame(
                [(rng.randrange(20),)], "oid long"))
        # dim churn: rename / insert / delete
        r = rng.random()
        if r < 0.4 and live_dim:
            ck = rng.choice(sorted(live_dim))
            dim.upsert(spark.createDataFrame(
                [(ck, f"g{ck}w{wave}", seq)],
                "ckey long, nation string, seq int"))
        elif r < 0.7:
            ck = 4 + wave
            dim.upsert(spark.createDataFrame(
                [(ck, f"new{ck}", seq)],
                "ckey long, nation string, seq int"))
            live_dim.add(ck)
        elif live_dim:
            ck = rng.choice(sorted(live_dim))
            dim.delete(spark.createDataFrame([(ck,)], "ckey long"))
            live_dim.discard(ck)
        seq += 1
        assert ja.refresh() is not None
        assert _ja_state(ja) == _ja_recompute(fact, dim), \
            f"seed {seed} wave {wave} diverged"


@pytest.mark.parametrize("kind", ["join", "join_agg"])
def test_failed_state_merge_releases_refresh_storage(
        spark, tmp_path, monkeypatch, persistent_rdds, kind):
    """A refresh whose state merge fails (OCC conflict, write error)
    must still release the window's batch checkpoint and the persisted
    fact feed — not leave them for ContextCleaner GC."""
    if kind == "join":
        fact, _, view = _mk_clustered_pair(spark, tmp_path)
    else:
        fact, _, view = _mk_ja(spark, tmp_path)
    view.refresh()
    fact.upsert(spark.createDataFrame(
        [(200, 1, 9.0, 1)], "oid long, ckey long, amt double, seq int"))
    before = persistent_rdds()

    def boom(*a, **kw):
        raise RuntimeError("injected state-merge failure")

    monkeypatch.setattr(view.state, "merge", boom)
    with pytest.raises(RuntimeError, match="injected"):
        view.refresh()
    assert persistent_rdds() <= before
