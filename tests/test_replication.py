"""Table→table replication stream: incremental sync, transform
projection, replay idempotence, delete reconciliation."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from glue_hudi_spark.storage.native import NativeTable
from glue_hudi_spark.streaming.replicate import TableReplicationStream


def _rows(spark, rows):
    return spark.createDataFrame([Row(**r) for r in rows])


def _mk(spark, path, **kw):
    kw.setdefault("change_feed_deletes", True)  # CDF opt-in, Delta-style
    return NativeTable(spark, path, record_keys=["id"], precombine="seq",
                       **kw)


def test_replication_tails_source_commits(spark, tmp_path):
    src = _mk(spark, tmp_path / "src")
    src.bulk_insert(_rows(spark, [dict(id=f"k{i}", v=float(i), seq=1)
                                  for i in range(20)]))
    dest = _mk(spark, tmp_path / "dest")
    rep = TableReplicationStream(
        spark, src.root, dest, tmp_path / "ckpt")
    rep.run_available()
    assert dest.read_snapshot().count() == 20

    # upstream change + new key flow through on the next drain
    src.upsert(_rows(spark, [dict(id="k0", v=99.0, seq=2),
                             dict(id="new", v=1.0, seq=1)]))
    rep.run_available()
    snap = {r["id"]: r["v"] for r in dest.read_snapshot().collect()}
    assert len(snap) == 21 and snap["k0"] == 99.0 and snap["new"] == 1.0

    # nothing pending -> no new destination commit
    n = len(dest.timeline.history())
    rep.run_available()
    assert len(dest.timeline.history()) == n


def test_replication_replay_is_idempotent(spark, tmp_path):
    src = _mk(spark, tmp_path / "src")
    src.bulk_insert(_rows(spark, [dict(id="a", v=1.0, seq=1)]))
    dest = _mk(spark, tmp_path / "dest")
    rep = TableReplicationStream(spark, src.root, dest, tmp_path / "ckpt")
    rep.run_available()
    n = len(dest.timeline.history())
    # simulate an at-least-once re-delivery of an applied batch id
    batch = _rows(spark, [dict(id="ghost", v=9.0, seq=1)])
    rep._apply_batch(batch, 0)
    assert len(dest.timeline.history()) == n
    assert "ghost" not in {r["id"] for r in dest.read_snapshot().collect()}


def test_replication_transform_projects(spark, tmp_path):
    """The replica can be a masked/narrowed view of the source."""
    src = _mk(spark, tmp_path / "src")
    src.bulk_insert(_rows(spark, [dict(id="a", v=7.0, seq=1)]))
    dest = _mk(spark, tmp_path / "dest")
    rep = TableReplicationStream(
        spark, src.root, dest, tmp_path / "ckpt",
        transform=lambda df: df.withColumn("v", F.lit(0.0)))
    rep.run_available()
    assert dest.read_snapshot().first()["v"] == 0.0


def test_replication_deletes_arrive_in_stream(spark, tmp_path):
    """Upstream deletes reach the replica through the change feed's
    tombstone rows — no reconciliation scan; sync_deletes then finds
    nothing (consistency check passes)."""
    src = _mk(spark, tmp_path / "src")
    src.bulk_insert(_rows(spark, [dict(id=f"k{i}", v=1.0, seq=1)
                                  for i in range(10)]))
    dest = _mk(spark, tmp_path / "dest")
    rep = TableReplicationStream(spark, src.root, dest, tmp_path / "ckpt")
    rep.run_available()
    assert dest.read_snapshot().count() == 10
    src.delete(_rows(spark, [dict(id="k3", v=1.0, seq=1)]).select("id"))
    rep.run_available()
    assert {r["id"] for r in dest.read_snapshot().collect()} == {
        f"k{i}" for i in range(10) if i != 3}
    assert rep.sync_deletes() == 0


def test_replication_delete_then_reinsert_resolves_by_commit(spark, tmp_path):
    """A key deleted then reinserted inside one drained range must land
    as its newest version, not as a delete (per-key commit-time
    resolution)."""
    src = _mk(spark, tmp_path / "src")
    src.bulk_insert(_rows(spark, [dict(id="a", v=1.0, seq=1)]))
    dest = _mk(spark, tmp_path / "dest")
    rep = TableReplicationStream(spark, src.root, dest, tmp_path / "ckpt")
    rep.run_available()
    src.delete(_rows(spark, [dict(id="a", v=1.0, seq=1)]).select("id"))
    src.upsert(_rows(spark, [dict(id="a", v=42.0, seq=2)]))
    rep.run_available()
    rows = {r["id"]: r["v"] for r in dest.read_snapshot().collect()}
    assert rows == {"a": 42.0}
    # and the mirror order: update then delete -> gone
    src.upsert(_rows(spark, [dict(id="a", v=43.0, seq=3)]))
    src.delete(_rows(spark, [dict(id="a", v=0.0, seq=3)]).select("id"))
    rep.run_available()
    assert dest.read_snapshot().count() == 0


def test_replication_sync_deletes_every_fires_on_empty_batch(spark, tmp_path):
    """Fallback path: a source written with change_feed_deletes=False has
    no tombstones, so a delete-only commit arrives as an EMPTY
    micro-batch — the sync_deletes_every cadence must still fire (gating
    it behind the data write would silently disable the fallback for
    delete-heavy workloads)."""
    src = _mk(spark, tmp_path / "src", change_feed_deletes=False)
    src.bulk_insert(_rows(spark, [dict(id=f"k{i}", v=1.0, seq=1)
                                  for i in range(6)]))
    dest = _mk(spark, tmp_path / "dest")
    rep = TableReplicationStream(
        spark, src.root, dest, tmp_path / "ckpt", sync_deletes_every=1)
    rep.run_available()
    assert dest.read_snapshot().count() == 6
    # delete-only commit: no upserted rows, so the next drained micro-batch
    # carries zero rows — the cadence alone must propagate the delete
    src.delete(_rows(spark, [dict(id="k2", v=1.0, seq=1)]).select("id"))
    rep.run_available()
    assert {r["id"] for r in dest.read_snapshot().collect()} == {
        f"k{i}" for i in range(6) if i != 2}


def test_replication_converges_under_random_cdc(spark, tmp_path):
    """Property: for ANY sequence of random upsert/delete batches on the
    source, drain + reconcile leaves the replica equal to the source
    snapshot (the convergence contract a downstream sync must hold)."""
    import random

    rnd = random.Random(7)
    src = _mk(spark, tmp_path / "src")
    src.bulk_insert(_rows(spark, [
        dict(id=f"k{i:02d}", v=float(i), seq=0) for i in range(30)]))
    dest = _mk(spark, tmp_path / "dest")
    rep = TableReplicationStream(spark, src.root, dest, tmp_path / "ckpt")

    for step in range(1, 4):
        ups = [dict(id=f"k{rnd.randrange(40):02d}", v=rnd.random() * 100,
                    seq=step) for _ in range(rnd.randrange(1, 8))]
        # in-batch dedup mirror of precombine (max seq ties -> max v wins
        # is irrelevant here: one seq per step, keep last per key)
        ups = list({u["id"]: u for u in ups}.values())
        src.upsert(_rows(spark, ups))
        live = {r["id"] for r in src.read_snapshot().collect()}
        dels = [k for k in sorted(live) if rnd.random() < 0.15]
        if dels:
            src.delete(spark.createDataFrame([(k,) for k in dels],
                                             "id string"))
        rep.run_available()
        # in-stream tombstones make the drain complete on its own: the
        # reconciliation consistency check must find NOTHING to fix
        assert rep.sync_deletes() == 0
        got = {(r["id"], round(r["v"], 9)) for r in dest.read_snapshot().collect()}
        want = {(r["id"], round(r["v"], 9)) for r in src.read_snapshot().collect()}
        assert got == want, f"diverged at step {step}"


def test_sync_deletes_checksum_gate_skips_join_when_converged(
        spark, tmp_path):
    """A converged replica's cadence pays only the two 1-row checksum
    aggregates (operators.recon) — the full key anti-join runs only when
    the key sets actually differ, and still finds + fixes the drift."""
    src = _mk(spark, tmp_path / "src", change_feed_deletes=False)
    src.bulk_insert(_rows(spark, [dict(id=f"k{i}", v=1.0, seq=1)
                                  for i in range(8)]))
    dest = _mk(spark, tmp_path / "dest")
    rep = TableReplicationStream(spark, src.root, dest, tmp_path / "ckpt")
    rep.run_available()
    # converged: gate matches, join skipped
    assert rep.sync_deletes() == 0
    assert rep.last_sync_skipped_join is True
    # upstream delete with NO tombstone feed: key sets now differ — the
    # gate opens, the anti-join runs and propagates the delete
    src.delete(_rows(spark, [dict(id="k5", v=1.0, seq=1)]).select("id"))
    assert rep.sync_deletes() == 1
    assert rep.last_sync_skipped_join is False
    assert {r["id"] for r in dest.read_snapshot().collect()} == {
        f"k{i}" for i in range(8) if i != 5}
    # and converged again afterwards
    assert rep.sync_deletes() == 0
    assert rep.last_sync_skipped_join is True


def test_drain_starts_no_streaming_query(spark, tmp_path, monkeypatch):
    """A drain is a plain batch loop: no Structured Streaming query is
    started, the checkpoint directory is never written, and the
    watermark commits inside the merge's own stats."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    def no_stream(*a, **kw):
        raise AssertionError("a drain started a streaming query")

    monkeypatch.setattr(DataStreamWriter, "start", no_stream)
    src = _mk(spark, tmp_path / "src")
    src.bulk_insert(_rows(spark, [dict(id=f"k{i}", v=1.0, seq=1)
                                  for i in range(5)]))
    dest = _mk(spark, tmp_path / "dest")
    rep = TableReplicationStream(spark, src.root, dest, tmp_path / "ckpt")
    rep.run_available()
    src.upsert(_rows(spark, [dict(id="k9", v=2.0, seq=2)]))
    rep.run_available()
    assert spark.streams.active == []
    assert not (tmp_path / "ckpt").exists()
    assert dest.read_snapshot().count() == 6
    head = dest.timeline.latest()
    assert head.stats["replicated_through"] == \
        src.timeline.latest().commit_id
    assert head.stats["stream_batch_id"] == 1


def test_failed_merge_keeps_watermark_and_next_drain_converges(
        spark, tmp_path, monkeypatch):
    """A drain whose destination merge raises publishes nothing: the
    replica head and watermark stay put, and the next drain re-plans
    the same range and lands it in exactly one commit."""
    src = _mk(spark, tmp_path / "src")
    src.bulk_insert(_rows(spark, [dict(id=f"k{i}", v=1.0, seq=1)
                                  for i in range(6)]))
    dest = _mk(spark, tmp_path / "dest")
    rep = TableReplicationStream(spark, src.root, dest, tmp_path / "ckpt")
    rep.run_available()
    src.upsert(_rows(spark, [dict(id="k0", v=5.0, seq=2)]))
    src.delete(_rows(spark, [dict(id="k1", v=1.0, seq=2)]).select("id"))
    head, mark = dest.timeline.latest().commit_id, rep._watermark()

    def boom(*a, **kw):
        raise RuntimeError("injected merge failure")

    monkeypatch.setattr(dest, "merge", boom)
    with pytest.raises(RuntimeError, match="injected"):
        rep.run_available()
    monkeypatch.undo()
    assert dest.timeline.latest().commit_id == head
    assert rep._watermark() == mark
    n = len(dest.timeline.history())
    rep.run_available()
    assert len(dest.timeline.history()) == n + 1
    got = {(r["id"], r["v"]) for r in dest.read_snapshot().collect()}
    want = {(r["id"], r["v"]) for r in src.read_snapshot().collect()}
    assert got == want and ("k0", 5.0) in got


def test_drain_over_cleaned_commit_raises(spark, tmp_path):
    """Tombstones are retention-bounded: a range whose middle commits'
    manifests were cleaned must raise, not silently drop deletes."""
    src = _mk(spark, tmp_path / "src", retain_commits=2)
    src.bulk_insert(_rows(spark, [dict(id="a", v=1.0, seq=1)]))
    dest = _mk(spark, tmp_path / "dest")
    rep = TableReplicationStream(spark, src.root, dest, tmp_path / "ckpt")
    rep.run_available()
    for i in range(4):  # roll the retention window past the watermark
        src.upsert(_rows(spark, [dict(id=f"k{i}", v=1.0, seq=1)]))
    assert src.timeline.at(2) is None
    assert src.timeline.latest().commit_id > 3
    with pytest.raises(ValueError, match="no longer retained"):
        rep.run_available()


def test_drain_that_merges_nothing_still_moves_watermark(spark, tmp_path):
    """A range with no row to apply — a source commit that changed no
    row, or rows the transform filters away — records the watermark in
    a metadata-only commit, so the next drain does not re-plan it; an
    empty replica with nothing to apply stays empty."""
    src = _mk(spark, tmp_path / "src")
    src.bulk_insert(_rows(spark, [dict(id="a", v=1.0, seq=1)]))
    dest = _mk(spark, tmp_path / "dest")
    rep = TableReplicationStream(
        spark, src.root, dest, tmp_path / "ckpt",
        transform=lambda df: df.filter(F.col("v") < 100.0))
    rep.run_available()
    assert dest.read_snapshot().count() == 1
    for change in (lambda: src.touch(),
                   lambda: src.upsert(_rows(spark, [
                       dict(id="a", v=500.0, seq=2)]))):
        change()
        rep.run_available()
        head = dest.timeline.latest()
        assert head.action == "touch"
        assert head.stats["replicated_through"] == \
            src.timeline.latest().commit_id
        n = len(dest.timeline.history())
        rep.run_available()
        assert len(dest.timeline.history()) == n
    assert dest.read_snapshot().first()["v"] == 1.0
    empty = _mk(spark, tmp_path / "empty")
    TableReplicationStream(
        spark, src.root, empty, tmp_path / "ck2",
        starting_commit=src.timeline.latest().commit_id - 1,
        transform=lambda df: df.filter(F.col("v") < 100.0)).run_available()
    assert not empty.exists()


def test_sync_deletes_on_mor_source_with_pending_deltas(spark, tmp_path):
    """The source-key read serves a MoR source whose delete is still an
    uncompacted delta: the replica converges on the source's keys."""
    src = _mk(spark, tmp_path / "src", storage_type="mor",
              compact_every=100)
    src.bulk_insert(_rows(spark, [dict(id=f"k{i}", v=1.0, seq=1)
                                  for i in range(4)]))
    src.delete(_rows(spark, [dict(id="k1", v=1.0, seq=2)]))
    assert src.timeline.latest().deltas
    dest = _mk(spark, tmp_path / "dest")
    rep = TableReplicationStream(spark, src.root, dest, tmp_path / "ckpt")
    rep.run_available()
    assert rep.sync_deletes() == 0
    assert sorted(r["id"] for r in dest.read_snapshot().collect()) == \
        ["k0", "k2", "k3"]
