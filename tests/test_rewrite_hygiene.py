"""Error-path and same-handle hygiene of the keyed write paths.

Every keyed write (upsert, partial upsert, delete, merge, merge_into and
the deletion-vector deletes) persists the batch for the extra actions it
runs over it (bloom probe, tombstone write), and the delete paths — MoR
delta appends included — land ``_changes/`` tombstones before their
data. These tests pin that a write failing after that leaves nothing
behind: no pinned frame, no new commit, no orphan file, and the next
writer proceeds — and that two calls sharing one table handle each
release their OWN persisted frame.
"""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from glue_hudi_spark.storage.native import NativeTable


def _table(spark, path, **kw):
    t = NativeTable(spark, path, record_keys=["id"], precombine="seq",
                    files_per_partition=4, bloom_index=True,
                    change_feed_deletes=True, **kw)
    t.bulk_insert(spark.createDataFrame(
        [(f"k{i:03d}", f"v{i}", 1) for i in range(40)],
        "id string, v string, seq int"))
    return t


def _batch(spark, keys, seq=2):
    return spark.createDataFrame(
        [(k, "new", seq) for k in keys], "id string, v string, seq int")


def _upsert(spark, t):
    return t.upsert(_batch(spark, ["k005", "k017"]))


def _partial(spark, t):
    return t.upsert(spark.createDataFrame(
        [("k005", None, 2)], "id string, v string, seq int"), partial=True)


def _delete(spark, t):
    return t.delete(_batch(spark, ["k005", "k017"]))


def _merge(spark, t):
    return t.merge(spark.createDataFrame(
        [("k005", "upd", 2, "U"), ("k017", "", 2, "D")],
        "id string, v string, seq int, op string"), op_col="op")


def _merge_into(spark, t):
    return t.merge_into(_batch(spark, ["k005", "k099"]),
                        when_matched_update="*")


def _delete_where(spark, t):
    return t.delete_where(F.col("id").isin("k005", "k017"))


_DV = {"deletion_vectors": True}
_MOR = {"storage_type": "mor"}


@pytest.mark.parametrize("write, kw", [
    (_upsert, {}), (_partial, {}), (_delete, {}), (_merge, {}),
    (_merge_into, {}), (_delete, _DV), (_delete_where, _DV),
    (_upsert, _MOR), (_delete, _MOR), (_merge, _MOR),
], ids=["upsert", "partial", "delete", "merge", "merge_into", "dv_delete",
        "dv_delete_where", "mor_upsert", "mor_delete", "mor_merge"])
def test_failed_write_leaves_no_trace(spark, tmp_path, monkeypatch,
                                     persistent_rdds, write, kw):
    t = _table(spark, tmp_path / "t", **kw)
    head = t.timeline.latest()
    before = persistent_rdds()

    def boom(*_a, **_kw):
        raise RuntimeError("injected write failure")

    monkeypatch.setattr(
        t, "_write_dv_sidecar" if kw is _DV else "_write_files", boom)
    with pytest.raises(RuntimeError, match="injected"):
        write(spark, t)
    monkeypatch.undo()
    assert persistent_rdds() <= before
    assert t.timeline.latest().commit_id == head.commit_id
    rep = t.validate()
    assert rep["ok"], rep
    c = t.upsert(_batch(spark, ["k001"], seq=3))
    assert c.commit_id > head.commit_id
    assert t.read_snapshot().count() == 40


def test_same_handle_upserts_release_their_own_frames(
        spark, tmp_path, monkeypatch):
    """Two threads upsert through ONE handle; thread B persists its
    batch after thread A has, then A fails inside the data write. A's
    persisted frame must not outlive A's call — it may not be mistaken
    for B's (nor B's released in its place)."""
    t = _table(spark, tmp_path / "t")
    a_probing, b_probing, a_finished = (threading.Event() for _ in range(3))
    frames: dict[str, object] = {}
    real_bloom, real_write = t._prune_by_bloom, t._write_files

    def bloom(files, keyed, key_stats=None):
        name = threading.current_thread().name
        frames[name] = keyed  # the frame this call persisted
        if name == "A":
            a_probing.set()
            assert b_probing.wait(120)
        else:
            b_probing.set()
            assert a_finished.wait(120)
        return real_bloom(files, keyed, key_stats)

    def write(*a, **kw):
        if threading.current_thread().name == "A":
            raise RuntimeError("injected write failure")
        return real_write(*a, **kw)

    monkeypatch.setattr(t, "_prune_by_bloom", bloom)
    monkeypatch.setattr(t, "_write_files", write)
    outcome: dict[str, object] = {}

    def run(name, keys):
        try:
            outcome[name] = t.upsert(_batch(spark, keys))
        except Exception as e:  # noqa: BLE001 - recorded for the asserts
            outcome[name] = e

    ta = threading.Thread(target=run, name="A", args=("A", ["k005", "k017"]))
    tb = threading.Thread(target=run, name="B", args=("B", ["k009", "k030"]))
    ta.start()
    assert a_probing.wait(120)
    tb.start()
    ta.join(120)
    assert not ta.is_alive()
    a_level = frames["A"].storageLevel
    a_finished.set()
    tb.join(120)
    assert not tb.is_alive()
    assert isinstance(outcome["A"], RuntimeError)
    assert not (a_level.useMemory or a_level.useDisk), \
        "thread A's persisted batch outlived its failed call"
    b_level = frames["B"].storageLevel
    assert not (b_level.useMemory or b_level.useDisk)
    assert outcome["B"].action == "upsert"
    got = {r["id"]: r["v"] for r in t.read_snapshot().collect()}
    assert got["k009"] == got["k030"] == "new"
    assert got["k005"] == "v5"
