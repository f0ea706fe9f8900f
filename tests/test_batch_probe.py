"""The merge paths' folded emptiness/key-hull probe (_batch_probe).

Round-13 optimization: upsert/delete/merge on the CoW and DV routes
decide emptiness AND the record-key hull in ONE key-only aggregate,
instead of a take-1 ``isEmpty`` job plus a separate min/max aggregate —
each of which executed the batch derivation again. These tests pin the
probe's contract and the empty-batch no-op semantics of every public
entry point that now relies on it.
"""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from glue_hudi_spark.storage.native import NativeTable, _plan_is_deterministic


def _mk(spark, path, **kw):
    kw.setdefault("record_keys", ["id"])
    kw.setdefault("precombine", "seq")
    kw.setdefault("partition_keys", [])
    return NativeTable(spark, path, **kw)


def _rows(spark, rows):
    return spark.createDataFrame([Row(**r) for r in rows])


def test_probe_count_and_hull(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    batch = _rows(spark, [
        dict(id=5, v="a", seq=1), dict(id=1, v="b", seq=1),
        dict(id=9, v="c", seq=1), dict(id=5, v="d", seq=2),
    ])
    n, hull, touched = t._batch_probe(batch)
    assert n == 4  # counts every row, duplicates included
    assert hull == ("1", "9")  # record_key_expr casts to string
    assert touched is None  # not requested


def test_probe_matches_batch_key_range(spark, tmp_table_dir):
    """The folded hull must equal the standalone _batch_key_range — the
    pruning decision is unchanged by the fold."""
    t = _mk(spark, tmp_table_dir)
    batch = _rows(spark, [dict(id=i * 3 % 7, v="x", seq=1)
                          for i in range(1, 7)])
    _, hull, _ = t._batch_probe(batch)
    assert hull == t._batch_key_range(batch)


def test_probe_empty_and_missing_keys(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    empty = _rows(spark, [dict(id=1, v="x", seq=1)]).filter(F.lit(False))
    assert t._batch_probe(empty) == (0, None, None)
    # batch without the record-key column: probe declines, caller falls
    # back to the legacy isEmpty path
    keyless = _rows(spark, [dict(v="x", seq=1)])
    assert t._batch_probe(keyless) is None


def test_empty_batches_are_noops_on_live_table(spark, tmp_table_dir):
    """Empty upsert/delete/merge against a table WITH history publish
    nothing — the folded probe preserves the no-op contract on every
    rewritten route (CoW, DV, op-col merge)."""
    t = _mk(spark, tmp_table_dir)
    t.bulk_insert(_rows(spark, [dict(id=i, v="old", seq=1)
                                for i in range(4)]))
    empty = _rows(spark, [dict(id=1, v="x", seq=1)]).filter(F.lit(False))
    assert t.upsert(empty) is None
    assert t.delete(empty.select("id")) is None
    empty_ops = _rows(
        spark, [dict(id=1, v="x", seq=1, op="U")]).filter(F.lit(False))
    assert t.merge(empty_ops, op_col="op") is None
    assert len(t.timeline.history()) == 1  # bulk_insert only

    dv = _mk(spark, tmp_table_dir / "dv", deletion_vectors=True)
    dv.bulk_insert(_rows(spark, [dict(id=i, v="old", seq=1)
                                 for i in range(4)]))
    assert dv.delete(empty.select("id")) is None
    assert len(dv.timeline.history()) == 1


def test_upsert_results_unchanged_by_fold(spark, tmp_table_dir):
    """End-to-end: the folded probe prunes identically — a narrow-key
    upsert against a multi-file layout rewrites only the hull's files
    and the final state matches the naive expectation."""
    t = _mk(spark, tmp_table_dir, files_per_partition=4)
    t.bulk_insert(_rows(spark, [dict(id=i, v="old", seq=1)
                                for i in range(40)]))
    prev = t.timeline.latest()
    assert len(prev.files) == 4
    c = t.upsert(_rows(spark, [dict(id=2, v="new", seq=2),
                               dict(id=3, v="new", seq=2)]))
    # the narrow batch's hull ("2".."3" as strings, covering the
    # "2x"/"3x" lexicographic range) prunes the other files out
    affected, skipped = t._prune_by_key_range(
        prev.files, prev.key_stats, t._batch_key_range(
            _rows(spark, [dict(id=2, v="new", seq=2),
                          dict(id=3, v="new", seq=2)])))
    assert c.stats["files_rewritten"] == len(affected) < 4
    got = {r["id"]: r["v"] for r in t.read_snapshot().collect()}
    assert got[2] == "new" and got[3] == "new" and got[0] == "old"
    assert len(got) == 40


def test_probe_touched_partitions_match_batch_partitions(spark, tmp_table_dir):
    """With want_partitions the probe's collect_set(struct) must equal
    _batch_partitions' distinct-collect — including null partition
    values — so the folded aggregate prunes identically."""
    t = _mk(spark, tmp_table_dir, partition_keys=["pt"])
    batch = _rows(spark, [
        dict(id=1, v="a", seq=1, pt="x"), dict(id=2, v="b", seq=1, pt="y"),
        dict(id=3, v="c", seq=1, pt="x"), dict(id=4, v="d", seq=1, pt=None),
    ])
    n, hull, touched = t._batch_probe(batch, want_partitions=True)
    assert n == 4
    assert touched == t._batch_partitions(batch)
    # batch without the partition source column: probe degrades to
    # touched=None (cannot prune), key probe still answered
    nop = batch.drop("pt")
    n2, hull2, touched2 = t._batch_probe(nop, want_partitions=True)
    assert (n2, touched2) == (4, None) and hull2 == hull


def test_plan_determinism_detection(spark):
    """The merge guard's detector: plain scans/joins/windows/aggregates
    must read as deterministic (so the cheap unpersisted probe path
    stays on — a False here after a Spark upgrade means EVERY merge
    batch silently persists, the 2-3x regression round 13 reverted);
    rand/monotonically_increasing_id derivations must read as
    non-deterministic (the correctness hazard the persist closes)."""
    from pyspark.sql import Window

    base = spark.range(50).select(
        F.col("id"), (F.col("id") % 5).alias("g"))
    w = Window.partitionBy("g").orderBy("id")
    assert _plan_is_deterministic(base)
    assert _plan_is_deterministic(base.withColumn("rn", F.row_number().over(w)))
    assert _plan_is_deterministic(
        base.groupBy("g").agg(F.collect_set("id").alias("s")))
    assert _plan_is_deterministic(base.join(base.select("id"), "id"))
    assert not _plan_is_deterministic(base.withColumn("r", F.rand()))
    assert not _plan_is_deterministic(
        base.withColumn("m", F.monotonically_increasing_id()))
    # input_file_name is row-stable on immutable committed files — the
    # engine derives _ghs_commit_time from it in every change-feed read,
    # so flagging it would persist every MV-maintenance merge batch
    assert _plan_is_deterministic(
        base.withColumn("f", F.regexp_extract(
            F.input_file_name(), r"data/(\d+)", 1)))
    # ...but it must not mask a real hazard elsewhere in the plan
    assert not _plan_is_deterministic(
        base.withColumn("f", F.input_file_name())
        .withColumn("r", F.rand()))
    # a node non-deterministic in its own right stays a culprit even
    # when its children are non-deterministic too
    assert not _plan_is_deterministic(
        base.withColumn("f", F.shuffle(F.array(F.input_file_name()))))


def test_nondeterministic_batch_merges_consistently(spark, tmp_table_dir):
    """A batch whose derivation rolls fresh randomness per execution
    must still produce a consistent table: the guard materializes it
    once, so the probe's pruning, the anti-join and the write leg all
    see the SAME rows (no stale copies / duplicate keys)."""
    import time

    def persistent():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    def settled():
        n = persistent()
        for _ in range(20):
            time.sleep(0.1)
            m = persistent()
            if m == n:
                return m
            n = m
        return n

    before = settled()
    t = _mk(spark, tmp_table_dir, files_per_partition=4)
    t.bulk_insert(_rows(spark, [dict(id=i, v="old", seq=1)
                                for i in range(40)]))
    # keys drawn via rand(): unpersisted, every pass would re-roll them
    nd = (spark.range(200)
          .select((F.floor(F.rand() * 40)).cast("long").alias("id"))
          .groupBy("id").agg(F.count(F.lit(1)).alias("n"))
          .select("id", F.lit("new").alias("v"), F.lit(2).alias("seq")))
    t.upsert(nd)
    got = [(r["id"], r["v"]) for r in t.read_snapshot().collect()]
    assert len(got) == 40  # one row per key: no duplicates, none lost
    assert len({k for k, _ in got}) == 40
    # storage hygiene: the guard's persist was released
    assert settled() <= before


def test_partitioned_merge_prunes_with_folded_probe(spark, tmp_table_dir):
    """End-to-end on a partitioned table: an upsert touching one
    partition must carry the other partition's files by reference."""
    t = _mk(spark, tmp_table_dir, partition_keys=["pt"])
    t.bulk_insert(_rows(spark, [
        dict(id=i, v="old", seq=1, pt="a" if i < 5 else "b")
        for i in range(10)]))
    c = t.upsert(_rows(spark, [dict(id=1, v="new", seq=2, pt="a")]))
    assert c.stats["files_carried"] >= 1  # partition b untouched
    got = {r["id"]: r["v"] for r in t.read_snapshot().collect()}
    assert got[1] == "new" and got[7] == "old" and len(got) == 10
