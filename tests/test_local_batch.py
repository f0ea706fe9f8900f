"""Small keyed batches held on the driver (``native.local_batch``).

A batch whose estimated size fits ``LOCAL_BATCH_MAX_BYTES`` is derived
once and rebuilt on the JVM as a ``LocalRelation`` in place of a
persist; a larger one keeps the persist path, decided without a Spark
job. These tests pin the exact round trip of every type class, that
both paths write the same rows in the same commit shape, that a
non-deterministic derivation is drawn once, which plans count as held
rows, that a change-feed merge still persists its deduped keyed batch,
and that neither path leaves a persisted frame behind.
"""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from glue_hudi_spark.operators import cdc
from glue_hudi_spark.storage import native as N
from glue_hudi_spark.storage.native import NativeTable, local_batch
from glue_hudi_spark.streaming.materialized import MaterializedAgg

ROUND_TRIP_SQL = """
SELECT CAST('12345678901234567890.123456789012345678' AS decimal(38,18)) d,
       DATE'1500-03-01' dt,
       TIMESTAMP'1500-03-01 10:11:12.123456' ts,
       TIMESTAMP_NTZ'1400-01-02 03:04:05.6' ntz,
       CAST('NaN' AS double) nan,
       -0.0D nz,
       array(1, 2, NULL) a,
       map('k', 1.5D, 'n', CAST(NULL AS double)) m,
       named_struct('x', 1, 'y', 'z') s
UNION ALL
SELECT NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL
"""


def _hashes(df: DataFrame) -> list[str]:
    return sorted(r[0] for r in df.select(
        F.sha2(F.to_json(F.struct("*")), 256)).collect())


def test_round_trip_is_exact(spark):
    df = spark.sql(ROUND_TRIP_SQL)
    held, n = local_batch(df)
    assert n == 2
    assert held.schema == df.schema
    assert _hashes(held) == _hashes(df)
    assert N._is_local_batch(held)
    assert N._is_local_batch(held.filter("d IS NULL").drop("a"))
    assert N._is_local_batch(held.unionByName(held))
    assert not N._is_local_batch(df)
    # a shuffle above held rows can order them differently per execution
    assert not N._is_local_batch(held.dropDuplicates(["d"]))
    assert not N._is_local_batch(held.groupBy("d").count())


def test_over_cap_returns_none_without_a_job(spark, monkeypatch, job_ids):
    # Spark sizes spark.range(n) at 8 bytes a row
    monkeypatch.setattr(N, "LOCAL_BATCH_MAX_BYTES", 31)
    before = job_ids()
    assert local_batch(spark.range(4)) is None
    assert job_ids() == before
    held, n = local_batch(spark.range(3))
    assert n == 3 and sorted(r.id for r in held.collect()) == [0, 1, 2]
    # a caller's row bound tightens the plan's estimate: one row of
    # 8 + 8 bytes
    assert local_batch(spark.range(2, 7).filter("id < 3"),
                       max_rows=1)[1] == 1


def _mk(spark, path):
    t = NativeTable(spark, path, record_keys=["k"], precombine="s",
                    partition_keys=["d"], files_per_partition=1,
                    change_feed_deletes=True)
    t.bulk_insert(spark.range(60).selectExpr(
        "format_string('k%03d', id) AS k", "CAST(id % 3 AS int) AS d",
        "id AS v", "1 AS s"))
    return t


def _cdc_batch(spark):
    """Unique keys: updates and deletes of live keys plus fresh inserts,
    with the DMS envelope columns ``apply_cdc_batch`` drops."""
    return spark.range(0, 90, 3).selectExpr(
        "format_string('k%03d', id) AS k", "CAST(id % 3 AS int) AS d",
        "id * 10 AS v", "2 AS s",
        "CASE WHEN id >= 60 THEN 'I' WHEN id % 2 = 0 THEN 'U' "
        "ELSE 'D' END AS op",
        "format_string('%035d', id) AS transaction_id")


def _shape(spark, t):
    """Per commit: action, file counts, rows per file and the tombstoned
    keys (their file count follows the write's partitioning)."""
    out = []
    for c in t.timeline.history()[1:]:
        gone = sorted(r.k for r in spark.read.parquet(
            *[str(t.root / f) for f in c.tombstones]).collect()) \
            if c.tombstones else []
        out.append((c.action, len(c.files),
                    c.stats.get("files_rewritten"),
                    c.stats.get("files_carried"),
                    sorted(c.row_counts.values()), gone))
    return out


@pytest.fixture()
def persist_calls(spark, monkeypatch):
    """Count DataFrame.persist calls (the executor-side path)."""
    calls = []
    cls = type(spark.range(1))  # the session's concrete DataFrame class
    orig = cls.persist

    def counted(self, *a, **kw):
        calls.append(1)
        return orig(self, *a, **kw)

    monkeypatch.setattr(cls, "persist", counted)
    return calls


@pytest.mark.parametrize("single_commit", [True, False])
def test_over_cap_path_matches_held_path(spark, tmp_path, monkeypatch,
                                         persistent_rdds, persist_calls,
                                         single_commit):
    before = persistent_rdds()
    held_t = _mk(spark, tmp_path / "held")
    cdc.apply_cdc_batch(held_t, _cdc_batch(spark),
                        single_commit=single_commit)
    held_persists = len(persist_calls)
    assert persistent_rdds() <= before

    monkeypatch.setattr(N, "LOCAL_BATCH_MAX_BYTES", 0)
    cap_t = _mk(spark, tmp_path / "cap")
    cdc.apply_cdc_batch(cap_t, _cdc_batch(spark),
                        single_commit=single_commit)
    # the held batch replaces exactly the C5 persist of the batch
    assert len(persist_calls) == 2 * held_persists + 1
    assert persistent_rdds() <= before

    assert _hashes(held_t.read_snapshot()) == _hashes(cap_t.read_snapshot())
    assert _shape(spark, held_t) == _shape(spark, cap_t)
    assert held_t.read_snapshot().count() == 60 - 10 + 10


def test_random_batch_held_on_driver_merges_consistently(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    # every execution of this derivation draws different ops and values;
    # holding it draws them once, so the probe, prune, anti-join and
    # write legs all see the same rows
    drawn = spark.range(60).selectExpr(
        "format_string('k%03d', id) AS k", "CAST(id % 3 AS int) AS d",
        "CAST(rand() * 1e6 AS long) AS v", "2 AS s",
        "IF(rand() < 0.5, 'D', 'U') AS op")
    held, n = local_batch(drawn)
    assert n == 60
    rows = {r.k: r for r in held.collect()}
    assert rows == {r.k: r for r in held.collect()}
    t.merge(held, op_col="op")
    want = sorted((k, r.v) for k, r in rows.items() if r.op == "U")
    got = sorted((r.k, r.v) for r in t.read_snapshot().collect())
    assert got == want


def test_random_plan_over_held_rows_still_persists(spark, tmp_path,
                                                   persistent_rdds,
                                                   persist_calls):
    """Holding the input does not make an expression above it
    deterministic: the guard still materializes such a batch once."""
    before = persistent_rdds()
    t = _mk(spark, tmp_path / "t")
    held, _ = local_batch(spark.range(30).selectExpr(
        "format_string('k%03d', id) AS k", "CAST(id % 3 AS int) AS d",
        "2 AS s"))
    t.upsert(held.withColumn("v", (F.rand() * 1e6).cast("long")))
    assert persist_calls
    assert persistent_rdds() <= before
    assert t.read_snapshot().count() == 60


def test_window_over_held_rows_still_persists(spark, tmp_path,
                                              persistent_rdds,
                                              persist_calls):
    """A window over held rows is not held rows: a tie in its order
    could pick a different row per execution, so the change-feed merge
    and the deletion-vector delete persist their keyed batch. The same
    delete of the held rows themselves persists nothing."""
    before = persistent_rdds()
    t = _mk(spark, tmp_path / "t")
    # 30 keys, each twice with the same precombine value
    rows, _ = local_batch(spark.range(60).selectExpr(
        "format_string('k%03d', id % 30 * 2) AS k", "CAST(id % 3 AS int) AS d",
        "id AS v", "2 AS s", "IF(id % 30 * 2 % 4 = 0, 'D', 'U') AS op"))
    w = Window.partitionBy("k").orderBy("s")
    latest = (rows.withColumn("rn", F.row_number().over(w))
              .filter("rn = 1").drop("rn"))
    assert not N._is_local_batch(latest)
    t.merge(latest, op_col="op")
    assert persist_calls
    assert persistent_rdds() <= before
    assert t.read_snapshot().count() == 60 - 15

    dv = NativeTable(spark, tmp_path / "dv", record_keys=["k"],
                     precombine="s", deletion_vectors=True)
    dv.bulk_insert(rows.select("k", "v", "s").dropDuplicates(["k"]))
    del persist_calls[:]
    dv.delete(latest.filter("op = 'D'"))
    assert len(persist_calls) == 1
    held, _ = local_batch(rows.filter("op = 'U'"))
    dv.delete(held)
    assert len(persist_calls) == 1
    assert persistent_rdds() <= before
    assert dv.read_snapshot().count() == 0


def test_change_feed_merge_of_held_rows_persists_keyed_batch(
        spark, tmp_path, persist_calls):
    """Held rows with a key twice go through the precombine dedup, a
    shuffle, so the change-feed merge persists its keyed batch once."""
    t = _mk(spark, tmp_path / "t")
    held, _ = local_batch(spark.range(60).selectExpr(
        "format_string('k%03d', id % 30) AS k", "CAST(id % 3 AS int) AS d",
        "id AS v", "CAST(2 + id DIV 30 AS int) AS s", "'U' AS op"))
    assert N._is_local_batch(held)
    t.merge(held, op_col="op")
    assert len(persist_calls) == 1
    got = {r.k: r.v for r in t.read_snapshot().collect()}
    assert len(got) == 60
    assert all(got[f"k{i:03d}"] == i + 30 for i in range(30))


def test_view_refresh_merges_held_batch(spark, tmp_path, monkeypatch):
    base = _mk(spark, tmp_path / "base")
    view = MaterializedAgg(spark, base, tmp_path / "view", ["d"], "v")
    view.refresh()
    since = base.timeline.latest().commit_id
    cdc.apply_cdc_batch(base, _cdc_batch(spark), single_commit=True)
    upto = base.timeline.latest().commit_id
    feed = base.change_feed(since, upto)
    assert base.change_feed_max_rows(since, upto) >= feed.count() > 3
    # d is an identity partition column: one group per changed dir (the
    # batch's keys all fall in d = 0)
    assert base.change_feed_max_rows(since, upto, ["d"]) == 1 \
        == feed.select("d").distinct().count()
    assert base.change_feed_max_rows(since, upto, ["v"]) \
        == base.change_feed_max_rows(since, upto)
    seen = []
    orig = NativeTable.merge

    def spy(self, batch, *a, **kw):
        seen.append(N._is_local_batch(batch))
        return orig(self, batch, *a, **kw)

    monkeypatch.setattr(NativeTable, "merge", spy)
    view.refresh()
    assert seen == [True]
    want = {r.d: (r.n, r.total) for r in base.read_snapshot()
            .groupBy("d").agg(F.count("*").alias("n"),
                              F.sum("v").alias("total")).collect()}
    got = {r.d: (r.cnt, int(r.total)) for r in view.read().collect()}
    assert got == want
