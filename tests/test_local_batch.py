"""Small keyed batches held on the driver (``native.local_batch``).

A batch whose estimated size fits ``LOCAL_BATCH_MAX_BYTES`` is derived
once and rebuilt on the JVM as a ``LocalRelation`` in place of a
persist; a larger one keeps the persist path, decided without a Spark
job. These tests pin the exact round trip of every type class, that
both paths write the same rows in the same commit shape, that a
non-deterministic derivation is drawn once, which plans count as held
rows, that a held keyed commit with distinct keys starts no Spark job
before its write and persists nothing, that its key-set filter keeps
what the anti-join keeps, that a held batch with a duplicate key still
dedups by precombine and persists once, and that neither path leaves a
persisted frame behind.
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
    # held with distinct keys: the keyed batch re-reads the held rows
    assert len(persist_calls) == 0
    assert persistent_rdds() <= before

    monkeypatch.setattr(N, "LOCAL_BATCH_MAX_BYTES", 0)
    cap_t = _mk(spark, tmp_path / "cap")
    cdc.apply_cdc_batch(cap_t, _cdc_batch(spark),
                        single_commit=single_commit)
    # over the cap: the C5 persist of the batch, plus the keyed persist
    # of the change-feed merge (or delete) for its tombstone pass
    assert len(persist_calls) == 2
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
    shuffle, so the change-feed merge persists its keyed batch once and
    anti-joins it. The same merge with every key once persists nothing
    and joins nothing."""
    t = _mk(spark, tmp_path / "t")
    held, _ = local_batch(spark.range(60).selectExpr(
        "format_string('k%03d', id % 30) AS k", "CAST(id % 3 AS int) AS d",
        "id AS v", "CAST(2 + id DIV 30 AS int) AS s", "'U' AS op"))
    assert N._is_local_batch(held)
    joins = []
    cls = type(held)  # the session's concrete DataFrame class
    orig = cls.join

    def spy(self, *a, **kw):
        joins.append(kw.get("how"))
        return orig(self, *a, **kw)

    with pytest.MonkeyPatch.context() as m:
        m.setattr(cls, "join", spy)
        t.merge(held, op_col="op")
        assert len(persist_calls) == 1 and joins == ["left_anti"]
        got = {r.k: r.v for r in t.read_snapshot().collect()}
        assert len(got) == 60
        assert all(got[f"k{i:03d}"] == i + 30 for i in range(30))
        # the precombine winner comes first in row order here: a
        # last-row-wins merge would keep the older row
        del joins[:]
        held, _ = local_batch(spark.range(20).selectExpr(
            "format_string('k%03d', id % 10) AS k",
            "CAST(id % 10 % 3 AS int) AS d", "id AS v",
            "CAST(9 - id DIV 10 AS int) AS s", "'U' AS op"))
        t.merge(held, op_col="op")
        assert len(persist_calls) == 2 and joins == ["left_anti"]
        got = {r.k: r.v for r in t.read_snapshot().collect()}
        assert all(got[f"k{i:03d}"] == i for i in range(10))
        del joins[:]
        held, _ = local_batch(spark.range(10).selectExpr(
            "format_string('k%03d', id) AS k", "CAST(id % 3 AS int) AS d",
            "id + 500 AS v", "10 AS s", "'U' AS op"))
        t.merge(held, op_col="op")
        assert len(persist_calls) == 2 and joins == []
    got = {r.k: r.v for r in t.read_snapshot().collect()}
    assert len(got) == 60
    assert all(got[f"k{i:03d}"] == i + 500 for i in range(10))


def _date_table(spark, path):
    t = NativeTable(spark, path, record_keys=["k"], precombine="s",
                    partition_keys=["dt"], change_feed_deletes=True)
    t.bulk_insert(spark.range(60).selectExpr(
        "format_string('k%03d', id) AS k",
        "date_add(DATE'2024-01-01', CAST(id % 4 AS int)) AS dt",
        "id AS v", "1 AS s"))
    return t


def _held_rows(spark, lo, hi, *extra):
    return local_batch(spark.range(lo, hi).selectExpr(
        "format_string('k%03d', id) AS k",
        "date_add(DATE'2024-01-01', CAST(id % 4 AS int)) AS dt",
        "id * 10 AS v", "2 AS s", *extra))[0]


def test_held_writes_start_no_job_before_their_write(spark, tmp_path,
                                                     monkeypatch, job_ids,
                                                     persist_calls):
    """A held upsert, delete and change-feed merge on a date-partitioned
    table probe, prune and plan without a Spark job: the first job of
    each is its first write (a tombstone or data file write)."""
    t = _date_table(spark, tmp_path / "t")
    first = []
    for name in ("_write_files", "_write_tombstones"):
        orig = getattr(NativeTable, name)

        def spy(self, *a, _orig=orig, **kw):
            if not first:
                first.append(job_ids())
            return _orig(self, *a, **kw)

        monkeypatch.setattr(NativeTable, name, spy)
    ups = _held_rows(spark, 0, 10)
    dels = _held_rows(spark, 50, 55).select("k", "dt")
    mixed = _held_rows(spark, 10, 20, "IF(id % 2 = 0, 'D', 'U') AS op")
    for write in (lambda: t.upsert(ups), lambda: t.delete(dels),
                  lambda: t.merge(mixed, op_col="op")):
        del first[:]
        before = job_ids()
        assert write() is not None
        assert first == [before]
        assert job_ids() != before
    assert not persist_calls
    got = {r.k: r.v for r in t.read_snapshot().collect()}
    want = {f"k{i:03d}": i for i in range(60) if not 50 <= i < 55}
    want.update({f"k{i:03d}": i * 10 for i in range(10)})
    want.update({f"k{i:03d}": i * 10 for i in range(11, 20, 2)})
    for i in range(10, 20, 2):
        del want[f"k{i:03d}"]
    assert got == want
    gone = {r.k for c in t.timeline.history()[-2:] for r in
            spark.read.parquet(*[str(t.root / f) for f in c.tombstones])
            .collect()}
    assert gone == {f"k{i:03d}" for i in [*range(50, 55), *range(10, 20, 2)]}


def test_held_delete_writes_tombstones_without_a_dedup(spark, tmp_path,
                                                      job_ids):
    """A held delete's keys are known distinct: on a change-feed table it
    runs its tombstone write and its data write, and no dedup shuffle."""
    t = _date_table(spark, tmp_path / "t")
    dels = _held_rows(spark, 50, 55).select("k", "dt")
    before = job_ids()
    c = t.delete(dels)
    assert len(job_ids() - before) == 2
    assert sorted(r.k for r in spark.read.parquet(
        *[str(t.root / f) for f in c.tombstones]).collect()) == \
        [f"k{i:03d}" for i in range(50, 55)]


ODD_KEYS = ["it's", "back\\slash", "tab\there", "bell\x07", "new\nline",
            "plain"]


PLAIN_KEYS = [f"p{i:02d}" for i in range(40)]


@pytest.mark.parametrize("drop", [
    ODD_KEYS[::2] + ["absent"],          # in_values falls back to isin
    PLAIN_KEYS + ["absent"],             # rendered as SQL text
    (ODD_KEYS + PLAIN_KEYS)[::2],
], ids=["odd", "sql-text", "mixed"])
def test_key_set_filter_keeps_what_the_anti_join_keeps(spark, drop):
    """``_without_keys`` keeps exactly the rows the left-anti join on the
    record key keeps: keys ``in_values`` cannot render as SQL text (a
    quote, a backslash, a control character) through its ``isin``
    fallback, a list long enough for the SQL text path, and an existing
    row whose record key is NULL."""
    existing = spark.createDataFrame(
        [(k, i) for i, k in enumerate(
            ODD_KEYS + PLAIN_KEYS + ["kept", "it", "back"])]
        + [(None, -1)], f"{N.RECORD_KEY_COL} string, v int")
    anti = existing.join(
        spark.createDataFrame([(k,) for k in drop], [N.RECORD_KEY_COL]),
        on=N.RECORD_KEY_COL, how="left_anti")
    got = N._without_keys(existing, drop)
    assert sorted(map(tuple, got.collect()), key=repr) \
        == sorted(map(tuple, anti.select(*existing.columns).collect()),
                  key=repr)
    assert got.filter(f"{N.RECORD_KEY_COL} IS NULL").count() == 1
    assert got.count() == existing.count() - len(set(drop) - {"absent"})


def test_held_upsert_of_odd_keys_matches_over_cap_path(spark, tmp_path,
                                                       monkeypatch):
    def run(path):
        t = NativeTable(spark, path, record_keys=["k"], precombine="s")
        t.bulk_insert(spark.createDataFrame(
            [(k, 1, 1) for k in ODD_KEYS + ["other"]], "k string, v int, s int"))
        batch = spark.createDataFrame(
            [(k, 2, 2) for k in ODD_KEYS[::2] + ["fresh'"]],
            "k string, v int, s int")
        held = local_batch(batch, max_rows=4)
        t.upsert(held[0] if held else batch)
        return sorted(map(tuple, t.read_snapshot().select("k", "v").collect()))

    held = run(tmp_path / "held")
    monkeypatch.setattr(N, "LOCAL_BATCH_MAX_BYTES", 0)
    assert run(tmp_path / "cap") == held
    assert dict(held)["it's"] == 2 and dict(held)["back\\slash"] == 1


def test_view_refresh_after_small_upsert_runs_few_jobs(spark, tmp_path,
                                                       job_ids):
    """A ``MaterializedAgg`` refresh after a 10-row upsert: change feed,
    delta, held batch and the state merge, at most 10 Spark jobs."""
    base = _date_table(spark, tmp_path / "base")
    view = MaterializedAgg(spark, base, tmp_path / "view", ["dt"], "v")
    view.refresh()
    for lo in (0, 10):
        base.upsert(_held_rows(spark, lo, lo + 10))
        before = job_ids()
        view.refresh()
        assert len(job_ids() - before) <= 10
    want = {r.dt: (r.n, r.total) for r in base.read_snapshot()
            .groupBy("dt").agg(F.count("*").alias("n"),
                               F.sum("v").alias("total")).collect()}
    got = {r.dt: (r.cnt, int(r.total)) for r in view.read().collect()}
    assert got == want


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
