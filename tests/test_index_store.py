"""The store protocol of the persisted secondary indexes
(``operators/index_store``): a refresh is one store commit, so a failure
inside it leaves the index as it was; an index in the older ``meta.json``
layout is reported stale and rebuilt by its next refresh; and the data
table's own retention never reaches into the index stores."""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from glue_hudi_spark.operators.dedup_index import DedupIndex
from glue_hudi_spark.operators.index_store import StaleIndexError
from glue_hudi_spark.operators.vector_index import VectorIndex
from glue_hudi_spark.sql import GhsSql
from glue_hudi_spark.storage.commits import CommitTimeline
from glue_hudi_spark.storage.native import NativeTable

TEXTS = [
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet",
    "kilo lima mike november oscar papa quebec romeo sierra tango",
    "uniform victor whiskey xray yankee zulu one two three four",
    "the quick brown fox jumps over the lazy dog again today",
]
SCHEMA = "dk string, doc_id bigint, text string, embedding array<double>"
NOVEL = "fresh arrival qwertyuiop asdfghjkl zxcvbnm"


def _vec(i: int) -> list[float]:
    return [float(((i * 7 + j * 13) % 19) - 9) for j in range(4)]


def _docs(spark, ids, tag=""):
    return spark.createDataFrame(
        [(f"{i:05d}", i, f"{TEXTS[i % 4]} tail{i}{tag}", _vec(i))
         for i in ids], SCHEMA)


def _table(spark, path, **kw):
    t = NativeTable(spark, path, record_keys=["dk"], precombine="doc_id",
                    files_per_partition=2, stats_cols=["doc_id"], **kw)
    t.bulk_insert(_docs(spark, range(20)))
    return t


def _probe_batch(spark):
    return spark.createDataFrame(
        [(1003, f"{TEXTS[3]} tail3"),   # an exact or near dup of doc 3
         (1021, NOVEL),                 # novel until doc 21 arrives
         (1030, "wholly novel words zyzzyva quixotic phlogiston")],
        "doc_id bigint, text string")


def _queries(spark):
    return spark.createDataFrame(
        [(900, _vec(3)), (901, [-x for x in _vec(5)])],
        "doc_id bigint, embedding array<double>")


def _change(spark, t):
    # doc 3's text and vector change, doc 5 leaves, doc 21 arrives
    t.upsert(_docs(spark, [3], tag=" changed").withColumn(
        "embedding", F.transform("embedding", lambda x: -x)))
    t.delete(spark.createDataFrame([("00005",)], "dk string"))
    t.upsert(_docs(spark, [21]).withColumn("text", F.lit(NOVEL)))


def _answers(dx, vx, batch, queries, allow_stale=False):
    novel = sorted(r.doc_id for r in
                   dx.probe(batch, allow_stale=allow_stale).collect())
    hits = sorted(tuple(r) for r in
                  vx.query(queries, k=3, nprobe=2,
                           allow_stale=allow_stale).collect())
    return novel, hits


def test_failed_refresh_leaves_index_as_it_was(spark, tmp_path,
                                               monkeypatch,
                                               persistent_rdds):
    t = _table(spark, tmp_path / "t")
    dx, vx = DedupIndex(t, id_col="doc_id"), VectorIndex(t)
    dx.build()
    vx.build(id_col="doc_id", n_centroids=4)
    batch, queries = _probe_batch(spark), _queries(spark)
    before = _answers(dx, vx, batch, queries)
    heads = [ix.store().timeline.latest().commit_id for ix in (dx, vx)]
    _change(spark, t)
    rdds = persistent_rdds()
    publish = CommitTimeline.publish

    def failing(self, commit):
        if Path(self.root) in (dx.root, vx.root):
            raise OSError("injected publish failure")
        return publish(self, commit)

    monkeypatch.setattr(CommitTimeline, "publish", failing)
    for ix in (dx, vx):
        with pytest.raises(OSError, match="injected"):
            ix.refresh()
    monkeypatch.undo()
    assert persistent_rdds() <= rdds  # nothing left pinned
    assert [ix.store().timeline.latest().commit_id
            for ix in (dx, vx)] == heads
    assert dx.status()["stale"] and vx.status()["stale"]
    assert _answers(dx, vx, batch, queries, allow_stale=True) == before
    assert dx.refresh()["refreshed"] and vx.refresh()["refreshed"]
    for ix in (dx, vx):
        store = ix.store()
        assert store.vacuum()["deleted_files"]  # the failed write's files
        assert store.validate()["ok"], store.validate()
        assert not ix.status()["stale"]
    # the refreshed stores hold what a build at the new head holds
    # (the vector store under the centroids it was built with)
    snap = t.read_snapshot()
    cents = vx.store().timeline.latest().stats["index"]["centroids"]
    assert {(r.id, r.cell) for r in vx.store().read_snapshot().collect()} \
        == {(r.id, r.cell) for r in
            vx._assign(vx._keyed(snap, "doc_id"), cents).collect()}
    assert {tuple(r) for r in dx.store().read_snapshot().select(
        "kind", "p", "id", "band", "hash").collect()} \
        == {tuple(r) for r in dx._rows(snap).collect()}
    after = _answers(dx, vx, batch, queries)
    assert before[0] == [1021, 1030] and after[0] == [1030]
    assert after[1] != before[1]


def _legacy_warehouse(spark, tmp_path):
    g = GhsSql(spark, tmp_path / "wh")
    g.sql(f"CREATE TABLE docs ({SCHEMA.replace(' string', ' STRING')}) "
          "USING ghs_table TBLPROPERTIES ('primaryKey'='dk', "
          "'preCombineField'='doc_id')")
    _docs(spark, range(20)).createOrReplaceTempView("seed")
    g.sql("INSERT INTO docs SELECT * FROM seed")
    t = g.tables["docs"]
    head = t.timeline.latest().commit_id
    # the older layout: a meta.json beside private parquet stores
    droot = t.root / "_index" / "dedup"
    for part in ("exact/hp=0", "bands/bp=0"):
        (droot / part).mkdir(parents=True)
        (droot / part / "part-00000.parquet").write_bytes(b"PAR1")
    (droot / "meta.json").write_text(json.dumps({
        "id_col": "doc_id", "text_col": "text", "n": 3, "num_hashes": 16,
        "bands": 4, "prefix_len": 1, "probe_pushdown_max": 0,
        "probe_bloom_max": 0, "indexed_commit": head}, indent=1))
    vroot = t.root / "_index" / "ivf" / "embedding"
    (vroot / "postings" / "cell=0").mkdir(parents=True)
    (vroot / "postings" / "cell=0" / "part-00000.parquet").write_bytes(
        b"PAR1")
    (vroot / "meta.json").write_text(json.dumps({
        "vec_col": "embedding", "id_col": "doc_id", "metric": "cosine",
        "n_centroids": 3, "train_iters": 0, "indexed_commit": head,
        "centroids": [[i, _vec(i)] for i in range(3)]}, indent=1))
    return g, t


def test_older_layout_is_stale_and_rebuilt(spark, tmp_path):
    g, t = _legacy_warehouse(spark, tmp_path)
    rows = g.sql("SHOW INDEXES ON docs").collect()
    assert [(r.kind, r.column, r.indexed_commit, r.stale) for r in rows] \
        == [("dedup", "text", None, True), ("ivf", "embedding", None, True)]
    assert '"bands": 4' in rows[0].options
    dx = DedupIndex.open(t)
    (vx,) = VectorIndex.open_all(t)
    assert (dx.bands, dx.id_col) == (4, "doc_id")
    with pytest.raises(StaleIndexError, match="older layout"):
        dx.probe(_probe_batch(spark), allow_stale=True)
    with pytest.raises(StaleIndexError, match="older layout"):
        vx.query(_queries(spark), allow_stale=True)
    assert dx.refresh()["refreshed"]
    g.sql("REFRESH VECTOR INDEX ON docs (embedding)")
    assert sorted(p.name for p in dx.root.iterdir()) == ["_commits", "data"]
    assert sorted(p.name for p in vx.root.iterdir()) == ["_commits", "data"]
    rows = g.sql("SHOW INDEXES ON docs").collect()
    assert [r.stale for r in rows] == [False, False]
    assert '"bands": 4' in rows[0].options
    assert '"n_centroids": 3' in rows[1].options
    novel = sorted(r.doc_id for r in
                   dx.probe(_probe_batch(spark)).collect())
    assert novel == [1021, 1030]
    assert len(vx.store().timeline.latest().files) == 3
    assert vx.query(_queries(spark), k=3).count() == 6


def _tree(root: Path) -> set[str]:
    return {str(p.relative_to(root)) for p in root.rglob("*")}


def test_base_clean_leaves_index_stores_alone(spark, tmp_path):
    # the index reads the feed from commit 1; commit 5 then retires it
    t = _table(spark, tmp_path / "t", retain_commits=4)
    dx, vx = DedupIndex(t, id_col="doc_id"), VectorIndex(t)
    dx.build()
    vx.build(id_col="doc_id", n_centroids=4)
    _change(spark, t)
    dx.refresh()
    vx.refresh()
    batch, queries = _probe_batch(spark), _queries(spark)
    before = _answers(dx, vx, batch, queries, allow_stale=True)
    # a store writer that has made its commit dir and not yet written
    staging = dx.root / "data" / f"{99:020d}"
    staging.mkdir()
    trees = [_tree(ix.root) for ix in (dx, vx)]
    t.upsert(_docs(spark, [22]))  # the base cleans past retain_commits
    t.vacuum()
    assert [_tree(ix.root) for ix in (dx, vx)] == trees
    for ix in (dx, vx):
        assert ix.store().validate()["ok"]
    assert _answers(dx, vx, batch, queries, allow_stale=True) == before
