"""Persisted IVF vector index: build → query (partition-pruned postings
read) → incremental refresh off the table change feed.

Scale contracts under test: query reads ONLY the probed cell partitions
(PartitionFilters on the postings scan); refresh rewrites ONLY affected
cells and is a no-op when the table didn't move; staleness is a hard
error, not a silent recall loss.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from glue_hudi_spark.operators import similarity
from glue_hudi_spark.operators.vector_index import StaleIndexError, VectorIndex
from glue_hudi_spark.storage.native import NativeTable

DIM = 6


def _vec(i: int) -> list[float]:
    return [float(((i * 7 + j * 13) % 19) - 9) for j in range(DIM)]


def _corpus(spark, n=50):
    rows = [dict(vec_id=i, embedding=_vec(i)) for i in range(n)]
    return spark.createDataFrame(rows)


def _mk_table(spark, path, n=50):
    t = NativeTable(spark, path, record_keys=["vk"], precombine="vec_id",
                    files_per_partition=4)
    t.bulk_insert(_corpus(spark, n).select(
        F.format_string("%06d", F.col("vec_id")).alias("vk"),
        "vec_id", "embedding"))
    return t


def _pd(df):
    return sorted(tuple(r) for r in df.collect())


def test_build_query_matches_adhoc_ivf(spark, tmp_path):
    t = _mk_table(spark, tmp_path / "t")
    ix = VectorIndex(t)
    r = ix.build(id_col="vec_id", n_centroids=8)
    assert r["cells"] == 8
    snap = t.read_snapshot()
    queries = snap.filter("vec_id < 4")
    got = ix.query(queries, k=5, nprobe=1)
    want = similarity.ivf_topk(snap, queries, k=5, id_col="vec_id",
                               n_centroids=8)
    assert _pd(got) == _pd(want)


def test_query_multiprobe_matches_adhoc(spark, tmp_path):
    t = _mk_table(spark, tmp_path / "t")
    ix = VectorIndex(t)
    ix.build(id_col="vec_id", n_centroids=8)
    snap = t.read_snapshot()
    queries = snap.filter("vec_id < 4")
    got = ix.query(queries, k=5, nprobe=3)
    want = similarity.ivf_topk(snap, queries, k=5, id_col="vec_id",
                               n_centroids=8, nprobe=3)
    assert _pd(got) == _pd(want)


def test_query_postings_read_is_partition_pruned(spark, tmp_path):
    t = _mk_table(spark, tmp_path / "t")
    ix = VectorIndex(t)
    ix.build(id_col="vec_id", n_centroids=8)
    out = ix.query(t.read_snapshot().filter("vec_id = 3"), k=5, nprobe=1)
    # the postings read lists the probed cell's file only — the
    # nprobe/n_cells read fraction IS the index; every cell's file would
    # mean a full-corpus scan
    def cells(files):
        return {f.split("/_pp_cell=")[1].split("/")[0] for f in files}

    postings = [f for f in out.inputFiles() if str(ix.root) in f]
    assert len(cells(postings)) == 1, postings
    assert len(cells(ix.store().timeline.latest().files)) == 8
    assert out.count() > 0


def test_stale_query_raises_until_refresh(spark, tmp_path):
    t = _mk_table(spark, tmp_path / "t")
    ix = VectorIndex(t)
    ix.build(id_col="vec_id", n_centroids=8)
    t.upsert(spark.createDataFrame(
        [dict(vk="000020", vec_id=20,
              embedding=[-x for x in _vec(20)])]))
    assert ix.status()["stale"]
    q = t.read_snapshot().filter("vec_id < 2")
    with pytest.raises(StaleIndexError, match="refresh"):
        ix.query(q, k=3)
    ix.query(q, k=3, allow_stale=True).count()  # explicit opt-in works
    r = ix.refresh()
    assert r["refreshed"] and r["cells_rewritten"] >= 1
    assert not ix.status()["stale"]
    ix.query(q, k=3).count()


def test_refresh_matches_full_rebuild(spark, tmp_path):
    t = _mk_table(spark, tmp_path / "t")
    ix = VectorIndex(t)
    ix.build(id_col="vec_id", n_centroids=8)
    # move some vectors (negation relocates them across cells), drop some
    changed = t.read_snapshot().filter("vec_id in (20, 31, 42)").select(
        "vk", "vec_id",
        F.transform("embedding", lambda x: -x).alias("embedding"))
    t.upsert(changed)
    t.delete(spark.createDataFrame([dict(vk="000045"), dict(vk="000046")]))
    ix.refresh()
    snap = t.read_snapshot()
    queries = snap.filter("vec_id < 4")
    got = ix.query(queries, k=5, nprobe=2)
    # ground truth: a scratch index built from the post-change snapshot
    # with the SAME centroids (refresh never retrains) — replicate by
    # running the ad-hoc IVF with the original seed vectors
    seed = _corpus(spark).filter("vec_id < 8")
    cents = similarity._collect_centroids(seed, "vec_id", "embedding")
    keyed = snap.select(F.col("vec_id").alias("id"),
                        F.col("embedding").cast("array<double>").alias("v"))
    assigned = keyed.withColumn(
        "cell", similarity._nearest_cell_expr(cents, F.col("v")))
    qk = queries.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"))
    q = qk.select(
        "id", "v",
        F.explode(similarity._probe_cells_expr(
            cents, F.col("v"), 2)).alias("cell"))
    q = q.select(F.col("id").alias("query_id"), F.col("v").alias("q_vec"),
                 "cell").withColumn("_nq", similarity._norm(F.col("q_vec")))
    c = assigned.select(F.col("id").alias("neighbor_id"),
                        F.col("v").alias("c_vec"), "cell").withColumn(
        "_nc", similarity._norm(F.col("c_vec")))
    scored = (q.join(c, on="cell")
              .filter(F.col("query_id") != F.col("neighbor_id"))
              .withColumn("sim", F.round(
                  similarity._dot(F.col("q_vec"), F.col("c_vec"))
                  / (F.col("_nq") * F.col("_nc")), 6)))
    want = similarity._topk_per_query(scored, 5)
    assert _pd(got) == _pd(want)
    # deleted ids never surface
    assert not [r for r in got.collect() if r["neighbor_id"] in (45, 46)]


def test_refresh_noop_when_table_unchanged(spark, tmp_path):
    t = _mk_table(spark, tmp_path / "t")
    ix = VectorIndex(t)
    ix.build(id_col="vec_id", n_centroids=8)
    r = ix.refresh()
    assert r == {"refreshed": False, "cells_rewritten": 0}


def test_refresh_rewrites_only_affected_cells(spark, tmp_path):
    t = _mk_table(spark, tmp_path / "t")
    ix = VectorIndex(t)
    ix.build(id_col="vec_id", n_centroids=8)
    # a tiny value nudge keeps the vector in (or near) its cell: the
    # rewrite set must be a couple of cells, never all of them
    row = t.read_snapshot().filter("vec_id = 25").select(
        "vk", "vec_id",
        F.transform("embedding", lambda x: x * 1.001).alias("embedding"))
    t.upsert(row)
    r = ix.refresh()
    assert r["refreshed"]
    assert 1 <= r["cells_rewritten"] <= 2


def test_refresh_clears_emptied_cell(spark, tmp_path):
    # delete EVERY member of one cell with no arrivals: the refresh
    # writes no rows for it, and its old file must leave the store —
    # deleted vectors must never be served as neighbors
    t = _mk_table(spark, tmp_path / "t")
    ix = VectorIndex(t)
    ix.build(id_col="vec_id", n_centroids=8)
    post = ix.store().read_snapshot()
    cells = {r["cell"]: r["n"] for r in
             post.groupBy("cell").count().withColumnRenamed(
                 "count", "n").collect()}
    victim = min(cells, key=lambda c: cells[c])
    doomed = [r["id"] for r in
              post.filter(F.col("cell") == victim).collect()]
    t.delete(spark.createDataFrame(
        [dict(vk=f"{i:06d}") for i in doomed]))
    ix.refresh()
    left = ix.store().read_snapshot()
    assert left.filter(F.col("id").isin(doomed)).count() == 0
    assert victim not in {r.cell for r in left.collect()}
    got = ix.query(t.read_snapshot().filter("vec_id < 4"), k=50, nprobe=8)
    assert not [r for r in got.collect() if r["neighbor_id"] in doomed]
