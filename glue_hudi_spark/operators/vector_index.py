"""Persisted IVF vector index over a NativeTable embedding column.

The missing piece between the ad-hoc ANN operators (``similarity.ivf_topk``
re-assigns the whole corpus per query batch) and a 100-TB vector store: an
inverted-file index MATERIALIZED next to the table and maintained
incrementally off its change feed.

* The postings live in one ``NativeTable`` under
  ``<table>/_index/ivf/<vec_col>/`` (protocol: ``index_store``): (id,
  vector, norm) rows partitioned by ``cell``. Every store commit
  carries the metadata-sized centroids and the indexed commit id in its
  stats.
* ``build()`` trains deterministic centroids (``kmeans_centroids``, or
  the n lowest-id vectors train-free) and writes the postings in one
  ``insert_overwrite``.
* ``query()`` reads the centroids off the pinned store commit, computes
  each query's ``nprobe`` cells, and reads ONLY those cells' files
  (``read_by_values`` on the per-file ``cell`` stats — the scan is
  nprobe/n_cells of the corpus, which is the entire point of IVF).
  Candidates equi-join on ``cell``; exact cosine rerank; shuffle-light
  top-k (``_topk_per_query``).
* ``refresh()`` merges the table's change feed since the indexed commit
  in one store commit: old locations come from re-assigning the
  PRE-images (assignment is deterministic, so no postings lookup is
  needed to find a moved row), new locations from the
  post-images/inserts; only the affected cell partitions are rewritten.
  Cost is O(changed rows + touched cells), never O(corpus).

Staleness is a hard error by default: querying an index whose table moved
past ``indexed_commit`` raises unless ``allow_stale=True`` — a secondary
index silently missing new rows is how retrieval bugs ship.

The reference has no vector surface (its Hudi tables index record keys
only); this follows the FAISS IVF-Flat design re-expressed as lakehouse
files: centroids = commit metadata, inverted lists = a cell-partitioned
table, index maintenance = CDC consumption.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from glue_hudi_spark.operators.index_store import (
    StaleIndexError,  # noqa: F401  (re-exported)
    StoreIndex,
)
from glue_hudi_spark.operators.similarity import (
    INLINE_CENTROID_MAX,
    _assign_by_join,
    _dot,
    _nearest_cell_expr,
    _norm,
    _probe_cells_expr,
    _topk_per_query,
    kmeans_centroids,
)
from glue_hudi_spark.storage.native import NativeTable


class VectorIndex(StoreIndex):
    """IVF index attached to one embedding column of a NativeTable."""

    _REWRITTEN = "cells_rewritten"
    _LEGACY_DIRS = ("postings",)
    _OPTIONS = ("id_col", "n_centroids", "train_iters")

    def __init__(self, table, vec_col: str = "embedding"):
        self.table = table
        self.spark = table.spark
        self.vec_col = vec_col
        self.root = Path(table.root) / "_index" / "ivf" / vec_col

    @classmethod
    def open_all(cls, table) -> list["VectorIndex"]:
        """Every IVF index on the table, one per vector column."""
        base = Path(table.root) / "_index" / "ivf"
        found = (cls(table, vec_col=d.name)
                 for d in sorted(base.iterdir())) if base.is_dir() else ()
        return [ix for ix in found if ix.exists()]

    def store(self) -> NativeTable:
        """The postings: rows (id, v, _vnorm, cell), partitioned by cell."""
        return NativeTable(
            self.spark, self.root, record_keys=["cell", "id"],
            precombine="op", partition_keys=["cell"], stats_cols=["cell"])

    # ----------------------------------------------------------------- build

    def _keyed(self, df: DataFrame, id_col: str, *extra) -> DataFrame:
        return df.select(
            F.col(id_col).alias("id"),
            F.col(self.vec_col).cast("array<double>").alias("v"),
            *extra,
        )

    def _assign(self, keyed: DataFrame, cents: list[tuple]) -> DataFrame:
        if len(cents) > INLINE_CENTROID_MAX:
            return _assign_by_join(keyed, cents)
        return keyed.withColumn("cell", _nearest_cell_expr(cents, F.col("v")))

    def _postings_df(self, assigned: DataFrame, *extra) -> DataFrame:
        # norms are paid ONCE at index time, not per query pair
        return assigned.select(
            "id", "v", _norm(F.col("v")).alias("_vnorm"), "cell", *extra)

    def build(self, id_col: str, n_centroids: int = 8,
              train_iters: int = 0) -> dict:
        """Train centroids on the CURRENT snapshot and materialize the
        inverted lists. ``train_iters=0`` seeds centroids from the
        ``n_centroids`` lowest-``id_col`` vectors (train-free, exactly
        SQL-replayable); >0 runs that many deterministic Lloyd's
        iterations."""
        head = self.table.timeline.latest()
        if head is None:
            raise ValueError(f"table {self.table.root} has no commits")
        snap = self.table.read_snapshot()
        if train_iters > 0:
            cents = kmeans_centroids(
                snap, n_centroids, train_iters, id_col, self.vec_col)
        else:
            seed = (self._keyed(snap, id_col)
                    .orderBy("id").limit(n_centroids).collect())
            cents = [(r["id"], [float(x) for x in r["v"]]) for r in seed]
        if not cents:
            raise ValueError("build: empty corpus")
        assigned = self._assign(self._keyed(snap, id_col), cents)
        self._publish(self._postings_df(assigned), {
            "vec_col": self.vec_col,
            "id_col": id_col,
            "metric": "cosine",
            "n_centroids": n_centroids,
            "train_iters": train_iters,
            "centroids": [[c, comps] for c, comps in cents],
        }, head.commit_id)
        return {"indexed_commit": head.commit_id, "cells": len(cents)}

    def _rebuild(self, meta: dict) -> None:
        self.build(meta["id_col"], meta["n_centroids"], meta["train_iters"])

    # --------------------------------------------------------------- refresh

    def _ops(self, feed: DataFrame, meta: dict) -> DataFrame:
        """The feed's postings with their merge op. Centroids are KEPT
        (refresh is assignment maintenance, not retraining — rebuild
        when drift degrades cell balance, same trade FAISS makes).

        ONE assignment pass over the feed (the expensive leg — the
        centroid argmax over every changed vector): pre-images locate a
        moved/removed row WITHOUT reading postings (assignment is
        deterministic, so old vector → old cell), and since pre- and
        post-images are disjoint row sets a gone/add marker carried
        through the pass splits them into ``D`` and ``U`` ops. Large-k
        centroid sets keep the two-pass broadcast-join path
        (``_assign_by_join`` projects the marker away)."""
        id_col = meta["id_col"]
        cents = [(c, comps) for c, comps in meta["centroids"]]
        gone = F.col("_change_type").isin("delete", "update_preimage")
        if len(cents) > INLINE_CENTROID_MAX:
            marked = (
                self._assign(self._keyed(feed.filter(gone), id_col), cents)
                .withColumn("op", F.lit("D"))
                .unionByName(self._assign(self._keyed(
                    feed.filter(~gone), id_col), cents)
                    .withColumn("op", F.lit("U"))))
        else:
            op = F.when(gone, "D").otherwise("U").alias("op")
            marked = self._assign(self._keyed(feed, id_col, op), cents)
        return self._postings_df(marked, "op")

    # ----------------------------------------------------------------- query

    def query(self, queries: DataFrame, k: int = 10, nprobe: int = 1,
              id_col: str | None = None,
              allow_stale: bool = False) -> DataFrame:
        """Top-k cosine neighbors per query vector, reading only the
        probed cells' postings from the pinned store snapshot. Returns
        (query_id, neighbor_id, rank, sim); self-matches (same id)
        excluded."""
        store, pin, meta = self._pinned(allow_stale)
        cents = [(c, comps) for c, comps in meta["centroids"]]
        q = self._keyed(queries, id_col or meta["id_col"])
        if nprobe <= 1:
            q = self._assign(q, cents)
        else:
            q = q.select(
                "id", "v",
                F.explode(_probe_cells_expr(
                    cents, F.col("v"), nprobe)).alias("cell"))
        q = q.select(
            F.col("id").alias("query_id"), F.col("v").alias("q_vec"), "cell",
        ).withColumn("_nq", _norm(F.col("q_vec")))
        # the probe-cell set is ≤ |queries| × nprobe, collected so the
        # postings read lists only the probed cells' files (queries are
        # the small side by design — batch retrieval jobs fan the corpus
        # out through this same index cell-by-cell instead)
        probed = sorted({r["cell"] for r in
                         q.select("cell").distinct().collect()})
        post = store.read_by_values({"cell": probed}, as_of=pin)
        scored = (
            q.join(post, on="cell")
            .filter(F.col("query_id") != F.col("id"))
            .withColumn(
                "sim",
                F.round(_dot(F.col("q_vec"), F.col("v"))
                        / (F.col("_nq") * F.col("_vnorm")), 6))
            .select("query_id", F.col("id").alias("neighbor_id"), "sim")
        )
        return _topk_per_query(scored, k)
