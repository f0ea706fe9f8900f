"""Persisted IVF vector index over a NativeTable embedding column.

The missing piece between the ad-hoc ANN operators (``similarity.ivf_topk``
re-assigns the whole corpus per query batch) and a 100-TB vector store: an
inverted-file index MATERIALIZED next to the table and maintained
incrementally off its change feed.

* ``build()`` trains deterministic centroids (``kmeans_centroids``, or the
  n lowest-id vectors train-free) and writes the postings — (id, vector,
  norm) rows hive-partitioned by ``cell=`` — under
  ``<table>/_index/ivf/<vec_col>/``. Centroids + the indexed commit id live
  in a driver-sized ``meta.json``.
* ``query()`` loads the metadata-sized centroids, computes each query's
  ``nprobe`` cells, and reads ONLY those cell partitions (hive partition
  pruning on the postings parquet — the scan is nprobe/n_cells of the
  corpus, which is the entire point of IVF). Candidates equi-join on
  ``cell``; exact cosine rerank; shuffle-light top-k
  (``_topk_per_query``).
* ``refresh()`` reads the table's change feed since the indexed commit:
  old locations come from re-assigning the PRE-images (assignment is
  deterministic, so no postings lookup is needed to find a moved row),
  new locations from the post-images/inserts; only the affected cell
  partitions are rewritten (dynamic partition overwrite). Cost is
  O(changed rows + touched cells), never O(corpus).

Staleness is a hard error by default: querying an index whose table moved
past ``indexed_commit`` raises unless ``allow_stale=True`` — a secondary
index silently missing new rows is how retrieval bugs ship.

The reference has no vector surface (its Hudi tables index record keys
only); this follows the FAISS IVF-Flat design re-expressed as lakehouse
files: centroids = metadata, inverted lists = partitioned parquet, index
maintenance = CDC consumption.
"""

from __future__ import annotations

import json
import os
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from glue_hudi_spark.checkpoints import release_checkpoint
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
from glue_hudi_spark.storage.native import _parquet_writer


class StaleIndexError(RuntimeError):
    """The table advanced past the index's ``indexed_commit`` — call
    ``refresh()`` (or pass ``allow_stale=True`` to accept missing/moved
    rows)."""


class VectorIndex:
    """IVF index attached to one embedding column of a NativeTable."""

    def __init__(self, table, vec_col: str = "embedding"):
        self.table = table
        self.spark = table.spark
        self.vec_col = vec_col
        self.root = Path(table.root) / "_index" / "ivf" / vec_col
        self.postings = self.root / "postings"

    # ------------------------------------------------------------- metadata

    def _meta_path(self) -> Path:
        return self.root / "meta.json"

    def exists(self) -> bool:
        return self._meta_path().exists()

    def _meta(self) -> dict:
        p = self._meta_path()
        if not p.exists():
            raise ValueError(f"no vector index at {self.root} — build() first")
        return json.loads(p.read_text())

    def _write_meta(self, meta: dict) -> None:
        self.root.mkdir(parents=True, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            f.write(json.dumps(meta, indent=1))
        os.replace(tmp, self._meta_path())  # single-writer maintenance op

    def status(self) -> dict:
        meta = self._meta()
        head = self.table.timeline.latest()
        return {
            "indexed_commit": meta["indexed_commit"],
            "table_head": head.commit_id if head else None,
            "stale": bool(head and head.commit_id != meta["indexed_commit"]),
            "n_centroids": len(meta["centroids"]),
            "id_col": meta["id_col"],
        }

    # ----------------------------------------------------------------- build

    def _keyed(self, df: DataFrame, id_col: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias("id"),
            F.col(self.vec_col).cast("array<double>").alias("v"),
        )

    def _assign(self, keyed: DataFrame, cents: list[tuple]) -> DataFrame:
        if len(cents) > INLINE_CENTROID_MAX:
            return _assign_by_join(keyed, cents)
        return keyed.withColumn("cell", _nearest_cell_expr(cents, F.col("v")))

    def _postings_df(self, assigned: DataFrame) -> DataFrame:
        # norms are paid ONCE at index time, not per query pair
        return assigned.select(
            "id", "v", _norm(F.col("v")).alias("_vnorm"), "cell")

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
        (_parquet_writer(self._postings_df(assigned), "overwrite")
         .partitionBy("cell").parquet(str(self.postings)))
        self._write_meta({
            "vec_col": self.vec_col,
            "id_col": id_col,
            "metric": "cosine",
            "n_centroids": n_centroids,
            "train_iters": train_iters,
            "indexed_commit": head.commit_id,
            "centroids": [[c, comps] for c, comps in cents],
        })
        return {"indexed_commit": head.commit_id, "cells": len(cents)}

    # --------------------------------------------------------------- refresh

    def refresh(self) -> dict:
        """Catch the index up to the table head off the change feed —
        O(changed rows + touched cell partitions). Centroids are KEPT
        (refresh is assignment maintenance, not retraining — rebuild
        when drift degrades cell balance, same trade FAISS makes)."""
        meta = self._meta()
        head = self.table.timeline.latest()
        if head is None or head.commit_id == meta["indexed_commit"]:
            return {"refreshed": False, "cells_rewritten": 0}
        id_col = meta["id_col"]
        cents = [(c, comps) for c, comps in meta["centroids"]]
        feed = self.table.change_feed(meta["indexed_commit"], head.commit_id)
        # ONE assignment pass over the feed (the expensive leg — the
        # centroid argmax over every changed vector): pre-images locate a
        # moved/removed row WITHOUT reading postings (assignment is
        # deterministic, so old vector → old cell), and since pre- and
        # post-images are disjoint row sets a gone/add marker carried
        # through the pass splits them afterwards. The separate gone/add
        # frames re-executed feed + argmax for each of: two cell
        # collects, the changed-id set, the keep anti-join, and the
        # postings add rows (~5 passes per refresh — same fold
        # dedup_index.refresh got in round 13). Large-k centroid sets
        # keep the two-pass broadcast-join path (``_assign_by_join``
        # projects the marker away).
        gone_col = F.col("_change_type").isin("delete", "update_preimage")
        if len(cents) > INLINE_CENTROID_MAX:
            gone = self._assign(self._keyed(
                feed.filter(gone_col), id_col), cents)
            add = self._assign(self._keyed(
                feed.filter(~gone_col), id_col), cents)
            marked = (gone.withColumn("__ghs_gone__", F.lit(True))
                      .unionByName(
                          add.withColumn("__ghs_gone__", F.lit(False))))
        else:
            keyed = feed.select(
                F.col(id_col).alias("id"),
                F.col(self.vec_col).cast("array<double>").alias("v"),
                gone_col.alias("__ghs_gone__"))
            marked = keyed.withColumn(
                "cell", _nearest_cell_expr(cents, F.col("v")))
        fp = marked.localCheckpoint(eager=False)
        cells = sorted(
            {r["cell"] for r in fp.select("cell").distinct().collect()})
        if not cells:
            release_checkpoint(fp)  # materialized by the empty collect
            meta["indexed_commit"] = head.commit_id
            self._write_meta(meta)
            return {"refreshed": True, "cells_rewritten": 0}
        add = fp.filter(~F.col("__ghs_gone__")).drop("__ghs_gone__")
        # rewrite ONLY the affected cell partitions: their old postings
        # minus every changed id, plus the new assignments
        changed_ids = fp.select("id").distinct()
        self.spark.catalog.refreshByPath(str(self.postings))
        old = (self.spark.read.parquet(str(self.postings))
               .filter(F.col("cell").isin(cells)))
        keep = old.join(changed_ids, on="id", how="left_anti")
        # materialize BEFORE overwriting the directory being read (and
        # guard later readers against Spark's cached file listing)
        out = (keep.unionByName(self._postings_df(add))
               .localCheckpoint(eager=True))
        (_parquet_writer(out, "overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("cell").parquet(str(self.postings)))
        self.spark.catalog.refreshByPath(str(self.postings))
        # dynamic overwrite replaces only partitions PRESENT in the
        # output: an affected cell whose postings all left (every vector
        # deleted/moved away, none arrived) writes no rows and would keep
        # serving its STALE files — clear those dirs explicitly
        still = {r["cell"] for r in
                 out.select("cell").distinct().collect()}
        release_checkpoint(out)  # write + collect both done
        release_checkpoint(fp)  # out materialized: the marked pass is dead
        import shutil

        for c in cells:
            if c not in still:
                d = self.postings / f"cell={c}"
                if d.is_dir():
                    shutil.rmtree(d)
        meta["indexed_commit"] = head.commit_id
        self._write_meta(meta)
        return {"refreshed": True, "cells_rewritten": len(cells)}

    # ----------------------------------------------------------------- query

    def query(self, queries: DataFrame, k: int = 10, nprobe: int = 1,
              id_col: str | None = None,
              allow_stale: bool = False) -> DataFrame:
        """Top-k cosine neighbors per query vector, reading only the
        probed cells' postings partitions. Returns (query_id,
        neighbor_id, rank, sim); self-matches (same id) excluded."""
        meta = self._meta()
        head = self.table.timeline.latest()
        if (not allow_stale and head is not None
                and head.commit_id != meta["indexed_commit"]):
            raise StaleIndexError(
                f"index at {self.root} is at commit "
                f"{meta['indexed_commit']} but the table head is "
                f"{head.commit_id}; refresh() or pass allow_stale=True")
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
        # postings read is LITERALLY partition-pruned (queries are the
        # small side by design — batch retrieval jobs fan the corpus out
        # through this same index cell-by-cell instead)
        probed = sorted({r["cell"] for r in
                         q.select("cell").distinct().collect()})
        self.spark.catalog.refreshByPath(str(self.postings))
        post = (self.spark.read.parquet(str(self.postings))
                .filter(F.col("cell").isin(probed)))
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
