"""Persisted dedup index over a NativeTable text column.

The scale path for arrival-time corpus dedup: ``incremental_exact``
re-hashes the ENTIRE corpus text per batch — correct, but at 100 TB that
is a full-corpus scan per micro-batch. This index materializes the
corpus's dedup fingerprints ONCE and maintains them off the table's
change feed:

* ``build()`` writes two hash-only stores under
  ``<table>/_index/dedup/``: ``exact/`` — (id, content hash) partitioned
  by the hash's hex PREFIX, and ``bands/`` — (id, band, band_hash)
  partitioned by the band hash's prefix. Prefix partitioning is what
  makes SMALL probes cheap: a streaming micro-batch of b docs touches at
  most b exact prefixes and b×bands band prefixes, so its store reads
  prune to that fraction of the corpus fingerprints — the probe cost
  tracks the BATCH, not the corpus (a bulk backfill batch covers every
  prefix and degrades gracefully to one full fingerprint scan, still
  never the text).
* ``probe(batch)`` returns the batch rows that are NOVEL: no exact hash
  match against the store, no verified near-duplicate (band collision →
  exact shingle-Jaccard check against the matched corpus docs, fetched
  by the table's own indexed point lookup — ``read_by_value``, so the
  verification read is range/bloom-pruned, never a corpus scan), and
  in-batch exact duplicates collapsed to the min-id representative.
* ``refresh()`` consumes the change feed since ``indexed_commit``;
  changed docs' OLD fingerprints are recomputed from the feed's
  pre-images (deterministic hashing — no store lookup needed to locate
  them), so only the prefix partitions holding changed fingerprints are
  rewritten — O(changed rows + touched partitions), never O(corpus).

Same staleness contract as the vector index: probing a stale index
raises unless explicitly allowed — silently missing newly-ingested
duplicates is how dedup regressions ship.

Fingerprints reuse the engine's portable MinHash family
(``dedup.minhash_hash_expr``: 8-hex-char slices of salted md5), so a
SQL oracle replays the store and the probe decision exactly.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from glue_hudi_spark.checkpoints import release_checkpoint
from glue_hudi_spark.functions.exprs import in_values
from glue_hudi_spark.operators.dedup import (
    minhash_signature,
    normalized_text,
    word_shingles,
)
from glue_hudi_spark.operators.vector_index import StaleIndexError
from glue_hudi_spark.storage.native import _parquet_writer

#: Bloom pre-filter modulus (probe_bloom_max path): the batch's hash
#: set maps to ``pmod(xxhash64(h), _BLOOM_BUCKETS)`` buckets and the
#: store is LEFT SEMI broadcast-joined against that bucket set — a
#: single-hash Bloom filter expressed as a join, so the "bitset" is a
#: broadcast LongHashedRelation (≤ batch-distinct longs), never a plan
#: literal. False-positive rate ≈ distinct_hashes / _BLOOM_BUCKETS
#: (~0.3% at a 200k batch). An earlier design shipped a bitstring as a
#: 4 MiB string literal probed with substr — Catalyst duplicates big
#: literals across expression copies (measured: 36 MiB task binaries
#: and a >20× slowdown), so literals are out.
_BLOOM_BUCKETS = 1 << 26


class DedupIndex:
    """Exact + near-dup fingerprint store attached to one text column.

    ``prefix_len``: hex chars of hash prefix per partition — 1 → 16
    partitions per store (small corpora; the default), 2 → 256 (large
    corpora, where a partition should stay a bounded rewrite unit).
    """

    def __init__(self, table, id_col: str, text_col: str = "text",
                 n: int = 3, num_hashes: int = 16, bands: int = 8,
                 prefix_len: int = 1, probe_pushdown_max: int = 0,
                 probe_bloom_max: int = 0):
        self.table = table
        self.spark = table.spark
        self.id_col = id_col
        self.text_col = text_col
        self.n, self.num_hashes, self.bands = n, num_hashes, bands
        self.prefix_len = prefix_len
        # value-pushdown probe path (r12 verdict #8, OPT-IN — set to
        # e.g. 1000 on object-storage corpora): batches with at most
        # this many distinct hashes push the hash SET into the store
        # scan as an In predicate — stores are written hash-sorted
        # within each prefix with parquet bloom filters, so row groups
        # without a batch hash are skipped by stats/bloom and the scan
        # reads O(batch) row groups, not the whole touched prefix.
        # Bigger batches (backfills) fall back to the prefix-pruned
        # anti-join; the collect is bounded by this knob (driver holds
        # ≤ max hash strings — metadata-sized). Default OFF because the
        # win needs many row groups per prefix (100-TB corpora on
        # object storage); on a local-NVMe prefix of 1-2 row groups the
        # nested predicate costs more than it skips (measured: 2.9 s
        # pushed vs 2.0 s plain on a 20M-row store — same precedent as
        # rewrite_persist_max_bytes). Ceiling: parquet translates the
        # pushed In into a NESTED Or tree, which stack-overflows past
        # ~2000 values (measured) — never set this above 1000.
        self.probe_pushdown_max = probe_pushdown_max
        # Bloom-prefilter probe path (r12 verdict #8's scale follow-up,
        # OPT-IN — set to e.g. 200_000): the In pushdown above is
        # ceiling-bound (~1000 values before parquet's nested-Or tree
        # overflows), so mid-size batches fell straight to the plain
        # anti-join, which at a 100-TB corpus shuffles every scanned
        # store row. This path covers the gap: collect the batch's
        # distinct hashes (bounded by this knob — driver holds ≤ max
        # 32-char strings), map it to xxhash64 buckets, and pre-filter
        # the store scan JVM-side with a broadcast LEFT SEMI join on
        # the same bucket expression before the exact join. Store rows whose hash is in the batch always pass
        # (the same xxhash64-bucket expression on both sides — no false
        # negatives by construction), so the exact anti-join result is
        # unchanged; false positives only add rows to the shuffle
        # (~|batch|/2^26). This cuts the store-side SHUFFLE to
        # O(batch), not the scan I/O — the scan stays prefix-pruned (a
        # big batch touches every prefix).
        self.probe_bloom_max = probe_bloom_max
        self.root = Path(table.root) / "_index" / "dedup"
        self.exact_store = self.root / "exact"
        self.bands_store = self.root / "bands"

    # ------------------------------------------------------------- metadata

    def _meta_path(self) -> Path:
        return self.root / "meta.json"

    def _meta(self) -> dict:
        p = self._meta_path()
        if not p.exists():
            raise ValueError(f"no dedup index at {self.root} — build() first")
        return json.loads(p.read_text())

    def _write_meta(self, meta: dict) -> None:
        self.root.mkdir(parents=True, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            f.write(json.dumps(meta, indent=1))
        os.replace(tmp, self._meta_path())

    # ----------------------------------------------------------------- rows

    def _pfx(self, col):
        return F.substring(col, 1, self.prefix_len)

    def _fingerprints(self, df: DataFrame,
                      extra_cols: list | None = None) -> DataFrame:
        """(id, h, band, band_hash) — per doc, ``bands`` small rows; the
        stores never carry text or shingles. ``extra_cols``: extra column
        expressions carried through the pass unchanged (refresh uses a
        gone/add marker so ONE MinHash pass serves both change sides)."""
        r = self.num_hashes // self.bands
        extra = list(extra_cols or [])
        sig = df.select(
            F.col(self.id_col).alias("id"),
            F.md5(normalized_text(self.text_col)).alias("h"),
            minhash_signature(self.text_col, self.n,
                              self.num_hashes).alias("mh"),
            *extra,
        )
        carried = sig.columns[3:]
        return sig.select(
            "id", "h",
            F.posexplode(F.array(*[
                F.md5(F.concat_ws(
                    "|", *[F.col("mh")[b * r + i] for i in range(r)]))
                for b in range(self.bands)
            ])).alias("band", "band_hash"),
            *carried,
        )

    def _exact_rows(self, fp: DataFrame) -> DataFrame:
        return (fp.select("id", "h").distinct()
                .withColumn("hp", self._pfx(F.col("h"))))

    def _band_rows(self, fp: DataFrame) -> DataFrame:
        return fp.select(
            "id", "band", "band_hash",
            self._pfx(F.col("band_hash")).alias("bp"))

    # ----------------------------------------------------------------- build

    def build(self) -> dict:
        head = self.table.timeline.latest()
        if head is None:
            raise ValueError(f"table {self.table.root} has no commits")
        fp = self._fingerprints(self.table.read_snapshot()).persist()
        try:
            # repartition on the partition column so each prefix dir is
            # one task's output — without it every shuffle task writes a
            # sliver into every dir (T×P tiny files, the small-file
            # problem at any scale). Hash-sorted within each prefix +
            # parquet bloom filters so the probe's pushed In predicate
            # skips row groups by stats/bloom (see probe_pushdown_max).
            (_parquet_writer(self._exact_rows(fp).repartition("hp")
                             .sortWithinPartitions("h"), "overwrite")
             .option("parquet.bloom.filter.enabled#h", "true")
             .partitionBy("hp").parquet(str(self.exact_store)))
            (_parquet_writer(self._band_rows(fp).repartition("bp")
                             .sortWithinPartitions("band_hash"), "overwrite")
             .option("parquet.bloom.filter.enabled#band_hash", "true")
             .partitionBy("bp").parquet(str(self.bands_store)))
        finally:
            fp.unpersist()
        self._write_meta({
            "id_col": self.id_col, "text_col": self.text_col,
            "n": self.n, "num_hashes": self.num_hashes,
            "bands": self.bands, "prefix_len": self.prefix_len,
            # probe-path knobs persist with the index so a session that
            # re-binds from meta (the SQL face) probes the way the
            # index was declared — they are deployment shape, not
            # per-call tuning
            "probe_pushdown_max": self.probe_pushdown_max,
            "probe_bloom_max": self.probe_bloom_max,
            "indexed_commit": head.commit_id,
        })
        return {"indexed_commit": head.commit_id}

    # --------------------------------------------------------------- refresh

    def _rewrite_store(self, path: Path, part_col: str, old_filtered,
                       changed_ids, new_rows, sort_col: str) -> None:
        """Rewrite one store's affected partitions: old rows minus every
        changed id, plus the new rows. Dynamic overwrite skips emptied
        partitions, so those are cleared explicitly. Keeps the build
        layout contract: hash-sorted within prefix + parquet bloom, so
        refreshed partitions stay probe-pushdown-prunable."""
        keep = old_filtered.join(changed_ids, on="id", how="left_anti")
        out = keep.unionByName(new_rows).localCheckpoint(eager=True)
        (_parquet_writer(out.repartition(part_col)
                         .sortWithinPartitions(sort_col), "overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .option(f"parquet.bloom.filter.enabled#{sort_col}", "true")
         .partitionBy(part_col).parquet(str(path)))
        self.spark.catalog.refreshByPath(str(path))
        return out

    def refresh(self) -> dict:
        """Catch up to the table head: only the prefix partitions holding
        changed fingerprints are rewritten."""
        meta = self._meta()
        head = self.table.timeline.latest()
        if head is None or head.commit_id == meta["indexed_commit"]:
            return {"refreshed": False, "partitions_rewritten": 0}
        feed = self.table.change_feed(meta["indexed_commit"], head.commit_id)
        # ONE fingerprint pass over the feed (MinHash is the expensive
        # leg): pre-images and post-images are disjoint row sets, so a
        # gone/add marker carried through the pass splits them afterwards
        # — two filtered passes computed every salted hash twice.
        gone_col = F.col("_change_type").isin("delete", "update_preimage")
        fp_all = self._fingerprints(
            feed, extra_cols=[gone_col.alias("__ghs_gone__")]).persist()
        # gone fingerprints only feed the prefix sets and the changed-id
        # set (both taken from fp_all whole); the rewrites add back the
        # POST-image rows only
        add_fp = fp_all.filter(~F.col("__ghs_gone__")).drop("__ghs_gone__")
        changed_ids = None
        try:
            changed_ids = (fp_all.select("id").distinct()
                           .localCheckpoint(eager=True))
            # both stores' touched prefixes in ONE cached aggregate
            # (every fingerprint row carries h AND band_hash — the
            # prefix SETS equal the four distinct-collects this folds)
            prow = fp_all.agg(
                F.collect_set(self._pfx(F.col("h"))).alias("hp"),
                F.collect_set(self._pfx(F.col("band_hash"))).alias("bp"),
            ).first()
            hps = sorted(prow["hp"])
            bps = sorted(prow["bp"])
            n_parts = 0
            if hps:
                self.spark.catalog.refreshByPath(str(self.exact_store))
                old = (self.spark.read.parquet(str(self.exact_store))
                       .filter(F.col("hp").isin(hps)))
                out = self._rewrite_store(
                    self.exact_store, "hp", old, changed_ids,
                    self._exact_rows(add_fp), sort_col="h")
                still = {r["hp"] for r in
                         out.select("hp").distinct().collect()}
                release_checkpoint(out)  # write + collect both done
                for p in hps:
                    if p not in still:
                        d = self.exact_store / f"hp={p}"
                        if d.is_dir():
                            shutil.rmtree(d)
                n_parts += len(hps)
            if bps:
                self.spark.catalog.refreshByPath(str(self.bands_store))
                old = (self.spark.read.parquet(str(self.bands_store))
                       .filter(F.col("bp").isin(bps)))
                out = self._rewrite_store(
                    self.bands_store, "bp", old, changed_ids,
                    self._band_rows(add_fp), sort_col="band_hash")
                still = {r["bp"] for r in
                         out.select("bp").distinct().collect()}
                release_checkpoint(out)  # write + collect both done
                for p in bps:
                    if p not in still:
                        d = self.bands_store / f"bp={p}"
                        if d.is_dir():
                            shutil.rmtree(d)
                n_parts += len(bps)
        finally:
            fp_all.unpersist()
            # both store rewrites have consumed the changed-id set
            if changed_ids is not None:
                release_checkpoint(changed_ids)
        meta["indexed_commit"] = head.commit_id
        self._write_meta(meta)
        return {"refreshed": True, "partitions_rewritten": n_parts}

    # ----------------------------------------------------------------- probe

    @staticmethod
    def _bloom_bucket(col):
        """The Bloom bucket of a hash column — the SAME expression is
        applied to the batch's hash set and to the store scan, so a
        store hash equal to a batch hash lands in the same bucket and
        always survives the semi-join: false negatives are impossible
        by construction (no cross-language hash parity to maintain)."""
        return F.pmod(F.xxhash64(col), F.lit(_BLOOM_BUCKETS))

    def _bloom_semi_filter(self, store: DataFrame, hash_col: str,
                           hs: list) -> DataFrame:
        """Pre-filter the store with the batch's Bloom bucket set via a
        broadcast LEFT SEMI join: the driver-held hash list becomes a
        one-column DataFrame, bucketized by :meth:`_bloom_bucket`, and
        the store streams against the broadcast LongHashedRelation —
        no shuffle of store rows, no plan literal, JVM-side end to
        end. Survivors ≈ batch matches + ~|hs|/_BLOOM_BUCKETS of the
        scanned rows (false positives only add anti-join input)."""
        bdf = (self.spark.createDataFrame([(h,) for h in hs],
                                          f"{hash_col} string")
               .select(self._bloom_bucket(F.col(hash_col))
                       .alias("__ghs_bb__"))
               .distinct())
        return store.join(
            F.broadcast(bdf),
            on=self._bloom_bucket(F.col(hash_col))
            == bdf["__ghs_bb__"],
            how="left_semi")

    def _pushed_store_read(self, path: Path, part_col: str,
                           hash_col: str, batch_rows: DataFrame,
                           select_cols: list,
                           empty_as_none: bool = False):
        """Read one fingerprint store pruned for a probe batch.

        Fast path (opt-in, ``probe_pushdown_max`` > 0 and at most that
        many distinct batch hashes):
        collect the hash set, derive the partition prefixes driver-side
        (no second job), and push BOTH ``part_col IN (prefixes)``
        (partition pruning) and ``hash_col IN (hashes)`` into the scan.
        The stores are hash-sorted within each prefix and carry parquet
        bloom filters on the hash column, so the pushed In skips row
        groups by stats/bloom — the scan cost tracks the batch, not the
        touched prefixes. Spark folds In lists past
        ``spark.sql.parquet.pushdown.inFilterThreshold`` into a useless
        min/max range for uniform hashes, so the threshold is raised
        for the scan's own execution (the eager localCheckpoint runs it
        inside the conf scope); the result is batch-bounded by
        construction. Slow path (bigger batches — bulk backfills):
        the original lazy prefix-pruned read, no driver hash set.

        Middle path (opt-in, ``probe_bloom_max`` > 0): batches past the
        In ceiling but within the bloom cap get a Bloom-bucket
        pre-filter applied as a broadcast LEFT SEMI join over the
        prefix-pruned scan (:meth:`_bloom_semi_filter`) — store rows
        whose hash is in the batch always pass (same bucket expression
        on both sides, no false negatives), so downstream exact joins
        are unchanged; the store-side shuffle drops to O(batch + false
        positives) instead of every scanned row. The scan I/O itself
        stays prefix-pruned only (a bucket-of-hash expression is not
        parquet-pushable — that is the In path's job)."""
        cap = max(self.probe_pushdown_max, self.probe_bloom_max)
        if cap > 0:
            hs = [r[hash_col] for r in
                  batch_rows.select(hash_col).distinct()
                  .limit(cap + 1).collect()]
            if len(hs) <= cap:
                if empty_as_none and not hs:
                    return None
                self.spark.catalog.refreshByPath(str(path))
                store = self.spark.read.parquet(str(path))
                pfx = sorted({h[:self.prefix_len] for h in hs})
                if (self.probe_pushdown_max > 0
                        and len(hs) <= self.probe_pushdown_max):
                    conf = self.spark.conf
                    key = "spark.sql.parquet.pushdown.inFilterThreshold"
                    prev = conf.get(key, None)
                    conf.set(key, str(len(hs) + 1))
                    try:
                        return (store.filter(in_values(part_col, pfx)
                                             & in_values(hash_col, hs))
                                .select(*select_cols)
                                .localCheckpoint(eager=True))
                    finally:
                        (conf.set(key, prev) if prev is not None
                         else conf.unset(key))
                return (self._bloom_semi_filter(
                            store.filter(F.col(part_col).isin(pfx)),
                            hash_col, hs)
                        .select(*select_cols))
        pfx = sorted({r[part_col] for r in
                      batch_rows.select(part_col).distinct().collect()})
        if empty_as_none and not pfx:
            return None
        self.spark.catalog.refreshByPath(str(path))
        store = self.spark.read.parquet(str(path))
        return store.filter(F.col(part_col).isin(pfx)).select(*select_cols)

    def probe(self, batch: DataFrame, verify_threshold: float = 0.5,
              max_candidates: int = 100_000,
              allow_stale: bool = False) -> DataFrame:
        """The batch rows that enter the corpus: drop exact re-crawls
        (hash in store), verified near-duplicates (band collision, then
        exact shingle Jaccard ≥ ``verify_threshold`` against the matched
        corpus docs — fetched via the table's indexed point lookup, a
        candidate-bounded read), and in-batch exact duplicates (min-id
        keeper). Store reads are PREFIX-PRUNED to the batch's own hash
        prefixes, so a small batch reads a small fraction of the
        fingerprints. Candidate corpus ids are collected to drive the
        pruned lookup — bounded by ``max_candidates``."""
        meta = self._meta()
        head = self.table.timeline.latest()
        if (not allow_stale and head is not None
                and head.commit_id != meta["indexed_commit"]):
            raise StaleIndexError(
                f"dedup index at {self.root} is at commit "
                f"{meta['indexed_commit']} but the table head is "
                f"{head.commit_id}; refresh() or pass allow_stale=True")
        fp = self._fingerprints(batch).persist()
        try:
            # exact: prune the store to the batch's hash prefixes; with
            # probe_pushdown_max set, small (micro-batch-shaped) batches
            # additionally push the hash SET into the scan — the store
            # files are hash-sorted with parquet bloom filters, so
            # In(h, ...) skips row groups holding none of the batch's
            # hashes (the scan reads O(batch) row groups, not the whole
            # touched prefix)
            seen_h = self._pushed_store_read(
                self.exact_store, "hp", "h",
                self._exact_rows(fp), ["h"])
            fresh = fp.join(seen_h, on="h", how="left_anti")
            # in-batch exact keep-one (same min-id policy as exact_dedup)
            keep = fresh.groupBy("h").agg(F.min("id").alias("id"))
            fresh = fresh.join(keep, on=["h", "id"], how="left_semi")
            # near-dup candidates: band-collide the survivors against the
            # batch's band-hash prefixes only (same value-pushdown fast
            # path as the exact store, on band_hash)
            store_bands = self._pushed_store_read(
                self.bands_store, "bp", "band_hash",
                self._band_rows(fresh),
                ["id", "band", "band_hash"], empty_as_none=True)
            surviving_ids = fresh.select("id").distinct()
            if store_bands is not None:
                cand = (fresh.select("id", "band", "band_hash")
                        .join(store_bands.select(
                            F.col("id").alias("corpus_id"),
                            "band", "band_hash"),
                            on=["band", "band_hash"])
                        .select("id", "corpus_id").distinct())
                corpus_ids = [r["corpus_id"] for r in
                              cand.select("corpus_id").distinct()
                              .limit(max_candidates + 1).collect()]
                if len(corpus_ids) > max_candidates:
                    raise ValueError(
                        f"dedup probe: >{max_candidates} candidate corpus "
                        "docs — split the batch or raise max_candidates")
                if corpus_ids:
                    corpus_docs = self.table.read_by_value(
                        self.id_col, corpus_ids)
                    csh = corpus_docs.select(
                        F.col(self.id_col).alias("corpus_id"),
                        F.array_distinct(word_shingles(
                            self.text_col, self.n)).alias("sh_c"))
                    bsh = batch.select(
                        F.col(self.id_col).alias("id"),
                        F.array_distinct(word_shingles(
                            self.text_col, self.n)).alias("sh_b"))
                    # union size arithmetically (arrays are distinct):
                    # one per-pair hash-set pass, not two
                    inter = F.size(F.array_intersect("sh_b", "sh_c"))
                    union = F.size("sh_b") + F.size("sh_c") - inter
                    dup_ids = (cand.join(bsh, on="id")
                               .join(csh, on="corpus_id")
                               .withColumn("jac", F.round(
                                   inter.cast("double")
                                   / union.cast("double"), 6))
                               .filter(F.col("jac") >= verify_threshold)
                               .select("id").distinct())
                    surviving_ids = surviving_ids.join(
                        dup_ids, on="id", how="left_anti")
            # materialize the novel-id set EXECUTOR-side (it is
            # batch-sized — never collect it to the driver) so the
            # fingerprint persist can be released before returning
            out_ids = surviving_ids.localCheckpoint(eager=True)
        finally:
            fp.unpersist()
        return batch.join(
            out_ids.withColumnRenamed("id", self.id_col),
            on=self.id_col, how="left_semi")
