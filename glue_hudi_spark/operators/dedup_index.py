"""Persisted dedup index over a NativeTable text column.

The scale path for arrival-time corpus dedup: ``incremental_exact``
re-hashes the ENTIRE corpus text per batch — correct, but at 100 TB that
is a full-corpus scan per micro-batch. This index materializes the
corpus's dedup fingerprints ONCE and maintains them off the table's
change feed:

* The store is one hash-only ``NativeTable`` under ``<table>/_index/
  dedup/`` (protocol: ``index_store``) holding two kinds of row: per doc
  one ``exact`` row (id, content hash) and ``bands`` ``band`` rows (id,
  band, band hash), partitioned by ``kind`` and the hash's hex PREFIX
  ``p``. Prefix partitioning is what makes SMALL probes cheap: a
  streaming micro-batch of b docs touches at most b exact prefixes and
  b×bands band prefixes, so its store reads prune (``read_by_values`` on
  the per-file ``p`` stats) to that fraction of the corpus fingerprints —
  the probe cost tracks the BATCH, not the corpus (a bulk backfill batch
  covers every prefix and degrades gracefully to one full fingerprint
  scan, still never the text). ``build()`` is one ``insert_overwrite``.
* ``probe(batch)`` returns the batch rows that are NOVEL: no exact hash
  match against the store, no verified near-duplicate (band collision →
  exact shingle-Jaccard check against the matched corpus docs, fetched
  by the table's own indexed point lookup — ``read_by_value``, so the
  verification read is range/bloom-pruned, never a corpus scan), and
  in-batch exact duplicates collapsed to the min-id representative.
* ``refresh()`` consumes the change feed since ``indexed_commit`` in one
  store ``merge``; changed docs' OLD fingerprints are recomputed from the
  feed's pre-images (deterministic hashing — no store lookup needed to
  locate them), so only the prefix partitions holding changed
  fingerprints are rewritten — O(changed rows + touched partitions),
  never O(corpus).

Same staleness contract as the vector index: probing a stale index
raises unless explicitly allowed — silently missing newly-ingested
duplicates is how dedup regressions ship.

Fingerprints reuse the engine's portable MinHash family
(``dedup.minhash_hash_expr``: 8-hex-char slices of salted md5), so a
SQL oracle replays the store and the probe decision exactly.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from glue_hudi_spark.operators.dedup import (
    minhash_signature,
    normalized_text,
    word_shingles,
)
from glue_hudi_spark.operators.index_store import (
    StaleIndexError,  # noqa: F401  (re-exported)
    StoreIndex,
    stored_meta,
)
from glue_hudi_spark.storage.native import NativeTable

#: Bloom pre-filter modulus (probe_bloom_max path): the batch's hash
#: set maps to ``pmod(xxhash64(hash), _BLOOM_BUCKETS)`` buckets and the
#: store is LEFT SEMI broadcast-joined against that bucket set — a
#: single-hash Bloom filter expressed as a join, so the "bitset" is a
#: broadcast LongHashedRelation (≤ batch-distinct longs), never a plan
#: literal. False-positive rate ≈ distinct_hashes / _BLOOM_BUCKETS
#: (~0.3% at a 200k batch). An earlier design shipped a bitstring as a
#: 4 MiB string literal probed with substr — Catalyst duplicates big
#: literals across expression copies (measured: 36 MiB task binaries
#: and a >20× slowdown), so literals are out.
_BLOOM_BUCKETS = 1 << 26

#: constructor parameters, persisted in every store commit's metadata
_PARAMS = ("id_col", "text_col", "n", "num_hashes", "bands", "prefix_len",
           "probe_pushdown_max", "probe_bloom_max")


class DedupIndex(StoreIndex):
    """Exact + near-dup fingerprint store attached to one text column.

    ``prefix_len``: hex chars of hash prefix per partition — 1 → 16
    partitions per kind (small corpora; the default), 2 → 256 (large
    corpora, where a partition should stay a bounded rewrite unit).
    """

    _LEGACY_DIRS = ("exact", "bands")
    _OPTIONS = ("id_col", "n", "num_hashes", "bands", "prefix_len")
    _KNOBS = ("probe_pushdown_max", "probe_bloom_max")

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
        # read as an exact filter (the prefix files are hash-sorted, so
        # parquet's row-group stats skip what the filter's range
        # excludes) instead of anti-joining every row of the touched
        # prefixes. Bigger batches (backfills) fall back to the
        # prefix-pruned anti-join; the collect is bounded by this knob
        # (driver holds ≤ max hash strings — metadata-sized).
        self.probe_pushdown_max = probe_pushdown_max
        # Bloom-prefilter probe path (r12 verdict #8's scale follow-up,
        # OPT-IN — set to e.g. 200_000): mid-size batches past the
        # pushdown cap would fall straight to the plain anti-join,
        # which at a 100-TB corpus shuffles every scanned store row.
        # This path covers the gap: collect the batch's distinct hashes
        # (bounded by this knob — driver holds ≤ max 32-char strings),
        # map them to xxhash64 buckets, and pre-filter the store scan
        # JVM-side with a broadcast LEFT SEMI join on the same bucket
        # expression before the exact join. Store rows whose hash is in
        # the batch always pass (the same xxhash64-bucket expression on
        # both sides — no false negatives by construction), so the exact
        # anti-join result is unchanged; false positives only add rows
        # to the shuffle (~|batch|/2^26). This cuts the store-side
        # SHUFFLE to O(batch), not the scan I/O — the scan stays
        # prefix-pruned (a big batch touches every prefix).
        self.probe_bloom_max = probe_bloom_max
        self.root = self._root(table)

    @staticmethod
    def _root(table) -> Path:
        return Path(table.root) / "_index" / "dedup"

    @classmethod
    def open(cls, table) -> "DedupIndex | None":
        """The table's dedup index, bound to the parameters it was built
        with (None when it has none)."""
        meta = stored_meta(cls._root(table))
        if meta is None:
            return None
        return cls(table, **{k: meta[k] for k in _PARAMS if k in meta})

    def store(self) -> NativeTable:
        """The fingerprint store: rows (kind, p, id, band, hash), one file
        per (kind, p) partition, hash-sorted."""
        return NativeTable(
            self.spark, self.root, record_keys=["hash", "kind", "id", "band"],
            precombine="op", partition_keys=["kind", "p"],
            files_per_partition=1, stats_cols=["kind", "p"])

    # ----------------------------------------------------------------- rows

    def _rows(self, df: DataFrame, *extra) -> DataFrame:
        """(kind, p, id, band, hash) store rows of ``df``'s docs: one
        ``exact`` row (band -1, hash of the normalized text) and
        ``bands`` ``band`` rows (hash of the band's MinHash slice) per
        doc; the store never carries text or shingles. ``extra``: column
        expressions carried through the pass unchanged (refresh's
        gone/add marker, so ONE MinHash pass serves both change sides)."""
        r = self.num_hashes // self.bands
        sig = df.select(
            F.col(self.id_col).alias("id"),
            F.md5(normalized_text(self.text_col)).alias("h"),
            minhash_signature(self.text_col, self.n,
                              self.num_hashes).alias("mh"),
            *extra,
        )
        carried = sig.columns[3:]

        def row(kind, band, h):
            return F.struct(F.lit(kind).alias("kind"),
                            F.lit(band).alias("band"), h.alias("hash"))

        kinds = [row("exact", -1, F.col("h"))] + [
            row("band", b, F.md5(F.concat_ws(
                "|", *[F.col("mh")[b * r + i] for i in range(r)])))
            for b in range(self.bands)]
        return (sig.select("id", F.explode(F.array(*kinds)).alias("e"),
                           *carried)
                .select("e.kind",
                        F.substring("e.hash", 1, self.prefix_len).alias("p"),
                        "id", "e.band", "e.hash", *carried))

    def build(self) -> dict:
        head = self.table.timeline.latest()
        if head is None:
            raise ValueError(f"table {self.table.root} has no commits")
        self._publish(self._rows(self.table.read_snapshot()),
                      {k: getattr(self, k) for k in _PARAMS},
                      head.commit_id)
        return {"indexed_commit": head.commit_id}

    def _rebuild(self, meta: dict) -> None:
        for k in _PARAMS:
            setattr(self, k, meta.get(k, getattr(self, k)))
        self.build()

    def _ops(self, feed: DataFrame, meta: dict) -> DataFrame:
        gone = F.col("_change_type").isin("delete", "update_preimage")
        return self._rows(feed, F.when(gone, "D").otherwise("U").alias("op"))

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

    def _store_read(self, store: NativeTable, pin: int, rows: DataFrame,
                    kind: str) -> DataFrame | None:
        """The ``kind`` rows of the pinned store snapshot ``pin`` that the
        batch's store ``rows`` can match — None when the batch has none.

        Plain path: only the partitions of the batch's own hash prefixes
        are read (``read_by_values`` drops every other file by its ``p``
        stats before Spark lists it).

        Opt-in paths, for batches with at most ``probe_pushdown_max`` /
        ``probe_bloom_max`` distinct hashes: the hash set is collected
        and the prefixes derived from it driver-side (no second job).
        Within the pushdown cap the hash set itself joins the read's
        exact filter; within the bloom cap the prefix-pruned read gets a
        Bloom-bucket pre-filter (:meth:`_bloom_semi_filter`) — store rows
        whose hash is in the batch always pass, so downstream exact joins
        are unchanged, and the store-side shuffle drops to O(batch +
        false positives)."""
        rows = rows.filter(F.col("kind") == kind)
        cap = max(self.probe_pushdown_max, self.probe_bloom_max)
        hs = None
        if cap > 0:
            hs = [r["hash"] for r in rows.select("hash").distinct()
                  .limit(cap + 1).collect()]
            hs = hs if len(hs) <= cap else None
        pfx = (sorted({h[:self.prefix_len] for h in hs}) if hs is not None
               else sorted(r["p"] for r in
                           rows.select("p").distinct().collect()))
        if not pfx:
            return None
        probes = {"kind": [kind], "p": pfx}
        if hs is not None and len(hs) <= self.probe_pushdown_max:
            probes["hash"] = hs
        read = store.read_by_values(probes, as_of=pin)
        if hs is None or "hash" in probes:
            return read
        return self._bloom_semi_filter(read, "hash", hs)

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
        fingerprints, all from the one store snapshot pinned here.
        Candidate corpus ids are collected to drive the pruned lookup —
        bounded by ``max_candidates``."""
        store, pin, _ = self._pinned(allow_stale)
        rows = self._rows(batch).persist()
        try:
            fresh = rows.filter(F.col("kind") == "exact")
            seen = self._store_read(store, pin, rows, "exact")
            if seen is not None:
                fresh = fresh.join(seen.select("hash"), on="hash",
                                   how="left_anti")
            # in-batch exact keep-one (same min-id policy as exact_dedup)
            surviving_ids = fresh.groupBy("hash").agg(
                F.min("id").alias("id")).select("id")
            # near-dup candidates: band-collide the survivors against
            # their own band-hash prefixes only
            bands = (rows.filter(F.col("kind") == "band")
                     .join(surviving_ids, on="id", how="left_semi"))
            store_bands = self._store_read(store, pin, bands, "band")
            if store_bands is not None:
                cand = (bands
                        .join(store_bands.select(
                            F.col("id").alias("corpus_id"), "band",
                            "hash"), on=["band", "hash"])
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
            # store-row persist can be released before returning
            out_ids = surviving_ids.localCheckpoint(eager=True)
        finally:
            rows.unpersist()
        return batch.join(
            out_ids.withColumnRenamed("id", self.id_col),
            on=self.id_col, how="left_semi")
