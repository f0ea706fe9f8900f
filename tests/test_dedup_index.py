"""Persisted dedup index: build → probe (exact + verified near-dup off
the hash store, never a corpus text scan) → incremental bucket refresh.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from glue_hudi_spark.operators.dedup_index import DedupIndex
from glue_hudi_spark.operators.vector_index import StaleIndexError
from glue_hudi_spark.storage.native import NativeTable

TEXTS = [
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet",
    "kilo lima mike november oscar papa quebec romeo sierra tango",
    "uniform victor whiskey xray yankee zulu one two three four",
    "the quick brown fox jumps over the lazy dog again today",
    "entirely different content about spark query planners and joins",
]


def _mk(spark, path, n=5):
    t = NativeTable(spark, path, record_keys=["dk"], precombine="doc_id",
                    files_per_partition=2, stats_cols=["doc_id"])
    rows = [dict(dk=f"{i:05d}", doc_id=i, text=TEXTS[i % len(TEXTS)]
                 + f" tail{i}") for i in range(n * len(TEXTS))]
    # doc 7 is the only NEAR-DUP-FREE doc (the cycled TEXTS give every
    # other doc siblings) — the delete/re-ingest test needs one
    rows[7]["text"] = ("singular document seven zyzzyva quixotic phlogiston "
                       "absquatulate borborygmus callipygian")
    t.bulk_insert(spark.createDataFrame(rows))
    return t


def test_probe_drops_exact_and_near_dups(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    ix = DedupIndex(t, id_col="doc_id")
    ix.build()
    corpus = t.read_snapshot()
    batch = spark.createDataFrame([
        # exact re-crawl of doc 3 under a new id → dropped
        dict(doc_id=1003, text=corpus.filter("doc_id = 3")
             .collect()[0]["text"]),
        # near-dup of doc 4 (one word changed) → dropped by verify
        dict(doc_id=1004, text=corpus.filter("doc_id = 4")
             .collect()[0]["text"].replace("joins", "unions")),
        # novel doc → kept
        dict(doc_id=1005, text="совершенно new words never seen in corpus "
                               "zetetic quixotic phlogiston"),
        # in-batch exact pair → min id kept
        dict(doc_id=1006, text="duplicate pair payload words here now"),
        dict(doc_id=1007, text="duplicate pair payload words here now"),
    ])
    got = sorted(r["doc_id"] for r in ix.probe(batch).collect())
    assert got == [1005, 1006]


def test_probe_stale_raises_then_refresh(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    ix = DedupIndex(t, id_col="doc_id")
    ix.build()
    novel = "brand new corpus document with fresh tokens xylophone"
    t.upsert(spark.createDataFrame(
        [dict(dk="99999", doc_id=99999, text=novel)]))
    batch = spark.createDataFrame([dict(doc_id=5000, text=novel)])
    with pytest.raises(StaleIndexError, match="refresh"):
        ix.probe(batch)
    # stale probe would have ADMITTED the duplicate of the new doc
    assert ix.probe(batch, allow_stale=True).count() == 1
    r = ix.refresh()
    assert r["refreshed"] and r["partitions_rewritten"] >= 1
    assert ix.probe(batch).count() == 0  # now it's a known exact dup


def test_refresh_handles_deletes(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    ix = DedupIndex(t, id_col="doc_id")
    ix.build()
    doomed = t.read_snapshot().filter("doc_id = 7").collect()[0]
    t.delete(spark.createDataFrame([dict(dk="00007")]))
    ix.refresh()
    # the deleted doc's fingerprints are gone: re-ingesting it is NOVEL
    batch = spark.createDataFrame(
        [dict(doc_id=7007, text=doomed["text"])])
    assert ix.probe(batch).count() == 1
    assert ix.store().read_snapshot().filter("id = 7").count() == 0


def test_refresh_noop(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    ix = DedupIndex(t, id_col="doc_id")
    ix.build()
    assert ix.refresh() == {"refreshed": False, "partitions_rewritten": 0}


def test_store_never_holds_text(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    ix = DedupIndex(t, id_col="doc_id")
    ix.build()
    store = ix.store().read_snapshot()
    assert set(store.columns) == {"kind", "p", "id", "band", "hash"}
    assert {r.kind for r in store.select("kind").distinct().collect()} == \
        {"exact", "band"}


def test_probe_store_reads_are_prefix_pruned(spark, tmp_path):
    # a 1-doc probe must read only its own hash-prefix partitions of
    # each store — the property that makes streaming probes O(batch)
    t = _mk(spark, tmp_path / "t")
    ix = DedupIndex(t, id_col="doc_id")
    ix.build()
    batch = spark.createDataFrame(
        [dict(doc_id=5555, text="one single novel probe document here")])
    novel = ix.probe(batch)
    assert novel.count() == 1
    from glue_hudi_spark.operators.dedup import normalized_text
    hp = batch.select(F.substring(F.md5(
        normalized_text("text")), 1, 1).alias("p")).collect()[0]["p"]
    store = ix.store()
    head = store.timeline.latest()
    exact_files = [f for f in head.files if "_pp_kind=exact" in f]
    # the store HAS many prefixes; the probe read needs exactly one —
    # assert the read lists that prefix's files only
    assert len(exact_files) > 4
    read = ix._store_read(store, head.commit_id, ix._rows(batch), "exact")
    listed = read.inputFiles()
    assert listed and all(f"/_pp_kind=exact/_pp_p={hp}/" in f
                          for f in listed), listed


def test_probe_pushdown_path_matches_join_path(spark, tmp_path):
    """Opt-in value pushdown (probe_pushdown_max > 0): identical probe
    verdicts to the default anti-join path, and the store scan carries
    the pushed In predicate (row-group skip at many-row-group scale).
    Over-limit batches fall back to the join path silently."""
    t = _mk(spark, tmp_path / "t")
    corpus = t.read_snapshot()
    batch = spark.createDataFrame([
        dict(doc_id=1003, text=corpus.filter("doc_id = 3")
             .collect()[0]["text"]),
        dict(doc_id=1004, text=corpus.filter("doc_id = 4")
             .collect()[0]["text"].replace("joins", "unions")),
        dict(doc_id=1005, text="совершенно new words never seen in corpus "
                               "zetetic quixotic phlogiston"),
        dict(doc_id=1006, text="duplicate pair payload words here now"),
        dict(doc_id=1007, text="duplicate pair payload words here now"),
    ])
    plain = DedupIndex(t, id_col="doc_id")
    plain.build()
    pushed = DedupIndex(t, id_col="doc_id", probe_pushdown_max=1000)
    want = sorted(r["doc_id"] for r in plain.probe(batch).collect())
    got = sorted(r["doc_id"] for r in pushed.probe(batch).collect())
    assert got == want == [1005, 1006]
    store = pushed.store()
    head = store.timeline.latest()
    # the fast path's read filters on the batch's hash set, and lists
    # only files of the batch's own exact prefixes
    rows = pushed._rows(batch)
    read = pushed._store_read(store, head.commit_id, rows, "exact")
    plan = read._jdf.queryExecution().executedPlan().toString()
    assert "In(hash, [" in plan or "In(hash,[" in plan, plan
    pfx = {r.p for r in rows.filter("kind = 'exact'").collect()}
    assert all(any(f"/_pp_kind=exact/_pp_p={p}/" in f for p in pfx)
               for f in read.inputFiles())
    # over-limit batch: silent fallback to the lazy join path
    tiny = DedupIndex(t, id_col="doc_id", probe_pushdown_max=1)
    got2 = sorted(r["doc_id"] for r in tiny.probe(batch).collect())
    assert got2 == want


def test_probe_bloom_path_matches_join_path(spark, tmp_path):
    """Opt-in Bloom pre-filter (probe_bloom_max > 0, batches past the
    In ceiling): identical probe verdicts to the default anti-join
    path, store-side rows entering the join cut to O(batch), and the
    whole pre-filter stays JVM-side (no Python eval in the scan)."""
    t = _mk(spark, tmp_path / "t")
    corpus = t.read_snapshot()
    batch = spark.createDataFrame([
        dict(doc_id=1003, text=corpus.filter("doc_id = 3")
             .collect()[0]["text"]),
        dict(doc_id=1004, text=corpus.filter("doc_id = 4")
             .collect()[0]["text"].replace("joins", "unions")),
        dict(doc_id=1005, text="совершенно new words never seen in corpus "
                               "zetetic quixotic phlogiston"),
        dict(doc_id=1006, text="duplicate pair payload words here now"),
        dict(doc_id=1007, text="duplicate pair payload words here now"),
    ])
    plain = DedupIndex(t, id_col="doc_id")
    plain.build()
    bloom = DedupIndex(t, id_col="doc_id", probe_bloom_max=1000)
    want = sorted(r["doc_id"] for r in plain.probe(batch).collect())
    got = sorted(r["doc_id"] for r in bloom.probe(batch).collect())
    assert got == want == [1005, 1006]
    # the pre-filtered store read: only batch-matching rows (+ rare
    # false positives) survive, and the plan holds no Python stage
    store = bloom.store()
    read = bloom._store_read(store, store.timeline.latest().commit_id,
                             bloom._rows(batch), "exact")
    plan = read._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    survivors = read.count()
    store_total = store.read_snapshot().filter("kind = 'exact'").count()
    # exactly one store hash is in the batch (doc 3's re-crawl); allow
    # a handful of false positives, but nothing near the full store
    assert 1 <= survivors <= 5 < store_total


def test_bloom_no_false_negatives(spark):
    """Every store row whose hash is in the batch survives the bloom
    semi-join (same bucket expression on both sides), and the
    broadcast pre-filter is in the plan — no shuffle of the store
    side, no Python stage."""
    hs = [f"{i:032x}" for i in range(0, 9000, 13)]
    member = set(hs[: len(hs) // 2])
    df = spark.createDataFrame([(h,) for h in hs], ["h"])
    ix = DedupIndex.__new__(DedupIndex)  # semi-join needs no table
    ix.spark = spark
    out = ix._bloom_semi_filter(df, "h", sorted(member))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "BatchEvalPython" not in plan
    passed = {r["h"] for r in out.collect()}
    assert member <= passed  # no false negative, ever
    fp = len(passed - member) / max(len(hs) - len(member), 1)
    assert fp < 0.05, f"bloom false-positive rate {fp:.3f}"


def test_bloom_over_cap_falls_back(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    ix = DedupIndex(t, id_col="doc_id")
    ix.build()
    batch = spark.createDataFrame(
        [dict(doc_id=2000 + i, text=f"novel document number {i} with "
              f"unique payload token{i}") for i in range(8)])
    tiny = DedupIndex(t, id_col="doc_id", probe_bloom_max=1)
    want = sorted(r["doc_id"] for r in ix.probe(batch).collect())
    got = sorted(r["doc_id"] for r in tiny.probe(batch).collect())
    assert got == want
