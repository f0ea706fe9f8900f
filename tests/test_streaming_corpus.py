"""Streaming corpus ingestion: arrival-time dedup against the growing
table, availableNow backlog processing, replay idempotence."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import Row

from glue_hudi_spark.streaming import CorpusIngestStream


def _land(spark, rows, docs_dir: Path, name: str):
    df = spark.createDataFrame([Row(**r) for r in rows])
    stage = str(docs_dir) + "__stage__" + name
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    docs_dir.mkdir(parents=True, exist_ok=True)
    for i, p in enumerate(Path(stage).glob("*.parquet")):
        p.rename(docs_dir / f"{name}_{i}.parquet")
    return df


def test_corpus_stream_dedups_across_batches(spark, tmp_path):
    docs = tmp_path / "docs"
    _land(spark, [
        dict(doc_id=1, text="alpha beta"),
        dict(doc_id=2, text="gamma delta"),
        dict(doc_id=3, text="ALPHA   beta"),  # in-batch normalized dup of 1
    ], docs, "B1")

    stream = CorpusIngestStream(
        spark, docs, tmp_path / "corpus", tmp_path / "ckpt")
    stream.run_available()
    assert {r["doc_id"] for r in stream.table.read_snapshot().collect()} == {1, 2}

    # batch 2: one re-crawl (dup of doc 2), one genuinely new doc
    _land(spark, [
        dict(doc_id=10, text="gamma  DELTA"),   # cross-batch dup -> dropped
        dict(doc_id=11, text="epsilon zeta"),
    ], docs, "B2")
    stream.run_available()
    snap = {r["doc_id"]: r["text"] for r in stream.table.read_snapshot().collect()}
    assert set(snap) == {1, 2, 11}, snap

    # replay simulation: re-invoking an applied batch id is a no-op
    n_commits = len(stream.table.timeline.history())
    batch = spark.createDataFrame([Row(doc_id=99, text="replayed rows")])
    stream._ingest_batch(batch, 0)  # batch id 0 <= last applied
    assert len(stream.table.timeline.history()) == n_commits
    assert 99 not in {r["doc_id"] for r in stream.table.read_snapshot().collect()}


def test_corpus_stream_all_duplicate_batch_commits_nothing(spark, tmp_path):
    docs = tmp_path / "docs"
    _land(spark, [dict(doc_id=1, text="only doc")], docs, "B1")
    stream = CorpusIngestStream(
        spark, docs, tmp_path / "corpus", tmp_path / "ckpt")
    stream.run_available()
    n = len(stream.table.timeline.history())
    _land(spark, [dict(doc_id=2, text="ONLY   doc")], docs, "B2")
    stream.run_available()
    assert len(stream.table.timeline.history()) == n, "all-dup batch must not commit"
    assert stream.table.read_snapshot().count() == 1


def test_corpus_stream_quality_gate_filters_at_the_edge(spark, tmp_path):
    """min_quality drops junk docs inside the micro-batch BEFORE the
    dedup join — curation at the ingestion edge."""
    docs = tmp_path / "docs"
    good = ("the quick brown fox jumps over the lazy dog and it keeps "
            "running through the field for a while longer today")
    _land(spark, [
        dict(doc_id=1, text=good),
        dict(doc_id=2, text="zz"),          # low quality -> gated
    ], docs, "B1")
    stream = CorpusIngestStream(
        spark, docs, tmp_path / "corpus", tmp_path / "ckpt",
        min_quality=0.5)
    stream.run_available()
    assert {r["doc_id"] for r in stream.table.read_snapshot().collect()} == {1}

    # an all-gated batch commits nothing (same invariant as all-dup)
    n = len(stream.table.timeline.history())
    _land(spark, [dict(doc_id=3, text="qq")], docs, "B2")
    stream.run_available()
    assert len(stream.table.timeline.history()) == n


def test_corpus_stream_runs_full_curation_pipeline_per_batch(spark, tmp_path):
    """A CurationPipeline's stages run over each micro-batch's fresh
    slice; the per-stage audit counts land in the commit stats."""
    from glue_hudi_spark.curation import CurationPipeline

    docs = tmp_path / "docs"
    good = ("the quick brown fox jumps over the lazy dog and it keeps "
            "running through the field for a while longer today")
    _land(spark, [
        dict(doc_id=1, text=good),
        dict(doc_id=2, text=good.upper()),   # normalized dup of 1
        dict(doc_id=3, text="zz"),            # fails quality stage
    ], docs, "B1")
    stream = CorpusIngestStream(
        spark, docs, tmp_path / "corpus", tmp_path / "ckpt",
        pipeline=CurationPipeline({"stages": [
            {"op": "quality_filter", "min_quality": 0.5}]}))
    stream.run_available()
    assert {r["doc_id"] for r in stream.table.read_snapshot().collect()} == {1}
    stats = stream.table.timeline.latest().stats
    stages = stats["curation_stages"]
    assert stages["input"] == 2          # post-dedup fresh slice
    assert stages["0:quality_filter"] == 1


def test_pretrained_lm_model_flows_through_streaming_path(spark, tmp_path):
    """An OFFLINE-trained unigram model (model_path) must score every
    micro-batch on the SAME scale: in-vocabulary docs pass the floor in
    both batches, OOV-garbage docs are gated in both batches — which a
    per-batch re-train could not guarantee (batch 2's tiny vocabulary
    would reprice every token)."""
    from glue_hudi_spark.curation import CurationPipeline
    from glue_hudi_spark.operators import lm

    # train once, offline, on a reference corpus; persist as parquet
    ref = spark.createDataFrame(
        [Row(doc_id=i, text="the quick brown fox jumps over the lazy dog")
         for i in range(20)])
    model_path = str(tmp_path / "lm_model")
    lm.save_model(lm.unigram_train(ref, "text"), model_path)

    pipe = CurationPipeline({"stages": [
        {"op": "lm_filter", "model_path": model_path,
         "min_avg_logp": -4.0}]})   # in-vocab ~= -2, all-OOV ~= ln(1/188) ~= -5.2
    docs = tmp_path / "docs"
    _land(spark, [
        dict(doc_id=1, text="the quick brown fox"),          # in-vocab
        dict(doc_id=2, text="zzzq xxqj vvqk wwqm ppqn"),     # all OOV
    ], docs, "B1")
    stream = CorpusIngestStream(
        spark, docs, tmp_path / "corpus", tmp_path / "ckpt", pipeline=pipe)
    stream.run_available()
    assert {r["doc_id"] for r in stream.table.read_snapshot().collect()} == {1}

    # batch 2: same scale — the model did NOT re-train on batch 1's corpus
    _land(spark, [
        dict(doc_id=3, text="the lazy dog jumps"),           # in-vocab
        dict(doc_id=4, text="qqzz jjxx kkvv mmww nnpp"),     # all OOV
    ], docs, "B2")
    stream.run_available()
    assert {r["doc_id"] for r in stream.table.read_snapshot().collect()} == {1, 3}
    stages = stream.table.timeline.latest().stats["curation_stages"]
    assert stages["input"] == 2 and stages["0:lm_filter"] == 1


def test_corpus_stream_index_mode_drops_near_dups(spark, tmp_path):
    # use_index=True: dedup against the PERSISTED fingerprint store, which
    # also drops verified NEAR-duplicates the hash-only path admits
    docs = tmp_path / "docs"
    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima")
    _land(spark, [
        dict(doc_id=1, text=base),
        dict(doc_id=2, text="totally different words about query planners"),
    ], docs, "B1")
    stream = CorpusIngestStream(
        spark, docs, tmp_path / "corpus", tmp_path / "ckpt",
        use_index=True)
    stream.run_available()
    assert {r["doc_id"] for r in
            stream.table.read_snapshot().collect()} == {1, 2}
    _land(spark, [
        dict(doc_id=10, text=base.replace("kilo", "zulu")),  # near-dup of 1
        dict(doc_id=11, text="ALPHA bravo charlie delta echo foxtrot golf "
                             "hotel india juliet kilo lima"),  # exact dup
        dict(doc_id=12, text="fresh unrelated document appended here"),
    ], docs, "B2")
    stream.run_available()
    snap = {r["doc_id"] for r in stream.table.read_snapshot().collect()}
    assert snap == {1, 2, 12}, snap
    # the index is current after the commit (next probe needs no opt-in)
    from glue_hudi_spark.operators.dedup_index import DedupIndex

    ix = DedupIndex(stream.table, id_col="doc_id")
    assert ix.status()["indexed_commit"] == \
        stream.table.timeline.latest().commit_id


def test_embedding_stream_keeps_index_current(spark, tmp_path):
    from glue_hudi_spark.streaming import EmbeddingIngestStream

    def vec(i):
        return [float(((i * 7 + j * 13) % 19) - 9) for j in range(6)]

    docs = tmp_path / "vecs"
    _land(spark, [dict(vec_id=i, embedding=vec(i)) for i in range(30)],
          docs, "B1")
    stream = EmbeddingIngestStream(
        spark, docs, tmp_path / "vtab", tmp_path / "ckpt")
    stream.run_available()
    assert stream.index.exists()
    q = stream.table.read_snapshot().filter("vec_id < 2")
    # nprobe=all cells ≡ exact: 2 queries × k — and proves non-stale
    assert stream.index.query(q, k=3, nprobe=8).count() == 6
    # batch 2: new vectors + a mutation that moves cells
    _land(spark, [dict(vec_id=100 + i, embedding=vec(100 + i))
                  for i in range(5)]
          + [dict(vec_id=9, embedding=[-x for x in vec(9)])], docs, "B2")
    stream.run_available()
    assert stream.table.read_snapshot().count() == 35
    assert not stream.index.status()["stale"]
    got = stream.index.query(q, k=40, nprobe=8)
    assert got.count() == 2 * 34  # all non-self neighbors reachable


def test_corpus_drain_starts_no_streaming_query(
        spark, tmp_path, no_streaming_query):
    docs = tmp_path / "docs"
    _land(spark, [dict(doc_id=1, text="alpha beta"),
                  dict(doc_id=2, text="ALPHA beta")], docs, "B1")
    stream = CorpusIngestStream(
        spark, docs, tmp_path / "corpus", tmp_path / "ckpt")
    stream.run_available()
    assert spark.streams.active == []
    assert {r["doc_id"] for r in stream.table.read_snapshot().collect()} \
        == {1}
    assert stream.table.last_stream_batch_id() == 0


def test_embedding_drain_starts_no_streaming_query(
        spark, tmp_path, no_streaming_query):
    from glue_hudi_spark.streaming import EmbeddingIngestStream

    vecs = tmp_path / "vecs"
    _land(spark, [dict(vec_id=i, embedding=[float(i + 1), float(i % 3) - 1.5])
                  for i in range(8)], vecs, "B1")
    stream = EmbeddingIngestStream(
        spark, vecs, tmp_path / "vtab", tmp_path / "ckpt", n_centroids=2)
    stream.run_available()
    assert spark.streams.active == []
    assert stream.table.read_snapshot().count() == 8
    assert stream.index.exists()
    assert stream.table.last_stream_batch_id() == 0
