"""Every Parquet file the table format writes is zstd.

Data files (bulk insert, every CoW rewrite, MoR deltas, compaction,
bin-pack, file rewrites), ``_changes/`` tombstones and DV sidecars go
through one writer that sets the codec as a writer option. Parquet
records the codec per column chunk, so a table holding files of another
codec keeps reading and merging, and what it rewrites comes out zstd.
"""

from __future__ import annotations

from pathlib import Path

import pyarrow.parquet as pq
import pytest

from glue_hudi_spark.storage import native
from glue_hudi_spark.storage.native import NativeTable


def _codecs(root: Path, rels) -> set[str]:
    """Codec of every column chunk of every file in ``rels``."""
    out = set()
    for rel in rels:
        md = pq.ParquetFile(str(root / rel)).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            out |= {rg.column(i).compression for i in range(rg.num_columns)}
    return out


def _new_files(before, commit) -> list[str]:
    return sorted(set(commit.files) - set(before.files))


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "id string, seq int, v double, note string, pt string")


def _rows(n, seq=1, v=0.0):
    return [(f"k{i:04d}", seq, float(i) + v, f"note {i % 7}",
             "a" if i % 2 else "b") for i in range(n)]


def _snap(t):
    return sorted(tuple(r) for r in t.read_snapshot().select(
        "id", "seq", "v", "note", "pt").collect())


@pytest.mark.parametrize("partitioned", [False, True])
def test_keyed_writes_are_zstd(spark, tmp_path, partitioned):
    t = NativeTable(spark, tmp_path / "t", record_keys=["id"],
                    precombine="seq",
                    partition_keys=["pt"] if partitioned else None,
                    files_per_partition=2, change_feed_deletes=True)
    c = t.bulk_insert(_batch(spark, _rows(200)))
    assert _codecs(t.root, c.files) == {"ZSTD"}
    steps = [
        lambda: t.upsert(_batch(spark, [("k0003", 2, 30.0, "u", "a")])),
        lambda: t.delete(_batch(spark, [("k0004", 3, 0.0, "", "b")])),
        lambda: t.merge(spark.createDataFrame(
            [("k0005", 4, 50.0, "m", "a", "U"),
             ("k0006", 4, 0.0, "", "b", "D"),
             ("k9999", 4, 9.0, "i", "a", "I")],
            "id string, seq int, v double, note string, pt string, "
            "op string")),
    ]
    for step in steps:
        prev = t.timeline.latest()
        c = step()
        new = _new_files(prev, c)
        assert new, c.action
        assert _codecs(t.root, new) == {"ZSTD"}, c.action
    # delete and merge each landed a tombstone under _changes/
    tombs = [p.relative_to(t.root)
             for p in (t.root / native.CHANGES_DIR).rglob("*.parquet")]
    assert len({p.parent for p in tombs}) == 2
    assert _codecs(t.root, tombs) == {"ZSTD"}


def test_mor_delta_and_compaction_are_zstd(spark, tmp_path):
    t = NativeTable(spark, tmp_path / "t", record_keys=["id"],
                    precombine="seq", storage_type="mor", compact_every=99)
    t.bulk_insert(_batch(spark, _rows(50)))
    c = t.upsert(_batch(spark, [("k0001", 2, 10.0, "d", "a")]))
    deltas = [f for d in c.deltas for f in d["files"]]
    assert deltas and _codecs(t.root, deltas) == {"ZSTD"}
    prev = t.timeline.latest()
    c = t.compact()
    assert not c.deltas and _codecs(t.root, _new_files(prev, c)) == {"ZSTD"}


def test_dv_sidecar_is_zstd(spark, tmp_path):
    t = NativeTable(spark, tmp_path / "t", record_keys=["id"],
                    precombine="seq", deletion_vectors=True)
    t.bulk_insert(_batch(spark, _rows(50)))
    c = t.delete(_batch(spark, [("k0002", 2, 0.0, "", "b")]))
    sidecars = {s for e in c.dvs.values() for s in e["files"]}
    assert sidecars and _codecs(t.root, sidecars) == {"ZSTD"}


def test_bin_pack_and_rewrite_files_are_zstd(spark, tmp_path):
    t = NativeTable(spark, tmp_path / "t", record_keys=["id"],
                    precombine="seq", files_per_partition=2)
    t.bulk_insert(_batch(spark, _rows(400)))
    for j in range(3):
        t.upsert(_batch(spark, [(f"k{j:04d}", 2, 1.0, "u", "a")]))
    prev = t.timeline.latest()
    c = t.bin_pack(target_bytes=64 * 1024)
    assert c is not None and _codecs(t.root, _new_files(prev, c)) == {"ZSTD"}
    prev = t.timeline.latest()
    c = t.rewrite_data_files()
    assert c is not None and _codecs(t.root, _new_files(prev, c)) == {"ZSTD"}


def test_snappy_history_reads_merges_and_rewrites_to_zstd(
        spark, tmp_path, monkeypatch):
    """Files a table wrote under another codec keep serving reads, an
    upsert and a bin-pack; every file those commits write is zstd."""
    t = NativeTable(spark, tmp_path / "t", record_keys=["id"],
                    precombine="seq", files_per_partition=2)
    with monkeypatch.context() as m:
        m.setattr(native, "PARQUET_CODEC", "snappy")
        t.bulk_insert(_batch(spark, _rows(300)))
        t.upsert(_batch(spark, [("k0001", 2, 7.0, "s", "a")]))
    old = t.timeline.latest()
    assert _codecs(t.root, old.files) == {"SNAPPY"}
    expected = {r[0]: r for r in _rows(300)}
    expected["k0001"] = ("k0001", 2, 7.0, "s", "a")
    assert _snap(t) == sorted(expected.values())

    c = t.upsert(_batch(spark, [("k0002", 3, 8.0, "z", "b"),
                                ("k0299", 3, 9.0, "z", "a")]))
    expected["k0002"] = ("k0002", 3, 8.0, "z", "b")
    expected["k0299"] = ("k0299", 3, 9.0, "z", "a")
    assert _codecs(t.root, _new_files(old, c)) == {"ZSTD"}
    assert _codecs(t.root, set(c.files) & set(old.files)) <= {"SNAPPY"}
    assert _snap(t) == sorted(expected.values())

    prev = t.timeline.latest()
    c = t.bin_pack(target_bytes=1 << 20)
    assert c is not None
    assert _codecs(t.root, _new_files(prev, c)) == {"ZSTD"}
    assert _snap(t) == sorted(expected.values())
    assert t.validate()["ok"]


def test_footer_stats_do_not_depend_on_codec(spark, tmp_path, monkeypatch):
    """``key_stats`` and ``col_stats`` come from footers; the codec
    changes bytes, not values."""
    stats = {}
    for codec in ("snappy", "zstd"):
        monkeypatch.setattr(native, "PARQUET_CODEC", codec)
        t = NativeTable(spark, tmp_path / codec, record_keys=["id"],
                        precombine="seq", partition_keys=["pt"],
                        files_per_partition=2, stats_cols=["v", "note"])
        t.bulk_insert(_batch(spark, _rows(300)))
        c = t.upsert(_batch(spark, [("k0010", 2, -1.0, "zz", "b")]))
        assert _codecs(t.root, c.files) == {codec.upper()}
        stats[codec] = (sorted(map(repr, c.key_stats.values())),
                        sorted(map(repr, c.col_stats.values())))
    assert stats["snappy"] == stats["zstd"]


def _store_codecs(root: Path) -> set[str]:
    return _codecs(root, [p.relative_to(root) for p in root.rglob("*.parquet")])


def test_operator_stores_are_zstd(spark, tmp_path):
    """The dedup and vector index stores and the enrichment sink write
    through the same writer as the table files, build and refresh."""
    import datetime as dt

    from pyspark.sql import functions as F

    from glue_hudi_spark.operators.dedup_index import DedupIndex
    from glue_hudi_spark.operators.vector_index import VectorIndex
    from glue_hudi_spark.streaming.enrich import EnrichStream

    docs = NativeTable(spark, tmp_path / "docs", record_keys=["dk"],
                       precombine="doc_id")
    docs.bulk_insert(spark.range(20).selectExpr(
        "format_string('%05d', id) AS dk", "id AS doc_id",
        "concat('words of document ', id % 5, ' tail ', id) AS text"))
    dix = DedupIndex(docs, id_col="doc_id")
    dix.build()
    docs.upsert(spark.createDataFrame(
        [("00099", 99, "a brand new document with fresh tokens")],
        "dk string, doc_id long, text string"))
    assert dix.refresh()["refreshed"]
    assert _store_codecs(dix.root / "data") == {"ZSTD"}

    vecs = NativeTable(spark, tmp_path / "vecs", record_keys=["vk"],
                       precombine="vec_id")
    vecs.bulk_insert(spark.range(30).select(
        F.format_string("%06d", "id").alias("vk"), F.col("id").alias("vec_id"),
        F.array(*[((F.col("id") * 7 + j * 13) % 19 - 9).cast("double")
                  for j in range(4)]).alias("embedding")))
    vix = VectorIndex(vecs)
    vix.build(id_col="vec_id", n_centroids=4)
    vecs.delete(spark.createDataFrame([("000003",)], "vk string"))
    assert vix.refresh()["refreshed"]
    assert _store_codecs(vix.root / "data") == {"ZSTD"}

    dim = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), dt.datetime(2100, 1, 1), "gold")],
        "user_id int, valid_from timestamp, valid_to timestamp, tier string")
    stream = EnrichStream(
        spark, "/dev/null", tmp_path / "out", tmp_path / "ckpt",
        dim_loader=lambda: dim, key_cols=["user_id"], event_ts="ts",
        attrs=["tier"], schema="event_id int, user_id int, ts timestamp")
    stream._enrich_batch(spark.createDataFrame(
        [(1, 1, dt.datetime(2024, 2, 15))],
        "event_id int, user_id int, ts timestamp"), 0)
    assert _store_codecs(tmp_path / "out") == {"ZSTD"}
