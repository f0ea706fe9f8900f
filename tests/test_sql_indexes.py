"""SQL face for the persisted secondary indexes: CREATE/REFRESH/DROP
DEDUP|VECTOR INDEX + SHOW INDEXES DDL, and the read-side TVFs
``dedup_probe('t','batch')`` / ``vector_search('t','queries')`` —
thin bindings onto ``operators/dedup_index.DedupIndex`` and
``operators/vector_index.VectorIndex`` (no second implementation).
Hudi's spark-sql sets the precedent for index DDL; the reference itself
reaches Hudi's record index through write options only
(processData.py:64-78)."""

from __future__ import annotations

import pytest

from glue_hudi_spark.sql import GhsSql

TEXTS = [
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet",
    "kilo lima mike november oscar papa quebec romeo sierra tango",
    "uniform victor whiskey xray yankee zulu one two three four",
    "the quick brown fox jumps over the lazy dog again today",
    "entirely different content about spark query planners and joins",
]


@pytest.fixture()
def ghs(spark, tmp_path):
    g = GhsSql(spark, tmp_path / "wh")
    g.sql("CREATE TABLE docs (dk STRING, doc_id BIGINT, text STRING) "
          "USING ghs_table TBLPROPERTIES ('primaryKey'='dk', "
          "'preCombineField'='doc_id')")
    vals = ", ".join(
        f"('{i:05d}', {i}, '{TEXTS[i % len(TEXTS)]} tail{i}')"
        for i in range(25))
    g.sql(f"INSERT INTO docs VALUES {vals}")
    return g


def test_dedup_index_lifecycle(ghs):
    ghs.sql("CREATE DEDUP INDEX ON docs (text) "
            "OPTIONS (id_col = doc_id, bands = 8)")
    rows = ghs.sql("SHOW INDEXES ON docs").collect()
    assert len(rows) == 1
    assert (rows[0].kind, rows[0].column, rows[0].stale) == \
        ("dedup", "text", False)
    assert '"id_col": "doc_id"' in rows[0].options
    # duplicate create: IF NOT EXISTS is a no-op, bare form raises
    ghs.sql("CREATE DEDUP INDEX IF NOT EXISTS ON docs (text) "
            "OPTIONS (id_col = doc_id)")
    with pytest.raises(ValueError, match="already has a DEDUP INDEX"):
        ghs.sql("CREATE DEDUP INDEX ON docs (text) "
                "OPTIONS (id_col = doc_id)")
    ghs.sql("DROP DEDUP INDEX ON docs")
    assert ghs.sql("SHOW INDEXES ON docs").count() == 0
    with pytest.raises(ValueError, match="has no DEDUP INDEX"):
        ghs.sql("DROP DEDUP INDEX ON docs")
    ghs.sql("DROP DEDUP INDEX IF EXISTS ON docs")  # no-op


def test_dedup_probe_tvf(ghs, spark):
    ghs.sql("CREATE DEDUP INDEX ON docs (text) "
            "OPTIONS (id_col = doc_id)")
    corpus3 = TEXTS[3] + " tail3"
    spark.createDataFrame([
        (1003, corpus3),                               # exact re-crawl
        (1004, (TEXTS[4] + " tail4").replace("joins", "unions")),
        (1005, "совершенно new words never seen zetetic phlogiston"),
        (1006, "duplicate pair payload words here now"),
        (1007, "duplicate pair payload words here now"),
    ], "doc_id bigint, text string").createOrReplaceTempView("batch")
    got = sorted(r.doc_id for r in ghs.sql(
        "SELECT doc_id FROM dedup_probe('docs', 'batch')").collect())
    assert got == [1005, 1006]
    # the bound view composes: WHERE over it
    assert ghs.sql("SELECT COUNT(*) AS n FROM dedup_probe('docs', "
                   "'batch') WHERE doc_id > 1005").first().n == 1


def test_dedup_probe_staleness_and_refresh(ghs, spark):
    ghs.sql("CREATE DEDUP INDEX ON docs (text) "
            "OPTIONS (id_col = doc_id)")
    novel = "brand new corpus document with fresh tokens xylophone"
    ghs.sql(f"INSERT INTO docs VALUES ('90000', 90000, '{novel}')")
    assert ghs.sql("SHOW INDEXES ON docs").first().stale is True
    spark.createDataFrame([(5000, novel)], "doc_id bigint, text string"
                          ).createOrReplaceTempView("b2")
    from glue_hudi_spark.operators.vector_index import StaleIndexError
    with pytest.raises(StaleIndexError, match="refresh"):
        ghs.sql("SELECT * FROM dedup_probe('docs', 'b2')")
    # a stale probe (opt-in) ADMITS the would-be duplicate
    assert ghs.sql("SELECT * FROM dedup_probe('docs', 'b2', 0.5, "
                   "'allow_stale')").count() == 1
    ghs.sql("REFRESH DEDUP INDEX ON docs")
    assert ghs.sql("SHOW INDEXES ON docs").first().stale is False
    assert ghs.sql(
        "SELECT * FROM dedup_probe('docs', 'b2')").count() == 0


def test_vector_index_lifecycle_and_search(ghs, spark):
    ghs.sql("CREATE TABLE vecs (vk STRING, vid BIGINT, "
            "emb ARRAY<DOUBLE>) USING ghs_table "
            "TBLPROPERTIES ('primaryKey'='vk', 'preCombineField'='vid')")
    ghs.sql("INSERT INTO vecs VALUES "
            "('a', 0, array(1.0D, 0.0D)), ('b', 1, array(0.9D, 0.1D)), "
            "('c', 2, array(0.0D, 1.0D)), ('d', 3, array(0.1D, 0.9D)), "
            "('e', 4, array(0.8D, 0.2D))")
    ghs.sql("CREATE VECTOR INDEX ON vecs (emb) "
            "OPTIONS (id_col = vid, n_centroids = 2)")
    rows = ghs.sql("SHOW INDEXES ON vecs").collect()
    assert [(r.kind, r.column, r.stale) for r in rows] == \
        [("ivf", "emb", False)]
    spark.createDataFrame([(100, [1.0, 0.05])],
                          "qid bigint, emb array<double>"
                          ).createOrReplaceTempView("q1")
    hits = ghs.sql("SELECT neighbor_id FROM vector_search('vecs', "
                   "'q1', 2, 2) ORDER BY rank").collect()
    assert [r.neighbor_id for r in hits] == [0, 1]
    # refresh catches table growth; search then sees the new row
    ghs.sql("INSERT INTO vecs VALUES ('f', 5, array(1.0D, 0.01D))")
    ghs.sql("REFRESH VECTOR INDEX ON vecs (emb)")
    hits = ghs.sql("SELECT neighbor_id FROM vector_search('vecs', "
                   "'q1', 1, 2)").collect()
    assert [r.neighbor_id for r in hits] == [5]
    ghs.sql("DROP VECTOR INDEX ON vecs (emb)")
    assert ghs.sql("SHOW INDEXES ON vecs").count() == 0
    with pytest.raises(ValueError, match="no VECTOR INDEX"):
        ghs.sql("SELECT * FROM vector_search('vecs', 'q1')")


def test_index_ddl_errors(ghs):
    with pytest.raises(ValueError, match="needs OPTIONS"):
        ghs.sql("CREATE DEDUP INDEX ON docs (text)")
    with pytest.raises(ValueError, match="unknown option"):
        ghs.sql("CREATE DEDUP INDEX ON docs (text) "
                "OPTIONS (id_col = doc_id, shingles = 4)")
    with pytest.raises(ValueError, match="no DEDUP INDEX"):
        ghs.sql("REFRESH DEDUP INDEX ON docs")
    with pytest.raises(ValueError, match="unknown table"):
        ghs.sql("CREATE DEDUP INDEX ON nope (text) "
                "OPTIONS (id_col = doc_id)")
    # index DDL commits files outside the table protocol: no txn
    # (the failed statement also aborts the open transaction)
    ghs.sql("BEGIN")
    with pytest.raises(ValueError, match="not allowed inside"):
        ghs.sql("CREATE DEDUP INDEX ON docs (text) "
                "OPTIONS (id_col = doc_id)")


def test_index_tvf_in_stored_view(ghs, spark, tmp_path):
    """A stored view over dedup_probe re-binds in a NEW session — the
    index meta lives on disk, so the rewrite needs no session state."""
    ghs.sql("CREATE DEDUP INDEX ON docs (text) "
            "OPTIONS (id_col = doc_id)")
    spark.createDataFrame(
        [(7000, "wholly novel stored-view probe document")],
        "doc_id bigint, text string").createOrReplaceTempView("b3")
    ghs.sql("CREATE VIEW novelties AS "
            "SELECT doc_id FROM dedup_probe('docs', 'b3')")
    assert ghs.sql("SELECT * FROM novelties").count() == 1
    g2 = GhsSql(spark, tmp_path / "wh")
    assert g2.sql("SELECT * FROM novelties").count() == 1


def test_index_tvf_view_replans_after_refresh(ghs, spark):
    """A stored view over dedup_probe replans when its table moves: reads
    of it refuse the stale index until REFRESH, then it answers against
    the grown corpus. Its failed replan unbinds it without failing other
    statements: reads that do not touch it still run, and a view created
    after it still replans."""
    ghs.sql("CREATE DEDUP INDEX ON docs (text) "
            "OPTIONS (id_col = doc_id)")
    novel = "brand new corpus document with fresh tokens xylophone"
    spark.createDataFrame([(7001, novel)], "doc_id bigint, text string"
                          ).createOrReplaceTempView("b5")
    ghs.sql("CREATE VIEW novel5 AS "
            "SELECT doc_id FROM dedup_probe('docs', 'b5')")
    ghs.sql("CREATE VIEW ndocs AS SELECT count(*) AS n FROM docs")
    assert ghs.sql("SELECT * FROM novel5").count() == 1
    assert ghs.sql("SELECT * FROM ndocs").first().n == 25
    ghs.sql(f"INSERT INTO docs VALUES ('90001', 90001, '{novel}')")
    assert ghs.sql("SELECT count(*) AS n FROM docs").first().n == 26
    assert ghs.sql("SELECT * FROM ndocs").first().n == 26
    with pytest.raises(ValueError, match="novel5"):
        ghs.sql("SELECT * FROM novel5")
    ghs.sql("REFRESH DEDUP INDEX ON docs")
    assert ghs.sql("SELECT * FROM novel5").count() == 0
    assert ghs.sql("SELECT * FROM ndocs").first().n == 26


def test_probe_knobs_persist_through_sql(ghs, spark):
    """OPTIONS (probe_bloom_max = N) on CREATE DEDUP INDEX persists in
    the index meta and is honored by every session that re-binds from
    it — the SQL face reaches the same scale knobs as the Python API,
    and the probe verdicts are unchanged."""
    ghs.sql("CREATE DEDUP INDEX ON docs (text) OPTIONS "
            "(id_col = doc_id, probe_bloom_max = 1000)")
    opts = ghs.sql("SHOW INDEXES ON docs").first().options
    assert '"probe_bloom_max": 1000' in opts
    from glue_hudi_spark.operators.dedup_index import DedupIndex

    ix = DedupIndex.open(ghs.tables["docs"])
    assert ix.probe_bloom_max == 1000 and ix.probe_pushdown_max == 0
    spark.createDataFrame(
        [(8000, TEXTS[2] + " tail2"),            # exact re-crawl
         (8001, "fresh bloom-path probe document qwertzuiop")],
        "doc_id bigint, text string").createOrReplaceTempView("b4")
    got = sorted(r.doc_id for r in ghs.sql(
        "SELECT doc_id FROM dedup_probe('docs', 'b4')").collect())
    assert got == [8001]
