"""``GhsSql`` reads INSERT, UPDATE, DELETE, MERGE, ALTER, TRUNCATE and the
table references of reads from Spark's own parse of the statement.

Each test pins a statement a text-level reader got wrong: a string
literal that looks like SQL (``' WHERE '``, ``'t.v'``, ``'--'``, ``'VERSION
AS OF'``), a nested ``CASE WHEN`` inside a MERGE clause, MERGE clause
order and repeats, a DELETE on a renamed column, and stored views that
read their base table only inside a CTE or a subquery."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from glue_hudi_spark.sql import GhsSql, _split_top
from glue_hudi_spark.storage.native import NativeTable


@pytest.fixture()
def ghs(spark, tmp_path):
    g = GhsSql(spark, tmp_path / "wh")
    g.sql("CREATE TABLE acc (id STRING, v INT, note STRING) USING ghs_table "
          "TBLPROPERTIES ('primaryKey'='id');"
          "INSERT INTO acc VALUES ('a', 1, 'x'), ('b', 2, 'y'), ('c', 3, 'z')")
    return g


def _rows(g, q="SELECT id, v, note FROM acc ORDER BY id"):
    return [tuple(r) for r in g.sql(q).collect()]


# ------------------------------------------------- literals stay literal


def test_merge_literal_holding_alias_text_is_stored_verbatim(ghs):
    ghs.sql("MERGE INTO acc t USING (SELECT 'a' AS id, 7 AS v) s "
            "ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET note = 't.v s.v', v = s.v + t.v")
    assert _rows(ghs)[0] == ("a", 8, "t.v s.v")


def test_merge_update_with_case_when(ghs):
    ghs.sql("MERGE INTO acc t USING (SELECT 'a' AS id, 5 AS v UNION ALL "
            "SELECT 'b', 1) s ON t.id = s.id WHEN MATCHED THEN UPDATE SET "
            "v = CASE WHEN s.v > 3 THEN s.v ELSE 0 END")
    assert [r[:2] for r in _rows(ghs)] == [("a", 5), ("b", 0), ("c", 3)]


def test_update_literal_holding_where(ghs):
    ghs.sql("UPDATE acc SET note = 'x WHERE y' WHERE id = 'a'")
    ghs.sql("UPDATE acc SET note = ' AND x = 5' WHERE v BETWEEN 2 AND 2")
    assert [r[2] for r in _rows(ghs)] == ["x WHERE y", " AND x = 5", "z"]


def test_literal_holding_time_travel_text_binds_nothing(ghs, spark):
    spark.catalog.dropTempView("acc__v1")
    got = ghs.sql("SELECT 'acc VERSION AS OF 1' AS s").first().s
    assert got == "acc VERSION AS OF 1"
    assert "acc__v1" not in [t.name for t in spark.catalog.listTables()]
    # a real time travel still reads the old snapshot
    ghs.sql("DELETE FROM acc")
    v = ghs.tables["acc"].timeline.latest().commit_id - 1
    assert ghs.sql(f"SELECT count(*) AS n FROM `acc` VERSION AS OF {v} "
                   "AS old").first().n == 3


def test_comment_marker_inside_literal_is_text(ghs):
    ghs.sql("INSERT INTO acc VALUES ('d', 4, 'x--y')")
    assert _rows(ghs)[-1] == ("d", 4, "x--y")
    assert ghs.sql("SELECT 'p--q' AS s").first().s == "p--q"
    out = ghs.sql("-- a leading comment line\n"
                  "SELECT count(*) AS n FROM acc -- trailing comment\n"
                  "WHERE note = 'x--y'")
    assert out.first().n == 1
    assert _split_top("SELECT '--;' AS a; -- gone; still gone\nSELECT 2",
                      ";") == ["SELECT '--;' AS a", "SELECT 2"]


# ----------------------------------------------- MERGE clause semantics


def test_merge_update_listed_before_delete_wins_first(ghs):
    ghs.sql("MERGE INTO acc t USING (SELECT 'a' AS id, 5 AS v UNION ALL "
            "SELECT 'b', 1) s ON t.id = s.id "
            "WHEN MATCHED AND s.v > 3 THEN UPDATE SET v = s.v "
            "WHEN MATCHED THEN DELETE")
    assert [r[:2] for r in _rows(ghs)] == [("a", 5), ("c", 3)]


def test_merge_by_source_update_listed_before_delete(ghs):
    ghs.sql("MERGE INTO acc t USING (SELECT 'a' AS id, 9 AS v) s "
            "ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v "
            "WHEN NOT MATCHED BY SOURCE AND t.v > 2 THEN UPDATE SET v = 0 "
            "WHEN NOT MATCHED BY SOURCE THEN DELETE")
    assert [r[:2] for r in _rows(ghs)] == [("a", 9), ("c", 0)]


def test_merge_repeated_or_unreachable_clause_is_rejected(ghs):
    with pytest.raises(ValueError, match="takes one when matched update"):
        ghs.sql("MERGE INTO acc t USING acc s ON t.id = s.id "
                "WHEN MATCHED AND s.v > 1 THEN UPDATE SET v = 0 "
                "WHEN MATCHED AND s.v > 2 THEN UPDATE SET v = 1")
    with pytest.raises(ValueError, match="takes one when not matched"):
        ghs.sql("MERGE INTO acc t USING acc s ON t.id = s.id "
                "WHEN NOT MATCHED AND s.v > 1 THEN INSERT * "
                "WHEN NOT MATCHED THEN INSERT *")
    # a DELETE after an unconditional UPDATE could never run: Spark's
    # parser rejects the statement (only the last clause may omit AND)
    for group in ("MATCHED", "NOT MATCHED BY SOURCE"):
        with pytest.raises(ValueError, match="cannot parse"):
            ghs.sql(f"MERGE INTO acc t USING acc s ON t.id = s.id "
                    f"WHEN {group} THEN UPDATE SET v = 0 "
                    f"WHEN {group} THEN DELETE")
    assert [r[:2] for r in _rows(ghs)] == [("a", 1), ("b", 2), ("c", 3)]


# ------------------------------------------------- renamed-column DELETE


@pytest.mark.parametrize("dv", [False, True])
def test_delete_on_renamed_and_swapped_columns(spark, tmp_path, dv):
    t = NativeTable(spark, tmp_path / "r", record_keys=["id"],
                    deletion_vectors=dv, files_per_partition=4)
    t.bulk_insert(spark.range(40).select(
        "id", (F.col("id") % 4).alias("b"), (F.col("id") % 5).alias("c")))
    g = GhsSql(spark, tmp_path / "wh", tables={"r": t})
    g.sql("ALTER TABLE r RENAME COLUMN b TO d")
    g.sql("DELETE FROM r WHERE d = 3")
    # swap c and d: each name now reads the other's physical column
    g.sql("ALTER TABLE r RENAME COLUMN c TO tmp; "
          "ALTER TABLE r RENAME COLUMN d TO c; "
          "ALTER TABLE r RENAME COLUMN tmp TO d")
    g.sql("DELETE FROM r WHERE c = 0 OR `d` IN (4)")
    got = sorted(r.id for r in g.sql("SELECT id FROM r").collect())
    assert got == [i for i in range(40)
                   if i % 4 not in (3, 0) and i % 5 != 4]
    row = g.sql("SELECT c, d FROM r WHERE id = 6").first()
    assert (row.c, row.d) == (2, 1)


# -------------------------------------------- stored-view dependencies


@pytest.mark.parametrize("body", [
    "WITH w AS (SELECT id, v FROM `acc`) SELECT count(*) AS n FROM w",
    "SELECT count(*) AS n FROM (SELECT 1 AS k) x "
    "WHERE k IN (SELECT 1 FROM `acc` WHERE id = 'z')",
    "SELECT (SELECT count(*) FROM `acc`) AS n",
])
def test_view_reading_base_in_cte_or_subquery(ghs, body):
    """The base is named only inside a CTE body or a subquery plan, and
    quoted: the view still replans after a base write and still guards
    a DROP of its base."""
    ghs.sql(f"CREATE VIEW dep AS {body}")
    before = ghs.sql("SELECT * FROM dep").first()[0]
    ghs.sql("INSERT INTO acc VALUES ('z', 26, 'n')")
    after = ghs.sql("SELECT * FROM dep").first()[0]
    assert after == before + 1
    assert ghs._view_dependents("acc") == ["dep"]
    with pytest.raises(ValueError, match="referenced by stored view"):
        ghs.sql("DROP TABLE acc")


def test_column_sharing_a_table_name_is_no_dependency(ghs):
    ghs.sql("CREATE TABLE note (k STRING) USING ghs_table "
            "TBLPROPERTIES ('primaryKey'='k')")
    ghs.sql("CREATE VIEW notes AS SELECT note, 'note' AS s FROM acc")
    assert ghs._view_dependents("note") == []
    ghs.sql("DROP TABLE note")
    assert len(ghs.sql("SELECT * FROM notes").collect()) == 3


# --------------------------------------------------- no job to dispatch


def test_metadata_alter_starts_no_job(ghs, job_ids):
    before = job_ids()
    ghs.sql("ALTER TABLE acc RENAME COLUMN note TO memo")
    ghs.sql("ALTER TABLE acc DROP COLUMN memo")
    assert job_ids() == before
    assert _rows(ghs, "SELECT * FROM acc ORDER BY id")[0] == ("a", 1)


def test_dml_parse_starts_no_job_before_execution(ghs, job_ids,
                                                  monkeypatch):
    t, seen = ghs.tables["acc"], []
    for verb in ("upsert", "delete_where", "merge_into"):
        real = getattr(t, verb)
        monkeypatch.setattr(t, verb, lambda *a, _real=real, **kw: (
            seen.append(job_ids()), _real(*a, **kw))[1])
    for stmt in ("UPDATE acc SET v = v + 1 WHERE note <> 'WHERE'",
                 "DELETE FROM acc WHERE id BETWEEN 'b' AND 'b'",
                 "MERGE INTO acc t USING (SELECT 'c' AS id, 0 AS v) s "
                 "ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v"):
        n, before = len(seen), job_ids()
        ghs.sql(stmt)
        assert seen[n] == before, stmt
    assert [r[:2] for r in _rows(ghs)] == [("a", 2), ("c", 0)]
