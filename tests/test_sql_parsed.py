"""``GhsSql`` reads every statement of Spark's grammar (DML, ALTER,
TRUNCATE, CREATE, views, EXPLAIN, SHOW/DESCRIBE, ...), the table
references of reads and their table-valued function calls from Spark's
own parse of the statement.

Each test pins a statement a text-level reader got wrong: a string
literal that looks like SQL (``' WHERE '``, ``'t.v'``, ``'--'``, ``'VERSION
AS OF'``, ``"table_changes('t', 1)"``), a nested ``CASE WHEN`` inside a
MERGE clause, MERGE clause order and repeats, a DELETE on a renamed
column, stored views that read their base table only inside a CTE or a
subquery, and column types with commas inside ``<...>``; plus a
warehouse written in the older catalog format, which must still
attach."""

from __future__ import annotations

import json

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


def test_literal_holding_tvf_text_binds_nothing(ghs, spark):
    def feeds():
        return [t.name for t in spark.catalog.listTables()
                if t.name.startswith("acc__ch")]

    for name in feeds():
        spark.catalog.dropTempView(name)
    got = ghs.sql("SELECT \"table_changes('acc', 1)\" AS s").first().s
    assert got == "table_changes('acc', 1)"
    assert feeds() == []
    # a real call, aliased or not, binds the feed past commit 1 (the
    # CREATE): the three inserted rows
    for q in ("SELECT count(*) AS n FROM table_changes('acc', 1)",
              "SELECT count(*) AS n FROM table_changes('acc', 1) AS c "
              "WHERE c._change_type = 'insert'"):
        assert ghs.sql(q).first().n == 3
    assert feeds() == ["acc__ch1_2"]


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


def test_view_over_tvf_replans_after_base_write(ghs):
    """A stored view over a table-valued function replans when the table
    the call reads moves, and that table's DROP is guarded by it."""
    ghs.sql("CREATE TABLE m (k STRING, v INT) USING ghs_table "
            "TBLPROPERTIES ('primaryKey'='k');"
            "INSERT INTO m VALUES ('a', 1)")
    start = ghs.tables["m"].timeline.latest().commit_id
    ghs.sql("INSERT INTO m VALUES ('b', 2), ('c', 3)")
    ghs.sql("CREATE VIEW cv AS SELECT count(*) AS n "
            f"FROM table_changes('m', {start})")
    assert ghs.sql("SELECT * FROM cv").first().n == 2
    ghs.sql("INSERT INTO m VALUES ('d', 4)")
    assert ghs.sql("SELECT * FROM cv").first().n == 3
    assert ghs._view_dependents("m") == ["cv"]


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


# ------------------------------------------------ CREATE from the parse


def test_create_table_with_nested_types(ghs, spark, tmp_path):
    """Column types come from Spark's parse: the commas inside MAP<...>,
    STRUCT<...> and ARRAY<STRUCT<...>> split no column, and SHOW CREATE
    TABLE re-executes to the same column types."""
    ghs.sql("CREATE TABLE nest (id STRING, m MAP<STRING, INT>, "
            "s STRUCT<a: INT, b: STRING>, "
            "arr ARRAY<STRUCT<x: INT, y: STRING>>) USING ghs_table "
            "TBLPROPERTIES ('primaryKey'='id')")
    ghs.sql("INSERT INTO nest VALUES ('k', map('p', 1), "
            "named_struct('a', 2, 'b', 'q'), "
            "array(named_struct('x', 3, 'y', 'r')))")
    row = ghs.sql("SELECT * FROM nest").first()
    assert (row.id, row.m, tuple(row.s), [tuple(e) for e in row.arr]) == (
        "k", {"p": 1}, (2, "q"), [(3, "r")])
    stmt = ghs.sql("SHOW CREATE TABLE nest").first()[0]
    other = GhsSql(spark, tmp_path / "wh2")
    other.sql(stmt)
    assert other._data_types(other.tables["nest"]) == ghs._data_types(
        ghs.tables["nest"]) == {
        "id": "string", "m": "map<string,int>",
        "s": "struct<a:int,b:string>", "arr": "array<struct<x:int,y:string>>"}


# the durable catalog in its older format: the materialized view's
# query whitespace-collapsed, its bucket derivation as text
_TABLE_JSON = ('{"partition_keys": [], "precombine": null, '
               '"record_keys": ["ok"], "storage_type": "cow"}')
_VIEWS_JSON = '{"big": "SELECT ok, amt FROM fact WHERE amt > 5.5"}'
_MVIEW_JSON = (
    '{"auto": false, "base": "fact", '
    '"derive": {"day": "date_trunc(\'day\', `ts`)"}, '
    '"group_cols": ["day"], "kind": "agg", '
    '"query": "SELECT DATE_TRUNC(\'day\', ts) AS day, COUNT(*) AS cnt, '
    'SUM(amt) AS total FROM fact GROUP BY DATE_TRUNC(\'day\', ts)", '
    '"sum_col": "amt"}')


def test_older_catalog_warehouse_reattaches(spark, tmp_path):
    """A fresh ``GhsSql`` attaches a warehouse written in the older
    catalog format — ``_table.json``, ``_views.json`` and an
    ``_mview.json`` — refreshes the view, reads the stored view, and
    SHOW CREATE TABLE re-executes to an equal view."""
    wh = tmp_path / "wh"
    NativeTable(spark, wh / "fact", record_keys=["ok"]).bulk_insert(
        spark.sql("SELECT * FROM VALUES "
                  "(1, TIMESTAMP'2024-01-01 01:00:00', 5.0), "
                  "(2, TIMESTAMP'2024-01-01 02:00:00', 6.0), "
                  "(3, TIMESTAMP'2024-01-02 03:00:00', 7.0) "
                  "AS v(ok, ts, amt)"))
    (wh / "fact" / "_table.json").write_text(_TABLE_JSON)
    (wh / "_views.json").write_text(_VIEWS_JSON)
    (wh / "rev").mkdir()
    (wh / "rev" / "_mview.json").write_text(_MVIEW_JSON)

    g = GhsSql(spark, wh)
    assert sorted(g.tables) == ["fact", "rev"] and "rev" in g.mviews
    g.sql("REFRESH MATERIALIZED VIEW rev")

    def rows():
        return sorted((str(r.day), r.cnt, float(r.total))
                      for r in g.sql("SELECT * FROM rev").collect())

    want = [("2024-01-01 00:00:00", 2, 11.0),
            ("2024-01-02 00:00:00", 1, 7.0)]
    assert rows() == want
    assert sorted(r.ok for r in g.sql("SELECT ok FROM big").collect()) \
        == [2, 3]
    stmt = g.sql("SHOW CREATE TABLE rev").first()[0]
    g.sql("DROP MATERIALIZED VIEW rev")
    g.sql(stmt)
    assert g._mv_specs["rev"] == json.loads(_MVIEW_JSON)
    assert rows() == want
