"""SQL text entry point (``GhsSql``): every DDL/DML form routes to the
same NativeTable paths the Python API uses, so a SQL-only user can run
the whole lifecycle — CREATE / INSERT / UPDATE / DELETE / MERGE / ALTER
/ SELECT — without touching Python. The reference's single SQL entry is
the window-dedup text run via spark.sql (processData.py:317-327); this
pins the generalized surface."""

from __future__ import annotations

import pytest

from glue_hudi_spark.sql import GhsSql
from glue_hudi_spark.storage.native import NativeTable


@pytest.fixture()
def ghs(spark, tmp_path):
    return GhsSql(spark, tmp_path / "wh")


def _mk(ghs):
    ghs.sql("""
        CREATE TABLE accounts (
            id STRING, balance DECIMAL(10,2), region STRING, seq INT
        ) USING ghs_table
        TBLPROPERTIES ('primaryKey'='id', 'preCombineField'='seq')
    """)
    ghs.sql("""
        INSERT INTO accounts VALUES
            ('a', CAST(10.00 AS DECIMAL(10,2)), 'eu', 1),
            ('b', CAST(20.00 AS DECIMAL(10,2)), 'us', 1),
            ('c', CAST(30.00 AS DECIMAL(10,2)), 'eu', 1)
    """)


def _rows(ghs, q="SELECT id, balance, region FROM accounts ORDER BY id"):
    return [tuple(r) for r in ghs.sql(q).collect()]


def test_create_insert_select_roundtrip(ghs):
    _mk(ghs)
    got = {r[0]: (str(r[1]), r[2]) for r in _rows(ghs)}
    assert got == {"a": ("10.00", "eu"), "b": ("20.00", "us"),
                   "c": ("30.00", "eu")}
    # the created handle is a real NativeTable under warehouse/<name>
    t = ghs.tables["accounts"]
    assert isinstance(t, NativeTable) and t.record_keys == ["id"]


def test_insert_into_upserts_on_primary_key(ghs):
    """Hudi spark-sql semantics: INSERT INTO a primaryKey table merges
    on the key (no duplicate rows), precombine resolves in-batch dupes."""
    _mk(ghs)
    ghs.sql("INSERT INTO accounts VALUES "
            "('a', CAST(99.00 AS DECIMAL(10,2)), 'eu', 2), "
            "('d', CAST(40.00 AS DECIMAL(10,2)), 'ap', 1)")
    got = {r[0]: str(r[1]) for r in _rows(ghs)}
    assert got == {"a": "99.00", "b": "20.00", "c": "30.00", "d": "40.00"}


def test_insert_overwrite_replaces_table(ghs):
    _mk(ghs)
    ghs.sql("INSERT OVERWRITE accounts VALUES "
            "('z', CAST(1.00 AS DECIMAL(10,2)), 'eu', 1)")
    assert [r[0] for r in _rows(ghs)] == ["z"]


def test_insert_with_column_list_fills_missing_with_null(ghs):
    _mk(ghs)
    ghs.sql("INSERT INTO accounts (id, balance, seq) VALUES "
            "('e', CAST(5.00 AS DECIMAL(10,2)), 1)")
    got = {r[0]: r[2] for r in _rows(ghs)}
    assert got["e"] is None and got["a"] == "eu"


def test_update_where(ghs):
    _mk(ghs)
    ghs.sql("UPDATE accounts SET balance = balance * 2 WHERE region = 'eu'")
    got = {r[0]: str(r[1]) for r in _rows(ghs)}
    assert got == {"a": "20.00", "b": "20.00", "c": "60.00"}


def test_update_rhs_sees_old_row_simultaneously(ghs):
    """SQL UPDATE semantics: every SET right-hand side evaluates against
    the OLD row — SET balance = seq, seq = balance must swap, not
    cascade."""
    _mk(ghs)
    ghs.sql("UPDATE accounts SET balance = CAST(seq AS DECIMAL(10,2)), "
            "seq = CAST(balance AS INT) WHERE id = 'a'")
    row = ghs.sql("SELECT balance, seq FROM accounts WHERE id = 'a'") \
        .collect()[0]
    assert str(row[0]) == "1.00" and row[1] == 10


def test_delete_where_routes_to_pruned_delete(ghs):
    _mk(ghs)
    ghs.sql("DELETE FROM accounts WHERE region = 'eu'")
    assert [r[0] for r in _rows(ghs)] == ["b"]
    assert ghs.tables["accounts"].timeline.latest().action == "delete"


def test_merge_into_full_three_clause(ghs):
    _mk(ghs)
    ghs.sql("""
        MERGE INTO accounts t
        USING (SELECT 'a' AS id, CAST(0 AS DECIMAL(10,2)) AS balance,
                      'eu' AS region, 9 AS seq
               UNION ALL
               SELECT 'b', CAST(77.00 AS DECIMAL(10,2)), 'us', 9
               UNION ALL
               SELECT 'n', CAST(50.00 AS DECIMAL(10,2)), 'ap', 9) s
        ON t.id = s.id
        WHEN MATCHED AND s.balance = 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET balance = s.balance
        WHEN NOT MATCHED THEN INSERT *
    """)
    got = {r[0]: str(r[1]) for r in _rows(ghs)}
    assert got == {"b": "77.00", "c": "30.00", "n": "50.00"}


def test_merge_requires_key_equality_on(ghs):
    _mk(ghs)
    with pytest.raises(ValueError, match="record keys"):
        ghs.sql("MERGE INTO accounts t USING accounts s "
                "ON t.region = s.region "
                "WHEN MATCHED THEN UPDATE SET balance = s.balance")


def test_alter_add_column_with_default_and_create_default(ghs, spark):
    _mk(ghs)
    ghs.sql("ALTER TABLE accounts ADD COLUMN tier STRING DEFAULT 'std'")
    got = {r["id"]: r["tier"]
           for r in ghs.sql("SELECT id, tier FROM accounts").collect()}
    assert set(got.values()) == {"std"}
    # post-add writers override the default
    ghs.sql("INSERT INTO accounts (id, balance, seq, tier) VALUES "
            "('p', CAST(1.00 AS DECIMAL(10,2)), 1, 'gold')")
    got = {r["id"]: r["tier"]
           for r in ghs.sql("SELECT id, tier FROM accounts").collect()}
    assert got["p"] == "gold" and got["a"] == "std"


def test_create_table_with_default_column(ghs):
    ghs.sql("""
        CREATE TABLE t2 (id STRING, v INT, src STRING DEFAULT 'api')
        USING ghs_table TBLPROPERTIES ('primaryKey'='id')
    """)
    ghs.sql("INSERT INTO t2 (id, v) VALUES ('x', 1)")
    row = ghs.sql("SELECT * FROM t2").collect()[0]
    assert row["src"] == "api"


def test_partitioned_create_and_statement_batch(ghs):
    out = ghs.sql("""
        CREATE TABLE ev (k STRING, day STRING, v INT) USING ghs_table
            PARTITIONED BY (day)
            TBLPROPERTIES ('primaryKey'='k', 'filesPerPartition'='2');
        INSERT INTO ev VALUES ('a', '2024-01-01', 1),
                              ('b', '2024-01-02', 2);
        SELECT k, day FROM ev ORDER BY k
    """)
    assert [tuple(r) for r in out.collect()] == [
        ("a", "2024-01-01"), ("b", "2024-01-02")]
    assert ghs.tables["ev"].partition_keys == ["day"]


def test_drop_table_and_if_exists(ghs):
    _mk(ghs)
    root = ghs.tables["accounts"].root
    ghs.sql("DROP TABLE accounts")
    assert "accounts" not in ghs.tables and not root.exists()
    ghs.sql("DROP TABLE IF EXISTS accounts")  # no-op, no raise
    with pytest.raises(ValueError, match="unknown table"):
        ghs.sql("DROP TABLE accounts")


def test_create_if_not_exists_and_duplicate_create(ghs):
    _mk(ghs)
    ghs.sql("CREATE TABLE IF NOT EXISTS accounts (id STRING) "
            "USING ghs_table TBLPROPERTIES ('primaryKey'='id')")
    assert len(_rows(ghs)) == 3  # untouched
    with pytest.raises(ValueError, match="already exists"):
        ghs.sql("CREATE TABLE accounts (id STRING) USING ghs_table "
                "TBLPROPERTIES ('primaryKey'='id')")


def test_register_existing_handle_and_read(spark, tmp_path):
    t = NativeTable(spark, tmp_path / "ext", record_keys=["id"],
                    precombine="seq")
    t.bulk_insert(spark.createDataFrame([("x", 1, 1)],
                                        "id string, v int, seq int"))
    ghs = GhsSql(spark, tmp_path / "wh", tables={"ext": t})
    ghs.sql("UPDATE ext SET v = v + 1")
    assert ghs.sql("SELECT v FROM ext").collect()[0][0] == 2


def test_unsupported_statement_raises(ghs):
    for stmt, msg in (
            ("GRANT SELECT ON accounts TO analyst", "unsupported"),
            ("CREATE TABLE pq (id STRING) USING parquet "
             "TBLPROPERTIES ('primaryKey'='id')", "USING ghs_table"),
            ("CREATE VIEW v (a) AS SELECT 1", "CREATE VIEW must be"),
            ("DESCRIBE EXTENDED accounts", "cannot parse DESCRIBE"),
            ("EXPLAIN INSERT INTO accounts VALUES ('x')",
             "cannot parse EXPLAIN"),
            ("CACHE TABLE accounts AS SELECT 1", "unsupported")):
        with pytest.raises(ValueError, match=msg):
            ghs.sql(stmt)


# ------------------------------- round-10b: travel/introspect/maintain

def test_select_version_as_of_time_travel(ghs):
    _mk(ghs)  # commit 1 = create (empty), commit 2 = the 3-row insert
    v_after_insert = ghs.tables["accounts"].timeline.latest().commit_id
    ghs.sql("UPDATE accounts SET balance = balance * 100 WHERE id = 'a'")
    now = {r[0]: str(r[1]) for r in _rows(ghs)}
    assert now["a"] == "1000.00"
    old = ghs.sql(f"SELECT id, balance FROM accounts "
                  f"VERSION AS OF {v_after_insert} ORDER BY id").collect()
    assert {r[0]: str(r[1]) for r in old}["a"] == "10.00"
    # joins across versions work: both references rewrite independently
    both = ghs.sql(f"""
        SELECT n.id, n.balance AS nb, o.balance AS ob
        FROM accounts n JOIN accounts VERSION AS OF {v_after_insert} o
          ON n.id = o.id WHERE n.id = 'a'
    """).collect()[0]
    assert str(both["nb"]) == "1000.00" and str(both["ob"]) == "10.00"


def test_show_tables_and_describe(ghs):
    _mk(ghs)
    assert [r[0] for r in ghs.sql("SHOW TABLES").collect()] == ["accounts"]
    d = {r["col_name"]: r["data_type"]
         for r in ghs.sql("DESCRIBE accounts").collect()}
    assert d["balance"] == "decimal(10,2)"
    assert d["# record_keys"] == "id" and d["# storage_type"] == "cow"


def test_truncate_keeps_schema(ghs):
    _mk(ghs)
    ghs.sql("TRUNCATE TABLE accounts")
    assert ghs.sql("SELECT * FROM accounts").count() == 0
    # still writable with the declared schema
    ghs.sql("INSERT INTO accounts VALUES "
            "('n', CAST(1.00 AS DECIMAL(10,2)), 'eu', 1)")
    assert [r[0] for r in _rows(ghs)] == ["n"]


def test_alter_rename_and_drop_column(ghs):
    _mk(ghs)
    ghs.sql("ALTER TABLE accounts RENAME COLUMN region TO zone")
    assert {r["zone"] for r in ghs.sql(
        "SELECT zone FROM accounts").collect()} == {"eu", "us"}
    ghs.sql("ALTER TABLE accounts DROP COLUMN zone")
    cols = ghs.sql("SELECT * FROM accounts").columns
    assert "zone" not in cols and "region" not in cols


def test_optimize_binpacks_and_zorder_clusters(ghs):
    _mk(ghs)
    ghs.sql("INSERT INTO accounts VALUES "
            "('d', CAST(5.00 AS DECIMAL(10,2)), 'ap', 1)")
    n_before = len(ghs.tables["accounts"].timeline.latest().files)
    ghs.sql("OPTIMIZE accounts")
    t = ghs.tables["accounts"]
    assert t.timeline.latest().action in ("bin_pack", "optimize")
    assert len(t.timeline.latest().files) <= n_before
    ghs.sql("OPTIMIZE accounts ZORDER BY (seq, balance)")
    assert ghs.sql("SELECT count(*) FROM accounts").collect()[0][0] == 4


def test_vacuum_runs(ghs):
    _mk(ghs)
    ghs.sql("UPDATE accounts SET balance = balance + 1 WHERE id = 'a'")
    ghs.sql("VACUUM accounts")  # no raise; current snapshot intact
    assert ghs.sql("SELECT count(*) FROM accounts").collect()[0][0] == 3


def test_ctas_creates_and_loads(ghs):
    _mk(ghs)
    ghs.sql("""
        CREATE TABLE eu_accounts USING ghs_table
            TBLPROPERTIES ('primaryKey'='id')
            AS SELECT id, balance FROM accounts WHERE region = 'eu'
    """)
    got = {r[0]: str(r[1]) for r in
           ghs.sql("SELECT id, balance FROM eu_accounts").collect()}
    assert got == {"a": "10.00", "c": "30.00"}
    # CTAS result is a full table: writable, describable
    ghs.sql("DELETE FROM eu_accounts WHERE id = 'a'")
    assert [r[0] for r in
            ghs.sql("SELECT id FROM eu_accounts").collect()] == ["c"]
    # the query's root spans only its ORDER BY ... LIMIT clause
    ghs.sql("CREATE TABLE top2 USING ghs_table "
            "TBLPROPERTIES ('primaryKey'='id') "
            "AS SELECT id FROM accounts ORDER BY id DESC LIMIT 2")
    assert sorted(r.id for r in ghs.sql("SELECT id FROM top2").collect()) \
        == ["b", "c"]


def test_insert_from_time_travel_restores_history(ghs):
    _mk(ghs)
    v1 = ghs.tables["accounts"].timeline.latest().commit_id
    ghs.sql("UPDATE accounts SET balance = CAST(0 AS DECIMAL(10,2))")
    ghs.sql(f"INSERT INTO accounts SELECT * FROM accounts "
            f"VERSION AS OF {v1}")
    got = {r[0]: str(r[1]) for r in _rows(ghs)}
    assert got == {"a": "10.00", "b": "20.00", "c": "30.00"}


def test_catalog_is_durable_across_instances(ghs, spark):
    """CREATE persists _table.json; a FRESH GhsSql over the same
    warehouse re-attaches every table with its full config — SQL state
    survives the session (the piece commit manifests deliberately don't
    carry)."""
    _mk(ghs)
    ghs.sql("CREATE TABLE p (k STRING, day STRING, v INT) USING ghs_table "
            "PARTITIONED BY (day) TBLPROPERTIES ('primaryKey'='k', "
            "'preCombineField'='v', 'type'='mor')")
    g2 = GhsSql(spark, ghs.warehouse)
    assert sorted(g2.tables) == ["accounts", "p"]
    t = g2.tables["p"]
    assert (t.record_keys, t.precombine, t.partition_keys,
            t.storage_type) == (["k"], "v", ["day"], "mor")
    # reattached handles are fully functional
    g2.sql("INSERT INTO accounts VALUES "
           "('q', CAST(7.00 AS DECIMAL(10,2)), 'ap', 1)")
    assert len(_rows(g2)) == 4
    # DROP removes the durable entry too
    g2.sql("DROP TABLE p")
    assert "p" not in GhsSql(spark, ghs.warehouse).tables


def test_native_table_open_roundtrip(spark, tmp_path):
    t = NativeTable(spark, tmp_path / "t", record_keys=["a", "b"],
                    precombine="s", stats_cols=["v"], bloom_index=True,
                    sort_order=["v"], files_per_partition=2)
    t.bulk_insert(spark.createDataFrame(
        [("x", "y", 1, 1)], "a string, b string, v int, s int"))
    t.save_properties()
    o = NativeTable.open(spark, tmp_path / "t")
    assert (o.record_keys, o.precombine, o.stats_cols, o.bloom_index,
            o.sort_order, o.files_per_partition) == (
        ["a", "b"], "s", ["v"], True, ["v"], 2)
    assert o.read_snapshot().count() == 1
    with pytest.raises(ValueError, match="_table.json"):
        NativeTable.open(spark, tmp_path / "nope")


def test_describe_history_lists_timeline(ghs):
    _mk(ghs)
    ghs.sql("UPDATE accounts SET balance = balance + 1 WHERE id = 'a'")
    h = ghs.sql("DESCRIBE HISTORY accounts").collect()
    # newest first: UPDATE upsert, first INSERT INTO (bulk-load path —
    # r11: the first data commit range-clusters into the declared
    # width), empty CREATE commit
    assert [r["operation"] for r in h] == ["upsert", "bulk_insert",
                                           "bulk_insert"]
    assert h[0]["version"] > h[-1]["version"]  # newest first
    assert {"version", "operation", "timestamp", "n_files",
            "stats"} <= set(h[0].asDict())


def test_add_constraint_validates_then_enforces(ghs, spark):
    _mk(ghs)
    ghs.sql("ALTER TABLE accounts ADD CONSTRAINT pos "
            "CHECK (balance >= 0)")
    # enforced at the write chokepoint from now on
    with pytest.raises(Exception, match="balance"):
        ghs.sql("INSERT INTO accounts VALUES "
                "('bad', CAST(-5.00 AS DECIMAL(10,2)), 'eu', 1)")
    # persisted: a reopened catalog still enforces
    g2 = GhsSql(spark, ghs.warehouse)
    with pytest.raises(Exception, match="balance"):
        g2.sql("INSERT INTO accounts VALUES "
               "('bad2', CAST(-1.00 AS DECIMAL(10,2)), 'eu', 1)")
    # a constraint existing rows violate is rejected outright
    with pytest.raises(ValueError, match="existing rows violate"):
        ghs.sql("ALTER TABLE accounts ADD CONSTRAINT big "
                "CHECK (balance > 15)")


def test_merge_not_matched_by_source_reconciliation(ghs):
    """The nightly full-snapshot reconciliation form: one MERGE upserts
    the snapshot AND retires table rows that left it (Delta's WHEN NOT
    MATCHED BY SOURCE surface)."""
    _mk(ghs)
    ghs.sql("""
        MERGE INTO accounts t
        USING (SELECT 'a' AS id, CAST(11.00 AS DECIMAL(10,2)) AS balance,
                      'eu' AS region, 9 AS seq
               UNION ALL
               SELECT 'n', CAST(50.00 AS DECIMAL(10,2)), 'ap', 9) s
        ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        WHEN NOT MATCHED BY SOURCE AND t.region = 'eu' THEN DELETE
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET region = 'stale'
    """)
    got = {r[0]: (str(r[1]), r[2]) for r in _rows(ghs)}
    # a updated, n inserted, c ('eu', unmatched) deleted, b marked stale
    assert got == {"a": ("11.00", "eu"), "n": ("50.00", "ap"),
                   "b": ("20.00", "stale")}


def test_full_lifecycle_on_mor_table(ghs):
    """Every statement form against a merge-on-read table: the SQL
    layer must be storage-type agnostic (delta appends + _rt reads
    underneath, atomic delta_merge for MERGE)."""
    ghs.sql("""
        CREATE TABLE m (id STRING, v INT, seq INT) USING ghs_table
            TBLPROPERTIES ('primaryKey'='id', 'preCombineField'='seq',
                           'type'='mor');
        INSERT INTO m VALUES ('a', 1, 1), ('b', 2, 1), ('c', 3, 1)
    """)
    ghs.sql("UPDATE m SET v = v + 10 WHERE id <> 'c'")
    ghs.sql("""
        MERGE INTO m t USING (SELECT 'a' AS id, 0 AS v, 9 AS seq
                              UNION ALL SELECT 'd', 40, 9) s
        ON t.id = s.id
        WHEN MATCHED THEN DELETE
        WHEN NOT MATCHED THEN INSERT *
    """)
    assert ghs.tables["m"].timeline.latest().action in (
        "delta_merge", "compact")  # one atomic commit for the merge
    ghs.sql("DELETE FROM m WHERE id = 'c'")
    got = {r["id"]: r["v"] for r in ghs.sql("SELECT * FROM m").collect()}
    assert got == {"b": 12, "d": 40}
    ghs.sql("ALTER TABLE m ADD COLUMN t STRING DEFAULT 'x'")
    got = {r["id"]: r["t"] for r in ghs.sql("SELECT * FROM m").collect()}
    assert got == {"b": "x", "d": "x"}


def test_where_bounds_extraction(ghs, spark):
    _mk(ghs)
    t = ghs.tables["accounts"]
    wb = ghs._where_bounds
    assert wb(t, "region = 'eu'") == {"region": ("eu", "eu")}
    assert wb(t, "seq >= 2 AND seq < 9 AND region = 'eu'") == {
        "seq": (2, 9), "region": ("eu", "eu")}
    # OR / NOT anywhere: pruning off; BETWEEN bounds both sides (r11)
    assert wb(t, "seq > 2 OR region = 'eu'") is None
    assert wb(t, "seq BETWEEN 1 AND 4") == {"seq": (1, 4)}
    # column-vs-column and non-constant right sides contribute nothing
    assert wb(t, "seq = id") is None
    assert wb(t, "upper(region) = 'EU'") is None
    # a constant term still bounds even when siblings can't
    assert wb(t, "upper(region) = 'EU' AND seq <= 3") == {"seq": (None, 3)}
    assert wb(t, None) is None


def test_sql_delete_prunes_files_via_stats(ghs, spark):
    """DELETE ... WHERE on a stats-indexed column rewrites only files
    whose range admits the predicate — the manifest-level prune the
    class docstring promises, now derived from the WHERE text."""
    # built via the Python API; 'sortOrder' TBLPROPERTIES (r11) is
    # pinned by test_explain_reports_manifest_prune's CREATE
    from glue_hudi_spark.storage.native import NativeTable
    from pyspark.sql import functions as F

    t = NativeTable(spark, ghs.warehouse / "ledger", record_keys=["id"],
                    stats_cols=["bucket"], sort_order=["bucket"],
                    files_per_partition=4)
    t.bulk_insert(spark.range(400).select(
        F.col("id"), (F.col("id") % 100).alias("bucket"),
        F.lit(1).alias("v")))
    ghs.register("ledger", t)
    ghs.sql("DELETE FROM ledger WHERE bucket >= 90")
    c = t.timeline.latest()
    assert c.stats["files_carried"] >= 2  # low-bucket files untouched
    assert c.stats["files_rewritten"] <= 2
    assert ghs.sql("SELECT count(*) FROM ledger").collect()[0][0] == 360
    assert ghs.sql(
        "SELECT count(*) FROM ledger WHERE bucket >= 90"
    ).collect()[0][0] == 0


def test_create_with_location_and_describe_partitioned(ghs, tmp_path):
    ext = tmp_path / "elsewhere" / "ev"
    ghs.sql(f"""
        CREATE TABLE ev (k STRING, day STRING, v INT) USING ghs_table
            PARTITIONED BY (day)
            TBLPROPERTIES ('primaryKey'='k')
            LOCATION '{ext}'
    """)
    assert ghs.tables["ev"].root == ext and ext.exists()
    d = {r["col_name"]: r["data_type"]
         for r in ghs.sql("DESCRIBE ev").collect()}
    assert d["# partition_keys"] == "day"
    assert d["# location"] == str(ext)


def test_statement_batch_stops_at_first_error(ghs):
    """A failing statement mid-batch must not execute the rest."""
    _mk(ghs)
    with pytest.raises(ValueError):
        ghs.sql("DELETE FROM accounts WHERE id = 'a'; "
                "FROBNICATE x; "
                "DELETE FROM accounts WHERE id = 'b'")
    got = [r[0] for r in _rows(ghs)]
    assert got == ["b", "c"]  # first ran, third did not


def test_time_travel_on_unregistered_name_passes_through(ghs, spark):
    """`x VERSION AS OF n` for a non-ghs name is left for Spark to
    parse (and reject) — the rewriter must not mangle foreign SQL."""
    _mk(ghs)
    spark.range(3).createOrReplaceTempView("plainview")
    with pytest.raises(Exception):
        ghs.sql("SELECT * FROM plainview VERSION AS OF 1")


# ---------------------------------------------------------------- round 11


def _mk_ledger(ghs, spark):
    """Stats-indexed 4-file table for file-pruning pins."""
    from pyspark.sql import functions as F

    t = NativeTable(spark, ghs.warehouse / "ledger", record_keys=["id"],
                    stats_cols=["bucket"], sort_order=["bucket"],
                    files_per_partition=4)
    t.bulk_insert(spark.range(400).select(
        F.col("id"), (F.col("id") % 100).alias("bucket"),
        F.lit(1).alias("v")))
    ghs.register("ledger", t)
    return t


def test_where_bounds_quote_aware(ghs):
    """A string literal containing ' AND col = k ' must not parse as a
    conjunction term — the round-10 advice bug yielded a bogus bound
    and DELETE/UPDATE silently skipped files holding matching rows."""
    _mk(ghs)
    t = ghs.tables["accounts"]
    wb = ghs._where_bounds
    # the literal's inner "AND seq = 5" is NOT a term; the whole literal
    # is the region bound
    got = wb(t, "region = 'x AND seq = 5 AND y'")
    assert got == {"region": ("x AND seq = 5 AND y",
                              "x AND seq = 5 AND y")}
    # OR hidden inside a literal must not disable pruning; a real OR must
    assert wb(t, "region = 'a OR b' AND seq <= 3") == {
        "region": ("a OR b", "a OR b"), "seq": (None, 3)}
    assert wb(t, "seq <= 3 OR region = 'eu'") is None
    # AND inside parens stays whole (no mid-expression split)
    assert wb(t, "region = concat('e', 'u') AND seq >= 1") == {
        "region": ("eu", "eu"), "seq": (1, None)}


def test_delete_with_and_inside_literal_deletes_all_matches(ghs):
    _mk(ghs)
    ghs.sql("INSERT INTO accounts VALUES "
            "('k', CAST(1.00 AS DECIMAL(10,2)), 'x AND seq = 99 AND y', 1)")
    ghs.sql("DELETE FROM accounts WHERE region = 'x AND seq = 99 AND y'")
    assert [r[0] for r in _rows(ghs)] == ["a", "b", "c"]


def test_update_rejects_key_partition_and_unknown_columns(ghs, spark):
    _mk(ghs)
    with pytest.raises(ValueError, match="record-key"):
        ghs.sql("UPDATE accounts SET id = 'z' WHERE id = 'a'")
    with pytest.raises(ValueError, match="unknown column"):
        ghs.sql("UPDATE accounts SET balnce = 5")
    # partition column: rejected without a global index ...
    ghs.sql("CREATE TABLE pev (k STRING, day STRING, v INT) "
            "USING ghs_table PARTITIONED BY (day) "
            "TBLPROPERTIES ('primaryKey'='k')")
    ghs.sql("INSERT INTO pev VALUES ('r1', 'd1', 1)")
    with pytest.raises(ValueError, match="partition column"):
        ghs.sql("UPDATE pev SET day = 'd2' WHERE k = 'r1'")
    # ... and RELOCATES (not duplicates) with one
    g = NativeTable(spark, ghs.warehouse / "gev", record_keys=["k"],
                    partition_keys=["day"], global_index=True)
    g.bulk_insert(spark.createDataFrame([("r1", "d1", 1)], "k string, day string, v int"))
    ghs.register("gev", g)
    ghs.sql("UPDATE gev SET day = 'd2' WHERE k = 'r1'")
    assert [tuple(r) for r in
            ghs.sql("SELECT k, day FROM gev").collect()] == [("r1", "d2")]


def test_drop_external_table_keeps_data(ghs, tmp_path):
    """LOCATION-pinned tables are external: DROP deregisters, data and
    _table.json survive for a later open(); managed roots are deleted."""
    ext = tmp_path / "outside" / "ex"
    ghs.sql(f"CREATE TABLE ex (k STRING, v INT) USING ghs_table "
            f"TBLPROPERTIES ('primaryKey'='k') LOCATION '{ext}'")
    ghs.sql("INSERT INTO ex VALUES ('a', 1)")
    ghs.sql("DROP TABLE ex")
    assert "ex" not in ghs.tables
    assert (ext / "_table.json").is_file()  # data left in place
    # the stale temp view must be gone — a SELECT raises, not resolves
    with pytest.raises(Exception):
        ghs.sql("SELECT * FROM ex").collect()
    # reattachable
    t = NativeTable.open(ghs.spark, ext)
    assert t.read_snapshot().count() == 1
    # managed table: DROP deletes the warehouse root
    _mk(ghs)
    root = ghs.tables["accounts"].root
    ghs.sql("DROP TABLE accounts")
    assert not root.exists()


def test_select_prunes_files_via_stats(ghs, spark):
    """Round-10 verdict #2: a selective SQL SELECT must scan fewer
    files than the table holds (manifest-level pruning on the SQL read
    path, same ladder as delete_where)."""
    t = _mk_ledger(ghs, spark)
    total = len(t.timeline.latest().files)
    assert total >= 4
    df = ghs.sql("SELECT * FROM ledger WHERE bucket >= 90")
    assert 0 < len(df.inputFiles()) < total
    assert df.count() == 40
    # exactness: pruned SQL == unpruned Python-API filter
    assert ghs.sql(
        "SELECT sum(v) FROM ledger WHERE bucket >= 90"
    ).collect()[0][0] == 40
    # alias-qualified WHERE terms still contribute bounds
    df2 = ghs.sql("SELECT l.id FROM ledger l WHERE l.bucket >= 90")
    assert 0 < len(df2.inputFiles()) < total and df2.count() == 40
    # conservative bail-outs: join shapes read the plain view, correct
    ghs.register("ledger2", t)
    n = ghs.sql("SELECT count(*) FROM ledger a JOIN ledger2 b "
                "ON a.id = b.id WHERE a.bucket >= 90").collect()[0][0]
    assert n == 40


def test_select_prune_literal_cannot_narrow_results(ghs):
    """The pruned SELECT path must survive hostile literals: an AND/OR
    inside a string constant narrows nothing."""
    _mk(ghs)
    ghs.sql("INSERT INTO accounts VALUES "
            "('k', CAST(1.00 AS DECIMAL(10,2)), 'eu AND seq = 99', 7)")
    got = [r[0] for r in ghs.sql(
        "SELECT id FROM accounts WHERE region = 'eu AND seq = 99' "
        "ORDER BY id").collect()]
    assert got == ["k"]
    # GROUP BY / LIMIT after WHERE don't leak into the bound text
    n = ghs.sql("SELECT region, count(*) AS n FROM accounts "
                "WHERE seq >= 1 GROUP BY region LIMIT 10").count()
    assert n == 3


def test_with_views_cached_by_head_commit(ghs, monkeypatch):
    """A multi-statement session re-plans a table's snapshot view only
    when its head commit moves (round-10 verdict #8)."""
    _mk(ghs)
    t = ghs.tables["accounts"]
    calls = []
    orig = t.read_snapshot

    def spy(*a, **kw):
        calls.append(kw)
        return orig(*a, **kw)

    monkeypatch.setattr(t, "read_snapshot", spy)
    # sum(seq), not count(*): a bare COUNT(*) now answers from the
    # manifest's row counts without binding any view at all
    ghs.sql("SELECT sum(seq) FROM accounts")
    ghs.sql("SELECT sum(seq) FROM accounts")
    ghs.sql("SELECT sum(seq) FROM accounts")
    assert len(calls) == 1  # bound once, reused across the batch
    ghs.sql("INSERT INTO accounts VALUES "
            "('z', CAST(9.00 AS DECIMAL(10,2)), 'eu', 1)")
    ghs.sql("SELECT sum(seq) FROM accounts")
    assert len(calls) >= 2  # head moved -> re-bound
    assert ghs.sql("SELECT count(*) FROM accounts").collect()[0][0] == 4


def test_pruned_select_does_not_poison_next_statement(ghs, spark):
    """A pruned view bound for one SELECT must not serve the next
    statement's unfiltered read."""
    _mk_ledger(ghs, spark)
    assert ghs.sql("SELECT count(*) FROM ledger WHERE bucket >= 90"
                   ).collect()[0][0] == 40
    assert ghs.sql("SELECT count(*) FROM ledger").collect()[0][0] == 400


def test_show_create_table_roundtrip(ghs, spark, tmp_path):
    """SHOW CREATE TABLE output re-executed in a FRESH warehouse
    reproduces an equivalent table (round-10 verdict #5)."""
    ghs.sql("""
        CREATE TABLE src (
            k STRING, day STRING, v INT, tag STRING DEFAULT 'new'
        ) USING ghs_table PARTITIONED BY (day)
        TBLPROPERTIES ('primaryKey'='k', 'preCombineField'='v',
                       'type'='cow', 'statsCols'='v',
                       'bloomIndex'='true')
    """)
    stmt = ghs.sql("SHOW CREATE TABLE src").collect()[0][0]
    assert "USING ghs_table" in stmt and "LOCATION" not in stmt
    other = GhsSql(spark, tmp_path / "wh2")
    other.sql(stmt)
    a, b = ghs.tables["src"], other.tables["src"]
    assert (a.record_keys, a.precombine, a.partition_keys,
            a.storage_type, a.stats_cols, a.bloom_index) == \
           (b.record_keys, b.precombine, b.partition_keys,
            b.storage_type, b.stats_cols, b.bloom_index)
    other.sql("INSERT INTO src (k, day, v) VALUES ('a', 'd1', 1)")
    assert [tuple(r) for r in other.sql(
        "SELECT k, tag FROM src").collect()] == [("a", "new")]


def test_show_create_table_external_carries_location(ghs, tmp_path):
    ext = tmp_path / "outside" / "exloc"
    ghs.sql(f"CREATE TABLE exloc (k STRING, v INT) USING ghs_table "
            f"TBLPROPERTIES ('primaryKey'='k') LOCATION '{ext}'")
    stmt = ghs.sql("SHOW CREATE TABLE exloc").collect()[0][0]
    assert f"LOCATION '{ext}'" in stmt


def test_describe_detail(ghs, spark):
    t = _mk_ledger(ghs, spark)
    row = ghs.sql("DESCRIBE DETAIL ledger").collect()[0]
    # Spark parses DESC DETAIL t as a column description: the engine
    # form must match first
    assert ghs.sql("DESC DETAIL ledger").collect()[0] == row
    head = t.timeline.latest()
    assert row["format"] == "ghs_table"
    assert row["location"] == str(t.root)
    assert row["record_keys"] == ["id"]
    assert row["num_files"] == len(head.files)
    assert row["num_rows"] == 400
    assert row["size_bytes"] > 0
    assert row["head_commit"] == head.commit_id
    import json as _json
    assert _json.loads(row["properties"])["stats_cols"] == ["bucket"]


def test_allow_empty_restricted_to_first_commit(ghs, spark):
    """bulk_insert(allow_empty=True) on a table with history must raise
    — it would republish the empty frame's schema, bypassing widening
    and strict-schema checks (round-10 advice)."""
    _mk(ghs)
    t = ghs.tables["accounts"]
    empty = spark.createDataFrame([], "id string, balance decimal(10,2), "
                                      "region string, seq int")
    with pytest.raises(ValueError, match="allow_empty"):
        t.bulk_insert(empty, allow_empty=True)
    assert t.bulk_insert(empty) is None  # plain empty stays a no-op


# ----------------------------------------------------- transactions (r11)


def test_txn_commit_keeps_multi_table_writes(ghs):
    _mk(ghs)
    ghs.sql("CREATE TABLE audit (id STRING, note STRING) USING ghs_table "
            "TBLPROPERTIES ('primaryKey'='id')")
    ghs.sql("""
        BEGIN;
        UPDATE accounts SET balance = balance + 1 WHERE id = 'a';
        INSERT INTO audit VALUES ('a', 'bumped');
        COMMIT
    """)
    assert {r[0]: str(r[1]) for r in _rows(ghs)}["a"] == "11.00"
    assert ghs.sql("SELECT count(*) FROM audit").collect()[0][0] == 1


def test_txn_rollback_restores_every_table(ghs):
    """Explicit ROLLBACK: both tables return to their BEGIN heads —
    the all-or-nothing contract across TABLES, which single-table
    commit protocols (Delta/Hudi) cannot give."""
    _mk(ghs)
    ghs.sql("CREATE TABLE audit (id STRING, note STRING) USING ghs_table "
            "TBLPROPERTIES ('primaryKey'='id')")
    ghs.sql("""
        BEGIN;
        UPDATE accounts SET balance = 0 WHERE id = 'a';
        DELETE FROM accounts WHERE id = 'b';
        INSERT INTO audit VALUES ('a', 'zeroed');
        ROLLBACK
    """)
    got = {r[0]: str(r[1]) for r in _rows(ghs)}
    assert got == {"a": "10.00", "b": "20.00", "c": "30.00"}
    assert ghs.sql("SELECT count(*) FROM audit").collect()[0][0] == 0


def test_txn_statement_error_aborts_all(ghs):
    """A failing statement mid-transaction rolls back everything that
    ran before it (the batch form has no error handler)."""
    _mk(ghs)
    with pytest.raises(Exception):
        ghs.sql("""
            BEGIN;
            DELETE FROM accounts WHERE id = 'a';
            INSERT INTO nosuch VALUES (1);
            COMMIT
        """)
    assert [r[0] for r in _rows(ghs)] == ["a", "b", "c"]
    assert ghs._txn is None  # transaction closed, session usable
    ghs.sql("DELETE FROM accounts WHERE id = 'c'")
    assert [r[0] for r in _rows(ghs)] == ["a", "b"]


def test_txn_rollback_removes_created_tables(ghs):
    _mk(ghs)
    ghs.sql("""
        BEGIN;
        CREATE TABLE scratch USING ghs_table
            TBLPROPERTIES ('primaryKey'='id')
            AS SELECT id, balance FROM accounts;
        ROLLBACK
    """)
    assert "scratch" not in ghs.tables
    assert not (ghs.warehouse / "scratch").exists()
    with pytest.raises(Exception):
        ghs.sql("SELECT * FROM scratch").collect()


def test_txn_reads_see_own_writes_and_guards(ghs):
    _mk(ghs)
    ghs.sql("BEGIN")
    ghs.sql("UPDATE accounts SET balance = 99 WHERE id = 'a'")
    assert str({r[0]: r[1] for r in _rows(ghs)}["a"]) == "99.00"
    # DROP and VACUUM are non-restorable: rejected inside a transaction
    with pytest.raises(ValueError, match="not allowed inside"):
        ghs.sql("DROP TABLE accounts")
    assert ghs._txn is None  # the guard error aborted the transaction
    got = {r[0]: str(r[1]) for r in _rows(ghs)}
    assert got["a"] == "10.00"  # update rolled back with it
    # protocol errors
    with pytest.raises(ValueError, match="without an open"):
        ghs.sql("COMMIT")
    ghs.sql("BEGIN")
    with pytest.raises(ValueError, match="already open"):
        ghs.sql("BEGIN")
    assert ghs._txn is None  # nested-BEGIN error aborted it too


# ---------------------------------------------------- materialized views


def _mk_mv_bases(ghs):
    ghs.sql("""
        CREATE TABLE fact (ok BIGINT, ck BIGINT, amt DOUBLE)
            USING ghs_table TBLPROPERTIES ('primaryKey'='ok');
        CREATE TABLE dim (ck BIGINT, name STRING)
            USING ghs_table TBLPROPERTIES ('primaryKey'='ck');
        INSERT INTO fact VALUES (1,10,5.0),(2,20,6.0),(3,10,7.0);
        INSERT INTO dim VALUES (10,'ten'),(20,'twenty')
    """)


def test_mview_agg_lifecycle(ghs):
    """CREATE MATERIALIZED VIEW materializes now; REFRESH absorbs the
    base's change feed INCREMENTALLY (second state commit is a merge,
    never an insert_overwrite) and equals a from-scratch recompute."""
    _mk_mv_bases(ghs)
    ghs.sql("""
        CREATE MATERIALIZED VIEW rev AS
            SELECT ck, COUNT(*) AS cnt, SUM(amt) AS total
            FROM fact GROUP BY ck
    """)
    got = {(r.ck, r.cnt, str(r.total))
           for r in ghs.sql("SELECT * FROM rev").collect()}
    assert got == {(10, 2, "12.000000"), (20, 1, "6.000000")}
    ghs.sql("""
        UPDATE fact SET amt = amt * 2 WHERE ok = 1;
        DELETE FROM fact WHERE ok = 2;
        INSERT INTO fact VALUES (4,30,1.5);
        REFRESH MATERIALIZED VIEW rev
    """)
    got = {(r.ck, r.cnt, str(r.total))
           for r in ghs.sql("SELECT * FROM rev").collect()}
    assert got == {(10, 2, "17.000000"), (30, 1, "1.500000")}
    actions = [c.action for c in ghs.tables["rev"].timeline.history()]
    assert actions[0] == "insert_overwrite" and "merge" in actions[1:]
    assert "insert_overwrite" not in actions[1:]


def test_mview_join_lifecycle(ghs):
    """Join MV (ON form, clusterBy layout): dim churn re-emits only its
    facts, fact inserts join the current dim, LEFT semantics keep
    unmatched facts with NULL dim attrs."""
    _mk_mv_bases(ghs)
    ghs.sql("""
        CREATE MATERIALIZED VIEW mj TBLPROPERTIES ('clusterBy'='ck')
            AS SELECT * FROM fact LEFT JOIN dim ON fact.ck = dim.ck
    """)
    ghs.sql("""
        UPDATE dim SET name = upper(name) WHERE ck = 10;
        INSERT INTO fact VALUES (4,30,1.0);
        REFRESH MATERIALIZED VIEW mj
    """)
    got = {tuple(r) for r in
           ghs.sql("SELECT ok, ck, amt, name FROM mj").collect()}
    assert got == {(1, 10, 5.0, "TEN"), (2, 20, 6.0, "twenty"),
                   (3, 10, 7.0, "TEN"), (4, 30, 1.0, None)}
    # USING form binds the same machinery
    ghs.sql("CREATE MATERIALIZED VIEW mj2 AS "
            "SELECT * FROM fact LEFT JOIN dim USING (ck)")
    assert ghs.sql("SELECT count(*) AS n FROM mj2").first().n == 4


def test_mview_guards(ghs):
    _mk_mv_bases(ghs)
    ghs.sql("CREATE MATERIALIZED VIEW rev AS SELECT ck, COUNT(*) AS cnt,"
            " SUM(amt) AS total FROM fact GROUP BY ck")
    for stmt in ("INSERT INTO rev VALUES (1,1,CAST(1 AS DECIMAL(28,6)))",
                 "UPDATE rev SET cnt = 0",
                 "DELETE FROM rev",
                 "TRUNCATE TABLE rev",
                 "ALTER TABLE rev ADD COLUMN x INT",
                 "OPTIMIZE rev"):
        with pytest.raises(ValueError, match="MATERIALIZED VIEW"):
            ghs.sql(stmt)
    with pytest.raises(ValueError, match="DROP MATERIALIZED VIEW"):
        ghs.sql("DROP TABLE rev")
    with pytest.raises(ValueError, match="dependent materialized"):
        ghs.sql("DROP TABLE fact")
    with pytest.raises(ValueError, match="stacked"):
        ghs.sql("CREATE MATERIALIZED VIEW r2 AS SELECT ck, COUNT(*) AS "
                "cnt, SUM(cnt) AS total FROM rev GROUP BY ck")
    with pytest.raises(ValueError, match="not a materialized view"):
        ghs.sql("REFRESH MATERIALIZED VIEW fact")
    # unsupported query shapes raise rather than snapshotting silently
    for q in ("SELECT ck, MAX(amt) AS m FROM fact GROUP BY ck",
              "SELECT * FROM fact JOIN dim USING (ck)",
              "SELECT * FROM fact LEFT JOIN dim ON fact.ck = dim.name",
              "SELECT ck, COUNT(*) AS cnt, SUM(amt) AS total "
              "FROM fact GROUP BY name",
              "SELECT ck, COUNT(*) AS cnt, SUM(amt) AS total "
              "FROM (SELECT * FROM fact) GROUP BY ck",
              "SELECT ck, COUNT(*) AS cnt, SUM(amt) AS total "
              "FROM fact f GROUP BY ck"):
        with pytest.raises(ValueError):
            ghs.sql(f"CREATE MATERIALIZED VIEW bad AS {q}")
    ghs.sql("DROP MATERIALIZED VIEW rev")
    assert "rev" not in ghs.tables
    ghs.sql("DROP TABLE fact")  # dependency gone


def test_mview_durable_reattach_and_show_create(ghs, spark, tmp_path):
    """The MV definition persists as _mview.json: a fresh GhsSql over
    the warehouse re-attaches it (REFRESH + reads keep working), and
    SHOW CREATE TABLE emits a statement that re-executes."""
    _mk_mv_bases(ghs)
    ghs.sql("CREATE MATERIALIZED VIEW rev AS SELECT ck, COUNT(*) AS cnt,"
            " SUM(amt) AS total FROM fact GROUP BY ck")
    fresh = GhsSql(spark, ghs.warehouse)
    assert "rev" in fresh.mviews
    fresh.sql("INSERT INTO fact VALUES (9,10,1.0); "
              "REFRESH MATERIALIZED VIEW rev")
    got = {(r.ck, r.cnt) for r in fresh.sql("SELECT * FROM rev").collect()}
    assert got == {(10, 3), (20, 1)}
    stmt = fresh.sql("SHOW CREATE TABLE rev").first()[0]
    # round-trip: the emitted statement re-executes against new bases
    other = GhsSql(spark, tmp_path / "wh2")
    other.sql("""
        CREATE TABLE fact (ok BIGINT, ck BIGINT, amt DOUBLE)
            USING ghs_table TBLPROPERTIES ('primaryKey'='ok');
        INSERT INTO fact VALUES (1,10,2.0)
    """)
    other.sql(stmt)
    assert [tuple(r) for r in other.sql("SELECT ck, cnt FROM rev")
            .collect()] == [(10, 1)]


def test_mview_txn_rollback(ghs):
    """A REFRESH inside a rolled-back transaction reverts (the state
    table's head was snapshotted at BEGIN); a CREATE MATERIALIZED VIEW
    inside a rolled-back transaction is removed entirely."""
    _mk_mv_bases(ghs)
    ghs.sql("CREATE MATERIALIZED VIEW rev AS SELECT ck, COUNT(*) AS cnt,"
            " SUM(amt) AS total FROM fact GROUP BY ck")
    before = {tuple(r) for r in ghs.sql("SELECT * FROM rev").collect()}
    ghs.sql("BEGIN; INSERT INTO fact VALUES (9,10,9.9); "
            "REFRESH MATERIALIZED VIEW rev; ROLLBACK")
    after = {tuple(r) for r in ghs.sql("SELECT * FROM rev").collect()}
    assert after == before
    ghs.sql("BEGIN; CREATE MATERIALIZED VIEW mj AS SELECT * FROM fact "
            "LEFT JOIN dim USING (ck); ROLLBACK")
    assert "mj" not in ghs.tables and "mj" not in ghs.mviews
    assert not (ghs.warehouse / "mj").exists()


def test_mview_auto_refresh(ghs):
    """TBLPROPERTIES ('refresh'='auto'): every write statement on a base
    eagerly refreshes dependent views — reads are always fresh without a
    REFRESH statement (each maintenance pass is still the incremental
    merge). Deferred views on the same base stay stale until asked."""
    _mk_mv_bases(ghs)
    ghs.sql("CREATE MATERIALIZED VIEW live TBLPROPERTIES "
            "('refresh'='auto') AS SELECT ck, COUNT(*) AS cnt, "
            "SUM(amt) AS total FROM fact GROUP BY ck")
    ghs.sql("CREATE MATERIALIZED VIEW lazy AS SELECT ck, COUNT(*) AS "
            "cnt, SUM(amt) AS total FROM fact GROUP BY ck")
    ghs.sql("INSERT INTO fact VALUES (4,30,1.5); "
            "DELETE FROM fact WHERE ok = 2")
    live = {(r.ck, r.cnt) for r in ghs.sql("SELECT * FROM live").collect()}
    assert live == {(10, 2), (30, 1)}
    lazy = {(r.ck, r.cnt) for r in ghs.sql("SELECT * FROM lazy").collect()}
    assert lazy == {(10, 2), (20, 1)}  # still the CREATE-time state
    # the spec survives reattach and SHOW CREATE carries it
    assert "refresh'='auto" in ghs.sql(
        "SHOW CREATE TABLE live").first()[0].replace('"', "'")


def test_explain_reports_manifest_prune(ghs, spark):
    """EXPLAIN prefixes Spark's plan with the dispatcher's file-prune
    decision: a selective single-table WHERE shows kept < total base
    files; a join shape reports that no manifest prune was derived."""
    ghs.sql("""
        CREATE TABLE seq (id BIGINT, grp BIGINT) USING ghs_table
            TBLPROPERTIES ('primaryKey'='id', 'statsCols'='id',
                           'sortOrder'='id', 'filesPerPartition'='4')
    """)
    ghs.sql("INSERT INTO seq SELECT id, id % 5 FROM range(4000)")
    rows = ghs.sql(
        "EXPLAIN SELECT id FROM seq WHERE id < 100").collect()
    note, plan = rows[0].plan, "\n".join(r.plan for r in rows[1:])
    m = __import__("re").search(r"(\d+)/(\d+) base files", note)
    assert m and int(m.group(1)) < int(m.group(2)), note
    assert "Scan" in plan or "Relation" in plan
    # the pruned EXPLAIN binding must not poison the next statement
    assert ghs.sql("SELECT count(*) AS n FROM seq").first().n == 4000
    rows = ghs.sql("EXPLAIN FORMATTED SELECT a.id FROM seq a "
                   "JOIN seq b ON a.id = b.id").collect()
    assert "none derived" in rows[0].plan


def test_txn_savepoints(ghs):
    """SAVEPOINT / ROLLBACK TO SAVEPOINT / RELEASE: nested rollback
    scopes inside an open transaction — ROLLBACK TO restores the
    savepoint's heads, removes tables created after it, keeps the
    transaction (and the savepoint) open; a later COMMIT keeps
    everything up to the savepoint."""
    _mk_mv_bases(ghs)
    ghs.sql("""
        BEGIN;
        INSERT INTO fact VALUES (100,10,1.0);
        SAVEPOINT sp1;
        INSERT INTO fact VALUES (101,10,1.0);
        CREATE TABLE scratch (id BIGINT) USING ghs_table
            TBLPROPERTIES ('primaryKey'='id');
        SAVEPOINT sp2;
        DELETE FROM fact;
        ROLLBACK TO SAVEPOINT sp2
    """)
    # sp2 state: rows 1,2,3,100,101 + scratch exists
    assert ghs.sql("SELECT count(*) AS n FROM fact").first().n == 5
    assert "scratch" in ghs.tables
    ghs.sql("ROLLBACK TO sp1")
    # sp1 state: rows 1,2,3,100; scratch (created after sp1) removed;
    # sp2 (declared after sp1) discarded — a ROLLBACK TO sp2 would
    # raise "unknown savepoint" and (like any in-transaction statement
    # error) abort the whole transaction, so inspect the store instead
    assert ghs.sql("SELECT count(*) AS n FROM fact").first().n == 4
    assert "scratch" not in ghs.tables
    assert "sp2" not in ghs._txn_savepoints and \
        "sp1" in ghs._txn_savepoints
    ghs.sql("COMMIT")
    assert ghs.sql("SELECT count(*) AS n FROM fact").first().n == 4
    # savepoints need an open transaction; RELEASE checks existence
    with pytest.raises(ValueError, match="without an open transaction"):
        ghs.sql("SAVEPOINT nope")
    ghs.sql("BEGIN; SAVEPOINT a; RELEASE SAVEPOINT a")
    with pytest.raises(ValueError, match="unknown savepoint"):
        ghs.sql("ROLLBACK TO a")  # error aborts the txn (full rollback)
    assert ghs._txn is None


def test_txn_full_rollback_past_savepoints(ghs):
    """A full ROLLBACK (or statement error) still aborts to the BEGIN
    state, regardless of savepoints declared in between."""
    _mk_mv_bases(ghs)
    ghs.sql("BEGIN; INSERT INTO fact VALUES (100,10,1.0); "
            "SAVEPOINT sp1; DELETE FROM fact WHERE ok = 1; ROLLBACK")
    assert ghs.sql("SELECT count(*) AS n FROM fact").first().n == 3


def test_table_changes_tvf(ghs):
    """Delta-CDC read parity: table_changes('t', from [, to]) binds the
    change feed in any read — FROM exclusive, TO inclusive (omitted =
    head). Updates emit both images."""
    _mk_mv_bases(ghs)  # fact head: commit 2 (schema commit + insert)
    ghs.sql("UPDATE fact SET amt = amt + 1 WHERE ok = 1")     # commit 3
    ghs.sql("DELETE FROM fact WHERE ok = 2")                  # commit 4
    got = {(r.ok, r._change_type) for r in ghs.sql(
        "SELECT ok, _change_type FROM table_changes('fact', 2, 3)"
    ).collect()}
    assert got == {(1, "update_preimage"), (1, "update_postimage")}
    got = {(r.ok, r._change_type) for r in ghs.sql(
        "SELECT ok, _change_type FROM table_changes('fact', 2)"
    ).collect()}
    assert got == {(1, "update_preimage"), (1, "update_postimage"),
                   (2, "delete")}
    # works as a DML source too: replay deletes into an audit table
    ghs.sql("""
        CREATE TABLE audit (ok BIGINT) USING ghs_table
            TBLPROPERTIES ('primaryKey'='ok');
        INSERT INTO audit SELECT ok FROM table_changes('fact', 2)
            WHERE _change_type = 'delete'
    """)
    assert [r.ok for r in ghs.sql("SELECT ok FROM audit").collect()] == [2]
    with pytest.raises(ValueError, match="unknown table"):
        ghs.sql("SELECT * FROM table_changes('nope', 1)")


def test_where_bounds_between_and_in(ghs):
    """BETWEEN and IN now contribute manifest prune bounds (they used
    to disable pruning entirely): both forms derive sound [lo, hi]
    ranges, nested/odd shapes still contribute nothing rather than a
    bogus bound, and the statements' semantics are unchanged."""
    ghs.sql("""
        CREATE TABLE sq (id BIGINT, v BIGINT) USING ghs_table
            TBLPROPERTIES ('primaryKey'='id', 'statsCols'='id',
                           'sortOrder'='id', 'filesPerPartition'='4');
        INSERT INTO sq SELECT id, id FROM range(4000)
    """)
    t = ghs.tables["sq"]
    assert ghs._where_bounds(t, "id BETWEEN 100 AND 200") == {
        "id": (100, 200)}
    assert ghs._where_bounds(t, "v = 5 AND id BETWEEN 10 AND 20") == {
        "v": (5, 5), "id": (10, 20)}
    assert ghs._where_bounds(t, "id IN (7, 3, 11)") == {"id": (3, 11)}
    # a BETWEEN inside function args must not corrupt neighboring terms
    b = ghs._where_bounds(
        t, "if(v BETWEEN 1 AND 2, 1, 0) = 1 AND id >= 50")
    assert b is None or b.get("id") == (50, None)
    # IN with a non-constant item contributes nothing
    assert ghs._where_bounds(t, "id IN (1, v)") is None
    # end-to-end: pruned DELETE with BETWEEN removes exactly the range
    ghs.sql("DELETE FROM sq WHERE id BETWEEN 0 AND 999")
    assert ghs.sql("SELECT count(*) AS n FROM sq").first().n == 3000
    rows = ghs.sql("EXPLAIN SELECT v FROM sq WHERE id IN (3000, 3001)"
                   ).collect()
    import re as _re
    m = _re.search(r"(\d+)/(\d+) base files", rows[0].plan)
    assert m and int(m.group(1)) < int(m.group(2)), rows[0].plan


def test_copy_into_bookmarked_ingestion(ghs, spark, tmp_path):
    """COPY INTO = the reference's bookmarked scan as a SQL statement:
    first run loads everything, a re-run loads nothing (per-source
    ledger under the TABLE root — the landing dir stays untouched),
    new arrivals load alone; columns map by name with DEFAULT fill."""
    raw = tmp_path / "landing"
    spark.range(10).selectExpr("id", "id * 2 AS v").coalesce(1) \
        .write.parquet(str(raw / "b1"))
    ghs.sql("CREATE TABLE tgt (id BIGINT, v BIGINT, "
            "src STRING DEFAULT 'copy') USING ghs_table "
            "TBLPROPERTIES ('primaryKey'='id')")
    r = ghs.sql(f"COPY INTO tgt FROM '{raw}'").first()
    assert (r.num_files_loaded, r.num_rows_loaded) == (1, 10)
    r = ghs.sql(f"COPY INTO tgt FROM '{raw}'").first()
    assert (r.num_files_loaded, r.num_rows_loaded) == (0, 0)
    spark.range(10, 15).selectExpr("id", "id * 2 AS v").coalesce(1) \
        .write.parquet(str(raw / "b2"))
    r = ghs.sql(f"COPY INTO tgt FROM '{raw}'").first()
    assert (r.num_files_loaded, r.num_rows_loaded) == (1, 5)
    got = ghs.sql("SELECT count(*) AS n, min(src) AS s FROM tgt").first()
    assert (got.n, got.s) == (15, "copy")  # DEFAULT filled by name-map
    # the ledger lives under the table root, not the landing dir
    assert not list(raw.glob("_processed*"))
    assert list(ghs.tables["tgt"].root.glob("_copy_ledger_*.json"))
    # record keys must be present in the source
    spark.range(3).selectExpr("id AS other").coalesce(1) \
        .write.parquet(str(tmp_path / "bad" / "b"))
    with pytest.raises(ValueError, match="record-key"):
        ghs.sql(f"COPY INTO tgt FROM '{tmp_path / 'bad'}'")
    # ledger commits OUTSIDE the table protocol: rejected in-txn
    with pytest.raises(ValueError, match="not allowed inside"):
        ghs.sql(f"BEGIN; COPY INTO tgt FROM '{raw}'")


def test_shallow_clone_and_restore(ghs, spark):
    """CREATE TABLE ... SHALLOW CLONE branches the current snapshot
    zero-copy; the clone diverges independently. RESTORE TABLE ... TO
    VERSION AS OF republishes a prior file set non-destructively."""
    _mk(ghs)
    ghs.sql("CREATE TABLE snap SHALLOW CLONE accounts")
    ghs.sql("DELETE FROM accounts WHERE region = 'eu'")
    assert ghs.sql("SELECT count(*) AS n FROM accounts").first().n == 1
    assert ghs.sql("SELECT count(*) AS n FROM snap").first().n == 3
    # restore to the pre-delete version (delete is the newest commit)
    pre = ghs.sql("DESCRIBE HISTORY accounts").collect()[1]["version"]
    ghs.sql(f"RESTORE TABLE accounts TO VERSION AS OF {pre}")
    assert ghs.sql("SELECT count(*) AS n FROM accounts").first().n == 3
    # the restore is itself a commit — history stays queryable
    ops = [r["operation"] for r in
           ghs.sql("DESCRIBE HISTORY accounts").collect()]
    assert ops[0] == "rollback"
    # clone survives a fresh session (durable catalog)
    fresh = GhsSql(spark, ghs.warehouse)
    assert fresh.sql("SELECT count(*) AS n FROM snap").first().n == 3
    # cloning a materialized view is rejected with guidance
    ghs.sql("CREATE MATERIALIZED VIEW mv AS SELECT region, COUNT(*) AS "
            "cnt, SUM(balance) AS total FROM accounts GROUP BY region")
    with pytest.raises(ValueError, match="materialized view"):
        ghs.sql("CREATE TABLE mvclone SHALLOW CLONE mv")
    with pytest.raises(ValueError, match="MATERIALIZED VIEW"):
        ghs.sql("RESTORE TABLE mv TO VERSION AS OF 1")
    # a clone carries the whole snapshot: renamed and defaulted columns
    # read back exactly as on the source
    ghs.sql("ALTER TABLE accounts RENAME COLUMN balance TO amount")
    ghs.sql("ALTER TABLE accounts ADD COLUMN tier STRING DEFAULT 'std'")
    ghs.sql("CREATE TABLE snap2 SHALLOW CLONE accounts")
    q = "SELECT id, amount, region, tier FROM {} ORDER BY id"
    got = _rows(ghs, q.format("snap2"))
    assert got == _rows(ghs, q.format("accounts"))
    assert len(got) == 3 and {r[3] for r in got} == {"std"}


def test_txn_rollback_restores_constraints(ghs):
    """Constraints persist in _table.json OUTSIDE the commit protocol,
    so BEGIN snapshots them: an in-transaction ADD CONSTRAINT must not
    survive ROLLBACK (it would keep rejecting writes forever)."""
    _mk(ghs)
    ghs.sql("BEGIN; ALTER TABLE accounts ADD CONSTRAINT pos "
            "CHECK (balance >= 0); ROLLBACK")
    assert ghs.tables["accounts"].constraints == []
    # a negative write goes through post-rollback
    ghs.sql("INSERT INTO accounts VALUES "
            "('n', CAST(-1.00 AS DECIMAL(10,2)), 'eu', 1)")
    # savepoints snapshot constraints the same way
    ghs.sql("BEGIN; SAVEPOINT sp; ALTER TABLE accounts ADD CONSTRAINT "
            "big CHECK (seq < 100); ROLLBACK TO sp")
    assert ghs.tables["accounts"].constraints == []
    ghs.sql("COMMIT")


def test_failed_create_does_not_clobber_existing_catalog_entry(
        ghs, spark, tmp_path):
    """CREATE TABLE ... LOCATION over a live table root must fail
    WITHOUT rewriting that table's _table.json — save_properties now
    runs only after the first commit succeeds."""
    ext = tmp_path / "ext"
    t = NativeTable(spark, ext, record_keys=["id"], precombine="seq")
    t.bulk_insert(spark.createDataFrame([("x", 1, 1)],
                                        "id string, v int, seq int"))
    t.save_properties()
    with pytest.raises(ValueError):
        ghs.sql(f"CREATE TABLE ex (k STRING) USING ghs_table "
                f"TBLPROPERTIES ('primaryKey'='k') LOCATION '{ext}'")
    reopened = NativeTable.open(spark, ext)
    assert reopened.record_keys == ["id"]  # config untouched


def test_txn_rollback_of_first_write_drops_stale_view(ghs, spark,
                                                      tmp_path):
    """Rolling back a table's FIRST commits empties its timeline
    (restore_to(0)); the temp view bound during the transaction must
    not keep resolving against the deleted files. SQL alone can't
    write a schema-less handle, so the first write lands through the
    Python API mid-transaction — inside ``tagged_writes()`` so the OCC
    ownership check counts it as the transaction's own (an untagged
    Python-API write is a protected FOREIGN commit since r12)."""
    t = NativeTable(spark, tmp_path / "fresh", record_keys=["id"])
    ghs.register("fresh", t)
    ghs.sql("BEGIN")
    with ghs.tagged_writes():
        t.bulk_insert(spark.createDataFrame([(1, 2)], "id int, v int"))
    assert ghs.sql("SELECT count(*) AS n FROM fresh").first().n == 1
    ghs.sql("ROLLBACK")
    from pyspark.errors import AnalysisException
    with pytest.raises(AnalysisException):
        ghs.sql("SELECT count(*) FROM fresh").collect()


def test_table_changes_and_restore_error_forms(ghs):
    _mk(ghs)
    with pytest.raises(ValueError, match="cannot parse RESTORE"):
        ghs.sql("RESTORE TABLE accounts TO VERSION AS OF '3'")
    with pytest.raises(ValueError, match="cannot parse RESTORE"):
        ghs.sql("RESTORE TABLE accounts TO TIMESTAMP AS OF 123")
    ghs.sql("CREATE TABLE empty0 (id BIGINT) USING ghs_table "
            "TBLPROPERTIES ('primaryKey'='id')")
    # schema commit exists but change_feed needs a window; omitted TO on
    # a registered-but-commitless handle raises cleanly, not AttributeError
    from glue_hudi_spark.storage.native import NativeTable as NT
    ghs.register("neverwritten", NT(ghs.spark, ghs.warehouse / "nw",
                                    record_keys=["id"]))
    with pytest.raises(ValueError, match="no commits"):
        ghs.sql("SELECT * FROM table_changes('neverwritten', 0)")


def test_optimize_where_scopes_bin_pack(ghs, spark):
    """OPTIMIZE t WHERE <bounds> packs only matching files — the
    schedulable per-slice maintenance form; files outside the bounds
    carry over by reference. Underivable predicates raise instead of
    silently packing the whole table."""
    from pyspark.sql import functions as F

    t = NativeTable(spark, ghs.warehouse / "packed", record_keys=["id"],
                    stats_cols=["bucket"], sort_order=["bucket"],
                    files_per_partition=8)
    t.bulk_insert(spark.range(800).select(
        F.col("id"), (F.col("id") % 100).alias("bucket")))
    ghs.register("packed", t)
    before = set(t.timeline.latest().files)
    assert len(before) == 8  # 8 slivers, all < target
    ghs.sql("OPTIMIZE packed WHERE bucket < 25")
    after = set(t.timeline.latest().files)
    packed = before - after
    # only the low-bucket slivers repacked; the rest carried untouched
    assert 2 <= len(packed) <= 4 and len(before & after) >= 4
    assert t.count_rows() == 800
    with pytest.raises(ValueError, match="derives no manifest bounds"):
        ghs.sql("OPTIMIZE packed WHERE bucket < 25 OR bucket > 90")
    with pytest.raises(ValueError, match="bin-packing only"):
        ghs.sql("OPTIMIZE packed WHERE bucket < 25 ZORDER BY (id)")


def test_select_count_star_is_metadata_only(ghs, spark):
    """A bare SELECT COUNT(*) FROM t answers from the manifest's
    per-file row counts — zero data files opened (Delta stats-count
    parity). Shapes the fast path can't prove (WHERE, expressions)
    fall through to the normal scan."""
    _mk(ghs)
    called = {"n": 0}
    orig = NativeTable._read_files

    def counting(self, *a, **k):
        called["n"] += 1
        return orig(self, *a, **k)

    import glue_hudi_spark.storage.native as native_mod
    try:
        native_mod.NativeTable._read_files = counting
        n = ghs.sql("SELECT COUNT(*) FROM accounts").first()[0]
        assert n == 3 and called["n"] == 0  # no file plan built
        n = ghs.sql("SELECT count(*) AS total FROM accounts").first()
        assert n.total == 3 and called["n"] == 0
    finally:
        native_mod.NativeTable._read_files = orig
    # WHERE falls through to the real scan and stays exact
    n = ghs.sql("SELECT count(*) AS n FROM accounts "
                "WHERE region = 'eu'").first().n
    assert n == 2


def test_stored_views_lifecycle(ghs, spark):
    """CREATE [OR REPLACE] VIEW stores query TEXT, re-planned at every
    bind — reads always see the base tables' CURRENT snapshot (unlike a
    materialized view, nothing is stored or refreshed). Durable across
    sessions; rolled back with a transaction; name-collision guarded
    both ways; SHOW CREATE and DROP VIEW round out the surface."""
    _mk(ghs)
    ghs.sql("CREATE VIEW eu_accts AS "
            "SELECT id, balance FROM accounts WHERE region = 'eu'")
    assert {r.id for r in ghs.sql("SELECT * FROM eu_accts").collect()} \
        == {"a", "c"}
    # always-current: a base write is visible with NO refresh
    ghs.sql("INSERT INTO accounts VALUES "
            "('e', CAST(5.00 AS DECIMAL(10,2)), 'eu', 1)")
    assert {r.id for r in ghs.sql("SELECT * FROM eu_accts").collect()} \
        == {"a", "c", "e"}
    # durable: a fresh session re-attaches the view text
    fresh = GhsSql(spark, ghs.warehouse)
    assert fresh.sql("SELECT count(*) AS n FROM eu_accts").first().n == 3
    stmt = fresh.sql("SHOW CREATE TABLE eu_accts").first()[0]
    assert stmt.startswith("CREATE VIEW eu_accts")
    # OR REPLACE; plain re-CREATE raises
    with pytest.raises(ValueError, match="already exists"):
        ghs.sql("CREATE VIEW eu_accts AS SELECT 1 AS x")
    ghs.sql("CREATE OR REPLACE VIEW eu_accts AS "
            "SELECT id FROM accounts WHERE region = 'us'")
    assert [r.id for r in ghs.sql("SELECT * FROM eu_accts").collect()] \
        == ["b"]
    # a typo'd view fails at CREATE, not first read
    with pytest.raises(Exception):
        ghs.sql("CREATE VIEW bad AS SELECT nope FROM accounts")
    assert "bad" not in ghs.views
    # writes treat the view as an unknown table; collisions guard both ways
    with pytest.raises(ValueError, match="unknown table"):
        ghs.sql("INSERT INTO eu_accts VALUES ('x')")
    with pytest.raises(ValueError, match="stored view"):
        ghs.sql("CREATE TABLE eu_accts (id STRING) USING ghs_table "
                "TBLPROPERTIES ('primaryKey'='id')")
    with pytest.raises(ValueError, match="shadow"):
        ghs.sql("CREATE VIEW accounts AS SELECT 1 AS x")
    with pytest.raises(ValueError, match="DROP VIEW"):
        ghs.sql("DROP TABLE eu_accts")
    # transactional: CREATE VIEW inside a rolled-back txn disappears
    ghs.sql("BEGIN; CREATE VIEW tmpv AS SELECT id FROM accounts; "
            "ROLLBACK")
    assert "tmpv" not in ghs.views
    from pyspark.errors import AnalysisException
    with pytest.raises(AnalysisException):
        ghs.sql("SELECT * FROM tmpv").collect()
    ghs.sql("DROP VIEW eu_accts")
    assert "eu_accts" not in ghs.views
    ghs.sql("DROP VIEW IF EXISTS eu_accts")  # no-op


def test_show_views_mviews_partitions(ghs, spark):
    _mk_mv_bases(ghs)
    ghs.sql("CREATE VIEW v1 AS SELECT ok FROM fact")
    ghs.sql("CREATE MATERIALIZED VIEW rev TBLPROPERTIES "
            "('refresh'='auto') AS SELECT ck, COUNT(*) AS cnt, "
            "SUM(amt) AS total FROM fact GROUP BY ck")
    assert [r.viewName for r in ghs.sql("SHOW VIEWS").collect()] == ["v1"]
    mv = ghs.sql("SHOW MATERIALIZED VIEWS").collect()
    assert [(r.name, r.kind, r.bases, r.auto_refresh) for r in mv] == [
        ("rev", "agg", "fact", True)]
    # SHOW PARTITIONS: manifest-only partition listing
    ghs.sql("""
        CREATE TABLE pt (k STRING, day STRING, v INT) USING ghs_table
            PARTITIONED BY (day) TBLPROPERTIES ('primaryKey'='k');
        INSERT INTO pt VALUES ('a','2024-01-01',1),('b','2024-01-02',2),
                              ('c','2024-01-01',3)
    """)
    parts = [r.partition for r in
             ghs.sql("SHOW PARTITIONS pt").collect()]
    assert parts == ["day=2024-01-01", "day=2024-01-02"]
    with pytest.raises(ValueError, match="not partitioned"):
        ghs.sql("SHOW PARTITIONS fact")


def test_view_dependency_guards_and_savepoint_views(ghs):
    """Dropping a stored view's base (table or upstream view) raises
    instead of leaving the session's view replans failing; ROLLBACK TO
    SAVEPOINT restores the view registry exactly like a full
    ROLLBACK does."""
    _mk(ghs)
    ghs.sql("CREATE VIEW v1 AS SELECT id, balance FROM accounts")
    ghs.sql("CREATE VIEW v2 AS SELECT id FROM v1")
    with pytest.raises(ValueError, match="referenced by stored view"):
        ghs.sql("DROP TABLE accounts")
    with pytest.raises(ValueError, match="referenced by stored view"):
        ghs.sql("DROP VIEW v1")
    ghs.sql("DROP VIEW v2; DROP VIEW v1")
    ghs.sql("DROP TABLE accounts")  # guards released in order
    # savepoint rollback restores the registry (create AND replace)
    _mk(ghs)
    ghs.sql("CREATE VIEW keepme AS SELECT id FROM accounts")
    ghs.sql("""
        BEGIN;
        SAVEPOINT sp;
        CREATE VIEW txnview AS SELECT id FROM accounts;
        CREATE OR REPLACE VIEW keepme AS SELECT balance FROM accounts;
        ROLLBACK TO sp
    """)
    assert "txnview" not in ghs.views
    assert "id" in ghs.views["keepme"]  # original text restored
    assert ghs.sql("SELECT * FROM keepme").columns == ["id"]
    ghs.sql("COMMIT")


def test_analyze_table_compute_statistics(ghs, tmp_path):
    """ANALYZE TABLE binds NativeTable.analyze: one pass computes row
    count + per-column NDV/nulls/min/max, returns the stats, and persists
    them beside the timeline stamped with the head commit id."""
    _mk(ghs)
    # bare form: row count only, no column analyzed
    bare = ghs.sql("ANALYZE TABLE accounts COMPUTE STATISTICS").collect()
    assert len(bare) == 1 and bare[0]["row_count"] == 3
    assert bare[0]["column"] is None

    got = ghs.sql(
        "ANALYZE TABLE accounts COMPUTE STATISTICS FOR COLUMNS id, region"
    ).collect()
    by_col = {r["column"]: r for r in got}
    assert set(by_col) == {"id", "region"}
    assert by_col["id"]["ndv_est"] == 3 and by_col["id"]["null_count"] == 0
    assert by_col["id"]["min"] == "a" and by_col["id"]["max"] == "c"
    assert by_col["region"]["ndv_est"] == 2
    assert all(r["row_count"] == 3 for r in got)

    allc = ghs.sql(
        "ANALYZE TABLE accounts COMPUTE STATISTICS FOR ALL COLUMNS"
    ).collect()
    assert {r["column"] for r in allc} == {"id", "balance", "region", "seq"}

    # stamped + persisted beside the timeline
    import json
    t = ghs.tables["accounts"]
    saved = json.loads((t.root / "_stats" / "analyze.json").read_text())
    assert saved["as_of_commit"] == t.timeline.latest().commit_id
    assert saved["row_count"] == 3

    # unknown column raises, unknown table raises
    with pytest.raises(ValueError, match="not in"):
        ghs.sql("ANALYZE TABLE accounts COMPUTE STATISTICS FOR COLUMNS nope")
    with pytest.raises(ValueError, match="unknown table"):
        ghs.sql("ANALYZE TABLE ghost COMPUTE STATISTICS")


def test_select_minmax_is_metadata_only(ghs, spark):
    """Bare SELECT MIN/MAX over stats-indexed columns answers from the
    manifest's per-file column stats — zero data files opened (the
    MIN/MAX sibling of the stats-count fast path). Shapes the manifest
    cannot prove (un-indexed column, WHERE, deletion-vector marks) fall
    through to the real scan and stay exact."""
    from pyspark.sql import functions as F

    t = NativeTable(spark, ghs.warehouse / "mm", record_keys=["id"],
                    stats_cols=["v", "d"], files_per_partition=4)
    t.bulk_insert(spark.range(100).select(
        F.col("id"), (F.col("id") * 2).alias("v"),
        F.to_date(F.lit("2024-01-01")).alias("d"),
        F.col("id").cast("string").alias("s")))
    ghs.register("mm", t)

    called = {"n": 0}
    orig = NativeTable._read_files

    def counting(self, *a, **k):
        called["n"] += 1
        return orig(self, *a, **k)

    import glue_hudi_spark.storage.native as native_mod
    try:
        native_mod.NativeTable._read_files = counting
        r = ghs.sql("SELECT MIN(v) AS lo, MAX(v) AS hi, COUNT(*) AS n, "
                    "MAX(d) FROM mm").first()
        assert (r.lo, r.hi, r.n) == (0, 198, 100)
        assert str(r["max(d)"]) == "2024-01-01"
        assert called["n"] == 0  # no file plan built
    finally:
        native_mod.NativeTable._read_files = orig

    # un-indexed column (s not in stats_cols) -> real scan, same answer
    r = ghs.sql("SELECT MAX(s) AS hi FROM mm").first()
    assert r.hi == "99"  # string max of "0".."99"
    # WHERE falls through and stays exact
    r = ghs.sql("SELECT MIN(v) AS lo FROM mm WHERE id >= 50").first()
    assert r.lo == 100
    # a delete moves the provable extremum: stats refresh with the commit
    ghs.sql("DELETE FROM mm WHERE id = 99")
    try:
        native_mod.NativeTable._read_files = counting
        called["n"] = 0
        r = ghs.sql("SELECT MAX(v) AS hi, COUNT(*) AS n FROM mm").first()
        assert (r.hi, r.n) == (196, 99) and called["n"] == 0
    finally:
        native_mod.NativeTable._read_files = orig


def test_minmax_fast_path_bails_on_dv_marks(ghs, spark):
    """Deletion-vector tables: a marked row may BE the extremum, so the
    manifest cannot prove MIN/MAX — the fast path must bail to the scan
    (which applies the marks) rather than resurrect a deleted value."""
    from pyspark.sql import functions as F

    t = NativeTable(spark, ghs.warehouse / "dvmm", record_keys=["id"],
                    stats_cols=["v"], deletion_vectors=True,
                    files_per_partition=2)
    t.bulk_insert(spark.range(10).select(
        F.col("id"), (F.col("id") * 10).alias("v")))
    t.delete(spark.range(9, 10).select(F.col("id")))  # marks v=90
    ghs.register("dvmm", t)
    assert t.stats_extrema("v") is None  # manifest refuses to prove
    r = ghs.sql("SELECT MAX(v) AS hi, COUNT(*) AS n FROM dvmm").first()
    assert (r.hi, r.n) == (80, 9)


def test_show_tblproperties(ghs):
    _mk(ghs)
    rows = {r.key: r.value
            for r in ghs.sql("SHOW TBLPROPERTIES accounts").collect()}
    assert rows["primaryKey"] == "id"
    assert rows["preCombineField"] == "seq"
    assert rows["type"] == "cow"


def test_cache_and_uncache_table(ghs, spark):
    """CACHE TABLE pins the current snapshot (eager by default) and a
    write that moves the head RELEASES the pin — reads never serve the
    pre-write snapshot from memory. UNCACHE rebinds the plain view."""
    _mk(ghs)
    ghs.sql("CACHE TABLE accounts")
    df = ghs._cached["accounts"]
    lvl = df.storageLevel
    assert lvl.useMemory or lvl.useDisk
    assert ghs.sql("SELECT id FROM accounts ORDER BY id").count() == 3
    # a write invalidates the pin instead of serving stale rows
    ghs.sql("INSERT INTO accounts VALUES "
            "('d', CAST(40.00 AS DECIMAL(10,2)), 'ap', 1)")
    got = ghs.sql("SELECT id FROM accounts ORDER BY id").collect()
    assert [r.id for r in got] == ["a", "b", "c", "d"]
    assert "accounts" not in ghs._cached  # released on head move
    # lazy form + explicit uncache
    ghs.sql("CACHE LAZY TABLE accounts")
    assert "accounts" in ghs._cached
    ghs.sql("UNCACHE TABLE accounts")
    assert "accounts" not in ghs._cached
    assert ghs.sql("SELECT COUNT(*) FROM accounts").first()[0] == 4
    with pytest.raises(ValueError, match="no commits|unknown table"):
        ghs.sql("CACHE TABLE ghost")


def test_vacuum_dry_run_lists_without_deleting(ghs, spark, tmp_path):
    """VACUUM t DRY RUN reports what a real run would reclaim — same
    selection, zero deletions; the follow-up real VACUUM deletes it."""
    _mk(ghs)
    t = ghs.tables["accounts"]
    # fabricate a crashed-writer orphan under an already-committed id
    orphan_dir = t.root / "data" / "00000000000000000002"
    orphan_dir.mkdir(parents=True, exist_ok=True)
    orphan = orphan_dir / "orphan.parquet"
    spark.range(3).coalesce(1).write.mode("overwrite") \
        .parquet(str(tmp_path / "stage"))
    src = next((tmp_path / "stage").glob("*.parquet"))
    orphan.write_bytes(src.read_bytes())
    out = ghs.sql("VACUUM accounts DRY RUN").collect()
    listed = {r.path for r in out if r.kind == "data"}
    assert any("orphan.parquet" in p for p in listed)
    assert orphan.exists()  # nothing deleted
    ghs.sql("VACUUM accounts")
    assert not orphan.exists()
    # table still reads clean after the real vacuum
    assert ghs.sql("SELECT COUNT(*) FROM accounts").first()[0] == 3


def test_continuous_aggregate_mv(ghs, spark):
    """Continuous aggregate (TimescaleDB's time_bucket form): a
    materialized view may GROUP BY a DATE_TRUNC bucket — the derived
    column is re-projected onto every change-feed row, so refresh stays
    the incremental O(changed groups) merge. GROUP BY may repeat the
    expression or reference the alias."""
    ghs.sql("""
        CREATE TABLE readings (id BIGINT, ts TIMESTAMP, v DOUBLE)
            USING ghs_table TBLPROPERTIES ('primaryKey'='id');
        INSERT INTO readings VALUES
            (1, TIMESTAMP'2024-01-01 08:00:00', 10.0),
            (2, TIMESTAMP'2024-01-01 17:00:00', 5.0),
            (3, TIMESTAMP'2024-01-02 09:00:00', 7.0);
        CREATE MATERIALIZED VIEW daily AS
            SELECT DATE_TRUNC('day', ts) AS day, COUNT(*) AS cnt,
                   SUM(v) AS total
            FROM readings GROUP BY DATE_TRUNC('day', ts)
    """)
    rows = {str(r.day): (r.cnt, float(r.total)) for r in
            ghs.sql("SELECT day, cnt, total FROM daily").collect()}
    assert rows == {"2024-01-01 00:00:00": (2, 15.0),
                    "2024-01-02 00:00:00": (1, 7.0)}
    # churn: an insert into an existing day, a new day, and a delete
    ghs.sql("""
        INSERT INTO readings VALUES
            (4, TIMESTAMP'2024-01-02 23:00:00', 3.0),
            (5, TIMESTAMP'2024-01-03 01:00:00', 1.0);
        DELETE FROM readings WHERE id = 1;
        REFRESH MATERIALIZED VIEW daily
    """)
    rows = {str(r.day): (r.cnt, float(r.total)) for r in
            ghs.sql("SELECT day, cnt, total FROM daily").collect()}
    assert rows == {"2024-01-01 00:00:00": (1, 5.0),
                    "2024-01-02 00:00:00": (2, 10.0),
                    "2024-01-03 00:00:00": (1, 1.0)}
    # refresh was a MERGE into the state, not a recompute-overwrite
    head = ghs.tables["daily"].timeline.latest()
    assert head.action in ("merge", "watermark"), head.action
    # GROUP BY may reference the alias instead of the expression
    ghs.sql("""
        CREATE MATERIALIZED VIEW monthly AS
            SELECT DATE_TRUNC('month', ts) AS m, COUNT(*) AS cnt,
                   SUM(v) AS total
            FROM readings GROUP BY m
    """)
    got = ghs.sql("SELECT cnt, total FROM monthly").first()
    assert (got.cnt, float(got.total)) == (4, 16.0)
    # SHOW CREATE round-trips the definition text
    stmt = ghs.sql("SHOW CREATE TABLE daily").first()[0]
    assert "DATE_TRUNC('day', ts) AS day" in stmt
    # durable: a fresh GhsSql over the warehouse re-attaches with derive
    fresh = GhsSql(spark, ghs.warehouse)
    assert fresh.mviews["daily"].derive == {
        "day": "date_trunc('day', `ts`)"}


def test_uncache_if_exists_and_explain_keeps_pin(ghs, spark):
    """Second-review pins: UNCACHE TABLE IF EXISTS on an unknown table is
    a no-op (Spark parity); EXPLAIN on a cached table reports the pin and
    does NOT destroy it; a rolled-back transaction releases the pin of a
    table CREATEd (and cached) inside it."""
    assert ghs.sql("UNCACHE TABLE IF EXISTS ghost") is None
    with pytest.raises(ValueError, match="unknown table"):
        ghs.sql("UNCACHE TABLE ghost")

    from pyspark.sql import functions as F
    t = NativeTable(spark, ghs.warehouse / "pinned", record_keys=["id"],
                    stats_cols=["b"], files_per_partition=4)
    t.bulk_insert(spark.range(100).select(
        F.col("id"), (F.col("id") % 10).alias("b")))
    ghs.register("pinned", t)
    ghs.sql("CACHE TABLE pinned")
    plan = "\n".join(r[0] for r in
                     ghs.sql("EXPLAIN SELECT * FROM pinned WHERE b >= 5")
                     .collect())
    assert "pinned by CACHE TABLE" in plan
    assert "pinned" in ghs._cached  # the pin survived the EXPLAIN
    assert ghs.sql("SELECT COUNT(*) FROM pinned").first()[0] == 100

    # txn rollback of a CREATE+CACHE releases the pin
    ghs.sql("""
        BEGIN;
        CREATE TABLE txncached (id BIGINT, v DOUBLE) USING ghs_table
            TBLPROPERTIES ('primaryKey'='id');
        INSERT INTO txncached VALUES (1, 1.0);
        CACHE TABLE txncached;
        ROLLBACK
    """)
    assert "txncached" not in ghs._cached
    assert "txncached" not in ghs.tables


# ---- OCC head-check: a foreign writer interleaving with an open
# transaction must abort it loudly instead of being clobbered by
# ROLLBACK's restore_to (r11 verdict #5)

def _foreign_row(ghs):
    return ghs.spark.sql(
        "SELECT 'z' AS id, CAST(77.00 AS DECIMAL(10,2)) AS balance, "
        "'eu' AS region, 2 AS seq")


def test_txn_occ_rollback_preserves_foreign_commit(ghs):
    """ROLLBACK after a foreign (Python-API) commit: TxnConflictError,
    nothing restored — the foreign row AND this session's own
    in-transaction statement both survive as ordinary commits."""
    from glue_hudi_spark.sql import TxnConflictError

    _mk(ghs)
    ghs.sql("BEGIN")
    ghs.sql("UPDATE accounts SET balance = 0 WHERE id = 'a'")
    ghs.tables["accounts"].upsert(_foreign_row(ghs))  # racing writer
    with pytest.raises(TxnConflictError, match="accounts"):
        ghs.sql("ROLLBACK")
    got = {r[0]: str(r[1]) for r in _rows(ghs)}
    assert got["z"] == "77.00"  # foreign commit preserved
    assert got["a"] == "0.00"   # own statement NOT restored
    # transaction closed, session usable again
    assert ghs._txn is None
    ghs.sql("BEGIN; DELETE FROM accounts WHERE id = 'z'; COMMIT")
    assert "z" not in {r[0] for r in _rows(ghs)}


def test_txn_occ_commit_detects_conflict(ghs):
    from glue_hudi_spark.sql import TxnConflictError

    _mk(ghs)
    ghs.sql("BEGIN")
    ghs.sql("DELETE FROM accounts WHERE id = 'b'")
    ghs.tables["accounts"].upsert(_foreign_row(ghs))
    with pytest.raises(TxnConflictError, match="COMMIT aborted"):
        ghs.sql("COMMIT")
    assert ghs._txn is None
    got = {r[0] for r in _rows(ghs)}
    assert "z" in got and "b" not in got


def test_txn_occ_savepoint_rollback_detects_conflict(ghs):
    from glue_hudi_spark.sql import TxnConflictError

    _mk(ghs)
    ghs.sql("BEGIN; SAVEPOINT sp1")
    ghs.sql("UPDATE accounts SET balance = 1 WHERE id = 'c'")
    ghs.tables["accounts"].upsert(_foreign_row(ghs))
    with pytest.raises(TxnConflictError, match="ROLLBACK TO"):
        ghs.sql("ROLLBACK TO sp1")
    assert ghs._txn is None


def test_txn_occ_clean_lifecycle_unaffected(ghs):
    """No foreign writer: BEGIN..ROLLBACK and BEGIN..COMMIT behave
    exactly as before the OCC check existed."""
    _mk(ghs)
    ghs.sql("""
        BEGIN;
        UPDATE accounts SET balance = 0 WHERE id = 'a';
        ROLLBACK
    """)
    assert str({r[0]: r[1] for r in _rows(ghs)}["a"]) == "10.00"
    ghs.sql("""
        BEGIN;
        UPDATE accounts SET balance = 5 WHERE id = 'a';
        COMMIT
    """)
    assert str({r[0]: r[1] for r in _rows(ghs)}["a"]) == "5.00"


def test_mview_commit_n_deferred_refresh(ghs):
    """TBLPROPERTIES ('refresh'='commit:N') — deferred batching (r11
    verdict #7): the view stays stale (one metadata watermark check per
    write, no refresh work) until N base commits have landed past its
    watermark, then one incremental refresh absorbs the whole window."""
    _mk_mv_bases(ghs)
    ghs.sql("CREATE MATERIALIZED VIEW batched TBLPROPERTIES "
            "('refresh'='commit:3') AS SELECT ck, COUNT(*) AS cnt, "
            "SUM(amt) AS total FROM fact GROUP BY ck")
    base_state = {(10, 2), (20, 1)}

    def view():
        return {(r.ck, r.cnt)
                for r in ghs.sql("SELECT * FROM batched").collect()}

    ghs.sql("INSERT INTO fact VALUES (4,30,1.0)")   # pending 1
    assert view() == base_state                      # still deferred
    ghs.sql("INSERT INTO fact VALUES (5,30,2.0)")   # pending 2
    assert view() == base_state
    ghs.sql("DELETE FROM fact WHERE ok = 2")        # pending 3 -> refresh
    assert view() == {(10, 2), (30, 2)}
    # window restarts: next write is pending 1 again
    ghs.sql("INSERT INTO fact VALUES (6,40,9.0)")
    assert view() == {(10, 2), (30, 2)}
    # manual REFRESH still works mid-window
    ghs.sql("REFRESH MATERIALIZED VIEW batched")
    assert view() == {(10, 2), (30, 2), (40, 1)}


def test_mview_commit_n_show_create_roundtrip(ghs):
    _mk_mv_bases(ghs)
    ghs.sql("CREATE MATERIALIZED VIEW batched TBLPROPERTIES "
            "('refresh'='commit:5') AS SELECT ck, COUNT(*) AS cnt, "
            "SUM(amt) AS total FROM fact GROUP BY ck")
    stmt = ghs.sql("SHOW CREATE TABLE batched").first()[0]
    assert "commit:5" in stmt
    ghs.sql("DROP MATERIALIZED VIEW batched")
    ghs.sql(stmt)  # the emitted statement re-executes
    assert ghs._mv_specs["batched"].get("every") == 5
    with pytest.raises(ValueError, match="refresh mode"):
        ghs.sql("CREATE MATERIALIZED VIEW bad TBLPROPERTIES "
                "('refresh'='hourly') AS SELECT ck, COUNT(*) AS cnt, "
                "SUM(amt) AS total FROM fact GROUP BY ck")


def test_fast_agg_nan_unindexes_file_and_scan_answers(ghs, spark):
    """ADVICE r11: Spark's parquet writer emits NaN-INCLUSIVE footer
    stats (max=nan), which would poison Python min/max reductions and
    could serve a non-NaN MAX where a real scan returns NaN. The
    indexer drops NaN stats (file unindexed for that column), so the
    fast path falls through and the scan's NaN-is-greatest answer
    wins."""
    import math

    from pyspark.sql import functions as F

    t = NativeTable(spark, ghs.warehouse / "nn", record_keys=["id"],
                    stats_cols=["x"], files_per_partition=4)
    t.bulk_insert(spark.range(100).select(
        F.col("id"),
        F.when(F.col("id") == 3, F.lit(float("nan")))
        .otherwise(F.col("id").cast("double")).alias("x")))
    ghs.register("nn", t)
    assert t.stats_extrema("x") is None  # NaN file unindexed -> unproven
    r = ghs.sql("SELECT MIN(x) AS lo, MAX(x) AS hi FROM nn").first()
    assert r.lo == 0.0
    assert math.isnan(r.hi)  # Spark MAX: NaN greatest — scan semantics


def test_stats_extrema_timestamp_reduction_parses_iso(ghs, spark):
    """ADVICE r11: timestamp extrema reduce on PARSED datetimes, not
    lexicographic ISO strings; a mixed aware/naive rendering raises
    (and the fast-agg caller falls through) instead of serving a
    chronologically wrong bound."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    t = NativeTable(spark, ghs.warehouse / "tt", record_keys=["id"],
                    stats_cols=["ts"], files_per_partition=2)
    t.bulk_insert(spark.range(10).select(
        F.col("id"),
        F.expr("timestamp '2024-06-01 12:00:00' + make_interval("
               "0,0,0,0,0,0,id)").alias("ts")))
    ghs.register("tt", t)
    lo, hi = t.stats_extrema("ts")
    assert lo.startswith("2024-06-01T12:00:00")
    # corrupt one file's stats with a tz-aware rendering: the reduction
    # must refuse (TypeError) rather than compare lexicographically
    commit = t.timeline.latest()
    f0 = commit.files[0]
    commit.col_stats[f0]["ts"][1] = "2024-06-01T12:00:05+00:00"
    with _pytest.raises(TypeError):
        min(["2024-06-01T12:00:00", "2024-06-01T12:00:05+00:00"],
            key=__import__("datetime").datetime.fromisoformat)
    # and the SQL surface still answers through the scan
    r = ghs.sql("SELECT COUNT(*) AS n FROM tt").first()
    assert r.n == 10


def test_register_rebind_releases_cache_pin(ghs, spark):
    """ADVICE r11: register() over a live name releases the old CACHE
    TABLE pin and view-cache key — the new table's snapshot is served,
    never the old pinned one."""
    from pyspark.sql import functions as F

    t1 = NativeTable(spark, ghs.warehouse / "r1", record_keys=["id"])
    t1.bulk_insert(spark.range(5).select("id"))
    ghs.register("r", t1)
    ghs.sql("CACHE TABLE r")
    assert "r" in ghs._cached
    t2 = NativeTable(spark, ghs.warehouse / "r2", record_keys=["id"])
    t2.bulk_insert(spark.range(9).select("id"))
    ghs.register("r", t2)
    assert "r" not in ghs._cached  # pin released with the old binding
    assert ghs.sql("SELECT COUNT(*) AS n FROM r").first().n == 9


def test_txn_occ_detects_foreign_commit_between_statements(ghs):
    """Review r12: a foreign commit landing BETWEEN this session's
    statements (not just after the last one) must still abort ROLLBACK —
    ownership is checked per commit via the writer tag, so later own
    statements cannot absorb the foreign head."""
    from glue_hudi_spark.sql import TxnConflictError

    _mk(ghs)
    ghs.sql("BEGIN")
    ghs.sql("UPDATE accounts SET balance = 0 WHERE id = 'a'")
    ghs.tables["accounts"].upsert(_foreign_row(ghs))  # interleaved
    ghs.sql("DELETE FROM accounts WHERE id = 'b'")    # own, AFTER foreign
    with pytest.raises(TxnConflictError, match="untagged writer"):
        ghs.sql("ROLLBACK")
    got = {r[0] for r in _rows(ghs)}
    assert "z" in got  # the foreign commit was preserved, not clobbered


def test_txn_occ_register_mid_txn_no_spurious_conflict(ghs, spark):
    """Review r12: a table register()ed mid-transaction is outside the
    BEGIN snapshot — neither OCC-checked nor restored; COMMIT and
    ROLLBACK proceed without a spurious conflict."""
    _mk(ghs)
    ghs.sql("BEGIN")
    ghs.sql("UPDATE accounts SET balance = 0 WHERE id = 'a'")
    t = NativeTable(spark, ghs.warehouse / "late", record_keys=["id"])
    t.bulk_insert(ghs.spark.range(4).select("id"))
    ghs.register("late", t)
    ghs.sql("COMMIT")  # no TxnConflictError
    assert str({r[0]: r[1] for r in _rows(ghs)}["a"]) == "0.00"
    ghs.sql("BEGIN; DELETE FROM accounts WHERE id = 'c'; ROLLBACK")
    assert "c" in {r[0] for r in _rows(ghs)}  # rollback still works


def test_txn_error_rollback_restores_own_partial_commits(ghs, monkeypatch):
    """Review r12: a statement that COMMITS to the base and then raises
    (eager MV maintenance failing) leaves own-tagged partial commits;
    the error-path rollback must treat them as ours and restore the
    all-or-nothing BEGIN state — not misread them as a foreign
    conflict."""
    from glue_hudi_spark.streaming.materialized import MaterializedAgg

    _mk_mv_bases(ghs)
    ghs.sql("CREATE MATERIALIZED VIEW live TBLPROPERTIES "
            "('refresh'='auto') AS SELECT ck, COUNT(*) AS cnt, "
            "SUM(amt) AS total FROM fact GROUP BY ck")

    def boom(self):
        raise RuntimeError("maintenance exploded")

    monkeypatch.setattr(MaterializedAgg, "refresh", boom)
    with pytest.raises(RuntimeError, match="maintenance exploded"):
        ghs.sql("""
            BEGIN;
            INSERT INTO fact VALUES (7,70,1.0);
            COMMIT
        """)
    monkeypatch.undo()
    # the INSERT's base commit (own, tagged) was restored — all-or-nothing
    assert ghs._txn is None
    assert ghs.sql("SELECT COUNT(*) AS n FROM fact WHERE ok = 7") \
        .first().n == 0


def test_stats_extrema_string_column_lexicographic(ghs, spark):
    """Review r12: genuine STRING-column stats (not ISO renderings)
    fall back to lexicographic bounds for direct API callers (pruning
    use) instead of crashing in fromisoformat."""
    t = NativeTable(spark, ghs.warehouse / "ss", record_keys=["id"],
                    stats_cols=["s"], files_per_partition=2)
    from pyspark.sql import functions as F
    t.bulk_insert(spark.range(20).select(
        "id", F.concat(F.lit("w"), F.col("id").cast("string")).alias("s")))
    lo, hi = t.stats_extrema("s")
    assert lo == "w0" and hi == "w9"  # lexicographic, documented


def test_stats_extrema_legacy_nan_manifest_unproven(ghs, spark,
                                                    monkeypatch):
    """Review r12: a manifest written by a pre-NaN-aware indexer can
    carry max=nan; stats_extrema must return None (unprovable), not a
    position-dependent Python max()."""
    from pyspark.sql import functions as F
    t = NativeTable(spark, ghs.warehouse / "ln", record_keys=["id"],
                    stats_cols=["x"], files_per_partition=2)
    t.bulk_insert(spark.range(20).select(
        "id", F.col("id").cast("double").alias("x")))
    commit = t.timeline.latest()
    f0 = sorted(commit.files)[0]
    commit.col_stats[f0]["x"][1] = float("nan")  # doctored legacy stat
    monkeypatch.setattr(t.timeline, "latest", lambda: commit)
    assert t.stats_extrema("x") is None


def test_tagged_writes_opt_in_is_restorable(ghs, spark):
    """tagged_writes(): a Python-API write inside the block is the
    transaction's own — ROLLBACK restores it without conflict."""
    _mk(ghs)
    ghs.sql("BEGIN")
    with ghs.tagged_writes():
        ghs.tables["accounts"].upsert(_foreign_row(ghs))
    ghs.sql("ROLLBACK")  # no TxnConflictError
    assert "z" not in {r[0] for r in _rows(ghs)}  # restored away


def test_txn_error_rollback_with_foreign_commit_chains_conflict(
        ghs, monkeypatch):
    """r12 ADVICE sql.py:308: a statement failing mid-flight while a
    foreign commit is present must NOT mask the original error — the
    abort-path TxnConflictError chains from it (__cause__) and states
    that the failed statement's partial commits stay durable."""
    from glue_hudi_spark.sql import TxnConflictError
    from glue_hudi_spark.streaming.materialized import MaterializedAgg

    _mk_mv_bases(ghs)
    ghs.sql("CREATE MATERIALIZED VIEW live2 TBLPROPERTIES "
            "('refresh'='auto') AS SELECT ck, COUNT(*) AS cnt, "
            "SUM(amt) AS total FROM fact GROUP BY ck")
    # the racing writer lands FIRST, then a statement commits to the
    # base and raises during eager MV maintenance
    ghs.sql("BEGIN")
    ghs.tables["fact"].upsert(ghs.spark.sql(
        "SELECT CAST(99 AS BIGINT) AS ok, CAST(10 AS BIGINT) AS ck, "
        "CAST(1.5 AS DOUBLE) AS amt"))

    def boom(self):
        raise RuntimeError("maintenance exploded")

    monkeypatch.setattr(MaterializedAgg, "refresh", boom)
    with pytest.raises(TxnConflictError,
                       match="partially-applied") as ei:
        ghs.sql("INSERT INTO fact VALUES (7,70,1.0)")
    monkeypatch.undo()
    # chained from the statement's own error, not swallowed
    assert isinstance(ei.value.__cause__, RuntimeError)
    assert "maintenance exploded" in str(ei.value.__cause__)
    # nothing restored: the foreign row AND the partial INSERT survive
    assert ghs._txn is None
    keys = {r.ok for r in ghs.sql("SELECT ok FROM fact").collect()}
    assert 99 in keys and 7 in keys


def test_txn_restore_reverifies_head_before_truncate(ghs, monkeypatch):
    """r12 ADVICE sql.py:337 (TOCTOU): a foreign commit landing AFTER
    _occ_check's walk but before restore_to must still abort the
    restore — _restore_heads re-verifies per table. Simulated by
    no-op'ing the up-front check so the foreign commit is only visible
    at restore time."""
    from glue_hudi_spark.sql import TxnConflictError

    _mk(ghs)
    ghs.sql("BEGIN")
    ghs.sql("UPDATE accounts SET balance = 0 WHERE id = 'a'")
    monkeypatch.setattr(ghs, "_occ_check", lambda op: None)
    ghs.tables["accounts"].upsert(_foreign_row(ghs))  # races past check
    with pytest.raises(TxnConflictError, match="landed after"):
        ghs.sql("ROLLBACK")
    assert ghs._txn is None
    got = {r[0]: str(r[1]) for r in _rows(ghs)}
    assert got["z"] == "77.00"  # foreign commit preserved, not truncated


def test_timeline_history_since_skips_prefix_by_filename(ghs):
    """history(since=n) returns only commits with id > n and never
    parses the skipped manifests (OCC hot path is O(txn commits))."""
    from glue_hudi_spark.storage.commits import CommitTimeline

    _mk(ghs)
    ghs.sql("UPDATE accounts SET balance = 1 WHERE id = 'a'")
    ghs.sql("UPDATE accounts SET balance = 2 WHERE id = 'a'")
    tl = ghs.tables["accounts"].timeline
    ids = [c.commit_id for c in tl.history()]
    assert ids == sorted(ids) and len(ids) >= 3
    assert [c.commit_id for c in tl.history(since=ids[0])] == ids[1:]
    assert tl.history(since=ids[-1]) == []
    # the skipped prefix is filtered by NAME — _load never sees it
    seen = []
    orig = CommitTimeline._load

    def spy(self, path):
        seen.append(path.name)
        return orig(self, path)

    import unittest.mock as mock
    with mock.patch.object(CommitTimeline, "_load", spy):
        tl.history(since=2)
    assert all(name.split(".", 1)[0] > f"{2:020d}" for name in seen)


def test_table_changes_timestamp_bounds(ghs):
    """r13: Delta's timestamp form — table_changes('t', '<iso>'[, ...])
    resolves each bound to the newest commit at or before the instant
    (FROM exclusive / TO inclusive, same alignment as the id form)."""
    import datetime as dt

    _mk_mv_bases(ghs)  # fact head: commit 2
    ghs.sql("UPDATE fact SET amt = amt + 1 WHERE ok = 1")     # commit 3
    ghs.sql("DELETE FROM fact WHERE ok = 2")                  # commit 4

    def iso(cid):
        wt = ghs.tables["fact"].timeline.at(cid).wall_time
        return dt.datetime.fromtimestamp(
            wt, dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")

    got = {(r.ok, r._change_type) for r in ghs.sql(
        f"SELECT ok, _change_type FROM table_changes('fact', '{iso(2)}')"
    ).collect()}
    assert got == {(1, "update_preimage"), (1, "update_postimage"),
                   (2, "delete")}
    got = {(r.ok, r._change_type) for r in ghs.sql(
        f"SELECT ok, _change_type FROM table_changes('fact', 2, "
        f"'{iso(3)}')").collect()}
    assert got == {(1, "update_preimage"), (1, "update_postimage")}
    with pytest.raises(ValueError, match="at or before"):
        ghs.sql("SELECT * FROM table_changes('fact', '1999-01-01')")


def test_mview_joinagg_lifecycle(ghs):
    """Aggregate-over-join MV (round 13, MaterializedJoinAgg): group
    columns come from the DIM side, both feeds absorb in one refresh
    (fact churn + dim group rename), INNER semantics drop facts whose
    dim row is gone, and the state equals a from-scratch GROUP BY over
    the join."""
    _mk_mv_bases(ghs)
    ghs.sql("""
        CREATE MATERIALIZED VIEW seg_rev AS
            SELECT name, COUNT(*) AS cnt, SUM(amt) AS total
            FROM fact JOIN dim ON fact.ck = dim.ck
            GROUP BY name
    """)
    got = {(r.name, r.cnt, str(r.total))
           for r in ghs.sql("SELECT * FROM seg_rev").collect()}
    assert got == {("ten", 2, "12.000000"), ("twenty", 1, "6.000000")}
    # mixed window: fact insert + delete AND a dim group rename
    ghs.sql("""
        INSERT INTO fact VALUES (4,20,4.0);
        DELETE FROM fact WHERE ok = 1;
        UPDATE dim SET name = 'TEN' WHERE ck = 10;
        REFRESH MATERIALIZED VIEW seg_rev
    """)
    got = {(r.name, r.cnt, str(r.total))
           for r in ghs.sql("SELECT * FROM seg_rev").collect()}
    assert got == {("TEN", 1, "7.000000"), ("twenty", 2, "10.000000")}
    # dim delete: INNER semantics — ck 20's facts leave the view
    ghs.sql("DELETE FROM dim WHERE ck = 20; "
            "REFRESH MATERIALIZED VIEW seg_rev")
    got = {(r.name, r.cnt, str(r.total))
           for r in ghs.sql("SELECT * FROM seg_rev").collect()}
    assert got == {("TEN", 1, "7.000000")}
    # incremental: state commits after the first are merges
    actions = [c.action for c in ghs.tables["seg_rev"].timeline.history()]
    assert actions[0] == "insert_overwrite"
    assert "insert_overwrite" not in actions[1:]
    # writes to the view are rejected; LEFT form is rejected
    with pytest.raises(ValueError, match="MATERIALIZED VIEW"):
        ghs.sql("INSERT INTO seg_rev VALUES ('x', 1, 1.0)")
    with pytest.raises(ValueError, match="INNER join only"):
        ghs.sql("CREATE MATERIALIZED VIEW bad AS "
                "SELECT name, COUNT(*) AS cnt, SUM(amt) AS total "
                "FROM fact LEFT JOIN dim ON fact.ck = dim.ck "
                "GROUP BY name")


def test_mview_joinagg_durable_reattach(ghs, spark, tmp_path):
    _mk_mv_bases(ghs)
    ghs.sql("CREATE MATERIALIZED VIEW seg2 AS "
            "SELECT name, COUNT(*) AS cnt, SUM(amt) AS total "
            "FROM fact JOIN dim USING (ck) GROUP BY name")
    g2 = GhsSql(spark, ghs.warehouse)
    assert g2._mv_specs["seg2"]["kind"] == "joinagg"
    g2.sql("INSERT INTO fact VALUES (9,10,3.0)")
    g2.sql("REFRESH MATERIALIZED VIEW seg2")
    got = {(r.name, str(r.total))
           for r in g2.sql("SELECT * FROM seg2").collect()}
    assert got == {("ten", "15.000000"), ("twenty", "6.000000")}
