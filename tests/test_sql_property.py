"""Property tests for the SQL text surface (``GhsSql``): statement
splitting and value roundtrips must survive adversarial strings —
semicolons, quotes, doubled quotes, parens, newlines, unicode — because
WHERE/SET/VALUES text is handed verbatim to Spark and a mis-split
statement would execute WRONG SQL, not raise."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from glue_hudi_spark.sql import GhsSql, _split_top

# strings that stress the splitter: with Spark's C-style escaping any
# content is representable
_content = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_characters="\x00"),
    min_size=0, max_size=40)


def _sql_quote(s: str) -> str:
    # Spark SQL string literals are C-style escaped by default
    # (spark.sql.parser.escapedStringLiterals=false): backslash and the
    # quote itself must be escaped — the form a Spark SQL user writes
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


@given(parts=st.lists(_content, min_size=1, max_size=5))
@settings(max_examples=200, deadline=None)
def test_split_top_never_splits_inside_quotes(parts):
    """Join n quoted literals with ';' — the splitter must give exactly
    n statements back, each parsing to its own literal, regardless of
    what the literals contain (semicolons, parens, quotes...)."""
    stmts = [f"SELECT {_sql_quote(p)} AS v" for p in parts]
    got = _split_top(";".join(stmts), ";")
    assert len(got) == len(parts)
    for g, p in zip(got, parts):
        assert g.strip() == f"SELECT {_sql_quote(p)} AS v".strip()


# ---- end-to-end value roundtrip through INSERT → SELECT ----

_ids = st.from_regex(r"[a-z][a-z0-9_]{0,10}", fullmatch=True)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(vals=st.lists(
    st.tuples(st.integers(min_value=0, max_value=10**6), _content),
    min_size=1, max_size=4, unique_by=lambda t: t[0]))
def test_insert_select_roundtrips_arbitrary_strings(spark, tmp_path_factory,
                                                    vals):
    """Arbitrary text survives the SQL path byte-identically: VALUES
    literals (Spark-escaped) → upsert → SELECT, and an UPDATE SET of
    each value (reversed) → SELECT."""
    wh = tmp_path_factory.mktemp("sqlprop")
    g = GhsSql(spark, wh)
    g.sql("CREATE TABLE rt (id INT, s STRING) USING ghs_table "
          "TBLPROPERTIES ('primaryKey'='id')")
    values = ", ".join(f"({i}, {_sql_quote(s)})" for i, s in vals)
    g.sql(f"INSERT INTO rt VALUES {values}")
    got = {r["id"]: r["s"] for r in g.sql("SELECT * FROM rt").collect()}
    assert got == dict(vals)
    for i, s in vals:
        g.sql(f"UPDATE rt SET s = {_sql_quote(s[::-1])} WHERE id = {i}")
    got = {r["id"]: r["s"] for r in g.sql("SELECT * FROM rt").collect()}
    assert got == {i: s[::-1] for i, s in vals}


# ---- prune-derivation soundness: pruned DELETE ≡ plain filter ----

_ops = st.sampled_from(["<", "<=", "=", ">", ">="])
_cols = st.sampled_from(["b", "v"])
_ints = st.integers(min_value=-5, max_value=105)
# three bound-contributing term shapes: comparison, BETWEEN (including
# empty/inverted ranges), IN lists — each must prune soundly or not at
# all, never change which rows a DELETE removes
_term = st.one_of(
    st.tuples(_cols, _ops, _ints).map(lambda t: f"{t[0]} {t[1]} {t[2]}"),
    st.tuples(_cols, _ints, _ints).map(
        lambda t: f"{t[0]} BETWEEN {t[1]} AND {t[2]}"),
    st.tuples(_cols, st.lists(_ints, min_size=1, max_size=4)).map(
        lambda t: f"{t[0]} IN ({', '.join(map(str, t[1]))})"),
)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(terms=st.lists(_term, min_size=1, max_size=3))
def test_derived_prune_never_changes_delete_semantics(spark,
                                                      tmp_path_factory,
                                                      terms):
    """DELETE through GhsSql (WHERE-derived manifest pruning) must keep
    exactly the rows a plain DataFrame filter keeps, for arbitrary
    conjunctions over stats-indexed and un-indexed columns — including
    bounds outside the data range (whole-table prune / no-op prune)."""
    from pyspark.sql import functions as F

    from glue_hudi_spark.storage.native import NativeTable

    wh = tmp_path_factory.mktemp("prprop")
    t = NativeTable(spark, wh / "t", record_keys=["id"],
                    stats_cols=["b"], sort_order=["b"],
                    files_per_partition=4)
    data = spark.range(200).select(
        F.col("id"), (F.col("id") % 100).alias("b"),
        ((F.col("id") * 7) % 50).alias("v"))
    t.bulk_insert(data)
    where = " AND ".join(terms)
    expected = sorted(
        r["id"] for r in data.filter(f"NOT ({where}) OR ({where}) IS NULL")
        .collect())
    g = GhsSql(spark, wh, tables={"t": t})
    g.sql(f"DELETE FROM t WHERE {where}")
    got = sorted(r["id"] for r in g.sql("SELECT id FROM t").collect())
    assert got == expected


# ---- transaction-machinery model check: random statement sequences ----

_txn_op = st.one_of(
    st.tuples(st.just("ins"), st.integers(0, 7), st.integers(0, 99)),
    st.tuples(st.just("del"), st.integers(0, 7)),
    st.just(("begin",)),
    st.just(("commit",)),
    st.just(("rollback",)),
    st.tuples(st.just("sp"), st.sampled_from(["a", "b"])),
    st.tuples(st.just("rbto"), st.sampled_from(["a", "b"])),
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ops=st.lists(_txn_op, min_size=2, max_size=10))
def test_transaction_machinery_matches_model(spark, tmp_path_factory,
                                             ops):
    """Random interleavings of writes, BEGIN/COMMIT/ROLLBACK and
    SAVEPOINT/ROLLBACK TO must leave the table exactly where a plain
    dict model says — including the abort rule: a statement ERROR
    while a transaction is open (nested BEGIN, ROLLBACK TO an unknown
    savepoint) rolls everything back to the BEGIN state."""
    wh = tmp_path_factory.mktemp("txnmodel")
    g = GhsSql(spark, wh)
    g.sql("CREATE TABLE t (id INT, v INT) USING ghs_table "
          "TBLPROPERTIES ('primaryKey'='id');"
          "INSERT INTO t VALUES (100, 0)")  # seed so DELETEs have prey

    state = {100: 0}          # committed/visible rows
    txn_base = None           # state copy at BEGIN (None = autocommit)
    sps: dict[str, dict] = {} # savepoint name -> state copy

    def abort_if_txn():
        nonlocal state, txn_base, sps
        if txn_base is not None:
            state = dict(txn_base)
            txn_base, sps = None, {}

    for op in ops:
        kind = op[0]
        try:
            if kind == "ins":
                g.sql(f"INSERT INTO t VALUES ({op[1]}, {op[2]})")
                state[op[1]] = op[2]
            elif kind == "del":
                g.sql(f"DELETE FROM t WHERE id = {op[1]}")
                state.pop(op[1], None)
            elif kind == "begin":
                g.sql("BEGIN")
                txn_base, sps = dict(state), {}
            elif kind == "commit":
                g.sql("COMMIT")
                txn_base, sps = None, {}
            elif kind == "rollback":
                g.sql("ROLLBACK")
                state, txn_base, sps = dict(txn_base), None, {}
            elif kind == "sp":
                g.sql(f"SAVEPOINT {op[1]}")
                # re-declare moves the savepoint: drop + append
                sps.pop(op[1], None)
                sps[op[1]] = dict(state)
            elif kind == "rbto":
                g.sql(f"ROLLBACK TO {op[1]}")
                state = dict(sps[op[1]])
                names = list(sps)
                for later in names[names.index(op[1]) + 1:]:
                    del sps[later]
        except ValueError:
            # a statement error inside an open transaction aborts it
            # (the model mirrors _one's rollback-on-error contract);
            # outside a transaction it's a plain no-op failure
            abort_if_txn()
    got = {r["id"]: r["v"]
           for r in g.sql("SELECT id, v FROM t").collect()}
    assert got == state, (ops, got, state)


# ---- string-typed prune columns (r11 verdict #8): literals carrying
# quotes/escapes/AND/BETWEEN inside their values must never corrupt the
# WHERE-derived prune bounds — pruned DELETE ≡ plain filter, always

_adv_strings = [
    "a'b", 'q"t', "x AND y", "BETWEEN", "z`d", "back\\slash", "",
    "plain", "IN (1,2)", "O''Hara", "%wild_", "semi;colon", "ñ—µ",
    "a AND b BETWEEN 'c' AND 'd'",
]
_str_lits = st.sampled_from(_adv_strings)
_sops = st.sampled_from(["<", "<=", "=", ">", ">="])
_sterm = st.one_of(
    st.tuples(_sops, _str_lits).map(
        lambda t: f"s {t[0]} {_sql_quote(t[1])}"),
    st.tuples(_str_lits, _str_lits).map(
        lambda t: f"s BETWEEN {_sql_quote(t[0])} AND {_sql_quote(t[1])}"),
    st.lists(_str_lits, min_size=1, max_size=3).map(
        lambda xs: f"s IN ({', '.join(_sql_quote(x) for x in xs)})"),
)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(terms=st.lists(st.one_of(_term, _sterm), min_size=1, max_size=3))
def test_string_prune_never_changes_delete_semantics(spark,
                                                     tmp_path_factory,
                                                     terms):
    """Same contract as the int-typed property, with ``s`` a
    stats-indexed STRING column whose values and whose predicate
    literals contain quotes, escapes, doubled quotes, and embedded
    AND/BETWEEN/IN keywords. Only Catalyst's plan derives the prune
    bounds, so literal contents never act as keywords (and parquet
    footer string stats stay prune-only — soundness, never served as
    answers)."""
    from pyspark.sql import functions as F  # noqa: F401

    from glue_hudi_spark.storage.native import NativeTable

    wh = tmp_path_factory.mktemp("sprprop")
    t = NativeTable(spark, wh / "t", record_keys=["id"],
                    stats_cols=["b", "s"], sort_order=["b"],
                    files_per_partition=4)
    rows = [(i, i % 100, _adv_strings[i % len(_adv_strings)], (i * 7) % 50)
            for i in range(200)]
    data = spark.createDataFrame(rows, "id long, b long, s string, v long")
    t.bulk_insert(data)
    where = " AND ".join(terms)
    expected = sorted(
        r["id"] for r in data.filter(f"NOT ({where}) OR ({where}) IS NULL")
        .collect())
    g = GhsSql(spark, wh, tables={"t": t})
    g.sql(f"DELETE FROM t WHERE {where}")
    got = sorted(r["id"] for r in g.sql("SELECT id FROM t").collect())
    assert got == expected
