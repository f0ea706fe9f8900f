"""SQL text entry point for the native table format: ``GhsSql`` routes
the handful of DDL/DML forms a lakehouse user writes by hand —
``CREATE TABLE ... USING ghs_table``, ``INSERT INTO``, ``INSERT
OVERWRITE``, ``UPDATE``, ``DELETE FROM``, ``MERGE INTO``, ``ALTER TABLE
ADD COLUMN``, ``DROP TABLE`` — to the corresponding ``NativeTable``
calls, and passes reads (``SELECT``/``WITH``/``VALUES``) through
``spark.sql`` with every registered table visible as a temp view.

This generalizes the reference's one SQL entry (the window-dedup query
built as text and run via ``spark.sql``, processData.py:317-327) into a
full DDL/DML surface: Spark's own Python DataSource API is read-only
(``sources/datasource.py`` raises on ``writer()`` by API design), so a
SQL-only user previously had no write path at all.

Every statement of Spark's grammar — reads, DML, ALTER TABLE, TRUNCATE,
CREATE TABLE (and CTAS), CREATE [MATERIALIZED] VIEW, EXPLAIN, the SHOW
and DESCRIBE forms, ANALYZE, [UN]CACHE TABLE and DROP TABLE|VIEW — is
parsed by Spark's own parser (``sqlParser().parsePlan``; no Spark job)
and dispatched on the node it returns. Column types, DEFAULTs,
PARTITIONED BY, LOCATION and TBLPROPERTIES come from the parsed CREATE;
a materialized view's shape is read from its parsed query. WHERE
predicates, SET right-hand sides, MERGE clause conditions and source
queries reach ``F.expr`` / ``spark.sql`` as their exact source text,
sliced by the nodes' spans, so the full Spark SQL expression language
works everywhere an expression can appear and a string literal is never
read as syntax. The relations a read names (CTE bodies and subqueries
included) decide time travel, view replanning and DROP guards; its
table-valued function nodes bind the engine's TVFs from their literal
arguments. Only the engine's own grammar, which Spark rejects, is
matched by anchored regexes: index DDL and SHOW INDEXES, REFRESH / DROP
/ SHOW MATERIALIZED VIEW(S), SHALLOW CLONE, DESCRIBE HISTORY|DETAIL
(Spark reads those as a column description), RESTORE, COPY INTO,
OPTIMIZE, VACUUM and the transaction statements; ``;`` splits the text
into statements. File prune bounds are read back from Catalyst's
optimized plan (``NativeTable.scan_bounds`` for reads,
``NativeTable._cond_bounds`` for WHERE texts), never from the text.
Scale shape: each form lands on the same pruned/indexed NativeTable
paths the Python API uses (a SQL ``DELETE ... WHERE`` is
``delete_where``); the dispatcher adds zero driver-side data movement.

Table-shape options ride Hudi's spark-sql CREATE TABLE convention
(TBLPROPERTIES ``primaryKey``, ``preCombineField``, ``type``='cow|mor'
— the names the reference's write config emits, processData.py:64-78),
plus this engine's extensions (``partitionKeys`` via PARTITIONED BY,
``statsCols``, ``bloomIndex``, ...).

Beyond single statements the dispatcher carries: multi-table
transactions (``BEGIN``/``COMMIT``/``ROLLBACK`` with ``SAVEPOINT`` /
``ROLLBACK TO`` / ``RELEASE`` nesting), materialized views bound to the
incremental-maintenance machinery (``CREATE/REFRESH/DROP MATERIALIZED
VIEW``; ``'refresh'='auto'`` for eager per-statement maintenance,
``'refresh'='commit:N'`` for deferred every-Nth-commit batching),
Delta-parity history reads (``VERSION/TIMESTAMP AS OF``,
``table_changes('t', from [, to])``), ``COPY INTO`` bookmarked file
ingestion, ``CREATE TABLE ... SHALLOW CLONE``, ``RESTORE TABLE``,
partition-scoped ``OPTIMIZE ... WHERE``, a metadata-only
``SELECT COUNT(*)`` fast path, and ``EXPLAIN`` prefixed with the
manifest-level file-prune decision Spark's plan can't show.
"""

from __future__ import annotations

import json
import re
from contextlib import contextmanager
from pathlib import Path

from pyspark.errors import ParseException
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from glue_hudi_spark.storage.native import NativeTable

_IDENT = r"[A-Za-z_][A-Za-z0-9_]*|`[^`]+`"


class TxnConflictError(RuntimeError):
    """A foreign writer's commit landed on a table while this session
    held an open BEGIN..COMMIT — the transaction's OCC head-check
    failed. The open transaction is aborted; NOTHING was restored
    (a ROLLBACK restore_to would delete the foreign commit)."""


def _unq(name: str) -> str:
    name = name.strip()
    return name[1:-1] if name.startswith("`") else name


def _stable_token(text: str) -> str:
    """Deterministic 8-hex token for temp-view names derived from TVF
    argument text (hash() is process-seeded — names must be stable so
    repeated statements rebind the same view instead of leaking one
    per call)."""
    import hashlib

    return hashlib.md5(text.encode()).hexdigest()[:8]


def _split_top(text: str, sep: str = ";") -> list[str]:
    """Split on ``sep`` at paren/quote depth 0 (the statements of a
    script). A ``--`` comment outside quotes is dropped to the end of its
    line; inside a literal or identifier it is text."""
    parts, depth, cur, i, q = [], 0, [], 0, None
    while i < len(text):
        ch = text[i]
        if q:
            cur.append(ch)
            if ch == "\\" and q != "`" and i + 1 < len(text):
                # Spark string literals are C-style escaped: \' \\ etc.
                # — the escaped char must not close the quote
                cur.append(text[i + 1])
                i += 1
            elif ch == q and not (i + 1 < len(text) and text[i + 1] == q):
                q = None
            elif ch == q:
                cur.append(text[i + 1])
                i += 1
        elif ch in "'\"`":
            q = ch
            cur.append(ch)
        elif text.startswith("--", i):
            i = text.find("\n", i)
            if i < 0:
                break
            continue
        elif ch in "([":
            depth += 1
            cur.append(ch)
        elif ch in ")]":
            depth -= 1
            cur.append(ch)
        elif ch == sep and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
        i += 1
    tail = "".join(cur).strip()
    if tail:
        parts.append(tail)
    return parts


# ------------------------------------------- Spark's parsed plan (py4j)


def _seq(s) -> list:
    """A Scala ``Seq`` from the JVM as a list."""
    return [s.apply(i) for i in range(s.size())]


def _kind(node) -> str:
    return node.getClass().getSimpleName()


def _span(node) -> tuple[int, int]:
    """``[start, stop)`` of the text a parsed node came from."""
    o = node.origin()
    return o.startIndex().get(), o.stopIndex().get() + 1


def _splice(s: str, a: int, b: int, subs=()) -> str:
    """``s[a:b]``, each disjoint ``(start, stop, text)`` inside replaced."""
    out = []
    for x, y, r in sorted(subs):
        if a <= x and y <= b:
            out += [s[a:x], r]
            a = y
    return "".join(out) + s[a:b]


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _start(s: str, expr) -> int:
    """Where the text of a parsed expression starts. A predicate (BETWEEN,
    IN, LIKE, IS NULL, ...) spans from its keyword, so it starts where
    its value operand does, parentheses around that operand included."""
    a, kids = _span(expr)[0], _seq(expr.children())
    k = _start(s, kids[0]) if kids else a
    if k >= a:
        return a
    for _ in range(s.count(")", _span(kids[0])[1], a)):
        k = s.rindex("(", 0, k)
    return k


def _rewrite(s: str, expr, rename=lambda parts: None) -> str:
    """The exact source text of the parsed expression ``expr``, each
    column reference whose name parts ``rename`` maps to a text replaced
    by it. Only references are touched: a string literal that looks like
    one stays as written, and a lambda variable is its own node kind."""
    subs, stack = [], [expr]
    while stack:
        e = stack.pop()
        stack += _seq(e.children())
        if _kind(e) == "UnresolvedAttribute":
            subs.append((*_span(e), rename(_seq(e.nameParts()))))
    return _splice(s, _start(s, expr), _span(expr)[1],
                   [x for x in subs if x[2] is not None])


_TVF = "UnresolvedTableValuedFunction"
_READS = ("SELECT", "WITH", "VALUES", "TABLE")  # head keywords of a query


def _relations(plan) -> list:
    """The ``UnresolvedRelation``, ``RelationTimeTravel`` and table-valued
    function nodes of a parsed query: under its children, its subquery
    expressions (``IN``, ``EXISTS``, scalar) and its CTE bodies, which
    only ``UnresolvedWith.cteRelations`` reaches."""
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        if _kind(node) in ("UnresolvedRelation", "RelationTimeTravel", _TVF):
            out.append(node)
            continue
        stack += _seq(node.children()) + _seq(node.subqueries())
        if _kind(node) == "UnresolvedWith":
            stack += [c._2() for c in _seq(node.cteRelations())]
    return out


def _rel_name(node) -> str:
    """The table a relation, alias, time-travel node or statement target
    names, dotted."""
    while _kind(node) not in ("UnresolvedRelation", "UnresolvedTable",
                              "UnresolvedTableOrView",
                              "UnresolvedIdentifier"):
        node = (node.relation() if _kind(node) == "RelationTimeTravel"
                else node.children().apply(0))
    return ".".join(_seq(node.nameParts()
                         if _kind(node) == "UnresolvedIdentifier"
                         else node.multipartIdentifier()))


def _refs(plan) -> set[str]:
    """Lower-cased names of all a parsed query reads (CTE names too),
    the tables and views an engine TVF call reads included."""
    out = set()
    for r in _relations(plan):
        if _kind(r) != _TVF:
            out.add(_rel_name(r).lower())
        elif (call := _tvf_call(r)) is not None:
            out |= {_unq(v).lower() for k, v in call[1].items()
                    if k in _TVF_SOURCES and v}
    return out


# The engine's read TVFs, each bound as a deterministic temp view plain
# SQL composes over (WHERE/JOIN), from its literal arguments: name ->
# parameters as (name, literal type[, default]). An optional parameter
# the next argument's type does not fit takes its default, so
# ``dedup_probe('t', 'b', 'allow_stale')`` skips the threshold.
_TVFS = {
    "table_changes": (("name", str), ("start", (int, str)),
                      ("end", (int, str), None)),
    "time_bucket_gapfill": (("src", str), ("unit", str), ("ts", str),
                            ("keys", str), ("aggs", str), ("opts", str, "")),
    "lttb": (("src", str), ("ts", str), ("val", str), ("n", int),
             ("keys", str, ""), ("pack", int, None)),
    "dedup_probe": (("tbl", str), ("batch", str),
                    ("thr", (int, float), 0.5), ("opts", str, "")),
    "vector_search": (("tbl", str), ("q", str), ("k", int, 10),
                      ("nprobe", int, 1), ("col", str, None)),
}
#: the TVF parameters that name a table or view the call reads
_TVF_SOURCES = ("name", "src", "tbl", "batch", "q")


def _tvf_call(node) -> tuple[str, dict] | None:
    """``(name, {parameter: value})`` of a parsed engine TVF call, bound
    from its literal arguments; None for one of Spark's own TVFs."""
    fn = ".".join(_seq(node.name())).lower()
    if fn not in _TVFS:
        return None
    sig = _TVFS[fn]
    given = [_literal(x) for x in _seq(node.functionArgs())]
    vals, kw = list(given), {}
    for name, typ, *default in sig:
        if vals and isinstance(vals[0], typ):
            kw[name] = vals.pop(0)
        elif default:
            kw[name] = default[0]
    if vals or len(kw) < len(sig):
        params = ", ".join(p[0] + "?" * (len(p) > 2) for p in sig)
        raise ValueError(f"ghs.sql: {fn}: cannot bind arguments "
                         f"{given} to {fn}({params})")
    return fn, kw


def _query_start(s: str, plan) -> int:
    """Where the text of the parsed query ``plan`` starts in ``s``: at its
    leftmost node (a query root can span only its last clause, ORDER BY
    or LIMIT), widened over the parentheses opened before it."""
    a, stack = len(s), [plan]
    while stack:
        node = stack.pop()
        stack += _seq(node.children())
        if node.origin().startIndex().isDefined():
            a = min(a, node.origin().startIndex().get())
    while s[:a].rstrip().endswith("("):
        a = len(s[:a].rstrip()) - 1
    return a


def _props(m) -> dict[str, str]:
    """A parsed ``TBLPROPERTIES`` map (Scala) as a dict."""
    it, out = m.iterator(), {}
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2()
    return out


def _literal(e):
    """The Python value of a parsed string or number literal (a decimal
    one as float)."""
    tn = e.dataType().typeName() if _kind(e) == "Literal" else ""
    if tn == "string" or tn.startswith("decimal"):
        v = e.value().toString()
        return v if tn == "string" else float(v)
    if tn in ("integer", "long", "double"):
        return e.value()
    raise ValueError(f"ghs.sql: table-valued function arguments are "
                     f"string or number literals (got {e.toString()!r})")


def _call(e) -> tuple[str, list] | None:
    """``(lower-cased name, arguments)`` of a parsed plain function call
    (no DISTINCT, no FILTER), else None."""
    if _kind(e) != "UnresolvedFunction" or e.isDistinct() or \
            e.filter().isDefined():
        return None
    return ".".join(_seq(e.nameParts())).lower(), _seq(e.arguments())


def _column(e) -> str | None:
    """The name of a one-part column reference, else None."""
    if _kind(e) == "UnresolvedAttribute" and e.nameParts().size() == 1:
        return e.nameParts().head()
    return None


class GhsSql:
    """Dispatches SQL text to NativeTable calls. One instance holds a
    name → NativeTable registry: ``CREATE TABLE`` adds entries (files
    land under ``warehouse/<name>`` unless LOCATION is given), and
    pre-built handles attach via ``tables=`` or :meth:`register`."""

    def __init__(self, spark: SparkSession, warehouse: str | Path,
                 tables: dict[str, NativeTable] | None = None):
        self.spark = spark
        self.warehouse = Path(warehouse)
        self.tables: dict[str, NativeTable] = {}
        # durable catalog: CREATE TABLE persists each table's config as
        # <root>/_table.json (NativeTable.save_properties), so a fresh
        # GhsSql over the same warehouse re-attaches every table — SQL
        # state survives the session. Explicit handles override.
        if self.warehouse.is_dir():
            for d in sorted(self.warehouse.iterdir()):
                if (d / "_table.json").is_file():
                    self.tables[d.name] = NativeTable.open(spark, d)
        self.tables.update(tables or {})
        # materialized views: name -> MaterializedAgg / MaterializedJoin /
        # MaterializedJoinAgg
        # (the state NativeTable is ALSO registered in self.tables so
        # reads/DESCRIBE/BEGIN-snapshots see it; write statements are
        # guarded by _target). Durable like tables: the definition
        # persists as <state-root>/_mview.json and re-attaches here —
        # second pass, since an MV's bases must already be registered.
        self.mviews: dict[str, object] = {}
        self._mv_specs: dict[str, dict] = {}
        if self.warehouse.is_dir():
            for d in sorted(self.warehouse.iterdir()):
                f = d / "_mview.json"
                if f.is_file() and d.name not in self.tables:
                    spec = json.loads(f.read_text())
                    bases = ([spec.get("base")] if spec["kind"] == "agg"
                             else [spec.get("fact"), spec.get("dim")])
                    if all(b in self.tables for b in bases):
                        self._attach_mview(d.name, spec)
        # name -> (commit_id, wall_time) of the head the bound temp view
        # reflects; _with_views skips re-binding when unchanged, so a
        # multi-statement session pays one snapshot-plan build per table
        # per WRITE, not per statement. wall_time disambiguates a
        # restore_to + republish that reuses a commit id.
        self._view_cache: dict[str, tuple] = {}
        # open transaction: name -> head commit id at BEGIN (0 = table
        # had no commits), plus the set of tables CREATEd inside the
        # transaction (rolled back by deregistration/removal). None =
        # autocommit. See _begin/_commit_txn/_rollback.
        self._txn: dict[str, int] | None = None
        self._txn_created: set[str] = set()
        # OCC writer identity: every commit published while one of THIS
        # session's statements executes is stamped with this tag
        # (storage.commits.WRITER_TAG). COMMIT/ROLLBACK/ROLLBACK TO walk
        # each BEGIN-snapshot table's commits past its recorded head and
        # verify every one carries the tag — an untagged/foreign commit
        # means a concurrent writer interleaved and restore_to would
        # clobber it; the transaction aborts with TxnConflictError.
        import uuid

        self._writer_tag = uuid.uuid4().hex[:12]
        # name -> (heads-at-savepoint, created-at-savepoint); insertion
        # order = declaration order (ROLLBACK TO discards later ones)
        self._txn_savepoints: dict[str, tuple] = {}
        # name -> constraints list at BEGIN (restored on rollback —
        # constraints persist in _table.json outside the commit protocol)
        self._txn_constraints: dict[str, list] = {}
        # stored (non-materialized) views: name -> SELECT text, planned
        # fresh at every bind so they always read the CURRENT snapshot
        # of their base tables; durable as <warehouse>/_views.json.
        # Insertion order = creation order, so a view may reference
        # earlier views.
        self.views: dict[str, str] = {}
        vf = self.warehouse / "_views.json"
        if vf.is_file():
            self.views = dict(json.loads(vf.read_text()))
        self._txn_views: dict[str, str] | None = None
        # view names whose binding must be (re)built at the next
        # _with_views — newly created, or restored by a rollback
        self._views_pending: set[str] = set(self.views)
        # CACHE TABLE: name -> the persisted snapshot DataFrame. Session
        # state only (Spark's own CACHE TABLE semantics); _with_views
        # releases an entry when the table's head moves, so a write
        # invalidates the cache instead of serving a stale snapshot.
        self._cached: dict[str, DataFrame] = {}

    def register(self, name: str, table: NativeTable) -> None:
        if name in self.tables:
            # re-binding a live name: release the old table's CACHE
            # TABLE pin and drop its view-cache key — a coincidental
            # (commit_id, wall_time) match on the NEW table would
            # otherwise keep serving the old table's pinned snapshot
            self._release_cache(name)
            self._view_cache.pop(name, None)
        self.tables[name] = table

    # ------------------------------------------------------------- entry

    def sql(self, text: str) -> DataFrame | None:
        """Execute one statement (or several, ``;``-separated, in
        order). Returns the last statement's DataFrame for reads, None
        for DDL/DML."""
        from glue_hudi_spark.storage.commits import WRITER_TAG

        out = None
        for stmt in _split_top(text):
            if stmt.strip():
                token = WRITER_TAG.set(self._writer_tag)
                try:
                    out = self._one(stmt.strip())
                except Exception as exc:
                    if self._txn is not None:
                        # all-or-nothing inside an explicit transaction:
                        # a failing statement aborts the whole thing (the
                        # BEGIN; ...; COMMIT batch form has no way to
                        # handle the error mid-flight)
                        try:
                            self._rollback()
                        except TxnConflictError as conflict:
                            # a foreign commit blocks the abort-path
                            # restore too: surface BOTH facts — chain
                            # the conflict from the statement's own
                            # error, and flag that the failed
                            # statement's partial commits stay durable
                            # (the documented all-or-nothing restore
                            # could not run)
                            raise TxnConflictError(
                                f"{conflict} — raised while aborting a "
                                f"failed statement ({exc!r}); that "
                                "statement's partially-applied commits "
                                "remain durable (no table restored)"
                            ) from exc
                    raise
                finally:
                    WRITER_TAG.reset(token)
        return out

    @contextmanager
    def tagged_writes(self):
        """Opt a Python-API write INTO this session's transaction:
        commits published inside the block carry the session's writer
        tag, so the OCC ownership check treats them as the
        transaction's own (restorable by ROLLBACK) instead of a foreign
        writer's (protected — ROLLBACK aborts with TxnConflictError
        rather than clobber them). The mixed SQL+Python-API shape
        ``register()`` exists for, made explicit."""
        from glue_hudi_spark.storage.commits import WRITER_TAG

        token = WRITER_TAG.set(self._writer_tag)
        try:
            yield
        finally:
            WRITER_TAG.reset(token)

    def _clear_txn_state(self) -> None:
        self._txn, self._txn_created = None, set()
        self._txn_savepoints = {}
        self._txn_constraints = {}
        self._txn_views = None

    def _occ_check(self, op: str) -> None:
        """OCC ownership check (multi-writer honesty): BEGIN..COMMIT
        holds no locks, so a foreign writer's commit landing anywhere
        inside the transaction would be silently deleted by ROLLBACK's
        ``restore_to``. Before COMMIT / ROLLBACK / ROLLBACK TO act, walk
        each BEGIN-snapshot table's commits past its recorded head:
        every one must carry THIS session's writer tag (stamped by
        ``storage.commits.WRITER_TAG`` around every statement). An
        untagged or other-tagged commit observed at check time — the
        timeline is lock-free, so a foreign commit landing AFTER this
        walk but before the restore completes is inherently racy;
        ``_restore_heads`` re-verifies per table immediately before
        each ``restore_to`` to shrink (not close) that window — aborts
        the transaction: state is cleared, NO table is restored (the
        only safe choice — this session's statements are already durable
        per-statement commits, and restoring would destroy the foreign
        writer's), and TxnConflictError names the conflicts. Tables
        ``register()``ed mid-transaction are outside the BEGIN snapshot:
        they are neither checked nor restored (documented scope — the
        transaction protects the tables it began with). A session's own
        partial commits from a statement that failed MID-statement stay
        tagged, so the all-or-nothing error rollback still restores
        them."""
        if self._txn is None:
            return
        dirty = []
        for name, saved in self._txn.items():
            t = self.tables.get(name)
            if t is None:
                continue
            # history(since=saved) skips the pre-BEGIN prefix by
            # filename — O(txn commits) manifest parses, not O(retained)
            for c in t.timeline.history(since=saved):
                tag = c.stats.get("writer")
                if tag != self._writer_tag:
                    dirty.append(
                        f"{name} (commit {c.commit_id} by "
                        f"{'untagged writer' if not tag else tag!r})")
        if dirty:
            self._clear_txn_state()
            raise TxnConflictError(
                f"ghs.sql: {op} aborted — concurrent writer detected on "
                f"{', '.join(dirty)}; transaction state discarded, no "
                "table restored (this session's statements remain as "
                "ordinary commits; the foreign commit is preserved)")

    def _one(self, s: str) -> DataFrame | None:
        head = s.split(None, 2)[0].upper() if s.split() else ""
        if head == "BEGIN" or (head == "START"
                               and s.upper().split()[:2]
                               == ["START", "TRANSACTION"]):
            return self._begin(s)
        if head == "ROLLBACK":
            self._require_txn("ROLLBACK")
            rm = self._ROLLBACK_TO.match(s)
            if rm:
                return self._rollback_to(_unq(rm.group("name")))
            if s.upper().split() not in (["ROLLBACK"],
                                         ["ROLLBACK", "TRANSACTION"]):
                raise ValueError(
                    f"ghs.sql: cannot parse {s[:60]!r} — use ROLLBACK "
                    "[TRANSACTION] or ROLLBACK TO [SAVEPOINT] name")
            return self._rollback()
        if self._txn is not None and head in ("DROP", "VACUUM"):
            raise ValueError(
                f"ghs.sql: {head} is not allowed inside a transaction — "
                "it deletes files restore cannot bring back (COMMIT or "
                "ROLLBACK first)")
        if self._txn is not None and head == "COPY":
            raise ValueError(
                "ghs.sql: COPY INTO is not allowed inside a transaction "
                "— its processed-file ledger commits outside the table "
                "protocol, so a rolled-back transaction would strand "
                "the batch as 'already loaded' (COMMIT or ROLLBACK "
                "first; COPY is itself idempotent)")
        handler = {
            "COMMIT": self._commit_txn, "SAVEPOINT": self._savepoint,
            "RELEASE": self._release_savepoint, "REFRESH": self._refresh_mv,
            "OPTIMIZE": self._optimize, "VACUUM": self._vacuum,
            "COPY": self._copy_into, "RESTORE": self._restore,
            **dict.fromkeys(_READS, self._read),
            **dict.fromkeys((
                "INSERT", "UPDATE", "DELETE", "MERGE", "ALTER", "TRUNCATE",
                "CREATE", "DROP", "SHOW", "DESCRIBE", "DESC", "EXPLAIN",
                "ANALYZE", "CACHE", "UNCACHE"), self._parsed),
        }.get(head)
        if handler is not None:
            return handler(s)
        raise ValueError(f"ghs.sql: unsupported statement: {s[:80]!r}")

    def _parsed(self, s: str) -> DataFrame | None:
        """A statement of Spark's grammar, dispatched on the node Spark's
        parser returns. The engine's own forms that share its head
        keyword match first: Spark rejects them, or reads ``DESCRIBE
        HISTORY|DETAIL t`` as a description of column ``t``."""
        for rx, fn in ((self._CREATE_INDEX, self._create_index),
                       (self._CREATE_CLONE, self._create_clone),
                       (self._DROP_INDEX, self._drop_index),
                       (self._DROP_MVIEW, self._drop_mview),
                       (self._SHOW_INDEXES, self._show_indexes),
                       (self._DESCRIBE_LOG, self._describe_log)):
            m = rx.match(s)
            if m:
                return fn(m)
        if s.upper().split() == ["SHOW", "MATERIALIZED", "VIEWS"]:
            return self._show_mviews()
        node = self._parse(s)
        handler = {
            **dict.fromkeys((
                "InsertIntoStatement", "UpdateTable", "DeleteFromTable",
                "MergeIntoTable", "AddColumns", "RenameColumn",
                "DropColumns", "AddCheckConstraint", "TruncateTable"),
                self._dml),
            **dict.fromkeys(("CreateTable", "CreateTableAsSelect"),
                            self._create_table),
            "CreateView": self._create_view,
            "CreateMaterializedViewAsSelect": self._create_mview,
            "ExplainCommand": self._explain,
            **dict.fromkeys((
                "ShowCreateTable", "ShowPartitions", "ShowTableProperties",
                "ShowTables", "ShowViews"), self._show),
            "DescribeRelation": self._describe,
            **dict.fromkeys(("AnalyzeTable", "AnalyzeColumn"),
                            self._analyze),
            "CacheTable": self._cache_table,
            "UncacheTable": self._uncache_table,
            **dict.fromkeys(("DropTable", "DropView"), self._drop),
        }.get(_kind(node))
        if handler is None:
            raise ValueError(
                self._ALTERS if s[:5].upper() == "ALTER"
                else f"ghs.sql: unsupported statement: {s[:80]!r}")
        return handler(s, node)

    # ------------------------------------------------------------- helpers

    def _table(self, name: str) -> NativeTable:
        t = self.tables.get(_unq(name))
        if t is None:
            raise ValueError(
                f"ghs.sql: unknown table {name!r} — CREATE it with USING "
                f"ghs_table or attach a handle via register()")
        return t

    def _target(self, name: str) -> NativeTable:
        """A table handle that a WRITE statement may target: resolves
        like :meth:`_table` but rejects materialized views — their
        state is derived; modify the base table(s) and ``REFRESH``."""
        if _unq(name) in self.mviews:
            raise ValueError(
                f"ghs.sql: {_unq(name)!r} is a MATERIALIZED VIEW — it is "
                "read-only (write to its base table(s), then REFRESH "
                f"MATERIALIZED VIEW {_unq(name)})")
        return self._table(name)

    def _release_cache(self, name: str) -> None:
        df = self._cached.pop(name, None)
        if df is not None:
            df.unpersist()

    def _with_views(self, plan) -> None:
        """Bind each registered table's head as its temp view, and
        replan the stored views that read a moved one; raise if the
        statement ``plan`` reads a stored view that fails to bind."""
        moved: set[str] = set()
        for name, t in self.tables.items():
            head = t.timeline.latest()
            if head is None:
                # an empty, never-written table has no snapshot yet —
                # readable as an empty relation would need a schema;
                # skip (the view appears after its first write). Drop
                # any stale view a pre-restore bind left behind.
                if self._view_cache.pop(name, None) is not None:
                    self.spark.catalog.dropTempView(name)
                self._release_cache(name)
                continue
            key = (head.commit_id, head.wall_time)
            if self._view_cache.get(name) == key:
                continue  # view already reflects the head manifest
            # a moved head invalidates a CACHE TABLE pin: release it
            # rather than serve the pre-write snapshot from memory
            self._release_cache(name)
            t.read_snapshot().createOrReplaceTempView(name)
            self._view_cache[name] = key
            moved.add(name)
        if not (self.views and (moved or self._views_pending)):
            return
        # (re)plan ONLY the stored views whose base tables (or upstream
        # views) moved: a temp view captures the plan at creation, so a
        # stale one would keep reading the OLD snapshot relation — but
        # replanning all V views on every head move is O(V) driver
        # analysis per statement for unrelated work. Transitive: a view
        # over a replanned view replans too (insertion order = creation
        # order, so upstream views precede their dependents).
        replanned = {n.lower() for n in moved}
        failed: dict[str, Exception] = {}
        for vname, q in self.views.items():
            vplan = self._parse(q)
            if vname in self._views_pending or _refs(vplan) & replanned:
                try:
                    self.spark.sql(self._bind(q, vplan)[0]
                                   ).createOrReplaceTempView(vname)
                except Exception as e:
                    # unbind it rather than serve the old plan, and
                    # replan it at every read until it binds: a view
                    # over a stale index's probe heals by REFRESH INDEX
                    self.spark.catalog.dropTempView(vname)
                    failed[vname] = e
                replanned.add(vname.lower())
        self._views_pending = set(failed)
        reads = _refs(plan)
        for vname, e in failed.items():
            if vname.lower() in reads:
                raise ValueError(
                    f"ghs.sql: stored view {vname!r} failed to bind "
                    f"against the current catalog ({e}) — DROP VIEW "
                    f"{vname} or restore its bases") from e

    def _parse(self, s: str):
        """Spark's own parse of ``s``: its unresolved plan, each node
        carrying its span of ``s``. No Spark job runs."""
        try:
            return self.spark._jsparkSession.sessionState().sqlParser() \
                .parsePlan(s)
        except ParseException as e:
            raise ValueError(
                f"ghs.sql: cannot parse {s[:80]!r}: "
                f"{str(e).strip().splitlines()[0]}") from e

    def _bind(self, s: str, plan, a: int = 0,
              b: int | None = None) -> tuple[str, set[str]]:
        """The text Spark runs for the query ``plan`` parsed from
        ``s[a:b]``, and the lower-cased names it reads at their heads.
        Time travel (Delta/Iceberg's ``t VERSION|TIMESTAMP AS OF x``) of
        a registered table binds a temp view over that snapshot (an
        O(manifest) lookup; the scan stays lazy/pruned), which replaces
        the text from the table's name to the clause's end; an engine
        TVF call binds its view (``_bind_tvf``), which replaces the
        call."""
        subs, names = [], set()
        for rel in _relations(plan):
            if _kind(rel) == _TVF:
                call = _tvf_call(rel)
                if call is not None:  # else one of Spark's own TVFs
                    subs.append(self._bind_tvf(s, rel, *call))
                continue
            name = _rel_name(rel)
            t = self.tables.get(name)
            if _kind(rel) == "UnresolvedRelation":
                names.add(name.lower())
                continue
            if t is None:
                continue  # a foreign name: Spark rejects or reads it
            v = rel.version()
            if v.isDefined():
                alias, df = f"{name}__v{v.get()}", t.read_snapshot(
                    as_of=int(v.get()))
            else:
                ts = _splice(s, *_span(rel.timestamp().get())).strip("'")
                alias, df = (f"{name}__t{re.sub('[^0-9]', '', ts)}",
                             t.read_snapshot(as_of_timestamp=ts))
            df.createOrReplaceTempView(alias)
            subs.append((_span(rel.relation())[0], _span(rel)[1], alias))
        return _splice(s, a, b or len(s), subs), names

    def _bind_tvf(self, s: str, node, fn: str,
                  kw: dict) -> tuple[int, int, str]:
        """Bind the engine TVF call ``node`` (of ``fn``, arguments ``kw``):
        the call's ``(start, stop)`` in ``s`` — its node spans a trailing
        alias too, so the call ends at the ``)`` after its last argument
        — and the name of the view bound for it."""
        a = _span(node)[0]
        b = s.index(")", _span(_seq(node.functionArgs())[-1])[1]) + 1
        return a, b, {
            "table_changes": self._table_changes,
            "time_bucket_gapfill": self._gapfill, "lttb": self._lttb,
            "dedup_probe": self._dedup_probe,
            "vector_search": self._vector_search,
        }[fn](s[a:b], **kw)

    def _table_changes(self, text: str, name: str, start, end) -> str:
        """Delta's CDC read TVF ``table_changes('t', from [, to])``: a
        view over the table's PER-VERSION change feed — Delta-CDF rows
        (_change_type ∈ insert/update_preimage/update_postimage/delete)
        with _commit_version and _commit_timestamp attribution, so a
        windowed/sessionized SQL read can rank a key's changes by commit.
        Bounds: FROM commit exclusive, TO commit inclusive (omitted TO =
        head); either bound may be an ISO-8601 timestamp string (Delta's
        timestamp form), resolved to the newest commit published at or
        before it. Planning is O(window versions) pruned manifest diffs;
        the corpus is never rescanned."""
        t = self.tables.get(name)
        if t is None:
            raise ValueError(
                f"ghs.sql: table_changes: unknown table {name!r}")

        def commit(bound, which: str) -> int:
            # a timestamp bound keeps the id form's alignment: FROM stays
            # exclusive of the commit (changes strictly after the
            # instant), TO inclusive
            if isinstance(bound, int):
                return bound
            c = t.timeline.at_timestamp(bound)
            if c is None:
                raise ValueError(
                    f"ghs.sql: table_changes: no retained commit of "
                    f"{name!r} at or before {bound!r} ({which} bound)")
            return c.commit_id

        a, head = commit(start, "FROM"), t.timeline.latest()
        if end is not None:
            b = commit(end, "TO")
        elif head is None:
            raise ValueError(
                f"ghs.sql: table_changes: {name!r} has no commits yet")
        else:
            b = head.commit_id
        alias = f"{name}__ch{a}_{b}"
        t.table_changes(a, b).createOrReplaceTempView(alias)
        return alias

    # TimescaleDB-shaped time-series TVFs (SURVEY §2.5 extension; the
    # reference's one SQL entry point, processData.py:317-327, set the
    # precedent that SQL is a first-class face of this engine). Both
    # bind the existing operators in operators/timeseries.py — the SQL
    # surface adds no second implementation:
    #
    #   time_bucket_gapfill('src', 'day', 'ts', 'k1,k2',
    #       'sum(value) AS day_value[; avg(x) AS m]'
    #       [, 'locf,interpolate,max_buckets=N'])
    #     -> dense per-key grid view: keys..., bucket, <name>...,
    #        is_gap, <name>_locf..., <name>_interp..., [_gf_clamped]
    #
    #   lttb('src', 'ts', 'value', n_out [, 'k1,k2' [, pack_buckets]])
    #     -> shape-preserving downsample view: keys..., ts, value
    #
    # 'src' is a registered table (read at head) or any bound view.
    # Options default to the operator defaults (locf on, interpolate
    # off, uncapped grid; lttb auto-sizes its pack buckets).
    _TS_AGG_ITEM = re.compile(
        rf"^(?P<expr>.+?)\s+AS\s+(?P<out>{_IDENT})\s*$",
        re.IGNORECASE | re.DOTALL)

    def _ts_source(self, who: str, name: str) -> DataFrame:
        t = self.tables.get(name)
        if t is not None:
            return t.read_snapshot()
        try:
            return self.spark.table(name)
        except Exception:
            raise ValueError(
                f"ghs.sql: {who}: unknown table or view {name!r}")

    def _gapfill(self, text: str, src: str, unit: str, ts: str, keys: str,
                 aggs: str, opts: str) -> str:
        from glue_hudi_spark.operators.timeseries import resample_gapfill

        values = {}
        for item in aggs.split(";"):
            am = self._TS_AGG_ITEM.match(item.strip())
            if not am:
                raise ValueError(
                    "ghs.sql: time_bucket_gapfill: each aggregate "
                    f"must be '<expr> AS <name>' (got {item!r}); "
                    "separate several with ';'")
            values[_unq(am.group("out"))] = F.expr(am.group("expr"))
        locf, interp, max_buckets = True, False, None
        for opt in opts.split(","):
            opt = opt.strip().lower()
            if not opt:
                continue
            if opt == "locf":
                locf = True
            elif opt == "nolocf":
                locf = False
            elif opt == "interpolate":
                interp = True
            elif opt.startswith("max_buckets="):
                max_buckets = int(opt.split("=", 1)[1])
            else:
                raise ValueError(
                    "ghs.sql: time_bucket_gapfill: unknown option "
                    f"{opt!r} (locf | nolocf | interpolate | "
                    "max_buckets=N)")
        out = resample_gapfill(
            self._ts_source("time_bucket_gapfill", src),
            keys=[k.strip() for k in keys.split(",") if k.strip()],
            ts_col=ts, values=values, unit=unit.lower(), locf=locf,
            interpolate=interp, max_buckets=max_buckets)
        alias = f"{src}__gf_{_stable_token(text)}"
        out.createOrReplaceTempView(alias)
        return alias

    def _lttb(self, text: str, src: str, ts: str, val: str, n: int,
              keys: str, pack: int | None) -> str:
        from glue_hudi_spark.operators.timeseries import lttb_downsample

        out = lttb_downsample(
            self._ts_source("lttb", src),
            keys=[k.strip() for k in keys.split(",") if k.strip()],
            ts_col=ts, value_col=val, n_out=n, pack_buckets=pack)
        alias = f"{src}__lttb_{_stable_token(text)}"
        out.createOrReplaceTempView(alias)
        return alias

    # ------------------------------------------------- secondary indexes
    #
    # SQL face for the two persisted secondary indexes the Python API
    # carries (operators/dedup_index.DedupIndex, operators/vector_index.
    # VectorIndex) — Hudi's spark-sql exposes index DDL the same way
    # (CREATE INDEX ... USING <type>); the reference itself configures
    # Hudi's record-key index through write options only
    # (processData.py:64-78), so SQL index DDL is the lakehouse-parity
    # extension. Each index keeps its state on disk next to the table, in
    # its own store, so every statement here re-binds through the index
    # classes' open/exists/status/drop — indexes survive sessions and
    # SHOW INDEXES needs no session registry.

    _CREATE_INDEX = re.compile(
        rf"^CREATE\s+(?P<kind>DEDUP|VECTOR)\s+INDEX\s+"
        rf"(?P<ine>IF\s+NOT\s+EXISTS\s+)?ON\s+(?P<name>{_IDENT})\s*"
        rf"\(\s*(?P<col>{_IDENT})\s*\)"
        rf"(?:\s+OPTIONS\s*\((?P<opts>[^)]*)\))?\s*$", re.IGNORECASE)
    _REFRESH_INDEX = re.compile(
        rf"^REFRESH\s+(?P<kind>DEDUP|VECTOR)\s+INDEX\s+ON\s+"
        rf"(?P<name>{_IDENT})\s*(?:\(\s*(?P<col>{_IDENT})\s*\))?\s*$",
        re.IGNORECASE)
    _DROP_INDEX = re.compile(
        rf"^DROP\s+(?P<kind>DEDUP|VECTOR)\s+INDEX\s+"
        rf"(?P<ie>IF\s+EXISTS\s+)?ON\s+(?P<name>{_IDENT})\s*"
        rf"(?:\(\s*(?P<col>{_IDENT})\s*\))?\s*$", re.IGNORECASE)
    _SHOW_INDEXES = re.compile(
        rf"^SHOW\s+INDEXES\s+(?:ON|FROM)\s+(?P<name>{_IDENT})\s*$",
        re.IGNORECASE)

    @staticmethod
    def _index_opts(raw: str | None, who: str, allowed: dict) -> dict:
        """Parse ``k = v, ...`` OPTIONS. ``allowed`` maps option name →
        coercion (int/str); unknown keys raise (typos must not
        silently become defaults)."""
        out: dict = {}
        for item in (raw or "").split(","):
            item = item.strip()
            if not item:
                continue
            if "=" not in item:
                raise ValueError(
                    f"ghs.sql: {who}: OPTIONS entries are k = v "
                    f"(got {item!r})")
            k, v = (p.strip() for p in item.split("=", 1))
            k = k.lower()
            if k not in allowed:
                raise ValueError(
                    f"ghs.sql: {who}: unknown option {k!r} "
                    f"(known: {sorted(allowed)})")
            v = v[1:-1] if v.startswith("'") and v.endswith("'") else v
            out[k] = allowed[k](_unq(v))
        return out

    def _dedup_index(self, m: "re.Match[str]"):
        """The dedup index of the statement's table (on its named column,
        when it names one)."""
        from glue_hudi_spark.operators.dedup_index import DedupIndex

        ix = DedupIndex.open(self._target(m.group("name")))
        if ix is None:
            raise ValueError(
                f"ghs.sql: table {_unq(m.group('name'))!r} has no DEDUP "
                "INDEX — CREATE DEDUP INDEX first")
        if m.group("col") and _unq(m.group("col")) != ix.text_col:
            raise ValueError(
                f"ghs.sql: the DEDUP INDEX is on "
                f"{ix.text_col!r}, not {_unq(m.group('col'))!r}")
        return ix

    @staticmethod
    def _one_vector_index(t: NativeTable, col: str | None, who: str):
        from glue_hudi_spark.operators.vector_index import VectorIndex

        ixs = VectorIndex.open_all(t)
        if col:
            for ix in ixs:
                if ix.vec_col == _unq(col):
                    return ix
            raise ValueError(
                f"ghs.sql: {who}: no VECTOR INDEX on column "
                f"{_unq(col)!r} (existing: {[i.vec_col for i in ixs]})")
        if not ixs:
            raise ValueError(
                f"ghs.sql: {who}: table has no VECTOR INDEX — "
                "CREATE VECTOR INDEX first")
        if len(ixs) > 1:
            raise ValueError(
                f"ghs.sql: {who}: table has VECTOR INDEXes on "
                f"{[i.vec_col for i in ixs]} — name the column")
        return ixs[0]

    def _index(self, m: "re.Match[str]", who: str):
        """The index a REFRESH or DROP statement names."""
        if m.group("kind").upper() == "DEDUP":
            return self._dedup_index(m)
        return self._one_vector_index(
            self._target(m.group("name")), m.group("col"), who)

    def _no_txn_index(self, verb: str) -> None:
        if self._txn is not None:
            raise ValueError(
                f"ghs.sql: {verb} is not allowed inside a transaction "
                "— index stores commit outside the table protocol, so "
                "ROLLBACK could not undo them (COMMIT or ROLLBACK "
                "first)")

    def _create_index(self, m: "re.Match[str]") -> None:
        self._no_txn_index("CREATE INDEX")
        kind = m.group("kind").upper()
        t = self._target(m.group("name"))
        col = _unq(m.group("col"))
        if kind == "DEDUP":
            opts = self._index_opts(
                m.group("opts"), "CREATE DEDUP INDEX",
                {"id_col": str, "n": int, "num_hashes": int,
                 "bands": int, "prefix_len": int,
                 "probe_pushdown_max": int, "probe_bloom_max": int})
            if "id_col" not in opts:
                raise ValueError(
                    "ghs.sql: CREATE DEDUP INDEX needs OPTIONS "
                    "(id_col = <numeric id column>) — probe results "
                    "key on it")
            from glue_hudi_spark.operators.dedup_index import DedupIndex

            ix, build = DedupIndex(t, text_col=col, **opts), {}
        else:
            build = self._index_opts(
                m.group("opts"), "CREATE VECTOR INDEX",
                {"id_col": str, "n_centroids": int, "train_iters": int})
            if "id_col" not in build:
                raise ValueError(
                    "ghs.sql: CREATE VECTOR INDEX needs OPTIONS "
                    "(id_col = <numeric id column>)")
            from glue_hudi_spark.operators.vector_index import VectorIndex

            ix = VectorIndex(t, vec_col=col)
        if ix.exists():
            if m.group("ine"):
                return None
            raise ValueError(
                f"ghs.sql: table {_unq(m.group('name'))!r} already has a "
                f"{kind} INDEX"
                + (f" on {col!r}" if kind == "VECTOR" else "")
                + f" — DROP {kind} INDEX first")
        ix.build(**build)
        return None

    def _refresh_index(self, m: "re.Match[str]") -> None:
        self._no_txn_index("REFRESH INDEX")
        self._index(m, f"REFRESH {m.group('kind').upper()} INDEX").refresh()
        return None

    def _drop_index(self, m: "re.Match[str]") -> None:
        self._no_txn_index("DROP INDEX")
        try:
            ix = self._index(m, f"DROP {m.group('kind').upper()} INDEX")
        except ValueError:
            if m.group("ie"):
                return None
            raise
        ix.drop()
        return None

    def _show_indexes(self, m: "re.Match[str]") -> DataFrame:
        from glue_hudi_spark.operators.dedup_index import DedupIndex
        from glue_hudi_spark.operators.vector_index import VectorIndex

        t = self._table(m.group("name"))
        found = [("ivf", vx.vec_col, vx) for vx in VectorIndex.open_all(t)]
        dx = DedupIndex.open(t)
        if dx is not None:
            found.insert(0, ("dedup", dx.text_col, dx))
        rows = []
        for kind, col, ix in found:
            st = ix.status()
            rows.append((kind, col, json.dumps(st["options"], sort_keys=True),
                         st["indexed_commit"], st["stale"]))
        return self.spark.createDataFrame(
            rows,
            "kind string, column string, options string, "
            "indexed_commit string, stale boolean")

    def _dedup_probe(self, text: str, tbl: str, batch: str, thr: float,
                     opts: str) -> str:
        """``dedup_probe('t', 'batch'[, threshold][, 'allow_stale'])``:
        the batch rows that are NOVEL against t's dedup index."""
        from glue_hudi_spark.operators.dedup_index import DedupIndex

        ix = DedupIndex.open(self._table(tbl))
        if ix is None:
            raise ValueError(
                f"ghs.sql: dedup_probe: table {_unq(tbl)!r} has no DEDUP "
                "INDEX — CREATE DEDUP INDEX first")
        opts = [o.strip().lower() for o in opts.split(",") if o.strip()]
        bad = [o for o in opts if o != "allow_stale"]
        if bad:
            raise ValueError(
                f"ghs.sql: dedup_probe: unknown option {bad[0]!r} "
                "(allow_stale)")
        out = ix.probe(self._ts_source("dedup_probe", batch),
                       verify_threshold=float(thr),
                       allow_stale="allow_stale" in opts)
        alias = f"{tbl}__dprobe_{_stable_token(text)}"
        out.createOrReplaceTempView(alias)
        return alias

    def _vector_search(self, text: str, tbl: str, q: str, k: int,
                       nprobe: int, col: str | None) -> str:
        """``vector_search('t', 'queries'[, k[, nprobe]][, 'vec_col'])``:
        (query_id, neighbor_id, rank, sim) top-k off t's IVF index,
        reading only the probed cell partitions."""
        ix = self._one_vector_index(self._table(tbl), col, "vector_search")
        qdf = self._ts_source("vector_search", q)
        others = [c for c in qdf.columns if c != ix.vec_col]
        if ix.vec_col not in qdf.columns or len(others) != 1:
            raise ValueError(
                "ghs.sql: vector_search: the query source must "
                f"have exactly two columns — an id and "
                f"{ix.vec_col!r} (got {qdf.columns})")
        out = ix.query(qdf, id_col=others[0], k=k, nprobe=nprobe)
        alias = f"{tbl}__vsearch_{_stable_token(text)}"
        out.createOrReplaceTempView(alias)
        return alias

    def _select_prune(self, q: str, names: set) -> tuple[DataFrame, dict]:
        """``(spark.sql(q), {table: bounds})``: each registered table
        ``q`` reads at its head (``names``, from ``_bind``) that
        ``NativeTable.scan_bounds`` bounds — the filters
        Catalyst pushes to its one scan — is rebound manifest-pruned
        (partition dirs + column-stats index) before the frame is
        planned. Every row that scan passes on meets the bounds, and
        Spark still applies the full WHERE: pruning never changes
        results. A CACHE TABLE pin maps to None: its data is already in
        executor memory, and rebinding would drop the pin."""
        df = self.spark.sql(q)
        found: dict = {}
        for name, t in self.tables.items():
            if name.lower() not in names:
                continue
            if name in self._cached:
                found[name] = None
                continue
            bounds = t.scan_bounds(df)
            if bounds:
                t.read_snapshot(prune=bounds).createOrReplaceTempView(name)
                # the next statement re-binds the plain view
                self._view_cache.pop(name, None)
                found[name] = bounds
        if any(found.values()):
            df = self.spark.sql(q)
        return df, found

    # metadata-only COUNT(*): Delta answers a bare count from stats;
    # the manifest carries per-file row counts AND per-file column
    # min/max, so the query shapes every dashboard fires at a 100-TB
    # table — bare COUNT(*) / MIN / MAX — cost zero data bytes (Delta's
    # stats-based query answering). Anything the manifest cannot PROVE
    # (WHERE, expressions, un-indexed columns, MoR deltas, live DV
    # marks) falls through to the real scan.
    # types whose parquet footer min/max are EXACT values from the data.
    # Strings are deliberately absent: writers may truncate long string
    # statistics (max rounded UP per the format spec) — safe for
    # pruning, but serving one as a MAX() answer would return a value
    # that exists in no row. String MIN/MAX falls through to the scan.
    # float/double are safe ONLY because _stat_value drops NaN stats at
    # indexing time (the file becomes unindexed for that column, so
    # stats_extrema returns None and this path falls to the scan —
    # where Spark's MAX correctly returns NaN-as-greatest).
    _STAT_TYPES: "dict[str, T.DataType]" = {
        "tinyint": T.ByteType(), "smallint": T.ShortType(),
        "int": T.IntegerType(), "bigint": T.LongType(),
        "float": T.FloatType(), "double": T.DoubleType(),
        "date": T.DateType(),
        "timestamp": T.TimestampType(),
        "timestamp_ntz": T.TimestampNTZType(),
    }

    @staticmethod
    def _stat_to_py(v, type_name: str):
        """A manifest stat value converted to the Python value Spark
        expects for the column's type (stats store JSON-safe renderings:
        numbers native, date/timestamp as ISO strings)."""
        import datetime as _dt

        if v is None:
            return None
        if type_name in ("tinyint", "smallint", "int", "bigint"):
            return int(v)
        if type_name in ("float", "double"):
            return float(v)
        if type_name == "date":
            return _dt.date.fromisoformat(v) if isinstance(v, str) else v
        return _dt.datetime.fromisoformat(v) if isinstance(v, str) else v

    def _try_fast_agg(self, plan) -> DataFrame | None:
        """``SELECT COUNT(*)|MIN(col)|MAX(col) [AS a], ... FROM t``."""
        if _kind(plan) != "Project" or \
                _kind(plan.child()) != "UnresolvedRelation":
            return None
        t = self.tables.get(_rel_name(plan.child()))
        if t is None or t.timeline.latest() is None:
            return None
        types = self._data_types(t)
        fields: list[T.StructField] = []
        vals: list = []
        extrema: dict[str, tuple | None] = {}
        for item in _seq(plan.projectList()):
            alias = item.name() if _kind(item) == "Alias" else None
            f = (item.child() if _kind(item) in ("Alias", "UnresolvedAlias")
                 else item)
            fn, args = _call(f) or ("", [])
            if len(args) != 1:
                return None
            if fn == "count" and args[0].toString() == "1":  # COUNT(*) too
                fields.append(T.StructField(alias or "count(1)",
                                            T.LongType(), False))
                vals.append(int(t.count_rows()))
                continue
            col = _column(args[0])
            if fn not in ("min", "max") or col is None:
                return None
            tn = types.get(col)
            if tn not in self._STAT_TYPES:
                return None  # unknown column / un-orderable stat type
            if col not in extrema:
                extrema[col] = t.stats_extrema(col)
            ext = extrema[col]
            if ext is None:
                return None  # manifest can't prove it — real scan
            fields.append(T.StructField(alias or f"{fn}({col})",
                                        self._STAT_TYPES[tn], True))
            vals.append(self._stat_to_py(ext[0 if fn == "min" else 1], tn))
        return self.spark.createDataFrame(
            [tuple(vals)], T.StructType(fields))

    def _read(self, s: str) -> DataFrame:
        plan = self._parse(s)
        try:
            out = self._try_fast_agg(plan)
        except Exception:
            # the fast path is an OPTIMIZATION: anything it cannot
            # handle (legacy manifest without schema_json, malformed
            # stats) must fall through to the scan, never fail a
            # query the slow path can answer
            out = None
        if out is not None:
            return out
        self._with_views(plan)
        return self._select_prune(*self._bind(s, plan))[0]

    def _explain(self, s: str, node) -> DataFrame:
        """``EXPLAIN [FORMATTED|EXTENDED|CODEGEN|COST] <query>``:
        Spark's own plan over the bound views, PREFIXED by one row
        reporting the dispatcher's manifest-level file-prune decision —
        the part Spark's plan cannot show, because file skipping happens
        on the driver before the scan relation is even planned. The
        pruned binding is the same one ``_read`` would use, so the plan
        matches what the SELECT will actually run."""
        plan = node.logicalPlan()
        a = _query_start(s, plan)
        if (s[a:].split(None, 1) or [""])[0].upper() not in _READS:
            raise ValueError(
                f"ghs.sql: cannot parse EXPLAIN: {s[:80]!r} — use "
                "EXPLAIN [FORMATTED|EXTENDED|CODEGEN|COST] SELECT ...")
        self._with_views(plan)
        q, names = self._bind(s, plan, a)
        notes = []
        for name, bounds in self._select_prune(q, names)[1].items():
            if bounds is None:
                notes.append(
                    f"table {name} is pinned by CACHE TABLE: reads serve "
                    "the in-memory snapshot; manifest pruning skipped")
                continue
            kept, total = self.tables[name].pruned_file_count(bounds)
            notes.append(
                f"table {name}: WHERE bounds {bounds} -> {kept}/{total} "
                "base files survive partition-dir + column-stats skipping "
                "(applied before Spark plans the scan)")
        note = "== GHS Manifest Pruning ==\n" + ("\n".join(notes) or (
            "none derived (no registered table is read in one scan "
            "filtered by column-vs-constant terms): full live-file "
            "listing; parquet row-group pushdown still applies"))
        mode = node.mode().name()
        plan = self.spark.sql(
            f"EXPLAIN {'' if mode == 'simple' else mode.upper()} {q}")
        return self.spark.createDataFrame(
            [(note,)], "plan string").unionAll(plan)

    def _query_df(self, s: str, plan=None, a: int = 0,
                  b: int | None = None) -> DataFrame:
        """The frame of the query ``s[a:b]`` parsed as ``plan`` (or here),
        with the time-travel + change-feed rewrites of reads: INSERT ...
        SELECT FROM t VERSION AS OF n restores history."""
        if plan is None:
            plan = self._parse(s)
        if not s[a:b].lstrip().upper().startswith("VALUES"):
            self._with_views(plan)
        return self.spark.sql(self._bind(s, plan, a, b)[0])

    # ------------------------------------------------------- transactions

    def _require_txn(self, kw: str) -> None:
        if self._txn is None:
            raise ValueError(f"ghs.sql: {kw} without an open transaction "
                             "(BEGIN first)")

    def _begin(self, s: str) -> None:
        """``BEGIN [TRANSACTION]``: multi-statement, multi-TABLE
        all-or-nothing over the engine's own commit protocol — the gap
        Delta/Hudi leave open (each of their commits is single-table
        atomic; nothing spans tables). Mechanism: record every
        registered table's head commit id now; statements execute
        immediately (reads inside the transaction see its own writes —
        each write is still an ordinary atomic commit); ``COMMIT``
        forgets the snapshot; ``ROLLBACK`` — or any statement error —
        restores each moved table to its recorded head via
        ``timeline.restore_to`` (pure manifest truncation + orphan-file
        deletion) and removes tables CREATEd inside the transaction.

        MULTI-WRITER honesty (r11 verdict #5): restore truncates the
        timeline, so a FOREIGN writer's commit landing between BEGIN
        and ROLLBACK on the same table would be rolled back with ours.
        COMMIT / ROLLBACK / ROLLBACK TO therefore run an OCC
        ownership check (``_occ_check``): every commit past a
        BEGIN-snapshot table's recorded head must carry this session's
        writer tag (stamped around every statement via
        ``storage.commits.WRITER_TAG``) — a foreign commit is detected
        wherever in the transaction it landed, not only after the last
        statement; on divergence the transaction aborts with
        ``TxnConflictError``
        and restores NOTHING (this session's statements stay as the
        ordinary durable commits they already are; the foreign commit
        is preserved). True cross-process isolation still needs a
        catalog service (lakeFS-style ref store), out of scope by
        design — the check turns silent clobbering into a loud abort.
        DROP/VACUUM are rejected inside a transaction: they delete
        files restore cannot resurrect."""
        words = s.upper().split()
        if words not in (["BEGIN"], ["BEGIN", "TRANSACTION"],
                         ["START", "TRANSACTION"]):
            raise ValueError(f"ghs.sql: cannot parse {s[:40]!r} — use "
                             "BEGIN [TRANSACTION]")
        if self._txn is not None:
            raise ValueError("ghs.sql: transaction already open "
                             "(nested BEGIN is not supported)")
        heads = {}
        for name, t in self.tables.items():
            h = t.timeline.latest()
            heads[name] = h.commit_id if h else 0
        # constraints live in _table.json, OUTSIDE the commit protocol —
        # restore_to can't undo an in-transaction ADD CONSTRAINT, so
        # BEGIN snapshots them and _rollback restores + re-persists
        self._txn_constraints = {
            name: list(t.constraints) for name, t in self.tables.items()}
        self._txn_views = dict(self.views)
        self._txn = heads
        self._txn_created = set()
        self._txn_savepoints = {}
        return None

    def _commit_txn(self, s: str) -> None:
        if s.upper().split() not in (["COMMIT"], ["COMMIT", "TRANSACTION"]):
            raise ValueError(f"ghs.sql: cannot parse {s[:40]!r} — use "
                             "COMMIT [TRANSACTION]")
        self._require_txn("COMMIT")
        self._occ_check("COMMIT")
        self._clear_txn_state()
        return None

    def _remove_created(self, names, heads: dict | None = None) -> None:
        """Unregister (and delete, when warehouse-managed) tables/views
        CREATEd inside the transaction scope being rolled back."""
        import shutil

        for name in names:
            t = self.tables.pop(name, None)
            self.mviews.pop(name, None)
            self._mv_specs.pop(name, None)
            if heads is not None:
                heads.pop(name, None)
            if t is None:
                continue
            self._view_cache.pop(name, None)
            self._release_cache(name)
            self.spark.catalog.dropTempView(name)
            try:
                managed = Path(t.root).resolve().is_relative_to(
                    self.warehouse.resolve())
            except (OSError, ValueError):
                managed = False
            if managed:
                shutil.rmtree(t.root, ignore_errors=True)

    def _restore_heads(self, heads: dict) -> None:
        for name, saved in heads.items():
            t = self.tables.get(name)
            if t is None:
                continue
            h = t.timeline.latest()
            if (h.commit_id if h else 0) != saved:
                # TOCTOU shrink: _occ_check ran before this loop, but
                # the timeline is lock-free — re-verify THIS table's
                # post-snapshot commits are all ours immediately before
                # truncating them. A foreign commit that raced in since
                # the check aborts here (tables earlier in the loop are
                # already restored — the residual partiality inherent
                # to a filesystem timeline without locks).
                foreign = [
                    c.commit_id for c in t.timeline.history(since=saved)
                    if c.stats.get("writer") != self._writer_tag]
                if foreign:
                    self._clear_txn_state()
                    raise TxnConflictError(
                        f"ghs.sql: restore of {name!r} aborted — "
                        f"foreign commit(s) {foreign} landed after the "
                        "conflict check; this table is NOT restored "
                        "(the foreign writer's commits are preserved)")
                t.timeline.restore_to(saved)
                self._view_cache.pop(name, None)
                if saved == 0:
                    # timeline emptied: a temp view bound during the
                    # transaction would keep serving deleted files
                    self.spark.catalog.dropTempView(name)

    def _rollback(self) -> None:
        self._occ_check("ROLLBACK")
        txn, created = self._txn, self._txn_created
        # restore FIRST, clear the transaction record LAST: if a
        # restore_to raises mid-way (ref protection, I/O), the record
        # survives and ROLLBACK can be retried — clearing eagerly would
        # strand the untouched tables with their in-transaction commits
        # and no way back
        self._remove_created(created, txn)
        self._restore_heads(txn)
        for name, cons in self._txn_constraints.items():
            t = self.tables.get(name)
            if t is not None and list(t.constraints) != cons:
                t.constraints[:] = cons
                t.save_properties()
        if self._txn_views is not None and self._txn_views != self.views:
            for gone in set(self.views) - set(self._txn_views):
                self.spark.catalog.dropTempView(gone)
            self.views = dict(self._txn_views)
            self._save_views()
            self._views_pending = set(self.views)
        self._clear_txn_state()
        return None

    # ---- savepoints: nested rollback scopes inside an open transaction
    # (standard SQL SAVEPOINT / ROLLBACK TO / RELEASE): a savepoint
    # records every registered table's head at its creation, exactly the
    # way BEGIN does; ROLLBACK TO restores those heads, removes tables
    # CREATEd after the savepoint, discards later savepoints, and leaves
    # the transaction OPEN (the savepoint itself stays reusable). A full
    # ROLLBACK or a failing statement still aborts to the BEGIN state.

    _SAVEPOINT = re.compile(
        rf"^SAVEPOINT\s+(?P<name>{_IDENT})\s*$", re.IGNORECASE)
    _RELEASE = re.compile(
        rf"^RELEASE\s+(?:SAVEPOINT\s+)?(?P<name>{_IDENT})\s*$",
        re.IGNORECASE)
    _ROLLBACK_TO = re.compile(
        rf"^ROLLBACK\s+TO\s+(?:SAVEPOINT\s+)?(?P<name>{_IDENT})\s*$",
        re.IGNORECASE)

    def _savepoint(self, s: str) -> None:
        m = self._SAVEPOINT.match(s)
        if not m:
            raise ValueError(f"ghs.sql: cannot parse SAVEPOINT: "
                             f"{s[:60]!r} — use SAVEPOINT name")
        self._require_txn("SAVEPOINT")
        heads = {}
        for name, t in self.tables.items():
            h = t.timeline.latest()
            heads[name] = h.commit_id if h else 0
        sp = _unq(m.group("name"))
        # re-declaring a savepoint moves it (standard SQL): delete first
        # so insertion order reflects the NEW position
        self._txn_savepoints.pop(sp, None)
        self._txn_savepoints[sp] = (
            heads, set(self._txn_created),
            {name: list(t.constraints)
             for name, t in self.tables.items()},
            dict(self.views))
        return None

    def _release_savepoint(self, s: str) -> None:
        m = self._RELEASE.match(s)
        if not m:
            raise ValueError(f"ghs.sql: cannot parse RELEASE: {s[:60]!r}"
                             " — use RELEASE SAVEPOINT name")
        self._require_txn("RELEASE SAVEPOINT")
        sp = _unq(m.group("name"))
        if sp not in self._txn_savepoints:
            raise ValueError(f"ghs.sql: unknown savepoint {sp!r}")
        del self._txn_savepoints[sp]
        return None

    def _rollback_to(self, sp: str) -> None:
        if sp not in self._txn_savepoints:
            raise ValueError(f"ghs.sql: unknown savepoint {sp!r}")
        self._occ_check("ROLLBACK TO")
        heads, created_at_sp, cons_at_sp, views_at_sp = \
            self._txn_savepoints[sp]
        self._remove_created(self._txn_created - created_at_sp)
        self._restore_heads(heads)
        for name, cons in cons_at_sp.items():
            t = self.tables.get(name)
            if t is not None and list(t.constraints) != cons:
                t.constraints[:] = cons
                t.save_properties()
        if views_at_sp != self.views:
            for gone in set(self.views) - set(views_at_sp):
                self.spark.catalog.dropTempView(gone)
            self.views = dict(views_at_sp)
            self._save_views()
            self._views_pending = set(self.views)
        self._txn_created = set(created_at_sp)
        # savepoints declared after sp point past the restored state
        names = list(self._txn_savepoints)
        for later in names[names.index(sp) + 1:]:
            del self._txn_savepoints[later]
        return None

    # ------------------------------------------------------------- CREATE

    _CREATE_FORM = (
        "ghs.sql: CREATE TABLE must be of the form CREATE TABLE "
        "name (col type, ...) USING ghs_table [PARTITIONED BY "
        "(...)] [LOCATION '...'] [TBLPROPERTIES (...)] — or the "
        "CTAS form CREATE TABLE name USING ghs_table "
        "[options] AS SELECT ...")

    def _new_name(self, ident) -> str:
        """The one-part name a CREATE TABLE or MATERIALIZED VIEW gives
        (``ident`` as parsed), which no stored view holds."""
        parts = _seq(ident.nameParts())
        if len(parts) != 1:
            raise ValueError(self._CREATE_FORM)
        if parts[0] in self.views:
            raise ValueError(
                f"ghs.sql: {parts[0]!r} is a stored view — DROP VIEW it "
                "first")
        return parts[0]

    def _create_table(self, s: str, node) -> None:
        """``CREATE TABLE [IF NOT EXISTS] name (col type [DEFAULT expr],
        ...) USING ghs_table [PARTITIONED BY (cols)] [LOCATION '...']
        [TBLPROPERTIES (...)]``, or the CTAS form ``... AS <query>``."""
        spec = node.tableSpec()
        if not spec.provider().isDefined() or \
                spec.provider().get().lower() != "ghs_table" or any(
                    tr.name() != "identity"
                    for tr in _seq(node.partitioning())):
            raise ValueError(self._CREATE_FORM)
        name = self._new_name(node.name())
        if name in self.tables:
            if node.ignoreIfExists():
                return None
            raise ValueError(f"ghs.sql: table {name!r} already exists")
        props = _props(spec.properties())
        keys = [k.strip() for k in
                props.get("primaryKey", "").replace(";", ",").split(",")
                if k.strip()]
        if not keys:
            raise ValueError(
                "ghs.sql: CREATE TABLE needs TBLPROPERTIES "
                "('primaryKey'='col[,col2]') — every ghs_table is keyed "
                "(the reference's control table likewise mandates "
                "primary_key per table)")
        t = NativeTable(
            self.spark, (Path(spec.location().get())
                         if spec.location().isDefined()
                         else self.warehouse / name),
            record_keys=keys,
            precombine=props.get("preCombineField") or None,
            partition_keys=[".".join(tr.references()[0].fieldNames())
                            for tr in _seq(node.partitioning())],
            storage_type=props.get("type", "cow"),
            stats_cols=[c.strip() for c in
                        props.get("statsCols", "").split(",") if c.strip()],
            sort_order=[c.strip() for c in
                        props.get("sortOrder", "").split(",") if c.strip()],
            bloom_index=props.get("bloomIndex", "").lower() == "true",
            files_per_partition=(int(props["filesPerPartition"])
                                 if props.get("filesPerPartition") else None),
        )
        cols = []
        if _kind(node) == "CreateTableAsSelect":
            t.bulk_insert(self._query_df(s, node.query(),
                                         _query_start(s, node.query())))
        else:
            # an empty first commit publishes the declared schema, so the
            # table is immediately readable/alterable like any SQL table.
            # (The allow_empty guard raises when the root already holds a
            # table with history.) A column with a DEFAULT is added after
            # it, so its default is recorded.
            cols = _seq(node.columns())
            t.bulk_insert(self.spark.createDataFrame([], ", ".join(
                f"{_quote(c.name())} {c.dataType().sql()}"
                for c in cols if not c.defaultValue().isDefined())),
                allow_empty=True)
        # durable catalog entry (see __init__) — written only AFTER the
        # first commit succeeds: a failing CREATE over an existing root
        # (e.g. LOCATION pointing at a live external table whose keys
        # differ) must not clobber that table's _table.json
        t.save_properties()
        for c in cols:
            if c.defaultValue().isDefined():
                self._add_column(t, c.name(), c.dataType(),
                                 c.defaultValue())
        self.tables[name] = t
        if self._txn is not None:
            self._txn_created.add(name)
        return None

    def _add_column(self, t: NativeTable, name: str, dtype, default) -> None:
        """Add column ``name`` of the parsed type ``dtype``; a parsed
        ``DEFAULT`` is stored as its value cast to that type."""
        ctype = dtype.catalogString()
        t.add_column(name, ctype, default=self.spark.sql(
            f"SELECT CAST({default.get().originalSQL()} AS {ctype})"
        ).first()[0] if default.isDefined() else None)

    def _save_views(self) -> None:
        self.warehouse.mkdir(parents=True, exist_ok=True)
        (self.warehouse / "_views.json").write_text(
            json.dumps(self.views))

    def _create_view(self, s: str, node) -> None:
        """``CREATE [OR REPLACE] VIEW name AS SELECT ...``: a stored
        query, not a table — the text persists (``_views.json``) and is
        re-planned at every bind, so reads always see the CURRENT
        snapshot of the base tables (time travel and table_changes
        work inside the text). Views are read-only names: writes fail
        with 'unknown table'. A transaction snapshots the view registry
        at BEGIN, so CREATE/REPLACE VIEW rolls back with it."""
        parts = _seq(node.child().nameParts())
        if len(parts) != 1 or node.userSpecifiedColumns().nonEmpty() or \
                node.comment().isDefined() or \
                not node.properties().isEmpty() or node.allowExisting():
            raise ValueError(
                "ghs.sql: CREATE VIEW must be of the form CREATE [OR "
                "REPLACE] VIEW name AS SELECT ...")
        name = parts[0]
        if name in self.tables:
            raise ValueError(
                f"ghs.sql: {name!r} is a table"
                + (" (materialized view)" if name in self.mviews else "")
                + " — view names must not shadow tables")
        if name in self.views and not node.replace():
            raise ValueError(
                f"ghs.sql: view {name!r} already exists (use CREATE OR "
                "REPLACE VIEW)")
        # validate NOW against current bindings — a typo'd view must
        # fail at CREATE, not at first read
        q = node.originalText().get()
        self._query_df(q)
        self.views[name] = q
        self._save_views()
        self._views_pending.add(name)
        return None

    _CREATE_CLONE = re.compile(
        rf"^CREATE\s+TABLE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
        rf"(?P<name>{_IDENT})\s+SHALLOW\s+CLONE\s+(?P<src>{_IDENT})\s*$",
        re.IGNORECASE)

    def _create_clone(self, m: "re.Match[str]") -> None:
        """Delta's SHALLOW CLONE: zero-copy branch of the CURRENT
        snapshot (hardlinked data files + one fresh manifest —
        clone_to's O(metadata) contract); the clone is an independent
        table from here on. The manifest carries the whole snapshot
        (column mapping, defaults, DVs, partition spec); the saved table
        config is what ``clone_to`` gives the clone handle, not the
        source's full ``_table.json``."""
        name = _unq(m.group("name"))
        if name in self.views:
            raise ValueError(
                f"ghs.sql: {name!r} is a stored view — DROP VIEW it first")
        if name in self.tables:
            if m.group("ine"):
                return None
            raise ValueError(f"ghs.sql: table {name!r} already exists")
        src_name = _unq(m.group("src"))
        if src_name in self.mviews:
            raise ValueError(
                f"ghs.sql: {src_name!r} is a materialized view — "
                "clone its base table, or snapshot the view with "
                "CREATE TABLE ... AS SELECT")
        t = self._table(src_name).clone_to(self.warehouse / name)
        t.save_properties()
        self.tables[name] = t
        if self._txn is not None:
            self._txn_created.add(name)
        return None

    # ------------------------------------------------- MATERIALIZED VIEW

    _MV_SHAPES = (
        "ghs.sql: CREATE MATERIALIZED VIEW supports exactly three "
        "maintainable query shapes — the additive aggregate "
        "'SELECT g1[, g2...], COUNT(*) AS cnt, SUM(col) AS total FROM "
        "base GROUP BY g1[, g2...]' (MaterializedAgg: O(changed groups) "
        "refresh off the change feed), the N:1 enrichment join "
        "'SELECT * FROM fact LEFT JOIN dim ON fact.k = dim.k' "
        "(MaterializedJoin: O(changes + affected facts)), and the "
        "aggregate over that join 'SELECT g1[, g2...], COUNT(*) AS "
        "cnt, SUM(col) AS total FROM fact JOIN dim ON fact.k = dim.k "
        "GROUP BY g1[, g2...]' (MaterializedJoinAgg: INNER join, both "
        "feeds, bilinear delta). Arbitrary "
        "queries have no incremental maintenance plan — use CREATE "
        "TABLE ... AS SELECT for a one-shot snapshot")

    def _mv_base(self, name: str) -> str:
        name = _unq(name)
        if name in self.mviews:
            raise ValueError(
                f"ghs.sql: {name!r} is itself a materialized view — "
                "stacked views are not maintainable (no change feed is "
                "published for view state); build on the base table")
        if name not in self.tables:
            raise ValueError(
                f"ghs.sql: unknown base table {name!r} for the "
                "materialized view")
        return name

    def _mv_join(self, join) -> tuple[str, str, str]:
        """``(fact, dim, join column)`` of a parsed MV join: two plain
        table names (no aliases), joined USING one column or ON one
        same-named column equality qualified by the two tables — the
        single column both view classes key their state and merge
        pruning by."""
        sides = _seq(join.children())
        if any(_kind(x) != "UnresolvedRelation" for x in sides):
            raise ValueError(self._MV_SHAPES)
        fact, dim = (self._mv_base(_rel_name(x)) for x in sides)
        jt, on = join.joinType(), join.condition()
        if _kind(jt) == "UsingJoin":
            using = _seq(jt.usingColumns())
            if len(using) != 1:
                raise ValueError(self._MV_SHAPES)
            return fact, dim, using[0]
        refs = ([_seq(x.nameParts()) if _kind(x) == "UnresolvedAttribute"
                 else [] for x in _seq(on.get().children())]
                if on.isDefined() and _kind(on.get()) == "EqualTo" else [])
        if list(map(len, refs)) != [2, 2]:
            raise ValueError(self._MV_SHAPES)
        (q1, c1), (q2, c2) = refs
        if c1 != c2:
            raise ValueError(
                "ghs.sql: the join column must have the SAME "
                f"name on both sides (got {c1!r} = {c2!r}) — "
                "the view keys its state and its merge "
                "pruning by one column name")
        if {q1, q2} != {fact, dim}:
            raise ValueError(
                f"ghs.sql: ON qualifiers {sorted({q1, q2})} must "
                f"be the joined tables {sorted({fact, dim})} "
                "(aliases are not supported in MV definitions)")
        return fact, dim, c1

    def _mv_groups(self, agg) -> tuple[list[str], str, dict]:
        """``(group columns, SUM column, derived buckets)`` of a parsed MV
        aggregate ``SELECT g1[, g2...], COUNT(*) AS cnt, SUM(col) AS
        total ... GROUP BY g1[, g2...]``. A group item may be a
        continuous-aggregate bucket ``DATE_TRUNC('unit', col) AS name``
        (TimescaleDB's time_bucket): a DERIVED group column, re-projected
        onto every change-feed row at refresh — deterministic and
        row-local, so the signed IVM algebra is unchanged. GROUP BY
        names it or repeats its expression."""

        def bucket(e) -> str | None:
            fn, args = _call(e) or ("", [])
            if fn != "date_trunc" or len(args) != 2 or \
                    _kind(args[0]) != "Literal" or \
                    _column(args[1]) is None or args[0].toString().lower() \
                    not in ("hour", "day", "week", "month", "year"):
                return None
            # the source column is always backquoted: a quoted name
            # (space, reserved word) survives into F.expr at refresh
            return (f"date_trunc('{args[0].toString().lower()}', "
                    f"{_quote(_column(args[1]))})")

        def agg_of(e, fn: str, alias: str) -> list | None:
            call = (_call(e.child()) if _kind(e) == "Alias"
                    and e.name().lower() == alias else None)
            return call[1] if call and call[0] == fn else None

        items = _seq(agg.aggregateExpressions())
        cnt, total = ((agg_of(items[-2], "count", "cnt"),
                       agg_of(items[-1], "sum", "total"))
                      if len(items) >= 3 else (None, None))
        if cnt is None or [x.toString() for x in cnt] != ["1"] or \
                total is None or len(total) != 1 or \
                _column(total[0]) is None:
            raise ValueError(self._MV_SHAPES)
        group_cols, derive = [], {}
        for it in items[:-2]:
            ex = bucket(it.child()) if _kind(it) == "Alias" else None
            if ex is not None:
                derive[it.name()] = ex
            elif _column(it) is None:
                raise ValueError(self._MV_SHAPES)
            group_cols.append(it.name() if ex else _column(it))
        grp = []
        for g in _seq(agg.groupingExpressions()):
            ex = bucket(g)
            match = [a for a, e in derive.items() if e == ex]
            if _column(g) is None and not match:
                raise ValueError(self._MV_SHAPES)
            grp.append(_column(g) or match[0])
        if grp != group_cols:
            raise ValueError(
                f"ghs.sql: GROUP BY columns {grp} must equal the "
                f"select list's leading columns {group_cols} — the "
                "state table is keyed by exactly the group columns")
        return group_cols, _column(total[0]), derive

    def _parse_mv_query(self, plan, props: dict) -> dict:
        """Recognize the three maintainable shapes (see _MV_SHAPES) in the
        parsed view query and return the durable spec dict. Conservative
        on purpose: anything unrecognized raises rather than silently
        materializing a non-refreshable snapshot."""
        kind = _kind(plan)
        rel = plan.child() if kind in ("Project", "Aggregate") else plan
        refresh = self._refresh_props(props)
        dim_cols = ([c.strip() for c in props["dimCols"].split(",")]
                    if props.get("dimCols") else None)
        if _kind(rel) == "UnresolvedRelation" and kind == "Aggregate":
            base = self._mv_base(_rel_name(rel))
            group_cols, sum_col, derive = self._mv_groups(plan)
            return {"kind": "agg", "base": base, "group_cols": group_cols,
                    "sum_col": sum_col,
                    **({"derive": derive} if derive else {}), **refresh}
        how = ""
        if _kind(rel) == "Join":
            jt = rel.joinType()
            how = (jt.tpe() if _kind(jt) == "UsingJoin" else jt).toString()
        star = [(_kind(x), x.target().isDefined()) for x in
                _seq(plan.projectList())] if kind == "Project" else []
        if how == "LeftOuter" and star == [("UnresolvedStar", False)]:
            fact, dim, join_col = self._mv_join(rel)
            return {"kind": "join", "fact": fact, "dim": dim,
                    "join_col": join_col, "dim_cols": dim_cols,
                    "cluster_by": props.get("clusterBy") or None,
                    **refresh}
        if kind != "Aggregate" or how not in ("Inner", "LeftOuter"):
            raise ValueError(self._MV_SHAPES)
        if how == "LeftOuter":
            raise ValueError(
                "ghs.sql: the aggregate-over-join view is INNER "
                "join only (a LEFT join's NULL groups have no "
                "keyed-state identity) — drop LEFT, or use the "
                "plain join view + aggregate reads")
        fact, dim, join_col = self._mv_join(rel)
        group_cols, sum_col, derive = self._mv_groups(plan)
        if derive:
            raise ValueError(self._MV_SHAPES)
        return {"kind": "joinagg", "fact": fact, "dim": dim,
                "join_col": join_col, "group_cols": group_cols,
                "sum_col": sum_col, "dim_cols": dim_cols, **refresh}

    @staticmethod
    def _refresh_props(props: dict) -> dict:
        """TBLPROPERTIES 'refresh' maintenance policy (r11 verdict #7):
        absent/'' = manual (REFRESH MATERIALIZED VIEW on the user's
        cadence), 'auto' = eager per-write-statement, 'commit:N' =
        deferred batching — refresh only once N or more base commits
        have landed past the view's watermark, amortizing maintenance
        to 1/N of the write statements (per-write latency stops scaling
        with the number of auto views at high commit rates)."""
        mode = (props.get("refresh") or "").lower()
        if not mode:
            return {"auto": False}
        if mode == "auto":
            return {"auto": True}
        m = re.fullmatch(r"commit:(\d+)", mode)
        if m and int(m.group(1)) >= 1:
            return {"auto": False, "every": int(m.group(1))}
        raise ValueError(
            f"ghs.sql: unknown refresh mode {props['refresh']!r} — "
            "use 'auto' or 'commit:N' (N >= 1)")

    def _attach_mview(self, name: str, spec: dict):
        from glue_hudi_spark.streaming.materialized import (
            MaterializedAgg, MaterializedJoin, MaterializedJoinAgg)

        path = self.warehouse / name
        if spec["kind"] == "agg":
            mv = MaterializedAgg(self.spark, self.tables[spec["base"]],
                                 path, list(spec["group_cols"]),
                                 spec["sum_col"],
                                 derive=spec.get("derive"))
        elif spec["kind"] == "joinagg":
            mv = MaterializedJoinAgg(
                self.spark, self.tables[spec["fact"]],
                self.tables[spec["dim"]], path,
                join_col=spec["join_col"],
                group_cols=list(spec["group_cols"]),
                sum_col=spec["sum_col"],
                dim_cols=(list(spec["dim_cols"])
                          if spec.get("dim_cols") else None))
        else:
            mv = MaterializedJoin(
                self.spark, self.tables[spec["fact"]],
                self.tables[spec["dim"]], path,
                join_col=spec["join_col"],
                dim_cols=(list(spec["dim_cols"])
                          if spec.get("dim_cols") else None),
                cluster_by=spec.get("cluster_by") or None)
        self.mviews[name] = mv
        self._mv_specs[name] = spec
        self.tables[name] = mv.state
        return mv

    def _create_mview(self, s: str, node) -> None:
        """``CREATE MATERIALIZED VIEW [IF NOT EXISTS] name [TBLPROPERTIES
        (...)] AS SELECT ...``: binds the engine's incrementally-maintained
        view machinery (``streaming/materialized.py``) to the SQL surface —
        the Materialize/Snowflake-DMT form. The view materializes NOW
        (Postgres semantics) and goes STALE as its bases change;
        ``REFRESH MATERIALIZED VIEW`` absorbs the bases' change feeds —
        O(changes), never a recompute. TBLPROPERTIES: ``clusterBy`` (the
        join column — state laid out for dim-churn merge pruning),
        ``dimCols`` (projection of the dim side), ``refresh``. The
        definition persists as ``_mview.json`` so a fresh GhsSql
        re-attaches it."""
        if node.columns().nonEmpty() or node.partitioning().nonEmpty():
            raise ValueError(
                "ghs.sql: cannot parse CREATE MATERIALIZED VIEW — use "
                "CREATE MATERIALIZED VIEW name [TBLPROPERTIES (...)] "
                "AS SELECT ...")
        name = self._new_name(node.name())
        if name in self.tables:
            if node.ifNotExists():
                return None
            raise ValueError(f"ghs.sql: table {name!r} already exists")
        spec = {**self._parse_mv_query(
            node.query(), _props(node.tableSpec().properties())),
            "query": node.originalText()}
        mv = self._attach_mview(name, spec)
        mv.refresh()
        Path(mv.state.root).mkdir(parents=True, exist_ok=True)
        (Path(mv.state.root) / "_mview.json").write_text(
            json.dumps(spec, sort_keys=True))
        if self._txn is not None:
            self._txn_created.add(name)
        return None

    _REFRESH_MV = re.compile(
        rf"^REFRESH\s+MATERIALIZED\s+VIEW\s+(?P<name>{_IDENT})\s*$",
        re.IGNORECASE)

    def _refresh_mv(self, s: str) -> None:
        rim = self._REFRESH_INDEX.match(s)
        if rim:
            return self._refresh_index(rim)
        m = self._REFRESH_MV.match(s)
        if not m:
            raise ValueError(
                f"ghs.sql: cannot parse REFRESH: {s[:80]!r} — use "
                "REFRESH MATERIALIZED VIEW name or REFRESH "
                "DEDUP|VECTOR INDEX ON table")
        name = _unq(m.group("name"))
        mv = self.mviews.get(name)
        if mv is None:
            raise ValueError(
                f"ghs.sql: {name!r} is not a materialized view")
        mv.refresh()
        return None

    def _after_write(self, name: str) -> None:
        """Eager maintenance: a view declared with TBLPROPERTIES
        ('refresh'='auto') refreshes after EVERY write statement on a
        base table — always-fresh reads at per-statement refresh cost
        (each refresh is still the incremental O(changes) merge, so the
        cost scales with the statement, not the view).
        ('refresh'='commit:N') defers to every Nth base commit: the
        per-write cost is one metadata watermark check, bounding reads'
        staleness at N-1 commits. Default stays manual: REFRESH
        MATERIALIZED VIEW on the user's cadence."""
        name = _unq(name)
        for mv_name in self._mv_dependents(name):
            spec = self._mv_specs[mv_name]
            if spec.get("auto"):
                self.mviews[mv_name].refresh()
            elif spec.get("every"):
                # deferred batching ('commit:N'): a metadata-only
                # watermark check per write; the incremental refresh
                # runs once per N base commits
                mv = self.mviews[mv_name]
                if mv.pending_commits() >= spec["every"]:
                    mv.refresh()

    # ---------------------------------------------- DML / ALTER dispatch

    _ALTERS = (
        "ghs.sql: ALTER TABLE supports ADD COLUMN col type [DEFAULT expr]"
        ", RENAME COLUMN old TO new, DROP COLUMN col, ADD CONSTRAINT name "
        "CHECK (expr) (further maintenance: OPTIMIZE/VACUUM or the CLI)")

    def _dml(self, s: str, node) -> None:
        """INSERT, UPDATE, DELETE, MERGE, ALTER TABLE and TRUNCATE, by
        their parsed node."""
        kind = _kind(node)
        handler = {
            "InsertIntoStatement": self._insert,
            "UpdateTable": self._update,
            "DeleteFromTable": self._delete,
            "MergeIntoTable": self._merge,
            "TruncateTable": lambda s, node, t: t.delete_where(
                F.expr("true")),
        }.get(kind, self._alter)
        # every handled node names its target table first
        name = _rel_name(node.productElement(0))
        handler(s, node, self._target(name))
        if kind != "AddCheckConstraint":
            self._after_write(name)
        return None

    # ------------------------------------------------------------- INSERT

    def _insert(self, s: str, node, t: NativeTable) -> None:
        if node.partitionSpec().nonEmpty() or node.byName():
            raise ValueError(f"ghs.sql: cannot parse INSERT: {s[:80]!r}")
        # the query is the text after the INSERT clause: a query root's
        # own span can cover only its last clause (ORDER BY, LIMIT)
        df = self._query_df(s, node.query(), _span(node)[1])
        target_cols = _seq(node.userSpecifiedCols()) or list(
            self._data_types(t))
        if len(df.columns) != len(target_cols):
            raise ValueError(
                f"ghs.sql: INSERT provides {len(df.columns)} columns, "
                f"table expects {len(target_cols)} ({target_cols})")
        df = df.toDF(*target_cols)
        defaults = self._data_defaults(t)
        for c, typ in self._data_types(t).items():
            if c in target_cols:
                df = df.withColumn(c, F.col(c).cast(typ))
            else:
                # SQL INSERT semantics: an omitted column takes its
                # declared DEFAULT (stored as a real value — this is a
                # post-add write), else NULL
                df = df.withColumn(c, F.lit(defaults.get(c)).cast(typ))
        if node.overwrite():
            t.insert_overwrite(df)
        else:
            self._keyed_write(t, df)

    @staticmethod
    def _keyed_write(t: NativeTable, df: DataFrame) -> None:
        """The INSERT INTO / COPY INTO write routing. FIRST data commit
        takes the bulk-load path (the reference's own choice for full
        loads) — range-clustered into the declared sortOrder/
        filesPerPartition width with footer stats and blooms. A plain
        upsert here would land the whole batch in ONE file (its rewrite
        width is the affected-file count, which is 0 on an empty table)
        — at scale, CREATE + INSERT INTO SELECT <1 TB> must not produce
        a single-file table. Precombine still resolves in-batch
        duplicate keys, matching the upsert contract. Later batches
        upsert on the primary key (Hudi spark-sql semantics)."""
        head = t.timeline.latest()
        if head is not None and (head.files or head.deltas):
            t.upsert(df)
            return
        if t.precombine:
            from pyspark.sql.window import Window

            w = Window.partitionBy(*t.record_keys).orderBy(
                F.col(t.precombine).desc())
            df = (df.withColumn("_ghs_rn", F.row_number().over(w))
                  .filter(F.col("_ghs_rn") == 1).drop("_ghs_rn"))
        t.bulk_insert(df)

    # ---------------------------------------------------------- COPY INTO

    _COPY = re.compile(
        rf"^COPY\s+INTO\s+(?P<name>{_IDENT})\s+FROM\s+'(?P<src>[^']+)'"
        rf"(?:\s+FILEFORMAT\s*=\s*(?P<fmt>[A-Za-z]+))?\s*$",
        re.IGNORECASE)

    def _copy_into(self, s: str) -> DataFrame:
        """``COPY INTO t FROM '/landing/dir' [FILEFORMAT = PARQUET|CSV|
        JSON|ORC]``: idempotent bookmarked file ingestion — the
        reference's core loop (bookmarked multi-path scan feeding a
        keyed table, processData.py + SURVEY §2.1 S1) surfaced as the
        Databricks COPY INTO statement. A per-(source, format) ledger
        under the TABLE root records processed files (the landing dir
        stays read-only), so a re-run loads only new arrivals and a
        replayed statement loads nothing; the ledger commits only AFTER
        the table write publishes — crash between the two replays the
        batch, and the keyed upsert makes the replay idempotent.
        Columns map BY NAME (extra source columns are ignored; missing
        table columns take their DEFAULT, else NULL; record keys must
        be present). Returns (num_files_loaded, num_rows_loaded)."""
        m = self._COPY.match(s)
        if not m:
            raise ValueError(
                f"ghs.sql: cannot parse COPY: {s[:80]!r} — use COPY "
                "INTO t FROM '/dir' [FILEFORMAT = PARQUET|CSV|JSON|ORC]")
        import hashlib

        from glue_hudi_spark.sources.batch import BookmarkedScan

        t = self._target(m.group("name"))
        fmt = (m.group("fmt") or "parquet").lower()
        token = hashlib.md5(
            f"{m.group('src')}|{fmt}".encode()).hexdigest()[:8]
        scan = BookmarkedScan(
            self.spark, m.group("src"),
            ledger_path=Path(t.root) / f"_copy_ledger_{token}.json",
            fmt=fmt)
        batch = scan.read_batch()
        report = "num_files_loaded int, num_rows_loaded bigint"
        if batch is None:
            return self.spark.createDataFrame([(0, 0)], report)
        missing = [k for k in t.record_keys if k not in batch.columns]
        if missing:
            raise ValueError(
                f"ghs.sql: COPY INTO source lacks record-key column(s) "
                f"{missing}")
        defaults = self._data_defaults(t)
        out = batch.select(*[
            (F.col(c).cast(typ) if c in batch.columns
             else F.lit(defaults.get(c)).cast(typ)).alias(c)
            for c, typ in self._data_types(t).items()])
        n_files = len(scan._pending)
        # persist so the batch's files are parsed ONCE for both the
        # row-count report and the write (num_rows_loaded = source rows
        # read, pre-precombine — the COPY INTO convention; with a
        # precombine column, in-batch duplicate keys land as one row)
        out = out.persist()
        try:
            n_rows = out.count()
            self._keyed_write(t, out)
        finally:
            out.unpersist()
        scan.commit()  # only after the table commit published
        self._after_write(m.group("name"))
        return self.spark.createDataFrame([(n_files, n_rows)], report)

    # ------------------------------------------------------------ RESTORE

    _RESTORE = re.compile(
        rf"^RESTORE\s+(?:TABLE\s+)?(?P<name>{_IDENT})\s+TO\s+"
        rf"(?:VERSION\s+AS\s+OF\s+(?P<ver>\d+)"
        rf"|TIMESTAMP\s+AS\s+OF\s+'(?P<ts>[^']*)')"
        rf"\s*$", re.IGNORECASE)

    def _restore(self, s: str) -> None:
        """Delta's ``RESTORE TABLE t TO VERSION/TIMESTAMP AS OF``: the
        engine's non-destructive rollback — publishes a NEW manifest
        replaying the target commit's file set, so readers switch
        atomically, history stays queryable, and orphaned files age out
        through retention (no data deleted here)."""
        m = self._RESTORE.match(s)
        if not m:
            raise ValueError(
                f"ghs.sql: cannot parse RESTORE: {s[:80]!r} — use "
                "RESTORE TABLE t TO VERSION AS OF n | TO TIMESTAMP AS "
                "OF 'ts'")
        t = self._target(m.group("name"))
        if m.group("ver") is not None:
            cid = int(m.group("ver"))
        else:
            commit = t.timeline.at_timestamp(m.group("ts"))
            if commit is None:
                raise ValueError(
                    f"ghs.sql: no retained commit at or before "
                    f"{m.group('ts')!r}")
            cid = commit.commit_id
        t.rollback(to_commit_id=cid)
        self._after_write(m.group("name"))
        return None

    def _where_bounds(self, t: NativeTable,
                      where: str | None) -> dict | None:
        """``{col: (lo, hi)}`` manifest prune bounds a WHERE text implies
        over ``t``'s logical columns (UPDATE, ``OPTIMIZE ... WHERE``):
        its column-vs-constant conjuncts, constants folded, read from
        Catalyst's optimized plan by ``NativeTable._cond_bounds`` — no
        Spark job. OR/NOT and column-vs-column terms bound nothing."""
        head = t.timeline.latest()
        if not where or head is None:
            return None
        return t._cond_bounds(where, head, logical=True)

    def _data_defaults(self, t: NativeTable) -> dict[str, object]:
        head = t.timeline.latest()
        if head is None:
            return {}
        inv = {p: l for l, p in head.column_mapping.items()}
        return {inv.get(c, c): d["value"]
                for c, d in head.column_defaults.items()}

    def _data_types(self, t: NativeTable) -> dict[str, str]:
        import json as _json

        from glue_hudi_spark.storage.native import META_COLS

        head = t.timeline.latest()
        if head is None:
            raise ValueError(f"ghs.sql: table at {t.root} has no schema yet")
        sch = T.StructType.fromJson(_json.loads(head.schema_json))
        inv = {p: l for l, p in head.column_mapping.items()}
        retired = set(head.retired_cols)
        out = {}
        for f in sch.fields:
            if f.name in META_COLS or f.name in retired:
                continue
            out[inv.get(f.name, f.name)] = f.dataType.simpleString()
        # column defaults live in the manifest, not the stored schema
        for c, d in head.column_defaults.items():
            out.setdefault(inv.get(c, c), d.get("type", "string"))
        return out

    # ------------------------------------------------------------- UPDATE

    def _update(self, s: str, node, t: NativeTable) -> None:
        assigns = {".".join(_seq(a.key().nameParts())):
                   _rewrite(s, a.value()) for a in _seq(node.assignments())}
        # guard the identity columns: a SET on a record key re-upserts
        # the row under the NEW key, so the old row would survive —
        # silent duplication, not an update (Hudi likewise forbids
        # record-key updates). Partition-column SETs relocate the row
        # only under a global index; without one they duplicate too.
        cols = set(self._data_types(t))
        unknown = sorted(set(assigns) - cols)
        if unknown:
            raise ValueError(
                f"ghs.sql: UPDATE SET references unknown column(s) "
                f"{unknown} — table columns are {sorted(cols)}")
        keyed = sorted(set(assigns) & set(t.record_keys))
        if keyed:
            raise ValueError(
                f"ghs.sql: UPDATE cannot SET record-key column(s) "
                f"{keyed} — the rewritten row would be upserted under "
                "the new key while the old row survives. DELETE + "
                "INSERT instead")
        if not t.global_index:
            parted = sorted(set(assigns)
                            & {f.source for f in t._pfields})
            if parted:
                raise ValueError(
                    f"ghs.sql: UPDATE cannot SET partition column(s) "
                    f"{parted} on a non-global-index table — the row "
                    "would be rewritten into the new partition while "
                    "the old-partition copy survives (enable "
                    "global_index for relocating updates)")
        where = (_rewrite(s, node.condition().get())
                 if node.condition().isDefined() else None)
        # manifest-level prune (partition dirs + stats index) BEFORE the
        # scan when the WHERE yields bounds; the rewrite side is pruned
        # by upsert's key-range/bloom ladder regardless
        snap = t.read_snapshot(
            prune=self._where_bounds(t, where)).filter(F.expr(where or "true"))
        # SQL UPDATE: every RHS sees the OLD row — one simultaneous
        # projection, not a withColumn cascade
        out = snap.select(*[
            F.expr(assigns[c]).cast(dict(snap.dtypes)[c]).alias(c)
            if c in assigns else F.col(c)
            for c in snap.columns
        ])
        t.upsert(out)

    # ------------------------------------------------------------- DELETE

    def _delete(self, s: str, node, t: NativeTable) -> None:
        """``delete_where`` filters the files' physical columns, so each
        column reference of the WHERE maps through the head's column
        mapping (a renamed column reads its physical name). With no
        WHERE the condition is the parser's shared TRUE, spanning no
        text."""
        cond, head = node.condition(), t.timeline.latest()
        phys = {k.lower(): v for k, v in
                (head.column_mapping if head else {}).items()}
        where = "true" if cond.toString() == "true" else _rewrite(s, cond, (
            lambda p: ".".join(map(_quote, [phys[p[0].lower()], *p[1:]]))
            if p[0].lower() in phys else None))
        t.delete_where(F.expr(where))

    # ------------------------------------------------------------- MERGE

    def _merge(self, s: str, node, t: NativeTable) -> None:
        tgt, src = node.targetTable(), node.sourceTable()
        if _kind(src) not in ("SubqueryAlias", "UnresolvedRelation"):
            raise ValueError(  # USING (query) without an alias
                "ghs.sql: MERGE must be of the form MERGE INTO tgt t "
                "USING src s ON t.k = s.k WHEN [NOT] MATCHED [AND c] "
                "THEN UPDATE SET ... | DELETE | INSERT *")
        body = src.child() if _kind(src) == "SubqueryAlias" else src
        if _kind(body) == "UnresolvedRelation":
            source = self._ts_source("MERGE", _rel_name(body))
        else:
            # USING (query) alias: the text in the first paren and the
            # last before ON (a query root may span just its last clause)
            source = self._query_df(
                s, body, s.index("(") + 1,
                s.rindex(")", 0, _span(node.mergeCondition())[0]))
        # t.col / s.col -> tgt.col / src.col, on column references only;
        # a side without an alias is qualified by its table name
        quals = {(x.alias() if _kind(x) == "SubqueryAlias"
                  else _rel_name(x).split(".")[-1]).lower(): q
                 for x, q in ((tgt, "tgt"), (src, "src"))}

        def norm(expr) -> str:
            return _rewrite(s, expr, lambda p: (
                quals[p[0].lower()] + "." + ".".join(map(_quote, p[1:]))
                if len(p) > 1 and p[0].lower() in quals else None))

        # the ON clause must be exactly the record-key equality
        # conjunction — merge_into matches on the table's keys by design
        on_keys, stack = set(), [node.mergeCondition()]
        while stack:
            e = stack.pop()
            if _kind(e) == "And":
                stack += _seq(e.children())
                continue
            sides = [_seq(x.nameParts()) if _kind(x) == "UnresolvedAttribute"
                     else [] for x in _seq(e.children())]
            if _kind(e) != "EqualTo" or list(map(len, sides)) != [2, 2] \
                    or sides[0][1] != sides[1][1]:
                raise ValueError(
                    f"ghs.sql: MERGE ON must be a conjunction of "
                    f"key equalities (t.k = s.k); got "
                    f"{_rewrite(s, e)!r}")
            on_keys.add(sides[0][1])
        if on_keys != set(t.record_keys):
            raise ValueError(
                f"ghs.sql: MERGE ON keys {sorted(on_keys)} must equal the "
                f"table's record keys {sorted(t.record_keys)}")
        # each group's WHEN clauses in listed order. merge_into takes one
        # clause of a kind and tries a group's DELETE before its UPDATE,
        # so an UPDATE listed first claims its rows by a negated guard on
        # the DELETE (SQL first-match; the parser rejects an unconditional
        # clause that is not its group's last). By-source clauses see
        # only ``tgt``; merge_into widens the probe for them.
        kw: dict = {}
        for upd, upd_cond, dele, always, actions in (
                ("when_matched_update", "update_condition",
                 "when_matched_delete", "true", node.matchedActions()),
                ("when_not_matched_insert", "insert_condition", None, None,
                 node.notMatchedActions()),
                ("when_not_matched_by_source_update",
                 "by_source_update_condition",
                 "when_not_matched_by_source_delete", True,
                 node.notMatchedBySourceActions())):
            for act in _seq(actions):
                kind = _kind(act)
                if kind == "InsertAction":
                    raise ValueError(
                        "ghs.sql: WHEN NOT MATCHED THEN INSERT supports "
                        "INSERT * (column-list inserts: project the "
                        "USING source instead)")
                key = dele if kind == "DeleteAction" else upd
                if key in kw:
                    raise ValueError(
                        f"ghs.sql: MERGE takes one {key.replace('_', ' ')}"
                        " clause — fold their conditions into one")
                c = (norm(act.condition().get())
                     if act.condition().isDefined() else None)
                if key == dele:
                    if upd in kw:
                        c = (f"NOT coalesce(({kw[upd_cond]}), false)"
                             + (f" AND ({c})" if c else ""))
                    kw[dele] = c or always
                    continue
                kw[upd] = {"UpdateStarAction": "*",
                           "InsertStarAction": True}.get(kind) or {
                    _seq(a.key().nameParts())[-1]: norm(a.value())
                    for a in _seq(act.assignments())}
                kw[upd_cond] = c
        kw.setdefault("when_not_matched_insert", False)
        t.merge_into(source, **kw)

    # ------------------------------------------------------------- ALTER

    def _alter(self, s: str, node, t: NativeTable) -> None:
        """ADD CONSTRAINT, ADD COLUMNS, RENAME COLUMN, DROP COLUMNS (a
        nested field name reaches the table dotted: no column of it)."""
        if _kind(node) == "AddCheckConstraint":
            # Delta semantics: EXISTING rows must already satisfy the
            # constraint (one aggregate over the snapshot; NULL passes —
            # SQL CHECK), then future writes enforce it at the write
            # chokepoint. Persisted so reopened handles keep enforcing.
            expr = node.checkConstraint().condition()
            bad = t.read_snapshot().filter(
                ~F.coalesce(F.expr(expr), F.lit(True))).count()
            if bad:
                raise ValueError(
                    f"ghs.sql: cannot ADD CONSTRAINT ({expr}): {bad} "
                    "existing rows violate it")
            t.constraints.append(expr)
            return t.save_properties()
        if _kind(node) == "RenameColumn":
            return t.rename_column(".".join(_seq(node.column().name())),
                                   node.newName())
        if _kind(node) == "DropColumns":
            for field in _seq(node.columnsToDrop()):
                t.drop_column(".".join(_seq(field.name())))
            return None
        for col in _seq(node.columnsToAdd()):
            if col.path().isDefined() or col.position().isDefined():
                raise ValueError(self._ALTERS)
            self._add_column(t, col.colName(), col.dataType(), col.default())
        return None

    # --------------------------------------- introspection / maintenance

    _SHOWS = (
        "ghs.sql: SHOW supports SHOW TABLES, SHOW VIEWS, SHOW "
        "MATERIALIZED VIEWS, SHOW PARTITIONS t, SHOW TBLPROPERTIES t, "
        "SHOW CREATE TABLE t, and SHOW INDEXES ON t")

    def _show(self, s: str, node) -> DataFrame:
        kind = _kind(node)
        if kind in ("ShowTables", "ShowViews"):
            if _kind(node.namespace()) != "CurrentNamespace$" or \
                    node.pattern().isDefined():
                raise ValueError(self._SHOWS)
            if kind == "ShowViews":
                return self.spark.createDataFrame(
                    [(n,) for n in sorted(self.views)] or [],
                    "viewName string")
            return self.spark.createDataFrame(
                [(n,) for n in sorted(self.tables)] or [],
                "tableName string")
        # AS SERDE, PARTITION (...) and ('key') are not supported
        if (kind == "ShowCreateTable" and node.asSerde()) or (
                kind == "ShowPartitions" and node.pattern().isDefined()) or (
                kind == "ShowTableProperties"
                and node.propertyKey().isDefined()):
            raise ValueError(self._SHOWS)
        name = _rel_name(node.productElement(0))
        if kind == "ShowCreateTable":
            return self._show_create(name)
        t = self._table(name)
        if kind == "ShowTableProperties":
            return self.spark.createDataFrame(
                sorted(self._table_props(t).items()),
                "key string, value string")
        # metadata-only: partition tuples come from the manifest's file
        # paths — no file is listed or opened (at 100 TB, SHOW PARTITIONS
        # must not touch data)
        if not t.partition_keys:
            raise ValueError(
                f"ghs.sql: table {name!r} is not partitioned")
        # delegate to the Iceberg-style metadata table — ONE
        # implementation of the manifest partition walk
        names = [f.name for f in t._pfields]
        return t.metadata_table("partitions").select(
            F.concat_ws("/", *[
                F.concat_ws("=", F.lit(n), F.col("partition")[n])
                for n in names]).alias("partition")
        ).orderBy("partition")

    def _show_mviews(self) -> DataFrame:
        rows = []
        for n in sorted(self.mviews):
            spec = self._mv_specs[n]
            bases = ([spec["base"]] if spec["kind"] == "agg"
                     else [spec["fact"], spec["dim"]])
            rows.append((n, spec["kind"], ",".join(bases),
                         bool(spec.get("auto"))))
        return self.spark.createDataFrame(
            rows or [], "name string, kind string, bases string, "
                        "auto_refresh boolean")

    @staticmethod
    def _sql_literal(v: object) -> str:
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, (int, float)):
            return str(v)
        # strings, and anything else (dates, decimals) via its string
        # form — the consumer always CASTs to the declared column type
        s = str(v)
        return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

    @staticmethod
    def _table_props(t: NativeTable) -> dict[str, str]:
        """The Hudi-convention TBLPROPERTIES payload for a table handle
        (shared by SHOW CREATE TABLE and SHOW TBLPROPERTIES)."""
        props = {"primaryKey": ",".join(t.record_keys)}
        if t.precombine:
            props["preCombineField"] = t.precombine
        props["type"] = t.storage_type
        if t.stats_cols:
            props["statsCols"] = ",".join(t.stats_cols)
        if t.sort_order:
            props["sortOrder"] = ",".join(t.sort_order)
        if t.bloom_index:
            props["bloomIndex"] = "true"
        if t.files_per_partition:
            props["filesPerPartition"] = str(t.files_per_partition)
        return props

    def _show_create(self, name: str) -> DataFrame:
        """Delta's ``SHOW CREATE TABLE``: a statement this dispatcher
        itself re-executes to an equivalent table (round-trip pinned in
        tests). Emitted from the live handle + manifest (current logical
        schema, declared defaults), not the original text — renames and
        ADD/DROP COLUMN are reflected. LOCATION only for EXTERNAL roots:
        a warehouse-managed table re-created elsewhere must land in the
        new warehouse, not point back at the old files. A materialized
        view emits its recorded CREATE MATERIALIZED VIEW statement."""
        if name in self.views:
            return self.spark.createDataFrame(
                [(f"CREATE VIEW {name}\nAS {self.views[name]}",)],
                "createtab_stmt string")
        if name in self.mviews:
            spec = self._mv_specs[name]
            props = {}
            if spec.get("cluster_by"):
                props["clusterBy"] = spec["cluster_by"]
            if spec.get("dim_cols"):
                props["dimCols"] = ",".join(spec["dim_cols"])
            if spec.get("auto"):
                props["refresh"] = "auto"
            elif spec.get("every"):
                props["refresh"] = f"commit:{spec['every']}"
            stmt = f"CREATE MATERIALIZED VIEW {name}"
            if props:
                stmt += "\nTBLPROPERTIES (" + ", ".join(
                    f"'{k}'='{v}'" for k, v in props.items()) + ")"
            stmt += f"\nAS {spec['query']}"
            return self.spark.createDataFrame(
                [(stmt,)], "createtab_stmt string")
        t = self._table(name)
        defaults = self._data_defaults(t)
        cols = []
        for c, typ in self._data_types(t).items():
            d = (f" DEFAULT {self._sql_literal(defaults[c])}"
                 if defaults.get(c) is not None else "")
            cols.append(f"{c} {typ}{d}")
        props = self._table_props(t)
        stmt = f"CREATE TABLE {name} (\n  " + ",\n  ".join(cols) + \
            "\n) USING ghs_table"
        if t.partition_keys:
            stmt += f"\nPARTITIONED BY ({', '.join(t.partition_keys)})"
        try:
            external = not Path(t.root).resolve().is_relative_to(
                self.warehouse.resolve())
        except (OSError, ValueError):
            external = True
        if external:
            stmt += f"\nLOCATION '{t.root}'"
        stmt += "\nTBLPROPERTIES (" + ", ".join(
            f"'{k}'='{v}'" for k, v in props.items()) + ")"
        return self.spark.createDataFrame(
            [(stmt,)], "createtab_stmt string")

    _DESCRIBE_LOG = re.compile(
        rf"^DESC(?:RIBE)?\s+(?P<what>HISTORY|DETAIL)\s+(?P<name>{_IDENT})\s*$",
        re.IGNORECASE)

    def _describe_detail(self, name: str) -> DataFrame:
        """Delta's ``DESCRIBE DETAIL``: one row of physical table facts
        from the head manifest + the durable ``_table.json`` config —
        O(manifest), no file is opened."""
        t = self._table(name)
        head = t.timeline.latest()
        files = list(head.files) if head else []
        n_deltas = sum(len(d["files"]) for d in head.deltas) if head else 0
        size = (sum(head.file_sizes.get(f, 0) for f in files)
                if head else 0)
        rows = (sum(head.row_counts.get(f, 0) for f in files)
                if head else 0)
        props = {k: getattr(t, k) for k in
                 ("stats_cols", "bloom_index", "global_index",
                  "deletion_vectors", "strict_schema",
                  "change_feed_deletes", "sort_order", "constraints")
                 if getattr(t, k)}
        return self.spark.createDataFrame(
            [(
                "ghs_table", str(t.root), t.storage_type,
                list(t.record_keys), t.precombine,
                list(t.partition_keys),
                len(files), n_deltas, int(size), int(rows),
                head.commit_id if head else None,
                len(t.timeline.history()),
                json.dumps(props, sort_keys=True, default=str),
            )],
            "format string, location string, storage_type string, "
            "record_keys array<string>, precombine string, "
            "partition_keys array<string>, num_files int, "
            "num_delta_files int, size_bytes long, num_rows long, "
            "head_commit long, num_commits int, properties string")

    def _describe_log(self, m: "re.Match[str]") -> DataFrame:
        if m.group("what").upper() == "DETAIL":
            return self._describe_detail(_unq(m.group("name")))
        # Delta's DESCRIBE HISTORY: the commit timeline, newest first
        t = self._table(m.group("name"))
        rows = [(c.commit_id, c.action,
                 float(c.wall_time), len(c.files),
                 json.dumps(c.stats, sort_keys=True, default=str))
                for c in reversed(t.timeline.history())]
        return self.spark.createDataFrame(
            rows, "version long, operation string, timestamp double, "
                  "n_files int, stats string")

    def _describe(self, s: str, node) -> DataFrame:
        if node.isExtended() or node.partitionSpec().nonEmpty():
            raise ValueError(f"ghs.sql: cannot parse DESCRIBE: {s[:80]!r}")
        t = self._table(_rel_name(node.relation()))
        rows = [(c, typ, "") for c, typ in self._data_types(t).items()]
        rows += [("# record_keys", ",".join(t.record_keys), ""),
                 ("# partition_keys", ",".join(t.partition_keys), ""),
                 ("# storage_type", t.storage_type, ""),
                 ("# location", str(t.root), "")]
        return self.spark.createDataFrame(
            rows, "col_name string, data_type string, comment string")

    def _analyze(self, s: str, node) -> DataFrame:
        """Spark's ``ANALYZE TABLE t COMPUTE STATISTICS [FOR COLUMNS c, …
        | FOR ALL COLUMNS]`` bound to :meth:`NativeTable.analyze`: ONE
        aggregate pass over one snapshot scan computes row count plus
        per-column NDV (HLL++), null count and min/max, persisted to
        ``_stats/analyze.json`` stamped with the commit id it describes —
        the planner-facing statistics a broadcast/bucketing/skew decision
        reads without touching data again. Unlike Spark's statement this
        RETURNS the stats (one row per analyzed column; the bare form
        returns the row count only), so a SQL session can inspect what it
        just computed. Allowed inside a transaction: the sidecar is
        derived, advisory state outside the commit protocol."""
        name = _rel_name(node.child())
        if _kind(node) == "AnalyzeTable" and (
                node.noScan() or node.partitionSpec().nonEmpty()):
            raise ValueError(f"ghs.sql: cannot parse ANALYZE: {s[:80]!r}")
        t = self._table(name)
        if _kind(node) == "AnalyzeTable":
            cols = []
        elif node.allColumns():
            cols = None
        else:
            cols = _seq(node.columnNames().get())
            known = set(self._data_types(t))
            missing = [c for c in cols if c not in known]
            if missing:
                raise ValueError(
                    f"ghs.sql: ANALYZE columns not in {name!r}: {missing}")
        out = t.analyze(cols)
        rows = [(c, st["ndv_est"], st["null_count"], st["min"], st["max"],
                 out["row_count"], out["as_of_commit"])
                for c, st in out["columns"].items()]
        if not rows:
            rows = [(None, None, None, None, None,
                     out["row_count"], out["as_of_commit"])]
        return self.spark.createDataFrame(
            rows, "column string, ndv_est long, null_count long, "
                  "min string, max string, row_count long, "
                  "as_of_commit long")

    def _cache_table(self, s: str, node) -> None:
        """Spark's ``CACHE [LAZY] TABLE``: pin the CURRENT snapshot in
        executor memory and bind the view to the pinned frame — repeated
        reads skip the scan entirely. Session-scoped (Spark semantics);
        any write that moves the table's head releases the pin via
        ``_with_views`` rather than serving the pre-write snapshot. The
        default is EAGER (Spark parity): the pin materializes now, not
        on first read."""
        if not node.options().isEmpty():
            raise ValueError(f"ghs.sql: cannot parse CACHE: {s[:80]!r} — "
                             "use CACHE [LAZY] TABLE name")
        name = _rel_name(node.table())
        t = self._table(name)
        head = t.timeline.latest()
        if head is None:
            raise ValueError(f"ghs.sql: table {name!r} has no commits — "
                             "nothing to cache")
        self._release_cache(name)
        df = t.read_snapshot().persist()
        if not node.isLazy():
            df.count()
        df.createOrReplaceTempView(name)
        self._view_cache[name] = (head.commit_id, head.wall_time)
        self._cached[name] = df
        return None

    def _uncache_table(self, s: str, node) -> None:
        name = _rel_name(node.table())
        if name not in self.tables and node.ifExists():
            return None  # Spark parity: IF EXISTS makes it a no-op
        self._table(name)  # unknown table still raises (Spark parity)
        if name in self._cached:
            self._release_cache(name)
            # rebind the plain snapshot view at the next statement
            self._view_cache.pop(name, None)
        return None

    _OPTIMIZE = re.compile(
        rf"^OPTIMIZE\s+(?P<name>{_IDENT})"
        rf"(?:\s+WHERE\s+(?P<where>.+?))?"
        rf"(?:\s+ZORDER\s+BY\s*\((?P<cols>[^)]*)\))?\s*$",
        re.IGNORECASE | re.DOTALL)

    def _optimize(self, s: str) -> None:
        """Delta's OPTIMIZE surface: plain → bin-pack small files;
        WHERE <bounds> → scope the pack to matching files (at 100 TB a
        maintenance pass is scheduled per partition slice, never
        all-or-nothing); ZORDER BY (cols) → cluster on the interleaved
        key. WHERE must derive manifest bounds — a predicate the bound
        extractor can't prove raises rather than silently packing the
        whole table."""
        m = self._OPTIMIZE.match(s)
        if not m:
            raise ValueError(f"ghs.sql: cannot parse OPTIMIZE: {s[:80]!r}")
        t = self._target(m.group("name"))
        prune = None
        if m.group("where"):
            if m.group("cols"):
                raise ValueError(
                    "ghs.sql: OPTIMIZE ... WHERE scopes bin-packing "
                    "only — ZORDER rewrites the whole table (drop the "
                    "WHERE, or bin-pack the slice first)")
            prune = self._where_bounds(t, m.group("where"))
            if prune is None:
                raise ValueError(
                    f"ghs.sql: OPTIMIZE WHERE {m.group('where')!r} "
                    "derives no manifest bounds (use simple range/"
                    "equality conjunctions on partition or stats "
                    "columns) — refusing to silently pack everything")
        if m.group("cols"):
            t.cluster(zorder_by=[_unq(c.strip())
                                 for c in m.group("cols").split(",")])
        else:
            t.bin_pack(prune=prune)
        return None

    _VACUUM = re.compile(
        rf"^VACUUM\s+(?P<name>{_IDENT})(?:\s+(?P<dry>DRY\s+RUN))?\s*$",
        re.IGNORECASE)

    def _vacuum(self, s: str) -> DataFrame | None:
        m = self._VACUUM.match(s)
        if not m:
            raise ValueError(f"ghs.sql: cannot parse VACUUM: {s[:80]!r}")
        if m.group("dry"):
            # Delta's VACUUM ... DRY RUN: list what a real run would
            # reclaim (same selection incl. the in-flight threshold),
            # delete nothing — which also makes it transaction-safe,
            # though for symmetry with VACUUM it stays rejected in-txn
            rep = self._table(m.group("name")).vacuum(dry_run=True)
            rows = ([("data", f) for f in rep["deleted_files"]]
                    + [("bloom", f) for f in rep["deleted_blooms"]]
                    + [("dv", f) for f in rep["deleted_dvs"]]
                    + [("inflight_skipped", f)
                       for f in rep["skipped_inflight"]])
            return self.spark.createDataFrame(
                rows or [], "kind string, path string")
        self._table(m.group("name")).vacuum()
        return None

    # ------------------------------------------------------------- DROP

    _DROP_MVIEW = re.compile(
        rf"^DROP\s+MATERIALIZED\s+VIEW\s+(?P<ie>IF\s+EXISTS\s+)?"
        rf"(?P<name>{_IDENT})\s*$", re.IGNORECASE)

    def _mv_dependents(self, name: str) -> list[str]:
        out = []
        for mv, spec in self._mv_specs.items():
            bases = ([spec.get("base")] if spec["kind"] == "agg"
                     else [spec.get("fact"), spec.get("dim")])
            if name in bases:
                out.append(mv)
        return sorted(out)

    def _view_dependents(self, name: str) -> list[str]:
        """Stored views whose parsed query reads ``name``, in a CTE body
        or subquery too; a same-named column or string is no reference,
        so it guards no DROP."""
        return sorted(v for v, q in self.views.items()
                      if v != name and name.lower() in _refs(self._parse(q)))

    def _drop_mview(self, m: "re.Match[str]") -> None:
        return self._drop_named("MATERIALIZED VIEW", _unq(m.group("name")),
                                bool(m.group("ie")))

    def _drop(self, s: str, node) -> None:
        """``DROP TABLE|VIEW [IF EXISTS] name``."""
        if _kind(node) == "DropTable" and node.purge():
            raise ValueError(f"ghs.sql: cannot parse DROP: {s[:80]!r}")
        return self._drop_named(
            "VIEW" if _kind(node) == "DropView" else "TABLE",
            _rel_name(node.child()), node.ifExists())

    def _drop_named(self, kind: str, name: str, if_exists: bool) -> None:
        if kind == "VIEW":
            if name not in self.views:
                if if_exists:
                    return None
                raise ValueError(
                    f"ghs.sql: unknown view {name!r}"
                    + (" — use DROP MATERIALIZED VIEW"
                       if name in self.mviews else ""))
            vdeps = self._view_dependents(name)
            if vdeps:
                raise ValueError(
                    f"ghs.sql: view {name!r} is referenced by stored "
                    f"view(s) {vdeps} — DROP VIEW them first")
            del self.views[name]
            self._save_views()
            self.spark.catalog.dropTempView(name)
            return None
        is_mv_stmt = kind != "TABLE"
        if name in self.views:
            raise ValueError(
                f"ghs.sql: {name!r} is a stored view — use DROP VIEW")
        if name not in self.tables:
            if if_exists:
                return None
            raise ValueError(f"ghs.sql: unknown table {name!r}")
        if is_mv_stmt != (name in self.mviews):
            raise ValueError(
                f"ghs.sql: {name!r} is a "
                f"{'materialized view' if name in self.mviews else 'table'}"
                f" — use DROP "
                f"{'MATERIALIZED VIEW' if name in self.mviews else 'TABLE'}"
                f" {name}")
        deps = self._mv_dependents(name)
        if deps:
            raise ValueError(
                f"ghs.sql: table {name!r} has dependent materialized "
                f"view(s) {deps} — DROP MATERIALIZED VIEW them first")
        vdeps = self._view_dependents(name)
        if vdeps:
            raise ValueError(
                f"ghs.sql: {name!r} is referenced by stored view(s) "
                f"{vdeps} — DROP VIEW them first (dropping the base "
                "would leave every later statement failing at the "
                "view's replan)")
        import shutil

        t = self.tables.pop(name)
        self.mviews.pop(name, None)
        self._mv_specs.pop(name, None)
        self._view_cache.pop(name, None)
        self._release_cache(name)
        try:
            managed = Path(t.root).resolve().is_relative_to(
                self.warehouse.resolve())
        except (OSError, ValueError):
            managed = False
        if managed:
            shutil.rmtree(t.root, ignore_errors=True)
        # LOCATION-pinned tables are EXTERNAL (Delta/Iceberg/Hive
        # semantics): DROP deregisters but leaves the data — a later
        # NativeTable.open() can reattach. Only warehouse-managed roots
        # are deleted.
        # unconditional: catalog.listTables() lowercases names, so a
        # cased-name comparison left stale views alive (round-10 advice)
        self.spark.catalog.dropTempView(name)
        return None
