"""Driver-side expression builders that avoid per-element py4j traffic.

``Column.isin(values)`` constructs one JVM literal per value through
py4j — a driver-side round trip each (~1 ms): a 1,500-key equality
lookup spent ~2 s BUILDING the predicate before Spark saw it (measured
on orders_mv_join_agg's dim-key leg, round 14). Rendering the whole
``IN`` list as one SQL string parsed JVM-side collapses that to a
single call — the same driver-boundary trick the round-13 centroid
builders use (operators/similarity.py).

Exactness contract: a value is only rendered when its SQL literal
parses back to the IDENTICAL typed literal ``isin`` would have built
(ints within int64, shortest-roundtrip doubles, clean strings); any
other value falls the whole call back to ``isin``. The rendered
predicate is the same Catalyst ``In`` over a plain column attribute, so
parquet pushdown (``PushedFilters: In(col, ...)``) is preserved —
unlike e.g. an ``array_contains`` rewrite, which never pushes down.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

# below this, per-value py4j cost is noise and isin is simplest
_SQL_TEXT_MIN = 32


def _sql_in_literal(v) -> str | None:
    """Exact Spark-SQL literal for ``v``, or None when no provably
    identical rendering exists (caller falls back to ``isin``)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        # py4j ships int32-sized ints as INT and the rest as BIGINT;
        # the SQL parser types bare integer literals identically — except
        # Long.MIN_VALUE, whose digits overflow BIGINT before the unary
        # minus applies and parse as a DECIMAL (widening the whole list)
        if -(1 << 63) < v < (1 << 63):
            return str(v)
        return None
    if isinstance(v, float):
        if math.isnan(v) or math.isinf(v):
            return None
        # shortest-roundtrip repr -> Double.parseDouble restores the
        # exact bits (pinned by tests/test_vectors.py's float-literal pin)
        return repr(v) + "D"
    if isinstance(v, str):
        # parser escape rules vary with spark.sql.parser.escapedStringLiterals;
        # only render strings no rule can alter
        if ("'" in v) or ("\\" in v) or any(ord(c) < 0x20 for c in v):
            return None
        return "'" + v + "'"
    return None


def in_values(col: str | Column, values) -> Column:
    """``col IN (values...)`` with O(1) py4j calls for large literal
    lists; exact ``isin`` semantics (falls back to it whenever a value
    has no provably identical SQL rendering, or the list is small)."""
    vals = list(values)
    # a dotted name is a nested-field path to F.col; the SQL text would
    # quote it whole as one (missing) column, so leave it to isin
    if len(vals) >= _SQL_TEXT_MIN and isinstance(col, str) \
            and "." not in col:
        lits = [_sql_in_literal(v) for v in vals]
        if all(lit is not None for lit in lits):
            name = "`" + col.replace("`", "``") + "`"
            return F.expr(f"{name} IN ({','.join(lits)})")
    c = F.col(col) if isinstance(col, str) else col
    return c.isin(vals)
