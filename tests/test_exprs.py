"""SQL-text IN builder (functions/exprs.py) — exact isin parity.

Large literal IN lists built through ``Column.isin`` cost one py4j
round-trip per value (~2 s at 1,500 values, measured round 14 on the
materialized join-agg dim leg). ``in_values`` renders the list as one
SQL string; these tests pin that it selects IDENTICAL rows to isin for
every rendered type, falls back on unrenderable values, and keeps the
Catalyst ``In`` shape parquet pushdown requires.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from glue_hudi_spark.functions.exprs import (
    _SQL_TEXT_MIN,
    _sql_in_literal,
    in_values,
)


def _parity(spark, df, col, vals):
    a = sorted(r[0] for r in df.filter(in_values(col, vals)).collect())
    b = sorted(r[0] for r in df.filter(F.col(col).isin(list(vals))).collect())
    assert a == b
    return a


def test_int_parity_large_list(spark):
    df = spark.range(2000).select(F.col("id"))
    vals = list(range(0, 2000, 3)) + [10**12, -(1 << 40)]
    assert len(vals) >= _SQL_TEXT_MIN
    got = _parity(spark, df, "id", vals)
    assert got == list(range(0, 2000, 3))


def test_string_parity_and_fallback(spark):
    df = spark.range(500).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"))
    clean = [f"k{i}" for i in range(0, 500, 5)]
    assert _parity(spark, df, "k", clean) == sorted(clean)
    # a single quote-bearing value falls the WHOLE call back to isin
    dirty = clean + ["it's"]
    expr = in_values("k", dirty)
    assert _parity(spark, df, "k", dirty) == sorted(clean)
    assert "IN (" not in str(expr)  # fallback path taken


def test_float_parity_exact_bits(spark):
    import struct

    vals = [0.1 + 0.2, -0.0, 1e-310, 3.141592653589793, -1.5e300] + [
        float(i) / 7 for i in range(60)]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = df.filter(in_values("x", vals)).collect()
    # every row survives: each rendered literal restored identical bits
    assert len(got) == df.count()
    bits = {struct.pack("<d", r["x"]) for r in got}
    assert bits == {struct.pack("<d", v) for v in vals}


def test_nan_inf_bool_none_fall_back(spark):
    assert _sql_in_literal(float("nan")) is None
    assert _sql_in_literal(float("inf")) is None
    assert _sql_in_literal(1 << 70) is None
    assert _sql_in_literal(True) == "true"
    assert _sql_in_literal(None) == "NULL"
    df = spark.range(100).select(F.col("id").cast("double").alias("x"))
    vals = [float(i) for i in range(40)] + [float("nan")]
    _parity(spark, df, "x", vals)


def test_small_lists_use_isin(spark):
    expr = in_values("id", [1, 2, 3])
    assert "IN (" not in str(expr)


def test_pushdown_shape_preserved(spark, tmp_path):
    """The rendered predicate must reach the parquet scan as a pushed
    In over the plain column — the property an array_contains rewrite
    would lose."""
    p = str(tmp_path / "t")
    spark.range(1000).selectExpr("id", "id * 2 AS v").write.parquet(p)
    df = spark.read.parquet(p)
    vals = list(range(0, 1000, 7))
    plan = df.filter(in_values("id", vals))._jdf.queryExecution() \
        .executedPlan().toString()
    assert "PushedFilters: [In(id" in plan


def test_long_min_value_falls_back(spark):
    """Long.MIN_VALUE has no BIGINT SQL literal (its digits parse as a
    DECIMAL under the unary minus): it falls the call back to isin, so
    the IN list keeps the column's type and its pushdown."""
    lo = -(1 << 63)
    assert _sql_in_literal(lo) is None
    assert _sql_in_literal(lo + 1) == str(lo + 1)
    vals = list(range(40)) + [lo]
    assert "IN (" not in str(in_values("id", vals))
    df = spark.range(100).select(F.col("id"))
    assert _parity(spark, df, "id", vals) == list(range(40))


def test_dotted_column_name_falls_back(spark):
    """A dotted name resolves as a nested field through F.col; the SQL
    text path would quote it whole and fail, so it takes isin."""
    df = spark.range(100).select(F.struct(F.col("id")).alias("s"))
    vals = list(range(0, 100, 2))
    assert len(vals) >= _SQL_TEXT_MIN
    assert "IN (" not in str(in_values("s.id", vals))
    got = sorted(r["s"]["id"] for r in df.filter(
        in_values("s.id", vals)).collect())
    assert got == vals
