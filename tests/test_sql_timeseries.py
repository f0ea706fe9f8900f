"""SQL time-series TVF surface (r12 verdict #4): TimescaleDB's
``time_bucket_gapfill``/``locf``/``interpolate``/``lttb`` reachable from
the engine's SQL face, rewriting to the existing
``operators/timeseries.py`` operators (no second implementation). The
reference's one SQL entry point (processData.py:317-327) set the
precedent that SQL is a first-class surface here."""

from __future__ import annotations

import pytest

from glue_hudi_spark.sql import GhsSql


@pytest.fixture()
def ghs(spark, tmp_path):
    g = GhsSql(spark, tmp_path / "wh")
    g.sql("""
        CREATE TABLE m (id BIGINT, k STRING, ts TIMESTAMP,
                        v DECIMAL(18,6))
            USING ghs_table TBLPROPERTIES ('primaryKey'='id');
        INSERT INTO m VALUES
            (1,'a',TIMESTAMP'2024-01-01 03:00:00',1.0),
            (2,'a',TIMESTAMP'2024-01-03 05:00:00',3.5),
            (3,'a',TIMESTAMP'2024-01-06 01:00:00',6.0),
            (4,'b',TIMESTAMP'2024-01-02 10:00:00',2.0),
            (5,'b',TIMESTAMP'2024-01-02 11:00:00',4.0)
    """)
    return g


def test_gapfill_tvf_locf_and_interpolate(ghs):
    rows = ghs.sql(
        "SELECT k, CAST(bucket AS DATE) AS day, "
        "CAST(day_v AS DOUBLE) AS day_v, "
        "CAST(day_v_locf AS DOUBLE) AS locf_v, "
        "ROUND(day_v_interp, 4) AS interp_v, is_gap "
        "FROM time_bucket_gapfill('m', 'day', 'ts', 'k', "
        "'sum(v) AS day_v', 'locf,interpolate') "
        "ORDER BY k, day").collect()
    a = [r for r in rows if r.k == "a"]
    # dense grid over a's span: 6 daily buckets, 3 observed
    assert len(a) == 6 and sum(r.is_gap for r in a) == 3
    by_day = {str(r.day): r for r in a}
    assert by_day["2024-01-02"].locf_v == 1.0          # carried forward
    assert by_day["2024-01-02"].interp_v == 2.25       # 1 + (3.5-1)/2
    assert by_day["2024-01-05"].interp_v == pytest.approx(5.1667, 1e-3)
    # b: two same-day rows aggregate into ONE observed bucket, no gaps
    b = [r for r in rows if r.k == "b"]
    assert len(b) == 1 and b[0].day_v == 6.0 and not b[0].is_gap


def test_gapfill_tvf_composes_with_where_and_join(ghs):
    # the bound view is plain SQL: filters and joins over it work
    n = ghs.sql(
        "SELECT COUNT(*) AS n FROM time_bucket_gapfill('m','day','ts',"
        "'k','sum(v) AS day_v') WHERE is_gap").first().n
    assert n == 3
    joined = ghs.sql(
        "SELECT g.k, COUNT(*) AS n "
        "FROM time_bucket_gapfill('m','day','ts','k','sum(v) AS dv') g "
        "JOIN m ON g.k = m.k GROUP BY g.k ORDER BY g.k").collect()
    assert [r.k for r in joined] == ["a", "b"]


def test_gapfill_tvf_multi_agg_and_options(ghs):
    row = ghs.sql(
        "SELECT CAST(dv AS DOUBLE) AS dv, cnt "
        "FROM time_bucket_gapfill('m','day','ts','k',"
        "'sum(v) AS dv; count(*) AS cnt', 'nolocf,max_buckets=3') "
        "WHERE k = 'a' AND CAST(bucket AS DATE) = DATE'2024-01-01'"
    ).first()
    assert row.dv == 1.0 and row.cnt == 1
    out = ghs.sql(
        "SELECT * FROM time_bucket_gapfill('m','day','ts','k',"
        "'sum(v) AS dv', 'nolocf,max_buckets=3') WHERE k = 'a'")
    # max_buckets clamps a's 6-day span to 3 rows + audit flag column
    assert out.count() == 3 and "_gf_clamped" in out.columns
    assert "dv_locf" not in out.columns  # nolocf honored


def test_lttb_tvf_downsamples_and_anchors(ghs, spark):
    import pyspark.sql.functions as F

    # long series: 50 hourly points for one key through the SQL face
    ghs.sql("DROP TABLE m")
    spark.range(50).select(
        F.col("id"),
        F.lit("s").alias("k"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(hours=F.col("id").cast("int"))).alias("ts"),
        (F.col("id") % 7).cast("double").alias("v"),
    ).createOrReplaceTempView("series")
    out = ghs.sql(
        "SELECT k, ts, v FROM lttb('series', 'ts', 'v', 10, 'k') "
        "ORDER BY ts").collect()
    assert len(out) == 10
    src = spark.table("series").orderBy("ts").collect()
    assert out[0].ts == src[0].ts and out[-1].ts == src[-1].ts
    src_set = {(r.ts, r.v) for r in src}
    assert all((r.ts, r.v) in src_set for r in out)


def test_tvf_inside_stored_view_rebinds_across_sessions(ghs, spark,
                                                        tmp_path):
    """A stored view whose body uses the gapfill TVF must re-bind after
    a catalog reattach (the view replans through _rewrite_tvfs) and
    SHOW CREATE must round-trip the original text."""
    ghs.sql(
        "CREATE VIEW daily_gaps AS SELECT k, bucket, is_gap "
        "FROM time_bucket_gapfill('m','day','ts','k','sum(v) AS dv')")
    assert ghs.sql(
        "SELECT COUNT(*) AS n FROM daily_gaps WHERE is_gap").first().n == 3
    show = ghs.sql("SHOW CREATE TABLE daily_gaps").first()[0]
    assert "time_bucket_gapfill('m'" in show
    fresh = GhsSql(spark, tmp_path / "wh")  # reattach from disk
    assert fresh.sql(
        "SELECT COUNT(*) AS n FROM daily_gaps WHERE is_gap").first().n == 3


def test_tvf_view_sees_base_table_changes(ghs):
    before = ghs.sql(
        "SELECT COUNT(*) AS n FROM time_bucket_gapfill('m','day','ts',"
        "'k','sum(v) AS dv')").first().n
    # extend a's span by one day: grid grows, TVF must re-bind at head
    ghs.sql("INSERT INTO m VALUES "
            "(9,'a',TIMESTAMP'2024-01-07 01:00:00',7.0)")
    after = ghs.sql(
        "SELECT COUNT(*) AS n FROM time_bucket_gapfill('m','day','ts',"
        "'k','sum(v) AS dv')").first().n
    assert after == before + 1


def test_tvf_error_shapes(ghs):
    with pytest.raises(ValueError, match="unknown table or view"):
        ghs.sql("SELECT * FROM time_bucket_gapfill('nope','day','ts',"
                "'k','sum(v) AS x')")
    with pytest.raises(ValueError, match="AS <name>"):
        ghs.sql("SELECT * FROM time_bucket_gapfill('m','day','ts','k',"
                "'sum(v)')")
    with pytest.raises(ValueError, match="unknown option"):
        ghs.sql("SELECT * FROM time_bucket_gapfill('m','day','ts','k',"
                "'sum(v) AS x','bogus')")
    with pytest.raises(ValueError, match="unit"):
        ghs.sql("SELECT * FROM time_bucket_gapfill('m','fortnight','ts',"
                "'k','sum(v) AS x')")
    with pytest.raises(ValueError, match="n_out"):
        ghs.sql("SELECT * FROM lttb('m', 'ts', 'v', 2, 'k')")
    with pytest.raises(ValueError, match="cannot bind arguments"):
        ghs.sql("SELECT * FROM lttb('m', 'ts', 'v', 'k')")


def test_gapfill_minute_and_year_units(ghs):
    """r13: telemetry-grade 'minute' and compliance-grade 'year' grids
    (max_buckets is the poisoned-timestamp guard at minute granularity)."""
    rows = ghs.sql(
        "SELECT k, bucket, is_gap "
        "FROM time_bucket_gapfill('m', 'minute', 'ts', 'k', "
        "'count(*) AS n', 'nolocf,max_buckets=100') WHERE k = 'b' "
        "ORDER BY bucket").collect()
    # b: 10:00 and 11:00 observations → 61-minute dense grid
    assert len(rows) == 61
    assert sum(r.is_gap for r in rows) == 59
    years = ghs.sql(
        "SELECT k, bucket FROM time_bucket_gapfill('m', 'year', 'ts', "
        "'k', 'count(*) AS n', 'nolocf')").collect()
    assert {str(r.bucket)[:4] for r in years} == {"2024"}
    with pytest.raises(ValueError, match="unit"):
        ghs.sql("SELECT * FROM time_bucket_gapfill('m','second','ts',"
                "'k','count(*) AS n')")


def test_lttb_tvf_global_series_no_keys(ghs, spark):
    import pyspark.sql.functions as F

    spark.range(40).select(
        (F.lit("2024-02-01 00:00:00").cast("timestamp")
         + F.make_interval(hours=F.col("id").cast("int"))).alias("ts"),
        (F.col("id") % 5).cast("double").alias("v"),
    ).createOrReplaceTempView("gseries")
    out = ghs.sql("SELECT ts, v FROM lttb('gseries', 'ts', 'v', 8) "
                  "ORDER BY ts").collect()
    assert len(out) == 8
    src = spark.table("gseries").orderBy("ts").collect()
    assert out[0].ts == src[0].ts and out[-1].ts == src[-1].ts
