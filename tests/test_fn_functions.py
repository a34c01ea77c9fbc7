"""Fn.* function library tests (model: the reference's macro suite,
tests/test_fn_macros.py — exact scalar expectations per function)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from ankaflow_spark.functions import fn


def one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def test_arithmetic(spark):
    assert one(spark, fn.fn_add(F.lit(2), F.lit(3))) == 5
    assert one(spark, fn.fn_minus(F.lit(2), F.lit(3))) == -1
    assert one(spark, fn.fn_mult(F.lit(2.5), F.lit(4))) == 10.0


def test_div_null_safe(spark):
    assert one(spark, fn.fn_div(F.lit(10), F.lit(4))) == 2.5
    assert one(spark, fn.fn_div(F.lit(10), F.lit(0))) == 0
    assert one(spark, fn.fn_div(F.lit(10), F.lit(None).cast("double"))) == 0


def test_safe_casts(spark):
    assert one(spark, fn.fn_float(F.lit("2.5"))) == 2.5
    assert one(spark, fn.fn_float(F.lit("abc"))) == 0.0
    assert one(spark, fn.fn_int(F.lit("42"))) == 42
    assert one(spark, fn.fn_int(F.lit("xyz"))) == 0
    assert one(spark, fn.fn_str(F.lit(None))) == ""
    assert one(spark, fn.fn_str(F.lit(7))) == "7"


def test_bool_truthiness(spark):
    assert one(spark, fn.fn_bool(F.lit(None))) is False
    assert one(spark, fn.fn_bool(F.lit(0))) is False
    assert one(spark, fn.fn_bool(F.lit(2))) is True
    assert one(spark, fn.fn_bool(F.lit(""))) is False
    assert one(spark, fn.fn_bool(F.lit("text"))) is True
    assert one(spark, fn.fn_bool(F.lit(True))) is True
    assert one(spark, fn.fn_bool(F.lit("false"))) is False  # castable bool


def test_dt_unix_seconds(spark):
    got = one(spark, fn.fn_dt(F.lit("1712361600")))
    assert got == dt.datetime(2024, 4, 6, 0, 0, 0)


def test_dt_unix_seconds_fractional(spark):
    got = one(spark, fn.fn_dt(F.lit("1712361600.255")))
    assert got == dt.datetime(2024, 4, 6, 0, 0, 0, 255000)


def test_dt_unix_millis(spark):
    got = one(spark, fn.fn_dt(F.lit("1712361600000")))
    assert got == dt.datetime(2024, 4, 6)


def test_dt_unix_nanos(spark):
    got = one(spark, fn.fn_dt(F.lit("1712361600000000000")))
    assert got == dt.datetime(2024, 4, 6)


def test_dt_iso_with_zone(spark):
    got = one(spark, fn.fn_dt(F.lit("2025-03-10T17:24:41Z")))
    assert got == dt.datetime(2025, 3, 10, 17, 24, 41)
    got = one(spark, fn.fn_dt(F.lit("2025-03-10T17:24:41+02:00")))
    assert got == dt.datetime(2025, 3, 10, 17, 24, 41)


def test_dt_plain_and_garbage(spark):
    assert one(spark, fn.fn_dt(F.lit("2024-04-06"))) == dt.datetime(2024, 4, 6)
    assert one(spark, fn.fn_dt(F.lit("not a date"))) == dt.datetime(1970, 1, 1)


def test_dt_pattern(spark):
    got = one(spark, fn.fn_dt_pattern(F.lit("2024/04/06"), "YYYY/MM/DD"))
    assert got == dt.datetime(2024, 4, 6)
    got = one(spark, fn.fn_dt_pattern(F.lit("2024/04/06"), "%Y/%m/%d"))
    assert got == dt.datetime(2024, 4, 6)


def test_dt_projections(spark):
    ts = F.lit("2024-04-06 17:30:00").cast("timestamp")
    assert one(spark, fn.fn_dt_yyyy_mm_dd(ts)) == "2024-04-06"
    assert one(spark, fn.fn_dt_quarter(ts)) == 2
    assert one(spark, fn.fn_dt_iso_week(ts)) == 14
    assert one(spark, fn.fn_dt_iso_day(ts)) == 6  # Saturday
    assert one(spark, fn.fn_dt_iso_year(ts)) == 2024
    assert one(spark, fn.fn_dt_dayname(ts)) == "Saturday"
    assert one(spark, fn.fn_dt_monthname(ts)) == "April"
    assert one(spark, fn.fn_dt_eom(ts)) == dt.date(2024, 4, 30)
    assert one(spark, fn.fn_dt_bom(ts)) == dt.datetime(2024, 4, 1)
    assert one(spark, fn.fn_dt_boy(ts)) == dt.datetime(2024, 1, 1)
    assert one(spark, fn.fn_dt_monday(ts)) == dt.datetime(2024, 4, 1)
    assert one(spark, fn.fn_dt_add(ts, 3)) == dt.datetime(2024, 4, 9)


def test_iso_year_boundary(spark):
    # 2024-12-30 is ISO week 1 of 2025
    ts = F.lit("2024-12-30 00:00:00").cast("timestamp")
    assert one(spark, fn.fn_dt_iso_week(ts)) == 1
    assert one(spark, fn.fn_dt_iso_year(ts)) == 2025
    # 2021-01-01 is ISO week 53 of 2020
    ts = F.lit("2021-01-01 00:00:00").cast("timestamp")
    assert one(spark, fn.fn_dt_iso_week(ts)) == 53
    assert one(spark, fn.fn_dt_iso_year(ts)) == 2020


def test_month445(spark):
    assert one(spark, fn.fn_month445(F.lit("2024-01-03").cast("timestamp"))) == 1
    assert one(spark, fn.fn_month445(F.lit("2024-07-15").cast("timestamp"))) == 7


def test_collections(spark):
    df = spark.createDataFrame([(1, "a"), (1, "b"), (1, "a")], ["k", "v"])
    row = df.groupBy("k").agg(fn.fn_uniquelist(F.col("v")).alias("u")).collect()[0]
    assert sorted(row["u"]) == ["a", "b"]
    assert one(spark, fn.fn_has(F.array(F.lit(1), F.lit(2)), F.lit(2))) is True
    assert one(spark, fn.fn_includes(F.lit("hello42"), r"\d+")) is True
    assert one(spark, fn.fn_extract(F.lit("hello42"), r"\d+")) == "42"
    assert one(spark, fn.fn_trim(F.lit("  x "))) == "x"


def test_validate_pass_and_fail(spark):
    assert one(spark, fn.fn_validate_gt(F.lit(5), 3)) == 5
    assert one(spark, fn.fn_validate_between(F.lit(5), 1, 10)) == 5
    assert one(spark, fn.fn_validate_regex(F.lit("abc"), "^a")) == "abc"
    with pytest.raises(Exception, match="validate_gt"):
        one(spark, fn.fn_validate_gt(F.lit(2), 3))
    with pytest.raises(Exception, match="validate_regex"):
        one(spark, fn.fn_validate_regex(F.lit("xbc"), "^a"))
    # allow_null passes NULLs through
    assert one(spark, fn.fn_validate_gt(F.lit(None).cast("int"), 3)) is None


def test_sql_udf_registration(spark):
    from ankaflow_spark.functions.fn import register_engine_functions

    register_engine_functions(spark)
    assert spark.sql("SELECT fn_div(10, 0) AS v").collect()[0]["v"] == 0
    assert spark.sql("SELECT fn_dt_quarter(TIMESTAMP '2024-04-06') AS v").collect()[0]["v"] == 2


def test_fn_macro_spelling_via_engine(engine):
    # the reference spelling Fn.div(...) works through the rewriter
    assert engine.sql("SELECT Fn.div(10, 4) AS v").collect()[0]["v"] == 2.5
    assert engine.sql("SELECT Fn.trim('  x ') AS v").collect()[0]["v"] == "x"


def test_fn_dt_reference_branch_parity(spark):
    """fn_dt matches the reference's case 4/5/6 outcomes: 10-digit
    seconds (+fraction), >15-digit ns, any other all-digit string ms;
    numeric input is normalized to plain decimal notation first."""
    ts = lambda s: one(spark, fn.fn_dt(F.lit(s)))
    assert str(ts("1600000000")) == "2020-09-13 12:26:40"
    assert str(ts("1600000000.25")) == "2020-09-13 12:26:40.250000"
    assert str(ts("1600000000000")) == "2020-09-13 12:26:40"          # 13 -> ms
    assert str(ts("971208000")) == "1970-01-12 05:46:48"              # 9 -> ms
    assert str(ts("160000000000")) == "1975-01-26 20:26:40"           # 12 -> ms
    assert str(ts("1600000000000000000")) == "2020-09-13 12:26:40"    # 19 -> ns
    # DOUBLE input: Spark stringifies as 1.6E9; decimal normalization
    # must still land in the seconds branch (reference case 4)
    assert str(one(spark, fn.fn_dt(F.lit(1.6e9)))) == "2020-09-13 12:26:40"
    # all-digit '2024' is milliseconds (case 6), not year-2024
    assert str(ts("2024")) == "1970-01-01 00:00:02.024000"
    assert str(ts("garbage")) == "1970-01-01 00:00:00"


def test_fn_dt_sql_udf_matches_builder(spark):
    """The SQL-callable fn_dt and the Column builder agree on every branch."""
    from ankaflow_spark.functions.fn import register_engine_functions

    register_engine_functions(spark)
    inputs = [
        "1600000000", "1600000000.25", "1600000000000", "971208000",
        "160000000000", "160000000000000", "1600000000000000000",
        "2024-03-05T10:00:00Z", "2024-03-05 10:00:00+02:00",
        "2024-03-05", "2024", "garbage", None,
    ]
    df = spark.createDataFrame([(v,) for v in inputs], "raw string")
    out = df.select(
        fn.fn_dt(F.col("raw")).alias("builder"), F.expr("fn_dt(raw)").alias("sqludf")
    ).collect()
    for row in out:
        assert row["builder"] == row["sqludf"], row


def test_month445_label_reference_form(spark):
    from ankaflow_spark.functions.fn import register_engine_functions

    register_engine_functions(spark)
    assert one(spark, fn.fn_month445_label(F.lit("2024-07-15").cast("timestamp"))) == "2024-07"
    # SQL-callable form mirrors the reference's '%G-MM' string
    assert spark.sql("SELECT fn_month445(TIMESTAMP '2024-01-03') AS v").collect()[0]["v"] == "2024-01"
    # Jan 1-s belonging to the previous ISO year use the ISO year
    assert spark.sql("SELECT fn_month445(TIMESTAMP '2027-01-01') AS v").collect()[0]["v"] == "2026-12"


def test_sql_validate_udfs(spark):
    from ankaflow_spark.functions.fn import register_engine_functions

    register_engine_functions(spark)
    assert spark.sql("SELECT fn_validate_gt(5.0, 1.0, true) AS v").collect()[0]["v"] == 5.0
    assert spark.sql("SELECT fn_validate_gt(CAST(NULL AS DOUBLE), 1.0, true) AS v").collect()[0]["v"] is None
    with pytest.raises(Exception, match="Validation failed"):
        spark.sql("SELECT fn_validate_gt(0.5, 1.0, true) AS v").collect()
    with pytest.raises(Exception, match="Validation failed"):
        spark.sql("SELECT fn_validate_regex('xbc', '^a', true) AS v").collect()


def test_register_engine_functions_reports_no_failures(spark):
    from ankaflow_spark.functions.fn import register_engine_functions

    assert register_engine_functions(spark) == []


def test_fn_calendar_and_columns_in_sql(engine):
    cal = engine.sql(
        "SELECT count(*) AS n, count(DISTINCT isoweekdate) AS wd FROM Fn.calendar()"
    ).collect()[0]
    assert cal["n"] >= 365 * 5  # rolling -4y..+1y window
    assert cal["wd"] == cal["n"]  # isoweekdate is unique per day
    engine.register("Cols Demo", engine.spark.sql("SELECT 1 AS a, 'x' AS b"))
    rows = engine.sql("SELECT * FROM Fn.columns('Cols Demo') ORDER BY column_name").collect()
    assert [(r["column_name"], r["data_type"]) for r in rows] == [("a", "int"), ("b", "string")]


def _fresh_engine(spark):
    """An engine on a new session of the same context: its own temp
    functions, views and session registry."""
    from ankaflow_spark.session import SparkEngine

    return SparkEngine(spark.newSession())


def test_fn_functions_register_on_first_use(spark):
    engine = _fresh_engine(spark)
    engine.sql("SELECT 1 AS one").collect()
    assert not engine.spark.catalog.functionExists("fn_div")
    row = engine.sql("SELECT Fn.div(6, 3) AS a, fn_div(1, 0) AS b").collect()[0]
    assert (row["a"], row["b"]) == (2.0, 0.0)
    assert engine.spark.catalog.functionExists("fn_div")
    assert not engine.spark.catalog.functionExists("fn_trim")


def test_fn_functions_in_tap_query_and_transform(spark, tmp_path):
    from ankaflow_spark.models.core import Stages
    from ankaflow_spark.plans.flow import Flow

    engine = _fresh_engine(spark)
    path = str(tmp_path / "nums.parquet")
    engine.spark.range(1, 5).selectExpr("id", "id * 2.0 AS v").write.parquet(path)
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: nums
  connection: {{kind: parquet, locator: {path}}}
  query: SELECT id, Fn.div(v, id) AS ratio FROM source
- kind: transform
  name: halves
  query: SELECT id, fn_div(ratio, 4) AS half FROM nums ORDER BY id
"""),
        engine=engine,
    )
    rows = flow.run().collect()
    assert [(r["id"], r["half"]) for r in rows] == [(i, 0.5) for i in range(1, 5)]


def test_fn_functions_in_batch_sql_stream_stage(spark, tmp_path):
    from ankaflow_spark.models.core import Stages
    from ankaflow_spark.plans.flow import Flow

    engine = _fresh_engine(spark)
    src = str(tmp_path / "src")
    engine.spark.range(1, 5).selectExpr("id", "id * 3.0 AS v").write.parquet(src)
    flow = Flow(
        Stages.loads(f"""
- kind: stream
  name: screened
  op: batch_sql
  connection: {{kind: parquet, locator: {src}}}
  params:
    sql: SELECT id, fn_div(v, id) AS ratio FROM __batch__
"""),
        engine=engine,
    )
    rows = flow.run().collect()
    assert sorted((r["id"], r["ratio"]) for r in rows) == [(i, 3.0) for i in range(1, 5)]
