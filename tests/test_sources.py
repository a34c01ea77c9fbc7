"""Connector round-trip tests (model: reference integration suite —
every file format taps back what the sink wrote)."""

import json
import os

import pytest

from ankaflow_spark.models.core import Stages
from ankaflow_spark.plans.flow import Flow
from ankaflow_spark.sources.delta import parse_optimize
from ankaflow_spark.sources.file import fields_to_schema


def roundtrip(engine, tmp_path, kind, filename, write_opts="", read_opts=""):
    path = tmp_path / filename
    flow = Flow(
        Stages.loads(f"""
- kind: internal
  name: seed
  query: >
    SELECT id, concat('User ', id) AS name, id * 50 AS amount
    FROM (SELECT explode(sequence(1, 5)) AS id)
- kind: sink
  name: write
  connection:
    kind: {kind}
    locator: {path}
    {write_opts}
- kind: tap
  name: readback
  connection:
    kind: {kind}
    locator: {path}
    {read_opts}
"""),
        engine=engine,
    )
    df = flow.run()
    assert df.count() == 5
    return df


def test_parquet_single_file_roundtrip(engine, tmp_path):
    df = roundtrip(engine, tmp_path, "parquet", "data.parquet")
    assert os.path.isfile(tmp_path / "data.parquet")  # real single file
    assert {r["name"] for r in df.collect()} == {f"User {i}" for i in range(1, 6)}


def test_parquet_directory_output(engine, tmp_path):
    path = tmp_path / "out__dir__"
    flow = Flow(
        Stages.loads(f"""
- kind: internal
  name: seed
  query: SELECT explode(sequence(1, 100)) AS id
- kind: sink
  name: write
  connection:
    kind: parquet
    locator: {path}
"""),
        engine=engine,
    )
    flow.run()
    assert os.path.isdir(path)


def test_csv_roundtrip(engine, tmp_path):
    df = roundtrip(
        engine,
        tmp_path,
        "csv",
        "data.csv",
        write_opts="options: {header: true}",
        read_opts="options: {header: true}",
    )
    row = {r["id"]: r["amount"] for r in df.collect()}
    assert row[1] == 50


def test_csv_explicit_schema(engine, tmp_path):
    path = tmp_path / "typed.csv"
    path.write_text("id;name\n1;a\n2;b\n")
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: typed
  connection:
    kind: csv
    locator: {path}
    options: {{delim: ';', header: true}}
    fields:
    - {{name: id, type: BIGINT}}
    - {{name: name, type: VARCHAR}}
"""),
        engine=engine,
    )
    df = flow.run()
    assert dict(df.dtypes)["id"] == "bigint"


def test_jsonl_roundtrip(engine, tmp_path):
    df = roundtrip(engine, tmp_path, "json", "data.jsonl")
    assert df.filter("amount = 250").count() == 1


def test_json_array_read(engine, tmp_path):
    path = tmp_path / "arr.json"
    path.write_text(json.dumps([{"a": 1}, {"a": 2}]))
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: arr
  connection:
    kind: json
    locator: {path}
    options: {{format: array}}
"""),
        engine=engine,
    )
    assert flow.run().count() == 2


def test_file_txt_tap(engine, tmp_path):
    path = tmp_path / "notes.txt"
    path.write_text("alpha\nbeta\ngamma\n")
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: txt
  connection:
    kind: file
    locator: {path}
"""),
        engine=engine,
    )
    df = flow.run()
    assert [r["line"] for r in df.collect()] == ["alpha", "beta", "gamma"]


def test_file_xlsx_sink_tap_roundtrip(engine, tmp_path):
    """XLSX tap/sink e2e (reference file.py:121-169). The container has
    no openpyxl, so this exercises the stdlib xlsx_lite fallback; with
    openpyxl present the same pipeline rides the pandas engine."""
    path = tmp_path / "out.xlsx"
    flow = Flow(
        Stages.loads(f"""
- kind: internal
  name: rows
  query: >
    SELECT * FROM (VALUES (1, 'a & <b>', 1.5, TRUE), (2, 'ünïcødé', 2.25, FALSE))
    AS t(id, name, price, ok)
- kind: sink
  name: save
  connection:
    kind: file
    locator: {path}
"""),
        engine=engine,
    )
    flow.run()
    assert path.exists()
    back = Flow(
        Stages.loads(f"""
- kind: tap
  name: xl
  connection:
    kind: file
    locator: {path}
"""),
        engine=engine,
    ).run()
    rows = {r["id"]: r for r in back.collect()}
    assert rows[1]["name"] == "a & <b>" and rows[1]["price"] == 1.5 and rows[1]["ok"]
    assert rows[2]["name"] == "ünïcødé" and rows[2]["price"] == 2.25 and not rows[2]["ok"]


def test_xlsx_lite_shared_strings_reader(tmp_path):
    """Files written by other producers use sharedStrings + 's' cells
    (our writer emits inline strings); the reader must decode both,
    including rich-text runs split across <r> elements."""
    import zipfile

    from ankaflow_spark.sources import xlsx_lite

    p = tmp_path / "shared.xlsx"
    xlsx_lite.write_xlsx(str(p), [{"h1": "seed"}])
    p2 = tmp_path / "shared2.xlsx"
    NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    with zipfile.ZipFile(p) as zin, zipfile.ZipFile(p2, "w") as zout:
        for n in zin.namelist():
            if n != "xl/worksheets/sheet1.xml":
                zout.writestr(n, zin.read(n))
        zout.writestr(
            "xl/sharedStrings.xml",
            f'<sst xmlns="{NS}"><si><t>h1</t></si><si><t>hello</t></si>'
            "<si><r><t>wor</t></r><r><t>ld</t></r></si></sst>",
        )
        zout.writestr(
            "xl/worksheets/sheet1.xml",
            f'<worksheet xmlns="{NS}"><sheetData>'
            '<row r="1"><c r="A1" t="s"><v>0</v></c></row>'
            '<row r="2"><c r="A2" t="s"><v>1</v></c></row>'
            '<row r="3"><c r="A3" t="s"><v>2</v></c></row>'
            "</sheetData></worksheet>",
        )
    back = xlsx_lite.read_xlsx(str(p2))
    assert [r["h1"] for r in back] == ["hello", "world"]


def test_fields_to_schema_nested(spark):
    schema = fields_to_schema(
        [
            {"name": "a", "type": "BIGINT"},
            {"name": "b", "type": "DECIMAL(38,18)"},
            {"name": "c", "type": "ARRAY<BIGINT>"},
            {"name": "d", "type": "STRUCT<x: STRING, y: BIGINT>"},
        ]
    )
    assert schema.simpleString() == (
        "struct<a:bigint,b:decimal(38,18),c:array<bigint>,d:struct<x:string,y:bigint>>"
    )


def test_delta_optimize_parser():
    act = parse_optimize("OPTIMIZE mytable COMPACT VACUUM AGE=48 HOURS DRY_RUN")
    assert act == {
        "table": "mytable",
        "compact": True,
        "vacuum": True,
        "retention_hours": 48.0,
        "dry_run": True,
    }
    assert parse_optimize("SELECT 1") is None
    # retention clamps to 365 days
    act = parse_optimize("OPTIMIZE t VACUUM AGE=9999 DAYS")
    assert act["retention_hours"] == 365 * 24


def test_delta_missing_table_raises_at_use(engine, tmp_path):
    """Reading a path with no _delta_log is a clear error (the jar-free
    fallback engages automatically when delta-spark is absent; full
    e2e coverage lives in tests/test_delta.py)."""
    from ankaflow_spark.sources import get_connector

    conn = get_connector("delta")(
        engine, {"kind": "delta", "locator": str(tmp_path / "nope")}, {}
    )
    with pytest.raises(Exception, match="_delta_log|not a Delta table"):
        conn.tap(None, None)


def test_delta_create_strategy_matrix():
    """Reference test_delta.py test_create_strategy_all_cases: the
    SKIP/CREATE/WRITE matrix over (schema, rows)."""
    from ankaflow_spark.sources.delta import SinkStrategy, create_strategy

    assert create_strategy(has_schema=True, rows=0) == SinkStrategy.CREATE
    assert create_strategy(has_schema=False, rows=0) == SinkStrategy.SKIP
    assert create_strategy(has_schema=True, rows=2) == SinkStrategy.WRITE
    assert create_strategy(has_schema=False, rows=2) == SinkStrategy.WRITE


def test_delta_sink_strategy_dispatch(engine):
    """Sink behavior per strategy, exercised through a fake that records
    the gated operations (reference test_write_deltatable_create_and_append
    / test_create_deltatable semantics, jar-free)."""
    from ankaflow_spark.sources.delta import DeltaConnection

    class FakeDelta(DeltaConnection):
        def __init__(self, engine, spec, exists):
            super().__init__(engine, spec, {})
            self.calls = []
            self._exists = exists

        def _require_delta(self):
            pass

        def _is_deltatable(self):
            return self._exists

        def _create_empty_table(self):
            self.calls.append("create_empty")

        def _write(self, df):
            self.calls.append("write")

    spark = engine.spark
    empty = spark.createDataFrame([], "a INT")
    data = spark.range(3)
    fields = [{"name": "a", "type": "BIGINT"}]

    # no schema + no rows -> SKIP (no calls)
    c = FakeDelta(engine, {"locator": "/t"}, exists=False)
    c.sink(empty, None)
    assert c.calls == []
    # schema + no rows + table absent -> CREATE empty table only
    c = FakeDelta(engine, {"locator": "/t", "fields": fields}, exists=False)
    c.sink(empty, None)
    assert c.calls == ["create_empty"]
    # schema + no rows + table exists -> CREATE skips creation
    c = FakeDelta(engine, {"locator": "/t", "fields": fields}, exists=True)
    c.sink(empty, None)
    assert c.calls == []
    # rows -> WRITE regardless of schema
    c = FakeDelta(engine, {"locator": "/t"}, exists=True)
    c.sink(data, None)
    assert c.calls == ["write"]


def test_tap_placeholder_not_clobbering_columns(engine, tmp_path):
    """A column named `source` (or matching the file stem / kind word in
    a literal) must survive tap-query rewriting — only the table
    reference becomes the temp view (ADVICE r2)."""
    path = tmp_path / "data.csv"
    path.write_text("source,amount\nweb,10\napp,20\nweb,5\n")
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: mytap
  connection:
    kind: csv
    locator: {path}
  query: |
    SELECT source, sum(amount) AS total
    FROM data
    WHERE source <> 'csv'
    GROUP BY source ORDER BY source
"""),
        engine=engine,
    )
    rows = flow.run().collect()
    assert [(r["source"], r["total"]) for r in rows] == [("app", 20), ("web", 15)]


def test_raw_sql_short_locator_resolution(engine, tmp_path):
    """`read_parquet('short-name')` inside a tap query resolves against
    the connection's bucket+prefix with wildcard substitution (reference
    connection.py:290-323 raw-SQL rewriter)."""
    d = tmp_path / "pre"
    d.mkdir()
    engine.spark.range(3).write.mode("overwrite").parquet(str(d / "data-1.parquet"))
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: raw
  connection:
    kind: parquet
    bucket: {tmp_path}
    prefix: pre
    locator: data-1.parquet
  query: SELECT count(*) AS n FROM read_parquet('data-1.parquet')
"""),
        engine=engine,
    )
    assert flow.run().collect()[0]["n"] == 3


def test_raw_sql_short_locator_mismatch_raises(engine, tmp_path):
    from ankaflow_spark.sqlfront.rewrite import resolve_short_locators
    from ankaflow_spark.sources.locator import Locator

    with pytest.raises(ValueError, match="does not match"):
        resolve_short_locators(
            "SELECT * FROM read_parquet('other.parquet')",
            Locator(bucket="b", prefix="p"),
            "data.parquet",
        )
    # absolute paths pass through untouched
    sql = "SELECT * FROM read_parquet('s3://x/y.parquet')"
    assert resolve_short_locators(sql, Locator(bucket="b"), "data.parquet") == sql


def test_reference_params_reader_arguments(engine, tmp_path):
    """Reference 0.8.0 'Dynamic File Reader Arguments': connection.params
    flows to the reader (changelog.md 0.8.0). Pipe-delimited CSV read
    through the reference spelling."""
    p = tmp_path / "pipes.csv"
    p.write_text("a|b\n1|x\n2|y\n")
    from ankaflow_spark.models.core import Stages
    from ankaflow_spark.plans.flow import Flow

    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: piped
  connection:
    kind: csv
    locator: {p}
    params: {{delim: '|'}}
"""),
        engine=engine,
    )
    df = flow.run()
    assert set(df.columns) == {"a", "b"}
    assert df.count() == 2


def test_parquet_us_ntz_timestamp_reads_as_timestamp(engine, tmp_path):
    """Microsecond-unit no-tz parquet timestamps must surface as TIMESTAMP
    (not TIMESTAMP_NTZ) through ParquetConnection, same as the ns path —
    downstream epoch_us/unix_micros and watermark operators require it."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    path = str(tmp_path / "us_ntz.parquet")
    table = pa.table(
        {
            "id": pa.array([1, 2], pa.int64()),
            "ts_us": pa.array(
                [datetime(2024, 1, 1, 12, 0, 0), datetime(2024, 6, 1, 0, 30, 15)],
                pa.timestamp("us"),
            ),
            "ts_ns": pa.array(
                [datetime(2024, 1, 1, 12, 0, 0), datetime(2024, 6, 1, 0, 30, 15)],
                pa.timestamp("ns"),
            ),
        }
    )
    pq.write_table(table, path)

    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: t
  connection:
    kind: parquet
    locator: {path}
- kind: transform
  name: out
  query: SELECT id, unix_micros(ts_us) AS us, unix_micros(ts_ns) AS ns FROM t
"""),
        engine=engine,
    )
    df = flow.run()
    rows = {r["id"]: (r["us"], r["ns"]) for r in df.collect()}
    # UTC-pinned session: 2024-01-01T12:00:00Z == 1704110400000000 us
    assert rows[1] == (1704110400000000, 1704110400000000)
    assert rows[2] == (1717201815000000, 1717201815000000)


def test_parquet_tz_aware_ns_timestamp_reads_as_timestamp(spark, tmp_path):
    """A UTC-adjusted TIMESTAMP(NANOS) column reads as BIGINT ns under
    nanosAsLong like a no-tz one, and must be normalized the same way."""
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ankaflow_spark.sources.parquet import read_parquet

    when = [datetime(2024, 1, 1, 12, tzinfo=timezone.utc), datetime(2024, 6, 1, 0, 30, 15, tzinfo=timezone.utc)]
    path = str(tmp_path / "ns_tz.parquet")
    pq.write_table(
        pa.table({"t": pa.array(when, pa.timestamp("ns", tz="UTC")), "u": pa.array(when, pa.timestamp("us"))}),
        path,
    )
    df = read_parquet(spark, path, timestamps=True)
    assert df.dtypes == [("t", "timestamp"), ("u", "timestamp")]
    rows = df.selectExpr("unix_micros(t) AS t", "unix_micros(u) AS u").collect()
    assert [(r["t"], r["u"]) for r in rows] == [(1704110400000000,) * 2, (1717201815000000,) * 2]


class TestDuckTypeToSpark:
    """Mirrors reference tests/test_common_util.py (duckdb_to_pyarrow_type)
    including the nested cases the reference's non-recursive regex skips."""

    def test_simple_types(self):
        from pyspark.sql import types as T

        from ankaflow_spark.sources.file import duck_type_to_spark as d2s

        assert d2s("VARCHAR") == T.StringType()
        assert d2s("INTEGER") == T.IntegerType()
        assert d2s("BIGINT") == T.LongType()
        assert d2s("DOUBLE") == T.DoubleType()
        assert d2s("BOOLEAN") == T.BooleanType()
        assert d2s("DATE") == T.DateType()
        assert d2s("TIMESTAMP") == T.TimestampType()
        assert d2s("JSON") == T.StringType()
        assert d2s("UUID") == T.StringType()
        assert d2s("DECIMAL") == T.DecimalType(38, 18)

    def test_list_types_both_notations(self):
        from pyspark.sql import types as T

        from ankaflow_spark.sources.file import duck_type_to_spark as d2s

        assert d2s("LIST(INTEGER)") == T.ArrayType(T.IntegerType())
        assert d2s("VARCHAR[]") == T.ArrayType(T.StringType())
        # nested — the reference's own TODO cases
        assert d2s("LIST(LIST(INTEGER))") == T.ArrayType(T.ArrayType(T.IntegerType()))
        assert d2s("LIST(INTEGER)[]") == T.ArrayType(T.ArrayType(T.IntegerType()))

    def test_struct_types(self):
        from pyspark.sql import types as T

        from ankaflow_spark.sources.file import duck_type_to_spark as d2s

        expected = T.StructType(
            [
                T.StructField("field1", T.IntegerType(), True),
                T.StructField("field2", T.StringType(), True),
            ]
        )
        assert d2s('STRUCT("field1" INTEGER, "field2" VARCHAR)') == expected
        assert d2s('STRUCT("field1" INTEGER, "field2" VARCHAR)[]') == T.ArrayType(expected)
        # nested list-of-struct (reference TODO)
        assert d2s('LIST(STRUCT("field1" INTEGER, "field2" VARCHAR))') == T.ArrayType(expected)

    def test_map_and_decimal(self):
        from pyspark.sql import types as T

        from ankaflow_spark.sources.file import duck_type_to_spark as d2s

        assert d2s("MAP(VARCHAR, BIGINT)") == T.MapType(T.StringType(), T.LongType())
        assert d2s("DECIMAL(12, 4)") == T.DecimalType(12, 4)

    def test_unsupported_structured_type_raises(self):
        import pytest

        from ankaflow_spark.sources.file import duck_type_to_spark as d2s

        with pytest.raises(ValueError):
            d2s("UNION(a INTEGER)")

    def test_fields_to_schema_uses_parser(self):
        from pyspark.sql import types as T

        from ankaflow_spark.sources.file import fields_to_schema

        schema = fields_to_schema(
            [
                {"name": "tags", "type": "VARCHAR[]"},
                {"name": "meta", "type": 'STRUCT("k" VARCHAR, "v" BIGINT)'},
                {"name": "weird", "type": "SOMETHING"},
            ]
        )
        assert schema["tags"].dataType == T.ArrayType(T.StringType())
        assert isinstance(schema["meta"].dataType, T.StructType)
        assert schema["weird"].dataType == T.StringType()  # scalar fallback


def test_sink_readback_ignores_wildcard_siblings(engine, tmp_path):
    """A parquet sink's read-back is the exact written file: taps
    wildcard a trailing number group (report-2024 -> report-*), but the
    sink stage's relation must not glob a sibling report-2023.parquet."""
    engine.spark.sql(
        "SELECT id, 'old' AS tag FROM (SELECT explode(sequence(1, 3)) AS id)"
    ).toPandas().to_parquet(tmp_path / "report-2023.parquet", index=False)
    flow = Flow(
        Stages.loads(f"""
- kind: internal
  name: seed
  query: SELECT id, 'new' AS tag FROM (SELECT explode(sequence(1, 5)) AS id)
- kind: sink
  name: write
  connection:
    kind: parquet
    locator: {tmp_path / "report-2024.parquet"}
"""),
        engine=engine,
    )
    df = flow.run()
    assert df.count() == 5
    assert {r["tag"] for r in df.collect()} == {"new"}


# -- footer schemas (sources/parquet.py) -------------------------------------
def _same_as_inference(spark, path):
    """The footer route is taken and gives the schema Spark infers."""
    from ankaflow_spark.sources.parquet import footer_schema, read_parquet

    assert footer_schema(spark, path) is not None, path
    assert read_parquet(spark, path).schema == spark.read.parquet(path).schema, path


def test_footer_schema_equals_inference_on_every_table(spark, sf_dir):
    """Every star-schema table of the sf0.01 test data (next to the
    suite's default scale factor)."""
    from ankaflow_spark.operators.tables import TABLES, table_path

    sf001 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if not os.path.isdir(sf001):
        pytest.skip("sf0.01 test data not present")
    for name in TABLES:
        _same_as_inference(spark, table_path(sf001, name))


def test_footer_schema_equals_inference_on_pyarrow_file(spark, tmp_path):
    import datetime
    import decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "big": pa.array([1, None], pa.int64()),
            "small": pa.array([1, 2], pa.int8()),
            "dec": pa.array([decimal.Decimal("1.25"), None], pa.decimal128(10, 2)),
            "wide": pa.array([decimal.Decimal("1.25"), None], pa.decimal128(30, 2)),
            "day": pa.array([datetime.date(2024, 1, 1), None], pa.date32()),
            "ntz": pa.array([1, 2], pa.timestamp("us")),
            "ltz": pa.array([1, 2], pa.timestamp("us", tz="Europe/Tallinn")),
            "ms": pa.array([1, 2], pa.timestamp("ms")),
            "ns": pa.array([1000, 2000], pa.timestamp("ns")),
            "name": pa.array(["x", None], pa.large_string()),
            "raw": pa.array([b"x", None], pa.binary()),
            "flag": pa.array([True, None]),
            "tags": pa.array([[1, 2], None], pa.list_(pa.int64())),
            "rows": pa.array([[{"p": 1}], None], pa.list_(pa.struct([("p", pa.int32())]))),
            "attrs": pa.array([[("k", 1)], None], pa.map_(pa.string(), pa.int32())),
            "pair": pa.array([{"x": 1, "y": "z"}, None]),
        }
    )
    path = str(tmp_path / "arrow.parquet")
    pq.write_table(table, path)
    _same_as_inference(spark, path)


def test_footer_schema_equals_inference_on_duckdb_file(spark, tmp_path):
    duckdb = pytest.importorskip("duckdb")
    path = str(tmp_path / "duck.parquet")
    duckdb.connect().execute(
        f"""COPY (SELECT 1::BIGINT AS big, 1::TINYINT AS tiny, 1.5::DECIMAL(12,3) AS dec,
                  1.5::DECIMAL(38,3) AS dec38, DATE '2024-01-01' AS day,
                  TIMESTAMP '2024-01-01 00:00:00' AS ntz,
                  TIMESTAMPTZ '2024-01-01 00:00:00+00' AS ltz,
                  TIMESTAMP_NS '2024-01-01 00:00:00' AS ns, 'x' AS name, 'b'::BLOB AS raw,
                  [1, 2] AS tags, [{{'p': 1}}] AS rows_, MAP {{'k': 1}} AS attrs,
                  {{'x': 1, 'y': 'z'}} AS pair)
            TO '{path}' (FORMAT PARQUET)"""
    )
    _same_as_inference(spark, path)


def test_footer_schema_equals_inference_on_spark_output(spark, tmp_path):
    path = str(tmp_path / "spark_out")
    spark.sql(
        "SELECT 1 AS i, 'x' AS s, DATE'2024-01-01' AS day, "
        "TIMESTAMP_NTZ'2024-01-01 00:00:00' AS ntz, TIMESTAMP'2024-01-01 00:00:00' AS ltz, "
        "CAST(1.5 AS DECIMAL(12,3)) AS dec, array(1, 2) AS tags, named_struct('x', 1) AS pair, "
        "map('k', 1) AS attrs, X'01' AS raw"
    ).write.parquet(path)
    _same_as_inference(spark, path)


def test_footer_schema_falls_back_to_inference(spark, tmp_path):
    """INT96 and unsigned columns, a hive-partitioned directory, schema
    merging and a remote path leave the schema to Spark."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ankaflow_spark.sources.parquet import footer_schema, read_parquet

    int96 = str(tmp_path / "int96.parquet")
    pq.write_table(
        pa.table({"t": pa.array([1000], pa.timestamp("ns"))}),
        int96,
        use_deprecated_int96_timestamps=True,
    )
    unsigned = str(tmp_path / "uint32.parquet")
    pq.write_table(pa.table({"u": pa.array([1], pa.uint32())}), unsigned)
    hive = str(tmp_path / "hive")
    spark.range(4).selectExpr("id", "id % 2 AS k").write.partitionBy("k").parquet(hive)
    for path in (int96, unsigned, hive):
        assert footer_schema(spark, path) is None, path
        assert read_parquet(spark, path).schema == spark.read.parquet(path).schema, path
    plain = str(tmp_path / "plain.parquet")
    pq.write_table(pa.table({"a": pa.array([1], pa.int64())}), plain)
    assert footer_schema(spark, plain) is not None
    assert footer_schema(spark, plain, {"mergeSchema": "true"}) is None
    assert footer_schema(spark, "s3a://bucket/prefix/plain.parquet") is None
