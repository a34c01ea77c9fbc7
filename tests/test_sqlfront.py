"""SQL front-end unit tests (model: reference tests/test_sql_helpers.py —
ranked-query shape, validator rules, rewrite behavior)."""

import pytest

from ankaflow_spark.session import mangle_view_name
from ankaflow_spark.sqlfront.ranking import build_ranked_sql
from ankaflow_spark.sqlfront.rewrite import (
    expand_fn_macros,
    normalize_dialect,
    rewrite_sql,
)
from ankaflow_spark.sqlfront.validate import QueryValidationError, validate_simple_query


def test_mangle_plain_name_unchanged():
    assert mangle_view_name("orders") == "orders"


def test_mangle_spaces_deterministic():
    a = mangle_view_name("Extract Data")
    b = mangle_view_name("Extract Data")
    assert a == b
    assert " " not in a
    assert mangle_view_name("Extract_Data") != a  # no collision


def test_fn_expansion():
    assert expand_fn_macros("SELECT Fn.div(a, b) FROM t") == "SELECT fn_div(a, b) FROM t"
    # untyped/control-flow macros expand inline (like DuckDB macro inlining)
    assert expand_fn_macros("Fn.not_(x)") == "(NOT fn_bool(x))"
    assert expand_fn_macros("Fn.uniquelist(v)") == "collect_set(v)"
    assert expand_fn_macros("Fn.when(c, a, b)") == "(CASE WHEN fn_bool(c) THEN a ELSE b END)"
    # nested macro calls expand outermost-first until stable
    assert (
        expand_fn_macros("Fn.and(Fn.gt(a, 1), Fn.lt(a, 9))")
        == "(fn_bool((a > 1)) AND fn_bool((a < 9)))"
    )
    assert "fn_dt_yyyy_mm_dd" in expand_fn_macros("Fn.dt_yyyy_mm_dd(ts)")


def test_fn_unknown_name_raises():
    import pytest

    with pytest.raises(ValueError, match="not SQL-callable"):
        expand_fn_macros("SELECT Fn.bogus(a) FROM t")


def test_fn_calendar_expands_to_subquery():
    out = expand_fn_macros("SELECT * FROM Fn.calendar()")
    assert "explode(sequence(" in out and "isoweekdate" in out


def test_fn_not_expanded_inside_literal():
    out = rewrite_sql("SELECT 'Fn.div(a,b)' AS s", {})
    assert "'Fn.div(a,b)'" in out


def test_quoted_stage_rewrite():
    views = {"Extract Data": mangle_view_name("Extract Data")}
    out = rewrite_sql('SELECT * FROM "Extract Data"', views)
    assert '"' not in out
    assert views["Extract Data"] in out


def test_sample_rewrite():
    out = normalize_dialect("SELECT * FROM t USING SAMPLE 5 ROWS")
    assert "TABLESAMPLE (5 ROWS)" in out


def test_ranked_sql_shape():
    sql = build_ranked_sql("SELECT * FROM src", version="updated_at", keys=["id", "region"])
    assert 'PARTITION BY "id", "region"' in sql
    assert 'ORDER BY "updated_at" DESC' in sql
    assert "__rank__ = 1" in sql


def test_validator_accepts_simple():
    validate_simple_query("SELECT a, b FROM t WHERE c = 3 AND d IS NOT NULL")


def test_validator_rejects_cte():
    with pytest.raises(QueryValidationError):
        validate_simple_query("WITH x AS (SELECT 1) SELECT * FROM x")


def test_validator_rejects_join():
    with pytest.raises(QueryValidationError):
        validate_simple_query("SELECT * FROM a JOIN b ON a.id = b.id")


def test_validator_rejects_subquery():
    with pytest.raises(QueryValidationError):
        validate_simple_query("SELECT * FROM t WHERE id IN (SELECT id FROM u)")


def test_validator_rejects_agg_when_ranking():
    with pytest.raises(QueryValidationError):
        validate_simple_query("SELECT count(*) FROM t", ranking_enabled=True)
    validate_simple_query("SELECT count(*) FROM t", ranking_enabled=False)


def test_validator_ignores_keywords_in_literals():
    validate_simple_query("SELECT a FROM t WHERE b = 'JOIN me WITH you'")


def test_qualify_rewrite_text():
    from ankaflow_spark.sqlfront.rewrite import rewrite_qualify

    out = rewrite_qualify(
        "SELECT a, b FROM t QUALIFY row_number() OVER (PARTITION BY a ORDER BY b) = 1"
    )
    assert "EXCEPT(__qualify__)" in out
    assert "WHERE __qualify__" in out
    # no QUALIFY -> untouched
    assert rewrite_qualify("SELECT 1") == "SELECT 1"


def test_qualify_executes(engine, sf_dir):
    engine.register("q_orders", engine.spark.read.parquet(f"{sf_dir}/orders.parquet"))
    df = engine.sql("""
        SELECT o_custkey, o_orderkey, o_totalprice FROM q_orders
        QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) = 1
        ORDER BY o_custkey LIMIT 20
    """)
    rows = df.collect()
    assert len(rows) == 20
    assert "__qualify__" not in df.columns


def test_describe_and_bucket_conf(engine, sf_dir):
    engine.register("d_nation", engine.spark.read.parquet(f"{sf_dir}/nation.parquet"))
    cols = engine.describe("d_nation")
    assert ("n_nationkey", "int") in cols
    engine.configure_bucket("my-bucket", access_key="AK", secret_key="SK", endpoint="http://minio:9000")
    hconf = engine.spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("fs.s3a.bucket.my-bucket.access.key") == "AK"
    assert hconf.get("fs.s3a.bucket.my-bucket.endpoint") == "http://minio:9000"


def test_fn_plus_alias(engine):
    assert engine.sql("SELECT Fn.plus(2, 3) AS v").collect()[0]["v"] == 5.0


def test_renderer_json_block():
    from ankaflow_spark.plans.renderer import Renderer

    r = Renderer()
    out = r.render('@json {"a": << n >>, "b": ["x"]}', {"n": 5})
    assert out == {"a": 5, "b": ["x"]}


def test_duckdb_dialect_functions(engine, tmp_path):
    """Reference-style (DuckDB-dialect) transform SQL executes verbatim:
    strftime/strptime, epoch_*, make_timestamp(µs), list_* family,
    string_split, // integer division, read_parquet table refs."""
    row = engine.sql(
        "SELECT strftime(TIMESTAMP '2024-03-05 10:20:30', '%Y-%m-%d %H:%M:%S') AS s,"
        "       strptime('2024-03-05', '%Y-%m-%d') AS p,"
        "       epoch_us(TIMESTAMP '2020-09-13 12:26:40') AS eu,"
        "       epoch_ms(TIMESTAMP '2020-09-13 12:26:40') AS em,"
        "       make_timestamp(1600000000000000) AS mt,"
        "       7 // 2 AS intdiv,"
        "       string_split('a b c', ' ') AS sp,"
        "       list_contains(['x', 'y'], 'x') AS has,"
        "       list_sort(list_distinct(['b', 'a', 'b'])) AS uniq,"
        "       array_to_string(['a', 'b'], ',') AS joined,"
        "       list_transform([1, 2, 3], x -> x * 2) AS doubled,"
        "       list_reduce([1, 2, 3, 4], (a, b) -> a + b) AS reduced,"
        "       regexp_matches('hello42', '\\\\d+') AS rx,"
        "       isodow(DATE '2024-03-05') AS dow,"
        "       isoyear(DATE '2027-01-01') AS iy"
    ).collect()[0]
    assert row["s"] == "2024-03-05 10:20:30"
    assert str(row["p"]) == "2024-03-05 00:00:00"
    assert row["eu"] == 1600000000000000 and row["em"] == 1600000000000
    assert str(row["mt"]) == "2020-09-13 12:26:40"
    assert row["intdiv"] == 3
    assert row["sp"] == ["a", "b", "c"]
    assert row["has"] is True and row["uniq"] == ["a", "b"]
    assert row["joined"] == "a,b" and row["doubled"] == [2, 4, 6]
    assert row["reduced"] == 10
    assert row["rx"] is True and row["dow"] == 2 and row["iy"] == 2026

    # aggregate spellings: list() and string_agg()
    row = engine.sql(
        "SELECT list_sort(list(v)) AS vals, string_agg(v, '|') AS agg "
        "FROM (SELECT explode(array('b', 'a')) AS v)"
    ).collect()[0]
    assert row["vals"] == ["a", "b"] and set(row["agg"].split("|")) == {"a", "b"}

    # unnest(generate_series(...)) row generator
    n = engine.sql(
        "SELECT unnest(generate_series(1, 5)) AS x"
    ).count()
    assert n == 5

    # read_parquet('path') table function -> parquet.`path` scan
    import pandas as pd

    pd.DataFrame({"v": [1, 2]}).to_parquet(tmp_path / "t.parquet")
    assert engine.sql(f"SELECT count(*) AS n FROM read_parquet('{tmp_path}/t.parquet')").collect()[0]["n"] == 2

    # dialect names inside string literals are left alone
    assert engine.sql("SELECT 'epoch_us(x) // 2' AS s").collect()[0]["s"] == "epoch_us(x) // 2"


def test_single_argument_read_parquet_plans_without_a_job(engine, tmp_path):
    """read_parquet('file') takes its schema from the footer: building
    the DataFrame submits no Spark job (schema inference would run one)."""
    import uuid

    import pandas as pd

    pd.DataFrame({"v": [1, 2]}).to_parquet(tmp_path / "one.parquet")
    sc = engine.spark.sparkContext
    group = f"read-parquet-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "plan only")
    try:
        df = engine.sql(f"SELECT v FROM read_parquet('{tmp_path}/one.parquet')")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
    assert sorted(r.v for r in df.collect()) == [1, 2]


def test_duckdb_string_types_and_materialized_ctes_run(engine):
    # Spark 4 rejects unsized VARCHAR and has no TEXT type; DuckDB
    # accepts both as cast targets
    row = engine.sql(
        "SELECT CAST(1 AS VARCHAR) AS a, 2::VARCHAR AS b, CAST(3 AS TEXT) AS c,"
        " try_cast(4 AS varchar) AS d, 5::text AS e"
    ).first()
    assert tuple(row) == ("1", "2", "3", "4", "5")
    # `text` as a column name or alias is not a type and stays as it is
    row = engine.sql(
        "SELECT text, CAST(text AS VARCHAR) AS t2 FROM (SELECT 'x' AS text)"
    ).first()
    assert row.asDict() == {"text": "x", "t2": "x"}
    # the CTE materialization marker is a DuckDB planner hint
    assert engine.sql(
        "WITH x AS MATERIALIZED (SELECT 1 AS a), y AS NOT MATERIALIZED"
        " (SELECT a + 1 AS a FROM x) SELECT a FROM y"
    ).first()["a"] == 2
    # inside a string literal nothing is rewritten
    assert engine.sql("SELECT 'CAST(1 AS VARCHAR)' AS s").first()["s"] == "CAST(1 AS VARCHAR)"
    # a list type is not a scalar cast target: both cast forms leave it alone
    from ankaflow_spark.sqlfront.rewrite import rewrite_type_spellings

    lists = "SELECT x::VARCHAR[], CAST(y AS TEXT[]) FROM t"
    assert rewrite_type_spellings(lists) == lists


def test_strlen_counts_bytes(engine):
    # DuckDB strlen is the byte length; length() counts characters
    row = engine.sql("SELECT strlen('añb') AS b, length('añb') AS c").first()
    assert (row["b"], row["c"]) == (4, 3)


def test_rewrite_views_token_aware():
    from ankaflow_spark.sqlfront.rewrite import rewrite_views

    views = {"stage1": "stage1__abc"}
    # table positions rewrite
    assert rewrite_views("SELECT * FROM stage1", views) == "SELECT * FROM stage1__abc"
    assert (
        rewrite_views("SELECT stage1.x FROM stage1", views)
        == "SELECT stage1__abc.x FROM stage1__abc"
    )
    # qualified column of ANOTHER table does not rewrite
    assert rewrite_views("SELECT t.stage1 FROM t", views) == "SELECT t.stage1 FROM t"
    # function-call position does not rewrite
    assert rewrite_views("SELECT stage1(x) FROM t", views) == "SELECT stage1(x) FROM t"
    # string literals untouched
    assert rewrite_views("SELECT 'stage1' AS s", views) == "SELECT 'stage1' AS s"


def test_rewrite_views_alias_shadowing():
    from ankaflow_spark.sqlfront.rewrite import rewrite_views

    views = {"stage1": "stage1__abc"}
    # an alias DEFINITION equal to a stage name shadows it: neither the
    # definition nor subsequent uses are rewritten
    sql = "SELECT stage1.x FROM other AS stage1"
    assert rewrite_views(sql, views) == sql
    # CTE name equal to a stage name shadows it too
    sql = "WITH stage1 AS (SELECT 1 AS x) SELECT x FROM stage1"
    assert rewrite_views(sql, views) == sql


def test_rewrite_table_placeholders_positions():
    from ankaflow_spark.sqlfront.rewrite import rewrite_table_placeholders

    v = "__tap_x"
    # FROM/JOIN positions rewrite, keeping the name as an alias so
    # qualified refs still resolve
    assert (
        rewrite_table_placeholders("SELECT * FROM source", ["source"], v)
        == f"SELECT * FROM {v} AS source"
    )
    assert (
        rewrite_table_placeholders("SELECT source.a FROM source WHERE a>1", ["source"], v)
        == f"SELECT source.a FROM {v} AS source WHERE a>1"
    )
    # already-aliased reference: no double alias
    assert (
        rewrite_table_placeholders("SELECT t.a FROM source t", ["source"], v)
        == f"SELECT t.a FROM {v} t"
    )
    assert (
        rewrite_table_placeholders("SELECT t.a FROM source AS t", ["source"], v)
        == f"SELECT t.a FROM {v} AS t"
    )
    # a COLUMN named like the placeholder is untouched
    assert (
        rewrite_table_placeholders("SELECT source FROM tbl", ["source"], v)
        == "SELECT source FROM tbl"
    )
    # placeholder word inside a string literal is untouched
    assert (
        rewrite_table_placeholders("SELECT * FROM data WHERE fmt = 'csv'", ["csv"], v)
        == "SELECT * FROM data WHERE fmt = 'csv'"
    )
    # case-insensitive table match (reference writes `from Parquet`)
    assert (
        rewrite_table_placeholders("select * from Parquet", ["parquet"], v)
        == f"select * from {v} AS Parquet"
    )
    # quoted spelling rewrites anywhere
    assert (
        rewrite_table_placeholders('SELECT "My Stage".a FROM "My Stage"', ["My Stage"], v)
        == f"SELECT {v}.a FROM {v}"
    )


def test_struct_literal_rewrite_text():
    from ankaflow_spark.sqlfront.rewrite import rewrite_struct_literals

    assert (
        rewrite_struct_literals("SELECT {'a': 1, 'b': x} AS s FROM t")
        == "SELECT named_struct('a', 1, 'b', x) AS s FROM t"
    )
    # nested structs and lists
    assert (
        rewrite_struct_literals("SELECT {'o': {'i': 2}} AS s")
        == "SELECT named_struct('o', named_struct('i', 2)) AS s"
    )
    # bare and double-quoted keys normalize to quoted names
    assert (
        rewrite_struct_literals('SELECT {a: 1, "b c": 2} AS s')
        == "SELECT named_struct('a', 1, 'b c', 2) AS s"
    )
    # non-struct braces (and literals) pass through
    assert rewrite_struct_literals("SELECT '{not sql}' AS s") == "SELECT '{not sql}' AS s"


def test_struct_literal_executes(engine):
    row = engine.sql("SELECT {'a': 1, 'b': 'x'} AS s").first()
    assert row["s"]["a"] == 1 and row["s"]["b"] == "x"


def test_exclude_rewrite(engine):
    df = engine.sql("SELECT 1 AS a, 2 AS b, 3 AS c").createOrReplaceTempView("__excl__")
    assert engine.sql("SELECT * EXCLUDE(b) FROM __excl__").columns == ["a", "c"]
    assert engine.sql("SELECT * EXCLUDE (b, c) FROM __excl__").columns == ["a"]
    # bare single-column form
    assert engine.sql("SELECT * EXCLUDE b FROM __excl__").columns == ["a", "c"]


def test_columns_expr_unresolvable_rejected(engine):
    import pytest as _pytest

    from ankaflow_spark.sqlfront.rewrite import UnsupportedDialect

    # unknown relation: still an actionable error naming the construct
    with _pytest.raises(UnsupportedDialect, match="COLUMNS"):
        engine.sql("SELECT COLUMNS(*) FROM __no_such_rel__")


def test_columns_expr_expansion(engine):
    engine.sql(
        "SELECT 1 AS id, 10 AS amt_a, 20 AS amt_b, 'x' AS tag"
    ).createOrReplaceTempView("__colsrc__")
    # bare star form == SELECT *
    df = engine.sql("SELECT COLUMNS(*) FROM __colsrc__")
    assert df.columns == ["id", "amt_a", "amt_b", "tag"]
    # regex form selects the matching subset
    df = engine.sql("SELECT COLUMNS('^amt_') FROM __colsrc__")
    assert df.columns == ["amt_a", "amt_b"]
    # wrapped call applies per column with fn(col) aliases
    df = engine.sql("SELECT max(COLUMNS('^amt_')) FROM __colsrc__")
    assert df.columns == ["max(amt_a)", "max(amt_b)"]
    assert [tuple(r) for r in df.collect()] == [(10, 20)]
    # alongside ordinary select items
    df = engine.sql("SELECT id, min(COLUMNS('amt')) FROM __colsrc__ GROUP BY id")
    assert df.columns == ["id", "min(amt_a)", "min(amt_b)"]


def test_columns_expr_multi_relation_rejected(engine):
    import pytest as _pytest

    from ankaflow_spark.sqlfront.rewrite import UnsupportedDialect

    engine.sql("SELECT 1 AS a").createOrReplaceTempView("__c1__")
    engine.sql("SELECT 2 AS b").createOrReplaceTempView("__c2__")
    with _pytest.raises(UnsupportedDialect, match="multi-relation"):
        engine.sql("SELECT COLUMNS(*) FROM __c1__ JOIN __c2__ ON 1=1")
    # lambda predicates outside the finite shape table still reject
    with _pytest.raises(UnsupportedDialect, match="lambda predicates"):
        engine.sql("SELECT COLUMNS(c -> length(c) > 3) FROM __c1__")


def test_columns_lambda_predicates(engine):
    engine.sql(
        "SELECT 1 AS id, 10 AS amt_a, 20 AS amt_b, 'x' AS tag"
    ).createOrReplaceTempView("__collam__")
    # LIKE over the column NAME (DuckDB lambda form)
    df = engine.sql("SELECT COLUMNS(c -> c LIKE 'amt%') FROM __collam__")
    assert df.columns == ["amt_a", "amt_b"]
    # NOT LIKE
    df = engine.sql("SELECT COLUMNS(c -> c NOT LIKE 'amt%') FROM __collam__")
    assert df.columns == ["id", "tag"]
    # ILIKE is case-insensitive; _ is a single-char wildcard
    df = engine.sql("SELECT COLUMNS(c -> c ILIKE 'AMT__') FROM __collam__")
    assert df.columns == ["amt_a", "amt_b"]
    # regexp_matches / starts_with / ends_with / contains
    df = engine.sql("SELECT COLUMNS(c -> regexp_matches(c, '_[ab]$')) FROM __collam__")
    assert df.columns == ["amt_a", "amt_b"]
    df = engine.sql("SELECT COLUMNS(c -> starts_with(c, 'ta')) FROM __collam__")
    assert df.columns == ["tag"]
    df = engine.sql("SELECT COLUMNS(c -> ends_with(c, 'd')) FROM __collam__")
    assert df.columns == ["id"]
    # wrapped aggregate applies per selected column
    df = engine.sql("SELECT max(COLUMNS(c -> contains(c, 'amt'))) FROM __collam__")
    assert df.columns == ["max(amt_a)", "max(amt_b)"]
    assert [tuple(r) for r in df.collect()] == [(10, 20)]


def test_columns_expr_subquery_source(engine):
    """COLUMNS(...) over a parenthesized subquery source: the engine
    resolves the subquery's schema by Catalyst analysis only (r9
    verdict punch item 7 — this was the last rejecting shape)."""
    engine.sql(
        "SELECT 1 AS id, 10 AS amt_a, 20 AS amt_b, 'x' AS tag"
    ).createOrReplaceTempView("__colsub__")
    df = engine.sql(
        "SELECT COLUMNS('^amt_') FROM (SELECT * FROM __colsub__ WHERE id = 1)"
    )
    assert df.columns == ["amt_a", "amt_b"]
    assert [tuple(r) for r in df.collect()] == [(10, 20)]
    # with an alias on the subquery, and a wrapping aggregate
    df = engine.sql(
        "SELECT max(COLUMNS('amt')) FROM "
        "(SELECT amt_a, amt_b, tag FROM __colsub__) t"
    )
    assert df.columns == ["max(amt_a)", "max(amt_b)"]
    # subquery may itself use dialect rewrites (EXCLUDE) and change the
    # visible column set
    df = engine.sql(
        "SELECT COLUMNS(*) FROM (SELECT * EXCLUDE(tag, id) FROM __colsub__)"
    )
    assert df.columns == ["amt_a", "amt_b"]
    # matches DuckDB on the same shape
    import duckdb as _duck

    con = _duck.connect()
    con.sql("CREATE TABLE __colsub__(id INT, amt_a INT, amt_b INT, tag VARCHAR)")
    con.sql("INSERT INTO __colsub__ VALUES (1, 10, 20, 'x')")
    sql = "SELECT COLUMNS('^amt_') FROM (SELECT * FROM __colsub__ WHERE id = 1)"
    got = engine.sql(sql)
    want = con.sql(sql)
    assert got.columns == list(want.columns)
    assert [tuple(r) for r in got.collect()] == want.fetchall()
    con.close()


def test_columns_lambda_matches_duckdb(engine):
    import duckdb as _duck

    con = _duck.connect()
    con.sql("CREATE TABLE __collam__(id INT, amt_a INT, amt_b INT, tag VARCHAR)")
    con.sql("INSERT INTO __collam__ VALUES (1, 10, 20, 'x')")
    engine.sql(
        "SELECT 1 AS id, 10 AS amt_a, 20 AS amt_b, 'x' AS tag"
    ).createOrReplaceTempView("__collam__")
    for sql in (
        "SELECT COLUMNS(c -> c LIKE 'amt%') FROM __collam__",
        "SELECT COLUMNS(c -> c NOT LIKE 'amt%') FROM __collam__",
        "SELECT COLUMNS(c -> regexp_matches(c, '_[ab]$')) FROM __collam__",
    ):
        got = engine.sql(sql)
        want = con.sql(sql)
        assert got.columns == list(want.columns)
        assert [tuple(r) for r in got.collect()] == want.fetchall()
    con.close()


def test_unpivot_statement(engine):
    engine.sql("SELECT 'x' AS id, 1 AS q1, 2 AS q2, 3 AS q3").createOrReplaceTempView(
        "__unp__"
    )
    df = engine.sql("UNPIVOT __unp__ ON q1, q2, q3 INTO NAME quarter VALUE sales")
    rows = {(r["quarter"], r["sales"]) for r in df.collect()}
    assert rows == {("q1", 1), ("q2", 2), ("q3", 3)}
    assert df.columns == ["id", "quarter", "sales"]


def test_pivot_statement_auto_values(engine):
    engine.sql(
        "SELECT * FROM VALUES ('nl', 2000, 16), ('nl', 2010, 17), "
        "('us', 2000, 282), ('us', 2010, 309) AS t(country, year, pop)"
    ).createOrReplaceTempView("__piv__")
    df = engine.sql("PIVOT __piv__ ON year USING sum(pop)")
    got = {r["country"]: (r["2000"], r["2010"]) for r in df.collect()}
    assert got == {"nl": (16, 17), "us": (282, 309)}


def test_pivot_statement_in_list_and_group(engine):
    df = engine.sql("PIVOT __piv__ ON year IN (2000) USING sum(pop) GROUP BY country")
    got = {r["country"]: r["2000"] for r in df.collect()}
    assert got == {"nl": 16, "us": 282}
    # ORDER BY tail survives
    df = engine.sql("PIVOT __piv__ ON year USING sum(pop) ORDER BY country DESC")
    assert [r["country"] for r in df.collect()] == ["us", "nl"]


def test_pivot_statement_subquery_source(engine):
    """DuckDB's PIVOT statement over a parenthesized SUBQUERY source
    (r9 verdict dialect-tail item): the source text goes through the
    full rewrite pipeline, so filters and dialect constructs work
    inside it — matches DuckDB on the same statement."""
    engine.sql(
        "SELECT * FROM VALUES ('nl', 2000, 16), ('nl', 2010, 17), "
        "('us', 2000, 282), ('us', 2010, 309) AS t(country, year, pop)"
    ).createOrReplaceTempView("__pivsub__")
    sql = (
        "PIVOT (SELECT * FROM __pivsub__ WHERE year = 2000) "
        "ON year USING sum(pop) ORDER BY country"
    )
    df = engine.sql(sql)
    got = {r["country"]: r["2000"] for r in df.collect()}
    assert got == {"nl": 16, "us": 282}
    import duckdb as _duck

    con = _duck.connect()
    con.sql("CREATE TABLE __pivsub__(country VARCHAR, year INT, pop INT)")
    con.sql(
        "INSERT INTO __pivsub__ VALUES ('nl', 2000, 16), ('nl', 2010, 17), "
        "('us', 2000, 282), ('us', 2010, 309)"
    )
    want = con.sql(sql)
    assert [tuple(r) for r in df.collect()] == want.fetchall()
    con.close()

def test_list_comprehension_rewrite_text():
    from ankaflow_spark.sqlfront.rewrite import rewrite_list_comprehensions

    assert (
        rewrite_list_comprehensions("SELECT [x * 2 FOR x IN lst] AS d")
        == "SELECT transform(lst, x -> x * 2) AS d"
    )
    assert (
        rewrite_list_comprehensions("SELECT [x for x in lst if x > 0] AS p")
        == "SELECT transform(filter(lst, x -> x > 0), x -> x) AS p"
    )
    # subscripts and plain list literals are untouched
    assert rewrite_list_comprehensions("SELECT a[1], [1, 2]") == "SELECT a[1], [1, 2]"
    # 'for' inside a string literal is not a comprehension
    assert rewrite_list_comprehensions("SELECT ['for x in y']") == "SELECT ['for x in y']"


def test_list_comprehension_executes(engine):
    row = engine.sql("SELECT [x * 2 FOR x IN [1, 2, 3]] AS d").first()
    assert row["d"] == [2, 4, 6]
    row = engine.sql("SELECT [x FOR x IN [1, 2, 3, 4] IF x % 2 = 0] AS evens").first()
    assert row["evens"] == [2, 4]
    # nested: comprehension over a comprehension source
    row = engine.sql("SELECT [y + 1 FOR y IN [x * 10 FOR x IN [1, 2]]] AS n").first()
    assert row["n"] == [11, 21]


def test_star_replace_rewrite(engine):
    engine.sql("SELECT 1 AS a, 2 AS b, 3 AS c").createOrReplaceTempView("__repl__")
    df = engine.sql("SELECT * REPLACE (b * 10 AS b) FROM __repl__")
    row = df.first()
    assert set(df.columns) == {"a", "b", "c"} and row["b"] == 20
    # multiple replacements, qualified star
    df = engine.sql("SELECT t.* REPLACE (a + 1 AS a, c - 1 AS c) FROM __repl__ t")
    row = df.first()
    assert row["a"] == 2 and row["b"] == 2 and row["c"] == 2
    # malformed entry raises with an actionable message
    import pytest as _pytest

    from ankaflow_spark.sqlfront.rewrite import UnsupportedDialect

    with _pytest.raises(UnsupportedDialect, match="REPLACE"):
        engine.sql("SELECT * REPLACE (b * 10) FROM __repl__")


def test_summarize_statement(engine):
    engine.sql(
        "SELECT * FROM VALUES (1, 'a'), (2, 'b'), (NULL, 'b') AS t(x, s)"
    ).createOrReplaceTempView("__summ__")
    df = engine.sql("SUMMARIZE __summ__")
    rows = {r["column_name"]: r for r in df.collect()}
    assert set(rows) == {"x", "s"}
    x = rows["x"]
    assert x["min"] == "1" and x["max"] == "2" and x["count"] == 3
    assert abs(x["null_percentage"] - 100 / 3) < 1e-9
    assert x["avg"] == 1.5
    s = rows["s"]
    assert s["min"] == "a" and s["max"] == "b" and s["avg"] is None
    # subquery form
    df = engine.sql("SUMMARIZE (SELECT x FROM __summ__ WHERE x IS NOT NULL)")
    assert df.count() == 1 and df.first()["null_percentage"] == 0.0
    # bare SELECT form
    assert engine.sql("SUMMARIZE SELECT 1 AS one").first()["max"] == "1"


def test_duckdb_native_idioms_pass_through(engine):
    """GROUP BY ALL / ORDER BY ALL / string_agg / ILIKE are DuckDB
    idioms Spark 4 accepts natively — locked in here so a Spark
    regression (or an overeager rewrite) surfaces as a test failure."""
    engine.sql(
        "SELECT * FROM VALUES ('a', 1), ('a', 2), ('b', 3) AS t(k, v)"
    ).createOrReplaceTempView("__idioms__")
    rows = engine.sql(
        "SELECT k, sum(v) AS s FROM __idioms__ GROUP BY ALL ORDER BY ALL"
    ).collect()
    assert [(r["k"], r["s"]) for r in rows] == [("a", 3), ("b", 3)]
    agg = engine.sql(
        "SELECT string_agg(k, ',') AS ks FROM (SELECT DISTINCT k FROM __idioms__ ORDER BY k)"
    ).first()
    assert agg["ks"] == "a,b"
    assert engine.sql("SELECT 'Abc' ILIKE 'a%' AS m").first()["m"] is True


def test_duckdb_dialect_functions_round3b(engine):
    """Second wave of everyday DuckDB spellings: arg_max/arg_min,
    quantile_cont, list_has_any/all, list_position, list_slice,
    starts_with/ends_with — values asserted against DuckDB's own
    results for the same expressions."""
    row = engine.sql(
        "SELECT arg_max(x, y) AS am, arg_min(x, y) AS an,"
        "       quantile_cont(x, 0.25) AS q,"
        "       list_has_any([1, 2], [2, 9]) AS ha,"
        "       list_has_all([1, 2, 3], [1, 3]) AS hl,"
        "       list_has_all([1, 2], [1, 9]) AS hln,"
        "       list_position([1, 2], 2) AS lp,"
        "       list_position([1, 2], 5) AS lp0,"
        "       list_slice([1, 2, 3, 4], 2, 3) AS sl,"
        "       starts_with('abc', 'ab') AS sw,"
        "       ends_with('abc', 'bc') AS ew"
        " FROM (VALUES (1, 10), (2, 20), (3, 5)) t(x, y)"
    ).collect()[0]
    assert row["am"] == 2 and row["an"] == 3
    assert row["q"] == 1.5
    assert row["ha"] is True and row["hl"] is True and row["hln"] is False
    assert row["lp"] == 2 and row["lp0"] == 0
    assert row["sl"] == [2, 3]
    assert row["sw"] is True and row["ew"] is True


def test_copy_statement_parquet_and_csv(engine, tmp_path):
    """DuckDB COPY ... TO exports execute Spark-first: subquery and
    table sources, format inference, CSV options, Count return."""
    engine.register("copysrc", engine.sql(
        "SELECT id AS k, id * 2 AS v FROM range(10)"))
    out_pq = str(tmp_path / "out.parquet")
    n = engine.sql(f"COPY (SELECT * FROM copysrc WHERE k < 7) TO '{out_pq}'").collect()
    assert n[0]["Count"] == 7
    back = engine.spark.read.parquet(out_pq)
    assert back.count() == 7 and set(back.columns) == {"k", "v"}

    out_csv = str(tmp_path / "out.csv")
    n = engine.sql(
        f"COPY copysrc TO '{out_csv}' (FORMAT CSV, HEADER, DELIMITER '|')"
    ).collect()
    assert n[0]["Count"] == 10
    first = open(out_csv).readline().strip()
    assert first == "k|v"

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unsupported or unknown format"):
        engine.sql(f"COPY copysrc TO '{tmp_path}/out.xyz'")
    with _pytest.raises(ValueError, match="local path"):
        engine.sql("COPY copysrc TO 's3://bucket/out.parquet'")


def test_read_table_fn_with_options_sessionless_error(engine):
    """Optioned read_* executes through the session (tested e2e in
    test_dialect_statements.py); the pure-text rewrite path — no
    SparkSession to materialize the reader — still rejects actionably."""
    from ankaflow_spark.sqlfront.rewrite import (
        UnsupportedDialect,
        expand_dialect_functions,
    )

    import pytest as _pytest

    with _pytest.raises(UnsupportedDialect, match="tap stage"):
        expand_dialect_functions("SELECT * FROM read_csv('data.csv', header=true)")


def test_asof_join_nested_actionable_error(engine):
    """Top-level ASOF JOIN executes (test_dialect_statements.py); a
    nested one still rejects with the supported-form message."""
    from ankaflow_spark.sqlfront.rewrite import UnsupportedDialect

    import pytest as _pytest

    with _pytest.raises(UnsupportedDialect, match="TOP-LEVEL"):
        engine.sql(
            "SELECT * FROM (SELECT 1 FROM a ASOF JOIN b ON a.k = b.k "
            "AND a.ts >= b.ts) x"
        )
    # the phrase inside a string literal is untouched
    assert engine.sql("SELECT 'ASOF JOIN' AS s").collect()[0]["s"] == "ASOF JOIN"


def test_star_rename_rewrite(engine):
    engine.sql("SELECT 1 AS a, 2 AS b, 3 AS c").createOrReplaceTempView("__ren__")
    df = engine.sql("SELECT * RENAME (a AS x) FROM __ren__")
    assert df.columns == ["b", "c", "x"]  # renamed column moves to the end
    assert [tuple(r) for r in df.collect()] == [(2, 3, 1)]
    df = engine.sql("SELECT * RENAME (a AS x, b AS y) FROM __ren__")
    assert sorted(df.columns) == ["c", "x", "y"]


def test_union_by_name_executes(engine):
    got = engine.sql("SELECT 1 AS a UNION ALL BY NAME SELECT 2 AS a").collect()
    assert sorted(r["a"] for r in got) == [1, 2]


def test_distinct_on_rewrite(engine):
    engine.sql(
        "SELECT explode(array(1, 1, 2, 2, 3)) AS k"
    ).selectExpr("k", "k * 10 + monotonically_increasing_id() AS v").createOrReplaceTempView(
        "__don__"
    )
    # deterministic: keep the row with the highest v per k
    df = engine.sql("SELECT DISTINCT ON (k) k, v FROM __don__ ORDER BY k, v DESC")
    rows = df.collect()
    assert [r["k"] for r in rows] == [1, 2, 3]
    # one row per key, and it is the max-v row
    per_k = {}
    for r in engine.sql("SELECT k, max(v) AS mv FROM __don__ GROUP BY k").collect():
        per_k[r["k"]] = r["mv"]
    assert all(r["v"] == per_k[r["k"]] for r in rows)
    # no ORDER BY: still exactly one row per key
    df2 = engine.sql("SELECT DISTINCT ON (k) k, v FROM __don__")
    assert sorted(r["k"] for r in df2.collect()) == [1, 2, 3]
    # with LIMIT
    df3 = engine.sql("SELECT DISTINCT ON (k) k, v FROM __don__ ORDER BY k LIMIT 2")
    assert len(df3.collect()) == 2


class TestRound5Dialect:
    def test_renames(self):
        from ankaflow_spark.sqlfront.rewrite import expand_dialect_functions as e

        assert e("SELECT approx_unique(x) FROM t") == "SELECT approx_count_distinct(x) FROM t"
        assert e("SELECT strpos('hello','ll')") == "SELECT instr('hello','ll')"

    def test_list_sort_directions(self):
        from ankaflow_spark.sqlfront.rewrite import expand_dialect_functions as e

        assert e("SELECT list_sort([3,1,2])") == "SELECT array_sort(array(3,1,2))".replace(
            "array(3,1,2)", "[3,1,2]"
        )
        assert "reverse(array_sort(" in e("SELECT list_sort(x, 'DESC')")
        assert e("SELECT list_sort(x, 'ASC')") == "SELECT array_sort(x)"

    def test_list_aggregate_names(self):
        from ankaflow_spark.sqlfront.rewrite import (
            UnsupportedDialect,
            expand_dialect_functions as e,
        )

        assert "aggregate((x), CAST(0 AS DOUBLE)" in e("SELECT list_aggregate(x, 'sum')")
        assert e("SELECT list_aggregate(x, 'min')") == "SELECT array_min(x)"
        assert e("SELECT list_sum(x)").startswith("SELECT aggregate((x)")
        assert e("SELECT list_max(x)") == "SELECT array_max(x)"
        import pytest

        with pytest.raises(UnsupportedDialect, match="list_aggregate"):
            e("SELECT list_aggregate(x, 'entropy')")

    def test_array_agg_order_by(self):
        from ankaflow_spark.sqlfront.rewrite import expand_dialect_functions as e

        out = e("SELECT array_agg(a ORDER BY b) FROM t")
        assert out == (
            "SELECT transform(array_sort(collect_list(struct((b) AS _o0, (a) AS _v))), "
            "s -> s._v) FROM t"
        )
        assert e("SELECT array_agg(a ORDER BY b DESC) FROM t").startswith("SELECT reverse(")
        assert e("SELECT array_agg(a) FROM t") == "SELECT collect_list(a) FROM t"

    def test_known_unsupported_actionable(self):
        import pytest

        from ankaflow_spark.sqlfront.rewrite import (
            UnsupportedDialect,
            expand_dialect_functions as e,
        )

        # histogram(x) / histogram(x, n) / histogram(x, [..]) / bar /
        # jaccard rewrite (binned n-form r8, boundaries-list r9);
        # non-literal second args and the jaro family reject actionably
        for fn, hint in (
            ("histogram(x, n_bins)", "width_bucket"),
            ("histogram(x, equi_width_bins(0, 1, 4))", "width_bucket"),
            ("jaro_similarity(a,b)", "levenshtein"),
        ):
            with pytest.raises(UnsupportedDialect, match=hint):
                e(f"SELECT {fn} FROM t")
        assert "map_from_entries" in e("SELECT histogram(x) FROM t")
        assert "map_from_entries" in e("SELECT histogram(x, [1,2]) FROM t")
        assert "element_at" in e("SELECT histogram(x, [1]) FROM t")
        assert "array_intersect" in e("SELECT jaccard(a, b) FROM t")

    def test_json_arrow_and_cast(self):
        from ankaflow_spark.sqlfront.rewrite import normalize_dialect as n

        assert (
            n("SELECT props->>'plan' AS plan FROM events")
            == "SELECT get_json_object(props, '$.plan') AS plan FROM events"
        )
        assert "::JSON" not in n("SELECT x::JSON AS j FROM t")
        # lambda arrows survive untouched
        assert n("SELECT transform(a, x -> 'y') FROM t") == "SELECT transform(a, x -> 'y') FROM t"

    def test_bracket_slice_simple_rewrites_complex_rejected(self):
        import pytest

        from ankaflow_spark.sqlfront.rewrite import UnsupportedDialect, normalize_dialect as n

        # simple identifier slices rewrite (r7); expression bounds reject
        assert "slice(x, 2, size(x) - (2) + 1)" in n("SELECT x[2:] FROM t")
        with pytest.raises(UnsupportedDialect, match="list_slice"):
            n("SELECT x[a+1:b*2] FROM t")

    def test_split_args_bracket_aware(self):
        from ankaflow_spark.sqlfront.rewrite import _split_top_level

        assert _split_top_level("[1,2,3], 'sum'") == ["[1,2,3]", "'sum'"]
        assert _split_top_level("{'a': 1, 'b': 2}, y") == ["{'a': 1, 'b': 2}", "y"]

    def test_from_first(self):
        from ankaflow_spark.sqlfront.rewrite import normalize_dialect as n

        assert n("FROM orders") == "SELECT * FROM orders"
        assert (
            n("FROM orders SELECT o_orderkey WHERE o_orderkey > 1")
            == "SELECT o_orderkey FROM orders WHERE o_orderkey > 1"
        )
        assert (
            n("FROM orders SELECT o_orderstatus, count(*) AS c GROUP BY 1")
            == "SELECT o_orderstatus, count(*) AS c FROM orders GROUP BY 1"
        )
        assert n("FROM orders SELECT o_orderkey") == "SELECT o_orderkey FROM orders"


class TestStringSimilarityRewrites:
    def test_jaccard_and_mismatches_match_duckdb(self, spark):
        """jaccard()/mismatches()/hamming() rewrites must reproduce
        DuckDB's values exactly on a golden case set (character-SET
        jaccard, case-sensitive, multiset-insensitive)."""
        import duckdb

        from ankaflow_spark.sqlfront.rewrite import rewrite_sql

        cases = [
            ("duck", "luck"),
            ("ABC", "abc"),
            ("aab", "ab"),  # unequal length: jaccard only (mismatches errors in DuckDB too)
            ("spark", "spork"),
            ("same", "same"),
        ]
        sel = ", ".join(
            f"jaccard('{a}', '{b}') AS j{i}"
            + (f", mismatches('{a}', '{b}') AS m{i}" if len(a) == len(b) else "")
            for i, (a, b) in enumerate(cases)
        )
        want = duckdb.connect().execute(f"SELECT {sel}").fetchall()[0]
        got = spark.sql(rewrite_sql(f"SELECT {sel}", {})).collect()[0]
        assert tuple(got) == tuple(want)

    def test_other_similarity_fns_reject_actionably(self):
        import pytest as _pytest

        from ankaflow_spark.sqlfront.rewrite import (
            UnsupportedDialect,
            rewrite_sql,
        )

        with _pytest.raises(UnsupportedDialect):
            rewrite_sql("SELECT jaro_similarity('a', 'b')", {})


# -- one lexer: every pass reads strings, quoted names and comments alike --


@pytest.mark.parametrize(
    "sql, verdict",
    [
        ("SELECT a FROM t -- it's\n JOIN u ON t.k = u.k", "tap queries cannot contain JOINs"),
        ("SELECT a FROM t -- no join here", None),
    ],
    ids=["join-after-comment-apostrophe", "join-inside-comment"],
)
def test_validator_reads_comments_as_whitespace(sql, verdict):
    if verdict is None:
        validate_simple_query(sql)
    else:
        with pytest.raises(QueryValidationError, match=verdict):
            validate_simple_query(sql)


@pytest.mark.parametrize(
    "sql, want",
    [
        (
            "SELECT -- the user's flag\n Fn.eq(a, b) AS f FROM t",
            "SELECT (a = b) AS f FROM t",
        ),
        (
            "SELECT a AS \"owner's id\", Fn.eq(a, b) AS f FROM t",
            "SELECT a AS `owner's id`, (a = b) AS f FROM t",
        ),
        ("SELECT a FROM t -- no QUALIFY here", "SELECT a FROM t"),
        (
            "SELECT * FROM (SELECT DISTINCT ON (a) a, b FROM t"
            " ORDER BY a, concat(b, ')')) x LIMIT 3",
            "SELECT * FROM (SELECT a, b FROM t QUALIFY ROW_NUMBER() OVER"
            " (PARTITION BY a ORDER BY a, concat(b, ')')) = 1"
            " ORDER BY a, concat(b, ')')) x LIMIT 3",
        ),
    ],
    ids=[
        "fn-after-comment-apostrophe",
        "fn-after-quoted-name-apostrophe",
        "qualify-inside-comment",
        "distinct-on-paren-in-string",
    ],
)
def test_rewrite_reads_comments_and_quoted_names(sql, want):
    assert rewrite_sql(sql, {}).split() == want.split()


@pytest.mark.parametrize("op", ["UNION", "UNION ALL", "INTERSECT", "EXCEPT"])
def test_by_name_found_after_comment_apostrophe(op):
    from ankaflow_spark.sqlfront.statements import parse_by_name_setop

    spec = parse_by_name_setop(f"SELECT a FROM t -- don't\n{op} BY NAME SELECT a FROM u")
    assert spec is not None
    assert (spec["op"], spec["all"], spec["right"]) == (op.split()[0], "ALL" in op, "SELECT a FROM u")


def test_by_name_after_comment_executes(engine):
    df = engine.sql("SELECT 1 AS a, 2 AS b -- don't\nUNION ALL BY NAME SELECT 3 AS b, 4 AS a")
    assert sorted(tuple(r) for r in df.collect()) == [(1, 2), (4, 3)]


def test_hint_kept_verbatim():
    """``/*+ ... */`` is a hint, not a comment: the bucketed-layout
    example's MERGE hint reaches Spark byte-for-byte."""
    import os

    import yaml

    path = os.path.join(os.path.dirname(__file__), "..", "examples", "bucketed_layout.yaml")
    with open(path) as fh:
        stages = yaml.safe_load(fh)
    (sql,) = [s["query"] for s in stages if "/*+" in s.get("query", "")]
    out = rewrite_sql(sql, {"li_src": "li_src", "ord_src": "ord_src"})
    assert out.startswith("SELECT /*+ MERGE(l) */ o_orderpriority AS order_priority,")


@pytest.mark.parametrize("from_clause", ["a, b", "a , b", "a,b"])
def test_columns_expr_comma_join_rejected(from_clause):
    """A comma join is found however it is spaced (the keyword finder
    bounds words, not punctuation)."""
    from ankaflow_spark.sqlfront.rewrite import UnsupportedDialect, expand_columns_expr

    with pytest.raises(UnsupportedDialect, match="multi-relation"):
        expand_columns_expr(f"SELECT COLUMNS(*) FROM {from_clause}", lambda name: [("x", "int")])
