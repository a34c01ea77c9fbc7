"""Property-based tests (hypothesis) — beyond the reference's test
strategy (SURVEY §5 notes it has none): engine invariants that must
hold for arbitrary inputs."""

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ankaflow_spark.plans.api import API
from ankaflow_spark.plans.renderer import Renderer
from ankaflow_spark.session import mangle_view_name
from ankaflow_spark.sources.locator import Locator, normalize_scheme
from ankaflow_spark.sqlfront.ranking import build_ranked_sql
from ankaflow_spark.sqlfront.rewrite import expand_fn_macros, rewrite_qualify

slow = settings(max_examples=50, suppress_health_check=[HealthCheck.too_slow], deadline=None)


@slow
@given(st.text(min_size=1, max_size=60))
def test_mangle_always_legal_identifier(name):
    out = mangle_view_name(name)
    assert out
    assert all(c.isalnum() or c == "_" for c in out)
    assert not out[0].isdigit()
    # deterministic
    assert out == mangle_view_name(name)


@slow
@given(st.text(min_size=1, max_size=60), st.text(min_size=1, max_size=60))
def test_mangle_injective_on_distinct_names(a, b):
    if a != b:
        assert mangle_view_name(a) != mangle_view_name(b)


@slow
@given(
    st.lists(
        st.one_of(
            st.integers(-(10**9), 10**9),
            st.floats(allow_nan=False, allow_infinity=False, width=32),
            st.text(max_size=20),
            st.none(),
            st.booleans(),
        ),
        max_size=8,
    )
)
def test_sqltuple_never_breaks_out(values):
    out = API.sqltuple(values)
    assert out.startswith("(") and out.endswith(")")
    # any embedded quote must be doubled: strip doubled quotes, none remain
    inner = out[1:-1]
    for chunk in inner.split(", "):
        if chunk.startswith("'") and chunk.endswith("'"):
            assert "'" not in chunk[1:-1].replace("''", "")


@slow
@given(st.integers(0, 2**31 - 1))
def test_api_dt_unix_seconds_roundtrip(epoch):
    got = API.dt(epoch)
    assert got == dt.datetime.fromtimestamp(epoch, dt.timezone.utc).replace(tzinfo=None)
    # string spelling parses the same once it has 10 digits (the
    # all-digit branch is length-aware below that)
    if len(str(epoch)) == 10:
        assert API.dt(str(epoch)) == got


@slow
@given(st.datetimes(min_value=dt.datetime(1971, 1, 1), max_value=dt.datetime(2100, 1, 1)))
def test_api_dt_iso_roundtrip(value):
    assert API.dt(value.isoformat()) == value


@slow
@given(st.text(max_size=40))
def test_renderer_passthrough_without_delimiters(text):
    r = Renderer()
    if "<<" not in text and "<%" not in text and "<#" not in text:
        assert r.render(text, {}) == text


@slow
@given(
    st.text(
        alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd"), whitelist_characters=" _.()=<>'"),
        max_size=80,
    )
)
def test_fn_expansion_idempotent(sql):
    once = expand_fn_macros(sql)
    assert expand_fn_macros(once) == once


@slow
@given(
    st.lists(st.sampled_from(["id", "region", "kind"]), min_size=1, max_size=3, unique=True),
    st.sampled_from(["updated_at", "ts", "v"]),
)
def test_ranked_sql_always_filters_rank(keys, version):
    sql = build_ranked_sql("SELECT * FROM src", version=version, keys=keys)
    assert "__rank__ = 1" in sql
    for k in keys:
        assert f'"{k}"' in sql
    assert f'"{version}" DESC' in sql


@slow
@given(st.sampled_from([
    "SELECT a FROM t",
    "SELECT a FROM t WHERE b = 'QUALIFY'",
    "SELECT a, row_number() OVER (ORDER BY b) AS rn FROM t",
]))
def test_qualify_rewrite_no_false_positive(sql):
    assert rewrite_qualify(sql) == sql


@slow
@given(st.sampled_from(["s3", "gs", "hdfs", "file"]), st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Nd"), whitelist_characters="-_/."),
    min_size=1, max_size=30,
))
def test_locator_scheme_stability(scheme, path):
    uri = f"{scheme}://{path}"
    out = normalize_scheme(uri)
    # normalization is idempotent and preserves the path
    assert normalize_scheme(out) == out
    assert out.endswith(path)


@slow
@given(st.text(min_size=1, max_size=25).filter(lambda s: "/" not in s and ":" not in s))
def test_locator_relative_join_contains_name(name):
    out = Locator(bucket="s3://b", prefix="p").locate(name)
    assert out.startswith("s3a://b/p/")
    assert out.endswith(name.lstrip("/"))


# -- dialect rewriters never corrupt non-matching SQL -----------------------
_sql_texts = st.text(
    alphabet=st.sampled_from(list("abcxyz_ (),.*'+-=<>0123456789\n")), max_size=60
)


@given(_sql_texts)
@settings(max_examples=200, suppress_health_check=[HealthCheck.too_slow])
def test_comprehension_rewrite_total(sql):
    """Never raises on arbitrary input; output only changes if a
    bracket was present to interpret."""
    from ankaflow_spark.sqlfront.rewrite import rewrite_list_comprehensions

    out = rewrite_list_comprehensions(sql)
    if "[" not in sql:
        assert out == sql


@given(
    st.lists(st.integers(-99, 99), min_size=1, max_size=5),
    st.integers(1, 9),
)
@settings(max_examples=50, suppress_health_check=[HealthCheck.too_slow])
def test_comprehension_matches_python(items, mul):
    """[x*m FOR x IN lst] evaluates like the Python comprehension."""
    from ankaflow_spark.sqlfront.rewrite import rewrite_list_comprehensions

    lst = "[" + ", ".join(str(i) for i in items) + "]"
    sql = rewrite_list_comprehensions(f"SELECT [x * {mul} FOR x IN {lst}] AS r")
    assert sql == (
        f"SELECT transform({lst}, x -> x * {mul}) AS r"
    )


@given(_sql_texts)
@settings(max_examples=200, suppress_health_check=[HealthCheck.too_slow])
def test_comment_is_whitespace(sql):
    """A trailing comment holding a quote and open brackets changes
    neither the rewrite (up to whitespace) nor the tap validator's
    verdict, for any SQL text that leaves no quote open."""
    from hypothesis import assume

    from ankaflow_spark.sqlfront.rewrite import COMMENT, lex, rewrite_sql
    from ankaflow_spark.sqlfront.validate import validate_simple_query

    commented = sql + "\n-- it's ( ["
    assume(lex(commented)[-1][0] == COMMENT)

    def outcome(fn, text):
        try:
            out = fn(text)
        except Exception as exc:  # the same error either way
            return type(exc), " ".join(str(exc).split())
        return " ".join(out.split()) if isinstance(out, str) else out

    for fn in (lambda s: rewrite_sql(s, {"abc": "v_abc"}), validate_simple_query):
        assert outcome(fn, commented) == outcome(fn, sql)


@given(_sql_texts)
@settings(max_examples=200, suppress_health_check=[HealthCheck.too_slow])
def test_star_replace_total(sql):
    """Total on arbitrary input: either rewrites a well-formed REPLACE,
    raises the typed UnsupportedDialect, or leaves text unchanged."""
    from ankaflow_spark.sqlfront.rewrite import (
        UnsupportedDialect,
        rewrite_star_replace,
    )

    try:
        out = rewrite_star_replace(sql)
    except UnsupportedDialect:
        return
    if "REPLACE" not in sql.upper():
        assert out == sql


@slow
@given(st.integers(min_value=2, max_value=64), st.lists(st.integers(-1000, 1000), min_size=1, max_size=40))
def test_histogram_binned_rewrite_is_exhaustive_and_exact(n_bins, vals):
    """The histogram(x, n) rewrite must (a) count every non-degenerate
    group's value exactly once across the n bins and (b) key bins by
    ascending upper boundaries — for arbitrary bin counts and integer
    value sets (pure-Python evaluation of the rewritten semantics)."""
    lo, hi = min(vals), max(vals)
    # mirror the generated SQL's semantics literally
    if lo == hi:
        bins = {float(hi): len(vals)}
    else:
        w = (float(hi) - float(lo)) / n_bins
        bins = {}
        for b in range(1, n_bins + 1):
            lower = float(lo) + (b - 1) * w
            upper = float(lo) + b * w
            c = sum(
                1
                for v in vals
                if (v > lower or b == 1) and (v <= upper or b == n_bins)
            )
            bins[upper] = c  # every bin key is emitted, including empty
    assert sum(bins.values()) == len(vals)  # exhaustive, no double counting
    assert list(bins) == sorted(bins)  # ascending boundary keys


@slow
@given(st.text(alphabet="abcxyz_(),' 0123456789[]", min_size=0, max_size=80))
def test_dialect_expand_never_crashes_on_noise(sql):
    """expand_dialect_functions on arbitrary token noise either returns
    a string or raises the actionable UnsupportedDialect — never an
    unhandled exception (the reference contract is 'reject actionably')."""
    from ankaflow_spark.sqlfront.rewrite import (
        UnsupportedDialect,
        expand_dialect_functions,
    )

    try:
        out = expand_dialect_functions(sql)
    except UnsupportedDialect:
        return
    assert isinstance(out, str)


@slow
@given(
    st.lists(st.integers(-1000, 1000), min_size=1, max_size=8, unique=True),
    st.lists(st.integers(-1200, 1200), min_size=0, max_size=40),
)
def test_histogram_boundaries_rewrite_semantics(bounds, vals):
    """The histogram(x, [boundaries]) rewrite semantics (r9): keys are
    the given boundaries ascending; bin i counts prev < x <= b_i with
    the first bin unbounded below; values above the top boundary are
    DROPPED; every boundary key is emitted (empty bins 0) — for
    arbitrary boundary sets and integer values (pure-Python evaluation
    of the rewritten expression's semantics)."""
    bs = sorted(bounds)
    bins = {}
    for i, b in enumerate(bs):
        lo = bs[i - 1] if i > 0 else None
        bins[b] = sum(1 for v in vals if v <= b and (lo is None or v > lo))
    assert list(bins) == bs  # every boundary keyed, ascending
    # exhaustive over the covered domain, nothing above the top counted
    assert sum(bins.values()) == sum(1 for v in vals if v <= bs[-1])
    # no double counting: each covered value lands in exactly one bin
    for v in set(vals):
        hit = [b for i, b in enumerate(bs)
               if v <= b and (i == 0 or v > bs[i - 1])]
        assert len(hit) == (1 if v <= bs[-1] else 0)


@settings(deadline=None, max_examples=30)
@given(
    st.lists(
        st.tuples(st.integers(0, 29), st.integers(0, 23)),
        min_size=1,
        max_size=200,
    )
)
def test_ts44_median_mad_arithmetic_exact(events):
    """ts44's exact-integer seasonal baseline: for arbitrary (day, hour)
    event placements, the SQL's med2 = 2*median / mad4 = 2*median(dev2)
    spelling (evaluated via DuckDB, the oracle engine) must equal a
    literal statistics.median recount, and the integer anomaly verdict
    2*dev2 > 3*mad4 must match |c - med| > 3*MAD computed in exact
    fractions."""
    from collections import Counter, defaultdict
    from fractions import Fraction
    from statistics import median

    import duckdb

    cells = Counter(events)  # (day_no, hr) -> count
    groups = defaultdict(list)
    for (day, hr), c in cells.items():
        groups[((day + 4) % 7, hr)].append(c)
    med2 = {k: 2 * Fraction(median(v)) for k, v in groups.items()}
    for k, v in med2.items():
        assert v.denominator == 1  # 2*median of ints is an exact integer

    con = duckdb.connect()
    con.execute("CREATE TABLE cells (day_no BIGINT, hr BIGINT, n_events BIGINT)")
    con.executemany(
        "INSERT INTO cells VALUES (?, ?, ?)",
        [(d, h, c) for (d, h), c in cells.items()],
    )
    rows = con.execute("""
      WITH keyed AS (
        SELECT day_no, hr, CAST((day_no + 4) % 7 AS BIGINT) AS dow, n_events
        FROM cells
      ),
      scored AS (
        SELECT day_no, hr, dow, n_events,
               CAST(2 * median(n_events) OVER (PARTITION BY dow, hr) AS BIGINT) AS med2
        FROM keyed
      ),
      devd AS (
        SELECT *, ABS(2 * n_events - med2) AS dev2 FROM scored
      )
      SELECT day_no, hr, n_events, med2, dev2,
             CAST(2 * median(dev2) OVER (PARTITION BY dow, hr) AS BIGINT) AS mad4
      FROM devd ORDER BY day_no, hr
    """).fetchall()
    assert len(rows) == len(cells)
    for day, hr, c, m2, d2, m4 in rows:
        gk = ((day + 4) % 7, hr)
        assert m2 == med2[gk]
        assert d2 == abs(2 * c - m2)
        devs = [abs(2 * v - int(med2[gk])) for v in groups[gk]]
        assert m4 == 2 * Fraction(median(devs))
        # the SQL verdict equals the exact-fraction definition
        sql_flag = 2 * d2 > 3 * m4 and d2 >= 2
        exact_flag = (
            abs(Fraction(c) - med2[gk] / 2) > 3 * (Fraction(m4) / 4)
            and abs(2 * c - int(med2[gk])) >= 2
        )
        assert sql_flag == exact_flag
