"""The ``Fn.*`` function surface, Spark-first.

The reference ships a SQL-macro library registered on its embedded DB at
connect time (reference: ankaflow/internal/macros.py:67-321 — semantics
studied, bodies not copied). Spark 4 has SQL scalar UDFs
(``CREATE TEMPORARY FUNCTION ... RETURNS ... RETURN expr``) which Catalyst
inlines, so the library is expressed twice from one source of truth:

* **Column builders** (``fn_div(col, col) -> Column``) for DataFrame-API
  users — pure built-in expression compositions, fully codegen'd, no
  Python UDF cost.
* **SQL UDF registration** on first use, so ``SELECT fn_div(a, b)``
  works inside any transform stage: the engine registers the ``fn_*``
  names a statement references before it runs it, once per session
  (``register_referenced``), instead of all of them at engine connect.
  User SQL written against the reference's spelling (``Fn.div(a, b)``)
  is rewritten to ``fn_div(a, b)`` by the SQL front-end
  (``ankaflow_spark.sqlfront``) because Spark function names cannot be
  dot-qualified.

All functions are deterministic scalar expressions — safe at any scale,
no shuffle, no state.
"""

from __future__ import annotations

import re
from typing import Dict, Iterable, Optional, Union

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from ..session import memo

ColumnOrName = Union[Column, str]


def _c(col: ColumnOrName) -> Column:
    return col if isinstance(col, Column) else F.col(col)


# ---------------------------------------------------------------------------
# arithmetic / casting
# ---------------------------------------------------------------------------
def fn_add(a, b) -> Column:
    return _c(a) + _c(b)


def fn_plus(a, b) -> Column:
    """Alias of add (the reference ships both spellings)."""
    return fn_add(a, b)


def fn_minus(a, b) -> Column:
    return _c(a) - _c(b)


def fn_mult(a, b) -> Column:
    return _c(a) * _c(b)


def fn_div(a, b) -> Column:
    """NULL-safe divide; 0 on divide-by-zero (reference Fn.div)."""
    return F.coalesce(_c(a) / F.nullif(_c(b), F.lit(0)), F.lit(0.0))


def fn_float(a) -> Column:
    """TRY_CAST to double, default 0.0 (reference Fn.float)."""
    return F.coalesce(_c(a).try_cast("double"), F.lit(0.0))


def fn_int(a) -> Column:
    """TRY_CAST to bigint, default 0 (reference Fn.int)."""
    return F.coalesce(_c(a).try_cast("bigint"), F.lit(0).cast("bigint"))


def fn_str(a) -> Column:
    """TRY_CAST to string, default '' (reference Fn.str)."""
    return F.coalesce(_c(a).try_cast("string"), F.lit(""))


def fn_bool(a) -> Column:
    """Truthiness coercion (reference Fn.bool): NULL -> false, numeric
    0 -> false, empty string -> false, boolean passthrough, else true."""
    c = _c(a)
    num = c.try_cast("double")
    return (
        F.when(c.isNull(), F.lit(False))
        .when(num.isNotNull(), num != 0)
        .when(c.try_cast("boolean").isNotNull(), c.try_cast("boolean"))
        .when(c.try_cast("string") == "", F.lit(False))
        .otherwise(F.lit(True))
    )


# ---------------------------------------------------------------------------
# comparisons / boolean algebra (truthy variants)
# ---------------------------------------------------------------------------
def fn_eq(a, b) -> Column:
    return _c(a) == _c(b)


def fn_ne(a, b) -> Column:
    return _c(a) != _c(b)


def fn_gt(a, b) -> Column:
    return _c(a) > _c(b)


def fn_lt(a, b) -> Column:
    return _c(a) < _c(b)


def fn_gte(a, b) -> Column:
    return _c(a) >= _c(b)


def fn_lte(a, b) -> Column:
    return _c(a) <= _c(b)


def fn_ifelse(cond, then, otherwise) -> Column:
    return F.when(_c(cond), _c(then)).otherwise(_c(otherwise))


def fn_when(cond, then, otherwise) -> Column:
    """Like ifelse but coerces the condition through truthiness."""
    return F.when(fn_bool(cond), _c(then)).otherwise(_c(otherwise))


def fn_and(a, b) -> Column:
    return fn_bool(a) & fn_bool(b)


def fn_or(a, b) -> Column:
    return fn_bool(a) | fn_bool(b)


def fn_not(a) -> Column:
    return ~fn_bool(a)


# ---------------------------------------------------------------------------
# datetime coercion — the reference's most behavior-critical scalar
# (Fn.dt, 7-branch coercion; reference macros.py:106-174)
# ---------------------------------------------------------------------------
def fn_dt(a) -> Column:
    """Coerce anything to a timestamp (reference macros.py Fn.dt cases
    1-7, same branch outcomes).

    Numeric inputs are first normalized to plain decimal notation
    (Spark stringifies DOUBLE as ``'1.6E9'``; the reference sees
    DuckDB's ``'1600000000.0'``) so the digit discrimination matches
    the reference's text-based CASE. Branches: digit strings with an
    integral part of exactly 10 digits are epoch seconds (fractional
    seconds preserved, reference case 4); integral digit strings of
    more than 15 digits are nanoseconds (case 5); any other integral
    digit string is milliseconds (case 6 — the reference's catch-all,
    so 9/11/12/14/15-digit epochs land here, not at epoch 0); ISO
    strings get the T/Z/offset suffix stripped and parse as naive UTC
    (cases 1-3); everything else falls back to epoch 0. Digit-first
    ordering is behavior-equivalent to the reference's cast-first
    ordering because DuckDB never casts pure-digit strings to
    TIMESTAMP/DATE (verified), while Spark's lenient ``'2024'`` ->
    2024-01-01 cast must not shadow the milliseconds branch.
    """
    c = _c(a)
    s = F.trim(c.try_cast("string"))
    # plain-decimal normalization for numeric-looking input
    norm = F.coalesce(s.try_cast("decimal(38,9)").cast("string"), s)
    digits = F.regexp_extract(norm, r"^(\d+)(?:\.\d+)?$", 1)
    ndig = F.length(digits)
    frac = F.coalesce(
        F.regexp_extract(norm, r"^\d+(\.\d+)?$", 1).try_cast("double"), F.lit(0.0)
    )
    # strip trailing Z or +hh:mm / -hh:mm zone suffix from ISO strings
    iso = F.regexp_replace(F.regexp_replace(s, r"[Zz]$", ""), r"[+-]\d{2}:?\d{2}$", "")
    iso = F.regexp_replace(iso, r"[Tt]", " ")
    return (
        F.when(c.isNull(), F.timestamp_seconds(F.lit(0)))
        .when(
            (ndig == 10),
            F.timestamp_micros(
                (digits.try_cast("bigint") * 1000000) + (frac * 1000000).cast("bigint")
            ),
        )
        .when(
            (ndig > 15) & (frac == 0),
            F.timestamp_micros((digits.try_cast("bigint") / 1000).cast("bigint")),
        )
        .when((ndig > 0) & (frac == 0), F.timestamp_millis(digits.try_cast("bigint")))
        .otherwise(
            F.coalesce(
                iso.try_cast("timestamp"),
                s.try_cast("timestamp"),
                F.timestamp_seconds(F.lit(0)),
            )
        )
    )


_PATTERN_MAP = [
    ("YYYY", "yyyy"),
    ("YY", "yy"),
    ("MM", "MM"),
    ("DD", "dd"),
    ("HH", "HH"),
    ("MI", "mm"),
    ("SS", "ss"),
    ("%Y", "yyyy"),
    ("%m", "MM"),
    ("%d", "dd"),
    ("%H", "HH"),
    ("%M", "mm"),
    ("%S", "ss"),
]


def human_pattern_to_java(pattern: str) -> str:
    """Convert strptime / human patterns (``%Y/%m/%d``, ``YYYY-MM-DD``)
    to Java datetime patterns (reference macros.py:146-174 auto-converts
    human patterns; here the conversion is engine code, no dynamic SQL)."""
    out = pattern
    for src, dst in _PATTERN_MAP:
        out = out.replace(src, dst)
    return out


def fn_dt_pattern(a, pattern: str) -> Column:
    return F.to_timestamp(_c(a), human_pattern_to_java(pattern))


# -- datetime projections ----------------------------------------------------
def fn_dt_isoformat(a) -> Column:
    return F.date_format(_c(a), "yyyy-MM-dd'T'HH:mm:ss")


def fn_dt_yyyy_mm_dd(a) -> Column:
    return F.date_format(_c(a), "yyyy-MM-dd")


def fn_dt_yyyy(a) -> Column:
    return F.date_format(_c(a), "yyyy")


def fn_dt_mm(a) -> Column:
    return F.date_format(_c(a), "MM")


def fn_dt_dd(a) -> Column:
    return F.date_format(_c(a), "dd")


def fn_dt_hh(a) -> Column:
    return F.date_format(_c(a), "HH")


def fn_dt_iso_day(a) -> Column:
    return (F.weekday(_c(a)) + 1).cast("bigint")


def fn_dt_iso_week(a) -> Column:
    return F.weekofyear(_c(a)).cast("bigint")


def fn_dt_iso_year(a) -> Column:
    # ISO year = calendar year of the Thursday in this date's ISO week
    thursday = F.date_add(_c(a).cast("date"), 4 - (F.weekday(_c(a)) + 1))
    return F.year(thursday).cast("bigint")


def fn_dt_iso_weekdate(a) -> Column:
    return F.concat(
        fn_dt_iso_year(a).cast("string"),
        F.lit("-W"),
        F.lpad(fn_dt_iso_week(a).cast("string"), 2, "0"),
        F.lit("-"),
        fn_dt_iso_day(a).cast("string"),
    )


def fn_dt_dayname(a) -> Column:
    return F.date_format(_c(a), "EEEE")


def fn_dt_monthname(a) -> Column:
    return F.date_format(_c(a), "MMMM")


def fn_dt_quarter(a) -> Column:
    return F.quarter(_c(a)).cast("bigint")


def fn_dt_add(a, days) -> Column:
    d = days if isinstance(days, Column) else F.lit(days)
    return F.to_timestamp(F.date_add(_c(a).cast("date"), d.cast("int")))


def fn_dt_boy(a) -> Column:
    return F.date_trunc("year", _c(a))


def fn_dt_bom(a) -> Column:
    return F.date_trunc("month", _c(a))


def fn_dt_monday(a) -> Column:
    return F.date_trunc("week", _c(a))


def fn_dt_eom(a) -> Column:
    return F.last_day(_c(a))


def fn_month445(a) -> Column:
    """4-4-5 retail-calendar month *number* from the ISO week (reference
    macros.py:252-267 boundaries): weeks 1-4 -> 1, 5-8 -> 2, 9-13 -> 3,
    ... 49-53 -> 12. Numeric convenience variant; the reference-exact
    '%G-MM' label is :func:`fn_month445_label` (and the SQL-callable
    ``fn_month445`` mirrors the reference's string form)."""
    wk = F.weekofyear(_c(a))
    # 0..3 quarters of 13 weeks; ISO week 53 stays in Q4 (the reference
    # maps weeks 48-53 all to month 12)
    period = F.least(F.floor((wk - 1) / 13), F.lit(3))
    inq = wk - period * 13  # 1..13 (14 for week 53) week-in-quarter
    month_in_q = F.when(inq <= 4, 1).when(inq <= 8, 2).otherwise(3)
    return (period * 3 + month_in_q).cast("bigint")


def fn_month445_label(a) -> Column:
    """Reference-exact Fn.month445: the 4-4-5 month as an
    ``'<ISOYEAR>-<MM>'`` string (reference macros.py:252-267 returns
    ``strftime('%G-01', date)``-style labels)."""
    return F.concat(
        fn_dt_iso_year(a).cast("string"),
        F.lit("-"),
        F.lpad(fn_month445(a).cast("string"), 2, "0"),
    )


# ---------------------------------------------------------------------------
# collections / strings
# ---------------------------------------------------------------------------
def fn_uniquelist(a) -> Column:
    """Aggregate: distinct values as array (order-insensitive)."""
    return F.collect_set(_c(a))


def fn_has(lst, x) -> Column:
    return F.array_contains(_c(lst), x if not isinstance(x, str) else F.lit(x))


def fn_includes(text, regex) -> Column:
    if isinstance(regex, str):
        return _c(text).rlike(regex)
    return F.regexp_like(_c(text), regex)


def fn_extract(text, regex: str) -> Column:
    return F.regexp_extract(_c(text), regex, 0)


def fn_trim(a) -> Column:
    return F.trim(_c(a))


# ---------------------------------------------------------------------------
# data-quality assertions (reference macros.py:268-321): pass the value
# through or fail the query. Spark has a first-class raise_error —
# cleaner than the reference's error-string-to-INT cast trick.
# ---------------------------------------------------------------------------
def _validate(value: Column, ok: Column, allow_null, msg: Column) -> Column:
    null_ok = F.lit(bool(allow_null))
    return (
        F.when(value.isNull() & null_ok, value)
        .when(value.isNull() & ~null_ok, F.raise_error(msg))
        .when(ok, value)
        .otherwise(F.raise_error(msg))
    )


def fn_validate_regex(value, regex: str, allow_null=True) -> Column:
    v = _c(value)
    msg = F.concat(F.lit(f"validate_regex({regex}) failed for value: "), v.cast("string"))
    return _validate(v, v.rlike(regex), allow_null, msg)


def fn_validate_gt(value, bound, allow_null=True) -> Column:
    v = _c(value)
    b = bound if isinstance(bound, Column) else F.lit(bound)
    msg = F.concat(F.lit("validate_gt failed for value: "), v.cast("string"))
    return _validate(v, v > b, allow_null, msg)


def fn_validate_lt(value, bound, allow_null=True) -> Column:
    v = _c(value)
    b = bound if isinstance(bound, Column) else F.lit(bound)
    msg = F.concat(F.lit("validate_lt failed for value: "), v.cast("string"))
    return _validate(v, v < b, allow_null, msg)


def fn_validate_between(value, lo, hi, allow_null=True) -> Column:
    v = _c(value)
    msg = F.concat(F.lit("validate_between failed for value: "), v.cast("string"))
    return _validate(v, (v >= F.lit(lo)) & (v <= F.lit(hi)), allow_null, msg)


def fn_validate_not_between(value, lo, hi, allow_null=True) -> Column:
    v = _c(value)
    msg = F.concat(F.lit("validate_not_between failed for value: "), v.cast("string"))
    return _validate(v, (v < F.lit(lo)) | (v > F.lit(hi)), allow_null, msg)


# ---------------------------------------------------------------------------
# SQL UDF registration (first use in a session)
# ---------------------------------------------------------------------------
# One source of truth for the SQL spelling of each Fn: body templates with
# positional placeholders. These are Spark SQL *scalar SQL UDFs* (Spark 4
# CREATE TEMPORARY FUNCTION ... RETURN expr) — inlined by Catalyst, zero
# Python/serde cost, usable from any transform stage's SQL.
SQL_FN_BODIES: Dict[str, str] = {
    "fn_add(a DOUBLE, b DOUBLE) RETURNS DOUBLE": "a + b",
    "fn_plus(a DOUBLE, b DOUBLE) RETURNS DOUBLE": "a + b",
    "fn_minus(a DOUBLE, b DOUBLE) RETURNS DOUBLE": "a - b",
    "fn_mult(a DOUBLE, b DOUBLE) RETURNS DOUBLE": "a * b",
    "fn_div(a DOUBLE, b DOUBLE) RETURNS DOUBLE": "coalesce(a / nullif(b, 0), 0.0)",
    "fn_float(a STRING) RETURNS DOUBLE": "coalesce(try_cast(a AS DOUBLE), 0.0)",
    "fn_int(a STRING) RETURNS BIGINT": "coalesce(try_cast(a AS BIGINT), 0)",
    "fn_str(a STRING) RETURNS STRING": "coalesce(a, '')",
    "fn_bool(a STRING) RETURNS BOOLEAN": (
        "CASE WHEN a IS NULL THEN false "
        "WHEN try_cast(a AS DOUBLE) IS NOT NULL THEN try_cast(a AS DOUBLE) <> 0 "
        "WHEN try_cast(a AS BOOLEAN) IS NOT NULL THEN try_cast(a AS BOOLEAN) "
        "WHEN a = '' THEN false ELSE true END"
    ),
    "fn_trim(a STRING) RETURNS STRING": "trim(a)",
    "fn_includes(t STRING, r STRING) RETURNS BOOLEAN": "t RLIKE r",
    "fn_extract(t STRING, r STRING) RETURNS STRING": "regexp_extract(t, r, 0)",
    "fn_dt_yyyy_mm_dd(a TIMESTAMP) RETURNS STRING": "date_format(a, 'yyyy-MM-dd')",
    "fn_dt_isoformat(a TIMESTAMP) RETURNS STRING": "date_format(a, \"yyyy-MM-dd'T'HH:mm:ss\")",
    "fn_dt_quarter(a TIMESTAMP) RETURNS BIGINT": "CAST(quarter(a) AS BIGINT)",
    "fn_dt_add(a TIMESTAMP, n INT) RETURNS TIMESTAMP": "to_timestamp(date_add(CAST(a AS DATE), n))",
    "fn_dt_boy(a TIMESTAMP) RETURNS TIMESTAMP": "date_trunc('year', a)",
    "fn_dt_bom(a TIMESTAMP) RETURNS TIMESTAMP": "date_trunc('month', a)",
    "fn_dt_monday(a TIMESTAMP) RETURNS TIMESTAMP": "date_trunc('week', a)",
    "fn_dt_eom(a TIMESTAMP) RETURNS DATE": "last_day(a)",
    "fn_dt_dayname(a TIMESTAMP) RETURNS STRING": "date_format(a, 'EEEE')",
    "fn_dt_monthname(a TIMESTAMP) RETURNS STRING": "date_format(a, 'MMMM')",
    "fn_dt_iso_week(a TIMESTAMP) RETURNS BIGINT": "CAST(weekofyear(a) AS BIGINT)",
    "fn_dt_iso_day(a TIMESTAMP) RETURNS BIGINT": "CAST(weekday(a) + 1 AS BIGINT)",
    "fn_dt_iso_year(a TIMESTAMP) RETURNS BIGINT": (
        "CAST(year(date_add(CAST(a AS DATE), 4 - (weekday(a) + 1))) AS BIGINT)"
    ),
}

# -- fn_dt as one SQL expression (same branches as the Column builder) -------
_DT_S = "trim(a)"
_DT_NORM = "coalesce(cast(try_cast(trim(a) AS DECIMAL(38,9)) AS STRING), trim(a))"
_DT_DIGITS = "regexp_extract(" + _DT_NORM + ", '^([0-9]+)([.][0-9]+)?$', 1)"
_DT_FRAC = (
    "coalesce(try_cast(regexp_extract(" + _DT_NORM + ", '^[0-9]+([.][0-9]+)?$', 1) AS DOUBLE), 0.0)"
)
_DT_ISO = (
    "regexp_replace(regexp_replace(regexp_replace(trim(a), '[Zz]$', ''), "
    "'[+-][0-9]{2}:?[0-9]{2}$', ''), '[Tt]', ' ')"
)
SQL_FN_BODIES["fn_dt(a STRING) RETURNS TIMESTAMP"] = (
    "CASE WHEN a IS NULL THEN timestamp_seconds(0) "
    f"WHEN length({_DT_DIGITS}) = 10 THEN timestamp_micros(try_cast({_DT_DIGITS} AS BIGINT) * 1000000 + cast({_DT_FRAC} * 1000000 AS BIGINT)) "
    f"WHEN length({_DT_DIGITS}) > 15 AND {_DT_FRAC} = 0 THEN timestamp_micros(cast(try_cast({_DT_DIGITS} AS BIGINT) / 1000 AS BIGINT)) "
    f"WHEN length({_DT_DIGITS}) > 0 AND {_DT_FRAC} = 0 THEN timestamp_millis(try_cast({_DT_DIGITS} AS BIGINT)) "
    f"ELSE coalesce(try_cast({_DT_ISO} AS TIMESTAMP), try_cast({_DT_S} AS TIMESTAMP), timestamp_seconds(0)) END"
)

# strptime/human pattern -> Java pattern conversion as a replace chain
# (same order as _PATTERN_MAP; earlier rewrites never re-match later ones)
_PAT_SQL = "p"
for _src, _dst in _PATTERN_MAP:
    _PAT_SQL = f"replace({_PAT_SQL}, '{_src}', '{_dst}')"
SQL_FN_BODIES["fn_dt_pattern(a STRING, p STRING) RETURNS TIMESTAMP"] = (
    f"to_timestamp(a, {_PAT_SQL})"
)

_ISO_YEAR = "year(date_add(CAST(a AS DATE), 4 - (weekday(a) + 1)))"
_ISO_WEEK = "lpad(cast(weekofyear(a) AS STRING), 2, '0')"
_M445_NO = (
    "cast(least(floor((weekofyear(a) - 1) / 13), 3) * 3 + CASE "
    "WHEN weekofyear(a) - least(floor((weekofyear(a) - 1) / 13), 3) * 13 <= 4 THEN 1 "
    "WHEN weekofyear(a) - least(floor((weekofyear(a) - 1) / 13), 3) * 13 <= 8 THEN 2 "
    "ELSE 3 END AS BIGINT)"
)
SQL_FN_BODIES.update(
    {
        "fn_dt_yyyy(a TIMESTAMP) RETURNS STRING": "date_format(a, 'yyyy')",
        "fn_dt_mm(a TIMESTAMP) RETURNS STRING": "date_format(a, 'MM')",
        "fn_dt_dd(a TIMESTAMP) RETURNS STRING": "date_format(a, 'dd')",
        "fn_dt_hh(a TIMESTAMP) RETURNS STRING": "date_format(a, 'HH')",
        "fn_dt_iso_weekdate(a TIMESTAMP) RETURNS STRING": (
            f"concat(cast({_ISO_YEAR} AS STRING), '-W', {_ISO_WEEK}, '-', "
            "cast(weekday(a) + 1 AS STRING))"
        ),
        # reference-exact Fn.month445: '<ISOYEAR>-<MM>' label
        "fn_month445(a TIMESTAMP) RETURNS STRING": (
            f"concat(cast({_ISO_YEAR} AS STRING), '-', lpad(cast({_M445_NO} AS STRING), 2, '0'))"
        ),
        "fn_validate_regex(value STRING, pattern STRING, allow_null BOOLEAN) RETURNS STRING": (
            "CASE WHEN value IS NULL AND allow_null THEN NULL "
            "WHEN value IS NULL THEN raise_error('Validation failed: NULL value not allowed') "
            "WHEN value RLIKE pattern THEN value "
            "ELSE raise_error(concat('Validation failed: ', value, ' does not match pattern ', pattern)) END"
        ),
        "fn_validate_gt(value DOUBLE, threshold DOUBLE, allow_null BOOLEAN) RETURNS DOUBLE": (
            "CASE WHEN value IS NULL AND allow_null THEN NULL "
            "WHEN value IS NULL THEN raise_error('Validation failed: NULL value not allowed') "
            "WHEN value > threshold THEN value "
            "ELSE raise_error(concat('Validation failed: ', cast(value AS STRING), ' <= ', cast(threshold AS STRING))) END"
        ),
        "fn_validate_lt(value DOUBLE, threshold DOUBLE, allow_null BOOLEAN) RETURNS DOUBLE": (
            "CASE WHEN value IS NULL AND allow_null THEN NULL "
            "WHEN value IS NULL THEN raise_error('Validation failed: NULL value not allowed') "
            "WHEN value < threshold THEN value "
            "ELSE raise_error(concat('Validation failed: ', cast(value AS STRING), ' >= ', cast(threshold AS STRING))) END"
        ),
        "fn_validate_between(value DOUBLE, min_val DOUBLE, max_val DOUBLE, allow_null BOOLEAN) RETURNS DOUBLE": (
            "CASE WHEN value IS NULL AND allow_null THEN NULL "
            "WHEN value IS NULL THEN raise_error('Validation failed: NULL value not allowed') "
            "WHEN value BETWEEN min_val AND max_val THEN value "
            "ELSE raise_error(concat('Validation failed: ', cast(value AS STRING), ' not in range')) END"
        ),
        "fn_validate_not_between(value DOUBLE, min_val DOUBLE, max_val DOUBLE, allow_null BOOLEAN) RETURNS DOUBLE": (
            "CASE WHEN value IS NULL AND allow_null THEN NULL "
            "WHEN value IS NULL THEN raise_error('Validation failed: NULL value not allowed') "
            "WHEN value NOT BETWEEN min_val AND max_val THEN value "
            "ELSE raise_error(concat('Validation failed: ', cast(value AS STRING), ' is within disallowed range')) END"
        ),
    }
)

#: function names registered as Spark SQL UDFs (``fn_div`` etc.) — the
#: sqlfront rewriter consults this to give a clear error for Fn.* names
#: that are neither registered nor inline-expandable.
SQL_FN_NAMES = {sig.split("(", 1)[0].strip() for sig in SQL_FN_BODIES}

#: user macros added via ``functions.register.register_macro`` — the
#: rewriter accepts these in the ``Fn.*`` spelling alongside built-ins.
USER_FN_NAMES: set = set()


_FN_REF = re.compile(r"\bfn_\w+", re.IGNORECASE)


def _registered(spark: SparkSession) -> set:
    """The built-in names registered on ``spark`` (a session memo)."""
    return memo(spark, "fn_registered", (), set, durable=True)


def register_engine_functions(spark: SparkSession, names: Optional[Iterable[str]] = None) -> list:
    """Register the SQL-callable ``fn_*`` surface, or only ``names`` of
    it. Idempotent. Returns the list of (name, error) pairs that failed
    to register — a single bad body must not take down the rest of the
    library."""
    wanted = None if names is None else set(names)
    failures = []
    done = _registered(spark)
    for signature, body in SQL_FN_BODIES.items():
        name = signature.split("(", 1)[0]
        if wanted is not None and name not in wanted:
            continue
        try:
            spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {signature} RETURN {body}")
            done.add(name)
        except Exception as exc:  # pragma: no cover - env-dependent
            failures.append((name, exc))
    return failures


def register_referenced(spark: SparkSession, sql: str) -> None:
    """Register the built-in ``fn_*`` functions ``sql`` names that are not
    registered on ``spark`` yet. No built-in body calls another ``fn_*``,
    so the names in the text are all that is needed."""
    todo = ({m.lower() for m in _FN_REF.findall(sql)} & SQL_FN_NAMES) - _registered(spark)
    if todo:
        register_engine_functions(spark, todo)
