"""Pre-Catalyst SQL text rewriting.

The reference manipulates SQL text/AST before handing it to its embedded
engine (SURVEY.md §4) — the Spark engine does the same, then lets
Catalyst do all relational optimization. Rewrites:

1. ``Fn.name(...)`` macro spelling -> ``fn_name(...)`` (registered SQL
   UDFs; Spark function names cannot contain dots).
2. Double-quoted stage-name references -> mangled temp-view identifiers
   (Spark treats double quotes as string literals, not identifiers).
3. Light DuckDB-dialect normalization for the constructs the reference's
   corpus uses (``USING SAMPLE n ROWS`` -> ``TABLESAMPLE``, ``// `` int
   division, ``::TYPE`` casts are Spark-native already in 4.x).

No external SQL parser is available in this environment, so this layer
is a conservative rewriter over one lexer (``lex`` below): every pass
reads SQL through it, so none touches string literals or comments, and
unknown constructs are left for Spark's parser to report.
"""

from __future__ import annotations

import re
from typing import Dict, Iterator, List, Optional, Tuple

# -- lexer -------------------------------------------------------------------
# Token kinds. Comments follow Spark's lexer: ``--`` runs to the end of the
# line, ``/* */`` nests, and ``/*+ ... */`` is a hint, kept verbatim.
CODE, STRING, QUOTED, COMMENT, HINT = "code", "string", "quoted", "comment", "hint"

_TOKEN_OPEN = re.compile(r"'|\"|`|--|/\*\+|/\*")
# opener -> (kind, rest of the token after the opener); a doubled quote
# char is an escaped one
_TOKEN_REST = {
    "'": (STRING, re.compile(r"[^']*(?:''[^']*)*'")),
    '"': (QUOTED, re.compile(r'[^"]*(?:""[^"]*)*"')),
    "`": (QUOTED, re.compile(r"[^`]*(?:``[^`]*)*`")),
    "--": (COMMENT, re.compile(r"[^\n]*")),
    "/*+": (HINT, re.compile(r".*?\*/", re.DOTALL)),
}
_BLOCK_COMMENT_EDGE = re.compile(r"/\*|\*/")


def lex(sql: str, start: int = 0) -> List[Tuple[str, int, int]]:
    """Split ``sql[start:]`` into ``(kind, start, end)`` tokens: code,
    single-quoted strings, double-quoted or backtick-quoted names,
    comments and hints. ``start`` must not sit inside a non-code token.
    An unterminated string, quoted name or comment runs to the end."""
    tokens: List[Tuple[str, int, int]] = []
    n = len(sql)
    pos = start
    while pos < n:
        m = _TOKEN_OPEN.search(sql, pos)
        if m is None:
            tokens.append((CODE, pos, n))
            break
        if m.start() > pos:
            tokens.append((CODE, pos, m.start()))
        if m.group() in _TOKEN_REST:
            kind, rest = _TOKEN_REST[m.group()]
            r = rest.match(sql, m.end())
            end = r.end() if r else n
        else:  # /* block comment */, nesting
            kind, end, depth = COMMENT, n, 0
            for edge in _BLOCK_COMMENT_EDGE.finditer(sql, m.start()):
                depth += 1 if edge.group() == "/*" else -1
                if depth == 0:
                    end = edge.end()
                    break
        tokens.append((kind, m.start(), end))
        pos = end
    return tokens


def strip_comments(sql: str) -> str:
    """Each comment becomes one space (a comment separates tokens like
    whitespace does); hints stay verbatim."""
    tokens = lex(sql)
    if all(kind != COMMENT for kind, _, _ in tokens):
        return sql
    return "".join(" " if kind == COMMENT else sql[s:e] for kind, s, e in tokens)


def _code_matches(sql: str, pattern: "re.Pattern[str]", start: int = 0) -> Iterator["re.Match[str]"]:
    """Matches of ``pattern`` that lie inside code tokens, from ``start``."""
    for kind, s, e in lex(sql, start):
        if kind == CODE:
            yield from pattern.finditer(sql, s, e)


def _map_nonliteral(sql: str, fn) -> str:
    """Apply ``fn`` to the text between string literals and comments
    (quoted names and hints included); literals and comments pass
    through untouched."""
    out, last = [], 0
    for kind, s, e in lex(sql):
        if kind in (STRING, COMMENT):
            out += [fn(sql[last:s]), sql[s:e]]
            last = e
    out.append(fn(sql[last:]))
    return "".join(out)


_BRACKET = r"(?P<open>[(\[{])|(?P<close>[)\]}])"
_BRACKETS = re.compile(_BRACKET)


def _find_matching(sql: str, idx: int) -> int:
    """Index of the bracket closing the one ``sql[idx]`` opens — or, when
    ``sql[idx]`` opens none, closing the innermost bracket around
    ``idx`` (the end of that scope); -1 if it never closes. ``()``,
    ``[]`` and ``{}`` nest as one bracket set, counted in code only."""
    depth = 0 if sql.startswith(("(", "[", "{"), idx) else 1
    for m in _code_matches(sql, _BRACKETS, idx):
        if m.lastgroup == "open":
            depth += 1
        elif depth == 1:
            return m.start()
        else:
            depth -= 1
    return -1


def _depth0_keyword_pos(sql: str, words: Tuple[str, ...], start: int = 0) -> int:
    """Index of the first of ``words`` in code at bracket depth 0
    relative to ``start``; -1 if absent or if the scan leaves the
    enclosing brackets first. Case-insensitive; a word is bounded by
    non-word characters, and a space in it matches any whitespace."""
    alts = []
    for w in words:
        p = r"\s+".join(map(re.escape, w.split()))
        alts.append(("\\b" if w[0].isalnum() else "") + p + ("\\b" if w[-1].isalnum() else ""))
    pattern = re.compile(f"{_BRACKET}|(?P<word>{'|'.join(alts)})", re.IGNORECASE)
    depth = 0
    for m in _code_matches(sql, pattern, start):
        if m.lastgroup == "open":
            depth += 1
        elif m.lastgroup == "close":
            depth -= 1
            if depth < 0:
                return -1
        elif depth == 0:
            return m.start()
    return -1


def _split_top_level(s: str, sep: str = ",") -> List[str]:
    """Split ``s`` at the depth-0 occurrences of ``sep`` (a comma, or a
    keyword such as ``AND``), outside literals; the parts are stripped.
    Blank input has no parts."""
    if not s.strip():
        return []
    parts, start = [], 0
    pos = _depth0_keyword_pos(s, (sep,))
    while pos >= 0:
        parts.append(s[start:pos].strip())
        start = pos + len(sep)
        pos = _depth0_keyword_pos(s, (sep,), start)
    parts.append(s[start:].strip())
    return parts


_FN_CALL = re.compile(r"\bFn\.([A-Za-z_][A-Za-z0-9_]*)", re.IGNORECASE)
_SAMPLE_ROWS = re.compile(r"\bUSING\s+SAMPLE\s+(\d+)\s+ROWS\b", re.IGNORECASE)
_SAMPLE_PCT = re.compile(r"\bUSING\s+SAMPLE\s+([0-9.]+)\s*%", re.IGNORECASE)

# Untyped / aggregate / control-flow macros can't be Spark SQL UDFs
# (UDF parameters are typed; collect_set is an aggregate) — these expand
# inline at rewrite time with real argument substitution, exactly like
# DuckDB inlines the reference's macros. {n} are argument slots.
INLINE_FN_TEMPLATES: Dict[str, str] = {
    "eq": "({0} = {1})",
    "ne": "({0} <> {1})",
    "gt": "({0} > {1})",
    "lt": "({0} < {1})",
    "gte": "({0} >= {1})",
    "lte": "({0} <= {1})",
    "ifelse": "(CASE WHEN {0} THEN {1} ELSE {2} END)",
    "when": "(CASE WHEN fn_bool({0}) THEN {1} ELSE {2} END)",
    "and": "(fn_bool({0}) AND fn_bool({1}))",
    "or": "(fn_bool({0}) OR fn_bool({1}))",
    "not": "(NOT fn_bool({0}))",
    "uniquelist": "collect_set({0})",
    "has": "array_contains({0}, {1})",
}

# Fn.calendar() table macro (reference internal/macros.py:74-96): a
# 5-year rolling daily calendar with strftime-shaped string columns.
# Expanded to a Spark subquery; `date` is a DATE (the reference's
# generate_series yields timestamps — the projections are identical).
_ISO_YEAR_D = "year(date_add(d, 4 - (weekday(d) + 1)))"
_ISO_WEEK_D = "lpad(cast(weekofyear(d) AS STRING), 2, '0')"
CALENDAR_SUBQUERY = (
    "(SELECT d AS date, "
    "date_format(d, 'yyyy') AS year, "
    "date_format(d, 'MMM') AS month, "
    "date_format(d, 'MM') AS month_no, "
    "date_format(d, 'dd') AS day, "
    "date_format(d, 'EEE') AS weekday, "
    "cast(weekday(d) + 1 AS STRING) AS weekday_no, "
    f"cast({_ISO_YEAR_D} AS STRING) AS isoyear, "
    f"{_ISO_WEEK_D} AS iso_week, "
    f"concat({_ISO_YEAR_D}, '-', {_ISO_WEEK_D}, '-', weekday(d) + 1) AS isoweekdate, "
    f"concat({_ISO_YEAR_D}, '-00-', {_ISO_WEEK_D}) AS isoweek, "
    f"concat({_ISO_WEEK_D}, '-', weekday(d) + 1) AS iso_week_day, "
    "date_format(d, 'yyyy-MM-dd') AS isodate, "
    "cast(quarter(d) AS BIGINT) AS quarter, "
    f"cast({_ISO_YEAR_D} * 100 + weekofyear(d) AS BIGINT) AS yearweek "
    "FROM (SELECT explode(sequence(add_months(current_date(), -48), "
    "add_months(current_date(), 12), interval 1 day)) AS d))"
)


def _template_arity(tmpl: str) -> int:
    slots = [int(m) for m in re.findall(r"\{(\d+)\}", tmpl)]
    return max(slots) + 1 if slots else 0


def expand_fn_macros(sql: str, schema_lookup=None) -> str:
    """Expand the reference's ``Fn.*`` spelling for Spark SQL.

    Three classes (reference internal/macros.py — all registered as
    DuckDB macros there; Spark needs three strategies):

    * typed scalar macros -> renamed to their registered SQL UDFs
      (``Fn.div(a,b)`` -> ``fn_div(a,b)``);
    * untyped / aggregate / control-flow macros -> inlined with real
      argument substitution (``Fn.uniquelist(x)`` -> ``collect_set(x)``,
      ``Fn.when(c,a,b)`` -> ``CASE WHEN fn_bool(c) ...``);
    * table macros -> subquery expansion: ``FROM Fn.calendar()`` and
      ``FROM Fn.columns('stage')`` (the latter needs ``schema_lookup``,
      a callable ``name -> [(column_name, data_type), ...]`` supplied
      by the flow, which snapshots the catalog at rewrite time).

    Unknown ``Fn.x`` names raise ``ValueError`` with the supported
    inventory instead of leaking an UNRESOLVED_ROUTINE Spark error.
    """
    from ..functions.fn import SQL_FN_NAMES, USER_FN_NAMES

    callable_names = SQL_FN_NAMES | USER_FN_NAMES
    out = sql
    for _ in range(500):
        m = next(_code_matches(out, _FN_CALL), None)
        if m is None:
            return out
        name = m.group(1).lower().rstrip("_")
        start, end = m.span()

        def _args_of() -> tuple:
            j = end
            while j < len(out) and out[j].isspace():
                j += 1
            if j >= len(out) or out[j] != "(":
                raise ValueError(f"Fn.{m.group(1)} must be called with parentheses")
            close = _find_matching(out, j)
            if close < 0:
                raise ValueError(f"Unbalanced parentheses in Fn.{m.group(1)}(...)")
            return _split_top_level(out[j + 1 : close]), close

        if name in INLINE_FN_TEMPLATES:
            tmpl = INLINE_FN_TEMPLATES[name]
            args, close = _args_of()
            want = _template_arity(tmpl)
            if len(args) != want:
                raise ValueError(
                    f"Fn.{name} takes {want} argument(s), got {len(args)}"
                )
            out = out[:start] + tmpl.format(*args) + out[close + 1 :]
        elif name == "calendar":
            args, close = _args_of()
            if args:
                raise ValueError("Fn.calendar() takes no arguments")
            out = out[:start] + CALENDAR_SUBQUERY + out[close + 1 :]
        elif name == "columns":
            args, close = _args_of()
            if len(args) != 1:
                raise ValueError("Fn.columns(table) takes exactly one argument")
            if schema_lookup is None:
                raise ValueError(
                    "Fn.columns() needs a catalog: run it inside a Flow stage"
                )
            table = args[0].strip().strip("'\"")
            cols = schema_lookup(table)
            if not cols:
                raise ValueError(f"Fn.columns: unknown table {table!r}")
            values = ", ".join(
                "('" + c.replace("'", "''") + "', '" + t.replace("'", "''") + "')"
                for c, t in cols
            )
            out = (
                out[:start]
                + f"(SELECT column_name, data_type FROM (VALUES {values}) AS __cols__(column_name, data_type))"
                + out[close + 1 :]
            )
        elif f"fn_{name}" in callable_names:
            out = out[:start] + f"fn_{name}" + out[end:]
        else:
            known = sorted(
                {n[3:] for n in callable_names}
                | set(INLINE_FN_TEMPLATES)
                | {"calendar", "columns"}
            )
            raise ValueError(
                f"Fn.{m.group(1)} is not SQL-callable; supported: {', '.join(known)}"
            )
    raise ValueError("Fn.* macro expansion did not converge (cyclic input?)")


_ALIAS_DEF = re.compile(r"(?i)\bAS\s+([A-Za-z_]\w*)")
_CTE_DEF = re.compile(r"(?i)\b([A-Za-z_]\w*)\s+AS\s*\(")


def _alias_definitions(sql: str) -> set:
    """Names the query itself defines — table/column aliases (``AS x``,
    also catching CAST target types, which is harmless) and CTE names
    (``x AS (``). A stage name shadowed by one of these must NOT be
    rewritten: ``FROM other AS stage_name`` aliases *other*, and later
    ``stage_name.col`` refs mean the alias, not the stage."""
    return {m.group(1).lower() for m in _code_matches(sql, _ALIAS_DEF)} | {
        m.group(1).lower() for m in _code_matches(sql, _CTE_DEF)
    }


def rewrite_views(sql: str, views: Dict[str, str]) -> str:
    """Replace references to registered stage names with their mangled
    temp-view identifiers. Handles both double-quoted (``"Extract Data"``)
    and bare spellings. Bare-name replacement is token-aware: a match
    preceded by ``.`` (qualified column ``t.stage``), followed by ``(``
    (function call), or followed by ``.`` where it acts as a qualifier
    for its own columns is a table reference and rewrites; a match in a
    function-call position does not — this keeps a column that happens
    to share a stage's name from being clobbered in expressions like
    ``SELECT other.stage_name FROM ...``. A stage name the query itself
    defines as an alias or CTE is shadowed and left alone entirely."""
    shadowed = _alias_definitions(sql)

    def fix(chunk: str) -> str:
        out = chunk
        for user, view in views.items():
            if user == view:
                continue
            out = out.replace(f'"{user}"', view)
            if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", user) and user.lower() not in shadowed:
                # not preceded by '.' or word char; not followed by '('
                out = re.sub(
                    rf"(?<![\w.`]){re.escape(user)}\b(?!\s*\()",
                    view,
                    out,
                )
        return out

    return _map_nonliteral(sql, fix)


# keywords that can directly follow a table reference — anything else in
# that position is an (implicit) alias
_POST_TABLE_KEYWORDS = frozenset(
    "where group order limit having union intersect except join inner left "
    "right full cross on using qualify window natural semi anti lateral".split()
)


def rewrite_table_placeholders(sql: str, placeholders, view: str) -> str:
    """Rewrite tap-source placeholders (stage name / ``source`` / file
    stem / connection kind) to the tap's temp view — but ONLY where they
    act as table references: the double-quoted spelling anywhere outside
    string literals, and bare names directly after FROM/JOIN. A column
    that happens to be named ``source``, a column matching the file
    stem, or the kind word inside a string literal is left alone (the
    pre-r3 whole-query ``re.sub`` clobbered those). When the reference
    is not already aliased, the original name is kept as an alias
    (``FROM stem`` -> ``FROM __tap_x AS stem``) so qualified column
    refs like ``stem.col`` keep resolving."""
    names = [str(p) for p in placeholders if p]

    def fix(chunk: str) -> str:
        out = chunk
        for p in names:
            out = out.replace(f'"{p}"', view)
            if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", p):
                continue

            def sub(m: "re.Match[str]") -> str:
                rest = m.string[m.end():]
                nxt = re.match(r"\s*(AS\s+)?([A-Za-z_]\w*)", rest, re.IGNORECASE)
                aliased = bool(nxt) and (
                    bool(nxt.group(1)) or nxt.group(2).lower() not in _POST_TABLE_KEYWORDS
                )
                return m.group(1) + (view if aliased else f"{view} AS {m.group(2)}")

            out = re.sub(
                rf"(?i)\b((?:FROM|JOIN)\s+)({re.escape(p)})(?![\w.$])(?!\s*\()",
                sub,
                out,
            )
        return out

    return _map_nonliteral(sql, fix)


# DuckDB-dialect function surface accepted in transforms (reference
# contract: "transform = any DuckDB SQL", core/flow.py:267). Two layers:
# plain renames (argument-compatible) and template expansions (argument
# order/shape differs). Applied paren-aware, outside string literals.
DIALECT_FN_RENAMES: Dict[str, str] = {
    "string_split": "split",
    "str_split": "split",
    "string_to_array": "split",
    "list_distinct": "array_distinct",
    "list_sort": "array_sort",
    "list_reverse_sort": "array_sort",  # + reverse handled by template below
    "list_contains": "array_contains",
    "list_has": "array_contains",
    "array_has": "array_contains",
    "list_transform": "transform",
    "list_apply": "transform",
    "list_filter": "filter",
    "list_append": "array_append",
    "list_prepend": "array_prepend",
    "list_concat": "concat",
    "list_cat": "concat",
    "list_unique": "array_distinct",
    "array_to_string": "array_join",
    "list_aggregate": "aggregate",
    # DuckDB len() is polymorphic; in analytic SQL it is almost always
    # list length (string length spells length()/strlen()), and Spark's
    # size() gives a clear error when misapplied to a string
    "len": "size",
    "epoch_us": "unix_micros",
    "epoch_ms": "unix_millis",
    "epoch_ns": "unix_micros",  # + *1000 handled by template below
    "epoch": "unix_seconds",
    "unnest": "explode",
    "generate_series": "sequence",
    "regexp_matches": "regexp_like",
    "list_value": "array",
    "list_pack": "array",
    "isodow": "weekday",  # + +1 handled by template below
    "strlen": "octet_length",  # DuckDB strlen counts bytes, Spark length characters
    "approx_unique": "approx_count_distinct",
    "strpos": "instr",
    "list": "collect_list",
    "string_agg": "listagg",
    "group_concat": "listagg",
    "arg_max": "max_by",
    "arg_min": "min_by",
    "argmax": "max_by",
    "argmin": "min_by",
    # list_position returns 0 when absent in current DuckDB — same
    # contract as Spark's array_position (both 1-based)
    "list_position": "array_position",
    "list_indexof": "array_position",
    "list_has_any": "arrays_overlap",
    "starts_with": "startswith",
    "ends_with": "endswith",
    "prefix": "startswith",
    "suffix": "endswith",
}

# strptime %-pattern -> Java pattern conversion, as a SQL replace chain
# over the pattern expression (constant-folded when it's a literal)
_STRF_MAP = [
    ("%Y", "yyyy"),
    ("%y", "yy"),
    ("%m", "MM"),
    ("%d", "dd"),
    ("%H", "HH"),
    ("%I", "hh"),
    ("%M", "mm"),
    ("%S", "ss"),
    ("%f", "SSSSSS"),
    ("%g", "SSS"),
    ("%p", "a"),
    ("%j", "DDD"),
    ("%a", "EEE"),
    ("%A", "EEEE"),
    ("%b", "MMM"),
    ("%B", "MMMM"),
    ("%x", "yyyy-MM-dd"),
    ("%T", "HH:mm:ss"),
]


def _strf_chain(expr: str) -> str:
    out = expr
    for src, dst in _STRF_MAP:
        out = f"replace({out}, '{src}', '{dst}')"
    return out


_RAW_LOCATOR_CALL = re.compile(
    r"\b(read_parquet|read_csv_auto|read_csv|read_json_auto|read_json|delta_scan)"
    r"\s*\(\s*'([^']+)'",
    re.IGNORECASE,
)


def resolve_short_locators(sql: str, resolver, conn_locator: Optional[str]) -> str:
    """Resolve relative locators inside raw-SQL table functions against
    the connection's bucket+prefix, with wildcard substitution —
    behavior parity with the reference's raw-SQL rewriter (reference
    connection.py:290-323 _raw_sql_rewriter): absolute paths pass
    through; a short name must equal the connection's declared locator
    (the guard against silently reading an unrelated file); the
    replacement is the fully-located, wildcarded path."""

    def repl(m: "re.Match[str]") -> str:
        short = m.group(2)
        if _SCHEME_PREFIX.match(short) or short.startswith("/"):
            return m.group(0)
        if conn_locator and short != conn_locator:
            raise ValueError(
                f"raw-SQL locator {short!r} does not match the connection's "
                f"locator {conn_locator!r}"
            )
        full = resolver.locate(short, use_wildcard=True)
        return m.group(0).replace(short, full, 1)

    return _RAW_LOCATOR_CALL.sub(repl, sql)


_SCHEME_PREFIX = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*://")


def _table_ref(fmt: str):
    def build(args: List[str]) -> str:
        path = args[0].strip().strip("'\"")
        return f"{fmt}.`{path}`"

    return build


# name -> {arity: builder(args) -> replacement}; arity -1 = any


def _list_sort_2(a):
    order = a[1].strip().strip("'\"").upper()
    base = f"array_sort({a[0]})"
    return f"reverse({base})" if order.startswith("DESC") else base


_LIST_AGG_FNS = {
    "sum": lambda x: f"aggregate(({x}), CAST(0 AS DOUBLE), (acc, v) -> acc + v)",
    "avg": lambda x: (
        f"(aggregate(({x}), CAST(0 AS DOUBLE), (acc, v) -> acc + v) / size({x}))"
    ),
    "mean": lambda x: (
        f"(aggregate(({x}), CAST(0 AS DOUBLE), (acc, v) -> acc + v) / size({x}))"
    ),
    "min": lambda x: f"array_min({x})",
    "max": lambda x: f"array_max({x})",
    "count": lambda x: f"size({x})",
}


def _list_aggregate_2(a):
    fname = a[1].strip().strip("'\"").lower()
    fn = _LIST_AGG_FNS.get(fname)
    if fn is None:
        raise UnsupportedDialect(
            f"list_aggregate(list, {a[1].strip()}) has no Spark rewrite; "
            f"supported function names: {sorted(_LIST_AGG_FNS)} — for other "
            "aggregates explode the list and aggregate rows"
        )
    # numeric results accumulate in DOUBLE (DuckDB preserves the element
    # type for sum; the divergence is documented and rarely observable
    # in analytic SQL)
    return fn(a[0])


def _histogram_1(a):
    """DuckDB histogram(x) aggregate -> MAP<x, count> keyed ascending.

    Spark spelling: collect the group once, then map each distinct key
    to its occurrence count with higher-order functions — one aggregate
    buffer (Catalyst dedups the identical collect_list), no join, no
    extra shuffle. Matches DuckDB's semantics: NULLs are dropped
    (collect_list skips them) and keys are sorted ascending."""
    x = a[0]
    return (
        f"map_from_entries(transform(array_sort(array_distinct(collect_list({x}))), "
        f"__hk -> struct(__hk, size(filter(collect_list({x}), __hv -> __hv = __hk)))))"
    )


def _histogram_2(a):
    """Binned histogram(x, second-arg) aggregate — two arities:

    histogram(x, n) with n an INTEGER LITERAL -> MAP<bin_upper, count>:
    n equi-width bins over the group's observed [min(x), max(x)].
    NOTE: this bin-COUNT arity is an ankaflow_spark EXTENSION, not
    DuckDB parity — DuckDB >= 1.1's 2-arg binned histogram takes a
    boundaries LIST (usually from equi_width_bins(...)), never a bare
    count, and the sandbox pins DuckDB 1.0.0 so the binned surface is
    pytest-golden-verified rather than oracle-checked (r7 punch item 4;
    r8 ADVICE medium). Keys are the DOUBLE upper boundaries
    lo + b*(hi-lo)/n ascending; bin 1 includes lo, bin n includes hi
    (float rounding at the top edge never drops a value). A degenerate
    group (min = max) yields {hi: count}; an all-NULL group yields the
    EMPTY map like the 1-arg form (min(x) IS NULL guard — r8 ADVICE
    low: NULL map keys would otherwise raise at runtime). n must be a
    bare positive integer literal: a column ref / equi_width_bins(...)
    / arithmetic second arg is rejected actionably instead of being
    pasted into nonsense SQL.

    histogram(x, [b1, b2, ...]) with a LITERAL boundaries list (raw
    [..] or array(..)) -> MAP<boundary, count> keyed by the given
    boundaries ascending: value for b_i counts x with
    prev_boundary < x <= b_i (first bin unbounded below, matching
    width_bucket/DuckDB's inclusive-upper bin edges); values above the
    largest boundary are dropped. Every boundary key is emitted, empty
    bins as 0. Unverifiable against the pinned DuckDB 1.0.0, so the
    above-top-drop choice is documented here and pinned in pytest.

    Both forms are one aggregate buffer (Catalyst dedups the identical
    collect_list/min/max), no join, no extra shuffle —
    _histogram_1's class."""
    x, n = a[0], a[1]
    n_s = n.strip()
    # boundaries-LIST arity (raw [..] or the already-expanded array(..))
    m_list = re.fullmatch(r"\[(.*)\]|array\s*\((.*)\)", n_s, re.IGNORECASE | re.DOTALL)
    if m_list:
        inner = m_list.group(1) if m_list.group(1) is not None else m_list.group(2)
        bs = f"array_sort(array({inner}))"
        return (
            f"map_from_entries(transform({bs}, (__hb, __hi) -> struct(__hb, "
            f"size(filter(collect_list({x}), "
            f"__hv -> __hv <= __hb AND (__hi = 0 OR __hv > element_at({bs}, __hi)))))))"
        )
    try:
        n_int = int(n_s)
    except ValueError:
        raise UnsupportedDialect(
            "histogram(x, second-arg): second arg must be a positive integer "
            "LITERAL (n equi-width bins over min/max — an extension; DuckDB's "
            "binned form takes a boundaries list) or a LITERAL boundaries "
            "list [b1, b2, ...]; a column ref / equi_width_bins(...) / "
            "expression is not supported — use GROUP BY "
            "width_bucket(x, lo, hi, n) with explicit boundaries"
        )
    if n_int < 1:
        raise UnsupportedDialect("histogram(x, n): bin count must be >= 1")
    lo, hi = f"min({x})", f"max({x})"
    w = f"(CAST({hi} AS DOUBLE) - CAST({lo} AS DOUBLE)) / ({n_int})"
    lower = f"CAST({lo} AS DOUBLE) + (__hb - 1) * {w}"
    upper = f"CAST({lo} AS DOUBLE) + __hb * {w}"
    empty = "map_from_entries(filter(array(struct(CAST(0.0 AS DOUBLE), 0)), __he -> false))"
    return (
        f"CASE WHEN {lo} IS NULL THEN {empty} "
        f"WHEN {lo} = {hi} THEN "
        f"map_from_entries(array(struct(CAST({hi} AS DOUBLE), size(collect_list({x}))))) "
        f"ELSE map_from_entries(transform(sequence(1, {n_int}), __hb -> struct({upper}, "
        f"size(filter(collect_list({x}), "
        f"__hv -> (__hv > {lower} OR __hb = 1) AND (__hv <= {upper} OR __hb = ({n_int})))))))"
        " END"
    )


def _jaccard_2(a):
    """DuckDB jaccard(s1, s2) -> character-SET Jaccard similarity
    (case-sensitive, multiset-insensitive: jaccard('aab','ab') = 1.0 —
    verified against DuckDB). Spark spelling: distinct char arrays via
    a between-chars lookahead split, then set intersect/union sizes.
    DuckDB errors on empty inputs; the Spark form returns NULL there
    (division by a 0-size union of two empties cannot occur since any
    non-empty side makes the union non-empty)."""

    def chars(x):
        # the between-chars split emits one trailing '' (the end-of-
        # string position also satisfies the lookahead) — drop it
        return (
            f"array_distinct(filter(split(({x}), '(?!^)'), __hc -> __hc <> ''))"
        )

    x, y = a[0], a[1]
    return (
        f"(CAST(size(array_intersect({chars(x)}, {chars(y)})) AS DOUBLE)"
        f" / size(array_union({chars(x)}, {chars(y)})))"
    )


def _mismatches_2(a):
    """DuckDB mismatches/hamming(s1, s2) -> position-wise differing
    character count (inputs must be equal length, as in DuckDB)."""
    x, y = a[0], a[1]
    return (
        f"aggregate(zip_with(split(({x}), '(?!^)'), split(({y}), '(?!^)'), "
        f"(__hx, __hy) -> CASE WHEN __hx <=> __hy THEN 0 ELSE 1 END), "
        f"CAST(0 AS BIGINT), (__ha, __hv) -> __ha + __hv)"
    )


def _bar_template(a):
    """DuckDB bar(x, min, max[, width=80]) -> a '█'-bar string.

    Full-block rendering (DuckDB additionally draws one partial eighth
    block — sub-character detail with no analytic meaning); the bar
    length is clamped to [0, width] exactly like DuckDB."""
    x, mn, mx = a[0], a[1], a[2]
    w = a[3] if len(a) > 3 else "80"
    frac = (
        f"greatest(CAST(0 AS DOUBLE), least(CAST(({w}) AS DOUBLE), "
        f"(CAST(({x}) AS DOUBLE) - CAST(({mn}) AS DOUBLE)) * CAST(({w}) AS DOUBLE) "
        f"/ (CAST(({mx}) AS DOUBLE) - CAST(({mn}) AS DOUBLE))))"
    )
    return f"repeat('█', CAST(floor({frac}) AS INT))"


_ORDER_BY_IN_AGG = re.compile(r"\s+ORDER\s+BY\s+", re.IGNORECASE)


def _array_agg_ordered(args):
    joined = ", ".join(args)
    m = _ORDER_BY_IN_AGG.search(joined)
    if not m:
        return f"collect_list({joined})"
    value = joined[: m.start()]
    spec = joined[m.end():].strip()
    desc = False
    up = spec.upper()
    if up.endswith(" DESC"):
        desc, spec = True, spec[:-5].rstrip()
    elif up.endswith(" ASC"):
        spec = spec[:-4].rstrip()
    if _ORDER_BY_IN_AGG.search(spec) or " DESC" in spec.upper() or " ASC" in spec.upper():
        raise UnsupportedDialect(
            "array_agg(x ORDER BY ...) supports a single uniform sort "
            "direction in the Spark rewrite; for mixed directions sort in "
            "a subquery and collect_list afterwards"
        )
    keys = [k.strip() for k in spec.split(",")]
    ofields = ", ".join(f"({k}) AS _o{i}" for i, k in enumerate(keys))
    base = (
        f"transform(array_sort(collect_list(struct({ofields}, ({value}) AS _v))), "
        "s -> s._v)"
    )
    return f"reverse({base})" if desc else base


DIALECT_FN_TEMPLATES: Dict[str, Dict[int, object]] = {
    "make_timestamp": {1: lambda a: f"timestamp_micros({a[0]})"},
    "make_timestamp_ms": {1: lambda a: f"timestamp_millis({a[0]})"},
    "strftime": {2: lambda a: f"date_format({a[0]}, {_strf_chain(a[1])})"},
    "strptime": {2: lambda a: f"to_timestamp({a[0]}, {_strf_chain(a[1])})"},
    "list_reduce": {
        2: lambda a: (
            f"aggregate(slice({a[0]}, 2, size({a[0]}) - 1), "
            f"element_at({a[0]}, 1), {a[1]})"
        )
    },
    "list_reverse_sort": {1: lambda a: f"reverse(array_sort({a[0]}))"},
    "epoch_ns": {1: lambda a: f"unix_micros({a[0]}) * 1000"},
    "isodow": {1: lambda a: f"(weekday({a[0]}) + 1)"},
    "isoyear": {
        1: lambda a: f"year(date_add(CAST({a[0]} AS DATE), 4 - (weekday({a[0]}) + 1)))"
    },
    # DuckDB quantile_cont == Spark's exact interpolated percentile
    "quantile_cont": {2: lambda a: f"percentile({a[0]}, {a[1]})"},
    # all elements of the 2nd list present in the 1st
    "list_has_all": {
        2: lambda a: f"(size(array_except(({a[1]}), ({a[0]}))) = 0)"
    },
    # DuckDB slice is 1-based inclusive [b, e]; Spark slice takes
    # (start, length). Positive-index spelling (the common case).
    "list_slice": {
        3: lambda a: f"slice(({a[0]}), ({a[1]}), ({a[2]}) - ({a[1]}) + 1)"
    },
    "array_slice": {
        3: lambda a: f"slice(({a[0]}), ({a[1]}), ({a[2]}) - ({a[1]}) + 1)"
    },
    "read_parquet": {1: _table_ref("parquet")},
    "read_csv": {1: _table_ref("csv")},
    "read_csv_auto": {1: _table_ref("csv")},
    "read_json": {1: _table_ref("json")},
    "read_json_auto": {1: _table_ref("json")},
    "delta_scan": {1: _table_ref("delta")},
    "list_sort": {2: _list_sort_2},
    "list_aggregate": {2: _list_aggregate_2},
    "list_aggr": {2: _list_aggregate_2},
    "list_sum": {1: lambda a: _LIST_AGG_FNS["sum"](a[0])},
    "list_avg": {1: lambda a: _LIST_AGG_FNS["avg"](a[0])},
    "list_min": {1: lambda a: f"array_min({a[0]})"},
    "list_max": {1: lambda a: f"array_max({a[0]})"},
    "array_agg": {
        1: _array_agg_ordered,
        2: _array_agg_ordered,
        3: _array_agg_ordered,
    },
    "histogram": {1: _histogram_1, 2: _histogram_2},
    "bar": {3: _bar_template, 4: _bar_template},
    "jaccard": {2: _jaccard_2},
    "mismatches": {2: _mismatches_2},
    "hamming": {2: _mismatches_2},
}

_READ_TABLE_FNS = frozenset(
    ("read_parquet", "read_csv", "read_csv_auto", "read_json", "read_json_auto", "delta_scan")
)



# DuckDB functions with NO Spark equivalent: fail with the workaround
# named instead of Spark's opaque UNRESOLVED_ROUTINE.
KNOWN_UNSUPPORTED_FNS: Dict[str, str] = {
    "histogram": "histogram(x) and the binned histogram(x, n) rewrite (MAP results); other arities do not",
    "bar": "bar(x, min, max[, width]) rewrites (full-block bars); other arities do not",
    "generate_subscripts": "posexplode(array) yields (pos, value); sequence(1, size(a)) yields indexes",
    "jaccard": "jaccard(s1, s2) rewrites (character-set Jaccard); other arities do not",
    "jaro_winkler_similarity": "no Spark builtin; levenshtein() is available, or register a macro UDF",
    "jaro_similarity": "no Spark builtin; levenshtein() is available, or register a macro UDF",
    "damerau_levenshtein": "no Spark builtin; levenshtein() is available, or register a macro UDF",
    "mismatches": "mismatches(s1, s2) rewrites (position-wise count); other arities do not",
}

_DIALECT_CALL = re.compile(
    r"\b(" + "|".join(sorted(set(DIALECT_FN_RENAMES) | set(DIALECT_FN_TEMPLATES) | set(KNOWN_UNSUPPORTED_FNS), key=len, reverse=True)) + r")\s*\(",
    re.IGNORECASE,
)


def expand_dialect_functions(sql: str) -> str:
    """Rewrite DuckDB-dialect function calls to their Spark spellings so
    reference-style transform SQL executes verbatim. Template expansions
    (argument reshaping) take precedence over plain renames; unmatched
    arities fall through untouched (Spark reports them)."""
    out = sql
    for _ in range(500):
        m = next(_code_matches(out, _DIALECT_CALL), None)
        if m is None:
            return out.replace("\x00(", "(")
        name = m.group(1).lower()
        open_idx = m.end() - 1
        close = _find_matching(out, open_idx)
        if close < 0:
            return out.replace("\x00(", "(")  # unbalanced; let Spark report it
        args = _split_top_level(out[open_idx + 1 : close])
        tmpl = DIALECT_FN_TEMPLATES.get(name, {}).get(len(args))
        if tmpl is not None:
            # recursively expand inside arguments first
            args = [expand_dialect_functions(a) for a in args]
            out = out[: m.start()] + tmpl(args) + out[close + 1 :]
        elif name in KNOWN_UNSUPPORTED_FNS:
            raise UnsupportedDialect(
                f"DuckDB {name}(...) has no Spark equivalent; {KNOWN_UNSUPPORTED_FNS[name]}"
            )
        elif name in DIALECT_FN_RENAMES:
            out = out[: m.start()] + DIALECT_FN_RENAMES[name] + "(" + out[m.end() :]
        else:
            if name in _READ_TABLE_FNS:
                # read_csv('x', header=true, ...): Spark's path-table
                # syntax cannot carry reader options — fail actionably
                # instead of letting Spark report an undefined function
                raise UnsupportedDialect(
                    f"DuckDB {name}(...) with reader options is not expressible "
                    "in raw Spark SQL; declare a tap stage (kind: csv/json/"
                    "parquet) with `fields`/options instead, then reference it "
                    "by stage name"
                )
            # template-only name at a different arity: skip this call by
            # rewriting its opening paren region verbatim past the match
            inner = expand_dialect_functions(out[open_idx + 1 : close])
            out = out[: m.start()] + m.group(1) + "\x00(" + inner + out[close:]
    return out.replace("\x00(", "(")


_INT_DIV = re.compile(r"//")


class UnsupportedDialect(ValueError):
    """DuckDB construct with no Spark rewrite — raised with an
    actionable message naming the construct instead of letting Spark
    produce an opaque parse error."""


_STRUCT_KEY = re.compile(
    r"^\s*(?:(?P<string>'(?:[^']|'')*')|\"(?P<quoted>[^\"]+)\"|(?P<bare>[A-Za-z_]\w*))\s*:\s*(?P<value>.+)$",
    re.DOTALL,
)


def _struct_body_to_named_struct(body: str) -> Optional[str]:
    """``'a': 1, 'b': x`` -> ``named_struct('a', 1, 'b', x)``; None when
    the body is not struct-literal-shaped (leave the braces alone)."""
    entries = _split_top_level(body)
    if not entries:
        return None
    flat: List[str] = []
    for entry in entries:
        m = _STRUCT_KEY.match(entry)
        if not m:
            return None
        if m.group("quoted") is not None:
            key = "'" + m.group("quoted").replace("'", "''") + "'"
        elif m.group("bare") is not None:
            key = f"'{m.group('bare')}'"
        else:
            key = m.group("string")
        flat.append(key)
        flat.append(rewrite_struct_literals(m.group("value").strip()))
    return f"named_struct({', '.join(flat)})"


_OPEN_BRACE = re.compile(r"\{")
_OPEN_SQUARE = re.compile(r"\[")


def _rewrite_bracketed(sql: str, opener: "re.Pattern[str]", convert) -> str:
    """Replace each bracketed span in code that starts at an ``opener``
    match and whose body ``convert`` turns into text; where it returns
    None the brackets stay and the scan goes on inside them."""
    out, last = [], 0
    for m in _code_matches(sql, opener):
        i = m.start()
        if i < last:
            continue
        close = _find_matching(sql, i)
        conv = convert(sql[i + 1 : close]) if close != -1 else None
        if conv is not None:
            out += [sql[last:i], conv]
            last = close + 1
    out.append(sql[last:])
    return "".join(out)


def rewrite_struct_literals(sql: str) -> str:
    """DuckDB struct literals ``{'a': 1, 'b': col}`` ->
    ``named_struct('a', 1, 'b', col)``, recursively (nested structs and
    structs inside list literals included). Braces that are not
    struct-literal-shaped pass through untouched."""
    return _rewrite_bracketed(sql, _OPEN_BRACE, _struct_body_to_named_struct)


_EXCLUDE_PARENS = re.compile(r"\bEXCLUDE\s*\(", re.IGNORECASE)
_EXCLUDE_BARE = re.compile(r"(\*\s+)EXCLUDE\s+([A-Za-z_]\w*)", re.IGNORECASE)
_REPLACE_STAR = re.compile(r"\*\s+REPLACE\s*\(", re.IGNORECASE)
_RENAME_STAR = re.compile(r"\*\s+RENAME\s*\(", re.IGNORECASE)
_COLUMNS_EXPR = re.compile(r"\bCOLUMNS\s*\(", re.IGNORECASE)
_UNION_BY_NAME = re.compile(r"\b(UNION|INTERSECT|EXCEPT)(\s+ALL)?\s+BY\s+NAME\b", re.IGNORECASE)


def rewrite_star_rename(sql: str) -> str:
    """DuckDB ``* RENAME (a AS b, ...)`` -> Spark
    ``* EXCEPT(a, ...), a AS b, ...``. Values identical; like REPLACE,
    the renamed columns move to the end of the star expansion (Spark
    has no positional rename)."""
    while True:
        m = next(_code_matches(sql, _RENAME_STAR), None)
        if m is None:
            return sql
        open_idx = m.end() - 1
        close = _find_matching(sql, open_idx)
        if close == -1:
            return sql
        olds, rendered = [], []
        # an empty list is rejected like an empty entry
        for part in _split_top_level(sql[open_idx + 1 : close]) or [""]:
            am = re.match(
                r"\s*([A-Za-z_]\w*|`[^`]+`|\"[^\"]+\")\s+AS\s+([A-Za-z_]\w*|`[^`]+`)\s*$",
                part,
                re.IGNORECASE,
            )
            if am is None:
                raise UnsupportedDialect(
                    "RENAME entries must be 'column AS new_name', got: " + part
                )
            olds.append(am.group(1))
            rendered.append(f"{am.group(1)} AS {am.group(2)}")
        star = sql[m.start() : m.start() + 1]  # '*'
        repl = f"{star} EXCEPT({', '.join(olds)}), {', '.join(rendered)}"
        sql = sql[: m.start()] + repl + sql[close + 1 :]


def rewrite_star_replace(sql: str) -> str:
    """DuckDB ``* REPLACE (expr AS col, ...)`` -> Spark
    ``* EXCEPT(col, ...), expr AS col, ...``. Values match exactly;
    the one divergence is column ORDER (replaced columns move to the
    end of the star expansion — Spark has no positional replace)."""
    while True:
        m = next(_code_matches(sql, _REPLACE_STAR), None)
        if m is None:
            return sql
        open_idx = m.end() - 1
        close = _find_matching(sql, open_idx)
        if close == -1:
            return sql
        names, rendered = [], []
        for part in _split_top_level(sql[open_idx + 1:close]) or [""]:
            am = re.search(r"\s+AS\s+([A-Za-z_]\w*|`[^`]+`)\s*$", part, re.IGNORECASE)
            if am is None:
                raise UnsupportedDialect(
                    "REPLACE entries must be 'expr AS column', got: " + part
                )
            names.append(am.group(1))
            rendered.append(part)
        star = sql[m.start():m.start() + 1]  # '*'
        repl = f"{star} EXCEPT({', '.join(names)}), {', '.join(rendered)}"
        sql = sql[:m.start()] + repl + sql[close + 1:]


def _reject_columns_expr(chunk: str) -> None:
    if _COLUMNS_EXPR.search(chunk):
        raise UnsupportedDialect(
            "DuckDB COLUMNS(...) expressions are not supported by the Spark "
            "engine: list the columns explicitly, or use `* EXCLUDE(...)` "
            "(rewritten to Spark's `* EXCEPT(...)`) to drop columns"
        )


_CLAUSE_AFTER_FROM = (
    "WHERE", "GROUP", "QUALIFY", "HAVING", "WINDOW", "ORDER", "LIMIT", "UNION",
    "INTERSECT", "EXCEPT",
)


def _sql_like_to_re(pat: str) -> str:
    """SQL LIKE pattern -> anchored Python regex (% -> .*, _ -> .)."""
    out = []
    for ch in pat:
        if ch == "%":
            out.append(".*")
        elif ch == "_":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return "^" + "".join(out) + "$"


def _eval_columns_lambda(var: str, body: str, name: str) -> bool:
    """Evaluate a DuckDB COLUMNS name-predicate lambda against one
    column name, for the finite set of predicate shapes that cover
    real-world use (the lambda's argument is the column NAME, a
    VARCHAR): [NOT] LIKE / ILIKE, SIMILAR TO, regexp_matches,
    starts_with / prefix, ends_with / suffix, contains. Anything else
    raises the actionable rejection (reference contract: any DuckDB
    SQL, core/flow.py:267 — unsupported forms must name themselves)."""
    body = body.strip()
    lit = r"'((?:[^']|'')*)'"

    def unq(s: str) -> str:
        return s.replace("''", "'")

    m = re.fullmatch(
        rf"{re.escape(var)}\s+(NOT\s+)?(I?LIKE)\s+{lit}", body, re.IGNORECASE
    )
    if m:
        flags = re.IGNORECASE if m.group(2).upper() == "ILIKE" else 0
        hit = re.match(_sql_like_to_re(unq(m.group(3))), name, flags) is not None
        return hit != bool(m.group(1))
    m = re.fullmatch(
        rf"{re.escape(var)}\s+SIMILAR\s+TO\s+{lit}", body, re.IGNORECASE
    )
    if m:
        return re.fullmatch(unq(m.group(2)), name) is not None
    m = re.fullmatch(
        rf"(regexp_matches|starts_with|prefix|ends_with|suffix|contains)\s*\(\s*"
        rf"{re.escape(var)}\s*,\s*{lit}\s*\)",
        body,
        re.IGNORECASE,
    )
    if m:
        fn, s = m.group(1).lower(), unq(m.group(2))
        if fn == "regexp_matches":
            return re.search(s, name) is not None
        if fn in ("starts_with", "prefix"):
            return name.startswith(s)
        if fn in ("ends_with", "suffix"):
            return name.endswith(s)
        return s in name
    raise UnsupportedDialect(
        "COLUMNS lambda predicates support [NOT] LIKE/ILIKE, SIMILAR TO, "
        "regexp_matches, starts_with/prefix, ends_with/suffix, contains "
        f"over the column name — got: {var} -> {body}"
    )


def expand_columns_expr(sql: str, schema_lookup) -> str:
    """DuckDB ``COLUMNS(*)`` / ``COLUMNS('regex')`` star expressions,
    expanded against the schema of the containing SELECT's single FROM
    relation (reference transforms accept any DuckDB SQL; models/core.py
    query contract). Two shapes, matching the overwhelmingly common
    uses: bare ``COLUMNS(...)`` in the select list (expands to the
    column list) and a single-argument wrapping call
    ``fn(COLUMNS(...))`` (applies ``fn`` per column, aliased
    ``fn(col)``). The FROM source may be a named relation or a
    parenthesized subquery (the engine's ``schema_lookup`` resolves a
    subquery's schema by analysis only). Anything else —
    multi-relation FROM, EXCLUDE arguments — keeps the actionable
    rejection raised by ``normalize_dialect``."""
    if schema_lookup is None:
        return sql
    search_from = 0
    for _ in range(64):  # bounded: each pass consumes one COLUMNS(
        m = next(_code_matches(sql, _COLUMNS_EXPR, search_from), None)
        if m is None:
            return sql
        open_idx = m.end() - 1
        close = _find_matching(sql, open_idx)
        if close == -1:
            return sql
        arg = sql[open_idx + 1 : close].strip()

        # wrapping single-arg call fn(COLUMNS(...)) ?
        wrapper = None
        wm = re.search(r"([A-Za-z_]\w*)\s*\(\s*$", sql[: m.start()])
        if wm is not None and wm.group(1).upper() not in ("COLUMNS",):
            wrapper_open = sql.rindex("(", wm.start(), m.start())
            wrapper_close = _find_matching(sql, wrapper_open)
            if (
                wrapper_close != -1
                and sql[wrapper_open + 1 : wrapper_close].strip() == sql[m.start() : close + 1].strip()
            ):
                wrapper = wm.group(1)
                expr_start, expr_end = wm.start(1), wrapper_close
            else:
                raise UnsupportedDialect(
                    "COLUMNS(...) inside a multi-argument call is not "
                    "supported: apply the function to each column explicitly"
                )
        if wrapper is None:
            expr_start, expr_end = m.start(), close

        from_pos = _depth0_keyword_pos(sql, ("FROM",), expr_end + 1)
        if from_pos == -1:
            raise UnsupportedDialect(
                "COLUMNS(...) could not be resolved: no FROM clause found in "
                "the containing SELECT — list the columns explicitly"
            )
        after_from = sql[from_pos + 4 :]
        lead_ws = len(after_from) - len(after_from.lstrip())
        if after_from.lstrip().startswith("("):
            # subquery source: hand the whole parenthesized text to
            # schema_lookup — the engine resolves its schema by Catalyst
            # ANALYSIS only (lazy; nothing executes)
            sub_open = from_pos + 4 + lead_ws
            sub_close = _find_matching(sql, sub_open)
            if sub_close == -1:
                raise UnsupportedDialect(
                    "COLUMNS(...): unbalanced parentheses in the FROM "
                    "subquery — list the columns explicitly"
                )
            relname = sql[sub_open : sub_close + 1]
            rel_end = sub_close + 1
            # skip an optional [AS] alias after the subquery
            am = re.match(
                r"\s+(?:AS\s+)?([A-Za-z_]\w*|`[^`]+`)", sql[rel_end:], re.IGNORECASE
            )
            if am is not None and am.group(1).upper() not in _CLAUSE_AFTER_FROM + (
                "JOIN", "ON", "AS",
            ):
                rel_end += am.end()
        else:
            rel_m = re.match(
                r'\s*("([^"]+)"|`([^`]+)`|[A-Za-z_][\w.]*)', after_from
            )
            if rel_m is None:
                raise UnsupportedDialect(
                    "COLUMNS(...) requires a single FROM relation (a named "
                    "view/table or a parenthesized subquery) — list the "
                    "columns explicitly"
                )
            relname = rel_m.group(2) or rel_m.group(3) or rel_m.group(1)
            rel_end = from_pos + 4 + rel_m.end()
        clause_pos = _depth0_keyword_pos(sql, _CLAUSE_AFTER_FROM, rel_end)
        join_pos = _depth0_keyword_pos(sql, ("JOIN", ","), rel_end)
        if join_pos != -1 and (clause_pos == -1 or join_pos < clause_pos):
            raise UnsupportedDialect(
                "COLUMNS(...) over a multi-relation FROM (join/comma) is "
                "ambiguous — list the columns explicitly"
            )
        cols = schema_lookup(relname)
        if not cols:
            raise UnsupportedDialect(
                f"COLUMNS(...) could not resolve the schema of {relname!r} — "
                "is it a registered stage or table?"
            )
        names = [c[0] if isinstance(c, (tuple, list)) else c for c in cols]
        lam = re.fullmatch(r"([A-Za-z_]\w*)\s*->\s*(.+)", arg, re.DOTALL)
        if arg == "*":
            selected = names
        elif re.fullmatch(r"'(?:[^']|'')*'", arg):
            pat = arg[1:-1].replace("''", "'")
            selected = [c for c in names if re.search(pat, c)]
            if not selected:
                raise UnsupportedDialect(
                    f"COLUMNS({arg}) matched no columns of {relname!r} "
                    f"(columns: {', '.join(names)})"
                )
        elif lam is not None:
            selected = [
                c for c in names if _eval_columns_lambda(lam.group(1), lam.group(2), c)
            ]
            if not selected:
                raise UnsupportedDialect(
                    f"COLUMNS({arg}) matched no columns of {relname!r} "
                    f"(columns: {', '.join(names)})"
                )
        else:
            raise UnsupportedDialect(
                "COLUMNS argument must be *, a 'regex' string literal, or a "
                "name-predicate lambda (c -> c LIKE ..., regexp_matches, "
                "starts_with/ends_with/contains) — got: " + arg
            )
        if wrapper is None:
            repl = ", ".join(f"`{c}`" for c in selected)
        else:
            repl = ", ".join(f"{wrapper}(`{c}`) AS `{wrapper}({c})`" for c in selected)
        sql = sql[:expr_start] + repl + sql[expr_end + 1 :]
        search_from = expr_start + len(repl)
    return sql


_UNPIVOT_STMT = re.compile(
    r"^\s*UNPIVOT\s+(?P<src>\([^)]*\)|[\w.`\"]+)\s+ON\s+(?P<cols>.+?)\s+"
    r"INTO\s+NAME\s+(?P<name>[\w`\"]+)\s+VALUE\s+(?P<value>[\w`\"]+)\s*(?P<tail>ORDER\s+BY.*|LIMIT.*)?$",
    re.IGNORECASE | re.DOTALL,
)


_PIVOT_STMT = re.compile(r"^\s*PIVOT\b", re.IGNORECASE)


def parse_pivot_statement(sql: str) -> Optional[Dict[str, Optional[str]]]:
    """Parse DuckDB's ``PIVOT <src> ON <col> [IN (v, ...)] USING <agg>
    [GROUP BY cols] [ORDER BY ...] [LIMIT n]`` statement form. Returns
    the pieces (src/on/in_vals/agg/group/tail) or None when the text is
    not a PIVOT statement. Execution is engine-side: like DuckDB, the
    pivot column's distinct values are materialized first, then the
    pivot runs as a grouped aggregation (SparkEngine.sql)."""
    s = sql.strip().rstrip(";")
    if not _PIVOT_STMT.match(s):
        return None
    body = s[s.upper().index("PIVOT") + 5 :]
    on_pos = _depth0_keyword_pos(body, ("ON",))
    using_pos = _depth0_keyword_pos(body, ("USING",))
    if on_pos < 0 or using_pos < 0 or using_pos < on_pos:
        raise UnsupportedDialect(
            "PIVOT statement must have the shape "
            "`PIVOT <source> ON <column> [IN (...)] USING <aggregate> [GROUP BY ...]`"
        )
    src = body[:on_pos].strip()
    on_clause = body[on_pos + 2 : using_pos].strip()
    rest = body[using_pos + 5 :]
    group_pos = _depth0_keyword_pos(rest, ("GROUP",))
    tail_pos = _depth0_keyword_pos(rest, ("ORDER", "LIMIT"))
    if group_pos >= 0:
        agg = rest[:group_pos].strip()
        group_part = rest[group_pos:]
        gtail_pos = _depth0_keyword_pos(group_part, ("ORDER", "LIMIT"))
        group = (group_part if gtail_pos < 0 else group_part[:gtail_pos])
        group = re.sub(r"(?i)^GROUP\s+BY\s+", "", group).strip()
        tail = "" if gtail_pos < 0 else group_part[gtail_pos:].strip()
    else:
        agg = (rest if tail_pos < 0 else rest[:tail_pos]).strip()
        group = None
        tail = "" if tail_pos < 0 else rest[tail_pos:].strip()
    in_vals = None
    in_pos = _depth0_keyword_pos(on_clause, ("IN",))
    on_col = on_clause
    if in_pos >= 0:
        on_col = on_clause[:in_pos].strip()
        paren = on_clause.index("(", in_pos)
        close = _find_matching(on_clause, paren)
        in_vals = _split_top_level(on_clause[paren + 1 : close])
    return {
        "src": src,
        "on": on_col.strip(),
        "in_vals": in_vals,
        "agg": agg,
        "group": group,
        "tail": tail,
    }


def rewrite_unpivot_statement(sql: str) -> str:
    """DuckDB ``UNPIVOT tbl ON a, b, c INTO NAME k VALUE v`` ->
    Spark's UNPIVOT clause
    ``SELECT * FROM tbl UNPIVOT (v FOR k IN (a, b, c))`` (NULL rows
    excluded by default in both engines)."""
    m = _UNPIVOT_STMT.match(sql.strip().rstrip(";"))
    if not m:
        return sql
    cols = ", ".join(_split_top_level(m.group("cols")))
    tail = f" {m.group('tail')}" if m.group("tail") else ""
    return (
        f"SELECT * FROM {m.group('src')} UNPIVOT "
        f"({m.group('value')} FOR {m.group('name')} IN ({cols})){tail}"
    )


_LIST_KEYWORDS = frozenset(
    "SELECT WHERE WHEN THEN ELSE END AND OR NOT IN AS ON BY RETURN CASE "
    "DISTINCT ALL UNION HAVING VALUES SET BETWEEN LIKE COALESCE IF ARRAY".split()
)
_LIST_SCAN = re.compile(r"(?P<word>\w+)|(?P<open>[\[(])|(?P<close>[)\]])|\S")


def rewrite_bracket_lists(sql: str) -> str:
    """DuckDB ``['a', 'b']`` list literals -> ``array('a', 'b')``.

    A ``[`` is a literal-list opener when preceded by an operator,
    comma, paren, start-of-input, or a SQL keyword (``SELECT [1,2]``);
    after an identifier, a string, ``)`` or ``]`` it is a subscript and
    stays untouched. Comments and hints read as whitespace; string
    literals are never modified."""
    out, last = [], 0
    stack = []  # per '['/'(' level: True when the '[' was converted
    prev_sig = ""  # last significant (non-space) char
    prev_word = ""  # last identifier/keyword word
    for kind, s, e in lex(sql):
        if kind in (COMMENT, HINT):
            continue
        if kind != CODE:  # a string or quoted name ends an operand
            prev_sig = sql[e - 1]
            continue
        for m in _LIST_SCAN.finditer(sql, s, e):
            tok = m.group()
            if m.lastgroup == "word":
                prev_word = tok
            elif tok == "[":
                after_word = prev_sig.isalnum() or prev_sig == "_"
                literal_list = prev_sig == "" or prev_sig in "(,=<>+-*/%|&[" or (
                    after_word and prev_word.upper() in _LIST_KEYWORDS
                )
                stack.append(literal_list)
                if literal_list:
                    out += [sql[last : m.start()], "array("]
                    last = m.end()
                prev_sig = "("
                continue
            elif tok == "(":
                stack.append(False)
            elif m.lastgroup == "close":
                converted = stack.pop() if stack else False
                if converted and tok == "]":
                    out += [sql[last : m.start()], ")"]
                    last = m.end()
            prev_sig = tok[-1]
    out.append(sql[last:])
    return "".join(out)


def _comprehension_to_transform(body: str) -> Optional[str]:
    """``expr FOR var IN source [IF cond]`` -> ``transform(...)``; None
    if the body is not a comprehension."""
    fpos = _depth0_keyword_pos(body, ("FOR",))
    if fpos <= 0:
        return None
    expr = body[:fpos].strip()
    rest = body[fpos + 3:]
    ipos = _depth0_keyword_pos(rest, ("IN",))
    if ipos < 0:
        return None
    var = rest[:ipos].strip()
    if not re.fullmatch(r"[A-Za-z_]\w*", var):
        return None
    tail = rest[ipos + 2:]
    cpos = _depth0_keyword_pos(tail, ("IF",))
    if cpos >= 0:
        src, cond = tail[:cpos].strip(), tail[cpos + 2:].strip()
    else:
        src, cond = tail.strip(), None
    if not expr or not src or (cpos >= 0 and not cond):
        return None
    src = rewrite_list_comprehensions(src)
    expr = rewrite_list_comprehensions(expr)
    if cond is not None:
        cond = rewrite_list_comprehensions(cond)
        src = f"filter({src}, {var} -> {cond})"
    return f"transform({src}, {var} -> {expr})"


def rewrite_list_comprehensions(sql: str) -> str:
    """DuckDB list comprehensions (reference transforms may use any
    DuckDB SQL): ``[expr FOR x IN lst IF cond]`` becomes Spark
    ``transform(filter(lst, x -> cond), x -> expr)`` (``filter`` omitted
    without IF). Runs before bracket-list rewriting so the comprehension
    brackets are consumed first; nested comprehensions recurse."""
    return _rewrite_bracketed(sql, _OPEN_SQUARE, _comprehension_to_transform)


_ASOF_JOIN = re.compile(r"\bASOF\s+(?:LEFT\s+)?JOIN\b", re.IGNORECASE)
_DISTINCT_ON = re.compile(r"\bSELECT\s+DISTINCT\s+ON\s*\(", re.IGNORECASE)
_ORDER_BY = re.compile(r"ORDER\s+BY", re.IGNORECASE)


def rewrite_distinct_on(sql: str) -> str:
    """DuckDB/Postgres ``SELECT DISTINCT ON (keys) ... [ORDER BY o]`` ->
    plain SELECT + ``QUALIFY ROW_NUMBER() OVER (PARTITION BY keys
    ORDER BY o) = 1`` (the existing QUALIFY rewrite then turns it into
    a subquery). With no ORDER BY the row kept per group is arbitrary —
    same contract as DuckDB — and the window orders by the keys."""
    for _ in range(16):
        m = next(_code_matches(sql, _DISTINCT_ON), None)
        if m is None:
            return sql
        close = _find_matching(sql, m.end() - 1)
        if close == -1:
            return sql
        keys = sql[m.end() : close].strip()
        # the SELECT's own scope (up to its enclosing paren, or the end),
        # with the DISTINCT ON (...) prefix dropped
        end = _find_matching(sql, m.start())
        end = len(sql) if end == -1 else end
        stmt = "SELECT " + sql[close + 1 : end]
        ob = _depth0_keyword_pos(stmt, ("ORDER BY",))
        if ob != -1:
            lim = _depth0_keyword_pos(stmt, ("LIMIT",), ob)
            order = stmt[_ORDER_BY.match(stmt, ob).end() : len(stmt) if lim == -1 else lim]
            at = ob
        else:
            order = keys
            lim = _depth0_keyword_pos(stmt, ("LIMIT", "UNION", "INTERSECT", "EXCEPT"))
            at = len(stmt) if lim == -1 else lim
        qualify = f" QUALIFY ROW_NUMBER() OVER (PARTITION BY {keys} ORDER BY {order.strip()}) = 1 "
        sql = sql[: m.start()] + stmt[:at] + qualify + stmt[at:] + sql[end:]
    return sql


_BRACKET_SLICE = re.compile(r"\[\s*[^,:\[\]]*:\s*[^,:\[\]]*\]")

# conservative rewritable subset of DuckDB list slicing: a bare
# (possibly dotted) identifier sliced with positive literal or
# identifier bounds — `ident[i:j]`, `ident[i:]`, `ident[:j]`.
# DuckDB slices are 1-based and inclusive on both ends; Spark's
# slice(col, start, length) is 1-based with a length. Anything more
# complex (expressions, negatives, chained slices) keeps the
# actionable rejection below.
_BRACKET_SLICE_SIMPLE = re.compile(
    r"\b([A-Za-z_][\w]*(?:\.[A-Za-z_]\w*)?)\s*"
    r"\[\s*([A-Za-z_]\w*|\d+)?\s*:\s*([A-Za-z_]\w*|\d+)?\s*\]"
)


def rewrite_bracket_slices(sql: str) -> str:
    """``ident[i:j]`` list slices -> ``slice(...)``; normalize_dialect
    applies it to the text between literals only."""

    def repl(m: "re.Match[str]") -> str:
        arr, lo, hi = m.group(1), m.group(2), m.group(3)
        if lo and hi:
            return f"slice({arr}, {lo}, ({hi}) - ({lo}) + 1)"
        if lo:
            return f"slice({arr}, {lo}, size({arr}) - ({lo}) + 1)"
        if hi:
            return f"slice({arr}, 1, {hi})"
        return arr  # a[:] is the identity

    return _BRACKET_SLICE_SIMPLE.sub(repl, sql)


_JSON_CAST = re.compile(r"::\s*JSON\b", re.IGNORECASE)
_JSON_ARROW = re.compile(r"(\b[A-Za-z_][\w.]*)\s*->>\s*'([^']+)'")


def rewrite_json_arrows(sql: str) -> str:
    """DuckDB ``col->>'key'`` (JSON text extraction) ->
    ``get_json_object(col, '$.key')``. Only the identifier->>literal
    shape rewrites; plain ``->`` is left alone because it is also
    Spark's lambda arrow (``x -> 'const'`` is a valid lambda body)."""
    prev = None
    out = sql
    while prev != out:
        prev = out
        out = _JSON_ARROW.sub(lambda m: f"get_json_object({m.group(1)}, '$.{m.group(2)}')", out)
    return out




_CAST_OPEN = re.compile(r"\b(?:TRY_)?CAST\s*\(", re.IGNORECASE)
_CAST_STRING_TYPE = re.compile(r"\bAS\s+(VARCHAR|TEXT)\s*$", re.IGNORECASE)
_COLON_STRING_TYPE = re.compile(r"::\s*(VARCHAR|TEXT)\b(?!\s*[(\[])", re.IGNORECASE)
_CTE_MATERIALIZED = re.compile(r"\bAS\s+((?:NOT\s+)?MATERIALIZED)\s*\(", re.IGNORECASE)


def rewrite_type_spellings(sql: str) -> str:
    """DuckDB spellings that Spark 4 rejects, rewritten in code only: an
    unsized ``VARCHAR`` or ``TEXT`` cast target becomes ``STRING``
    (Spark wants ``VARCHAR(n)`` and has no ``TEXT`` type), and the
    ``[NOT] MATERIALIZED`` CTE marker is dropped. A type is rewritten
    only as a cast target — after ``::`` or as the tail of
    ``[TRY_]CAST(x AS ...)`` — because ``text`` is also a common column
    name and alias."""
    edits = [(m.start(1), m.end(1), "STRING") for m in _code_matches(sql, _COLON_STRING_TYPE)]
    for m in _code_matches(sql, _CAST_OPEN):
        close = _find_matching(sql, m.end() - 1)
        t = _CAST_STRING_TYPE.search(sql, m.end(), close) if close > 0 else None
        if t:
            edits.append((t.start(1), t.end(1), "STRING"))
    edits += [(m.start(1), m.end(1), "") for m in _code_matches(sql, _CTE_MATERIALIZED)]
    for start, end, repl in sorted(edits, reverse=True):
        sql = sql[:start] + repl + sql[end:]
    return sql


_FROM_FIRST = re.compile(r"^\s*FROM\b", re.IGNORECASE)


def rewrite_from_first(sql: str) -> str:
    """DuckDB's FROM-first syntax: ``FROM t`` (implicit SELECT *) and
    ``FROM t SELECT cols`` both become standard SELECT statements. Only
    the top-level statement reorders; subqueries use standard syntax in
    the reference corpus."""
    if not _FROM_FIRST.match(sql):
        return sql
    pos = _depth0_keyword_pos(sql, ("SELECT",))
    if pos < 0:
        return "SELECT * " + sql.strip()
    from_part = sql[:pos].strip()
    tail = sql[pos:].strip()
    # the select LIST ends at the first depth-0 clause keyword; the FROM
    # segment re-inserts between them so trailing WHERE/GROUP/ORDER keep
    # standard positions
    clause = _depth0_keyword_pos(
        tail, ("WHERE", "GROUP", "HAVING", "QUALIFY", "WINDOW", "ORDER", "LIMIT", "UNION", "INTERSECT", "EXCEPT"),
        start=6,
    )
    if clause < 0:
        return f"{tail} {from_part}"
    return f"{tail[:clause].rstrip()} {from_part} {tail[clause:]}"


def normalize_dialect(sql: str) -> str:
    def fix(chunk: str) -> str:
        _reject_columns_expr(chunk)
        if _UNION_BY_NAME.search(chunk):
            raise UnsupportedDialect(
                "set operations BY NAME run only as a TOP-LEVEL statement "
                "(executed via DataFrame unionByName/intersect/except — "
                "session._run_setop_by_name); inside a subquery, list "
                "matching columns explicitly on both sides"
            )
        if _ASOF_JOIN.search(chunk):
            raise UnsupportedDialect(
                "ASOF JOIN runs only as a TOP-LEVEL statement of the form "
                "SELECT ... FROM l ASOF [LEFT] JOIN r ON l.k = r.k AND "
                "l.ts >= r.ts (executed via the window-based plan in "
                "operators/asof.py); inside a subquery, use the `asof_join` "
                "operator stage instead"
            )
        chunk = rewrite_bracket_slices(chunk)
        if _BRACKET_SLICE.search(chunk):
            raise UnsupportedDialect(
                "DuckDB list slice with a non-trivial subject or bounds — "
                "only `ident[i:j]` / `ident[i:]` / `ident[:j]` with "
                "positive literal/identifier bounds rewrite automatically; "
                "use list_slice(list, i, j) (rewritten to Spark slice()) "
                "for expressions, negatives, or chained slices"
            )
        out = _SAMPLE_ROWS.sub(r"TABLESAMPLE (\1 ROWS)", chunk)
        out = _SAMPLE_PCT.sub(r"TABLESAMPLE (\1 PERCENT)", out)
        out = _INT_DIV.sub(" div ", out)  # DuckDB // integer division
        out = _JSON_CAST.sub("", out)  # ::JSON — JSON is a string in Spark
        out = _EXCLUDE_PARENS.sub("EXCEPT(", out)  # DuckDB * EXCLUDE(...)
        out = _EXCLUDE_BARE.sub(r"\1EXCEPT(\2)", out)
        return out

    out = rewrite_type_spellings(sql)
    out = rewrite_from_first(out)
    out = rewrite_unpivot_statement(out)
    out = rewrite_star_replace(out)
    out = rewrite_star_rename(out)
    out = rewrite_distinct_on(out)
    out = _map_nonliteral(out, fix)
    out = rewrite_struct_literals(out)
    out = rewrite_list_comprehensions(out)
    out = rewrite_bracket_lists(out)
    out = rewrite_json_arrows(out)
    return expand_dialect_functions(out)


def quoted_stage_refs_to_views(sql: str, views: Dict[str, str]) -> str:
    """Double-quoted identifiers that are NOT registered stage names are
    converted to backticks (Spark identifier quoting)."""

    def fix(chunk: str) -> str:
        return re.sub(r'"([^"]+)"', lambda m: f"`{m.group(1)}`", chunk)

    return _map_nonliteral(sql, fix)


def rewrite_qualify(sql: str) -> str:
    """DuckDB's QUALIFY (filter on window expressions) has no Spark
    equivalent; rewrite to the standard subquery form: compute the
    predicate (windows and all) as a projected boolean, filter on it,
    drop the helper column with ``* EXCEPT``. Paren-depth-aware so
    ORDER BY inside OVER(...) clauses is not mistaken for the tail."""
    s = sql.strip().rstrip(";")
    qpos = _depth0_keyword_pos(s, ("QUALIFY",))
    if qpos < 0:
        return sql
    base = s[:qpos].strip()
    rest = s[qpos + len("QUALIFY"):]
    tpos = _depth0_keyword_pos(rest, ("ORDER", "LIMIT"))
    pred = (rest if tpos < 0 else rest[:tpos]).strip()
    tail = "" if tpos < 0 else rest[tpos:].strip()
    return (
        f"SELECT * EXCEPT(__qualify__) FROM ("
        f"SELECT *, ({pred}) AS __qualify__ FROM ({base}) __qbase__"
        f") __qfiltered__ WHERE __qualify__ {tail}"
    )


def rewrite_sql(sql: str, views: Dict[str, str], schema_lookup=None) -> str:
    out = expand_fn_macros(strip_comments(sql), schema_lookup=schema_lookup)
    out = expand_columns_expr(out, schema_lookup)
    out = rewrite_views(out, views)
    out = normalize_dialect(out)
    out = rewrite_qualify(out)
    out = quoted_stage_refs_to_views(out, views)
    return out
