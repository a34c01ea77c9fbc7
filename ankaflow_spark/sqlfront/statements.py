"""Statement-level DuckDB-dialect constructs that need a SparkSession
to execute (no pure-text Spark SQL spelling exists): ``ASOF JOIN``,
set operations ``BY NAME``, and ``read_*('path', option=value, ...)``
table functions. The parsers live here; execution is in
``session.Session`` (the same pattern as PIVOT/SUMMARIZE/COPY).

Reference contract: a transform stage accepts any DuckDB SQL
(reference core/flow.py:267); these three were the remaining
rejected-with-message constructs users actually paste.
"""

from __future__ import annotations

import re
from typing import Dict, List, Optional, Tuple

from .rewrite import (
    UnsupportedDialect,
    _code_matches,
    _depth0_keyword_pos,
    _find_matching,
    _split_top_level,
)

# ---------------------------------------------------------------------------
# ASOF JOIN
# ---------------------------------------------------------------------------

_ASOF_KW = re.compile(r"\bASOF\s+(LEFT\s+)?JOIN\b", re.IGNORECASE)
_EQ_COND = re.compile(
    r"^\s*(\w+)\s*\.\s*(\w+)\s*(>=|<=|>|<|=)\s*(\w+)\s*\.\s*(\w+)\s*$"
)


def _parse_table_term(term: str) -> Tuple[str, Optional[str], bool]:
    """-> (source, alias, is_subquery). Source is a name or the inner
    SQL of a parenthesized subquery."""
    term = term.strip()
    if term.startswith("("):
        close = _find_matching(term, 0)
        if close < 0:
            raise UnsupportedDialect("ASOF JOIN: unbalanced subquery parens")
        inner = term[1:close]
        rest = term[close + 1 :].strip()
        alias = re.sub(r"(?is)^AS\s+", "", rest).strip() or None
        return inner, alias, True
    parts = term.split()
    if len(parts) == 1:
        return parts[0], None, False
    if len(parts) == 2:
        return parts[0], parts[1], False
    if len(parts) == 3 and parts[1].upper() == "AS":
        return parts[0], parts[2], False
    raise UnsupportedDialect(f"ASOF JOIN: cannot parse table term {term!r}")


def parse_asof_statement(sql: str) -> Optional[dict]:
    """Parse ``SELECT <proj> FROM <left> ASOF [LEFT] JOIN <right>
    ON <eq-conds AND one inequality> [tail]``; None when the statement
    is not an ASOF join. The ON clause must follow DuckDB's contract:
    any number of equality conditions plus EXACTLY ONE inequality
    between the two timestamp/ordering columns.
    """
    s = sql.strip().rstrip(";")
    pos = _depth0_keyword_pos(s, ("ASOF JOIN", "ASOF LEFT JOIN"))
    if pos < 0:
        return None
    m = _ASOF_KW.match(s, pos)
    how = "left" if m.group(1) else "inner"
    head = s[: m.start()]
    sel = re.match(r"(?is)^\s*SELECT\s+", head)
    from_pos = _depth0_keyword_pos(head, ("FROM",))
    if sel is None or from_pos < 0:
        raise UnsupportedDialect(
            "ASOF JOIN: only the form SELECT ... FROM <left> ASOF [LEFT] "
            "JOIN <right> ON ... is supported"
        )
    proj = head[sel.end() : from_pos].strip()
    left_term = head[from_pos + 4 :].strip()
    rest = s[m.end() :]
    on_pos = _depth0_keyword_pos(rest, ("ON",))
    if on_pos < 0:
        raise UnsupportedDialect("ASOF JOIN requires an ON clause")
    right_term = rest[:on_pos].strip()
    cond_tail = rest[on_pos + 2 :]
    tail_pos = _depth0_keyword_pos(
        cond_tail, ("WHERE", "GROUP", "HAVING", "QUALIFY", "ORDER", "LIMIT")
    )
    cond = cond_tail if tail_pos < 0 else cond_tail[:tail_pos]
    tail = "" if tail_pos < 0 else cond_tail[tail_pos:]

    lsrc, lalias, lsub = _parse_table_term(left_term)
    rsrc, ralias, rsub = _parse_table_term(right_term)
    la = lalias or (None if lsub else lsrc)
    ra = ralias or (None if rsub else rsrc)
    if not la or not ra or la == ra:
        raise UnsupportedDialect(
            "ASOF JOIN: both sides need distinct aliases (or table names) "
            "so ON conditions can be attributed"
        )

    eq_keys: List[Tuple[str, str]] = []
    ineq = None
    for conj in _split_top_level(cond, "AND"):
        cm = _EQ_COND.match(conj)
        if cm is None:
            raise UnsupportedDialect(
                f"ASOF JOIN: unsupported ON condition {conj.strip()!r}; "
                "use alias.col <op> alias.col conjunctions"
            )
        a_al, a_col, op, b_al, b_col = cm.groups()
        if {a_al, b_al} != {la, ra}:
            raise UnsupportedDialect(
                f"ASOF JOIN: condition {conj.strip()!r} must reference both "
                f"sides ({la!r} and {ra!r})"
            )
        lcol, rcol = (a_col, b_col) if a_al == la else (b_col, a_col)
        if op == "=":
            eq_keys.append((lcol, rcol))
            continue
        if ineq is not None:
            raise UnsupportedDialect("ASOF JOIN: exactly one inequality allowed")
        # normalize to left-side-first comparison
        if a_al != la:
            op = {">": "<", "<": ">", ">=": "<=", "<=": ">="}[op]
        ineq = {
            ">=": ("backward", False),
            ">": ("backward", True),
            "<=": ("forward", False),
            "<": ("forward", True),
        }[op] + (lcol, rcol)
    if ineq is None:
        raise UnsupportedDialect("ASOF JOIN requires one inequality condition")
    direction, strict, on_left, on_right = ineq
    return {
        "proj": proj,
        "tail": tail,
        "left": (lsrc, lsub),
        "right": (rsrc, rsub),
        "la": la,
        "ra": ra,
        "eq_keys": eq_keys,
        "on_left": on_left,
        "on_right": on_right,
        "direction": direction,
        "strict": strict,
        "how": how,
    }


# ---------------------------------------------------------------------------
# Set operations BY NAME
# ---------------------------------------------------------------------------

_BY_NAME = re.compile(
    r"\b(UNION|INTERSECT|EXCEPT)(\s+ALL|\s+DISTINCT)?\s+BY\s+NAME\b", re.IGNORECASE
)
_BY_NAME_WORDS = tuple(
    f"{op}{q} BY NAME" for op in ("UNION", "INTERSECT", "EXCEPT") for q in ("", " ALL", " DISTINCT")
)


def parse_by_name_setop(sql: str) -> Optional[dict]:
    """Split at the LAST depth-0 ``<setop> [ALL] BY NAME`` (set ops are
    left-associative, so the left operand recursively re-enters the SQL
    pipeline and may itself chain further BY NAME ops). A trailing
    depth-0 ORDER BY / LIMIT after the right operand applies to the
    combined result, as in SQL.

    Known limit: a PLAIN (positional) set op AFTER the last BY NAME —
    ``A UNION ALL BY NAME B UNION ALL C`` — groups as
    A BY-NAME (B UNION ALL C) instead of left-associatively; spell the
    intent with parentheses/subqueries when mixing both kinds."""
    s = sql.strip().rstrip(";")
    # depth 0 only: BY NAME inside parens belongs to a subquery
    last, pos = None, _depth0_keyword_pos(s, _BY_NAME_WORDS)
    while pos >= 0:
        last = _BY_NAME.match(s, pos)
        pos = _depth0_keyword_pos(s, _BY_NAME_WORDS, last.end())
    if last is None:
        return None
    op = last.group(1).upper()
    all_ = (last.group(2) or "").strip().upper() == "ALL"
    left = s[: last.start()].strip()
    right = s[last.end() :].strip()
    tail_pos = _depth0_keyword_pos(right, ("ORDER", "LIMIT"))
    tail = ""
    if tail_pos >= 0:
        tail = right[tail_pos:]
        right = right[:tail_pos].strip()
    return {"op": op, "all": all_, "left": left, "right": right, "tail": tail}


# ---------------------------------------------------------------------------
# read_*('path', option=value, ...) table functions
# ---------------------------------------------------------------------------

_READ_OPT_CALL = re.compile(
    r"\b(read_parquet|read_csv_auto|read_csv|read_json_auto|read_json)\s*\(",
    re.IGNORECASE,
)

_DUCK_TO_SPARK_TYPE = {
    "ubigint": "BIGINT",
    "bigint": "BIGINT",
    "int8": "BIGINT",
    "long": "BIGINT",
    "hugeint": "DECIMAL(38,0)",
    "integer": "INT",
    "int": "INT",
    "int4": "INT",
    "uinteger": "BIGINT",
    "smallint": "SMALLINT",
    "int2": "SMALLINT",
    "usmallint": "INT",
    "tinyint": "TINYINT",
    "int1": "TINYINT",
    "utinyint": "SMALLINT",
    "varchar": "STRING",
    "text": "STRING",
    "string": "STRING",
    "double": "DOUBLE",
    "float8": "DOUBLE",
    "real": "FLOAT",
    "float4": "FLOAT",
    "float": "FLOAT",
    "boolean": "BOOLEAN",
    "bool": "BOOLEAN",
    "date": "DATE",
    "timestamp": "TIMESTAMP",
    "timestamptz": "TIMESTAMP",
    "blob": "BINARY",
    "bytea": "BINARY",
}


def _columns_struct_to_ddl(value: str) -> str:
    """DuckDB ``columns={name: 'TYPE', ...}`` -> Spark schema DDL."""
    inner = value.strip()
    if inner.startswith("{") and inner.endswith("}"):
        inner = inner[1:-1]
    fields = []
    for pair in _split_top_level(inner):
        if ":" not in pair:
            raise UnsupportedDialect(f"read_*: cannot parse columns entry {pair!r}")
        name, typ = pair.split(":", 1)
        name = name.strip().strip("'\"")
        typ = typ.strip().strip("'\"").lower()
        base = re.match(r"^(\w+)", typ)
        mapped = _DUCK_TO_SPARK_TYPE.get(base.group(1) if base else typ)
        if mapped is None:
            mapped = typ.upper()  # DECIMAL(p,s) and friends pass through
        elif base and typ != base.group(1):
            mapped = typ.upper()
        fields.append(f"{name} {mapped}")
    return ", ".join(fields)


def parse_reader_calls(sql: str) -> List[dict]:
    """Every optioned ``read_*`` call in the statement, and every
    ``read_parquet('path')``: [{span, fn, path, options, with_filename,
    schema_ddl}]. Other single-argument calls are left for the pure-text
    path-table rewrite; a parquet one is read here so that its schema
    comes from the file footer rather than from a Spark inference job."""
    out = []
    for m in _code_matches(sql, _READ_OPT_CALL):
        open_idx = m.end() - 1
        close = _find_matching(sql, open_idx)
        if close < 0:
            continue
        args = _split_top_level(sql[open_idx + 1 : close])
        fn = m.group(1).lower()
        single = len(args) == 1
        if not args or (single and fn != "read_parquet"):
            continue
        quoted = re.fullmatch(r"'(.*)'", args[0], re.DOTALL)
        if quoted is None:
            if single:
                continue
            raise UnsupportedDialect(
                f"read_*: first argument must be a path literal, got {args[0]!r}"
            )
        path = quoted.group(1)
        fmt = {"read_parquet": "parquet"}.get(fn, "csv" if "csv" in fn else "json")
        options: Dict[str, str] = {}
        schema_ddl = None
        with_filename = False
        for arg in args[1:]:
            if "=" not in arg:
                raise UnsupportedDialect(
                    f"read_*: expected option=value, got {arg.strip()!r}"
                )
            key, value = arg.split("=", 1)
            key, value = key.strip().lower(), value.strip()
            unquoted = value.strip("'\"")
            lowered = unquoted.lower()
            if key == "columns":
                schema_ddl = _columns_struct_to_ddl(value)
            elif key in ("header",):
                options["header"] = lowered
            elif key in ("delim", "sep", "delimiter"):
                options["sep"] = unquoted
            elif key == "quote":
                options["quote"] = unquoted
            elif key == "escape":
                options["escape"] = unquoted
            elif key in ("nullstr", "null_padding"):
                options["nullValue"] = unquoted
            elif key == "dateformat":
                options["dateFormat"] = _duck_strptime_to_java(unquoted)
            elif key == "timestampformat":
                options["timestampFormat"] = _duck_strptime_to_java(unquoted)
            elif key == "compression":
                options["compression"] = lowered
            elif key == "ignore_errors":
                if lowered in ("true", "1"):
                    options["mode"] = "DROPMALFORMED"
            elif key == "all_varchar":
                options["inferSchema"] = "false" if lowered in ("true", "1") else "true"
            elif key == "auto_detect":
                options["inferSchema"] = lowered
            elif key == "union_by_name":
                if fmt == "parquet":
                    options["mergeSchema"] = lowered
            elif key == "filename":
                with_filename = lowered in ("true", "1")
            elif key == "format" and fmt == "json":
                if lowered == "array":
                    options["multiLine"] = "true"
            elif key in ("sample_size", "hive_partitioning", "normalize_names",
                         "parallel", "max_line_size"):
                pass  # inference/engine tuning knobs with no Spark analogue
            elif key == "skip":
                raise UnsupportedDialect(
                    "read_csv(skip=N) has no Spark reader option; pre-strip "
                    "the lines or filter on a monotonically increasing id"
                )
            else:
                raise UnsupportedDialect(
                    f"read_*: option {key!r} has no Spark reader mapping"
                )
        if fmt == "csv":
            options.setdefault("header", "false" if schema_ddl else "true")
            if not schema_ddl:
                options.setdefault("inferSchema", "true")
        out.append(
            {
                "span": (m.start(), close + 1),
                "fmt": fmt,
                "path": path,
                "options": options,
                "schema_ddl": schema_ddl,
                "with_filename": with_filename,
            }
        )
    return out


def _duck_strptime_to_java(fmt: str) -> str:
    for src, dst in [
        ("%Y", "yyyy"), ("%y", "yy"), ("%m", "MM"), ("%d", "dd"),
        ("%H", "HH"), ("%M", "mm"), ("%S", "ss"), ("%f", "SSSSSS"),
    ]:
        fmt = fmt.replace(src, dst)
    return fmt
