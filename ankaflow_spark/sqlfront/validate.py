"""Tap-query validation (reference: ankaflow/common/util.py:386-425 —
same rules). No SQL parser library is available here, so the rules run
as keyword patterns over the code tokens of the SQL front's lexer
(``rewrite.lex``): keywords inside string literals, quoted names,
comments or hints never count, and comments read as whitespace.

Tap queries run against a *source placeholder* before materialization;
the reference restricts them to simple selects so the ranking rewrite
stays sound: no CTEs, no joins, no subqueries — and when ranking is
enabled, no aggregates/GROUP BY (the window must see raw rows).
"""

from __future__ import annotations

import re

from .rewrite import CODE, lex


class QueryValidationError(ValueError):
    pass


_AGG_RE = re.compile(r"\b(count|sum|avg|min|max|group\s+by)\s*(\(|\b)", re.IGNORECASE)
_JOIN_RE = re.compile(r"\bjoin\b", re.IGNORECASE)
_WITH_RE = re.compile(r"^\s*with\b", re.IGNORECASE)
_UNION_RE = re.compile(r"\b(union|intersect|except)\b", re.IGNORECASE)


def _code_only(sql: str) -> str:
    return " ".join(sql[s:e] for kind, s, e in lex(sql) if kind == CODE)


def validate_simple_query(sql: str, ranking_enabled: bool = False) -> None:
    """Raise QueryValidationError if the tap query uses constructs the
    tap rewrite pipeline cannot handle."""
    code = _code_only(sql)
    if _WITH_RE.search(code):
        raise QueryValidationError("tap queries cannot use CTEs (WITH)")
    if _JOIN_RE.search(code):
        raise QueryValidationError("tap queries cannot contain JOINs")
    if _UNION_RE.search(code):
        raise QueryValidationError("tap queries cannot contain set operations")
    # subquery: a second SELECT anywhere in code text
    if len(re.findall(r"\bselect\b", code, re.IGNORECASE)) > 1:
        raise QueryValidationError("tap queries cannot contain subqueries")
    if ranking_enabled and _AGG_RE.search(code):
        raise QueryValidationError(
            "tap queries with version/key ranking cannot aggregate or GROUP BY"
        )
