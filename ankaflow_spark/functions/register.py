"""User macro registration (reference surface:
ankaflow/internal/macros.py:8-60 ``register_macro`` — users extend the
``Fn.*`` namespace; built-ins are not overridable).

Spark 4 SQL scalar UDFs carry types, so the registration signature is
``register_macro(spark, "discount", "(price DOUBLE, pct DOUBLE) RETURNS
DOUBLE", "price * (1 - pct / 100)")``. After registration both
spellings work in transforms: ``fn_discount(...)`` and the reference
spelling ``Fn.discount(...)`` (rewritten by the SQL front-end).
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

from .fn import SQL_FN_BODIES

_BUILTIN_NAMES = {sig.split("(")[0].strip() for sig in SQL_FN_BODIES}
_NAME_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


class MacroError(ValueError):
    pass


def register_macro(spark: SparkSession, name: str, signature: str, body: str) -> str:
    """Register ``fn_<name>`` as a Catalyst-inlined SQL UDF.

    ``signature`` is ``(arg TYPE, ...) RETURNS TYPE``; ``body`` is a SQL
    expression over the arguments. Built-in Fn names are protected.
    """
    if not _NAME_RE.match(name):
        raise MacroError(f"invalid macro name: {name!r}")
    fn_name = name if name.startswith("fn_") else f"fn_{name}"
    if fn_name in _BUILTIN_NAMES:
        raise MacroError(f"cannot override built-in macro: {fn_name}")
    if not re.match(r"^\s*\(.*\)\s*RETURNS\s+\S+", signature, re.IGNORECASE | re.DOTALL):
        raise MacroError(f"signature must be '(args) RETURNS TYPE', got: {signature!r}")
    from .fn import USER_FN_NAMES, register_referenced

    register_referenced(spark, body)  # built-ins the body calls resolve at CREATE
    spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {fn_name}{signature} RETURN {body}")

    USER_FN_NAMES.add(fn_name)
    return fn_name
