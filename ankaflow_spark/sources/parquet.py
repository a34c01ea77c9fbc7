"""The engine's one parquet read path: ``read_parquet``.

``spark.read.parquet(path)`` without a schema runs a Spark job that reads
one footer (schema inference). ``read_parquet`` reads that footer on the
driver with pyarrow instead and builds the schema Spark would infer from
it, the way Spark's ``readSchemaFromFooter`` does:

* a footer written by Spark carries the Spark schema under
  ``org.apache.spark.sql.parquet.row.metadata``; that schema is used;
* any other footer's schema is converted from Arrow (no-tz timestamps as
  TIMESTAMP_NTZ), with TIMESTAMP(NANOS) columns as BIGINT under
  ``spark.sql.legacy.parquet.nanosAsLong``.

The schema goes to the reader through ``.schema()``, so the read runs no
job. Spark infers the schema itself whenever the footer cannot say exactly
what it would: a path that is not on the local filesystem or is a glob,
reader options (``mergeSchema``, ``basePath``, ...), schema merging on the
session, a directory with subdirectories (partitions) or summary files,
INT96, unsigned and other Parquet types without an exact Arrow mapping, or
no readable data file.
"""

from __future__ import annotations

import json
import os
import warnings
from typing import Dict, FrozenSet, Optional, Sequence, Tuple, Union
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

#: Parquet leaf logical types whose Arrow type pyspark maps to the type
#: Spark's own Parquet converter gives (INT only when signed)
_EXACT_LOGICAL = {"NONE", "STRING", "INT", "DECIMAL", "DATE", "TIMESTAMP"}
_EXACT_ARROW = (
    pa.types.is_boolean,
    pa.types.is_signed_integer,
    pa.types.is_float32,
    pa.types.is_float64,
    pa.types.is_decimal128,
    pa.types.is_string,
    pa.types.is_large_string,
    pa.types.is_binary,
    pa.types.is_large_binary,
    pa.types.is_date32,
    pa.types.is_timestamp,
)


def read_parquet(
    spark: SparkSession,
    path: Union[str, Sequence[str]],
    *,
    schema: Union[T.StructType, str, None] = None,
    options: Optional[Dict[str, str]] = None,
    timestamps: bool = False,
) -> DataFrame:
    """Read the parquet file or directory ``path`` (or several paths).

    ``schema`` (a StructType or DDL string) skips the footer read;
    without it the footer schema is used (see the module docstring).
    ``options`` go to the reader as given. ``timestamps`` applies the engine's timestamp normalization
    for external files: TIMESTAMP(NANOS) columns, with or without a time
    zone, read as int64 ns under nanosAsLong, become TIMESTAMP through
    bigint ``div`` (a double
    round-trip would lose precision above 2^53 ns), and TIMESTAMP_NTZ
    columns of any unit are cast to TIMESTAMP (the engine pins the
    session to UTC, so the cast is value-identical to DuckDB's naive
    reading)."""
    paths = [path] if isinstance(path, str) else list(path)
    options = dict(options or {})
    if timestamps:
        _pin_nanos_as_long(spark)
    ns_cols: FrozenSet[str] = frozenset()
    if schema is None or timestamps:
        footer, ns_cols = _probe(spark, paths, options)
        schema = schema if schema is not None else footer
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.parquet(*paths)
    return _normalize_timestamps(df, ns_cols) if timestamps else df


def footer_schema(
    spark: SparkSession, path: str, options: Optional[Dict[str, str]] = None
) -> Optional[T.StructType]:
    """The schema ``read_parquet`` hands the reader for ``path``, or None
    when Spark infers it."""
    return _probe(spark, [path], dict(options or {}))[0]


def _probe(
    spark: SparkSession, paths: Sequence[str], options: Dict[str, str]
) -> Tuple[Optional[T.StructType], FrozenSet[str]]:
    """(schema or None, top-level ``timestamp[ns]`` columns of any time
    zone) from the footer of the one file Spark's inference would read."""
    local = _local_path(spark, paths[0]) if len(paths) == 1 else None
    data = _data_file(local) if local is not None else None
    if data is None:
        return None, frozenset()
    try:
        meta = pq.read_metadata(data)
        arrow = meta.schema.to_arrow_schema()
    except (OSError, pa.ArrowException):
        return None, frozenset()
    ns_cols = frozenset(
        f.name for f in arrow if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    )
    if options or spark.conf.get("spark.sql.parquet.mergeSchema", "false") == "true":
        return None, ns_cols
    stored = (meta.metadata or {}).get(SPARK_SCHEMA_KEY)
    if stored is not None:
        try:
            return T.StructType.fromJson(json.loads(stored)), ns_cols
        except (ValueError, KeyError, TypeError):
            return None, ns_cols
    return _converted_schema(spark, meta.schema, arrow), ns_cols


def _converted_schema(
    spark: SparkSession, parquet_schema: pq.ParquetSchema, arrow: pa.Schema
) -> Optional[T.StructType]:
    """Spark's inferred schema for a footer without a stored Spark schema,
    or None where the Arrow route would not give exactly that."""
    conf = spark.conf
    if (
        conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true") != "true"
        or conf.get("spark.sql.parquet.binaryAsString", "false") == "true"
    ):
        return None
    nanos_as_long = conf.get(_NANOS_AS_LONG, "false") == "true"
    long_cols = set()
    for i in range(len(parquet_schema)):
        col = parquet_schema.column(i)
        kind = col.logical_type.type
        if col.physical_type == "INT96" or kind not in _EXACT_LOGICAL:
            return None
        spec = json.loads(col.logical_type.to_json())
        if kind == "INT" and not spec["isSigned"]:
            return None
        if kind == "TIMESTAMP" and spec["timeUnit"] == "nanoseconds":
            # BIGINT under nanosAsLong; top-level columns only, where the
            # field can be swapped by name
            if not nanos_as_long or col.path != col.name:
                return None
            long_cols.add(col.name)
    if not all(_exact_arrow(f.type) for f in arrow):
        return None
    schema = from_arrow_schema(arrow, prefer_timestamp_ntz=True)
    return T.StructType(
        [
            T.StructField(f.name, T.LongType(), f.nullable) if f.name in long_cols else f
            for f in schema.fields
        ]
    )


def _exact_arrow(t: pa.DataType) -> bool:
    """Whether pyspark's ``from_arrow_type`` maps ``t`` to the type Spark
    infers for the same Parquet column (Arrow types restored from the
    footer's ``ARROW:schema``, such as durations, map differently)."""
    if pa.types.is_dictionary(t):
        return _exact_arrow(t.value_type)
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return _exact_arrow(t.value_type)
    if pa.types.is_map(t):
        return _exact_arrow(t.key_type) and _exact_arrow(t.item_type)
    if pa.types.is_struct(t):
        return all(_exact_arrow(f.type) for f in t)
    return any(check(t) for check in _EXACT_ARROW)


def _local_path(spark: SparkSession, path: str) -> Optional[str]:
    """The absolute local filesystem path ``path`` names, or None: another
    scheme (a scheme-less path resolves against ``fs.defaultFS``), a glob,
    or a relative path (the JVM resolves it against its own working
    directory)."""
    parsed = urlparse(path)
    if any(ch in path for ch in "*?[{") or not os.path.isabs(parsed.path):
        return None
    if parsed.scheme:
        return parsed.path if parsed.scheme == "file" else None
    default = spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS") or ""  # noqa: SLF001
    return path if urlparse(default).scheme in ("", "file") else None


def _data_file(path: str) -> Optional[str]:
    """The file whose footer Spark's inference reads for ``path``: the
    path itself, or the first data file of a flat directory (Spark skips
    names starting with ``_`` or ``.``). None for a directory with
    subdirectories or ``_metadata``/``_common_metadata`` summary files,
    and when there is no data file."""
    if os.path.isfile(path):
        return path
    if not os.path.isdir(path):
        return None
    files = []
    with os.scandir(path) as entries:
        for entry in entries:
            name = entry.name
            if name.startswith(("_metadata", "_common_metadata")):
                return None
            if (name.startswith("_") and "=" not in name) or name.startswith("."):
                continue
            if not entry.is_file():
                return None
            files.append(entry.path)
    return min(files) if files else None


def _pin_nanos_as_long(spark: SparkSession) -> None:
    """Read TIMESTAMP(NANOS) columns as int64 ns: without the flag they
    fail Spark's Parquet converter."""
    if spark.conf.get(_NANOS_AS_LONG, "false") == "true":
        return
    try:
        spark.conf.set(_NANOS_AS_LONG, "true")
    except AnalysisException as exc:
        warnings.warn(
            f"could not set {_NANOS_AS_LONG}=true ({exc.__class__.__name__}); "
            "TIMESTAMP(NANOS) parquet columns read as Spark infers them",
            stacklevel=3,
        )


def _normalize_timestamps(df: DataFrame, ns_cols: FrozenSet[str]) -> DataFrame:
    fixed = {}
    for col, dtype in df.dtypes:
        quoted = "`" + col.replace("`", "``") + "`"
        if dtype == "bigint" and col in ns_cols:
            fixed[col] = F.expr(f"timestamp_micros({quoted} div 1000)")
        elif dtype == "timestamp_ntz":
            # TimestampType(), not the "timestamp" alias: the alias follows
            # spark.sql.timestampType, which a host session may set to
            # TIMESTAMP_NTZ, silently making this cast a no-op
            fixed[col] = F.col(quoted).cast(T.TimestampType())
    return df.withColumns(fixed) if fixed else df
