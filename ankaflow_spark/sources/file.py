"""File-family connectors: Parquet / CSV / JSON / pandas-format File /
in-memory Variable (reference surface: ankaflow/connections/file.py —
behavior studied; implementation is spark.read / df.write).

Tap semantics: the connector produces a DataFrame for the stage query's
FROM-placeholder; the user query (if any) runs against it with the
stage-local view name ``source``. Sink semantics: distributed write by
default; ``single_file: true`` coalesces to one partition and renames
the part file to the exact locator path (locator-compatible with the
reference's single-file COPY TO output; documented small-result path).
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import shutil
import warnings
from typing import Any, Dict, List, Optional

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..models.core import Stage
from ..session import SparkEngine
from .parquet import read_parquet

_DUCK_TO_SPARK = {
    "VARCHAR": T.StringType(),
    "TEXT": T.StringType(),
    "STRING": T.StringType(),
    "BIGINT": T.LongType(),
    "INT8": T.LongType(),
    "LONG": T.LongType(),
    "INTEGER": T.IntegerType(),
    "INT": T.IntegerType(),
    "INT4": T.IntegerType(),
    "SMALLINT": T.ShortType(),
    "INT2": T.ShortType(),
    "TINYINT": T.ByteType(),
    "DOUBLE": T.DoubleType(),
    "FLOAT8": T.DoubleType(),
    "FLOAT": T.FloatType(),
    "REAL": T.FloatType(),
    "FLOAT4": T.FloatType(),
    "BOOLEAN": T.BooleanType(),
    "BOOL": T.BooleanType(),
    "TIMESTAMP": T.TimestampType(),
    "DATETIME": T.TimestampType(),
    "DATE": T.DateType(),
    "BLOB": T.BinaryType(),
    "JSON": T.StringType(),
    "UUID": T.StringType(),
}


def _split_struct_fields(body: str) -> List[str]:
    """Split a STRUCT body on top-level commas (paren/quote aware)."""
    parts, buf, depth, q = [], [], 0, None
    for ch in body:
        if q:
            buf.append(ch)
            if ch == q:
                q = None
        elif ch in "'\"":
            q = ch
            buf.append(ch)
        elif ch in "([":
            depth += 1
            buf.append(ch)
        elif ch in ")]":
            depth -= 1
            buf.append(ch)
        elif ch == "," and depth == 0:
            parts.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
    if "".join(buf).strip():
        parts.append("".join(buf).strip())
    return parts


def duck_type_to_spark(raw: str) -> T.DataType:
    """DuckDB type spelling -> Spark type, RECURSIVELY (the reference's
    duckdb_to_pyarrow_type, reference common/util.py — but its regex is
    non-recursive; this parser handles the nested LIST(STRUCT(...))[]
    cases its own TODOs skip). Accepted: the scalar map, DECIMAL(p,s),
    ``X[]`` / ``LIST(X)`` lists, ``STRUCT("a" T, b T)`` structs,
    ``MAP(K, V)``, and Spark DDL spellings (ARRAY<...>/STRUCT<...>)."""
    typ = raw.strip()
    up = typ.upper()
    if up.endswith("[]"):
        return T.ArrayType(duck_type_to_spark(typ[:-2]))
    if up in _DUCK_TO_SPARK:
        return _DUCK_TO_SPARK[up]
    if up in ("DECIMAL", "NUMERIC"):
        return T.DecimalType(38, 18)  # reference default precision
    m_dec = re.match(r"^(?:DECIMAL|NUMERIC)\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)$", up)
    if m_dec:
        return T.DecimalType(int(m_dec.group(1)), int(m_dec.group(2)))
    m_list = re.match(r"^LIST\s*\((.*)\)$", typ, re.IGNORECASE | re.DOTALL)
    if m_list:
        return T.ArrayType(duck_type_to_spark(m_list.group(1)))
    m_map = re.match(r"^MAP\s*\((.*)\)$", typ, re.IGNORECASE | re.DOTALL)
    if m_map:
        k, v = _split_struct_fields(m_map.group(1))
        return T.MapType(duck_type_to_spark(k), duck_type_to_spark(v))
    m_struct = re.match(r"^STRUCT\s*\((.*)\)$", typ, re.IGNORECASE | re.DOTALL)
    if m_struct:
        fields = []
        for part in _split_struct_fields(m_struct.group(1)):
            m_f = re.match(r'^(?:"([^"]+)"|(\w+))\s+(.+)$', part.strip(), re.DOTALL)
            if not m_f:
                raise ValueError(f"unparseable STRUCT field: {part!r}")
            fname = m_f.group(1) or m_f.group(2)
            fields.append(T.StructField(fname, duck_type_to_spark(m_f.group(3)), True))
        return T.StructType(fields)
    try:
        # Spark DDL spellings (ARRAY<...>, STRUCT<...>, MAP<...>)
        return T.DataType.fromDDL(typ)
    except Exception:
        raise ValueError(f"unsupported field type: {raw!r}") from None


def fields_to_schema(fields: Optional[List[Dict[str, str]]]) -> Optional[T.StructType]:
    """Explicit ``fields`` -> Spark schema (type names per SURVEY.md §1.2;
    DuckDB spellings incl. LIST()/[]/STRUCT()/MAP() parse recursively)."""
    if not fields:
        return None
    cols = []
    for f in fields:
        name = f["name"] if isinstance(f, dict) else f.name
        raw = (f["type"] if isinstance(f, dict) else f.type).strip()
        try:
            spark_t = duck_type_to_spark(raw)
        except ValueError:
            # reference behavior: unknown scalar types fall back to text
            # only when nothing structured was declared
            if any(ch in raw for ch in "([<"):
                raise
            spark_t = T.StringType()
        cols.append(T.StructField(name, spark_t, True))
    return T.StructType(cols)


class BaseFileConnection:
    format: str = "parquet"

    def __init__(self, engine: SparkEngine, spec: Dict[str, Any], variables: Dict[str, Any]):
        self.engine = engine
        self.spec = spec
        self.variables = variables

    # -- helpers -----------------------------------------------------------
    def _locator(self, use_wildcard: bool = False) -> str:
        from .locator import Locator

        loc = self.spec.get("locator")
        if not loc:
            raise ValueError(f"{self.format} connection needs a locator")
        resolver = Locator(bucket=self.spec.get("bucket"), prefix=self.spec.get("prefix"))
        return resolver.locate(loc, use_wildcard=use_wildcard)

    def _schema(self) -> Optional[T.StructType]:
        return fields_to_schema(self.spec.get("fields"))

    def _reader(self):
        reader = self.engine.spark.read
        schema = self._schema()
        return reader.schema(schema) if schema is not None else reader

    def _read(self, exact: bool = False) -> DataFrame:
        opts = dict(self.spec.get("options") or {})
        # the reference wildcard-substitutes every file tap's locator
        # (trailing number group -> *) so partitioned file families read
        # as one glob; `locator_wildcard: false` opts out per connection,
        # and ``exact`` reads the locator itself (a sink's read-back)
        wildcard = not exact and bool(self.spec.get("locator_wildcard", True))
        return self._do_read(self._locator(use_wildcard=wildcard), opts)

    def _do_read(self, path: str, opts: Dict[str, Any]) -> DataFrame:
        raise NotImplementedError

    # -- tap ---------------------------------------------------------------
    def tap(self, query: Optional[str], stage: Stage) -> DataFrame:
        from ..sqlfront.ranking import apply_ranking
        from ..sqlfront.validate import validate_simple_query

        df = self._read()
        if not query:
            return apply_ranking(df, self.spec)
        ranking = bool(self.spec.get("version") and self.spec.get("key"))
        validate_simple_query(query, ranking_enabled=ranking)
        # the user query references the source by placeholder; register a
        # stage-local view and run the query through the engine rewriter
        view = f"__tap_{hashlib.md5(stage.name.encode()).hexdigest()[:8]}"
        df.createOrReplaceTempView(view)
        # accepted FROM-placeholders: the stage name, "source", the file
        # stem, and the connection kind (the reference corpus writes
        # `select * from Deltatable` / `from Parquet` style taps).
        # Rewriting is table-position-aware: a column named `source` or
        # matching the file stem, or the kind word in a string literal,
        # stays untouched.
        from ..sqlfront.rewrite import resolve_short_locators, rewrite_table_placeholders
        from .locator import Locator

        q = rewrite_table_placeholders(
            query,
            (stage.name, "source", self._table_placeholder(), self.spec.get("kind")),
            view,
        )
        # raw-SQL table functions (`read_parquet('short')`) resolve the
        # short name against this connection's bucket+prefix, wildcarded
        # (reference raw-SQL rewriter, connection.py:290-323)
        q = resolve_short_locators(
            q,
            Locator(bucket=self.spec.get("bucket"), prefix=self.spec.get("prefix")),
            self.spec.get("locator"),
        )
        out = self.engine.sql(q)
        out = apply_ranking(out, self.spec)
        return out

    def _table_placeholder(self) -> Optional[str]:
        loc = self.spec.get("locator") or ""
        return os.path.splitext(os.path.basename(loc))[0] or None

    # -- sink --------------------------------------------------------------
    def _sink_readback(self, df: DataFrame, mode: str):
        """After an overwrite-mode parquet directory sink, the written
        files ARE the stage's relation — return a read-back DataFrame so
        downstream consumers (and the flow's terminal action) scan the
        file instead of re-executing the whole upstream plan (measured
        r14: training_data_pipeline's terminal noop re-ran the full
        score+dedup chain for 2.5 s right after the sink wrote the same
        rows). Guarded tight: parquet only (csv/json round-trips change
        types), overwrite/error modes only (an append read-back would
        surface PRE-EXISTING rows the lazy plan does not contain), no
        partition_by (partition columns come back re-ordered/re-typed),
        and the read-back schema must match the written one field for
        field — anything else falls back to the lazy plan unchanged.
        The read-back takes the exact written path, never the wildcarded
        tap locator: ``report-2024.parquet`` must not glob a sibling
        ``report-2023.parquet`` into the stage relation."""
        if self.format != "parquet":
            return None
        if mode not in ("overwrite", "error", "errorifexists"):
            return None
        if self.spec.get("partition_by"):
            return None
        try:
            rb = self._read(exact=True)
        except AnalysisException as exc:
            warnings.warn(
                f"parquet sink read-back failed ({exc.__class__.__name__}); "
                "the sink stage keeps its lazy plan",
                stacklevel=2,
            )
            return None
        if [(f.name, f.dataType) for f in rb.schema.fields] == [
            (f.name, f.dataType) for f in df.schema.fields
        ]:
            return rb
        return None

    def sink(self, df: DataFrame, stage: Stage) -> None:
        mode = self.spec.get("mode") or "overwrite"
        bucket_by = self.spec.get("bucket_by")
        if bucket_by:
            # bucketed-table layout surface (r10 verdict punch item 5):
            # `bucket_by: [key]` persists the sink as a bucketed
            # (+ optionally `sort_by`-sorted) CATALOG table via
            # engine.write_bucketed — the pre-partitioning strategy
            # that lets repeatedly-joined 100 TB facts join with ZERO
            # exchange (q83 plan-gates the elimination). The table
            # name is `table:` if given, else the locator basename;
            # parquet only (bucketing is a table-format property, not
            # a COPY-TO file property).
            if self.format != "parquet":
                raise ValueError(
                    f"bucket_by sink requires kind: parquet, got {self.format!r}"
                )
            table = self.spec.get("table") or re.sub(
                r"\W",
                "_",
                os.path.splitext(
                    os.path.basename(self.spec.get("locator") or "")
                )[0],
            )
            if not table:
                raise ValueError("bucket_by sink needs a `table:` or a locator name")
            self.engine.write_bucketed(
                df,
                table,
                bucket_by,
                n_buckets=int(self.spec.get("n_buckets", 16)),
                sort_cols=self.spec.get("sort_by"),
                mode=mode,
                partition_cols=self.spec.get("partition_by"),
            )
            return
        path = self._locator()
        single = bool(self.spec.get("single_file")) or not path.rstrip("/").endswith("__dir__")
        opts = dict(self.spec.get("options") or {})
        partition_by = self.spec.get("partition_by") or []
        if single and "." in os.path.basename(path):
            # locator names a single file (reference COPY TO semantics).
            # This path renames a part file on the local filesystem, so
            # remote schemes and non-overwrite modes get a clear error
            # instead of silently overwriting (directory sinks support
            # the full mode matrix).
            if re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://", path) and not path.startswith(
                "file://"
            ):
                raise ValueError(
                    f"single-file sink requires a local path, got {path!r}; "
                    "use a directory locator for remote object stores"
                )
            if mode not in ("overwrite", "error", "errorifexists"):
                raise ValueError(
                    f"single-file sink does not support mode={mode!r}; "
                    "use a directory locator for append"
                )
            if mode in ("error", "errorifexists") and os.path.exists(path):
                raise FileExistsError(f"single-file sink target exists: {path}")
            tmp = path + ".__tmp__"
            writer = df.coalesce(1).write.mode("overwrite").options(**opts)
            self._do_write(writer, tmp)
            part = glob.glob(os.path.join(tmp, "part-*"))[0]
            if os.path.exists(path):
                os.remove(path)
            shutil.move(part, path)
            shutil.rmtree(tmp)
        else:
            writer = df.write.mode(mode).options(**opts)
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            self._do_write(writer, path)
        return self._sink_readback(df, mode)

    def _do_write(self, writer, path: str) -> None:
        getattr(writer, self.format)(path)

    def execute(self, query: str, stage: Stage) -> None:
        raise NotImplementedError(f"{self.format} connection does not support sql stages")


class ParquetConnection(BaseFileConnection):
    format = "parquet"

    def _do_read(self, path, opts):
        if opts.pop("union_by_name", None) or opts.pop("mergeSchema", None):
            opts["mergeSchema"] = "true"
        return read_parquet(
            self.engine.spark, path, schema=self._schema(), options=opts, timestamps=True
        )


class CSVConnection(BaseFileConnection):
    format = "csv"

    def _do_write(self, writer, path: str) -> None:
        # header by default, matching the read side and the reference's
        # COPY TO csv contract; an explicit options.header always wins
        # (the default is only applied when the user didn't set one)
        if "header" not in {k.lower() for k in (self.spec.get("options") or {})}:
            writer = writer.option("header", "true")
        writer.csv(path)

    def _do_read(self, path, opts):
        # map the reference's CSV option spelling onto Spark's
        mapped = {
            "header": str(opts.pop("header", True)).lower(),
            "sep": opts.pop("delim", opts.pop("sep", ",")),
            "mode": "DROPMALFORMED" if opts.pop("ignore_errors", False) else "PERMISSIVE",
        }
        skip = opts.pop("skip", None)
        if self._schema() is None:
            mapped["inferSchema"] = "true"
        df = self._reader().options(**mapped, **opts).csv(path)
        if skip:
            # no reader option for row-skip; the reference's `skip` applies
            # to physical leading lines — emulate via zipWithIndex-free filter
            from pyspark.sql import functions as F

            df = df.withColumn("__rid__", F.monotonically_increasing_id())
            df = df.filter(F.col("__rid__") >= int(skip)).drop("__rid__")
        return df


class JSONConnection(BaseFileConnection):
    format = "json"

    def _do_read(self, path, opts):
        # the reference accepts `format:` at the connection level too
        fmt = str(opts.pop("format", self.spec.get("format", "lines"))).lower()
        reader = self._reader()
        if fmt in ("array", "auto") or opts.pop("multiline", False):
            reader = reader.option("multiLine", "true")
        return reader.options(**opts).json(path)

    def _do_write(self, writer, path):
        writer.json(path)  # NDJSON, matching the reference's JSON sink


class FileConnection(BaseFileConnection):
    """Pandas-format files (XLSX/XML/HTML/TXT): driver-side pandas read,
    then distribute. Same small-file path as the reference (file.py:121-169).
    XLSX prefers the pandas engine (openpyxl) and falls back to the
    bundled stdlib codec (xlsx_lite) when it is not installed."""

    format = "file"

    def _read(self) -> DataFrame:
        import pandas as pd

        path = self._locator()
        ext = os.path.splitext(path)[1].lower()
        if ext in (".txt", ".text"):
            with open(path) as fh:
                pdf = pd.DataFrame({"line": fh.read().splitlines()})
        elif ext == ".csv":
            pdf = pd.read_csv(path)
        elif ext in (".xlsx", ".xls"):
            try:
                pdf = pd.read_excel(path)
            except ImportError:
                from . import xlsx_lite

                pdf = pd.DataFrame(xlsx_lite.read_xlsx(path))
        elif ext == ".xml":
            pdf = pd.read_xml(path)
        elif ext in (".html", ".htm"):
            pdf = pd.read_html(path)[0]
        elif ext in (".json", ".jsonl", ".ndjson"):
            pdf = pd.read_json(path, lines=ext != ".json")
        else:
            raise ValueError(f"unsupported file extension: {ext}")
        schema = self._schema()
        return self.engine.spark.createDataFrame(pdf, schema=schema)

    def _do_write(self, writer, path):
        raise NotImplementedError("file sink: use csv/json/parquet kinds")

    def sink(self, df: DataFrame, stage: Stage) -> None:
        path = self._locator()
        ext = os.path.splitext(path)[1].lower()
        pdf = df.toPandas()  # driver-side by design: pandas-format sinks are small
        if ext in (".xlsx", ".xls"):
            try:
                pdf.to_excel(path, index=False)
            except ImportError:
                from . import xlsx_lite

                xlsx_lite.write_xlsx(
                    path, pdf.to_dict("records"), columns=list(pdf.columns)
                )
        elif ext == ".csv":
            pdf.to_csv(path, index=False)
        elif ext in (".json",):
            pdf.to_json(path, orient="records")
        else:
            raise ValueError(f"unsupported file sink extension: {ext}")


class VariableConnection(BaseFileConnection):
    """In-memory variable tap/sink (reference file.py:17-36): tap reads a
    records-list variable into a DataFrame; sink collects the stage result
    into the variables dict (bounded driver-side by contract)."""

    format = "variable"

    def tap(self, query: Optional[str], stage: Stage) -> DataFrame:
        name = self._locator()
        records = self.variables.get(name)
        if records is None:
            raise KeyError(f"variable '{name}' is not set")
        schema = self._schema()
        df = self.engine.spark.createDataFrame(records, schema=schema)
        if query:
            view = f"__var_{hashlib.md5(name.encode()).hexdigest()[:8]}"
            df.createOrReplaceTempView(view)
            return self.engine.sql(query.replace(f'"{name}"', view))
        return df

    def sink(self, df: DataFrame, stage: Stage) -> None:
        name = self._locator()
        self.variables[name] = [r.asDict(recursive=True) for r in df.collect()]

    def execute(self, query: str, stage: Stage) -> None:
        raise NotImplementedError("variable connection does not support sql stages")
