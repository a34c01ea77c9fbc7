"""Test-table loader: registers the driver-provided star schema as temp
views so operator queries can run either via DataFrame API or Spark SQL.

Scale note: these are plain parquet scans — on a cluster the same code
path gets predicate pushdown / column pruning from Catalyst; nothing is
collected or cached driver-side here.
"""

from __future__ import annotations

import os
from typing import Dict

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import forget, memo

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    """The parquet file (or part-file dir) of table ``name`` in ``sf_dir``:
    the input a shared relation built from that table is keyed on."""
    return os.path.join(sf_dir, f"{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str) -> Dict[str, DataFrame]:
    """Read every star-schema table and register it as a temp view.

    Works on ANY session, including the driver's vanilla one: pins the
    session to UTC (required for oracle-identical timestamp semantics)
    and normalizes TIMESTAMP(NANOS) parquet columns to TimestampType —
    they surface as timestamp_ntz on a default Spark 4 session, or as
    int64 ns when spark.sql.legacy.parquet.nanosAsLong is set (then
    converted via bigint `div`, never a lossy double round-trip).

    The DataFrames and the registered views are session memos keyed by
    the table files' fingerprint: a repeat call costs one fingerprint
    (no footer reads, no view re-registration), switching sf_dir (bench
    warms at sf0.001, then measures at sf0.1) re-points the views
    without re-reading, and a table rewritten in place is read afresh.
    """
    sf_dir = os.path.abspath(sf_dir)
    paths = [table_path(sf_dir, name) for name in TABLES]
    dfs = memo(spark, "tables", paths, lambda: _read_tables(spark, sf_dir), durable=True)

    def register_views() -> bool:
        forget(spark, "table_views")  # one set of views is current at a time
        for name, df in dfs.items():
            df.createOrReplaceTempView(name)
        return True

    memo(spark, "table_views", paths, register_views, durable=True)
    return dict(dfs)


def _read_tables(spark: SparkSession, sf_dir: str) -> Dict[str, DataFrame]:
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        # nanos columns fail Spark's parquet converter outright; with the
        # legacy flag they arrive as int64 ns and are converted below
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    utc_pinned = False
    try:
        utc_pinned = spark.conf.get("spark.sql.session.timeZone") == "UTC"
    except Exception:
        pass
    if not utc_pinned:
        import warnings

        warnings.warn(
            "could not pin spark.sql.session.timeZone=UTC; NTZ->timestamp "
            "casts below will shift values by the session timezone offset",
            stacklevel=2,
        )
    dfs: Dict[str, DataFrame] = {}
    for name in TABLES:
        path = table_path(sf_dir, name)
        if not os.path.exists(path):
            continue
        df = spark.read.parquet(path)
        probe = path
        if os.path.isdir(path):
            import glob

            parts = glob.glob(os.path.join(path, "*.parquet"))
            probe = parts[0] if parts else None
        ns_cols = (
            {field.name for field in pq.read_schema(probe) if str(field.type) == "timestamp[ns]"}
            if probe
            else set()
        )
        for col, dtype in df.dtypes:
            if dtype == "bigint" and col in ns_cols:
                df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
            elif dtype == "timestamp_ntz":
                # parquet timestamps without a timezone (any unit — the
                # driver has shipped both ns and us over rounds) surface as
                # NTZ on a default Spark 4 session; watermarks and
                # unix_micros need TIMESTAMP, and the UTC session pin makes
                # the cast value-identical to DuckDB's naive reading.
                # TimestampType() (not the "timestamp" alias): the alias
                # follows spark.sql.timestampType, which a host session may
                # set to TIMESTAMP_NTZ, silently making this cast a no-op.
                from pyspark.sql.types import TimestampType

                df = df.withColumn(col, F.col(col).cast(TimestampType()))
        dfs[name] = df
    return dfs
