"""Test-table loader: registers the driver-provided star schema as temp
views so operator queries can run either via DataFrame API or Spark SQL.

Scale note: these are plain parquet scans — on a cluster the same code
path gets predicate pushdown / column pruning from Catalyst; nothing is
collected or cached driver-side here.
"""

from __future__ import annotations

import os
from typing import Dict

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from ..session import forget, memo
from ..sources.parquet import read_parquet

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
    and reads each table through ``sources.parquet.read_parquet``: the
    schema comes from the file's footer (no inference job), and no-tz
    timestamps of any unit are normalized to TimestampType (NANOS via
    int64 ns and bigint `div`, never a lossy double round-trip).

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
    except AnalysisException:
        pass  # a session that refuses the pin is reported just below
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        import warnings

        warnings.warn(
            "could not pin spark.sql.session.timeZone=UTC; NTZ->timestamp "
            "casts below will shift values by the session timezone offset",
            stacklevel=2,
        )
    return {
        name: read_parquet(spark, table_path(sf_dir, name), timestamps=True)
        for name in TABLES
        if os.path.exists(table_path(sf_dir, name))
    }
