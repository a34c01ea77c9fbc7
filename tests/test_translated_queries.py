"""Queries whose Spark side is the DuckDB oracle text run through the
engine's SQL translator (``sqlfront.rewrite.rewrite_sql``), in whole or
for the part that reads the raw tables.

A translator edit that changes what one of these texts means on Spark
changes the query's result, so each one is graded here against DuckDB on
the same ORACLES string, cell-exact (``tools/oracle_check.compare``).
"""

from __future__ import annotations

import os

import duckdb
import pytest

import __spark_entry__ as entrymod
from tools.oracle_check import TABLES, compare

TRANSLATED = [
    "ts10_anomaly_zscore",
    "ts11_ewma_smoothing",
    "ts12_dow_hour_profile",
    "ts15_range_window",
    "ts18_user_features",
    "ts24_pit_features",
    "ts28_cohort_retention",
    "ts33_dow_seasonality",
    "ts34_repeat_purchase_gaps",
    "ts35_activity_streaks",
    "ts37_survival_curve",
    "ts38_decayed_leaderboard",
    "ts43_session_cooccurrence",
    "ts44_seasonal_anomaly",
    "ts46_max_drawdown",
    "t10_stratified_mix",
    "t11_vocab_topk",
    "t18_zipf_fit",
    "t23_woe_binning",
    "t30_langid_confusion",
    "t34_length_ks_drift",
    "t36_token_budget",
    "q77_partition_planner",
    "q81_retention_ttl_audit",
    "m10_aspect_buckets",
    "m12_shard_planner",
    "st24_stream_quantiles",
]


@pytest.fixture()
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{path}'")
    yield con
    con.close()


@pytest.mark.parametrize("name", TRANSLATED)
def test_translated_query_matches_duckdb(spark, sf_dir, duck, name):
    spark_df = entrymod.queries()[name](spark, sf_dir)
    assert compare(name, spark_df, duck.sql(entrymod.oracle_sql()[name]))
