"""The micro-batch driver behind every foreachBatch operator
(ankaflow_spark/streaming/stream.py ``_drive``): its result contract (a
returned DataFrame survives the next call with the same state_base) and
its empty-source contract (0 rows, same columns as a non-empty run),
checked for every operator on a tiny 4-file source."""

import datetime as dt
import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from ankaflow_spark.streaming import stream as S

N_FILES = 4
SCHEMA = (
    "event_id bigint, user_id bigint, event_type string, ts timestamp, "
    "value bigint, text string"
)
TYPES = ["view", "click", "purchase"]


def _grams(batch_df):
    return batch_df.select(
        F.col("event_id").alias("id"), F.explode(F.split("text", " ")).alias("g")
    ).distinct()


#: operator name -> fn(stream_df, state_base) running it on the source
OPERATORS = {
    "upsert": lambda s, base: S.foreachbatch_upsert(
        s, ["user_id", "event_type"], "ts", base, tiebreak="event_id"
    ),
    "merge_counts": lambda s, base: S.foreachbatch_merge_counts(
        s, ["user_id"], base
    ),
    "merge_counts_value": lambda s, base: S.foreachbatch_merge_counts(
        s, ["user_id"], base, value_col="value"
    ),
    "scd2": lambda s, base: S.foreachbatch_scd2(
        s, "user_id", "event_type", "ts", "event_id", base
    ),
    "markov": lambda s, base: S.foreachbatch_markov(
        s, "user_id", "event_type", "ts", "event_id", base
    ),
    "funnel": lambda s, base: S.foreachbatch_funnel(
        s, "user_id", "event_type", "ts", TYPES, base
    ),
    "streaks": lambda s, base: S.foreachbatch_streaks(s, "user_id", "ts", base),
    "append": lambda s, base: S.foreachbatch_append(
        s, lambda b: b.select("event_id", (F.col("value") * 2).alias("v2")), base
    ),
    "first_seen": lambda s, base: S.foreachbatch_first_seen(
        s, _grams, "event_id", base
    ),
    "update_latest": lambda s, base: S.foreachbatch_update_latest(
        s.groupBy("event_type").agg(F.count("*").alias("n")), ["event_type"], base
    ),
}


def _source(spark, path):
    """N_FILES time-ordered parquet files of 6 events each, mtimes
    ascending: one micro-batch per file, in event-time order, at
    maxFilesPerTrigger=1."""
    os.makedirs(path)
    t0 = dt.datetime(2024, 1, 1)
    for f in range(N_FILES):
        rows = [
            (
                i,
                i % 3,
                TYPES[(i // 3) % 3],
                t0 + dt.timedelta(hours=7 * i),
                i * 10,
                f"w{i % 5} w{i % 2}",
            )
            for i in range(f * 6, f * 6 + 6)
        ]
        tmp = f"{path}_tmp{f}"
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(tmp)
        (part,) = glob.glob(f"{tmp}/part-*.parquet")
        dst = f"{path}/f{f}.parquet"
        shutil.move(part, dst)
        shutil.rmtree(tmp)
        os.utime(dst, (1_700_000_000 + f, 1_700_000_000 + f))


def _run(spark, op, src, base):
    schema = spark.createDataFrame([], SCHEMA).schema
    stream = S.stream_tap(spark, src, schema, max_files_per_trigger=1)
    return OPERATORS[op](stream, base)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def source(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("driver") / "src")
    _source(spark, path)
    return path


@pytest.mark.parametrize("op", sorted(OPERATORS))
def test_result_survives_next_call_on_same_state_base(spark, source, tmp_path, op):
    """The next call clears and rewrites the state dirs under the same
    state_base; the DataFrame the first call returned must not read
    them."""
    base = str(tmp_path / "state")
    first = _run(spark, op, source, base)
    want = _rows(first)
    assert want
    second = _run(spark, op, source, base)
    assert _rows(first) == want
    assert _rows(second) == want


@pytest.mark.parametrize("op", sorted(OPERATORS))
def test_empty_source_returns_empty_result_with_real_schema(
    spark, source, tmp_path, op
):
    full = _run(spark, op, source, str(tmp_path / "full"))
    empty_src = tmp_path / "empty"
    empty_src.mkdir()
    empty = _run(spark, op, str(empty_src), str(tmp_path / "empty_state"))
    assert empty.count() == 0
    assert empty.dtypes == full.dtypes
