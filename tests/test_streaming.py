"""Structured Streaming extension tests: parquet-backed bounded streams
driven to completion on a memory sink."""

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ankaflow_spark.streaming.stream import (
    run_stream_to_memory,
    stream_tap,
    streaming_dedup,
    windowed_agg,
)


@pytest.fixture(scope="module")
def events_stream_dir(spark, tmp_path_factory):
    # re-write sf0.001 events as a clean µs-timestamp parquet dir the
    # streaming reader can consume with an explicit schema; load_tables
    # normalizes ts to TIMESTAMP whatever unit the driver shipped
    # (ns-as-bigint, ntz-us, ntz-ns)
    from ankaflow_spark.operators.tables import load_tables

    out = str(tmp_path_factory.mktemp("events_stream"))
    df = load_tables(spark, "/root/testdata/sf0.001")["events"]
    df.write.mode("overwrite").parquet(out)
    return out, df.schema


def test_stream_windowed_agg_matches_batch(spark, events_stream_dir):
    path, schema = events_stream_dir
    stream = stream_tap(spark, path, schema)
    agg = windowed_agg(stream, "ts", window_len="5 minutes", group_cols=["event_type"])
    # complete mode: append would (correctly) hold back the final window
    # still above the watermark; complete emits every window state.
    run_stream_to_memory(agg, "win_out", output_mode="complete")
    got = spark.sql("SELECT count(*) AS n, sum(n_events) AS total FROM win_out").collect()[0]

    batch = spark.read.schema(schema).parquet(path)
    expected_total = batch.count()
    expected_windows = (
        batch.groupBy(F.window("ts", "5 minutes"), "event_type").count().count()
    )
    assert got["total"] == expected_total
    assert got["n"] == expected_windows


def test_streaming_dedup_bounds_duplicates(spark, events_stream_dir):
    path, schema = events_stream_dir
    stream = stream_tap(spark, path, schema)
    deduped = streaming_dedup(stream, keys=["user_id", "event_type"], ts_col="ts")
    run_stream_to_memory(deduped, "dedup_out")
    out = spark.sql("SELECT user_id, event_type, count(*) AS c FROM dedup_out GROUP BY 1, 2")
    assert out.filter("c > 1").count() == 0
    # every key survives
    batch_keys = (
        spark.read.schema(schema).parquet(path).select("user_id", "event_type").distinct().count()
    )
    assert spark.sql("SELECT * FROM dedup_out").select("user_id", "event_type").distinct().count() == batch_keys


def test_stateful_sessionization(spark, events_stream_dir):
    from ankaflow_spark.streaming.stream import sessionize_stateful

    path, schema = events_stream_dir
    stream = stream_tap(spark, path, schema)
    sessions = sessionize_stateful(stream, gap_minutes=30)
    run_stream_to_memory(sessions, "sess_out", output_mode="append")
    out = spark.sql("SELECT * FROM sess_out")
    emitted = out.count()
    assert emitted > 0
    # emitted sessions are the CLOSED ones (a later event followed after
    # a >30min gap); batch ts02-style count per user is the upper bound
    batch = spark.read.schema(schema).parquet(path)
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    w = W.partitionBy("user_id").orderBy("ts")
    gaps = (
        batch.withColumn("prev", F.lag("ts").over(w))
        .withColumn(
            "new_s",
            (F.col("prev").isNull() | (F.unix_micros("ts") - F.unix_micros("prev") > 30 * 60 * 1000000)).cast("int"),
        )
        .agg(F.sum("new_s"))
        .collect()[0][0]
    )
    total_sessions = gaps
    # gap-closed sessions all emit; sessions idle past the watermark
    # horizon also flush via event-time timeout -> between the two bounds
    open_sessions = batch.select("user_id").distinct().count()
    assert total_sessions - open_sessions <= emitted <= total_sessions
    # no session row exceeds its bounds
    bad = out.filter("session_end < session_start OR n_events <= 0").count()
    assert bad == 0


def test_sessionizer_multichunk_group_order(spark, tmp_path):
    """A key whose rows span MULTIPLE Arrow chunks inside one
    applyInPandasWithState call must sessionize its global timestamp
    multiset, not each chunk independently: the kernel concatenates and
    sorts all chunks before cutting sessions (the pre-vectorization
    per-chunk `sorted(pdf[ts])` loop processed chunk 2 after chunk 1
    even when chunk 2 held EARLIER timestamps, corrupting the open
    session for adversarial arrival orders). Forced here with a tiny
    arrow batch size and one key written in descending time order."""
    import pandas as pd

    from ankaflow_spark.streaming.stream import (
        run_stream_to_memory,
        sessionize_stateful,
        stream_tap,
    )

    # one user, 40 events in two 30-min-gap sessions, written DESCENDING
    ts = pd.date_range("2030-01-01 00:00", periods=20, freq="1min").tolist()
    ts += pd.date_range("2030-01-01 06:00", periods=20, freq="1min").tolist()
    pdf = pd.DataFrame({"user_id": [7] * 40, "ts": ts[::-1]})
    src = str(tmp_path / "events")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "8")
    try:
        sessions = sessionize_stateful(
            stream_tap(spark, src, schema), gap_minutes=30, watermark="3650 days"
        )
        run_stream_to_memory(sessions, "sess_chunk_out", output_mode="append")
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    rows = spark.sql(
        "SELECT session_start, session_end, n_events FROM sess_chunk_out"
    ).collect()
    # the first (00:00-00:19, 20 events) session closes via the 5.7h gap;
    # the 06:00 session stays open in state (watermark never passes it)
    assert [(str(r[0]), str(r[1]), r[2]) for r in rows] == [
        ("2030-01-01 00:00:00", "2030-01-01 00:19:00", 20)
    ]


def test_st01_stream_equals_ts01_batch(spark):
    """The graded streaming query st01 (availableNow windowed agg) is
    value-equivalent to its oracle-checked batch twin ts01 on the same
    input: same (bucket, event_type) keys, same counts, same value sums.
    This is the batch-equivalence contract that makes st01 gradeable."""
    from ankaflow_spark.operators.streamq import st01
    from ankaflow_spark.operators.timeseries import QUERIES as TS_QUERIES

    sf = "/root/testdata/sf0.001"
    stream_rows = {
        (r["window_start"], r["event_type"]): (r["n_events"], float(r["total_value"]))
        for r in st01(spark, sf).collect()
    }
    batch_rows = {
        (r["bucket"], r["event_type"]): (r["n_events"], float(r["total_value"]))
        for r in TS_QUERIES["ts01_time_buckets"](spark, sf).collect()
    }
    assert stream_rows.keys() == batch_rows.keys()
    for key, (n, total) in batch_rows.items():
        sn, stotal = stream_rows[key]
        assert sn == n, key
        assert abs(stotal - total) < 1e-6, key


def test_stream_stage_in_yaml_flow(engine, sf_dir):
    """`kind: stream` runs a real streaming query inside a Flow and its
    complete-mode result equals the batch windowed aggregation."""
    from ankaflow_spark.models.core import Stages
    from ankaflow_spark.plans.flow import Flow

    flow = Flow(
        Stages.loads(f"""
- kind: stream
  name: minutely
  connection: {{kind: parquet, locator: {sf_dir}/events.parquet}}
  params: {{ts: ts, window: "5 minutes", keys: [event_type]}}
- kind: transform
  name: check
  query: >
    SELECT (SELECT CAST(SUM(n_events) AS BIGINT) FROM minutely) AS n_streamed,
           (SELECT COUNT(*) FROM minutely) AS n_windows
"""),
        engine=engine,
    )
    row = flow.run().first()
    batch = engine.spark.read.parquet(f"{sf_dir}/events.parquet")
    assert row["n_streamed"] == batch.count()
    assert row["n_windows"] > 0


def test_stream_stage_state_store_rocksdb(engine, sf_dir):
    """`state_store: rocksdb` on a stream stage runs the SAME stateful
    query on Spark's RocksDB state store provider (off-heap state —
    the production setting for stores too large for executor heap):
    the result is provider-independent, the provider conf is scoped to
    the stage (restored unset-aware afterwards), and an unknown name
    raises."""
    import pytest

    from ankaflow_spark.models.core import Stages
    from ankaflow_spark.plans.flow import Flow
    from ankaflow_spark.streaming.stream import _PROVIDER_KEY

    spark = engine.spark
    before = spark.conf.get(_PROVIDER_KEY, None)

    def run(extra: str):
        flow = Flow(
            Stages.loads(f"""
- kind: stream
  name: minutely
  connection: {{kind: parquet, locator: {sf_dir}/events.parquet}}
  params: {{ts: ts, window: "5 minutes", keys: [event_type]{extra}}}
- kind: transform
  name: check
  query: SELECT * FROM minutely ORDER BY window_start, event_type
"""),
            engine=engine,
        )
        return [tuple(r) for r in flow.run().collect()]

    rocks = run(", state_store: rocksdb")
    assert spark.conf.get(_PROVIDER_KEY, None) == before  # restored
    assert rocks == run("")  # provider-independent values
    with pytest.raises(Exception, match="unknown state_store"):
        run(", state_store: bogus")


def test_state_store_conf_scopes_rocksdb_changelog(engine):
    """The rocksdb provider scope also enables changelog checkpointing
    (incremental per-batch commits instead of full-snapshot fsyncs —
    the measured st27 per-batch wall driver and the at-scale commit
    contract), and restores BOTH keys unset-aware on exit; the hdfs
    provider scope must NOT touch the rocksdb-only key."""
    from ankaflow_spark.streaming.stream import (
        _PROVIDER_KEY,
        _ROCKSDB_CHANGELOG_KEY,
        state_store_conf,
    )

    spark = engine.spark
    assert spark.conf.get(_ROCKSDB_CHANGELOG_KEY, None) is None
    with state_store_conf(spark, "rocksdb"):
        assert spark.conf.get(_ROCKSDB_CHANGELOG_KEY) == "true"
        assert "RocksDB" in spark.conf.get(_PROVIDER_KEY)
    assert spark.conf.get(_ROCKSDB_CHANGELOG_KEY, None) is None  # restored
    assert spark.conf.get(_PROVIDER_KEY, None) is None
    # pre-set value is restored, not clobbered
    spark.conf.set(_ROCKSDB_CHANGELOG_KEY, "false")
    with state_store_conf(spark, "rocksdb"):
        assert spark.conf.get(_ROCKSDB_CHANGELOG_KEY) == "true"
    assert spark.conf.get(_ROCKSDB_CHANGELOG_KEY) == "false"
    spark.conf.unset(_ROCKSDB_CHANGELOG_KEY)
    # hdfs scope leaves the rocksdb-only key alone
    with state_store_conf(spark, "hdfs"):
        assert spark.conf.get(_ROCKSDB_CHANGELOG_KEY, None) is None


def test_stream_stage_dedup_op(engine, sf_dir):
    from ankaflow_spark.models.core import Stages
    from ankaflow_spark.plans.flow import Flow

    flow = Flow(
        Stages.loads(f"""
- kind: stream
  name: uniq
  connection: {{kind: parquet, locator: {sf_dir}/events.parquet}}
  op: dedup
  params: {{ts: ts, keys: [user_id, event_type]}}
- kind: transform
  name: check
  query: SELECT COUNT(*) AS n FROM uniq
"""),
        engine=engine,
    )
    n = flow.run().first()["n"]
    batch = engine.spark.read.parquet(f"{sf_dir}/events.parquet")
    assert n == batch.select("user_id", "event_type").distinct().count()


def test_stream_stage_sessionize_op(engine, sf_dir):
    """The custom-stateful sessionizer (applyInPandasWithState) through
    the declarative stream stage: every emitted session is internally
    consistent and covers whole gap-separated runs."""
    from ankaflow_spark.models.core import Stages
    from ankaflow_spark.plans.flow import Flow

    flow = Flow(
        Stages.loads(f"""
- kind: stream
  name: sessions
  connection: {{kind: parquet, locator: {sf_dir}/events.parquet}}
  op: sessionize
  params: {{ts: ts, key: user_id, gap_minutes: 30}}
- kind: transform
  name: check
  query: >
    SELECT COUNT(*) AS n_sessions,
           SUM(CASE WHEN session_end < session_start OR n_events < 1
               THEN 1 ELSE 0 END) AS n_bad
    FROM sessions
"""),
        engine=engine,
    )
    row = flow.run().first()
    assert row["n_sessions"] > 0
    assert row["n_bad"] == 0


def test_stream_stage_static_join_op(engine, sf_dir):
    """`op: static_join` broadcasts a previous batch stage into every
    micro-batch before the windowed aggregation."""
    from ankaflow_spark.models.core import Stages
    from ankaflow_spark.plans.flow import Flow

    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: dims
  connection: {{kind: parquet, locator: {sf_dir}/events.parquet}}
  query: SELECT DISTINCT event_type, upper(event_type) AS label FROM dims
- kind: stream
  name: enriched
  connection: {{kind: parquet, locator: {sf_dir}/events.parquet}}
  op: static_join
  params: {{ts: ts, window: "15 minutes", right: dims, join_on: [event_type], keys: [label]}}
- kind: transform
  name: check
  query: >
    SELECT (SELECT CAST(SUM(n_events) AS BIGINT) FROM enriched) AS n_streamed,
           (SELECT COUNT(DISTINCT label) FROM enriched) AS n_labels
"""),
        engine=engine,
    )
    row = flow.run().collect()[0]
    raw = engine.spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert row.n_streamed == raw  # join against complete dim loses nothing
    assert row.n_labels == 5


def test_stream_stage_upsert_op(engine, sf_dir):
    """`op: upsert` maintains latest-wins keyed state via foreachBatch
    and registers the terminal state as the stage relation."""
    from ankaflow_spark.models.core import Stages
    from ankaflow_spark.plans.flow import Flow

    flow = Flow(
        Stages.loads(f"""
- kind: stream
  name: latest
  connection: {{kind: parquet, locator: {sf_dir}/events.parquet}}
  op: upsert
  params: {{keys: [user_id, event_type], version: ts, tiebreak: event_id, max_files_per_trigger: 1}}
- kind: transform
  name: check
  query: >
    SELECT (SELECT COUNT(*) FROM latest) AS n_state,
           (SELECT COUNT(*) FROM (SELECT DISTINCT user_id, event_type FROM latest)) AS n_keys
"""),
        engine=engine,
    )
    row = flow.run().collect()[0]
    assert row.n_state == row.n_keys > 0  # exactly one row per key


def test_st11_counts_merge_across_triggers(spark, tmp_path):
    """foreachbatch_merge_counts must equal the batch GROUP BY when the
    stream is sliced into several micro-batches."""
    from pyspark.sql import functions as F

    from ankaflow_spark.streaming.stream import (
        foreachbatch_merge_counts,
        stream_tap,
    )

    src = str(tmp_path / "st11_unit_src")
    df = spark.range(0, 300).select(
        F.col("id").alias("event_id"), (F.col("id") % 7).alias("user_id")
    )
    df.repartition(6).write.mode("overwrite").parquet(src)
    stream = stream_tap(spark, src, spark.read.parquet(src).schema,
                        max_files_per_trigger=2)
    got = {
        r["user_id"]: r["n"]
        for r in foreachbatch_merge_counts(
            stream, ["user_id"], src + "_state"
        ).collect()
    }
    want = {r["user_id"]: r["count"] for r in df.groupBy("user_id").count().collect()}
    assert got == want


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Checkpointed restart recovery — the durability contract a
    production ingest relies on: a file-source stream with a file sink
    processes each input file EXACTLY once across separate query
    restarts sharing one checkpoint. Wave 2 lands after the first
    query stopped; the restarted query picks up only the new files; a
    third restart with no new data appends nothing."""
    src, out, ckpt = tmp_path / "src", tmp_path / "out", tmp_path / "ckpt"
    schema = "id bigint, k bigint"

    def write_wave(lo, hi):
        spark.createDataFrame([(i, i % 5) for i in range(lo, hi)], schema).write.mode(
            "append"
        ).parquet(str(src))

    def run_query():
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (
            stream.writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    write_wave(0, 100)
    run_query()
    assert spark.read.parquet(str(out)).count() == 100

    write_wave(100, 150)
    run_query()  # restart from checkpoint: only the new files process
    back = spark.read.parquet(str(out))
    assert back.count() == 150
    assert back.select("id").distinct().count() == 150  # no dupes, no loss

    run_query()  # no new data -> no new output
    assert spark.read.parquet(str(out)).count() == 150


def test_st13_streaming_equals_batch_bloom(spark):
    """st13's append-only foreachBatch screening over real micro-batches
    must equal the d21 batch relation row-for-row, and must actually
    execute MULTIPLE micro-batches (3-file trigger over 8 staged
    files) — the no-cross-batch-state claim is only proven if batch
    boundaries genuinely cut the corpus."""
    import glob
    import os

    from ankaflow_spark.operators.dedup import QUERIES as DQ
    from ankaflow_spark.operators.streamq import QUERIES as SQ
    from ankaflow_spark.session import scratch_root

    sf_dir = "/root/testdata/sf0.001"
    got = {r["doc_id"]: r for r in SQ["st13_stream_bloom_decontam"](spark, sf_dir).collect()}
    want = {r["doc_id"]: r for r in DQ["d21_bloom_decontam"](spark, sf_dir).collect()}
    assert set(got) == set(want)
    for i in want:
        for col in (
            "n_bloom_candidates",
            "n_bloom_false_pos",
            "n_shared_ngrams",
            "contaminated",
        ):
            assert got[i][col] == want[i][col], (i, col)
    out_dirs = glob.glob(os.path.join(scratch_root(), "streamdocs_*_st13_out", "batch=*"))
    assert len(out_dirs) >= 2, out_dirs


def test_stream_stage_batch_sql_op(engine, sf_dir):
    """`op: batch_sql` screens each micro-batch with SQL over the
    `__batch__` view and appends — the union over all batches must
    equal the same SQL run over the whole table in batch (stateless
    per-row work is batch-boundary invariant)."""
    from ankaflow_spark.models.core import Stages
    from ankaflow_spark.plans.flow import Flow

    flow = Flow(
        Stages.loads(f"""
- kind: stream
  name: flagged
  connection: {{kind: parquet, locator: {sf_dir}/events.parquet}}
  op: batch_sql
  params:
    max_files_per_trigger: 1
    sql: >
      SELECT event_id, user_id,
             CAST(value AS DOUBLE) * 2 AS doubled
      FROM __batch__ WHERE user_id % 7 = 0
- kind: transform
  name: check
  query: >
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(doubled) AS DOUBLE) AS s
    FROM flagged
"""),
        engine=engine,
    )
    row = flow.run().first()
    batch = (
        engine.spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter("user_id % 7 = 0")
    )
    from pyspark.sql import functions as F

    want = batch.agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("double") * 2).alias("s"),
    ).first()
    assert row["n"] == want["n"]
    assert abs(row["s"] - want["s"]) < 1e-6


def test_st14_scd2_incremental_equals_batch(spark):
    """The incrementally-maintained SCD2 history must equal the batch
    change-row build over all events, and must have been produced by
    MULTIPLE micro-batches (else the incremental path wasn't
    exercised). Invariants: per-user versions are 1..n with seamless
    eff_from/eff_to chaining and exactly one open (current) row."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from ankaflow_spark.operators.streamq import QUERIES, _staged_events_ordered
    import os

    sf_dir = "/root/testdata/sf0.001"
    hist = QUERIES["st14_stream_scd2"](spark, sf_dir).collect()

    staged, _ = _staged_events_ordered(spark, sf_dir)
    n_files = len([f for f in os.listdir(staged) if f.endswith(".parquet")])
    assert n_files >= 4  # max_files_per_trigger=2 -> >= 2 micro-batches

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    batch = (
        ev.withColumn("prev_t", F.lag("event_type").over(w))
        .filter(F.col("prev_t").isNull() | (F.col("prev_t") != F.col("event_type")))
        .withColumn("eff_to", F.lead("ts").over(w))
        .withColumn("version", F.row_number().over(w))
        .select(
            "user_id",
            "event_type",
            F.col("ts").alias("eff_from"),
            "eff_to",
            F.col("version").cast("bigint").alias("version"),
        )
        .collect()
    )
    key = lambda r: (r["user_id"], r["version"])
    assert sorted(map(tuple, hist), key=lambda t: (t[0], t[4])) == sorted(
        map(tuple, batch), key=lambda t: (t[0], t[4])
    )
    by_user = {}
    for r in hist:
        by_user.setdefault(r["user_id"], []).append(r)
    for u, rows in by_user.items():
        rows.sort(key=lambda r: r["version"])
        assert [r["version"] for r in rows] == list(range(1, len(rows) + 1))
        assert sum(1 for r in rows if r["eff_to"] is None) == 1
        for a, b in zip(rows, rows[1:]):
            assert a["eff_to"] == b["eff_from"]


def test_st15_incremental_novelty_equals_batch(spark):
    """The appended per-batch novelty verdicts over all triggers must
    equal the batch t24 computation, and must have been produced by
    multiple micro-batches."""
    import os

    from ankaflow_spark.operators.streamq import QUERIES, _staged_docs_ordered
    from ankaflow_spark.operators.textops import QUERIES as TQ

    sf_dir = "/root/testdata/sf0.001"
    stream_rows = QUERIES["st15_stream_novelty"](spark, sf_dir).collect()
    staged, _ = _staged_docs_ordered(spark, sf_dir)
    n_files = len([f for f in os.listdir(staged) if f.endswith(".parquet")])
    assert n_files >= 4  # max_files_per_trigger=2 -> >= 2 micro-batches
    batch_rows = TQ["t24_ngram_novelty"](spark, sf_dir).collect()
    assert sorted(map(tuple, stream_rows)) == sorted(map(tuple, batch_rows))


def test_st16_markov_incremental_equals_batch(spark):
    """The incrementally-maintained transition table must equal the
    batch ts29 build over all events, and must have been produced by
    MULTIPLE micro-batches (else the incremental path wasn't
    exercised)."""
    import os

    from ankaflow_spark.operators.streamq import QUERIES, _staged_events_ordered
    from ankaflow_spark.operators.timeseries import QUERIES as TS_QUERIES

    sf_dir = "/root/testdata/sf0.001"
    out = QUERIES["st16_stream_markov"](spark, sf_dir).collect()

    staged, _ = _staged_events_ordered(spark, sf_dir)
    n_files = len([f for f in os.listdir(staged) if f.endswith(".parquet")])
    assert n_files >= 4  # max_files_per_trigger=2 -> >= 2 micro-batches

    batch = TS_QUERIES["ts29_markov_transitions"](spark, sf_dir).collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in batch]


def test_st17_cusum_incremental_equals_batch(spark):
    """The incrementally-maintained daily-count state must yield the
    same changepoints as the batch ts31 build, and must have been
    produced by MULTIPLE micro-batches (else the merge path wasn't
    exercised)."""
    import os

    from ankaflow_spark.operators.streamq import QUERIES, _staged_events_ordered
    from ankaflow_spark.operators.timeseries import QUERIES as TS_QUERIES

    sf_dir = "/root/testdata/sf0.001"
    out = QUERIES["st17_stream_cusum"](spark, sf_dir).collect()

    staged, _ = _staged_events_ordered(spark, sf_dir)
    n_files = len([f for f in os.listdir(staged) if f.endswith(".parquet")])
    assert n_files >= 4  # max_files_per_trigger=2 -> >= 2 micro-batches

    batch = TS_QUERIES["ts31_cusum_changepoint"](spark, sf_dir).collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in batch]


def test_st18_funnel_incremental_equals_batch(spark):
    """The incrementally-maintained funnel state must yield the same
    report as the batch ts32 build, across MULTIPLE micro-batches."""
    import os

    from ankaflow_spark.operators.streamq import QUERIES, _staged_events_ordered
    from ankaflow_spark.operators.timeseries import QUERIES as TS_QUERIES

    sf_dir = "/root/testdata/sf0.001"
    out = QUERIES["st18_stream_funnel"](spark, sf_dir).collect()

    staged, _ = _staged_events_ordered(spark, sf_dir)
    n_files = len([f for f in os.listdir(staged) if f.endswith(".parquet")])
    assert n_files >= 4  # max_files_per_trigger=2 -> >= 2 micro-batches

    batch = TS_QUERIES["ts32_funnel_conversion"](spark, sf_dir).collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in batch]
    assert out[0]["users"] > 0


def test_st19_streaks_incremental_equals_batch(spark):
    """The incrementally-maintained streak state must yield the same
    histogram as the batch ts35 build, across MULTIPLE micro-batches
    (the seed-island credit path is exercised whenever a user's run
    crosses a slice boundary)."""
    import os

    from ankaflow_spark.operators.streamq import QUERIES, _staged_events_ordered
    from ankaflow_spark.operators.timeseries import QUERIES as TS_QUERIES

    sf_dir = "/root/testdata/sf0.001"
    out = QUERIES["st19_stream_streaks"](spark, sf_dir).collect()

    staged, _ = _staged_events_ordered(spark, sf_dir)
    n_files = len([f for f in os.listdir(staged) if f.endswith(".parquet")])
    assert n_files >= 4  # max_files_per_trigger=2 -> >= 2 micro-batches

    batch = TS_QUERIES["ts35_activity_streaks"](spark, sf_dir).collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in batch]


def test_st20_decay_topk_incremental_equals_batch(spark):
    """The incrementally-maintained (user, week) counters must yield
    the same decayed leaderboard as the batch ts38 build, across
    MULTIPLE micro-batches (counter merges are exercised whenever a
    user's activity spans a slice boundary)."""
    import os

    from ankaflow_spark.operators.streamq import QUERIES, _staged_events_ordered
    from ankaflow_spark.operators.timeseries import QUERIES as TS_QUERIES

    sf_dir = "/root/testdata/sf0.001"
    out = QUERIES["st20_stream_decay_topk"](spark, sf_dir).collect()

    staged, _ = _staged_events_ordered(spark, sf_dir)
    n_files = len([f for f in os.listdir(staged) if f.endswith(".parquet")])
    assert n_files >= 4  # max_files_per_trigger=2 -> >= 2 micro-batches

    batch = TS_QUERIES["ts38_decayed_leaderboard"](spark, sf_dir).collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in batch]
    assert len(out) == 10


def test_st21_survival_incremental_equals_batch(spark):
    """The session_window-state survival table must equal the batch
    ts37 build exactly (complete mode emits every session; window.end
    = last event + gap reduces to the same (dur_min, end_us) rows)."""
    from ankaflow_spark.operators.streamq import QUERIES
    from ankaflow_spark.operators.timeseries import QUERIES as TS_QUERIES

    sf_dir = "/root/testdata/sf0.001"
    out = QUERIES["st21_stream_survival"](spark, sf_dir).collect()
    batch = TS_QUERIES["ts37_survival_curve"](spark, sf_dir).collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in batch]
    assert sum(r["n_censored_at"] for r in out) >= 1

def test_st22_bounded_survival_censors_open_tail(spark):
    """The bounded-state variant's actuarial table covers exactly the
    gap-CLOSED sessions (each user's last island never closes — it is
    censored by construction, st04's determinism argument), so total
    sessions = batch ts37 sessions minus one per active user, and the
    per-key state is three longs regardless of history length."""
    from ankaflow_spark.operators.streamq import QUERIES
    from ankaflow_spark.operators.timeseries import QUERIES as TS_QUERIES

    sf_dir = "/root/testdata/sf0.001"
    out = QUERIES["st22_stream_survival_bounded"](spark, sf_dir).collect()
    batch = TS_QUERIES["ts37_survival_curve"](spark, sf_dir).collect()
    n_users = spark.table("events").select("user_id").distinct().count()
    n_out = max(r["n_at_risk"] for r in out)       # sessions entering the table
    n_batch = max(r["n_at_risk"] for r in batch)
    assert n_out == n_batch - n_users
    # closed sessions all have a defined end; censoring can still occur
    # at the emitted-set edge, but the open per-user tails are gone
    assert n_out > 0


def test_st23_centroid_drift_incremental_equals_batch(spark):
    """The incrementally-maintained (label, dim) lattice sums must
    yield the same drift report as the batch s28 build, across
    MULTIPLE micro-batches (BIGINT sums are associative, so trigger
    boundaries are invisible), and the state must stay BOUNDED at
    |labels| x DIM rows regardless of stream length."""
    import os

    from ankaflow_spark.operators.similarity import DIM
    from ankaflow_spark.operators.similarity import QUERIES as SIM_QUERIES
    from ankaflow_spark.operators.streamq import QUERIES, _staged_embeddings

    sf_dir = "/root/testdata/sf0.001"
    out = QUERIES["st23_stream_centroid_drift"](spark, sf_dir).collect()

    staged, _ = _staged_embeddings(spark, sf_dir)
    n_files = len([f for f in os.listdir(staged) if f.endswith(".parquet")])
    assert n_files >= 4  # max_files_per_trigger=2 -> >= 2 micro-batches

    batch = SIM_QUERIES["s28_centroid_drift"](spark, sf_dir).collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in batch]
    # bounded state: the maintained table is exactly |labels| x DIM
    n_labels = len(out)
    state = spark.table("st23_per_label")
    assert state.count() == n_labels * DIM


def test_st24_stream_quantiles_bounded_state_equals_batch(spark):
    """The incrementally-maintained (type, bucket) histogram must
    reproduce the batch bucket counts exactly (integer merge is
    trigger-invariant), stay BOUNDED at |occupied buckets| rows, and
    the rank->bucket report must match a literal recount."""
    from ankaflow_spark.operators.streamq import (
        _ST24_BUCKET_CENTS,
        QUERIES,
    )

    sf_dir = "/root/testdata/sf0.001"
    out = QUERIES["st24_stream_quantiles"](spark, sf_dir).collect()

    import math
    from collections import defaultdict

    rows = spark.table("events").select("event_type", "value").collect()
    hist = defaultdict(int)
    for r in rows:
        cents = math.floor(float(r["value"]) * 100)
        hist[(r["event_type"], cents // _ST24_BUCKET_CENTS)] += 1

    state = {(r["event_type"], r["bucket"]): r["n"] for r in spark.table("st24_state").collect()}
    assert state == dict(hist)  # exact counts AND bounded row set

    for r in out:
        t = r["event_type"]
        buckets = sorted(b for (tt, b) in hist if tt == t)
        total = sum(hist[(t, b)] for b in buckets)
        assert r["n_events"] == total
        for q_num, q_den, col in ((1, 2, "p50_lo_cents"), (9, 10, "p90_lo_cents"), (99, 100, "p99_lo_cents")):
            rank = (q_num * total + q_den - 1) // q_den
            cum = 0
            for b in buckets:
                cum += hist[(t, b)]
                if cum >= rank:
                    assert r[col] == b * _ST24_BUCKET_CENTS
                    break


def test_st25_psi_incremental_equals_batch(spark):
    """The incrementally-maintained (snap, bin) lattice must equal the
    batch GROUP BY exactly (integer merge is trigger-invariant), stay
    BOUNDED at 2 x |occupied buckets| rows, and the PSI report must be
    cell-identical to running q73's shared tail over the batch cells."""
    import math
    from collections import defaultdict

    from ankaflow_spark.operators.streamq import (
        _ST25_BUCKET_CENTS,
        _ST25_SPLIT_US,
        QUERIES,
    )

    sf_dir = "/root/testdata/sf0.001"
    out = QUERIES["st25_stream_psi_drift"](spark, sf_dir).collect()

    rows = spark.table("events").selectExpr(
        "unix_micros(ts) AS us", "value"
    ).collect()
    cells = defaultdict(int)
    for r in rows:
        snap = int(r["us"] >= _ST25_SPLIT_US)
        b = math.floor(float(r["value"]) * 100) // _ST25_BUCKET_CENTS
        cells[(snap, b)] += 1
    state = {
        (r["snap"], r["bin"]): r["n"] for r in spark.table("st25_cells").collect()
    }
    assert state == dict(cells)  # exact AND bounded (occupied cells only)
    assert 1 in {s for s, _ in state} and 0 in {s for s, _ in state}

    # report recount: +1-smoothed per-bin PSI contributions
    bins = sorted({b for _, b in cells})
    n_base = {b: max(cells.get((0, b), 0), 1) for b in bins}
    n_cur = {b: max(cells.get((1, b), 0), 1) for b in bins}
    tb, tc = sum(n_base.values()), sum(n_cur.values())
    assert len(out) == len(bins)
    for r in out:
        b = r["bin"]
        p, q = n_base[b] / tb, n_cur[b] / tc
        assert r["n_base"] == n_base[b] and r["n_cur"] == n_cur[b]
        assert r["psi_bin"] == round((p - q) * math.log(p / q), 6)
        assert r["bin_lo"] == b * _ST25_BUCKET_CENTS


def test_st27_watermark_drops_vs_python(spark, sf_dir):
    """The streamed drop accounting must equal a literal python replay
    of the watermark rule over the SAME md5-disordered chunk sequence:
    watermark entering chunk k = max event-time ms through chunk k-1
    minus the q82-calibrated p99 delay; a row drops iff its window end
    <= that watermark. Also pins that the disorder construction
    produces nonzero drops at the calibrated (non-tail-safe) delay —
    otherwise the operator demonstrates nothing."""
    from collections import defaultdict

    from ankaflow_spark.operators.relational import _late_arrival_sql
    from ankaflow_spark.operators.streamq import _ST27_N_CHUNKS, QUERIES

    out = QUERIES["st27_stream_watermark_drops"](spark, sf_dir).collect()
    # the query no longer materializes the disorder view per call (the
    # calibration is memoized with the staged copy) — the recount
    # builds it itself
    from ankaflow_spark.operators.streamq import _md5_disorder_sql

    spark.sql(_md5_disorder_sql("events", "event_id")).createOrReplaceTempView(
        "st27_dis"
    )
    rows = spark.sql(
        "SELECT event_type, unix_micros(CAST(ts AS TIMESTAMP)) AS us, event_id "
        "FROM st27_dis"
    ).collect()
    rows.sort(key=lambda r: r["event_id"])
    delay_min = int(
        spark.sql(
            "SELECT MAX(p99_late_min) FROM ("
            + _late_arrival_sql(True, table="st27_dis")
            + ")"
        ).first()[0]
    )
    per_chunk = -(-len(rows) // _ST27_N_CHUNKS)
    wm_ms, delay_ms = 0, delay_min * 60_000
    win_us = 3_600 * 1_000_000
    n_rows, n_dropped = defaultdict(int), defaultdict(int)
    for k in range(_ST27_N_CHUNKS):
        chunk = rows[k * per_chunk : (k + 1) * per_chunk]
        for r in chunk:
            n_rows[r["event_type"]] += 1
            win_end_ms = ((r["us"] // win_us) + 1) * 3_600_000
            if wm_ms > 0 and win_end_ms <= wm_ms:
                n_dropped[r["event_type"]] += 1
        wm_ms = max(wm_ms, max(r["us"] for r in chunk) // 1000 - delay_ms)
    assert [r["event_type"] for r in out] == sorted(n_rows)
    for r in out:
        t = r["event_type"]
        assert r["n_rows"] == n_rows[t]
        assert r["n_dropped"] == n_dropped[t]
        assert r["n_survived"] == n_rows[t] - n_dropped[t]
    assert sum(n_dropped.values()) > 0
    # the oracle's watermark simulation is engine-independent: run
    # through the SQL translator on Spark it reproduces the streamed
    # result too
    from ankaflow_spark.operators.streamq import _st27_sim_sql
    from ankaflow_spark.sqlfront.rewrite import rewrite_sql

    sim = spark.sql(rewrite_sql(_st27_sim_sql(), {})).collect()
    assert [tuple(r) for r in sim] == [tuple(r) for r in out]
    # the calibrated delay is a pure function of the staged data: it is
    # memoized with the staged dir per session and events fingerprint,
    # and a warm call reads it back instead of recomputing the
    # full-corpus disorder rank; the staging-vs-stream wall split is
    # recorded for BENCH_DETAIL
    from ankaflow_spark.operators.streamq import COST_SPLITS, _st27_staged
    from ankaflow_spark.session import memo_names

    staged, cached_delay = _st27_staged(spark, sf_dir)
    assert cached_delay == delay_min
    assert _st27_staged(spark, sf_dir) == (staged, cached_delay)
    assert "st27_chunks" in memo_names(spark)
    split = COST_SPLITS["st27_stream_watermark_drops"]
    assert set(split) == {"staging_calibration_sec", "stream_wall_sec"}


def test_st28_matches_d33_and_runs_real_batches(spark, sf_dir):
    """The streamed band-index probe must equal the batch d33 relation
    cell-exactly (every doc lands in exactly one whole-doc batch file)
    AND must have executed as real micro-batches (one per staged
    slice), each appending its own idempotent batch=N output."""
    import glob
    import os

    from ankaflow_spark.operators.dedup import QUERIES as DQ
    from ankaflow_spark.operators.streamq import QUERIES as SQ
    from ankaflow_spark.session import scratch_root

    out = SQ["st28_stream_band_probe"](spark, sf_dir).collect()
    graded = DQ["d33_bucketed_band_probe"](spark, sf_dir).collect()
    assert len(out) > 0
    assert [tuple(r) for r in out] == [tuple(r) for r in graded]
    batches = glob.glob(os.path.join(scratch_root(), "st28_4_*_probe_out", "batch=*"))
    assert len(batches) >= 4, batches


def test_st29_rocksdb_matches_st22_and_proves_provider(spark, sf_dir):
    """st29 runs st22's bounded-state sessionizer on the RocksDB state
    store provider: the survival tail must be cell-identical (the
    provider decides WHERE state lives, never what it is), the run's
    progress metrics must carry rocksdb* keys (provider proof — the
    heap default reports none), and the provider conf must be restored
    unset-aware after the query."""
    from ankaflow_spark.operators.streamq import QUERIES
    from ankaflow_spark.streaming.stream import _PROVIDER_KEY

    before = spark.conf.get(_PROVIDER_KEY, None)
    out29 = QUERIES["st29_rocksdb_survival"](spark, sf_dir).collect()
    from ankaflow_spark.operators.streamq import _ST29_LAST_METRICS

    assert any("rocksdb" in k for k in _ST29_LAST_METRICS), (
        sorted(_ST29_LAST_METRICS)[:5] or "no state metrics captured"
    )
    assert spark.conf.get(_PROVIDER_KEY, None) == before
    out22 = QUERIES["st22_stream_survival_bounded"](spark, sf_dir).collect()
    assert len(out29) > 0
    assert [tuple(r) for r in out29] == [tuple(r) for r in out22]


def _state_op_partitions(query) -> list:
    return [op["numShufflePartitions"] for op in query.lastProgress["stateOperators"]]


def test_bounded_stream_sizes_state_partitions_to_input(spark, events_stream_dir):
    """A bounded (availableNow) query over a few dozen KB of parquet
    runs its state operator on ONE state store, sized like AQE sizes a
    batch shuffle (input bytes / advisory partition size), not on one
    store per spark.sql.shuffle.partitions; the rows equal the batch
    twin's."""
    path, schema = events_stream_dir
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) > 1
    agg = windowed_agg(
        stream_tap(spark, path, schema), "ts", window_len="5 minutes",
        group_cols=["event_type"],
    )
    q = run_stream_to_memory(agg, "win_sized_out", output_mode="complete")
    assert _state_op_partitions(q) == [1]
    twin = windowed_agg(
        spark.read.schema(schema).parquet(path), "ts", window_len="5 minutes",
        group_cols=["event_type"],
    )
    key = ["window_start", "event_type"]
    assert (
        spark.table("win_sized_out").orderBy(*key).collect()
        == twin.orderBy(*key).collect()
    )


def test_symlink_staged_file_sizes_by_its_target(spark, tmp_path, sf_dir):
    """handle_stream stages a single-file locator as a dir holding one
    symlink: the input must size by the link's target, so with a small
    advisory partition size the linked file gets several state
    partitions (sized by the link itself it would collapse to one)."""
    import math
    import os

    from ankaflow_spark.session import scoped_conf
    from ankaflow_spark.streaming.stream import _state_partitions

    target = os.path.join(sf_dir, "events.parquet")
    staged = tmp_path / "staged"
    staged.mkdir()
    os.symlink(target, staged / "events.parquet")
    schema = spark.read.parquet(str(staged)).schema
    session = int(spark.conf.get("spark.sql.shuffle.partitions"))
    advisory = os.path.getsize(target) // 3 + 1
    agg = stream_tap(spark, str(staged), schema).groupBy("event_type").count()
    with scoped_conf(spark, {"spark.sql.adaptive.advisoryPartitionSizeInBytes": str(advisory)}):
        parts = _state_partitions(agg)
    assert parts == min(session, math.ceil(os.path.getsize(target) / advisory)) > 1


def test_non_file_source_keeps_session_partitions(spark, events_stream_dir):
    """Only file sources can be sized before the query runs: a rate
    source, or a file stream joined with a non-file relation, keeps
    spark.sql.shuffle.partitions."""
    from ankaflow_spark.streaming.stream import _state_partitions

    path, schema = events_stream_dir
    rate = spark.readStream.format("rate").load()
    assert _state_partitions(rate.groupBy("value").count()) is None
    joined = stream_tap(spark, path, schema).join(
        spark.range(10).withColumnRenamed("id", "user_id"), "user_id"
    )
    assert _state_partitions(joined.groupBy("user_id").count()) is None


def test_stream_session_uses_filesystem_checkpoint_manager(spark, events_stream_dir, tmp_path):
    """Inside a foreachBatch callback the stream's session names Spark's
    FileSystem-based checkpoint manager (its class loads under that
    name), and the session conf is back to unset after the query."""
    from ankaflow_spark.streaming.stream import (
        _CHECKPOINT_MANAGER_KEY,
        _FS_CHECKPOINT_MANAGER,
        foreachbatch_append,
    )

    spark._jvm.java.lang.Class.forName(_FS_CHECKPOINT_MANAGER)
    assert spark.conf.get(_CHECKPOINT_MANAGER_KEY, None) is None
    path, schema = events_stream_dir
    seen = []

    def transform(batch_df):
        seen.append(batch_df.sparkSession.conf.get(_CHECKPOINT_MANAGER_KEY, None))
        return batch_df.select("user_id")

    out = foreachbatch_append(
        stream_tap(spark, path, schema), transform, str(tmp_path / "state")
    )
    assert out.count() == spark.read.parquet(path).count()
    assert seen and set(seen) == {_FS_CHECKPOINT_MANAGER}
    assert spark.conf.get(_CHECKPOINT_MANAGER_KEY, None) is None


def test_checkpoint_root_on_another_filesystem_keeps_default_manager(spark):
    from ankaflow_spark.session import scoped_conf
    from ankaflow_spark.streaming.stream import _CHECKPOINT_MANAGER_KEY, _checkpoint_conf

    assert _CHECKPOINT_MANAGER_KEY in _checkpoint_conf(spark)
    key = "spark.sql.streaming.checkpointLocation"
    with scoped_conf(spark, {key: "file:/tmp/ckpt"}):
        assert _CHECKPOINT_MANAGER_KEY in _checkpoint_conf(spark)
    with scoped_conf(spark, {key: "hdfs://namenode:8020/ckpt"}):
        assert _checkpoint_conf(spark) == {}


def _boom(_):
    raise RuntimeError("batch failed on purpose")


@pytest.mark.parametrize("sink", ["memory", "foreach_batch"])
def test_stream_confs_restored_when_a_batch_raises(spark, events_stream_dir, tmp_path, sink):
    """The scoped checkpoint manager and state partitions are restored
    after a query whose batch raises, as after one that succeeds."""
    from ankaflow_spark.streaming.stream import _CHECKPOINT_MANAGER_KEY, foreachbatch_append

    path, schema = events_stream_dir
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    stream = stream_tap(spark, path, schema)
    with pytest.raises(Exception, match="batch failed on purpose"):
        if sink == "memory":
            fail = F.raise_error(F.lit("batch failed on purpose")).cast("long")
            run_stream_to_memory(
                stream.select(F.coalesce(fail, "user_id").alias("x")).groupBy("x").count(),
                "raise_out", output_mode="complete",
            )
        else:
            foreachbatch_append(stream, _boom, str(tmp_path / "state"))
    assert spark.conf.get(_CHECKPOINT_MANAGER_KEY, None) is None
    assert spark.conf.get("spark.sql.shuffle.partitions") == partitions
