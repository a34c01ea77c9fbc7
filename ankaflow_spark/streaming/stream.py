"""Structured Streaming extension (beyond the reference's batch-only
surface — SURVEY.md §7 names this the designed extension point).

Stage kinds map to streaming primitives:

* stream tap    -> ``spark.readStream`` (file source here; kafka/rate on
  a real cluster) with an explicit schema.
* stream window -> ``withWatermark`` + tumbling/sliding ``window()``
  aggregation — the streaming twin of ts01.
* stream dedup  -> ``dropDuplicates`` on key+version within the
  watermark — the streaming twin of the reference's versioned dedup
  (bounded state: late duplicates beyond the watermark age out).

Every query of this module starts, drains (``processAllAvailable()``)
and stops in one place, ``_drain``. Memory-sink queries go through
``run_stream_to_memory``; the ``foreachbatch_*`` operators (any
streaming relation, sessionizer output included) run through one
micro-batch driver,
``_drive``, with two on-disk state layouts — a FOLD of state tables
rewritten every batch, or an APPEND of per-batch outputs — and return
a pinned batch DataFrame (see ``_drive`` for the result and
empty-source contracts). It is the same code shape a cluster
deployment points at kafka + a Delta sink.

Two fixed costs of a bounded query are sized here, not left at the
session's settings:

* checkpoint manager: ``_drain`` runs every query on Spark's
  FileSystem-based checkpoint manager, since every checkpoint of this
  module is a local directory where a rename is atomic; the default
  FileContext manager forks a process per link check, create and
  mkdir on a host without native Hadoop. A session checkpoint root on
  another filesystem keeps the default.
* state partitions: ``run_stream_to_memory`` (availableNow, fresh
  checkpoint) runs ``ceil(input bytes / advisory partition size)``
  state stores, clamped to [1, spark.sql.shuffle.partitions] — AQE's
  rule for a batch shuffle — when every source is a local file source;
  otherwise the session value. ``_drive`` queries keep the session
  value: they hold no Spark state store, and ``feeds`` add input
  after start.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from typing import List, Optional
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..session import materialize, scoped_conf
from ..sources.parquet import read_parquet

#: the two state store providers Spark ships. The default
#: (HDFS-backed) keeps every store's working set on the executor HEAP —
#: fine for demo-scale state, an OOM source at 100 TB/day where stores
#: hold millions of keys. RocksDB keeps state OFF-HEAP in a local
#: RocksDB instance per store (native memory + local SSD, incremental
#: changelog/snapshot checkpointing), which is the provider a
#: production deployment of the bounded-state family runs on.
STATE_STORE_PROVIDERS = {
    "hdfs": (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    ),
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
}

_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"

#: RocksDB commit mode: with changelog checkpointing OFF (Spark's
#: default) EVERY micro-batch commit snapshots the full store and
#: fsyncs the snapshot into the checkpoint dir — measured on st27's
#: 8-store replay: rocksdbCommitFileSyncLatencyMs was 1.2-4.9 s summed
#: per batch, the single largest per-batch cost (stream wall 13.9 s).
#: With changelog checkpointing ON, a commit fsyncs only the batch's
#: tiny change set (same probe: state commit 0.37-0.78 s/batch, stream
#: wall 9.8 s) and snapshots move to the background maintenance task.
#: This is also the at-scale contract: a 100 TB/day store cannot
#: re-upload its full SST set per trigger — incremental commit is the
#: production spelling, not a local tweak (OPTIMIZATION_r13.md).
_ROCKSDB_CHANGELOG_KEY = (
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
)


def state_store_conf(spark: SparkSession, provider: Optional[str]):
    """Scope the state store provider to one streaming query: the
    provider class is read from the SESSION conf when the query starts,
    so it is set before `.start()` and restored unset-aware afterwards
    (``session.scoped_conf``). `provider` is a STATE_STORE_PROVIDERS key
    or None (leave the session setting untouched). The rocksdb provider
    also enables changelog checkpointing (see _ROCKSDB_CHANGELOG_KEY —
    incremental per-batch commits instead of full-snapshot fsyncs),
    scoped and restored the same way."""
    scoped = {}
    if provider is not None:
        try:
            scoped[_PROVIDER_KEY] = STATE_STORE_PROVIDERS[provider]
        except KeyError:
            raise ValueError(
                f"unknown state_store {provider!r} "
                f"(one of {sorted(STATE_STORE_PROVIDERS)})"
            ) from None
        if provider == "rocksdb":
            scoped[_ROCKSDB_CHANGELOG_KEY] = "true"
    return scoped_conf(spark, scoped)


def stream_tap(
    spark: SparkSession,
    path: str,
    schema,
    fmt: str = "parquet",
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def windowed_agg(
    events: DataFrame,
    ts_col: str,
    window_len: str = "5 minutes",
    slide: Optional[str] = None,
    watermark: str = "10 minutes",
    group_cols: Optional[List[str]] = None,
) -> DataFrame:
    """Watermarked tumbling/sliding window aggregation (count + sum of
    ``value`` when present)."""
    w = F.window(ts_col, window_len, slide) if slide else F.window(ts_col, window_len)
    keys = [w] + [F.col(c) for c in (group_cols or [])]
    aggs = [F.count("*").alias("n_events")]
    if "value" in events.columns:
        # sum in DECIMAL: exact and associative, so the streaming state
        # accumulation order (partition/trigger dependent) cannot change
        # the result — the same cross-engine determinism rule the batch
        # aggregates follow (PERF.md); emitted as DOUBLE
        aggs.append(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value")
        )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(*keys)
        .agg(*aggs)
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *[F.col(c) for c in (group_cols or [])],
            F.col("n_events"),
            *([F.col("total_value")] if "value" in events.columns else []),
        )
    )


def streaming_dedup(
    events: DataFrame,
    keys: List[str],
    ts_col: str,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming versioned dedup: first event per key wins within the
    watermark horizon (state bounded by watermark age-out). The batch
    latest-record-wins semantics of q06 need a terminal compaction; in a
    stream, 'first arrival wins' is the standard incremental contract."""
    return events.withWatermark(ts_col, watermark).dropDuplicates(subset=keys)


#: Spark's FileSystem-API checkpoint manager. The default manager goes
#: through Hadoop's FileContext, whose local filesystem — on a host
#: without the native libhadoop — forks a `readlink` for every link
#: check and a `chmod` for every create and mkdir: 661 of the 664
#: process spawns of a flows_sf001 pass, 496 of them `readlink`
#: (PERF.md). On a local
#: directory the FileSystem manager's rename is an atomic rename(2), so
#: the write-temp-then-rename commit of every log and state file keeps
#: its guarantee; the Hadoop `.crc` files and the state-store checksum
#: files stay. The package is `...streaming.checkpointing` since Spark
#: 4.1 (tests/test_streaming.py loads the class by this name).
_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
_CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"


def _checkpoint_conf(spark: SparkSession) -> dict:
    """The checkpoint-manager scope of a query of this module. Every
    checkpoint it writes is local — Spark's temp dir for memory sinks,
    ``<state_base>_ckpt`` under the scratch root for ``_drive`` — unless
    the session names a checkpoint root on another filesystem
    (``spark.sql.streaming.checkpointLocation``, a scheme-less path
    resolving against ``fs.defaultFS``); then Spark's default manager
    stays."""
    root = spark.conf.get("spark.sql.streaming.checkpointLocation", None)
    if root:
        scheme = urlparse(root).scheme or urlparse(
            spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS") or ""
        ).scheme
        if scheme not in ("", "file"):
            return {}
    return {_CHECKPOINT_MANAGER_KEY: _FS_CHECKPOINT_MANAGER}


def _drain(spark: SparkSession, writer, feeds=(), progress_out: Optional[list] = None):
    """Start ``writer``'s query, drain it and stop it (also when a batch
    or a feed raises): the one place a query of this module runs.
    ``feeds`` are callables that make more source data available; the
    query is drained again after each one. ``progress_out``, when a
    list, receives the engine's per-batch progress rows, harvested
    before ``stop()``. The checkpoint manager (``_checkpoint_conf``) is
    scoped from before ``start()`` to after ``stop()``: the stream
    thread reads parts of it from this session's conf, not only from
    the clone the query makes at start. Returns the query."""
    with scoped_conf(spark, _checkpoint_conf(spark)):
        q = writer.start()
        try:
            q.processAllAvailable()
            for feed in feeds:
                feed()
                q.processAllAvailable()
            if progress_out is not None:
                progress_out.extend(q.recentProgress or [])
        finally:
            q.stop()
    return q


def _local_bytes(path: str) -> Optional[int]:
    """Summed size of the files under a local directory (file: URI or
    plain path), following symlinks: ``handle_stream`` stages a
    single-file locator as a dir holding one symlink, which must size
    by its target. None when the path is not a local directory (a glob,
    a remote URI)."""
    parsed = urlparse(path)
    if parsed.scheme == "file":
        path = parsed.path
    elif parsed.scheme:
        return None
    if not os.path.isdir(path):
        return None
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path, followlinks=True)
        for f in files
    )


def _state_partitions(stream_df: DataFrame) -> Optional[int]:
    """State partitions for a bounded query over ``stream_df``: the rule
    AQE applies to a batch shuffle, ``ceil(input bytes / advisory
    partition size)`` clamped to [1, spark.sql.shuffle.partitions], with
    the input bytes summed over the file sources behind the plan's
    ``StreamingRelation`` leaves. None (keep the session value) when any
    leaf is not a local file source. A state store per partition
    commits delta and checksum files every batch, so a few KB of state
    on 8 stores is 8x the fixed commit work of one."""
    spark = stream_df.sparkSession
    total = 0
    leaves = stream_df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.nodeName() != "StreamingRelation":
            return None
        path = leaf.dataSource().options().get("path")
        size = _local_bytes(path.get()) if path.isDefined() else None
        if size is None:
            return None
        total += size
    advisory = spark._jsparkSession.sessionState().conf().getConf(
        spark._jvm.org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES()
    )
    session = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(session, math.ceil(total / advisory)))


def run_stream_to_memory(stream_df: DataFrame, name: str, output_mode: str = "append"):
    """Drive a bounded stream to completion into an in-memory table and
    return the query handle (caller reads ``spark.sql(f"SELECT * FROM
    {name}")``). Test helper; production sinks are files/kafka.

    The query runs ``availableNow`` on a fresh checkpoint, so it reads
    exactly the input present at start and fixes its state partition
    count now: ``spark.sql.shuffle.partitions`` is scoped to
    ``_state_partitions`` for it."""
    parts = _state_partitions(stream_df)
    conf = {} if parts is None else {"spark.sql.shuffle.partitions": str(parts)}
    with scoped_conf(stream_df.sparkSession, conf):
        return _drain(
            stream_df.sparkSession,
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True),
        )


# ---------------------------------------------------------------------------
# custom stateful operator: streaming sessionization via
# applyInPandasWithState (the batch twin is operators ts02)
# ---------------------------------------------------------------------------
SESSION_OUTPUT_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, n_events bigint"
)
SESSION_STATE_SCHEMA = "start long, last long, n long"


def sessionize_stateful(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming sessionizer: per-key state carries the open session
    (start, last-seen, count); a gap beyond ``gap_minutes`` closes and
    emits the previous session, and an event-time timeout flushes a
    session once the watermark passes its last event + gap (idle keys
    leave state — bounded at three longs per live key).

    The per-key kernel is VECTORIZED (guide §4.2): the key's batch
    timestamps sort once as an int64-µs numpy array and session
    boundaries are ``diff > gap`` cut points — the same
    close-and-reopen rule the original per-row loop applied, so the
    emitted (start, end, n) set is bit-identical, but the Python work
    per key is a handful of array ops instead of one interpreted
    iteration (plus a Timestamp object construction) per event.
    Measured on st29's 1500-key replay: the row loop was the dominant
    Python cost inside applyInPandasWithState."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000

    def fn(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start, unit="us")],
                    "session_end": [pd.Timestamp(last, unit="us")],
                    "n_events": [n],
                }
            )
            return
        start = last = n = None
        if state.exists:
            start, last, n = state.get
        # one sorted int64-µs array for the key's whole batch
        # (datetime64 unit narrowing truncates ns -> µs exactly like the
        # old per-row `Timestamp.value // 1000`)
        chunks = [
            pdf[ts_col].to_numpy().astype("datetime64[us]").astype(np.int64)
            for pdf in pdf_iter
        ]
        ts = (
            np.sort(np.concatenate(chunks))
            if chunks
            else np.empty(0, dtype=np.int64)
        )
        rows = []
        if ts.size:
            cuts = np.flatnonzero(np.diff(ts) > gap_us)
            lo = np.concatenate(([0], cuts + 1))
            hi = np.concatenate((cuts, [ts.size - 1]))
            segs = [
                (int(ts[a]), int(ts[b]), int(b - a + 1))
                for a, b in zip(lo, hi)
            ]
            if last is not None:
                if ts[0] - last <= gap_us:
                    # carried open session absorbs the first segment
                    _, l0, c0 = segs[0]
                    segs[0] = (start, l0, n + c0)
                else:
                    rows.append((user_id, start, last, n))
            rows.extend((user_id, s, e, c) for s, e, c in segs[:-1])
            start, last, n = segs[-1]
        if start is not None:
            state.update((int(start), int(last), int(n)))
            # flush when event-time watermark passes last + gap
            state.setTimeoutTimestamp(last // 1000 + gap_minutes * 60 * 1000)
        if rows:
            yield pd.DataFrame(
                {
                    "user_id": [r[0] for r in rows],
                    "session_start": [pd.Timestamp(r[1], unit="us") for r in rows],
                    "session_end": [pd.Timestamp(r[2], unit="us") for r in rows],
                    "n_events": [r[3] for r in rows],
                }
            )

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# foreachBatch operators: one micro-batch driver, two state layouts
# ---------------------------------------------------------------------------
def _state_table_metrics(state_dir: str) -> tuple:
    """(row count, byte size) of a parquet state table, read from file
    footers driver-side — no Spark job, so soak instrumentation does
    not perturb the batch walls it measures."""
    import pyarrow.parquet as pq

    rows, size = 0, 0
    for f in os.listdir(state_dir):
        p = os.path.join(state_dir, f)
        size += os.path.getsize(p)
        if f.endswith(".parquet"):
            rows += pq.read_metadata(p).num_rows
    return rows, size


def _drive(
    stream_df: DataFrame,
    state_base: str,
    batch_fn,
    read_back,
    clear,
    metrics: Optional[list] = None,
    output_mode: Optional[str] = None,
    feeds=(),
    progress_out: Optional[list] = None,
) -> DataFrame:
    """The micro-batch driver behind every ``foreachbatch_*`` operator.

    Clears ``<state_base>_ckpt`` and the ``clear`` dirs, runs
    ``batch_fn(batch_df, batch_id) -> [dirs written]`` on every
    micro-batch (``availableNow``, or the default trigger when ``feeds``
    are given — see ``foreachbatch_update_latest``) and returns
    ``read_back(spark)``. Exactly-once comes from the checkpointed
    source offsets plus per-batch writes that overwrite on retry. The
    layouts: ``_fold`` rewrites a set of state tables every batch,
    ``_append`` writes each batch's output to ``<state_base>_out/batch=N``.

    Result contract: the result is PINNED (``session.materialize``):
    a later call with the same ``state_base`` rmtree's these dirs, which
    would silently break a still-held lazy reader of them.

    Empty-source contract: when no micro-batch ran, ``batch_fn`` runs
    once on an empty static batch (id 0) before the read-back, so the
    result has 0 rows and the schema a non-empty run has.

    ``metrics``: when a list is passed, one dict per micro-batch is
    appended — {batch_id, wall_sec, state_rows, state_bytes}, summed
    over the dirs the batch wrote and read from their parquet FOOTERS
    (driver-side, no extra Spark job), the soak-test evidence that
    state stays flat across triggers."""
    spark = stream_df.sparkSession
    ckpt = state_base + "_ckpt"
    for d in (*clear, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    ran: List[int] = []

    def run(batch_df, batch_id: int) -> None:
        t0 = time.time()
        written = batch_fn(batch_df, batch_id)
        ran.append(batch_id)
        if metrics is not None:
            tables = [_state_table_metrics(d) for d in written]
            metrics.append(
                {
                    "batch_id": batch_id,
                    "wall_sec": round(time.time() - t0, 3),
                    "state_rows": sum(rows for rows, _ in tables),
                    "state_bytes": sum(size for _, size in tables),
                }
            )

    writer = stream_df.writeStream
    if output_mode:
        writer = writer.outputMode(output_mode)
    writer = writer.foreachBatch(run).option("checkpointLocation", ckpt)
    if not feeds:
        writer = writer.trigger(availableNow=True)
    _drain(spark, writer, feeds, progress_out)
    if not ran:
        batch_fn(spark.createDataFrame([], stream_df.schema), 0)
    return materialize(read_back(spark))


def _fold(
    stream_df: DataFrame, state_base: str, step, metrics: Optional[list] = None
) -> DataFrame:
    """Fold layout: ``step(batch_df, prev) -> (result, *carried)`` gets
    the previous batch's state tables read back (None on the first
    batch) and returns the new ones. Writes alternate between
    ``<state_base>_a`` and ``_b`` (write-new-then-swap, the
    atomic-publish contract): a batch reads the set the previous batch
    published and writes the other. Returns the final result table."""
    dirs = (state_base + "_a", state_base + "_b")
    published: List[List[str]] = []

    def fold_batch(batch_df, batch_id: int) -> List[str]:
        spark = batch_df.sparkSession
        prev = None
        if published:
            prev = tuple(read_parquet(spark, p) for p in published[-1])
        nxt = dirs[len(published) % 2]
        tables = step(batch_df, prev)
        paths = [f"{nxt}/{i}" for i in range(len(tables))]
        for table, path in zip(tables, paths):
            table.write.mode("overwrite").parquet(path)
        published.append(paths)
        return paths

    return _drive(
        stream_df,
        state_base,
        fold_batch,
        lambda spark: read_parquet(spark, published[-1][0]),
        dirs,
        metrics=metrics,
    )


def _append(
    stream_df: DataFrame,
    state_base: str,
    emit,
    finish=None,
    clear=(),
    output_mode: Optional[str] = None,
    feeds=(),
    progress_out: Optional[list] = None,
) -> DataFrame:
    """Append layout: ``emit(batch_df, batch_id) -> DataFrame`` is
    written to its own ``<state_base>_out/batch=N`` subdir (overwritten
    on retry, so idempotent per batch id). Nothing is merged, so the
    sink scales with output volume only. Returns ``finish(outputs)``
    over the union of every batch's output, which carries the
    ``batch`` id column; without ``finish`` that column is dropped.
    ``clear`` names further dirs the operator keeps its own state in."""
    out = state_base + "_out"

    def append_batch(batch_df, batch_id: int) -> List[str]:
        path = f"{out}/batch={batch_id}"
        # REBALANCE before the per-batch write: the emitted relation
        # inherits its producer's partitioning (e.g. a probe join's
        # shuffle-partition many near-empty slices), and writing it
        # as-is emits one tiny file per slice per batch — the
        # small-files trap twice over (slow batch commit now, slow
        # union read-back later). The AQE rebalance sizes the write
        # from real bytes: one file for a demo-scale batch,
        # advisory-sized files at volume (guide §6; measured on st27's
        # sibling sink: 40% off the stream wall vs the unhinted write,
        # while coalesce(1) instead SERIALIZED the upstream stateful
        # stage — 2x slower; in update mode coalesce(1) pulls the whole
        # stateful aggregation into one task). Update-mode emissions
        # are the CHANGED keys only, so a demo batch lands in one file
        # while a 100 TB batch still writes advisory-sized files.
        emit(batch_df, batch_id).hint("rebalance").write.mode("overwrite").parquet(path)
        return [path]

    def read_back(spark: SparkSession) -> DataFrame:
        # `batch=N` subdirs surface as a partition column on read-back —
        # an implementation detail of the idempotent layout, not output
        outputs = read_parquet(spark, out)
        return finish(outputs) if finish else outputs.drop("batch")

    return _drive(
        stream_df,
        state_base,
        append_batch,
        read_back,
        (out, *clear),
        output_mode=output_mode,
        feeds=feeds,
        progress_out=progress_out,
    )


def foreachbatch_upsert(
    stream_df: DataFrame,
    keys: List[str],
    version: str,
    state_base: str,
    tiebreak: Optional[str] = None,
) -> DataFrame:
    """Maintain a latest-record-per-key state table on disk across
    micro-batches via foreachBatch merge — the jar-free stand-in for a
    Delta MERGE sink. Each batch unions the previous state and keeps
    the top-ranked row per key (version DESC, tiebreak DESC) — the fold
    layout. Latest-wins with a total tie-break is merge-order
    independent, so the final state equals the batch ranking whatever
    the trigger boundaries.

    Returns the final state as a batch DataFrame."""
    order = [F.desc(version)] + ([F.desc(tiebreak)] if tiebreak else [])
    w = W.partitionBy(*keys).orderBy(*order)

    def step(batch_df, prev):
        merged = batch_df if prev is None else batch_df.unionByName(prev[0])
        latest = (
            merged.withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") == 1)
            .drop("__rn__")
        )
        return (latest,)

    return _fold(stream_df, state_base, step)


def foreachbatch_merge_counts(
    stream_df: DataFrame,
    keys: List[str],
    state_base: str,
    metrics: Optional[list] = None,
    value_col: Optional[str] = None,
) -> DataFrame:
    """Maintain EXACT per-key counts across micro-batches: each batch
    pre-aggregates its own slice (the map-side combine of a streaming
    count) and sum-merges it with the previous state table. Integer
    addition is associative and commutative, so the final counts equal
    the batch GROUP BY whatever the trigger boundaries — the streaming
    twin of a count rollup, maintained incrementally the way a
    production ingest keeps daily counters. State publishes through
    the fold layout's alternating-directory atomic swap; state size is
    O(|keys|), not O(stream) — the bounded-state property st22
    measures.

    ``value_col``: an integer column to keep an exact BIGINT sum ``s``
    of alongside the count — per-key (sum, count) pairs, merged the
    same way. ``metrics``: the driver's per-batch soak instrumentation
    (see ``_drive``).

    Returns the final state as a batch DataFrame (columns: keys + n,
    or keys + s + n with ``value_col``)."""
    sums = [F.sum(value_col).cast("bigint").alias("s")] if value_col else []
    cols = (["s"] if value_col else []) + ["n"]

    def step(batch_df, prev):
        part = batch_df.groupBy(*keys).agg(
            *sums, F.count("*").cast("bigint").alias("n")
        )
        if prev is not None:
            part = part.unionByName(prev[0])
        merged = part.groupBy(*keys).agg(
            *[F.sum(c).cast("bigint").alias(c) for c in cols]
        )
        return (merged,)

    return _fold(stream_df, state_base, step, metrics=metrics)


def foreachbatch_append(
    stream_df: DataFrame,
    transform,
    state_base: str,
    progress_out: Optional[list] = None,
) -> DataFrame:
    """Apply ``transform(batch_df) -> DataFrame`` to every micro-batch
    and APPEND the result to a parquet state dir (the append layout) —
    the sink shape for per-record/per-group work with NO cross-batch
    state (each input row's verdict depends only on its own batch plus
    broadcast statics). Unlike foreachbatch_upsert there is nothing to
    merge, so the sink scales with output volume only.
    ``progress_out``: see ``_drain`` (st29's provider-proof metrics).

    Returns the union of all batch outputs as a batch DataFrame."""
    return _append(
        stream_df,
        state_base,
        lambda batch_df, _: transform(batch_df),
        progress_out=progress_out,
    )


def foreachbatch_update_latest(
    stream_df: DataFrame,
    keys: List[str],
    state_base: str,
    feeds=(),
) -> DataFrame:
    """UPDATE-output-mode sink for streaming aggregations: each
    micro-batch emits only the keys whose aggregate CHANGED, so the
    current value of a key is its latest emission. Each batch appends
    its emissions under an idempotent ``batch=N`` subdir (the append
    layout) and the read-back keeps the max-batch-id row per key —
    merge-order independent because batch ids are totally ordered.

    ``feeds``: optional callables that make MORE source data available
    (e.g. copy the next arrival-chunk file into the source dir). When
    given, the query runs on the default micro-batch trigger and the
    stream is drained (processAllAvailable) after start and after
    every feed — each drain runs the data batch AND the no-new-data
    batch that COMMITS the advanced watermark, so the watermark
    entering feed k's batch is exactly max(event time through feed
    k-1) - delay, the documented one-batch-lag contract st27's oracle
    simulates. (availableNow + maxFilesPerTrigger does NOT give this:
    without empty commit batches between file batches the effective
    watermark lags one extra batch.)

    Returns the final state as a batch DataFrame."""
    w = W.partitionBy(*keys).orderBy(F.col("batch").desc())

    def latest(emitted: DataFrame) -> DataFrame:
        return (
            emitted.withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") == 1)
            .drop("__rn__", "batch")
        )

    return _append(
        stream_df,
        state_base,
        lambda batch_df, _: batch_df,
        finish=latest,
        output_mode="update",
        feeds=feeds,
    )


def foreachbatch_scd2(
    stream_df: DataFrame,
    key: str,
    attr: str,
    ts_col: str,
    tiebreak: str,
    state_base: str,
) -> DataFrame:
    """Incrementally maintain an SCD2 (type-2 slowly-changing-dimension)
    history across micro-batches — the streaming CDC-apply twin of the
    batch ts27 build. State is the history table itself (closed rows +
    one current row per key); each batch seeds the change-detection LAG
    with the key's CURRENT attribute, so only genuinely-changed values
    open a new version, the superseded current row closes at the new
    version's effective-from, and version numbers continue from the
    stored maximum. Per batch the work is one window over (key) across
    batch rows + current rows of touched keys — never a re-sort of
    history.

    Ordering contract (the CDC-apply contract): batches must arrive in
    event-time order per key, which the time-range-partitioned staging
    guarantees here and a log-compacted CDC feed (Kafka per-key
    ordering, Debezium) guarantees in production. Out-of-order feeds
    need a reconciliation pass instead — this operator asserts nothing
    and would interleave wrongly, exactly like any CDC applier.

    Returns the final history as a batch DataFrame."""

    def step(batch_df, prev):
        evs = batch_df.select(
            F.col(key).alias("k"),
            F.col(attr).alias("a"),
            F.col(ts_col).alias("t"),
            F.col(tiebreak).alias("tb"),
            F.lit(False).alias("is_seed"),
            F.lit(0).cast("bigint").alias("seed_version"),
        )
        if prev is not None:
            hist = prev[0]
            closed = hist.filter(F.col("eff_to").isNotNull())
            cur = hist.filter(F.col("eff_to").isNull())
            seeds = cur.select(
                F.col("k"),
                F.col("a"),
                F.col("eff_from").alias("t"),
                F.col("eff_tb").alias("tb"),
                F.lit(True).alias("is_seed"),
                F.col("version").alias("seed_version"),
            )
            seq = evs.unionByName(seeds)
        else:
            closed = None
            seq = evs
        w = W.partitionBy("k").orderBy("t", "tb")
        changes = (
            seq.withColumn("prev_a", F.lag("a").over(w))
            .filter(F.col("prev_a").isNull() | (F.col("prev_a") != F.col("a")))
            .drop("prev_a")
        )
        wc = W.partitionBy("k").orderBy("t", "tb")
        versioned = changes.select(
            "k",
            "a",
            F.col("t").alias("eff_from"),
            F.col("tb").alias("eff_tb"),
            F.lead("t").over(wc).alias("eff_to"),
            # Under the ordering contract the seed (stored current row)
            # sorts FIRST among a key's change rows, so with
            # rn = ROW_NUMBER over them: the seed gets back its stored
            # version (rn == 1), new rows continue from it, and a key
            # never seen before (no seed) numbers from 1:
            #   version = max_seed_version + rn - has_seed
            (
                F.max("seed_version").over(W.partitionBy("k"))
                + F.row_number().over(wc)
                - F.max(F.col("is_seed").cast("bigint")).over(W.partitionBy("k"))
            ).alias("version"),
        )
        out = versioned
        if closed is not None:
            out = closed.unionByName(versioned)
        return (out,)

    return _fold(stream_df, state_base, step)


def foreachbatch_first_seen(
    stream_df: DataFrame,
    make_grams,
    id_col: str,
    state_base: str,
) -> DataFrame:
    """Incremental first-occurrence novelty across micro-batches:
    state is the FIRST-SEEN REGISTRY (gram -> smallest id that contains
    it) — the relation an incremental curation pipeline persists so new
    snapshots never re-scan old corpora (d11's argument, applied to
    t24's novelty). The registry is APPEND-ONLY: because batches arrive
    in ascending ``id_col`` (the staged ingest guarantees it), a gram
    already present can never change owner, so each batch anti-joins
    its gram set against the registry and appends ONLY its genuinely
    new grams (one ``gen={batch_id}`` parquet subdir per trigger).
    Per-batch write cost is O(new grams) — total writes across the run
    are linear in distinct grams, where a merge-rewrite registry would
    re-write O(registry) every batch (super-linear total, the r12
    stress finding). Verdicts need no merged-registry re-read either: a
    batch doc's gram is novel iff it is absent from the prior registry
    AND this doc is the batch-minimum id for it. Verdicts go out
    through the append layout.

    ``make_grams(batch_df) -> DataFrame[(id, g)]`` distinct grams/doc.
    Returns the union of all batch verdicts as a batch DataFrame."""
    reg = state_base + "_reg"

    def verdicts(batch_df, batch_id: int) -> DataFrame:
        spark = batch_df.sparkSession
        grams = make_grams(batch_df)
        batch_first = grams.groupBy("g").agg(F.min("id").alias("first_id"))
        gens = os.path.isdir(reg) and any(
            e.startswith("gen=") for e in os.listdir(reg)
        )
        if gens:
            # One read-only scan of the registry; only the batch's NEW
            # grams survive (and get appended below).
            new = batch_first.join(
                read_parquet(spark, reg).select("g"), "g", "left_anti"
            )
        else:
            new = batch_first
        new.write.mode("overwrite").parquet(f"{reg}/gen={batch_id}")
        new_back = read_parquet(spark, f"{reg}/gen={batch_id}")
        return (
            grams.join(new_back, "g", "left")
            .groupBy("id")
            .agg(
                F.count("*").cast("bigint").alias("n_grams"),
                F.sum(F.when(F.col("first_id") == F.col("id"), 1).otherwise(0))
                .cast("bigint")
                .alias("n_novel"),
            )
        )

    return _append(stream_df, state_base, verdicts, clear=(reg,))


def foreachbatch_markov(
    stream_df: DataFrame,
    entity: str,
    state: str,
    ts_col: str,
    tiebreak: str,
    state_base: str,
) -> DataFrame:
    """Incrementally maintain a first-order Markov transition-count
    table across micro-batches — the streaming twin of the batch ts29
    build. State is (a) the transition-count table itself (src, dst,
    n — |state|^2-bounded, so the per-batch merge rewrite is
    constant-size) and (b) one LAST-EVENT row per entity, which seeds
    each batch's LEAD window so the cross-batch edge (stored last event
    -> first batch event) is counted exactly once: a seed's OUTGOING
    edge was by definition uncounted when it was stored, and its
    incoming edge was counted by the batch that stored it. Per batch
    the window runs over batch rows + seeds of touched entities —
    never a re-sort of history (st14's CDC-apply shape, same
    event-time ordering contract).

    Returns the final transition table (src, dst, n_trans) as a batch
    DataFrame."""

    def step(batch_df, prev):
        evs = batch_df.select(
            F.col(entity).alias("k"),
            F.col(state).alias("s"),
            F.col(ts_col).alias("t"),
            F.col(tiebreak).alias("tb"),
        )
        untouched = None
        if prev is not None:
            prev_last = prev[1]
            touched = evs.select("k").distinct()
            seq = evs.unionByName(prev_last.join(touched, "k", "left_semi"))
            untouched = prev_last.join(touched, "k", "left_anti")
        else:
            seq = evs
        w = W.partitionBy("k").orderBy("t", "tb")
        edges = (
            seq.withColumn("dst", F.lead("s").over(w))
            .filter(F.col("dst").isNotNull())
            .groupBy(F.col("s").alias("src"), "dst")
            .agg(F.count("*").cast("bigint").alias("n"))
        )
        if prev is not None:
            edges = (
                edges.unionByName(prev[0])
                .groupBy("src", "dst")
                .agg(F.sum("n").cast("bigint").alias("n"))
            )
        # one surviving row per touched entity: the (t, tb)-max event;
        # untouched entities carry their stored row forward
        wl = W.partitionBy("k").orderBy(F.col("t").desc(), F.col("tb").desc())
        last = (
            seq.withColumn("__r", F.row_number().over(wl))
            .filter(F.col("__r") == 1)
            .drop("__r")
        )
        if untouched is not None:
            last = last.unionByName(untouched)
        return edges, last

    return _fold(stream_df, state_base, step).select(
        "src", "dst", F.col("n").alias("n_trans")
    )


def foreachbatch_funnel(
    stream_df: DataFrame,
    entity: str,
    type_col: str,
    ts_col: str,
    steps: List[str],
    state_base: str,
) -> DataFrame:
    """Incrementally maintain per-entity funnel state — the first
    completion timestamp of each ordered step (step k must happen
    strictly AFTER the entity's first completion of step k-1) — across
    micro-batches: the streaming twin of the batch ts32 build. State is
    ONE row per entity (t1..tn, monotone: each is set at most once and
    never changes). Correctness leans on the event-time-ordered ingest
    contract (st14/st16's staging): every event in batch k+1 is >= every
    event in batch k, so a stored t_{k-1} can never be lowered by a
    later batch, and the first QUALIFYING step-k event is found by the
    batch that carries it — a candidate in an earlier batch would have
    timestamp <= t_{k-1} and fails the strict inequality in both
    engines. Per batch each step is one type-filtered per-entity MIN
    joined to the prior state; the state rewrite is one row per entity
    (st14's compaction shape). Returns the final state as a batch
    DataFrame (columns: entity, t1..tn)."""
    tcols = [f"t{i + 1}" for i in range(len(steps))]

    def step(batch_df, prev):
        evs = batch_df.select(
            F.col(entity).alias("k"),
            F.col(type_col).alias("s"),
            F.col(ts_col).alias("t"),
        )
        if prev is not None:
            st = prev[0]
        else:
            st = evs.select("k").limit(0)
            for c in tcols:
                st = st.withColumn(c, F.col("k").cast("timestamp"))
        for i, name in enumerate(steps):
            tc = tcols[i]
            cand = evs.filter(F.col("s") == name)
            if i == 0:
                got = cand.groupBy("k").agg(F.min("t").alias("__new"))
                st = st.join(got, "k", "full_outer")
            else:
                # only events strictly after the (possibly batch-new)
                # previous-step timestamp qualify
                got = (
                    cand.join(st.select("k", tcols[i - 1]), "k")
                    .filter(F.col("t") > F.col(tcols[i - 1]))
                    .groupBy("k")
                    .agg(F.min("t").alias("__new"))
                )
                st = st.join(got, "k", "left")
            st = st.withColumn(tc, F.coalesce(F.col(tc), F.col("__new"))).drop(
                "__new"
            )
        return (st.select("k", *tcols),)

    return _fold(stream_df, state_base, step)


def foreachbatch_streaks(
    stream_df: DataFrame,
    entity: str,
    ts_col: str,
    state_base: str,
) -> DataFrame:
    """Incrementally maintain each entity's consecutive-active-day
    streak state across micro-batches — the streaming twin of the
    batch ts35 gaps-and-islands build. State is ONE row per entity:
    (last_day, cur_run, best_run). Each batch reduces to its distinct
    (entity, day) pairs, seeds every touched entity's walk with the
    stored last_day (flagged, deduped by MAX so a same-day re-arrival
    never double-counts), numbers the batch-local islands with
    entity-partitioned windows, and credits the island containing the
    seed with the stored run's prior length (cur_run - 1; the seed day
    itself is counted once by the island). The event-time-ordered
    ingest contract (st14/st16's) guarantees batch days never precede
    the stored last_day, so the cross-batch join of two runs is always
    head-of-batch against tail-of-state. Per batch the windows run
    over batch rows + one seed row per touched entity — never a
    re-sort of history.

    Returns the final per-entity state (entity, last_day, cur_run,
    best_run) as a batch DataFrame."""

    def step(batch_df, prev):
        days = (
            batch_df.select(
                F.col(entity).alias("k"),
                F.floor(F.unix_micros(F.col(ts_col)).cast("double") / 86400000000.0)
                .cast("bigint")
                .alias("day"),
            )
            .distinct()
            .withColumn("is_seed", F.lit(0))
        )
        untouched = None
        carried = None
        if prev is not None:
            touched = days.select("k").distinct()
            carried = prev[0].join(touched, "k", "left_semi")
            untouched = prev[0].join(touched, "k", "left_anti")
            seeds = carried.select(
                "k", F.col("last_day").alias("day"), F.lit(1).alias("is_seed")
            )
            days = days.unionByName(seeds)
        merged = days.groupBy("k", "day").agg(F.max("is_seed").alias("is_seed"))
        w = W.partitionBy("k").orderBy("day")
        isl = merged.withColumn("__prev__", F.lag("day").over(w)).withColumn(
            "__isl__",
            F.sum(
                F.when(
                    F.col("__prev__").isNull() | (F.col("day") - F.col("__prev__") > 1),
                    1,
                ).otherwise(0)
            ).over(w.rowsBetween(W.unboundedPreceding, 0)),
        )
        islands = isl.groupBy("k", "__isl__").agg(
            F.count("*").cast("bigint").alias("len"),
            F.max("day").cast("bigint").alias("max_day"),
            F.max("is_seed").alias("has_seed"),
        )
        if carried is not None:
            islands = islands.join(
                carried.select("k", "cur_run", "best_run"), "k", "left"
            )
        else:
            islands = islands.withColumn("cur_run", F.lit(None).cast("bigint")).withColumn(
                "best_run", F.lit(None).cast("bigint")
            )
        eff = islands.withColumn(
            "eff_len",
            F.col("len")
            + F.when(
                (F.col("has_seed") == 1) & F.col("cur_run").isNotNull(),
                F.col("cur_run") - 1,
            ).otherwise(0),
        )
        wl = W.partitionBy("k").orderBy(F.col("__isl__").desc())
        state = (
            eff.withColumn("__r__", F.row_number().over(wl))
            .groupBy("k")
            .agg(
                F.max("max_day").cast("bigint").alias("last_day"),
                F.max(F.when(F.col("__r__") == 1, F.col("eff_len")))
                .cast("bigint")
                .alias("cur_run"),
                F.greatest(
                    F.max("eff_len"), F.coalesce(F.max("best_run"), F.lit(0))
                )
                .cast("bigint")
                .alias("best_run"),
            )
        )
        if untouched is not None:
            state = state.unionByName(
                untouched.select("k", "last_day", "cur_run", "best_run")
            )
        return (state,)

    return _fold(stream_df, state_base, step).select(
        F.col("k").alias(entity), "last_day", "cur_run", "best_run"
    )
