"""Streaming operator exposed through the graded query surface.

``st01_stream_window`` drives a real Structured Streaming query
(watermark + tumbling window over the events table, availableNow
trigger) to completion and returns the result as a DataFrame. It has no
``oracle_sql`` entry — streaming execution is not SQL-expressible in
DuckDB — so the driver records the weaker rows-only check, as the
contract allows. Its batch twin ts01 *is* oracle-checked; the streaming
row counts reconcile against it in tests/test_streaming.py.
"""

from __future__ import annotations

import os
from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import materialize, memo, release, scratch
from ..sources.parquet import read_parquet
from ..sqlfront.rewrite import rewrite_sql
from .tables import load_tables, table_path

QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: Dict[str, str] = {}


def st01(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stream import run_stream_to_memory, stream_tap, windowed_agg

    staged, schema = _staged_events(spark, sf_dir)
    stream = stream_tap(spark, staged, schema)
    agg = windowed_agg(stream, "ts", window_len="5 minutes", group_cols=["event_type"])
    name = "st01_out"
    run_stream_to_memory(agg, name, output_mode="complete")
    return (
        spark.table(name)
        .select("window_start", "window_end", "event_type", "n_events", "total_value")
        .orderBy("window_start", "event_type")
    )


QUERIES["st01_stream_window"] = st01
# The streaming RESULT is SQL-expressible even though the execution is
# not: an availableNow complete-mode run over a bounded source equals
# the batch windowed aggregation — so st01 gets a full value oracle
# (decimal-summed, see streaming.windowed_agg).
ORACLES["st01_stream_window"] = """
    SELECT
      make_timestamp(((epoch_us(ts) // 1000000) // 300) * 300 * 1000000) AS window_start,
      make_timestamp((((epoch_us(ts) // 1000000) // 300) * 300 + 300) * 1000000) AS window_end,
      event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    ORDER BY window_start, event_type
"""


def _staged(spark: SparkSession, sf_dir: str, name: str, table: str, write) -> tuple:
    """The session's staged copy ``name`` of one sf_dir table for the
    streaming file source: ``write(df, path)`` fills a fresh scratch dir
    once per session and table fingerprint, and every later call reuses
    it (a durable memo: staged copies survive clear_shared_caches, so
    bench passes never re-stage). Returns (path, schema)."""
    t = load_tables(spark, sf_dir)

    def stage() -> tuple:
        path = scratch(name + "_")
        write(t[table], path)
        return path, read_parquet(spark, path).schema

    return memo(spark, name, [table_path(sf_dir, table)], stage, durable=True)


def _staged_events(spark: SparkSession, sf_dir: str) -> tuple:
    """Stage a µs-normalized events copy for the streaming file source
    (shared by st01/st02); returns (path, schema). Watermarks
    hard-require TIMESTAMP, so NTZ columns are cast (TimestampType(),
    not the "timestamp" alias, which a host session may point at NTZ)."""

    def write(df: DataFrame, path: str) -> None:
        # range-partition by event time (8 files): ascending part files
        # mimic a real time-sliced ingest directory, throttled readers
        # (st07) genuinely execute multiple micro-batches, and never see
        # data arrive behind the watermark
        _as_ltz(df).repartitionByRange(8, "ts").write.mode("overwrite").parquet(path)

    return _staged(spark, sf_dir, "stream_events", "events", write)


def _as_ltz(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to TIMESTAMP (watermarks require it)."""
    from pyspark.sql.types import TimestampType

    for f in df.schema.fields:
        if f.dataType.typeName() == "timestamp_ntz":
            df = df.withColumn(f.name, F.col(f.name).cast(TimestampType()))
    return df


def st02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup, ORACLE-CHECKED on its key projection: which
    physical row survives dropDuplicates depends on arrival order
    (partition/trigger dependent), but the SET of surviving keys is
    exactly the distinct key set — so projecting to the keys makes a
    real streaming-state execution fully value-checkable against
    batch SELECT DISTINCT. State is bounded by the watermark horizon
    (reference has no streaming surface; extension per SURVEY §7)."""
    from ..streaming.stream import run_stream_to_memory, stream_tap, streaming_dedup

    staged, schema = _staged_events(spark, sf_dir)
    stream = stream_tap(spark, staged, schema)
    deduped = streaming_dedup(stream, keys=["user_id", "event_type"], ts_col="ts")
    name = "st02_out"
    run_stream_to_memory(deduped, name, output_mode="append")
    return (
        spark.table(name)
        .select("user_id", "event_type")
        .orderBy("user_id", "event_type")
    )


QUERIES["st02_stream_dedup"] = st02
ORACLES["st02_stream_dedup"] = """
    SELECT DISTINCT user_id, event_type
    FROM events
    ORDER BY user_id, event_type
"""


def st03(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming windowed DISTINCT-user counts, ORACLE-CHECKED.
    COUNT(DISTINCT) is unsupported inside streaming aggregations, so
    this runs the canonical two-operator composition: watermarked
    dropDuplicates on (user_id, window bucket) feeding a windowed
    count — two stateful operators chained in one streaming query.
    The surviving (user, bucket) SET is deterministic (st02's
    argument), so the per-window counts are too: full value oracle
    against batch COUNT(DISTINCT user_id)."""
    from pyspark.sql import functions as F

    from ..streaming.stream import run_stream_to_memory, stream_tap

    staged, schema = _staged_events(spark, sf_dir)
    stream = stream_tap(spark, staged, schema)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .withColumn("bucket", F.window("ts", "15 minutes"))
        .dropDuplicates(subset=["user_id", "bucket"])
        .groupBy("bucket")
        .agg(F.count("*").alias("n_users"))
    )
    name = "st03_out"
    run_stream_to_memory(agg, name, output_mode="complete")
    return (
        spark.table(name)
        .select(
            F.col("bucket.start").alias("window_start"),
            F.col("bucket.end").alias("window_end"),
            "n_users",
        )
        .orderBy("window_start")
    )


QUERIES["st03_stream_distinct_users"] = st03
ORACLES["st03_stream_distinct_users"] = """
    SELECT
      make_timestamp(((epoch_us(ts) // 1000000) // 900) * 900 * 1000000) AS window_start,
      make_timestamp((((epoch_us(ts) // 1000000) // 900) * 900 + 900) * 1000000) AS window_end,
      COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start
"""


def m01(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary round-trip, ORACLE-CHECKED: the synthetic
    payloads are md5-derived bytes DuckDB can reproduce with
    repeat(unhex(md5(...))), and n_bytes is measured in pandas from the
    real bytes after the Arrow/mapInPandas hop — a cross-engine
    verification that binary payloads survive the pipeline intact.
    (sha256/feature columns are graded rows-only in m02: DuckDB's
    sha256 only accepts VARCHAR, so the byte-hash isn't oracle-
    expressible; determinism is pytest-asserted.)"""
    from .multimodal import extract_features, synth_media

    media = synth_media(spark, 120)
    return (
        extract_features(media)
        .select("media_id", "kind", "n_bytes")
        .orderBy("media_id")
    )


QUERIES["m01_multimodal_features"] = m01
ORACLES["m01_multimodal_features"] = """
    SELECT i AS media_id,
           CASE CAST(i % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           octet_length(repeat(unhex(md5(CAST(i AS VARCHAR))), CAST(4 + i % 5 AS INT))) AS n_bytes
    FROM range(120) t(i)
    ORDER BY media_id
"""


def m02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full multimodal feature surface (sha256 + fixed-width features
    via mapInPandas), ORACLE-CHECKED cell-exact: DuckDB 1.0's sha256()
    only accepts VARCHAR so the blob hash isn't SQL-computable, but the
    synthetic payload is a pure function of media_id — so the oracle is
    a golden VALUES relation computed once in plain Python (hashlib +
    struct, no Spark anywhere) from the same spec. The comparison then
    proves the whole Spark path — Arrow binary transfer, mapInPandas
    kernel, %.6f formatting — reproduces the spec byte-for-byte."""
    from .multimodal import extract_features, synth_media

    media = synth_media(spark, 120)
    feats = extract_features(media)
    # serialize the float-array feature for the graded projection (the
    # harness canonicalizes via pandas, which can't hash lists); fixed
    # 6-decimal printf formatting keeps the string deterministic with
    # no locale separators (format_number inserts thousands commas).
    feat_str = F.concat_ws(
        ",", F.transform("feature", lambda x: F.format_string("%.6f", x.cast("double")))
    )
    return feats.select(
        "media_id", "kind", "n_bytes", "sha256", feat_str.alias("feature_csv")
    ).orderBy("media_id")


QUERIES["m02_multimodal_feature_surface"] = m02


def _m02_golden_sql(n: int = 120) -> str:
    """Expected m02 output as a DuckDB VALUES relation, derived from the
    synth_media spec (payload = md5(str(i)) * (4 + i % 5)) with stdlib
    hashlib/struct only — an independent reference implementation of the
    kernel math, evaluated at import time (120 sha256s, microseconds)."""
    import hashlib as _h
    import struct as _s
    from decimal import ROUND_HALF_UP, Decimal

    from .multimodal import FEATURE_DIM

    def _fmt6(v: float) -> str:
        # the pipeline stores features as float32 and Java's %.6f rounds
        # HALF_UP on the exact binary value — mirror both precisely
        f32 = _s.unpack(">f", _s.pack(">f", v))[0]
        return str(Decimal(f32).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    kinds = ["image", "audio", "video"]
    rows = []
    for i in range(n):
        payload = _h.md5(str(i).encode()).digest() * (4 + i % 5)
        digest = _h.sha256(payload).digest()
        feats = [
            _s.unpack(">I", digest[j * 4 : j * 4 + 4])[0] / 2**32
            for j in range(FEATURE_DIM)
        ]
        csv = ",".join(_fmt6(v) for v in feats)
        rows.append(
            f"({i}, '{kinds[i % 3]}', {len(payload)}, "
            f"'{_h.sha256(payload).hexdigest()}', '{csv}')"
        )
    values = ",\n      ".join(rows)
    return f"""
    SELECT CAST(media_id AS BIGINT) AS media_id, kind,
           CAST(n_bytes AS BIGINT) AS n_bytes, sha256, feature_csv
    FROM (VALUES
      {values}
    ) AS t(media_id, kind, n_bytes, sha256, feature_csv)
    ORDER BY media_id
    """


ORACLES["m02_multimodal_feature_surface"] = _m02_golden_sql()


def st04(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization (custom stateful operator via
    applyInPandasWithState), ORACLE-CHECKED. The sessionizer emits a
    session when a later event closes it (gap > 30 min); with the
    watermark horizon set beyond the data's time span, event-time
    timeouts never fire, so the emitted set is EXACTLY the gap-closed
    sessions — i.e. every session except each user's last. That set is
    deterministic (session boundaries depend only on each key's
    timestamp multiset, not arrival order) and batch-computable, so the
    streaming execution of a custom stateful operator gets a full value
    oracle. st03's argument covers why per-key processing is exact;
    state is three longs per live key."""
    from ..streaming.stream import run_stream_to_memory, sessionize_stateful, stream_tap

    staged, schema = _staged_events(spark, sf_dir)
    stream = stream_tap(spark, staged, schema)
    sessions = sessionize_stateful(
        stream, gap_minutes=30, watermark="3650 days"
    )
    name = "st04_out"
    run_stream_to_memory(sessions, name, output_mode="append")
    return (
        spark.table(name)
        .select("user_id", "session_start", "session_end", "n_events")
        .orderBy("user_id", "session_start")
    )


QUERIES["st04_stream_sessions"] = st04
ORACLES["st04_stream_sessions"] = """
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    ),
    agg AS (
      SELECT user_id, sid, MIN(ts) AS session_start, MAX(ts) AS session_end,
             COUNT(*) AS n_events
      FROM sess GROUP BY user_id, sid
    )
    SELECT user_id, session_start, session_end, n_events
    FROM agg
    WHERE sid < (SELECT MAX(sid) FROM agg a2 WHERE a2.user_id = agg.user_id)
    ORDER BY user_id, session_start
"""


def st05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join, ORACLE-CHECKED: the event stream is enriched
    against a static dimension (per-event_type integer weights derived
    deterministically from md5 — the stand-in for a dimension table on
    a real cluster) and then windowed-aggregated. Spark broadcasts the
    static side into every micro-batch; this is THE pattern for
    enriching a 100 TB/day event stream against reference data without
    shuffling the stream.

    Determinism: the weighted sum keeps streaming state exact — value
    is cast to DECIMAL before multiplying by the INTEGER weight, so the
    state accumulation is associative whatever the trigger/partition
    order; the single division by 2^24 happens once at emit in IEEE
    doubles. Same rule as st01 (PERF.md)."""
    from pyspark.sql import functions as F

    from ..streaming.stream import run_stream_to_memory, stream_tap

    staged, schema = _staged_events(spark, sf_dir)
    dim = spark.sql("""
      SELECT event_type,
             CAST(conv(substring(md5(event_type), 1, 6), 16, 10) AS BIGINT) AS w
      FROM (SELECT DISTINCT event_type FROM events)
    """)
    stream = stream_tap(spark, staged, schema)
    joined = stream.join(F.broadcast(dim), "event_type")
    agg = (
        joined.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "15 minutes"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)") * F.col("w")).alias("wsum"),
        )
    )
    name = "st05_out"
    run_stream_to_memory(agg, name, output_mode="complete")
    return (
        spark.table(name)
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            F.round(F.col("wsum").cast("double") / F.lit(16777216.0), 6).alias("weighted_value"),
        )
        .orderBy("window_start", "event_type")
    )


QUERIES["st05_stream_static_join"] = st05
ORACLES["st05_stream_static_join"] = """
    WITH dim AS (
      SELECT event_type,
             CAST(('0x' || substring(md5(event_type), 1, 6)) AS BIGINT) AS w
      FROM (SELECT DISTINCT event_type FROM events)
    )
    SELECT
      make_timestamp(((epoch_us(ts) // 1000000) // 900) * 900 * 1000000) AS window_start,
      make_timestamp((((epoch_us(ts) // 1000000) // 900) * 900 + 900) * 1000000) AS window_end,
      e.event_type AS event_type,
      COUNT(*) AS n_events,
      ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(w AS DECIMAL(8,0))) AS DOUBLE) / 16777216.0, 6) AS weighted_value
    FROM events e JOIN dim d ON d.event_type = e.event_type
    GROUP BY 1, 2, 3
    ORDER BY window_start, event_type
"""


def st06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming continuous aggregate (the hypertable rollup pattern,
    ORACLE-CHECKED): a real streaming query maintains the finest
    (1-minute) rollup; coarser resolutions re-aggregate the minute
    table instead of ever rescanning the raw stream — ts08's cascade
    with a streaming base. Exactness argument: minute totals accumulate
    in DECIMAL inside the streaming state (associative, trigger-order
    independent), are emitted as doubles < 2^53 (exactly representable),
    and re-enter DECIMAL for the hour merge — so the hour totals equal
    the batch decimal sum over raw events bit-for-bit."""
    from ..streaming.stream import run_stream_to_memory, stream_tap, windowed_agg

    staged, schema = _staged_events(spark, sf_dir)
    stream = stream_tap(spark, staged, schema)
    minute = windowed_agg(stream, "ts", window_len="1 minute", group_cols=["event_type"])
    run_stream_to_memory(minute, "st06_minute", output_mode="complete")
    return spark.sql("""
      SELECT timestamp_seconds(((unix_micros(window_start) div 1000000) div 3600) * 3600)
               AS bucket,
             event_type,
             CAST(SUM(n_events) AS BIGINT) AS n_events,
             CAST(SUM(CAST(total_value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
             COUNT(*) AS n_minutes
      FROM st06_minute
      GROUP BY 1, 2
      ORDER BY bucket, event_type
    """)


QUERIES["st06_stream_rollup"] = st06
ORACLES["st06_stream_rollup"] = """
    SELECT make_timestamp(((epoch_us(ts) // 1000000) // 3600) * 3600 * 1000000) AS bucket,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
           COUNT(DISTINCT (epoch_us(ts) // 1000000) // 60) AS n_minutes
    FROM events
    GROUP BY 1, 2
    ORDER BY bucket, event_type
"""


def st07(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-trigger incremental ingestion, ORACLE-CHECKED: same
    windowed aggregation as st01 but the file source is throttled
    (maxFilesPerTrigger) so the bounded run executes as a SEQUENCE of
    micro-batches — the aggregation state must accumulate across
    triggers instead of seeing all data at once. Complete-mode output
    after the final trigger must equal the batch aggregation exactly
    (decimal state is associative, so trigger boundaries cannot change
    totals). This is the incremental-backfill execution shape a
    production ingest runs every day."""
    from ..streaming.stream import run_stream_to_memory, stream_tap, windowed_agg

    staged, schema = _staged_events(spark, sf_dir)
    stream = stream_tap(spark, staged, schema, max_files_per_trigger=4)
    agg = windowed_agg(stream, "ts", window_len="5 minutes", group_cols=["event_type"])
    run_stream_to_memory(agg, "st07_out", output_mode="complete")
    return (
        spark.table("st07_out")
        .select("window_start", "window_end", "event_type", "n_events", "total_value")
        .orderBy("window_start", "event_type")
    )


QUERIES["st07_stream_incremental"] = st07
ORACLES["st07_stream_incremental"] = ORACLES["st01_stream_window"]


def m03(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing, ORACLE-CHECKED cell-exact: the
    frame explode (operators/multimodal.frame_sample — every 2nd frame
    from the metadata frame count) plus a deterministic per-frame key
    (md5 over media_id-frame_no) DuckDB reproduces from the synthetic
    metadata rule. Grades the explode contract end-to-end: which
    frames, per which media, with stable per-frame identities — the
    row shape a real frame-decoder (stubbed; see multimodal.py) would
    attach its tensors to. Per-frame rows carry only ids/keys, so the
    post-explode shuffle moves bytes per frame, not media blobs."""
    from pyspark.sql import functions as F

    from .multimodal import frame_sample, synth_media

    media = synth_media(spark, 120)
    frames = frame_sample(media, every_n=2)
    return (
        frames.select(
            "media_id",
            F.col("frame_no").cast("long").alias("frame_no"),
            F.md5(F.concat_ws("-", "media_id", "frame_no")).alias("frame_key"),
        )
        .orderBy("media_id", "frame_no")
    )


QUERIES["m03_frame_sample_keys"] = m03
ORACLES["m03_frame_sample_keys"] = """
    WITH vids AS (
      SELECT i AS media_id, CAST(8 + i % 7 AS INT) AS n_frames
      FROM range(120) t(i) WHERE i % 3 = 2
    ),
    frames AS (
      SELECT media_id, unnest(range(0, n_frames, 2)) AS frame_no FROM vids
    )
    SELECT media_id, CAST(frame_no AS BIGINT) AS frame_no,
           md5(CAST(media_id AS VARCHAR) || '-' || CAST(frame_no AS VARCHAR)) AS frame_key
    FROM frames
    ORDER BY media_id, frame_no
"""


def st08(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join, ORACLE-CHECKED: click-to-view
    attribution — every click joins the views of the SAME user in the
    preceding 2 hours. Both sides are real file-source streams with
    watermarks and a time-range join condition, the one shape where
    Spark can bound join state (each side's buffer ages out once the
    other side's watermark passes the interval). On a cluster this is
    the canonical two-firehose pattern (impressions x conversions);
    state stays O(users x window), not O(stream).

    Determinism: an availableNow run over the bounded staged source
    processes every file before the final watermark emission, so the
    joined SET equals the batch interval join exactly; per-user lag
    sums are integer microseconds (associative), divided once at emit.
    """
    from ..streaming.stream import run_stream_to_memory, stream_tap

    staged, schema = _staged_events(spark, sf_dir)
    views = (
        stream_tap(spark, staged, schema)
        .filter(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "3 hours")
    )
    clicks = (
        stream_tap(spark, staged, schema)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user_id"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "3 hours")
    )
    pairs = views.join(
        clicks,
        (F.col("c_user_id") == F.col("user_id"))
        & (F.col("click_ts") > F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr("INTERVAL 2 HOURS")),
        "inner",
    )
    name = "st08_out"
    run_stream_to_memory(pairs, name, output_mode="append")
    lag = F.unix_micros(F.col("click_ts")) - F.unix_micros(F.col("view_ts"))
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_attributed"),
            (F.sum(lag).cast("double") / F.count("*") / F.lit(60000000.0)).alias(
                "avg_lag_minutes"
            ),
        )
        .orderBy("user_id")
    )


QUERIES["st08_stream_stream_join"] = st08
# The RESULT is SQL-expressible (bounded availableNow run == batch
# interval join) even though the execution is a real watermarked
# stream-stream join.
ORACLES["st08_stream_stream_join"] = """
    SELECT v.user_id AS user_id,
           COUNT(*) AS n_attributed,
           CAST(SUM(epoch_us(c.ts) - epoch_us(v.ts)) AS DOUBLE) / COUNT(*) / 60000000.0
             AS avg_lag_minutes
    FROM events v
    JOIN events c ON c.user_id = v.user_id
     AND v.event_type = 'view' AND c.event_type = 'click'
     AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 2 HOUR
    GROUP BY v.user_id
    ORDER BY user_id
"""


def st09(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch keyed upsert, ORACLE-CHECKED: the stream maintains
    a latest-record-per-(user, event_type) state table on disk across
    real micro-batches (throttled reader -> multiple triggers) via the
    reusable ``foreachbatch_upsert`` streaming operator (also a
    declarative ``kind: stream`` op). Latest-wins with a total
    tie-break is merge-order independent, so the final state equals the
    batch ranking over all events."""
    from ..streaming.stream import foreachbatch_upsert, stream_tap

    staged, schema = _staged_events(spark, sf_dir)
    base = staged + "_st09_state"
    stream = stream_tap(spark, staged, schema, max_files_per_trigger=4)
    final = foreachbatch_upsert(
        stream, keys=["user_id", "event_type"], version="ts", tiebreak="event_id",
        state_base=base,
    )
    return (
        final.select(
            "user_id",
            "event_type",
            F.col("ts").alias("last_ts"),
            F.col("value").alias("last_value"),
        )
        .orderBy("user_id", "event_type")
    )


QUERIES["st09_foreachbatch_upsert"] = st09
# Latest-wins keyed state after ALL triggers == batch ranking dedup.
ORACLES["st09_foreachbatch_upsert"] = """
    SELECT user_id, event_type, ts AS last_ts, value AS last_value
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts DESC, event_id DESC) = 1
    ORDER BY user_id, event_type
"""


def m04(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image patch-grid contract, ORACLE-CHECKED cell-exact: byte-range
    patches cut from real binary payloads inside mapInPandas must equal
    the oracle's hex-domain slicing of the same deterministically
    reconstructed payloads — proving the bytes survive the Arrow hop
    and the slicing arithmetic is position-exact."""
    from .multimodal import patch_grid, synth_media

    media = synth_media(spark, 120)
    return patch_grid(media).orderBy("media_id", "patch_no")


QUERIES["m04_patch_grid"] = m04
# payload(i) = md5(str(i)) digest repeated (4 + i%5) times; images are
# i % 3 == 0. Hex domain: 2 hex chars per byte.
ORACLES["m04_patch_grid"] = """
    WITH imgs AS (
      SELECT i AS media_id,
             upper(repeat(md5(CAST(i AS VARCHAR)), CAST(4 + i % 5 AS INT))) AS hex_payload
      FROM range(120) t(i) WHERE i % 3 = 0
    ),
    p AS (SELECT unnest(range(0, 4)) AS patch_no)
    SELECT media_id,
           CAST(p.patch_no AS INT) AS patch_no,
           CAST((length(hex_payload) / 2) // 4 AS BIGINT) AS patch_bytes,
           substring(hex_payload,
                     CAST(p.patch_no * ((length(hex_payload) / 2) // 4) * 2 + 1 AS BIGINT),
                     CAST(((length(hex_payload) / 2) // 4) * 2 AS BIGINT)) AS patch_hex
    FROM imgs CROSS JOIN p
    ORDER BY media_id, patch_no
"""


def m05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio frame-energy contract, ORACLE-CHECKED cell-exact: the
    mapInPandas PCM kernel (overlapping 32-byte windows, hop 16,
    integer energy/peak + e3-quantized RMS) must equal the oracle's
    hex-domain reconstruction of the same bytes — per-sample arithmetic
    over real binary payloads across the Arrow hop."""
    from .multimodal import audio_frame_energy, synth_media

    media = synth_media(spark, 120)
    return audio_frame_energy(media).orderBy("media_id", "frame_no")


QUERIES["m05_audio_frame_energy"] = m05
# payload(i) = md5(str(i)) digest repeated (4 + i%5) times; audio is
# i % 3 == 1. Hex domain: byte j = 2 hex chars at position 2j+1;
# strpos against the hex alphabet converts a nibble without unhex
# (DuckDB blobs can't do per-byte integer reads directly).
ORACLES["m05_audio_frame_energy"] = """
    WITH aud AS (
      SELECT i AS media_id,
             repeat(md5(CAST(i AS VARCHAR)), CAST(4 + i % 5 AS INT)) AS hp
      FROM range(120) t(i) WHERE i % 3 = 1
    ),
    fr AS (
      SELECT media_id, hp,
             unnest(range(0, CAST((length(hp) // 2 - 32) // 16 + 1 AS BIGINT))) AS frame_no
      FROM aud
    ),
    samp AS (
      SELECT media_id, frame_no,
             (strpos('0123456789abcdef',
                     substring(hp, CAST((frame_no * 16 + j) * 2 + 1 AS BIGINT), 1)) - 1) * 16
             + (strpos('0123456789abcdef',
                       substring(hp, CAST((frame_no * 16 + j) * 2 + 2 AS BIGINT), 1)) - 1)
               - 128 AS s
      FROM fr CROSS JOIN (SELECT unnest(range(0, 32)) AS j) w
    )
    SELECT media_id,
           CAST(frame_no AS INT) AS frame_no,
           CAST(SUM(s * s) AS BIGINT) AS energy,
           CAST(MAX(abs(s)) AS BIGINT) AS peak,
           CAST(floor(sqrt(CAST(SUM(s * s) AS DOUBLE) / 32.0) * 1000) AS BIGINT) AS rms_e3
    FROM samp GROUP BY media_id, frame_no
    ORDER BY media_id, frame_no
"""


def st10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark — the production dedup operator
    for at-least-once ingest (Spark 3.5+): unlike plain dropDuplicates,
    its per-key state EXPIRES once the watermark passes the key's first
    arrival + horizon, so state is bounded at 100 TB/day instead of
    growing forever. Graded like st02: with the horizon set beyond the
    staged data's time span no key can re-emit, so the surviving key
    SET equals batch DISTINCT exactly — a real watermark-TTL'd state
    execution with a full value oracle."""
    from ..streaming.stream import run_stream_to_memory, stream_tap

    staged, schema = _staged_events(spark, sf_dir)
    stream = stream_tap(spark, staged, schema)
    deduped = (
        stream.withWatermark("ts", "60 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
    )
    name = "st10_out"
    run_stream_to_memory(deduped, name, output_mode="append")
    return (
        spark.table(name)
        .select("user_id", "event_type")
        .orderBy("user_id", "event_type")
    )


QUERIES["st10_dedup_within_watermark"] = st10
ORACLES["st10_dedup_within_watermark"] = """
    SELECT DISTINCT user_id, event_type
    FROM events
    ORDER BY user_id, event_type
"""


def m06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video scene-cut contract, ORACLE-CHECKED cell-exact: consecutive
    8-byte frame slices compared by integer L1 delta inside mapInPandas
    must equal the oracle's hex-domain reconstruction — the video twin
    of m05's audio framing (same Arrow fidelity argument, now with
    cross-frame state inside the kernel)."""
    from .multimodal import scene_cuts, synth_media

    media = synth_media(spark, 120)
    return scene_cuts(media).orderBy("media_id", "frame_no")


QUERIES["m06_scene_cuts"] = m06
# payload(i) = md5(str(i)) digest repeated (4 + i%5) times; video is
# i % 3 == 2. Frames are 8-byte slices; byte j of frame f sits at hex
# position (f*8 + j)*2 + 1.
# The vid/fr/deltas CTEs are a named shared constant (r7 advice):
# m11's oracle composes from it too — no string surgery on m06's
# final oracle text.
_M06_DELTA_CTES = """
    vid AS (
      SELECT i AS media_id,
             repeat(md5(CAST(i AS VARCHAR)), CAST(4 + i % 5 AS INT)) AS hp
      FROM range(120) t(i) WHERE i % 3 = 2
    ),
    fr AS (
      SELECT media_id, hp,
             unnest(range(1, CAST(length(hp) // 16 AS BIGINT))) AS frame_no
      FROM vid
    ),
    deltas AS (
      SELECT media_id, frame_no,
             (strpos('0123456789abcdef',
                     substring(hp, CAST((frame_no * 8 + j) * 2 + 1 AS BIGINT), 1)) - 1) * 16
             + (strpos('0123456789abcdef',
                       substring(hp, CAST((frame_no * 8 + j) * 2 + 2 AS BIGINT), 1)) - 1)
             - (
               (strpos('0123456789abcdef',
                       substring(hp, CAST(((frame_no - 1) * 8 + j) * 2 + 1 AS BIGINT), 1)) - 1) * 16
               + (strpos('0123456789abcdef',
                         substring(hp, CAST(((frame_no - 1) * 8 + j) * 2 + 2 AS BIGINT), 1)) - 1)
             ) AS d
      FROM fr CROSS JOIN (SELECT unnest(range(0, 8)) AS j) w
    )
"""
ORACLES["m06_scene_cuts"] = f"""
    WITH {_M06_DELTA_CTES.strip()}
    SELECT media_id,
           CAST(frame_no AS INT) AS frame_no,
           CAST(SUM(abs(d)) AS BIGINT) AS delta_energy,
           CAST(SUM(abs(d)) AS BIGINT) > 700 AS is_cut
    FROM deltas GROUP BY media_id, frame_no
    ORDER BY media_id, frame_no
"""


def st11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental heavy hitters, ORACLE-CHECKED: exact
    per-user counters maintained across real micro-batches (throttled
    reader -> multiple triggers) via ``foreachbatch_merge_counts`` —
    count-merge is associative, so the final counters equal the batch
    GROUP BY regardless of trigger slicing — then the top-10 ranking
    with q52's deterministic tie-break. The streaming complement of
    q52: where q52 bounds a single-pass batch sketch, st11 keeps the
    running exact counters a production ingest maintains daily. The
    top-10 is t11's scale-safe spelling: ORDER BY + literal LIMIT
    (TakeOrderedAndProject — per-partition top-k, no global window over
    the user-grain counter state), then the rank window runs over only
    the 10 surviving rows."""
    from pyspark.sql.window import Window as W

    from ..streaming.stream import foreachbatch_merge_counts, stream_tap

    staged, schema = _staged_events(spark, sf_dir)
    base = staged + "_st11_state"
    stream = stream_tap(spark, staged, schema, max_files_per_trigger=3)
    counts = foreachbatch_merge_counts(stream, keys=["user_id"], state_base=base)
    top = counts.orderBy(F.col("n").desc(), F.col("user_id")).limit(10)
    return (
        top.withColumn(
            "rk",
            F.row_number().over(W.orderBy(F.col("n").desc(), F.col("user_id"))),
        )
        .select("rk", "user_id", F.col("n").alias("n_events"))
        .orderBy("rk")
    )


QUERIES["st11_stream_heavy_hitters"] = st11
ORACLES["st11_stream_heavy_hitters"] = """
    SELECT ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, user_id) AS rk,
           user_id, COUNT(*) AS n_events
    FROM events
    GROUP BY user_id
    QUALIFY rk <= 10
    ORDER BY rk
"""


def st12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming session windows, ORACLE-CHECKED: the Spark 3.2+
    session_window aggregation maintained by the streaming state store
    (merging windows as events arrive), run to completion over the
    staged source. Complete output mode emits every session including
    those still open at the final trigger, so the result equals ts19's
    batch gap-islands exactly (window.end = last event + gap). The
    third streaming sessionization strategy beside st04's custom
    stateful operator and ts02's batch windows."""
    from ..streaming.stream import run_stream_to_memory, stream_tap

    staged, schema = _staged_events(spark, sf_dir)
    stream = stream_tap(spark, staged, schema)
    agg = (
        # NOTE: complete output mode retains ALL session state — the
        # watermark is inert here (kept for spelling parity with the
        # append-mode variant, which is the bounded-state production
        # form: append emits only sessions closed by the watermark).
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
    )
    name = "st12_out"
    run_stream_to_memory(agg, name, output_mode="complete")
    return (
        spark.table(name)
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )


QUERIES["st12_stream_session_window"] = st12
# session_window end = last event + gap; islands re-derive it batch-side
ORACLES["st12_stream_session_window"] = f"""
    WITH ordered AS (
      SELECT user_id, event_id, ts, value,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN prev_ts IS NULL
                  OR epoch_us(ts) - epoch_us(prev_ts) > {30 * 60 * 1000000} THEN 1 ELSE 0 END AS new_s
      FROM ordered
    ),
    sessions AS (
      SELECT user_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM sessions
    GROUP BY user_id, seq
    ORDER BY user_id, session_start
"""


def _staged_documents(spark: SparkSession, sf_dir: str) -> tuple:
    """Stage the documents corpus as an 8-file directory for the
    streaming file source, so a throttled reader executes multiple
    REAL micro-batches with whole documents per file (decontamination
    is per-doc, so file boundaries are safe batch boundaries)."""
    return _staged(
        spark,
        sf_dir,
        "streamdocs",
        "documents",
        lambda df, path: df.repartitionByRange(8, "doc_id").write.mode("overwrite").parquet(path),
    )


def st13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming bloom-prefiltered decontamination, ORACLE-CHECKED
    against d21's batch SQL: the training corpus arrives as a throttled
    file stream (multiple real micro-batches); each micro-batch
    explodes its word 5-grams, probes the STATIC benchmark bloom bitmap
    (d21's set-bit-position relation, built once in batch and
    broadcast into every trigger), exact-verifies the survivors, and
    APPENDS per-doc verdicts via foreachBatch. Decontamination is
    per-document, so there is NO cross-batch streaming state — the
    sink is append-only and the state store is empty, which is what
    makes this the screening pattern for a 100 TB/day ingest stream.
    Every doc lands in exactly one batch (whole-doc files), so the
    union of batch outputs equals the batch relation cell-exactly."""
    from ..streaming.stream import foreachbatch_append, stream_tap
    from .dedup import BLOOM_BITS, DECONTAM_MOD, DECONTAM_N

    staged, schema = _staged_documents(spark, sf_dir)
    m = BLOOM_BITS

    def grams_of(df: DataFrame) -> DataFrame:
        w = F.split(F.col("text"), " ")
        g = F.when(
            F.size(w) >= DECONTAM_N,
            F.transform(
                F.sequence(F.lit(0), F.size(w) - DECONTAM_N),
                lambda i: F.md5(F.concat_ws(" ", F.slice(w, i + 1, DECONTAM_N))),
            ),
        ).otherwise(F.array(F.md5(F.concat_ws(" ", w))))
        return df.select("doc_id", F.explode(F.array_distinct(g)).alias("g"))

    def probe(col: str, lo: int) -> F.Column:
        return (
            F.conv(F.substring(F.col(col), lo, 8), 16, 10).cast("bigint") % m
        )

    docs = load_tables(spark, sf_dir)["documents"]
    bench = materialize(
        grams_of(docs.filter(F.col("doc_id") % DECONTAM_MOD == 0))
        .select("g").distinct()
    )
    bits = materialize(
        bench.select(probe("g", 1).alias("b"))
        .union(bench.select(probe("g", 9).alias("b")))
        .distinct()
    )

    def screen(batch_df: DataFrame) -> DataFrame:
        train = grams_of(
            batch_df.filter(F.col("doc_id") % DECONTAM_MOD != 0)
        ).select("doc_id", "g", probe("g", 1).alias("b1"), probe("g", 9).alias("b2"))
        cand = (
            train.join(F.broadcast(bits.withColumnRenamed("b", "x")), F.col("b1") == F.col("x"))
            .drop("x")
            .join(F.broadcast(bits.withColumnRenamed("b", "y")), F.col("b2") == F.col("y"))
            .drop("y")
        )
        exact = (
            cand.join(
                F.broadcast(bench.withColumnRenamed("g", "bg")),
                F.col("g") == F.col("bg"),
                "left",
            )
            .groupBy("doc_id")
            .agg(
                F.count("*").alias("n_cand"),
                F.count("bg").alias("n_shared"),
            )
        )
        return (
            batch_df.filter(F.col("doc_id") % DECONTAM_MOD != 0)
            .select("doc_id")
            .join(exact, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_cand", F.lit(0)).cast("bigint").alias("n_bloom_candidates"),
                F.coalesce(F.col("n_cand") - F.col("n_shared"), F.lit(0))
                .cast("bigint")
                .alias("n_bloom_false_pos"),
                F.coalesce("n_shared", F.lit(0)).cast("bigint").alias("n_shared_ngrams"),
                (F.coalesce("n_shared", F.lit(0)) > 0).alias("contaminated"),
            )
        )

    base = staged + "_st13"
    stream = stream_tap(spark, staged, schema, max_files_per_trigger=3)
    out = foreachbatch_append(stream, screen, base)
    return out.orderBy("doc_id")


QUERIES["st13_stream_bloom_decontam"] = st13


def _st13_oracle() -> str:
    from .dedup import _bloom_decontam_sql

    return _bloom_decontam_sql(False)


ORACLES["st13_stream_bloom_decontam"] = _st13_oracle()


def m07(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-video duplicate-frame detection, ORACLE-CHECKED cell-exact:
    the video-level near-dup operator (re-uploads / re-encodes of the
    same source footage) every multimodal training-data pipeline runs
    before sampling clips. One mapInPandas pass per video emits
    (media_id, frame_no, phash) with the explode INSIDE the kernel —
    payload bytes are read once in-executor and never shuffled — then a
    position-independent content-hash equi-join scores video pairs by
    shared frames and frame-set Jaccard (multimodal.frame_hashes /
    duplicate_video_pairs). The oracle reconstructs the frame hashes in
    the hex domain from the synthetic payload rule (m06's argument) and
    replays the same join — grading the Arrow binary fidelity AND the
    dedup algebra."""
    from .multimodal import duplicate_video_pairs, frame_hashes, synth_video_series

    media = synth_video_series(spark, 48)
    return duplicate_video_pairs(frame_hashes(media))


QUERIES["m07_duplicate_frame_pairs"] = m07
# payload(series) = md5("s-0")..md5("s-5") digests concatenated (96
# bytes, non-repeating); series = media_id % 4; n_frames = 8 + i % 3.
# Frame f hashes bytes [f*4, f*4+8) -> hex chars [f*8+1, f*8+16].
ORACLES["m07_duplicate_frame_pairs"] = """
    WITH vids AS (
      SELECT i AS media_id, CAST(i % 4 AS INT) AS series,
             CAST(8 + i % 3 AS INT) AS n_frames
      FROM range(48) t(i)
    ),
    pay AS (
      SELECT series,
             md5(CAST(series AS VARCHAR) || '-0')
               || md5(CAST(series AS VARCHAR) || '-1')
               || md5(CAST(series AS VARCHAR) || '-2')
               || md5(CAST(series AS VARCHAR) || '-3')
               || md5(CAST(series AS VARCHAR) || '-4')
               || md5(CAST(series AS VARCHAR) || '-5') AS payhex
      FROM (SELECT DISTINCT series FROM vids)
    ),
    fh AS (
      SELECT v.media_id, v.n_frames,
             substr(p.payhex, CAST(t.f * 8 + 1 AS INT), 16) AS phash
      FROM vids v
      JOIN pay p ON p.series = v.series
      CROSS JOIN (SELECT unnest(range(0, 10)) AS f) t
      WHERE t.f < v.n_frames
    ),
    pairs AS (
      SELECT a.media_id AS media_a, b.media_id AS media_b,
             CAST(COUNT(*) AS BIGINT) AS shared_frames,
             MAX(a.n_frames) AS na, MAX(b.n_frames) AS nb
      FROM fh a JOIN fh b ON b.phash = a.phash AND a.media_id < b.media_id
      GROUP BY a.media_id, b.media_id
    )
    SELECT media_a, media_b, shared_frames,
           CAST(shared_frames AS DOUBLE) / (na + nb - shared_frames)
             AS frame_jaccard
    FROM pairs
    ORDER BY media_a, media_b
"""


def _staged_events_ordered(spark: SparkSession, sf_dir: str, n_slices: int = 6) -> tuple:
    """Stage events as N time-sliced files with STRICTLY INCREASING
    mtimes — a faithful CDC/ingest log: the file source lists by
    (modification time, path), so triggers consume slices in event-time
    order, which st14's SCD2 apply contractually requires. (_staged_
    events' range-partitioned single write gives ascending part NAMES
    but arbitrary finish-order mtimes — fine for commutative merges
    like st07/st09, wrong for order-sensitive CDC.)"""

    def write(df: DataFrame, path: str) -> None:
        df = _as_ltz(df)
        bounds = df.selectExpr(
            "min(ts) AS lo", "max(ts) AS hi", "count(*) AS n"
        ).collect()[0]
        lo, hi = bounds["lo"], bounds["hi"]
        span = (hi - lo) / n_slices
        slices = []
        for i in range(n_slices):
            s_lo = lo + span * i
            s_hi = hi if i == n_slices - 1 else lo + span * (i + 1)
            slices.append((F.col("ts") >= F.lit(s_lo)) & (
                (F.col("ts") <= F.lit(s_hi)) if i == n_slices - 1 else (F.col("ts") < F.lit(s_hi))
            ))
        _write_slices(df, path, slices)

    return _staged(spark, sf_dir, f"cdc{n_slices}", "events", write)


def _write_slices(df: DataFrame, path: str, slices: list) -> None:
    """Write one ``slice-NN.parquet`` file per filter in ``slices`` with
    strictly increasing mtimes (= deterministic file-source order)."""
    import shutil
    import time as _time

    for i, cond in enumerate(slices):
        tmp = os.path.join(path, f"__tmp_{i}")
        df.filter(cond).coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = os.path.join(path, f"slice-{i:02d}.parquet")
        os.replace(os.path.join(tmp, part), dst)
        shutil.rmtree(tmp, ignore_errors=True)
        ts_i = _time.time() - (len(slices) - i) * 10
        os.utime(dst, (ts_i, ts_i))


def st14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD2 maintenance (CDC apply), ORACLE-CHECKED cell-
    exact: the event-type timeline of every user collapses to
    effective-dated versions maintained INCREMENTALLY across real
    micro-batches (throttled reader -> multiple triggers) via
    foreachbatch_scd2 — each batch seeds change detection with the
    stored current row per key, closes superseded versions, and
    continues version numbering; the state table IS the dimension
    history a warehouse serves. Because the time-range staging feeds
    batches in event-time order (the CDC-apply ordering contract), the
    final history equals the batch SCD2 build (ts27's shape) over all
    events — graded against exactly that SQL."""
    from ..streaming.stream import foreachbatch_scd2, stream_tap

    staged, schema = _staged_events_ordered(spark, sf_dir)
    base = staged + "_st14_state"
    stream = stream_tap(spark, staged, schema, max_files_per_trigger=2)
    hist = foreachbatch_scd2(
        stream,
        key="user_id",
        attr="event_type",
        ts_col="ts",
        tiebreak="event_id",
        state_base=base,
    )
    return (
        hist.select(
            F.col("k").alias("user_id"),
            F.col("a").alias("event_type"),
            F.col("eff_from"),
            F.col("eff_to"),
            F.col("version").cast("bigint").alias("version"),
        )
        .orderBy("user_id", "version")
    )


QUERIES["st14_stream_scd2"] = st14
# The incrementally-maintained history after ALL triggers == the batch
# SCD2 build over the full event set (ts27's change-row shape).
ORACLES["st14_stream_scd2"] = """
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_t
      FROM events
    ),
    changes AS (
      SELECT * FROM seq WHERE prev_t IS NULL OR prev_t <> event_type
    )
    SELECT user_id, event_type,
           ts AS eff_from,
           LEAD(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS eff_to,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS version
    FROM changes
    ORDER BY user_id, version
"""


def _staged_docs_ordered(spark: SparkSession, sf_dir: str, n_slices: int = 6) -> tuple:
    """Stage documents as N doc_id-ranged files with strictly increasing
    mtimes (the snapshot-ingest twin of _staged_events_ordered): st15's
    first-seen registry contract requires batches in ascending doc_id."""

    def write(df: DataFrame, path: str) -> None:
        hi = df.agg(F.max("doc_id")).collect()[0][0] + 1
        step = max(1, hi // n_slices + 1)
        _write_slices(df, path, [
            (F.col("doc_id") >= i * step) & (F.col("doc_id") < (i + 1) * step)
            for i in range(n_slices)
        ])

    return _staged(spark, sf_dir, f"docs{n_slices}", "documents", write)


def st15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental n-gram novelty, ORACLE-CHECKED cell-exact
    against the batch t24: the first-seen gram registry (gram ->
    smallest doc_id) is maintained as cross-batch state, each batch's
    docs are scored against the merged registry, and the appended
    verdicts over all triggers equal the batch novelty computation —
    the incremental-snapshot curation pattern (d11's) applied to
    corpus-redundancy scoring. Batches arrive in ascending doc_id
    (mtime-ordered staging), so no later doc can steal a first
    occurrence."""
    from ..streaming.stream import foreachbatch_first_seen, stream_tap
    from .textops import _NOVELTY_N as n

    staged, schema = _staged_docs_ordered(spark, sf_dir)
    base = staged + "_st15_state"
    stream = stream_tap(spark, staged, schema, max_files_per_trigger=2)

    def make_grams(batch_df):
        w = F.split(F.col("text"), " ")
        return batch_df.select(
            F.col("doc_id").alias("id"),
            F.explode(
                F.array_distinct(
                    F.when(
                        F.size(w) >= n,
                        F.transform(
                            F.sequence(F.lit(0), F.size(w) - n),
                            lambda i: F.md5(F.concat_ws(" ", F.slice(w, i + 1, n))),
                        ),
                    ).otherwise(F.array(F.md5(F.concat_ws(" ", w))))
                )
            ).alias("g"),
        )

    verdicts = foreachbatch_first_seen(stream, make_grams, "doc_id", base)
    return (
        verdicts.select(
            F.col("id").alias("doc_id"),
            "n_grams",
            "n_novel",
            (F.col("n_novel").cast("double") / F.col("n_grams")).alias("novelty"),
        )
        .orderBy("doc_id")
    )


QUERIES["st15_stream_novelty"] = st15
from .textops import _novelty_sql as _t24_sql  # noqa: E402

ORACLES["st15_stream_novelty"] = _t24_sql(False)


def m08(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate images, ORACLE-CHECKED cell-exact:
    banded pigeonhole candidates over the 16-hex pHash (4 bands x 4
    nibbles, d02's equi-join plan class) verified by position-wise
    nibble Hamming (multimodal.near_dup_image_pairs). The oracle
    reconstructs the perturbed hashes in the hex domain from the
    synthetic corpus rule and replays the same band condition +
    `mismatches` distance — grading the Arrow binary fidelity, the
    banding algebra, and the distance fold."""
    from .multimodal import image_phashes, near_dup_image_pairs, synth_image_variants

    media = synth_image_variants(spark, 40)
    return near_dup_image_pairs(image_phashes(media))


QUERIES["m08_phash_near_dup"] = m08
# phash(series, v): base = md5('img-' || series)[:16]; v > 0 replaces
# nibbles at 0-based positions p1 = (5v) % 16 and p2 = (5v + 8) % 16
# with hexdigit((old + v) % 16). Candidates: any of the 4 bands equal.
ORACLES["m08_phash_near_dup"] = """
    WITH imgs AS (
      SELECT i AS media_id, CAST(i % 5 AS INT) AS series,
             CAST(i // 5 AS INT) AS v
      FROM range(40) t(i)
    ),
    base AS (
      SELECT series,
             substr(md5('img-' || CAST(series AS VARCHAR)), 1, 16) AS h
      FROM (SELECT DISTINCT series FROM imgs)
    ),
    ph0 AS (
      SELECT media_id, v, h,
             (5 * v) % 16 AS p1, (5 * v + 8) % 16 AS p2
      FROM imgs JOIN base USING (series)
    ),
    ph1 AS (
      SELECT media_id, v, p2,
        CASE WHEN v = 0 THEN h ELSE
          substr(h, 1, p1) ||
          substr('0123456789abcdef',
                 ((strpos('0123456789abcdef', substr(h, p1 + 1, 1)) - 1 + v) % 16) + 1, 1) ||
          substr(h, p1 + 2) END AS h1
      FROM ph0
    ),
    ph AS (
      SELECT media_id,
        CASE WHEN v = 0 THEN h1 ELSE
          substr(h1, 1, p2) ||
          substr('0123456789abcdef',
                 ((strpos('0123456789abcdef', substr(h1, p2 + 1, 1)) - 1 + v) % 16) + 1, 1) ||
          substr(h1, p2 + 2) END AS phash
      FROM ph1
    )
    SELECT a.media_id AS media_a, b.media_id AS media_b,
           CAST(mismatches(a.phash, b.phash) AS BIGINT) AS hamming,
           mismatches(a.phash, b.phash) <= 4 AS is_near
    FROM ph a JOIN ph b ON b.media_id > a.media_id
    WHERE substr(a.phash, 1, 4) = substr(b.phash, 1, 4)
       OR substr(a.phash, 5, 4) = substr(b.phash, 5, 4)
       OR substr(a.phash, 9, 4) = substr(b.phash, 9, 4)
       OR substr(a.phash, 13, 4) = substr(b.phash, 13, 4)
    ORDER BY media_a, media_b
    """


def st16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Markov transition maintenance, ORACLE-CHECKED cell-
    exact: the first-order journey model maintained INCREMENTALLY
    across real micro-batches via foreachbatch_markov — per batch, a
    LEAD window over batch rows + the stored last event of touched
    users counts every edge exactly once (the cross-batch edge comes
    from the seed; a seed's outgoing edge was by definition uncounted
    when stored), and the |event_type|^2-bounded count table merges in
    constant size. Because the time-range staging feeds batches in
    event-time order (st14's CDC-apply contract), the final counts
    equal the batch LEAD pass — graded against ts29's exact SQL
    (probabilities and ranks recomputed over the final count table,
    where they are pure arithmetic)."""
    from ..streaming.stream import foreachbatch_markov, stream_tap

    staged, schema = _staged_events_ordered(spark, sf_dir)
    base = staged + "_st16_state"
    stream = stream_tap(spark, staged, schema, max_files_per_trigger=2)
    trans = foreachbatch_markov(
        stream,
        entity="user_id",
        state="event_type",
        ts_col="ts",
        tiebreak="event_id",
        state_base=base,
    )
    trans.createOrReplaceTempView("st16_trans")
    return spark.sql("""
    SELECT src, dst, n_trans,
           CAST(n_trans AS DOUBLE) /
             CAST(SUM(n_trans) OVER (PARTITION BY src) AS DOUBLE) AS p,
           CAST(RANK() OVER (PARTITION BY src
                             ORDER BY n_trans DESC, dst) AS BIGINT) AS rnk
    FROM st16_trans
    ORDER BY src, rnk, dst
    """)


QUERIES["st16_stream_markov"] = st16
from .timeseries import _MARKOV_SQL as _ts29_sql  # noqa: E402

ORACLES["st16_stream_markov"] = _ts29_sql


def st17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CUSUM changepoint maintenance, ORACLE-CHECKED cell-
    exact: the per-(event_type, day) count table — the ONLY corpus-
    sized term in ts31's changepoint estimator — is maintained
    INCREMENTALLY across real micro-batches via
    foreachbatch_merge_counts (each batch pre-aggregates its slice and
    sum-merges with the prior state; integer addition is associative,
    so the final counts equal the batch GROUP BY regardless of trigger
    boundaries). The CUSUM tail (scaled-BIGINT running sums, peak-|c|
    pick) is pure arithmetic over the bounded daily table, graded
    against ts31's exact SQL. State is O(types x days), not O(stream) —
    the shape a production drift monitor persists."""
    from ..streaming.stream import foreachbatch_merge_counts, stream_tap
    from .timeseries import _cusum_tail_sql

    staged, schema = _staged_events_ordered(spark, sf_dir)
    base = staged + "_st17_state"
    stream = stream_tap(spark, staged, schema, max_files_per_trigger=2)
    daily = foreachbatch_merge_counts(
        stream.select("event_type", F.col("ts").cast("date").alias("day")),
        ["event_type", "day"],
        base,
    )
    daily.createOrReplaceTempView("st17_daily")
    return spark.sql(_cusum_tail_sql("st17_daily"))


QUERIES["st17_stream_cusum"] = st17
from .timeseries import ORACLES as _ts_oracles  # noqa: E402

ORACLES["st17_stream_cusum"] = _ts_oracles["ts31_cusum_changepoint"]


def st18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming funnel maintenance, ORACLE-CHECKED cell-exact: the
    per-user first-completion chain (view -> click -> purchase, each
    strictly after the previous step's first completion) maintained
    INCREMENTALLY across real micro-batches via foreachbatch_funnel —
    one row of monotone state per user, each step one type-filtered
    per-entity MIN against the prior state, leaning on the event-time-
    ordered ingest contract (a later batch can never lower a stored
    timestamp). The report tail is ts32's shared _funnel_tail_sql over
    the 1-row count relation, graded against ts32's batch SQL."""
    from ..streaming.stream import foreachbatch_funnel, stream_tap
    from .timeseries import _FUNNEL_STEPS, _funnel_tail_sql

    staged, schema = _staged_events_ordered(spark, sf_dir)
    base = staged + "_st18_state"
    stream = stream_tap(spark, staged, schema, max_files_per_trigger=2)
    state = foreachbatch_funnel(
        stream, "user_id", "event_type", "ts", list(_FUNNEL_STEPS), base
    )
    state.createOrReplaceTempView("st18_state")
    spark.sql("""
    SELECT CAST(COUNT(t1) AS BIGINT) AS n1,
           CAST(COUNT(t2) AS BIGINT) AS n2,
           CAST(COUNT(t3) AS BIGINT) AS n3
    FROM st18_state
    """).createOrReplaceTempView("st18_counts")
    return spark.sql(_funnel_tail_sql("st18_counts"))


QUERIES["st18_stream_funnel"] = st18
from .timeseries import ORACLES as _ts_oracles2  # noqa: E402

ORACLES["st18_stream_funnel"] = _ts_oracles2["ts32_funnel_conversion"]


def st19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming activity-streak maintenance, ORACLE-CHECKED cell-
    exact against ts35's batch SQL: each entity's consecutive-active-
    day state — ONE (last_day, cur_run, best_run) row per user, not
    the day log — maintained INCREMENTALLY across real micro-batches
    via foreachbatch_streaks. Each batch reduces to its distinct
    (user, day) pairs, seeds touched users with the stored last_day,
    numbers the batch-local islands (entity-partitioned windows only),
    and credits the seed island with the stored run length — leaning
    on the event-time-ordered ingest contract (st14/st16/st18's), so
    the cross-batch stitch is always head-of-batch to tail-of-state.
    The report tail is ts35's histogram over the |users|-bounded state
    (streak_days, n_users, user_share)."""
    from ..streaming.stream import foreachbatch_streaks, stream_tap

    staged, schema = _staged_events_ordered(spark, sf_dir)
    base = staged + "_st19_state"
    stream = stream_tap(spark, staged, schema, max_files_per_trigger=2)
    state = foreachbatch_streaks(stream, "user_id", "ts", base)
    state.createOrReplaceTempView("st19_state")
    return spark.sql("""
    WITH tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM st19_state)
    SELECT s.best_run AS streak_days,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS DOUBLE) / MAX(t.n) AS user_share
    FROM st19_state s CROSS JOIN tot t
    GROUP BY s.best_run
    ORDER BY streak_days
    """)


QUERIES["st19_stream_streaks"] = st19
from .timeseries import ORACLES as _ts_oracles3  # noqa: E402

ORACLES["st19_stream_streaks"] = _ts_oracles3["ts35_activity_streaks"]


_M09_ENERGY_T = 150000  # integer energy threshold: frames below are "silent"


def m09(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio silence-trim audit, ORACLE-CHECKED cell-exact: per clip,
    how many leading/trailing frames fall below the integer energy
    threshold and what active span survives — the trim pass an audio
    curation pipeline runs before paying for transcription or feature
    extraction. Consumes m05's mapInPandas frame-energy kernel (the
    payload never re-shuffles per frame); the trim arithmetic is pure
    per-clip MIN/MAX/COUNT aggregates over integer energies — no
    window anywhere, map-side combinable, |clips| output rows.
    Exactness: all counts/offsets are BIGINT comparisons of exact
    integer energies; the active share divides once."""
    from .multimodal import audio_frame_energy, synth_media

    media = synth_media(spark, 120)
    audio_frame_energy(media).createOrReplaceTempView("__m09_frames__")
    return spark.sql(f"""
    SELECT media_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(COALESCE(MIN(CASE WHEN energy >= {_M09_ENERGY_T} THEN frame_no END),
                         COUNT(*)) AS BIGINT) AS lead_trim,
           CAST(COUNT(*) - 1
                - COALESCE(MAX(CASE WHEN energy >= {_M09_ENERGY_T} THEN frame_no END),
                           COUNT(*) - 1) AS BIGINT) AS tail_trim,
           CAST(COALESCE(MAX(CASE WHEN energy >= {_M09_ENERGY_T} THEN frame_no END)
                         - MIN(CASE WHEN energy >= {_M09_ENERGY_T} THEN frame_no END) + 1,
                         0) AS BIGINT) AS kept_frames,
           CAST(COALESCE(MAX(CASE WHEN energy >= {_M09_ENERGY_T} THEN frame_no END)
                         - MIN(CASE WHEN energy >= {_M09_ENERGY_T} THEN frame_no END) + 1,
                         0) AS DOUBLE) / COUNT(*) AS active_share
    FROM __m09_frames__
    GROUP BY media_id
    ORDER BY media_id
    """)


QUERIES["m09_silence_trim"] = m09
# The oracle reconstructs m05's frame energies in the hex domain and
# applies the identical MIN/MAX/COUNT trim arithmetic.
ORACLES["m09_silence_trim"] = f"""
    WITH aud AS (
      SELECT i AS media_id,
             repeat(md5(CAST(i AS VARCHAR)), CAST(4 + i % 5 AS INT)) AS hp
      FROM range(120) t(i) WHERE i % 3 = 1
    ),
    fr AS (
      SELECT media_id, hp,
             unnest(range(0, CAST((length(hp) // 2 - 32) // 16 + 1 AS BIGINT))) AS frame_no
      FROM aud
    ),
    samp AS (
      SELECT media_id, frame_no,
             (strpos('0123456789abcdef',
                     substring(hp, CAST((frame_no * 16 + j) * 2 + 1 AS BIGINT), 1)) - 1) * 16
             + (strpos('0123456789abcdef',
                       substring(hp, CAST((frame_no * 16 + j) * 2 + 2 AS BIGINT), 1)) - 1)
               - 128 AS s
      FROM fr CROSS JOIN (SELECT unnest(range(0, 32)) AS j) w
    ),
    en AS (
      SELECT media_id, frame_no, CAST(SUM(s * s) AS BIGINT) AS energy
      FROM samp GROUP BY media_id, frame_no
    )
    SELECT media_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(COALESCE(MIN(CASE WHEN energy >= {_M09_ENERGY_T} THEN frame_no END),
                         COUNT(*)) AS BIGINT) AS lead_trim,
           CAST(COUNT(*) - 1
                - COALESCE(MAX(CASE WHEN energy >= {_M09_ENERGY_T} THEN frame_no END),
                           COUNT(*) - 1) AS BIGINT) AS tail_trim,
           CAST(COALESCE(MAX(CASE WHEN energy >= {_M09_ENERGY_T} THEN frame_no END)
                         - MIN(CASE WHEN energy >= {_M09_ENERGY_T} THEN frame_no END) + 1,
                         0) AS BIGINT) AS kept_frames,
           CAST(COALESCE(MAX(CASE WHEN energy >= {_M09_ENERGY_T} THEN frame_no END)
                         - MIN(CASE WHEN energy >= {_M09_ENERGY_T} THEN frame_no END) + 1,
                         0) AS DOUBLE) / COUNT(*) AS active_share
    FROM en
    GROUP BY media_id
    ORDER BY media_id
"""


def st20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming decayed-leaderboard maintenance, ORACLE-CHECKED cell-
    exact against ts38's batch SQL: exact per-(user, week) counters
    maintained INCREMENTALLY across real micro-batches via
    foreachbatch_merge_counts — the state a production trending-
    entities surface persists (counts by entity x period; the
    half-life weighting is a REPORT-TIME transform, so the decay
    constant can change without a state rebuild). The report tail is
    ts38's integer-exact weekly-halving leaderboard over the
    |users x weeks|-bounded state: scores scaled by 2^(week - w0) sum
    as BIGINT, ORDER BY + LIMIT 10 (TakeOrderedAndProject), rank
    window over the 10 survivors (st11's rank-after-LIMIT
    spelling)."""
    from ..streaming.stream import foreachbatch_merge_counts, stream_tap
    from .timeseries import _WEEK_US, _decay_tail_sql

    staged, schema = _staged_events_ordered(spark, sf_dir)
    base = staged + "_st20_state"
    stream = stream_tap(spark, staged, schema, max_files_per_trigger=2)
    weekly = foreachbatch_merge_counts(
        stream.select(
            "user_id",
            F.expr(
                f"CAST(floor(CAST(unix_micros(ts) AS DOUBLE) / {_WEEK_US}.0) AS BIGINT)"
            ).alias("week"),
        ),
        ["user_id", "week"],
        base,
    )
    weekly.createOrReplaceTempView("st20_weekly")
    return spark.sql(_decay_tail_sql("st20_weekly", True))


QUERIES["st20_stream_decay_topk"] = st20
from .timeseries import ORACLES as _ts_oracles4  # noqa: E402

ORACLES["st20_stream_decay_topk"] = _ts_oracles4["ts38_decayed_leaderboard"]


#: aspect anchors with fixed resize targets (bucket, aw, ah, tw, th).
#: 144 = lcm of the ah values, so dist * (144/ah) is the exact common-
#: denominator scaling for the cross-multiplied ratio distance.
_M10_ANCHORS = (
    "('1:1', 1, 1, 512, 512), ('4:3', 4, 3, 512, 384), ('3:4', 3, 4, 384, 512), "
    "('16:9', 16, 9, 512, 288), ('9:16', 9, 16, 288, 512)"
)


def _aspect_plan_sql(imgs: str) -> str:
    """Aspect-bucket + resize-plan tail over an (media_id, w, h)
    relation — shared verbatim by both engines (argmin via a
    per-image rank against the 5-row anchor table; the ratio distance
    |w*ah - aw*h| * (144/ah) is all-integer, ties break on bucket)."""
    return f"""
    WITH anchors AS (
      SELECT * FROM (VALUES {_M10_ANCHORS}) AS t(bucket, aw, ah, tw, th)
    ),
    ranked AS (
      SELECT i.media_id, a.bucket, a.tw, a.th,
             ROW_NUMBER() OVER (
               PARTITION BY i.media_id
               ORDER BY ABS(i.w * a.ah - a.aw * i.h) * (144 // a.ah), a.bucket
             ) AS rn
      FROM {imgs} i CROSS JOIN anchors a
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM {imgs})
    SELECT r.bucket AS bucket,
           CAST(r.tw AS INT) AS target_w, CAST(r.th AS INT) AS target_h,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           CAST(COUNT(*) AS DOUBLE) / MAX(t.n) AS img_share
    FROM ranked r CROSS JOIN tot t
    WHERE r.rn = 1
    GROUP BY r.bucket, r.tw, r.th
    ORDER BY bucket
    """


def m10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-ratio bucketing + resize plan, ORACLE-CHECKED cell-exact:
    every image's (w, h) metadata snaps to the nearest of five anchor
    ratios (1:1, 4:3, 3:4, 16:9, 9:16) by exact cross-multiplied
    integer distance, and each bucket carries its fixed resize target —
    the batching plan every vision training pipeline builds so GPU
    batches share a shape (images resize to their bucket's target, not
    a single square). The dims ride the typed metadata MAP column
    (multimodal.MEDIA_SCHEMA) — payload bytes are never shuffled. Scale
    shape: the anchor table is a 5-row literal broadcast against the
    metadata projection; the per-image rank window PARTITIONs BY
    media_id; the report is |anchors|-bounded with a 1-row total scalar
    (q59's class). Exactness: distances/counts are integers; the share
    divides once."""
    from .multimodal import synth_sized_images

    media = synth_sized_images(spark, 120)
    media.where(F.col("kind") == "image").select(
        "media_id",
        F.element_at("meta", "w").cast("bigint").alias("w"),
        F.element_at("meta", "h").cast("bigint").alias("h"),
    ).createOrReplaceTempView("__m10_imgs__")
    return spark.sql(rewrite_sql(_aspect_plan_sql("__m10_imgs__"), {}))


QUERIES["m10_aspect_buckets"] = m10
ORACLES["m10_aspect_buckets"] = (
    "WITH imgs AS (SELECT i AS media_id, 160 + (i * 37) % 480 AS w, "
    "120 + (i * 53) % 600 AS h FROM range(120) t(i)), "
    + _aspect_plan_sql("imgs").strip()[len("WITH "):]
)


def st21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session-duration survival, ORACLE-CHECKED cell-exact
    against ts37's batch SQL: the session state comes from Spark's
    native streaming session_window aggregation (st12's machinery —
    windows merge in the state store as events arrive; complete mode
    emits every session including those open at the final trigger,
    matching the batch gap-islands exactly with window.end = last
    event + gap), and the Kaplan-Meier tail is ts37's shared
    _survival_tail_sql over the |sessions|-bounded state: at-risk /
    ended / censored counts per observed duration, hazard, surviving
    share — right-censored at the corpus edge. The production form
    swaps complete for append mode (watermark-closed sessions feed
    the actuarial table incrementally; the open tail is censored by
    construction)."""
    from ..streaming.stream import run_stream_to_memory, stream_tap
    from .timeseries import _survival_tail_sql, SESSION_GAP_MIN

    gap_us = SESSION_GAP_MIN * 60 * 1000000
    staged, schema = _staged_events(spark, sf_dir)
    stream = stream_tap(spark, staged, schema)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("sw"),
            F.col("user_id"),
        )
        .agg(F.count("*").alias("n_events"))
    )
    name = "st21_out"
    run_stream_to_memory(agg, name, output_mode="complete")
    spark.table(name).select(
        F.floor(
            (
                (F.unix_micros(F.col("sw.end")) - gap_us)
                - F.unix_micros(F.col("sw.start"))
            ).cast("double")
            / 60000000.0
        )
        .cast("bigint")
        .alias("dur_min"),
        (F.unix_micros(F.col("sw.end")) - gap_us).cast("bigint").alias("end_us"),
    ).createOrReplaceTempView("st21_sessions")
    return spark.sql(_survival_tail_sql("st21_sessions"))


QUERIES["st21_stream_survival"] = st21
from .timeseries import ORACLES as _ts_oracles5  # noqa: E402

ORACLES["st21_stream_survival"] = _ts_oracles5["ts37_survival_curve"]


def st22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming survival, BOUNDED-STATE form (r7 punch item 7):
    st21's session_window + complete mode keeps every session in the
    state store forever (the measured 3.2x state-growth class); this
    variant is the production spelling — the gap-closure sessionizer
    (applyInPandasWithState, st04's machinery) holds THREE LONGS per
    live key, emits each session the moment a later event closes it
    (gap > 30 min), and the open tail per user is censored by
    construction (each user's last session never closes, so it never
    reaches the actuarial table). The emitted set — every session
    except each user's last — is deterministic (boundaries depend only
    on each key's timestamp multiset, st04's argument), so the
    Kaplan-Meier tail over it gets a full value oracle: ts37's
    gap-island sessions QUALIFY'd to drop each user's last, through
    the shared _survival_tail_sql."""
    from ..streaming.stream import run_stream_to_memory, sessionize_stateful, stream_tap
    from .timeseries import SESSION_GAP_MIN, _survival_tail_sql

    staged, schema = _staged_events(spark, sf_dir)
    stream = stream_tap(spark, staged, schema)
    sessions = sessionize_stateful(
        stream, gap_minutes=SESSION_GAP_MIN, watermark="3650 days"
    )
    name = "st22_out"
    run_stream_to_memory(sessions, name, output_mode="append")
    spark.table(name).select(
        F.floor(
            (F.unix_micros(F.col("session_end")) - F.unix_micros(F.col("session_start")))
            .cast("double")
            / 60000000.0
        )
        .cast("bigint")
        .alias("dur_min"),
        F.unix_micros(F.col("session_end")).cast("bigint").alias("end_us"),
    ).createOrReplaceTempView("st22_sessions")
    return spark.sql(_survival_tail_sql("st22_sessions"))


QUERIES["st22_stream_survival_bounded"] = st22


def _st22_oracle() -> str:
    """ts37's gap-island per-session relation minus each user's LAST
    session (the gap-closure sessionizer's emitted set), through the
    shared survival tail."""
    from .timeseries import _survival_sessions_sql, _survival_tail_sql

    sessions = _survival_sessions_sql(with_keys=True)
    closed = f"""
    SELECT dur_min, end_us FROM (
      SELECT user_id, session_seq, dur_min, end_us,
             MAX(session_seq) OVER (PARTITION BY user_id) AS last_seq
      FROM ({sessions})
    ) WHERE session_seq < last_seq
    """
    tail = _survival_tail_sql("per_session").strip()
    assert tail.startswith("WITH ")
    return f"WITH per_session AS ({closed}), {tail[len('WITH '):]}"


ORACLES["st22_stream_survival_bounded"] = _st22_oracle()


def _shot_tail_sql(cuts: str) -> str:
    """Shot-length histogram tail over an (media_id, frame_no, is_cut)
    relation — shared verbatim by both engines. Shots are the gap
    islands between cuts (the running cut count numbers them); shot
    length counts the emitted frame rows in each island."""
    return f"""
    WITH numbered AS (
      SELECT media_id, frame_no,
             SUM(CASE WHEN is_cut THEN 1 ELSE 0 END)
               OVER (PARTITION BY media_id ORDER BY frame_no
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS shot_id
      FROM {cuts}
    ),
    shots AS (
      SELECT media_id, shot_id, CAST(COUNT(*) AS BIGINT) AS shot_len
      FROM numbered GROUP BY media_id, shot_id
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM shots)
    SELECT s.shot_len AS shot_len,
           CAST(COUNT(*) AS BIGINT) AS n_shots,
           CAST(COUNT(DISTINCT s.media_id) AS BIGINT) AS n_videos,
           CAST(COUNT(*) AS DOUBLE) / MAX(t.n) AS shot_share
    FROM shots s CROSS JOIN tot t
    GROUP BY s.shot_len
    ORDER BY shot_len
    """


def m11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-length distribution, ORACLE-CHECKED cell-exact: m06's
    scene-cut rows partition each video's frame run into shots (gap
    islands between cuts, numbered by the running cut count inside a
    media-partitioned window), rolled into the shot-length histogram —
    the pacing profile a video-training pipeline reads before choosing
    clip-sampling windows (frame-sample strides should cover the
    typical shot, not straddle several). Scale shape: rides m06's
    mapInPandas kernel (payloads never shuffle; only fixed-width cut
    rows do); the island window PARTITIONs BY media_id; the histogram
    is |distinct shot lengths|-bounded with a 1-row total scalar
    (q59's class). Exactness: islands and counts are integers; the
    share divides once."""
    from .multimodal import scene_cuts, synth_media

    media = synth_media(spark, 120)
    scene_cuts(media).createOrReplaceTempView("__m11_cuts__")
    return spark.sql(_shot_tail_sql("__m11_cuts__"))


QUERIES["m11_shot_lengths"] = m11
# composed from the shared _M06_DELTA_CTES constant, not string surgery
ORACLES["m11_shot_lengths"] = (
    f"WITH {_M06_DELTA_CTES.strip()},\n"
    + """cuts AS (
      SELECT media_id, CAST(frame_no AS INT) AS frame_no,
             CAST(SUM(abs(d)) AS BIGINT) > 700 AS is_cut
      FROM deltas GROUP BY media_id, frame_no
    ), """
    + _shot_tail_sql("cuts").strip()[len("WITH ") :]
)


# ---------------------------------------------------------------------------
# m12 — multimodal shard planner: byte-offset sharding of the media
# payload stream into fixed-budget training shards (the WebDataset/
# tar-shard layout every multimodal loader consumes): items packed in
# media_id order, each item assigned to the shard containing its
# first byte (shard = prior_bytes div budget), reported per shard as
# item count, byte total, per-modality mix, and the largest item.
# This is q77's compaction arithmetic applied to opaque binary
# payloads — the plan a 100 TB media lake runs before writing shards.
# Scale shape: the payload bytes NEVER shuffle — one octet_length
# projection leaves only (id, kind, nb) rows; the running-offset
# window is a contract-scale bounded walk over the 120-item synthetic
# inventory (m11's GLOBAL_WINDOW class; production inventories
# pre-partition by coarse key and walk per partition); the report is
# |shards|-bounded. Exactness: byte counts and shard ids are integer
# arithmetic end to end.
# Reference parity: no counterpart (the reference has no multimodal
# surface); completes the m04/m10/m11 layout family next to q77.
# ---------------------------------------------------------------------------
_SHARD_BUDGET_BYTES = 256


def _shard_plan_sql(items: str) -> str:
    return f"""
    WITH packed AS (
      SELECT media_id, kind, nb,
             COALESCE(SUM(nb) OVER (ORDER BY media_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS BIGINT)) AS prior
      FROM {items}
    )
    SELECT CAST(prior // {_SHARD_BUDGET_BYTES} AS BIGINT) AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(nb) AS BIGINT) AS shard_bytes,
           CAST(SUM(CASE WHEN kind = 'image' THEN 1 ELSE 0 END) AS BIGINT) AS n_images,
           CAST(SUM(CASE WHEN kind = 'audio' THEN 1 ELSE 0 END) AS BIGINT) AS n_audio,
           CAST(SUM(CASE WHEN kind = 'video' THEN 1 ELSE 0 END) AS BIGINT) AS n_video,
           CAST(MAX(nb) AS BIGINT) AS max_item_bytes
    FROM packed
    GROUP BY 1
    ORDER BY shard_id
    """


def m12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard plan over REAL binary payloads: octet_length is taken on
    the actual bytes inside the JVM (no Python hop, payloads pruned
    before any shuffle); the oracle recomputes the same inventory in
    the hex domain (payload(i) = md5(str(i)) digest repeated
    (4 + i % 5) times -> 16 * (4 + i % 5) bytes, kind = i % 3)."""
    from .multimodal import synth_media

    media = synth_media(spark, 120)
    media.select(
        "media_id", "kind", F.octet_length("payload").cast("bigint").alias("nb")
    ).createOrReplaceTempView("__m12_items__")
    return spark.sql(rewrite_sql(_shard_plan_sql("__m12_items__"), {}))


QUERIES["m12_shard_planner"] = m12
ORACLES["m12_shard_planner"] = _shard_plan_sql(
    """(
      SELECT i AS media_id,
             CASE CAST(i % 3 AS INT) WHEN 0 THEN 'image'
                  WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             CAST(16 * (4 + i % 5) AS BIGINT) AS nb
      FROM range(120) t(i)
    )"""
)


def _staged_embeddings(spark: SparkSession, sf_dir: str) -> tuple:
    """Stage the embeddings corpus as a 6-file directory for the
    streaming file source, so a throttled reader executes multiple
    REAL micro-batches with whole vectors per file (the lattice sums
    are per-vector, so file boundaries are safe batch boundaries)."""
    return _staged(
        spark,
        sf_dir,
        "streamembs",
        "embeddings",
        lambda df, path: df.repartitionByRange(6, "vec_id").write.mode("overwrite").parquet(path),
    )


def st23(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming centroid-drift maintenance, ORACLE-CHECKED cell-exact
    against s28's batch SQL: the vector corpus arrives as a throttled
    file stream (multiple real micro-batches, 2 files per trigger);
    each micro-batch posexplodes its vectors onto the e4 lattice and
    foreachbatch_merge_counts maintains EXACT per-(label, dim) BIGINT
    (sum, count) state — the running centroid numerators an ANN
    deployment keeps NEXT TO its index so the retrain trigger costs
    one report query, never a corpus rescan. State is
    |labels| x DIM rows — BOUNDED regardless of stream length (st22's
    measured property; BIGINT sums are associative, so the maintained
    state equals the batch GROUP BY whatever the trigger boundaries).
    The report tail is s28's shared drift SQL over the state table:
    per-coordinate single division, e12-quantized squared diffs,
    integer drift verdict."""
    from ..streaming.stream import foreachbatch_merge_counts, stream_tap

    staged, schema = _staged_embeddings(spark, sf_dir)
    base = staged + "_st23_state"
    stream = stream_tap(spark, staged, schema, max_files_per_trigger=2)
    lattice = stream.select(
        "label",
        F.expr("posexplode(embedding) AS (pos, v)"),
    ).select(
        "label",
        (F.col("pos") + 1).alias("dim"),
        F.expr("CAST(floor(CAST(v AS DOUBLE) * 10000) AS BIGINT)").alias("q"),
    )
    state = foreachbatch_merge_counts(lattice, ["label", "dim"], base, value_col="q")
    state.createOrReplaceTempView("st23_per_label")
    from .similarity import _drift_tail_sql

    return spark.sql(_drift_tail_sql("st23_per_label"))


QUERIES["st23_stream_centroid_drift"] = st23
from .similarity import ORACLES as _sim_oracles  # noqa: E402

ORACLES["st23_stream_centroid_drift"] = _sim_oracles["s28_centroid_drift"]


def m13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal ingest-validation audit, ORACLE-CHECKED cell-exact:
    a corrupted synthetic manifest (truncated payloads, dropped
    required metadata, undeclared modalities — each a pure function of
    media_id, see ``synth_media_corrupt``) flows through the
    ``validate_assets`` mapInPandas gate, and every per-asset verdict
    (byte-length floor measured on the REAL bytes executor-side,
    required-meta presence, known-modality) is reproduced by the
    DuckDB oracle from the corruption spec alone — proving the Arrow
    binary hop, the map-typed metadata transfer, and the kernel logic
    all agree with the declared contract. This is the gate a 100 TB
    multimodal ingest runs before spending decode cycles; invalid
    assets route to quarantine instead of poisoning the decode stage."""
    from .multimodal import synth_media_corrupt, validate_assets

    media = synth_media_corrupt(spark, 120)
    return validate_assets(media).orderBy("media_id")


QUERIES["m13_corrupt_asset_audit"] = m13
ORACLES["m13_corrupt_asset_audit"] = """
    SELECT i AS media_id,
           CASE WHEN i % 13 = 8 THEN 'webp'
                ELSE CASE CAST(i % 3 AS INT)
                     WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END
           END AS kind,
           CASE WHEN i % 7 = 3 THEN 3
                ELSE octet_length(repeat(unhex(md5(CAST(i AS VARCHAR))),
                                         CAST(4 + i % 5 AS INT)))
           END AS n_bytes,
           i % 7 <> 3 AS payload_ok,
           (i % 11 <> 5 AND i % 13 <> 8) AS meta_ok,
           i % 13 <> 8 AS kind_ok,
           (i % 7 <> 3 AND i % 11 <> 5 AND i % 13 <> 8) AS valid
    FROM range(120) t(i)
    ORDER BY media_id
"""


def _phash_pairs_tail(fps_rel: str, spark_dialect: bool) -> str:
    """Banded Hamming near-dup tail over a (media_id, k0..k3)
    fingerprint relation — shared by m14's Spark side (real kernel
    fingerprints) and its DuckDB oracle (spec-derived fingerprints).
    Candidates come from a band EQUI-join (any of the four 16-bit keys
    matching — unpivoted to (band_id, bkey) rows so the join stays an
    equi-join, d02's plan shape, never an OR-join/all-pairs); the
    verify step is exact integer Hamming via bit_count of band XORs."""
    from .multimodal import PHASH_MAX_HAMMING

    if spark_dialect:
        bands = (
            f"SELECT media_id, stack(4, 0, k0, 1, k1, 2, k2, 3, k3) "
            f"AS (band_id, bkey) FROM {fps_rel}"
        )
        ham = " + ".join(f"bit_count(fa.k{i} ^ fb.k{i})" for i in range(4))
    else:
        bands = " UNION ALL ".join(
            f"SELECT media_id, {b} AS band_id, k{b} AS bkey FROM {fps_rel}"
            for b in range(4)
        )
        ham = " + ".join(f"bit_count(xor(fa.k{i}, fb.k{i}))" for i in range(4))
    return f"""
    bands AS ({bands}),
    cands AS (
      SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.bkey = b.bkey
       AND a.media_id < b.media_id
    ),
    verified AS (
      SELECT c.media_a, c.media_b, CAST({ham} AS INT) AS hamming
      FROM cands c
      JOIN {fps_rel} fa ON fa.media_id = c.media_a
      JOIN {fps_rel} fb ON fb.media_id = c.media_b
    )
    SELECT media_a, media_b, hamming, hamming = 0 AS same_hash
    FROM verified
    WHERE hamming <= {PHASH_MAX_HAMMING}
    ORDER BY media_a, media_b
    """


def m14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup over media bytes, ORACLE-CHECKED
    cell-exact: the planted near-dup corpus (3 generations of 40 base
    assets — byte-appended copies and single-byte edits, each a pure
    function of media_id) flows through the ``dhash_fingerprints``
    mapInPandas kernel (64 difference bits over the real payload grid,
    emitted as four 16-bit band keys), then the banded Hamming
    equi-join + exact bit_count verification. The DuckDB oracle
    reproduces every fingerprint from the md5 generation spec alone —
    proving the Arrow binary hop, the executor-side hash kernel, and
    the LSH band join agree with the declared contract (m13's proof
    pattern applied to similarity). This is d02's near-dup machinery
    on the multimodal corpus: band the fingerprint, equi-join the
    bands, verify exactly, never all-pairs."""
    from .multimodal import dhash_fingerprints, synth_media_neardup

    media = synth_media_neardup(spark, 120)
    materialize(dhash_fingerprints(media), "__m14_fps__")
    return spark.sql("WITH " + _phash_pairs_tail("__m14_fps__", True))


QUERIES["m14_phash_neardup"] = m14


def _m14_oracle() -> str:
    # byte j of the g0 payload is digest[(j) % 16] (the 16-byte md5
    # digest repeated >= 5x); the lhs of difference bit p is byte
    # j = p + p // 8 (the 8x9 grid walk), the rhs is byte j + 1 (never
    # byte 0). g2 adds 128 mod 256 to byte 0 only.
    def dbyte(m: str) -> str:
        return (
            "CAST(('0x' || substr(md5(CAST(seed AS VARCHAR)), "
            f"2 * ({m}) + 1, 2)) AS BIGINT)"
        )

    lhs = (
        f"CASE WHEN p + p // 8 = 0 AND g = 2 THEN ({dbyte('0')} + 128) % 256 "
        f"ELSE {dbyte('(p + p // 8) % 16')} END"
    )
    rhs = dbyte("(p + p // 8 + 1) % 16")
    ks = ", ".join(
        f"CAST(SUM(CASE WHEN p // 16 = {b} AND bit = 1 "
        f"THEN CAST(1 AS BIGINT) << (p % 16) ELSE 0 END) AS BIGINT) AS k{b}"
        for b in range(4)
    )
    return f"""
    WITH spec AS (
      SELECT i AS media_id, i % 40 AS seed, CAST(i // 40 AS INT) AS g
      FROM range(120) t(i)
    ),
    bits AS (
      SELECT media_id, p.p AS p,
             CASE WHEN ({lhs}) > ({rhs}) THEN 1 ELSE 0 END AS bit
      FROM spec CROSS JOIN (SELECT unnest(range(0, 64)) AS p) p
    ),
    fps AS (SELECT media_id, {ks} FROM bits GROUP BY media_id),
    {_phash_pairs_tail("fps", False)}
    """


ORACLES["m14_phash_neardup"] = _m14_oracle()


def st26(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming multimodal ingest validation, ORACLE-CHECKED
    cell-exact against m13's corruption spec: the corrupted synthetic
    media manifest arrives as a throttled file stream (binary payloads
    + map metadata through the streaming parquet source), every
    micro-batch runs the ``validate_assets`` mapInPandas gate on its
    own slice, and verdicts APPEND (foreachbatch_append — per-record
    work, NO cross-batch state; exactly-once from checkpointed offsets
    + per-batch-id idempotent subdirs). Because each verdict is a pure
    function of its own row, the union of batch outputs equals the
    batch run whatever the trigger boundaries — so the whole streaming
    execution gets m13's full value oracle. This is how a production
    multimodal ingest actually runs the gate: on arrival, before decode
    spend, with quarantine routing downstream of the verdict table."""
    from ..streaming.stream import foreachbatch_append, stream_tap
    from .multimodal import synth_media_corrupt, validate_assets

    def stage() -> tuple:
        path = scratch("streammedia_")
        media = synth_media_corrupt(spark, 120)
        media.repartitionByRange(6, "media_id").write.mode("overwrite").parquet(path)
        return path, read_parquet(spark, path).schema

    # synthetic input: no source files, so one staged copy per session
    staged, schema = memo(spark, "streammedia", (), stage, durable=True)
    stream = stream_tap(spark, staged, schema, max_files_per_trigger=2)
    base = staged + "_st26_state"
    verdicts = foreachbatch_append(stream, validate_assets, base)
    return verdicts.orderBy("media_id")


QUERIES["st26_stream_asset_validation"] = st26
ORACLES["st26_stream_asset_validation"] = ORACLES["m13_corrupt_asset_audit"]


# ---------------------------------------------------------------------------
# st27 — watermark drop accounting, ORACLE-CHECKED cell-exact against a
# full batch simulation of Spark's watermark semantics: q82 measures
# the lateness distribution, this operator CLOSES THE LOOP by running a
# real windowed streaming aggregation at the q82-calibrated p99
# watermark over a deterministically disordered arrival order and
# reporting, per type, how many rows the engine actually dropped.
# The sf events arrive perfectly ordered (q82 reads 0 lateness), so the
# arrival order is first shuffled deterministically (arrival seq :=
# rank of md5(event_id) — identical in both engines; the Spark side
# computes it TWO-PHASE, see _md5_disorder_sql), staged as 8
# arrival-order chunk files with ascending mtimes, and streamed with
# maxFilesPerTrigger=1 so micro-batch k IS chunk k in BOTH engines'
# models. Drop rule (validated end-to-end against the engine's
# numRowsDroppedByWatermark in tests/test_streaming_watermark_e2e.py):
# the watermark entering batch k is max(event-time ms over batches
# < k) - delay, and a row is dropped iff its WINDOW END <= that
# watermark — all integer arithmetic, so the DuckDB oracle replays it
# exactly: same md5 ranking, same ceil(n/8) chunking, same per-chunk
# prefix-max watermark, same integer-rank p99 delay.
# Scale shape: calibration is q82's two-phase prefix-max; the stream
# itself is the st01 windowed-agg shape with bounded state
# (|types| x |open windows| rows); the oracle-side simulation is two
# map-side-combinable groupBys plus a |chunks|-row prefix walk.
# Execution note: chunks are FED incrementally (copy file, drain,
# repeat — the foreachbatch_update_latest feeds mode) rather than
# pre-staged behind maxFilesPerTrigger: each drain runs the no-data
# batch that COMMITS the advanced watermark, giving the documented
# one-batch-lag semantics the oracle simulates; with availableNow
# throttling there are no empty commit batches and the effective
# watermark lags one extra batch (measured at sf0.01: 8 engine drops
# vs the model's 13 before the fix).
# ---------------------------------------------------------------------------
def _md5_disorder_sql(table: str = "events", seq_alias: str = "seq") -> str:
    """Deterministic md5 arrival shuffle for the SPARK side, TWO-PHASE
    (the q82 prefix-max respell applied to ranking): a bare
    ROW_NUMBER() OVER (ORDER BY md5(event_id)) funnels every row
    through ONE task. md5 hex order equals (2-hex-char prefix, full
    digest) order, so rank WITHIN each of the <= 256 prefix partitions
    and add the total count of all earlier prefixes — bitwise-identical
    seq values, 256-way parallel rank. The only remaining global window
    runs over the <= 256-row prefix-count relation (bounded by
    construction, the ts23/ts29 convention). Synthesis-only: the sf
    events arrive ordered, so a deterministic disorder must be
    manufactured for the replay; production arrival order is physical
    and never needs ranking. The DuckDB oracle keeps the single-window
    spelling — same values, and the oracle is not the scaled side.
    The offset join is NULL-SAFE (<=>): a NULL id hashes to a NULL
    prefix, and a plain equi-join would silently DROP those rows — a
    different defect class than the engines' differing NULL-ordering
    (which the single-window spelling had too, and which only a
    corpus with NULL primary keys could ever see)."""
    return f"""
    SELECT event_type, CAST(ts AS TIMESTAMP) AS ts,
           CAST(r + COALESCE(off, 0) AS BIGINT) AS {seq_alias}
    FROM (
      SELECT event_type, ts, substring(h, 1, 2) AS pfx,
             ROW_NUMBER() OVER (PARTITION BY substring(h, 1, 2)
                                ORDER BY h) AS r
      FROM (SELECT event_type, ts,
                   md5(CAST(event_id AS STRING)) AS h
            FROM {table}) hashed
    ) ranked
    JOIN (
      SELECT pfx AS opfx,
             SUM(c) OVER (ORDER BY pfx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS off
      FROM (SELECT substring(md5(CAST(event_id AS STRING)), 1, 2) AS pfx,
                   COUNT(*) AS c
            FROM {table} GROUP BY 1) per_pfx
    ) offsets ON ranked.pfx <=> offsets.opfx
    """


def _st27_sim_sql(table: str = "events") -> str:
    """The oracle's integer simulation of st27's watermark rule; it
    ranks arrival with one global window (the staged replay ranks
    two-phase, _md5_disorder_sql — identical seq values)."""
    dis = f"""
      SELECT event_type,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_us,
             ROW_NUMBER() OVER (ORDER BY md5(CAST(event_id AS VARCHAR))) AS seq
      FROM {table}
    """
    return f"""
    WITH dis AS ({dis}),
    lat AS (
      SELECT event_type,
             CAST((MAX(ts_us) OVER (PARTITION BY event_type ORDER BY seq
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ts_us)
                  // 60000000 AS BIGINT) AS late_min
      FROM dis
    ),
    ranked AS (
      SELECT event_type, late_min,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             COUNT(*) OVER (PARTITION BY event_type ORDER BY late_min
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM lat
    ),
    p99 AS (
      SELECT event_type,
             MIN(CASE WHEN cum * 100 >= n * 99 THEN late_min END) AS p99_late_min
      FROM ranked GROUP BY event_type
    ),
    delay AS (SELECT CAST(MAX(p99_late_min) AS BIGINT) AS delay_min FROM p99),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM dis),
    chunked AS (
      SELECT event_type, ts_us,
             CAST((seq - 1) // ((n + 7) // 8) AS BIGINT) AS chunk
      FROM dis CROSS JOIN tot
    ),
    chunk_max AS (
      SELECT chunk, CAST(MAX(ts_us) AS BIGINT) AS max_us
      FROM chunked GROUP BY chunk
    ),
    wm AS (
      SELECT chunk,
             MAX(max_us) OVER (ORDER BY chunk
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_us
      FROM chunk_max
    ),
    verdict AS (
      SELECT c.event_type,
             CASE WHEN w.prev_max_us IS NOT NULL
                   AND ((c.ts_us // 3600000000) + 1) * 3600000
                       <= (w.prev_max_us // 1000) - d.delay_min * 60000
                  THEN 1 ELSE 0 END AS dropped
      FROM chunked c JOIN wm w ON w.chunk = c.chunk CROSS JOIN delay d
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(dropped) AS BIGINT) AS n_dropped,
           CAST(COUNT(*) - SUM(dropped) AS BIGINT) AS n_survived
    FROM verdict GROUP BY event_type ORDER BY event_type
    """


_ST27_N_CHUNKS = 8


def _st27_staged(spark: SparkSession, sf_dir: str) -> tuple:
    """Stage the md5-disordered events as _ST27_N_CHUNKS arrival-order
    chunk FILES (one parquet file per ceil(n/8)-row arrival slice);
    st27 copies them into a live source dir one at a time so chunk k
    is exactly micro-batch k — the determinism the oracle's watermark
    simulation relies on. Returns (staged_dir, delay_min): the
    q82-calibrated p99 watermark delay is a PURE FUNCTION of the
    staged data, so it is computed once here (while the disorder
    relation is in hand anyway) and memoized with the staged dir — the
    per-call path never recomputes the full-corpus md5 disorder rank
    again (st27 was the heaviest battery query while calibration was
    charged on every call)."""
    load_tables(spark, sf_dir)
    return memo(
        spark, "st27_chunks", [table_path(sf_dir, "events")],
        lambda: _st27_stage(spark), durable=True,
    )


def _st27_stage(spark: SparkSession) -> tuple:
    import shutil

    from .relational import _late_arrival_sql

    staged = scratch("st27_")
    # ONE materialization of the two-phase rank: every downstream
    # action (count, 8 chunk writes, calibration) re-executes the full
    # corpus windows without it — the 67s-vs-16s cold/warm gap the
    # PERF ledger measured (r13 self-review; freed after staging)
    dis = materialize(spark.sql(_md5_disorder_sql("events", "seq")))
    n = dis.count()
    per_chunk = -(-n // _ST27_N_CHUNKS)
    import glob as _glob

    for k in range(_ST27_N_CHUNKS):
        tmp = os.path.join(staged, f"__tmp_{k}__")
        (
            dis.filter(
                (F.col("seq") > k * per_chunk) & (F.col("seq") <= (k + 1) * per_chunk)
            )
            .orderBy("seq")
            .select("event_type", "ts")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        part = _glob.glob(os.path.join(tmp, "part-*"))[0]
        shutil.move(part, os.path.join(staged, f"chunk-{k:05d}.parquet"))
        shutil.rmtree(tmp)
    # q82 p99 calibration over the SAME materialized disorder relation
    # (seq renamed event_id because _late_arrival_sql ranks arrival by
    # it) — no tenth recomputation of the corpus windows
    dis.withColumnRenamed("seq", "event_id").createOrReplaceTempView(
        "st27_dis"
    )
    delay_min = int(
        spark.sql(
            "SELECT MAX(p99_late_min) FROM ("
            + _late_arrival_sql(True, table="st27_dis")
            + ")"
        ).first()[0]
    )
    spark.catalog.dropTempView("st27_dis")
    release(dis)
    return staged, delay_min


#: per-call wall split for the staged-replay streaming queries, keyed
#: by query name — bench.py copies it into BENCH_DETAIL.json so the
#: amortized staging/calibration half is visible separately from the
#: per-call stream wall (r12 verdict: d33's pipeline models the same
#: build-vs-probe split through stage walls)
COST_SPLITS: dict = {}


def st27(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming watermark drop accounting, ORACLE-CHECKED cell-exact
    (see the block comment above): a REAL windowed streaming
    aggregation runs at the q82-calibrated p99 watermark over the
    deterministic disordered chunk replay; surviving per-window counts
    come from the update-mode latest-wins sink, and the per-type
    n_dropped is arrival minus survival — equal to the DuckDB oracle's
    integer simulation of the watermark rule. Per-call cost is the
    stream replay plus two tiny grouped joins: the md5 disorder rank
    and the p99 calibration are computed once in _st27_staged and
    memoized per session and events fingerprint, and the arrival
    counts come from the staged chunk parquet (the disorder relation's
    exact image) rather than a fresh full-corpus window."""
    import time as _time

    from ..streaming.stream import (
        foreachbatch_update_latest,
        state_store_conf,
        stream_tap,
    )

    load_tables(spark, sf_dir)
    t0 = _time.time()
    staged, delay_min = _st27_staged(spark, sf_dir)
    t_staging = _time.time() - t0
    t0 = _time.time()
    base = staged + "_state"
    import shutil

    live = scratch("st27_live_")

    def feed(k: int) -> None:
        shutil.copy(
            os.path.join(staged, f"chunk-{k:05d}.parquet"),
            os.path.join(live, f"chunk-{k:05d}.parquet"),
        )

    feed(0)
    stream = stream_tap(spark, live, read_parquet(spark, staged).schema)
    agg = (
        stream.withWatermark("ts", f"{delay_min} minutes")
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_micros(F.col("window.start")).alias("win_start_us"),
            "event_type",
            "n",
        )
    )
    # RocksDB state store for the replay (st29's provider surface,
    # restored unset-aware): the provider decides WHERE state lives,
    # never WHAT it is — emissions are bit-identical — and it is the
    # production spec at 100 TB/day state volumes. Also measured
    # FASTER here: interleaved warm A/B on this replay read ~12% off
    # the stream wall vs the heap-backed default (same direction as
    # the st22/st29 soak, PERF r32: 55.0s vs 79.2s over 24 batches).
    with state_store_conf(spark, "rocksdb"):
        surv = foreachbatch_update_latest(
            agg,
            ["win_start_us", "event_type"],
            base,
            feeds=[
                (lambda k=k: feed(k)) for k in range(1, _ST27_N_CHUNKS)
            ],
        )
    # the report reads only the state parquet + the staged chunks; the
    # drained live source dir (fresh per call) can go immediately
    shutil.rmtree(live, ignore_errors=True)
    surv.createOrReplaceTempView("st27_surv")
    # arrival counts per type come from the STAGED chunk parquet — the
    # exact row image of the disorder relation (chunking is a
    # partition of it), so GROUP BY over it equals GROUP BY over the
    # corpus without recomputing the md5 rank windows per call
    read_parquet(spark, staged).createOrReplaceTempView("st27_arrivals")
    # LEFT join from the arrival side: an event type whose rows are ALL
    # dropped by the watermark has no survivor rows, but must still be
    # reported with n_survived = 0 — the oracle's simulation keeps
    # every arriving type (r11 advice, medium).
    out = spark.sql("""
      SELECT t.event_type AS event_type,
             t.n_rows AS n_rows,
             CAST(t.n_rows - COALESCE(s.n_survived, 0) AS BIGINT) AS n_dropped,
             CAST(COALESCE(s.n_survived, 0) AS BIGINT) AS n_survived
      FROM (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM st27_arrivals GROUP BY event_type) t
      LEFT JOIN (SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_survived
            FROM st27_surv GROUP BY event_type) s
        ON s.event_type = t.event_type
      ORDER BY event_type
    """)
    COST_SPLITS["st27_stream_watermark_drops"] = {
        "staging_calibration_sec": round(t_staging, 3),
        "stream_wall_sec": round(_time.time() - t0, 3),
    }
    return out


QUERIES["st27_stream_watermark_drops"] = st27
ORACLES["st27_stream_watermark_drops"] = _st27_sim_sql()


# ---------------------------------------------------------------------------
# st24 — streaming quantile maintenance with BOUNDED histogram state:
# events arrive as a throttled file stream; each micro-batch quantizes
# value to exact cents (floor of a DECIMAL — both engines truncate
# identically) and folds into $5-wide buckets, and
# foreachbatch_merge_counts maintains EXACT per-(event_type, bucket)
# counters — integer addition is associative, so the state equals the
# batch GROUP BY whatever the trigger boundaries. State is
# |types| x |occupied buckets| rows (value <= $500 -> <= ~100 buckets
# per type) REGARDLESS of stream length — the st22/st23 bounded-state
# property applied to distribution sketching. The report reads
# p50/p90/p99 as the exact lower bound of the bucket where the
# cumulative count first reaches ceil(q*N) — pure integer rank
# arithmetic, identical on both engines; a production deployment
# narrows the bucket width for finer quantiles at linearly more state.
# ---------------------------------------------------------------------------
_ST24_BUCKET_CENTS = 500


def _stream_quantile_sql(src: str, width: int = _ST24_BUCKET_CENTS) -> str:
    w = width
    return f"""
    WITH tot AS (
      SELECT event_type, CAST(SUM(n) AS BIGINT) AS total
      FROM {src} GROUP BY event_type
    ),
    cum AS (
      SELECT s.event_type, s.bucket, s.n,
             CAST(SUM(s.n) OVER (PARTITION BY s.event_type ORDER BY s.bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_n
      FROM {src} s
    )
    SELECT t.event_type AS event_type,
           t.total AS n_events,
           CAST(MIN(CASE WHEN c.cum_n >= (t.total + 1) // 2
                         THEN c.bucket END) * {w} AS BIGINT) AS p50_lo_cents,
           CAST(MIN(CASE WHEN c.cum_n >= (9 * t.total + 9) // 10
                         THEN c.bucket END) * {w} AS BIGINT) AS p90_lo_cents,
           CAST(MIN(CASE WHEN c.cum_n >= (99 * t.total + 99) // 100
                         THEN c.bucket END) * {w} AS BIGINT) AS p99_lo_cents
    FROM tot t JOIN cum c ON c.event_type = t.event_type
    GROUP BY t.event_type, t.total
    ORDER BY event_type
    """


def st24(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quantile maintenance, ORACLE-CHECKED cell-exact
    against the batch bucket histogram (see the block comment above):
    bounded per-(type, bucket) counter state via
    foreachbatch_merge_counts, exact integer rank -> bucket lower
    bound report shared verbatim with the DuckDB oracle."""
    from ..streaming.stream import foreachbatch_merge_counts, stream_tap

    staged, schema = _staged_events(spark, sf_dir)
    base = staged + "_st24_state"
    stream = stream_tap(spark, staged, schema, max_files_per_trigger=2)
    bucketed = stream.select(
        "event_type",
        F.expr(
            "CAST(floor(CAST(value AS DECIMAL(18,6)) * 100) AS BIGINT) "
            f"div {_ST24_BUCKET_CENTS}"
        ).alias("bucket"),
    )
    state = foreachbatch_merge_counts(bucketed, ["event_type", "bucket"], base)
    state.createOrReplaceTempView("st24_state")
    return spark.sql(rewrite_sql(_stream_quantile_sql("st24_state"), {}))


QUERIES["st24_stream_quantiles"] = st24
ORACLES["st24_stream_quantiles"] = (
    """
    WITH st24_state AS (
      SELECT event_type,
             CAST(floor(CAST(value AS DECIMAL(18,6)) * 100) AS BIGINT) // """
    + str(_ST24_BUCKET_CENTS)
    + """ AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    q AS ("""
    + _stream_quantile_sql("st24_state")
    + """)
    SELECT * FROM q
"""
)


# ---------------------------------------------------------------------------
# st25 — streaming PSI drift maintenance: q73's population-stability
# monitor kept NEXT TO the stream instead of recomputed per report.
# Each event routes to (snap, bucket) — snap 0 = before the fixed
# calendar split (the frozen REFERENCE window), snap 1 = after (the
# LIVE window) — and foreachbatch_merge_counts maintains the exact
# 2 x |occupied buckets| counter lattice (integer merge is
# trigger-invariant; the st22/st23/st24 bounded-state property). The
# report is q73's shared PSI tail over the state table: +1-smoothed
# per-bin (p - q) * ln(p / q) contributions, exact-integer inputs,
# ROUND(...,6) — cell-exact on both engines. In production the split
# is the model-training cutoff; a drifting live window fires the
# retrain/recalibrate trigger without ever rescanning history.
# ---------------------------------------------------------------------------
_ST25_SPLIT_US = 1705363200000000  # 2024-01-16 00:00:00 UTC (mid-corpus)
_ST25_BUCKET_CENTS = 500


def st25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stream import foreachbatch_merge_counts, stream_tap

    staged, schema = _staged_events(spark, sf_dir)
    base = staged + "_st25_state"
    stream = stream_tap(spark, staged, schema, max_files_per_trigger=2)
    cells = stream.select(
        F.expr(f"CAST(unix_micros(ts) >= {_ST25_SPLIT_US} AS INT)").alias("snap"),
        F.expr(
            "CAST(floor(CAST(value AS DECIMAL(18,6)) * 100) AS BIGINT) "
            f"div {_ST25_BUCKET_CENTS}"
        ).alias("bin"),
    )
    state = foreachbatch_merge_counts(cells, ["snap", "bin"], base)
    state.createOrReplaceTempView("st25_cells")
    from .relational import _psi_tail_sql

    return spark.sql(_psi_tail_sql("st25_cells", width=_ST25_BUCKET_CENTS))


QUERIES["st25_stream_psi_drift"] = st25


def _st25_oracle() -> str:
    from .relational import _psi_tail_sql

    tail = _psi_tail_sql("cells", width=_ST25_BUCKET_CENTS).strip()
    return (
        f"""
    WITH cells AS (
      SELECT CAST(epoch_us(ts) >= {_ST25_SPLIT_US} AS INT) AS snap,
             CAST(floor(CAST(value AS DECIMAL(18,6)) * 100) AS BIGINT) // {_ST25_BUCKET_CENTS} AS bin,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ), """
        + tail[len("WITH ") :]
    )


ORACLES["st25_stream_psi_drift"] = _st25_oracle()


# ---------------------------------------------------------------------------
# st28 — streaming incremental dedup against the PERSISTED bucketed
# band index: the streaming face of d33, and the production shape of
# the 100 TB dedup loop — the corpus index is a static asset built
# once per snapshot (build_band_index); new documents ARRIVE as a
# stream, and each micro-batch bands itself and probes the index.
# Verdicts are per-document (own batch + the static index only), so
# there is NO cross-batch streaming state — st13's screening pattern:
# the sink is append-only, the state store is empty, and throughput
# scales with batch volume while the corpus side never reshuffles
# (each probe join reads the bucketed layout; a small batch side gets
# broadcast by AQE from real stats — the d33 no-hint deployment mode).
# Every doc lands in exactly ONE batch (whole-doc range files), so the
# union of batch verdicts equals the batch relation (d33) cell-exactly
# — same oracle.
# ---------------------------------------------------------------------------
def _staged_batch_docs(spark: SparkSession, sf_dir: str, n_slices: int = 4) -> tuple:
    """Stage the d33 BATCH slice (doc_id % D33_NEW_MOD = D33_NEW_REM)
    as n_slices doc-ranged files for the streaming file source —
    whole documents per file, so per-doc verdicts make file boundaries
    safe batch boundaries."""
    from .dedup import D33_NEW_MOD, D33_NEW_REM

    return _staged(
        spark,
        sf_dir,
        f"st28_{n_slices}",
        "documents",
        lambda df, path: df.filter(F.col("doc_id") % D33_NEW_MOD == D33_NEW_REM)
        .select("doc_id", "text")
        .repartitionByRange(n_slices, "doc_id")
        .write.mode("overwrite")
        .parquet(path),
    )


def st28(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming band-index probe, ORACLE-CHECKED cell-exact against
    d33's batch relation (see the block comment above)."""
    from ..streaming.stream import foreachbatch_append, stream_tap
    from .dedup import band_probe_sql, build_band_index, spark_bands_inline_sql

    load_tables(spark, sf_dir)
    index_table = build_band_index(spark, sf_dir)
    staged, schema = _staged_batch_docs(spark, sf_dir)

    def screen(batch_df: DataFrame) -> DataFrame:
        s = batch_df.sparkSession
        batch_df.select("doc_id", "text").createOrReplaceTempView("__st28_src__")
        s.sql(spark_bands_inline_sql("__st28_src__")).createOrReplaceTempView(
            "__st28_bands__"
        )
        # no merge pin here: the micro-batch side is small by design,
        # so AQE broadcasts the BATCH bands from real stats and the
        # bucketed corpus index is read with no shuffle at all
        return s.sql(band_probe_sql("__st28_bands__"), b=s.table(index_table))

    base = staged.rstrip("/") + "_probe"
    stream = stream_tap(spark, staged, schema, max_files_per_trigger=1)
    out = foreachbatch_append(stream, screen, base)
    return out.orderBy("doc_id")


QUERIES["st28_stream_band_probe"] = st28


def _st28_oracle() -> str:
    from .dedup import DUCK_CAND_CTES, _d33_sql

    return _d33_sql(DUCK_CAND_CTES).format(
        join_pred="n.band_id = b.band_id AND n.band_key = b.band_key "
        "AND b.doc_id <> n.doc_id"
    )


ORACLES["st28_stream_band_probe"] = _st28_oracle()


# ---------------------------------------------------------------------------
# st29 — the RocksDB state store provider as a GRADED surface (r12
# verdict punch item 4, completing the r13 `state_store` config
# surface): st22's bounded-state gap-closure sessionizer — the
# applyInPandasWithState machinery whose cross-batch state is three
# longs per live key — executed end-to-end on Spark's RocksDB provider
# (spark.sql.streaming.stateStore.providerClass, scoped to this query
# via state_store_conf and restored unset-aware). The provider decides
# WHERE state lives (off-heap RocksDB + local disk vs the default
# executor-heap maps), never WHAT the state is, so the emitted session
# set is bit-identical to st22's and the Kaplan-Meier tail reuses
# st22's full value oracle. At 100 TB/day this is not a demo choice:
# heap-backed stores OOM at production key counts, and the soak
# measurement (PERF r32: 55.0s vs 79.2s over 24 micro-batches at
# sf0.1) shows RocksDB is also FASTER at bench state sizes. The last
# run's provider custom metrics are kept in _ST29_LAST_METRICS so the
# pytest gate can prove RocksDB actually backed the graded execution
# (the heap provider reports no rocksdb* metrics).
# Scale shape: identical to st22 (bounded state, append sink).
# Reference parity: no counterpart (the reference has no streaming
# engine; SURVEY §7 names streaming the designed extension).
# ---------------------------------------------------------------------------
#: provider custom metrics from st29's last streaming run — the pytest
#: gate asserts rocksdb* keys are present (provider proof)
_ST29_LAST_METRICS: dict = {}


def st29(spark: SparkSession, sf_dir: str) -> DataFrame:
    """st22's bounded-state streaming survival tail, executed on the
    RocksDB state store provider (see the block comment above)."""
    global _ST29_LAST_METRICS
    from ..streaming.stream import (
        foreachbatch_append,
        sessionize_stateful,
        state_store_conf,
        stream_tap,
    )
    from .timeseries import SESSION_GAP_MIN, _survival_tail_sql

    staged, schema = _staged_events(spark, sf_dir)
    stream = stream_tap(spark, staged, schema)
    sessions = sessionize_stateful(
        stream, gap_minutes=SESSION_GAP_MIN, watermark="3650 days"
    )
    # Parquet append sink instead of the memory sink (guide §5 — the
    # driver should do almost no data work): the memory sink collected
    # every emitted session (93,965 rows at sf0.1) into driver JVM
    # memory inside addBatch and served the survival tail from a
    # ONE-partition LocalTableScan re-serialized per execution
    # (measured 1.21-1.35 s per tail run). The per-batch parquet append
    # stays executor-side and the tail reads the files distributed with
    # real stats. The emitted session SET is sink-independent, so the
    # graded relation (st22's oracle) is unchanged.
    base = staged.rstrip("/") + "_st29_sessions"
    progress: list = []
    with state_store_conf(spark, "rocksdb"):
        out = foreachbatch_append(
            sessions, lambda batch_df: batch_df, base, progress_out=progress
        )
    prog = [p for p in progress if p.get("stateOperators")]
    _ST29_LAST_METRICS = (
        dict(prog[-1]["stateOperators"][0].get("customMetrics", {}))
        if prog
        else {}
    )
    out.select(
        F.floor(
            (
                F.unix_micros(F.col("session_end"))
                - F.unix_micros(F.col("session_start"))
            ).cast("double")
            / 60000000.0
        )
        .cast("bigint")
        .alias("dur_min"),
        F.unix_micros(F.col("session_end")).cast("bigint").alias("end_us"),
    ).createOrReplaceTempView("st29_sessions")
    return spark.sql(_survival_tail_sql("st29_sessions"))


QUERIES["st29_rocksdb_survival"] = st29
# same emitted set as st22 (the provider changes where state lives,
# never what it is) -> st22's full value oracle verbatim
ORACLES["st29_rocksdb_survival"] = _st22_oracle()
