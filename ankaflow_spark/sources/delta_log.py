"""Jar-free Delta Lake fallback ("delta-lite"): a minimal reader/writer
for the public Delta transaction-log protocol
(https://github.com/delta-io/delta/blob/master/PROTOCOL.md), used by the
Delta connector when the delta-spark jars are absent from the classpath
(reference surface: ankaflow/connections/delta.py — its engine embeds
delta-rs; here the log is replayed in plain Python and the parquet data
files are read/written with the stock Spark reader).

Scope (documented, checked):

* **Read**: `_last_checkpoint` + parquet checkpoint + JSON commits are
  replayed into the active add-file set; data files load through
  ``read_parquet`` with ``basePath`` so partition columns recover
  from the directory layout. Reader protocol is capped at 2 — tables
  using deletion vectors or column mapping raise a clear error rather
  than returning wrong rows.
* **Write**: single-writer local commits only (no concurrent-commit
  arbitration, no isolation guarantees): suitable for tests and
  single-driver pipelines. Real clusters should put delta-spark on the
  classpath; the connector then uses it automatically.

The log replay is driver-side by design — that is where Delta itself
maintains snapshot state; the data files themselves are never collected.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import time
from typing import Any, Dict, List, Optional, Tuple
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .parquet import read_parquet

MAX_READER_VERSION = 2
MAX_WRITER_VERSION = 2


class DeltaProtocolError(RuntimeError):
    pass


def _log_dir(table_path: str) -> str:
    return os.path.join(table_path, "_delta_log")


def is_delta_table(table_path: str) -> bool:
    return bool(glob.glob(os.path.join(_log_dir(table_path), "*.json")))


def _commit_files(table_path: str) -> List[Tuple[int, str]]:
    out = []
    for f in glob.glob(os.path.join(_log_dir(table_path), "*.json")):
        stem = os.path.basename(f).split(".")[0]
        if stem.isdigit():
            out.append((int(stem), f))
    return sorted(out)


def _checkpoint_version(table_path: str) -> int:
    marker = os.path.join(_log_dir(table_path), "_last_checkpoint")
    if not os.path.exists(marker):
        return -1
    with open(marker) as fh:
        return int(json.load(fh)["version"])


def latest_version(table_path: str) -> int:
    """Highest committed version — JSON commits OR the checkpoint
    (after log truncation the checkpoint may be the only record)."""
    commits = _commit_files(table_path)
    json_latest = commits[-1][0] if commits else -1
    return max(json_latest, _checkpoint_version(table_path))


def _read_checkpoint(
    spark: SparkSession, table_path: str
) -> Tuple[int, Dict[str, Dict[str, Any]], Optional[Dict[str, Any]]]:
    """Load `_last_checkpoint` if present -> (version, active adds,
    metaData). Returns (-1, {}, None) when there is no checkpoint."""
    version = _checkpoint_version(table_path)
    if version < 0:
        return -1, {}, None
    ckpt = os.path.join(_log_dir(table_path), f"{version:020d}.checkpoint.parquet")
    rows = read_parquet(spark, ckpt).collect()
    adds: Dict[str, Dict[str, Any]] = {}
    meta: Optional[Dict[str, Any]] = None
    for r in rows:
        d = r.asDict(recursive=True)
        if d.get("add"):
            adds[d["add"]["path"]] = d["add"]
        if d.get("metaData") and d["metaData"].get("id"):
            meta = d["metaData"]
        if d.get("protocol") and d["protocol"].get("minReaderVersion"):
            _check_protocol(d["protocol"])
    return version, adds, meta


def _check_protocol(protocol: Dict[str, Any]) -> None:
    reader = int(protocol.get("minReaderVersion") or 1)
    if reader > MAX_READER_VERSION:
        raise DeltaProtocolError(
            f"Delta table requires reader protocol {reader} (deletion vectors / "
            f"column mapping); the jar-free fallback supports <= {MAX_READER_VERSION}. "
            "Add io.delta:delta-spark to spark.jars.packages to read this table."
        )


def snapshot(
    spark: SparkSession,
    table_path: str,
    version_as_of: Optional[int] = None,
) -> Tuple[Dict[str, Dict[str, Any]], Optional[Dict[str, Any]], int]:
    """Replay the log -> (active adds by relative path, metaData,
    version). ``version_as_of`` stops the replay at that commit (time
    travel). When the requested version predates the checkpoint, the
    replay restarts from commit 0 — possible only while the JSON
    commits survive; a cleaned log raises with the retention
    explanation, exactly as delta-spark does."""
    if not os.path.isdir(_log_dir(table_path)):
        raise FileNotFoundError(f"not a Delta table (no _delta_log): {table_path}")
    ckpt_version, adds, meta = _read_checkpoint(spark, table_path)
    if version_as_of is not None:
        latest = latest_version(table_path)
        if version_as_of > latest or version_as_of < 0:
            raise ValueError(
                f"cannot time travel to version {version_as_of}: table "
                f"{table_path} is at version {latest}"
            )
        if ckpt_version > version_as_of:
            commits = dict(_commit_files(table_path))
            if 0 not in commits:
                raise ValueError(
                    f"cannot time travel to version {version_as_of}: the "
                    f"checkpoint is at {ckpt_version} and earlier JSON "
                    "commits were cleaned up (log retention)"
                )
            ckpt_version, adds, meta = -1, {}, None
    version = ckpt_version
    for v, f in _commit_files(table_path):
        if v <= ckpt_version:
            continue
        if version_as_of is not None and v > version_as_of:
            break
        version = v
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                action = json.loads(line)
                if "add" in action:
                    adds[action["add"]["path"]] = action["add"]
                elif "remove" in action:
                    adds.pop(action["remove"]["path"], None)
                elif "metaData" in action:
                    meta = action["metaData"]
                elif "protocol" in action:
                    _check_protocol(action["protocol"])
    return adds, meta, version


def table_schema(meta: Optional[Dict[str, Any]]) -> Optional[T.StructType]:
    """Delta's metaData.schemaString is a JSON-serialized Spark
    StructType — parse it directly."""
    if not meta or not meta.get("schemaString"):
        return None
    return T.StructType.fromJson(json.loads(meta["schemaString"]))


def read_delta_table(
    spark: SparkSession, table_path: str, version_as_of: Optional[int] = None
) -> DataFrame:
    adds, meta, _ = snapshot(spark, table_path, version_as_of=version_as_of)
    schema = table_schema(meta)
    if not adds:
        if schema is None:
            raise ValueError(f"empty Delta table with no schema metadata: {table_path}")
        return spark.createDataFrame([], schema=schema)
    files = [os.path.join(table_path, unquote(p)) for p in sorted(adds)]
    df = read_parquet(spark, files, options={"basePath": table_path})
    if schema is not None:
        # project to the declared column order (partition columns are
        # appended by the scan; the log's schema is the contract)
        cols = [f.name for f in schema.fields if f.name in df.columns]
        df = df.select(*cols)
    return df


# ---------------------------------------------------------------------------
# writer (single-writer local commits)
# ---------------------------------------------------------------------------
def _atomic_write(path: str, payload: str) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(payload)
    os.replace(tmp, path)


def commit(table_path: str, actions: List[Dict[str, Any]]) -> int:
    """Append one commit (list of action dicts) as the next version."""
    os.makedirs(_log_dir(table_path), exist_ok=True)
    version = latest_version(table_path) + 1
    payload = "\n".join(json.dumps(a) for a in actions) + "\n"
    _atomic_write(os.path.join(_log_dir(table_path), f"{version:020d}.json"), payload)
    return version


def _meta_action(schema: T.StructType, partition_by: List[str], table_path: str) -> Dict[str, Any]:
    return {
        "metaData": {
            # deterministic id — stable across re-creates of the same path
            "id": hashlib.md5(table_path.encode()).hexdigest(),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema.json(),
            "partitionColumns": list(partition_by or []),
            "configuration": {},
            "createdTime": int(time.time() * 1000),
        }
    }


def _protocol_action() -> Dict[str, Any]:
    return {"protocol": {"minReaderVersion": 1, "minWriterVersion": MAX_WRITER_VERSION}}


def _partition_values(rel_path: str, partition_by: List[str]) -> Dict[str, str]:
    vals: Dict[str, str] = {}
    for seg in rel_path.split("/")[:-1]:
        if "=" in seg:
            k, _, v = seg.partition("=")
            if k in partition_by:
                vals[k] = unquote(v)
    return vals


def _stage_data_files(
    df: DataFrame, table_path: str, partition_by: List[str]
) -> List[Dict[str, Any]]:
    """Write df's parquet files beside the table, move them into the
    table directory (preserving partition subdirs), and return their add
    actions."""
    staging = table_path.rstrip("/") + ".__delta_stage__"
    shutil.rmtree(staging, ignore_errors=True)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staging)
    adds: List[Dict[str, Any]] = []
    now = int(time.time() * 1000)
    for f in glob.glob(os.path.join(staging, "**", "*.parquet"), recursive=True):
        rel = os.path.relpath(f, staging)
        # re-suffix so repeated commits never collide on a file name
        stem, ext = os.path.splitext(os.path.basename(rel))
        unique = hashlib.md5(f"{table_path}|{rel}|{now}|{len(adds)}".encode()).hexdigest()[:12]
        rel_new = os.path.join(os.path.dirname(rel), f"{stem}-{unique}{ext}")
        dst = os.path.join(table_path, rel_new)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.move(f, dst)
        adds.append(
            {
                "add": {
                    "path": rel_new.replace(os.sep, "/"),
                    "partitionValues": _partition_values(rel_new, partition_by),
                    "size": os.path.getsize(dst),
                    "modificationTime": now,
                    "dataChange": True,
                }
            }
        )
    shutil.rmtree(staging, ignore_errors=True)
    return adds


def _remove_actions(adds: Dict[str, Dict[str, Any]]) -> List[Dict[str, Any]]:
    now = int(time.time() * 1000)
    return [
        {"remove": {"path": p, "deletionTimestamp": now, "dataChange": True}}
        for p in sorted(adds)
    ]


def create_empty_table(
    spark: SparkSession, table_path: str, schema: T.StructType, partition_by: List[str]
) -> None:
    os.makedirs(table_path, exist_ok=True)
    commit(
        table_path,
        [_protocol_action(), _meta_action(schema, partition_by, table_path)],
    )


def write_delta_table(
    spark: SparkSession,
    df: DataFrame,
    table_path: str,
    mode: str = "append",
    partition_by: Optional[List[str]] = None,
) -> None:
    partition_by = list(partition_by or [])
    os.makedirs(table_path, exist_ok=True)
    existing: Dict[str, Dict[str, Any]] = {}
    if is_delta_table(table_path):
        existing, _, _ = snapshot(spark, table_path)
        if mode in ("error", "errorifexists"):
            raise FileExistsError(f"Delta table exists: {table_path}")
    actions: List[Dict[str, Any]] = []
    if latest_version(table_path) < 0:
        actions.append(_protocol_action())
        actions.append(_meta_action(df.schema, partition_by, table_path))
    if mode == "overwrite":
        actions.extend(_remove_actions(existing))
    actions.extend(_stage_data_files(df, table_path, partition_by))
    commit(table_path, actions)


def truncate_delta_table(spark: SparkSession, table_path: str) -> None:
    """All rows removed, table + schema kept (one commit of removes)."""
    adds, _, _ = snapshot(spark, table_path)
    if adds:
        commit(table_path, _remove_actions(adds))


def compact_delta_table(spark: SparkSession, table_path: str) -> None:
    """OPTIMIZE COMPACT: rewrite the active set as one commit of fresh
    files (dataChange false is the real OPTIMIZE spelling; kept true
    here for simplicity — semantics identical for readers of the latest
    snapshot)."""
    adds, meta, _ = snapshot(spark, table_path)
    if not adds:
        return
    df = read_delta_table(spark, table_path)
    partition_by = list((meta or {}).get("partitionColumns") or [])
    coalesced = df.coalesce(max(1, len(partition_by) or 1))
    actions = _remove_actions(adds)
    actions.extend(_stage_data_files(coalesced, table_path, partition_by))
    commit(table_path, actions)


def write_checkpoint(spark: SparkSession, table_path: str) -> int:
    """Materialize the current snapshot as a parquet checkpoint +
    `_last_checkpoint` marker, so replay cost stays O(files since last
    checkpoint) instead of O(all commits) — the log-compaction step a
    long-lived table needs (real Delta checkpoints every 10 commits)."""
    adds, meta, version = snapshot(spark, table_path)
    lines = [json.dumps(_protocol_action())]
    if meta:
        lines.append(json.dumps({"metaData": meta}))
    lines.extend(json.dumps({"add": a}) for a in adds.values())
    df = spark.read.json(spark.sparkContext.parallelize(lines, 1))
    staging = os.path.join(_log_dir(table_path), ".ckpt_stage")
    shutil.rmtree(staging, ignore_errors=True)
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
    ckpt = os.path.join(_log_dir(table_path), f"{version:020d}.checkpoint.parquet")
    shutil.move(part, ckpt)
    shutil.rmtree(staging, ignore_errors=True)
    _atomic_write(
        os.path.join(_log_dir(table_path), "_last_checkpoint"),
        json.dumps({"version": version, "size": len(lines)}),
    )
    return version


def vacuum_delta_table(
    spark: SparkSession, table_path: str, retention_hours: float
) -> List[str]:
    """Delete data files no longer referenced by the latest snapshot and
    older than the retention window; returns the deleted paths."""
    adds, _, _ = snapshot(spark, table_path)
    active = {os.path.join(table_path, unquote(p)) for p in adds}
    cutoff = time.time() - retention_hours * 3600
    deleted: List[str] = []
    for f in glob.glob(os.path.join(table_path, "**", "*.parquet"), recursive=True):
        if os.sep + "_delta_log" + os.sep in f or f in active:
            continue
        if os.path.getmtime(f) <= cutoff:
            os.remove(f)
            deleted.append(f)
    return deleted
