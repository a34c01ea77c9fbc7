"""Deterministic synthetic inputs for the benchmark.

Writes the ten star-schema/corpus tables the operator battery reads
(``region nation customer supplier part orders lineitem events documents
embeddings``), one parquet file each, with the same schemas, row counts
and value distributions as the battery's sf-scaled test data: uniform
keys, TPC-H-like categorical columns, a 31-word document vocabulary with
a few exact duplicate documents, and 64-dimensional unit-norm float32
embeddings.

The same ``(sf, seed)`` always yields byte-identical column values.
Generation is vectorised numpy; sf0.1 (about 17 MB of parquet) takes a
couple of seconds.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("cold", "hot", "red", "blue", "small", "large", "old", "new")
PART_NOUN = ("widget", "plate", "ring", "rod", "bolt", "gear", "pipe", "valve")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EMB_DIM = 64

_US_PER_DAY = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _pick(rng, choices, n, p=None) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)])


def row_counts(sf: float) -> dict:
    return {
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "users": max(15, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _documents(rng, n: int) -> pa.Table:
    lens = rng.integers(10, 101, n)
    words = np.asarray(WORDS, dtype=object)[rng.integers(0, len(WORDS), int(lens.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(n)]
    # a handful of exact duplicates, so exact/near-dup operators have work
    n_dup = max(1, n // 600)
    for src, dst in zip(rng.choice(n, n_dup, replace=False), rng.choice(n, n_dup, replace=False)):
        texts[dst] = texts[src]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def tables(sf: float, seed: int) -> dict:
    """Build every table in memory: ``{name: pyarrow.Table}``."""
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    out = {
        "region": pa.table(
            {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
            }
        ),
    }
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
            "c_acctbal": pa.array(_cents(rng.uniform(-999.99, 9999.99, nc))),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
            "s_acctbal": pa.array(_cents(rng.uniform(-999.99, 9999.99, ns))),
        }
    )
    npart = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
            "p_name": _pick(rng, names, npart),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, npart)]),
            "p_type": _pick(rng, PART_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + (np.arange(npart) % 1000) / 10.0, 1)),
        }
    )
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, nc, no)),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), no),
            "o_totalprice": pa.array(_cents(rng.uniform(1000.0, 500000.0, no))),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2400, no) * _US_PER_DAY),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl)),
            "l_partkey": pa.array(rng.integers(0, npart, nl)),
            "l_suppkey": pa.array(rng.integers(0, ns, nl)),
            "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(_cents(qty * rng.uniform(900.0, 2100.0, nl))),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
            "l_linestatus": _pick(rng, ("F", "O"), nl),
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(0, 2500, nl) * _US_PER_DAY),
        }
    )
    ne = n["events"]
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _US_PER_DAY, ne))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne, dtype=np.int64)),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, n["users"], ne)),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": pa.array(np.maximum(0.01, _cents(rng.exponential(50.0, ne)))),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def write(out_dir: str, sf: float, seed: int) -> str:
    """Write every table as ``<out_dir>/<name>.parquet`` (one row group
    each, like the battery's test data) and return ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf, seed).items():
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=max(1, table.num_rows)
        )
    return out_dir
