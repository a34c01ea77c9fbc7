"""Local stand-in for the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, column
names/types, and cell-exact values (order-insensitive). Stricter than a
hash compare: on mismatch it prints the first differing rows.

Usage: python tools/oracle_check.py [sf_dir] [query_name ...]

Set ORACLE_CHECK_JSON=/path/out.json to also write a driver-format
artifact ({name: {rows_match, schema_match, hash_match, spark_rows,
oracle_rows, err}}) — used to commit CORRECTNESS_FULL_r{N}.json covering
the full battery (the driver's own artifact caps at 50 entries).
"""

from __future__ import annotations

import datetime as _dt
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def canon_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # exact: doubles must match bit-for-bit across engines
        return repr(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_cell(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def dtype_family(t: str) -> str:
    """Collapse a Spark/DuckDB type name to its pandas *render* family.

    The driver hashes values after a pandas round-trip, so two engines
    agree iff each column renders identically — e.g. DuckDB HUGEINT
    becomes float64 ("-1234.0") while Spark BIGINT stays int64
    ("-1234").  Families: int, float, decimal.<scale>, bool, str,
    date, ts, bin, list, struct.
    """
    t = str(t).strip().lower()
    if t.startswith(("decimal", "numeric")):
        scale = t[t.find(",") + 1 : t.find(")")].strip() if "," in t else "0"
        return f"decimal.{scale}"
    if t in ("hugeint", "uhugeint"):
        return "float"  # pandas has no int128 → float64
    if t in (
        "tinyint", "smallint", "int", "integer", "bigint", "long", "short",
        "byte", "utinyint", "usmallint", "uinteger", "ubigint",
        "int1", "int2", "int4", "int8",
    ):
        return "int"
    if t in ("float", "double", "real", "float4", "float8"):
        return "float"
    if t in ("boolean", "bool"):
        return "bool"
    if t in ("varchar", "string", "text", "char"):
        return "str"
    if t == "date":
        return "date"
    if t.startswith("timestamp"):
        return "ts"
    if t in ("blob", "binary", "bytea", "varbinary"):
        return "bin"
    if t.startswith(("array", "list")) or t.endswith("[]"):
        return "list"
    if t.startswith(("struct", "map", "row")):
        return "struct"
    return t


def dtype_problems(s_cols, s_types, d_cols, d_types):
    """Driver-hash-breaking dtype drift between Spark and oracle output."""
    problems = []
    smap = {c: dtype_family(t) for c, t in zip(s_cols, s_types)}
    for c, t in zip(d_cols, d_types):
        tl = str(t).strip().lower()
        if tl in ("hugeint", "uhugeint"):
            problems.append(
                f"oracle column `{c}` is {tl} — pandas renders it float64; "
                f"CAST(... AS BIGINT) in the oracle"
            )
            continue
        fam = dtype_family(t)
        if c in smap and smap[c] != fam:
            problems.append(
                f"dtype family drift on `{c}`: spark={smap[c]} oracle={fam} "
                f"(raw: {t}) — typed value-hash will diverge"
            )
    return problems


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return [cols[i] for i in order], out


def compare(name, spark_df, duck_rel, record=None):
    t0 = time.time()
    s_cols = [f.name for f in spark_df.schema.fields]
    s_types = [f.dataType.simpleString() for f in spark_df.schema.fields]
    s_rows = [tuple(r) for r in spark_df.collect()]
    t_spark = time.time() - t0

    t0 = time.time()
    d_cols = list(duck_rel.columns)
    d_types = [str(t) for t in duck_rel.types]
    d_rows = duck_rel.fetchall()
    t_duck = time.time() - t0

    problems = dtype_problems(s_cols, s_types, d_cols, d_types)
    cols_ok = sorted(s_cols) == sorted(d_cols)
    rows_ok = len(s_rows) == len(d_rows)
    vals_ok = False
    if not cols_ok:
        problems.append(f"columns differ: spark={sorted(s_cols)} duck={sorted(d_cols)}")
    if not rows_ok:
        problems.append(f"rowcount differs: spark={len(s_rows)} duck={len(d_rows)}")
    if not problems:
        vals_ok = True
        _, sc = canon_rows(s_cols, s_rows)
        _, dc = canon_rows(d_cols, d_rows)
        for i, (a, b) in enumerate(zip(sc, dc)):
            if a != b:
                vals_ok = False
                problems.append(f"first value mismatch at sorted-row {i}:\n  spark={a}\n  duck ={b}")
                break
    if record is not None:
        record[name] = {
            "rows_match": rows_ok,
            "schema_match": cols_ok,
            "hash_match": vals_ok,
            "spark_rows": len(s_rows),
            "oracle_rows": len(d_rows),
            "err": None,
        }
    status = "OK " if not problems else "FAIL"
    print(f"[{status}] {name:28s} rows={len(s_rows):7d} spark={t_spark:5.1f}s duck={t_duck:4.1f}s")
    for p in problems:
        print(f"       {p}")
    return not problems


def main():
    argv = sys.argv[1:]
    sf_dir = argv[0] if argv and os.path.isdir(argv[0]) else SF_DIR
    names = argv[1:] if argv and os.path.isdir(argv[0]) else argv

    import __spark_entry__ as entrymod
    from ankaflow_spark.session import get_spark, scratch_root

    # Own catalog warehouse (write_bucketed tables) under the scratch
    # root, so a pytest run from the same checkout never shares its files.
    spark = get_spark(
        "oracle_check",
        extra_conf={"spark.sql.warehouse.dir": os.path.join(scratch_root(), "warehouse")},
    )
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{path}'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    selected = names or list(queries)
    record: dict = {}
    ok = bad = 0
    for name in selected:
        if name not in queries:
            print(f"[SKIP] {name} not in queries()")
            continue
        try:
            sdf = queries[name](spark, sf_dir)
        except Exception as e:
            print(f"[ERR ] {name} spark-side: {type(e).__name__}: {e}")
            record[name] = {
                "rows_match": False,
                "schema_match": False,
                "hash_match": False,
                "spark_rows": None,
                "oracle_rows": None,
                "err": f"spark-side {type(e).__name__}: {e}",
            }
            bad += 1
            continue
        if name not in oracles:
            n = sdf.count()
            print(f"[rows] {name:28s} rows={n} (no oracle — weaker check)")
            record[name] = {
                "rows_match": n >= 0,
                "schema_match": None,
                "hash_match": None,
                "spark_rows": n,
                "oracle_rows": None,
                "err": None,
            }
            ok += 1
            continue
        try:
            rel = con.sql(oracles[name])
        except Exception as e:
            print(f"[ERR ] {name} duck-side: {type(e).__name__}: {e}")
            record[name] = {
                "rows_match": False,
                "schema_match": False,
                "hash_match": False,
                "spark_rows": None,
                "oracle_rows": None,
                "err": f"duck-side {type(e).__name__}: {e}",
            }
            bad += 1
            continue
        if compare(name, sdf, rel, record):
            ok += 1
        else:
            bad += 1
    out_json = os.environ.get("ORACLE_CHECK_JSON")
    if out_json:
        import json

        with open(out_json, "w") as fh:
            json.dump(record, fh, indent=2)
        print(f"wrote {out_json} ({len(record)} entries)")
    print(f"\n{ok} ok, {bad} failing")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
