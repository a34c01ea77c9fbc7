"""Generate QUERIES.md — the battery inventory (per-family tables with
oracle kind and sf0.01 row counts) from the registry plus the committed
CORRECTNESS_FULL artifact. Regenerate after battery changes:

    python tools/gen_inventory.py [correctness_full.json]
"""

from __future__ import annotations

import collections
import importlib.util
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

FAM = {
    "q": "Relational / TPC-H shapes",
    "ts": "Time-series & behavioral",
    "d": "Deduplication & data forensics",
    "s": "Similarity / ANN / embeddings",
    "t": "Text curation",
    "st": "Structured Streaming",
    "m": "Multimodal",
}


def main() -> None:
    spec = importlib.util.spec_from_file_location(
        "e", os.path.join(ROOT, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    qs, osql = mod.queries(), mod.oracle_sql()
    art = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, "CORRECTNESS_FULL_r49.json")
    full = json.load(open(art)) if os.path.exists(art) else {}
    groups = collections.defaultdict(list)
    for name in qs:
        groups[re.match(r"([a-z]+)", name).group(1)].append(name)
    lines = [
        "# Query battery inventory",
        "",
        f"{len(qs)} graded queries; every one has a Spark-first implementation",
        "and (except m02, rows-only by design) a DuckDB oracle compared",
        "cell-exact at sf0.01 (CORRECTNESS_FULL_r{N}.json; the first 50 are",
        "driver-graded). Row counts below are sf0.01 oracle-check results.",
        "",
    ]
    for fam in ["q", "ts", "d", "s", "t", "st", "m"]:
        names = sorted(groups[fam])
        lines += [f"## {FAM[fam]} ({len(names)})", "", "| query | oracle | sf0.01 rows |", "|---|---|---|"]
        for n in names:
            r = full.get(n, {})
            okind = "cell-exact" if n in osql else "rows-only"
            ok = r and (r.get("hash_match") or (okind == "rows-only" and r.get("rows_match")))
            lines.append(f"| {n} | {okind} {'✔' if ok else '…'} | {r.get('spark_rows', '—')} |")
        lines.append("")
    open(os.path.join(ROOT, "QUERIES.md"), "w").write("\n".join(lines))
    print(f"QUERIES.md: {len(qs)} queries")


if __name__ == "__main__":
    main()
