"""bench.py output contract (r7 regression class): the driver captures
a bounded TAIL of stdout, so the LAST line must be a compact,
bounded-size JSON with the headline total — BENCH_r07.json lost its
total ("parsed": null) when the growing per-query dict outgrew the
tail window. These tests pin the contract without running Spark."""

import ast
import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench_source():
    return open(os.path.join(ROOT, "bench.py")).read()


def test_headline_entries_are_registered_queries():
    """Every HEADLINE name must resolve in the battery (a typo'd entry
    would crash the driver's bench run)."""
    import sys

    sys.path.insert(0, ROOT)
    from ankaflow_spark.operators import collect_all

    tree = ast.parse(_bench_source())
    headline = None
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and any(
            getattr(t, "id", None) == "HEADLINE" for t in node.targets
        ):
            headline = [c.value for c in node.value.elts]
    assert headline, "HEADLINE list not found"
    q, _ = collect_all()
    missing = [n for n in headline if n not in q]
    assert missing == []
    assert len(headline) == len(set(headline))


def test_last_stdout_line_is_compact_totals():
    """The final print must be the totals-only JSON: no 'queries' dict
    (unbounded), every field bounded-size. Statically checked: the last
    print(json.dumps(...)) call in main() must build a dict literal
    whose keys exclude 'queries'."""
    tree = ast.parse(_bench_source())
    prints = [
        node
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and getattr(node.func, "id", None) == "print"
        and node.args
        and isinstance(node.args[0], ast.Call)
        and getattr(getattr(node.args[0].func, "value", None), "id", None) == "json"
    ]
    assert prints, "no print(json.dumps(...)) calls found"
    last = prints[-1].args[0].args[0]
    assert isinstance(last, ast.Dict), "last JSON line must be a dict literal"
    keys = {k.value for k in last.keys if isinstance(k, ast.Constant)}
    assert "queries" not in keys, (
        "the LAST stdout line must stay bounded — per-query dict belongs "
        "in an earlier line / BENCH_DETAIL.json"
    )
    assert {"metric", "value", "unit", "sf", "n_queries"} <= keys


def test_bench_detail_sidecar_matches_contract():
    """BENCH_DETAIL.json (committed reference run) carries the full
    per-query dict and a total consistent with its entries."""
    p = os.path.join(ROOT, "BENCH_DETAIL.json")
    d = json.load(open(p))
    assert d["metric"] == "headline_queries_total_sec"
    assert abs(sum(d["queries"].values()) - d["value"]) < 0.01
    assert d["sf"] == 0.1
    # r9: best-of-N + the pipeline section (both optional in pre-r9
    # artifacts, pinned once present)
    if "runs" in d:
        assert len(d["pass_totals"]) == d["runs"]
        # per-query best-of can't exceed any single pass total
        assert d["value"] <= min(d["pass_totals"]) + 0.01
    if d.get("pipelines"):
        for name, pipe in d["pipelines"].items():
            assert "error" not in pipe, (name, pipe)
            assert pipe["wall_sec"] > 0
            assert {s["kind"] for s in pipe["stages"]} <= {
                "tap", "transform", "sink", "operator", "sql", "pipeline",
                "stream", "internal",
            }
            # stage walls are components of (not exceeding) the flow wall
            assert sum(s["sec"] for s in pipe["stages"]) <= pipe["wall_sec"] + 0.01


def test_passes_clear_shared_caches():
    """Best-of-N accounting (r9 judge finding): every timing pass must
    start with clear_shared_caches(spark), else pass 2 reads
    __cands__/__spans__/the embeddings cache built in pass 1 and the
    per-query minima for cache-building queries (d02, d19, ...)
    silently exclude their cold builds. Statically pinned: the
    `for p in range(runs)` loop body must call clear_shared_caches
    BEFORE the inner per-query loop."""
    tree = ast.parse(_bench_source())
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.For)
            and isinstance(node.iter, ast.Call)
            and getattr(node.iter.func, "id", None) == "range"
            and getattr(node.target, "id", None) == "p"
        ):
            calls = [
                getattr(n.func, "id", None)
                for stmt in node.body
                for n in ast.walk(stmt)
                if isinstance(n, ast.Call)
            ]
            assert "clear_shared_caches" in calls, (
                "timing pass loop must clear shared caches per pass"
            )
            first_stmt_calls = [
                getattr(n.func, "id", None)
                for n in ast.walk(node.body[0])
                if isinstance(n, ast.Call)
            ]
            assert "clear_shared_caches" in first_stmt_calls, (
                "clear_shared_caches must run before any query is timed"
            )
            return
    raise AssertionError("best-of-N pass loop (for p in range(runs)) not found")


def test_clear_shared_caches_resets_memos(spark, sf_dir):
    """clear_shared_caches must drop the session's derived memo entries
    so the next consumer rebuilds cold (the bench accounting contract),
    and keep the durable ones (loaded tables and their views)."""
    from ankaflow_spark.operators import clear_shared_caches, dedup
    from ankaflow_spark.operators.tables import load_tables
    from ankaflow_spark.session import memo_names

    load_tables(spark, sf_dir)
    dedup.cached_cands(spark, sf_dir)
    assert {"shingles", "bands", "cands"} <= set(memo_names(spark))
    clear_shared_caches(spark)
    assert not {"shingles", "bands", "cands"} & set(memo_names(spark))
    assert {"tables", "table_views"} <= set(memo_names(spark))
    # and the next call rebuilds + re-registers the views transparently
    dedup.cached_cands(spark, sf_dir)
    assert spark.sql("SELECT COUNT(*) AS n FROM __cands__").collect()[0]["n"] >= 0
