"""Tests for the benchmark itself (no Spark session is started).

Run from the repo root: python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for p in (HERE, ROOT, os.path.join(ROOT, "tools")):
    if p not in sys.path:
        sys.path.insert(0, p)

import datagen  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def test_query_items_are_registered_and_have_oracles():
    from ankaflow_spark.operators import collect_all

    queries, oracles = collect_all()
    for name, (kind, _) in workloads.WORKLOADS.items():
        if kind != "query":
            continue
        for item in workloads.items(name):
            assert item in queries, item
            assert item in oracles, f"{item} has no oracle to check against"


def test_items_keep_repo_order_and_seed_permutes():
    import bench

    for name in workloads.WORKLOADS:
        items = workloads.items(name)
        assert set(items) == set(workloads.WORKLOADS[name][1])
        if workloads.WORKLOADS[name][0] == "query":
            pos = [bench.HEADLINE.index(i) for i in items]
            assert pos == sorted(pos)
        a = workloads.item_order(name, 1)
        assert a == workloads.item_order(name, 1)
        assert sorted(a) == sorted(items)
    orders = {tuple(workloads.item_order("queries_sf001", s)) for s in range(5)}
    assert len(orders) > 1


def test_unknown_item_is_rejected(monkeypatch):
    monkeypatch.setitem(workloads.WORKLOADS, "bogus", ("query", ("no_such_query",)))
    with pytest.raises(KeyError):
        workloads.items("bogus")


def test_every_flow_has_a_yaml_and_an_expected_digest():
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)
    for name, (kind, _) in workloads.WORKLOADS.items():
        if kind != "flow":
            continue
        for item in workloads.items(name):
            assert os.path.exists(os.path.join(ROOT, "examples", f"{item}.yaml"))
            assert set(expected[item]) == {"rows", "sha256"}


def test_datagen_is_deterministic_and_covers_every_table():
    from oracle_check import TABLES

    a = datagen.tables(0.001, 7)
    b = datagen.tables(0.001, 7)
    c = datagen.tables(0.001, 8)
    assert set(a) == set(TABLES)
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(c["lineitem"])
    emb = a["embeddings"].column("embedding").to_pylist()
    assert all(len(v) == datagen.EMB_DIM for v in emb)
    docs = a["documents"].to_pydict()
    assert docs["n_chars"] == [len(t) for t in docs["text"]]


def test_a_run_that_raises_gives_no_sample():
    import harness

    runner = object.__new__(harness.Runner)
    runner.tracer = None
    runner.new_pass = lambda: None

    def run_item(name):
        if name == "bad":
            raise RuntimeError("boom")

    runner.run_item = run_item
    samples, cpu, failed, _ = runner.measure(["good", "bad"], seconds=0.05)
    assert samples[False]["bad"] == [] and cpu[False]["bad"] == []
    assert len(cpu[False]["good"]) == len(samples[False]["good"])
    assert samples[False]["good"] and failed >= 1
    assert harness.one_pass(samples[False]) == pytest.approx(
        harness.statistics.median(samples[False]["good"]))


def test_session_cpu_counts_this_process():
    import harness

    a = harness.session_cpu_s()
    t = time.process_time()
    while time.process_time() - t < 0.3:
        pass
    assert harness.session_cpu_s() - a >= 0.2


def _span(name, start, end, children=(), jobs=()):
    sp = spans.Span(name, start, end)
    sp.children = list(children)
    sp.jobs = [{"submissionTime": s * 1000.0, "completionTime": e * 1000.0} for s, e in jobs]
    return sp


def test_self_times_sum_to_the_item_wall():
    # overlapping jobs, a job running past its span, a job overlapping a
    # child span: the parts must still add up to the item's duration
    child = _span("session.sql", 2.0, 4.0, jobs=[(2.5, 3.0), (2.8, 3.5)])
    root = _span("item", 0.0, 10.0, children=[child], jobs=[(1.0, 2.5), (5.0, 12.0)])
    out = {}
    spans.self_times(root, out)
    assert sum(out.values()) == pytest.approx(10.0)
    assert out["session.sql"] == pytest.approx(2.0 - 1.0)
    assert out["spark.job"] == pytest.approx(1.0 + 5.0 + 1.0)
    assert out["item"] == pytest.approx(10.0 - 2.0 - 6.0)


def test_attach_jobs_picks_the_deepest_open_span():
    leaf = _span("sqlfront.rewrite", 2.0, 3.0)
    mid = _span("session.sql", 1.0, 4.0, children=[leaf])
    root = _span("item", 0.0, 5.0, children=[mid])
    jobs = [
        {"submissionTime": 2500.0, "completionTime": 2600.0},
        {"submissionTime": 3500.0, "completionTime": 3600.0},
        {"submissionTime": 500.0, "completionTime": 600.0},
        {"submissionTime": 9000.0, "completionTime": 9100.0},
    ]
    spans.attach_jobs(root, jobs)
    assert [len(s.jobs) for s in (root, mid, leaf)] == [1, 1, 1]


def test_tracer_records_nested_spans_and_uninstall_restores():
    from ankaflow_spark.plans import flow, renderer
    from ankaflow_spark.session import SparkEngine

    before = (SparkEngine.sql, renderer.Renderer.render, dict(flow.HANDLERS))
    t = spans.Tracer()
    t.install()
    try:
        assert SparkEngine.sql is not before[0]
        r = renderer.Renderer()
        with t.span("item"):
            assert r.render("<< x >>", {"x": 3}) == 3
        (root,) = t.roots
        assert [c.name for c in root.children] == ["plans.render"]
        t.enabled = False
        r.render("<< x >>", {"x": 3})
        assert len(t.roots) == 1
    finally:
        t.uninstall()
    assert (SparkEngine.sql, renderer.Renderer.render, dict(flow.HANDLERS)) == before
