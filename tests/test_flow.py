"""Pipeline orchestration tests (model: reference tests/test_pipeline.py —
handler dispatch, loop_control, variable plumbing; run against real
Spark instead of a stubbed engine)."""

import os

import pytest

from ankaflow_spark.models.core import Stages
from ankaflow_spark.plans.flow import Flow, FlowError


def run_flow(engine, yaml_text, variables=None, context=None):
    flow = Flow(
        Stages.loads(yaml_text),
        engine=engine,
        variables=variables if variables is not None else {},
        context=context,
    )
    return flow


def test_tap_transform_sink(engine, sf_dir, tmp_path):
    out = tmp_path / "out.parquet"
    flow = run_flow(
        engine,
        f"""
- kind: tap
  name: line_tap
  connection:
    kind: parquet
    locator: {sf_dir}/lineitem.parquet
- kind: transform
  name: summary
  query: |
    SELECT l_returnflag, count(*) AS c, sum(l_quantity) AS q
    FROM line_tap GROUP BY l_returnflag ORDER BY l_returnflag
- kind: sink
  name: write out
  connection:
    kind: parquet
    locator: {out}
""",
    )
    df = flow.run()
    assert df.count() == 3
    assert os.path.exists(out)
    back = engine.spark.read.parquet(str(out))
    assert back.count() == 3
    assert set(back.columns) == {"l_returnflag", "c", "q"}


def test_stage_name_with_spaces(engine, sf_dir):
    flow = run_flow(
        engine,
        f"""
- kind: tap
  name: Extract Data
  connection:
    kind: parquet
    locator: {sf_dir}/region.parquet
- kind: transform
  name: Count It
  query: SELECT count(*) AS n FROM "Extract Data"
""",
    )
    df = flow.run()
    assert df.collect()[0]["n"] == 5


def test_tap_query_filters_source(engine, sf_dir):
    flow = run_flow(
        engine,
        f"""
- kind: tap
  name: cheap
  connection:
    kind: parquet
    locator: {sf_dir}/orders.parquet
  query: SELECT * FROM "cheap" WHERE o_totalprice < 1000
""",
    )
    df = flow.run()
    assert df.filter("o_totalprice >= 1000").count() == 0


def test_versioned_dedup_tap(engine, sf_dir):
    flow = run_flow(
        engine,
        f"""
- kind: tap
  name: latest events
  connection:
    kind: parquet
    locator: {sf_dir}/events.parquet
    version: ts
    key: [user_id, event_type]
""",
    )
    df = flow.run()
    assert df.groupBy("user_id", "event_type").count().filter("count > 1").count() == 0


def test_templating_and_variables(engine, sf_dir):
    flow = run_flow(
        engine,
        f"""
- kind: tap
  name: orders
  connection:
    kind: parquet
    locator: {sf_dir}/orders.parquet
- kind: transform
  name: filtered
  query: SELECT * FROM orders WHERE o_totalprice > << threshold >>
""",
        variables={"threshold": 100000},
    )
    df = flow.run()
    assert df.filter("o_totalprice <= 100000").count() == 0


def test_variable_sink_and_tap(engine):
    flow = run_flow(
        engine,
        """
- kind: tap
  name: seed
  connection:
    kind: variable
    locator: rows_in
- kind: sink
  name: out
  connection:
    kind: variable
    locator: rows_out
  query: SELECT id, val * 2 AS dbl FROM seed
""",
        variables={"rows_in": [{"id": 1, "val": 10}, {"id": 2, "val": 20}]},
    )
    flow.run()
    out = sorted(flow.variables["rows_out"], key=lambda r: r["id"])
    assert out == [{"id": 1, "dbl": 20}, {"id": 2, "dbl": 40}]


def test_pipeline_loop_control(engine):
    flow = run_flow(
        engine,
        """
- kind: internal
  name: loop driver
  query: SELECT explode(sequence(1, 3)) AS i
- kind: pipeline
  name: per row
  stages:
  - kind: internal
    name: compute
    query: SELECT << loop_control.i >> * 10 AS x
  - kind: sink
    name: collect
    connection:
      kind: variable
      locator: out_<< loop_control.i >>
""",
    )
    flow.run()
    assert flow.variables["out_1"] == [{"x": 10}]
    assert flow.variables["out_3"] == [{"x": 30}]


def test_skip_if(engine):
    flow = run_flow(
        engine,
        """
- kind: internal
  name: a
  query: SELECT 1 AS x
- kind: internal
  name: skipped
  skip_if: "<< do_skip >>"
  query: SELECT raise_error('must not run') AS x
""",
        variables={"do_skip": True},
    )
    df = flow.run()
    assert df.collect()[0]["x"] == 1  # last successful stage is 'a'


def test_on_error_continue(engine):
    flow = run_flow(
        engine,
        """
- kind: internal
  name: good
  query: SELECT 41 AS x
- kind: internal
  name: bad
  on_error: continue
  query: SELECT broken syntax here
- kind: internal
  name: after
  query: SELECT x + 1 AS x FROM good
""",
    )
    df = flow.run()
    assert df.collect()[0]["x"] == 42


def test_on_error_fail(engine):
    flow = run_flow(
        engine,
        """
- kind: internal
  name: bad
  query: SELECT broken syntax here
""",
    )
    with pytest.raises(FlowError):
        flow.run()


def test_api_in_templates(engine):
    flow = run_flow(
        engine,
        """
- kind: internal
  name: use api
  query: SELECT '<< API.dt("1712361600").isoformat() >>' AS iso
""",
    )
    assert flow.run().collect()[0]["iso"] == "2024-04-06T00:00:00"


def test_api_sqltuple(engine, sf_dir):
    flow = run_flow(
        engine,
        f"""
- kind: tap
  name: nation
  connection:
    kind: parquet
    locator: {sf_dir}/nation.parquet
- kind: transform
  name: pick
  query: SELECT n_name FROM nation WHERE n_nationkey IN << API.sqltuple(keys) >>
""",
        variables={"keys": [1, 2, 3]},
    )
    assert flow.run().count() == 3


def test_conn_config_defaults(engine, sf_dir):
    from ankaflow_spark.models.configs import ConnectionConfiguration

    flow = Flow(
        Stages.loads("""
- kind: tap
  name: rel
  connection:
    kind: parquet
    locator: region.parquet
"""),
        engine=engine,
        conn_config=ConnectionConfiguration(bucket=sf_dir),
    )
    assert flow.run().count() == 5


def test_pull_df(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: nation
  connection:
    kind: parquet
    locator: {sf_dir}/nation.parquet
- kind: transform
  name: count
  query: SELECT count(*) AS n FROM nation
"""),
        engine=engine,
    )
    pdf = flow.pull_df()
    assert pdf["n"][0] == 25


def test_stage_unknown_key_warns(caplog):
    import logging

    with caplog.at_level(logging.WARNING, logger="ankaflow_spark.models"):
        Stages.loads("""
- kind: transform
  name: t
  query: SELECT 1
  skipif: true
""")
    assert any("skipif" in r.message or "skipif" in str(r.args) for r in caplog.records)
    # known reference extras stay silent
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="ankaflow_spark.models"):
        Stages.loads("""
- kind: transform
  name: t
  query: SELECT 1
  attribution: someone
""")
    assert not caplog.records


def test_recursive_cte_transform(engine, sf_dir):
    # WITH RECURSIVE (Spark 4) must pass the dialect rewriter intact,
    # including the CTE's self-reference in the recursive term
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: part
  connection: {{kind: parquet, locator: {sf_dir}/part.parquet}}
- kind: transform
  name: rolled
  query: >
    WITH RECURSIVE anc(p_partkey, node) AS (
      SELECT p_partkey, p_partkey FROM part
      UNION ALL
      SELECT p_partkey, CAST(floor(node / 10.0) AS BIGINT) FROM anc WHERE node > 0
    )
    SELECT node, COUNT(*) AS n FROM anc GROUP BY node
"""),
        engine=engine,
    )
    rows = {r.node: r.n for r in flow.run().collect()}
    assert rows[0] == engine.spark.read.parquet(f"{sf_dir}/part.parquet").count()


def _jobs_per_stage(flow):
    """Run ``flow`` one stage at a time, each under its own job group;
    returns {stage name: number of jobs the stage's thread submitted}."""
    import uuid

    sc = flow.engine.spark.sparkContext
    groups = {}
    for stage in flow.stages:
        groups[stage.name] = f"stage-{uuid.uuid4().hex}"
        sc.setJobGroup(groups[stage.name], stage.name)
        try:
            flow._run_stage(stage)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    return {name: len(tracker.getJobIdsForGroup(g)) for name, g in groups.items()}


def _cache_loaded(spark, df) -> bool:
    cached = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)
    return cached.isDefined() and cached.get().cachedRepresentation().cacheBuilder().isCachedColumnBuffersLoaded()


def test_tap_stream_sink_job_counts(engine, sf_dir, tmp_path):
    """A parquet tap fills its cache in one job; a stream stage runs no
    job besides its query (footer schema probe, memory-sink result not
    cached again); the sink runs its write and no schema-inference job
    for the read-back."""
    import shutil

    src = tmp_path / "events.parquet"
    shutil.copy(os.path.join(sf_dir, "events.parquet"), src)
    flow = run_flow(
        engine,
        f"""
- kind: tap
  name: ev
  connection: {{kind: parquet, locator: {src}}}
- kind: stream
  name: windows
  connection: {{kind: parquet, locator: {src}}}
  params: {{ts: ts, window: "5 minutes", keys: [event_type]}}
- kind: sink
  name: out
  connection: {{kind: parquet, locator: {tmp_path / "out" / "windows.parquet"}}}
""",
    )
    jobs = _jobs_per_stage(flow)
    assert jobs == {"ev": 1, "windows": 0, "out": 1}, jobs
    assert _cache_loaded(engine.spark, engine.table("ev"))
    assert flow._last_df.count() == engine.table("windows").count() > 0


def test_tap_reads_its_source_once(engine, sf_dir, tmp_path):
    """A tap's rows are read once, by the tap stage: deleting its file
    afterwards leaves downstream stages their rows."""
    import shutil

    src = tmp_path / "documents.parquet"
    shutil.copy(os.path.join(sf_dir, "documents.parquet"), src)
    want = engine.spark.read.parquet(str(src)).count()
    flow = run_flow(
        engine,
        f"""
- kind: tap
  name: docs_once
  connection: {{kind: parquet, locator: {src}}}
- kind: transform
  name: docs_after
  query: SELECT doc_id FROM docs_once
""",
    )
    tap, transform = flow.stages
    flow._run_stage(tap)
    os.remove(src)
    flow._run_stage(transform)
    assert flow._last_df.count() == want > 0
