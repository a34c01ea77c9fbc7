"""Declarative `kind: operator` stages end-to-end in YAML pipelines."""

import pytest

from ankaflow_spark.models.core import Stages
from ankaflow_spark.plans.flow import Flow, FlowError


def test_versioned_dedup_stage(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: events
  connection: {{kind: parquet, locator: {sf_dir}/events.parquet}}
- kind: operator
  name: latest
  op: versioned_dedup
  params: {{keys: [user_id, event_type], version: ts, tiebreak: event_id}}
- kind: transform
  name: check
  query: SELECT user_id, event_type, count(*) AS c FROM latest GROUP BY 1, 2
"""),
        engine=engine,
    )
    assert flow.run().filter("c > 1").count() == 0


def test_hash_sample_stage(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: orders
  connection: {{kind: parquet, locator: {sf_dir}/orders.parquet}}
- kind: operator
  name: sampled
  op: hash_sample
  params: {{key: o_orderkey, fraction: 0.25}}
"""),
        engine=engine,
    )
    df = flow.run()
    total = engine.table("orders").count()
    n = df.count()
    assert 0 < n < total
    # deterministic: same result on re-run
    assert n == flow.engine.table("sampled").count()


def test_minhash_and_quality_stages(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: docs
  connection: {{kind: parquet, locator: {sf_dir}/documents.parquet}}
- kind: operator
  name: scored
  op: quality_score
  params: {{text_column: text}}
- kind: operator
  name: pairs
  op: minhash_pairs
  input: docs
  params: {{id_column: doc_id, text_column: text}}
- kind: transform
  name: summary
  query: >
    SELECT (SELECT count(*) FROM scored WHERE quality = 'high') AS n_high,
           (SELECT count(*) FROM pairs) AS n_pairs
"""),
        engine=engine,
    )
    row = flow.run().collect()[0]
    assert row["n_high"] >= 0 and row["n_pairs"] >= 0
    assert "quality_score" in engine.table("scored").columns


def test_asof_stage(engine):
    flow = Flow(
        Stages.loads("""
- kind: internal
  name: quotes
  query: >
    SELECT * FROM VALUES ('A', 8, 1.0), ('A', 12, 2.0), ('B', 1, 9.0) AS t(sym, t, bid)
- kind: internal
  name: trades
  query: >
    SELECT * FROM VALUES ('A', 10, 100.0), ('A', 20, 101.0), ('B', 15, 50.0) AS t(sym, t, price)
- kind: operator
  name: matched
  op: asof_join
  params: {right: quotes, "on": t, by: [sym], value_column: bid}
"""),
        engine=engine,
    )
    got = {(r["sym"], r["t"]): r["bid_asof"] for r in flow.run().collect()}
    assert got[("A", 10)] == 1.0
    assert got[("A", 20)] == 2.0
    assert got[("B", 15)] == 9.0


def test_unknown_operator_fails(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: orders
  connection: {{kind: parquet, locator: {sf_dir}/orders.parquet}}
- kind: operator
  name: nope
  op: does_not_exist
"""),
        engine=engine,
    )
    with pytest.raises(FlowError, match="unknown operator"):
        flow.run()


def test_decontaminate_stage(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: docs
  connection: {{kind: parquet, locator: {sf_dir}/documents.parquet}}
- kind: transform
  name: bench
  query: SELECT * FROM docs WHERE doc_id % 50 = 0
- kind: transform
  name: train
  query: SELECT * FROM docs WHERE doc_id % 50 <> 0
- kind: operator
  name: checked
  op: ngram_decontaminate
  params: {{benchmark: bench, n: 5}}
  input: train
"""),
        engine=engine,
    )
    df = flow.run()
    assert "n_shared_ngrams" in df.columns and "contaminated" in df.columns
    rows = df.collect()
    assert len(rows) == engine.table("train").count()
    assert all(r["contaminated"] == (r["n_shared_ngrams"] > 0) for r in rows)
    # a benchmark doc checked against itself is fully contaminated
    self_hit = Flow(
        Stages.loads(f"""
- kind: tap
  name: docs
  connection: {{kind: parquet, locator: {sf_dir}/documents.parquet}}
- kind: transform
  name: bench
  query: SELECT * FROM docs WHERE doc_id % 50 = 0
- kind: operator
  name: checked
  op: ngram_decontaminate
  params: {{benchmark: bench, n: 5, drop: true}}
  input: bench
"""),
        engine=engine,
    ).run()
    assert self_hit.count() == 0  # every bench doc drops against itself


def test_groupwise_topk_stage(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: docs
  connection: {{kind: parquet, locator: {sf_dir}/documents.parquet}}
- kind: operator
  name: top
  op: groupwise_topk
  params: {{keys: [lang], order_by: doc_id, k: 3, descending: false}}
"""),
        engine=engine,
    )
    df = flow.run()
    per = {}
    for r in df.collect():
        per.setdefault(r["lang"], []).append(r["doc_id"])
    for lang, ids in per.items():
        assert len(ids) <= 3
        assert ids == sorted(ids)


def test_quantize_embeddings_stage(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: emb
  connection: {{kind: parquet, locator: {sf_dir}/embeddings.parquet}}
- kind: operator
  name: quant
  op: quantize_embeddings
  params: {{vector_column: embedding}}
"""),
        engine=engine,
    )
    df = flow.run()
    row = df.first()
    assert row["qvec"] is not None and len(row["qvec"]) == len(row["embedding"])
    assert all(-127 <= q <= 127 for q in row["qvec"])
    # dequantized values reconstruct within the quantization bound
    s = row["scale"]
    for x, q in zip(row["embedding"], row["qvec"]):
        assert abs(x - q / s) <= 0.5 / s + 1e-9


def test_pii_redact_stage(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: docs
  connection: {{kind: parquet, locator: {sf_dir}/documents.parquet}}
- kind: transform
  name: planted
  query: >
    SELECT doc_id, concat(text, ' mail me at alice@corp.example.org or 192.168.0.7') AS text
    FROM docs
- kind: operator
  name: scrubbed
  op: pii_redact
  params: {{text_column: text}}
- kind: transform
  name: check
  query: >
    SELECT sum(n_emails) AS e, sum(n_ips) AS i,
           sum(CASE WHEN text LIKE '%[EMAIL]%' AND text LIKE '%[IP]%' THEN 1 ELSE 0 END) AS marked,
           sum(CASE WHEN text LIKE '%@%' THEN 1 ELSE 0 END) AS leaked
    FROM scrubbed
"""),
        engine=engine,
    )
    row = flow.run().collect()[0]
    n = engine.table("docs").count()
    assert row["e"] == n and row["i"] == n
    assert row["marked"] == n and row["leaked"] == 0


def test_stratified_sample_stage(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: docs
  connection: {{kind: parquet, locator: {sf_dir}/documents.parquet}}
- kind: operator
  name: mixed
  op: stratified_sample
  params:
    stratum_column: lang
    key: doc_id
    strata: {{en: 0.3, zh: 1.0}}
"""),
        engine=engine,
    )
    df = flow.run()
    kept = {r["lang"]: r["n"] for r in df.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    totals = {r["lang"]: r["n"] for r in engine.table("docs").groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    assert set(kept) == {"en", "zh"}  # unmapped strata drop
    assert kept["zh"] == totals["zh"]  # rate 1.0 keeps all
    assert 0 < kept["en"] < totals["en"]
    # deterministic on re-run
    assert df.count() == engine.table("mixed").count()


def test_dedup_survivors_stage(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: docs
  connection: {{kind: parquet, locator: {sf_dir}/documents.parquet}}
- kind: operator
  name: scored
  op: quality_score
  params: {{text_column: text}}
- kind: operator
  name: pairs
  op: minhash_pairs
  input: docs
  params: {{id_column: doc_id, text_column: text}}
- kind: operator
  name: survivors
  op: dedup_survivors
  input: scored
  params: {{pairs: pairs, id_column: doc_id, score_column: quality_score}}
"""),
        engine=engine,
    )
    df = flow.run()
    n_docs = engine.table("docs").count()
    n_pairs = engine.table("pairs").count()
    n_out = df.count()
    assert n_out < n_docs or n_pairs == 0  # every pair collapses someone
    # survivors are unique per cluster
    assert df.groupBy("cluster_id").count().filter("count > 1").count() == 0


def test_vocab_and_normalized_dedup_stages(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: docs
  connection: {{kind: parquet, locator: {sf_dir}/documents.parquet}}
- kind: operator
  name: vocab
  op: vocab_topk
  params: {{k: 10}}
- kind: operator
  name: canonical
  op: normalized_dedup
  input: docs
- kind: transform
  name: report
  query: >
    SELECT (SELECT count(*) FROM vocab) AS vocab_rows,
           (SELECT max(n) FROM vocab) AS top_count,
           (SELECT count(*) FROM canonical) AS canon_docs,
           (SELECT count(DISTINCT canon_key) FROM canonical) AS canon_keys
"""),
        engine=engine,
    )
    row = flow.run().first()
    assert 0 < row["vocab_rows"] <= 10
    assert row["top_count"] > 0
    # survivors are unique per canonical key
    assert row["canon_docs"] == row["canon_keys"] > 0


def test_semantic_dedup_stage(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: vectors
  connection: {{kind: parquet, locator: {sf_dir}/embeddings.parquet}}
- kind: operator
  name: deduped
  op: semantic_dedup
  params: {{threshold: 0.35, n_cells: 4}}
- kind: transform
  name: report
  query: >
    SELECT count(*) AS n, count_if(keep) AS kept,
           count(DISTINCT cluster_id) AS clusters
    FROM deduped
"""),
        engine=engine,
    )
    row = flow.run().first()
    assert row["n"] > 0
    assert row["kept"] == row["clusters"]  # exactly one representative each
    assert row["kept"] <= row["n"]


def test_semantic_dedup_target_cell_size(engine, sf_dir):
    """``target_cell_size`` derives n_cells = ceil(N / target) (r10
    verdict, low): the example corpus (500 vectors, target 63) lands on
    exactly the 8 cells the example previously hard-coded, so the
    switch is output-PINNED — keep/cluster_id identical row for row —
    while larger corpora get proportionally more cells (2000 vectors
    -> 32) and the within-cell quadratic term stays ~target² per cell
    at any scale. Bad targets fail loudly."""

    def run(params: str):
        flow = Flow(
            Stages.loads(f"""
- kind: tap
  name: vectors
  connection: {{kind: parquet, locator: {sf_dir}/embeddings.parquet}}
- kind: operator
  name: deduped
  op: semantic_dedup
  params: {{threshold: 0.35, {params}}}
"""),
            engine=engine,
        )
        return {
            r["vec_id"]: (r["cluster_id"], r["keep"])
            for r in flow.run().select("vec_id", "cluster_id", "keep").collect()
        }

    pinned = run("n_cells: 8")
    derived = run("target_cell_size: 63")  # ceil(500 / 63) == 8
    assert derived == pinned
    with pytest.raises(Exception, match="target_cell_size"):
        run("target_cell_size: 0")


def test_bigram_surprisal_stage(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: docs
  connection: {{kind: parquet, locator: {sf_dir}/documents.parquet}}
- kind: operator
  name: scored
  op: bigram_surprisal
- kind: transform
  name: report
  query: >
    SELECT count(*) AS n, min(avg_surprisal) AS lo, max(avg_surprisal) AS hi,
           min(novel_frac) AS nf_lo, max(novel_frac) AS nf_hi
    FROM scored
"""),
        engine=engine,
    )
    row = flow.run().first()
    assert row["n"] > 0
    assert 0.0 <= row["lo"] <= row["hi"]
    assert 0.0 <= row["nf_lo"] <= row["nf_hi"] <= 1.0


def test_tfidf_and_domain_mixture_stages(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: docs
  connection: {{kind: parquet, locator: {sf_dir}/documents.parquet}}
- kind: operator
  name: keyterms
  op: tfidf_topterms
  params: {{id_column: doc_id, text_column: text, k: 2}}
- kind: operator
  name: mix
  op: domain_mixture
  input: docs
  params: {{keys: [lang], text_column: text}}
- kind: transform
  name: summary
  query: >
    SELECT (SELECT count(*) FROM keyterms WHERE rk > 2) AS n_overflow,
           (SELECT max(rk) FROM keyterms) AS max_rk,
           (SELECT count(*) FROM mix) AS n_domains,
           (SELECT sum(mix_weight) FROM mix) AS z
"""),
        engine=engine,
    )
    row = flow.run().collect()[0]
    assert row.n_overflow == 0
    assert row.max_rk == 2
    assert row.n_domains > 1
    # weights normalize to ~1 (integer-quantized normalizer)
    assert abs(row.z - 1.0) < 1e-6


def test_time_rollup_and_ohlc_stages(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: events
  connection: {{kind: parquet, locator: {sf_dir}/events.parquet}}
- kind: operator
  name: hourly
  op: time_rollup
  params: {{ts: ts, value: value, bucket_seconds: 3600, keys: [event_type]}}
- kind: operator
  name: daily
  op: ohlc
  input: events
  params: {{ts: ts, value: value, bucket_seconds: 86400, keys: [event_type], tiebreak: event_id}}
- kind: transform
  name: check
  query: >
    SELECT (SELECT cast(sum(n_events) AS BIGINT) FROM hourly) AS n_from_rollup,
           (SELECT cast(sum(n_rows) AS BIGINT) FROM daily) AS n_from_ohlc,
           (SELECT count(*) FROM events) AS n_raw,
           (SELECT count(*) FROM daily WHERE high < low OR open > high OR open < low
                                          OR close > high OR close < low) AS n_bad
"""),
        engine=engine,
    )
    row = flow.run().collect()[0]
    assert row.n_from_rollup == row.n_raw
    assert row.n_from_ohlc == row.n_raw
    assert row.n_bad == 0


def test_cohort_and_funnel_stages(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: events
  connection: {{kind: parquet, locator: {sf_dir}/events.parquet}}
- kind: operator
  name: retention
  op: cohort_retention
  params: {{ts: ts, user: user_id, granularity: week}}
- kind: operator
  name: fun
  op: funnel
  input: events
  params: {{steps: [view, click, purchase], ts: ts, user: user_id, type: event_type}}
- kind: transform
  name: check
  query: >
    SELECT (SELECT count(*) FROM retention WHERE retention > 1.0 OR retention <= 0) AS bad_ret,
           (SELECT max(n_active) FROM retention) AS max_active,
           (SELECT max(cohort_size) FROM retention) AS max_size,
           (SELECT count(*) FROM fun) AS n_steps,
           (SELECT n_users FROM fun WHERE step = 1) AS s1,
           (SELECT n_users FROM fun WHERE step = 3) AS s3
"""),
        engine=engine,
    )
    row = flow.run().collect()[0]
    assert row.bad_ret == 0
    assert row.max_active <= row.max_size
    assert row.n_steps == 3
    assert row.s3 <= row.s1  # funnel never grows


def test_chunk_dedup_and_random_projection_stages(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: documents
  connection: {{kind: parquet, locator: {sf_dir}/documents.parquet}}
- kind: tap
  name: embeddings
  connection: {{kind: parquet, locator: {sf_dir}/embeddings.parquet}}
- kind: operator
  name: gated
  op: chunk_dedup
  input: documents
  params: {{id: doc_id, text: text, width: 5, threshold: 0.5, keep_all: true}}
- kind: operator
  name: projected
  op: random_projection
  input: embeddings
  params: {{id: vec_id, vector: embedding, out_dims: 8}}
- kind: transform
  name: check
  query: >
    SELECT (SELECT count(*) FROM gated) AS n_docs,
           (SELECT count(*) FROM documents) AS n_raw,
           (SELECT count(*) FROM gated WHERE NOT keep) AS n_dropped,
           (SELECT count(*) FROM projected) AS n_proj,
           (SELECT count(DISTINCT vec_id) FROM projected) AS n_vecs,
           (SELECT count(*) FROM projected
             WHERE abs(proj - proj_e6 / 1000000.0) > 1e-9) AS bad_proj
"""),
        engine=engine,
    )
    row = flow.run().collect()[0]
    assert row.n_docs == row.n_raw  # keep_all annotates, drops nothing
    assert 0 < row.n_dropped < row.n_raw  # the near-dup corpus trips the gate
    assert row.n_proj == row.n_vecs * 8
    assert row.bad_proj == 0


def test_quality_classifier_and_rewrite_stages(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: docs
  connection: {{kind: parquet, locator: {sf_dir}/documents.parquet}}
- kind: operator
  name: kept
  op: quality_classifier
  params: {{id: doc_id, text: text}}
- kind: operator
  name: cleaned
  op: chunk_dedup_rewrite
  input: docs
  params: {{id: doc_id, text: text, width: 5}}
- kind: transform
  name: check
  query: SELECT count(*) AS n, sum(n_removed) AS removed FROM cleaned
"""),
        engine=engine,
    )
    out = flow.run().collect()[0]
    total = engine.table("docs").count()
    assert out["n"] == total  # every doc survives reconstruction (possibly empty)
    assert out["removed"] >= 0
    kept = engine.table("kept").count()
    assert 0 < kept <= total


def test_growth_accounting_and_heavy_hitters_stages(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: events
  connection: {{kind: parquet, locator: {sf_dir}/events.parquet}}
- kind: operator
  name: growth
  op: growth_accounting
  params: {{user: user_id, ts: ts}}
- kind: operator
  name: hot
  op: heavy_hitters
  input: events
  params: {{key: user_id, shard: event_id, k: 5}}
"""),
        engine=engine,
    )
    flow.run()
    growth = engine.table("growth").collect()
    assert growth and all(
        r["n_active"] == r["n_new"] + r["n_retained"] + r["n_resurrected"]
        for r in growth
    )
    hot = engine.table("hot").collect()
    assert len(hot) == 5 and hot[0]["rk"] == 1


def test_scd2_history_stage(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: orders
  connection: {{kind: parquet, locator: {sf_dir}/orders.parquet}}
- kind: operator
  name: history
  op: scd2_history
  params: {{key: o_custkey, attr: o_orderpriority, ts: o_orderdate, tiebreak: o_orderkey}}
"""),
        engine=engine,
    )
    df = flow.run()
    assert set(df.columns) == {"key", "value", "eff_from", "eff_to", "version"}
    # exactly one open (eff_to IS NULL) version per entity
    open_per_key = df.filter("eff_to IS NULL").groupBy("key").count()
    assert open_per_key.filter("count != 1").count() == 0
    # no adjacent version repeats the attribute value
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    lagged = df.withColumn(
        "prev", F.lag("value").over(W.partitionBy("key").orderBy("version"))
    )
    assert lagged.filter("prev = value").count() == 0


def test_column_profile_stage(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: orders
  connection: {{kind: parquet, locator: {sf_dir}/orders.parquet}}
- kind: operator
  name: profile
  op: column_profile
  params: {{columns: [o_orderkey, o_orderstatus]}}
"""),
        engine=engine,
    )
    rows = {r["col"]: r for r in flow.run().collect()}
    n = engine.table("orders").count()
    assert rows["o_orderkey"]["n"] == n
    assert rows["o_orderkey"]["n_null"] == 0
    assert rows["o_orderkey"]["n_distinct"] == n  # primary key
    assert set(rows) == {"o_orderkey", "o_orderstatus"}


def test_column_profile_approx_mode_within_sketch_band(engine, sf_dir):
    """distinct_mode: approx (the 100 TB default — HyperLogLog++, no
    Expand multiplier) must agree with exact within the sketch's
    relative-error band; everything else stays identical."""
    def profile(mode):
        flow = Flow(
            Stages.loads(f"""
- kind: tap
  name: orders
  connection: {{kind: parquet, locator: {sf_dir}/orders.parquet}}
- kind: operator
  name: profile
  op: column_profile
  params: {{columns: [o_orderkey, o_orderstatus], distinct_mode: {mode}}}
"""),
            engine=engine,
        )
        return {r["col"]: r for r in flow.run().collect()}

    exact, approx = profile("exact"), profile("approx")
    for col in exact:
        e, a = exact[col], approx[col]
        assert (e["n"], e["n_null"], e["min_val"], e["max_val"]) == (
            a["n"], a["n_null"], a["min_val"], a["max_val"],
        )
        # rsd default 0.05; allow 4 sigma plus small-count slack
        band = max(4, int(0.2 * e["n_distinct"]))
        assert abs(a["n_distinct"] - e["n_distinct"]) <= band, col
    # the approx plan must NOT pay the Expand row multiplier
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: orders
  connection: {{kind: parquet, locator: {sf_dir}/orders.parquet}}
- kind: operator
  name: profile
  op: column_profile
  params: {{columns: [o_orderkey, o_orderstatus], distinct_mode: approx}}
"""),
        engine=engine,
    )
    df = flow.run()
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Expand" not in plan


def test_skew_diagnostics_stage(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: events
  connection: {{kind: parquet, locator: {sf_dir}/events.parquet}}
- kind: operator
  name: skew
  op: skew_diagnostics
  params: {{key: user_id, k: 5}}
"""),
        engine=engine,
    )
    out = flow.run().collect()
    assert len(out) == 5 and [r["rk"] for r in out] == [1, 2, 3, 4, 5]
    # uniform synthetic keys: nothing should flag hot
    assert not any(r["is_hot"] for r in out)
    assert all(0 < r["share_ppm"] < 1000000 for r in out)


def test_woe_binning_stage(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: documents
  connection: {{kind: parquet, locator: {sf_dir}/documents.parquet}}
- kind: operator
  name: woe
  op: woe_binning
  params: {{feature: "size(split(text, ' '))", label: "lang = 'en'", width: 10, max_bin: 15}}
"""),
        engine=engine,
    )
    out = flow.run()
    assert set(out.columns) == {"bin", "n_pos", "n_neg", "woe_e4"}
    rows = out.collect()
    assert len(rows) > 0
    # the stage must agree with the graded t23 on the same inputs
    from ankaflow_spark.operators.textops import QUERIES

    graded = {r["bin"]: (r["n_pos"], r["n_neg"], r["woe_e4"])
              for r in QUERIES["t23_woe_binning"](engine.spark, sf_dir).collect()}
    stage = {r["bin"]: (r["n_pos"], r["n_neg"], r["woe_e4"]) for r in rows}
    assert stage == graded


def test_countmin_stage_matches_graded(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: events
  connection: {{kind: parquet, locator: {sf_dir}/events.parquet}}
- kind: operator
  name: cm
  op: countmin_heavy_hitters
  params: {{key: user_id, k: 10}}
"""),
        engine=engine,
    )
    rows = flow.run().collect()
    from ankaflow_spark.operators.similarity import QUERIES

    graded = QUERIES["s15_countmin_heavy_hitters"](engine.spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, graded))


def test_zorder_stage_matches_graded(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: orders
  connection: {{kind: parquet, locator: {sf_dir}/orders.parquet}}
- kind: operator
  name: zo
  op: zorder_layout
  params:
    x: "o_custkey"
    y: "datediff(CAST(o_orderdate AS DATE), DATE '1992-01-01')"
    order_key: "o_orderkey"
"""),
        engine=engine,
    )
    rows = {r["layout"]: r for r in flow.run().collect()}
    from ankaflow_spark.operators.relational import QUERIES

    graded = {
        r["layout"]: r
        for r in QUERIES["q63_zorder_layout"](engine.spark, sf_dir).collect()
    }
    for layout in ("zorder", "natural"):
        assert rows[layout]["n_files"] == graded[layout]["n_files"]
        assert rows[layout]["sum_x_span"] == graded[layout]["sum_custkey_span"]
        assert rows[layout]["sum_y_span"] == graded[layout]["sum_day_span"]
        assert rows[layout]["n_rows"] == graded[layout]["n_rows"]


def test_ngram_novelty_stage_matches_graded(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: documents
  connection: {{kind: parquet, locator: {sf_dir}/documents.parquet}}
- kind: operator
  name: nv
  op: ngram_novelty
  params: {{id: doc_id, text: text, n: 5}}
"""),
        engine=engine,
    )
    rows = flow.run().collect()
    from ankaflow_spark.operators.textops import QUERIES

    graded = QUERIES["t24_ngram_novelty"](engine.spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, graded))


def test_k_anonymity_stage_matches_graded(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: customer
  connection: {{kind: parquet, locator: {sf_dir}/customer.parquet}}
- kind: operator
  name: ka
  op: k_anonymity
  params:
    quasi: ["c_nationkey", "c_mktsegment", "CAST(floor(CAST(c_acctbal AS DOUBLE) / 1000) AS BIGINT)"]
    k: 5
"""),
        engine=engine,
    )
    rows = flow.run().collect()
    from ankaflow_spark.operators.relational import QUERIES

    graded = QUERIES["q67_k_anonymity"](engine.spark, sf_dir).collect()
    assert sorted((r[0], r[1], r[2], r[3]) for r in rows) == sorted(
        (r[0], r[1], r[2], r[3]) for r in graded
    )


def test_reservoir_sample_stage_matches_graded(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: orders
  connection: {{kind: parquet, locator: {sf_dir}/orders.parquet}}
- kind: operator
  name: rs
  op: reservoir_sample
  params: {{key: o_orderkey, stratum: o_orderpriority, k: 20}}
"""),
        engine=engine,
    )
    rows = flow.run().select("o_orderpriority", "rk", "o_orderkey", "o_totalprice").collect()
    from ankaflow_spark.operators.relational import QUERIES

    graded = QUERIES["q68_reservoir_sample"](engine.spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, graded))


def test_l_diversity_stage_matches_graded(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: customer
  connection: {{kind: parquet, locator: {sf_dir}/customer.parquet}}
- kind: operator
  name: ld
  op: l_diversity
  params:
    quasi: ["c_nationkey", "CAST(floor(CAST(c_acctbal AS DOUBLE) / 1000) AS BIGINT)"]
    sensitive: c_mktsegment
    l: 3
"""),
        engine=engine,
    )
    rows = flow.run().collect()
    from ankaflow_spark.operators.relational import QUERIES

    graded = QUERIES["q69_l_diversity"](engine.spark, sf_dir).collect()
    assert sorted(tuple(r) for r in rows) == sorted(tuple(r) for r in graded)


def test_markov_transitions_stage_matches_graded(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: events
  connection: {{kind: parquet, locator: {sf_dir}/events.parquet}}
- kind: operator
  name: mk
  op: markov_transitions
  params:
    entity: user_id
    state: event_type
    order_by: [ts, event_id]
"""),
        engine=engine,
    )
    rows = flow.run().collect()
    from ankaflow_spark.operators.timeseries import QUERIES

    graded = QUERIES["ts29_markov_transitions"](engine.spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in graded]


def test_pmi_collocations_stage_matches_graded(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: documents
  connection: {{kind: parquet, locator: {sf_dir}/documents.parquet}}
- kind: operator
  name: pmi
  op: pmi_collocations
  params: {{text: text, min_count: 5, top: 50}}
"""),
        engine=engine,
    )
    rows = flow.run().collect()
    from ankaflow_spark.operators.textops import QUERIES

    graded = QUERIES["t26_pmi_collocations"](engine.spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in graded]


def test_funnel_conversion_stage_matches_graded(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: events
  connection: {{kind: parquet, locator: {sf_dir}/events.parquet}}
- kind: operator
  name: fn
  op: funnel_conversion
  params:
    entity: user_id
    type_col: event_type
    ts_col: ts
    steps: [view, click, purchase]
"""),
        engine=engine,
    )
    rows = flow.run().collect()
    from ankaflow_spark.operators.timeseries import QUERIES

    graded = QUERIES["ts32_funnel_conversion"](engine.spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in graded]


def test_t_closeness_stage_matches_graded(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: customer
  connection: {{kind: parquet, locator: {sf_dir}/customer.parquet}}
- kind: operator
  name: tc
  op: t_closeness
  params:
    quasi: ["c_nationkey", "CAST(floor(CAST(c_acctbal AS DOUBLE) / 1000) AS BIGINT)"]
    quasi_names: [c_nationkey, bal_bucket]
    sensitive: c_mktsegment
    t: [1, 5]
"""),
        engine=engine,
    )
    rows = flow.run().collect()
    from ankaflow_spark.operators.relational import QUERIES

    graded = QUERIES["q72_t_closeness"](engine.spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in graded]


def test_domain_caps_stage_matches_graded(engine, sf_dir):
    from ankaflow_spark.operators.textops import _quality_scored

    scored_sql = (
        "SELECT s.doc_id, d.source, s.score FROM ("
        + _quality_scored(True)
        + ") s JOIN documents d ON d.doc_id = s.doc_id"
    ).replace("\n", " ")
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: documents
  connection: {{kind: parquet, locator: {sf_dir}/documents.parquet}}
- kind: transform
  name: scored
  query: >
    {scored_sql}
- kind: operator
  name: caps
  op: domain_caps
  params: {{domain: source, score: score, id: doc_id, cap: 15}}
"""),
        engine=engine,
    )
    rows = flow.run().collect()
    from ankaflow_spark.operators.textops import QUERIES

    graded = QUERIES["t28_domain_caps"](engine.spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in graded]


def test_gopher_rules_stage_matches_graded(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: docs_in
  connection: {{kind: parquet, locator: {sf_dir}/documents.parquet}}
- kind: operator
  name: gq
  op: gopher_rules
  params: {{text: text, id: doc_id}}
"""),
        engine=engine,
    )
    rows = flow.run().collect()
    from ankaflow_spark.operators.textops import QUERIES

    graded = QUERIES["t27_gopher_rules"](engine.spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in graded]


def test_dow_seasonality_stage_matches_graded(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: events
  connection: {{kind: parquet, locator: {sf_dir}/events.parquet}}
- kind: operator
  name: seas
  op: dow_seasonality
  params: {{group: event_type, ts_col: ts}}
"""),
        engine=engine,
    )
    rows = flow.run().collect()
    from ankaflow_spark.operators.timeseries import QUERIES

    graded = QUERIES["ts33_dow_seasonality"](engine.spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in graded]


def test_repeat_gaps_stage_matches_graded(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: events
  connection: {{kind: parquet, locator: {sf_dir}/events.parquet}}
- kind: operator
  name: gaps
  op: repeat_gaps
  params: {{user: user_id, ts_col: ts, tiebreak: event_id, where: "event_type = 'purchase'"}}
"""),
        engine=engine,
    )
    rows = flow.run().collect()
    from ankaflow_spark.operators.timeseries import QUERIES

    graded = QUERIES["ts34_repeat_purchase_gaps"](engine.spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in graded]


def test_activity_streaks_stage_matches_graded(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: events
  connection: {{kind: parquet, locator: {sf_dir}/events.parquet}}
- kind: operator
  name: streaks
  op: activity_streaks
  params: {{user: user_id, ts_col: ts}}
"""),
        engine=engine,
    )
    rows = flow.run().collect()
    from ankaflow_spark.operators.timeseries import QUERIES

    graded = QUERIES["ts35_activity_streaks"](engine.spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in graded]


def test_embedding_stats_stage_matches_graded(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: vecs
  connection: {{kind: parquet, locator: {sf_dir}/embeddings.parquet}}
- kind: operator
  name: stats
  op: embedding_stats
  params: {{vector: embedding}}
"""),
        engine=engine,
    )
    rows = flow.run().collect()
    from ankaflow_spark.operators.similarity import QUERIES

    graded = QUERIES["s19_embedding_stats"](engine.spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in graded]


def test_tokenizer_fertility_stage_matches_graded(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: docs
  connection: {{kind: parquet, locator: {sf_dir}/documents.parquet}}
- kind: operator
  name: fert
  op: tokenizer_fertility
  params: {{text: text, group: lang}}
"""),
        engine=engine,
    )
    rows = flow.run().collect()
    from ankaflow_spark.operators.textops import QUERIES

    graded = QUERIES["t29_tokenizer_fertility"](engine.spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in graded]


def test_langid_confusion_stage_matches_graded(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: docs
  connection: {{kind: parquet, locator: {sf_dir}/documents.parquet}}
- kind: operator
  name: conf
  op: langid_confusion
  params: {{text: text, label: lang}}
"""),
        engine=engine,
    )
    rows = flow.run().collect()
    from ankaflow_spark.operators.textops import QUERIES

    graded = QUERIES["t30_langid_confusion"](engine.spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in graded]


def test_ri_audit_stage_matches_graded(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: customer
  connection: {{kind: parquet, locator: {sf_dir}/customer.parquet}}
- kind: tap
  name: orders
  connection: {{kind: parquet, locator: {sf_dir}/orders.parquet}}
- kind: operator
  name: audit
  op: ri_audit
  params: {{fk: o_custkey, parent: customer, pk: c_custkey}}
"""),
        engine=engine,
    )
    rows = flow.run().collect()
    assert len(rows) == 1
    from ankaflow_spark.operators.relational import QUERIES

    graded = {
        r["relation"]: r
        for r in QUERIES["q74_referential_integrity"](engine.spark, sf_dir).collect()
    }["orders.o_custkey -> customer"]
    # relation label format differs by design; the measured columns match
    assert tuple(rows[0])[1:] == tuple(graded)[1:]


def test_survival_curve_stage_matches_graded(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: events
  connection: {{kind: parquet, locator: {sf_dir}/events.parquet}}
- kind: operator
  name: surv
  op: survival_curve
  params: {{user: user_id, ts_col: ts, gap_min: 30}}
"""),
        engine=engine,
    )
    rows = flow.run().collect()
    from ankaflow_spark.operators.timeseries import QUERIES

    graded = QUERIES["ts37_survival_curve"](engine.spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in graded]


def test_decayed_leaderboard_stage_matches_graded(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: events
  connection: {{kind: parquet, locator: {sf_dir}/events.parquet}}
- kind: operator
  name: decay
  op: decayed_leaderboard
  params: {{user: user_id, ts_col: ts, top_n: 10}}
"""),
        engine=engine,
    )
    rows = flow.run().collect()
    from ankaflow_spark.operators.timeseries import QUERIES

    graded = QUERIES["ts38_decayed_leaderboard"](engine.spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in graded]

def test_decayed_leaderboard_long_horizon_reanchors(engine):
    """r7 advice (medium): BIGINT shifts wrap silently past ~62 weeks
    (Spark masks the shift amount). The op re-anchors to a retention
    window: weeks older than max_span_weeks before the newest weigh
    EXACTLY 0, so a 100-week history ranks correctly instead of
    wrapping."""
    import datetime

    from ankaflow_spark.operators.registry import OPERATORS

    week = datetime.timedelta(weeks=1)
    t0 = datetime.datetime(2020, 1, 2)
    rows = [("old_heavy", t0)] * 5 + [("recent", t0 + 99 * week)] * 3
    df = engine.spark.createDataFrame(rows, "user_id string, ts timestamp")
    out = OPERATORS["decayed_leaderboard"](engine, df, {"top_n": 10}).collect()
    assert [(r.user_id, r.raw_n, r.decayed_n, r.rn) for r in out] == [
        ("recent", 3, 3.0, 1),   # newest week: weight exactly 1
        ("old_heavy", 5, 0.0, 2),  # > 40 weeks stale: weight exactly 0
    ]


def test_decayed_leaderboard_overflow_raises_loudly(engine):
    """Counts too large for the integer-exact scale at the configured
    window must raise_error, never wrap (r7 advice). With
    max_span_weeks=61 the bound is 2^(62-61) = 2 events/week."""
    import datetime

    import pytest
    from pyspark.errors import SparkRuntimeException

    from ankaflow_spark.operators.registry import OPERATORS

    week = datetime.timedelta(weeks=1)
    t0 = datetime.datetime(2020, 1, 2)
    rows = [("u", t0)] + [("v", t0 + 61 * week)] * 2
    df = engine.spark.createDataFrame(rows, "user_id string, ts timestamp")
    with pytest.raises(SparkRuntimeException, match="decayed_leaderboard"):
        OPERATORS["decayed_leaderboard"](
            engine, df, {"top_n": 10, "max_span_weeks": 61}
        ).collect()


def test_decayed_leaderboard_span_bounds_validated(engine):
    """max_span_weeks > 61 would wrap BOTH the decay weights and the
    overflow guard itself (62 - win < 1 and Spark masks shiftleft
    amounts) — the op must refuse at plan-build time (r8 ADVICE low)."""
    import pytest

    from ankaflow_spark.operators.registry import OPERATORS

    df = engine.spark.createDataFrame(
        [("u", __import__("datetime").datetime(2020, 1, 2))],
        "user_id string, ts timestamp",
    )
    for bad in (62, 100, 0, -1):
        with pytest.raises(ValueError, match=r"max_span_weeks must be in \[1, 61\]"):
            OPERATORS["decayed_leaderboard"](engine, df, {"max_span_weeks": bad})
    # 61 (the guard's edge) still builds a plan
    OPERATORS["decayed_leaderboard"](engine, df, {"max_span_weeks": 61})


def test_decay_tail_sql_overflow_raises_both_engines(engine):
    """The shared ts38/st20 SQL tail must fail LOUDLY on both engines
    when a per-entity weekly count exceeds 2^(62 - win) — non-ANSI
    Spark would otherwise wrap silently while DuckDB raises on
    overflow (r8 ADVICE low). Synthesizes a weekly relation whose max
    count crosses the bound at win = 40."""
    import duckdb
    import pytest
    from pyspark.errors import SparkRuntimeException

    from ankaflow_spark.operators.timeseries import _decay_tail_sql

    big = 1 << 22  # 2^(62-40): the exact bound at the default 40-week span
    weekly_rows = [("u", 0, big), ("v", 40, 1)]
    engine.spark.createDataFrame(
        weekly_rows, "user_id string, week bigint, n bigint"
    ).createOrReplaceTempView("__decay_guard_weekly__")
    with pytest.raises(SparkRuntimeException, match="decayed leaderboard"):
        engine.spark.sql(_decay_tail_sql("__decay_guard_weekly__", True)).collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE w (user_id VARCHAR, week BIGINT, n BIGINT)")
    con.executemany("INSERT INTO w VALUES (?, ?, ?)", weekly_rows)
    with pytest.raises(Exception, match="decayed leaderboard"):
        con.sql(_decay_tail_sql("w", False)).fetchall()
    # one under the bound: both engines succeed and agree
    con.execute("UPDATE w SET n = n - 1 WHERE user_id = 'u'")
    engine.spark.createDataFrame(
        [("u", 0, big - 1), ("v", 40, 1)], "user_id string, week bigint, n bigint"
    ).createOrReplaceTempView("__decay_guard_weekly__")
    got = [
        tuple(r)
        for r in engine.spark.sql(
            _decay_tail_sql("__decay_guard_weekly__", True)
        ).collect()
    ]
    assert got == con.sql(_decay_tail_sql("w", False)).fetchall()


def test_stickiness_stage_matches_graded(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: events
  connection: {{kind: parquet, locator: {sf_dir}/events.parquet}}
- kind: operator
  name: stick
  op: stickiness
  params: {{user: user_id, ts_col: ts}}
"""),
        engine=engine,
    )
    rows = flow.run().collect()
    from ankaflow_spark.operators.timeseries import QUERIES

    graded = QUERIES["ts42_stickiness"](engine.spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in graded]


def test_ingest_freshness_stage_matches_graded(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: events
  connection: {{kind: parquet, locator: {sf_dir}/events.parquet}}
- kind: operator
  name: fresh
  op: ingest_freshness
  params: {{key: event_type, ts_col: ts}}
"""),
        engine=engine,
    )
    rows = flow.run().collect()
    from ankaflow_spark.operators.relational import QUERIES

    graded = QUERIES["q78_ingest_freshness"](engine.spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in graded]


def test_session_cooccurrence_stage_matches_graded(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: events
  connection: {{kind: parquet, locator: {sf_dir}/events.parquet}}
- kind: operator
  name: basket
  op: session_cooccurrence
  params: {{user: user_id, ts_col: ts}}
"""),
        engine=engine,
    )
    rows = flow.run().collect()
    from ankaflow_spark.operators.timeseries import QUERIES

    graded = QUERIES["ts43_session_cooccurrence"](engine.spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in graded]


def test_centroid_drift_stage_matches_graded(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: embeddings
  connection: {{kind: parquet, locator: {sf_dir}/embeddings.parquet}}
- kind: operator
  name: drift
  op: centroid_drift
  params: {{shard: label, vector: embedding}}
"""),
        engine=engine,
    )
    rows = flow.run().collect()
    from ankaflow_spark.operators.similarity import QUERIES

    graded = QUERIES["s28_centroid_drift"](engine.spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in graded]


def test_retention_ttl_stage_matches_graded(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: events
  connection: {{kind: parquet, locator: {sf_dir}/events.parquet}}
- kind: operator
  name: ttl
  op: retention_ttl
  params:
    key: event_type
    ts_col: ts
    ttl_days: {{click: 7, view: 14, error: 30, signup: 90}}
    default_days: 365
"""),
        engine=engine,
    )
    rows = flow.run().collect()
    from ankaflow_spark.operators.relational import QUERIES

    graded = QUERIES["q81_retention_ttl_audit"](engine.spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in graded]


def test_retention_ttl_stage_rejects_bad_params(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: events
  connection: {{kind: parquet, locator: {sf_dir}/events.parquet}}
- kind: operator
  name: ttl
  op: retention_ttl
  params: {{ttl_days: {{click: 0}}}}
"""),
        engine=engine,
    )
    with pytest.raises(FlowError, match="must be >= 1"):
        flow.run()


def test_retention_ttl_stage_rejects_unsafe_keys(engine, sf_dir):
    # Spark treats backslash as an escape in string literals, so a key
    # ending in a backslash would escape the closing quote — the stage
    # must refuse to splice it rather than rely on quote-doubling.
    for bad in ("x\\", "a'; DROP TABLE t; --", 'q"z'):
        flow = Flow(
            Stages.loads(f"""
- kind: tap
  name: events
  connection: {{kind: parquet, locator: {sf_dir}/events.parquet}}
- kind: operator
  name: ttl
  op: retention_ttl
  params: {{ttl_days: {{{bad!r}: 7}}}}
"""),
            engine=engine,
        )
        with pytest.raises(FlowError, match="refusing to splice"):
            flow.run()


def test_seasonal_anomaly_stage_matches_graded(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: events
  connection: {{kind: parquet, locator: {sf_dir}/events.parquet}}
- kind: operator
  name: anomaly
  op: seasonal_anomaly
  params: {{ts_col: ts}}
"""),
        engine=engine,
    )
    rows = flow.run().collect()
    from ankaflow_spark.operators.timeseries import QUERIES

    graded = QUERIES["ts44_seasonal_anomaly"](engine.spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in graded]


def test_value_quantiles_stage_matches_graded(engine, sf_dir):
    """The batch stage over the default $5 buckets must equal st24's
    incrementally-maintained report exactly."""
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: events
  connection: {{kind: parquet, locator: {sf_dir}/events.parquet}}
- kind: operator
  name: quant
  op: value_quantiles
  params: {{key: event_type, value: value}}
"""),
        engine=engine,
    )
    rows = flow.run().collect()
    from ankaflow_spark.operators.streamq import QUERIES

    graded = QUERIES["st24_stream_quantiles"](engine.spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in graded]


def test_value_quantiles_stage_narrow_buckets(engine, sf_dir):
    """Narrower buckets refine the quantile lower bounds monotonically
    upward (a finer grid can only move the crossing bucket's lower
    bound up, never down)."""
    def run(width):
        flow = Flow(
            Stages.loads(f"""
- kind: tap
  name: events
  connection: {{kind: parquet, locator: {sf_dir}/events.parquet}}
- kind: operator
  name: quant
  op: value_quantiles
  params: {{key: event_type, value: value, bucket_cents: {width}}}
"""),
            engine=engine,
        )
        return {r["event_type"]: r for r in flow.run().collect()}

    coarse, fine = run(500), run(100)
    assert set(coarse) == set(fine)
    for t in coarse:
        assert coarse[t]["n_events"] == fine[t]["n_events"]
        for col in ("p50_lo_cents", "p90_lo_cents", "p99_lo_cents"):
            assert fine[t][col] >= coarse[t][col]
            assert fine[t][col] - coarse[t][col] < 500


def test_daily_acf_stage_matches_graded(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: events
  connection: {{kind: parquet, locator: {sf_dir}/events.parquet}}
- kind: operator
  name: acf
  op: daily_acf
  params: {{key: event_type, ts_col: ts}}
"""),
        engine=engine,
    )
    rows = flow.run().collect()
    from ankaflow_spark.operators.timeseries import QUERIES

    graded = QUERIES["ts45_daily_acf"](engine.spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in graded]


def test_band_occupancy_stage_matches_graded(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: documents
  connection: {{kind: parquet, locator: {sf_dir}/documents.parquet}}
- kind: operator
  name: occ
  op: band_occupancy
  params: {{id_column: doc_id, text_column: text}}
"""),
        engine=engine,
    )
    rows = flow.run().collect()
    from ankaflow_spark.operators.dedup import QUERIES

    graded = QUERIES["d30_band_occupancy_audit"](engine.spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in graded]


def test_boilerplate_shingles_stage_matches_graded(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: documents
  connection: {{kind: parquet, locator: {sf_dir}/documents.parquet}}
- kind: operator
  name: boiler
  op: boilerplate_shingles
  params: {{id_column: doc_id, text_column: text}}
"""),
        engine=engine,
    )
    rows = flow.run().collect()
    from ankaflow_spark.operators.textops import QUERIES

    graded = QUERIES["t35_boilerplate_shingles"](engine.spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in graded]


def test_ann_bucket_balance_stage_matches_graded(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: embeddings
  connection: {{kind: parquet, locator: {sf_dir}/embeddings.parquet}}
- kind: operator
  name: balance
  op: ann_bucket_balance
  params: {{id_column: vec_id, vector_column: embedding}}
"""),
        engine=engine,
    )
    rows = flow.run().collect()
    from ankaflow_spark.operators.similarity import QUERIES

    graded = QUERIES["s29_ann_bucket_balance"](engine.spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in graded]


def test_late_arrival_stage_matches_graded(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: events
  connection: {{kind: parquet, locator: {sf_dir}/events.parquet}}
- kind: operator
  name: lateness
  op: late_arrival
  params: {{key: event_type, ts_col: ts, seq_col: event_id}}
"""),
        engine=engine,
    )
    rows = flow.run().collect()
    from ankaflow_spark.operators.relational import QUERIES

    graded = QUERIES["q82_late_arrival_audit"](engine.spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in graded]


def test_max_drawdown_stage_matches_graded(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: events
  connection: {{kind: parquet, locator: {sf_dir}/events.parquet}}
- kind: operator
  name: dd
  op: max_drawdown
  params: {{key: event_type, ts_col: ts}}
"""),
        engine=engine,
    )
    rows = flow.run().collect()
    from ankaflow_spark.operators.timeseries import QUERIES

    graded = QUERIES["ts46_max_drawdown"](engine.spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in graded]


def test_token_budget_stage_matches_graded(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: documents
  connection: {{kind: parquet, locator: {sf_dir}/documents.parquet}}
- kind: operator
  name: budget
  op: token_budget
  params: {{id_column: doc_id, text_column: text, group: source}}
"""),
        engine=engine,
    )
    rows = flow.run().collect()
    from ankaflow_spark.operators.textops import QUERIES

    graded = QUERIES["t36_token_budget"](engine.spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in graded]


def test_bucket_by_sink_stage_matches_graded(engine, sf_dir):
    """The YAML `bucket_by` sink surface (r10 verdict punch item 5):
    two parquet sinks persist the q83 join sides as bucketed+sorted
    catalog tables, a transform joins them through the catalog, and
    the result must equal the graded q83 — with the join planning
    ZERO exchange on the join key (the layout, not a shuffle, provides
    co-partitioning)."""
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: li_src
  connection: {{kind: parquet, locator: {sf_dir}/lineitem.parquet}}
  query: SELECT l_orderkey, l_extendedprice, l_discount FROM source
- kind: sink
  name: li_sink
  connection: {{kind: parquet, locator: twin_lineitem_b, bucket_by: [l_orderkey],
                n_buckets: 16, sort_by: [l_orderkey]}}
- kind: tap
  name: ord_src
  connection: {{kind: parquet, locator: {sf_dir}/orders.parquet}}
  query: SELECT o_orderkey, o_orderpriority FROM source
- kind: sink
  name: ord_sink
  connection: {{kind: parquet, locator: twin_orders_b, bucket_by: [o_orderkey],
                n_buckets: 16, sort_by: [o_orderkey]}}
"""),
        engine=engine,
    )
    flow.run()
    df = engine.spark.sql("""
      SELECT /*+ MERGE(l) */ o_orderpriority AS order_priority,
             CAST(COUNT(*) AS BIGINT) AS n_lines,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                      * CAST(1 - l_discount AS DECIMAL(12,4))) AS DOUBLE)
               AS revenue
      FROM twin_lineitem_b l JOIN twin_orders_b o ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority
      ORDER BY order_priority
    """)
    rows = df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in executed
    assert not [
        line
        for line in executed.splitlines()
        if "Exchange" in line and "orderkey" in line.lower()
    ]
    from ankaflow_spark.operators.relational import QUERIES

    graded = QUERIES["q83_bucketed_colocated_join"](engine.spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in graded]

    with pytest.raises(FlowError, match="bucket_by"):
        Flow(
            Stages.loads(f"""
- kind: tap
  name: src
  connection: {{kind: parquet, locator: {sf_dir}/orders.parquet}}
- kind: sink
  name: bad
  connection: {{kind: csv, locator: nope.csv, bucket_by: [o_orderkey]}}
"""),
            engine=engine,
        ).run()


def test_layered_bucket_partition_sink_stage(engine, sf_dir):
    """The YAML surface for q87's layered layout: `partition_by` +
    `bucket_by` on one parquet sink produce a catalog table whose dow
    query plans with dynamicpruning AND no user_id exchange — the two
    layout levers from a single stage."""
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: ev_src
  connection: {{kind: parquet, locator: {sf_dir}/events.parquet}}
  query: >
    SELECT user_id, value,
           CAST(unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000 AS BIGINT) AS day_no
    FROM source
- kind: sink
  name: layered
  connection: {{kind: parquet, locator: twin_fact_layered, bucket_by: [user_id],
                n_buckets: 16, sort_by: [user_id], partition_by: [day_no]}}
"""),
        engine=engine,
    )
    flow.run()
    spark = engine.spark
    dim = spark.sql("SELECT DISTINCT day_no, day_no % 7 AS dow FROM twin_fact_layered")
    df = (
        spark.table("twin_fact_layered")
        .join(dim, "day_no")
        .where("dow = 3")
        .groupBy("user_id")
        .count()
    )
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in executed
    assert "hashpartitioning(user_id" not in executed
    assert "SelectedBucketsCount" in executed


def test_band_index_stage_matches_graded(engine, sf_dir):
    """band_index_build + band_index_probe composed through stages pin
    cell-identical to the graded d33 (same corpus/batch split, same
    band chain, same persisted-bucketed-index probe)."""
    from ankaflow_spark.operators.dedup import D33_NEW_MOD, D33_NEW_REM

    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: docs
  connection: {{kind: parquet, locator: {sf_dir}/documents.parquet}}
- kind: transform
  name: corpus
  query: SELECT * FROM docs WHERE doc_id % {D33_NEW_MOD} <> {D33_NEW_REM}
- kind: operator
  name: index
  op: band_index_build
  input: corpus
  params: {{id_column: doc_id, text_column: text, table: d33_twin_index}}
- kind: transform
  name: batch
  query: SELECT * FROM docs WHERE doc_id % {D33_NEW_MOD} = {D33_NEW_REM}
- kind: operator
  name: verdicts
  op: band_index_probe
  input: batch
  params: {{id_column: doc_id, text_column: text, index_table: d33_twin_index}}
"""),
        engine=engine,
    )
    rows = flow.run().collect()
    from ankaflow_spark.operators.dedup import QUERIES

    graded = QUERIES["d33_bucketed_band_probe"](engine.spark, sf_dir).collect()
    assert len(rows) > 0
    assert [tuple(r) for r in rows] == [tuple(r) for r in graded]


def test_band_index_merge_stage_matches_graded(engine, sf_dir):
    """band_index_build (day-0 corpus) + band_index_merge (day-1
    batch) + band_index_probe (day-2 batch) composed through stages
    pin cell-identical to the graded d34 — the full production loop:
    build once, merge daily, probe daily."""
    from ankaflow_spark.operators.dedup import (
        D33_NEW_MOD,
        D33_NEW_REM,
        D34_DAY2_REM,
    )

    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: docs
  connection: {{kind: parquet, locator: {sf_dir}/documents.parquet}}
- kind: transform
  name: corpus
  query: SELECT * FROM docs WHERE doc_id % {D33_NEW_MOD} NOT IN ({D33_NEW_REM}, {D34_DAY2_REM})
- kind: operator
  name: index
  op: band_index_build
  input: corpus
  params: {{id_column: doc_id, text_column: text, table: d34_twin_index}}
- kind: transform
  name: day1
  query: SELECT * FROM docs WHERE doc_id % {D33_NEW_MOD} = {D33_NEW_REM}
- kind: operator
  name: merged
  op: band_index_merge
  input: day1
  params: {{id_column: doc_id, text_column: text, table: d34_twin_index}}
- kind: transform
  name: day2
  query: SELECT * FROM docs WHERE doc_id % {D33_NEW_MOD} = {D34_DAY2_REM}
- kind: operator
  name: verdicts
  op: band_index_probe
  input: day2
  params: {{id_column: doc_id, text_column: text, index_table: d34_twin_index}}
"""),
        engine=engine,
    )
    rows = flow.run().collect()
    from ankaflow_spark.operators.dedup import QUERIES

    graded = QUERIES["d34_band_index_merge"](engine.spark, sf_dir).collect()
    assert len(rows) > 0
    assert [tuple(r) for r in rows] == [tuple(r) for r in graded]


def test_band_index_merge_is_idempotent(engine, sf_dir):
    """A retried pipeline replays the merge stage: the second merge of
    the SAME batch must not grow the index (docs already indexed are
    anti-joined away)."""
    from ankaflow_spark.operators.dedup import D33_NEW_MOD, D33_NEW_REM
    from ankaflow_spark.operators.registry import get_operator

    spark = engine.spark
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(docs.doc_id % D33_NEW_MOD != D33_NEW_REM)
    batch = docs.filter(docs.doc_id % D33_NEW_MOD == D33_NEW_REM)
    build = get_operator("band_index_build")
    merge = get_operator("band_index_merge")
    build(engine, corpus, {"table": "d34_idem_index"})
    n0 = spark.table("d34_idem_index").count()
    merge(engine, batch, {"table": "d34_idem_index"})
    n1 = spark.table("d34_idem_index").count()
    assert n1 > n0
    merge(engine, batch, {"table": "d34_idem_index"})  # replayed batch
    assert spark.table("d34_idem_index").count() == n1


def test_dedup_survivors_keeps_pairs_stage_column_order(engine):
    """The pairs stage is rebound to the CC entry parquet only when its
    columns are exactly (doc_a, doc_b) in that order: a (doc_b, doc_a)
    stage keeps its own view and column order."""
    flow = Flow(
        Stages.loads("""
- kind: internal
  name: docs
  query: SELECT id AS doc_id, CAST(id AS DOUBLE) AS score FROM (SELECT explode(sequence(1, 6)) AS id)
- kind: internal
  name: swapped
  query: SELECT doc_b, doc_a FROM VALUES (2, 1), (3, 2), (6, 5) AS t(doc_b, doc_a)
- kind: operator
  name: survivors
  op: dedup_survivors
  input: docs
  params: {pairs: swapped, id_column: doc_id, score_column: score}
"""),
        engine=engine,
    )
    kept = sorted(r["doc_id"] for r in flow.run().collect())
    assert kept == [3, 4, 6]
    assert engine.table("swapped").columns == ["doc_b", "doc_a"]
    assert [tuple(r) for r in engine.table("swapped").orderBy("doc_a").collect()] == [
        (2, 1), (3, 2), (6, 5)
    ]


def test_dedup_survivors_reuses_one_pairs_dir_per_stage(engine):
    """Running a dedup_survivors stage again in the same session rewrites
    its pairs stage's one CC entry dir instead of leaving a new dir
    behind per call, also when a second consumer reads the pairs stage
    after it was rebound to that dir."""
    import glob
    import os

    from ankaflow_spark.session import scratch_root

    def pairs_dirs():
        return set(glob.glob(os.path.join(scratch_root(), "*", "pairs")))

    flow = Flow(
        Stages.loads("""
- kind: internal
  name: docs
  query: SELECT id AS doc_id, CAST(id AS DOUBLE) AS score FROM (SELECT explode(sequence(1, 6)) AS id)
- kind: internal
  name: reuse_probe_pairs
  query: SELECT doc_a, doc_b FROM VALUES (1, 2), (2, 3), (5, 6) AS t(doc_a, doc_b)
- kind: operator
  name: first_pass
  op: dedup_survivors
  input: docs
  params: {pairs: reuse_probe_pairs, id_column: doc_id, score_column: score}
- kind: operator
  name: second_pass
  op: dedup_survivors
  input: docs
  params: {pairs: reuse_probe_pairs, id_column: doc_id, score_column: score}
"""),
        engine=engine,
    )
    before = pairs_dirs()
    for _ in range(3):
        assert sorted(r["doc_id"] for r in flow.run().collect()) == [3, 4, 6]
        assert sorted(r["doc_id"] for r in engine.table("first_pass").collect()) == [3, 4, 6]
    assert len(pairs_dirs() - before) == 1
