"""Operator-layer unit tests: as-of join strategies, multimodal
plumbing, and registry integrity."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ankaflow_spark.operators import collect_all
from ankaflow_spark.operators.asof import asof_join_pandas, asof_join_window
from ankaflow_spark.operators.multimodal import (
    FEATURE_DIM,
    extract_features,
    frame_sample,
    synth_media,
)


def test_registry_integrity():
    queries, oracles = collect_all()
    assert len(queries) >= 30
    # every oracle key has a query
    assert set(oracles) <= set(queries)
    # the vast majority of queries carry a strict oracle
    assert len(oracles) >= len(queries) - 2


@pytest.fixture()
def trades_quotes(spark):
    trades = spark.createDataFrame(
        [("A", 10, 100.0), ("A", 20, 101.0), ("B", 15, 50.0), ("A", 5, 99.0)],
        ["sym", "t", "price"],
    )
    quotes = spark.createDataFrame(
        [("A", 8, 1.0), ("A", 12, 2.0), ("A", 20, 3.0), ("B", 1, 9.0)],
        ["sym", "t", "bid"],
    )
    return trades, quotes


def test_asof_join_window(trades_quotes):
    trades, quotes = trades_quotes
    out = asof_join_window(trades, quotes, on="t", by=["sym"], value_col="bid")
    got = {(r["sym"], r["t"]): r["bid_asof"] for r in out.collect()}
    assert got[("A", 5)] is None  # no quote yet
    assert got[("A", 10)] == 1.0
    assert got[("A", 20)] == 3.0  # equal timestamps: right side wins (side order)
    assert got[("B", 15)] == 9.0


def test_asof_join_pandas(trades_quotes):
    trades, quotes = trades_quotes
    out = asof_join_pandas(trades, quotes, on="t", by=["sym"])
    got = {(r["sym"], r["t"]): r["bid_asof"] for r in out.collect()}
    assert got[("A", 10)] == 1.0
    assert got[("A", 20)] == 3.0
    assert got[("B", 15)] == 9.0


def test_multimodal_features(spark):
    media = synth_media(spark, 30)
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 30
    for r in rows:
        assert len(r["feature"]) == FEATURE_DIM
        assert all(0.0 <= v <= 1.0 for v in r["feature"])
        assert r["n_bytes"] > 0 and len(r["sha256"]) == 64
    # deterministic: same payload -> same feature
    again = {r["media_id"]: r["feature"] for r in extract_features(media).collect()}
    assert again[0] == rows[0]["feature"] if rows[0]["media_id"] == 0 else True


def test_frame_sample(spark):
    media = synth_media(spark, 30)
    frames = frame_sample(media, every_n=2)
    pdf = frames.toPandas()
    assert (pdf["frame_no"] % 2 == 0).all()
    n_videos = media.filter(F.col("kind") == "video").count()
    assert pdf["media_id"].nunique() == n_videos


def test_decode_stub_contract():
    from ankaflow_spark.operators.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")


def test_cosine_pandas_udf_matches_fold(spark):
    from pyspark.sql import functions as F

    from ankaflow_spark.operators.similarity import cosine_pandas_udf

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = emb.filter("vec_id < 3").alias("a")
    b = emb.filter("vec_id >= 3 AND vec_id < 6").alias("b")
    pairs = a.crossJoin(b).select(
        F.col("a.vec_id").alias("ida"),
        F.col("b.vec_id").alias("idb"),
        F.col("a.embedding").alias("ea"),
        F.col("b.embedding").alias("eb"),
    )
    cos = cosine_pandas_udf()
    udf_vals = pairs.withColumn("c", cos("ea", "eb"))
    fold_vals = pairs.withColumn(
        "c",
        F.expr(
            "aggregate(zip_with(ea, eb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "CAST(0 AS DOUBLE), (p, q) -> p + q)"
        )
        / (
            F.sqrt(F.expr("aggregate(transform(ea, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), CAST(0 AS DOUBLE), (p, q) -> p + q)"))
            * F.sqrt(F.expr("aggregate(transform(eb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), CAST(0 AS DOUBLE), (p, q) -> p + q)"))
        ),
    )
    got = {(r["ida"], r["idb"]): r["c"] for r in udf_vals.collect()}
    want = {(r["ida"], r["idb"]): r["c"] for r in fold_vals.collect()}
    assert got.keys() == want.keys()
    for k in got:
        assert abs(got[k] - want[k]) < 1e-9


def test_connected_components_long_chain(spark):
    """A 10-node path graph must collapse to ONE cluster — a chain
    longer than any fixed round horizon (regression for the old
    CC_ROUNDS=3 under-merge)."""
    from ankaflow_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], ["doc_a", "doc_b"]
    )
    out = connected_components(spark, pairs).collect()
    assert len(out) == 10
    assert {r["cluster_id"] for r in out} == {0}
    reps = [r["doc_id"] for r in out if r["is_representative"]]
    assert reps == [0]


def test_connected_components_multiple_components(spark):
    from ankaflow_spark.operators.dedup import connected_components

    # two chains and an isolated pair: {1..4}, {10..12}, {20,21}
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21)]
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = {r["doc_id"]: r["cluster_id"] for r in connected_components(spark, pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_releases_its_checkpoints(spark):
    """Every localCheckpoint a CC call makes (edges, initial and per-round
    labels) is released once the labels exit through parquet, so repeated
    calls do not grow the session's persistent RDDs."""
    from ankaflow_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)] + [(20, 21)], ["doc_a", "doc_b"]
    )
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    connected_components(spark, pairs).collect()
    before = persistent().size()
    for _ in range(3):
        out = connected_components(spark, pairs).collect()
        assert {r["cluster_id"] for r in out} == {0, 20}
    assert persistent().size() == before


def test_d07_decontam_semantics(spark):
    from ankaflow_spark.operators.dedup import DECONTAM_MOD, QUERIES

    df = QUERIES["d07_benchmark_decontam"](spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert df.columns == ["doc_id", "n_shared_ngrams", "contaminated"]
    # benchmark members never appear as training docs
    assert all(r["doc_id"] % DECONTAM_MOD != 0 for r in rows)
    # flag agrees with the count
    assert all(r["contaminated"] == (r["n_shared_ngrams"] > 0) for r in rows)


def test_t05_topk_semantics(spark):
    from ankaflow_spark.operators.textops import _TOPK_PER_LANG, QUERIES

    df = QUERIES["t05_groupwise_quality_topk"](spark, "/root/testdata/sf0.001")
    rows = df.collect()
    per_lang = {}
    for r in rows:
        per_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in per_lang.items():
        assert len(rs) <= _TOPK_PER_LANG
        scores = [r["score"] for r in rs]
        assert scores == sorted(scores, reverse=True)
        assert [r["rk"] for r in rs] == list(range(1, len(rs) + 1))


def test_s04_quantization_bounds(spark):
    from ankaflow_spark.operators.similarity import QUERIES

    df = QUERIES["s04_quantization_fidelity"](spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert len(rows) > 0
    for r in rows:
        # |x - floor(x*s + 0.5)/s| <= 0.5/s by construction
        assert r["max_abs_err"] <= 0.5 / r["scale"] + 1e-12
        assert r["mse"] >= 0
        assert 0.99 < r["cos_fidelity"] <= 1.0 + 1e-12


def test_t06_sequence_pack_semantics(spark):
    from ankaflow_spark.operators.textops import _PACK_CTX, _PACK_SHARDS, QUERIES

    df = QUERIES["t06_sequence_pack"](spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert len(rows) > 0
    per_shard = {}
    for r in rows:
        assert r["shard"] == r["doc_id"] % _PACK_SHARDS
        assert 0 <= r["seq_offset"] < _PACK_CTX
        per_shard.setdefault(r["shard"], []).append(r)
    for shard, rs in per_shard.items():
        rs.sort(key=lambda r: r["doc_id"])
        cum = 0
        for r in rs:  # greedy contiguous fill: start = running token sum
            assert r["seq_id"] == cum // _PACK_CTX
            assert r["seq_offset"] == cum % _PACK_CTX
            cum += r["n_tokens"]


def test_d08_survivor_semantics(spark):
    from ankaflow_spark.operators.dedup import QUERIES

    df = QUERIES["d08_dedup_survivors"](spark, "/root/testdata/sf0.001")
    rows = df.collect()
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count()
    assert len(rows) == docs  # every document gets a verdict
    clusters = {}
    for r in rows:
        clusters.setdefault(r["cluster_id"], []).append(r)
    for cid, rs in clusters.items():
        assert all(r["cluster_size"] == len(rs) for r in rs)
        # exactly one survivor per cluster: the best score, doc_id tiebreak
        kept = [r for r in rs if r["keep"]]
        assert len(kept) == 1
        best = max(rs, key=lambda r: (r["score"], -r["doc_id"]))
        assert kept[0]["doc_id"] == best["doc_id"]
    # singletons survive
    singles = [rs[0] for rs in clusters.values() if len(rs) == 1]
    assert singles and all(r["keep"] for r in singles)


def test_t09_pii_redaction_scrubs_planted(spark):
    from ankaflow_spark.operators.textops import QUERIES, _pii_sql

    df = QUERIES["t09_pii_redaction"](spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert len(rows) > 0
    # each doc had exactly one email, one IP, one phone planted (the
    # synthetic corpus itself contains none)
    assert all(r["n_emails"] == 1 and r["n_ips"] == 1 and r["n_phones"] == 1 for r in rows)
    # and the scrubbed text no longer matches any PII pattern
    sql = _pii_sql(True).replace(
        "md5(", "(", 1
    )  # expose the raw redacted text instead of its md5
    red = spark.sql(sql).selectExpr(
        "max(redacted_md5 rlike '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\\\.[A-Za-z]{2,}') AS email",
        "max(redacted_md5 rlike '\\\\d{1,3}\\\\.\\\\d{1,3}\\\\.\\\\d{1,3}\\\\.\\\\d{1,3}') AS ip",
    ).collect()[0]
    assert red["email"] is False and red["ip"] is False


def test_t10_stratified_rates(spark):
    from ankaflow_spark.operators.textops import _MIX_RATES, QUERIES

    df = QUERIES["t10_stratified_mix"](spark, "/root/testdata/sf0.01")
    kept = {r["lang"]: 0 for r in df.collect()}
    for r in df.collect():
        kept[r["lang"]] += 1
    totals = {
        r["lang"]: r["n"]
        for r in spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for lang, rate in _MIX_RATES.items():
        frac = kept.get(lang, 0) / totals[lang]
        if rate >= 1.0:
            assert frac == 1.0  # keep-all stratum is exact
        else:
            assert abs(frac - rate) < 0.15  # bernoulli tolerance at n~100


def test_t11_vocab_semantics(spark):
    from ankaflow_spark.operators.textops import QUERIES

    rows = QUERIES["t11_vocab_topk"](spark, "/root/testdata/sf0.001").collect()
    assert rows
    counts = [r["n"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert [r["rk"] for r in rows] == list(range(1, len(rows) + 1))
    assert all(r["df"] <= r["n"] for r in rows)


def test_t12_normalized_dedup_collapses_formatting(spark):
    from ankaflow_spark.operators.textops import QUERIES

    spark.createDataFrame(
        [(1, "Hello,  World!"), (2, "hello world"), (3, "different")],
        ["doc_id", "text"],
    ).createOrReplaceTempView("documents")
    # bypass load_tables by querying the relation SQL directly
    from ankaflow_spark.operators.textops import _normdedup_sql

    rows = spark.sql(_normdedup_sql(True)).collect()
    assert len(rows) == 2  # the two formatting variants share a key
    merged = [r for r in rows if r["n_variants"] == 2][0]
    assert merged["keep_doc_id"] == 1


def test_connected_components_random_graphs_vs_union_find(spark):
    """Property: min-label propagation at fixpoint equals a union-find
    ground truth on randomized graphs (chains, stars, cliques, isolated
    pairs — seeded, 12 graphs). Guards the one operator whose at-scale
    correctness depends on iteration count rather than plan shape."""
    import random

    from ankaflow_spark.operators.dedup import connected_components

    rng = random.Random(20260813)
    for trial in range(12):
        n = rng.randint(2, 40)
        edges = set()
        # random edges + one long chain to stress the diameter
        for _ in range(rng.randint(1, 60)):
            a, b = rng.randint(0, n - 1), rng.randint(0, n - 1)
            if a != b:
                edges.add((min(a, b), max(a, b)))
        chain = rng.sample(range(n), min(n, rng.randint(2, 12)))
        edges.update(
            (min(a, b), max(a, b)) for a, b in zip(chain, chain[1:])
        )
        # union-find ground truth
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes = sorted({v for e in edges for v in e})
        truth = {v: find(v) for v in nodes}
        # spark answer
        pairs = spark.createDataFrame(sorted(edges), ["doc_a", "doc_b"])
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in connected_components(spark, pairs).collect()
        }
        assert got == truth, f"trial {trial}: {sorted(edges)}"


def test_deterministic_samplers_partition_invariant(spark):
    """q21/t10-style md5-threshold sampling must select the SAME rows
    under any partitioning — the property that makes it the only sane
    sampler at 100 TB."""
    from ankaflow_spark.operators.registry import op_hash_sample, op_stratified_sample

    df = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    for op, params in [
        (op_hash_sample, {"key": "doc_id", "fraction": 0.3}),
        (
            op_stratified_sample,
            {"strata": {"en": 0.4, "de": 1.0}, "stratum_column": "lang", "key": "doc_id"},
        ),
    ]:
        a = sorted(r["doc_id"] for r in op(None, df.repartition(1), params).collect())
        b = sorted(r["doc_id"] for r in op(None, df.repartition(13, "lang"), params).collect())
        assert a == b and a


def test_load_tables_ltz_under_ntz_default_session(spark):
    """A host session may set spark.sql.timestampType=TIMESTAMP_NTZ (it
    makes naive parquet reads match DuckDB's typing) — the 'timestamp'
    cast alias then resolves to NTZ and watermarks/unix_micros break.
    load_tables must still deliver TIMESTAMP (LTZ) columns."""
    from ankaflow_spark.operators import tables as T
    from ankaflow_spark.session import forget

    prev = spark.conf.get("spark.sql.timestampType", "TIMESTAMP_LTZ")
    spark.conf.set("spark.sql.timestampType", "TIMESTAMP_NTZ")
    try:
        forget(spark, "tables")
        forget(spark, "table_views")
        dfs = T.load_tables(spark, "/root/testdata/sf0.001")
        ts_field = [f for f in dfs["events"].schema.fields if f.name == "ts"][0]
        assert ts_field.dataType.typeName() == "timestamp", ts_field.dataType
    finally:
        spark.conf.set("spark.sql.timestampType", prev)
        forget(spark, "tables")
        forget(spark, "table_views")


def test_t13_bigram_surprisal_math(spark):
    """Hand-computed corpus: 'a b' appears in docs 1,2; 'a c' only in
    doc 3. Prefix count c1(a)=3, so P(b|a)=2/3 (surprisal ln 1.5) and
    P(c|a)=1/3 (surprisal ln 3, novel)."""
    import math

    from ankaflow_spark.operators.textops import (
        _T13_SPARK_BIGRAMS,
        _bigram_surprisal_sql,
    )
    from ankaflow_spark.session import forget

    spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c"), (4, "solo")],
        ["doc_id", "text"],
    ).createOrReplaceTempView("documents")
    spark.sql(_T13_SPARK_BIGRAMS).createOrReplaceTempView("t13_bigrams")
    rows = {r["doc_id"]: r for r in spark.sql(_bigram_surprisal_sql(True)).collect()}
    assert set(rows) == {1, 2, 3}  # doc 4 has no bigrams
    assert rows[1]["n_bigrams"] == 1
    assert rows[1]["avg_surprisal"] == round(math.log(3 / 2), 6)
    assert rows[1]["novel_frac"] == 0.0
    assert rows[3]["avg_surprisal"] == round(math.log(3.0), 6)
    assert rows[3]["novel_frac"] == 1.0
    forget(spark, "t13_bigrams")  # the real view is rebuilt per sf_dir
    forget(spark, "table_views")  # the synthetic view replaced `documents`


def test_d10_semantic_dedup_keep_semantics(spark, sf_dir):
    """Every cluster keeps exactly its min-id member; dropped vectors
    always point at a kept representative; corpus fully covered."""
    from ankaflow_spark.operators.dedup import QUERIES

    out = QUERIES["d10_semantic_dedup"](spark, sf_dir).collect()
    n_emb = spark.table("embeddings").count()
    assert len(out) == n_emb
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        kept = [m for m in members if m["keep"]]
        assert len(kept) == 1
        assert kept[0]["vec_id"] == cid == min(m["vec_id"] for m in members)


def test_t14_bpe_tokenization_math(spark):
    from ankaflow_spark.operators.textops import _bpe_token_sql

    spark.createDataFrame(
        [(1, "don't stop 123 now!")], ["doc_id", "text"]
    ).createOrReplaceTempView("documents")
    r = spark.sql(_bpe_token_sql(True)).collect()[0]
    # don | 't | ' stop' | ' 123' | ' now' | '!'  -> 6 BPE-ish tokens
    assert r["n_bpe_tokens"] == 6
    assert r["n_word_tokens"] == 4  # don, t, stop, now (letter runs counted standalone)
    assert r["n_number_tokens"] == 1
    assert r["n_ws_tokens"] == 4


def test_collect_all_graded_order():
    """The driver grades the FIRST 50 queries() entries in insertion
    order: every GRADED_FIRST name must exist, lead the dict, and cover
    every operator family."""
    import re

    from ankaflow_spark.operators import GRADED_FIRST, collect_all

    q, o = collect_all()
    names = list(q)
    assert names[: len(GRADED_FIRST)] == GRADED_FIRST
    assert len(GRADED_FIRST) == 50
    fams = {re.match(r"([a-z]+)", n).group(1) for n in GRADED_FIRST}
    assert fams == {"q", "ts", "d", "s", "t", "st", "m"}
    # every registered query resolves and EVERY query has a strict
    # oracle (m02 gained its golden VALUES oracle in round 5)
    assert set(o) <= set(q)
    assert set(q) == set(o)


def test_t20_no_cluster_spans_splits(spark, sf_dir):
    """Leakage invariant: every near-dup cluster lands wholly in ONE
    split, and the split sizes are roughly the configured 80/20."""
    from ankaflow_spark.operators.textops import QUERIES

    out = QUERIES["t20_leakage_safe_split"](spark, sf_dir)
    spanning = (
        out.groupBy("cluster_id")
        .agg({"split": "approx_count_distinct"})
        .filter("`approx_count_distinct(split)` > 1")
        .count()
    )
    assert spanning == 0
    counts = {r["split"]: r["count"] for r in out.groupBy("split").count().collect()}
    total = sum(counts.values())
    assert counts["train"] / total > 0.6  # 80% target with hash variance


def test_resize_images_contract(spark):
    """Resize plumbing: deterministic byte-budget output with typed dims
    metadata; re-running yields identical bytes (Arrow round-trip safe)."""
    from ankaflow_spark.operators.multimodal import resize_images, synth_media

    media = synth_media(spark, 30)
    out1 = resize_images(media, out_w=32, out_h=24).orderBy("media_id").collect()
    out2 = resize_images(media, out_w=32, out_h=24).orderBy("media_id").collect()
    assert len(out1) == 10  # 30 media, every 3rd is an image
    budget = 32 * 24 // 8
    for r1, r2 in zip(out1, out2):
        assert r1.out_w == 32 and r1.out_h == 24
        assert 0 < r1.n_bytes <= budget
        assert bytes(r1.payload) == bytes(r2.payload)


def test_q52_heavy_hitters_matches_naive_topk(spark, sf_dir):
    """Candidate-based two-pass top-k must equal the naive global top-k
    (the provable-exactness verdict may be False at uniform tiny SF —
    the bound is loose without real skew — but the recounted counts are
    exact either way, and at this scale candidates cover every key)."""
    from ankaflow_spark.operators.relational import QUERIES, _HH_K
    from ankaflow_spark.operators.tables import load_tables

    got = QUERIES["q52_heavy_hitters"](spark, sf_dir).collect()
    t = load_tables(spark, sf_dir)
    naive = (
        t["events"]
        .groupBy("user_id")
        .count()
        .orderBy(F.col("count").desc(), "user_id")
        .limit(_HH_K)
        .collect()
    )
    assert [(r["user_id"], r["n_events"]) for r in got] == [
        (r["user_id"], r["count"]) for r in naive
    ]
    assert all(isinstance(r["provably_exact"], bool) for r in got)


def test_q52_verdict_true_under_skew(spark):
    """With one dominant key the miss bound drops far below the top
    counts and the exactness verdict must flip TRUE. Exercises the bound
    algebra on a constructed table via the same SQL the query grades."""
    from ankaflow_spark.operators.relational import _heavy_hitters_sql

    rows = [(i, 999 if i % 2 == 0 else i % 40) for i in range(4000)]
    df = spark.createDataFrame(rows, ["event_id", "user_id"])
    df.createOrReplaceTempView("events")
    try:
        out = spark.sql(_heavy_hitters_sql()).collect()
        assert out[0]["user_id"] == 999 and out[0]["n_events"] == 2000
        assert out[0]["provably_exact"] is True
    finally:
        spark.catalog.dropTempView("events")
        # the toy view REPLACED the loader-registered one; clear the
        # loader's active-dir memo so the next load_tables re-registers
        # the real table views instead of assuming they still exist
        from ankaflow_spark.session import forget

        forget(spark, "table_views")


def test_q50_top_revenue_is_true_max(spark, sf_dir):
    from ankaflow_spark.operators.relational import QUERIES
    from ankaflow_spark.operators.tables import load_tables

    got = QUERIES["q50_top_revenue_supplier"](spark, sf_dir).collect()
    assert len(got) >= 1
    t = load_tables(spark, sf_dir)
    rev = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(14,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(14,2)"))
            ).alias("r")
        )
    )
    best = rev.orderBy(F.col("r").desc()).first()
    assert got[0]["s_suppkey"] == best["l_suppkey"]
    assert abs(got[0]["total_revenue"] - float(best["r"])) < 0.01


def test_q48_min_cost_rows_are_minimal(spark, sf_dir):
    """Every emitted (part, supplier) must carry the true minimum
    observed unit cost among EUROPE-region suppliers of that part."""
    from ankaflow_spark.operators.relational import QUERIES
    from ankaflow_spark.operators.tables import load_tables

    got = QUERIES["q48_min_cost_supplier"](spark, sf_dir)
    t = load_tables(spark, sf_dir)
    ps = (
        t["lineitem"]
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("cost"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t["nation"], F.col("s_nationkey") == F.col("n_nationkey"))
        .join(t["region"], F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "EUROPE")
        .groupBy("l_partkey")
        .agg(F.min("cost").alias("min_cost"))
    )
    bad = (
        got.join(ps, got["p_partkey"] == ps["l_partkey"])
        .filter(F.col("supplycost") != F.col("min_cost"))
        .count()
    )
    assert bad == 0


def test_t22_chunk_rewrite_keeps_first_occurrence(spark):
    """Corpus-wide chunk dedup: a chunk duplicated across docs survives
    only in the earliest (doc_id, pos); the rebuilt text drops it
    elsewhere. Runs the graded SQL directly over a toy documents view."""
    import hashlib

    from ankaflow_spark.operators.textops import _chunk_rewrite_sql

    docs = spark.createDataFrame(
        [
            (1, "a b c d e x y z w v"),          # chunks: [a b c d e], [x y z w v]
            (2, "a b c d e q r s t u"),          # first chunk duplicates doc 1
        ],
        ["doc_id", "text"],
    )
    docs.createOrReplaceTempView("documents")
    try:
        rows = {r["doc_id"]: r for r in spark.sql(_chunk_rewrite_sql(True)).collect()}
        assert rows[1]["n_kept"] == 2 and rows[1]["n_removed"] == 0
        assert rows[2]["n_kept"] == 1 and rows[2]["n_removed"] == 1
        assert rows[2]["clean_md5"] == hashlib.md5(b"q r s t u").hexdigest()
        assert rows[1]["clean_md5"] == hashlib.md5(b"a b c d e x y z w v").hexdigest()
    finally:
        spark.catalog.dropTempView("documents")
        # the toy view REPLACED the loader-registered one; clear the
        # loader's active-dir memo so the next load_tables re-registers
        # the real table views instead of assuming they still exist
        from ankaflow_spark.session import forget

        forget(spark, "table_views")


def test_t21_classifier_scores_are_hash_stable(spark):
    """The hashed-feature logit must be a pure function of the token
    multiset — same text, same score, independent of doc id order."""
    from ankaflow_spark.operators.textops import _quality_classifier_sql

    docs = spark.createDataFrame(
        [(10, "spark duck row"), (3, "spark duck row"), (7, "other words here")],
        ["doc_id", "text"],
    )
    docs.createOrReplaceTempView("documents")
    try:
        rows = {r["doc_id"]: r for r in spark.sql(_quality_classifier_sql(True)).collect()}
        assert rows[10]["logit_e6"] == rows[3]["logit_e6"]
        assert rows[10]["score_sum"] == rows[3]["score_sum"]
        assert all(isinstance(r["keep"], bool) for r in rows.values())
    finally:
        spark.catalog.dropTempView("documents")
        # the toy view REPLACED the loader-registered one; clear the
        # loader's active-dir memo so the next load_tables re-registers
        # the real table views instead of assuming they still exist
        from ankaflow_spark.session import forget

        forget(spark, "table_views")


def test_s11_kmeans_assignment_invariants(spark, sf_dir):
    from ankaflow_spark.operators.similarity import QUERIES, _KM_K

    out = QUERIES["s11_kmeans_lloyd"](spark, sf_dir).collect()
    assert len({r["vec_id"] for r in out}) == len(out)  # one row per vector
    clusters = {r["cluster"] for r in out}
    assert clusters <= set(range(_KM_K))
    assert all(r["dist_q2"] >= 0 for r in out)


def test_ts21_growth_accounting_identity(spark, sf_dir):
    from ankaflow_spark.operators.timeseries import QUERIES

    rows = QUERIES["ts21_growth_accounting"](spark, sf_dir).collect()
    assert rows, "no weeks"
    for r in rows:
        assert r["n_active"] == r["n_new"] + r["n_retained"] + r["n_resurrected"]
        assert r["n_churned"] >= 0  # retained(w) is a subset of active(w-1)
    assert rows[0]["n_new"] == rows[0]["n_active"]  # first week: everyone new


def test_m05_audio_frame_math(spark):
    """Frame energy over a known payload must match a direct
    recomputation byte-for-byte (Arrow hop fidelity for audio)."""
    import hashlib
    import math

    from ankaflow_spark.operators.multimodal import (
        AUDIO_FRAME,
        AUDIO_HOP,
        audio_frame_energy,
        synth_media,
    )

    media = synth_media(spark, 12)  # audio ids: 1,4,7,10
    got = {
        (r["media_id"], r["frame_no"]): r
        for r in audio_frame_energy(media).collect()
    }
    payload = hashlib.md5(b"1").digest() * 5  # id 1: 4 + 1 % 5 = 5 repeats
    samples = [b - 128 for b in payload]
    n_frames = (len(samples) - AUDIO_FRAME) // AUDIO_HOP + 1
    for f in range(n_frames):
        w = samples[f * AUDIO_HOP : f * AUDIO_HOP + AUDIO_FRAME]
        e = sum(x * x for x in w)
        r = got[(1, f)]
        assert r["energy"] == e
        assert r["peak"] == max(abs(x) for x in w)
        assert r["rms_e3"] == int(math.floor(math.sqrt(e / 32.0) * 1000))


def test_s12_hard_negatives_cross_label_only(spark, sf_dir):
    from ankaflow_spark.operators.similarity import QUERIES

    rows = QUERIES["s12_hard_negatives"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["neg_label"] != r["query_label"]
        assert -1.0001 <= r["cosine"] <= 1.0001


def test_d17_cascade_attribution(spark, sf_dir):
    from ankaflow_spark.operators.dedup import QUERIES

    rows = QUERIES["d17_dedup_cascade"](spark, sf_dir).collect()
    stages = {"exact", "near_dup", "semantic", "kept"}
    for r in rows:
        assert r["drop_stage"] in stages
        assert r["keep"] == (r["keep_exact"] and r["keep_near"] and r["keep_sem"])
        # first-stage-wins: a doc dropped at 'exact' reports exact even
        # if later stages would also drop it
        if not r["keep_exact"]:
            assert r["drop_stage"] == "exact"


def test_m06_scene_cut_math(spark):
    import hashlib

    import numpy as np

    from ankaflow_spark.operators.multimodal import (
        SCENE_CUT_THRESHOLD,
        VIDEO_FRAME_BYTES,
        scene_cuts,
        synth_media,
    )

    media = synth_media(spark, 12)  # video ids: 2, 5, 8, 11
    got = {(r["media_id"], r["frame_no"]): r for r in scene_cuts(media).collect()}
    payload = hashlib.md5(b"2").digest() * 6  # id 2: 4 + 2 % 5 = 6 repeats
    b = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
    n = len(b) // VIDEO_FRAME_BYTES
    frames = b[: n * VIDEO_FRAME_BYTES].reshape(n, VIDEO_FRAME_BYTES)
    for f in range(1, n):
        want = int(np.abs(frames[f] - frames[f - 1]).sum())
        assert got[(2, f)]["delta_energy"] == want
        assert got[(2, f)]["is_cut"] == (want > SCENE_CUT_THRESHOLD)
    # digest-period-2 structure: frame 2 == frame 0, so delta(2) == delta(1)
    assert got[(2, 2)]["delta_energy"] == got[(2, 1)]["delta_energy"]


def test_ts22_rfm_quintiles(spark, sf_dir):
    from ankaflow_spark.operators.timeseries import QUERIES

    rows = QUERIES["ts22_rfm_segmentation"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r["r_score"] <= 5 and 1 <= r["f_score"] <= 5 and 1 <= r["m_score"] <= 5
        assert r["segment"] == f"{r['r_score']}{r['f_score']}{r['m_score']}"
    # quantized-quintile invariants (qcut tie semantics): scores are
    # monotone in the metric, and equal metric values share a score
    by_freq = sorted(rows, key=lambda r: r["frequency"])
    for a, b in zip(by_freq, by_freq[1:]):
        assert a["f_score"] <= b["f_score"]
        if a["frequency"] == b["frequency"]:
            assert a["f_score"] == b["f_score"]
    # monetary is effectively unique -> bins near-balanced (off only by
    # grid-cell collisions, bounded by 2 at this SF)
    from collections import Counter

    c = Counter(r["m_score"] for r in rows)
    assert max(c.values()) - min(c.values()) <= 2


def test_s13_recall_bounds(spark, sf_dir):
    from ankaflow_spark.operators.similarity import QUERIES, TOP_K

    rows = QUERIES["s13_ivf_recall_eval"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_truth"] == TOP_K
        assert 0 <= r["n_matched"] <= r["n_truth"]
        assert abs(r["recall"] - r["n_matched"] / r["n_truth"]) < 1e-12


def test_q55_promo_share_bounds(spark, sf_dir):
    from ankaflow_spark.operators.relational import QUERIES

    r = QUERIES["q55_promo_revenue_share"](spark, sf_dir).collect()[0]
    assert 0 < r["promo_revenue"] < r["total_revenue"]
    assert 0 < r["promo_share_pct"] < 100


def test_d18_minhash_estimate_consistency(spark, sf_dir):
    from ankaflow_spark.operators.dedup import MINHASH_K, QUERIES

    rows = QUERIES["d18_minhash_accuracy"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["mh_matches"] <= MINHASH_K
        assert r["est_jaccard_e6"] == r["mh_matches"] * (1000000 // MINHASH_K)
        assert 0.0 <= r["exact_jaccard"] <= 1.0
        # the band verdict matches a float recomputation well away from
        # the boundary (the graded compare is the integer cross-mult)
        est = r["mh_matches"] / MINHASH_K
        diff = abs(est - r["exact_jaccard"])
        if abs(diff - 0.35) > 0.01:
            assert r["within_band"] == (diff <= 0.35)


def test_ts23_twap_constant_value_bucket(spark):
    """A bucket with one event held to the boundary must have
    twap == the event's value exactly."""
    from ankaflow_spark.operators.timeseries import _twap_sql

    df = spark.createDataFrame(
        [(1, 7, "2024-01-01 00:01:00", 386.59)],
        ["event_id", "user_id", "ts_s", "value"],
    ).selectExpr("event_id", "user_id", "CAST(ts_s AS TIMESTAMP) AS ts", "value")
    df.createOrReplaceTempView("events")
    try:
        r = spark.sql(_twap_sql(True)).collect()[0]
        assert r["twap_e6"] == 386_590_000
        assert r["active_us"] == 14 * 60 * 1_000_000  # held to bucket end
    finally:
        spark.catalog.dropTempView("events")
        from ankaflow_spark.session import forget

        forget(spark, "table_views")


def test_s14_mrr_semantics(spark, sf_dir):
    from ankaflow_spark.operators.similarity import QUERIES

    rows = QUERIES["s14_retrieval_mrr"](spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["first_hit_rank"] >= 1
        assert abs(r["reciprocal_rank"] - 1.0 / r["first_hit_rank"]) < 1e-15


def test_q57_q58_sketch_contracts(spark, sf_dir):
    """Mergeable-sketch queries: exact truth columns positive, verdicts
    boolean; q57's weekly estimate really merges daily binary sketches
    (relative error pinned well inside the graded band here)."""
    from ankaflow_spark.operators.relational import QUERIES

    r57 = QUERIES["q57_mergeable_hll_rollup"](spark, sf_dir).collect()
    assert r57 and all(r["exact_users"] > 0 for r in r57)
    assert all(isinstance(r["sketch_within_10pct"], bool) for r in r57)
    r58 = QUERIES["q58_theta_sketch_overlap"](spark, sf_dir).collect()
    assert r58 and all(r["exact_both"] >= 0 for r in r58)
    assert all(isinstance(r["sketch_within_band"], bool) for r in r58)


def test_ts24_pit_no_label_leakage(spark, sf_dir):
    """Point-in-time features must count STRICTLY-prior events: the
    user's first-ever purchase has zero prior purchases and zero prior
    spend, and counters are monotone along each user's purchases."""
    from ankaflow_spark.operators.timeseries import QUERIES

    rows = QUERIES["ts24_pit_features"](spark, sf_dir).collect()
    assert rows
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for user, rs in by_user.items():
        assert rs[0]["prior_purchases"] == 0 and rs[0]["prior_spend"] == 0.0
        seq = [r["prior_purchases"] for r in rs]
        assert seq == sorted(seq) and seq == list(range(len(rs)))


def test_d19_d20_substring_dedup_semantics(spark):
    """Substring-level dedup on a toy corpus with a known duplicated
    span: a 50-char string shared by docs 1 and 2 (flanked by fully
    distinct characters so the maximal common substring is exactly the
    planted one), a unique doc 3 that must emit no spans, and a pair of
    fully-identical docs 4/5 whose cleaned text is empty. Runs both
    graded SQL strings directly over a toy documents view."""
    import hashlib

    from ankaflow_spark.operators.dedup import (
        SPAN_GRAM,
        _substring_dedup_sql,
        _substring_rewrite_sql,
    )

    assert SPAN_GRAM == 40  # expectations below are sized to this
    shared = "the quick brown fox jumps over the lazy dd"
    shared += "!" * (50 - len(shared))
    assert len(shared) == 50
    full = "z" + "y" * 21 + "x" * 23  # 45 chars, duplicated verbatim
    docs = [
        (1, "A" * 9 + shared + "B" * 9),
        (2, "C" * 9 + shared + "D" * 9),
        (3, "unique text with no forty-char twin anywhere in the corpus!"),
        (4, full),
        (5, full),
    ]
    sdf = spark.createDataFrame(
        [(i, t, len(t)) for i, t in docs], ["doc_id", "text", "n_chars"]
    )
    sdf.createOrReplaceTempView("documents")
    try:
        d19 = {r["doc_id"]: r for r in spark.sql(_substring_dedup_sql(True)).collect()}
        # doc 3 has no duplicated 40-gram -> absent
        assert set(d19) == {1, 2, 4, 5}
        for doc in (1, 2):
            r = d19[doc]
            # one maximal island covering exactly the 50 planted chars
            assert r["n_spans"] == 1 and r["dup_chars"] == 50
            assert abs(r["dup_ratio"] - 50 / 68) < 1e-12
        for doc in (4, 5):
            r = d19[doc]
            assert r["n_spans"] == 1 and r["dup_chars"] == 45
            assert r["dup_ratio"] == 1.0

        d20 = {r["doc_id"]: r for r in spark.sql(_substring_rewrite_sql(True)).collect()}
        assert set(d20) == {1, 2, 4, 5}
        r1 = d20[1]
        assert (r1["orig_chars"], r1["removed_chars"], r1["clean_chars"]) == (68, 50, 18)
        assert r1["clean_key"] == hashlib.md5(("A" * 9 + "B" * 9).encode()).hexdigest()
        r2 = d20[2]
        assert r2["clean_key"] == hashlib.md5(("C" * 9 + "D" * 9).encode()).hexdigest()
        # fully-duplicated docs survive with empty cleaned text
        for doc in (4, 5):
            r = d20[doc]
            assert (r["removed_chars"], r["clean_chars"]) == (45, 0)
            assert r["clean_key"] == hashlib.md5(b"").hexdigest()
    finally:
        spark.catalog.dropTempView("documents")
        from ankaflow_spark.session import forget

        forget(spark, "table_views")


def test_d19_d20_randomized_vs_bruteforce(spark):
    """Seeded randomized corpora vs an O(corpus²)-ish brute-force
    Python reference: every duplicated >= SPAN_GRAM-char span (grams
    planted by copying random slices between docs, plus shared
    boilerplate, plus verbatim clones) must be found with exact island
    boundaries, and the d20 rebuild must equal Python string surgery.
    Guards the operator whose at-scale spelling (window-partitioned
    min/max over position fingerprints) is furthest from the textbook
    suffix-array formulation it re-expresses."""
    import hashlib
    import random

    from ankaflow_spark.operators.dedup import (
        SPAN_GRAM,
        _substring_dedup_sql,
        _substring_rewrite_sql,
    )

    def brute(docs):
        grams = {}
        for i, t in docs:
            for p in range(1, len(t) - SPAN_GRAM + 2):
                grams.setdefault(t[p - 1 : p - 1 + SPAN_GRAM], set()).add(i)
        exp19, exp20 = {}, {}
        for i, t in docs:
            hits = [
                p
                for p in range(1, len(t) - SPAN_GRAM + 2)
                if len(grams[t[p - 1 : p - 1 + SPAN_GRAM]]) >= 2
            ]
            if not hits:
                continue
            spans, run_end = [], None
            for p in hits:
                if run_end is None or p > run_end:
                    spans.append([p, p + SPAN_GRAM])
                else:
                    spans[-1][1] = max(spans[-1][1], p + SPAN_GRAM)
                run_end = max(run_end or 0, p + SPAN_GRAM)
            dup = sum(e - s for s, e in spans)
            exp19[i] = (len(spans), dup, dup / len(t))
            kept = []
            prev = 1
            for s, e in spans:
                kept.append(t[prev - 1 : s - 1])
                prev = e
            kept.append(t[prev - 1 :])
            clean = "".join(kept)
            exp20[i] = (
                len(t),
                len(t) - len(clean),
                len(clean),
                hashlib.md5(clean.encode()).hexdigest(),
            )
        return exp19, exp20

    for seed in (7, 23, 101):
        rng = random.Random(seed)
        vocab = ["aa", "bb", "cc", "dd", "ee", "ff"]
        docs = []
        for i in range(1, 31):
            n = rng.randint(20, 70)
            docs.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
        # plant cross-doc duplicated slices of varying length
        for _ in range(12):
            a, b = rng.sample(range(len(docs)), 2)
            src = docs[a][1]
            ln = rng.randint(SPAN_GRAM - 5, 90)  # some below threshold
            if len(src) <= ln:
                continue
            st = rng.randrange(len(src) - ln)
            chunk = src[st : st + ln]
            tgt_id, tgt = docs[b]
            ins = rng.randrange(len(tgt))
            docs[b] = (tgt_id, tgt[:ins] + chunk + tgt[ins:])
        # one verbatim clone pair and one doc shorter than the gram
        docs.append((97, docs[0][1]))
        docs.append((98, "tiny"))
        exp19, exp20 = brute(docs)

        sdf = spark.createDataFrame(
            [(i, t, len(t)) for i, t in docs], ["doc_id", "text", "n_chars"]
        )
        sdf.createOrReplaceTempView("documents")
        try:
            got19 = {
                r["doc_id"]: (r["n_spans"], r["dup_chars"], r["dup_ratio"])
                for r in spark.sql(_substring_dedup_sql(True)).collect()
            }
            assert set(got19) == set(exp19), f"seed {seed}: doc set mismatch"
            for i, (ns, dc, ratio) in exp19.items():
                g = got19[i]
                assert g[0] == ns and g[1] == dc, (seed, i, g, exp19[i])
                assert abs(g[2] - ratio) < 1e-9
            got20 = {
                r["doc_id"]: (
                    r["orig_chars"],
                    r["removed_chars"],
                    r["clean_chars"],
                    r["clean_key"],
                )
                for r in spark.sql(_substring_rewrite_sql(True)).collect()
            }
            assert got20 == exp20, f"seed {seed}"
        finally:
            spark.catalog.dropTempView("documents")
            from ankaflow_spark.session import forget

            forget(spark, "table_views")


def test_d21_bloom_decontam_invariants(spark, sf_dir):
    """The bloom prefilter must be EXACT at the relation level: same
    (n_shared_ngrams, contaminated) as d07 for every training doc (no
    false negatives by construction), candidates >= shared (false
    positives are the only slack), and every FP accounted."""
    from ankaflow_spark.operators.dedup import QUERIES

    d21 = {r["doc_id"]: r for r in QUERIES["d21_bloom_decontam"](spark, sf_dir).collect()}
    d07 = {r["doc_id"]: r for r in QUERIES["d07_benchmark_decontam"](spark, sf_dir).collect()}
    assert set(d21) == set(d07)
    for i, r in d21.items():
        assert r["n_shared_ngrams"] == d07[i]["n_shared_ngrams"]
        assert r["contaminated"] == d07[i]["contaminated"]
        assert r["n_bloom_candidates"] >= r["n_shared_ngrams"]
        assert (
            r["n_bloom_false_pos"]
            == r["n_bloom_candidates"] - r["n_shared_ngrams"]
            >= 0
        )


def test_s17_silhouette_semantics(spark, sf_dir):
    """Simplified silhouette over the s11 assignment: membership counts
    must match s11's clusters exactly, every per-cluster mean must lie
    in [-1, 1], and the e6 sums must be consistent with the means."""
    from ankaflow_spark.operators.similarity import QUERIES

    sil = QUERIES["s17_silhouette_eval"](spark, sf_dir).collect()
    km = QUERIES["s11_kmeans_lloyd"](spark, sf_dir).collect()
    counts = {}
    for r in km:
        counts[r["cluster"]] = counts.get(r["cluster"], 0) + 1
    assert {r["cluster"]: r["n_members"] for r in sil} == counts
    assert sum(r["n_members"] for r in sil) == len(km)
    for r in sil:
        assert -1.0 <= r["mean_silhouette"] <= 1.0
        assert (
            abs(
                r["mean_silhouette"]
                - r["sil_e6_sum"] / (r["n_members"] * 1_000_000)
            )
            < 1e-12
        )


def test_q62_vs_pandas_bruteforce(spark, sf_dir):
    """TPC-H Q22-shape query vs a literal pandas recomputation of its
    English spec (idle-rich = above-global-average positive balance in
    the selected nation buckets, no orders since 2000)."""
    import pandas as pd

    from ankaflow_spark.operators import collect_all
    from ankaflow_spark.operators.tables import load_tables

    t = load_tables(spark, sf_dir)
    orders = t["orders"].toPandas()
    cust = t["customer"].toPandas()

    q, _ = collect_all()

    # --- q62 brute force ---
    pool = cust[cust["c_nationkey"] % 5 <= 2].copy()
    pool["cntrycode"] = pool["c_nationkey"] % 5
    avg_bal = pool.loc[pool["c_acctbal"] > 0, "c_acctbal"].astype(float).mean()
    recent = set(orders.loc[orders["o_orderdate"] >= pd.Timestamp("2000-01-01"), "o_custkey"])
    sel = pool[(pool["c_acctbal"].astype(float) > avg_bal) & (~pool["c_custkey"].isin(recent))]
    want62 = {
        int(k): (len(g), round(float(g["c_acctbal"].astype(float).sum()), 2))
        for k, g in sel.groupby("cntrycode")
    }
    got62 = {
        r["cntrycode"]: (r["numcust"], round(r["totacctbal"], 2))
        for r in q["q62_idle_rich_customers"](spark, sf_dir).collect()
    }
    assert got62 == want62


def test_ts28_cohort_retention_vs_pandas(spark, sf_dir):
    """Cohort triangle vs a pandas recomputation over distinct
    (user, day) activity; age-0 retention is exactly 1.0 by
    construction (every user is active on their cohort day)."""
    from ankaflow_spark.operators import collect_all
    from ankaflow_spark.operators.tables import load_tables

    q, _ = collect_all()
    rows = q["ts28_cohort_retention"](spark, sf_dir).collect()
    assert rows
    ev = load_tables(spark, sf_dir)["events"].toPandas()
    au = (
        ev.assign(day=ev["ts"].dt.floor("D"))[["user_id", "day"]]
        .drop_duplicates()
    )
    first = au.groupby("user_id")["day"].min().rename("cohort")
    j = au.join(first, on="user_id")
    j["age"] = (j["day"] - j["cohort"]).dt.days
    want = j.groupby(["cohort", "age"]).size()
    sizes = {c: n for (c, a), n in want.items() if a == 0}
    for r in rows:
        key = (r["cohort_day"], r["age_days"])
        assert want[key] == r["n_active"], key
        assert r["cohort_size"] == sizes[r["cohort_day"]]
        assert abs(r["retention"] - r["n_active"] / r["cohort_size"]) < 1e-12
        if r["age_days"] == 0:
            assert r["retention"] == 1.0
    assert len(rows) == len(want)


def test_s15_countmin_vs_python_recompute(spark, sf_dir):
    """Count-Min estimates must equal a literal Python re-build of the
    same D x W sketch from the raw events (same hash family), and every
    estimate must dominate the exact count (CM never undercounts)."""
    from ankaflow_spark.operators.similarity import (
        QUERIES,
        _CM_P,
        _CM_ROWS,
        _CM_W,
    )

    out = QUERIES["s15_countmin_heavy_hitters"](spark, sf_dir).collect()
    users = [
        r["user_id"]
        for r in spark.table("events").select("user_id").collect()
    ]
    sketch = {}
    for u in users:
        for j, mult in _CM_ROWS:
            cell = ((u % _CM_P) * mult + j) % _CM_P % _CM_W
            sketch[(j, cell)] = sketch.get((j, cell), 0) + 1
    exact = {}
    for u in users:
        exact[u] = exact.get(u, 0) + 1
    top10 = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [(r["user_id"], r["exact_cnt"]) for r in out] == top10
    for r in out:
        est = min(
            sketch[((j, ((r["user_id"] % _CM_P) * mult + j) % _CM_P % _CM_W))]
            for j, mult in _CM_ROWS
        )
        assert r["cm_est"] == est >= r["exact_cnt"]
        assert r["overcount"] == r["cm_est"] - r["exact_cnt"]


def test_s18_mmr_vs_python_greedy(spark, sf_dir):
    """The distributed MMR must reproduce a literal in-memory greedy:
    same picks in the same order, same relevance and same
    max-similarity-to-previous numbers (exact integers)."""
    import math

    from ankaflow_spark.operators.similarity import (
        QUERIES,
        _MMR_K,
        _MMR_SHORTLIST,
    )

    out = QUERIES["s18_mmr_diverse_topk"](spark, sf_dir).collect()
    vecs = {
        r["vec_id"]: [int(math.floor(float(v) * 1_000_000)) for v in r["embedding"]]
        for r in spark.table("embeddings").collect()
    }
    q = vecs[0]
    rel = {
        cid: sum(a * b for a, b in zip(q, v))
        for cid, v in vecs.items()
        if cid != 0
    }
    sl = sorted(rel, key=lambda c: (-rel[c], c))[:_MMR_SHORTLIST]
    picks = [min(sl, key=lambda c: (-rel[c], c))]
    while len(picks) < _MMR_K:
        best = None
        for c in sl:
            if c in picks:
                continue
            maxsim = max(
                sum(a * b for a, b in zip(vecs[c], vecs[s])) for s in picks
            )
            key = (-(2 * rel[c] - maxsim), c)
            if best is None or key < best[0]:
                best = (key, c)
        picks.append(best[1])
    assert [r["cid"] for r in out] == picks
    for i, r in enumerate(out):
        assert r["pick"] == i + 1
        assert r["rel"] == rel[r["cid"]]
        expect_sim = (
            0
            if i == 0
            else max(
                sum(a * b for a, b in zip(vecs[r["cid"]], vecs[s]))
                for s in picks[:i]
            )
        )
        assert r["max_sim_prev"] == expect_sim


def test_q63_zorder_improves_both_dims(spark, sf_dir):
    """The z-order layout must beat the natural layout on BOTH
    dimensions' summed per-file spans (that is the entire point of the
    interleave), partition the same row count, and agree with a pandas
    bit-interleave recomputation of the file spans."""
    from ankaflow_spark.operators.relational import QUERIES

    rows = {r["layout"]: r for r in QUERIES["q63_zorder_layout"](spark, sf_dir).collect()}
    z, nat = rows["zorder"], rows["natural"]
    assert z["n_rows"] == nat["n_rows"] > 0
    assert z["sum_custkey_span"] < nat["sum_custkey_span"]
    assert z["sum_day_span"] < nat["sum_day_span"]

    pdf = spark.table("orders").select("o_orderkey", "o_custkey", "o_orderdate").toPandas()
    x = (pdf["o_custkey"] % 1024).astype(int)
    base = pdf["o_orderdate"].dt.normalize()
    y = ((base - pd_ts("1992-01-01")).dt.days % 1024).astype(int)

    def interleave(xv, yv):
        zv = 0
        for i in range(10):
            zv |= ((xv >> i) & 1) << (2 * i)
            zv |= ((yv >> i) & 1) << (2 * i + 1)
        return zv

    zs = [interleave(a, b) for a, b in zip(x, y)]
    files = {}
    for zv, xv, yv in zip(zs, x, y):
        fid = zv * 16 // (1 << 20)
        lo = files.setdefault(fid, [xv, xv, yv, yv])
        lo[0] = min(lo[0], xv); lo[1] = max(lo[1], xv)
        lo[2] = min(lo[2], yv); lo[3] = max(lo[3], yv)
    assert z["n_files"] == len(files)
    assert z["sum_custkey_span"] == sum(v[1] - v[0] for v in files.values())
    assert z["sum_day_span"] == sum(v[3] - v[2] for v in files.values())


def pd_ts(s):
    import pandas as pd

    return pd.Timestamp(s)


def test_m07_duplicate_frame_semantics(spark):
    """Every video pair in the same re-encode series must be reported
    with shared_frames == min(n_frames) of the two (same source bytes,
    positional slices), no cross-series pair may appear, and the kernel
    hashes must equal direct byte-slice recomputation."""
    from ankaflow_spark.operators.multimodal import (
        _FRAME_BYTES,
        _FRAME_STRIDE,
        frame_hashes,
        synth_video_series,
    )
    from ankaflow_spark.operators.streamq import QUERIES

    media = synth_video_series(spark, 48)
    fh = frame_hashes(media).collect()
    raw = {r["media_id"]: (bytes(r["payload"]), r["meta"]) for r in media.collect()}
    n_frames = {}
    for r in fh:
        buf, meta = raw[r["media_id"]]
        f = r["frame_no"]
        assert r["phash"] == buf[f * _FRAME_STRIDE : f * _FRAME_STRIDE + _FRAME_BYTES].hex()
        n_frames[r["media_id"]] = max(n_frames.get(r["media_id"], 0), f + 1)
    for mid, (_, meta) in raw.items():
        assert n_frames[mid] == int(meta["n_frames"])

    pairs = QUERIES["m07_duplicate_frame_pairs"](spark, "unused").collect()
    series = {mid: mid % 4 for mid in raw}
    seen = set()
    for r in pairs:
        a, b = r["media_a"], r["media_b"]
        assert series[a] == series[b]
        expect = min(n_frames[a], n_frames[b])
        assert r["shared_frames"] == expect
        assert abs(
            r["frame_jaccard"]
            - expect / (n_frames[a] + n_frames[b] - expect)
        ) < 1e-12
        seen.add((a, b))
    import itertools

    expect_pairs = {
        (a, b)
        for a, b in itertools.combinations(sorted(raw), 2)
        if series[a] == series[b]
    }
    assert seen == expect_pairs


def test_t24_novelty_vs_python_recompute(spark, sf_dir):
    """Novelty must equal a literal Python first-occurrence scan in
    doc_id order: a gram is novel in the lowest-numbered doc containing
    it, and nowhere after."""
    from ankaflow_spark.operators.textops import QUERIES, _NOVELTY_N

    out = QUERIES["t24_ngram_novelty"](spark, sf_dir).collect()
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.table("documents").select("doc_id", "text").collect()
    }
    seen = set()
    expect = {}
    for doc_id in sorted(docs):
        w = docs[doc_id].split(" ")
        grams = (
            {tuple(w[i : i + _NOVELTY_N]) for i in range(len(w) - _NOVELTY_N + 1)}
            if len(w) >= _NOVELTY_N
            else {tuple(w)}
        )
        novel = {g for g in grams if g not in seen}
        seen |= grams
        expect[doc_id] = (len(grams), len(novel))
    assert len(out) == len(docs)
    for r in out:
        n_grams, n_novel = expect[r["doc_id"]]
        assert (r["n_grams"], r["n_novel"]) == (n_grams, n_novel)
        assert abs(r["novelty"] - n_novel / n_grams) < 1e-12


def test_q67_k_anonymity_vs_pandas(spark, sf_dir):
    """Every reported class must genuinely have < k members, counted
    independently in pandas over the same bucketing, and no violating
    class may be missing."""
    from ankaflow_spark.operators.relational import QUERIES, _K_ANON

    out = {
        (r["c_nationkey"], r["c_mktsegment"], r["bal_bucket"]): r["class_size"]
        for r in QUERIES["q67_k_anonymity"](spark, sf_dir).collect()
    }
    import math

    pdf = spark.table("customer").toPandas()
    pdf["bal_bucket"] = pdf["c_acctbal"].map(lambda v: math.floor(float(v) / 1000))
    sizes = pdf.groupby(["c_nationkey", "c_mktsegment", "bal_bucket"]).size()
    expect = {k: n for k, n in sizes.items() if n < _K_ANON}
    assert out == expect


def test_q68_reservoir_fixed_size_and_uniformity(spark, sf_dir):
    """Exactly k rows per stratum (when the stratum has >= k rows),
    selection = the k smallest md5(orderkey) per stratum recomputed in
    Python, and the sample is stable across runs."""
    import hashlib as h

    from ankaflow_spark.operators.relational import QUERIES, _RESERVOIR_K

    rows = QUERIES["q68_reservoir_sample"](spark, sf_dir).collect()
    by_strat = {}
    for r in rows:
        by_strat.setdefault(r["o_orderpriority"], []).append(r)
    orders = spark.table("orders").select("o_orderpriority", "o_orderkey").collect()
    pool = {}
    for r in orders:
        pool.setdefault(r["o_orderpriority"], []).append(r["o_orderkey"])
    for strat, keys in pool.items():
        ranked = sorted(keys, key=lambda k: (h.md5(str(k).encode()).hexdigest(), k))
        expect = ranked[: _RESERVOIR_K]
        got = [r["o_orderkey"] for r in sorted(by_strat[strat], key=lambda r: r["rk"])]
        assert got == expect
    again = QUERIES["q68_reservoir_sample"](spark, sf_dir).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))


def test_t25_bpe_merges_vs_python_trainer(spark, sf_dir):
    """The two learned merges must equal a literal Python BPE trainer
    (Sennrich-style) over the same top-200 word-frequency vocabulary:
    same pair, same weighted count, greedy leftmost merge application."""
    from collections import Counter

    from ankaflow_spark.operators.textops import QUERIES, _BPE_VOCAB

    out = QUERIES["t25_bpe_merge_training"](spark, sf_dir).collect()

    wc = Counter()
    for r in spark.table("documents").select("text").collect():
        for w in r["text"].split(" "):
            if w:
                wc[w] += 1
    vocab = dict(
        sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))[:_BPE_VOCAB]
    )
    spellings = {w: list(w) for w in vocab}

    def best_pair():
        pc = Counter()
        for w, syms in spellings.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += vocab[w]
        return min(pc.items(), key=lambda kv: (-kv[1], kv[0][0] + "|" + kv[0][1]))

    for rnd in (1, 2):
        (a, b), cnt = best_pair()
        row = next(r for r in out if r["round"] == rnd)
        assert (row["left_sym"], row["right_sym"], row["pair_count"]) == (a, b, cnt)
        assert row["merged"] == a + b
        for w, syms in spellings.items():
            merged, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    merged.append(a + b)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            spellings[w] = merged


def test_t26_pmi_vs_python(spark, sf_dir):
    """The distributed PMI collocation ranking must reproduce a literal
    in-memory computation: same pairs, same exact counts, same
    6dp-rounded PMI, same order."""
    import math
    from collections import Counter

    from ankaflow_spark.operators.textops import (
        _PMI_MIN_COUNT,
        _PMI_TOP,
        QUERIES,
    )

    out = QUERIES["t26_pmi_collocations"](spark, sf_dir).collect()
    big: Counter = Counter()
    for r in spark.table("documents").select("text").collect():
        w = [x for x in r["text"].lower().split(" ") if x != ""]
        for a, b in zip(w, w[1:]):
            big[(a, b)] += 1
    cl: Counter = Counter()
    cr: Counter = Counter()
    for (a, b), c in big.items():
        cl[a] += c
        cr[b] += c
    n = sum(big.values())
    scored = [
        (round(math.log(c * n / (cl[a] * cr[b])), 6), a, b, c)
        for (a, b), c in big.items()
        if c >= _PMI_MIN_COUNT
    ]
    scored.sort(key=lambda t: (-t[0], t[1], t[2]))
    expect = scored[:_PMI_TOP]
    assert len(out) == len(expect)
    for r, (pmi, a, b, c) in zip(out, expect):
        assert (r["w1"], r["w2"], r["pair_count"]) == (a, b, c)
        assert r["pmi"] == pmi


def test_ts29_markov_vs_python(spark, sf_dir):
    """The transition matrix must reproduce a literal in-memory
    first-order Markov estimate: exact counts, IEEE-exact shares,
    destination-tiebroken ranks."""
    from collections import Counter, defaultdict

    from ankaflow_spark.operators.timeseries import QUERIES

    out = QUERIES["ts29_markov_transitions"](spark, sf_dir).collect()
    rows = spark.table("events").select(
        "user_id", "event_type", "ts", "event_id"
    ).collect()
    by_user = defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append((r["ts"], r["event_id"], r["event_type"]))
    trans: Counter = Counter()
    for seq in by_user.values():
        seq.sort()
        for (_, _, a), (_, _, b) in zip(seq, seq[1:]):
            trans[(a, b)] += 1
    row_tot = Counter()
    for (a, _), n in trans.items():
        row_tot[a] += n
    expect = []
    for src in sorted({a for a, _ in trans}):
        dsts = sorted(
            ((d, n) for (a, d), n in trans.items() if a == src),
            key=lambda t: (-t[1], t[0]),
        )
        for i, (d, n) in enumerate(dsts):
            # RANK's ORDER BY (n DESC, dst) is a total order -> position
            expect.append((src, d, n, n / row_tot[src], i + 1))
    assert len(out) == len(expect)
    for r, (s, d, n, p, rnk) in zip(out, expect):
        assert (r["src"], r["dst"], r["n_trans"], r["rnk"]) == (s, d, n, rnk)
        assert r["p"] == p


def test_m08_phash_near_dup_vs_python(spark, sf_dir):
    """The banded near-dup must reproduce a literal in-memory replay of
    the corpus rule: same candidate pairs (pigeonhole on 4 bands), same
    nibble-Hamming distances, same near verdicts."""
    import hashlib

    from ankaflow_spark.operators.streamq import QUERIES

    out = QUERIES["m08_phash_near_dup"](spark, sf_dir).collect()
    hashes = {}
    for i in range(40):
        series, v = i % 5, i // 5
        h = list(hashlib.md5(f"img-{series}".encode()).hexdigest()[:16])
        if v:
            for p in ((5 * v) % 16, (5 * v + 8) % 16):
                h[p] = format((int(h[p], 16) + v) % 16, "x")
        hashes[i] = "".join(h)
    expect = []
    for a in range(40):
        for b in range(a + 1, 40):
            ha, hb = hashes[a], hashes[b]
            if any(ha[j * 4 : j * 4 + 4] == hb[j * 4 : j * 4 + 4] for j in range(4)):
                ham = sum(1 for x, y in zip(ha, hb) if x != y)
                expect.append((a, b, ham, ham <= 4))
    assert [
        (r["media_a"], r["media_b"], r["hamming"], r["is_near"]) for r in out
    ] == expect
    # the corpus must exercise both distance classes and the LSH miss:
    hams = {r["hamming"] for r in out}
    assert 2 in hams  # original vs 2-nibble variant
    same_series_found = sum(1 for r in out if r["media_a"] % 5 == r["media_b"] % 5)
    assert 0 < same_series_found < 7 * 8 * 5 // 2  # some 4-nibble pairs escape


def test_d22_triangles_vs_python(spark, sf_dir):
    """Triangle counts must equal a literal enumeration over the same
    candidate edge list."""
    from collections import Counter
    from itertools import combinations

    from ankaflow_spark.operators.dedup import QUERIES

    out = QUERIES["d22_triangle_count"](spark, sf_dir).collect()
    edges = {
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["d02_minhash_lsh_pairs"](spark, sf_dir).collect()
    }
    nodes = sorted({n for e in edges for n in e})
    tri: Counter = Counter()
    adj = {n: set() for n in nodes}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    for x in nodes:
        for y, z in combinations(sorted(n for n in adj[x] if n > x), 2):
            if z in adj[y]:
                tri[x] += 1
                tri[y] += 1
                tri[z] += 1
    expect = sorted(tri.items(), key=lambda t: (-t[1], t[0]))[:20]
    assert [(r["doc_id"], r["n_triangles"]) for r in out] == expect


def test_q70_data_quality_vs_python(spark, sf_dir):
    """Every audit verdict must match a literal pandas recomputation of
    the declared constraints."""
    from ankaflow_spark.operators.relational import QUERIES

    out = {r["check_name"]: r for r in QUERIES["q70_data_quality_audit"](spark, sf_dir).collect()}
    o = spark.table("orders").toPandas()
    l = spark.table("lineitem").toPandas()
    c = spark.table("customer").toPandas()
    checks = {
        "orders_pk_unique": (len(o), len(o) - o["o_orderkey"].nunique()),
        "orders_status_domain": (len(o), int((~o["o_orderstatus"].isin(["O", "F", "P"])).sum())),
        "orders_price_positive": (len(o), int((o["o_totalprice"].astype(float) <= 0).sum())),
        "lineitem_qty_range": (len(l), int(((l["l_quantity"] < 1) | (l["l_quantity"] > 50)).sum())),
        "lineitem_discount_range": (len(l), int(((l["l_discount"].astype(float) < 0) | (l["l_discount"].astype(float) > 0.1)).sum())),
        "lineitem_shipdate_complete": (len(l), int(l["l_shipdate"].isna().sum())),
        "orders_custkey_fk": (len(o), int((~o["o_custkey"].isin(set(c["c_custkey"]))).sum())),
    }
    assert set(out) == set(checks)
    for name, (n, bad) in checks.items():
        r = out[name]
        assert (r["n_checked"], r["n_violations"], r["pass"]) == (n, bad, bad == 0), name


def test_ts30_mad_vs_python(spark, sf_dir):
    """Robust-z scores must match a literal statistics recomputation:
    exact daily counts, interpolated medians, Iglewicz-Hoaglin scaling,
    |z|-descending selection."""
    import statistics
    from collections import Counter, defaultdict

    from ankaflow_spark.operators.timeseries import _MAD_CUTOFF, QUERIES

    out = QUERIES["ts30_mad_outliers"](spark, sf_dir).collect()
    daily: Counter = Counter()
    for r in spark.table("events").select("event_type", "ts").collect():
        daily[(r["event_type"], r["ts"].date())] += 1
    by_type = defaultdict(dict)
    for (t, d), n in daily.items():
        by_type[t][d] = n
    scored = []
    for t, days in by_type.items():
        med = statistics.median(days.values())
        mad = statistics.median(abs(float(n) - med) for n in days.values())
        if mad <= 0:
            continue
        for d, n in days.items():
            z = (float(n) - med) / (1.4826 * mad)
            scored.append((t, d, n, float(med), z, abs(z) > _MAD_CUTOFF))
    scored.sort(key=lambda r: (-abs(r[4]), r[0], r[1]))
    expect = scored[:15]
    assert len(out) == len(expect)
    for r, (t, d, n, med, z, flag) in zip(out, expect):
        assert (r["event_type"], r["day"], r["n_events"], r["is_outlier"]) == (
            t, d, n, flag,
        )
        assert r["med_daily"] == med and r["robust_z"] == z


def test_d23_impact_report_vs_python(spark, sf_dir):
    """The impact report must equal a literal recomputation over the
    d06 cluster table and document lengths."""
    from collections import Counter, defaultdict

    from ankaflow_spark.operators.dedup import QUERIES

    out = QUERIES["d23_dedup_impact_report"](spark, sf_dir).collect()
    clusters = QUERIES["d06_dedup_clusters"](spark, sf_dir).collect()
    n_chars = {
        r["doc_id"]: r["n_chars"]
        for r in spark.table("documents").select("doc_id", "n_chars").collect()
    }
    size = Counter()
    removed_chars = Counter()
    for r in clusters:
        size[r["cluster_id"]] += 1
        if not r["is_representative"]:
            removed_chars[r["cluster_id"]] += n_chars[r["doc_id"]]
    by_size = defaultdict(lambda: [0, 0, 0])
    for cid, sz in size.items():
        b = by_size[sz]
        b[0] += 1
        b[1] += sz - 1
        b[2] += removed_chars[cid]
    expect = sorted((sz, *v) for sz, v in by_size.items())
    assert [
        (r["cluster_size"], r["n_clusters"], r["n_docs_removed"], r["chars_removed"])
        for r in out
    ] == expect


def test_q71_snapshot_diff_vs_python(spark, sf_dir):
    """The diff summary must equal a literal recomputation of the
    synthesized v2 against v1."""
    from ankaflow_spark.operators.relational import QUERIES

    out = {r["change"]: r for r in QUERIES["q71_snapshot_diff"](spark, sf_dir).collect()}
    v1 = {}
    for r in spark.table("orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    ).collect():
        v1[r["o_orderkey"]] = (float(r["o_totalprice"]), r["o_orderstatus"])
    v2 = {}
    for k, (p, s) in v1.items():
        if k % 97 != 0:
            v2[k] = (p * 1.1 if k % 89 == 0 else p, s)
        if k % 101 == 0:
            v2[-k] = (p, s)
    added = sorted(set(v2) - set(v1))
    removed = sorted(set(v1) - set(v2))
    changed = sorted(k for k in set(v1) & set(v2) if v1[k] != v2[k])
    for name, keys in (("added", added), ("removed", removed), ("changed", changed)):
        r = out[name]
        assert (r["n_rows"], r["min_key"], r["max_key"]) == (
            len(keys), keys[0], keys[-1],
        ), name
    assert set(out) == {"added", "removed", "changed"}


def test_ts31_cusum_vs_python(spark, sf_dir):
    """The changepoint must equal a literal CUSUM recomputation in the
    exact-integer scaled domain."""
    from collections import Counter, defaultdict

    from ankaflow_spark.operators.timeseries import QUERIES

    out = QUERIES["ts31_cusum_changepoint"](spark, sf_dir).collect()
    daily: Counter = Counter()
    for r in spark.table("events").select("event_type", "ts").collect():
        daily[(r["event_type"], r["ts"].date())] += 1
    by_type = defaultdict(dict)
    for (t, d), n in daily.items():
        by_type[t][d] = n
    expect = []
    for t in sorted(by_type):
        days = by_type[t]
        nd, tot = len(days), sum(days.values())
        c = 0
        best = None
        for d in sorted(days):
            c += days[d] * nd - tot
            key = (-abs(c), d)
            if best is None or key < best[0]:
                best = (key, d, days[d], c)
        expect.append((t, best[1], best[2], best[3], best[3] / nd))
    assert len(out) == len(expect)
    for r, (t, d, n, cs, cu) in zip(out, expect):
        assert (
            r["event_type"], r["changepoint_day"], r["n_events"],
            r["cusum_scaled"], r["cusum"],
        ) == (t, d, n, cs, cu)


def test_ts32_funnel_vs_python(spark, sf_dir):
    """Funnel step counts must equal a literal per-user first-completion
    chain walk."""
    from collections import defaultdict

    from ankaflow_spark.operators.timeseries import QUERIES

    out = QUERIES["ts32_funnel_conversion"](spark, sf_dir).collect()
    by_user = defaultdict(list)
    for r in spark.table("events").select("user_id", "event_type", "ts").collect():
        by_user[r["user_id"]].append((r["ts"], r["event_type"]))
    n1 = n2 = n3 = 0
    for evs in by_user.values():
        t1 = min((t for t, k in evs if k == "view"), default=None)
        if t1 is None:
            continue
        n1 += 1
        t2 = min((t for t, k in evs if k == "click" and t > t1), default=None)
        if t2 is None:
            continue
        n2 += 1
        if any(k == "purchase" and t > t2 for t, k in evs):
            n3 += 1
    assert [(r["step"], r["step_name"], r["users"]) for r in out] == [
        (1, "view", n1), (2, "click", n2), (3, "purchase", n3),
    ]
    assert out[0]["conv_from_prev"] == 1.0 and out[0]["conv_from_first"] == 1.0
    assert out[1]["conv_from_prev"] == (n2 / n1 if n1 else None)
    assert out[2]["conv_from_prev"] == (n3 / n2 if n2 else None)
    assert out[2]["conv_from_first"] == (n3 / n1 if n1 else None)


def test_ts33_dow_seasonality_vs_python(spark, sf_dir):
    """Seasonality indices must equal the literal observed-daily-rate
    ratio recomputed in exact integers."""
    from collections import Counter, defaultdict

    from ankaflow_spark.operators.timeseries import QUERIES

    out = QUERIES["ts33_dow_seasonality"](spark, sf_dir).collect()
    daily: Counter = Counter()
    for r in spark.table("events").select("event_type", "ts").collect():
        daily[(r["event_type"], r["ts"].date())] += 1
    per = defaultdict(lambda: [0, 0])  # (type, isodow) -> [events, days]
    tot = defaultdict(lambda: [0, 0])  # type -> [events, days]
    for (t, d), n in daily.items():
        dow = d.isoweekday()
        per[(t, dow)][0] += n
        per[(t, dow)][1] += 1
        tot[t][0] += n
        tot[t][1] += 1
    expect = {}
    for (t, dow), (ne, nd) in per.items():
        te, td = tot[t]
        expect[(t, dow)] = (ne, nd, (ne * td) / (nd * te), ne * td > nd * te)
    assert len(out) == len(expect)
    for r in out:
        e = expect[(r["event_type"], r["iso_dow"])]
        assert (r["n_events"], r["n_days"], r["seasonality_idx"], r["above_avg"]) == e


def test_q72_t_closeness_vs_python(spark, sf_dir):
    """Per-class scaled TVD must equal the literal sum over the full
    sensitive domain (absent values included)."""
    from collections import Counter

    from ankaflow_spark.operators.relational import QUERIES

    out = QUERIES["q72_t_closeness"](spark, sf_dir).collect()
    import math

    cell: Counter = Counter()
    for r in spark.table("customer").select(
        "c_nationkey", "c_acctbal", "c_mktsegment"
    ).collect():
        bucket = math.floor(r["c_acctbal"] / 1000)
        cell[(r["c_nationkey"], bucket, r["c_mktsegment"])] += 1
    segs = Counter()
    cls = Counter()
    for (nk, b, s), n in cell.items():
        segs[s] += n
        cls[(nk, b)] += n
    n_total = sum(segs.values())
    tvd = {}
    for (nk, b), n_class in cls.items():
        s_sum = sum(
            abs(cell.get((nk, b, s), 0) * n_total - segs[s] * n_class)
            for s in segs
        )
        tvd[(nk, b)] = (n_class, s_sum)
    ranked = sorted(
        ((v[1] / (2 * v[0] * n_total), nk, b) for (nk, b), v in tvd.items()),
        key=lambda x: (-x[0], x[1], x[2]),
    )[:20]
    assert len(out) == len(ranked)
    for r, (t, nk, b) in zip(out, ranked):
        n_class, s_sum = tvd[(nk, b)]
        assert (r["c_nationkey"], r["bal_bucket"]) == (nk, b)
        assert (r["class_size"], r["tvd_scaled"], r["tvd"]) == (n_class, s_sum, t)
        assert r["violates_t"] == (5 * s_sum > 2 * n_class * n_total)


def test_t27_gopher_rules_vs_python(spark, sf_dir):
    """Every rule verdict must equal a literal Python recompute of the
    integer cross-product comparisons."""
    import re

    from ankaflow_spark.operators.textops import QUERIES

    out = QUERIES["t27_gopher_rules"](spark, sf_dir).collect()
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.table("documents").select("doc_id", "text").collect()
    }
    stop = ("the", "be", "to", "of", "and", "that", "have", "with")
    assert len(out) == len(docs)
    for r in out:
        text = docs[r["doc_id"]]
        low = text.lower()
        words = re.findall(r"\S+", text)
        nw = len(words)
        nchars = len(text.replace(" ", ""))
        nalpha = len(re.findall(r"(^| )[^ ]*[a-z]", low))
        nsym = len(re.findall(r"#|\.\.\.", text))
        nuniq = len(set(low.split(" ")))
        nstop = sum(
            1 for w in stop if re.search(f"(^| ){w}( |$)", low)
        )
        rules = dict(
            r_word_count=50 <= nw <= 100000,
            r_mean_word_len=3 * nw <= nchars <= 10 * nw,
            r_alpha_words=5 * nalpha >= 4 * nw,
            r_symbol_ratio=10 * nsym <= nw,
            r_stopwords=nstop >= 2,
            r_repetition=5 * nuniq >= nw,
        )
        assert r["n_words"] == nw
        for k, v in rules.items():
            assert r[k] == v, (r["doc_id"], k)
        assert r["n_rules_failed"] == sum(not v for v in rules.values())
        assert r["passes_gopher"] == all(rules.values())


def test_t28_domain_caps_vs_python(spark, sf_dir):
    """Per-source audit must equal a literal quality-ranked top-K
    selection (score desc, doc_id tiebreak)."""
    from collections import defaultdict

    from ankaflow_spark.operators.textops import QUERIES, _DOMAIN_CAP

    out = QUERIES["t28_domain_caps"](spark, sf_dir).collect()
    scored = {
        r["doc_id"]: r["score"]
        for r in QUERIES["t03_quality_score"](spark, sf_dir).collect()
    }
    by_src = defaultdict(list)
    for r in spark.table("documents").select("doc_id", "source").collect():
        by_src[r["source"]].append(r["doc_id"])
    assert len(out) == len(by_src)
    for r in out:
        docs = by_src[r["source"]]
        kept = sorted(docs, key=lambda d: (-scored[d], d))[:_DOMAIN_CAP]
        assert r["n_docs"] == len(docs)
        assert r["n_kept"] == len(kept)
        assert r["n_dropped"] == len(docs) - len(kept)
        assert r["kept_id_digest"] == sum(kept)
        assert r["min_kept_score"] == min(scored[d] for d in kept)
        assert r["max_kept_score"] == max(scored[d] for d in kept)


def test_d24_threshold_sweep_vs_python(spark, sf_dir):
    """The sweep must be monotone non-increasing in the threshold and
    equal an integer-exact recount from the verified pair relation."""
    from ankaflow_spark.operators.dedup import (
        QUERIES, SPARK_CAND_CTES, _SWEEP_THRESHOLDS,
    )

    out = QUERIES["d24_lsh_threshold_sweep"](spark, sf_dir).collect()
    pairs = spark.sql(f"""
    WITH {SPARK_CAND_CTES},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    common AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cands c
      JOIN shingles sa ON sa.doc_id = c.doc_a
      JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT n_common, za.n + zb.n - n_common AS n_union
    FROM common
    JOIN sizes za ON za.doc_id = doc_a
    JOIN sizes zb ON zb.doc_id = doc_b
    """).collect()
    n_cands = spark.sql(
        f"WITH {SPARK_CAND_CTES} SELECT COUNT(*) AS n FROM cands"
    ).collect()[0]["n"]
    assert [r["threshold_pct"] for r in out] == list(_SWEEP_THRESHOLDS)
    prev = None
    for r in out:
        expect = sum(
            1 for p in pairs if 100 * p["n_common"] >= r["threshold_pct"] * p["n_union"]
        )
        assert r["n_pairs"] == expect
        assert r["n_cands"] == n_cands
        assert r["pair_share"] == expect / n_cands
        if prev is not None:
            assert r["n_pairs"] <= prev
        prev = r["n_pairs"]


def test_q73_psi_vs_python(spark, sf_dir):
    """Per-bin PSI must equal a literal smoothed recompute."""
    import math
    from collections import Counter

    from ankaflow_spark.operators.relational import QUERIES, _PSI_BIN_WIDTH

    out = QUERIES["q73_psi_drift"](spark, sf_dir).collect()
    cells = Counter()
    for r in spark.table("orders").select("o_orderdate", "o_totalprice").collect():
        snap = 1 if r["o_orderdate"].year >= 1998 else 0
        cells[(snap, math.floor(r["o_totalprice"] / _PSI_BIN_WIDTH))] += 1
    bins = sorted({b for _, b in cells})
    tb = sum(max(cells.get((0, b), 0), 1) for b in bins)
    tc = sum(max(cells.get((1, b), 0), 1) for b in bins)
    assert [r["bin"] for r in out] == bins
    for r in out:
        nb = max(cells.get((0, r["bin"]), 0), 1)
        nc = max(cells.get((1, r["bin"]), 0), 1)
        p, q = nb / tb, nc / tc
        psi = round((p - q) * math.log(p / q), 6)
        assert (r["n_base"], r["n_cur"]) == (nb, nc)
        assert r["psi_bin"] == psi
        assert r["major_shift"] == (psi > 0.02)


def test_ts34_repeat_gaps_vs_python(spark, sf_dir):
    """Gap histogram must equal a literal per-user consecutive-purchase
    walk in whole days."""
    from collections import Counter, defaultdict

    from ankaflow_spark.operators.timeseries import QUERIES

    out = QUERIES["ts34_repeat_purchase_gaps"](spark, sf_dir).collect()
    by_user = defaultdict(list)
    for r in spark.table("events").filter("event_type = 'purchase'").select(
        "user_id", "ts", "event_id"
    ).collect():
        by_user[r["user_id"]].append((r["ts"], r["event_id"]))
    gaps = Counter()
    users = defaultdict(set)
    total = 0
    for u, evs in by_user.items():
        evs.sort()
        for (a, _), (b, _) in zip(evs, evs[1:]):
            d = int((b - a).total_seconds() * 1e6 // 86400000000)
            gaps[d] += 1
            users[d].add(u)
            total += 1
    assert [r["gap_days"] for r in out] == sorted(gaps)
    for r in out:
        assert r["n_gaps"] == gaps[r["gap_days"]]
        assert r["n_users"] == len(users[r["gap_days"]])
        assert r["gap_share"] == gaps[r["gap_days"]] / total


def test_s19_embedding_stats_vs_python(spark, sf_dir):
    """Per-dim stats must equal an exact quantized recompute."""
    import math

    from ankaflow_spark.operators.similarity import QUERIES

    out = QUERIES["s19_embedding_stats"](spark, sf_dir).collect()
    vecs = [r["embedding"] for r in spark.table("embeddings").collect()]
    dim = len(vecs[0])
    assert len(out) == dim
    for r in out:
        qs = [math.floor(float(v[r["dim"] - 1]) * 10000) for v in vecs]
        n, s1, s2 = len(qs), sum(qs), sum(q * q for q in qs)
        assert r["n"] == n
        assert r["mean"] == s1 / (n * 10000.0)
        assert r["variance"] == (n * s2 - s1 * s1) / (float(n) * n * 1e8)
        assert r["min_val"] == min(qs) / 10000.0
        assert r["max_val"] == max(qs) / 10000.0
        assert r["low_variance"] == (n * s2 - s1 * s1 < n * n * 10000)


def test_t29_fertility_vs_python(spark, sf_dir):
    """Per-lang fertility must equal a literal regex recount."""
    import re
    from collections import defaultdict

    from ankaflow_spark.operators.textops import QUERIES, _BPE_REGEX

    out = QUERIES["t29_tokenizer_fertility"](spark, sf_dir).collect()
    agg = defaultdict(lambda: [0, 0, 0, 0])  # docs, bpe, words, chars
    for r in spark.table("documents").select("lang", "text").collect():
        a = agg[r["lang"]]
        a[0] += 1
        a[1] += len(re.findall(_BPE_REGEX, r["text"]))
        a[2] += len(re.findall(r"\S+", r["text"]))
        a[3] += len(r["text"])
    assert [r["lang"] for r in out] == sorted(agg)
    for r in out:
        d, b, w, c = agg[r["lang"]]
        assert (r["n_docs"], r["n_bpe_tokens"], r["n_words"], r["n_chars"]) == (d, b, w, c)
        assert r["fertility"] == b / w
        assert r["chars_per_token"] == c / b


def test_ts35_streaks_vs_python(spark, sf_dir):
    """Streak histogram must equal a literal gaps-and-islands walk."""
    from collections import Counter, defaultdict

    from ankaflow_spark.operators.timeseries import QUERIES

    out = QUERIES["ts35_activity_streaks"](spark, sf_dir).collect()
    days = defaultdict(set)
    for r in spark.table("events").select("user_id", "ts").collect():
        days[r["user_id"]].add(int(r["ts"].timestamp() * 1e6 // 86400000000))
    hist = Counter()
    for u, ds in days.items():
        best = run = 0
        prev = None
        for d in sorted(ds):
            run = run + 1 if prev is not None and d - prev == 1 else 1
            best = max(best, run)
            prev = d
        hist[best] += 1
    total = len(days)
    assert [r["streak_days"] for r in out] == sorted(hist)
    for r in out:
        assert r["n_users"] == hist[r["streak_days"]]
        assert r["user_share"] == hist[r["streak_days"]] / total


def test_q74_ri_audit_vs_python(spark, sf_dir):
    """Orphan counts must equal literal key-set membership checks."""
    from ankaflow_spark.operators.relational import QUERIES, _RI_EDGES

    out = {r["relation"]: r for r in QUERIES["q74_referential_integrity"](spark, sf_dir).collect()}
    assert sorted(out) == sorted(label for label, *_ in _RI_EDGES)
    for label, child, fk, parent, pk in _RI_EDGES:
        pks = {r[0] for r in spark.table(parent).select(pk).collect()}
        fks = [r[0] for r in spark.table(child).select(fk).collect()]
        orphans = sum(1 for v in fks if v is not None and v not in pks)
        nulls = sum(1 for v in fks if v is None)
        r = out[label]
        assert (r["n_child"], r["n_orphans"], r["n_null_fk"]) == (len(fks), orphans, nulls)
        assert r["orphan_share"] == orphans / len(fks)
        assert r["ri_ok"] == (orphans == 0)


def test_t30_langid_confusion_vs_python(spark, sf_dir):
    """Confusion cells must equal a literal regex-argmax recount."""
    import re
    from collections import Counter

    from ankaflow_spark.operators.textops import QUERIES, _LANG_WORDS, _lang_score

    out = QUERIES["t30_langid_confusion"](spark, sf_dir).collect()
    pats = {lg: re.compile(_lang_score(lg, lambda p: p)) for lg in _LANG_WORDS}
    conf = Counter()
    for r in spark.table("documents").select("lang", "text").collect():
        scores = {lg: len(pats[lg].findall(r["text"].lower())) for lg in _LANG_WORDS}
        best = max(scores.values())
        # CASE GREATEST(...) WHEN ... picks the FIRST list-order max
        pred = next(lg for lg in _LANG_WORDS if scores[lg] == best)
        conf[(r["lang"], pred)] += 1
    totals = Counter()
    for (lab, _), n in conf.items():
        totals[lab] += n
    assert [(r["labeled_lang"], r["predicted_lang"]) for r in out] == sorted(conf)
    for r in out:
        k = (r["labeled_lang"], r["predicted_lang"])
        assert r["n_docs"] == conf[k]
        assert r["label_share"] == conf[k] / totals[k[0]]
        assert r["is_correct"] == (k[0] == k[1])


def test_s20_probe_sweep_invariants(spark, sf_dir):
    """The sweep must be monotone in probes and exact at full probing."""
    from ankaflow_spark.operators.similarity import QUERIES, _SWEEP_PROBES, IVF_K

    out = QUERIES["s20_ivf_probe_sweep"](spark, sf_dir).collect()
    assert [r["probe"] for r in out] == list(_SWEEP_PROBES)
    n_vecs = spark.table("embeddings").count()
    for a, b in zip(out, out[1:]):
        assert a["n_candidates"] <= b["n_candidates"]
        assert a["recall_at_5"] <= b["recall_at_5"]
    full = out[-1]
    # probing all K cells IS brute force: candidates = corpus minus self
    assert _SWEEP_PROBES[-1] == IVF_K
    assert full["n_candidates"] == 5 * (n_vecs - 1)
    assert full["recall_at_5"] == 1.0
    for r in out:
        assert r["recall_at_5"] == r["n_matched"] / 25.0


def test_ts36_backtest_vs_python(spark, sf_dir):
    """Backtest errors must equal a literal per-type lag walk."""
    from collections import defaultdict

    from ankaflow_spark.operators.timeseries import QUERIES

    out = QUERIES["ts36_forecast_backtest"](spark, sf_dir).collect()
    daily = defaultdict(dict)
    for r in (
        spark.table("events")
        .selectExpr("event_type", "CAST(ts AS DATE) AS day")
        .groupBy("event_type", "day")
        .count()
        .collect()
    ):
        daily[r["event_type"]][r["day"]] = r["count"]
    for row in out:
        series = [n for _, n in sorted(daily[row["event_type"]].items())]
        scored = [
            (abs(series[i] - series[i - 1]), abs(series[i] - series[i - 7]))
            for i in range(7, len(series))
        ]
        sae_n = sum(a for a, _ in scored)
        sae_s = sum(b for _, b in scored)
        assert row["n_days_scored"] == len(scored)
        assert (row["sae_naive"], row["sae_seasonal"]) == (sae_n, sae_s)
        assert row["mae_naive"] == sae_n / len(scored)
        assert row["mae_seasonal"] == sae_s / len(scored)
        assert row["seasonal_wins"] == (sae_s < sae_n)


def test_s21_sq_sweep_vs_numpy(spark, sf_dir):
    """Corpus means must equal a literal numpy quantize-dequantize at
    every bit width, and fidelity must be monotone in bits."""
    import math

    import numpy as np

    from ankaflow_spark.operators.similarity import QUERIES, _SQ_BITS

    out = QUERIES["s21_sq_bits_sweep"](spark, sf_dir).collect()
    assert [r["bits"] for r in out] == list(_SQ_BITS)
    vecs = np.array(
        [r["embedding"] for r in spark.table("embeddings").collect()], dtype=np.float64
    )
    dim = vecs.shape[1]
    for row in out:
        levels = 2 ** (row["bits"] - 1) - 1
        assert row["levels"] == levels
        scale = levels / np.maximum(np.abs(vecs).max(axis=1), 1e-30)
        rec = np.floor(vecs * scale[:, None] + 0.5) / scale[:, None]
        mse = ((vecs - rec) ** 2).sum(axis=1) / dim
        cos = (vecs * rec).sum(axis=1) / (
            np.sqrt((vecs**2).sum(axis=1)) * np.sqrt((rec**2).sum(axis=1))
        )
        # mirror the engine's e9 floor-quantized integer accumulation
        mse_e9 = sum(math.floor(v * 1e9) for v in mse.tolist())
        cos_e9 = sum(math.floor(v * 1e9) for v in cos.tolist())
        n = len(vecs)
        assert row["n_vecs"] == n
        assert abs(row["mean_mse"] - mse_e9 / (n * 1e9)) < 1e-12
        assert abs(row["mean_cos_fidelity"] - cos_e9 / (n * 1e9)) < 1e-12
        assert row["compression_x"] == 32.0 / row["bits"]
    for a, b in zip(out, out[1:]):
        assert a["mean_cos_fidelity"] <= b["mean_cos_fidelity"]
        assert a["mean_mse"] >= b["mean_mse"]


def test_m09_silence_trim_vs_python(spark):
    """Trim offsets must equal a literal byte-domain energy walk."""
    import hashlib

    from ankaflow_spark.operators.streamq import QUERIES, _M09_ENERGY_T

    out = QUERIES["m09_silence_trim"](spark, "/root/testdata/sf0.001").collect()
    rows = {}
    for i in range(120):
        if i % 3 != 1:
            continue
        payload = hashlib.md5(str(i).encode()).digest() * (4 + i % 5)
        n_frames = (len(payload) - 32) // 16 + 1
        energies = []
        for f in range(n_frames):
            win = payload[f * 16 : f * 16 + 32]
            energies.append(sum((b - 128) ** 2 for b in win))
        active = [f for f, e in enumerate(energies) if e >= _M09_ENERGY_T]
        if active:
            lead, tail = active[0], n_frames - 1 - active[-1]
            kept = active[-1] - active[0] + 1
        else:
            lead, tail, kept = n_frames, 0, 0
        rows[i] = (n_frames, lead, tail, kept, kept / n_frames)
    assert sorted(rows) == [r["media_id"] for r in out]
    for r in out:
        exp = rows[r["media_id"]]
        got = (r["n_frames"], r["lead_trim"], r["tail_trim"], r["kept_frames"], r["active_share"])
        assert got == exp


def test_s22_cell_balance_vs_assignment(spark, sf_dir):
    """Cell counts must equal a recount of the materialized assignment
    and the share/verdict algebra must hold exactly."""
    from ankaflow_spark.operators.similarity import IVF_K, QUERIES

    out = QUERIES["s22_ivf_cell_balance"](spark, sf_dir).collect()
    assign = {
        r["cid"]: r["n"]
        for r in spark.table("__s22_assign__").groupBy("cid").count()
        .withColumnRenamed("count", "n").collect()
    }
    total = sum(assign.values())
    assert total == spark.table("embeddings").count()
    assert [r["cell_id"] for r in out] == sorted(assign)
    for r in out:
        n = assign[r["cell_id"]]
        assert r["n_vecs"] == n
        assert r["cell_share"] == n / total
        assert r["hot_cell"] == (n * IVF_K > 2 * total)
        assert r["cold_cell"] == (n * IVF_K * 2 < total)


def test_d25_dedup_bias_vs_python(spark, sf_dir):
    """Source-composition drift must equal a literal survivor walk
    under d01's content-key rule."""
    import hashlib
    from collections import Counter

    from ankaflow_spark.operators.dedup import QUERIES

    out = QUERIES["d25_dedup_bias_audit"](spark, sf_dir).collect()
    docs = spark.table("documents").select("doc_id", "source", "text").collect()
    keep = {}
    for r in docs:
        k = hashlib.md5(
            " ".join(sorted(set(r["text"].lower().split(" ")))).encode()
        ).hexdigest()
        if k not in keep or r["doc_id"] < keep[k]:
            keep[k] = r["doc_id"]
    survivors = set(keep.values())
    before = Counter(r["source"] for r in docs)
    after = Counter(r["source"] for r in docs if r["doc_id"] in survivors)
    tb, ta = sum(before.values()), sum(after.values())
    assert [r["source"] for r in out] == sorted(before)
    for r in out:
        nb, na = before[r["source"]], after.get(r["source"], 0)
        assert (r["n_before"], r["n_after"]) == (nb, na)
        assert r["share_before"] == nb / tb
        assert r["share_after"] == na / ta
        assert r["share_drift"] == na / ta - nb / tb
        assert r["over_pruned"] == (100 * na * tb < 99 * nb * ta)


def test_q75_cell_suppression_vs_python(spark, sf_dir):
    """Suppression must null exactly the cells under k and keep the
    rest verbatim."""
    from collections import Counter

    from ankaflow_spark.operators.relational import QUERIES, _SUPPRESS_K

    out = QUERIES["q75_cell_suppression"](spark, sf_dir).collect()
    nations = {
        r["n_nationkey"]: r["n_name"] for r in spark.table("nation").collect()
    }
    cells = Counter(
        (r["c_mktsegment"], nations[r["c_nationkey"]])
        for r in spark.table("customer").collect()
    )
    assert [(r["segment"], r["nation"]) for r in out] == sorted(cells)
    any_suppressed = False
    for r in out:
        n = cells[(r["segment"], r["nation"])]
        assert r["suppressed"] == (n < _SUPPRESS_K)
        assert r["n_customers"] == (n if n >= _SUPPRESS_K else None)
        any_suppressed |= r["suppressed"]
    assert any_suppressed  # the threshold must bite at this SF


def test_ts37_survival_vs_python(spark, sf_dir):
    """The actuarial table must equal a literal sessionize-and-count
    walk (30-min gap islands, right-censored at the corpus edge)."""
    from collections import defaultdict

    from ankaflow_spark.operators.timeseries import QUERIES, SESSION_GAP_MIN

    gap_us = SESSION_GAP_MIN * 60 * 1000000
    out = QUERIES["ts37_survival_curve"](spark, sf_dir).collect()
    by_user = defaultdict(list)
    for r in spark.table("events").select("user_id", "ts").collect():
        by_user[r["user_id"]].append(int(r["ts"].timestamp() * 1e6))
    sessions = []  # (dur_min, end_us)
    for times in by_user.values():
        times.sort()
        start = prev = times[0]
        for t in times[1:]:
            if t - prev > gap_us:
                sessions.append(((prev - start) // 60000000, prev))
                start = t
            prev = t
        sessions.append(((prev - start) // 60000000, prev))
    edge = max(e for _, e in sessions)
    ended = [(d, edge - e > gap_us) for d, e in sessions]
    times_tbl = defaultdict(lambda: [0, 0])
    for d, is_ended in ended:
        times_tbl[d][0 if is_ended else 1] += 1
    n_sessions, n_ended = len(ended), sum(1 for _, x in ended if x)
    assert [r["t_min"] for r in out] == sorted(times_tbl)
    gone = cum = 0
    for r in out:
        e, c = times_tbl[r["t_min"]]
        assert (r["n_ended_at"], r["n_censored_at"]) == (e, c)
        assert r["n_at_risk"] == n_sessions - gone
        assert r["hazard"] == e / (n_sessions - gone)
        cum += e
        assert r["ended_surv_share"] == (n_ended - cum) / n_ended
        gone += e + c


def test_ts38_decay_vs_python(spark, sf_dir):
    """The decayed leaderboard must equal a literal weekly-halving
    recount (integer-scaled, one final division)."""
    from collections import Counter

    from ankaflow_spark.operators.timeseries import _WEEK_US, QUERIES

    out = QUERIES["ts38_decayed_leaderboard"](spark, sf_dir).collect()
    weekly = Counter()
    for r in spark.table("events").select("user_id", "ts").collect():
        weekly[(r["user_id"], int(r["ts"].timestamp() * 1e6) // _WEEK_US)] += 1
    w0 = min(w for _, w in weekly)
    w1 = max(w for _, w in weekly)
    scaled = Counter()
    raw = Counter()
    for (u, w), n in weekly.items():
        scaled[u] += n << (w - w0)
        raw[u] += n
    top = sorted(scaled, key=lambda u: (-scaled[u], u))[:10]
    assert [r["user_id"] for r in out] == top
    for rn, r in enumerate(out, 1):
        assert r["raw_n"] == raw[r["user_id"]]
        assert r["decayed_n"] == scaled[r["user_id"]] / (1 << (w1 - w0))
        assert r["rn"] == rn


def test_q76_mv_merge_vs_python(spark, sf_dir):
    """Merged base+delta partials must equal the full recompute for
    every group, and the split accounting must add up."""
    from collections import defaultdict
    from datetime import datetime
    from decimal import Decimal

    from ankaflow_spark.operators.relational import _MV_SPLIT, QUERIES

    out = QUERIES["q76_mv_maintenance"](spark, sf_dir).collect()
    split = datetime.fromisoformat(_MV_SPLIT)
    groups = defaultdict(lambda: [0, 0, Decimal(0)])  # n_base, n_delta, revenue
    for r in spark.table("orders").select(
        "o_orderdate", "o_orderpriority", "o_totalprice"
    ).collect():
        d = r["o_orderdate"]
        g = groups[(datetime(d.year, d.month, 1).date(), r["o_orderpriority"])]
        g[0 if d < split else 1] += 1
        g[2] += Decimal(repr(r["o_totalprice"])).quantize(Decimal("0.000001"))
    assert len(out) == len(groups)
    for r in out:
        nb, nd, rev = groups[(r["mon"], r["priority"])]
        assert (r["n_base"], r["n_delta"], r["n_orders"]) == (nb, nd, nb + nd)
        assert r["revenue"] == float(rev)
        assert r["matches_full"] is True


def test_d26_bbit_estimates_vs_python(spark, sf_dir):
    """b-bit estimates must equal a literal md5-window minhash recount
    with the Li-Koenig correction at b=1 and b=2."""
    import hashlib as hl
    from collections import defaultdict

    from ankaflow_spark.operators.dedup import MINHASH_K, QUERIES

    out = QUERIES["d26_bbit_minhash"](spark, sf_dir).collect()
    assert out, "candidate pairs expected"
    shingles = defaultdict(set)
    for r in spark.table("documents").select("doc_id", "text").collect():
        words = r["text"].split(" ")
        shs = (
            {" ".join(words[i : i + 3]) for i in range(len(words) - 2)}
            if len(words) >= 3
            else {" ".join(words)}
        )
        shingles[r["doc_id"]] = shs
    sigs = {
        doc: [
            min(int(hl.md5(s.encode()).hexdigest()[k : k + 14], 16) for s in shs)
            for k in range(MINHASH_K)
        ]
        for doc, shs in shingles.items()
    }
    for r in out:
        sa, sb = sigs[r["doc_a"]], sigs[r["doc_b"]]
        m = sum(1 for x, y in zip(sa, sb) if x == y)
        m2 = sum(1 for x, y in zip(sa, sb) if x % 4 == y % 4)
        m1 = sum(1 for x, y in zip(sa, sb) if x % 2 == y % 2)
        assert (r["full_matches"], r["b2_matches"], r["b1_matches"]) == (m, m2, m1)
        A, B = shingles[r["doc_a"]], shingles[r["doc_b"]]
        true_j = len(A & B) / len(A | B)
        assert r["exact_jaccard"] == true_j
        assert r["est_full"] == m / MINHASH_K
        assert r["est_b2"] == (4 * m2 - MINHASH_K) / (3 * MINHASH_K)
        assert r["est_b1"] == (2 * m1 - MINHASH_K) / MINHASH_K
        errs = {
            "full": abs(r["est_full"] - true_j),
            "2bit": abs(r["est_b2"] - true_j),
            "1bit": abs(r["est_b1"] - true_j),
        }
        # verdict order-of-preference on ties: full, then 2bit
        best = min(("full", "2bit", "1bit"), key=lambda k: (errs[k]))
        assert errs[r["best_estimator"]] <= errs[best] + 1e-12


def test_s23_hubness_vs_python(spark, sf_dir):
    """The in-degree histogram must equal a literal bucket + sequential-
    fold cosine kNN recount over every vector — including the
    occupancy-adaptive plane count (smallest p in [4, 30] with
    2^p * HUB_TARGET_OCC >= N, the r7-verdict fix)."""
    from collections import Counter, defaultdict

    import numpy as np

    from ankaflow_spark.operators.similarity import DIM, HUB_K, HUB_TARGET_OCC, QUERIES

    out = QUERIES["s23_hubness_audit"](spark, sf_dir).collect()
    rows = spark.table("embeddings").select("vec_id", "embedding").collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    n_planes = min(p for p in range(4, 31) if (1 << p) * HUB_TARGET_OCC >= len(vecs))

    def bucket(vid):
        b = 0
        for pl in range(n_planes):
            s = 0.0
            for i in range(DIM):
                s += vecs[vid][i] * (((pl * 37 + i * 17) % 13) - 6)
            if s >= 0:
                b |= 1 << pl
        return b

    buckets = defaultdict(list)
    for vid in vecs:
        buckets[bucket(vid)].append(vid)

    def fold_dot(a, b):
        s = 0.0
        for i in range(DIM):
            s += a[i] * b[i]
        return s

    norms = {vid: fold_dot(v, v) for vid, v in vecs.items()}
    indeg = Counter({vid: 0 for vid in vecs})
    for members in buckets.values():
        for q in members:
            cands = [c for c in members if c != q]
            sims = sorted(
                (
                    (
                        -(fold_dot(vecs[q], vecs[c]) / (norms[q] ** 0.5 * norms[c] ** 0.5)),
                        c,
                    )
                    for c in cands
                ),
            )[:HUB_K]
            for _, c in sims:
                indeg[c] += 1
    hist = Counter(indeg.values())
    total = len(vecs)
    assert [r["in_degree"] for r in out] == sorted(hist)
    for r in out:
        assert r["n_vecs"] == hist[r["in_degree"]]
        assert r["vec_share"] == hist[r["in_degree"]] / total
        assert r["is_hub_degree"] == (r["in_degree"] >= 2 * HUB_K)
        assert r["is_antihub"] == (r["in_degree"] == 0)


def test_t31_source_overlap_vs_python(spark, sf_dir):
    """Containment cells must equal literal per-source shingle-set
    intersections."""
    from collections import defaultdict

    from ankaflow_spark.operators.textops import QUERIES

    out = QUERIES["t31_source_overlap"](spark, sf_dir).collect()
    src_sh = defaultdict(set)
    for r in spark.table("documents").select("source", "text").collect():
        words = r["text"].split(" ")
        shs = (
            {" ".join(words[i : i + 3]) for i in range(len(words) - 2)}
            if len(words) >= 3
            else {" ".join(words)}
        )
        src_sh[r["source"]] |= shs
    srcs = sorted(src_sh)
    assert [(r["src_a"], r["src_b"]) for r in out] == [
        (a, b) for a in srcs for b in srcs if a != b
    ]
    for r in out:
        A, B = src_sh[r["src_a"]], src_sh[r["src_b"]]
        common = len(A & B)
        assert (r["n_a"], r["n_b"], r["n_common"]) == (len(A), len(B), common)
        assert r["containment_a_in_b"] == common / len(A)
        assert r["near_subset"] == (common * 10 >= len(A) * 9)


def test_q77_partition_planner_vs_python(spark, sf_dir):
    """Partition stats and the file plan must equal a literal
    fixed-width + strlen recount."""
    from collections import defaultdict
    from datetime import date

    from ankaflow_spark.operators.relational import (
        _ORDERS_FIXED_ROW_BYTES,
        _SMALL_FILE_BYTES,
        _TARGET_FILE_BYTES,
        QUERIES,
    )

    out = QUERIES["q77_partition_planner"](spark, sf_dir).collect()
    parts = defaultdict(lambda: [0, 0])
    for r in spark.table("orders").select(
        "o_orderdate", "o_orderstatus", "o_orderpriority"
    ).collect():
        d = r["o_orderdate"]
        g = parts[date(d.year, d.month, 1)]
        g[0] += 1
        g[1] += (
            _ORDERS_FIXED_ROW_BYTES
            + len(r["o_orderstatus"].encode())
            + len(r["o_orderpriority"].encode())
        )
    total = sum(b for _, b in parts.values())
    assert [r["mon"] for r in out] == sorted(parts)
    for r in out:
        n, b = parts[r["mon"]]
        assert (r["n_rows"], r["est_bytes"]) == (n, b)
        assert r["target_files"] == (b + _TARGET_FILE_BYTES - 1) // _TARGET_FILE_BYTES
        assert r["small_file"] == (b < _SMALL_FILE_BYTES)
        assert r["bytes_share"] == b / total


def test_m10_aspect_buckets_vs_python(spark, sf_dir):
    """Bucket counts must equal a literal nearest-anchor argmin over
    the synthesized dims (exact cross-multiplied distances)."""
    from collections import Counter

    from ankaflow_spark.operators.streamq import QUERIES

    out = QUERIES["m10_aspect_buckets"](spark, sf_dir).collect()
    anchors = [
        ("1:1", 1, 1, 512, 512),
        ("4:3", 4, 3, 512, 384),
        ("3:4", 3, 4, 384, 512),
        ("16:9", 16, 9, 512, 288),
        ("9:16", 9, 16, 288, 512),
    ]
    hist = Counter()
    for i in range(120):
        w, h = 160 + (i * 37) % 480, 120 + (i * 53) % 600
        best = min(anchors, key=lambda a: (abs(w * a[2] - a[1] * h) * (144 // a[2]), a[0]))
        hist[best[0]] += 1
    targets = {a[0]: (a[3], a[4]) for a in anchors}
    assert [r["bucket"] for r in out] == sorted(b for b in hist if hist[b] > 0)
    for r in out:
        assert (r["target_w"], r["target_h"]) == targets[r["bucket"]]
        assert r["n_images"] == hist[r["bucket"]]
        assert r["img_share"] == hist[r["bucket"]] / 120


def test_t32_temperature_mix_vs_python(spark, sf_dir):
    """Mix weights/epochs must equal a literal sqrt-temperature
    recount with e6 quantization."""
    import math
    from collections import Counter

    from ankaflow_spark.operators.textops import _T32_EPOCH_KNEE, QUERIES, T32_BUDGET

    out = QUERIES["t32_temperature_mix"](spark, sf_dir).collect()
    toks, docs = Counter(), Counter()
    for r in spark.table("documents").select("source", "text").collect():
        toks[r["source"]] += len(r["text"].split())
        docs[r["source"]] += 1
    s_e6 = {s: int(math.floor(math.sqrt(t) * 1000000.0)) for s, t in toks.items()}
    s_total = sum(s_e6.values())
    assert [r["source"] for r in out] == sorted(toks)
    for r in out:
        s = r["source"]
        assert (r["n_docs"], r["n_tokens"]) == (docs[s], toks[s])
        assert r["mix_weight"] == s_e6[s] / s_total
        assert r["expected_tokens"] == (T32_BUDGET * s_e6[s]) // s_total
        assert r["epochs"] == (T32_BUDGET * s_e6[s]) / (s_total * toks[s])
        assert r["overfit_risk"] == (
            T32_BUDGET * s_e6[s] > _T32_EPOCH_KNEE * s_total * toks[s]
        )


def test_ts39_attribution_vs_python(spark, sf_dir):
    """Per-day attribution must equal a literal touch walk, and the
    attributed total must reconcile exactly with touched purchases."""
    from collections import Counter, defaultdict

    from ankaflow_spark.operators.timeseries import _ATTR_WINDOW_US, QUERIES

    out = QUERIES["ts39_linear_attribution"](spark, sf_dir).collect()
    purchases, clicks = [], defaultdict(list)
    for r in spark.table("events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    ).collect():
        us = int(r["ts"].timestamp() * 1e6)
        if r["event_type"] == "purchase":
            purchases.append((r["user_id"], r["event_id"], us, r["value"]))
        elif r["event_type"] == "click":
            clicks[r["user_id"]].append((us, r["event_id"]))
    day_touch, day_e6 = Counter(), Counter()
    touched_total = 0
    for user, _pid, pts, value in purchases:
        touches = sorted(
            (c_us, cid)
            for c_us, cid in clicks.get(user, [])
            if 0 < pts - c_us <= _ATTR_WINDOW_US
        )
        if not touches:
            continue
        v_e6 = int(value * 1000000.0 + 0.5)
        touched_total += v_e6
        n = len(touches)
        for i, (c_us, _cid) in enumerate(touches):
            day = c_us // 86400000000
            day_touch[day] += 1
            day_e6[day] += v_e6 // n + (v_e6 % n if i == 0 else 0)
    assert [r["click_day"] for r in out] == sorted(day_touch)
    for r in out:
        assert r["n_touches"] == day_touch[r["click_day"]]
        assert r["attributed_e6"] == day_e6[r["click_day"]]
        assert r["attributed_value"] == day_e6[r["click_day"]] / 1000000.0
    assert sum(r["attributed_e6"] for r in out) == touched_total


def test_s24_plane_sweep_vs_python(spark, sf_dir):
    """Occupancy/cost cells must equal a literal masked-bucket recount;
    recall must be monotone non-increasing in the plane count (coarser
    buckets are candidate supersets ranked by the same exact cosine)."""
    from collections import Counter

    from ankaflow_spark.operators.similarity import (
        _S24_MAXP,
        _SWEEP_PLANES,
        DIM,
        N_QUERY_VECS,
        QUERIES,
    )

    out = QUERIES["s24_lsh_plane_sweep"](spark, sf_dir).collect()
    assert [r["n_planes"] for r in out] == list(_SWEEP_PLANES)
    rows = spark.table("embeddings").select("vec_id", "embedding").collect()
    vecs = {r["vec_id"]: r["embedding"] for r in rows}

    def sig(v):
        b = 0
        for pl in range(_S24_MAXP):
            s = 0.0
            for i in range(DIM):
                s += float(v[i]) * (((pl * 37 + i * 17) % 13) - 6)
            if s >= 0:
                b |= 1 << pl
        return b

    sigs = {vid: sig(v) for vid, v in vecs.items()}
    n = len(vecs)
    for r in out:
        p = r["n_planes"]
        occ = Counter(s % (1 << p) for s in sigs.values())
        assert r["n_buckets"] == len(occ)
        assert r["max_occupancy"] == max(occ.values())
        cand_total = sum(c * (c - 1) for c in occ.values())
        assert r["mean_cands_per_query"] == cand_total / n
        assert r["n_matched"] == round(r["recall_at_5"] * 5 * N_QUERY_VECS)
        assert 0 <= r["recall_at_5"] <= 1
    for a, b in zip(out, out[1:]):
        assert a["recall_at_5"] >= b["recall_at_5"]
        assert a["mean_cands_per_query"] >= b["mean_cands_per_query"]
        assert a["n_buckets"] <= b["n_buckets"]
        assert a["max_occupancy"] >= b["max_occupancy"]


def test_d27_transitivity_vs_python(spark, sf_dir):
    """Wedge classes must equal a literal verified-graph enumeration."""
    from collections import Counter, defaultdict

    from ankaflow_spark.operators.dedup import QUERIES

    out = QUERIES["d27_transitivity_audit"](spark, sf_dir).collect()
    cands = {
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["d02_minhash_lsh_pairs"](spark, sf_dir).collect()
    }
    shingles = defaultdict(set)
    for r in spark.table("documents").select("doc_id", "text").collect():
        words = r["text"].split(" ")
        shingles[r["doc_id"]] = (
            {" ".join(words[i : i + 3]) for i in range(len(words) - 2)}
            if len(words) >= 3
            else {" ".join(words)}
        )
    verified = {
        (a, b)
        for a, b in cands
        if 5 * len(shingles[a] & shingles[b]) >= len(shingles[a] | shingles[b])
    }
    adj = defaultdict(set)
    for a, b in verified:
        adj[a].add(b)
        adj[b].add(a)
    cls = Counter()
    for m, nbrs in adj.items():
        ns = sorted(nbrs)
        for i, a in enumerate(ns):
            for c in ns[i + 1 :]:
                if (a, c) in verified:
                    cls["closed"] += 1
                elif (a, c) in cands:
                    cls["open_below_threshold"] += 1
                else:
                    cls["open_not_candidate"] += 1
    total = sum(cls.values())
    assert [r["wedge_class"] for r in out] == sorted(k for k in cls if cls[k] > 0)
    for r in out:
        assert r["n_wedges"] == cls[r["wedge_class"]]
        assert r["wedge_share"] == cls[r["wedge_class"]] / total
        assert r["is_transitive"] == (r["wedge_class"] == "closed")


def test_ts40_concurrency_vs_python(spark, sf_dir):
    """Per-day peaks must equal a literal sessionize + minute-sweep."""
    from collections import Counter, defaultdict

    from ankaflow_spark.operators.timeseries import QUERIES, SESSION_GAP_MIN

    gap_us = SESSION_GAP_MIN * 60 * 1000000
    day_us = 86400 * 1000000
    out = QUERIES["ts40_peak_concurrency"](spark, sf_dir).collect()
    by_user = defaultdict(list)
    for r in spark.table("events").select("user_id", "ts").collect():
        by_user[r["user_id"]].append(int(r["ts"].timestamp() * 1e6))
    spans = []
    for times in by_user.values():
        times.sort()
        start = prev = times[0]
        for t in times[1:]:
            if t - prev > gap_us:
                spans.append((start, prev))
                start = t
            prev = t
        spans.append((start, prev))
    deltas = defaultdict(Counter)
    n_spans = Counter()
    for a, b in spans:
        for day in range(a // day_us, b // day_us + 1):
            ca, cb = max(a, day * day_us), min(b, (day + 1) * day_us - 1)
            n_spans[day] += 1
            deltas[day][(ca - day * day_us) // 60000000] += 1
            deltas[day][(cb - day * day_us) // 60000000 + 1] -= 1
    assert [r["day"] for r in out] == sorted(deltas)
    for r in out:
        acc, best, best_min = 0, None, None
        for m in sorted(deltas[r["day"]]):
            acc += deltas[r["day"]][m]
            if best is None or acc > best:
                best, best_min = acc, m
        assert (r["peak_concurrent"], r["peak_minute"]) == (best, best_min)
        assert r["n_session_spans"] == n_spans[r["day"]]


def test_m11_shot_lengths_vs_python(spark, sf_dir):
    """The shot histogram must equal a literal island walk over m06's
    cut rows."""
    from collections import Counter, defaultdict

    from ankaflow_spark.operators.streamq import QUERIES

    out = QUERIES["m11_shot_lengths"](spark, sf_dir).collect()
    cuts = defaultdict(list)
    for r in QUERIES["m06_scene_cuts"](spark, sf_dir).collect():
        cuts[r["media_id"]].append((r["frame_no"], r["is_cut"]))
    hist, vids = Counter(), defaultdict(set)
    for mid, frames in cuts.items():
        shot_sizes = Counter()
        sid = 0
        for _no, is_cut in sorted(frames):
            if is_cut:
                sid += 1
            shot_sizes[sid] += 1
        for n in shot_sizes.values():
            hist[n] += 1
            vids[n].add(mid)
    total = sum(hist.values())
    assert [r["shot_len"] for r in out] == sorted(hist)
    for r in out:
        assert r["n_shots"] == hist[r["shot_len"]]
        assert r["n_videos"] == len(vids[r["shot_len"]])
        assert r["shot_share"] == hist[r["shot_len"]] / total


def test_s25_stale_recall_invariants(spark, sf_dir):
    """Both cohorts must report 5 probes with consistent, bounded
    recall, deterministically across runs."""
    from ankaflow_spark.operators.similarity import QUERIES

    out = QUERIES["s25_stale_index_recall"](spark, sf_dir).collect()
    assert [r["cohort"] for r in out] == ["arrival", "build"]
    for r in out:
        assert r["n_queries"] == 5
        assert 0 <= r["n_matched"] <= 25
        assert r["recall_at_5"] == r["n_matched"] / 25.0
    again = QUERIES["s25_stale_index_recall"](spark, sf_dir).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in out]


def test_t33_pii_audit_vs_python(spark, sf_dir):
    """Prevalence cells must equal the planting moduli exactly (the
    base word-stream corpus contains no accidental PII matches)."""
    from collections import Counter

    from ankaflow_spark.operators.textops import QUERIES

    out = QUERIES["t33_pii_audit"](spark, sf_dir).collect()
    docs = Counter()
    em, ip, ph, clean = Counter(), Counter(), Counter(), Counter()
    for r in spark.table("documents").select("doc_id", "source").collect():
        s, d = r["source"], r["doc_id"]
        docs[s] += 1
        e, i, p = d % 3 == 0, d % 5 == 0, d % 7 == 0
        em[s] += e
        ip[s] += i
        ph[s] += p
        clean[s] += not (e or i or p)
    assert [r["source"] for r in out] == sorted(docs)
    for r in out:
        s = r["source"]
        assert (r["n_docs"], r["n_email_docs"], r["n_ip_docs"], r["n_phone_docs"]) == (
            docs[s], em[s], ip[s], ph[s],
        )
        assert r["n_clean_docs"] == clean[s]
        assert r["pii_doc_share"] == (docs[s] - clean[s]) / docs[s]


def test_ts41_burstiness_vs_python(spark, sf_dir):
    """Dispersion stats must equal a literal daily-count recount in the
    same arithmetic order."""
    from collections import defaultdict

    from ankaflow_spark.operators.timeseries import QUERIES

    out = QUERIES["ts41_burstiness"](spark, sf_dir).collect()
    daily = defaultdict(lambda: defaultdict(int))
    for r in spark.table("events").selectExpr(
        "event_type", "CAST(ts AS DATE) AS day"
    ).collect():
        daily[r["event_type"]][r["day"]] += 1
    assert [r["event_type"] for r in out] == sorted(daily)
    for r in out:
        xs = list(daily[r["event_type"]].values())
        n, s, sq = len(xs), sum(xs), sum(x * x for x in xs)
        mean = s / n
        var = (n * sq - s * s) / (float(n) * (n - 1))
        assert (r["n_days"], r["mean_daily"]) == (n, mean)
        assert r["var_daily"] == var
        assert r["fano"] == var / mean
        assert r["burstiness"] == (var**0.5 - mean) / (var**0.5 + mean)
        assert r["overdispersed"] == (n * sq - s * s > s * (n - 1))


def test_ts42_stickiness_vs_python(spark, sf_dir):
    """DAU/WAU must equal a literal per-day distinct-set recount with a
    trailing 7-day union window."""
    from collections import defaultdict
    from datetime import date

    from ankaflow_spark.operators.timeseries import _STICKY_WINDOW, QUERIES

    out = QUERIES["ts42_stickiness"](spark, sf_dir).collect()
    by_day = defaultdict(set)
    epoch = date(1970, 1, 1)
    for r in spark.table("events").select("user_id", "ts").collect():
        by_day[(r["ts"].date() - epoch).days].add(r["user_id"])
    assert [r["day_num"] for r in out] == sorted(by_day)
    for r in out:
        d = r["day_num"]
        dau = len(by_day[d])
        wau = len(set().union(*(by_day.get(d - o, set()) for o in range(_STICKY_WINDOW))))
        assert (r["dau"], r["wau"]) == (dau, wau)
        assert r["stickiness"] == dau / wau


def test_q78_freshness_vs_python(spark, sf_dir):
    """Lag/staleness/rate-drop must equal a literal per-type recount."""
    from collections import defaultdict

    from ankaflow_spark.operators.relational import _FRESH_SLA_MIN, QUERIES

    out = QUERIES["q78_ingest_freshness"](spark, sf_dir).collect()
    us = lambda t: int(t.timestamp() * 1000000)  # noqa: E731
    per = defaultdict(list)
    for r in spark.table("events").select("event_type", "ts").collect():
        per[r["event_type"]].append(us(r["ts"]))
    edge = max(max(v) for v in per.values())
    day_us = 86400 * 1000000
    assert [r["event_type"] for r in out] == sorted(per)
    for r in out:
        ts = per[r["event_type"]]
        lag = (edge - max(ts)) // 60000000
        assert (r["n_events"], r["lag_min"]) == (len(ts), lag)
        assert r["is_stale"] == (lag >= _FRESH_SLA_MIN)
        n_final = sum(1 for t in ts if t > edge - day_us)
        days = (max(ts) - min(ts)) // day_us + 1
        assert r["n_final_day"] == n_final
        assert r["final_day_rate_ratio"] == n_final / (len(ts) / days)


def test_m12_shard_planner_vs_python(spark, sf_dir):
    """The byte-offset shard plan must equal a literal greedy walk over
    the deterministic payload sizes."""
    from collections import defaultdict

    from ankaflow_spark.operators.streamq import _SHARD_BUDGET_BYTES, QUERIES

    out = QUERIES["m12_shard_planner"](spark, sf_dir).collect()
    kinds = ["image", "audio", "video"]
    shards = defaultdict(lambda: [0, 0, {k: 0 for k in kinds}, 0])
    prior = 0
    for i in range(120):
        nb = 16 * (4 + i % 5)
        s = shards[prior // _SHARD_BUDGET_BYTES]
        s[0] += 1
        s[1] += nb
        s[2][kinds[i % 3]] += 1
        s[3] = max(s[3], nb)
        prior += nb
    assert [r["shard_id"] for r in out] == sorted(shards)
    for r in out:
        n, b, mix, mx = shards[r["shard_id"]]
        assert (r["n_items"], r["shard_bytes"], r["max_item_bytes"]) == (n, b, mx)
        assert (r["n_images"], r["n_audio"], r["n_video"]) == (
            mix["image"], mix["audio"], mix["video"],
        )


def test_t34_length_ks_vs_python(spark, sf_dir):
    """Per-source KS distances must equal a literal integer-quantized
    ECDF recount at every observed length."""
    from collections import Counter, defaultdict

    from ankaflow_spark.operators.textops import _KS_FLAG_E6, QUERIES

    out = QUERIES["t34_length_ks_drift"](spark, sf_dir).collect()
    per = defaultdict(Counter)
    for r in spark.table("documents").select("source", "n_chars").collect():
        per[r["source"]][r["n_chars"]] += 1
    all_counts = Counter()
    for c in per.values():
        all_counts.update(c)
    vals = sorted(all_counts)
    n_all = sum(all_counts.values())
    assert [r["source"] for r in out] == sorted(per)
    for r in out:
        c = per[r["source"]]
        n_src = sum(c.values())
        cs = cg = 0
        ks = 0
        for v in vals:
            cs += c.get(v, 0)
            cg += all_counts[v]
            ks = max(ks, abs(cs * 1000000 // n_src - cg * 1000000 // n_all))
        assert (r["n_docs"], r["ks_e6"]) == (n_src, ks)
        assert r["ks"] == ks / 1000000.0
        assert r["drifted"] == (ks >= _KS_FLAG_E6)


def test_s26_calinski_harabasz_vs_python(spark, sf_dir):
    """Cluster scatters and the CH score must equal a literal
    e6-lattice k-means recount (one Lloyd round from the vec_id < K
    seeds, s17's machinery)."""
    from collections import defaultdict

    from ankaflow_spark.operators.similarity import _KM_K, DIM, QUERIES

    out = QUERIES["s26_calinski_harabasz"](spark, sf_dir).collect()
    rows = spark.table("embeddings").select("vec_id", "embedding").collect()
    import math

    q = {
        r["vec_id"]: [int(math.floor(float(x) * 1000000)) for x in r["embedding"]]
        for r in rows
    }

    def dist(a, b):
        return sum((a[d] - b[d]) * (a[d] - b[d]) for d in range(DIM))

    c0 = {c: q[c] for c in range(_KM_K)}
    m1 = {v: min(c0, key=lambda c: (dist(q[v], c0[c]), c)) for v in q}
    c1 = {}
    for c in range(_KM_K):
        members = [v for v, cc in m1.items() if cc == c]
        c1[c] = [
            int(math.floor(sum(q[v][d] for v in members) / len(members)))
            for d in range(DIM)
        ]
    m2 = {v: min(c1, key=lambda c: (dist(q[v], c1[c]), c)) for v in q}
    gcent = [int(math.floor(sum(q[v][d] for v in q) / len(q))) for d in range(DIM)]
    within = defaultdict(int)
    nmem = defaultdict(int)
    for v, c in m2.items():
        within[c] += dist(q[v], c1[c]) // 1000000
        nmem[c] += 1
    between = {c: nmem[c] * (dist(c1[c], gcent) // 1000000) for c in c1}
    n, k = len(q), _KM_K
    w_tot, b_tot = sum(within.values()), sum(between.values())
    ch = (b_tot / (k - 1)) / (w_tot / (n - k))
    assert [r["cluster"] for r in out] == sorted(nmem)
    for r in out:
        c = r["cluster"]
        assert (r["n_members"], r["within_e6"], r["between_e6"]) == (
            nmem[c], within[c], between[c],
        )
        assert r["ch_score"] == ch


def test_d28_agreement_vs_python(spark, sf_dir):
    """The lex/sem confusion must equal a literal recount: banded-LSH
    candidates -> exact shingle Jaccard and sequential-fold cosine,
    both floor-e6-quantized."""
    import hashlib
    import math
    from collections import defaultdict

    from ankaflow_spark.operators.dedup import (
        _ROWS_PER_BAND,
        D28_LEX_THRESHOLD,
        D28_SEM_THRESHOLD,
        MINHASH_K,
        QUERIES,
        SHINGLE_WORDS,
    )

    out = QUERIES["d28_lexical_semantic_agreement"](spark, sf_dir).collect()

    docs = {
        r["doc_id"]: r["text"]
        for r in spark.table("documents").select("doc_id", "text").collect()
    }
    embs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in spark.table("embeddings").select("vec_id", "embedding").collect()
    }

    def shingles(text):
        w = text.split(" ")
        if len(w) < SHINGLE_WORDS:
            return {" ".join(w)}
        return {
            " ".join(w[i : i + SHINGLE_WORDS])
            for i in range(len(w) - SHINGLE_WORDS + 1)
        }

    sh = {d: shingles(t) for d, t in docs.items()}
    bands = defaultdict(list)
    for d, ss in sh.items():
        hs = [hashlib.md5(x.encode()).hexdigest() for x in ss]
        mh = [
            min(int(h[seed : seed + 14], 16) for h in hs)
            for seed in range(MINHASH_K)
        ]
        for b in range(MINHASH_K // _ROWS_PER_BAND):
            key = "-".join(
                str(mh[b * _ROWS_PER_BAND + r]) for r in range(_ROWS_PER_BAND)
            )
            bands[(b, key)].append(d)
    cands = set()
    for members in bands.values():
        for a in members:
            for b in members:
                if a < b:
                    cands.add((a, b))

    def fold_dot(u, v):
        s = 0.0
        for x, y in zip(u, v):
            s += x * y
        return s

    cells = defaultdict(lambda: [0, 0, 0])
    for a, b in cands:
        if a not in embs or b not in embs:
            continue
        inter = len(sh[a] & sh[b])
        j_e6 = math.floor(inter / (len(sh[a]) + len(sh[b]) - inter) * 1000000)
        cos = fold_dot(embs[a], embs[b]) / (
            math.sqrt(fold_dot(embs[a], embs[a]))
            * math.sqrt(fold_dot(embs[b], embs[b]))
        )
        c_e6 = math.floor(cos * 1000000)
        cell = cells[
            (j_e6 >= D28_LEX_THRESHOLD * 1000000, c_e6 >= D28_SEM_THRESHOLD * 1000000)
        ]
        cell[0] += 1
        cell[1] += j_e6
        cell[2] += c_e6
    assert [(r["lex_dup"], r["sem_dup"]) for r in out] == sorted(cells)
    for r in out:
        n, js, cs = cells[(r["lex_dup"], r["sem_dup"])]
        assert r["n_pairs"] == n
        assert r["mean_jaccard"] == js / (n * 1000000.0)
        assert r["mean_cosine"] == cs / (n * 1000000.0)


def test_d29_bounded_agreement_vs_python(spark, sf_dir):
    """The bounded confusion table must equal a literal recount over
    the bounded candidate set: per-doc_a hub cap (rank by doc_b
    ascending, first D29_MAX_PAIRS_PER_DOC kept) then the
    rate-calibrated md5 sample (keep iff h16 * n < S * 65536) — both
    applied BEFORE the embedding filter, exactly like the SQL."""
    import hashlib
    import math
    from collections import defaultdict

    from ankaflow_spark.operators.dedup import (
        _ROWS_PER_BAND,
        D28_LEX_THRESHOLD,
        D28_SEM_THRESHOLD,
        D29_MAX_PAIRS_PER_DOC,
        MINHASH_K,
        QUERIES,
        SHINGLE_WORDS,
    )

    out = QUERIES["d29_agreement_bounded"](spark, sf_dir).collect()

    docs = {
        r["doc_id"]: r["text"]
        for r in spark.table("documents").select("doc_id", "text").collect()
    }
    embs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in spark.table("embeddings").select("vec_id", "embedding").collect()
    }

    def shingles(text):
        w = text.split(" ")
        if len(w) < SHINGLE_WORDS:
            return {" ".join(w)}
        return {
            " ".join(w[i : i + SHINGLE_WORDS])
            for i in range(len(w) - SHINGLE_WORDS + 1)
        }

    sh = {d: shingles(t) for d, t in docs.items()}
    bands = defaultdict(list)
    for d, ss in sh.items():
        hs = [hashlib.md5(x.encode()).hexdigest() for x in ss]
        mh = [
            min(int(h[seed : seed + 14], 16) for h in hs)
            for seed in range(MINHASH_K)
        ]
        for b in range(MINHASH_K // _ROWS_PER_BAND):
            key = "-".join(
                str(mh[b * _ROWS_PER_BAND + r]) for r in range(_ROWS_PER_BAND)
            )
            bands[(b, key)].append(d)
    cands = set()
    for members in bands.values():
        for a in members:
            for b in members:
                if a < b:
                    cands.add((a, b))

    # bound 1 — the hub cap: first K doc_b per doc_a, key-ascending
    by_a = defaultdict(list)
    for a, b in sorted(cands):
        by_a[a].append(b)
    hubcapped = {
        (a, b) for a, bs in by_a.items() for b in bs[:D29_MAX_PAIRS_PER_DOC]
    }
    assert hubcapped <= cands
    # bound 2 — the rate-calibrated md5 sample over the capped set
    from ankaflow_spark.operators.dedup import D29_MAX_VERIFY_PAIRS

    n = len(hubcapped)
    capped = {
        (a, b)
        for a, b in hubcapped
        if int(hashlib.md5(f"d29{a}_{b}".encode()).hexdigest()[:4], 16) * n
        < D29_MAX_VERIFY_PAIRS * 65536
    }
    # organic sf corpora sit far under the S target: everything kept
    assert capped == hubcapped if n <= D29_MAX_VERIFY_PAIRS else capped < hubcapped

    def fold_dot(u, v):
        s = 0.0
        for x, y in zip(u, v):
            s += x * y
        return s

    cells = defaultdict(lambda: [0, 0, 0])
    for a, b in capped:
        if a not in embs or b not in embs:
            continue
        inter = len(sh[a] & sh[b])
        j_e6 = math.floor(inter / (len(sh[a]) + len(sh[b]) - inter) * 1000000)
        cos = fold_dot(embs[a], embs[b]) / (
            math.sqrt(fold_dot(embs[a], embs[a]))
            * math.sqrt(fold_dot(embs[b], embs[b]))
        )
        c_e6 = math.floor(cos * 1000000)
        cell = cells[
            (j_e6 >= D28_LEX_THRESHOLD * 1000000, c_e6 >= D28_SEM_THRESHOLD * 1000000)
        ]
        cell[0] += 1
        cell[1] += j_e6
        cell[2] += c_e6
    assert [(r["lex_dup"], r["sem_dup"]) for r in out] == sorted(cells)
    for r in out:
        n, js, cs = cells[(r["lex_dup"], r["sem_dup"])]
        assert r["n_pairs"] == n
        assert r["mean_jaccard"] == js / (n * 1000000.0)
        assert r["mean_cosine"] == cs / (n * 1000000.0)


def test_s27_stability_vs_python(spark, sf_dir):
    """The contingency table and ARI must equal a literal two-run
    Lloyd recount on the e6 lattice."""
    import math

    from collections import defaultdict

    from ankaflow_spark.operators.similarity import _KM_K, DIM, QUERIES

    out = QUERIES["s27_clustering_stability"](spark, sf_dir).collect()
    rows = spark.table("embeddings").select("vec_id", "embedding").collect()
    q = {
        r["vec_id"]: [int(math.floor(float(x) * 1000000)) for x in r["embedding"]]
        for r in rows
    }

    def dist(a, b):
        return sum((a[d] - b[d]) * (a[d] - b[d]) for d in range(DIM))

    def lloyd(lo):
        c0 = {c - lo: q[c] for c in range(lo, lo + _KM_K)}
        m1 = {v: min(c0, key=lambda c: (dist(q[v], c0[c]), c)) for v in q}
        c1 = {}
        for c in range(_KM_K):
            mem = [v for v, cc in m1.items() if cc == c]
            c1[c] = [
                int(math.floor(sum(q[v][d] for v in mem) / len(mem)))
                for d in range(DIM)
            ]
        return {v: min(c1, key=lambda c: (dist(q[v], c1[c]), c)) for v in q}

    ma, mb = lloyd(0), lloyd(_KM_K)
    cont = defaultdict(int)
    for v in q:
        cont[(ma[v], mb[v])] += 1
    idx2 = sum(n * (n - 1) for n in cont.values())
    ra = defaultdict(int)
    rb = defaultdict(int)
    for (a, b), n in cont.items():
        ra[a] += n
        rb[b] += n
    sa2 = sum(n * (n - 1) for n in ra.values())
    sb2 = sum(n * (n - 1) for n in rb.values())
    n = len(q)
    n2 = n * (n - 1)
    ari = 2 * (idx2 * n2 - sa2 * sb2) / (n2 * (sa2 + sb2) - 2 * sa2 * sb2)
    assert [(r["cluster_a"], r["cluster_b"]) for r in out] == sorted(cont)
    for r in out:
        assert r["n_points"] == cont[(r["cluster_a"], r["cluster_b"])]
        assert r["ari"] == ari


def test_q79_erasure_vs_python(spark, sf_dir):
    """The cascade counts and blast share must equal a literal
    three-table walk."""
    from collections import defaultdict

    from ankaflow_spark.operators.relational import QUERIES

    out = QUERIES["q79_erasure_cascade"](spark, sf_dir).collect()
    cust = {
        r["c_custkey"]: r["c_nationkey"]
        for r in spark.table("customer")
        .filter("c_acctbal < 0")
        .select("c_custkey", "c_nationkey")
        .collect()
    }
    nname = {
        r["n_nationkey"]: r["n_name"]
        for r in spark.table("nation").select("n_nationkey", "n_name").collect()
    }
    ordn = {}
    per_o = defaultdict(int)
    for r in spark.table("orders").select("o_orderkey", "o_custkey").collect():
        if r["o_custkey"] in cust:
            ordn[r["o_orderkey"]] = cust[r["o_custkey"]]
            per_o[cust[r["o_custkey"]]] += 1
    per_l = defaultdict(int)
    for r in spark.table("lineitem").select("l_orderkey").collect():
        if r["l_orderkey"] in ordn:
            per_l[ordn[r["l_orderkey"]]] += 1
    per_c = defaultdict(int)
    for nk in cust.values():
        per_c[nk] += 1
    total = len(cust) + len(ordn) + sum(per_l.values())
    assert [r["nation"] for r in out] == sorted(nname[k] for k in per_c)
    for r in out:
        nk = next(k for k, v in nname.items() if v == r["nation"])
        assert (r["n_customers"], r["n_orders"], r["n_lineitems"]) == (
            per_c[nk], per_o[nk], per_l[nk],
        )
        assert r["blast_share"] == (per_c[nk] + per_o[nk] + per_l[nk]) / total


def test_ts43_cooccurrence_vs_python(spark, sf_dir):
    """Support/confidence/lift must equal a literal session-basket
    recount (gap islands, distinct types per session)."""
    from collections import defaultdict

    from ankaflow_spark.operators.timeseries import SESSION_GAP_MIN, QUERIES

    out = QUERIES["ts43_session_cooccurrence"](spark, sf_dir).collect()
    evs = defaultdict(list)
    for r in (
        spark.table("events").select("user_id", "event_id", "ts", "event_type").collect()
    ):
        evs[r["user_id"]].append((r["ts"], r["event_id"], r["event_type"]))
    gap_us = SESSION_GAP_MIN * 60 * 1000000
    baskets = []
    for u, rows in evs.items():
        rows.sort()
        cur = None
        prev = None
        for ts, _eid, et in rows:
            t = int(ts.timestamp() * 1000000)
            if prev is None or t - prev > gap_us:
                cur = set()
                baskets.append(cur)
            cur.add(et)
            prev = t
    n_sess = len(baskets)
    n_t = defaultdict(int)
    n_ab = defaultdict(int)
    for b in baskets:
        for t in b:
            n_t[t] += 1
        types = sorted(b)
        for i, a in enumerate(types):
            for c in types[i + 1 :]:
                n_ab[(a, c)] += 1
    assert [(r["type_a"], r["type_b"]) for r in out] == sorted(n_ab)
    for r in out:
        k = (r["type_a"], r["type_b"])
        assert r["n_both"] == n_ab[k]
        assert r["support"] == n_ab[k] / n_sess
        assert r["conf_a_to_b"] == n_ab[k] / n_t[k[0]]
        assert r["conf_b_to_a"] == n_ab[k] / n_t[k[1]]
        assert r["lift"] == n_ab[k] * n_sess / (n_t[k[0]] * n_t[k[1]])


def test_q80_fanout_vs_python(spark, sf_dir):
    """Fan-out stats must equal a literal per-FK recount restricted to
    FK values that exist in the parent (orphans excluded — r8 ADVICE)."""
    from collections import Counter

    from ankaflow_spark.operators.relational import QUERIES

    out = QUERIES["q80_join_fanout_audit"](spark, sf_dir).collect()
    specs = {
        "customer->orders": ("customer", "c_custkey", "orders", "o_custkey"),
        "orders->lineitem": ("orders", "o_orderkey", "lineitem", "l_orderkey"),
    }
    assert [r["relationship"] for r in out] == sorted(specs)
    for r in out:
        parent, pk, child, fk = specs[r["relationship"]]
        pks = {x[0] for x in spark.table(parent).select(pk).collect()}
        fan = Counter(
            x[0] for x in spark.table(child).select(fk).collect() if x[0] in pks
        )
        n_children = sum(fan.values())
        matched = len(fan)
        mx = max(fan.values())
        assert (r["n_parents"], r["n_children"], r["matched_parents"]) == (
            len(pks), n_children, matched,
        )
        assert r["max_fanout"] == mx
        assert r["mean_fanout"] == n_children / matched
        assert r["fanout_skew"] == mx * matched / n_children


def test_q80_fanout_excludes_orphans(spark, sf_dir):
    """Orphaned children (FK values with no parent row — the RI failure
    q74 detects) must not inflate matched_parents or the fan-out stats:
    they never amplify the join. Injects 5 orphan orders under a
    shadowed 'orders' view and recounts (r8 ADVICE low)."""
    from ankaflow_spark.operators.relational import QUERIES, load_tables

    load_tables(spark, str(sf_dir))
    base = QUERIES["q80_join_fanout_audit"](spark, str(sf_dir)).collect()
    try:
        spark.sql(
            "SELECT * FROM orders UNION ALL SELECT * FROM "
            "(SELECT -o_orderkey AS o_orderkey, CAST(-1 AS BIGINT) AS o_custkey, "
            "o_orderstatus, o_totalprice, o_orderdate, o_orderpriority "
            "FROM orders ORDER BY o_orderkey DESC LIMIT 5) injected"
        ).createOrReplaceTempView("orders")
        got = {
            r["relationship"]: r
            for r in QUERIES["q80_join_fanout_audit"](spark, str(sf_dir)).collect()
        }
    finally:
        # load_tables memoizes registration per (session, sf_dir), so
        # re-register the real view explicitly to undo the shadow
        load_tables(spark, str(sf_dir))["orders"].createOrReplaceTempView("orders")
    want = {r["relationship"]: r for r in base}
    co = got["customer->orders"]
    # custkey -1 has no parent: matched/fan-out stats unchanged vs base
    for col in ("matched_parents", "n_children", "max_fanout",
                "mean_fanout", "fanout_skew"):
        assert co[col] == want["customer->orders"][col], col
    # the 5 orphan orders DO count as parents for orders->lineitem...
    ol = got["orders->lineitem"]
    assert ol["n_parents"] == want["orders->lineitem"]["n_parents"] + 5
    # ...but their (negated-key) lineitems don't exist, so child stats hold
    assert ol["n_children"] == want["orders->lineitem"]["n_children"]


def test_s28_centroid_drift_vs_python(spark, sf_dir):
    """Per-shard centroid drift must equal a literal e4-lattice
    centroid + e12-quantized squared-diff recount."""
    import math
    from collections import defaultdict

    from ankaflow_spark.operators.similarity import (
        _S28_DRIFT_THRESHOLD_E12,
        DIM,
        QUERIES,
    )

    out = QUERIES["s28_centroid_drift"](spark, sf_dir).collect()
    rows = spark.table("embeddings").select("label", "embedding").collect()
    sums = defaultdict(lambda: [0] * DIM)
    counts = defaultdict(int)
    for r in rows:
        counts[r["label"]] += 1
        for d, v in enumerate(r["embedding"]):
            sums[r["label"]][d] += math.floor(float(v) * 10000)
    ng = sum(counts.values())
    gsum = [sum(sums[lab][d] for lab in sums) for d in range(DIM)]
    assert [r["label"] for r in out] == sorted(counts)
    for r in out:
        lab = r["label"]
        n = counts[lab]
        d2 = 0
        for d in range(DIM):
            diff = sums[lab][d] / (n * 10000.0) - gsum[d] / (ng * 10000.0)
            d2 += math.floor(diff * diff * 1e12)
        assert r["n_vecs"] == n
        assert r["corpus_share"] == n / ng
        assert r["centroid_dist"] == math.sqrt(d2 / 1e12)
        assert r["drifted"] == (d2 > _S28_DRIFT_THRESHOLD_E12)


def test_q81_retention_ttl_vs_python(spark, sf_dir):
    """TTL audit must equal a literal microsecond-arithmetic recount:
    per-type expired rows, expired day-partitions, and shares."""
    from collections import defaultdict

    from ankaflow_spark.operators.relational import QUERIES

    out = QUERIES["q81_retention_ttl_audit"](spark, sf_dir).collect()
    rows = spark.table("events").selectExpr(
        "event_type", "unix_micros(ts) AS us"
    ).collect()
    ttl = {"click": 7, "view": 14, "error": 30, "signup": 90}
    day_us = 86400 * 1000000
    edge = max(r["us"] for r in rows)
    n = defaultdict(int)
    exp = defaultdict(int)
    purge = defaultdict(set)
    oldest = {}
    for r in rows:
        t = r["event_type"]
        n[t] += 1
        d = ttl.get(t, 365)
        day = r["us"] // day_us
        if r["us"] < edge - d * day_us:
            exp[t] += 1
            purge[t].add(day)
            oldest[t] = min(oldest.get(t, day), day)
    assert [r["event_type"] for r in out] == sorted(n)
    for r in out:
        t = r["event_type"]
        assert r["ttl_days"] == ttl.get(t, 365)
        assert r["n_rows"] == n[t]
        assert r["n_expired"] == exp[t]
        assert r["expired_share"] == exp[t] / n[t]
        assert r["n_purge_partitions"] == len(purge[t])
        # oldest_day_no is the oldest EXPIRED partition — NULL when the
        # type has nothing to purge (a purge job must never misread a
        # retained partition as droppable)
        assert r["oldest_day_no"] == oldest.get(t)
        if exp[t] == 0:
            assert r["oldest_day_no"] is None
    # the synthetic 30-day corpus gives the audit real signal: short
    # TTLs expire rows, the 365-day class expires none
    assert any(r["n_expired"] > 0 for r in out)
    assert any(r["n_expired"] == 0 for r in out)


def test_ts44_seasonal_anomaly_vs_python(spark, sf_dir):
    """Seasonal-MAD anomaly verdicts must equal a literal recount:
    integer (dow, hour) cells, exact 2*median / 4*MAD arithmetic, and
    the 2*dev2 > 3*mad4 flag."""
    from collections import defaultdict
    from statistics import median

    from ankaflow_spark.operators.timeseries import QUERIES

    out = QUERIES["ts44_seasonal_anomaly"](spark, sf_dir).collect()
    rows = spark.table("events").selectExpr("unix_micros(ts) AS us").collect()
    day_us = 86400 * 1000000
    hour_us = 3600 * 1000000
    cells = defaultdict(int)
    for r in rows:
        cells[(r["us"] // day_us, (r["us"] % day_us) // hour_us)] += 1
    groups = defaultdict(list)
    for (day, hr), c in cells.items():
        groups[((day + 4) % 7, hr)].append(c)
    med2 = {k: int(2 * median(v)) for k, v in groups.items()}
    dev2 = {
        (day, hr): abs(2 * c - med2[((day + 4) % 7, hr)])
        for (day, hr), c in cells.items()
    }
    mad4 = {
        k: int(
            2
            * median(
                [dev2[(d, h)] for (d, h) in cells if ((d + 4) % 7, h) == k]
            )
        )
        for k in groups
    }
    assert len(out) == len(cells)
    n_anom = 0
    for r in out:
        key = (r["day_no"], r["hr"])
        gk = ((r["day_no"] + 4) % 7, r["hr"])
        assert r["dow"] == gk[0]
        assert r["n_events"] == cells[key]
        assert r["baseline_median"] == med2[gk] / 2
        assert r["mad"] == mad4[gk] / 4
        expect = 2 * dev2[key] > 3 * mad4[gk] and dev2[key] >= 2
        assert r["is_anomaly"] == expect
        n_anom += bool(r["is_anomaly"])
    assert 0 < n_anom < len(out)  # real signal, not degenerate


def test_m13_corrupt_asset_audit_kernel(spark):
    """The mapInPandas validation kernel must flag exactly the
    injected corruption classes, measured on the REAL bytes after the
    Arrow hop."""
    from ankaflow_spark.operators.streamq import QUERIES

    out = QUERIES["m13_corrupt_asset_audit"](spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert len(rows) == 120
    for r in rows:
        i = r["media_id"]
        assert r["payload_ok"] == (i % 7 != 3)
        assert r["meta_ok"] == (i % 11 != 5 and i % 13 != 8)
        assert r["kind_ok"] == (i % 13 != 8)
        assert r["valid"] == (i % 7 != 3 and i % 11 != 5 and i % 13 != 8)
        if i % 7 == 3:
            assert r["n_bytes"] == 3
        else:
            assert r["n_bytes"] == 16 * (4 + i % 5)
    assert sum(not r["valid"] for r in rows) > 0


def test_ts45_daily_acf_vs_python(spark, sf_dir):
    """Per-(type, lag) ACF must equal a literal Pearson recount over
    the integer daily lattice (exact sufficient statistics; one
    compound IEEE expression)."""
    import math
    from collections import defaultdict

    from ankaflow_spark.operators.timeseries import _ACF_MAX_LAG, QUERIES

    out = QUERIES["ts45_daily_acf"](spark, sf_dir).collect()
    rows = spark.table("events").selectExpr(
        "event_type", "unix_micros(ts) div 86400000000 AS day_no"
    ).collect()
    daily = defaultdict(int)
    for r in rows:
        daily[(r["event_type"], r["day_no"])] += 1
    types = sorted({t for t, _ in daily})
    expect = {}
    for t in types:
        days = sorted(d for tt, d in daily if tt == t)
        for lag in range(1, _ACF_MAX_LAG + 1):
            xs, ys = [], []
            for d in days:
                if (t, d + lag) in daily:
                    xs.append(daily[(t, d)])
                    ys.append(daily[(t, d + lag)])
            m = len(xs)
            sx, sy = sum(xs), sum(ys)
            sxy = sum(a * b for a, b in zip(xs, ys))
            sxx = sum(a * a for a in xs)
            syy = sum(b * b for b in ys)
            acf = (m * sxy - sx * sy) / math.sqrt(
                (m * sxx - sx * sx) * (m * syy - sy * sy)
            )
            expect[(t, lag)] = (m, acf)
    assert len(out) == len(expect)
    for r in out:
        m, acf = expect[(r["event_type"], r["lag"])]
        assert r["n_pairs"] == m
        assert r["acf"] == acf
    # real signal: correlations are neither all-zero nor constant
    vals = {round(r["acf"], 6) for r in out}
    assert len(vals) > 5


def test_d30_band_occupancy_vs_python(spark, sf_dir):
    """Per-band bucket stats must equal a literal recount of the
    minhash/band construction: bucket = (band_id, 4 consecutive
    14-hex-window minhashes), counts/pairs in exact integers."""
    import hashlib as hl
    from collections import Counter

    from ankaflow_spark.operators.dedup import (
        _ROWS_PER_BAND,
        LSH_BANDS,
        MINHASH_K,
        QUERIES,
    )

    out = QUERIES["d30_band_occupancy_audit"](spark, sf_dir).collect()
    assert [r["band_id"] for r in out] == list(range(LSH_BANDS))
    docs = spark.table("documents").select("doc_id", "text").collect()
    buckets = Counter()
    for r in docs:
        words = r["text"].split(" ")
        shs = (
            {" ".join(words[i : i + 3]) for i in range(len(words) - 2)}
            if len(words) >= 3
            else {" ".join(words)}
        )
        sig = [
            min(int(hl.md5(s.encode()).hexdigest()[k : k + 14], 16) for s in shs)
            for k in range(MINHASH_K)
        ]
        for b in range(LSH_BANDS):
            key = tuple(sig[b * _ROWS_PER_BAND : (b + 1) * _ROWS_PER_BAND])
            buckets[(b, key)] += 1
    for r in out:
        sizes = [n for (b, _), n in buckets.items() if b == r["band_id"]]
        pairs = sum(n * (n - 1) // 2 for n in sizes)
        assert r["n_buckets"] == len(sizes)
        assert r["n_docs"] == sum(sizes) == len(docs)
        assert r["max_bucket"] == max(sizes)
        assert r["n_multi_buckets"] == sum(1 for n in sizes if n >= 2)
        assert r["cand_pairs"] == pairs
        want_share = (
            (max(sizes) * (max(sizes) - 1) // 2) / pairs if pairs else None
        )
        assert r["top_bucket_pair_share"] == want_share


def test_t35_boilerplate_shingles_vs_python(spark, sf_dir):
    """Top-K shingles by document frequency must equal a literal
    per-doc distinct-shingle recount with (df DESC, sh) ordering."""
    from collections import Counter

    from ankaflow_spark.operators.dedup import MAX_SHINGLE_DF
    from ankaflow_spark.operators.textops import _T35_TOP_K, QUERIES

    out = QUERIES["t35_boilerplate_shingles"](spark, sf_dir).collect()
    docs = spark.table("documents").select("doc_id", "text").collect()
    df = Counter()
    for r in docs:
        words = r["text"].split(" ")
        shs = (
            {" ".join(words[i : i + 3]) for i in range(len(words) - 2)}
            if len(words) >= 3
            else {" ".join(words)}
        )
        for s in shs:
            df[s] += 1
    top = sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))[:_T35_TOP_K]
    assert [r["rank"] for r in out] == list(range(1, len(top) + 1))
    for r, (sh, n) in zip(out, top):
        assert (r["sh"], r["df"]) == (sh, n)
        assert r["df_share"] == n / len(docs)
        assert r["over_cap"] == (n > MAX_SHINGLE_DF)


def test_s29_bucket_balance_vs_python(spark, sf_dir):
    """The occupancy report must equal a literal hyperplane-signature
    recount (s24's sig arithmetic) and exact integer occupancy sums."""
    from collections import Counter

    from ankaflow_spark.operators.similarity import (
        DIM,
        N_PLANES,
        QUERIES,
    )

    out = QUERIES["s29_ann_bucket_balance"](spark, sf_dir).collect()
    assert len(out) == 1
    r = out[0]
    rows = spark.table("embeddings").select("vec_id", "embedding").collect()

    def sig(v):
        b = 0
        for pl in range(N_PLANES):
            s = 0.0
            for i in range(DIM):
                s += float(v[i]) * (((pl * 37 + i * 17) % 13) - 6)
            if s >= 0:
                b |= 1 << pl
        return b

    occ = Counter(sig(row["embedding"]) for row in rows)
    n = sum(occ.values())
    assert r["n_vecs"] == n == len(rows)
    assert r["n_buckets"] == len(occ)
    assert r["min_bucket"] == min(occ.values())
    assert r["max_bucket"] == max(occ.values())
    assert r["expected_cands_per_query"] == sum(c * (c - 1) for c in occ.values()) / n
    assert r["imbalance_factor"] == (
        len(occ) * float(sum(c * c for c in occ.values())) / (float(n) * n)
    )


def test_m14_phash_neardup_vs_python(spark, sf_dir):
    """Banded-Hamming verdicts must equal a literal recount: dHash
    bits from the generated bytes, band-collision candidacy, exact
    Hamming — and the planted structure must surface (every (g0, g1)
    pair hash-identical; every pair involving g2 within 1 bit)."""
    from itertools import combinations

    from ankaflow_spark.operators.multimodal import (
        DHASH_GRID_H,
        DHASH_GRID_W,
        PHASH_MAX_HAMMING,
        synth_media_neardup,
    )
    from ankaflow_spark.operators.streamq import QUERIES

    out = QUERIES["m14_phash_neardup"](spark, sf_dir).collect()
    media = {
        r["media_id"]: bytes(r["payload"])
        for r in synth_media_neardup(spark, 120).collect()
    }

    def dhash(b):
        ks = [0, 0, 0, 0]
        for r in range(DHASH_GRID_H):
            for c in range(DHASH_GRID_W):
                j = (DHASH_GRID_W + 1) * r + c
                if b[j] > b[j + 1]:
                    p = DHASH_GRID_W * r + c
                    ks[p // 16] |= 1 << (p % 16)
        return ks

    fps = {mid: dhash(b) for mid, b in media.items()}
    want = {}
    for a, b in combinations(sorted(fps), 2):
        if any(fps[a][i] == fps[b][i] for i in range(4)):
            ham = sum(bin(fps[a][i] ^ fps[b][i]).count("1") for i in range(4))
            if ham <= PHASH_MAX_HAMMING:
                want[(a, b)] = ham
    got = {(r["media_a"], r["media_b"]): r["hamming"] for r in out}
    assert got == want
    for r in out:
        assert r["same_hash"] == (r["hamming"] == 0)
    # planted structure: g1 copies are hash-identical to their base;
    # g2 single-byte edits sit within one difference bit
    for seed in range(40):
        assert got[(seed, seed + 40)] == 0
        assert got[(seed, seed + 80)] <= 1
        assert got[(seed + 40, seed + 80)] <= 1


def test_d31_cluster_size_audit_vs_python(spark, sf_dir):
    """The size histogram must equal a literal union-find recount over
    d02's candidate pairs, singletons included."""
    from collections import Counter

    from ankaflow_spark.operators.dedup import QUERIES

    out = QUERIES["d31_cluster_size_audit"](spark, sf_dir).collect()
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["d02_minhash_lsh_pairs"](spark, sf_dir).collect()
    ]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    sizes = Counter()
    for x in parent:
        sizes[find(x)] += 1
    hist = Counter(sizes.values())
    n_total = spark.table("documents").count()
    n_labeled = len(parent)
    if n_total > n_labeled:
        hist[1] += n_total - n_labeled
    assert {(r["cluster_size"], r["n_clusters"]) for r in out} == set(hist.items())
    for r in out:
        assert r["n_docs"] == r["cluster_size"] * r["n_clusters"]
        assert r["corpus_share"] == r["n_docs"] / n_total
    # the histogram covers the whole corpus exactly once
    assert sum(r["n_docs"] for r in out) == n_total


def test_st26_stream_validation_matches_batch(spark, sf_dir):
    """The streamed verdict table must equal the batch m13 gate row for
    row — per-record verdicts are trigger-invariant by construction,
    and the streaming run must actually have executed more than one
    micro-batch (2 files per trigger over a 6-file staging)."""
    from ankaflow_spark.operators.streamq import QUERIES

    streamed = QUERIES["st26_stream_asset_validation"](spark, sf_dir).collect()
    batch = QUERIES["m13_corrupt_asset_audit"](spark, sf_dir).collect()
    assert [tuple(r) for r in streamed] == [tuple(r) for r in batch]
    assert len(streamed) == 120


def test_q82_late_arrival_vs_python(spark, sf_dir):
    """Lateness stats must equal a literal running-max recount over
    arrival (event_id) order, with the exact integer p99 rank rule."""
    from collections import defaultdict

    from ankaflow_spark.operators.relational import QUERIES

    out = QUERIES["q82_late_arrival_audit"](spark, sf_dir).collect()
    rows = spark.table("events").selectExpr(
        "event_type", "event_id", "unix_micros(ts) AS us"
    ).collect()
    per = defaultdict(list)
    for r in sorted(rows, key=lambda r: r["event_id"]):
        per[r["event_type"]].append(r["us"])
    assert [r["event_type"] for r in out] == sorted(per)
    for r in out:
        seq = per[r["event_type"]]
        hwm, lates, flags = 0, [], []
        for us in seq:
            hwm = max(hwm, us)
            lates.append((hwm - us) // 60000000)
            flags.append(us < hwm)
        n_late = sum(flags)
        assert r["n_rows"] == len(seq)
        assert r["n_late"] == n_late
        assert r["late_share"] == n_late / len(seq)
        # max_late_min: the largest minute BUCKET containing a late row
        # (NULL when nothing is late)
        assert r["max_late_min"] == max(
            (m for m, f in zip(lates, flags) if f), default=None
        )
        # exact p99: min lateness minute whose cumulative count reaches
        # the integer rank (cum * 100 >= n * 99 <=> cum >= ceil(99n/100))
        s = sorted(lates)
        k = -(-99 * len(s) // 100)
        assert r["p99_late_min"] == s[k - 1]


def test_q82_two_phase_prefix_max_on_disordered_arrival(spark, sf_dir):
    """The two-phase prefix-max respell (r10 verdict, low: the serial
    per-type window was a straggler class) must equal a literal serial
    running-max recount on GENUINELY DISORDERED data — the sf events
    arrive perfectly ordered (zero lateness), which never crosses a
    chunk boundary with a stale high-water mark, so this test builds a
    deterministically shuffled arrival order (event_id := rank of
    md5(event_id)) where ~half the rows are late and lateness spans
    many 8192-row chunks."""
    from collections import defaultdict

    from ankaflow_spark.operators.relational import QUERIES, _late_arrival_sql

    QUERIES["q82_late_arrival_audit"](spark, sf_dir)  # registers events
    spark.sql("""
      SELECT event_type, ts,
             ROW_NUMBER() OVER (ORDER BY md5(CAST(event_id AS STRING)))
               AS event_id
      FROM events
    """).createOrReplaceTempView("q82_disordered")
    out = spark.sql(_late_arrival_sql(True, table="q82_disordered")).collect()
    rows = spark.table("q82_disordered").selectExpr(
        "event_type", "event_id", "unix_micros(ts) AS us"
    ).collect()
    per = defaultdict(list)
    for r in sorted(rows, key=lambda r: r["event_id"]):
        per[r["event_type"]].append(r["us"])
    assert [r["event_type"] for r in out] == sorted(per)
    total_late = 0
    for r in out:
        seq = per[r["event_type"]]
        hwm, lates, flags = 0, [], []
        for us in seq:
            hwm = max(hwm, us)
            lates.append((hwm - us) // 60000000)
            flags.append(us < hwm)
        total_late += sum(flags)
        assert r["n_rows"] == len(seq)
        assert r["n_late"] == sum(flags)
        assert r["max_late_min"] == max(
            (m for m, f in zip(lates, flags) if f), default=None
        )
        s = sorted(lates)
        assert r["p99_late_min"] == s[-(-99 * len(s) // 100) - 1]
    assert total_late > 0  # the shuffle genuinely disordered arrival


def test_q83_bucketed_join_vs_python(spark, sf_dir):
    """The bucketed co-located join must return exactly the plain-join
    aggregate (bucketing is physical layout only): literal dict
    recount over the raw rows."""
    from collections import defaultdict

    from ankaflow_spark.operators.relational import QUERIES

    out = QUERIES["q83_bucketed_colocated_join"](spark, sf_dir).collect()
    prio = {
        r["o_orderkey"]: r["o_orderpriority"]
        for r in spark.table("orders").select("o_orderkey", "o_orderpriority").collect()
    }
    agg = defaultdict(lambda: [0, 0.0])
    for r in spark.table("lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    ).collect():
        p = prio.get(r["l_orderkey"])
        if p is not None:
            agg[p][0] += 1
            agg[p][1] += r["l_extendedprice"] * (1 - r["l_discount"])
    assert [r["order_priority"] for r in out] == sorted(agg)
    for r in out:
        n, rev = agg[r["order_priority"]]
        assert r["n_lines"] == n
        assert abs(r["revenue"] - rev) < 1e-6 * max(1.0, abs(rev))


def test_q84_bucketed_agg_vs_python(spark, sf_dir):
    """The bucketed rollup must return exactly the plain per-key
    aggregate's top 25 (bucketing is physical layout only): literal
    dict recount with the DESC-revenue / ASC-key tiebreak."""
    from collections import defaultdict
    from decimal import Decimal

    from ankaflow_spark.operators.relational import QUERIES

    out = QUERIES["q84_bucketed_colocated_agg"](spark, sf_dir).collect()
    agg = defaultdict(lambda: [0, Decimal(0)])
    for r in spark.table("lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    ).collect():
        agg[r["l_orderkey"]][0] += 1
        price = Decimal(str(r["l_extendedprice"])).quantize(Decimal("0.0001"))
        disc = (Decimal(1) - Decimal(str(r["l_discount"]))).quantize(
            Decimal("0.0001")
        )
        agg[r["l_orderkey"]][1] += price * disc
    top = sorted(agg.items(), key=lambda kv: (-kv[1][1], kv[0]))[:25]
    assert len(out) == 25
    for r, (key, (n, rev)) in zip(out, top):
        assert r["order_key"] == key
        assert r["n_lines"] == n
        assert r["revenue"] == float(rev)


def test_q85_partition_pruned_scan_vs_python(spark, sf_dir):
    """The pruned-scan aggregate must equal a literal recount of the
    busiest day (lowest-day tiebreak) — the partition layout changes
    WHAT is read, never the answer."""
    from collections import Counter, defaultdict
    from decimal import Decimal

    from ankaflow_spark.operators.relational import QUERIES

    out = QUERIES["q85_partition_pruned_scan"](spark, sf_dir).collect()
    rows = spark.sql(
        "SELECT event_type, value, unix_micros(ts) div 86400000000 AS d FROM events"
    ).collect()
    per_day = Counter(r["d"] for r in rows)
    busiest = min(d for d in per_day if per_day[d] == max(per_day.values()))
    agg = defaultdict(lambda: [0, Decimal(0)])
    for r in rows:
        if r["d"] == busiest:
            agg[r["event_type"]][0] += 1
            agg[r["event_type"]][1] += Decimal(str(r["value"])).quantize(
                Decimal("0.000001")
            )
    assert [r["event_type"] for r in out] == sorted(agg)
    for r in out:
        n, v = agg[r["event_type"]]
        assert r["n_events"] == n
        assert r["day_value"] == float(v)


def test_q86_dynamic_partition_pruning_vs_python(spark, sf_dir):
    """The DPP join aggregate must equal a literal dow==3 recount —
    dynamic pruning changes WHICH partitions are read, never the
    answer."""
    from collections import defaultdict
    from decimal import Decimal

    from ankaflow_spark.operators.relational import QUERIES

    out = QUERIES["q86_dynamic_partition_pruning"](spark, sf_dir).collect()
    rows = spark.sql(
        "SELECT event_type, value, unix_micros(ts) div 86400000000 AS d FROM events"
    ).collect()
    agg = defaultdict(lambda: [0, set(), Decimal(0)])
    for r in rows:
        if r["d"] % 7 == 3:
            a = agg[r["event_type"]]
            a[0] += 1
            a[1].add(r["d"])
            a[2] += Decimal(str(r["value"])).quantize(Decimal("0.000001"))
    assert [r["event_type"] for r in out] == sorted(agg)
    for r in out:
        n, days, v = agg[r["event_type"]]
        assert r["n_events"] == n
        assert r["n_days"] == len(days)
        assert r["dow_value"] == float(v)


def test_q87_layered_layout_vs_python(spark, sf_dir):
    """The layered-layout rollup must equal a literal dow==3 per-user
    recount with the DESC-count / ASC-user tiebreak — two layout
    levers in one table change the plan, never the answer."""
    from collections import defaultdict
    from decimal import Decimal

    from ankaflow_spark.operators.relational import QUERIES

    out = QUERIES["q87_layered_fact_layout"](spark, sf_dir).collect()
    rows = spark.sql(
        "SELECT user_id, value, unix_micros(ts) div 86400000000 AS d FROM events"
    ).collect()
    agg = defaultdict(lambda: [0, set(), Decimal(0)])
    for r in rows:
        if r["d"] % 7 == 3:
            a = agg[r["user_id"]]
            a[0] += 1
            a[1].add(r["d"])
            a[2] += Decimal(str(r["value"])).quantize(Decimal("0.000001"))
    top = sorted(agg.items(), key=lambda kv: (-kv[1][0], kv[0]))[:25]
    assert len(out) == min(25, len(agg))
    for r, (uid, (n, days, v)) in zip(out, top):
        assert r["user_id"] == uid
        assert r["n_events"] == n
        assert r["n_days"] == len(days)
        assert r["dow_value"] == float(v)


def test_ts46_max_drawdown_vs_python(spark, sf_dir):
    """Drawdown verdicts must equal a literal daily running-peak walk
    (earliest day on ties)."""
    from collections import Counter, defaultdict

    from ankaflow_spark.operators.timeseries import QUERIES

    out = QUERIES["ts46_max_drawdown"](spark, sf_dir).collect()
    rows = spark.table("events").selectExpr(
        "event_type", "unix_micros(ts) div 86400000000 AS day_no"
    ).collect()
    daily = defaultdict(Counter)
    for r in rows:
        daily[r["event_type"]][r["day_no"]] += 1
    assert [r["event_type"] for r in out] == sorted(daily)
    for r in out:
        series = sorted(daily[r["event_type"]].items())
        peak, best = 0, None
        for day, n in series:
            peak = max(peak, n)
            dd = (peak - n) / peak
            if best is None or dd > best[0]:
                best = (dd, day, peak, n)
        assert r["n_days"] == len(series)
        assert (r["max_drawdown_share"], r["trough_day"], r["peak_n"], r["trough_n"]) == best


def test_t36_token_budget_vs_python(spark, sf_dir):
    """Per-source token budgets must equal a literal content-key
    recount: min-doc_id survivor per normalized bag of words, tokens
    credited to the survivor's source."""
    from collections import defaultdict

    from ankaflow_spark.operators.textops import QUERIES

    out = QUERIES["t36_token_budget"](spark, sf_dir).collect()
    docs = spark.table("documents").select("doc_id", "source", "text").collect()
    keep = {}
    for r in docs:
        key = " ".join(sorted(set(r["text"].lower().split(" "))))
        keep[key] = min(keep.get(key, r["doc_id"]), r["doc_id"])
    survivors = set(keep.values())
    agg = defaultdict(lambda: [0, 0, 0, 0])
    for r in docs:
        ntok = len(r["text"].split(" "))
        a = agg[r["source"]]
        a[0] += 1
        a[1] += ntok
        if r["doc_id"] in survivors:
            a[2] += 1
            a[3] += ntok
    assert [r["source"] for r in out] == sorted(agg)
    for r in out:
        n_docs, n_tok, n_sdocs, n_stok = agg[r["source"]]
        assert (r["n_docs"], r["n_tokens"]) == (n_docs, n_tok)
        assert (r["n_surviving_docs"], r["n_surviving_tokens"]) == (n_sdocs, n_stok)
        assert r["token_survival_share"] == n_stok / n_tok


def test_d33_band_probe_vs_python(spark, sf_dir):
    """The incremental probe verdicts must equal a literal python
    recount of the band construction and the corpus/batch split: a
    batch doc's partners are exactly the corpus docs sharing at least
    one (band_id, 4-consecutive-minhash) bucket; n_partners exact,
    dup_of = min partner."""
    import hashlib as hl
    from collections import defaultdict

    from ankaflow_spark.operators.dedup import (
        _ROWS_PER_BAND,
        D33_NEW_MOD,
        D33_NEW_REM,
        LSH_BANDS,
        MINHASH_K,
        QUERIES,
    )

    out = QUERIES["d33_bucketed_band_probe"](spark, sf_dir).collect()
    docs = spark.table("documents").select("doc_id", "text").collect()
    buckets = defaultdict(list)  # (band, key) -> [corpus doc_id]
    batch_bands = {}  # batch doc_id -> [(band, key)]
    for r in docs:
        words = r["text"].split(" ")
        shs = (
            {" ".join(words[i : i + 3]) for i in range(len(words) - 2)}
            if len(words) >= 3
            else {" ".join(words)}
        )
        sig = [
            min(int(hl.md5(s.encode()).hexdigest()[k : k + 14], 16) for s in shs)
            for k in range(MINHASH_K)
        ]
        keys = [
            (b, tuple(sig[b * _ROWS_PER_BAND : (b + 1) * _ROWS_PER_BAND]))
            for b in range(LSH_BANDS)
        ]
        if r["doc_id"] % D33_NEW_MOD == D33_NEW_REM:
            batch_bands[r["doc_id"]] = keys
        else:
            for key in keys:
                buckets[key].append(r["doc_id"])
    assert [r["doc_id"] for r in out] == sorted(batch_bands)
    for r in out:
        partners = {
            d for key in batch_bands[r["doc_id"]] for d in buckets[key]
        }
        assert r["n_partners"] == len(partners)
        assert r["is_dup"] == (len(partners) > 0)
        assert r["dup_of"] == (min(partners) if partners else None)


def test_q88_skew_join_vs_python(spark, sf_dir):
    """The skew-join aggregate must equal a literal recount of the
    hot-key reassignment and the profile self-weight — AQE's skew
    split changes HOW the hot partition is read, never the answer.
    self_join_weight recounts as sum over rows of that key's total
    row count (i.e. sum of n_k^2 within each hotness class)."""
    from collections import Counter, defaultdict
    from decimal import Decimal

    from ankaflow_spark.operators.relational import QUERIES

    out = QUERIES["q88_aqe_skew_join"](spark, sf_dir).collect()
    rows = spark.table("events").select("event_id", "user_id", "value").collect()
    keys = [0 if r["event_id"] % 2 == 0 else r["user_id"] for r in rows]
    counts = Counter(keys)
    agg = defaultdict(lambda: [0, Decimal(0), 0])  # n, value sum, weight
    for r, k in zip(rows, keys):
        a = agg[k == 0]
        a[0] += 1
        a[1] += Decimal(str(r["value"])).quantize(Decimal("0.000001"))
        a[2] += counts[k]
    assert [r["is_hot"] for r in out] == sorted(agg)
    for r in out:
        n, v, w = agg[r["is_hot"]]
        assert r["n_rows"] == n
        assert r["total_value"] == float(v)
        assert r["self_join_weight"] == w


def test_q89_bucket_pruned_lookup_vs_python(spark, sf_dir):
    """The point-lookup rollup must equal a literal recount of the
    busiest order's lines — bucket pruning changes which FILES are
    listed, never the answer."""
    from collections import Counter
    from decimal import Decimal

    from ankaflow_spark.operators.relational import QUERIES

    out = QUERIES["q89_bucket_pruned_lookup"](spark, sf_dir).collect()
    rows = spark.table("lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    ).collect()
    counts = Counter(r["l_orderkey"] for r in rows)
    busiest = min(k for k in counts if counts[k] == max(counts.values()))
    rev = Decimal(0)
    for r in rows:
        if r["l_orderkey"] == busiest:
            price = Decimal(str(r["l_extendedprice"])).quantize(Decimal("0.0001"))
            disc = (Decimal(1) - Decimal(str(r["l_discount"]))).quantize(
                Decimal("0.0001")
            )
            rev += price * disc
    assert len(out) == 1
    assert out[0]["order_key"] == busiest
    assert out[0]["n_lines"] == counts[busiest]
    assert out[0]["revenue"] == float(rev)


def test_d34_band_index_merge_vs_python(spark, sf_dir):
    """The day-2 probe against the MERGED index must equal a literal
    python recount whose corpus is (day-0 corpus + day-1 batch) — and
    at least one verdict must name a day-1 doc as partner, proving
    the merge actually took."""
    import hashlib as hl
    from collections import defaultdict

    from ankaflow_spark.operators.dedup import (
        _ROWS_PER_BAND,
        D33_NEW_MOD,
        D33_NEW_REM,
        D34_DAY2_REM,
        LSH_BANDS,
        MINHASH_K,
        QUERIES,
    )

    out = QUERIES["d34_band_index_merge"](spark, sf_dir).collect()
    docs = spark.table("documents").select("doc_id", "text").collect()
    buckets = defaultdict(list)
    batch_bands = {}
    for r in docs:
        words = r["text"].split(" ")
        shs = (
            {" ".join(words[i : i + 3]) for i in range(len(words) - 2)}
            if len(words) >= 3
            else {" ".join(words)}
        )
        sig = [
            min(int(hl.md5(s.encode()).hexdigest()[k : k + 14], 16) for s in shs)
            for k in range(MINHASH_K)
        ]
        keys = [
            (b, tuple(sig[b * _ROWS_PER_BAND : (b + 1) * _ROWS_PER_BAND]))
            for b in range(LSH_BANDS)
        ]
        if r["doc_id"] % D33_NEW_MOD == D34_DAY2_REM:
            batch_bands[r["doc_id"]] = keys
        else:  # merged corpus: day-0 docs AND the day-1 batch
            for key in keys:
                buckets[key].append(r["doc_id"])
    assert [r["doc_id"] for r in out] == sorted(batch_bands)
    saw_day1_partner = False
    for r in out:
        partners = {
            d for key in batch_bands[r["doc_id"]] for d in buckets[key]
        }
        assert r["n_partners"] == len(partners)
        assert r["is_dup"] == (len(partners) > 0)
        assert r["dup_of"] == (min(partners) if partners else None)
        if any(p % D33_NEW_MOD == D33_NEW_REM for p in partners):
            saw_day1_partner = True
    assert saw_day1_partner, "no day-2 verdict named a day-1 partner"


def test_q90_coalesced_rollup_vs_python(spark, sf_dir):
    """The monthly rollup must equal a literal recount — AQE
    coalescing changes how many reducers read the shuffle, never the
    answer."""
    from collections import defaultdict
    from decimal import Decimal

    from ankaflow_spark.operators.relational import QUERIES

    out = QUERIES["q90_aqe_coalesced_rollup"](spark, sf_dir).collect()
    rows = spark.table("orders").select("o_orderdate", "o_totalprice").collect()
    agg = defaultdict(lambda: [0, Decimal(0)])
    for r in rows:
        month = str(r["o_orderdate"])[:7] if r["o_orderdate"] is not None else None
        a = agg[month]
        a[0] += 1
        a[1] += Decimal(str(r["o_totalprice"])).quantize(Decimal("0.000001"))
    assert None not in agg  # testdata has no NULL order dates
    assert [r["month"] for r in out] == sorted(agg)
    for r in out:
        n, v = agg[r["month"]]
        assert r["n_orders"] == n
        assert r["total_price"] == float(v)


def test_q91_runtime_bloom_join_vs_python(spark, sf_dir):
    """The bloom-filtered nation-supplier rollup must equal a literal
    recount of the join — the runtime Bloom filter is a pure
    pre-filter (false positives only re-admit rows the join drops
    anyway), so it changes which rows reach the shuffle, never the
    answer."""
    from collections import defaultdict
    from decimal import Decimal

    from ankaflow_spark.operators.relational import QUERIES

    out = QUERIES["q91_runtime_bloom_join"](spark, sf_dir).collect()
    sups = {
        r["s_suppkey"]: r["s_name"]
        for r in spark.table("supplier")
        .filter("s_nationkey = 7")
        .select("s_suppkey", "s_name")
        .collect()
    }
    agg = defaultdict(lambda: [0, Decimal(0)])
    for r in (
        spark.table("lineitem")
        .select("l_suppkey", "l_extendedprice", "l_discount")
        .collect()
    ):
        name = sups.get(r["l_suppkey"])
        if name is None:
            continue
        price = Decimal(str(r["l_extendedprice"])).quantize(Decimal("0.0001"))
        disc = (Decimal(1) - Decimal(str(r["l_discount"]))).quantize(
            Decimal("0.0001")
        )
        a = agg[name]
        a[0] += 1
        a[1] += price * disc
    assert [r["supplier"] for r in out] == sorted(agg)
    for r in out:
        n, rev = agg[r["supplier"]]
        assert r["n_lines"] == n
        assert r["revenue"] == float(rev)


def test_q92_shuffled_hash_join_vs_python(spark, sf_dir):
    """The SHJ rollup must equal a literal recount of the
    segment-grouped join — join strategy changes how rows meet, never
    the answer."""
    from collections import defaultdict
    from decimal import Decimal

    from ankaflow_spark.operators.relational import QUERIES

    out = QUERIES["q92_shuffled_hash_join"](spark, sf_dir).collect()
    seg = {
        r["c_custkey"]: r["c_mktsegment"]
        for r in spark.table("customer")
        .select("c_custkey", "c_mktsegment")
        .collect()
    }
    agg = defaultdict(lambda: [0, Decimal(0)])
    for r in (
        spark.table("orders").select("o_custkey", "o_totalprice").collect()
    ):
        s = seg.get(r["o_custkey"])
        if s is None:
            continue
        a = agg[s]
        a[0] += 1
        a[1] += Decimal(str(r["o_totalprice"])).quantize(Decimal("0.000001"))
    assert [r["segment"] for r in out] == sorted(agg)
    for r in out:
        n, tot = agg[r["segment"]]
        assert r["n_orders"] == n
        assert r["total_price"] == float(tot)


def test_shared_layouts_stable_across_sf_switch(spark):
    """Round-13 regression: the memoized shared layouts (q83 lineitem
    buckets, d33 corpus band index) are keyed per (session, sf) but
    used to write ONE sf-independent catalog table — a session that
    touched a second SF (exactly what this suite does: most tests at
    sf0.001, the plan gates at sf0.01) left the other SF's memo
    vouching for the wrong bytes, and d33 additionally read the
    session-wide __bands__ view without re-registering it for its own
    SF. Each query's result at sf0.001 must be identical before and
    after the same session runs it at sf0.01."""
    from ankaflow_spark.operators import collect_all

    queries, _ = collect_all()
    a, b = "/root/testdata/sf0.001", "/root/testdata/sf0.01"
    names = [
        "q84_bucketed_colocated_agg",  # rides the memoized lineitem layout
        "d33_bucketed_band_probe",  # rides the memoized band index + __bands__
        "st28_stream_band_probe",  # streamed probe of the same index
    ]
    before = {n: [tuple(r) for r in queries[n](spark, a).collect()] for n in names}
    for n in names:
        queries[n](spark, b).count()
    for n in names:
        after = [tuple(r) for r in queries[n](spark, a).collect()]
        assert after == before[n], f"{n} diverged after the session touched {b}"


def test_span_generator_width_is_env_parameterized(monkeypatch):
    """d19/d20's pre-explode REPARTITION width must come from
    SPARK_GRAFT_GEN_PARTITIONS (local default 64): a constant tuned
    for one machine would cap generator parallelism on a real
    cluster. Width is plan-only — d19 is oracle-verified unchanged
    under an override (r13)."""
    from ankaflow_spark.operators.dedup import _span_positions_cte

    monkeypatch.delenv("SPARK_GRAFT_GEN_PARTITIONS", raising=False)
    assert "REPARTITION(64)" in _span_positions_cte(True)
    monkeypatch.setenv("SPARK_GRAFT_GEN_PARTITIONS", "512")
    assert "REPARTITION(512)" in _span_positions_cte(True)
    # the DuckDB oracle text carries no Spark hint either way
    assert "REPARTITION" not in _span_positions_cte(False)
