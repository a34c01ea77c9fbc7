"""Deduplication operators for large-scale training-data pipelines.

Four families, all engine-native (no Python UDFs — every hash is md5 +
string ops so the DuckDB oracle computes bit-identical results):

* **versioned dedup** — the reference's incremental latest-record-wins
  read (reference: ankaflow/common/util.py:336-383); window + filter.
* **exact dedup** — content-key hashing (bag-of-words md5), groupBy.
* **MinHash + LSH** — word-shingle signatures: one md5 per shingle, k
  permutations derived as hex-string rotations, min-aggregated and
  banded into buckets; candidate pairs by bucket self-join. At 100 TB
  this is the standard near-dup path: the signature pass is a single
  scan + one groupBy(doc), the pair pass shuffles only bucket keys
  (tiny vs corpus), never an all-pairs product.
* **SimHash** — 32-bit signatures from per-bit weighted sums; Hamming
  bucketing happens on the (tiny) signature table.

Portability note: every hash is md5 + substr/concat over its hex form —
lexicographic min over fixed-length lowercase hex equals numeric min,
and md5 is identical everywhere, so Spark and the DuckDB oracle agree
exactly (no reliance on engine-specific hash functions).
"""

from __future__ import annotations

import os
from typing import Callable, Dict, List

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sqlfront.ranking import versioned_dedup  # re-export for q06  # noqa: F401
from ..session import materialize, memo
from ..sources.parquet import read_parquet
from .tables import load_tables, table_path

QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: Dict[str, str] = {}

MINHASH_K = 16  # signature length
LSH_BANDS = 4  # 4 bands x 4 rows: catches jaccard >~ 0.5 pairs
SHINGLE_WORDS = 3


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# shared shingle SQL fragments (Spark spelling / DuckDB spelling)
# ---------------------------------------------------------------------------
# word 3-shingles, distinct per document. split() runs once per row in a
# subquery; shingles come from three element accesses (array slicing per
# position would be O(len^2) allocation). Docs shorter than the shingle
# width collapse to one whole-text shingle in both dialects.
SPARK_SHINGLES = """
  SELECT doc_id, explode(array_distinct(
           CASE WHEN size(words) >= 3 THEN
             transform(sequence(0, size(words) - 3),
                       i -> concat(words[i], ' ', words[i + 1], ' ', words[i + 2]))
           ELSE array(concat_ws(' ', words)) END
         )) AS sh
  FROM (SELECT doc_id, split(text, ' ') AS words FROM documents)
"""

DUCK_SHINGLES = """
  SELECT doc_id, unnest(list_distinct(
           CASE WHEN len(words) >= 3 THEN
             list_transform(range(1, len(words) - 1),
                            i -> words[i] || ' ' || words[i + 1] || ' ' || words[i + 2])
           ELSE [array_to_string(words, ' ')] END
         )) AS sh
  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
"""


# ---------------------------------------------------------------------------
# d01 — exact dedup via content key (bag-of-words md5): one scan + one
# groupBy; the canonical "hash-groupBy" exact dedup at any scale.
# ---------------------------------------------------------------------------
@query(
    "d01_exact_dedup",
    oracle="""
    SELECT
      md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS content_key,
      MIN(doc_id) AS keep_doc_id,
      COUNT(*) AS n_docs
    FROM documents
    GROUP BY 1
    ORDER BY content_key
    """,
)
def d01(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    key = F.md5(
        F.concat_ws(" ", F.array_sort(F.array_distinct(F.split(F.lower(F.col("text")), " "))))
    )
    return (
        spark.table("documents")
        .groupBy(key.alias("content_key"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_docs"))
        .orderBy("content_key")
    )


# ---------------------------------------------------------------------------
# d02 — MinHash signatures + LSH banding -> candidate near-dup pairs.
# The candidate CTE chain is shared: d03 composes its Jaccard
# verification over these candidates, d06 clusters them.
# ---------------------------------------------------------------------------
_ROWS_PER_BAND = MINHASH_K // LSH_BANDS
_DUCK_BAND_COLS = ", ".join(
    f"MAX(CASE WHEN seed % {_ROWS_PER_BAND} = {r} THEN mh END)"
    for r in range(_ROWS_PER_BAND)
)

# Hash each shingle ONCE; derive the k MinHash "permutations" as 14-hex-
# char windows of that one digest parsed to BIGINT (identical parse in
# both engines: Spark conv(x,16,10), DuckDB CAST('0x'||x AS BIGINT)),
# aggregated as k wide MIN columns — no 16x row explosion, no 16x
# shuffle volume; map-side combine reduces to one row per doc before
# the exchange. NUMERIC minhashes matter for the physical plan:
# min(string) forces a codegen-less SortAggregate (sort 260k rows, 16
# string buffers); min(bigint) runs as a whole-stage-codegen
# HashAggregate (measured 2.2s -> 0.9s for the bands stage at sf0.1).
# Bands unpivot from the signature row via stack and join on the raw
# band values — no band-key hashing needed on the Spark side.
_SPARK_SIG_AGGS = ", ".join(
    f"MIN(CAST(conv(substr(h, {s + 1}, 14), 16, 10) AS BIGINT)) AS mh{s}"
    for s in range(MINHASH_K)
)
_BAND_VAL_COLS = ", ".join(f"k{r}" for r in range(_ROWS_PER_BAND))
_SPARK_STACK_ARGS = ", ".join(
    f"{b}, " + ", ".join(f"mh{b * _ROWS_PER_BAND + r}" for r in range(_ROWS_PER_BAND))
    for b in range(LSH_BANDS)
)
_BAND_JOIN = " AND ".join(
    ["a.band_id = b.band_id"] + [f"a.k{r} = b.k{r}" for r in range(_ROWS_PER_BAND)]
)

# The shared near-dup relations below are session memos keyed by the
# documents file's fingerprint (session.memo), each stored once by
# session.materialize.


def _docs_memo(spark: SparkSession, sf_dir: str, name: str, build) -> DataFrame:
    """The session's ``name`` relation over sf_dir's documents,
    materialized once by ``build`` and (re-)registered as the view
    ``__<name>__`` — another sf_dir may have claimed the view name."""
    df = memo(spark, name, [table_path(sf_dir, "documents")], build)
    df.createOrReplaceTempView(f"__{name}__")
    return df


def cached_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the shingle table ONCE per session and corpus. The CTE
    chains below reference `shingles` several times; inline expansion
    would re-scan + re-split the documents table per reference (12
    scans observed in the composed d03 plan). At cluster scale this is
    the persisted signature-input table every near-dup pipeline keeps.

    The materialization is hash-partitioned on doc_id across the full
    parallelism: a small documents.parquet arrives as ONE input split,
    and without the repartition every downstream signature aggregation
    runs single-task (measured: the whole 16-min HashAggregate on one
    core, 2.0s of a 2.7s query). Partitioning by doc_id also pre-aligns
    the per-doc groupBys and the candidate-to-shingle joins, which all
    key on doc_id."""
    return _docs_memo(
        spark,
        sf_dir,
        "shingles",
        lambda: materialize(
            spark.sql(SPARK_SHINGLES)
            .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        ),
    )


def _bands_from_shingles_sql(shingles_sql: str) -> str:
    """THE one spelling of the shingle -> md5 -> 14-hex-window minhash
    -> stack banding chain, parameterized by the shingle source.
    Every consumer (the cached __bands__ materialization, the d30
    occupancy audit, the band_index_build/probe/merge stage ops)
    derives from this text, so signature-width or banding edits can
    never desynchronize a stage output from the graded family."""
    return f"""
    WITH shingles AS ({shingles_sql}),
    hashed AS (SELECT doc_id, md5(sh) AS h FROM shingles),
    sigs AS (SELECT doc_id, {_SPARK_SIG_AGGS} FROM hashed GROUP BY doc_id)
    SELECT doc_id, stack({LSH_BANDS}, {_SPARK_STACK_ARGS}) AS (band_id, {_BAND_VAL_COLS})
    FROM sigs
"""


_SPARK_BANDS_SQL = _bands_from_shingles_sql("SELECT doc_id, sh FROM __shingles__")


def cached_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the LSH band table ONCE per session and corpus (tiny:
    docs x bands rows). The candidate self-join references `bands`
    twice, and Spark inlines CTEs — without materialization the whole
    shingle-scan + 16-min signature aggregation executes once per join
    side; at cluster scale this is the persisted signature/band table a
    production near-dup pipeline maintains."""
    cached_shingles(spark, sf_dir)
    return _docs_memo(
        spark, sf_dir, "bands", lambda: materialize(spark.sql(_SPARK_BANDS_SQL))
    )


#: the raw banded self-join (d02's own query body — the one query whose
#: JOB is producing the pairs keeps computing it inline)
_SPARK_CANDS_JOIN = f"""
    bands AS (SELECT * FROM __bands__),
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON {_BAND_JOIN} AND a.doc_id < b.doc_id
    )"""


def cached_cands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the banded LSH candidate PAIRS once per session and
    corpus. Seven battery queries (d03, d11, d12, d14, d16, d18 directly;
    d17 transitively through its stage inputs) consume the
    identical cands relation and were each re-running the band
    self-join (~40% of d03's wall at sf0.1); at cluster scale this is
    the persisted candidate-pair table a production near-dup pipeline
    maintains alongside the signature/band table (cached_bands)."""
    cached_bands(spark, sf_dir)
    return _docs_memo(
        spark,
        sf_dir,
        "cands",
        lambda: materialize(
            spark.sql(f"WITH {_SPARK_CANDS_JOIN} SELECT doc_a, doc_b FROM cands")
        ),
    )


#: shared CTE chain `bands -> cands` (banded LSH candidate pairs), in
#: each dialect. Prepend with WITH and select from `cands`. The Spark
#: spelling reads the cached __shingles__/__bands__/__cands__ views
#: (see cached_cands); the DuckDB oracle inlines the same SQL chain.
SPARK_CAND_CTES = """
    shingles AS (SELECT doc_id, sh FROM __shingles__),
    bands AS (SELECT * FROM __bands__),
    cands AS (SELECT doc_a, doc_b FROM __cands__)"""

DUCK_CAND_CTES = f"""
    shingles AS ({DUCK_SHINGLES}),
    hashed AS (SELECT doc_id, md5(sh) AS h FROM shingles),
    perm AS (
      SELECT doc_id, s.seed AS seed,
             MIN(CAST(('0x' || substr(h, s.seed + 1, 14)) AS BIGINT)) AS mh
      FROM hashed
      CROSS JOIN (SELECT unnest(range(0, {MINHASH_K})) AS seed) s
      GROUP BY doc_id, s.seed
    ),
    bands AS (
      SELECT doc_id, CAST(seed // {_ROWS_PER_BAND} AS INT) AS band_id,
             concat_ws('-', {_DUCK_BAND_COLS}) AS band_key
      FROM perm
      GROUP BY doc_id, seed // {_ROWS_PER_BAND}
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    )"""


@query(
    "d02_minhash_lsh_pairs",
    oracle=f"""
    WITH {DUCK_CAND_CTES}
    SELECT doc_a, doc_b FROM cands
    ORDER BY doc_a, doc_b
    """,
)
def d02(spark: SparkSession, sf_dir: str) -> DataFrame:
    # d02 is the PRODUCER of the candidate-pair table: it materializes
    # the banded self-join once (cached_cands) and returns it — the
    # downstream consumers (d03/d11/d12/d14/d16/d18, plus d17 through
    # its stage inputs) read the same
    # persisted relation, exactly how a production near-dup pipeline
    # stages signatures -> bands -> pairs.
    load_tables(spark, sf_dir)
    cached_cands(spark, sf_dir)
    return spark.sql("SELECT doc_a, doc_b FROM __cands__ ORDER BY doc_a, doc_b")


# ---------------------------------------------------------------------------
# d03 — n-gram Jaccard near-dup pairs, COMPOSED scale path (default):
# exact Jaccard verified only over d02's banded LSH candidate pairs.
# The shingle self-equi-join of the exact variant has output
# multiplicity Σ(df²) per shingle — the one all-pairs-shaped cost in
# the dedup family; composing over LSH candidates bounds the work by
# |candidates| x avg shingles/doc instead, which is the shape that
# survives a 100 TB corpus. Recall is the LSH recall (bands tuned for
# jaccard >~ 0.5); the exact variant below remains for full-recall
# verification at small scale.
# ---------------------------------------------------------------------------
JACCARD_THRESHOLD = 0.2
MAX_SHINGLE_DF = 200  # exact variant: drop shingles appearing in more docs


def _jaccard_over_cands(cand_ctes: str) -> str:
    """Jaccard verification over the candidate CTE chain — identical
    text in both dialects (shingle spelling differs inside cand_ctes).
    Intersections come from joining candidates to each side's shingles
    (never a shingle self-join)."""
    return f"""
    WITH {cand_ctes},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    common AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cands c
      JOIN shingles sa ON sa.doc_id = c.doc_a
      JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT doc_a, doc_b,
           CAST(n_common AS DOUBLE) / (za.n + zb.n - n_common) AS jaccard
    FROM common
    JOIN sizes za ON za.doc_id = doc_a
    JOIN sizes zb ON zb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (za.n + zb.n - n_common) >= {JACCARD_THRESHOLD}
    ORDER BY doc_a, doc_b
    """


@query("d03_ngram_jaccard", oracle=_jaccard_over_cands(DUCK_CAND_CTES))
def d03(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    cached_cands(spark, sf_dir)
    return spark.sql(_jaccard_over_cands(SPARK_CAND_CTES))


# ---------------------------------------------------------------------------
# d03x — exact (full-recall) n-gram Jaccard join: shingle equi-join with
# a document-frequency prune. Kept as the exact-verification option;
# see d03 for why the composed path is the at-scale default.
# ---------------------------------------------------------------------------
@query(
    "d03x_ngram_jaccard_exact",
    oracle=f"""
    WITH shingles AS ({DUCK_SHINGLES}),
    pruned AS (
      SELECT doc_id, sh FROM shingles
      QUALIFY COUNT(*) OVER (PARTITION BY sh) <= {MAX_SHINGLE_DF}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM pruned GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM pruned a JOIN pruned b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= {JACCARD_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
)
def d03x(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    cached_shingles(spark, sf_dir)
    shingles = spark.table("__shingles__")
    from pyspark.sql.window import Window as W

    pruned = (
        shingles.withColumn("df", F.count("*").over(W.partitionBy("sh")))
        .filter(F.col("df") <= MAX_SHINGLE_DF)
        .drop("df")
    )
    sizes = pruned.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = pruned.alias("a")
    b = pruned.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_common").cast("double") / (F.col("sa.n") + F.col("sb.n") - F.col("n_common"))
    return (
        common.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# d04 — SimHash: 32-bit signature per document from md5-derived bit
# weights. One explode + one groupBy(doc) — linear in corpus size.
# ---------------------------------------------------------------------------
_SIMHASH_DUCK_CORE = f"""
    WITH shingles AS ({DUCK_SHINGLES}),
    bits AS (
      SELECT s.doc_id, b.b,
        CASE WHEN ((instr('0123456789abcdef', substr(md5(s.sh), (b.b // 4) + 1, 1)) - 1)
                   >> (3 - (b.b % 4))) & 1 = 1 THEN 1 ELSE -1 END AS w
      FROM shingles s, (SELECT unnest(range(0, 32)) AS b) b
    )
    SELECT doc_id,
      CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << (31 - b) ELSE 0 END) AS BIGINT) AS simhash
    FROM (SELECT doc_id, b, SUM(w) AS s FROM bits GROUP BY doc_id, b) t
    GROUP BY doc_id
"""


def _simhash_spark_core(shingle_view: str = "__shingles__") -> str:
    """d04's signature relation (no ORDER BY) — shared with d09 and the
    ``simhash_pairs`` registry operator (any (doc_id, sh) relation).

    Same math as the oracle, but as 32 conditional aggregates over the
    shingle rows (no 32x row explosion, single groupBy(doc_id) pass —
    the shape that survives a 100x corpus scale-up)."""
    bit_sums = ", ".join(
        "SUM(CASE WHEN shiftright("
        f"instr('0123456789abcdef', substr(h, {b // 4 + 1}, 1)) - 1, {3 - (b % 4)}"
        f") % 2 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(32)
    )
    assemble = " + ".join(
        f"CASE WHEN s{b} > 0 THEN shiftleft(CAST(1 AS BIGINT), {31 - b}) ELSE CAST(0 AS BIGINT) END"
        for b in range(32)
    )
    return f"""
    WITH shingles AS (SELECT doc_id, sh FROM {shingle_view}),
    hashed AS (SELECT doc_id, md5(sh) AS h FROM shingles),
    bitsums AS (SELECT doc_id, {bit_sums} FROM hashed GROUP BY doc_id)
    SELECT doc_id, CAST({assemble} AS BIGINT) AS simhash
    FROM bitsums
    """


@query("d04_simhash", oracle=_SIMHASH_DUCK_CORE + " ORDER BY doc_id")
def d04(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    cached_shingles(spark, sf_dir)
    return spark.sql(_simhash_spark_core() + " ORDER BY doc_id")


# ---------------------------------------------------------------------------
# d09 — SimHash near-dup pairs: completes the SimHash family (d04 =
# signatures, d09 = pairing). Candidates by the pigeonhole rule — two
# signatures within Hamming distance 3 must agree on at least one of
# four 8-bit blocks — so the join is an equi-join on (block_id,
# block_value), never an all-pairs Hamming scan; the exact
# bit_count(XOR) check then filters candidates. The standard
# Manku/Jain/Sarma web-dedup shape: bucket join cost tracks bucket
# occupancy, corpus scan stays linear.
# ---------------------------------------------------------------------------
SIMHASH_HAM_MAX = 3


@query(
    "d09_simhash_neardup",
    oracle=f"""
    WITH sigs AS ({_SIMHASH_DUCK_CORE}),
    blocks AS (
      SELECT doc_id, simhash, b.b AS block_id,
             (simhash >> (8 * b.b)) & 255 AS block_val
      FROM sigs, (SELECT unnest(range(0, 4)) AS b) b
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sig_a,
                      b.doc_id AS doc_b, b.simhash AS sig_b
      FROM blocks a JOIN blocks b
        ON a.block_id = b.block_id AND a.block_val = b.block_val
       AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
    FROM cands
    WHERE bit_count(xor(sig_a, sig_b)) <= {SIMHASH_HAM_MAX}
    ORDER BY doc_a, doc_b
    """,
)
def d09(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    cached_shingles(spark, sf_dir)
    # the pigeonhole self-join references `blocks` twice and Spark
    # inlines CTEs — without materialization the 32-way signature
    # aggregation executes once per join side (plan-audited). The
    # checkpointed signature table is what a production pipeline
    # persists anyway (same rationale as cached_bands for d02).
    materialize(spark.sql(_simhash_spark_core()), "__d09_sigs__")
    return spark.sql(f"""
    WITH sigs AS (SELECT * FROM __d09_sigs__),
    blocks AS (
      SELECT doc_id, simhash, b.block_id,
             shiftright(simhash, 8 * b.block_id) % 256 AS block_val
      FROM sigs, (SELECT explode(sequence(0, 3)) AS block_id) b
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sig_a,
                      b.doc_id AS doc_b, b.simhash AS sig_b
      FROM blocks a JOIN blocks b
        ON a.block_id = b.block_id AND a.block_val = b.block_val
       AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(sig_a ^ sig_b) AS BIGINT) AS hamming
    FROM cands
    WHERE bit_count(sig_a ^ sig_b) <= {SIMHASH_HAM_MAX}
    ORDER BY doc_a, doc_b
    """)


# ---------------------------------------------------------------------------
# d05 — embedding-cosine near-duplicate pairs: LSH-bucket candidates
# (integer hyperplanes, exact in both engines) -> exact cosine -> pairs
# above threshold. The embedding twin of d02: bucket join instead of an
# all-pairs product, so candidate volume ∝ bucket occupancy, not n².
# ---------------------------------------------------------------------------
EMB_NEARDUP_COSINE = 0.2


@query(
    "d05_embedding_neardup",
    oracle=f"""
    WITH buckets AS ({{duck_buckets}}),
    norms AS ({{duck_norm}}),
    cands AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    dots AS (
      SELECT vec_a, vec_b,
             list_reduce(list_transform(range(1, 65),
                    i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)),
                    (x, y) -> x + y) AS dot
      FROM cands
      JOIN embeddings q ON q.vec_id = vec_a
      JOIN embeddings c ON c.vec_id = vec_b
    )
    SELECT vec_a, vec_b,
           dot / (sqrt(na.norm2) * sqrt(nb.norm2)) AS cosine
    FROM dots
    JOIN norms na ON na.vec_id = vec_a
    JOIN norms nb ON nb.vec_id = vec_b
    WHERE dot / (sqrt(na.norm2) * sqrt(nb.norm2)) >= {EMB_NEARDUP_COSINE}
    ORDER BY vec_a, vec_b
    """,
)
def d05(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import _SPARK_NORM, _bucket_sql, cached_embeddings

    load_tables(spark, sf_dir)
    cached_embeddings(spark)
    return spark.sql(f"""
    WITH buckets AS ({_bucket_sql(True)}),
    norms AS ({_SPARK_NORM}),
    cands AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    dots AS (
      SELECT vec_a, vec_b,
             aggregate(zip_with(q.embedding, c.embedding,
                    (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                    CAST(0 AS DOUBLE), (x, y) -> x + y) AS dot
      FROM cands
      JOIN embeddings q ON q.vec_id = vec_a
      JOIN embeddings c ON c.vec_id = vec_b
    )
    SELECT vec_a, vec_b,
           dot / (sqrt(na.norm2) * sqrt(nb.norm2)) AS cosine
    FROM dots
    JOIN norms na ON na.vec_id = vec_a
    JOIN norms nb ON nb.vec_id = vec_b
    WHERE dot / (sqrt(na.norm2) * sqrt(nb.norm2)) >= {EMB_NEARDUP_COSINE}
    ORDER BY vec_a, vec_b
    """)


# resolve the oracle template against the similarity module's fragments
from .similarity import _DUCK_NORM as _SIM_DUCK_NORM  # noqa: E402
from .similarity import _bucket_sql as _sim_bucket_sql  # noqa: E402

ORACLES["d05_embedding_neardup"] = ORACLES["d05_embedding_neardup"].format(
    duck_buckets=_sim_bucket_sql(False), duck_norm=_SIM_DUCK_NORM
)


# ---------------------------------------------------------------------------
# d06 — near-dup cluster assignment: TRUE connected components over the
# MinHash candidate pairs. Spark iterates min-label propagation to a
# FIXPOINT (each round one join+groupBy over the tiny pairs table,
# lineage truncated per round); the oracle computes
# the same ground truth as a DuckDB recursive transitive closure. Both
# yield min-reachable-id per node, so they agree for any chain length —
# unlike a fixed round count, which under-merges components whose
# diameter exceeds the horizon. The cluster representative (min doc_id)
# is the keep-one selection for dedup.
# ---------------------------------------------------------------------------
CC_MAX_ROUNDS = 64  # safety bound only; the loop exits at fixpoint


def cc_persist_pairs(spark: SparkSession, pairs: DataFrame, name: str) -> DataFrame:
    """Materialize a candidate-pair relation (doc_a, doc_b) through a
    parquet round-trip and return the parquet-backed DataFrame — the
    connected_components ENTRY materialization, exposed so a caller can
    reuse the persisted image (e.g. rebind a pipeline stage view to it,
    so downstream counts of the pair stage read the file instead of
    re-executing the banding plan — measured 2.5 s per re-execution in
    dedup_ann_curation's release_report, guide §1.2 "don't compute
    things twice"). Pass the result to connected_components with
    ``pairs_persisted=True``.

    Each pairs stage ``name`` has one image dir in the session, rewritten
    on every call, so a long-lived session does not pile up one dir per
    run. When ``pairs`` already is that image (the stage view was rebound
    to it by an earlier call), it is returned as is: overwriting the
    files it reads would fail."""
    from ..session import scratch_dir

    path = os.path.join(scratch_dir(spark, "cc_pairs:" + name), "pairs")
    pairs = pairs.select("doc_a", "doc_b")
    if os.path.isdir(path):
        image = read_parquet(spark, path)
        if pairs.sameSemantics(image):
            return image
    pairs.write.mode("overwrite").parquet(path)
    return read_parquet(spark, path)


def connected_components(
    spark: SparkSession,
    pairs: DataFrame,
    ordered: bool = True,
    pairs_persisted: bool = False,
) -> DataFrame:
    """Min-label propagation to fixpoint over an undirected edge list
    (columns doc_a, doc_b). Returns (doc_id, cluster_id,
    is_representative) with cluster_id = min doc_id in the component.

    ``ordered=False`` skips the exit ORDER BY: the sort is applied on
    top of the exit parquet read, so every downstream execution replays
    a global sort of the label table — pure waste for consumers that
    immediately JOIN the labels (the join's exchange destroys order).
    Graded relations that emit labels directly (d06) keep the default.
    ``pairs_persisted=True`` declares ``pairs`` already materialized by
    cc_persist_pairs (skips the internal entry round-trip).

    Scale shape: each round is one shuffle-join of labels against the
    (small, checkpointed) edge table plus a groupBy and three pointer
    jumps — the GraphFrames / Pregel iteration pattern with doubling.
    Rounds needed ~ log16(graph diameter); the fixpoint test is a cheap
    count over the label-diff (labels ≈ |V(pairs)| rows, tiny vs the
    corpus). Lineage is truncated every round and superseded
    checkpoints release their blocks immediately.
    """
    # The per-round materialization must truncate BOTH lineage and
    # Catalyst's ESTIMATED statistics. A plain materialize keeps the
    # origin plan's estimated sizeInBytes, and in an iterative join loop
    # that estimate compounds geometrically round over round — measured:
    # by round ~8 jobs with constant plans/rows/tasks slowed ~6x per
    # round while a driver thread spun in BigInteger.multiplyToomCook3
    # under stats estimation (IterableOnceOps.product), multiplying
    # million-digit size estimates. The LOOP rounds therefore checkpoint
    # in RAM (ckpt_reset: through session.materialize, so plan audits
    # that wrap the checkpoint still see every pre-checkpoint fragment, then
    # the DataFrame is rebuilt from the checkpointed InternalRow RDD —
    # the fresh LogicalRDD carries NO origin stats, so nothing
    # compounds; within the loop every join pairs it against the
    # real-stats edge table, which broadcasts correctly). This replaced
    # an r4-r6 parquet write+read per round: same stats-reset effect,
    # ~4x less per-round latency locally (no file commit protocol), and
    # at cluster scale an executor-RAM checkpoint instead of a DFS
    # round-trip per iteration. The ENTRY (pairs) and EXIT (final
    # labels) stay parquet round-trips: those relations are consumed by
    # arbitrary downstream plans (survivor joins against the corpus),
    # where real file-size stats — not a no-stats default — let
    # Catalyst pick broadcast sides statically (measured: returning
    # no-stats labels regressed d10 by ~4s at sf0.1 through
    # SMJ-planned survivor joins). If the InternalRow rebuild API is
    # unavailable, every round falls back to the parquet path.
    # ``held`` keeps the checkpoints the next statement still reads:
    # superseded rounds are released each round, the rest at the exit.
    from ..session import release, scratch

    workdir = scratch("cc_")
    held: List[DataFrame] = []

    def persist_reset(df: DataFrame, name: str) -> DataFrame:
        path = os.path.join(workdir, name)
        df.write.mode("overwrite").parquet(path)
        return read_parquet(spark, path)

    def ckpt_reset(df: DataFrame, name: str) -> DataFrame:
        ck = materialize(df)
        try:
            jdf = ck._jdf
            new_jdf = spark._jsparkSession.internalCreateDataFrame(
                jdf.queryExecution().toRdd(), jdf.schema(), False
            )
        except Exception:
            release(ck)
            return persist_reset(df, name)
        held.append(ck)
        return DataFrame(new_jdf, spark)

    if not pairs_persisted:
        pairs = persist_reset(pairs.select("doc_a", "doc_b"), "pairs")
    edges = materialize(
        pairs.selectExpr("doc_a AS doc_id", "doc_b AS nbr")
        .unionAll(pairs.selectExpr("doc_b AS doc_id", "doc_a AS nbr"))
        .unionAll(pairs.selectExpr("doc_a AS doc_id", "doc_a AS nbr"))
        .unionAll(pairs.selectExpr("doc_b AS doc_id", "doc_b AS nbr"))
    )
    labels = ckpt_reset(
        edges.groupBy("doc_id").agg(F.min("nbr").alias("lbl")), "labels_init"
    )
    # Per-round shape (r14 re-measured, guide §1): TWO neighbor-min hops
    # then ONE pointer jump (l(v) <- min(l(v), l(l(v)))) per
    # materialization. The r13 shape (one hop + three jumps) rested on a
    # doubling theory ("rounds ~ log16(diameter)") that measurement
    # refutes: on the sf0.1 semantic graph rounds were IDENTICAL at 1,
    # 2, 3 and even 8 jumps (8 rounds) — min-label propagation here is
    # hop-bound (reach grows ~linearly with hops, jumps only shave a
    # constant), while every extra jump is a stats-less label self-join
    # (SMJ, two shuffles) that made rounds strictly slower (interleaved
    # A/B: 1 jump 2.4-3.8s total, 3 jumps 4.0-5.8s). Two hops per round
    # halve the round count (8 -> 5 measured) and with it the per-round
    # fixed costs (checkpoint + fixpoint probe) and the JVM-cumulative
    # latency degradation seen past ~8 checkpointed iterations; total
    # label shuffles per converged run drop from ~24 to ~20. Fixpoint
    # labels are scheme-independent (min reachable id), pinned by the
    # union-find property test and the d06/d08/d10/d31 oracles.
    converged = False
    for rnd in range(CC_MAX_ROUNDS):
        cur = labels.selectExpr("doc_id", "lbl", "lbl AS old_lbl")
        for _ in range(2):
            n = edges.alias("n")
            l_own = cur.alias("l")
            l_nbr = cur.alias("nl")
            cur = (
                n.join(l_own, F.col("n.doc_id") == F.col("l.doc_id"))
                .join(l_nbr, F.col("n.nbr") == F.col("nl.doc_id"))
                .groupBy(
                    F.col("n.doc_id").alias("doc_id"),
                    F.col("l.lbl").alias("lb"),
                    F.col("l.old_lbl").alias("old_lbl"),
                )
                .agg(F.min(F.col("nl.lbl")).alias("min_nbr"))
                .select(
                    "doc_id",
                    F.least(F.col("lb"), F.col("min_nbr")).alias("lbl"),
                    "old_lbl",
                )
            )
        ptr = cur.selectExpr("doc_id AS j_doc", "lbl AS j_lbl")
        new_labels = cur.join(ptr, F.col("lbl") == F.col("j_doc")).select(
            "doc_id",
            F.least(F.col("lbl"), F.col("j_lbl")).alias("lbl"),
            "old_lbl",
        )
        new_labels = ckpt_reset(new_labels, f"labels_r{rnd % 2}")
        changed = new_labels.filter(F.col("lbl") != F.col("old_lbl")).limit(1).count()
        labels = new_labels.select("doc_id", "lbl")
        for ck in held[:-1]:
            release(ck)
        del held[:-1]
        if changed == 0:
            converged = True
            break
    if not converged:
        # Fail LOUD, never silently under-merged: hop-bound propagation
        # means a component of diameter >> 2 * CC_MAX_ROUNDS cannot
        # converge within the cap (measured: a 50k-node shuffled path
        # graph exhausts 64 rounds under EVERY jump setting, r13's
        # included, and the old code returned the truncated labels as
        # if final). Real near-dup graphs are clique-dense with tiny
        # diameters (<= 15 rounds observed across the battery at both
        # SFs and 10x volume); an input that trips this needs a
        # star-contraction CC, not a bigger cap.
        raise RuntimeError(
            f"connected_components did not converge within {CC_MAX_ROUNDS}"
            " rounds (component diameter exceeds the propagation"
            " horizon); labels would be silently under-merged"
        )
    # exit through parquet: downstream survivor joins plan against real
    # file-size stats (see the persist strategy note above)
    out = persist_reset(
        labels.select(
            F.col("doc_id"),
            F.col("lbl").alias("cluster_id"),
            (F.col("doc_id") == F.col("lbl")).alias("is_representative"),
        ),
        "labels_final",
    )
    for ck in [edges, *held]:
        release(ck)
    return out.orderBy("cluster_id", "doc_id") if ordered else out


@query("d06_dedup_clusters")
def d06(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    pairs = QUERIES["d02_minhash_lsh_pairs"](spark, sf_dir)
    return connected_components(spark, pairs)


# oracle: exact connected components as a recursive transitive closure —
# min reachable id per node, the same ground truth the fixpoint loop
# converges to. UNION (not UNION ALL) in the recursive arm dedupes the
# frontier so the closure terminates.
ORACLES["d06_dedup_clusters"] = f"""
    WITH RECURSIVE pairs AS ({ORACLES["d02_minhash_lsh_pairs"].replace("ORDER BY doc_a, doc_b", "")}),
    edges AS (
      SELECT doc_a AS doc_id, doc_b AS nbr FROM pairs
      UNION ALL
      SELECT doc_b AS doc_id, doc_a AS nbr FROM pairs
      UNION ALL
      SELECT doc_a AS doc_id, doc_a AS nbr FROM pairs
      UNION ALL
      SELECT doc_b AS doc_id, doc_b AS nbr FROM pairs
    ),
    reach(doc_id, nbr) AS (
      SELECT doc_id, nbr FROM edges
      UNION
      SELECT r.doc_id, e.nbr FROM reach r JOIN edges e ON e.doc_id = r.nbr
    )
    SELECT doc_id, MIN(nbr) AS cluster_id,
           CASE WHEN doc_id = MIN(nbr) THEN TRUE ELSE FALSE END AS is_representative
    FROM reach
    GROUP BY doc_id
    ORDER BY cluster_id, doc_id
    """


# ---------------------------------------------------------------------------
# d07 — benchmark decontamination: flag training docs sharing word
# 5-grams with a held-out benchmark set (here: doc_id % 50 = 0, a
# deterministic stand-in for an eval-suite corpus). The standard
# n-gram-overlap contamination check every training-data pipeline runs
# before a model sees the corpus.
#
# Scale shape: the benchmark gram set is tiny relative to the corpus
# (eval suites are MBs, corpora are TBs) -> broadcast hash join against
# the streaming training-gram scan; one shuffle to re-group per doc.
# Grams are md5'd so join keys are fixed-width (no long-string compare).
# ---------------------------------------------------------------------------
DECONTAM_N = 5  # words per gram
DECONTAM_MOD = 50  # doc_id % MOD = 0 -> benchmark member


def decontam_sql(spark_dialect: bool, ordered: bool = True) -> str:
    """The d07 relation in either dialect; ``ordered=False`` yields the
    bare relation for composition (t08's curation gate)."""
    if spark_dialect:
        grams = f"""
      SELECT doc_id, explode(array_distinct(
        CASE WHEN size(w) >= {DECONTAM_N} THEN
          transform(sequence(0, size(w) - {DECONTAM_N}),
                    i -> md5(concat_ws(' ', slice(w, i + 1, {DECONTAM_N}))))
        ELSE array(md5(concat_ws(' ', w))) END)) AS g
      FROM (SELECT doc_id, split(text, ' ') AS w FROM documents)
        """
        hint = "/*+ BROADCAST(b) */ "
    else:
        grams = f"""
      SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(w) >= {DECONTAM_N} THEN
          list_transform(range(1, len(w) - {DECONTAM_N - 2}),
                         i -> md5(array_to_string(w[i:i+{DECONTAM_N - 1}], ' ')))
        ELSE [md5(array_to_string(w, ' '))] END)) AS g
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        """
        hint = ""
    return f"""
    SELECT {hint}t.doc_id, CAST(COUNT(b.g) AS BIGINT) AS n_shared_ngrams,
           COUNT(b.g) > 0 AS contaminated
    FROM (SELECT doc_id, g FROM ({grams}) __g__
          WHERE doc_id % {DECONTAM_MOD} <> 0) t
    LEFT JOIN (SELECT DISTINCT g FROM ({grams}) __b__
               WHERE doc_id % {DECONTAM_MOD} = 0) b ON t.g = b.g
    GROUP BY t.doc_id
    {"ORDER BY doc_id" if ordered else ""}
    """


@query("d07_benchmark_decontam", oracle=decontam_sql(False))
def d07(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(decontam_sql(True))


# ---------------------------------------------------------------------------
# d08 — dedup survivor selection: the step that actually SHRINKS the
# corpus. Composes the near-dup clusters (d06) with quality scores (t03)
# and keeps exactly one document per cluster — the highest-scoring
# member, ties broken by lowest doc_id. Docs in no near-dup pair are
# their own singleton cluster and survive. This is the end of the dedup
# pipeline: pairs (d02) -> clusters (d06) -> survivors (d08).
#
# Scale shape: the cluster-label table covers docs that appear in
# near-dup pairs — a minority here, but corpus-scale in a dup-heavy
# corpus — so the left-join back to the corpus carries no forced
# broadcast; it plans against the labels' real parquet stats and
# Catalyst/AQE pick the side (see _survivor_select). Quality scoring is
# per-row expression work on the same scan; survivor choice is one
# window over cluster_id (shuffle bounded by corpus size, same as any
# groupBy — no extra passes).
# ---------------------------------------------------------------------------
def _survivor_select(labels_rel: str, scored_rel: str) -> str:
    """Engine-neutral tail of d08: assign cluster ids over the full
    corpus (COALESCE for singletons), then pick the best-quality member
    per cluster. Same SQL text works in both dialects."""
    # NO broadcast hint on the label join, deliberately: labels cover
    # every doc in any near-dup pair — corpus-scale in a dup-heavy
    # corpus, exactly the regime where dedup runs — and a forced hint
    # would bypass AQE's size checks (8 GB / 512M-row broadcast limit
    # at 100 TB). connected_components exits through a parquet
    # round-trip precisely so this join plans against REAL file-size
    # stats: Catalyst auto-broadcasts the label side when it is
    # actually under the threshold and falls back to a shuffled join
    # when it is not (see the persist strategy note in
    # connected_components).
    return f"""
    SELECT doc_id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
           score,
           ROW_NUMBER() OVER (PARTITION BY cluster_id
                              ORDER BY score DESC, doc_id) = 1 AS keep
    FROM (
      SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id, s.score
      FROM documents d
      LEFT JOIN ({labels_rel}) l ON l.doc_id = d.doc_id
      JOIN ({scored_rel}) s ON s.doc_id = d.doc_id
    ) assigned
    ORDER BY doc_id
    """


@query("d08_dedup_survivors")
def d08(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .textops import _quality_scored

    load_tables(spark, sf_dir)
    pairs = QUERIES["d02_minhash_lsh_pairs"](spark, sf_dir)
    labels = connected_components(spark, pairs, ordered=False).select(
        "doc_id", "cluster_id"
    )
    labels.createOrReplaceTempView("d08_cluster_labels")
    return spark.sql(
        _survivor_select(
            "SELECT doc_id, cluster_id FROM d08_cluster_labels",
            f"SELECT doc_id, score FROM ({_quality_scored(True)}) q",
        )
    )


def _d08_oracle() -> str:
    from .textops import _quality_scored

    closure = f"""
    WITH RECURSIVE pairs AS ({ORACLES["d02_minhash_lsh_pairs"].replace("ORDER BY doc_a, doc_b", "")}),
    cedges AS (
      SELECT doc_a AS doc_id, doc_b AS nbr FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
      UNION ALL SELECT doc_a, doc_a FROM pairs
      UNION ALL SELECT doc_b, doc_b FROM pairs
    ),
    reach(doc_id, nbr) AS (
      SELECT doc_id, nbr FROM cedges
      UNION
      SELECT r.doc_id, e.nbr FROM reach r JOIN cedges e ON e.doc_id = r.nbr
    )
    SELECT doc_id, MIN(nbr) AS cluster_id FROM reach GROUP BY doc_id
    """
    return _survivor_select(
        closure, f"SELECT doc_id, score FROM ({_quality_scored(False)}) q"
    )


ORACLES["d08_dedup_survivors"] = _d08_oracle()


# ---------------------------------------------------------------------------
# d10 — semantic dedup (SemDeDup-style): IVF cells as the blocking
# structure for embedding near-dup clustering. The coarse quantizer
# (shared verbatim with s03 — sampled training, one Lloyd step, full
# assignment) buckets the corpus into cells; exact cosine runs only
# WITHIN a cell; pairs >= tau feed connected components; each cluster
# keeps its min-id representative. Output covers the whole corpus:
# singletons keep themselves.
#
# Scale shape: never all-pairs — work is sum over cells of |cell|^2
# with K sized to the corpus (K ~ N/target_cell); the quantizer trains
# on a 1-in-4 sample; the CC iteration runs over the (tiny) thresholded
# pair set only. This is the standard semantic-dedup pipeline for a
# 100 TB embedding corpus, expressed as three bucketed joins.
# ---------------------------------------------------------------------------
SEMDEDUP_COSINE = 0.35


def _sem_k_expr(table: str) -> str:
    """Corpus-sized IVF cell count for semantic dedup: K ~ N/64 keeps
    the expected cell size (and so the quadratic within-cell cosine
    work per cell) CONSTANT as the corpus grows — the SemDeDup scaling
    rule. A SQL scalar so both engines compute the identical K at any
    SF (8 at the graded sf0.01; 78 at sf0.1; ~N/64 at 100 TB)."""
    return f"(SELECT GREATEST(8, CAST(COUNT(*) / 64 AS INT)) FROM {table})"


def _sem_pair_ctes(spark_dialect: bool, table: str, threshold: float) -> str:
    """Within-cell near-dup pair CTEs over ``assign2``, in the e6
    INTEGER domain end-to-end: components quantize to BIGINT, dots and
    norms are exact associative integer sums (hash-aggregated, codegen
    — the r6 profile showed interpreted array-lambda folds dominating),
    and the cosine threshold becomes an exact DECIMAL(38) cross-
    multiplication: cos >= t  <=>  dot > 0 AND dot^2 * 1e6 >= n2a *
    n2b * t_e3^2 (t_e3 = round(t * 1000)) — no float anywhere, so both
    engines agree cell-for-cell at any parallelism."""
    t_e3 = int(round(threshold * 1000))
    if spark_dialect:
        qdims = f"""
      SELECT vec_id, p.d AS d,
             CAST(floor(CAST(p.pv AS DOUBLE) * 1000000) AS BIGINT) AS q
      FROM {table} LATERAL VIEW posexplode(embedding) p AS d, pv
        """
    else:
        from .similarity import DIM

        qdims = f"""
      SELECT vec_id, t.d AS d,
             CAST(floor(CAST(embedding[t.d + 1] AS DOUBLE) * 1000000) AS BIGINT) AS q
      FROM {table} CROSS JOIN (SELECT unnest(range(0, {DIM})) AS d) t
        """
    # MATERIALIZED markers are DuckDB-only (the duck text never runs on
    # Spark): inside a WITH RECURSIVE statement DuckDB INLINES every
    # multi-referenced CTE instead of sharing it, so the closure-bearing
    # oracles (d10/d17/t20 embed this chain) would re-evaluate the whole
    # IVF+pair pipeline per reference — measured: the sf0.01 oracle went
    # from seconds to >2 minutes once the two-level assignment multiplied
    # the internal reference counts. Materializing the chokepoints
    # restores single evaluation; plain WITH statements are unaffected.
    mat = "" if spark_dialect else "MATERIALIZED "
    return f"""semqdims AS {mat}({qdims}),
    semnorms AS {mat}(
      SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS n2 FROM semqdims GROUP BY vec_id
    ),
    semcands AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM assign2 a JOIN assign2 b ON a.cid = b.cid AND a.vec_id < b.vec_id
    ),
    semdots AS (
      SELECT c.vec_a, c.vec_b, CAST(SUM(qa.q * qb.q) AS BIGINT) AS dot_q
      FROM semcands c
      JOIN semqdims qa ON qa.vec_id = c.vec_a
      JOIN semqdims qb ON qb.vec_id = c.vec_b AND qb.d = qa.d
      GROUP BY c.vec_a, c.vec_b
    ),
    sempairs AS {mat}(
      SELECT vec_a AS doc_a, vec_b AS doc_b
      FROM semdots
      JOIN semnorms na ON na.vec_id = vec_a
      JOIN semnorms nb ON nb.vec_id = vec_b
      WHERE dot_q > 0
        AND CAST(dot_q AS DECIMAL(38,0)) * CAST(dot_q AS DECIMAL(38,0)) * 1000000
            >= CAST(na.n2 AS DECIMAL(38,0)) * CAST(nb.n2 AS DECIMAL(38,0)) * {t_e3 * t_e3}
    )"""


def _semdedup_pairs_sql(
    table: str = "embeddings",
    threshold: float = None,
    k: int = None,
) -> str:
    from .similarity import ivf_assign_ctes

    threshold = SEMDEDUP_COSINE if threshold is None else threshold
    k = _sem_k_expr(table) if k is None else k
    return f"""{ivf_assign_ctes(False, table=table, k=k)},
    {_sem_pair_ctes(False, table, threshold)}"""


def semdedup_pairs_df(
    spark: SparkSession,
    table: str = "embeddings",
    threshold: float = None,
    k: int = None,
) -> DataFrame:
    """Semantic near-dup pairs with an at-scale Spark execution shape:
    the corpus is repartitioned by vec_id before the dims explode, the
    TRAINED CENTROID DIMS and the cell assignment are each materialized
    once (Spark inlines CTEs, so the multi-ref
    two-level routing and the within-cell self-join would otherwise
    re-execute the Lloyd-training chain per reference — measured at 10x
    volume: 177s of a 196s wall was training re-execution), and
    dots/norms/threshold run in the exact integer domain
    (``_sem_pair_ctes``) — values identical to the inline chain the
    DuckDB oracle runs."""
    from .similarity import (
        IVF_TRAIN_MOD,
        ivf_assign_ctes,
        ivf_routing_ctes,
        ivf_train_tail_ctes,
    )

    threshold = SEMDEDUP_COSINE if threshold is None else threshold
    par = spark.sparkContext.defaultParallelism
    view, aview = "__semdedup_vecs__", "__semdedup_cells__"
    tview = "__semdedup_tcdims__"
    spark.table(table).select("vec_id", "embedding").repartition(
        par, "vec_id"
    ).createOrReplaceTempView(view)
    k = _sem_k_expr(view) if k is None else k
    two_level = isinstance(k, str)
    if two_level:
        # corpus-scaled K: the two-level assignment references
        # tdims/icdims/tcdims SEVERAL times each and Spark inlines CTEs,
        # so each intermediate materializes once (measured at 10x
        # volume: 177s of a 196s wall was training re-execution).
        init_sql = ivf_assign_ctes(True, table=view, k=k, init_only=True)
        materialize(spark.sql(
            f"WITH {init_sql} SELECT vec_id, d, q FROM ivf_tdims"
        ), "__semdedup_tdims__")
        materialize(spark.sql(
            f"WITH {init_sql} SELECT cid, d, q FROM ivf_icdims"
        ), "__semdedup_icdims__")
        materialize(spark.sql(
            f"WITH train_set AS (SELECT vec_id, embedding FROM {view}"
            f" WHERE vec_id % {IVF_TRAIN_MOD} = 0),\n"
            + ivf_train_tail_ctes(
                True,
                two_level=two_level,
                tdims="__semdedup_tdims__",
                icdims="__semdedup_icdims__",
            )
            + " SELECT cid, d, q FROM ivf_tcdims"
        ), tview)
        materialize(spark.sql(
            f"WITH {ivf_routing_ctes(True, table=view, two_level=two_level, tcdims=tview)} "
            "SELECT vec_id, cid FROM assign2"
        ), aview)
    else:
        # literal K (the YAML operator's target_cell_size path): flat
        # argmin at both levels references every CTE in the
        # training+routing chain exactly ONCE, so nothing is shared and
        # the intermediate checkpoints bought no re-execution — they
        # only paid 3 extra driver jobs per call (r14 profile: 0.15 +
        # 0.14 + 0.67 s at sf0.1). Run the whole chain as one statement
        # and materialize only the multiply-consumed assignment.
        materialize(spark.sql(
            "WITH " + ivf_assign_ctes(True, table=view, k=k)
            + " SELECT vec_id, cid FROM assign2"
        ), aview)
    return spark.sql(f"""
    WITH assign2 AS (SELECT * FROM {aview}),
    {_sem_pair_ctes(True, view, threshold)}
    SELECT doc_a, doc_b FROM sempairs
    """)


@query("d10_semantic_dedup")
def d10(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    pairs = semdedup_pairs_df(spark)
    cc = connected_components(spark, pairs, ordered=False).select(
        "doc_id", "cluster_id"
    )
    emb = spark.table("embeddings").select("vec_id")
    # plain left join, no forced broadcast: labels cover every vector
    # in any near-dup pair, which is corpus-scale in a dup-heavy
    # corpus; connected_components exits through parquet so the join
    # plans against real file-size stats and Catalyst/AQE broadcast
    # the label side only when it is actually small (d08 shares this
    # rationale — see _survivor_select).
    return (
        emb.join(cc, emb.vec_id == cc.doc_id, "left")
        .select(
            "vec_id",
            F.coalesce(F.col("cluster_id"), F.col("vec_id")).alias("cluster_id"),
            (F.coalesce(F.col("cluster_id"), F.col("vec_id")) == F.col("vec_id")).alias("keep"),
        )
        .orderBy("cluster_id", "vec_id")
    )


ORACLES["d10_semantic_dedup"] = f"""
    WITH RECURSIVE {_semdedup_pairs_sql()},
    -- MATERIALIZED (DuckDB-only hint; this text never runs on Spark):
    -- the recursive closure references semedges per iteration, and an
    -- inlined semedges re-executes the ENTIRE IVF+pair chain each
    -- round — the two-level assignment made that chain heavy enough to
    -- turn the oracle from seconds into minutes.
    semedges AS MATERIALIZED (
      SELECT doc_a AS doc_id, doc_b AS nbr FROM sempairs
      UNION ALL SELECT doc_b, doc_a FROM sempairs
      UNION ALL SELECT doc_a, doc_a FROM sempairs
      UNION ALL SELECT doc_b, doc_b FROM sempairs
    ),
    semreach(doc_id, nbr) AS (
      SELECT doc_id, nbr FROM semedges
      UNION
      SELECT r.doc_id, e.nbr FROM semreach r JOIN semedges e ON e.doc_id = r.nbr
    ),
    semclusters AS (
      SELECT doc_id, MIN(nbr) AS cluster_id FROM semreach GROUP BY doc_id
    )
    SELECT e.vec_id,
           COALESCE(c.cluster_id, e.vec_id) AS cluster_id,
           (COALESCE(c.cluster_id, e.vec_id) = e.vec_id) AS keep
    FROM embeddings e
    LEFT JOIN semclusters c ON c.doc_id = e.vec_id
    ORDER BY cluster_id, vec_id
    """


# ---------------------------------------------------------------------------
# d11 — incremental near-dup check: the production daily-crawl pattern.
# A NEW batch (deterministic stand-in: doc_id % 10 = 0) is checked
# against the persisted corpus signature/band table WITHOUT recomputing
# the corpus: new-batch bands equi-join the full band table, so work is
# |new bands| x bucket width, independent of corpus size. Output is a
# verdict per new doc — is_dup plus the smallest partner id (existing
# or new), NULL when the batch doc is genuinely novel.
# ---------------------------------------------------------------------------
INCR_NEW_MOD = 10  # doc_id % 10 = 0 -> member of the incoming batch


def _incremental_sql(cand_ctes: str) -> str:
    """Identical text both dialects (band spelling differs inside
    cand_ctes, which ends at the `bands` CTE; the cands CTE it also
    defines goes unused here)."""
    return f"""
    WITH {cand_ctes},
    new_docs AS (
      SELECT DISTINCT doc_id FROM bands WHERE doc_id % {INCR_NEW_MOD} = 0
    ),
    hits AS (
      -- the batch side is small BY DESIGN (daily increment vs corpus):
      -- broadcast it so the corpus band table streams past, never
      -- shuffles (DuckDB reads the hint as a comment)
      SELECT /*+ BROADCAST(n) */ DISTINCT n.doc_id, b.doc_id AS partner
      FROM (SELECT * FROM bands WHERE doc_id % {INCR_NEW_MOD} = 0) n
      JOIN bands b
        ON {{join_pred}} AND b.doc_id <> n.doc_id
    ),
    best AS (
      SELECT doc_id, MIN(partner) AS dup_of FROM hits GROUP BY doc_id
    )
    SELECT /*+ BROADCAST(b) */ d.doc_id AS doc_id,
           (b.dup_of IS NOT NULL) AS is_dup,
           b.dup_of AS dup_of
    FROM new_docs d
    LEFT JOIN best b ON b.doc_id = d.doc_id
    ORDER BY d.doc_id
    """


_SPARK_INCR_JOIN = " AND ".join(
    ["n.band_id = b.band_id"] + [f"n.k{r} = b.k{r}" for r in range(_ROWS_PER_BAND)]
)


@query(
    "d11_incremental_dedup",
    oracle=_incremental_sql(DUCK_CAND_CTES).format(
        join_pred="n.band_id = b.band_id AND n.band_key = b.band_key"
    ),
)
def d11(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    cached_cands(spark, sf_dir)
    return spark.sql(_incremental_sql(SPARK_CAND_CTES).format(join_pred=_SPARK_INCR_JOIN))


# ---------------------------------------------------------------------------
# d12 — LSH recall/precision evaluation: before trusting the banded
# candidate generation (d02) as the at-scale near-dup path, measure it
# against exact ground truth (d03x's pruned shingle self-join) at the
# jaccard level the bands are tuned for (>= 0.5). Output is one metrics
# row — the quality gate a production dedup pipeline runs on a sampled
# slice before every corpus-wide run. All ratios divide two BIGINT
# counts (engine-identical); the exact truth join is the expensive part
# and is exactly the cost profile documented for d03x.
# ---------------------------------------------------------------------------
RECALL_EVAL_JACCARD = 0.5


def _recall_eval_sql(cand_ctes: str) -> str:
    return f"""
    WITH {cand_ctes},
    pruned AS (
      SELECT doc_id, sh FROM (
        SELECT doc_id, sh, COUNT(*) OVER (PARTITION BY sh) AS df FROM shingles
      ) fsh WHERE df <= {MAX_SHINGLE_DF}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM pruned GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM pruned a JOIN pruned b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT doc_a, doc_b
      FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common)
            >= {RECALL_EVAL_JACCARD}
    ),
    merged AS (
      -- one pass over each pair set: scalar COUNT subqueries would make
      -- Spark re-execute the (expensive) truth subtree once per count
      SELECT CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_truth,
             CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_cands
      FROM truth t FULL OUTER JOIN cands c
        ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    ),
    counts AS (
      SELECT CAST(COALESCE(SUM(in_truth), 0) AS BIGINT) AS n_truth,
             CAST(COALESCE(SUM(in_cands), 0) AS BIGINT) AS n_cands,
             CAST(COALESCE(SUM(in_truth * in_cands), 0) AS BIGINT) AS n_hits
      FROM merged
    )
    SELECT n_truth, n_cands, n_hits,
           CASE WHEN n_truth = 0 THEN 1.0
                ELSE CAST(n_hits AS DOUBLE) / n_truth END AS recall_at_05,
           CASE WHEN n_cands = 0 THEN 1.0
                ELSE CAST(n_hits AS DOUBLE) / n_cands END AS candidate_precision_at_05
    FROM counts
    """


@query("d12_lsh_recall_eval", oracle=_recall_eval_sql(DUCK_CAND_CTES))
def d12(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    cached_cands(spark, sf_dir)
    return spark.sql(_recall_eval_sql(SPARK_CAND_CTES))


# ---------------------------------------------------------------------------
# d13 — decontamination forensics: d07 tells WHICH training docs share
# benchmark n-grams; d13 reports WHERE — every (doc, word-position,
# gram) occurrence that collides with the held-out benchmark gram set,
# the report an eval-integrity review actually reads. Same scale shape
# as d07: the benchmark gram table is MBs at any corpus size and
# broadcasts; the training gram stream joins against it without a
# shuffle (output ∝ contamination volume, which is the quantity being
# measured). Docs shorter than the gram width have no full n-gram and
# produce no spans (d07's whole-text fallback is a membership test,
# not a span).
# ---------------------------------------------------------------------------
def _decontam_spans_sql(spark_dialect: bool) -> str:
    n = DECONTAM_N
    if spark_dialect:
        tw = "SELECT doc_id, split(text, ' ') AS w FROM documents"
        positions = (
            f"LATERAL VIEW explode(CASE WHEN size(w) >= {n} THEN "
            f"sequence(1, size(w) - {n} + 1) ELSE array() END) t AS pos"
        )
        gram = f"concat_ws(' ', slice(w, pos, {n}))"
        hint = "/*+ BROADCAST(bg) */ "
        tg = f"SELECT doc_id, CAST(pos AS BIGINT) AS pos, {gram} AS gram FROM tw {positions}"
    else:
        tw = "SELECT doc_id, string_split(text, ' ') AS w FROM documents"
        gram = f"array_to_string(w[pos:pos + {n} - 1], ' ')"
        hint = ""
        tg = f"""SELECT doc_id, CAST(p.pos AS BIGINT) AS pos, {gram} AS gram
                 FROM tw CROSS JOIN LATERAL (
                   SELECT unnest(CASE WHEN len(w) >= {n}
                          THEN range(1, len(w) - {n} + 2) ELSE [] END) AS pos) p"""
    return f"""
    WITH tw AS ({tw}),
    tg AS ({tg}),
    bg AS (
      SELECT DISTINCT gram FROM ({tg}) all_g
      WHERE doc_id % {DECONTAM_MOD} = 0
    )
    SELECT {hint}tg.doc_id, tg.pos, tg.gram
    FROM tg JOIN bg ON tg.gram = bg.gram
    WHERE tg.doc_id % {DECONTAM_MOD} <> 0
    ORDER BY doc_id, pos
    """


@query("d13_decontam_spans", oracle=_decontam_spans_sql(False))
def d13(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_decontam_spans_sql(True))


# ---------------------------------------------------------------------------
# d14 — containment similarity over the LSH candidates: C(a,b) =
# |A∩B| / min(|A|,|B|) catches SUBSET duplication (one doc embedded in
# a larger one) that symmetric Jaccard dilutes — the near-dup metric
# for quote/inclusion mining. Same composed scale shape as d03: exact
# verification bounded by |candidates| x shingles/doc, never a shingle
# self-join. Ratio divides two BIGINTs (engine-identical).
# ---------------------------------------------------------------------------
CONTAINMENT_THRESHOLD = 0.6


def _containment_sql(cand_ctes: str) -> str:
    return f"""
    WITH {cand_ctes},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    common AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cands c
      JOIN shingles sa ON sa.doc_id = c.doc_a
      JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT doc_a, doc_b, n_common,
           CAST(n_common AS DOUBLE) / LEAST(za.n, zb.n) AS containment,
           CASE WHEN za.n <= zb.n THEN doc_a ELSE doc_b END AS contained_doc
    FROM common
    JOIN sizes za ON za.doc_id = doc_a
    JOIN sizes zb ON zb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / LEAST(za.n, zb.n) >= {CONTAINMENT_THRESHOLD}
    ORDER BY doc_a, doc_b
    """


@query("d14_containment_pairs", oracle=_containment_sql(DUCK_CAND_CTES))
def d14(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    cached_cands(spark, sf_dir)
    return spark.sql(_containment_sql(SPARK_CAND_CTES))


# ---------------------------------------------------------------------------
# d15 — link-analysis centrality over the near-dup pair graph (PageRank,
# 3 unrolled iterations): which documents sit at the center of large
# duplication neighborhoods — the triage signal for template/boilerplate
# families that pairwise thresholds miss. Exactness: ranks live in e9
# fixed-point BIGINTs; every iteration is floor divisions and integer
# multiply-adds (identical in both engines), so a "float" algorithm
# grades cell-exact. Plan: edges/degrees build once from the shared LSH
# candidate CTEs; each iteration is one join + one aggregation on
# doc_id — the GraphFrames/Pregel shape, with iteration count fixed so
# the oracle unrolls the same three steps. Headroom: 85 * sum(r//deg)
# <= 85 * 1e9 << 2^63 at any graph size.
# ---------------------------------------------------------------------------
_PR_ITERS = 3


def _pagerank_sql(spark_dialect: bool) -> str:
    idiv = "DIV" if spark_dialect else "//"
    if spark_dialect:
        # Spark INLINES CTEs: with edges/deg in the WITH chain, every
        # iteration would re-execute the LSH candidate join (3x-9x; the
        # r4 CTE-re-execution finding). d15() materializes them as
        # checkpointed views instead.
        head = """WITH nn AS (SELECT COUNT(*) AS n FROM __d15_deg__),
    edges AS (SELECT * FROM __d15_edges__),
    deg AS (SELECT * FROM __d15_deg__),"""
    else:
        head = f"""WITH {DUCK_CAND_CTES},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM cands
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM cands
    ),
    deg AS (SELECT src AS doc_id, COUNT(*) AS deg FROM edges GROUP BY src),
    nn AS (SELECT COUNT(*) AS n FROM deg),"""
    parts = [head + """
    r0 AS (
      SELECT doc_id, CAST(1000000000 """ + idiv + """ nn.n AS BIGINT) AS r
      FROM deg CROSS JOIN nn
    )"""]
    for k in range(1, _PR_ITERS + 1):
        parts.append(f""",
    r{k} AS (
      SELECT d.doc_id,
             CAST(150000000 {idiv} nn.n
                  + (85 * COALESCE(SUM(pr.r {idiv} pd.deg), 0)) {idiv} 100
                  AS BIGINT) AS r
      FROM deg d
      CROSS JOIN nn
      LEFT JOIN edges e ON e.dst = d.doc_id
      LEFT JOIN r{k - 1} pr ON pr.doc_id = e.src
      LEFT JOIN deg pd ON pd.doc_id = e.src
      GROUP BY d.doc_id, nn.n
    )""")
    parts.append(f"""
    SELECT d.doc_id AS doc_id, d.deg AS degree, r{_PR_ITERS}.r AS rank_e9
    FROM deg d JOIN r{_PR_ITERS} ON r{_PR_ITERS}.doc_id = d.doc_id
    ORDER BY rank_e9 DESC, doc_id
    """)
    return "".join(parts)


@query("d15_graph_centrality", oracle=_pagerank_sql(False))
def d15(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    cached_bands(spark, sf_dir)
    pairs = QUERIES["d02_minhash_lsh_pairs"](spark, sf_dir)
    from pyspark.sql import functions as F

    a = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    b = pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    edges = materialize(a.unionAll(b), "__d15_edges__")
    materialize(
        edges.groupBy(F.col("src").alias("doc_id")).agg(F.count("*").alias("deg")),
        "__d15_deg__",
    )
    return spark.sql(_pagerank_sql(True))


# ---------------------------------------------------------------------------
# d16 — edit-distance verification of LSH candidates: the third verify
# lens beside Jaccard (d03) and containment (d14). Shingle overlap is
# blind to small in-place edits; levenshtein (built into BOTH engines
# with identical integer semantics) measures them directly, and running
# it only over the banded candidates keeps cost |candidates| x O(n*m)
# instead of corpus^2. The dup verdict compares integers (dist * 5 <=
# max length ⇔ normalized distance <= 0.2) and the reported ratio is
# e6-floored — cell-exact everywhere.
# ---------------------------------------------------------------------------
def _editdist_sql(spark_dialect: bool) -> str:
    ctes = SPARK_CAND_CTES if spark_dialect else DUCK_CAND_CTES
    return f"""
    WITH {ctes}
    SELECT c.doc_a AS doc_a, c.doc_b AS doc_b,
           levenshtein(da.text, db.text) AS edit_dist,
           CAST(floor(CAST(levenshtein(da.text, db.text) AS DOUBLE) * 1000000
                      / greatest(length(da.text), length(db.text))) AS BIGINT)
             AS rel_dist_e6,
           levenshtein(da.text, db.text) * 5
             <= greatest(length(da.text), length(db.text)) AS is_dup
    FROM cands c
    JOIN documents da ON da.doc_id = c.doc_a
    JOIN documents db ON db.doc_id = c.doc_b
    ORDER BY doc_a, doc_b
    """


@query("d16_editdist_verify", oracle=_editdist_sql(False))
def d16(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    cached_cands(spark, sf_dir)
    return spark.sql(_editdist_sql(True))


# ---------------------------------------------------------------------------
# d17 — the dedup CASCADE verdict: one per-doc relation answering the
# production question "did this doc survive, and if not, which stage
# dropped it" — exact content dedup (d01), near-dup survivor selection
# (d08's quality-ranked clusters), then semantic dedup (d10; vec_id ≡
# doc_id, d05's convention). Stages compose by doc_id joins only — each
# stage's own plan (bucketed LSH, IVF cells, CC) is reused verbatim, so
# the cascade adds three hash joins on top of already-audited shapes.
# Drop attribution is first-stage-wins, mirroring a real pipeline where
# later stages never see earlier drops.
# ---------------------------------------------------------------------------
def _cascade_sql() -> str:
    exact = ORACLES["d01_exact_dedup"].replace("ORDER BY content_key", "")
    near = ORACLES["d08_dedup_survivors"].replace("ORDER BY doc_id", "")
    sem = ORACLES["d10_semantic_dedup"].replace("ORDER BY cluster_id, vec_id", "")
    return f"""
    WITH exact_keep AS (SELECT keep_doc_id AS doc_id FROM ({exact}) x),
    near_keep AS (SELECT doc_id, keep FROM ({near}) x),
    sem_keep AS (SELECT vec_id AS doc_id, keep FROM ({sem}) x)
    SELECT d.doc_id AS doc_id,
           e.doc_id IS NOT NULL AS keep_exact,
           COALESCE(n.keep, TRUE) AS keep_near,
           COALESCE(s.keep, TRUE) AS keep_sem,
           e.doc_id IS NOT NULL AND COALESCE(n.keep, TRUE) AND COALESCE(s.keep, TRUE) AS keep,
           CASE WHEN e.doc_id IS NULL THEN 'exact'
                WHEN NOT COALESCE(n.keep, TRUE) THEN 'near_dup'
                WHEN NOT COALESCE(s.keep, TRUE) THEN 'semantic'
                ELSE 'kept' END AS drop_stage
    FROM documents d
    LEFT JOIN exact_keep e ON e.doc_id = d.doc_id
    LEFT JOIN near_keep n ON n.doc_id = d.doc_id
    LEFT JOIN sem_keep s ON s.doc_id = d.doc_id
    ORDER BY d.doc_id
    """


def d17(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    t = load_tables(spark, sf_dir)
# each stage's verdict is a per-doc relation derived from a much
    # heavier subplan (LSH bands / ranked clusters / IVF cells);
    # materialize the verdicts once so the three-way join doesn't
    # re-execute those subtrees per consumer (38s -> ~4s at sf0.1; the
    # production pattern is the same — stage outputs persist, the
    # cascade joins the persisted verdicts)
    exact = materialize(
        QUERIES["d01_exact_dedup"](spark, sf_dir)
        .select(F.col("keep_doc_id").alias("doc_id"), F.lit(True).alias("__e__"))
    )
    near = materialize(
        QUERIES["d08_dedup_survivors"](spark, sf_dir)
        .select("doc_id", F.col("keep").alias("__n__"))
    )
    sem = materialize(
        QUERIES["d10_semantic_dedup"](spark, sf_dir)
        .select(F.col("vec_id").alias("doc_id"), F.col("keep").alias("__s__"))
    )
    keep_exact = F.coalesce(F.col("__e__"), F.lit(False))
    keep_near = F.coalesce(F.col("__n__"), F.lit(True))
    keep_sem = F.coalesce(F.col("__s__"), F.lit(True))
    return (
        t["documents"]
        .select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .join(sem, "doc_id", "left")
        .select(
            "doc_id",
            keep_exact.alias("keep_exact"),
            keep_near.alias("keep_near"),
            keep_sem.alias("keep_sem"),
            (keep_exact & keep_near & keep_sem).alias("keep"),
            F.when(~keep_exact, "exact")
            .when(~keep_near, "near_dup")
            .when(~keep_sem, "semantic")
            .otherwise("kept")
            .alias("drop_stage"),
        )
        .orderBy("doc_id")
    )


QUERIES["d17_dedup_cascade"] = d17
ORACLES["d17_dedup_cascade"] = _cascade_sql()


# ---------------------------------------------------------------------------
# d18 — MinHash ESTIMATE accuracy verdict (q46/q53's sketch contract
# applied to minhash): for every LSH candidate pair, the Jaccard
# ESTIMATE (matching signature components / K) is asserted against the
# EXACT shingle Jaccard within a ±0.35 band — the check a production
# pipeline runs before trusting signatures instead of shingle joins at
# 100 TB. The whole comparison is integer/rational: the band test
# cross-multiplies |m*u - K*nc| * 100 <= 35 * K * u, so both engines
# agree cell-for-cell. Completes the sketch-verdict trilogy (q46 HLL,
# q53 quantiles, d18 minhash) plus d12's set-level recall/precision.
# ---------------------------------------------------------------------------
_SPARK_PERM_STACK = ", ".join(f"{s}, mh{s}" for s in range(MINHASH_K))


def _minhash_verdict_sql(spark_dialect: bool) -> str:
    if spark_dialect:
        ctes = f"""{SPARK_CAND_CTES},
    hashed AS (SELECT doc_id, md5(sh) AS h FROM __shingles__),
    sigs AS (SELECT doc_id, {_SPARK_SIG_AGGS} FROM hashed GROUP BY doc_id),
    perm AS (SELECT doc_id, stack({MINHASH_K}, {_SPARK_PERM_STACK}) AS (seed, mh) FROM sigs)"""
    else:
        ctes = DUCK_CAND_CTES
    return f"""
    WITH {ctes},
    matches AS (
      SELECT c.doc_a, c.doc_b,
             SUM(CASE WHEN pa.mh = pb.mh THEN 1 ELSE 0 END) AS m
      FROM cands c
      JOIN perm pa ON pa.doc_id = c.doc_a
      JOIN perm pb ON pb.doc_id = c.doc_b AND pb.seed = pa.seed
      GROUP BY c.doc_a, c.doc_b
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    common AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS nc
      FROM cands c
      JOIN shingles sa ON sa.doc_id = c.doc_a
      JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT m.doc_a, m.doc_b,
           CAST(m.m AS INT) AS mh_matches,
           CAST(m.m * {1000000 // MINHASH_K} AS BIGINT) AS est_jaccard_e6,
           CAST(COALESCE(cm.nc, 0) AS DOUBLE)
             / (za.n + zb.n - COALESCE(cm.nc, 0)) AS exact_jaccard,
           ABS(m.m * (za.n + zb.n - COALESCE(cm.nc, 0)) - {MINHASH_K} * COALESCE(cm.nc, 0)) * 100
             <= 35 * {MINHASH_K} * (za.n + zb.n - COALESCE(cm.nc, 0)) AS within_band
    FROM matches m
    LEFT JOIN common cm ON cm.doc_a = m.doc_a AND cm.doc_b = m.doc_b
    JOIN sizes za ON za.doc_id = m.doc_a
    JOIN sizes zb ON zb.doc_id = m.doc_b
    ORDER BY m.doc_a, m.doc_b
    """


def d18(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    cached_shingles(spark, sf_dir)
    cached_cands(spark, sf_dir)
    return spark.sql(_minhash_verdict_sql(True))


QUERIES["d18_minhash_accuracy"] = d18
ORACLES["d18_minhash_accuracy"] = _minhash_verdict_sql(False)


# ---------------------------------------------------------------------------
# d19/d20 — exact substring-level dedup (the suffix-array dedup of
# "Deduplicating Training Data Makes Language Models Better", Lee et
# al. 2022, re-expressed shuffle-first): find every maximal text span
# of >= SPAN_GRAM chars that occurs in >= 2 distinct documents, then
# (d20) cut those spans out and fingerprint the cleaned text. Where the
# paper builds one giant suffix array on a single machine, the
# distributed spelling is position-gram fingerprinting: one generator
# pass emits a 16-hex md5 fingerprint per character position (catches
# every duplicated span >= SPAN_GRAM at position granularity 1), one
# partial-aggregated groupBy finds fingerprints spanning >= 2 docs, and
# a per-doc island merge (windows PARTITIONED BY doc_id — never global)
# coalesces overlapping gram hits into maximal spans. Scale: the
# position explosion is |text| rows/doc — the same blow-up the
# MapReduce variant of the paper accepts — and the shuffle is keyed on
# fixed-width fingerprints with map-side combine. When corpus size
# demands thinning the position stream, the correct knob is
# SELF-SYNCHRONIZING selection (winnowing — keep positions whose
# fingerprint is minimal in a sliding window, exactly t04's scheme):
# it picks the SAME positions inside a duplicated region regardless of
# the region's offset in each doc. Naive fixed-stride sampling does
# NOT work here — two docs holding the same span at different phases
# mod stride sample disjoint gram sets and the duplicate is missed.
# Exactness: md5-over-substr is engine-identical, island merge is pure
# integer window arithmetic.
# Reference parity: the reference has no substring dedup (core/flow.py
# delegates to DuckDB's relational surface); this extends the dedup
# family the same way d02-d18 do.
# ---------------------------------------------------------------------------
SPAN_GRAM = 40  # minimum duplicated-span length, chars


def _span_positions_cte(spark_dialect: bool) -> str:
    k = SPAN_GRAM
    gen_parts = int(os.environ.get("SPARK_GRAFT_GEN_PARTITIONS", "64"))
    step = (
        f"explode(sequence(1, length(text) - {k} + 1))"
        if spark_dialect
        else f"unnest(range(1, length(text) - {k} + 2))"
    )
    if spark_dialect:
        # REPARTITION before the explode: the documents scan is a
        # handful of input splits, and without it the |text|-per-doc
        # position blow-up (and every hash) runs at scan parallelism —
        # measured 20s -> ~2s at sf0.1. Cheap (5k slim rows) and at
        # cluster scale it spreads generator work over all executors.
        # The width is env-parameterized (SPARK_GRAFT_GEN_PARTITIONS,
        # local default 64 — the measured knee on local[32]): a fixed
        # constant tuned for one machine would CAP generator
        # parallelism on a real cluster, where this should be sized to
        # executor cores (guide §2: scale-dependent settings stay
        # conf/env-parameterized with local defaults). Partition count
        # is plan-only — the span relation is identical at any width.
        # Fingerprint: the fp is a pure EQUALITY key (grouped per
        # engine, never compared across engines or emitted), so the
        # Spark side uses xxhash64 — one 8-byte BIGINT per position
        # instead of md5's crypto hash + hex encode + 16-char string —
        # halving the bytes entering the PARTITION BY fp shuffle
        # (guide §2.3 narrower types) and cutting generator CPU
        # (measured interleaved A/B at sf0.1: 3.02/4.00s -> 2.81/3.15s,
        # span sets bit-identical). Both spellings are 64-bit
        # fingerprints, so the (negligible) collision class is
        # unchanged; true duplicate substrings hash equal under each
        # engine's own function, which is all the span join needs.
        return f"""
    positions AS (
      SELECT doc_id, n_chars, p,
             xxhash64(substr(text, p, {k})) AS fp
      FROM (SELECT doc_id, n_chars, text, {step} AS p
            FROM (SELECT /*+ REPARTITION({gen_parts}) */ doc_id, n_chars, text
                  FROM documents WHERE length(text) >= {k}))
    )"""
    return f"""
    positions AS (
      SELECT doc_id, n_chars, p,
             substr(md5(substr(text, CAST(p AS INTEGER), {k})), 1, 16) AS fp
      FROM documents, {step} AS t(p)
      WHERE length(text) >= {k}
    )"""


def _span_ctes(spark_dialect: bool) -> str:
    """CTE chain positions -> hits -> islands -> spans.

    The hits step is deliberately NOT the textbook "GROUP BY fp HAVING
    COUNT(DISTINCT doc_id) >= 2 then join back" spelling: Spark inlines
    non-materialized CTEs, so that join would run the corpus-sized
    position generator (explode + md5) TWICE, and the distinct
    aggregate plans an Expand. Instead, "this fingerprint occurs in >=
    2 distinct documents" is exactly MIN(doc_id) <> MAX(doc_id) over a
    window partitioned by fingerprint — ONE generator pass, ONE
    shuffle keyed on the (high-cardinality, fixed-width) fingerprint,
    no Expand, no join-back. Identical spelling on both engines."""
    k = SPAN_GRAM
    hits = """
    hits AS (
      SELECT doc_id, n_chars, p FROM (
        SELECT doc_id, n_chars, p,
               MIN(doc_id) OVER (PARTITION BY fp) AS d_min,
               MAX(doc_id) OVER (PARTITION BY fp) AS d_max
        FROM positions)
      WHERE d_min <> d_max
    ),"""
    return f"""{_span_positions_cte(spark_dialect)},{hits}
    islands AS (
      SELECT doc_id, n_chars, p,
             CASE WHEN MAX(p + {k}) OVER w IS NULL OR p > MAX(p + {k}) OVER w
                  THEN 1 ELSE 0 END AS new_island
      FROM hits
      WINDOW w AS (PARTITION BY doc_id ORDER BY p
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    numbered AS (
      SELECT doc_id, n_chars, p,
             SUM(new_island) OVER (PARTITION BY doc_id ORDER BY p
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM islands
    ),
    spans AS (
      SELECT doc_id, n_chars, island,
             MIN(p) AS span_start, MAX(p) + {k} AS span_end
      FROM numbered GROUP BY doc_id, n_chars, island
    )"""


def cached_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the maximal-duplicated-span table ONCE per
    session and corpus as `__spans__`. The rewrite query (d20) references
    `spans` twice (inner gaps + the per-doc trailing-gap branch);
    inline CTE expansion would run the corpus-sized position chain
    per reference (measured 18.5s -> 7.6s at 10x-documents volume).
    Spans are one row per maximal span — the compact audit relation a
    production substring-dedup stage persists between detect and
    rewrite anyway (the paper's pipeline writes exactly this list)."""
    return _docs_memo(
        spark,
        sf_dir,
        "spans",
        lambda: materialize(
            spark.sql(
                f"WITH {_span_ctes(True)} "
                "SELECT doc_id, n_chars, span_start, span_end FROM spans"
            )
        ),
    )


_SPANS_VIEW_CTE = "spans AS (SELECT * FROM __spans__)"


def _substring_dedup_sql(spark_dialect: bool, from_view: bool = False) -> str:
    ctes = _SPANS_VIEW_CTE if from_view else _span_ctes(spark_dialect)
    return f"""
    WITH {ctes}
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(span_end - span_start) AS BIGINT) AS dup_chars,
           CAST(SUM(span_end - span_start) AS DOUBLE) / MAX(n_chars) AS dup_ratio
    FROM spans
    GROUP BY doc_id
    ORDER BY doc_id
    """


@query("d19_substring_dedup", oracle=_substring_dedup_sql(False))
def d19(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    cached_spans(spark, sf_dir)
    return spark.sql(_substring_dedup_sql(True, from_view=True))


def _substring_rewrite_sql(spark_dialect: bool, from_view: bool = False) -> str:
    # kept segments = the gaps between maximal spans (leading gap via
    # LAG default 1, trailing gap via one per-doc aggregate row);
    # zero-length gaps stay in the aggregation so fully-duplicated docs
    # (clean_chars = 0) still surface with clean_key = md5('').
    if spark_dialect:
        agg = "listagg(frag, '') WITHIN GROUP (ORDER BY g_start)"
    else:
        agg = "string_agg(frag, '' ORDER BY g_start)"
    ctes = _SPANS_VIEW_CTE if from_view else _span_ctes(spark_dialect)
    return f"""
    WITH {ctes},
    gaps AS (
      SELECT doc_id, n_chars,
             COALESCE(LAG(span_end) OVER (PARTITION BY doc_id
                      ORDER BY span_start), 1) AS g_start,
             span_start AS g_end
      FROM spans
      UNION ALL
      SELECT doc_id, n_chars, MAX(span_end) AS g_start,
             MAX(n_chars) + 1 AS g_end
      FROM spans GROUP BY doc_id, n_chars
    ),
    frags AS (
      SELECT g.doc_id, g.n_chars, g.g_start,
             substr(d.text, CAST(g.g_start AS INTEGER),
                    CAST(g.g_end - g.g_start AS INTEGER)) AS frag
      FROM gaps g JOIN documents d USING (doc_id)
    )
    SELECT doc_id,
           CAST(MAX(n_chars) AS BIGINT) AS orig_chars,
           CAST(MAX(n_chars) - SUM(length(frag)) AS BIGINT) AS removed_chars,
           CAST(SUM(length(frag)) AS BIGINT) AS clean_chars,
           md5({agg}) AS clean_key
    FROM frags
    GROUP BY doc_id
    ORDER BY doc_id
    """


@query("d20_substring_dedup_rewrite", oracle=_substring_rewrite_sql(False))
def d20(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    cached_spans(spark, sf_dir)
    return spark.sql(_substring_rewrite_sql(True, from_view=True))


# ---------------------------------------------------------------------------
# d21 — bloom-prefiltered decontamination: d07's n-gram contamination
# check re-staged for the regime where the BENCHMARK gram table itself
# is too large to broadcast raw (a full eval-suite union is GBs of
# grams; a 100 TB corpus cannot shuffle-join against it per gram).
# The production pattern: broadcast a BLOOM BITMAP of the benchmark
# grams (kilobytes-to-MBs regardless of gram count), prefilter the
# corpus gram stream through it map-side, and run the exact join only
# over the tiny candidate stream — false positives are killed by the
# exact join, false negatives are impossible, so the final relation is
# bit-identical to d07's while the shuffle carries ~FP-rate of the
# corpus instead of all of it. (Spark's AQE injects the same shape
# automatically for selective joins via
# spark.sql.optimizer.runtime.bloomFilter.enabled; spelling it
# explicitly makes the stage plannable on BOTH engines and exposes the
# bloom's candidate/false-positive accounting as graded columns.)
#
# The bitmap is represented relationally as its SET BIT POSITIONS
# (DISTINCT over k=2 probe positions per bench gram, <= BLOOM_BITS
# rows of one integer) — the broadcastable content of the bitmap, with
# membership = one broadcast equi-join per probe. Probes parse two
# disjoint 8-hex windows of the gram's md5 (the gram key already IS an
# md5 hex string): pure integer arithmetic, identical in Spark
# (conv(x,16,10)) and DuckDB (CAST('0x'||x AS BIGINT)), so the
# candidate counts — not just the exact counts — grade cell-exact.
# Reference parity: extends d07 (reference has no dedup/decontam
# operators; core/flow.py delegates relational work to DuckDB).
# ---------------------------------------------------------------------------
BLOOM_BITS = 16384  # 2^14-bit bitmap; small enough to show real FPs


def _bloom_decontam_sql(spark_dialect: bool, bench_rel: str | None = None) -> str:
    mod, m = DECONTAM_MOD, BLOOM_BITS
    if spark_dialect:
        grams = f"""
      SELECT doc_id, explode(array_distinct(
        CASE WHEN size(w) >= {DECONTAM_N} THEN
          transform(sequence(0, size(w) - {DECONTAM_N}),
                    i -> md5(concat_ws(' ', slice(w, i + 1, {DECONTAM_N}))))
        ELSE array(md5(concat_ws(' ', w))) END)) AS g
      FROM (SELECT doc_id, split(text, ' ') AS w FROM documents
            WHERE doc_id % {mod} {{pred}} 0)
        """
        h1 = f"CAST(conv(substr(g, 1, 8), 16, 10) AS BIGINT) % {m}"
        h2 = f"CAST(conv(substr(g, 9, 8), 16, 10) AS BIGINT) % {m}"
        cand_hint = "/*+ BROADCAST(x), BROADCAST(y) */ "
        exact_hint = "/*+ BROADCAST(b) */ "
    else:
        grams = f"""
      SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(w) >= {DECONTAM_N} THEN
          list_transform(range(1, len(w) - {DECONTAM_N - 2}),
                         i -> md5(array_to_string(w[i:i+{DECONTAM_N - 1}], ' ')))
        ELSE [md5(array_to_string(w, ' '))] END)) AS g
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
            WHERE doc_id % {mod} {{pred}} 0)
        """
        h1 = f"CAST('0x' || substr(g, 1, 8) AS BIGINT) % {m}"
        h2 = f"CAST('0x' || substr(g, 9, 8) AS BIGINT) % {m}"
        cand_hint = ""
        exact_hint = ""
    bench_grams = grams.format(pred="=")
    train_grams = grams.format(pred="<>")
    if bench_rel == "__grams_only__":
        # the staged Spark path materializes exactly this relation
        return f"SELECT DISTINCT g FROM ({bench_grams}) __b__"
    if bench_rel is None:
        bench_cte = f"bench AS (SELECT DISTINCT g FROM ({bench_grams}) __b__),"
        bench = "bench"
    else:
        # Spark runtime path: the benchmark gram set is checkpointed by
        # the caller — its three consumers (two bloom probe projections
        # + the exact join) would otherwise each re-run the gram explode
        # over the raw documents slice (PERF.md r27: Spark re-executes a
        # CTE per reference).
        bench_cte = ""
        bench = bench_rel
    return f"""
    WITH {bench_cte}
    bits AS (
      SELECT DISTINCT b FROM (
        SELECT {h1} AS b FROM {bench}
        UNION ALL
        SELECT {h2} AS b FROM {bench}) __p__
    ),
    train AS (
      SELECT doc_id, g, {h1} AS b1, {h2} AS b2 FROM ({train_grams}) __t__
    ),
    cand AS (
      SELECT {cand_hint}t.doc_id, t.g
      FROM train t JOIN bits x ON t.b1 = x.b JOIN bits y ON t.b2 = y.b
    ),
    exact AS (
      SELECT {exact_hint}c.doc_id,
             COUNT(*) AS n_cand, COUNT(b.g) AS n_shared
      FROM cand c LEFT JOIN {bench} b ON c.g = b.g
      GROUP BY c.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(e.n_cand, 0) AS BIGINT) AS n_bloom_candidates,
           CAST(COALESCE(e.n_cand - e.n_shared, 0) AS BIGINT)
             AS n_bloom_false_pos,
           CAST(COALESCE(e.n_shared, 0) AS BIGINT) AS n_shared_ngrams,
           COALESCE(e.n_shared, 0) > 0 AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % {mod} <> 0) d
    LEFT JOIN exact e ON d.doc_id = e.doc_id
    ORDER BY d.doc_id
    """


@query("d21_bloom_decontam", oracle=_bloom_decontam_sql(False))
def d21(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    materialize(spark.sql(
        _bloom_decontam_sql(True, bench_rel="__grams_only__")
    ), "__d21_bench__")
    return spark.sql(_bloom_decontam_sql(True, bench_rel="__d21_bench__"))


# ---------------------------------------------------------------------------
# d22 — triangle counting over the near-dup candidate graph: the graph
# primitive that turns a pair list into CLUSTER DENSITY evidence — a
# doc participating in many triangles sits inside a tight clique of
# near-copies (boilerplate/template families), while isolated edges
# are often banding accidents; curation pipelines use triangle
# participation to pick which clusters deserve aggressive collapsing.
# Algorithm: the edge-iterator join with a total order on vertices —
# edges carry doc_a < doc_b (cands' contract), so each triangle
# x < y < z is found exactly once as e1(x,y) ⋈ e2(y,z) ⋈ e3(x,z):
# two equi-joins keyed on vertex ids, no direction flips, no dedup
# pass. Scale: this is the MapReduce triangle enumeration of
# Suri & Vassilvitskii (2011) with the id-order playing the degree-
# order role; joins shuffle on vertex keys and output is bounded by
# the true triangle count. Membership rows come from ONE pass over
# the triangle relation (explode/unnest of the 3 corners).
# Reference parity: no counterpart (reference delegates to DuckDB);
# extends the d06/d15 dedup-graph family.
# ---------------------------------------------------------------------------
def _triangle_tail_sql(e: str, spark_dialect: bool) -> str:
    corners = (
        "LATERAL VIEW explode(array(x, y, z)) t AS doc_id"
        if spark_dialect
        else ", unnest([x, y, z]) AS t(doc_id)"
    )
    return f"""
    WITH tri AS (
      SELECT e1.doc_a AS x, e1.doc_b AS y, e2.doc_b AS z
      FROM {e} e1
      JOIN {e} e2 ON e2.doc_a = e1.doc_b
      JOIN {e} e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    ),
    members AS (SELECT doc_id FROM tri {corners})
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM members
    GROUP BY doc_id
    ORDER BY n_triangles DESC, doc_id
    LIMIT 20
    """


@query(
    "d22_triangle_count",
    oracle=f"""
    WITH {DUCK_CAND_CTES},
    {_triangle_tail_sql("cands", False).strip()[len("WITH "):]}
    """,
)
def d22(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    cached_cands(spark, sf_dir)
    return spark.sql(_triangle_tail_sql("__cands__", True))


# ---------------------------------------------------------------------------
# d23 — dedup impact report: the ops artifact a curation run publishes
# — per cluster-size bucket, how many near-dup clusters exist, how
# many docs a survivor-per-cluster policy removes, and how many chars
# of redundant text that frees. Consumes d06's cluster table (itself
# the materialized CC fixpoint over the banded candidate graph) joined
# to documents for sizes; everything downstream of the cluster table
# is two bounded groupBys. The size histogram is the standard evidence
# for tuning LSH bands (too many giant clusters = bands too loose).
# ---------------------------------------------------------------------------
def _dedup_report_tail_sql(clusters: str) -> str:
    """Report tail over a cluster relation (doc_id, cluster_id,
    is_representative) — shared verbatim by both engines."""
    return f"""
    WITH sized AS (
      SELECT c.cluster_id,
             CAST(COUNT(*) AS BIGINT) AS cluster_size,
             CAST(SUM(CASE WHEN c.is_representative THEN 0
                           ELSE d.n_chars END) AS BIGINT) AS chars_removed
      FROM {clusters} c JOIN documents d ON d.doc_id = c.doc_id
      GROUP BY c.cluster_id
    )
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(cluster_size - 1) AS BIGINT) AS n_docs_removed,
           CAST(SUM(chars_removed) AS BIGINT) AS chars_removed
    FROM sized
    GROUP BY cluster_size
    ORDER BY cluster_size
    """


@query(
    "d23_dedup_impact_report",
    oracle=None,  # set below: d06's recursive closure feeds the shared tail
)
def d23(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)  # noqa: F841 — registers `documents`
    QUERIES["d06_dedup_clusters"](spark, sf_dir).createOrReplaceTempView(
        "__d23_clusters__"
    )
    return spark.sql(_dedup_report_tail_sql("__d23_clusters__"))


ORACLES["d23_dedup_impact_report"] = f"""
    WITH RECURSIVE pairs AS ({ORACLES["d02_minhash_lsh_pairs"].replace("ORDER BY doc_a, doc_b", "")}),
    edges AS (
      SELECT doc_a AS doc_id, doc_b AS nbr FROM pairs
      UNION ALL
      SELECT doc_b AS doc_id, doc_a AS nbr FROM pairs
      UNION ALL
      SELECT doc_a AS doc_id, doc_a AS nbr FROM pairs
      UNION ALL
      SELECT doc_b AS doc_id, doc_b AS nbr FROM pairs
    ),
    reach(doc_id, nbr) AS (
      SELECT doc_id, nbr FROM edges
      UNION
      SELECT r.doc_id, e.nbr FROM reach r JOIN edges e ON e.doc_id = r.nbr
    ),
    clusters AS (
      SELECT doc_id, MIN(nbr) AS cluster_id,
             CASE WHEN doc_id = MIN(nbr) THEN TRUE ELSE FALSE END AS is_representative
      FROM reach GROUP BY doc_id
    ),
    {_dedup_report_tail_sql("clusters").strip()[len("WITH "):]}
    """


# ---------------------------------------------------------------------------
# d24 — LSH threshold sweep (banding-calibration evidence): for each
# candidate Jaccard threshold, how many verified candidate pairs
# survive — the empirical S-curve table an engineer reads before
# committing a (bands, rows) configuration, next to d23's impact
# report. Scale shape: ONE verification pass over the shared
# materialized candidate-pair relation (cached_cands; the same
# intersect-join as d03, never a shingle self-join), then the sweep is
# a constant-size threshold spine CROSS JOINed against the bounded
# verified-pair table. Exactness: every threshold test is the integer
# cross-product  100*n_common >= th*n_union  (no float Jaccard is
# compared), counts are exact BIGINTs, and the share divides once.
# Reference parity: no counterpart (core/flow.py delegates relational
# work to DuckDB); extends the dedup-forensics family like d12/d23.
# ---------------------------------------------------------------------------
_SWEEP_THRESHOLDS = (20, 30, 40, 50, 60, 70, 80, 90)


def _threshold_sweep_sql(cand_ctes: str) -> str:
    spine = " UNION ALL ".join(
        f"SELECT {t} AS th" for t in _SWEEP_THRESHOLDS
    )
    return f"""
    WITH {cand_ctes},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    common AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cands c
      JOIN shingles sa ON sa.doc_id = c.doc_a
      JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
      GROUP BY c.doc_a, c.doc_b
    ),
    verified AS (
      SELECT n_common, za.n + zb.n - n_common AS n_union
      FROM common
      JOIN sizes za ON za.doc_id = doc_a
      JOIN sizes zb ON zb.doc_id = doc_b
    ),
    spine AS ({spine}),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cands FROM cands)
    SELECT CAST(s.th AS BIGINT) AS threshold_pct,
           CAST(SUM(CASE WHEN 100 * v.n_common >= s.th * v.n_union
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
           MAX(t.n_cands) AS n_cands,
           CAST(SUM(CASE WHEN 100 * v.n_common >= s.th * v.n_union
                         THEN 1 ELSE 0 END) AS DOUBLE)
             / MAX(t.n_cands) AS pair_share
    FROM spine s CROSS JOIN verified v CROSS JOIN tot t
    GROUP BY s.th
    ORDER BY threshold_pct
    """


@query("d24_lsh_threshold_sweep", oracle=_threshold_sweep_sql(DUCK_CAND_CTES))
def d24(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    cached_cands(spark, sf_dir)
    return spark.sql(_threshold_sweep_sql(SPARK_CAND_CTES))


# ---------------------------------------------------------------------------
# d25 — dedup survivorship-bias audit: how d01's exact dedup shifts the
# corpus's source composition — per source, the share of documents
# before vs after survivor selection and an integer-exact over-pruned
# verdict. Dedup is never neutral (boilerplate-heavy sources collapse
# harder), and a training-mix designer must see the composition drift
# before re-weighting (the dedup-side complement to q73's PSI drift).
# Scale shape: ONE scan computes the content keys, one groupBy picks
# survivors (d01's MIN rule), the after-counts join is survivor-side
# pruned, and everything downstream runs over the |sources|-bounded
# relation; the 1-row totals broadcast. Exactness: counts are BIGINTs;
# each share divides once; the verdict cross-multiplies integers
# (100 * n_after * tot_before < 99 * n_before * tot_after  <=>
#  after_share < 0.99 * before_share).
# Reference parity: no counterpart (core/flow.py delegates relational
# work to DuckDB); composes d01's rule with q73's drift framing.
# ---------------------------------------------------------------------------
def _dedup_bias_sql(spark_dialect: bool, keys_rel: str | None = None) -> str:
    # Spark twin kept for its BROADCAST hint, which the oracle text cannot carry unchanged
    if spark_dialect:
        key = "md5(concat_ws(' ', array_sort(array_distinct(split(lower(text), ' ')))))"
    else:
        key = "md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' '))"
    keys_sql = f"SELECT doc_id, source, {key} AS k FROM documents"
    if keys_rel == "__keys_only__":
        return keys_sql
    if keys_rel is None:
        # inline spelling (the DuckDB oracle; DuckDB plans CTEs once)
        keys_cte, keys = f"keys AS ({keys_sql}),", "keys"
    else:
        # Spark runtime path: keys is checkpointed by the caller — its
        # three consumers (surv/before/after) would otherwise each
        # re-run the md5 content-key scan (PERF.md r27)
        keys_cte, keys = "", keys_rel
    return f"""
    WITH {keys_cte}
    surv AS (SELECT k, MIN(doc_id) AS keep FROM {keys} GROUP BY k),
    before AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_before FROM {keys} GROUP BY source
    ),
    after AS (
      SELECT kk.source, CAST(COUNT(*) AS BIGINT) AS n_after
      FROM {keys} kk JOIN surv s ON s.keep = kk.doc_id
      GROUP BY kk.source
    ),
    tot AS (
      SELECT CAST(SUM(n_before) AS BIGINT) AS tb,
             (SELECT CAST(SUM(n_after) AS BIGINT) FROM after) AS ta
      FROM before
    )
    SELECT {"/*+ BROADCAST(a) */ " if spark_dialect else ""}b.source AS source, b.n_before AS n_before,
           COALESCE(a.n_after, 0) AS n_after,
           CAST(b.n_before AS DOUBLE) / t.tb AS share_before,
           CAST(COALESCE(a.n_after, 0) AS DOUBLE) / t.ta AS share_after,
           CAST(COALESCE(a.n_after, 0) AS DOUBLE) / t.ta
             - CAST(b.n_before AS DOUBLE) / t.tb AS share_drift,
           100 * COALESCE(a.n_after, 0) * t.tb < 99 * b.n_before * t.ta AS over_pruned
    FROM before b
    LEFT JOIN after a ON a.source = b.source
    CROSS JOIN tot t
    ORDER BY source
    """


@query("d25_dedup_bias_audit", oracle=_dedup_bias_sql(False))
def d25(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    materialize(spark.sql(
        _dedup_bias_sql(True, keys_rel="__keys_only__")
    ), "__d25_keys__")
    return spark.sql(_dedup_bias_sql(True, keys_rel="__d25_keys__"))


# ---------------------------------------------------------------------------
# d26 — b-bit MinHash accuracy study (Li & Koenig, "b-Bit Minwise
# Hashing", WWW 2010): for every LSH candidate pair, the Jaccard
# estimates from FULL 64-bit signature components, from their lowest
# 2 bits, and from their lowest single bit — each with the published
# unbiased correction est_b = (match_share - 2^-b) / (1 - 2^-b) — are
# compared against the exact shingle Jaccard. This is the storage-
# budget study a 100 TB near-dup pipeline runs before shrinking its
# signature table 32-64x: b-bit signatures trade variance for memory,
# and the audit shows per-pair which budget would have sufficed.
# Scale shape: d18's exact machinery — the shared cached __cands__ /
# __shingles__ relations, per-doc signature unpivot, candidate-keyed
# equi-joins; the bit-truncated matches ride the SAME aggregation
# pass as the full-signature matches (zero extra shuffles).
# Exactness: match counts are integers; each estimate divides once
# (denominators K, K, 3K); the best-estimator verdict cross-
# multiplies to integers (errors share denominator 48u), so both
# engines agree cell-for-cell.
# Reference parity: no counterpart (the reference delegates execution
# to DuckDB); extends the d18/d12/d24 sketch-verdict family.
# ---------------------------------------------------------------------------
def _bbit_sql(spark_dialect: bool) -> str:
    if spark_dialect:
        ctes = f"""{SPARK_CAND_CTES},
    hashed AS (SELECT doc_id, md5(sh) AS h FROM __shingles__),
    sigs AS (SELECT doc_id, {_SPARK_SIG_AGGS} FROM hashed GROUP BY doc_id),
    perm AS (SELECT doc_id, stack({MINHASH_K}, {_SPARK_PERM_STACK}) AS (seed, mh) FROM sigs)"""
    else:
        ctes = DUCK_CAND_CTES
    k = MINHASH_K
    # scaled errors share denominator 48u: full -> 3|mu - Knc|,
    # 1-bit -> 3|(2m1 - K)u - Knc|, 2-bit -> |(4m2 - K)u - 3Knc|
    e_full = f"3 * ABS(m.m * u.u - {k} * u.nc)"
    e_b1 = f"3 * ABS((2 * m.m1 - {k}) * u.u - {k} * u.nc)"
    e_b2 = f"ABS((4 * m.m2 - {k}) * u.u - 3 * {k} * u.nc)"
    return f"""
    WITH {ctes},
    matches AS (
      SELECT c.doc_a, c.doc_b,
             SUM(CASE WHEN pa.mh = pb.mh THEN 1 ELSE 0 END) AS m,
             SUM(CASE WHEN pa.mh % 4 = pb.mh % 4 THEN 1 ELSE 0 END) AS m2,
             SUM(CASE WHEN pa.mh % 2 = pb.mh % 2 THEN 1 ELSE 0 END) AS m1
      FROM cands c
      JOIN perm pa ON pa.doc_id = c.doc_a
      JOIN perm pb ON pb.doc_id = c.doc_b AND pb.seed = pa.seed
      GROUP BY c.doc_a, c.doc_b
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    common AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS nc
      FROM cands c
      JOIN shingles sa ON sa.doc_id = c.doc_a
      JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
      GROUP BY c.doc_a, c.doc_b
    ),
    u AS (
      SELECT m.doc_a, m.doc_b,
             za.n + zb.n - COALESCE(cm.nc, 0) AS u,
             COALESCE(cm.nc, 0) AS nc
      FROM matches m
      LEFT JOIN common cm ON cm.doc_a = m.doc_a AND cm.doc_b = m.doc_b
      JOIN sizes za ON za.doc_id = m.doc_a
      JOIN sizes zb ON zb.doc_id = m.doc_b
    )
    SELECT m.doc_a, m.doc_b,
           CAST(m.m AS INT) AS full_matches,
           CAST(m.m2 AS INT) AS b2_matches,
           CAST(m.m1 AS INT) AS b1_matches,
           CAST(u.nc AS DOUBLE) / u.u AS exact_jaccard,
           CAST(m.m AS DOUBLE) / {k} AS est_full,
           CAST(4 * m.m2 - {k} AS DOUBLE) / {3 * k} AS est_b2,
           CAST(2 * m.m1 - {k} AS DOUBLE) / {k} AS est_b1,
           CASE WHEN {e_full} <= {e_b2} AND {e_full} <= {e_b1} THEN 'full'
                WHEN {e_b2} <= {e_b1} THEN '2bit'
                ELSE '1bit' END AS best_estimator
    FROM matches m
    JOIN u ON u.doc_a = m.doc_a AND u.doc_b = m.doc_b
    ORDER BY m.doc_a, m.doc_b
    """


def d26(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Examined for the wave-12 CTE staging and deliberately left
    # one-string: a three-way fresh-process A/B (inline vs perm-staged
    # vs perm+matches-staged) read 2.17 / 2.01 / 2.11 s at sf0.1 and
    # 10.3 / 11.0 / 12.2 s at 10x clone-dense volume — AQE runtime
    # exchange reuse already shares the duplicate matches/perm shuffle
    # subtrees, and materializing the |cands|-sized matches relation
    # COSTS at volume (the candidate set is the quadratic axis in the
    # dup-dense regime). See OPTIMIZATION_r13.md wave 12.
    load_tables(spark, sf_dir)
    cached_shingles(spark, sf_dir)
    cached_cands(spark, sf_dir)
    return spark.sql(_bbit_sql(True))


QUERIES["d26_bbit_minhash"] = d26
ORACLES["d26_bbit_minhash"] = _bbit_sql(False)


# ---------------------------------------------------------------------------
# d27 — near-dup transitivity audit: every wedge a-m-c in the VERIFIED
# near-dup graph (both legs pass d03's Jaccard threshold over the LSH
# candidates) classified by whether its closing pair a-c is (1) also
# verified, (2) an LSH candidate that fell below the threshold, or
# (3) never an LSH candidate at all. Connected-components dedup (d06/
# d17) collapses clusters by TRANSITIVE closure, so open wedges are
# exactly the collapse risk: class (2) means the cluster glues
# through sub-threshold similarity, class (3) means it glues through
# pairs the banding never even inspected. This is the audit a
# production pipeline reads before trusting cluster-level survivor
# selection. Scale shape: rides the shared __cands__/__shingles__
# relations; the wedge join is the d22 edge-iterator shape (both
# sides ARE the verified edge list, id-ordered to count each wedge
# once); classification is two LEFT equi-joins on the pair key; the
# report is |classes|-bounded with a 1-row wedge-total scalar.
# Exactness: the threshold test is the integer cross-product
# 5*nc >= union (1/5 = d03's JACCARD_THRESHOLD); counts are BIGINT;
# the share divides once.
# Reference parity: no counterpart (the reference delegates execution
# to DuckDB); completes the d06/d12/d22/d23 cluster-quality family.
# ---------------------------------------------------------------------------
def _transitivity_sql() -> str:
    """d27's one-string DuckDB spelling (the oracle); the Spark side runs
    the staged spelling in d27()."""
    return f"""
    WITH {DUCK_CAND_CTES},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    common AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS nc
      FROM cands c
      JOIN shingles sa ON sa.doc_id = c.doc_a
      JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
      GROUP BY c.doc_a, c.doc_b
    ),
    verified AS (
      SELECT c.doc_a, c.doc_b
      FROM cands c
      JOIN sizes za ON za.doc_id = c.doc_a
      JOIN sizes zb ON zb.doc_id = c.doc_b
      LEFT JOIN common cm ON cm.doc_a = c.doc_a AND cm.doc_b = c.doc_b
      WHERE COALESCE(cm.nc, 0) * 5 >= za.n + zb.n - COALESCE(cm.nc, 0)
    ),
    edges AS (
      SELECT doc_a AS m, doc_b AS o FROM verified
      UNION ALL
      SELECT doc_b AS m, doc_a AS o FROM verified
    ),
    wedges AS (
      SELECT e1.o AS a, e2.o AS c
      FROM edges e1 JOIN edges e2 ON e2.m = e1.m AND e1.o < e2.o
    ),
    classified AS (
      SELECT CASE WHEN v.doc_a IS NOT NULL THEN 'closed'
                  WHEN cd.doc_a IS NOT NULL THEN 'open_below_threshold'
                  ELSE 'open_not_candidate' END AS wedge_class
      FROM wedges w
      LEFT JOIN verified v ON v.doc_a = w.a AND v.doc_b = w.c
      LEFT JOIN cands cd ON cd.doc_a = w.a AND cd.doc_b = w.c
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM classified)
    SELECT c.wedge_class AS wedge_class,
           CAST(COUNT(*) AS BIGINT) AS n_wedges,
           CAST(COUNT(*) AS DOUBLE) / MAX(t.n) AS wedge_share,
           c.wedge_class = 'closed' AS is_transitive
    FROM classified c CROSS JOIN tot t
    GROUP BY c.wedge_class
    ORDER BY wedge_class
    """


def d27(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged Spark spelling of _transitivity_sql — guide §2.4 shared
    work: Spark inlines multiply-referenced CTEs, and d27's chain
    multiplies them combinatorially — classified -> wedges -> edges(x2)
    -> verified(x2 each) plus classified's own verified probe and the
    tot/report double-read of classified put the exact-Jaccard
    verification join at ~10 executions in the one-string plan.
    Materialize `verified` (pair list) once and the per-class COUNTS
    (<= 3 rows — never the wedge-sized classified relation, r13 ADVICE)
    once; the report replays the verbatim
    expressions over the views. Oracle replays the one-string form
    (DuckDB computes each CTE once).

    Volume bound (r13 verdict item 8): |wedges| = sum_m deg(m)*(deg(m)-1)/2
    over verified-edge degrees — quadratic in the max degree, which in
    the dup-dense regime is the clone-cluster size (10x-clone stress:
    10.2 s vs ~0.8 s organic, ~13x — BY DESIGN of that axis; nothing is
    materialized at wedge size anymore, so the blow-up is compute, not
    storage). At 100 TB the same preflights that bound the candidate
    join bound this audit: d30's band-occupancy audit flags degenerate
    bands BEFORE d27 runs, and d29's capped per-doc verify is the
    production spelling when degrees are unbounded — run d27 on the
    capped `verified` relation in that regime."""
    load_tables(spark, sf_dir)
    cached_shingles(spark, sf_dir)
    cached_cands(spark, sf_dir)
    materialize(spark.sql("""
    WITH shingles AS (SELECT doc_id, sh FROM __shingles__),
    cands AS (SELECT doc_a, doc_b FROM __cands__),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    common AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS nc
      FROM cands c
      JOIN shingles sa ON sa.doc_id = c.doc_a
      JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT c.doc_a, c.doc_b
    FROM cands c
    JOIN sizes za ON za.doc_id = c.doc_a
    JOIN sizes zb ON zb.doc_id = c.doc_b
    LEFT JOIN common cm ON cm.doc_a = c.doc_a AND cm.doc_b = c.doc_b
    WHERE COALESCE(cm.nc, 0) * 5 >= za.n + zb.n - COALESCE(cm.nc, 0)
    """), "__d27_verified__")
    # Checkpoint only the |classes|-bounded COUNTS (<= 3 rows), not the
    # wedge-sized classified relation: wedges grow quadratically in
    # verified-edge degree, so materializing them pressures executor
    # local storage in the dup-dense regime (r13 ADVICE). The classified
    # relation is consumed exactly once (by this GROUP BY), so folding
    # it into the same statement loses no sharing; the report tail
    # divides the same BIGINT count by the same BIGINT total in DOUBLE,
    # bit-identical to the previous two-read spelling.
    materialize(spark.sql("""
    WITH verified AS (SELECT * FROM __d27_verified__),
    edges AS (
      SELECT doc_a AS m, doc_b AS o FROM verified
      UNION ALL
      SELECT doc_b AS m, doc_a AS o FROM verified
    ),
    wedges AS (
      SELECT e1.o AS a, e2.o AS c
      FROM edges e1 JOIN edges e2 ON e2.m = e1.m AND e1.o < e2.o
    ),
    classified AS (
      SELECT CASE WHEN v.doc_a IS NOT NULL THEN 'closed'
                  WHEN cd.doc_a IS NOT NULL THEN 'open_below_threshold'
                  ELSE 'open_not_candidate' END AS wedge_class
      FROM wedges w
      LEFT JOIN verified v ON v.doc_a = w.a AND v.doc_b = w.c
      LEFT JOIN __cands__ cd ON cd.doc_a = w.a AND cd.doc_b = w.c
    )
    SELECT wedge_class, CAST(COUNT(*) AS BIGINT) AS n_wedges
    FROM classified GROUP BY wedge_class
    """), "__d27_counts__")
    return spark.sql("""
    SELECT c.wedge_class AS wedge_class,
           c.n_wedges AS n_wedges,
           CAST(c.n_wedges AS DOUBLE) / t.n AS wedge_share,
           c.wedge_class = 'closed' AS is_transitive
    FROM __d27_counts__ c CROSS JOIN (
      SELECT CAST(SUM(n_wedges) AS BIGINT) AS n FROM __d27_counts__
    ) t
    ORDER BY wedge_class
    """)


QUERIES["d27_transitivity_audit"] = d27
ORACLES["d27_transitivity_audit"] = _transitivity_sql()


# ---------------------------------------------------------------------------
# d28 — lexical vs semantic dedup agreement: over the SHARED banded-LSH
# candidate pairs (the __cands__ relation d03/d11-d18 ride), the 2x2
# confusion between the lexical verdict (exact shingle Jaccard, d03's
# spelling) and the semantic verdict (exact embedding cosine, d05's
# spelling), with per-cell mean similarity on both axes. Thresholds
# are calibrated to the candidate population: banded-LSH pairs are
# high-Jaccard BY CONSTRUCTION (observed min ~0.89 — the bands are
# tuned for j >= ~0.5), so the lexical split sits at 0.95 (near-exact
# clones vs merely-heavy overlap); the semantic split sits at cosine
# 0 (the similar half-space). On this corpus the table itself is the
# finding: the synthetic embeddings are INDEPENDENT of the text, so
# lexical clones scatter evenly across the semantic axis — exactly
# the decorrelation this audit exists to expose before a pipeline
# trusts one family to stand in for the other.
# This is the calibration table a curation pipeline reads before
# choosing which dedup family to trust where: lex-only cells are
# templated/boilerplate pairs, sem-only cells are paraphrases, and the
# disagreement volume decides whether the expensive semantic pass is
# worth running after the lexical one. Scale shape: candidates come
# from the materialized __cands__ (never an all-pairs product), the
# Jaccard arm is d03's candidates x shingles equi-joins, the cosine
# arm joins the pair list to embeddings/norms (s03's re-rank class;
# inner joins restrict to docs that HAVE an embedding), and the report
# is 4 rows. Exactness: similarities are floor-e6-quantized BIGINTs
# (the doubles they quantize are the shared sequential folds,
# bit-identical cross-engine); per-cell means divide integer sums
# once.
# Reference parity: no counterpart (the reference delegates execution
# to DuckDB); joins the d03/d05 verdict families it audits.
# ---------------------------------------------------------------------------


D28_LEX_THRESHOLD = 0.95  # near-exact clones vs heavy-overlap candidates
D28_SEM_THRESHOLD = 0.0  # the cosine-similar half-space


def _agreement_sql(
    spark_dialect: bool,
    max_pairs_per_doc: int | None = None,
    max_verify_pairs: int | None = None,
) -> str:
    from .similarity import _DUCK_NORM, _SPARK_NORM

    cand_ctes = SPARK_CAND_CTES if spark_dialect else DUCK_CAND_CTES
    # production-bounded variant (r8 verdict punch item 5) — two
    # composed bounds, each against a distinct pathology:
    # (1) hub cap: at most K pairs per doc_a via a deterministic rank
    #     (doc_b ascending — (doc_a, doc_b) is unique in cands, so both
    #     engines pick the identical subset). Bounds any single doc's
    #     verify fan-out.
    # (2) rate-calibrated sample: the TOTAL verified pairs are capped
    #     at ~S via a uniform md5 sample whose rate self-calibrates to
    #     the observed candidate count n (1-row scalar): keep iff
    #     h16 * n < S * 65536 where h16 is the first 16 bits of
    #     md5('d29' || doc_a || '_' || doc_b) — pure integer
    #     arithmetic (h16 <= 65535, so the product stays far below
    #     BIGINT), bit-identical cross-engine, and keeps EVERYTHING
    #     whenever n <= S (organic corpora verify exactly). Bounds the
    #     dup-dense quadratic: the measured 10x clone regime multiplies
    #     candidate pairs ~1000x over organic (250,600 vs 256 at
    #     sf0.1), which no per-doc cap binds (median degree 5).
    # Both apply BEFORE the shingle/embedding joins, so the per-pair
    # verify cost — the 10.7x dup-dense term — is O(S + K*hubs)
    # regardless of clone-cluster shape.
    cap_cte, cand_rel = "", "cands"
    if max_pairs_per_doc is not None:
        cast_s = "STRING" if spark_dialect else "VARCHAR"
        key = (
            f"concat('d29', CAST(doc_a AS {cast_s}), '_', CAST(doc_b AS {cast_s}))"
        )
        if spark_dialect:
            h16 = f"CAST(conv(substr(md5({key}), 1, 4), 16, 10) AS BIGINT)"
        else:
            h16 = f"CAST(('0x' || substr(md5({key}), 1, 4)) AS BIGINT)"
        s_pairs = int(max_verify_pairs if max_verify_pairs is not None else 20000)
        cap_cte = f"""
    hubcapped AS (
      SELECT doc_a, doc_b FROM (
        SELECT doc_a, doc_b,
               ROW_NUMBER() OVER (PARTITION BY doc_a ORDER BY doc_b) AS __rn
        FROM cands) r
      WHERE __rn <= {int(max_pairs_per_doc)}
    ),
    n_c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM hubcapped),
    capped AS (
      SELECT doc_a, doc_b FROM hubcapped CROSS JOIN n_c
      WHERE {h16} * n < CAST({s_pairs} AS BIGINT) * 65536
    ),"""
        cand_rel = "capped"
    norm = _SPARK_NORM if spark_dialect else _DUCK_NORM
    if spark_dialect:
        dot = (
            "aggregate(zip_with(ea.embedding, eb.embedding, "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "CAST(0 AS DOUBLE), (x, y) -> x + y)"
        )
    else:
        dot = (
            "list_reduce(list_transform(range(1, 65), "
            "i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)), "
            "(x, y) -> x + y)"
        )
    j_t = int(D28_LEX_THRESHOLD * 1000000)
    c_t = int(D28_SEM_THRESHOLD * 1000000)
    return f"""
    WITH {cand_ctes},{cap_cte}
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    common AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM {cand_rel} c
      JOIN shingles sa ON sa.doc_id = c.doc_a
      JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
      GROUP BY c.doc_a, c.doc_b
    ),
    jacc AS (
      SELECT doc_a, doc_b,
             CAST(floor(CAST(n_common AS DOUBLE) / (za.n + zb.n - n_common)
                        * 1000000) AS BIGINT) AS j_e6
      FROM common
      JOIN sizes za ON za.doc_id = doc_a
      JOIN sizes zb ON zb.doc_id = doc_b
    ),
    norms AS ({norm}),
    scored AS (
      SELECT j.doc_a, j.doc_b, j.j_e6,
             CAST(floor({dot} / (sqrt(na.norm2) * sqrt(nb.norm2))
                        * 1000000) AS BIGINT) AS c_e6
      FROM jacc j
      JOIN embeddings ea ON ea.vec_id = j.doc_a
      JOIN embeddings eb ON eb.vec_id = j.doc_b
      JOIN norms na ON na.vec_id = j.doc_a
      JOIN norms nb ON nb.vec_id = j.doc_b
    )
    SELECT j_e6 >= {j_t} AS lex_dup,
           c_e6 >= {c_t} AS sem_dup,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(j_e6) AS DOUBLE) / (COUNT(*) * 1000000.0) AS mean_jaccard,
           CAST(SUM(c_e6) AS DOUBLE) / (COUNT(*) * 1000000.0) AS mean_cosine
    FROM scored
    GROUP BY j_e6 >= {j_t}, c_e6 >= {c_t}
    ORDER BY lex_dup, sem_dup
    """


@query("d28_lexical_semantic_agreement", oracle=_agreement_sql(False))
def d28(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import cached_embeddings

    load_tables(spark, sf_dir)
    cached_cands(spark, sf_dir)
    cached_embeddings(spark)
    return spark.sql(_agreement_sql(True))


# ---------------------------------------------------------------------------
# d29 — d28's PRODUCTION-BOUNDED spelling (r8 verdict punch item 5):
# the same lex-vs-sem confusion table over a bounded candidate subset:
# (1) at most D29_MAX_PAIRS_PER_DOC pairs per doc_a (deterministic
# rank, doc_b ascending — bounds hub docs), then (2) a
# rate-calibrated uniform md5 sample capping the TOTAL verified pairs
# at ~D29_MAX_VERIFY_PAIRS (keep iff h16 * n < S * 65536, integer-
# exact, self-calibrating to the observed candidate count; organic
# corpora with n <= S verify EVERYTHING and reproduce d28's pair set
# modulo the hub cap). d28's exact table pays the full candidate
# volume, which grows QUADRATICALLY on a dup-dense corpus (clone
# clusters of size m contribute m(m-1)/2 pairs — the accepted
# d24/d26/d27 regime, measured 10.7x wall and ~1000x pair volume at
# 10x clones); the composed bounds cap the per-pair verify work — the
# dominant term: two shingle equi-joins plus an embedding cosine per
# pair — at O(S), constant in corpus pathology. The bounded table is
# a uniform SAMPLE of d28's: counts shrink proportionally, the 2x2
# structure and per-cell means stay readable (md5 sampling is
# cell-agnostic: it keys on ids, never on similarity). Production
# pipelines point THIS spelling at unknown corpora and graduate to
# d28 when the candidate volume is known to be survivor-bounded.
# Scale shape: one partitioned window over the materialized __cands__
# plus a 1-row count scalar broadcast (q59's class — no new shuffle
# class), then d28's plan on the bounded remainder; the report is
# <= 4 rows. Exactness: both bounds are deterministic cross-engine
# ((doc_a, doc_b) unique in cands; md5 identical both engines);
# everything downstream is d28's floor-e6 integer arithmetic.
# Reference parity: no counterpart (the reference delegates execution
# to DuckDB); bounds d28 the way d24's sweep bounds band choice.
# ---------------------------------------------------------------------------
D29_MAX_PAIRS_PER_DOC = 20
D29_MAX_VERIFY_PAIRS = 20000


@query(
    "d29_agreement_bounded",
    oracle=_agreement_sql(
        False,
        max_pairs_per_doc=D29_MAX_PAIRS_PER_DOC,
        max_verify_pairs=D29_MAX_VERIFY_PAIRS,
    ),
)
def d29(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import cached_embeddings

    load_tables(spark, sf_dir)
    cached_cands(spark, sf_dir)
    cached_embeddings(spark)
    return spark.sql(
        _agreement_sql(
            True,
            max_pairs_per_doc=D29_MAX_PAIRS_PER_DOC,
            max_verify_pairs=D29_MAX_VERIFY_PAIRS,
        )
    )


# ---------------------------------------------------------------------------
# d30 — LSH band-occupancy audit: the pre-flight degeneracy check a
# near-dup job runs BEFORE the banded self-join. Boilerplate-heavy
# corpora (licence headers, scraped chrome, form letters) concentrate
# signatures into few band buckets; a bucket of size n contributes
# n*(n-1)/2 candidate pairs through a SINGLE join key, so one
# degenerate bucket can dominate the whole job (measured in the
# hot-band stress: 30% template share moved the max bucket 4 -> 671
# and candidates 923 -> 625k, PERF.md r29). This audit reports, per
# band: bucket count, corpus coverage, the max bucket, how many
# buckets are non-singleton, the total candidate-pair volume, and the
# share of pairs the single largest bucket contributes — the number
# that decides between running d02 as-is, capping degenerate buckets
# (d29's hub cap), or stripping the template first.
# Scale shape: ONE aggregate over the persisted band table (|docs| x 4
# rows, map-side combinable onto |buckets| rows) folded to 4 report
# rows; no join, no self-join — the audit costs a vanishing fraction
# of the job it gates. Exactness: integer counts and one final double
# division (NULL when a band has no multi-occupant bucket).
# Reference parity: no counterpart (core/flow.py delegates execution
# to DuckDB); extends the d24/d29 LSH-calibration family.
# ---------------------------------------------------------------------------
def spark_shingles_sql(table: str = "documents") -> str:
    """The shared Spark shingle fragment over an arbitrary relation
    (the ``documents`` spelling is the graded constant above)."""
    return SPARK_SHINGLES.replace("FROM documents", f"FROM {table}")


def _band_occupancy_tail(bucket_src: str, intdiv: str) -> str:
    return f"""
    WITH buckets AS ({bucket_src})
    SELECT CAST(band_id AS INT) AS band_id,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(n) AS BIGINT) AS n_docs,
           CAST(MAX(n) AS BIGINT) AS max_bucket,
           CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi_buckets,
           CAST(SUM(n * (n - 1) {intdiv} 2) AS BIGINT) AS cand_pairs,
           CAST(MAX(n) * (MAX(n) - 1) {intdiv} 2 AS DOUBLE)
             / NULLIF(CAST(SUM(n * (n - 1) {intdiv} 2) AS DOUBLE), 0)
             AS top_bucket_pair_share
    FROM buckets
    GROUP BY band_id
    ORDER BY band_id
    """


def band_occupancy_inline_sql(table: str) -> str:
    """Spark-only band-occupancy SQL over an ARBITRARY text relation
    (doc_id, text) — the stage-operator surface of d30: the SAME band
    chain as the graded family (delegates to _bands_from_shingles_sql,
    the single spelling), built inline instead of reading the
    session-memoized __bands__ view."""
    bucket_cols = "band_id, " + _BAND_VAL_COLS
    chain = f"""
      WITH allbands AS ({spark_bands_inline_sql(table)})
      SELECT {bucket_cols}, COUNT(*) AS n FROM allbands GROUP BY {bucket_cols}
    """
    return _band_occupancy_tail(chain, "div")


def _band_occupancy_sql(spark_dialect: bool) -> str:
    if spark_dialect:
        bucket_cols = "band_id, " + _BAND_VAL_COLS
        src = f"SELECT {bucket_cols}, COUNT(*) AS n FROM __bands__ GROUP BY {bucket_cols}"
        return _band_occupancy_tail(src, "div")
    # reuse the shared shingles->bands chain, dropping the trailing
    # cands CTE (the audit runs BEFORE the self-join)
    head, sep, _ = DUCK_CAND_CTES.rpartition("cands AS")
    assert sep, "DUCK_CAND_CTES no longer ends with a cands CTE"
    src = (
        f"WITH {head.rstrip().rstrip(',')}"
        " SELECT band_id, band_key, COUNT(*) AS n FROM bands"
        " GROUP BY band_id, band_key"
    )
    return _band_occupancy_tail(src, "//")


@query("d30_band_occupancy_audit", oracle=_band_occupancy_sql(False))
def d30(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    cached_bands(spark, sf_dir)
    return spark.sql(_band_occupancy_sql(True))


# ---------------------------------------------------------------------------
# d31 — dedup cluster-size audit: the over-merge health check for
# transitive near-dup collapse. Connected components chain A~B~C into
# one cluster even when A and C share nothing (d27 audits the wedge
# rate; this audits the OUTCOME): a healthy corpus shows a steep
# size histogram (mostly pairs/triples), while template contamination
# or an over-permissive threshold grows a giant component that would
# silently delete a big corpus slice when survivors are kept. Output:
# one row per observed cluster size — cluster count, docs covered,
# corpus share — including the size-1 row for docs in no candidate
# pair. The d30 -> d31 pair brackets the LSH job: d30 predicts the
# join's bucket work BEFORE it runs, d31 audits what the collapse did
# AFTER.
# Scale shape: rides the SAME labels relation d06 materializes
# (connected_components over the persisted candidate pairs; labels ~
# |V(pairs)| rows, tiny vs the corpus); the histogram is two bounded
# aggregates over it plus two 1-row scalars (corpus total, labeled
# total) broadcast into the projection. Exactness: integer counts,
# one double division per row.
# Reference parity: no counterpart (core/flow.py delegates execution
# to DuckDB); completes the d06/d27/d30 cluster-health family.
# ---------------------------------------------------------------------------
def _cluster_size_tail(labels_rel: str) -> str:
    """Histogram tail over a (doc_id, cluster_id) labels relation —
    shared verbatim by both engines."""
    return f"""
    sizes AS (
      SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz
      FROM {labels_rel} GROUP BY cluster_id
    ),
    hist AS (
      SELECT sz AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
      FROM sizes GROUP BY sz
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM documents),
    lab AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_labeled FROM {labels_rel}),
    rows_out AS (
      SELECT cluster_size, n_clusters FROM hist
      UNION ALL
      SELECT CAST(1 AS BIGINT), t.n_total - l.n_labeled
      FROM tot t CROSS JOIN lab l
      WHERE t.n_total > l.n_labeled
    )
    SELECT r.cluster_size AS cluster_size,
           r.n_clusters AS n_clusters,
           r.cluster_size * r.n_clusters AS n_docs,
           CAST(r.cluster_size * r.n_clusters AS DOUBLE) / t.n_total
             AS corpus_share
    FROM rows_out r CROSS JOIN tot t
    ORDER BY cluster_size
    """


@query("d31_cluster_size_audit")
def d31(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    pairs = QUERIES["d02_minhash_lsh_pairs"](spark, sf_dir)
    labels = connected_components(spark, pairs, ordered=False).select(
        "doc_id", "cluster_id"
    )
    labels.createOrReplaceTempView("__d31_labels__")
    return spark.sql("WITH " + _cluster_size_tail("__d31_labels__"))


# oracle: d06's exact recursive transitive closure provides the labels
ORACLES["d31_cluster_size_audit"] = f"""
    WITH RECURSIVE pairs AS ({ORACLES["d02_minhash_lsh_pairs"].replace("ORDER BY doc_a, doc_b", "")}),
    edges AS (
      SELECT doc_a AS doc_id, doc_b AS nbr FROM pairs
      UNION ALL
      SELECT doc_b AS doc_id, doc_a AS nbr FROM pairs
      UNION ALL
      SELECT doc_a AS doc_id, doc_a AS nbr FROM pairs
      UNION ALL
      SELECT doc_b AS doc_id, doc_b AS nbr FROM pairs
    ),
    reach(doc_id, nbr) AS (
      SELECT doc_id, nbr FROM edges
      UNION
      SELECT r.doc_id, e.nbr FROM reach r JOIN edges e ON e.doc_id = r.nbr
    ),
    labels AS (SELECT doc_id, MIN(nbr) AS cluster_id FROM reach GROUP BY doc_id),
    {_cluster_size_tail("labels")}
    """


# ---------------------------------------------------------------------------
# d33 — incremental dedup over a PERSISTED BUCKETED band index (the
# q83 layout lever applied to d02's hottest shuffle; r11 verdict punch
# item 3). The production 100 TB dedup story is "new shard vs existing
# corpus", and the corpus band relation is the natural bucketed asset:
# persist it ONCE as a catalog table bucketed on the full band join
# key (band_id, k0..k3), then every daily batch probe joins its own
# bands against it with ZERO Exchange on the corpus side — the only
# shuffle in the probe join moves the BATCH (1 day of docs), never the
# corpus (plan-gated: exactly one band-key Exchange, bucketed corpus
# scan). The index build runs once per session and corpus and is charged
# to the first consumer each bench pass (d33; memo cleared between
# passes — cached_bands' accounting convention): at scale ONE build
# per corpus snapshot amortizes across every daily batch probe (d33)
# and every stream probe (st28), and the per-batch cost is the
# batch-bands shuffle + a per-bucket merge of the corpus scan.
# The `merge` hint pins SMJ so the demonstration is deterministic
# across SFs — at real corpus scale the index side never fits a
# broadcast anyway (it is the corpus), while the BATCH side may: a
# deployment probing a small batch drops the hint and lets AQE
# broadcast the batch bands, which reads the index with no shuffle at
# all. Both plans read the same persisted layout.
# Exactness: band values are integer minhash windows (identical parse
# both engines, d02's argument); the verdict relation is
# engine-identical. Reference parity: no counterpart (the reference's
# single-node DuckDB engine has no layout surface; its incremental
# path re-reads the whole corpus per run).
# ---------------------------------------------------------------------------
D33_NEW_MOD = 9  # doc_id % 9 = 4 -> member of the incoming batch
D33_NEW_REM = 4
D33_INDEX_TABLE = "d33_corpus_bands_b"
_D33_KEY_COLS = ["band_id"] + [f"k{r}" for r in range(_ROWS_PER_BAND)]


def _d33_sql(
    cand_ctes: str,
    batch_pred: str = f"doc_id % {D33_NEW_MOD} = {D33_NEW_REM}",
    corpus_pred: str = f"doc_id % {D33_NEW_MOD} <> {D33_NEW_REM}",
) -> str:
    """Identical text both dialects (band spelling differs inside
    cand_ctes, which ends at the `bands` CTE; `corpus`/`batch` are the
    snapshot split; the `cands` CTE that cand_ctes also defines goes
    unused here — DuckDB skips unreferenced CTEs).
    The Spark side does NOT run this text verbatim — it probes the
    persisted bucketed index table instead of an inline `corpus` CTE —
    but the relation is the same. d34 re-parameterizes the split (its
    corpus is the merged index: original corpus + the day-1 batch)."""
    return f"""
    WITH {cand_ctes},
    batch AS (
      SELECT * FROM bands WHERE {batch_pred}
    ),
    corpus AS (
      SELECT * FROM bands WHERE {corpus_pred}
    ),
    hits AS (
      SELECT DISTINCT n.doc_id, b.doc_id AS partner
      FROM batch n JOIN corpus b ON {{join_pred}}
    ),
    best AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_partners,
             MIN(partner) AS dup_of
      FROM hits GROUP BY doc_id
    ),
    new_docs AS (SELECT DISTINCT doc_id FROM batch)
    SELECT d.doc_id AS doc_id,
           COALESCE(b.n_partners, 0) AS n_partners,
           (b.dup_of IS NOT NULL) AS is_dup,
           b.dup_of AS dup_of
    FROM new_docs d
    LEFT JOIN best b ON b.doc_id = d.doc_id
    ORDER BY d.doc_id
    """


_D33_SPARK_JOIN = " AND ".join(
    ["n.band_id = b.band_id"]
    + [f"n.k{r} = b.k{r}" for r in range(_ROWS_PER_BAND)]
)


def spark_bands_inline_sql(table: str) -> str:
    """The band chain over an ARBITRARY (doc_id, text) relation — the
    stage-operator surface of the shared __bands__ materialization.
    Delegates to _bands_from_shingles_sql (THE one spelling), so stage
    outputs pin identical to the graded family by construction."""
    return _bands_from_shingles_sql(spark_shingles_sql(table))


def band_probe_sql(batch_view: str) -> str:
    """The probe-side SQL (``{b}`` is the persisted index relation,
    passed as a DataFrame arg so the merge hint rides along): batch
    bands join the bucketed corpus index on the full band key, then
    fold to one verdict row per batch doc."""
    return f"""
    WITH hits AS (
      SELECT DISTINCT n.doc_id, b.doc_id AS partner
      FROM {batch_view} n JOIN {{b}} b
        ON {_D33_SPARK_JOIN} AND b.doc_id <> n.doc_id
    ),
    best AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_partners,
             MIN(partner) AS dup_of
      FROM hits GROUP BY doc_id
    ),
    new_docs AS (SELECT DISTINCT doc_id FROM {batch_view})
    SELECT d.doc_id AS doc_id,
           COALESCE(b.n_partners, 0) AS n_partners,
           (b.dup_of IS NOT NULL) AS is_dup,
           b.dup_of AS dup_of
    FROM new_docs d
    LEFT JOIN best b ON b.doc_id = d.doc_id
    ORDER BY d.doc_id
    """


def band_index_table(sf_dir: str) -> str:
    """Content-qualified physical name for the shared corpus band index.
    The build below is memoized per session and corpus, but the CATALOG
    is session-wide: with one fixed table name, a session that touches
    two SFs (the pytest suite runs most tests at sf0.001 and the plan
    gates at sf0.01) leaves the LAST writer's content under a name the
    OTHER SF's memo still vouches for — a stale-probe bug once
    reproduced (st28's streamed probe read the wrong corpus). Folding
    the documents fingerprint into the name gives each corpus its own
    table, so a memo hit can never alias another corpus's bytes."""
    from ..session import fingerprint

    return f"{D33_INDEX_TABLE}_{fingerprint([table_path(sf_dir, 'documents')])[:8]}"


def build_band_index(spark: SparkSession, sf_dir: str) -> str:
    """Persist the CORPUS slice of the band relation as the bucketed
    index table (bucket key = the full band join key, sorted within
    buckets). Returns the table name. Rides the shared __bands__
    materialization, so the 16-min signature aggregation runs once per
    session and corpus across the whole dedup family; the index write
    itself is a derived memo too, shared by every probe (d33 batch,
    st28 streaming) — a production corpus index is built once per
    snapshot. clear_shared_caches drops it before every bench pass, so
    each pass pays the build cold, attributed to the first consumer
    (d33)."""
    from ..session import SparkEngine

    def build() -> str:
        table = band_index_table(sf_dir)
        cached_bands(spark, sf_dir)
        corpus = spark.sql(
            f"SELECT * FROM __bands__ "
            f"WHERE doc_id % {D33_NEW_MOD} <> {D33_NEW_REM}"
        )
        SparkEngine(spark).write_bucketed(
            corpus,
            table,
            _D33_KEY_COLS,
            n_buckets=16,
            sort_cols=_D33_KEY_COLS,
        )
        return table

    return memo(spark, "band_index", [table_path(sf_dir, "documents")], build)


@query(
    "d33_bucketed_band_probe",
    oracle=_d33_sql(DUCK_CAND_CTES).format(
        join_pred="n.band_id = b.band_id AND n.band_key = b.band_key "
        "AND b.doc_id <> n.doc_id"
    ),
)
def d33(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    index = build_band_index(spark, sf_dir)
    # re-register __bands__ for THIS sf explicitly: build_band_index
    # only calls cached_bands on a memo MISS, so after a session has
    # touched another SF (which re-pointed the session-wide __bands__
    # view), a memo hit would leave the batch select below reading the
    # other SF's bands (the round-13 mixed-SF stale-probe bug).
    cached_bands(spark, sf_dir)
    spark.sql(
        f"SELECT * FROM __bands__ "
        f"WHERE doc_id % {D33_NEW_MOD} = {D33_NEW_REM}"
    ).createOrReplaceTempView("__d33_batch__")
    corpus_b = spark.table(index).hint("merge")
    return spark.sql(band_probe_sql("__d33_batch__"), b=corpus_b)


# ---------------------------------------------------------------------------
# d34 — band-index MAINTENANCE: append-merge a probed batch into the
# persisted bucketed index (the missing half of d33's production
# loop — after day 1's batch is probed, it IS corpus for day 2, and
# at 100 TB the index must absorb it WITHOUT a rebuild). The merge is
# a bucketed APPEND: the new bands write as additional per-bucket
# files under the same (band_id, k0..k3) spec, so the layout
# guarantee — probe joins shuffle only the batch — holds over the
# merged table unchanged (plan-gated on the day-2 probe: one band-key
# Exchange, bucketed scan). Cost model: maintenance is
# O(|daily batch|) written bytes per day, zero corpus rewrite; an
# occasional compaction folds the accumulated small per-bucket files
# (the standard bucketed-table upkeep trade).
# Exactness: the graded relation is the DAY-2 probe against the
# merged index — its corpus side is (original corpus + day-1 batch),
# which the oracle replays relationally as doc_id % 9 <> 5; day-2
# verdicts catching day-1 partners IS the proof the merge took.
# Scale shape: identical to d33's per-batch probe.
# ---------------------------------------------------------------------------
D34_DAY2_REM = 5  # doc_id % 9 = 5 -> day-2 batch (day-1 is d33's = 4)
D34_INDEX_TABLE = "d34_band_index_b"


@query(
    "d34_band_index_merge",
    oracle=_d33_sql(
        DUCK_CAND_CTES,
        batch_pred=f"doc_id % {D33_NEW_MOD} = {D34_DAY2_REM}",
        corpus_pred=f"doc_id % {D33_NEW_MOD} <> {D34_DAY2_REM}",
    ).format(
        join_pred="n.band_id = b.band_id AND n.band_key = b.band_key "
        "AND b.doc_id <> n.doc_id"
    ),
)
def d34(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import SparkEngine

    load_tables(spark, sf_dir)
    cached_bands(spark, sf_dir)
    # day 0: index the original corpus (neither day-1 nor day-2 docs)
    corpus = spark.sql(
        f"SELECT * FROM __bands__ WHERE doc_id % {D33_NEW_MOD} "
        f"NOT IN ({D33_NEW_REM}, {D34_DAY2_REM})"
    )
    SparkEngine(spark).write_bucketed(
        corpus,
        D34_INDEX_TABLE,
        _D33_KEY_COLS,
        n_buckets=16,
        sort_cols=_D33_KEY_COLS,
    )
    # day 1: the probed batch merges in as a bucketed APPEND — new
    # per-bucket files under the same spec, no corpus rewrite. The
    # append is pre-partitioned on the bucket key (write_bucketed's
    # whole-buckets-per-task shuffle) so each daily merge adds at most
    # n_buckets files, not n_tasks x n_buckets — the per-day file
    # growth IS the compaction cadence driver at 100 TB.
    (
        spark.sql(
            f"SELECT * FROM __bands__ "
            f"WHERE doc_id % {D33_NEW_MOD} = {D33_NEW_REM}"
        )
        .repartition(16, *_D33_KEY_COLS)
        .write.mode("append")
        .bucketBy(16, *_D33_KEY_COLS)
        .sortBy(*_D33_KEY_COLS)
        .format("parquet")
        .saveAsTable(D34_INDEX_TABLE)
    )
    # day 2: probe the MERGED index — day-1 docs are now partners
    spark.sql(
        f"SELECT * FROM __bands__ "
        f"WHERE doc_id % {D33_NEW_MOD} = {D34_DAY2_REM}"
    ).createOrReplaceTempView("__d34_batch__")
    merged = spark.table(D34_INDEX_TABLE).hint("merge")
    return spark.sql(band_probe_sql("__d34_batch__"), b=merged)
