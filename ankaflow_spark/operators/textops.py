"""Text-analysis operators for training-data pipelines over the
``documents`` table: token statistics, heuristic language-ID, quality
scoring, and winnowing document fingerprints.

All pure engine-side expression work (regexp counts, integer arithmetic,
md5) — one scan per query, no UDFs, embarrassingly parallel at 100 TB.
Ratios divide integers in IEEE doubles (deterministic), never summing
floats across rows, so the DuckDB oracle matches bit-for-bit.
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession

from ..session import materialize, memo
from ..sqlfront.rewrite import rewrite_sql
from .tables import load_tables, table_path

QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: Dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# t01 — token statistics: counts via regexp / distinct tokens / ttr
# ---------------------------------------------------------------------------
@query(
    "t01_token_stats",
    oracle="""
    SELECT doc_id,
      CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens,
      CAST(len(list_distinct(string_split(lower(text), ' '))) AS BIGINT) AS n_unique,
      CAST(length(text) AS BIGINT) AS n_chars,
      CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
        / len(regexp_extract_all(text, '\\S+')) AS type_token_ratio,
      CAST(length(replace(text, ' ', '')) AS DOUBLE)
        / len(regexp_extract_all(text, '\\S+')) AS avg_token_len
    FROM documents
    ORDER BY doc_id
    """,
)
def t01(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(r"""
    SELECT doc_id,
      CAST(size(regexp_extract_all(text, '\\S+', 0)) AS BIGINT) AS n_tokens,
      CAST(size(array_distinct(split(lower(text), ' '))) AS BIGINT) AS n_unique,
      CAST(length(text) AS BIGINT) AS n_chars,
      CAST(size(array_distinct(split(lower(text), ' '))) AS DOUBLE)
        / size(regexp_extract_all(text, '\\S+', 0)) AS type_token_ratio,
      CAST(length(replace(text, ' ', '')) AS DOUBLE)
        / size(regexp_extract_all(text, '\\S+', 0)) AS avg_token_len
    FROM documents
    ORDER BY doc_id
    """)


# ---------------------------------------------------------------------------
# t02 — heuristic language ID: function-word hit counts per language,
# argmax with deterministic tie-break (first in list order). The word
# lists are engine constants; scoring is regexp counting — a realistic
# n-gram-free lang-ID baseline that runs at full scan speed.
# ---------------------------------------------------------------------------
_LANG_WORDS = {
    "en": ["the", "a", "of", "and", "is"],
    "de": ["der", "die", "und", "ist", "ein"],
    "fr": ["le", "la", "et", "est", "un"],
    "es": ["el", "la", "y", "es", "un"],
    "zh": ["de", "shi", "he", "zai", "you"],
}


def _lang_score(lang: str, count_fn) -> str:
    words = "|".join(_LANG_WORDS[lang])
    return count_fn(f"(^| )({words})( |$)")


@query(
    "t02_lang_id",
    oracle=f"""
    WITH scores AS (
      SELECT doc_id, lang AS labeled_lang,
        {", ".join(f"CAST(len(regexp_extract_all(lower(text), '{_lang_score(lg, lambda p: p)}')) AS BIGINT) AS score_{lg}" for lg in _LANG_WORDS)}
      FROM documents
    )
    SELECT doc_id, labeled_lang,
      CASE GREATEST(score_en, score_de, score_fr, score_es, score_zh)
        WHEN score_en THEN 'en' WHEN score_de THEN 'de' WHEN score_fr THEN 'fr'
        WHEN score_es THEN 'es' ELSE 'zh' END AS predicted_lang,
      score_en, score_de, score_fr, score_es, score_zh
    FROM scores
    ORDER BY doc_id
    """,
)
def t02(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    score_cols = ", ".join(
        f"CAST(regexp_count(lower(text), '{_lang_score(lg, lambda p: p)}') AS BIGINT) AS score_{lg}"
        for lg in _LANG_WORDS
    )
    return spark.sql(f"""
    WITH scores AS (
      SELECT doc_id, lang AS labeled_lang, {score_cols}
      FROM documents
    )
    SELECT doc_id, labeled_lang,
      CASE GREATEST(score_en, score_de, score_fr, score_es, score_zh)
        WHEN score_en THEN 'en' WHEN score_de THEN 'de' WHEN score_fr THEN 'fr'
        WHEN score_es THEN 'es' ELSE 'zh' END AS predicted_lang,
      score_en, score_de, score_fr, score_es, score_zh
    FROM scores
    ORDER BY doc_id
    """)


# ---------------------------------------------------------------------------
# t03 — quality scoring: length / punctuation / stopword / repetition
# signals combined into one score with explicit integer->double math.
# ---------------------------------------------------------------------------
_QUALITY = dict(
    # weights of the linear score; thresholds pick the quality bucket
    w_len=0.3, w_stop=0.4, w_ttr=0.3, lo=0.35, hi=0.6
)


def _quality_scored(spark_dialect: bool) -> str:
    """The scored relation (no ORDER BY) — shared by t03 and t05."""
    if spark_dialect:
        n_tokens = "size(regexp_extract_all(text, '\\\\S+', 0))"
        n_stop = "regexp_count(lower(text), '(^| )(the|a|of|and|is|in|to)( |$)')"
        n_unique = "size(array_distinct(split(lower(text), ' ')))"
    else:
        n_tokens = "len(regexp_extract_all(text, '\\S+'))"
        n_stop = "len(regexp_extract_all(lower(text), '(^| )(the|a|of|and|is|in|to)( |$)'))"
        n_unique = "len(list_distinct(string_split(lower(text), ' ')))"
    q = _QUALITY
    return f"""
    SELECT doc_id, n_tokens, stop_ratio, ttr, score,
      CASE WHEN score < {q["lo"]} THEN 'low'
           WHEN score < {q["hi"]} THEN 'mid' ELSE 'high' END AS quality
    FROM (
      SELECT doc_id, n_tokens, stop_ratio, ttr,
             {q["w_len"]} * LEAST(CAST(n_tokens AS DOUBLE) / 100, 1.0)
           + {q["w_stop"]} * LEAST(stop_ratio * 5, 1.0)
           + {q["w_ttr"]} * ttr AS score
      FROM (
        SELECT doc_id,
               CAST({n_tokens} AS BIGINT) AS n_tokens,
               CAST({n_stop} AS DOUBLE) / {n_tokens} AS stop_ratio,
               CAST({n_unique} AS DOUBLE) / {n_tokens} AS ttr
        FROM documents
      ) raw
    ) scored
    """


def _quality_sql(spark_dialect: bool) -> str:
    return _quality_scored(spark_dialect) + " ORDER BY doc_id"


@query("t03_quality_score", oracle=_quality_sql(False))
def t03(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_quality_sql(True))


# ---------------------------------------------------------------------------
# t05 — per-group quality top-k: keep the N best-scoring docs per
# language — the curation step that balances a training mix after
# scoring. One shuffle on the group key + per-group heap (rank window);
# never a global sort of the corpus.
# ---------------------------------------------------------------------------
_TOPK_PER_LANG = 5


def _topk_sql(spark_dialect: bool) -> str:
    return f"""
    WITH scored AS ({_quality_scored(spark_dialect)})
    SELECT lang, doc_id, n_tokens, score, quality, rk FROM (
      SELECT d.lang, s.doc_id, s.n_tokens, s.score, s.quality,
             ROW_NUMBER() OVER (PARTITION BY d.lang
                                ORDER BY s.score DESC, s.doc_id) AS rk
      FROM scored s JOIN documents d ON d.doc_id = s.doc_id
    ) ranked WHERE rk <= {_TOPK_PER_LANG}
    ORDER BY lang, rk
    """


@query("t05_groupwise_quality_topk", oracle=_topk_sql(False))
def t05(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_topk_sql(True))


# ---------------------------------------------------------------------------
# t04 — winnowing fingerprint: md5 word-bigram hashes, per-position
# window minimum (w=4), distinct mins -> document fingerprint. The
# standard local-fingerprint scheme for plagiarism/near-dup detection;
# scales as one window pass over exploded shingles.
# ---------------------------------------------------------------------------
_WINNOW_W = 4


def _winnow_duck_sql() -> str:
    """DuckDB oracle: the textbook explode + bounded-window spelling."""
    shingles = """
      SELECT doc_id, pos.pos AS pos,
             md5(array_to_string(words[pos.pos:pos.pos + 1], ' ')) AS h
      FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents) w,
           LATERAL (SELECT unnest(range(1, greatest(len(words) - 1, 1) + 1)) AS pos) pos
    """
    return f"""
    WITH shingles AS ({shingles}),
    mins AS (
      SELECT doc_id,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING) AS minh
      FROM shingles
    )
    SELECT doc_id, md5(array_to_string(list_sort(list_distinct(list(minh))), '')) AS fingerprint,
           CAST(len(list_distinct(list(minh))) AS BIGINT) AS n_mins
    FROM mins
    GROUP BY doc_id
    ORDER BY doc_id
    """


# Spark side computes the same per-position window minimum ARRAY-SIDE:
# the bigram-hash array and its sliding min both live inside one row, so
# the whole operator is a projection — no explode (docs x positions row
# blow-up), no per-doc window sort, no groupBy shuffle. Work is
# O(positions x w) per row either way; the array spelling removes BOTH
# exchanges from the plan (measured 2.3s -> sub-second at sf0.1).
# slice() past the array end truncates, matching the window frame's
# end-of-partition clipping. The REPARTITION hint spreads the per-row
# work across the full parallelism: a small documents.parquet arrives
# as ONE input split, and without it the whole projection runs
# single-task (at 100 TB the scan has thousands of natural splits and
# AQE would coalesce, but a salted text corpus still skews — hashing
# doc_id is harmless insurance either way).
_WINNOW_SPARK_SQL = f"""
    WITH docs AS (
      SELECT /*+ REPARTITION({{np}}, doc_id) */ doc_id, text FROM documents
    ),
    h AS (
      SELECT doc_id,
             transform(sequence(1, greatest(size(words) - 1, 1)),
                       pos -> md5(concat_ws(' ', slice(words, pos, 2)))) AS hs
      FROM (SELECT doc_id, split(text, ' ') AS words FROM docs)
    ),
    mins AS (
      SELECT doc_id,
             array_distinct(transform(sequence(1, size(hs)),
                            i -> array_min(slice(hs, i, {_WINNOW_W})))) AS minhs
      FROM h
    )
    SELECT doc_id, md5(concat_ws('', array_sort(minhs))) AS fingerprint,
           CAST(size(minhs) AS BIGINT) AS n_mins
    FROM mins
    ORDER BY doc_id
    """


@query("t04_winnow_fingerprint", oracle=_winnow_duck_sql())
def t04(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(
        _WINNOW_SPARK_SQL.format(np=spark.sparkContext.defaultParallelism)
    )


# ---------------------------------------------------------------------------
# t06 — sequence packing: assign documents to fixed-size context windows
# (greedy contiguous fill in doc_id order) for pretraining batch
# construction. Packing is per-SHARD (doc_id % N_SHARDS): a single
# global running sum would serialize the corpus through one partition;
# per-shard running sums give N independent window partitions — the
# shape that scales (shards ~ executor count at 100 TB). Output is the
# (shard, seq_id, seq_offset) placement of every doc — integer window
# arithmetic, exact in both engines.
# ---------------------------------------------------------------------------
_PACK_CTX = 2048  # tokens per packed sequence
_PACK_SHARDS = 8


def _pack_sql(spark_dialect: bool) -> str:
    n_tokens = (
        "size(regexp_extract_all(text, '\\\\S+', 0))"
        if spark_dialect
        else "len(regexp_extract_all(text, '\\S+'))"
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, CAST(doc_id % {_PACK_SHARDS} AS INT) AS shard,
             CAST({n_tokens} AS BIGINT) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT doc_id, shard, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens AS start_tok
      FROM toks
    )
    SELECT doc_id, shard, n_tokens,
           CAST(floor(start_tok / {_PACK_CTX}.0) AS BIGINT) AS seq_id,
           CAST(start_tok - floor(start_tok / {_PACK_CTX}.0) * {_PACK_CTX} AS BIGINT) AS seq_offset
    FROM packed
    ORDER BY shard, doc_id
    """


@query("t06_sequence_pack", oracle=_pack_sql(False))
def t06(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_pack_sql(True))


# ---------------------------------------------------------------------------
# t07 — repetition signals (Gopher/FineWeb-style filters): fraction of
# the document covered by its most frequent word bigram/trigram, plus
# the duplicate-token fraction. High values flag boilerplate/spam that
# length- and stopword-based scores (t03) miss. Shape: explode n-grams
# -> one (doc, gram) count aggregation -> per-doc max via window; two
# shuffles on doc-sized keys, no all-pairs anything.
# ---------------------------------------------------------------------------
def _repetition_sql(spark_dialect: bool, ordered: bool = True) -> str:
    if spark_dialect:
        # FUSED single-scan spelling: the two gram sizes explode from ONE
        # tagged array so the raw documents scan (and the split) runs
        # once — the 3-CTE form re-executed the scan per gram size plus
        # once for the token stats (PERF.md r27: Spark re-expands CTEs).
        # n_tokens/n_unique ride the explode as per-doc constants and
        # fold back with MAX(). The DuckDB oracle keeps the 3-CTE
        # spelling — structurally independent, same cells.
        return f"""
    WITH base AS (
      SELECT doc_id,
             CAST(size(regexp_extract_all(text, '\\\\S+', 0)) AS BIGINT) AS n_tokens,
             CAST(size(array_distinct(split(lower(text), ' '))) AS BIGINT) AS n_unique,
             split(text, ' ') AS w
      FROM documents
    ),
    tagged AS (
      SELECT doc_id, n_tokens, n_unique, tg.n AS n, tg.g AS g
      FROM base
      LATERAL VIEW explode(concat(
        transform(
          CASE WHEN size(w) >= 2 THEN transform(sequence(0, size(w) - 2),
            i -> concat(w[i], ' ', w[i + 1]))
          ELSE array(concat_ws(' ', w)) END,
          x -> named_struct('n', 2, 'g', x)),
        transform(
          CASE WHEN size(w) >= 3 THEN transform(sequence(0, size(w) - 3),
            i -> concat(w[i], ' ', w[i + 1], ' ', w[i + 2]))
          ELSE array(concat_ws(' ', w)) END,
          x -> named_struct('n', 3, 'g', x))
      )) t AS tg
    ),
    counts AS (
      SELECT doc_id, n, g, MAX(n_tokens) AS n_tokens, MAX(n_unique) AS n_unique,
             COUNT(*) AS c
      FROM tagged GROUP BY doc_id, n, g
    ),
    tops AS (
      SELECT doc_id, n, MAX(n_tokens) AS n_tokens, MAX(n_unique) AS n_unique,
             MAX(c) AS top_n, SUM(c) AS total
      FROM counts GROUP BY doc_id, n
    )
    SELECT doc_id,
           MAX(n_tokens) AS n_tokens,
           1.0 - CAST(MAX(n_unique) AS DOUBLE) / MAX(n_tokens) AS dup_token_frac,
           CAST(MAX(CASE WHEN n = 2 THEN top_n END) AS DOUBLE)
             / MAX(CASE WHEN n = 2 THEN total END) AS top_bigram_frac,
           CAST(MAX(CASE WHEN n = 3 THEN top_n END) AS DOUBLE)
             / MAX(CASE WHEN n = 3 THEN total END) AS top_trigram_frac
    FROM tops GROUP BY doc_id
    {"ORDER BY doc_id" if ordered else ""}
    """
    else:
        words = "string_split(text, ' ')"
        n_tokens = "len(regexp_extract_all(text, '\\S+'))"
        n_unique = "len(list_distinct(string_split(lower(text), ' ')))"
        gram2 = """
          SELECT doc_id, unnest(
            CASE WHEN len(w) >= 2 THEN list_transform(range(1, len(w)),
              i -> w[i] || ' ' || w[i + 1])
            ELSE [array_to_string(w, ' ')] END) AS g
          FROM (SELECT doc_id, {words} AS w FROM documents)
        """
        gram3 = """
          SELECT doc_id, unnest(
            CASE WHEN len(w) >= 3 THEN list_transform(range(1, len(w) - 1),
              i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])
            ELSE [array_to_string(w, ' ')] END) AS g
          FROM (SELECT doc_id, {words} AS w FROM documents)
        """
    gram2 = gram2.format(words=words)
    gram3 = gram3.format(words=words)
    return f"""
    WITH g2 AS ({gram2}),
    g3 AS ({gram3}),
    top2 AS (
      SELECT doc_id, MAX(c) AS top_n, SUM(c) AS total FROM (
        SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY doc_id, g
      ) t GROUP BY doc_id
    ),
    top3 AS (
      SELECT doc_id, MAX(c) AS top_n, SUM(c) AS total FROM (
        SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY doc_id, g
      ) t GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST({n_tokens} AS BIGINT) AS n_tokens,
           1.0 - CAST({n_unique} AS DOUBLE) / {n_tokens} AS dup_token_frac,
           CAST(t2.top_n AS DOUBLE) / t2.total AS top_bigram_frac,
           CAST(t3.top_n AS DOUBLE) / t3.total AS top_trigram_frac
    FROM documents d
    JOIN top2 t2 ON t2.doc_id = d.doc_id
    JOIN top3 t3 ON t3.doc_id = d.doc_id
    {"ORDER BY d.doc_id" if ordered else ""}
    """


@query("t07_repetition_signals", oracle=_repetition_sql(False))
def t07(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_repetition_sql(True))


# ---------------------------------------------------------------------------
# t08 — curation gate: the composed verdict a pretraining pipeline
# computes per document before the corpus ships — quality score (t03)
# x repetition signals (t07) x benchmark decontamination (d07) joined
# on doc_id into one boolean `keep`. Each input is itself
# oracle-checked; the gate demonstrates the joins compose exactly.
# Benchmark members (eval docs) are excluded by construction via the
# decontam relation. All joins key on doc_id — at scale they co-align
# on the same hash partitioning, so the gate adds ONE shuffle over the
# per-doc signal tables (tiny vs the corpus scans that feed them).
# ---------------------------------------------------------------------------
_GATE = dict(max_top_trigram=0.18, max_dup_token=0.75)


def _gate_sql(spark_dialect: bool) -> str:
    from .dedup import decontam_sql

    g = _GATE
    return f"""
    WITH scored AS ({_quality_scored(spark_dialect)}),
    rep AS ({_repetition_sql(spark_dialect, ordered=False)}),
    decon AS ({decontam_sql(spark_dialect, ordered=False)})
    SELECT s.doc_id, s.score, s.quality,
           r.top_trigram_frac, r.dup_token_frac, c.n_shared_ngrams,
           (s.quality <> 'low'
            AND r.top_trigram_frac < {g["max_top_trigram"]}
            AND r.dup_token_frac < {g["max_dup_token"]}
            AND c.n_shared_ngrams = 0) AS keep
    FROM scored s
    JOIN rep r ON r.doc_id = s.doc_id
    JOIN decon c ON c.doc_id = s.doc_id
    ORDER BY s.doc_id
    """


@query("t08_curation_gate", oracle=_gate_sql(False))
def t08(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_gate_sql(True))


# ---------------------------------------------------------------------------
# t09 — PII redaction: scrub emails / IPv4 addresses / phone numbers
# from document text before it can reach a training corpus, reporting
# per-doc hit counts and the md5 of the scrubbed text. Pure
# regexp_replace / regexp_extract_all expression work — full scan
# speed, embarrassingly parallel, zero shuffles at 100 TB.
#
# The synthetic corpus contains no PII, so the query deterministically
# plants some (email/IP/phone derived from doc_id) and then removes it
# — the oracle check proves the redaction regexes find EXACTLY the
# planted strings and nothing else, in both engines' regex dialects
# (Java util.regex vs RE2: patterns below avoid constructs where the
# two differ — no backrefs, no lookaround, ASCII classes only).
# ---------------------------------------------------------------------------
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_IP = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
_PII_PHONE = "\\+\\d-\\d{3}-\\d{4}"


def _pii_sql(spark_dialect: bool) -> str:
    if spark_dialect:
        # Spark SQL string literals process backslash escapes -> double
        e, i, p = (
            _PII_EMAIL.replace("\\", "\\\\"),
            _PII_IP.replace("\\", "\\\\"),
            _PII_PHONE.replace("\\", "\\\\"),
        )
        n_email = f"size(regexp_extract_all(text, '{e}', 0))"
        n_ip = f"size(regexp_extract_all(text, '{i}', 0))"
        n_phone = f"size(regexp_extract_all(text, '{p}', 0))"
        redact = (
            f"regexp_replace(regexp_replace(regexp_replace(text,"
            f" '{e}', '[EMAIL]'), '{i}', '[IP]'), '{p}', '[PHONE]')"
        )
        cast_s = "CAST(doc_id AS STRING)"
    else:
        e, i, p = _PII_EMAIL, _PII_IP, _PII_PHONE
        n_email = f"len(regexp_extract_all(text, '{e}'))"
        n_ip = f"len(regexp_extract_all(text, '{i}'))"
        n_phone = f"len(regexp_extract_all(text, '{p}'))"
        redact = (
            f"regexp_replace(regexp_replace(regexp_replace(text,"
            f" '{e}', '[EMAIL]', 'g'), '{i}', '[IP]', 'g'), '{p}', '[PHONE]', 'g')"
        )
        cast_s = "CAST(doc_id AS VARCHAR)"
    return f"""
    WITH planted AS (
      SELECT doc_id,
             concat(text,
                    ' contact user', {cast_s}, '@mail',
                    CAST(doc_id % 7 AS {"STRING" if spark_dialect else "VARCHAR"}), '.example.com',
                    ' from 10.', CAST(doc_id % 256 AS {"STRING" if spark_dialect else "VARCHAR"}),
                    '.0.', CAST(doc_id % 100 AS {"STRING" if spark_dialect else "VARCHAR"}),
                    ' tel +1-555-', lpad(CAST(doc_id % 10000 AS {"STRING" if spark_dialect else "VARCHAR"}), 4, '0')
             ) AS text
      FROM documents
    )
    SELECT doc_id,
           CAST({n_email} AS BIGINT) AS n_emails,
           CAST({n_ip} AS BIGINT) AS n_ips,
           CAST({n_phone} AS BIGINT) AS n_phones,
           md5({redact}) AS redacted_md5
    FROM planted
    ORDER BY doc_id
    """


@query("t09_pii_redaction", oracle=_pii_sql(False))
def t09(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_pii_sql(True))


# ---------------------------------------------------------------------------
# t10 — stratified mixing sample: resample the corpus to a target
# language mix (downsample the dominant language, keep low-resource
# ones) with a deterministic md5-threshold bernoulli per stratum — the
# data-mixing step of a pretraining pipeline. Reproducible across
# engines, runs, and partitionings (q21's sampler, stratified);
# coordination-free at 100 TB: no counts, no windows, one scan.
# Per-stratum rates map to 4-hex-digit cut points on the first 16 bits
# of md5('mix' || doc_id): keep iff hash16 < floor(rate * 65536).
# ---------------------------------------------------------------------------
_MIX_RATES = {"en": 0.35, "de": 0.80, "fr": 0.80, "es": 0.80, "zh": 1.00}


def _mix_sql() -> str:
    cuts = " ".join(
        f"WHEN '{lang}' THEN '{min(int(rate * 65536), 65535):04x}'"
        for lang, rate in sorted(_MIX_RATES.items())
    )
    # the cut is strict (<), so rate=1.0 strata bypass the comparison
    # entirely (hash16 == 'ffff' must also be kept)
    keep_all = ", ".join(f"'{k}'" for k, v in sorted(_MIX_RATES.items()) if v >= 1.0)
    return f"""
    SELECT doc_id, lang,
           substr(md5(concat('mix', CAST(doc_id AS VARCHAR))), 1, 4) AS u16
    FROM documents
    WHERE lang IN ({keep_all})
       OR substr(md5(concat('mix', CAST(doc_id AS VARCHAR))), 1, 4)
          < CASE lang {cuts} ELSE '0000' END
    ORDER BY doc_id
    """


@query("t10_stratified_mix", oracle=_mix_sql())
def t10(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(rewrite_sql(_mix_sql(), {}))


# ---------------------------------------------------------------------------
# t11 — vocabulary construction: global token counts + document
# frequency, top-K by count (deterministic token tiebreak) — the
# tokenizer-prep pass of a training pipeline. Plan: explode tokens ->
# one partial-aggregated shuffle on token -> top-K via ORDER BY+LIMIT
# (TakeOrderedAndProject: per-partition heaps, K rows to the driver —
# never a single-partition rank of the whole vocabulary), then rank
# the K-row result.
# ---------------------------------------------------------------------------
_VOCAB_K = 200


def _vocab_sql() -> str:
    return f"""
    WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents),
    counts AS (
      SELECT tok, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS df
      FROM toks WHERE tok <> '' GROUP BY tok
    ),
    top AS (
      SELECT tok, n, df FROM counts ORDER BY n DESC, tok LIMIT {_VOCAB_K}
    )
    SELECT tok, n, df, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rk
    FROM top
    ORDER BY rk
    """


@query("t11_vocab_topk", oracle=_vocab_sql())
def t11(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(rewrite_sql(_vocab_sql(), {}))


# ---------------------------------------------------------------------------
# t12 — normalized exact dedup: canonicalize text (lowercase, strip
# punctuation, collapse whitespace) and keep one doc per canonical
# form — exact dedup's real-world spelling, where trivial formatting
# differences shouldn't defeat the content key. One scan + one
# groupBy(md5) shuffle; the canonical key is md5-fixed-width.
# ---------------------------------------------------------------------------
def _normdedup_sql(spark_dialect: bool) -> str:
    # identical function names in both dialects; only regex-literal
    # escaping differs (Spark SQL literals process backslashes)
    bs = "\\\\" if spark_dialect else "\\"
    canon = (
        f"trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9{bs}s]', ' '), "
        f"'{bs}s+', ' '))"
    )
    return f"""
    SELECT md5({canon}) AS canon_key,
           MIN(doc_id) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_variants
    FROM documents
    GROUP BY md5({canon})
    ORDER BY canon_key
    """


@query("t12_normalized_dedup", oracle=_normdedup_sql(False))
def t12(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_normdedup_sql(True))


# ---------------------------------------------------------------------------
# t13 — bigram surprisal (corpus LM cross-entropy score): the classic
# two-pass LM quality filter — pass 1 aggregates corpus-wide bigram and
# prefix counts (the MLE bigram model), pass 2 scores every document by
# the average/max -ln P(w2|w1) of its bigrams plus the fraction of
# corpus-unique bigrams. High surprisal = text unlike the corpus
# (noise, other language, boilerplate soup); high novel_frac = text
# whose word transitions appear nowhere else.
#
# Scale shape: the count tables are Zipf-distributed and tiny relative
# to the corpus (broadcast-able); both groupBys are map-side
# combinable; the score join keys on (w1, w2) — the same partitioning
# as the count aggregation, so AQE reuses the shuffle. Per-doc sums
# fold in position order (collect-sort-fold) so the double sum is
# bit-identical in both engines; docs under 2 tokens have no bigrams
# and are excluded by construction.
# ---------------------------------------------------------------------------
_T13_SPARK_BIGRAMS = """
      SELECT doc_id, pos, w[pos - 1] AS w1, w[pos] AS w2
      FROM (SELECT doc_id, filter(split(lower(text), ' '), x -> x <> '') AS w FROM documents)
      LATERAL VIEW explode(
        CASE WHEN size(w) >= 2 THEN sequence(1, size(w) - 1) ELSE array() END
      ) t AS pos"""


def _t13_bigrams(spark: SparkSession, sf_dir: str) -> None:
    """Register the corpus bigram table as ``t13_bigrams``: a session memo
    keyed by the documents fingerprint, shared by t13 and t26. The
    scoring SQL references the bigram table three times (corpus prefix
    counts, corpus bigram counts, per-doc scoring). At cluster scale
    this is the persisted bigram table every LM-scoring pipeline writes
    once and joins repeatedly."""
    load_tables(spark, sf_dir)
    memo(
        spark,
        "t13_bigrams",
        [table_path(sf_dir, "documents")],
        lambda: materialize(spark.sql(_T13_SPARK_BIGRAMS)),
    ).createOrReplaceTempView("t13_bigrams")


def _bigram_surprisal_sql(spark_dialect: bool) -> str:
    if spark_dialect:
        bigrams = "SELECT doc_id, pos, w1, w2 FROM t13_bigrams"
        fold = (
            "aggregate(transform(array_sort(collect_list(struct(pos, s))), x -> x.s), "
            "CAST(0 AS DOUBLE), (a, b) -> a + b)"
        )
    else:
        toks = "list_filter(string_split(lower(text), ' '), x -> x <> '')"
        bigrams = f"""
      SELECT doc_id, pos, w[pos] AS w1, w[pos + 1] AS w2
      FROM (
        SELECT doc_id, w, unnest(range(1, greatest(len(w), 1))) AS pos
        FROM (SELECT doc_id, {toks} AS w FROM documents)
      )"""
        fold = "list_reduce(list(s ORDER BY pos), (a, b) -> a + b)"
    return f"""
    WITH bigrams AS ({bigrams}),
    uni AS (SELECT w1, COUNT(*) AS c1 FROM bigrams GROUP BY w1),
    big AS (SELECT w1, w2, COUNT(*) AS c2 FROM bigrams GROUP BY w1, w2),
    scored AS (
      SELECT b.doc_id, b.pos, g.c2,
             ln(CAST(u.c1 AS DOUBLE) / g.c2) AS s
      FROM bigrams b
      JOIN uni u ON u.w1 = b.w1
      JOIN big g ON g.w1 = b.w1 AND g.w2 = b.w2
    )
    SELECT doc_id,
      COUNT(*) AS n_bigrams,
      ROUND({fold} / COUNT(*), 6) AS avg_surprisal,
      ROUND(MAX(s), 6) AS max_surprisal,
      CAST(SUM(CASE WHEN c2 = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS novel_frac
    FROM scored
    GROUP BY doc_id
    ORDER BY doc_id
    """


@query("t13_bigram_surprisal", oracle=_bigram_surprisal_sql(False))
def t13(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t13_bigrams(spark, sf_dir)
    return spark.sql(_bigram_surprisal_sql(True))


# ---------------------------------------------------------------------------
# t14 — BPE-style token counting: the GPT-2-family pre-tokenizer regex
# (contraction suffixes, letter runs, digit runs, punctuation runs,
# each with an optional leading space) — the token-budget estimate a
# training pipeline uses when the real tokenizer is too expensive to
# run corpus-wide. The pattern avoids lookarounds/backreferences so
# Java regex (Spark) and RE2 (DuckDB) match identically — the same
# portability rule t09's PII patterns follow. Pure expression work,
# one scan, no UDFs.
# ---------------------------------------------------------------------------
_BPE_REGEX = r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s']+"


def _bpe_token_sql(spark_dialect: bool) -> str:
    if spark_dialect:
        pat = _BPE_REGEX.replace("'", "\\'")  # Spark: backslash-escaped quote
        n = f"size(regexp_extract_all(text, '{pat}', 0))"
        n_alpha = "size(regexp_extract_all(text, ' ?[A-Za-z]+', 0))"
        n_num = "size(regexp_extract_all(text, ' ?[0-9]+', 0))"
        ws = r"size(regexp_extract_all(text, '\\S+', 0))"
    else:
        pat = _BPE_REGEX.replace("'", "''")  # DuckDB: doubled quote
        n = f"len(regexp_extract_all(text, '{pat}'))"
        n_alpha = "len(regexp_extract_all(text, ' ?[A-Za-z]+'))"
        n_num = "len(regexp_extract_all(text, ' ?[0-9]+'))"
        ws = r"len(regexp_extract_all(text, '\S+'))"
    return f"""
    SELECT doc_id,
      CAST({n} AS BIGINT) AS n_bpe_tokens,
      CAST({n_alpha} AS BIGINT) AS n_word_tokens,
      CAST({n_num} AS BIGINT) AS n_number_tokens,
      CAST({ws} AS BIGINT) AS n_ws_tokens,
      CAST({n} AS DOUBLE) / greatest({ws}, 1) AS bpe_per_word
    FROM documents
    ORDER BY doc_id
    """


@query("t14_bpe_token_count", oracle=_bpe_token_sql(False))
def t14(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_bpe_token_sql(True))


# ---------------------------------------------------------------------------
# t15 — tf-idf top terms per document (keyword extraction for curation /
# topic tagging). Token counts shuffle once on (doc_id, term); document
# frequency re-aggregates the (already tiny vs corpus) term table; the
# per-doc top-3 is one row_number window. Corpus size N joins in as a
# broadcast scalar. Float discipline: Java's Math.log and DuckDB's libm
# log can differ in the last ULP, so the score is quantized to exact
# micro-units — floor(tf * ln(N/df) * 1e6) AS BIGINT — which both
# engines compute identically (a 1-ulp input wobble changes the floor
# only when the true value sits within ~1e-10 of a quantization
# boundary). Ranking uses the quantized score, so mathematically-tied
# terms (tf1*ln(N/df1) == tf2*ln(N/df2)) order by term in both engines
# instead of by engine-specific ULP noise.
# ---------------------------------------------------------------------------
def _tfidf_oracle() -> str:
    """DuckDB oracle spelling; the Spark path lives in t15 itself (it
    materializes the term-frequency table so the corpus tokenizes
    once)."""
    tok_src = "SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents"
    return f"""
    WITH tok AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM ({tok_src}) raw
      WHERE term <> ''
      GROUP BY doc_id, term
    ),
    docfreq AS (
      SELECT term, COUNT(*) AS df FROM tok GROUP BY term
    ),
    corpus AS (
      SELECT COUNT(*) AS n_docs FROM documents
    ),
    scored AS (
      SELECT tok.doc_id, tok.term, CAST(tok.tf AS BIGINT) AS tf,
             CAST(floor(tok.tf * ln(CAST(corpus.n_docs AS DOUBLE) / docfreq.df)
                        * 1000000) AS BIGINT) AS tfidf_e6
      FROM tok JOIN docfreq ON tok.term = docfreq.term CROSS JOIN corpus
    ),
    ranked AS (
      SELECT doc_id, term, tf, tfidf_e6,
             CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                    ORDER BY tfidf_e6 DESC, term) AS INT) AS rk
      FROM scored
    )
    SELECT doc_id, term, tf, tfidf_e6, rk
    FROM ranked WHERE rk <= 3
    ORDER BY doc_id, rk
    """


@query("t15_tfidf_topterms", oracle=_tfidf_oracle())
def t15(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark inlines CTEs: the single-statement spelling re-runs the
    # tokenize+count subtree for both its consumers (tf join docfreq) —
    # two corpus tokenizations (plan-audited). The term-frequency table
    # is materialized once instead (the persisted term table a
    # production pipeline keeps); docfreq and the scored join both read
    # it, leaving ONE tokenization scan of the corpus.
    load_tables(spark, sf_dir)
    materialize(spark.sql("""
      SELECT doc_id, term, COUNT(*) AS tf
      FROM (SELECT doc_id, explode(split(lower(text), ' ')) AS term FROM documents) raw
      WHERE term <> ''
      GROUP BY doc_id, term
    """), "__t15_tf__")
    return spark.sql("""
    WITH docfreq AS (
      SELECT term, COUNT(*) AS df FROM __t15_tf__ GROUP BY term
    ),
    corpus AS (
      SELECT COUNT(*) AS n_docs FROM documents
    ),
    scored AS (
      SELECT t.doc_id, t.term, CAST(t.tf AS BIGINT) AS tf,
             CAST(floor(t.tf * ln(CAST(corpus.n_docs AS DOUBLE) / docfreq.df)
                        * 1000000) AS BIGINT) AS tfidf_e6
      FROM __t15_tf__ t JOIN docfreq ON t.term = docfreq.term CROSS JOIN corpus
    ),
    ranked AS (
      SELECT doc_id, term, tf, tfidf_e6,
             CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                    ORDER BY tfidf_e6 DESC, term) AS INT) AS rk
      FROM scored
    )
    SELECT doc_id, term, tf, tfidf_e6, rk
    FROM ranked WHERE rk <= 3
    ORDER BY doc_id, rk
    """)


# ---------------------------------------------------------------------------
# t16 — training-mix domain weights: per (lang, source) token share with
# temperature-scaled sampling weights (alpha = 0.5, the multilingual
# upsampling rule w_i ∝ p_i^alpha). One corpus scan + a groupBy onto a
# handful of domain rows; everything after is driver-trivial. Float
# discipline: shares divide two BIGINTs (correctly-rounded IEEE); sqrt
# is IEEE-exact; the scaled weight quantizes to nano-units via floor
# (double->DECIMAL casts round differently across engines, so decimals
# are built from exact BIGINTs instead), making the normalizer an
# integer sum — order-independent and engine-identical.
# ---------------------------------------------------------------------------
def _domain_mix_oracle() -> str:
    """DuckDB oracle spelling; the Spark path lives in t16 itself (it
    materializes the per-domain aggregate so the corpus scans once)."""
    ntok = "len(string_split(text, ' '))"
    return f"""
    WITH per_group AS (
      SELECT lang, source, COUNT(*) AS n_docs,
             CAST(SUM({ntok}) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang, source
    ),
    tot AS (
      SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM per_group
    ),
    shared AS (
      SELECT lang, source, n_docs, n_tokens,
             CAST(n_tokens AS DOUBLE) / total_tokens AS token_share,
             CAST(floor(sqrt(CAST(n_tokens AS DOUBLE) / total_tokens)
                        * 1000000000) AS BIGINT) AS sq_e9
      FROM per_group CROSS JOIN tot
    ),
    z AS (
      SELECT CAST(SUM(sq_e9) AS BIGINT) AS zsum FROM shared
    )
    SELECT lang, source, n_docs, n_tokens, token_share,
           CAST(sq_e9 AS DOUBLE) / zsum AS mix_weight
    FROM shared CROSS JOIN z
    ORDER BY lang, source
    """


@query("t16_domain_mixture", oracle=_domain_mix_oracle())
def t16(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark inlines CTEs: the scalar total/normalizer subqueries each
    # re-ran the full per-domain aggregation — FOUR corpus scans
    # (plan-audited). Materializing the ~|domains|-row aggregate once
    # leaves exactly one corpus scan; everything downstream operates on
    # the checkpointed handful of rows.
    load_tables(spark, sf_dir)
    ntok = "size(split(text, ' '))"
    materialize(spark.sql(f"""
      SELECT lang, source, COUNT(*) AS n_docs,
             CAST(SUM({ntok}) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang, source
    """), "__t16_domains__")
    return spark.sql("""
    WITH tot AS (
      SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM __t16_domains__
    ),
    shared AS (
      SELECT lang, source, n_docs, n_tokens,
             CAST(n_tokens AS DOUBLE) / total_tokens AS token_share,
             CAST(floor(sqrt(CAST(n_tokens AS DOUBLE) / total_tokens)
                        * 1000000000) AS BIGINT) AS sq_e9
      FROM __t16_domains__ CROSS JOIN tot
    ),
    z AS (
      SELECT CAST(SUM(sq_e9) AS BIGINT) AS zsum FROM shared
    )
    SELECT lang, source, n_docs, n_tokens, token_share,
           CAST(sq_e9 AS DOUBLE) / zsum AS mix_weight
    FROM shared CROSS JOIN z
    ORDER BY lang, source
    """)


# ---------------------------------------------------------------------------
# t17 — readability grade (Flesch-Kincaid shape): syllables approximated
# as vowel-group runs, sentences as fixed 20-token pseudo-sentences
# (the synthetic corpus has no punctuation — real corpora would count
# terminators instead). Pure per-row regex counting + one fixed-order
# double expression from integer counts — full scan speed, zero
# shuffles beyond the output sort, engine-identical arithmetic.
# ---------------------------------------------------------------------------
def _readability_sql(spark_dialect: bool) -> str:
    if spark_dialect:
        n_words = "size(regexp_extract_all(text, '\\\\S+', 0))"
        n_syll = "regexp_count(lower(text), '[aeiouy]+')"
    else:
        n_words = "len(regexp_extract_all(text, '\\S+'))"
        n_syll = "len(regexp_extract_all(lower(text), '[aeiouy]+'))"
    return f"""
    SELECT doc_id, n_words, n_syllables, n_sentences,
           0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
             + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words)
             - 15.59 AS fk_grade
    FROM (
      SELECT doc_id,
             CAST({n_words} AS BIGINT) AS n_words,
             CAST({n_syll} AS BIGINT) AS n_syllables,
             CAST(CAST(ceil(({n_words}) / 20.0) AS BIGINT) AS BIGINT) AS n_sentences
      FROM documents
    ) counted
    WHERE n_words > 0
    ORDER BY doc_id
    """


@query("t17_readability", oracle=_readability_sql(False))
def t17(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_readability_sql(True))


# ---------------------------------------------------------------------------
# t18 — Zipf exponent of the corpus vocabulary: least-squares slope of
# log(freq) vs log(rank) over the token frequency table — the corpus-
# health diagnostic (natural text ~ -1; synthetic/templated corpora
# deviate). One token shuffle; the global rank decomposes count-of-
# counts style so no window ever sees the full vocabulary in one
# partition: rank(term) = (#terms with higher f, a cumulative sum over
# the DISTINCT-frequency table — O(sqrt(tokens)) rows by Zipf's own
# count-of-counts law) + row_number PARTITIONED BY f (parallel across
# frequencies). The regression then reduces to five sums.
# Float discipline: ln values quantize to e4 BIGINTs per term (libm ULP
# noise collapses under floor), the five Σ accumulate as exact integer
# sums, and the slope combines them in fixed-order DOUBLE arithmetic —
# engine-identical.
# ---------------------------------------------------------------------------
def _zipf_sql() -> str:
    return """
    WITH freq AS (
      SELECT term, COUNT(*) AS f
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents) raw WHERE term <> ''
      GROUP BY term
    ),
    fcounts AS (
      SELECT f, COUNT(*) AS cnt FROM freq GROUP BY f
    ),
    fbase AS (
      SELECT f, SUM(cnt) OVER (ORDER BY f DESC) - cnt AS base FROM fcounts
    ),
    ranked AS (
      SELECT freq.f,
             fbase.base
               + ROW_NUMBER() OVER (PARTITION BY freq.f ORDER BY term) AS rank
      FROM freq JOIN fbase ON fbase.f = freq.f
    ),
    pts AS (
      SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 10000) AS BIGINT) AS x_e4,
             CAST(floor(ln(CAST(f AS DOUBLE)) * 10000) AS BIGINT) AS y_e4
      FROM ranked
    ),
    sums AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(x_e4) AS BIGINT) AS sx,
             CAST(SUM(y_e4) AS BIGINT) AS sy,
             CAST(SUM(x_e4 * y_e4) AS BIGINT) AS sxy,
             CAST(SUM(x_e4 * x_e4) AS BIGINT) AS sxx
      FROM pts
    )
    SELECT n AS vocab_size,
           (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS zipf_slope
    FROM sums
    """


@query("t18_zipf_fit", oracle=_zipf_sql())
def t18(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(rewrite_sql(_zipf_sql(), {}))


# ---------------------------------------------------------------------------
# t19 — chunk-level duplicate fraction (CCNet/RefinedWeb line-dedup
# adapted to unstructured text): every doc splits into consecutive
# 5-word chunks, chunks hash to md5, and a doc's dup_frac is the share
# of its chunks that also appear in ANOTHER doc. The per-chunk
# distinct-doc count is one hash-partitioned aggregation over the
# exploded chunk table; joining it back and re-grouping by doc adds two
# more shuffles — all on high-cardinality keys, no row multiplication
# beyond the ~n_words/5 explode. At 100 TB the chunk table is the big
# intermediate; it partitions by hash and never materializes per-pair
# state (unlike pairwise dedup). keep = dup_frac < 0.5, the usual
# boilerplate-removal gate.
# ---------------------------------------------------------------------------
_CHUNK_W = 5

_CHUNK_DEDUP_SQL = f"""
    WITH w AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ),
    inst AS (
      SELECT doc_id,
             md5(array_to_string(list_slice(ws, i*{_CHUNK_W}+1, i*{_CHUNK_W}+{_CHUNK_W}), ' ')) AS h
      FROM w CROSS JOIN (SELECT unnest(range(0, 2000)) AS i) g
      WHERE i*{_CHUNK_W}+{_CHUNK_W} <= len(ws)
    ),
    cc AS (
      SELECT h, COUNT(DISTINCT doc_id) AS nd FROM inst GROUP BY h
    )
    SELECT i.doc_id AS doc_id,
           COUNT(*) AS n_chunks,
           COUNT(CASE WHEN cc.nd > 1 THEN 1 END) AS n_dup_chunks,
           CAST(COUNT(CASE WHEN cc.nd > 1 THEN 1 END) AS DOUBLE) / COUNT(*) AS dup_frac,
           CAST(COUNT(CASE WHEN cc.nd > 1 THEN 1 END) AS DOUBLE) / COUNT(*) < 0.5 AS keep
    FROM inst i JOIN cc ON cc.h = i.h
    GROUP BY i.doc_id
    ORDER BY doc_id
    """


@query("t19_chunk_dedup", oracle=_CHUNK_DEDUP_SQL)
def t19(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    t = load_tables(spark, sf_dir)
    W_ = _CHUNK_W
    w = (
        t["documents"]
        .select("doc_id", F.split(F.lower(F.col("text")), " ").alias("ws"))
        .filter(F.size("ws") >= W_)
    )
    # consumed twice (per-chunk doc counts + the per-doc fold):
    # without the checkpoint each consumer re-runs the chunk
    # explode over raw documents TEXT (PERF.md r27)
    inst = materialize(
        w.select(
            "doc_id",
            "ws",
            F.explode(
                F.sequence(F.lit(0), (F.floor(F.size("ws") / W_)).cast("int") - 1)
            ).alias("i"),
        )
        .select(
            "doc_id",
            F.md5(
                F.array_join(F.slice(F.col("ws"), F.col("i") * W_ + 1, W_), " ")
            ).alias("h"),
        )
    )
    cc = inst.groupBy("h").agg(F.countDistinct("doc_id").alias("nd"))
    dup = F.count(F.when(F.col("nd") > 1, F.lit(1)))
    return (
        inst.join(cc, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            dup.alias("n_dup_chunks"),
            (dup.cast("double") / F.count("*")).alias("dup_frac"),
            (dup.cast("double") / F.count("*") < 0.5).alias("keep"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# t20 — leakage-safe train/validation split: near-dup documents MUST
# land in the same split, or validation leaks into training (the
# classic eval-inflation bug). Assignment therefore hashes the CLUSTER
# representative (d06's connected components over LSH pairs), not the
# doc — every member inherits its cluster's split, singletons hash
# themselves. The 80/20 gate is an md5-prefix integer threshold:
# deterministic, coordination-free, identical in both engines. The
# oracle recomputes the closure recursively; the no-cluster-spans-
# splits invariant is asserted in pytest.
# ---------------------------------------------------------------------------
_SPLIT_PCT = 80


def _leakage_split_sql() -> str:
    from .dedup import ORACLES as _DEDUP_ORACLES

    closure = _DEDUP_ORACLES["d06_dedup_clusters"].replace(
        "ORDER BY cluster_id, doc_id", ""
    )
    return f"""
    WITH clusters AS ({closure}),
    assign AS (
      SELECT d.doc_id AS doc_id,
             COALESCE(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
    )
    SELECT doc_id, cluster_id,
           CASE WHEN CAST(('0x' || substring(md5(CAST(cluster_id AS VARCHAR)), 1, 6)) AS BIGINT)
                     % 100 < {_SPLIT_PCT}
                THEN 'train' ELSE 'val' END AS split
    FROM assign
    ORDER BY doc_id
    """


@query("t20_leakage_safe_split")
def t20(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .dedup import QUERIES as _DEDUP_QUERIES

    t = load_tables(spark, sf_dir)
    clusters = _DEDUP_QUERIES["d06_dedup_clusters"](spark, sf_dir).select(
        "doc_id", "cluster_id"
    )
    assign = (
        t["documents"]
        .select("doc_id")
        .join(clusters, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col("doc_id")))
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 6), 16, 10)
        .cast("bigint") % 100
    )
    return (
        assign.withColumn(
            "split", F.when(bucket < _SPLIT_PCT, "train").otherwise("val")
        )
        .orderBy("doc_id")
    )


ORACLES["t20_leakage_safe_split"] = _leakage_split_sql()


# ---------------------------------------------------------------------------
# t21 — hashed-feature linear quality classifier (the fastText-style
# keep/drop filter every web-scale curation pipeline runs; CCNet/DCLM
# pattern). The hashing trick makes it dictionary-free: token -> md5 ->
# bucket in [0, 4096), weight = fixed affine map of the bucket — so
# inference is ONE explode + ONE groupBy per corpus, no vocabulary
# broadcast, no model join, and adding features never reshuffles a
# lookup table. Real deployments load trained weights; the affine map
# stands in deterministically (both engines reproduce it bit-for-bit),
# and the logit is floor-quantized to e6 so ranking and gating are
# integer-exact cross-engine (t15/t16 discipline).
# ---------------------------------------------------------------------------
_T21_BUCKETS, _T21_BIAS = 4096, 37


def _quality_classifier_sql(spark_dialect: bool) -> str:
    if spark_dialect:
        toks = "SELECT doc_id, explode(split(lower(text), ' ')) AS tok FROM documents"
        bucket = f"CAST(conv(substring(md5(tok), 1, 6), 16, 10) AS BIGINT) % {_T21_BUCKETS}"
    else:
        toks = "SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents"
        bucket = f"CAST(('0x' || substring(md5(tok), 1, 6)) AS BIGINT) % {_T21_BUCKETS}"
    return f"""
    WITH toks AS ({toks}),
    feats AS (
      SELECT doc_id, {bucket} AS bucket FROM toks
    ),
    scored AS (
      SELECT doc_id, COUNT(*) AS n_tokens,
             CAST(SUM(bucket % 1001 - 500) AS BIGINT) AS score_sum
      FROM feats GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, score_sum,
           CAST(floor((score_sum + {_T21_BIAS} * n_tokens) * 1000000.0 / n_tokens)
                AS BIGINT) AS logit_e6,
           (score_sum + {_T21_BIAS} * n_tokens) > 0 AS keep
    FROM scored ORDER BY doc_id
    """


@query("t21_quality_classifier", oracle=_quality_classifier_sql(False))
def t21(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_quality_classifier_sql(True))


# ---------------------------------------------------------------------------
# t22 — corpus-wide chunk dedup WITH document reconstruction (CCNet's
# actual output): where t19 only grades each doc's duplicate fraction,
# t22 rewrites the corpus — every 5-word chunk keeps exactly its FIRST
# occurrence (min (doc_id, position) over the whole corpus — a
# row_number over the chunk-hash partition), and each document is
# reassembled from its surviving chunks in position order. Graded
# output carries the md5 of the rebuilt text (compact, cell-exact) plus
# kept/removed counts; trailing words beyond the last full chunk drop
# deterministically in both engines. At 100 TB: one explode, one
# window by chunk hash (high-cardinality key — AQE-splittable), one
# per-doc regroup bounded by doc size; no pairwise state anywhere.
# ---------------------------------------------------------------------------
def _chunk_rewrite_sql(spark_dialect: bool, inst_rel: str | None = None) -> str:
    W_ = _CHUNK_W
    if spark_dialect:
        inst = f"""
      SELECT doc_id, i AS pos,
             array_join(slice(ws, i * {W_} + 1, {W_}), ' ') AS chunk
      FROM (SELECT doc_id, split(lower(text), ' ') AS ws FROM documents)
      LATERAL VIEW explode(sequence(0, CAST(floor(size(ws) / {W_}) AS INT) - 1)) s AS i
      WHERE size(ws) >= {W_}
        """
        agg = """
      SELECT doc_id, COUNT(*) AS n_kept,
             md5(concat_ws(' ',
                 transform(array_sort(collect_list(struct(pos, chunk))),
                           s -> s.chunk))) AS clean_md5
      FROM kept GROUP BY doc_id
        """
    else:
        inst = f"""
      SELECT doc_id, i AS pos,
             array_to_string(list_slice(ws, i * {W_} + 1, i * {W_} + {W_}), ' ') AS chunk
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents) w
      CROSS JOIN (SELECT unnest(range(0, 2000)) AS i) g
      WHERE i * {W_} + {W_} <= len(ws)
        """
        agg = """
      SELECT doc_id, COUNT(*) AS n_kept,
             md5(string_agg(chunk, ' ' ORDER BY pos)) AS clean_md5
      FROM kept GROUP BY doc_id
        """
    if inst_rel == "__inst_only__":
        return inst
    if inst_rel is None:
        # inline spelling (the DuckDB oracle; DuckDB plans CTEs once)
        inst_cte, inst_name = f"inst AS ({inst}),", "inst"
    else:
        # Spark runtime path: the chunk-instance relation is
        # checkpointed by the caller — its two consumers (the
        # first-occurrence window and the per-doc totals) would
        # otherwise each re-run the chunk explode over raw documents
        # (PERF.md r27)
        inst_cte, inst_name = "", inst_rel
    return f"""
    WITH {inst_cte}
    owner AS (
      SELECT doc_id, pos, chunk,
             ROW_NUMBER() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, pos) AS rk
      FROM {inst_name}
    ),
    kept AS (SELECT doc_id, pos, chunk FROM owner WHERE rk = 1),
    rebuilt AS ({agg}),
    tot AS (SELECT doc_id, COUNT(*) AS n_chunks FROM {inst_name} GROUP BY doc_id)
    SELECT d.doc_id AS doc_id,
           COALESCE(t.n_chunks, 0) AS n_chunks,
           COALESCE(r.n_kept, 0) AS n_kept,
           COALESCE(t.n_chunks, 0) - COALESCE(r.n_kept, 0) AS n_removed,
           COALESCE(r.clean_md5, md5('')) AS clean_md5
    FROM documents d
    LEFT JOIN tot t ON t.doc_id = d.doc_id
    LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
    ORDER BY doc_id
    """


@query("t22_chunk_dedup_rewrite", oracle=_chunk_rewrite_sql(False))
def t22(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    materialize(spark.sql(
        _chunk_rewrite_sql(True, inst_rel="__inst_only__")
    ), "__t22_inst__")
    return spark.sql(_chunk_rewrite_sql(True, inst_rel="__t22_inst__"))


# ---------------------------------------------------------------------------
# t23 — WOE (weight-of-evidence) feature binning: the classic tabular
# feature-prep step for quality-filter training — documents bin by
# length (fixed-width 10-token bins, capped at 15), the binary label is
# lang='en', and each bin scores ln(P(bin|pos)/P(bin|neg)) with +1
# Laplace smoothing. Integer discipline throughout: counts are exact,
# the WOE quantizes to e4 BIGINT via floor(ln(...)*1e4) — the t18
# pattern where the ratio is a quotient of exact integers, so libm ULP
# noise collapses under the floor. One explode-free pass: token count
# is size(split(...)), one groupBy(bin) shuffle, scalar totals
# broadcast back.
# ---------------------------------------------------------------------------
def _woe_sql(bins_rel: str | None = None) -> str:
    bins_sql = """
    WITH feats AS (
      SELECT CAST(least(floor(len(string_split(text, ' ')) / 10.0), 15) AS BIGINT) AS bin,
             CAST(lang = 'en' AS INT) AS pos
      FROM documents
    )
      SELECT bin,
             CAST(SUM(pos) AS BIGINT) AS n_pos,
             CAST(SUM(1 - pos) AS BIGINT) AS n_neg
      FROM feats GROUP BY bin
    """
    if bins_rel == "__bins_only__":
        return bins_sql
    if bins_rel is None:
        bins_cte, bins = f"bins AS ({bins_sql}),", "bins"
    else:
        # Spark path: bins is checkpointed by the caller — its two
        # consumers (totals + report) would otherwise each re-run the
        # token-count scan over raw documents TEXT (PERF.md r27)
        bins_cte, bins = "", bins_rel
    return f"""
    WITH {bins_cte}
    tot AS (
      SELECT CAST(SUM(n_pos) AS BIGINT) AS tot_pos,
             CAST(SUM(n_neg) AS BIGINT) AS tot_neg,
             COUNT(*) AS n_bins
      FROM {bins}
    )
    SELECT bin, n_pos, n_neg,
           CAST(floor(ln(
             ((n_pos + 1) * CAST(tot_neg + n_bins AS DOUBLE)) /
             ((n_neg + 1) * CAST(tot_pos + n_bins AS DOUBLE))
           ) * 10000) AS BIGINT) AS woe_e4
    FROM {bins} CROSS JOIN tot
    ORDER BY bin
    """


@query("t23_woe_binning", oracle=_woe_sql())
def t23(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    materialize(
        spark.sql(rewrite_sql(_woe_sql(bins_rel="__bins_only__"), {})), "__t23_bins__"
    )
    return spark.sql(rewrite_sql(_woe_sql(bins_rel="__t23_bins__"), {}))


# ---------------------------------------------------------------------------
# t24 — n-gram novelty scoring: per document, the fraction of its
# DISTINCT word 5-grams that occur for the FIRST time in this document
# (first occurrence = minimum doc_id over the whole corpus — the
# ingestion-order novelty every redundancy audit sorts by: a corpus
# whose late documents score near zero is re-crawling itself, and a
# curation pipeline caps collection there). Distinct from t04
# (winnowing picks a per-doc fingerprint subset) and d07 (overlap vs a
# fixed benchmark set): novelty compares every document against ALL
# lower-numbered documents at once via one grams->MIN(doc_id) groupBy —
# no pairwise anything. Scale shape: grams are md5'd fixed-width keys;
# one groupBy(g) shuffle sized by distinct grams, one groupBy(doc)
# re-aggregation; both partial-aggregate map-side. The ratio is a
# single exact integer division per doc (cell-exact cross-engine).
# ---------------------------------------------------------------------------
_NOVELTY_N = 5  # words per gram


def _novelty_sql(spark_dialect: bool) -> str:
    n = _NOVELTY_N
    if spark_dialect:
        # xxhash64 instead of md5: the gram key is a pure EQUALITY key
        # (each engine groups its own grams; keys are never emitted or
        # compared across engines), so the Spark side uses an 8-byte
        # bigint instead of a 32-char hex string — same 64-bit-class
        # fingerprint, half the shuffle bytes, no crypto hash + hex
        # encode per gram (guide §2.3; d19's fingerprint argument).
        grams = f"""
      SELECT doc_id, explode(array_distinct(
        CASE WHEN size(w) >= {n} THEN
          transform(sequence(0, size(w) - {n}),
                    i -> xxhash64(concat_ws(' ', slice(w, i + 1, {n}))))
        ELSE array(xxhash64(concat_ws(' ', w))) END)) AS g
      FROM (SELECT doc_id, split(text, ' ') AS w FROM documents)
        """
    else:
        grams = f"""
      SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(w) >= {n} THEN
          list_transform(range(1, len(w) - {n - 2}),
                         i -> md5(array_to_string(w[i:i+{n - 1}], ' ')))
        ELSE [md5(array_to_string(w, ' '))] END)) AS g
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        """
    if spark_dialect:
        # ONE shuffle instead of three: "first occurrence of gram g" is
        # MIN(doc_id) OVER (PARTITION BY g) — the same window spelling
        # d19's hits step uses — so the gram relation is consumed ONCE
        # (no groupBy(g) + shuffle-join-back on g, no caller-side
        # materialize to protect two consumers; guide §2.4 "two
        # operations keyed the same way share one exchange"). The
        # per-doc fold then re-aggregates on doc_id as before.
        return f"""
    WITH grams AS ({grams}),
    owned AS (
      SELECT doc_id, MIN(doc_id) OVER (PARTITION BY g) AS first_doc
      FROM grams
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel
      FROM owned
      GROUP BY doc_id
    )
    SELECT doc_id, n_grams, n_novel,
           CAST(n_novel AS DOUBLE) / n_grams AS novelty
    FROM per_doc
    ORDER BY doc_id
    """
    return f"""
    WITH grams AS ({grams}),
    first_seen AS (
      SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g
    ),
    per_doc AS (
      SELECT gr.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN fs.first_doc = gr.doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel
      FROM grams gr JOIN first_seen fs ON fs.g = gr.g
      GROUP BY gr.doc_id
    )
    SELECT doc_id, n_grams, n_novel,
           CAST(n_novel AS DOUBLE) / n_grams AS novelty
    FROM per_doc
    ORDER BY doc_id
    """


@query("t24_ngram_novelty", oracle=_novelty_sql(False))
def t24(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_novelty_sql(True))


# ---------------------------------------------------------------------------
# t25 — BPE merge training (two unrolled rounds): learn the first two
# byte-pair-encoding merges from the corpus word-frequency table —
# the distributed heart of tokenizer training (Sennrich et al. 2016;
# GPT-2's trainer is this loop run ~50k times). The input is the
# (word, freq) vocabulary — NOT the raw corpus — exactly how real BPE
# trainers run (count once, then iterate on the compact vocab). Each
# round: (1) adjacent-pair counts weighted by word frequency — one
# groupBy(pair), map-side combinable; (2) global argmax = a 1-row
# ORDER BY/LIMIT relation broadcast everywhere (q62's scalar-cutoff
# class); (3) merge applied to every spelling with ONE string replace.
# The replace trick makes greedy leftmost non-overlapping BPE merging
# a plain engine primitive in BOTH engines: symbols are separated by
# TWO spaces with single-space sentinels, so the pattern
# ' a  b ' consumes one space from each neighboring gap and adjacent
# occurrences still match (verified: ' a  a  a  b ' -> ' aa  a  b ',
# the greedy BPE result) — no UDF, no per-row Python in the loop.
# ---------------------------------------------------------------------------
_BPE_VOCAB = 200


def _bpe_sql(spark_dialect: bool) -> str:
    if spark_dialect:
        spell = "regexp_replace(word, '(.)', '$1  ')"
        toks = "split(trim(__SP__), '  ')"

        def pairs(sy):
            return (
                f"explode(CASE WHEN size({sy}) >= 2 THEN "
                f"transform(sequence(1, size({sy}) - 1), "
                f"i -> concat(element_at({sy}, i), '|', element_at({sy}, i + 1))) "
                f"ELSE array() END)"
            )
    else:
        spell = r"regexp_replace(word, '(.)', '\1  ', 'g')"
        toks = "string_split(trim(__SP__), '  ')"

        def pairs(sy):
            return (
                f"unnest(list_transform(range(1, len({sy})), "
                f"i -> {sy}[i] || '|' || {sy}[i + 1]))"
            )

    def count_block(n):
        return f"""
    p{n} AS (
      SELECT freq, {pairs("sy")} AS pair
      FROM (SELECT freq, {toks.replace('__SP__', f'sp{n}')} AS sy FROM v{n})
    ),
    c{n} AS (SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt FROM p{n} GROUP BY pair),
    b{n + 1} AS (
      SELECT split_part(pair, '|', 1) AS a, split_part(pair, '|', 2) AS b, cnt
      FROM c{n} ORDER BY cnt DESC, pair LIMIT 1
    )"""

    hint = "/*+ BROADCAST(b1) */ " if spark_dialect else ""
    return f"""
    WITH words AS (
      SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT {"explode(split(text, ' '))" if spark_dialect else "unnest(string_split(text, ' '))"} AS w FROM documents)
      WHERE length(w) > 0
      GROUP BY w ORDER BY freq DESC, word LIMIT {_BPE_VOCAB}
    ),
    v0 AS (
      SELECT freq,
             ' ' || left({spell}, length({spell}) - 1) AS sp0
      FROM words
    ),{count_block(0)},
    v1 AS (
      SELECT {hint}freq,
             replace(sp0, ' ' || b1.a || '  ' || b1.b || ' ',
                     ' ' || b1.a || b1.b || ' ') AS sp1
      FROM v0 CROSS JOIN b1
    ),{count_block(1)}
    SELECT CAST(1 AS BIGINT) AS round, a AS left_sym, b AS right_sym,
           a || b AS merged, cnt AS pair_count
    FROM b1
    UNION ALL
    SELECT CAST(2 AS BIGINT), a, b, a || b, cnt FROM b2
    ORDER BY round
    """


@query("t25_bpe_merge_training", oracle=_bpe_sql(False))
def t25(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_bpe_sql(True))


# ---------------------------------------------------------------------------
# t26 — PMI collocation mining: corpus-level top-K word pairs by
# pointwise mutual information, the classic collocation/phrase-table
# builder (Church & Hanks 1990) a tokenizer- or phrase-aware curation
# pipeline runs to decide which adjacent pairs deserve a merged token.
# PMI = ln(c12 * N / (cl * cr)) with cl/cr the bigram-position
# marginals; pairs under _PMI_MIN_COUNT occurrences are noise and are
# dropped before ranking. Scale shape: everything derives from the
# DISTINCT-BIGRAM count table `big` — one generator pass over the
# corpus (t13's materialized bigram table on the Spark side), one
# groupBy, then the marginals/total are aggregations over `big`
# itself (vocab^2-bounded, far smaller than the corpus), so no second
# corpus scan. Spark materializes `big` once: the
# tail references it four times and CTE inlining would re-run the
# bigram groupBy per reference. Cross-engine: counts are exact
# BIGINTs, the PMI double is ROUND(...,6) (t13's ln convention), ties
# break on (w1, w2).
# Reference parity: no counterpart (core/flow.py delegates relational
# work to DuckDB); extends the text-curation family like t11-t25.
# ---------------------------------------------------------------------------
_PMI_MIN_COUNT = 5
_PMI_TOP = 50


def _pmi_tail_sql(
    big: str, _PMI_MIN_COUNT: int = _PMI_MIN_COUNT, _PMI_TOP: int = _PMI_TOP
) -> str:
    """Ranking tail over a bigram-count relation ``big`` (w1, w2, c2)
    — shared verbatim by both engines. The threshold/top-k default to
    the graded battery constants; the YAML stage passes its params."""
    return f"""
    WITH uni_l AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS cl FROM {big} GROUP BY w1),
    uni_r AS (SELECT w2, CAST(SUM(c2) AS BIGINT) AS cr FROM {big} GROUP BY w2),
    tot AS (SELECT CAST(SUM(c2) AS BIGINT) AS n FROM {big})
    SELECT b.w1 AS w1, b.w2 AS w2, b.c2 AS pair_count,
           ROUND(ln((CAST(b.c2 AS DOUBLE) * CAST(t.n AS DOUBLE)) /
                    (CAST(l.cl AS DOUBLE) * CAST(r.cr AS DOUBLE))), 6) AS pmi
    FROM {big} b
    JOIN uni_l l ON l.w1 = b.w1
    JOIN uni_r r ON r.w2 = b.w2
    CROSS JOIN tot t
    WHERE b.c2 >= {_PMI_MIN_COUNT}
    ORDER BY pmi DESC, w1, w2
    LIMIT {_PMI_TOP}
    """


def _pmi_oracle_sql() -> str:
    toks = "list_filter(string_split(lower(text), ' '), x -> x <> '')"
    tail = _pmi_tail_sql("big").strip()
    assert tail.startswith("WITH ")
    return f"""
    WITH bigrams AS (
      SELECT w[pos] AS w1, w[pos + 1] AS w2
      FROM (
        SELECT w, unnest(range(1, greatest(len(w), 1))) AS pos
        FROM (SELECT {toks} AS w FROM documents)
      )
    ),
    big AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
            FROM bigrams GROUP BY w1, w2),
    {tail[len("WITH "):]}
    """


@query("t26_pmi_collocations", oracle=_pmi_oracle_sql())
def t26(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t13_bigrams(spark, sf_dir)
    materialize(spark.sql(
        "SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 "
        "FROM t13_bigrams GROUP BY w1, w2"
    ), "t26_big")
    return spark.sql(_pmi_tail_sql("t26_big"))


# ---------------------------------------------------------------------------
# t27 — Gopher-style quality rules (Rae et al. 2021, "Scaling Language
# Models", appendix A1.1): the PUBLIC rule-set production curation
# pipelines apply before training — document length bounds, mean word
# length bounds, symbol-to-word ratio, alphabetic-word fraction,
# stop-word presence, and a repetition (type-token) bound — each as an
# explicit pass/fail verdict so the filter is auditable per rule
# (unlike t03's blended score). Scale shape: ONE scan, all signals are
# per-row regexp/length expressions (whole-stage codegen, no UDFs, no
# shuffle beyond the final sort), embarrassingly parallel at 100 TB.
# Exactness: every rule compares integer cross-products (e.g. mean
# word length in [3,10] is  3*n_words <= n_word_chars AND
# n_word_chars <= 10*n_words) — no ratio is ever materialized as a
# float, so the DuckDB oracle matches bit-for-bit.
# Reference parity: no counterpart (core/flow.py delegates relational
# work to DuckDB); extends the text-curation family like t03/t07.
# ---------------------------------------------------------------------------
_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS = 50, 100000


def _gopher_sql(
    spark_dialect: bool,
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
) -> str:
    if spark_dialect:
        n_words = "CAST(size(regexp_extract_all({text}, '\\\\S+', 0)) AS BIGINT)"
        n_alpha = "CAST(regexp_count(lower({text}), '(^| )[^ ]*[a-z]') AS BIGINT)"
        n_sym = "CAST(regexp_count({text}, '#|\\\\.\\\\.\\\\.') AS BIGINT)"
        n_unique = "CAST(size(array_distinct(split(lower({text}), ' '))) AS BIGINT)"
        stop_hits = " + ".join(
            f"CAST(regexp_count(lower({text}), '(^| ){w}( |$)') > 0 AS INT)"
            for w in _GOPHER_STOPWORDS
        )
    else:
        n_words = "CAST(len(regexp_extract_all({text}, '\\S+')) AS BIGINT)"
        n_alpha = "CAST(len(regexp_extract_all(lower({text}), '(^| )[^ ]*[a-z]')) AS BIGINT)"
        n_sym = "CAST(len(regexp_extract_all({text}, '#|\\.\\.\\.')) AS BIGINT)"
        n_unique = "CAST(len(list_distinct(string_split(lower({text}), ' '))) AS BIGINT)"
        stop_hits = " + ".join(
            f"CAST(len(regexp_extract_all(lower({text}), '(^| ){w}( |$)')) > 0 AS INT)"
            for w in _GOPHER_STOPWORDS
        )
    n_words = n_words.format(text=text)
    n_alpha = n_alpha.format(text=text)
    n_sym = n_sym.format(text=text)
    n_unique = n_unique.format(text=text)
    stop_hits = stop_hits.format(text=text)
    return f"""
    WITH sig AS (
      SELECT {id_col} AS doc_id,
             {n_words} AS n_words,
             CAST(length(replace({text}, ' ', '')) AS BIGINT) AS n_word_chars,
             {n_alpha} AS n_alpha_words,
             {n_sym} AS n_symbols,
             {n_unique} AS n_unique,
             CAST({stop_hits} AS BIGINT) AS n_stopword_kinds
      FROM {table}
    ),
    rules AS (
      SELECT doc_id, n_words,
             n_words >= {_GOPHER_MIN_WORDS}
               AND n_words <= {_GOPHER_MAX_WORDS} AS r_word_count,
             3 * n_words <= n_word_chars
               AND n_word_chars <= 10 * n_words AS r_mean_word_len,
             5 * n_alpha_words >= 4 * n_words AS r_alpha_words,
             10 * n_symbols <= n_words AS r_symbol_ratio,
             n_stopword_kinds >= 2 AS r_stopwords,
             5 * n_unique >= n_words AS r_repetition
      FROM sig
    )
    SELECT doc_id, n_words,
           r_word_count, r_mean_word_len, r_alpha_words,
           r_symbol_ratio, r_stopwords, r_repetition,
           CAST(CAST(NOT r_word_count AS INT) + CAST(NOT r_mean_word_len AS INT)
              + CAST(NOT r_alpha_words AS INT) + CAST(NOT r_symbol_ratio AS INT)
              + CAST(NOT r_stopwords AS INT) + CAST(NOT r_repetition AS INT)
              AS BIGINT) AS n_rules_failed,
           r_word_count AND r_mean_word_len AND r_alpha_words
             AND r_symbol_ratio AND r_stopwords AND r_repetition AS passes_gopher
    FROM rules
    ORDER BY doc_id
    """


@query("t27_gopher_rules", oracle=_gopher_sql(False))
def t27(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_gopher_sql(True))


# ---------------------------------------------------------------------------
# t28 — per-domain quality quota (domain capping): Common-Crawl-style
# curation caps how many documents any single domain may contribute,
# keeping each domain's BEST K by quality score — the selection
# complement to t16's soft mix WEIGHTS (capping changes membership,
# weighting changes sampling). Output is the per-source audit row a
# curation run publishes: totals, kept, dropped, the kept-score range,
# and a kept-set digest (SUM of kept doc_ids) that pins WHICH documents
# survived, not just how many. Scale shape: the quality score is t03's
# single-scan expression; the per-source ROW_NUMBER window ships each
# row once to its source partition, and the kept/dropped split happens
# INSIDE the same aggregate via rk<=K CASE expressions — the fused
# one-pass spelling (one documents scan instead of two). Trade-off:
# with no rk<=K filter between window and aggregate, Spark's
# WindowGroupLimit per-partition top-K pre-filter does NOT apply —
# every row flows through the full window into the fold; that is the
# price of folding totals and kept-stats into one pass. The audit
# output is bounded by |sources|. A pathologically hot
# domain is the documented straggler class (ts23/ts29's note): the
# production mitigation is a two-level top-K (per (source, hash-bucket)
# pre-rank, then re-rank the K*B survivors), which preserves exact
# semantics because top-K distributes over partitions of the same key.
# Exactness: the score is t03's deterministic double; ties break on
# doc_id; MIN/MAX over doubles and BIGINT sums are order-independent.
# Reference parity: no counterpart (core/flow.py delegates relational
# work to DuckDB); the selection complement to t16's mix weights.
# ---------------------------------------------------------------------------
_DOMAIN_CAP = 15


def _domain_caps_sql(spark_dialect: bool) -> str:
    return f"""
    WITH scored AS ({_quality_scored(spark_dialect)}),
    ranked AS (
      SELECT d.source, s.doc_id, s.score,
             ROW_NUMBER() OVER (PARTITION BY d.source
                                ORDER BY s.score DESC, s.doc_id) AS rk
      FROM scored s JOIN documents d ON d.doc_id = s.doc_id
    ),
    merged AS (
      -- kept stats AND per-source totals fold in ONE pass over ranked
      -- (a separate totals CTE re-scanned documents; PERF.md r27)
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN rk <= {_DOMAIN_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             MIN(CASE WHEN rk <= {_DOMAIN_CAP} THEN score END) AS min_kept_score,
             MAX(CASE WHEN rk <= {_DOMAIN_CAP} THEN score END) AS max_kept_score,
             CAST(SUM(CASE WHEN rk <= {_DOMAIN_CAP} THEN doc_id END) AS BIGINT) AS kept_id_digest
      FROM ranked GROUP BY source
    )
    SELECT source, n_docs, n_kept,
           n_docs - n_kept AS n_dropped,
           min_kept_score, max_kept_score, kept_id_digest
    FROM merged
    ORDER BY source
    """


@query("t28_domain_caps", oracle=_domain_caps_sql(False))
def t28(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_domain_caps_sql(True))


# ---------------------------------------------------------------------------
# t29 — tokenizer fertility per language: corpus-level BPE-tokens-per-
# word and chars-per-token by lang — the multilingual budgeting metric
# (high-fertility languages consume disproportionate context window;
# the mix designer reads this table next to t16's domain weights).
# Scale shape: t14's per-row token counting (pure codegen regexes) in
# ONE scan, aggregated onto the |langs|-bounded relation; no second
# corpus pass. Exactness: per-lang sums of exact BIGINT counts; each
# reported ratio is one integer->double division.
# Reference parity: no counterpart (core/flow.py delegates relational
# work to DuckDB); the corpus rollup of t14's per-document counts.
# ---------------------------------------------------------------------------
def _fertility_sql(spark_dialect: bool) -> str:
    if spark_dialect:
        pat = _BPE_REGEX.replace("'", "\\'")
        n = f"size(regexp_extract_all(text, '{pat}', 0))"
        ws = r"size(regexp_extract_all(text, '\\S+', 0))"
    else:
        pat = _BPE_REGEX.replace("'", "''")
        n = f"len(regexp_extract_all(text, '{pat}'))"
        ws = r"len(regexp_extract_all(text, '\S+'))"
    return f"""
    WITH per_doc AS (
      SELECT lang,
             CAST({n} AS BIGINT) AS n_bpe,
             CAST({ws} AS BIGINT) AS n_words,
             CAST(length(text) AS BIGINT) AS n_chars
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(n_words) AS BIGINT) AS n_words,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(SUM(n_bpe) AS DOUBLE) / SUM(n_words) AS fertility,
           CAST(SUM(n_chars) AS DOUBLE) / SUM(n_bpe) AS chars_per_token
    FROM per_doc
    GROUP BY lang
    ORDER BY lang
    """


@query("t29_tokenizer_fertility", oracle=_fertility_sql(False))
def t29(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_fertility_sql(True))


# ---------------------------------------------------------------------------
# t30 — lang-ID confusion matrix: t02's heuristic classifier graded
# against the corpus's labeled lang — the per-language QA table a
# curation pipeline reads before trusting automatic language routing
# (off-diagonal mass = mislabeled or misrouted documents; zh's
# romanized function words classically bleed into en/de). Scale shape:
# ONE corpus scan computes the per-doc scores + argmax (pure codegen
# regex counting, t02's shape), then everything aggregates onto the
# |langs|^2-bounded confusion relation; the per-label totals join is a
# 5-row broadcast. Exactness: counts are BIGINTs; the row share
# divides once; the diagonal flag is a string compare.
# Reference parity: no counterpart (core/flow.py delegates relational
# work to DuckDB); the corpus rollup of t02's per-document verdicts.
# ---------------------------------------------------------------------------
def _langid_confusion_sql(conf_rel: str | None = None) -> str:
    count = lambda p: f"CAST(len(regexp_extract_all(lower(text), '{p}')) AS BIGINT)"
    score_cols = ", ".join(
        f"{_lang_score(lg, count)} AS score_{lg}" for lg in _LANG_WORDS
    )
    head = f"""
    WITH scores AS (
      SELECT doc_id, lang AS labeled_lang, {score_cols}
      FROM documents
    ),
    verdicts AS (
      SELECT labeled_lang,
        CASE GREATEST(score_en, score_de, score_fr, score_es, score_zh)
          WHEN score_en THEN 'en' WHEN score_de THEN 'de' WHEN score_fr THEN 'fr'
          WHEN score_es THEN 'es' ELSE 'zh' END AS predicted_lang
      FROM scores
    ),
    conf_core AS (
      SELECT labeled_lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM verdicts GROUP BY labeled_lang, predicted_lang
    )
    SELECT * FROM conf_core"""
    if conf_rel == "__conf_only__":
        return head
    if conf_rel is None:
        conf_cte, conf = f"conf AS ({head}),", "conf"
    else:
        # Spark path: conf is checkpointed by the caller — its two
        # consumers (label totals + report) would otherwise each re-run
        # the regexp-scoring scan over raw documents TEXT (PERF.md r27)
        conf_cte, conf = "", conf_rel
    return f"""
    WITH {conf_cte}
    totals AS (
      SELECT labeled_lang, CAST(SUM(n_docs) AS BIGINT) AS n_label
      FROM {conf} GROUP BY labeled_lang
    )
    SELECT c.labeled_lang AS labeled_lang, c.predicted_lang AS predicted_lang,
           c.n_docs AS n_docs,
           CAST(c.n_docs AS DOUBLE) / t.n_label AS label_share,
           c.labeled_lang = c.predicted_lang AS is_correct
    FROM {conf} c JOIN totals t ON t.labeled_lang = c.labeled_lang
    ORDER BY labeled_lang, predicted_lang
    """


@query("t30_langid_confusion", oracle=_langid_confusion_sql())
def t30(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    materialize(spark.sql(
        rewrite_sql(_langid_confusion_sql(conf_rel="__conf_only__"), {})
    ), "__t30_conf__")
    return spark.sql(rewrite_sql(_langid_confusion_sql(conf_rel="__t30_conf__"), {}))


# ---------------------------------------------------------------------------
# t31 — cross-source shingle containment matrix: for every ordered
# source pair (a, b), the share of a's distinct 3-word shingles that
# also occur in b — the corpus-level contamination/overlap audit run
# before mixing crawl sources into a training mix (d07 checks docs
# against a benchmark set; t31 checks the sources against EACH
# OTHER, the asymmetric containment C(a,b) = |A n B| / |A| that
# flags "source a is mostly a subset of source b" mirror
# relationships). Scale shape: the shared cached __shingles__
# relation joined once to the doc->source map, ONE distinct per
# (source, shingle), an equi-join on the shingle key for the
# intersection (same class as d07's gram join — never all-pairs on
# docs), and a |sources|^2-bounded assembly (the sizes x sizes cross
# join is 20x20 by design). The distinct/join KEY is the 56-bit md5
# prefix d02's signatures already ride — at 100 TB the distinct and
# the intersection join shuffle 8-byte integers instead of 3-word
# strings (~4x payload cut; a collision among a source's distinct
# shingles is ~n^2/2^57, negligible, and BOTH engines hash
# identically so cross-engine exactness is unconditional).
# Exactness: all counts are integers over distinct hashed sets; the
# containment share divides once.
# Reference parity: no counterpart (the reference delegates execution
# to DuckDB); extends the d07/t16/t28 corpus-mix audit family.
# ---------------------------------------------------------------------------
def _source_overlap_sql(spark_dialect: bool, src_sh_rel: str | None = None) -> str:
    if spark_dialect:
        shingles = "SELECT doc_id, sh FROM __shingles__"
        # the sizes x sizes pair assembly is |sources|^2 by design;
        # without the hint Spark plans a CartesianProduct (sizes is a
        # stats-less aggregate), with it a broadcast loop over 20 rows
        hint = "/*+ BROADCAST(zb), BROADCAST(i) */ "
        hkey = "CAST(conv(substr(md5(s.sh), 1, 14), 16, 10) AS BIGINT)"
    else:
        from .dedup import DUCK_SHINGLES

        shingles = DUCK_SHINGLES
        hint = ""
        hkey = "CAST(('0x' || substr(md5(s.sh), 1, 14)) AS BIGINT)"
    src_sh_sql = f"""
    WITH shingles AS ({shingles})
      SELECT DISTINCT d.source AS source, {hkey} AS sh
      FROM shingles s JOIN documents d ON d.doc_id = s.doc_id
    """
    if src_sh_rel == "__src_sh_only__":
        return src_sh_sql
    if src_sh_rel is None:
        # inline spelling (the DuckDB oracle; DuckDB plans CTEs once)
        src_cte = f"src_sh AS ({src_sh_sql}),"
        src_sh = "src_sh"
    else:
        # Spark runtime path: the per-source shingle-set is
        # checkpointed by the caller — its three consumers (sizes +
        # both intersection sides) would otherwise each re-run the
        # shingle x documents join (PERF.md r27)
        src_cte = ""
        src_sh = src_sh_rel
    return f"""
    WITH {src_cte}
    sizes AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_shingles
      FROM {src_sh} GROUP BY source
    ),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM {src_sh} a JOIN {src_sh} b ON b.sh = a.sh AND b.source <> a.source
      GROUP BY a.source, b.source
    )
    SELECT {hint}za.source AS src_a, zb.source AS src_b,
           za.n_shingles AS n_a, zb.n_shingles AS n_b,
           COALESCE(i.n_common, 0) AS n_common,
           CAST(COALESCE(i.n_common, 0) AS DOUBLE) / za.n_shingles AS containment_a_in_b,
           COALESCE(i.n_common, 0) * 10 >= za.n_shingles * 9 AS near_subset
    FROM sizes za
    JOIN sizes zb ON zb.source <> za.source
    LEFT JOIN inter i ON i.src_a = za.source AND i.src_b = zb.source
    ORDER BY src_a, src_b
    """


def t31(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import cached_shingles

    load_tables(spark, sf_dir)
    cached_shingles(spark, sf_dir)
    materialize(spark.sql(
        _source_overlap_sql(True, src_sh_rel="__src_sh_only__")
    ), "__t31_src_sh__")
    return spark.sql(_source_overlap_sql(True, src_sh_rel="__t31_src_sh__"))


QUERIES["t31_source_overlap"] = t31
ORACLES["t31_source_overlap"] = _source_overlap_sql(False)


# ---------------------------------------------------------------------------
# t32 — temperature-based sampling mix (the tau = 0.5 square-root
# source weighting of mBERT / XLM-R, Conneau & Lample 2019): per
# source, the token inventory, its temperature weight
# w_i = sqrt(t_i) / sum_j sqrt(t_j) (up-weights small sources against
# head domination), the expected token draw from a fixed training
# budget, and the implied epoch count over the source's inventory —
# with the published "repeating data degrades" flag at > 4 epochs
# (Muennighoff et al. 2023 place the knee near 4). Scale shape: ONE
# map-side-combinable scan onto the |sources|-bounded inventory; the
# 1-row normalizer scalar cross-joins in (q59's class). Exactness:
# token counts BIGINT; sqrt is quantized to e6 BIGINTs BEFORE the
# normalizer sum (so the sum is integer, order-free); weight/epochs
# each divide once; the epoch flag cross-multiplies integers.
# Reference parity: no counterpart (the reference delegates execution
# to DuckDB); extends the t10/t16/t28 training-mix family.
# ---------------------------------------------------------------------------
#: fixed training budget (tokens drawn) the schedule is planned for
T32_BUDGET = 1_000_000
_T32_EPOCH_KNEE = 4


def _temperature_mix_sql(spark_dialect: bool, quant_rel: str | None = None) -> str:
    # whitespace-class regex on BOTH sides (r7 advice): split(trim(x), ' +')
    # returned 1 for empty/whitespace-only docs and ignored tabs/newlines,
    # diverging from the oracle's \S+ extraction on edge inputs
    ntok = (
        "size(regexp_extract_all(text, '\\\\S+', 0))"
        if spark_dialect
        else "len(regexp_extract_all(text, '\\S+'))"
    )
    b = T32_BUDGET
    head = f"""
    WITH inv AS (
      SELECT source,
             CAST(SUM({ntok}) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ),
    quant_core AS (
      SELECT source, n_docs, n_tokens,
             CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0) AS BIGINT) AS s_e6
      FROM inv
    )
    SELECT * FROM quant_core"""
    if quant_rel == "__quant_only__":
        return head
    if quant_rel is None:
        quant_cte, quant = f"quant AS ({head}),", "quant"
    else:
        # Spark path: quant is checkpointed by the caller — its two
        # consumers (normalizer + report) would otherwise each re-run
        # the token-count scan over raw documents TEXT (PERF.md r27)
        quant_cte, quant = "", quant_rel
    return f"""
    WITH {quant_cte}
    norm AS (SELECT CAST(SUM(s_e6) AS BIGINT) AS s_total FROM {quant})
    SELECT q.source AS source, q.n_docs AS n_docs, q.n_tokens AS n_tokens,
           CAST(q.s_e6 AS DOUBLE) / n.s_total AS mix_weight,
           CAST(({b} * q.s_e6) {"div" if spark_dialect else "//"} n.s_total
                AS BIGINT) AS expected_tokens,
           CAST({b} * q.s_e6 AS DOUBLE) / (n.s_total * q.n_tokens) AS epochs,
           {b} * q.s_e6 > {_T32_EPOCH_KNEE} * n.s_total * q.n_tokens AS overfit_risk
    FROM {quant} q CROSS JOIN norm n
    ORDER BY source
    """


def t32(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    materialize(spark.sql(
        _temperature_mix_sql(True, quant_rel="__quant_only__")
    ), "__t32_quant__")
    return spark.sql(_temperature_mix_sql(True, quant_rel="__t32_quant__"))


QUERIES["t32_temperature_mix"] = t32
ORACLES["t32_temperature_mix"] = _temperature_mix_sql(False)


# ---------------------------------------------------------------------------
# t33 — PII prevalence audit by source: per crawl source, how many
# documents carry each PII type (t09's exact-match regexes: email /
# IPv4 / phone), how many are clean, and the source's PII document
# share — the compliance report that decides which sources need
# scrubbing (t09's redaction) before entering a training mix. The
# synthetic corpus carries no PII, so the audit PLANTS it
# deterministically and SELECTIVELY (email iff doc_id % 3 = 0, IP iff
# % 5 = 0, phone iff % 7 = 0 — mirrored in both engines), which makes
# prevalence vary by source and proves the detectors count EXACTLY
# the planted strings. Scale shape: ONE codegen regex scan onto the
# |sources|-bounded report; no joins, no windows. Exactness: counts
# are integers; the share divides once.
# Reference parity: no counterpart (the reference delegates execution
# to DuckDB); completes the t09/q67/q69/q72/q75 privacy family.
# ---------------------------------------------------------------------------
def _pii_audit_sql(spark_dialect: bool) -> str:
    cast_s = "STRING" if spark_dialect else "VARCHAR"
    if spark_dialect:
        e, i, p = (
            _PII_EMAIL.replace("\\", "\\\\"),
            _PII_IP.replace("\\", "\\\\"),
            _PII_PHONE.replace("\\", "\\\\"),
        )
        n = lambda pat: f"size(regexp_extract_all(text, '{pat}', 0))"
    else:
        e, i, p = _PII_EMAIL, _PII_IP, _PII_PHONE
        n = lambda pat: f"len(regexp_extract_all(text, '{pat}'))"
    return f"""
    WITH planted AS (
      SELECT source,
             concat(text,
               CASE WHEN doc_id % 3 = 0
                    THEN concat(' contact user', CAST(doc_id AS {cast_s}), '@mail.example.com')
                    ELSE '' END,
               CASE WHEN doc_id % 5 = 0
                    THEN concat(' from 10.0.0.', CAST(doc_id % 256 AS {cast_s}))
                    ELSE '' END,
               CASE WHEN doc_id % 7 = 0
                    THEN concat(' tel +1-555-', lpad(CAST(doc_id % 10000 AS {cast_s}), 4, '0'))
                    ELSE '' END
             ) AS text
      FROM documents
    ),
    scanned AS (
      SELECT source,
             CASE WHEN {n(e)} > 0 THEN 1 ELSE 0 END AS has_email,
             CASE WHEN {n(i)} > 0 THEN 1 ELSE 0 END AS has_ip,
             CASE WHEN {n(p)} > 0 THEN 1 ELSE 0 END AS has_phone
      FROM planted
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(has_email) AS BIGINT) AS n_email_docs,
           CAST(SUM(has_ip) AS BIGINT) AS n_ip_docs,
           CAST(SUM(has_phone) AS BIGINT) AS n_phone_docs,
           CAST(SUM(CASE WHEN has_email + has_ip + has_phone = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clean_docs,
           CAST(SUM(CASE WHEN has_email + has_ip + has_phone > 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS pii_doc_share
    FROM scanned
    GROUP BY source
    ORDER BY source
    """


def t33(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_pii_audit_sql(True))


QUERIES["t33_pii_audit"] = t33
ORACLES["t33_pii_audit"] = _pii_audit_sql(False)


# ---------------------------------------------------------------------------
# t34 — length-distribution drift (exact Kolmogorov-Smirnov vs the
# corpus): per source, the KS distance between the source's document-
# length ECDF and the whole-corpus ECDF, evaluated at every observed
# length. PSI (q73) needs binning choices; KS is the binning-free
# nonparametric complement every corpus-intake pipeline runs when a
# new source's length profile looks off (truncation, boilerplate
# padding, chunking bugs all show up as ECDF divergence long before
# they show up in means). Scale shape: ONE map-side-combinable
# (source, n_chars) count; the evaluation spine is |sources| x
# |distinct lengths| (both bounded), cumulated by a window
# PARTITIONed BY source; the corpus ECDF is a |distinct lengths|-
# bounded walk (ts37's bounded-walk class). Exactness: ECDFs are
# e6-quantized via INTEGER division (cum * 1e6 div n) before the
# difference, so the max-abs-diff is pure integer arithmetic; the
# reported ks divides once at the end.
# Reference parity: no counterpart (the reference delegates execution
# to DuckDB); extends the q73/t16/t28 drift-and-mix family.
# ---------------------------------------------------------------------------
_KS_FLAG_E6 = 150000  # flag sources whose KS distance exceeds 0.15


def _length_ks_sql(per_rel: str | None = None) -> str:
    per_sql = """
      SELECT source, n_chars,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM documents GROUP BY source, n_chars
    """
    if per_rel == "__per_only__":
        return per_sql
    if per_rel is None:
        # inline spelling (the DuckDB oracle; DuckDB plans CTEs once)
        per_cte, per = f"per AS ({per_sql}),", "per"
    else:
        # Spark runtime path: the (source, n_chars) histogram is
        # checkpointed by the caller — its four consumers (vals, srcs,
        # gdist, src_cum) and the corpus total would otherwise each
        # re-scan raw documents (PERF.md r27); the total now derives
        # from the histogram itself for the same reason
        per_cte, per = "", per_rel
    return f"""
    WITH {per_cte}
    vals AS (SELECT DISTINCT n_chars FROM {per}),
    srcs AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS n_src FROM {per} GROUP BY source
    ),
    gdist AS (
      SELECT n_chars,
             SUM(SUM(c)) OVER (ORDER BY n_chars
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_g
      FROM {per} GROUP BY n_chars
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_all FROM {per}),
    spine AS (
      SELECT s.source, s.n_src, v.n_chars FROM srcs s CROSS JOIN vals v
    ),
    src_cum AS (
      SELECT sp.source, sp.n_src, sp.n_chars,
             SUM(COALESCE(p.c, 0)) OVER (PARTITION BY sp.source
               ORDER BY sp.n_chars
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_s
      FROM spine sp
      LEFT JOIN {per} p ON p.source = sp.source AND p.n_chars = sp.n_chars
    ),
    diffs AS (
      SELECT sc.source, sc.n_src,
             abs(CAST(sc.cum_s * 1000000 // sc.n_src AS BIGINT)
               - CAST(g.cum_g * 1000000 // t.n_all AS BIGINT)) AS d_e6
      FROM src_cum sc
      JOIN gdist g ON g.n_chars = sc.n_chars
      CROSS JOIN tot t
    )
    SELECT source,
           CAST(MAX(n_src) AS BIGINT) AS n_docs,
           CAST(MAX(d_e6) AS BIGINT) AS ks_e6,
           CAST(MAX(d_e6) AS DOUBLE) / 1000000.0 AS ks,
           MAX(d_e6) >= {_KS_FLAG_E6} AS drifted
    FROM diffs
    GROUP BY source
    ORDER BY source
    """


@query("t34_length_ks_drift", oracle=_length_ks_sql())
def t34(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    materialize(spark.sql(
        rewrite_sql(_length_ks_sql(per_rel="__per_only__"), {})
    ), "__t34_per__")
    return spark.sql(rewrite_sql(_length_ks_sql(per_rel="__t34_per__"), {}))


# ---------------------------------------------------------------------------
# t35 — boilerplate-shingle audit: the text-side companion of d30's
# band-occupancy audit. A shingle appearing in MANY documents is
# template text (licence banners, navigation chrome, form-letter
# frames) — it inflates every lexical-similarity signal (minhash bands
# collide on it, n-gram Jaccard counts it as overlap) and is exactly
# what d03x's MAX_SHINGLE_DF cap strips. This audit names the top-K
# shingles by document frequency, their corpus penetration, and
# whether each would be dropped by the cap — the report a curation
# team reads before deciding to strip a template vs cap buckets.
# Scale shape: ONE aggregate over the persisted shingle table
# (map-side combinable onto |distinct shingles|), then a global top-K
# via ORDER BY + LIMIT — Spark's TakeOrderedAndProject (per-partition
# K-row heaps, K rows to the driver side of the exchange) — and the
# rank column is a ROW_NUMBER over the K-row output only (t11/q68's
# rank-after-LIMIT spelling; never a global window over the full df
# relation). The 1-row corpus count broadcasts into the projection
# (q59's scalar class). Shingles are DISTINCT per doc upstream, so
# COUNT(*) IS the document frequency. Exactness: integer counts, one
# double division.
# Reference parity: no counterpart (core/flow.py delegates execution
# to DuckDB); extends the t11/t15 vocabulary-audit family.
# ---------------------------------------------------------------------------
_T35_TOP_K = 20


def _boilerplate_shingles_sql(
    spark_dialect: bool, table: str = "documents", shingle_rel: str | None = None
) -> str:
    from .dedup import DUCK_SHINGLES, MAX_SHINGLE_DF

    if shingle_rel is None:
        if spark_dialect:
            if table == "documents":
                # graded spelling reads the session-memoized view
                shingle_rel = "__shingles__"
            else:
                # stage callers get an inline fragment over their input
                # (deferred import: spark_shingles_sql is defined after
                # dedup's own mid-module textops import)
                from .dedup import spark_shingles_sql

                shingle_rel = f"({spark_shingles_sql(table)})"
        else:
            shingle_rel = f"({DUCK_SHINGLES})"
    return f"""
    WITH df AS (
      SELECT sh, CAST(COUNT(*) AS BIGINT) AS df
      FROM {shingle_rel} GROUP BY sh
    ),
    top AS (SELECT sh, df FROM df ORDER BY df DESC, sh LIMIT {_T35_TOP_K}),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM {table}),
    ranked AS (
      SELECT sh, df, ROW_NUMBER() OVER (ORDER BY df DESC, sh) AS rank
      FROM top
    )
    SELECT CAST(r.rank AS INT) AS rank, r.sh AS sh, r.df AS df,
           CAST(r.df AS DOUBLE) / t.n_docs AS df_share,
           r.df > {MAX_SHINGLE_DF} AS over_cap
    FROM ranked r CROSS JOIN tot t
    ORDER BY r.rank
    """


@query("t35_boilerplate_shingles", oracle=_boilerplate_shingles_sql(False))
def t35(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import cached_shingles

    load_tables(spark, sf_dir)
    cached_shingles(spark, sf_dir)
    return spark.sql(_boilerplate_shingles_sql(True))


# ---------------------------------------------------------------------------
# t36 — dedup-aware token budget: the number a pre-training plan is
# actually built from — how many TOKENS survive exact dedup, per
# source. Uses d01's content key (bag-of-words md5) so "duplicate"
# means the same normalized content wherever it appears; a cross-source
# duplicate's tokens are credited only to the surviving copy's source
# (min doc_id, d01's rule), so the per-source survival share exposes
# which feeds are mostly mirrors of others. Whitespace tokens keep the
# budget arithmetic identical on both engines.
# Scale shape: one scan folds to (doc, key, ntok); the survivor rule is
# a groupBy on the fixed-width md5 key; the join back is key-equi (both
# sides corpus-sized at scale — SMJ correct, d17's class); output is
# |sources| rows. Exactness: integer counts/sums, one double division.
# Reference parity: no counterpart (core/flow.py delegates execution
# to DuckDB); the planning complement of d01 (which documents survive)
# and t01 (how many tokens exist) — this says how many tokens REMAIN.
# ---------------------------------------------------------------------------
def _token_budget_sql(table: str = "documents") -> str:
    key = ("md5(array_to_string(list_sort(list_distinct("
           "string_split(lower(text), ' '))), ' '))")
    return f"""
    WITH toks AS (
      SELECT doc_id, source, {key} AS content_key,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
      FROM {table}
    ),
    surv AS (
      SELECT content_key, CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id
      FROM toks GROUP BY content_key
    )
    SELECT t.source AS source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(t.ntok) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN s.keep_doc_id = t.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_surviving_docs,
           CAST(SUM(CASE WHEN s.keep_doc_id = t.doc_id THEN t.ntok ELSE 0 END)
                AS BIGINT) AS n_surviving_tokens,
           CAST(SUM(CASE WHEN s.keep_doc_id = t.doc_id THEN t.ntok ELSE 0 END)
                AS DOUBLE) / SUM(t.ntok) AS token_survival_share
    FROM toks t JOIN surv s ON s.content_key = t.content_key
    GROUP BY t.source
    ORDER BY source
    """


@query("t36_token_budget", oracle=_token_budget_sql())
def t36(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(rewrite_sql(_token_budget_sql(), {}))
