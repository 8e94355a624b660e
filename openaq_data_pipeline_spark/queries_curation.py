"""Corpus-curation queries: token-budget sequence packing and the
Gopher quality rules — LLM-training-data preparation steps beyond
dedup/similarity/text-analysis (queries_ext.py). Each oracle-paired
with DuckDB SQL.

No counterpart exists in the reference (its surface stops at air-
quality marts); these extend the engine per the BASELINE.json north
star, built on the same documents table as queries_ext.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openaq_data_pipeline_spark.catalog import load, register
from openaq_data_pipeline_spark.operators import text as X
from openaq_data_pipeline_spark.operators.curation import (
    pack_sequences,
)


@register(
    "sequence_packing",
    "EXT-curation — token-budget sequence packing: contiguous greedy "
    "fill to 256-token packs per language via a running-sum window; "
    "per-pack doc counts and token totals",
    oracle="""
WITH toks AS (
    SELECT doc_id, lang,
           CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
    FROM documents
),
packed AS (
    SELECT doc_id, lang, n_tokens,
           coalesce(sum(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 256
           AS pack_id
    FROM toks
)
SELECT lang, CAST(pack_id AS BIGINT) AS pack_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
FROM packed GROUP BY lang, pack_id
""",
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")["documents"]
    packed = pack_sequences(
        d.select("doc_id", "lang", "text"),
        "lang",
        "doc_id",
        X.token_count(F.col("text")),
        capacity=256,
    )
    return packed.groupBy("lang", "pack_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("__tokens").cast("long").alias("pack_tokens"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


# the driver corpus draws from a synthetic systems vocabulary whose
# only function words are "the" and "a" — the required-stop-word set
# is instantiated per corpus (the operator's default stays the
# paper's eight; Dolma/RefinedWeb ship adapted sets the same way)
_GOPHER_STOPS = ["the", "a"]
_GOPHER_STOP_SQL = " + ".join(
    f"CASE WHEN regexp_matches(lower(text), '\\b{w}\\b') THEN 1 ELSE 0 END"
    for w in _GOPHER_STOPS
)


@register(
    "gopher_quality_rules",
    "EXT-curation — the Gopher quality-heuristic battery (Rae et "
    "al. 2021 Appendix A, r8): word-count bounds, mean-word-length "
    "bounds, symbol ratio, bullet/ellipsis line ratios, "
    "alpha-word share and required-stop-word presence, plus the "
    "conjunction verdict — the published structural filter most "
    "open corpora pass before any model-based gate. Every ratio "
    "threshold is a cross-multiplication (10·n_sym ≤ n_words), so "
    "the battery is one shuffle-free codegen projection and the "
    "verdicts hash bit-identically against the oracle",
    oracle=f"""
WITH n AS (
    SELECT doc_id, text,
           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
    FROM documents
),
c AS (
    SELECT doc_id, text, norm,
           CASE WHEN norm = '' THEN 0
                ELSE len(string_split(norm, ' ')) END AS n_words,
           len(regexp_extract_all(text, '#'))
             + len(regexp_extract_all(text, '\\.\\.\\.')) AS n_sym,
           string_split(text, chr(10)) AS lines,
           len(list_filter(string_split(norm, ' '),
                           t -> regexp_matches(t, '[a-z]'))) AS n_alpha_words,
           {_GOPHER_STOP_SQL} AS n_req_stop
    FROM n
),
r AS (
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           n_words BETWEEN 50 AND 100000 AS r_word_count,
           n_words > 0
             AND 3 * n_words <= length(norm) - (n_words - 1)
             AND length(norm) - (n_words - 1) <= 10 * n_words
             AS r_mean_word_len,
           10 * n_sym <= n_words AS r_symbol_ratio,
           10 * len(list_filter(lines,
                l -> regexp_matches(l, '^\\s*[-*•]'))) <= 9 * len(lines)
             AS r_bullet_lines,
           10 * len(list_filter(lines,
                l -> regexp_matches(l, '\\.\\.\\.\\s*$'))) <= 3 * len(lines)
             AS r_ellipsis_lines,
           5 * n_alpha_words >= 4 * n_words AS r_alpha_words,
           n_req_stop >= 2 AS r_stopwords
    FROM c
)
SELECT *,
       n_words > 0 AND r_word_count AND r_mean_word_len
         AND r_symbol_ratio AND r_bullet_lines AND r_ellipsis_lines
         AND r_alpha_words AND r_stopwords AS keep
FROM r
""",
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openaq_data_pipeline_spark.operators.text import gopher_rules

    d = load(spark, sf_dir, "documents")["documents"]
    return gopher_rules(
        d, "text", "doc_id", required_stopwords=_GOPHER_STOPS
    )
