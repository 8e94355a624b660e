"""Corpus-pipeline queries: trigram-LM backoff scoring, BPE merge
training and logistic-regression quality classification — operations
a 100 TB training-data pipeline runs beyond dedup/similarity/text/
curation (BASELINE.json north star; no counterpart exists in the
reference, whose surface stops at air-quality marts).

Every query pairs with an ANSI-SQL DuckDB oracle on the same parquet
tables; all decisions are MD5- or integer-derived so both engines
agree bit-for-bit (catalog.py module docstring has the determinism
contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openaq_data_pipeline_spark.catalog import (
    exact_ratio_duck,
    fan_out,
    load,
    register,
)

_LM_K = 10**6  # operators/lm.PROB_SCALE fixed-point multiplier


@register(
    "lm_trigram_backoff",
    "EXT-lm — trigram LM with STUPID BACKOFF scoring (Brants et "
    "al. 2007, r8), the higher-order companion to the bigram gate: "
    "S(w3|w1w2) = c123/c12, backing off to 0.4·c23/c2 then "
    "0.4²·c3/N. The paper's 0.4 constant is rational (2/5), so "
    "every backoff tier stays an exact integer ratio under the "
    "engine's fixed-point contract (2·c23/5·c2, 4·c3/25·N — "
    "rounded half-up at 10^6, summed as BIGINTs, order-free and "
    "bit-identical across engines) where Kneser-Ney's float "
    "discounts could not be hashed. Train = even-id half (three "
    "hash aggregates over one tokenization), score = odd-id half "
    "(one trigram stream, four vocab-bounded LEFT joins, one "
    "partial-aggregable groupBy)",
    oracle=f"""
WITH tok AS (
    SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
    FROM documents
),
tri AS (
    SELECT doc_id, w[g.i] AS w1, w[g.i + 1] AS w2, w[g.i + 2] AS w3
    FROM tok, generate_series(1, 4000) g(i)
    WHERE g.i <= len(w) - 2
),
big AS (
    SELECT doc_id, w[g.i] AS w1, w[g.i + 1] AS w2
    FROM tok, generate_series(1, 4000) g(i)
    WHERE g.i <= len(w) - 1
),
unig AS (
    SELECT doc_id, w[g.i] AS u
    FROM tok, generate_series(1, 4000) g(i)
    WHERE g.i <= len(w)
),
c123 AS (SELECT w1, w2, w3, count(*) AS c123 FROM tri WHERE doc_id % 2 = 0 GROUP BY w1, w2, w3),
c12 AS (SELECT w1, w2, count(*) AS c12 FROM big WHERE doc_id % 2 = 0 GROUP BY w1, w2),
c1 AS (SELECT u, count(*) AS c1 FROM unig WHERE doc_id % 2 = 0 GROUP BY u),
n AS (SELECT count(*) AS n FROM unig WHERE doc_id % 2 = 0),
scored AS (
    SELECT t.doc_id,
           CASE
             WHEN coalesce(tc.c123, 0) > 0 THEN
               (CAST(tc.c123 AS BIGINT) * {2 * _LM_K} + CAST(bc.c12 AS BIGINT))
                 // (2 * CAST(bc.c12 AS BIGINT))
             WHEN coalesce(b23.c12, 0) > 0 THEN
               (CAST(2 * b23.c12 AS BIGINT) * {2 * _LM_K} + CAST(5 * u2.c1 AS BIGINT))
                 // (2 * CAST(5 * u2.c1 AS BIGINT))
             ELSE
               (CAST(4 * coalesce(u3.c1, 0) AS BIGINT) * {2 * _LM_K} + CAST(25 * n.n AS BIGINT))
                 // (2 * CAST(25 * n.n AS BIGINT))
           END AS s_int
    FROM tri t
    CROSS JOIN n
    LEFT JOIN c123 tc ON t.w1 = tc.w1 AND t.w2 = tc.w2 AND t.w3 = tc.w3
    LEFT JOIN c12 bc ON t.w1 = bc.w1 AND t.w2 = bc.w2
    LEFT JOIN c12 b23 ON t.w2 = b23.w1 AND t.w3 = b23.w2
    LEFT JOIN c1 u2 ON t.w2 = u2.u
    LEFT JOIN c1 u3 ON t.w3 = u3.u
    WHERE t.doc_id % 2 = 1
)
SELECT doc_id, count(*) AS n_trigrams,
       {exact_ratio_duck('sum(s_int)', f'count(*) * {_LM_K}', 4)} AS avg_score
FROM scored
GROUP BY doc_id
""",
)
def lm_trigram_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same train/score split as the bigram gate (even half trains,
    odd half is the candidate stream); documents with < 3 tokens
    produce no row on either side."""
    from openaq_data_pipeline_spark.operators.lm import (
        score_trigram_backoff,
        train_trigram_lm,
    )

    d = fan_out(load(spark, sf_dir, "documents")["documents"])
    train = d.filter(F.col("doc_id") % 2 == 0)
    cand = d.filter(F.col("doc_id") % 2 == 1)
    tri, bi, uni, n = train_trigram_lm(train, "text", "doc_id")
    return score_trigram_backoff(cand, "text", "doc_id", tri, bi, uni, n)


def _bpe_rounds_sql(n_merges: int) -> str:
    """WITH-prefix shared by the two BPE oracles: corpus words,
    round-0 vocab, then k chained merge rounds in pure SQL — per
    round, one weighted adjacent-pair aggregate over the current
    vocab state, a deterministic argmax (count desc, pair text), and
    the positional simultaneous merge as list lambdas — the exact
    per-position rule of operators/tokenizer._apply_merge. Ends after
    ``vocab{n_merges}`` with no trailing comma; callers append their
    own CTEs/select."""
    parts = []
    for r in range(1, n_merges + 1):
        prev = f"vocab{r - 1}"
        parts.append(f"""
pairs{r} AS (
    SELECT v.seq[g.i] AS lhs, v.seq[g.i + 1] AS rhs, sum(v.n) AS c
    FROM {prev} v, generate_series(1, 200) g(i)
    WHERE g.i <= len(v.seq) - 1 AND v.seq[g.i] <> v.seq[g.i + 1]
    GROUP BY v.seq[g.i], v.seq[g.i + 1]
),
top{r} AS (SELECT lhs, rhs, c FROM pairs{r} ORDER BY c DESC, lhs, rhs LIMIT 1),
vocab{r} AS (
    SELECT word, n,
           list_filter(
               list_transform(range(1, len(seq) + 1),
                   i -> CASE
                        WHEN seq[i] = t.lhs AND i < len(seq)
                             AND seq[i + 1] = t.rhs THEN t.lhs || t.rhs
                        WHEN i > 1 AND seq[i - 1] = t.lhs
                             AND seq[i] = t.rhs THEN NULL
                        ELSE seq[i] END),
               x -> x IS NOT NULL) AS seq
    FROM {prev} CROSS JOIN top{r} t
)""")
    return f"""
WITH words AS (
    SELECT u.w AS word
    FROM (SELECT string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
          FROM documents),
         unnest(ws) u(w)
    WHERE u.w <> ''
),
vocab0 AS (
    SELECT word, CAST(count(*) AS BIGINT) AS n, string_split(word, '') AS seq
    FROM words GROUP BY word
),{",".join(parts)}"""


def _bpe_oracle(n_merges: int) -> str:
    selects = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_round, lhs, rhs, "
        f"lhs || rhs AS merged, CAST(c AS BIGINT) AS pair_count FROM top{r}"
        for r in range(1, n_merges + 1)
    )
    return f"""{_bpe_rounds_sql(n_merges)}
{selects}
"""


@register(
    "bpe_merge_training",
    "EXT-tokenizer — distributed BPE merge learning (Sennrich 2016, "
    "the GPT-2/LLaMA vocabulary-construction step): 6 merge rounds "
    "over the corpus word-frequency vocabulary. Round cost is "
    "vocab-sized (corpus-size-independent after round 0): one "
    "adjacent-pair explode + weighted hash aggregate + a 1-row "
    "argmax collect; merges apply simultaneously via per-position "
    "array logic (left≠right exclusion makes that exact — "
    "operators/tokenizer.py determinism contract). The oracle "
    "replays all 6 rounds in chained SQL CTEs with list lambdas",
    oracle=_bpe_oracle(6),
)
def bpe_merge_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openaq_data_pipeline_spark.operators.tokenizer import bpe_train_merges

    d = fan_out(load(spark, sf_dir, "documents")["documents"])
    return bpe_train_merges(d, "text", "doc_id", n_merges=6)


# --- r8: model-based quality filtering — operators/classifier.py ------

_LR_NF = 128
_LR_ITERS = 4
_LR_RATE = 4.0
_LR_MAX_DF = 0.5
# marker tokens whose md5 buckets (35, 114 at 128 features) no corpus
# vocabulary word occupies — the planted learnable signal
_LR_MARKERS = "qmarker0 qmarker1"


def _logreg_oracle(n_iters: int, lr: float, nf: int) -> str:
    """Unrolled-CTE replay of the full GD training loop (the BPE
    chained-round oracle move): w0 = zeros; each round recomputes
    margins, residuals, and the feature gradient from the SAME
    feature CTE, then updates the weights. The final SELECT scores
    with the last weight table and emits INTEGER decisions only
    (float determinism contract, operators/classifier.py)."""
    parts = [
        f"""
base AS (
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0
                THEN text || ' {_LR_MARKERS}' ELSE text END AS text,
           CASE WHEN doc_id % 3 = 0 THEN 1.0 ELSE 0.0 END AS y
    FROM documents
),
tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM base),
rawfeats AS (
    SELECT DISTINCT doc_id,
           CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % {nf} AS feature,
           1.0 AS x
    FROM tok
),
cnt AS (SELECT count(*) AS n FROM base),
keep AS (
    SELECT feature FROM rawfeats GROUP BY feature
    HAVING count(*) <= {_LR_MAX_DF} * (SELECT n FROM cnt)
),
feats AS (
    SELECT f.doc_id, f.feature, f.x FROM rawfeats f JOIN keep USING (feature)
    UNION ALL
    SELECT doc_id, {nf} AS feature, 1.0 AS x FROM base
),
w0 AS (SELECT g.i - 1 AS feature, 0.0 AS w FROM generate_series(1, {nf + 2}) g(i))"""
    ]
    for t in range(1, n_iters + 1):
        parts.append(f"""
m{t} AS (
    SELECT f.doc_id, sum(f.x * w.w) AS m
    FROM feats f JOIN w{t - 1} w USING (feature) GROUP BY f.doc_id
),
r{t} AS (
    SELECT m.doc_id, (1.0 / (1.0 + exp(-m.m)) - b.y) AS r
    FROM m{t} m JOIN base b USING (doc_id)
),
g{t} AS (
    SELECT f.feature, sum(f.x * r.r) AS g
    FROM feats f JOIN r{t} r USING (doc_id) GROUP BY f.feature
),
w{t} AS (
    SELECT w.feature,
           w.w - {lr} / (SELECT n FROM cnt) * coalesce(g.g, 0.0) AS w
    FROM w{t - 1} w LEFT JOIN g{t} g USING (feature)
)""")
    final = f"""
SELECT b.doc_id, CAST(b.y AS BIGINT) AS label,
       CAST(CASE WHEN 1.0 / (1.0 + exp(-m.m)) >= 0.5
                 THEN 1 ELSE 0 END AS BIGINT) AS pred
FROM (
    SELECT f.doc_id, sum(f.x * w.w) AS m
    FROM feats f JOIN w{n_iters} w USING (feature) GROUP BY f.doc_id
) m JOIN base b USING (doc_id)"""
    return "WITH " + ",".join(parts) + final


@register(
    "quality_classifier",
    "EXT-classifier — model-based quality filtering (the GPT-3 "
    "LR-over-hashed-features gate / CCNet fastText step): train a "
    "logistic-regression classifier IN the engine — weights, "
    "margins, gradients all DataFrames, zero driver-side model "
    "state — on 128 hashed binary bag-of-words features + bias "
    "behind a df<=50% stop-feature guard (near-constant columns are "
    "bias-collinear and flipped the GD trajectory with corpus size; "
    "same df-guard discipline as the Jaccard stop-shingle tier), "
    "4 full-batch GD rounds (per round: broadcast weight join, "
    "doc-keyed margin sum, doc-keyed residual join, feature-keyed "
    "PARTIAL-aggregated gradient exchange), then score the corpus "
    "and emit integer decisions. The planted marker signal "
    "(injection precedent: pii_scan) separates with margin >= 0.33 "
    "at every tested SF, so float ulp drift can never flip a "
    "prediction; the oracle replays all rounds in unrolled CTEs",
    oracle=_logreg_oracle(_LR_ITERS, _LR_RATE, _LR_NF),
)
def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openaq_data_pipeline_spark.operators.classifier import (
        hashed_features,
        predict_logreg,
        train_logreg,
    )

    d = fan_out(load(spark, sf_dir, "documents")["documents"])
    injected = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(f" {_LR_MARKERS}")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    labels = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, 1.0).otherwise(0.0).alias("y"),
    )
    # materialize the feature matrix once for BOTH consumers (the
    # trainer's doc-array grouping and the final scoring pass) —
    # without this, predict_logreg re-runs the whole
    # explode+distinct+df-guard pipeline over the corpus
    feats = hashed_features(injected, _LR_NF).localCheckpoint(eager=False)
    weights = train_logreg(
        feats, labels, _LR_NF, n_iters=_LR_ITERS, lr=_LR_RATE
    )
    scored = predict_logreg(feats, weights)
    return scored.join(labels, "doc_id").select(
        "doc_id",
        F.col("y").cast("long").alias("label"),
        F.col("pred"),
    )
