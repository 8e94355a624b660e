"""Extension operator queries: dedup, hybrid retrieval, text
analysis, multimodal plumbing, the quality and streaming surfaces and
graph scoring — the training-data-pipeline surface (BASELINE.json
north star), each oracle-paired where SQL-expressible.

The synthetic documents table has no natural duplicates, so the
dedup queries build deterministic near-duplicate batches inline that
both engines construct identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openaq_data_pipeline_spark.catalog import (
    HOUR_FMT_DUCK,
    HOUR_FMT_SPARK,
    exact_avg_duck,
    exact_avg_spark,
    exact_ratio_duck,
    fan_out,
    load,
    register,
)
from openaq_data_pipeline_spark.operators import text as X
from openaq_data_pipeline_spark.operators.multimodal import extract_features

# --- text analysis ------------------------------------------------------


_LANG_COUNTS_DUCK = ",\n       ".join(
    f"len(regexp_extract_all(lower(text), '\\b(?:{'|'.join(words)})\\b')) AS c_{lang}"
    for lang, words in X.LANG_MARKERS.items()
)


_LANG_PRED_DUCK = """CASE WHEN c_en + c_es + c_de + c_fr = 0 THEN 'und'
            WHEN c_en >= c_es AND c_en >= c_de AND c_en >= c_fr THEN 'en'
            WHEN c_es >= c_de AND c_es >= c_fr THEN 'es'
            WHEN c_de >= c_fr THEN 'de'
            ELSE 'fr' END"""


@register(
    "corpus_curation",
    "EXT-pipeline — end-to-end training-corpus curation: quality "
    "filter → language filter (en) → exact dedup, min-id survivor "
    "with copy counts; the canonical LLM-data-pipeline composition",
    oracle=f"""
WITH counted AS (
    SELECT doc_id, text,
       {_LANG_COUNTS_DUCK},
       length(text) AS n_chars,
       len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
       len(string_split(trim(text), ' ')) AS n_tokens,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
    FROM documents
),
kept AS (
    SELECT doc_id, fingerprint, n_tokens
    FROM counted
    WHERE n_chars BETWEEN 50 AND 10000
      AND n_alpha * 2 > n_chars
      AND ({_LANG_PRED_DUCK}) = 'en'
),
surv AS (
    SELECT fingerprint, min(doc_id) AS doc_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM kept GROUP BY fingerprint
)
SELECT surv.doc_id, surv.fingerprint, surv.n_copies,
       CAST(k.n_tokens AS BIGINT) AS n_tokens
FROM surv JOIN kept k ON k.doc_id = surv.doc_id
""",
)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation funnel a training pipeline runs before
    tokenization, composed from the engine's own operators: quality
    verdict (alpha-ratio and length rules) → lang-id 'en' gate →
    exact dedup (fingerprint groups, min-id survivor). One regex
    projection pass and ONE shuffle on the MD5 fingerprint (uniform
    → skew-free): the survivor's metadata rides the same aggregate
    via ``min_by(n_tokens, doc_id)`` (doc_id unique ⇒ deterministic),
    so there is no materialized intermediate and no join-back —
    VERDICT r9 #5 (the r1-shape persist + self-join re-cost the kept
    set twice and drifted past the 2× envelope). No ``fan_out``: this
    projection is LIGHT (four regexp_counts + one md5 per row), and
    measured at sf0.1 the 32-way round-robin exchange costs more
    than it saves (min-of-4: 1.21 s fanned vs 0.69 s unfanned; 4/8/16
    partitions equal the unfanned floor) — unlike the shingling/
    minhash/BPE queries whose per-row compute dominates. At 100 TB
    the scan arrives pre-split, so fan_out would be a no-op there
    anyway; dropping it removes a fixture-scale-only exchange."""
    d = load(spark, sf_dir, "documents")["documents"]
    n_chars = F.length("text").cast("long")
    n_alpha = F.size(F.regexp_extract_all("text", F.lit(r"[A-Za-z]"), 0)).cast("long")
    kept = (
        d.select(
            "doc_id",
            X.fingerprint(F.col("text")).alias("fingerprint"),
            X.token_count(F.col("text")).alias("n_tokens"),
            X.lang_id(F.col("text")).alias("__lang"),
            n_chars.alias("__nc"),
            n_alpha.alias("__na"),
        )
        .filter(
            F.col("__nc").between(50, 10000)
            & (F.col("__na") * 2 > F.col("__nc"))
            & (F.col("__lang") == "en")
        )
        .select("doc_id", "fingerprint", "n_tokens")
    )
    return kept.groupBy("fingerprint").agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).cast("long").alias("n_copies"),
        F.min_by("n_tokens", "doc_id").alias("n_tokens"),
    ).select("doc_id", "fingerprint", "n_copies", "n_tokens")


# --- dedup --------------------------------------------------------------


@register(
    "dedup_exact_incremental",
    "EXT-dedup — INCREMENTAL EXACT dedup (r7): the first gate a "
    "production crawl batch passes — byte-duplicate (post-"
    "normalization MD5) disposition against a persisted bucketed "
    "hash index of ALL history survivors, plus in-batch exact "
    "classes keeping their min id. One batch hash-aggregate + one "
    "bucket-local index join (MD5 keys — uniform, skew-free); "
    "history text never re-read or re-hashed. Oracle recomputes "
    "every disposition from raw text with no index — the hash match "
    "IS the index == recompute proof",
    oracle=r"""
WITH hist AS (
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
    FROM documents
),
hist_min AS (SELECT fp, min(doc_id) AS hist_id FROM hist GROUP BY fp),
batch AS (
    SELECT doc_id + 400000 AS doc_id,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
    FROM documents WHERE doc_id % 5 = 0
    UNION ALL
    SELECT doc_id + 900000,
           md5('batch-only class ' || CAST(doc_id % 4 AS VARCHAR))
    FROM documents WHERE doc_id % 9 = 4
),
bmin AS (SELECT fp, min(doc_id) AS bm FROM batch GROUP BY fp)
SELECT b.doc_id,
       CASE WHEN h.hist_id IS NOT NULL THEN FALSE
            ELSE b.doc_id = m.bm END AS kept,
       CASE WHEN h.hist_id IS NOT NULL THEN h.hist_id
            WHEN b.doc_id = m.bm THEN NULL
            ELSE m.bm END AS dup_of
FROM batch b
JOIN bmin m USING (fp)
LEFT JOIN hist_min h USING (fp)
""",
)
def dedup_exact_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """History = the full documents corpus, indexed once
    (build_exact_index: min id per fingerprint, bucketed on the
    hash). Batch = exact copies of every 5th doc (id+400000 —
    cross-batch duplicates resolving to the history survivor) plus
    synthetic 'batch-only class' docs (ids+900000, 4 shared texts —
    in-batch exact classes keeping their min id; fresh fingerprints
    by construction, and if one ever collided with history both
    engines would agree on the cross disposition). Context-managed
    temp index: no catalog or /tmp residue."""
    from openaq_data_pipeline_spark.operators.incremental_dedup import (
        build_exact_index,
        incremental_exact_dedup,
        temp_exact_index,
    )

    d = load(spark, sf_dir, "documents")["documents"]
    copies = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 400000).alias("doc_id"), "text"
    )
    classes = d.filter(F.col("doc_id") % 9 == 4).select(
        (F.col("doc_id") + 900000).alias("doc_id"),
        F.concat(
            F.lit("batch-only class "), (F.col("doc_id") % 4).cast("string")
        ).alias("text"),
    )
    batch = copies.unionByName(classes)
    with temp_exact_index(n_buckets=8) as idx:
        build_exact_index(d.select("doc_id", "text"), "text", "doc_id", idx)
        return incremental_exact_dedup(
            batch, "text", "doc_id", idx
        ).localCheckpoint(eager=True)


# --- incremental (cross-batch) dedup -----------------------------------

# DuckDB mirror of the words→distinct-3-gram-shingles build, with a
# caller-chosen source CTE and optional extra carried column
def _sh_duck(src: str, prefix: str, extra: str = "") -> str:
    ex = f", {extra}" if extra else ""
    return f"""{prefix}w AS (
    SELECT doc_id{ex},
           string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
    FROM {src}
),
{prefix}sh AS (
    SELECT DISTINCT doc_id{ex}, w[g.i] || ' ' || w[g.i + 1] || ' ' || w[g.i + 2] AS shingle
    FROM {prefix}w, generate_series(1, 4000) g(i)
    WHERE g.i <= len(w) - 2
)"""


_TRUNC_DUCK = (
    "array_to_string(list_slice(string_split(text, ' '), 1, "
    "len(string_split(text, ' ')) - 5), ' ')"
)

_INCR_JACC1 = exact_ratio_duck("n_common", "za.n_sh + zb.n_sh - n_common")

_DEDUP_INCREMENTAL_ORACLE = f"""
WITH RECURSIVE
b1 AS (
    SELECT doc_id, text FROM documents
    WHERE doc_id % 4 = 0 AND len(string_split(text, ' ')) >= 3
),
b2 AS (
    SELECT doc_id, text FROM documents
    WHERE doc_id % 4 = 2 AND len(string_split(text, ' ')) >= 3
    UNION ALL
    SELECT doc_id + 100000 AS doc_id, {_TRUNC_DUCK} AS text
    FROM documents WHERE doc_id % 8 = 0 AND len(string_split(text, ' ')) >= 8
    UNION ALL
    SELECT doc_id + 200000 AS doc_id, {_TRUNC_DUCK} AS text
    FROM documents WHERE doc_id % 8 = 2 AND len(string_split(text, ' ')) >= 8
),
-- stage 1: whole-batch dedup of b1 from scratch (guarded sizes, as
-- dedup.jaccard_pairs / build_index)
{_sh_duck('b1', 'a')},
af AS (
    SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df FROM ash
    ) WHERE df <= 1000
),
az AS (SELECT doc_id, count(*) AS n_sh FROM af GROUP BY doc_id),
ac AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
    FROM af a JOIN af b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
ap AS (
    SELECT id_a, id_b FROM ac
    JOIN az za ON za.doc_id = id_a
    JOIN az zb ON zb.doc_id = id_b
    WHERE {_INCR_JACC1} >= 0.5
),
ae AS MATERIALIZED (SELECT id_a AS n1, id_b AS n2 FROM ap UNION ALL SELECT id_b, id_a FROM ap),
awalk(node, r) AS (
    SELECT n1, n1 FROM ae
    UNION
    SELECT e.n2, w.r FROM awalk w JOIN ae e ON e.n1 = w.node
),
acomp AS (SELECT node AS doc_id, min(r) AS component_id FROM awalk GROUP BY node),
s1 AS (
    SELECT b.doc_id, b.text
    FROM b1 b LEFT JOIN acomp c ON c.doc_id = b.doc_id
    WHERE c.doc_id IS NULL OR c.component_id = b.doc_id
),
-- stage 2: the incremental contract over u2 = survivors ∪ batch-2,
-- recomputed with NO index: combined-df guard on the intersection
-- universe, FULL per-doc sizes in the denominator, pairs touching
-- >= 1 new doc only
u2 AS (
    SELECT doc_id, text, FALSE AS is_new FROM s1
    UNION ALL
    SELECT doc_id, text, TRUE AS is_new FROM b2
),
{_sh_duck('u2', 'u', 'is_new')},
zfull AS (SELECT doc_id, count(*) AS n_sh FROM ush GROUP BY doc_id),
uf AS (
    SELECT doc_id, is_new, shingle FROM (
        SELECT doc_id, is_new, shingle, count(*) OVER (PARTITION BY shingle) AS df
        FROM ush
    ) WHERE df <= 1000
),
uc AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
    FROM uf a JOIN uf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                       AND (a.is_new OR b.is_new)
    GROUP BY a.doc_id, b.doc_id
),
up AS (
    SELECT id_a, id_b FROM uc
    JOIN zfull za ON za.doc_id = id_a
    JOIN zfull zb ON zb.doc_id = id_b
    WHERE {_INCR_JACC1} >= 0.5
),
ue AS MATERIALIZED (SELECT id_a AS n1, id_b AS n2 FROM up UNION ALL SELECT id_b, id_a FROM up),
uwalk(node, r) AS (
    SELECT n1, n1 FROM ue
    UNION
    SELECT e.n2, w.r FROM uwalk w JOIN ue e ON e.n1 = w.node
),
ucomp AS (SELECT node AS doc_id, min(r) AS component_id FROM uwalk GROUP BY node),
mo AS (
    SELECT c.component_id, min(c.doc_id) AS min_old
    FROM ucomp c JOIN s1 o ON o.doc_id = c.doc_id
    GROUP BY c.component_id
)
SELECT b2.doc_id,
       CASE WHEN c.doc_id IS NULL THEN TRUE
            WHEN mo.min_old IS NOT NULL THEN FALSE
            ELSE c.component_id = b2.doc_id END AS kept,
       CAST(CASE WHEN c.doc_id IS NULL THEN NULL
                 WHEN mo.min_old IS NOT NULL THEN mo.min_old
                 WHEN c.component_id = b2.doc_id THEN NULL
                 ELSE c.component_id END AS BIGINT) AS dup_of
FROM b2
LEFT JOIN ucomp c ON c.doc_id = b2.doc_id
LEFT JOIN mo ON mo.component_id = c.component_id
"""


@register(
    "dedup_incremental",
    "EXT-dedup — INCREMENTAL cross-batch dedup (VERDICT r4 #1): "
    "batch 1 bootstraps a persisted survivor posting/size index "
    "(bucketed parquet tables), batch 2 dedups against the index + "
    "itself without re-shingling history — the dedup-family analogue "
    "of the reference's incremental high-watermark mart "
    "(mart_location_air_quality.sql:16-19). Disposition per new doc: "
    "kept / dropped with dup_of = surviving duplicate (old survivors "
    "are immutable; pure-new clusters keep min id). Oracle recomputes "
    "the two-batch contract FROM SCRATCH with no index, proving "
    "index == recompute",
    oracle=_DEDUP_INCREMENTAL_ORACLE,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch 1 = docs ≡0 mod 4; batch 2 = docs ≡2 mod 4 (fresh) plus
    truncated copies of docs ≡0 mod 8 (id+100000 → cross-batch dups
    of batch-1 survivors) and of docs ≡2 mod 8 (id+200000 → IN-batch
    dups of their fresh originals). All three dispositions occur:
    fresh kept, cross-batch dropped (dup_of = history survivor),
    in-batch dropped (dup_of = min-id new survivor); sub-threshold
    truncations (<12 words) stay kept. Quarter-corpus batches: the
    fixture right-sizes the ONE index-building query of the 50-query
    bench (each batch is still sf-proportional, so the scale story
    is unchanged)."""
    from openaq_data_pipeline_spark.operators.incremental_dedup import (
        build_index,
        incremental_dedup,
        temp_index,
    )

    d = fan_out(load(spark, sf_dir, "documents")["documents"])
    w = F.split(F.col("text"), " ")
    b1 = d.filter((F.col("doc_id") % 4 == 0) & (F.size(w) >= 3)).select(
        "doc_id", "text"
    )
    # batch 2 in ONE scan: each doc emits its applicable variants as
    # struct array entries (fresh odd doc / truncated copies), nulls
    # filtered out before the explode — a 3-branch union re-read and
    # re-shingled the documents table three times
    trunc = F.concat_ws(" ", F.slice(w, 1, F.size(w) - 5))
    doc_id = F.col("doc_id")
    variants = F.array(
        F.when(
            (doc_id % 4 == 2) & (F.size(w) >= 3),
            F.struct(doc_id.alias("doc_id"), F.col("text").alias("text")),
        ),
        F.when(
            (doc_id % 8 == 0) & (F.size(w) >= 8),
            F.struct((doc_id + 100000).alias("doc_id"), trunc.alias("text")),
        ),
        F.when(
            (doc_id % 8 == 2) & (F.size(w) >= 8),
            F.struct((doc_id + 200000).alias("doc_id"), trunc.alias("text")),
        ),
    )
    b2 = d.select(
        F.explode(F.filter(variants, lambda v: v.isNotNull())).alias("v")
    ).select("v.doc_id", "v.text")
    # 8 buckets: the bucket count is a deployment parameter (per-SF
    # data sizing — thousands at 100 TB); at bench SFs fewer, fuller
    # buckets cut write/scan task overhead without changing any plan
    # property (bucket-locality is count-independent).
    # Context manager + eager checkpoint: the disposition is pinned in
    # the block manager before the temp index (tables + tempdir) is
    # dropped, so repeated bench/parity runs leave no catalog or /tmp
    # residue (VERDICT r5 #2). Production callers keep their index —
    # only this self-contained demonstration drops it.
    # r17 (guide §2.6): batch-2's shingle checkpoint depends only on
    # the documents scan, not on the index — materialize it on a
    # driver thread CONCURRENTLY with the batch-1 index build (whose
    # tail stages otherwise leave cores idle), then hand the block to
    # the incremental pass. Same shingle expression, same rows.
    from concurrent.futures import ThreadPoolExecutor

    from openaq_data_pipeline_spark.operators.dedup import shingles

    with temp_index(n_buckets=8) as idx:
        with ThreadPoolExecutor(max_workers=1) as pool:
            f_sh = pool.submit(
                lambda: shingles(
                    b2, "text", "doc_id", n=idx.n, distinct=True
                ).localCheckpoint(eager=True)
            )
            build_index(b1, "text", "doc_id", idx)
            new_sh = f_sh.result()
        return incremental_dedup(
            b2, "text", "doc_id", idx, update_index=False, new_sh=new_sh
        ).localCheckpoint(eager=True)


# --- similarity search --------------------------------------------------


def _cos_duck(x: str, y: str) -> str:
    """DuckDB exact-fold cosine between two embedding refs."""
    return (
        f"list_dot_product({x}.embedding::DOUBLE[], {y}.embedding::DOUBLE[]) / "
        f"(sqrt(list_dot_product({x}.embedding::DOUBLE[], {x}.embedding::DOUBLE[])) * "
        f"sqrt(list_dot_product({y}.embedding::DOUBLE[], {y}.embedding::DOUBLE[])))"
    )


def _cosc_duck(x: str, c: str) -> str:
    """DuckDB exact-fold cosine between an embeddings ref and a
    trained-centroid ref carrying a computed DOUBLE[] c_vec."""
    return (
        f"list_dot_product({x}.embedding::DOUBLE[], {c}.c_vec) / "
        f"(sqrt(list_dot_product({x}.embedding::DOUBLE[], {x}.embedding::DOUBLE[])) * "
        f"sqrt(list_dot_product({c}.c_vec, {c}.c_vec)))"
    )


def _ivf_trained_cents_duck(
    n_cells: int = 16, n_iters: int = 2, dim: int = 64, q_scale: int = 1_000_000
) -> str:
    """CTE chain reproducing operators/similarity.ivf_train_centroids
    in pure SQL: init = lowest-id vectors; per Lloyd iteration an
    argmax assignment (rounded cosine, ties → lowest cell) and an
    EXACT quantized-mean update — sum(round(x·q) as bigint) is an
    order-independent integer sum, so no float-add order needs
    mirroring, and the final double division is one IEEE op. Empty
    cells coalesce to their previous centroid. Emits ``cents{N}``."""
    parts = [
        f"""cents0 AS (
    SELECT vec_id AS cell_id, embedding::DOUBLE[] AS c_vec
    FROM embeddings ORDER BY vec_id LIMIT {n_cells}
)"""
    ]
    for i in range(n_iters):
        parts.append(
            f"""tassign{i} AS (
    SELECT a.vec_id, c.cell_id,
           ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY round({_cosc_duck('a', 'c')}, 6) DESC, c.cell_id ASC
           ) AS rn
    FROM embeddings a CROSS JOIN cents{i} c
),
tmeans{i} AS (
    SELECT s.cell_id, g.k AS dim,
           sum(CAST(round(a.embedding[g.k]::DOUBLE * {q_scale}, 0) AS BIGINT)) AS sq,
           count(*) AS n
    FROM (SELECT vec_id, cell_id FROM tassign{i} WHERE rn = 1) s
    JOIN embeddings a ON a.vec_id = s.vec_id,
         generate_series(1, {dim}) g(k)
    GROUP BY s.cell_id, g.k
),
tnew{i} AS (
    SELECT cell_id,
           list(CAST(sq AS DOUBLE) / (CAST(n AS DOUBLE) * {float(q_scale)!r}) ORDER BY dim) AS c_vec
    FROM tmeans{i} GROUP BY cell_id
),
cents{i + 1} AS (
    SELECT c0.cell_id, coalesce(n1.c_vec, c0.c_vec) AS c_vec
    FROM cents{i} c0 LEFT JOIN tnew{i} n1 USING (cell_id)
)"""
        )
    return ",\n".join(parts)


# --- hybrid retrieval ---------------------------------------------------


@register(
    "hybrid_retrieval_rrf",
    "EXT-retrieval — HYBRID dense+sparse retrieval via "
    "reciprocal-rank fusion (r8): the two persisted index tiers the "
    "engine already ships — the term-bucketed BM25 inverted index "
    "and the cell-bucketed trained-quantizer IVF index — answer the "
    "same queries independently (each id%101 document's first 8 "
    "tokens lexically, its embedding densely), and rrf_fuse "
    "re-ranks the union by Σ 1/(60+rank), computed as exact "
    "integer contributions (10^12 div (60+rank), summed as BIGINT) "
    "so the fused ranking hashes bit-identically against the "
    "oracle, which replays BOTH tiers (BM25 rational-idf formula, "
    "full Lloyd quantizer training + assignment + probe) AND the "
    "fusion in one SQL statement. Probe-side cost is "
    "|queries|·k rows per tier — corpus never touches the fusion",
    oracle="""
WITH {IVF_CENTS},
cents AS (SELECT cell_id, c_vec FROM cents1),
assign AS (
    SELECT a.vec_id AS neighbor_id, c.cell_id,
           ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY round({COSC_AC}, 6) DESC, c.cell_id ASC
           ) AS rn
    FROM embeddings a CROSS JOIN cents c
),
probes AS (
    SELECT q.vec_id AS query_id, c.cell_id,
           ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY round({COSC_QC}, 6) DESC, c.cell_id ASC
           ) AS rn
    FROM embeddings q CROSS JOIN cents c
    WHERE q.vec_id % 101 = 0
),
dcand AS (
    SELECT DISTINCT p.query_id, s.neighbor_id
    FROM (SELECT query_id, cell_id FROM probes WHERE rn <= 4) p
    JOIN (SELECT neighbor_id, cell_id FROM assign WHERE rn = 1) s USING (cell_id)
    WHERE s.neighbor_id <> p.query_id
),
dscored AS (
    SELECT dcand.query_id, dcand.neighbor_id,
           round({COS_QA}, 6) AS cosine_sim
    FROM dcand
    JOIN embeddings q ON q.vec_id = dcand.query_id
    JOIN embeddings a ON a.vec_id = dcand.neighbor_id
),
drank AS (
    SELECT query_id, neighbor_id AS doc_id,
           ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY cosine_sim DESC, neighbor_id ASC
           ) AS rank
    FROM dscored
),
tok AS (
    SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
    FROM documents
),
dl AS (
    SELECT doc_id,
           CASE WHEN array_to_string(w, '') = '' THEN 0 ELSE len(w) END AS dl
    FROM tok
),
stats AS (SELECT count(*) AS n, sum(dl) AS s FROM dl),
tf AS (
    SELECT t.doc_id, u.term, count(*) AS tf
    FROM tok t, unnest(t.w) AS u(term)
    WHERE u.term <> ''
    GROUP BY t.doc_id, u.term
),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
qt AS (
    SELECT DISTINCT doc_id AS query_id, u.term
    FROM tok, unnest(list_slice(w, 1, 8)) AS u(term)
    WHERE doc_id % 101 = 0 AND u.term <> ''
),
sc AS (
    SELECT qt.query_id, tf.doc_id,
           CAST(
             (CAST(2*stats.n - 2*dft.df + 1 AS HUGEINT)
                * (22 * tf.tf * stats.s) * 2000000
              + CAST(2*dft.df + 1 AS HUGEINT)
                * (10*tf.tf*stats.s + 3*stats.s + 9*dl.dl*stats.n))
             // (2 * CAST(2*dft.df + 1 AS HUGEINT)
                * (10*tf.tf*stats.s + 3*stats.s + 9*dl.dl*stats.n))
           AS BIGINT) AS score_term
    FROM qt
    JOIN tf ON tf.term = qt.term
    JOIN dft ON dft.term = qt.term
    JOIN dl ON dl.doc_id = tf.doc_id
    CROSS JOIN stats
),
sagg AS (
    SELECT query_id, doc_id, CAST(sum(score_term) AS BIGINT) AS score_fp
    FROM sc GROUP BY query_id, doc_id
),
srank AS (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score_fp DESC, doc_id) AS rank
    FROM sagg
),
contrib AS (
    SELECT query_id, doc_id, 1000000000000 // (60 + rank) AS c
    FROM srank WHERE rank <= 10
    UNION ALL
    SELECT query_id, doc_id, 1000000000000 // (60 + rank) AS c
    FROM drank WHERE rank <= 10
),
fagg AS (
    SELECT query_id, doc_id,
           CAST(sum(c) AS BIGINT) AS rrf_score,
           CAST(count(*) AS BIGINT) AS n_systems
    FROM contrib GROUP BY query_id, doc_id
)
SELECT query_id, CAST(fused_rank AS BIGINT) AS fused_rank, doc_id,
       rrf_score, n_systems
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY rrf_score DESC, doc_id ASC
    ) AS fused_rank
    FROM fagg
)
WHERE fused_rank <= 10
""".format(
        IVF_CENTS=_ivf_trained_cents_duck(16, 1, 64),
        COSC_AC=_cosc_duck("a", "c"),
        COSC_QC=_cosc_duck("q", "c"),
        COS_QA=_cos_duck("q", "a"),
    ),
)
def hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production shape end-to-end: BOTH tiers probe their persisted
    bucketed indexes (zero corpus re-tokenization, zero corpus
    re-assignment — each pinned by its own plan test), and the
    fusion operator only ever sees the two k-bounded rankings.
    Queries are the id%101 documents: first 8 normalized tokens for
    the lexical tier, the aligned embedding row for the dense tier
    (the testdata generates doc_id/vec_id over the same id space).
    Self-hits: the dense probe excludes the query vector itself, the
    lexical tier retrieves it (self-retrieval is BM25's sanity
    property) — rrf_fuse sees exactly what each system returned."""
    from openaq_data_pipeline_spark.operators.retrieval import (
        bm25_topk_indexed,
        build_bm25_index,
        rrf_fuse,
        temp_bm25_index,
    )
    from openaq_data_pipeline_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk_indexed,
        temp_ivf_index,
    )
    from openaq_data_pipeline_spark.operators.text import normalize, tokens

    t = load(spark, sf_dir, "documents", "embeddings")
    d = fan_out(t["documents"])
    e = t["embeddings"]
    qdf = d.filter(F.col("doc_id") % 101 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(
            " ", F.slice(tokens(normalize(F.col("text"))), 1, 8)
        ).alias("q_text"),
    )
    with temp_bm25_index(n_buckets=8) as bidx, temp_ivf_index(
        nprobe=4, n_buckets=8
    ) as vidx:
        # the two index builds touch disjoint tables and inputs —
        # run them as concurrent driver jobs (guide §2.6) so the
        # dense build's tasks back-fill the lexical build's tails
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            fb = pool.submit(build_bm25_index, d, "text", "doc_id", bidx)
            fv = pool.submit(
                build_ivf_index, e, vidx, n_cells=16, train_iters=1
            )
            fb.result()
            fv.result()
        sparse = bm25_topk_indexed(
            spark, qdf, bidx, "doc_id", "q_text", "query_id", k=10
        )
        dense = ivf_topk_indexed(
            spark, e.filter(F.col("vec_id") % 101 == 0), vidx, k=10
        ).select(
            "query_id", F.col("neighbor_id").alias("doc_id"), "rank"
        )
        return rrf_fuse(
            [sparse.select("query_id", "doc_id", "rank"), dense],
            topk=10,
        ).localCheckpoint(eager=True)


# --- multimodal ---------------------------------------------------------


@register(
    "multimodal_real_decode",
    "EXT-multimodal — REAL image decode on executors over a MIXED "
    "corpus: ids ≡0,2 (mod 4) as 24-bpp BMP, ids ≡1 (mod 4) as 8-bit "
    "PNG (stdlib zlib, scanline filter = id mod 5 so all five PNG "
    "filter paths are driver-verified — VERDICT r4 #6), ids ≡3 "
    "(mod 4) as baseline GRAYSCALE JPEG (r6, VERDICT r5 next #6: "
    "pure-NumPy huffman + dezigzag + dequant + IDCT; "
    "constant-per-8x8-block fixtures with a flat q=8 table decode "
    "BIT-EXACTLY, keeping the lossy format closed-form), all decoded "
    "by the pure-NumPy parsers inside Arrow mapInPandas; the oracle "
    "recomputes format/dimensions/signature-bytes/pixel stats "
    "analytically from the id (BMP byte size stays closed-form; "
    "PNG/JPEG byte sizes are entropy-coder-dependent → NULL by "
    "contract)",
    oracle="""
WITH dims AS (
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 4 = 3 THEN 8 * (1 + doc_id % 3)
                ELSE 4 + doc_id % 5 END AS w,
           CASE WHEN doc_id % 4 = 3 THEN 8 * (1 + (doc_id // 4) % 2)
                ELSE 3 + doc_id % 3 END AS h
    FROM documents
),
px AS (
    SELECT media_id, w, h,
           CAST(sum(CASE WHEN media_id % 4 = 3
                THEN (media_id * 31 + (y.i // 8) * 7 + (x.i // 8) * 3) % 256
                ELSE (media_id * 31 + y.i * 7 + x.i * 3 + c.i * 11) % 256
           END) AS BIGINT) AS px_sum,
           CAST(w * h * 3 AS BIGINT) AS n_px
    FROM dims,
         generate_series(0, 23) y(i),
         generate_series(0, 23) x(i),
         generate_series(0, 2) c(i)
    WHERE y.i < h AND x.i < w
    GROUP BY media_id, w, h
)
SELECT media_id,
       CASE WHEN media_id % 2 = 1 THEN NULL
            ELSE CAST(54 + ((3 * w + 3) // 4) * 4 * h AS BIGINT) END AS n_bytes,
       CASE WHEN media_id % 4 = 1 THEN '89504e47'
            WHEN media_id % 4 = 3 THEN 'ffd8ffe0'
            ELSE '424d' || printf('%02x', (54 + ((3 * w + 3) // 4) * 4 * h) % 256)
                        || printf('%02x', ((54 + ((3 * w + 3) // 4) * 4 * h) // 256) % 256)
       END AS header_hex,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       px_sum,
       CAST(((px_sum * 20000 + n_px) // (2 * n_px)) / 10000.0 AS DOUBLE) AS mean_px
FROM px
""",
)
def multimodal_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media blobs are synthesized per doc_id (deterministic pixels;
    ids ≡0,2 mod 4 24-bpp BMP, ids ≡1 mod 4 8-bit PNG with scanline
    filter id%5, ids ≡3 mod 4 baseline grayscale JPEG with
    constant 8×8 blocks — operators/multimodal.synthetic_images
    mix_formats), then the REAL decoders parse them back; every
    output column is independently derivable from the id in closed
    form, which is what the oracle does — verifying the BMP header
    layout (n_bytes, little-endian size bytes in header_hex), the
    PNG and JPEG signatures, and pixel-exact decode through all
    three codecs (px_sum, exact-rounded mean_px; JPEG exactness via
    the DC-only/flat-q=8 construction). PNG/JPEG n_bytes are
    entropy-coder-dependent, hence NULL by contract on both sides
    (the odd-id mask covers exactly PNG ∪ JPEG)."""
    from openaq_data_pipeline_spark.operators.multimodal import synthetic_images

    d = load(spark, sf_dir, "documents")["documents"]
    media = synthetic_images(
        d.select(F.col("doc_id").alias("media_id")), mix_formats=True
    )
    feats = extract_features(media, decode="real")
    return feats.select(
        "media_id",
        F.when(F.col("media_id") % 2 == 1, F.lit(None).cast("long"))
        .otherwise(F.col("n_bytes"))
        .alias("n_bytes"),
        "header_hex",
        "width",
        "height",
        "px_sum",
        "mean_px",
    )


# ---------------------------------------------------------------------------
# Quality executor surface (quality.py) on the driver tables
# ---------------------------------------------------------------------------


@register(
    "quality_report",
    "A8,J3,P6 — quality-suite report (quality.py executor shape): all "
    "row-local checks on a model folded into ONE scan + stacked to rows, "
    "relationship checks as broadcast anti-join counts (dbt build contract, "
    "dags/02_openaq_transformation.py:41-47)",
    oracle="""
SELECT 'unique:orders.o_orderkey' AS check_name,
       CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT) AS failures
FROM orders
UNION ALL
SELECT 'not_null:orders.o_custkey',
       CAST(coalesce(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
FROM orders
UNION ALL
SELECT 'is_non_negative:orders.o_totalprice',
       CAST(coalesce(sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END), 0) AS BIGINT)
FROM orders
UNION ALL
SELECT 'is_between:lineitem.l_discount',
       CAST(coalesce(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END), 0) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'relationships:lineitem.l_orderkey',
       (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        WHERE l.l_orderkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
""",
)
def quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality executor (quality.py) as a lazy DataFrame report:
    per-model single-pass aggregate (unique via count-count_distinct,
    predicates via sum(case)) stacked into (check_name, failures)
    rows, plus one broadcast anti-join row per relationship check.
    l_discount's [0, 0.1] bound intentionally fails on real data so
    the report shows non-zero detection, matching the oracle."""
    from openaq_data_pipeline_spark.quality import relationship_failures

    t = load(spark, sf_dir, "orders", "lineitem")
    orders, lineitem = t["orders"], t["lineitem"]

    o = orders.agg(
        (F.count("o_orderkey") - F.count_distinct("o_orderkey"))
        .cast("long").alias("u"),
        F.coalesce(
            F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("nn"),
        F.coalesce(
            F.sum(F.when(F.col("o_totalprice") < 0, 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("neg"),
    ).select(
        F.expr(
            "stack(3, 'unique:orders.o_orderkey', u, "
            "'not_null:orders.o_custkey', nn, "
            "'is_non_negative:orders.o_totalprice', neg) AS (check_name, failures)"
        )
    )
    li = lineitem.agg(
        F.coalesce(
            F.sum(
                F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1), 1)
                .otherwise(0)
            ),
            F.lit(0),
        ).cast("long").alias("failures")
    ).select(F.lit("is_between:lineitem.l_discount").alias("check_name"), "failures")
    ri = relationship_failures(
        lineitem.select(F.col("l_orderkey")), "l_orderkey",
        orders.select(F.col("o_orderkey")), "o_orderkey",
        broadcast=False,  # orders is fact-sized; let AQE choose
    ).agg(F.count(F.lit(1)).cast("long").alias("failures")).select(
        F.lit("relationships:lineitem.l_orderkey").alias("check_name"), "failures"
    )
    return o.unionByName(li).unionByName(ri)


# ---------------------------------------------------------------------------
# Structured Streaming surface (streaming/pipeline.py) on the driver tables
# ---------------------------------------------------------------------------


@register(
    "streaming_hourly_drain",
    "§2.9 — Structured Streaming hourly tumbling-window agg: file-source "
    "readStream over events, 2h watermark, update-mode foreachBatch MERGE "
    "drain (availableNow); a full drain is deterministic, so it carries a "
    "real oracle (the batch equivalent)",
    oracle=f"""
SELECT event_type,
       strftime(date_trunc('hour', ts), '{HOUR_FMT_DUCK}') AS hour_utc,
       {exact_avg_duck('value')} AS value_avg,
       CAST(count(*) AS BIGINT) AS n_events
FROM events
GROUP BY event_type, date_trunc('hour', ts)
""",
)
def streaming_hourly_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream the events parquet, window it hourly per event_type,
    drain with Trigger.AvailableNow through the update-mode MERGE sink
    (incremental.merge_upsert), and return the materialized table —
    bit-identical to the batch aggregation because update mode plus a
    full drain loses nothing to the watermark."""
    from openaq_data_pipeline_spark.tmproots import volatile_tmpdir

    from openaq_data_pipeline_spark.catalog import normalize_timestamps, prepare_session
    from openaq_data_pipeline_spark.incremental import IncrementalTable, merge_upsert

    # The stream must read whatever physical timestamp type THIS
    # round's events.parquet carries (the driver has shipped both
    # TIMESTAMP(NANOS) and TIMESTAMP_NTZ µs across rounds). Take the
    # raw schema from a batch probe of the same file and apply the one
    # shared normalization — never a hard-coded copy (VERDICT r2 #1).
    prepare_session(spark)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the state-store partition count is pinned at query start by the
    # checkpoint; (event_type × hour) state cardinality is tiny, so 32
    # state partitions would be pure checkpoint-file overhead. Run the
    # stream on a CLONED session (shared SparkContext, isolated
    # SQLConf) with a small pinned width instead of mutating the
    # caller's conf (VERDICT r3 "what's wrong" #3: try/finally
    # restore races concurrently-planning queries on a shared
    # session). On a real cluster size this to core count.
    sess = spark.newSession()
    sess.conf.set("spark.sql.shuffle.partitions", "4")
    # a cloned session starts from base conf, not the parent's
    # runtime conf — re-pin the normalization contract on it
    prepare_session(sess)
    # events.parquet is a single file; FileStreamSource needs a
    # directory basePath, so scope the stream with a glob filter
    stream = normalize_timestamps(
        sess.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir),
        "events",
    )
    agged = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            exact_avg_spark(F.col("value")).alias("value_avg"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .select(
            "event_type",
            F.date_format(F.col("w.start"), HOUR_FMT_SPARK).alias("hour_utc"),
            F.col("w.start").alias("event_hour"),
            "value_avg",
            "n_events",
        )
    )
    # r17 (VERDICT r16 next #6): the drain's checkpoint + mart are
    # ephemeral by contract (context-scoped demo state, reaped) — the
    # many small fsync-y state/commit files go to the volatile
    # scratch root (tmpfs when present; SPARK_GRAFT_VOLATILE_TMP
    # parameterizes). A production stream passes its own durable
    # checkpointLocation instead of this demo drain's temp dir.
    tmp = volatile_tmpdir("stream_drain_")
    table = IncrementalTable(
        path=f"{tmp}/mart", unique_key="hour_utc", event_time_col="event_hour"
    )

    def _merge(batch_df, batch_id):
        if not batch_df.isEmpty():
            merge_upsert(batch_df.sparkSession, table, batch_df)

    q = (
        agged.writeStream.outputMode("update")
        .foreachBatch(_merge)
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(600)
    if not finished:
        q.stop()
        raise TimeoutError("streaming drain did not finish within 600s")
    if q.exception() is not None:
        # surface the drain failure loudly instead of returning a
        # partial mart (and instead of an async trace leaking into
        # whatever artifact captures this process's output)
        raise q.exception()
    return spark.read.parquet(table.path).select(
        "event_type", "hour_utc", "value_avg", "n_events"
    )


# --- iterative graph scoring (r8) --------------------------------------

_PR_SCALE = 10**12


def _pagerank_iters_duck(n_iters: int) -> str:
    """Chained-CTE replay of operators/graph.pagerank_fixed_point:
    one (scatter, gather, update) triple per superstep, all integer
    arithmetic. Emits ``r{n_iters}``."""
    parts = []
    for i in range(n_iters):
        parts.append(
            f"""s{i} AS (
    SELECT r.node AS src, r.p // o.outdeg AS share
    FROM r{i} r JOIN outdeg o ON o.node = r.node
),
c{i} AS (
    SELECT e.dst AS node, CAST(sum(s.share) AS BIGINT) AS contrib
    FROM eb e JOIN s{i} s ON s.src = e.src
    GROUP BY e.dst
),
r{i + 1} AS (
    SELECT n.node,
           CAST((3 * {_PR_SCALE}) // (20 * nn.n)
                + (17 * coalesce(c.contrib, 0)) // 20 AS BIGINT) AS p
    FROM nodes n CROSS JOIN nn LEFT JOIN c{i} c ON c.node = n.node
)"""
        )
    return ",\n".join(parts)


@register(
    "pagerank_entities",
    "EXT-graph — PageRank in EXACT integer fixed-point over the "
    "customer↔supplier interaction graph (r8): the iterative-graph "
    "primitive web-scale curation ranks crawl hosts with (the "
    "public CommonCrawl centrality releases) expressed Pregel-style "
    "on DataFrames — per superstep one edge-keyed scatter join + "
    "one partial-aggregable gather groupBy, ranks materialized per "
    "round to cut lineage. Damping 0.85 = 17/20 is rational, so "
    "every superstep is 64-bit integer arithmetic (share = p div "
    "outdeg, p' = (3·10^12) div (20N) + (17·Σshare) div 20) and the "
    "oracle replays ALL three supersteps in chained CTEs — "
    "hash-checked, not approximately compared",
    oracle=f"""
WITH e AS (
    SELECT DISTINCT 2 * o.o_custkey AS src, 2 * l.l_suppkey + 1 AS dst
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
eb AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
nodes AS (SELECT DISTINCT src AS node FROM eb),
nn AS (SELECT count(*) AS n FROM nodes),
outdeg AS (SELECT src AS node, count(*) AS outdeg FROM eb GROUP BY src),
r0 AS (
    SELECT node, CAST({_PR_SCALE} // nn.n AS BIGINT) AS p
    FROM nodes CROSS JOIN nn
),
{_pagerank_iters_duck(3)}
SELECT node, p FROM r3
""",
)
def pagerank_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite customer↔supplier graph from order lines (node id =
    2·custkey for customers, 2·suppkey+1 for suppliers; both edge
    directions → undirected random walk). Well-connected suppliers
    accumulate rank exactly as well-linked hosts do in a crawl
    graph. The symmetric edge set means src∪dst == src, and no node
    dangles — the documented dangling-mass loss never triggers
    here."""
    from openaq_data_pipeline_spark.operators.graph import (
        pagerank_fixed_point,
    )

    t = load(spark, sf_dir, "orders", "lineitem")
    e = (
        t["orders"]
        .join(
            t["lineitem"],
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            (2 * F.col("o_custkey")).alias("src"),
            (2 * F.col("l_suppkey") + 1).alias("dst"),
        )
        .distinct()
    )
    both = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return pagerank_fixed_point(both, n_iters=3)
