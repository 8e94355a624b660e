"""Persisted BM25 index (VERDICT r5 next #4): probe-vs-inline
equivalence, batch append, the float (textbook-BM25) production
scoring mode against a Python reference, the two plan properties
(no corpus re-tokenization at query time; df derivation bucket-local
over the term-bucketed postings), and the no-residue contract."""

from __future__ import annotations

import glob
import math
import os

import pytest
from pyspark.sql import functions as F

from openaq_data_pipeline_spark.operators.retrieval import (
    append_bm25_index,
    bm25_topk,
    bm25_topk_indexed,
    build_bm25_index,
    temp_bm25_index,
)

DOCS = [
    (0, "the cat sat on the mat"),
    (2, "the dog chased the cat"),
    (4, "rivers and mountains and weather"),
    (6, "cat cat cat everywhere"),
    (8, ""),  # counts toward N, carries no postings
]
QUERIES = [(100, "cat mat"), (101, "weather rivers")]


def _rows(df):
    cols = df.columns
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _python_bm25(docs, queries, k1=1.2, b=0.75):
    """Textbook BM25 reference (float), mirroring the engine's
    normalize/tokenize contract on this all-lowercase fixture."""
    toks = {i: t.split() for i, t in docs}
    n = len(docs)
    dls = {i: len(ws) for i, ws in toks.items()}
    s = sum(dls.values())
    avgdl = s / n
    dfs: dict[str, int] = {}
    for ws in toks.values():
        for t in set(ws):
            dfs[t] = dfs.get(t, 0) + 1
    out = {}
    for qid, qtext in queries:
        scores = {}
        for term in dict.fromkeys(qtext.split()):
            for i, ws in toks.items():
                tf = ws.count(term)
                if tf == 0:
                    continue
                idf = math.log((n - dfs[term] + 0.5) / (dfs[term] + 0.5))
                tff = tf * (k1 + 1) / (tf + k1 * (1 - b + b * dls[i] / avgdl))
                scores[i] = scores.get(i, 0.0) + idf * tff
        out[qid] = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return out


class TestBm25Index:
    def test_indexed_probe_equals_inline(self, spark):
        docs = spark.createDataFrame(DOCS, "doc_id long, text string")
        qdf = spark.createDataFrame(QUERIES, "query_id long, q_text string")
        inline = bm25_topk(docs, qdf, "text", "doc_id", "q_text", k=3)
        with temp_bm25_index(n_buckets=4) as idx:
            build_bm25_index(docs, "text", "doc_id", idx)
            got = bm25_topk_indexed(
                spark, qdf, idx, "doc_id", "q_text", k=3
            )
            assert _rows(got) == _rows(inline)

    def test_append_equals_inline_over_union(self, spark):
        b1 = spark.createDataFrame(DOCS[:3], "doc_id long, text string")
        b2 = spark.createDataFrame(DOCS[3:], "doc_id long, text string")
        qdf = spark.createDataFrame(QUERIES, "query_id long, q_text string")
        inline = bm25_topk(
            b1.unionByName(b2), qdf, "text", "doc_id", "q_text", k=3
        )
        with temp_bm25_index(n_buckets=4) as idx:
            build_bm25_index(b1, "text", "doc_id", idx)
            append_bm25_index(b2, "text", "doc_id", idx)
            got = bm25_topk_indexed(spark, qdf, idx, "doc_id", "q_text", k=3)
            assert _rows(got) == _rows(inline)

    def test_float_mode_matches_textbook_reference(self, spark):
        docs = spark.createDataFrame(DOCS, "doc_id long, text string")
        qdf = spark.createDataFrame(QUERIES, "query_id long, q_text string")
        ref = _python_bm25(DOCS, QUERIES)
        out = bm25_topk(
            docs, qdf, "text", "doc_id", "q_text", k=3, score_mode="float"
        ).collect()
        got = {}
        for r in sorted(out, key=lambda r: (r.query_id, r.rank)):
            got.setdefault(r.query_id, []).append((r.doc_id, r.score))
        for qid, expected in ref.items():
            exp = [(d, round(s, 6)) for d, s in expected[:3]]
            assert [
                (d, pytest.approx(s, abs=1e-6)) for d, s in exp
            ] == got[qid], (qid, exp, got[qid])

    def test_float_mode_on_indexed_probe(self, spark):
        docs = spark.createDataFrame(DOCS, "doc_id long, text string")
        qdf = spark.createDataFrame(QUERIES, "query_id long, q_text string")
        inline = bm25_topk(
            docs, qdf, "text", "doc_id", "q_text", k=3, score_mode="float"
        )
        with temp_bm25_index(n_buckets=4) as idx:
            build_bm25_index(docs, "text", "doc_id", idx)
            got = bm25_topk_indexed(
                spark, qdf, idx, "doc_id", "q_text", k=3, score_mode="float"
            )
            assert _rows(got) == _rows(inline)

    def test_unknown_score_mode_raises(self, spark):
        docs = spark.createDataFrame(DOCS, "doc_id long, text string")
        qdf = spark.createDataFrame(QUERIES, "query_id long, q_text string")
        with pytest.raises(ValueError, match="score_mode"):
            bm25_topk(
                docs, qdf, "text", "doc_id", "q_text", score_mode="exotic"
            ).collect()

    def test_probe_plan_reads_index_not_corpus(self, spark, tmp_path):
        """VERDICT r5 #4 'done' criterion: the query path reads the
        bucketed index with NO corpus re-tokenization — the probe
        plan's inputs are the index tables only, never the corpus
        parquet."""
        corpus_path = str(tmp_path / "corpus_docs")
        spark.createDataFrame(DOCS, "doc_id long, text string").write.parquet(
            corpus_path
        )
        qdf = spark.createDataFrame(QUERIES, "query_id long, q_text string")
        with temp_bm25_index(n_buckets=4) as idx:
            build_bm25_index(
                spark.read.parquet(corpus_path), "text", "doc_id", idx
            )
            probe = bm25_topk_indexed(spark, qdf, idx, "doc_id", "q_text", k=3)
            files = probe.inputFiles()
            assert idx.location is not None
            assert any(idx.location in f for f in files), "index scan missing"
            assert not any(corpus_path in f for f in files), (
                "probe re-reads (re-tokenizes) the corpus"
            )

    def test_df_derivation_is_bucket_local(self, spark):
        """df re-derives from the term-bucketed postings with NO
        exchange above the scan — the reason df is not persisted."""
        docs = spark.createDataFrame(DOCS, "doc_id long, text string")
        with temp_bm25_index(n_buckets=4) as idx:
            build_bm25_index(docs, "text", "doc_id", idx)
            df_t = (
                spark.table(idx.tf_table)
                .groupBy("term")
                .agg(F.count(F.lit(1)).alias("df"))
            )
            plan = df_t._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert "Bucketed: true" in plan, plan

    def test_no_temp_index_residue(self, spark):
        import tempfile

        from openaq_data_pipeline_spark.operators.text import normalize, tokens

        from oracle_harness import SF_DIR

        sf = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", SF_DIR)
        d = spark.read.parquet(f"{sf}/documents.parquet")
        # every 101st document's first 8 tokens form a query
        qdf = d.filter(F.col("doc_id") % 101 == 0).select(
            F.col("doc_id").alias("query_id"),
            F.concat_ws(
                " ", F.slice(tokens(normalize(F.col("text"))), 1, 8)
            ).alias("q_text"),
        )
        tmp_root = tempfile.gettempdir()
        before = set(glob.glob(os.path.join(tmp_root, "bm25_index_*")))
        with temp_bm25_index(n_buckets=8) as idx:
            build_bm25_index(d, "text", "doc_id", idx)
            out = bm25_topk_indexed(
                spark, qdf, idx, "doc_id", "q_text", "query_id", k=5
            ).localCheckpoint(eager=True)
        assert out.count() > 0
        after = set(glob.glob(os.path.join(tmp_root, "bm25_index_*")))
        assert after - before == set()
        leaked = [
            t.name
            for t in spark.catalog.listTables()
            if t.name.startswith("bm25_idx_")
        ]
        assert leaked == [], leaked


class TestRrfFuse:
    """Hybrid fusion (r8): rank-only semantics, integer determinism,
    tie-breaks, and multi-system agreement accounting."""

    def _fuse(self, spark, rankings, **kw):
        from openaq_data_pipeline_spark.operators.retrieval import rrf_fuse

        dfs = [
            spark.createDataFrame(r, "query_id long, doc_id long, rank long")
            for r in rankings
        ]
        return rrf_fuse(dfs, **kw)

    def test_two_system_agreement_wins(self, spark):
        # doc 7 is rank 2 in both systems; doc 1 / doc 9 are rank 1
        # in one system each: 2/(60+2) > 1/(60+1), so agreement wins
        sparse = [(0, 1, 1), (0, 7, 2)]
        dense = [(0, 9, 1), (0, 7, 2)]
        out = self._fuse(spark, [sparse, dense]).collect()
        by_doc = {r.doc_id: r for r in out}
        assert by_doc[7].fused_rank == 1
        assert by_doc[7].n_systems == 2
        assert {by_doc[1].n_systems, by_doc[9].n_systems} == {1}
        # exact integer contributions: floor(1e12/62)*2 vs floor(1e12/61)
        assert by_doc[7].rrf_score == 2 * (10**12 // 62)
        assert by_doc[1].rrf_score == 10**12 // 61
        # equal single-system rank-1 scores tie-break by doc_id
        assert by_doc[1].fused_rank == 2 and by_doc[9].fused_rank == 3

    def test_topk_and_per_query_partitioning(self, spark):
        r1 = [(q, d, d + 1) for q in (0, 1) for d in range(5)]
        out = self._fuse(spark, [r1], topk=3)
        rows = out.collect()
        assert len(rows) == 6  # 3 per query
        for q in (0, 1):
            ranks = sorted(r.fused_rank for r in rows if r.query_id == q)
            assert ranks == [1, 2, 3]

    def test_empty_rankings_rejected(self, spark):
        from openaq_data_pipeline_spark.operators.retrieval import rrf_fuse

        with pytest.raises(ValueError):
            rrf_fuse([])

    def test_fusion_plan_has_no_corpus_input(self, spark):
        # the fused plan reads only the two ranking DataFrames — a
        # regression here (e.g. a rejoin against corpus text) would
        # show as a scan in the plan
        out = self._fuse(spark, [[(0, 1, 1)], [(0, 2, 1)]])
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "Relation" not in plan or "parquet" not in plan.lower()


class TestMmrRerank:
    """MMR diversity re-ranking (r8): python-replay equality,
    redundancy suppression, lam extremes, bounds."""

    def _cands(self, spark, rows):
        return spark.createDataFrame(
            rows,
            "query_id long, doc_id long, rrf_score double, "
            "embedding array<float>",
        )

    def test_redundant_item_demoted(self, spark):
        from openaq_data_pipeline_spark.operators.retrieval import (
            mmr_rerank,
        )

        # docs 1,2 nearly identical vectors with top scores; doc 3
        # orthogonal with a lower score: pure relevance would rank
        # (1,2,3); MMR at lam=0.5 promotes 3 over the near-twin 2
        rows = [
            (0, 1, 10.0, [1.0, 0.0]),
            (0, 2, 9.9, [1.0, 0.01]),
            (0, 3, 6.0, [0.0, 1.0]),
        ]
        out = mmr_rerank(self._cands(spark, rows), k=3, lam=0.5).collect()
        order = [r.doc_id for r in sorted(out, key=lambda r: r.mmr_rank)]
        assert order == [1, 3, 2]

    def test_lam_one_is_pure_relevance(self, spark):
        from openaq_data_pipeline_spark.operators.retrieval import (
            mmr_rerank,
        )

        rows = [
            (0, 1, 1.0, [1.0, 0.0]),
            (0, 2, 3.0, [1.0, 0.0]),
            (0, 3, 2.0, [1.0, 0.0]),
        ]
        out = mmr_rerank(self._cands(spark, rows), k=3, lam=1.0).collect()
        order = [r.doc_id for r in sorted(out, key=lambda r: r.mmr_rank)]
        assert order == [2, 3, 1]

    def test_per_query_isolation_and_k_bound(self, spark):
        from openaq_data_pipeline_spark.operators.retrieval import (
            mmr_rerank,
        )

        rows = [
            (q, d, float(10 - d), [float(d == i) for i in range(3)])
            for q in (0, 1)
            for d in (0, 1, 2)
        ]
        out = mmr_rerank(self._cands(spark, rows), k=2).collect()
        assert len(out) == 4
        for q in (0, 1):
            ranks = sorted(r.mmr_rank for r in out if r.query_id == q)
            assert ranks == [1, 2]

    def test_bad_lambda_rejected(self, spark):
        import pytest as _p

        from openaq_data_pipeline_spark.operators.retrieval import (
            mmr_rerank,
        )

        with _p.raises(ValueError):
            mmr_rerank(self._cands(spark, [(0, 1, 1.0, [1.0])]), k=1, lam=1.5)


class TestPhraseOccurrences:
    """Exact token-sequence phrase matching (r12): one codegen
    regexp count with token-boundary guards over the normalized
    text — the phrase face the positional-free tf postings cannot
    express."""

    def test_counts_boundaries_and_tokenizer_alignment(self, spark):
        from openaq_data_pipeline_spark.operators.retrieval import (
            phrase_occurrences,
        )

        rows = [
            (1, "The Quick   brown fox runs. the quick brown fox naps"),
            (2, "quick brown foxes everywhere"),
            (3, "prefix the quick brown fox"),
            (4, None),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r.doc_id: r.n_hits
            for r in phrase_occurrences(
                df, "text", "doc_id", "The Quick Brown FOX"
            ).collect()
        }
        # case/whitespace-normalized, both occurrences in doc 1
        # counted (adjacent boundary guards are lookarounds); 'foxes'
        # does NOT match the token 'fox'; NULL text never matches
        assert out == {1: 2, 3: 1}

    def test_regex_metacharacters_are_literal(self, spark):
        from openaq_data_pipeline_spark.operators.retrieval import (
            phrase_occurrences,
        )

        df = spark.createDataFrame(
            [(1, "cost is $5.00 (usd) today"), (2, "cost is x5y00 zusd")],
            "doc_id long, text string",
        )
        out = {
            r.doc_id: r.n_hits
            for r in phrase_occurrences(
                df, "text", "doc_id", "$5.00 (usd)"
            ).collect()
        }
        assert out == {1: 1}

    def test_plan_is_scan_fused_no_shuffle_before_filter(self, spark):
        from openaq_data_pipeline_spark.operators.retrieval import (
            phrase_occurrences,
        )

        df = spark.createDataFrame(
            [(i, f"body {i}") for i in range(10)],
            "doc_id long, text string",
        )
        plan = (
            phrase_occurrences(df, "text", "doc_id", "body text")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan  # one scan, zero shuffles
