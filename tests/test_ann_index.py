"""Persisted IVF index (r6): probe-vs-inline equivalence with a
frozen quantizer, batch append, the no-corpus-read plan property,
and the no-residue contract — the ANN-tier analogue of the BM25 /
incremental-dedup index tests."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from openaq_data_pipeline_spark.operators.similarity import (
    append_ivf_index,
    build_ivf_index,
    ivf_topk,
    ivf_topk_indexed,
    temp_ivf_index,
)


def _vec(i: int, dim: int = 8) -> list[float]:
    return [float((i * 31 + d * 7) % 13 - 6) for d in range(dim)]


def _fixture(spark, n=40):
    return spark.createDataFrame(
        [(i, _vec(i)) for i in range(n)], "vec_id long, embedding array<float>"
    )


def _rows(df):
    return sorted(
        (r.query_id, r.rank, r.neighbor_id, r.cosine_sim) for r in df.collect()
    )


class TestIvfIndex:
    def test_indexed_probe_equals_inline(self, spark):
        e = _fixture(spark)
        q = e.filter("vec_id < 5")
        inline = ivf_topk(e, q, n_cells=8, nprobe=3, k=4, train_iters=1)
        with temp_ivf_index(nprobe=3, n_buckets=4) as idx:
            build_ivf_index(e, idx, n_cells=8, train_iters=1)
            got = ivf_topk_indexed(spark, q, idx, k=4)
            assert _rows(got) == _rows(inline)

    def test_append_makes_batch_discoverable_under_frozen_centroids(self, spark):
        """Appends assign against the FROZEN quantizer (re-training
        would be a re-index, not an append): a query matching an
        appended vector must retrieve it, and the probe's scores for
        pre-existing neighbors must be unchanged by the append."""
        e1 = _fixture(spark, 30)
        e2 = spark.createDataFrame(
            [(i, _vec(i)) for i in range(100, 115)],
            "vec_id long, embedding array<float>",
        )
        q = e1.filter("vec_id < 4")
        with temp_ivf_index(nprobe=3, n_buckets=4) as idx:
            build_ivf_index(e1, idx, n_cells=8, train_iters=1)
            before = _rows(
                ivf_topk_indexed(spark, q, idx, k=2)
            )  # top-2 from batch 1 only
            append_ivf_index(e2, idx)
            # a query vector equal to an appended point retrieves it
            probe = spark.createDataFrame(
                [(999, _vec(101))], "vec_id long, embedding array<float>"
            )
            hits = ivf_topk_indexed(spark, probe, idx, k=3).collect()
            assert any(r.neighbor_id == 101 for r in hits), hits
            # batch-1 neighbors kept their exact (rank-agnostic)
            # scores: the append changed the candidate set, not the
            # scoring of existing vectors
            after_all = {
                (r.query_id, r.neighbor_id): r.cosine_sim
                for r in ivf_topk_indexed(spark, q, idx, k=10).collect()
            }
            for qid, _, nid, sim in before:
                if (qid, nid) in after_all:
                    assert after_all[(qid, nid)] == sim

    def test_probe_plan_reads_index_not_corpus(self, spark, tmp_path):
        corpus_path = str(tmp_path / "emb")
        _fixture(spark).write.parquet(corpus_path)
        corpus = spark.read.parquet(corpus_path)
        q = spark.createDataFrame(
            [(900, _vec(3))], "vec_id long, embedding array<float>"
        )
        with temp_ivf_index(nprobe=3, n_buckets=4) as idx:
            build_ivf_index(corpus, idx, n_cells=8, train_iters=1)
            probe = ivf_topk_indexed(spark, q, idx, k=4)
            files = probe.inputFiles()
            assert idx.location is not None
            assert any(idx.location in f for f in files), "index scan missing"
            assert not any(corpus_path in f for f in files), (
                "probe re-reads (re-assigns) the corpus"
            )

    def test_no_temp_index_residue(self, spark):
        import tempfile

        from oracle_harness import SF_DIR

        sf = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", SF_DIR)
        e = spark.read.parquet(f"{sf}/embeddings.parquet")
        tmp_root = tempfile.gettempdir()
        before = set(glob.glob(os.path.join(tmp_root, "ivf_index_*")))
        with temp_ivf_index(nprobe=4, n_buckets=8) as idx:
            build_ivf_index(e, idx, n_cells=16, train_iters=1)
            out = ivf_topk_indexed(
                spark, e.filter("vec_id < 10"), idx, k=5
            ).localCheckpoint(eager=True)
        assert out.count() > 0
        after = set(glob.glob(os.path.join(tmp_root, "ivf_index_*")))
        assert after - before == set()
        leaked = [
            t.name
            for t in spark.catalog.listTables()
            if t.name.startswith("ivf_idx_")
        ]
        assert leaked == [], leaked


def _dirsize(path):
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(path)
        for f in fs
        if not f.startswith((".", "_"))
    )


def _recall(got, truth, k):
    """Mean fraction of ground-truth top-k ids retrieved per query."""
    from collections import defaultdict

    g, t = defaultdict(set), defaultdict(set)
    for r in got:
        g[r.query_id].add(r.neighbor_id)
    for r in truth:
        t[r.query_id].add(r.neighbor_id)
    return sum(len(g[q] & t[q]) / len(t[q]) for q in t) / len(t)


class TestInt8IvfIndex:
    """VERDICT r6 next #4: int8 cells cut the index's dominant
    storage/IO ~8x; cosine over symmetric codes needs no scale join;
    optional exact rescore from the bucketed side table restores
    float ranking."""

    def test_recall_floor_and_bytes(self, spark):
        """Recall floor on the hand-sized fixture; the ~8x bytes claim
        on a realistic one — 2000 × 64-dim HIGH-ENTROPY vectors
        (random floats, like real embeddings). A patterned/tiny
        fixture would let parquet dictionary-encode the doubles and
        bury the payload under footer overhead."""
        import numpy as np

        from openaq_data_pipeline_spark.operators.similarity import (
            brute_force_topk,
        )

        e = _fixture(spark, 60)
        q = e.filter("vec_id < 8")
        k = 4
        truth = brute_force_topk(e, q, k=k).collect()
        with temp_ivf_index(nprobe=3, n_buckets=4) as fidx:
            build_ivf_index(e, fidx, n_cells=8, train_iters=1)
            float_rows = ivf_topk_indexed(spark, q, fidx, k=k).collect()
            float_recall = _recall(float_rows, truth, k)
        with temp_ivf_index(
            nprobe=3, n_buckets=4, storage="int8", rescore=True
        ) as qidx:
            build_ivf_index(e, qidx, n_cells=8, train_iters=1)
            int8_rows = ivf_topk_indexed(spark, q, qidx, k=k).collect()
            int8_recall = _recall(int8_rows, truth, k)
        # recall floor: int8+rescore >= the float index's own recall
        assert int8_recall >= float_recall

        rng = np.random.default_rng(7)
        big = spark.createDataFrame(
            [
                (i, [float(x) for x in rng.standard_normal(64)])
                for i in range(2000)
            ],
            "vec_id long, embedding array<float>",
        )
        with temp_ivf_index(nprobe=2, n_buckets=4) as fidx:
            build_ivf_index(big, fidx, n_cells=8, train_iters=0)
            float_bytes = _dirsize(os.path.join(fidx.location, "cells"))
        with temp_ivf_index(
            nprobe=2, n_buckets=4, storage="int8", rescore=True
        ) as qidx:
            build_ivf_index(big, qidx, n_cells=8, train_iters=0)
            int8_bytes = _dirsize(os.path.join(qidx.location, "cells"))
        # the 'done' criterion: 1-byte codes vs the 4-byte float32
        # elements the embeddings tables actually store → asymptotic
        # 4x (8x only against a float64 upstream); measured 3.64x on
        # this fixture with per-file framing
        assert int8_bytes * 3.4 <= float_bytes, (int8_bytes, float_bytes)

    def test_rescore_matches_float_ranking_on_probed_cells(self, spark):
        """With rescore, the final (query, neighbor, sim) rows equal
        the float index's EXACT rows whenever the int8 top-k' covers
        the float top-k — pin it on the fixture where it does."""
        e = _fixture(spark, 40)
        q = e.filter("vec_id < 5")
        with temp_ivf_index(nprobe=3, n_buckets=4) as fidx:
            build_ivf_index(e, fidx, n_cells=8, train_iters=1)
            want = _rows(ivf_topk_indexed(spark, q, fidx, k=3))
        with temp_ivf_index(
            nprobe=3, n_buckets=4, storage="int8", rescore=True,
            rescore_factor=4,
        ) as qidx:
            build_ivf_index(e, qidx, n_cells=8, train_iters=1)
            got = _rows(ivf_topk_indexed(spark, q, qidx, k=3))
        assert got == want

    def test_int8_append_and_no_corpus_read(self, spark, tmp_path):
        corpus_path = str(tmp_path / "emb8")
        _fixture(spark, 30).write.parquet(corpus_path)
        corpus = spark.read.parquet(corpus_path)
        q = spark.createDataFrame(
            [(900, _vec(3))], "vec_id long, embedding array<float>"
        )
        with temp_ivf_index(
            nprobe=3, n_buckets=4, storage="int8", rescore=True
        ) as idx:
            build_ivf_index(corpus, idx, n_cells=8, train_iters=1)
            e2 = spark.createDataFrame(
                [(i, _vec(i)) for i in range(100, 110)],
                "vec_id long, embedding array<float>",
            )
            append_ivf_index(e2, idx)
            probe = ivf_topk_indexed(spark, q, idx, k=4)
            files = probe.inputFiles()
            assert any(idx.location in f for f in files)
            assert not any(corpus_path in f for f in files), (
                "int8 probe re-reads the corpus"
            )
            hit = spark.createDataFrame(
                [(999, _vec(105))], "vec_id long, embedding array<float>"
            )
            # _vec has period 13, so base ids 1/14/27 tie at cosine
            # 1.0 and outrank the appended 105 by id — k=6 must
            # surface it
            hits = ivf_topk_indexed(spark, hit, idx, k=6).collect()
            assert any(r.neighbor_id == 105 for r in hits), hits


class TestIvfNeardupIndexed:
    """r7: the embedding tier's incremental near-dup probe — exact
    copies retrieved at cosine 1.0 from the persisted index, exact
    thresholds under int8+rescore, no corpus re-read."""

    def test_copies_found_and_threshold_respected(self, spark):
        from openaq_data_pipeline_spark.operators.similarity import (
            ivf_neardup_indexed,
        )

        e = _fixture(spark, 40)
        # batch: exact copies of vectors 3 and 17 → cosine 1.0 hits
        batch = spark.createDataFrame(
            [(903, _vec(3)), (917, _vec(17))],
            "vec_id long, embedding array<float>",
        )
        with temp_ivf_index(nprobe=3, n_buckets=4) as idx:
            build_ivf_index(e, idx, n_cells=8, train_iters=1)
            got = ivf_neardup_indexed(
                spark, batch, idx, min_cosine=0.999
            ).collect()
            pairs = {(r.query_id, r.neighbor_id) for r in got}
            # _vec has period 13: each copy matches its source AND the
            # period-aliases sharing the source's cell
            assert (903, 3) in pairs and (917, 17) in pairs
            assert all(r.cosine_sim >= 0.999 for r in got)
            # a high threshold excludes non-identical vectors
            # (batch ids are source+900; _vec's period is 13, so
            # identical ⇔ neighbor ≡ query−900 (mod 13))
            non_identical = [
                r for r in got if (r.neighbor_id - (r.query_id - 900)) % 13 != 0
            ]
            assert non_identical == []

    def test_int8_rescore_thresholds_exactly(self, spark):
        """Thresholds are contracts: under int8+rescore the emitted
        similarities must equal the FLOAT index's values (exact
        rescore of every candidate), not code-space approximations."""
        from openaq_data_pipeline_spark.operators.similarity import (
            ivf_neardup_indexed,
        )

        e = _fixture(spark, 40)
        batch = spark.createDataFrame(
            [(903, _vec(3))], "vec_id long, embedding array<float>"
        )
        with temp_ivf_index(nprobe=3, n_buckets=4) as fidx:
            build_ivf_index(e, fidx, n_cells=8, train_iters=1)
            want = sorted(
                (r.query_id, r.neighbor_id, r.cosine_sim)
                for r in ivf_neardup_indexed(
                    spark, batch, fidx, min_cosine=0.5
                ).collect()
            )
        with temp_ivf_index(
            nprobe=3, n_buckets=4, storage="int8", rescore=True
        ) as qidx:
            build_ivf_index(e, qidx, n_cells=8, train_iters=1)
            got = sorted(
                (r.query_id, r.neighbor_id, r.cosine_sim)
                for r in ivf_neardup_indexed(
                    spark, batch, qidx, min_cosine=0.5
                ).collect()
            )
        assert got == want

    def test_probe_reads_index_not_corpus(self, spark, tmp_path):
        from openaq_data_pipeline_spark.operators.similarity import (
            ivf_neardup_indexed,
        )

        corpus_path = str(tmp_path / "nd_emb")
        _fixture(spark, 30).write.parquet(corpus_path)
        corpus = spark.read.parquet(corpus_path)
        batch = spark.createDataFrame(
            [(900, _vec(3))], "vec_id long, embedding array<float>"
        )
        with temp_ivf_index(nprobe=3, n_buckets=4) as idx:
            build_ivf_index(corpus, idx, n_cells=8, train_iters=1)
            probe = ivf_neardup_indexed(spark, batch, idx, min_cosine=0.9)
            files = probe.inputFiles()
            assert any(idx.location in f for f in files)
            assert not any(corpus_path in f for f in files), (
                "near-dup probe re-reads the corpus"
            )


class TestInt8ApproxScoreNaming:
    """ADVICE r7 #2: without a rescore table, int8 probes score in
    code space — the output column must say so (`code_cosine_sim`),
    never masquerade as exact `cosine_sim`."""

    def test_no_rescore_surfaces_code_cosine_sim(self, spark):
        from openaq_data_pipeline_spark.operators.similarity import (
            ivf_neardup_indexed,
            ivf_topk_indexed,
        )

        e = _fixture(spark, 40)
        q = e.filter("vec_id < 4")
        with temp_ivf_index(
            nprobe=3, n_buckets=4, storage="int8", rescore=False
        ) as idx:
            build_ivf_index(e, idx, n_cells=4, train_iters=1)
            topk = ivf_topk_indexed(spark, q, idx, k=3)
            assert topk.columns == [
                "query_id", "rank", "neighbor_id", "code_cosine_sim"
            ]
            near = ivf_neardup_indexed(spark, q, idx, min_cosine=0.5)
            assert near.columns == [
                "query_id", "neighbor_id", "code_cosine_sim"
            ]
            assert topk.count() > 0 and near.count() > 0

    def test_rescore_and_float_keep_exact_name(self, spark):
        from openaq_data_pipeline_spark.operators.similarity import (
            ivf_topk_indexed,
        )

        e = _fixture(spark, 40)
        q = e.filter("vec_id < 4")
        with temp_ivf_index(
            nprobe=3, n_buckets=4, storage="int8", rescore=True
        ) as idx:
            build_ivf_index(e, idx, n_cells=4, train_iters=1)
            assert "cosine_sim" in ivf_topk_indexed(spark, q, idx, k=3).columns
        with temp_ivf_index(nprobe=3, n_buckets=4) as idx:
            build_ivf_index(e, idx, n_cells=4, train_iters=1)
            assert "cosine_sim" in ivf_topk_indexed(spark, q, idx, k=3).columns


class TestSemanticDedup:
    """SemDeDup (r8): greedy keep-first survivor policy, the
    observable-drop cell cap, and the frozen-centroid reuse path."""

    def _run(self, spark, rows, **kw):
        from openaq_data_pipeline_spark.operators.similarity import (
            semantic_dedup,
        )

        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in rows],
            "vec_id long, embedding array<float>",
        )
        out = semantic_dedup(df, **kw).collect()
        return {r.vec_id: r for r in out}

    def test_greedy_chain_not_transitive(self, spark):
        import math

        # a—b and b—c at cosine 0.95, a—c at ~0.81 (< 0.9): greedy
        # drops BOTH b (dup_of=a) and c (dup_of=b, its lowest ≥-t
        # lower-id cellmate, even though b itself was dropped) —
        # deliberately NOT transitive-closure clustering
        t1 = math.acos(0.95)
        rows = [
            (0, [1.0, 0.0]),
            (1, [math.cos(t1), math.sin(t1)]),
            (2, [math.cos(2 * t1), math.sin(2 * t1)]),
        ]
        by = self._run(
            spark, rows, threshold=0.9, cent_rows=[(0, [1.0, 0.0])]
        )
        assert by[0].kept and by[0].dup_of is None
        assert not by[1].kept and by[1].dup_of == 0
        assert not by[2].kept and by[2].dup_of == 1

    def test_cell_overflow_cap_is_observable(self, spark):
        rows = [(i, [1.0, 0.0]) for i in range(4)]
        by = self._run(
            spark,
            rows,
            threshold=0.9,
            max_cell_size=2,
            cent_rows=[(0, [1.0, 0.0])],
        )
        # ranks 1-2 compared: id 1 dups to 0; ranks 3-4 pass through
        # flagged, never compared (kept, dup_of null)
        assert by[0].kept and not by[0].cell_overflow
        assert not by[1].kept and by[1].dup_of == 0
        assert by[2].kept and by[2].cell_overflow
        assert by[3].kept and by[3].cell_overflow

    def test_cells_isolate_comparison(self, spark):
        # identical vectors in DIFFERENT cells are never compared:
        # the quadratic is cell-local by construction
        rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.0, 1.0])]
        by = self._run(
            spark,
            rows,
            threshold=0.9,
            cent_rows=[(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        )
        assert by[0].kept
        assert by[1].kept  # nearest lower-id twin sits in cell 1 too
        assert not by[2].kept and by[2].dup_of == 1

    def test_trains_when_no_centroids_given(self, spark):
        rows = [(i, [1.0 + 0.001 * i, 0.0]) for i in range(6)]
        by = self._run(spark, rows, n_cells=2, threshold=0.99)
        assert sum(1 for r in by.values() if r.kept) == 1


class TestProductQuantization:
    """PQ train/encode/ADC (r8): python-replay exactness of the
    codebook trainer, encode determinism, ADC ranking properties,
    and the torn-append guard."""

    def _corpus(self, spark, n=24, dim=8):
        rows = [
            (i, [float(((i * 7 + d * 3) % 10) - 5) for d in range(dim)])
            for i in range(n)
        ]
        return rows, spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )

    def test_trainer_matches_python_replay(self, spark):
        import math

        from openaq_data_pipeline_spark.operators.similarity import (
            pq_train_codebooks,
        )

        rows, df = self._corpus(spark)
        m, ksub, dsub, q = 2, 4, 4, 10**6
        got = pq_train_codebooks(
            df, m=m, ksub=ksub, n_iters=2, dim=8
        )
        # pure-python replay of the documented recurrence
        vecs = {i: [float(x) for x in v] for i, v in rows}
        book = {
            (s, j): vecs[sorted(vecs)[j]][s * dsub : (s + 1) * dsub]
            for j in range(ksub)
            for s in range(m)
        }
        for _ in range(2):
            members = {}
            for i, v in vecs.items():
                for s in range(m):
                    u = v[s * dsub : (s + 1) * dsub]
                    best = min(
                        (
                            round(
                                sum(x * x for x in u)
                                - 2 * sum(x * y for x, y in zip(u, book[(s, c)]))
                                + sum(y * y for y in book[(s, c)]),
                                6,
                            ),
                            c,
                        )
                        for c in range(ksub)
                    )[1]
                    members.setdefault((s, best), []).append(u)
            for key, us in members.items():
                book[key] = [
                    sum(int(round(u[d] * q)) for u in us) / (len(us) * float(q))
                    for d in range(dsub)
                ]
        for s, c, vec in got:
            assert vec == book[(s, c)], (s, c)

    def test_adc_prefers_true_neighbor(self, spark):
        from openaq_data_pipeline_spark.operators.similarity import (
            pq_encode,
            pq_topk_adc,
            pq_train_codebooks,
        )

        rows, df = self._corpus(spark, n=20)
        books = pq_train_codebooks(df, m=2, ksub=4, n_iters=1, dim=8)
        codes = pq_encode(df, books, m=2, dim=8)
        # query with vec 0's exact embedding under a fresh id
        q = spark.createDataFrame(
            [(900, rows[0][1])], "vec_id long, embedding array<float>"
        )
        out = pq_topk_adc(q, codes, books, k=3, m=2, dim=8).collect()
        assert [r.rank for r in out] == [1, 2, 3]
        # vec 0 shares every code with the query -> minimal ADC
        assert out[0].neighbor_id == 0

    def test_torn_code_rows_are_dropped(self, spark):
        from openaq_data_pipeline_spark.operators.similarity import (
            pq_encode,
            pq_topk_adc,
            pq_train_codebooks,
        )
        from pyspark.sql import functions as F

        rows, df = self._corpus(spark, n=12)
        books = pq_train_codebooks(df, m=2, ksub=4, n_iters=1, dim=8)
        codes = pq_encode(df, books, m=2, dim=8)
        torn = codes.where(
            ~((F.col("vec_id") == 5) & (F.col("sub_id") == 1))
        )
        q = spark.createDataFrame(
            [(900, rows[0][1])], "vec_id long, embedding array<float>"
        )
        out = pq_topk_adc(q, torn, books, k=12, m=2, dim=8).collect()
        assert 5 not in {r.neighbor_id for r in out}

    def test_dim_not_divisible_raises(self, spark):
        import pytest as _p

        from openaq_data_pipeline_spark.operators.similarity import (
            pq_train_codebooks,
        )

        _, df = self._corpus(spark)
        with _p.raises(ValueError):
            pq_train_codebooks(df, m=3, ksub=4, dim=8)


class TestIvfPqComposition:
    """IVF-PQ (r8): cell pruning feeds ADC; pruned results equal the
    flat ADC ranking restricted to the probed cells' members."""

    def test_pruned_equals_flat_on_candidates(self, spark):
        from pyspark.sql import functions as F

        from openaq_data_pipeline_spark.operators.similarity import (
            build_ivf_index,
            ivf_pq_topk,
            pq_encode,
            pq_topk_adc,
            pq_train_codebooks,
            temp_ivf_index,
        )

        rows = [
            (i, [float(((i * 7 + d * 3) % 10) - 5) for d in range(8)])
            for i in range(40)
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )
        books = pq_train_codebooks(df, m=2, ksub=4, n_iters=1, dim=8)
        codes = pq_encode(df, books, m=2, dim=8)
        q = df.filter("vec_id < 3")
        with temp_ivf_index(nprobe=2, n_buckets=4) as idx:
            build_ivf_index(df, idx, n_cells=4, train_iters=1)
            pruned = ivf_pq_topk(
                spark, q, idx, codes, books, k=40, m=2, dim=8
            ).collect()
            flat = pq_topk_adc(
                q, codes, books, k=40, m=2, dim=8
            ).collect()
        flat_by = {(r.query_id, r.neighbor_id): r.adc_fp for r in flat}
        assert len(pruned) > 0
        # every pruned pair scores identically to the flat ADC, and
        # pruning is a strict subset (nprobe=2 of 4 cells)
        for r in pruned:
            assert flat_by[(r.query_id, r.neighbor_id)] == r.adc_fp
        assert len(pruned) < len(flat)


class TestPqIndex:
    """Persisted PQ handle (r9, VERDICT r8 next #2): indexed ADC ≡
    inline, frozen-codebook append, no-corpus-read plan pin, and —
    the point of the handle — compaction and retraction coverage via
    bucketed_tables_of."""

    def _pq_rows(self, df):
        return sorted(
            (r.query_id, r.rank, r.neighbor_id, r.adc_fp)
            for r in df.collect()
        )

    def test_indexed_adc_equals_inline(self, spark):
        from openaq_data_pipeline_spark.operators.similarity import (
            build_pq_index,
            pq_encode,
            pq_topk_adc,
            pq_topk_indexed,
            pq_train_codebooks,
            temp_pq_index,
        )

        e = _fixture(spark)
        q = e.filter("vec_id < 4")
        books = pq_train_codebooks(e, m=4, ksub=8, n_iters=1, dim=8)
        inline = pq_topk_adc(
            q, pq_encode(e, books, m=4, dim=8), books, k=4, m=4, dim=8
        )
        with temp_pq_index(m=4, ksub=8, dim=8, n_buckets=4) as idx:
            build_pq_index(e, idx, n_iters=1)
            got = pq_topk_indexed(spark, q, idx, k=4)
            assert self._pq_rows(got) == self._pq_rows(inline)

    def test_append_encodes_under_frozen_codebooks(self, spark):
        from openaq_data_pipeline_spark.operators.similarity import (
            append_pq_index,
            build_pq_index,
            pq_encode,
            pq_topk_adc,
            pq_train_codebooks,
            pq_topk_indexed,
            temp_pq_index,
        )

        e1 = _fixture(spark, 30)
        e2 = spark.createDataFrame(
            [(i, _vec(i)) for i in range(100, 112)],
            "vec_id long, embedding array<float>",
        )
        q = e1.filter("vec_id < 4")
        with temp_pq_index(m=4, ksub=8, dim=8, n_buckets=4) as idx:
            build_pq_index(e1, idx, n_iters=1)
            append_pq_index(e2, idx)
            got = pq_topk_indexed(spark, q, idx, k=5)
            # oracle: codebooks trained on batch 1 ONLY, everything
            # encoded under them — the frozen-codebook contract
            books = pq_train_codebooks(e1, m=4, ksub=8, n_iters=1, dim=8)
            inline = pq_topk_adc(
                q,
                pq_encode(e1.unionByName(e2), books, m=4, dim=8),
                books,
                k=5,
                m=4,
                dim=8,
            )
            assert self._pq_rows(got) == self._pq_rows(inline)

    def test_probe_plan_reads_index_not_corpus(self, spark, tmp_path):
        from openaq_data_pipeline_spark.operators.similarity import (
            build_pq_index,
            pq_topk_indexed,
            temp_pq_index,
        )

        corpus_path = str(tmp_path / "emb")
        _fixture(spark).write.parquet(corpus_path)
        corpus = spark.read.parquet(corpus_path)
        q = spark.createDataFrame(
            [(900, _vec(3))], "vec_id long, embedding array<float>"
        )
        with temp_pq_index(m=4, ksub=8, dim=8, n_buckets=4) as idx:
            build_pq_index(corpus, idx, n_iters=1)
            probe = pq_topk_indexed(spark, q, idx, k=4)
            files = probe.inputFiles()
            assert idx.location is not None
            assert any(idx.location in f for f in files), "index scan missing"
            assert not any(corpus_path in f for f in files), (
                "probe re-reads (re-encodes) the corpus"
            )

    def test_retraction_scrubs_codes(self, spark):
        """THE closing of VERDICT r8 'What's wrong' #1: a takedown
        against the PQ handle leaves the index ≡ one that never held
        the document — probes cannot return it, and its m code rows
        are physically gone."""
        from openaq_data_pipeline_spark.operators.retraction import (
            retract_documents,
        )
        from openaq_data_pipeline_spark.operators.similarity import (
            build_pq_index,
            pq_topk_indexed,
            temp_pq_index,
        )

        e = _fixture(spark)
        q = e.filter("vec_id < 4")
        with temp_pq_index(m=4, ksub=8, dim=8, n_buckets=4) as idx, \
                temp_pq_index(m=4, ksub=8, dim=8, n_buckets=4) as idx_wo:
            build_pq_index(e, idx, n_iters=1)
            victim = 7
            touched = retract_documents(
                spark, idx, [victim], id_col="vec_id"
            )
            assert idx.codes_table in touched
            codes = spark.table(idx.codes_table)
            assert codes.where(F.col("neighbor_id") == victim).count() == 0
            got = pq_topk_indexed(spark, q, idx, k=6)
            assert all(r.neighbor_id != victim for r in got.collect())
            # probe ≡ an index built with the same frozen codebooks
            # whose codes never contained the victim: codebooks are
            # model state (trained pre-takedown), so compare against
            # the retracted index's own books re-applied to e∖victim
            from openaq_data_pipeline_spark.operators.similarity import (
                _index_book_rows,
                pq_encode,
                pq_topk_adc,
            )

            books = _index_book_rows(spark, idx)
            inline = pq_topk_adc(
                q,
                pq_encode(e.where(F.col("vec_id") != victim), books, m=4, dim=8),
                books,
                k=6,
                m=4,
                dim=8,
            )
            assert self._pq_rows(got) == self._pq_rows(inline)

    def test_compaction_covers_codes_table(self, spark):
        from openaq_data_pipeline_spark.operators.similarity import (
            append_pq_index,
            build_pq_index,
            temp_pq_index,
        )
        from openaq_data_pipeline_spark.sources.maintenance import (
            bucketed_tables_of,
            compact_index,
        )

        e = _fixture(spark, 20)
        with temp_pq_index(m=4, ksub=8, dim=8, n_buckets=2) as idx:
            build_pq_index(e, idx, n_iters=1)
            assert [a for a, _ in bucketed_tables_of(spark, idx)] == [
                "codes_table"
            ]
            for b in range(3):
                append_pq_index(
                    spark.createDataFrame(
                        [(100 + 10 * b + i, _vec(i)) for i in range(5)],
                        "vec_id long, embedding array<float>",
                    ),
                    idx,
                )
            before = spark.table(idx.codes_table).count()
            compacted = compact_index(spark, idx, max_files=2)
            assert idx.codes_table in compacted
            assert spark.table(idx.codes_table).count() == before

    def test_ivf_pq_indexed_composition(self, spark):
        from openaq_data_pipeline_spark.operators.similarity import (
            build_ivf_index,
            build_pq_index,
            ivf_pq_topk,
            ivf_pq_topk_indexed,
            pq_encode,
            pq_train_codebooks,
            temp_ivf_index,
            temp_pq_index,
        )

        e = _fixture(spark)
        q = e.filter("vec_id < 3")
        with temp_ivf_index(nprobe=3, n_buckets=4) as iidx, temp_pq_index(
            m=4, ksub=8, dim=8, n_buckets=4
        ) as pidx:
            build_ivf_index(e, iidx, n_cells=8, train_iters=1)
            build_pq_index(e, pidx, n_iters=1)
            got = ivf_pq_topk_indexed(spark, q, iidx, pidx, k=4)
            books = pq_train_codebooks(e, m=4, ksub=8, n_iters=1, dim=8)
            inline = ivf_pq_topk(
                spark, q, iidx, pq_encode(e, books, m=4, dim=8), books,
                k=4, m=4, dim=8,
            )
            assert self._pq_rows(got) == self._pq_rows(inline)


class TestIvfPqFusedLayout:
    """The fused IVFADC layout (r9): codes bucketed BY CELL — probe
    output identical to the two-handle composition, the code scan
    bucket-prunes to the probed cells, appends stay frozen-model,
    and retraction still reaches the cell-bucketed codes."""

    def _pq_rows(self, df):
        return sorted(
            (r.query_id, r.rank, r.neighbor_id, r.adc_fp)
            for r in df.collect()
        )

    def _build(self, spark, e):
        from openaq_data_pipeline_spark.operators.similarity import (
            build_ivf_pq_index,
            temp_ivf_index,
            temp_pq_index,
        )

        iidx = temp_ivf_index(nprobe=3, n_buckets=4)
        pidx = temp_pq_index(m=4, ksub=8, dim=8, n_buckets=4)
        build_ivf_pq_index(e, iidx, pidx, n_cells=8, train_iters=1)
        return iidx, pidx

    def test_equals_two_handle_composition(self, spark):
        from openaq_data_pipeline_spark.operators.similarity import (
            build_ivf_index,
            build_pq_index,
            ivf_pq_topk_cellpruned,
            ivf_pq_topk_indexed,
            temp_ivf_index,
            temp_pq_index,
        )

        e = _fixture(spark)
        q = e.filter("vec_id < 3")
        iidx, pidx = self._build(spark, e)
        with iidx, pidx, temp_ivf_index(
            nprobe=3, n_buckets=4
        ) as iidx2, temp_pq_index(m=4, ksub=8, dim=8, n_buckets=4) as pidx2:
            build_ivf_index(e, iidx2, n_cells=8, train_iters=1)
            build_pq_index(e, pidx2, n_iters=1)
            fused = ivf_pq_topk_cellpruned(spark, q, iidx, pidx, k=4)
            composed = ivf_pq_topk_indexed(spark, q, iidx2, pidx2, k=4)
            assert self._pq_rows(fused) == self._pq_rows(composed)

    def test_probe_scan_bucket_prunes(self, spark):
        from openaq_data_pipeline_spark.operators.similarity import (
            ivf_pq_topk_cellpruned,
        )

        e = _fixture(spark)
        q = e.filter("vec_id < 2")
        iidx, pidx = self._build(spark, e)
        with iidx, pidx:
            probe = ivf_pq_topk_cellpruned(spark, q, iidx, pidx, k=4)
            plan = probe._jdf.queryExecution().executedPlan().toString()
            import re

            m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
            assert m, "codes scan lost bucket pruning"
            assert int(m.group(1)) < int(m.group(2)), m.group(0)
            # and the corpus is not read at probe time
            files = probe.inputFiles()
            assert all(
                (iidx.location in f) or (pidx.location in f) for f in files
            ), files

    def test_append_and_retraction(self, spark):
        from pyspark.sql import functions as F

        from openaq_data_pipeline_spark.operators.retraction import (
            retract_documents,
        )
        from openaq_data_pipeline_spark.operators.similarity import (
            append_ivf_pq_index,
            ivf_pq_topk_cellpruned,
        )

        e1 = _fixture(spark, 30)
        iidx, pidx = self._build(spark, e1)
        with iidx, pidx:
            e2 = spark.createDataFrame(
                [(i, _vec(i)) for i in range(100, 110)],
                "vec_id long, embedding array<float>",
            )
            append_ivf_pq_index(e2, iidx, pidx)
            # a query equal to an appended vector retrieves it
            probe = spark.createDataFrame(
                [(999, _vec(103))], "vec_id long, embedding array<float>"
            )
            hits = ivf_pq_topk_cellpruned(spark, probe, iidx, pidx, k=5)
            assert any(r.neighbor_id == 103 for r in hits.collect())
            # takedown reaches the cell-bucketed codes of BOTH handles
            touched = retract_documents(spark, pidx, [103], id_col="vec_id")
            assert pidx.codes_table in touched
            retract_documents(spark, iidx, [103], id_col="vec_id")
            assert (
                spark.table(pidx.codes_table)
                .where(F.col("neighbor_id") == 103)
                .count()
                == 0
            )
            after = ivf_pq_topk_cellpruned(spark, probe, iidx, pidx, k=5)
            assert all(r.neighbor_id != 103 for r in after.collect())


class TestIvfDriftAndRebuild:
    """Quantizer-drift observability + rebuild-and-swap (r11, VERDICT
    r10 next #5): appends under the FROZEN quantizer are correct by
    design, but distribution shift decays recall invisibly — the
    drift metrics make it visible, and the staged-swap rebuild
    restores the recall floor with probes still bucket-pruned."""

    DIM = 4

    def _clustered(self, spark):
        """Cluster A: 20 vectors around e0/e1 (the build
        distribution). Cluster B (the drift): vectors around e2 whose
        tiny e0/e1 components deterministically SPLIT them across
        both frozen A-cells — the shape where nprobe=1 recall
        collapses until a rebuild gives B its own cell."""
        rows = []
        for i in range(10):
            rows.append((i, [10.0, float(i % 3), 0.0, 0.0]))
            rows.append((10 + i, [float(i % 3), 10.0, 0.0, 0.0]))
        drift = []
        for i in range(10):
            eps = [0.0, 0.0]
            eps[i % 2] = 1.0
            drift.append((100 + i, [eps[0], eps[1], 10.0, 0.0]))
        schema = "vec_id long, embedding array<float>"
        return (
            spark.createDataFrame(rows, schema),
            spark.createDataFrame(drift, schema),
        )

    def _recall(self, spark, got, truth_df, k):
        truth = {
            (r.query_id, r.neighbor_id) for r in truth_df.collect()
        }
        hits = {
            (r.query_id, r.neighbor_id) for r in got.collect()
        } & truth
        return len(hits) / len(truth)

    def test_drift_metrics_fire_and_rebuild_restores_recall(
        self, spark
    ):
        from openaq_data_pipeline_spark.operators.similarity import (
            append_ivf_index,
            brute_force_topk,
            build_ivf_index,
            ivf_drift_summary,
            ivf_topk_indexed,
            rebuild_ivf_index,
            temp_ivf_index,
        )

        base, drift = self._clustered(spark)
        full = base.unionByName(drift)
        q = spark.createDataFrame(
            [(900, [0.0, 0.0, 10.0, 0.0])],
            "vec_id long, embedding array<float>",
        )
        k = 6
        truth = brute_force_topk(full, q, k=k)  # all of cluster B
        with temp_ivf_index(nprobe=1, n_buckets=4) as idx:
            build_ivf_index(base, idx, n_cells=2, train_iters=2)
            before = ivf_drift_summary(spark, idx).collect()[0]
            append_ivf_index(drift, idx)
            after = ivf_drift_summary(spark, idx).collect()[0]
            # the drifted appends FIRE the metric: residual mass
            # appears where there was (near) none
            assert after.mean_residual > before.mean_residual
            # B is ⟂ its A-cell: a third of the cell's mass now sits
            # at cosine-residual ≈ 1, an order of magnitude over the
            # in-distribution build
            assert after.max_cell_residual > 0.2
            assert after.max_cell_residual > 10 * before.max_cell_residual
            # recall collapsed: B split across both frozen cells,
            # nprobe=1 sees only one of them
            got = ivf_topk_indexed(spark, q, idx, k=k)
            assert self._recall(spark, got, truth, k) <= 0.7
            # rebuild-and-swap: retrain on current contents, give the
            # drifted mass its own cells
            rebuild_ivf_index(spark, idx, n_cells=4, train_iters=2)
            got2 = ivf_topk_indexed(spark, q, idx, k=k)
            assert self._recall(spark, got2, truth, k) == 1.0

    def test_rebuilt_equals_fresh_build(self, spark):
        """Determinism oracle: rebuilding an appended index must land
        exactly where building a fresh index over the same contents
        lands (same Lloyd seeds — lowest ids — same assignment), so
        the whole rebuild is reproducible and crash-recovery is just
        re-running it."""
        from openaq_data_pipeline_spark.operators.similarity import (
            append_ivf_index,
            build_ivf_index,
            ivf_topk_indexed,
            rebuild_ivf_index,
            temp_ivf_index,
        )

        base, drift = self._clustered(spark)
        full = base.unionByName(drift)
        q = full.filter("vec_id in (3, 104)")
        with temp_ivf_index(nprobe=2, n_buckets=4) as idx, temp_ivf_index(
            nprobe=2, n_buckets=4
        ) as fresh:
            build_ivf_index(base, idx, n_cells=2, train_iters=2)
            append_ivf_index(drift, idx)
            rebuild_ivf_index(spark, idx, n_cells=4, train_iters=2)
            build_ivf_index(full, fresh, n_cells=4, train_iters=2)
            assert _rows(ivf_topk_indexed(spark, q, idx, k=4)) == _rows(
                ivf_topk_indexed(spark, q, fresh, k=4)
            )

    def test_swap_preserves_bucket_spec_and_no_corpus_read(
        self, spark, tmp_path
    ):
        from openaq_data_pipeline_spark.operators.similarity import (
            append_ivf_index,
            build_ivf_index,
            ivf_topk_indexed,
            rebuild_ivf_index,
            temp_ivf_index,
        )

        base, drift = self._clustered(spark)
        corpus_path = str(tmp_path / "emb")
        base.write.parquet(corpus_path)
        corpus = spark.read.parquet(corpus_path)
        q = spark.createDataFrame(
            [(900, [0.0, 0.0, 10.0, 0.0])],
            "vec_id long, embedding array<float>",
        )
        with temp_ivf_index(nprobe=2, n_buckets=4) as idx:
            build_ivf_index(corpus, idx, n_cells=2, train_iters=2)
            append_ivf_index(drift, idx)
            rebuild_ivf_index(spark, idx, n_cells=4, train_iters=2)
            desc = spark.sql(
                f"DESC FORMATTED {idx.cells_table}"
            ).collect()
            kv = {r.col_name: r.data_type for r in desc}
            assert kv.get("Num Buckets") == "4"
            assert "cell_id" in kv.get("Bucket Columns", "")
            probe = ivf_topk_indexed(spark, q, idx, k=4)
            files = probe.inputFiles()
            assert any(idx.location in f for f in files)
            assert not any(corpus_path in f for f in files), (
                "rebuilt probe re-reads the corpus"
            )

    def test_int8_without_rescore_needs_corpus(self, spark):
        import pytest

        from openaq_data_pipeline_spark.operators.similarity import (
            build_ivf_index,
            rebuild_ivf_index,
            temp_ivf_index,
        )

        base, _ = self._clustered(spark)
        with temp_ivf_index(
            nprobe=2, n_buckets=4, storage="int8"
        ) as idx:
            build_ivf_index(base, idx, n_cells=2, train_iters=1)
            with pytest.raises(ValueError, match="full-precision"):
                rebuild_ivf_index(spark, idx, n_cells=2)
            # the documented escape hatch: pass the vector source
            rebuild_ivf_index(spark, idx, n_cells=2, corpus=base)

    def test_rebuild_refuses_vector_source_gaps(self, spark):
        """ADVICE r11: an int8 rebuild whose vector source is missing
        indexed ids must REFUSE before the staged swap — the inner
        reassignment join would otherwise silently shrink the index
        ('no silent caps')."""
        import pytest

        from openaq_data_pipeline_spark.operators.similarity import (
            build_ivf_index,
            ivf_topk_indexed,
            rebuild_ivf_index,
            temp_ivf_index,
        )

        base, _ = self._clustered(spark)
        partial = base.filter("vec_id < 15")  # drops ids 15..19
        q = base.filter("vec_id = 3")
        with temp_ivf_index(
            nprobe=2, n_buckets=4, storage="int8"
        ) as idx:
            build_ivf_index(base, idx, n_cells=2, train_iters=1)
            with pytest.raises(ValueError, match="missing from the"):
                rebuild_ivf_index(spark, idx, n_cells=2, corpus=partial)
            # the refused rebuild left the index intact and probeable
            assert ivf_topk_indexed(spark, q, idx, k=3).count() == 3


class TestPqDriftAndRebuild:
    def test_code_usage_skew_and_rebuild(self, spark):
        """PQ drift face: codes carry no vectors, so the observable
        is codeword usage — drifted appends pile onto few codewords
        (fill skew rises); rebuild re-trains the codebooks on the
        full corpus and swaps the re-encoded codes in, landing
        exactly where a fresh build lands."""
        from openaq_data_pipeline_spark.operators.similarity import (
            append_pq_index,
            build_pq_index,
            pq_code_usage,
            pq_topk_indexed,
            rebuild_pq_index,
            temp_pq_index,
        )

        e1 = _fixture(spark, 30)
        # drifted appends: one repeated far-away direction — every
        # subvector encodes to the same nearest codeword
        e2 = spark.createDataFrame(
            [(100 + i, [100.0 + (i % 2)] * 8) for i in range(20)],
            "vec_id long, embedding array<float>",
        )
        q = e1.filter("vec_id < 4")
        with temp_pq_index(m=4, ksub=8, dim=8, n_buckets=4) as idx, (
            temp_pq_index(m=4, ksub=8, dim=8, n_buckets=4)
        ) as fresh:
            build_pq_index(e1, idx, n_iters=1)
            before = {
                r.sub_id: r.fill_skew
                for r in pq_code_usage(spark, idx).collect()
            }
            append_pq_index(e2, idx)
            after = {
                r.sub_id: r.fill_skew
                for r in pq_code_usage(spark, idx).collect()
            }
            assert all(after[s] > before[s] for s in before), (
                before, after,
            )
            full = e1.unionByName(e2)
            rebuild_pq_index(full, idx, n_iters=1)
            build_pq_index(full, fresh, n_iters=1)
            got = sorted(
                (r.query_id, r.rank, r.neighbor_id, r.adc_fp)
                for r in pq_topk_indexed(spark, q, idx, k=4).collect()
            )
            want = sorted(
                (r.query_id, r.rank, r.neighbor_id, r.adc_fp)
                for r in pq_topk_indexed(spark, q, fresh, k=4).collect()
            )
            assert got == want
            desc = spark.sql(f"DESC FORMATTED {idx.codes_table}").collect()
            kv = {r.col_name: r.data_type for r in desc}
            assert kv.get("Num Buckets") == "4"


class TestBinaryHamming:
    """r15: 1-bit sign quantization + Hamming top-k — numpy replay
    exactness, sign-safety of the packing, and the broadcast/codegen
    plan shape."""

    def test_packing_matches_numpy(self, spark):
        import numpy as np

        from openaq_data_pipeline_spark.operators.similarity import (
            binary_quantize_embeddings,
        )

        rng = np.random.default_rng(5)
        vecs = (rng.standard_normal((40, 64)) * 0.3).astype(np.float32)
        vecs[0, :] = 0.0  # all-zero vector packs to zero words
        df = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(40)],
            "vec_id long, embedding array<float>",
        )
        rows = {
            r.vec_id: (r.w0, r.w1)
            for r in binary_quantize_embeddings(df, dim=64).collect()
        }
        for i in range(40):
            bits = (vecs[i] > 0).astype(np.int64)
            w0 = int((bits[:32] << np.arange(32)).sum())
            w1 = int((bits[32:] << np.arange(32)).sum())
            assert rows[i] == (w0, w1), i
            assert rows[i][0] >= 0 and rows[i][1] >= 0  # sign-safe
        assert rows[0] == (0, 0)

    def test_topk_matches_numpy(self, spark):
        import numpy as np

        from openaq_data_pipeline_spark.operators.similarity import (
            binary_quantize_embeddings,
            hamming_topk,
        )

        rng = np.random.default_rng(6)
        vecs = (rng.standard_normal((60, 64))).astype(np.float32)
        df = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(60)],
            "vec_id long, embedding array<float>",
        )
        packed = binary_quantize_embeddings(df, dim=64)
        queries = packed.where("vec_id < 3")
        got = {
            (r.query_id, r.rank): (r.neighbor_id, r.hamming)
            for r in hamming_topk(packed, queries, n_words=2, k=4)
            .collect()
        }
        bits = (vecs > 0).astype(np.int8)
        for q in range(3):
            d = np.abs(bits - bits[q]).sum(axis=1)
            order = sorted(
                (int(d[i]), i) for i in range(60) if i != q
            )
            for rank, (dist, nid) in enumerate(order[:4], start=1):
                assert got[(q, rank)] == (nid, dist), (q, rank)

    def test_plan_shape(self, spark):
        from openaq_data_pipeline_spark.operators.similarity import (
            binary_quantize_embeddings,
            hamming_topk,
        )

        df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        packed = binary_quantize_embeddings(df, dim=64)
        out = hamming_topk(
            packed, packed.where("vec_id % 25 = 0"), n_words=2
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
        assert "Python" not in plan and "ArrowEval" not in plan


class TestIvfDriftOracle:
    """ivf_drift_metrics against DuckDB: build the frozen 8-cell IVF
    quantizer on the embeddings table, append a drifted batch (every
    vector negated, guaranteed out of distribution) and report
    per-cell fill and mean cosine residual in integer fixed point.
    The oracle replays training, frozen assignment of base and
    drifted vectors, and the fixed-point residual mean in one
    statement."""

    @staticmethod
    def _oracle() -> str:
        from openaq_data_pipeline_spark.catalog import exact_ratio_duck
        from openaq_data_pipeline_spark.queries_ext import (
            _ivf_trained_cents_duck,
        )

        cos = (
            "list_dot_product(a.v, c.c_vec) / "
            "(sqrt(list_dot_product(a.v, a.v)) * "
            "sqrt(list_dot_product(c.c_vec, c.c_vec)))"
        )
        return f"""
WITH {_ivf_trained_cents_duck(8, 1, 64)},
cents AS (SELECT cell_id, c_vec FROM cents1),
allvec AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    UNION ALL
    SELECT vec_id + 1000000,
           list_transform(embedding::DOUBLE[], x -> -x)
    FROM embeddings
),
assign AS (
    SELECT a.vec_id, c.cell_id,
           ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY round({cos}, 6) DESC, c.cell_id ASC
           ) AS rn
    FROM allvec a CROSS JOIN cents c
),
res AS (
    SELECT s.cell_id,
           GREATEST(0, CAST(round((1 - ({cos})) * 1000000, 0) AS BIGINT))
               AS res_fp
    FROM (SELECT vec_id, cell_id FROM assign WHERE rn = 1) s
    JOIN allvec a USING (vec_id)
    JOIN cents c USING (cell_id)
)
SELECT cell_id,
       CAST(count(*) AS BIGINT) AS n_vecs,
       {exact_ratio_duck('sum(res_fp)', 'count(*) * 1000000', 6)}
           AS mean_cos_residual
FROM res
GROUP BY cell_id
ORDER BY cell_id
"""

    def test_negated_batch_matches_duckdb(self, spark):
        from openaq_data_pipeline_spark.catalog import load
        from openaq_data_pipeline_spark.operators.similarity import (
            ivf_drift_metrics,
        )
        from oracle_harness import SF_DIR, compare, run_oracle

        e = load(spark, SF_DIR, "embeddings")["embeddings"]
        drift = e.select(
            (F.col("vec_id") + 1000000).alias("vec_id"),
            F.transform(F.col("embedding"), lambda x: -x).alias("embedding"),
        )
        with temp_ivf_index(n_buckets=8) as idx:
            build_ivf_index(e, idx, n_cells=8, train_iters=1)
            append_ivf_index(drift, idx)
            out = (
                ivf_drift_metrics(spark, idx)
                .orderBy("cell_id")
                .localCheckpoint(eager=True)
            )
        problems = compare(out, run_oracle(self._oracle(), SF_DIR))
        assert not problems, problems
