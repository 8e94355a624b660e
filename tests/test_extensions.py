"""Quality/behavior tests for the extension operators beyond hash
parity: does LSH actually retrieve true neighbors, does MinHash
banding find the planted near-duplicates, does the multimodal UDF
plumbing hold its schema contract."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


class TestDedup:
    def test_minhash_lsh_finds_planted_near_dups(self, spark):
        from near_dups import minhash_lsh_pairs

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        pairs = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(docs).collect()}
        # every mutated copy (id+100000) should band-collide with its
        # original: ~90% shingle overlap → P[2-row band match] ≈ 1
        planted = {
            (r.doc_id, r.doc_id + 100000)
            for r in docs.filter(
                (F.col("doc_id") % 5 == 0)
                & (F.size(F.split("text", " ")) >= 8)
            ).collect()
        }
        found = planted & pairs
        assert len(found) / len(planted) >= 0.9

    def test_ngram_jaccard_scores_planted_pairs_high(self, spark):
        from near_dups import jaccard_pairs

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        rows = jaccard_pairs(docs)[1].collect()
        planted = [r for r in rows if r.id_b == r.id_a + 100000]
        assert planted, "no planted pair passed the 0.5 threshold"
        assert all(r.jaccard >= 0.5 for r in rows)

    def test_jaccard_stop_shingle_guard(self, spark):
        """A boilerplate shingle shared by every document must not
        pair the whole corpus: with max_doc_freq below the corpus
        size, the hot shingle leaves the universe (sizes AND
        intersections) while genuinely similar pairs survive."""
        from openaq_data_pipeline_spark.operators.dedup import jaccard_pairs, shingles

        rows = [(i, f"common boiler plate unique{i} word{i} extra{i}") for i in range(20)]
        rows += [(100, "alpha beta gamma delta"), (101, "alpha beta gamma delta")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        sh = shingles(df, "text", "doc_id", n=3)
        uncapped = jaccard_pairs(sh, "doc_id")
        capped = jaccard_pairs(sh, "doc_id", max_doc_freq=5)
        # "common boiler plate" (df=20) pairs all 20 docs uncapped...
        assert uncapped.filter("id_a < 100").count() == 190
        # ...and none capped; the true duplicate pair survives intact
        assert capped.filter("id_a < 100").count() == 0
        dup = capped.filter("id_a = 100").collect()
        assert len(dup) == 1 and dup[0].jaccard == 1.0

    def test_exact_dedup_collapses_doubled_corpus(self, spark):
        from openaq_data_pipeline_spark.operators.text import fingerprint

        d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        corpus = d.select("doc_id", "text").unionByName(
            d.select((F.col("doc_id") + 200000).alias("doc_id"), "text")
        )
        out = (
            corpus.select("doc_id", fingerprint(F.col("text")).alias("fingerprint"))
            .groupBy("fingerprint")
            .agg(
                F.min("doc_id").cast("long").alias("doc_id"),
                F.count("*").cast("long").alias("n_copies"),
            )
        )
        docs_n = d.count()
        assert out.count() == docs_n  # one survivor per original
        assert out.filter("n_copies <> 2").count() == 0
        assert out.filter("doc_id >= 200000").count() == 0  # min-id wins

    def test_containment_catches_excerpt_jaccard_misses(self, spark):
        """An excerpt fully contained in a long article scores
        containment 1.0 but a tiny Jaccard — the embedded-copy class
        a symmetric threshold can never see. Both metrics share one
        posting-list core, so sizes/intersections agree exactly."""
        from openaq_data_pipeline_spark.operators.dedup import (
            containment_pairs,
            jaccard_pairs,
            shingles,
        )

        article = " ".join(f"word{i}" for i in range(100))
        excerpt = " ".join(f"word{i}" for i in range(10, 20))
        df = spark.createDataFrame(
            [(1, article), (2, excerpt), (3, "unrelated totally different text here")],
            "doc_id long, text string",
        )
        sh = shingles(df, "text", "doc_id", n=3, distinct=False)
        cont = {(r.id_a, r.id_b): r for r in containment_pairs(sh, "doc_id").collect()}
        jac = {(r.id_a, r.id_b): r for r in jaccard_pairs(sh, "doc_id").collect()}
        pair = cont[(1, 2)]
        assert float(pair.containment) == 1.0  # excerpt ⊂ article
        assert pair.n_common == 8 and pair.n_b == 8 and pair.n_a == 98
        assert float(jac[(1, 2)].jaccard) < 0.1  # symmetric metric blind
        assert (1, 3) not in cont and (2, 3) not in cont

    @staticmethod
    def _py_simhash64(text: str) -> tuple[int, int, int, int]:
        """Pure-Python reference for operators/dedup.simhash64."""
        import hashlib
        import re

        toks = [t for t in re.sub(r"\s+", " ", text.lower()).strip().split(" ") if t]
        sums = [0] * 64
        for tok in toks:
            h = hashlib.md5(tok.encode()).hexdigest()
            for j in range(32):
                v = int(h[j], 16)
                sums[j] += 1 if v & 8 else -1
                sums[32 + j] += 1 if v & 4 else -1
        return tuple(
            sum((1 << j) for j in range(16) if sums[16 * k + j] >= 0)
            for k in range(4)
        )

    def test_simhash64_banded_finds_perturbed_pair_hamming0_misses(self, spark):
        """The r3 verdict's acceptance test for the 64-bit upgrade: a
        1-3-bit-perturbed near-dup pair that exact-fingerprint
        (Hamming-0) bucketing can NEVER pair must be found by the
        banded Hamming≤3 search, at the exact distance the Python
        reference predicts."""
        from openaq_data_pipeline_spark.operators.dedup import (
            simhash64,
            simhash_near_dup_pairs,
        )

        base = " ".join(f"w{i}" for i in range(97))
        base_fp = self._py_simhash64(base)
        chosen = None
        for i in range(500):
            cand = base + f" zz{i}"
            fp = self._py_simhash64(cand)
            ham = sum(bin(a ^ b).count("1") for a, b in zip(base_fp, fp))
            if 1 <= ham <= 3:
                chosen = (cand, ham)
                break
        assert chosen, "no 1-3-bit perturbation found in 500 tries"
        docs = [
            (0, base),
            (1, chosen[0]),
            (2, "totally unrelated content about other things entirely"),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        fp = simhash64(df, "text", "doc_id")
        got = {r.doc_id: (r.b0, r.b1, r.b2, r.b3) for r in fp.collect()}
        # Spark fingerprints match the Python reference bit-for-bit
        assert got[0] == base_fp
        assert got[1] == self._py_simhash64(chosen[0])
        # the perturbed pair has distinct fingerprints → Hamming-0
        # (exact-bucket) grouping can never pair them...
        assert got[0] != got[1]
        # ...but the banded search finds them at the exact distance
        pairs = {
            (r.id_a, r.id_b): r.hamming
            for r in simhash_near_dup_pairs(fp, "doc_id").collect()
        }
        assert pairs.get((0, 1)) == chosen[1]
        # and the unrelated doc pairs with nobody
        assert not any(2 in p for p in pairs)

    def test_degenerate_bucket_cap_drops_mass_duplicate_class(self, spark):
        """VERDICT r3 #2: a mass exact-duplicate class (ubiquitous
        boilerplate) lands its whole membership in ONE band bucket of
        every band; uncapped, the per-bucket pair array is O(m²) in a
        single row — an OOM, not a spill. With the default cap the
        degenerate bucket is dropped (pair arrays stay bounded), the
        job completes, genuinely-similar non-degenerate pairs are
        still found, and exact_dedup upstream collapses the class so
        nothing is lost in the composed pipeline."""
        from openaq_data_pipeline_spark.operators.dedup import (
            exact_dedup,
            lsh_candidate_pairs,
            minhash_signatures,
            shingles,
            simhash64,
            simhash_near_dup_pairs,
        )

        n = 5000
        boiler = "mass duplicated boiler plate body of web text"
        rows = [(i, boiler) for i in range(n)]
        rows += [
            (900001, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (900002, "alpha beta gamma delta epsilon zeta eta theta iota kappa mu"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")

        # MinHash banding: 5000 identical signatures → every band
        # bucket holds the whole class (> 2048) → dropped; the
        # planted near-dup pair (91% shingle overlap) still collides
        sh = shingles(df, "text", "doc_id", n=3, distinct=False)
        sig = minhash_signatures(sh, "doc_id", num_hashes=8)
        pairs = lsh_candidate_pairs(sig, "doc_id", num_hashes=8, band_size=2)
        got = {(r.id_a, r.id_b) for r in pairs.collect()}
        assert (900001, 900002) in got
        assert not any(a < n for a, _ in got)

        # SimHash banding: identical fingerprints → same drop
        fp = simhash64(df, "text", "doc_id")
        sp = simhash_near_dup_pairs(fp, "doc_id")
        assert not any(
            r.id_a < n for r in sp.collect()
        ), "degenerate simhash bucket leaked pairs past the cap"

        # the composed pipeline loses nothing: exact dedup collapses
        # the class to one survivor, which re-enters banding far
        # below the cap
        survivors = exact_dedup(df, "text", "doc_id")
        assert survivors.filter(F.col("doc_id") < n).count() == 1
        sig2 = minhash_signatures(
            shingles(survivors, "text", "doc_id", n=3, distinct=False),
            "doc_id",
            num_hashes=8,
        )
        pairs2 = lsh_candidate_pairs(sig2, "doc_id", num_hashes=8, band_size=2)
        got2 = {(r.id_a, r.id_b) for r in pairs2.collect()}
        assert (900001, 900002) in got2

    def test_dropped_bucket_metric_surfaces_capped_classes(self, spark):
        """VERDICT r4 #4: the bucket cap drops whole buckets — silent
        under-dedup when exact_dedup was skipped upstream. The
        companion metrics must report EXACTLY what the pair
        generators drop under the same cap, and be empty when
        nothing exceeds it (or the cap is off)."""
        from openaq_data_pipeline_spark.operators.dedup import (
            lsh_candidate_pairs,
            lsh_dropped_buckets,
            minhash_signatures,
            shingles,
            simhash64,
            simhash_dropped_buckets,
            simhash_near_dup_pairs,
        )

        boiler = "mass duplicated boiler plate body of web text"
        rows = [(i, boiler) for i in range(5)]
        rows += [
            (900001, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (900002, "alpha beta gamma delta epsilon zeta eta theta iota kappa mu"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")

        sig = minhash_signatures(
            shingles(df, "text", "doc_id", n=3, distinct=False), "doc_id"
        )
        # cap=3: the 5-member identical class exceeds it in all 4
        # bands; the planted pair's buckets (size 2) are unaffected
        dropped = lsh_dropped_buckets(sig, "doc_id", max_bucket=3).collect()
        assert len(dropped) == 4
        assert all(r.n_members == 5 for r in dropped)
        pairs = {
            (r.id_a, r.id_b)
            for r in lsh_candidate_pairs(sig, "doc_id", max_bucket=3).collect()
        }
        assert (900001, 900002) in pairs
        assert not any(a < 5 for a, _ in pairs)
        # default cap: nothing dropped, metric is empty
        assert lsh_dropped_buckets(sig, "doc_id").count() == 0
        # cap off: metric is empty by contract
        assert lsh_dropped_buckets(sig, "doc_id", max_bucket=None).count() == 0

        fp = simhash64(df, "text", "doc_id")
        sdropped = simhash_dropped_buckets(fp, "doc_id", max_bucket=3).collect()
        assert len(sdropped) == 4
        assert all(r.n_members == 5 for r in sdropped)
        spairs = simhash_near_dup_pairs(fp, "doc_id", max_bucket=3)
        assert not any(r.id_a < 5 for r in spairs.collect())
        assert simhash_dropped_buckets(fp, "doc_id").count() == 0
        assert simhash_dropped_buckets(fp, "doc_id", max_bucket=None).count() == 0


class TestConnectedComponents:
    def test_chain_star_and_isolated_pair(self, spark):
        """Chain 1-2-3-4 collapses to component 1 even though 1 and 4
        never share an edge; star 10-(11,12,13) to 10; the isolated
        pair keeps its own min."""
        from openaq_data_pipeline_spark.operators.dedup import connected_components

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (13, 10), (20, 21)],
            "id_a long, id_b long",
        )
        out = {r.node: r.component_id for r in connected_components(pairs).collect()}
        assert out == {
            1: 1, 2: 1, 3: 1, 4: 1,
            10: 10, 11: 10, 12: 10, 13: 10,
            20: 20, 21: 20,
        }

    def test_keep_one_per_cluster(self, spark):
        """Survivors = component representatives + untouched
        singletons; cluster_size rides along (1 for singletons)."""
        from openaq_data_pipeline_spark.operators.dedup import (
            connected_components,
            keep_one_per_cluster,
        )

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
        )
        corpus = spark.createDataFrame(
            [(i,) for i in (1, 2, 3, 10, 11, 99)], "doc_id long"
        )
        comp = connected_components(pairs)
        out = {
            r.doc_id: r.cluster_size
            for r in keep_one_per_cluster(corpus, comp).collect()
        }
        assert out == {1: 3, 10: 2, 99: 1}

    def test_keep_best_per_cluster(self, spark):
        """Keep-best picks the highest-score member (ties → lowest
        id) — a DIFFERENT survivor than keep_one's min-id whenever
        the best doc isn't the lowest id; singletons pass through."""
        from openaq_data_pipeline_spark.operators.dedup import (
            connected_components,
            keep_best_per_cluster,
            keep_one_per_cluster,
        )

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
        )
        # doc 3 is the longest of cluster {1,2,3}; 10 and 11 tie
        scores = spark.createDataFrame(
            [(1, 5), (2, 7), (3, 9), (10, 4), (11, 4), (99, 2)],
            "doc_id long, score long",
        )
        comp = connected_components(pairs)
        best = {
            r.doc_id: r.cluster_size
            for r in keep_best_per_cluster(scores, comp).collect()
        }
        assert best == {3: 3, 10: 2, 99: 1}  # argmax, tie → low id
        one = {
            r.doc_id: r.cluster_size
            for r in keep_one_per_cluster(
                scores.select("doc_id"), comp
            ).collect()
        }
        assert one == {1: 3, 10: 2, 99: 1}  # policies observably differ

    def test_keep_best_fails_loudly_on_unscored_member(self, spark):
        """ADVICE r4: a cluster member missing from corpus_scores is
        a contract violation — the job must fail with a message
        naming the member, never silently shrink or drop the
        cluster."""
        import pytest as _pytest

        from openaq_data_pipeline_spark.operators.dedup import (
            connected_components,
            keep_best_per_cluster,
        )

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
        )
        comp = connected_components(pairs)
        partial = spark.createDataFrame(
            [(1, 5), (2, 7), (10, 4), (11, 4)], "doc_id long, score long"
        )  # member 3 unscored
        with _pytest.raises(Exception, match="missing from\\s+corpus_scores: 3"):
            keep_best_per_cluster(partial, comp).collect()

    def test_long_chain_exceeding_iters_falls_back_to_star(self, spark):
        """VERDICT r6 next #5: a 40-link chain cannot converge in 3
        propagation rounds — the merge loop must NOT have a
        RuntimeError cliff. Budget exhaustion now falls back to the
        provably-convergent alternating large-star/small-star
        contraction and still returns EXACT labels.
        ``local_contraction=False`` forces the pure iterative path
        (the default's partition-local union-find would solve the
        whole chain exactly in one task and never iterate)."""
        from openaq_data_pipeline_spark.operators.dedup import connected_components

        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(40)], "id_a long, id_b long"
        )
        out = connected_components(pairs, max_iters=3, local_contraction=False)
        got = {(r.node, r.component_id) for r in out.collect()}
        assert got == {(i, 0) for i in range(41)}
        # and converges withOUT the fallback given enough rounds
        out = connected_components(pairs, max_iters=41, local_contraction=False)
        assert {r.component_id for r in out.collect()} == {0}
        # the default local-contraction path solves the same chain
        # exactly with NO propagation rounds at all
        fast = connected_components(pairs, max_iters=1)
        assert {r.component_id for r in fast.collect()} == {0}

    def test_star_algorithm_direct_on_mixed_graph(self, spark):
        """connected_components_star as a first-class operator: chain
        + triangle + singleton-pair, exact min-id labels."""
        from openaq_data_pipeline_spark.operators.dedup import (
            connected_components_star,
        )

        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(60)]  # 61-node chain
            + [(100, 101), (101, 102), (100, 102)]  # triangle
            + [(200, 201)],
            "id_a long, id_b long",
        )
        got = {
            (r.node, r.component_id)
            for r in connected_components_star(pairs).collect()
        }
        expect = (
            {(i, 0) for i in range(61)}
            | {(100, 100), (101, 100), (102, 100)}
            | {(200, 200), (201, 200)}
        )
        assert got == expect

    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=30),
                st.integers(min_value=0, max_value=30),
            ),
            min_size=1,
            max_size=40,
        )
    )
    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_star_matches_union_find_reference(self, spark, edges):
        """Property: star labels == a Python union-find's min-id
        labels on arbitrary small multigraphs (self-loops and
        duplicate edges included — both must be tolerated)."""
        from openaq_data_pipeline_spark.operators.dedup import (
            connected_components_star,
        )

        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            (r.node, r.component_id)
            for r in connected_components_star(pairs).collect()
        }
        # reference union-find over non-self-loop edges
        parentm: dict = {}

        def find(x):
            parentm.setdefault(x, x)
            while parentm[x] != x:
                parentm[x] = parentm[parentm[x]]
                x = parentm[x]
            return x

        nodes = set()
        for a, b in edges:
            if a != b:
                nodes.update((a, b))
                ra, rb = find(a), find(b)
                if ra != rb:
                    parentm[max(ra, rb)] = min(ra, rb)
        comp_min: dict = {}
        for n in nodes:
            r = find(n)
            comp_min[r] = min(comp_min.get(r, n), n)
        expect = {(n, comp_min[find(n)]) for n in nodes}
        assert got == expect

    def test_local_contraction_fast_path_stays_on_callers_session(self, spark):
        """A graph below the edges-per-partition budget is solved by
        the single-task union-find: the returned labels live on the
        CALLER's session (no clone, no conf mutation) and still match
        the iterative path exactly."""
        from openaq_data_pipeline_spark.operators.dedup import connected_components

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (13, 10), (20, 21)],
            "id_a long, id_b long",
        )
        key = "spark.sql.shuffle.partitions"
        orig = spark.conf.get(key)
        fast = connected_components(pairs)
        assert fast.sparkSession is spark
        assert spark.conf.get(key) == orig
        slow = connected_components(pairs, local_contraction=False)
        assert {(r.node, r.component_id) for r in fast.collect()} == {
            (r.node, r.component_id) for r in slow.collect()
        }

    def test_iterative_merge_seeded_by_local_contraction(self, spark):
        """Force the multi-partition merge path (edges-per-partition
        budget shrunk so the chain CROSSES partition boundaries):
        union-find seeds + min-label merge must still produce exact
        min-id labels."""
        import openaq_data_pipeline_spark.operators.dedup as dd

        old = dd.CC_EDGES_PER_PARTITION
        dd.CC_EDGES_PER_PARTITION = 4
        try:
            pairs = spark.createDataFrame(
                [(i, i + 1) for i in range(30)] + [(100, 101)],
                "id_a long, id_b long",
            )
            out = {
                (r.node, r.component_id)
                for r in dd.connected_components(pairs).collect()
            }
            expect = {(i, 0) for i in range(31)} | {(100, 100), (101, 100)}
            assert out == expect
        finally:
            dd.CC_EDGES_PER_PARTITION = old


class TestSimilarity:
    def test_lsh_recall_vs_brute_force(self, spark, embeddings):
        from openaq_data_pipeline_spark.operators.similarity import (
            brute_force_topk,
            lsh_topk,
        )

        queries = embeddings.filter("vec_id < 10")
        exact = {
            (r.query_id, r.neighbor_id)
            for r in brute_force_topk(embeddings, queries, k=5).collect()
        }
        approx = {
            (r.query_id, r.neighbor_id)
            for r in lsh_topk(embeddings, queries, dim=64, k=5).collect()
        }
        recall = len(exact & approx) / len(exact)
        # corpus-derived (b, L) targets >=0.9 recall at cosine 0.40;
        # top-k neighbors sit well above that similarity, so the
        # effective recall should clear a comfortable floor
        assert recall >= 0.7, f"LSH recall collapsed: {recall}"

    def test_lsh_topk_rejects_partial_override(self, spark, embeddings):
        import pytest as _pytest

        from openaq_data_pipeline_spark.operators.similarity import (
            lsh_near_dup_pairs,
            lsh_topk,
        )

        queries = embeddings.filter("vec_id < 2")
        with _pytest.raises(ValueError, match="BOTH n_planes and n_tables"):
            lsh_topk(embeddings, queries, dim=64, k=5, n_planes=4)
        with _pytest.raises(ValueError, match="BOTH n_planes and n_tables"):
            lsh_near_dup_pairs(embeddings, threshold=0.4, dim=64, n_tables=8)

    def test_ivf_recall_and_cell_coverage(self, spark, embeddings):
        from openaq_data_pipeline_spark.operators.similarity import (
            brute_force_topk,
            ivf_assign,
            ivf_topk,
        )
        from pyspark.sql import functions as F

        queries = embeddings.filter("vec_id < 10")
        exact = {
            (r.query_id, r.neighbor_id)
            for r in brute_force_topk(embeddings, queries, k=5).collect()
        }
        approx = {
            (r.query_id, r.neighbor_id)
            for r in ivf_topk(embeddings, queries, n_cells=16, nprobe=4, k=5).collect()
        }
        recall = len(exact & approx) / len(exact)
        # nprobe=4 of 16 cells scans ~25% of the corpus; near-dups
        # cluster into the same cells so recall must beat that by far
        assert recall >= 0.5, f"IVF recall collapsed: {recall}"

        cent_rows = sorted(
            (int(r[0]), list(r[1]))
            for r in embeddings.filter("vec_id < 16")
            .select("vec_id", "embedding")
            .collect()
        )
        assign = ivf_assign(embeddings, cent_rows)
        # total partition: every vector lands in exactly one cell
        assert assign.count() == embeddings.count()
        assert assign.filter(F.col("cell_id").isNull()).count() == 0
        cells = {r.cell_id for r in assign.select("cell_id").distinct().collect()}
        assert cells <= set(range(16))
        # each centroid is its own nearest cell (cosine(c,c)=1)
        self_rows = assign.filter("vec_id < 16").collect()
        assert all(r.cell_id == r.vec_id for r in self_rows)

    def test_ivf_train_exact_means_and_empty_cell_retention(self, spark):
        """The Lloyd update must produce the EXACT quantized mean a
        Python reference computes (integer sums, one IEEE division),
        and a cell that attracts no members must keep its previous
        centroid instead of vanishing."""
        from openaq_data_pipeline_spark.operators.similarity import (
            IVF_Q_SCALE,
            ivf_train_centroids,
        )

        # two tight clusters far apart; cell seeds = vec_id 0 and 1.
        # vec 1 (near cluster A) loses all members to cell 0 in iter
        # 1 if cluster A is closer to vec 0 — construct so cell 1
        # keeps nothing: every vector is most similar to vec 0's
        # direction.
        rows = [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),  # seed of cell 1, but closer to e0
            (2, [1.0, 0.05, 0.0]),
            (3, [0.95, 0.0, 0.05]),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        cents = dict(ivf_train_centroids(df, n_cells=1, n_iters=1, round_dp=6))
        # single cell: mean of ALL vectors, exactly quantized

        def qmean(vals):
            s = sum(round(v * IVF_Q_SCALE) for v in vals)
            return float(s) / (float(len(vals)) * float(IVF_Q_SCALE))

        expect = [qmean([r[1][d] for r in rows]) for d in range(3)]
        assert cents[0] == expect
        # two cells: cell 1's seed is itself nearer cell 0's seed? —
        # assignment ties/argmax decide; whatever the split, every
        # returned centroid must be finite and cells preserved
        cents2 = dict(ivf_train_centroids(df, n_cells=2, n_iters=2, round_dp=6))
        assert set(cents2) == {0, 1}
        # empty-cell retention: a far-away lonely seed with no members
        rows2 = rows + [(9, [-1.0, 0.0, 0.0])]
        df2 = spark.createDataFrame(rows2, "vec_id long, embedding array<double>")
        # cells seeded by vec 0 and 1; vector 9 is its own cluster but
        # seeds are 0/1 — after training, both cells still exist
        cents3 = dict(ivf_train_centroids(df2, n_cells=2, n_iters=1, round_dp=6))
        assert set(cents3) == {0, 1}

    def test_ivf_init_survives_sparse_offset_ids(self, spark, embeddings):
        """VERDICT r4 #2: centroid init must not assume dense 0-based
        ids — a corpus whose ids start at 10,000 (or got sparse after
        an upstream dedup) still seeds exactly n_cells cells from its
        n_cells LOWEST ids, and search results are id-shift-invariant."""
        from pyspark.sql import functions as F

        from openaq_data_pipeline_spark.operators.similarity import (
            ivf_topk,
            ivf_train_centroids,
        )

        OFF = 10_000
        shifted = embeddings.select(
            (F.col("vec_id") + OFF).alias("vec_id"), "embedding"
        )
        cents = ivf_train_centroids(shifted, n_cells=16, n_iters=1)
        assert len(cents) == 16
        assert [cid for cid, _ in cents] == sorted(cid for cid, _ in cents)
        assert min(cid for cid, _ in cents) >= OFF

        base = {
            (r.query_id, r.rank, r.neighbor_id, r.cosine_sim)
            for r in ivf_topk(
                embeddings, embeddings.filter("vec_id < 10"),
                n_cells=16, nprobe=4, k=5, train_iters=1,
            ).collect()
        }
        moved = {
            (r.query_id - OFF, r.rank, r.neighbor_id - OFF, r.cosine_sim)
            for r in ivf_topk(
                shifted, shifted.filter(f"vec_id < {OFF + 10}"),
                n_cells=16, nprobe=4, k=5, train_iters=1,
            ).collect()
        }
        assert base == moved

    def test_brute_force_ranks_are_dense_and_deterministic(self, spark, embeddings):
        from openaq_data_pipeline_spark.operators.similarity import brute_force_topk

        out = brute_force_topk(embeddings, embeddings.filter("vec_id < 3"), k=5)
        rows = out.collect()
        by_q = {}
        for r in rows:
            by_q.setdefault(r.query_id, []).append(r.rank)
        assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_q.values())
        # deterministic across runs
        again = {(r.query_id, r.rank, r.neighbor_id) for r in out.collect()}
        assert again == {(r.query_id, r.rank, r.neighbor_id) for r in rows}


class TestMultimodal:
    def test_feature_extraction_schema_and_determinism(self, spark):
        from openaq_data_pipeline_spark.operators.multimodal import extract_features

        media = spark.createDataFrame(
            [(1, b"hello world"), (2, b""), (3, None), (4, b"\x89PNG\r\n")],
            "media_id long, content binary",
        )
        out = extract_features(media, decode="fake").collect()
        rows = {r.media_id: r for r in out}
        assert rows[1].n_bytes == 11
        assert rows[1].header_hex == "68656c6c"
        assert rows[4].header_hex == "89504e47"  # PNG magic
        assert rows[2].n_bytes == 0 and rows[2].mean_byte is None
        assert rows[3].n_bytes == 0
        assert len(rows[1].feature) == 8
        assert abs(sum(rows[1].feature) - 1.0) < 1e-6  # histogram normalized

    def test_real_decode_bmp_and_ppm(self, spark):
        """Pure-NumPy codec: encode→decode round trip is pixel-exact
        for BMP (with row padding: w=5 → stride 16) and P6 PPM
        (comment in header)."""
        import numpy as np

        from openaq_data_pipeline_spark.operators.multimodal import (
            decode_bmp24,
            decode_ppm,
            encode_bmp24,
            extract_features,
        )

        rng_free = np.arange(5 * 3 * 3, dtype=np.uint8).reshape(3, 5, 3)
        assert (decode_bmp24(encode_bmp24(rng_free)) == rng_free).all()

        ppm = b"P6\n# a comment\n2 2\n255\n" + bytes(range(12))
        assert (
            decode_ppm(ppm) == np.arange(12, dtype=np.uint8).reshape(2, 2, 3)
        ).all()

        media = spark.createDataFrame(
            [(7, bytearray(encode_bmp24(rng_free))), (8, bytearray(ppm))],
            "media_id long, content binary",
        )
        rows = {
            r.media_id: r
            for r in extract_features(media, decode="real").collect()
        }
        assert rows[7].width == 5 and rows[7].height == 3
        assert rows[7].px_sum == int(rng_free.sum())
        assert rows[8].width == 2 and rows[8].height == 2
        assert rows[8].px_sum == sum(range(12))
        assert len(rows[7].feature) == 3  # per-channel means

    def test_real_decode_top_down_bmp(self, spark):
        """Negative biHeight = top-down row order; decoder must not
        flip it."""
        import struct

        import numpy as np

        from openaq_data_pipeline_spark.operators.multimodal import (
            decode_bmp24,
            encode_bmp24,
        )

        img = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
        bottom_up = bytearray(encode_bmp24(img))
        # rewrite height to -4 and re-order rows top-down
        struct.pack_into("<i", bottom_up, 22, -4)
        stride = 4 * 3  # w=4 → no padding
        rows = bytes(bottom_up[54:])
        flipped = b"".join(
            rows[i * stride : (i + 1) * stride] for i in range(3, -1, -1)
        )
        assert (decode_bmp24(bytes(bottom_up[:54]) + flipped) == img).all()

    def test_png_round_trip_all_filters(self):
        """VERDICT r4 #6: encode→decode is identity for every PNG
        scanline filter (None/Sub/Up/Average/Paeth) on images whose
        pixels exercise predictor wrap-around (mod-256 boundaries)."""
        import numpy as np

        from openaq_data_pipeline_spark.operators.multimodal import (
            decode_png,
            encode_png,
        )

        y, x, c = np.meshgrid(
            np.arange(7), np.arange(5), np.arange(3), indexing="ij"
        )
        img = ((13 * y * y + 91 * x + 201 * c + 250) % 256).astype(np.uint8)
        for f in range(5):
            blob = encode_png(img, filter_type=f)
            assert blob[:8] == b"\x89PNG\r\n\x1a\n"
            out = decode_png(blob)
            assert out.shape == img.shape
            assert (out == img).all(), f"filter {f} round-trip diverged"

    def test_png_rgba_grey_multi_idat_and_rejects(self):
        """RGBA decodes with alpha dropped, greyscale broadcasts to
        RGB, split IDAT chunks reassemble, and corrupt CRCs /
        interlaced images fail loudly."""
        import struct
        import zlib

        import numpy as np
        import pytest as _pytest

        from openaq_data_pipeline_spark.operators.multimodal import (
            _png_chunk,
            decode_png,
        )

        sig = b"\x89PNG\r\n\x1a\n"

        def make(w, h, color, bpp, interlace=0):
            rng_img = (np.arange(h * w * bpp, dtype=np.int64) * 37 % 256).astype(
                np.uint8
            ).reshape(h, w, bpp)
            raw = b"".join(
                b"\x00" + rng_img[yy].tobytes() for yy in range(h)
            )
            ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, interlace)
            return rng_img, ihdr, zlib.compress(raw)

        # RGBA: alpha dropped
        img4, ihdr, z = make(4, 3, 6, 4)
        blob = sig + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"IDAT", z) + _png_chunk(b"IEND", b"")
        assert (decode_png(blob) == img4[:, :, :3]).all()
        # greyscale: broadcast
        img1, ihdr, z = make(4, 3, 0, 1)
        blob = sig + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"IDAT", z) + _png_chunk(b"IEND", b"")
        assert (decode_png(blob) == np.repeat(img1, 3, axis=2)).all()
        # split IDAT: same pixels across two chunks
        img3, ihdr, z = make(4, 3, 2, 3)
        blob = (
            sig
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", z[:7])
            + _png_chunk(b"IDAT", z[7:])
            + _png_chunk(b"IEND", b"")
        )
        assert (decode_png(blob) == img3).all()
        # corrupt CRC
        bad = bytearray(sig + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"IDAT", z))
        bad[-1] ^= 0xFF
        with _pytest.raises(ValueError, match="CRC"):
            decode_png(bytes(bad))
        # interlace flag over NON-interlaced pass layout: the Adam7
        # pass walk (r16) detects the size mismatch rather than
        # decoding garbage
        _, ihdr_i, z = make(4, 3, 2, 3, interlace=1)
        blob = sig + _png_chunk(b"IHDR", ihdr_i) + _png_chunk(b"IDAT", z) + _png_chunk(b"IEND", b"")
        with _pytest.raises(
            ValueError, match="size mismatch|unknown PNG filter"
        ):
            decode_png(blob)

    def test_real_decode_mixed_corpus_png_and_jpeg_rows(self, spark):
        """The mixed synthetic corpus (r6: ids ≡1 mod 4 PNG, ids ≡3
        mod 4 grayscale JPEG, the rest BMP) decodes every row through
        the executor path: PNG rows carry identical pixel stats to
        their BMP twins (same closed-form pixels, different
        container), and JPEG rows match the closed-form constant-
        block formula bit-exactly."""
        import numpy as np

        from openaq_data_pipeline_spark.operators.multimodal import (
            extract_features,
            synthetic_images,
        )

        ids = spark.range(0, 20).select(F.col("id").alias("media_id"))
        both = extract_features(
            synthetic_images(ids, mix_formats=True), decode="real"
        ).collect()
        bmp_only = extract_features(
            synthetic_images(ids, mix_formats=False), decode="real"
        ).collect()
        mixed = {r.media_id: r for r in both}
        plain = {r.media_id: r for r in bmp_only}
        assert set(mixed) == set(plain) == set(range(20))
        for mid in range(20):
            a, b = mixed[mid], plain[mid]
            if mid % 4 == 3:
                # JPEG rows use the constant-per-8x8-block fixture:
                # dims and pixel sum are closed-form in the id
                assert a.header_hex == "ffd8ffe0"
                w, h = 8 * (1 + mid % 3), 8 * (1 + (mid // 4) % 2)
                assert (a.width, a.height) == (w, h)
                by, bx = np.meshgrid(
                    np.arange(h // 8), np.arange(w // 8), indexing="ij"
                )
                v = (mid * 31 + by * 7 + bx * 3) % 256
                assert a.px_sum == int(v.sum()) * 64 * 3
                continue
            assert (a.width, a.height, a.px_sum, a.mean_px) == (
                b.width, b.height, b.px_sum, b.mean_px
            ), f"pixel stats diverge for id {mid}"
            if mid % 4 == 1:
                assert a.header_hex == "89504e47"
                assert np.allclose(a.feature, b.feature)

    def test_gif_round_trip_plain_and_interlaced(self):
        """GIF decode is pixel-exact through the full LZW path
        (variable width growth, dictionary appends, clear/EOI) for
        both row orders; the interlaced container decodes to the
        SAME pixels (the deinterlace pass inverts the encoder's row
        permutation)."""
        import numpy as np

        from openaq_data_pipeline_spark.operators.multimodal import (
            _decode_image,
            decode_gif,
            encode_gif,
            gif_frame_count,
        )

        rng = np.random.default_rng(7)
        pal = rng.integers(0, 256, (13, 3), dtype=np.uint8)
        img = pal[rng.integers(0, 13, (23, 31))]
        for interlace in (False, True):
            blob = encode_gif(img, interlace=interlace)
            assert blob[:6] == b"GIF89a"
            assert (decode_gif(blob) == img).all()
            assert gif_frame_count(blob) == 1
            # the image-plane dispatcher routes by the GIF magic
            assert (_decode_image(blob) == img).all()

    def test_gif_256_colors_and_single_color(self):
        """Full-byte palette (min code size 8, widths 9→12) and the
        degenerate one-color run (long LZW chains) both round-trip."""
        import numpy as np

        from openaq_data_pipeline_spark.operators.multimodal import (
            decode_gif,
            encode_gif,
        )

        rng = np.random.default_rng(11)
        pal = np.array(
            [[i, 255 - i, (i * 7) % 256] for i in range(256)],
            dtype=np.uint8,
        )
        img = pal[rng.integers(0, 256, (40, 50))]
        assert (decode_gif(encode_gif(img)) == img).all()
        flat = np.full((5, 7, 3), 9, dtype=np.uint8)
        assert (decode_gif(encode_gif(flat)) == flat).all()

    def test_gif_transparency_local_table_and_subframe(self):
        """A hand-built 89a stream: logical screen larger than the
        frame, a LOCAL color table differing from the global one,
        and a GCE transparency index — background pixels must color
        through the GLOBAL table, opaque frame pixels through the
        local table, transparent frame pixels keep the background."""
        import struct

        import numpy as np

        from openaq_data_pipeline_spark.operators.multimodal import (
            _gif_lzw_encode,
            decode_gif,
        )

        # global table: bg color red at index 1; local: green/blue
        gct = bytes([0, 0, 0, 255, 0, 0, 9, 9, 9, 7, 7, 7])
        lct = bytes([0, 255, 0, 0, 0, 255, 1, 1, 1, 2, 2, 2])
        # 2x2 frame at (1,1) in a 4x3 screen; index 1 transparent
        frame_idx = [0, 1, 1, 0]
        codes = bytes(_gif_lzw_encode(frame_idx, 2))
        blob = (
            b"GIF89a"
            + struct.pack("<HH", 4, 3)
            + bytes([0x81, 1, 0])  # GCT of 4, bg index 1
            + gct
            + b"\x21\xf9\x04\x01\x00\x00\x01\x00"  # GCE: transp idx 1
            + b"\x2c"
            + struct.pack("<HHHH", 1, 1, 2, 2)
            + bytes([0x81])  # local table of 4
            + lct
            + bytes([2, len(codes)])
            + codes
            + b"\x00\x3b"
        )
        out = decode_gif(blob)
        red, green = [255, 0, 0], [0, 255, 0]
        assert (out[0] == red).all() and (out[:, 0] == red).all()
        assert list(out[1, 1]) == green  # opaque idx 0 → local table
        assert list(out[1, 2]) == red    # transparent → background
        assert list(out[2, 1]) == red
        assert list(out[2, 2]) == green

    def test_gif_rejects_truncated_and_non_gif(self):
        import numpy as np
        import pytest as _pytest

        from openaq_data_pipeline_spark.operators.multimodal import (
            decode_gif,
            encode_gif,
        )

        img = np.zeros((4, 4, 3), dtype=np.uint8)
        img[1:3, 1:3] = 200
        blob = encode_gif(img)
        with _pytest.raises(ValueError, match="not a GIF"):
            decode_gif(b"NOPE" + blob[4:])
        with _pytest.raises(ValueError):
            decode_gif(blob[:20])

    def test_real_decode_rejects_unknown_magic(self, spark):
        from openaq_data_pipeline_spark.operators.multimodal import extract_features

        media = spark.createDataFrame(
            [(1, b"\x89PNG\r\n")], "media_id long, content binary"
        )
        with pytest.raises(Exception, match="unknown image magic"):
            extract_features(media, decode="real").collect()

    def test_frame_sample_plan(self, spark):
        from openaq_data_pipeline_spark.operators.multimodal import frame_sample_plan

        df = spark.createDataFrame(
            [(1, 2500), (2, None)], "media_id long, duration_ms long"
        )
        rows = {r.media_id: r for r in frame_sample_plan(df, 1000).collect()}
        assert rows[1].sample_ts_ms == [0, 1000, 2000]
        assert rows[2].sample_ts_ms is None


class TestTextOps:
    def test_repetition_signals_exact_values(self, spark):
        from openaq_data_pipeline_spark.operators.text import repetition_signals

        df = spark.createDataFrame(
            [
                # bigrams: "a b","b a","a b","b a","a b" → 5 total,
                # top "a b"=3, dup = 3+2 = 5
                (1, "a b a b a b"),
                # all 4 bigrams distinct → top 1/4, dup 0
                (2, "v w x y z"),
                # single word → excluded (< 2 tokens)
                (3, "solo"),
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in repetition_signals(df, "text", "doc_id").collect()}
        assert set(out) == {1, 2}
        assert out[1].n_grams == 5
        assert out[1].frac_top_gram == 0.6
        assert out[1].frac_dup_grams == 1.0
        assert out[2].n_grams == 4
        assert out[2].frac_top_gram == 0.25
        assert out[2].frac_dup_grams == 0.0

    def test_lang_id_deterministic_priority(self, spark):
        from openaq_data_pipeline_spark.operators.text import lang_id

        df = spark.createDataFrame(
            [
                (1, "the cat and the dog"),
                (2, "el que la de los"),
                (3, "zzz qqq www"),
                (4, "the el"),  # tie en/es → fixed priority: en
            ],
            "id long, text string",
        )
        out = {r.id: r.pred for r in df.select("id", lang_id(F.col("text")).alias("pred")).collect()}
        assert out == {1: "en", 2: "es", 3: "und", 4: "en"}

    def test_shingle_fingerprints_stable_under_suffix_edit(self, spark):
        from openaq_data_pipeline_spark.operators.text import shingle_fingerprints

        df = spark.createDataFrame(
            [
                (1, "a b c d e f g h i j"),
                (2, "a b c d e f g h i j extra words here"),
            ],
            "doc_id long, text string",
        )
        fps = {
            r.doc_id: set(r.fingerprints)
            for r in shingle_fingerprints(df, "text", "doc_id", n=3, keep=4).collect()
        }
        # winnowed mins mostly survive a suffix edit
        assert len(fps[1] & fps[2]) >= 2


    def test_quality_scores_match_duckdb(self, spark):
        """Alpha/non-ASCII/stopword ratios and a length-based verdict,
        exact ratios on both engines (stopword_count against its
        DuckDB regexp restatement)."""
        from openaq_data_pipeline_spark.catalog import (
            exact_ratio_duck,
            exact_ratio_spark,
        )
        from openaq_data_pipeline_spark.operators import text as X
        from oracle_harness import compare, run_oracle

        stop_re = "\\b(?:" + "|".join(X.STOPWORDS) + ")\\b"
        n_stop_sql = f"len(regexp_extract_all(lower(text), '{stop_re}'))"
        oracle = f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST({n_stop_sql} AS BIGINT) AS n_stopwords,
       {exact_ratio_duck("len(regexp_extract_all(text, '[A-Za-z]'))", "length(text)")} AS alpha_ratio,
       {exact_ratio_duck("len(regexp_extract_all(text, '[^ -~]'))", "length(text)")} AS nonascii_ratio,
       {exact_ratio_duck(n_stop_sql, "len(string_split(trim(text), ' '))")} AS stopword_ratio,
       CASE WHEN length(text) BETWEEN 50 AND 10000
             AND len(regexp_extract_all(text, '[A-Za-z]')) * 2 > length(text)
            THEN 'keep' ELSE 'flag' END AS verdict
FROM documents
"""
        d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        n_chars = F.length("text").cast("long")
        n_alpha = F.size(F.regexp_extract_all("text", F.lit(r"[A-Za-z]"), 0)).cast("long")
        n_nonascii = F.size(F.regexp_extract_all("text", F.lit(r"[^ -~]"), 0)).cast("long")
        n_stop = X.stopword_count(F.col("text"))
        n_tok = X.token_count(F.col("text"))
        out = d.select(
            "doc_id",
            n_chars.alias("n_chars"),
            n_stop.alias("n_stopwords"),
            exact_ratio_spark(n_alpha, n_chars).alias("alpha_ratio"),
            exact_ratio_spark(n_nonascii, n_chars).alias("nonascii_ratio"),
            exact_ratio_spark(n_stop, n_tok).alias("stopword_ratio"),
            F.when(
                n_chars.between(50, 10000) & (n_alpha * 2 > n_chars), "keep"
            )
            .otherwise("flag")
            .alias("verdict"),
        )
        problems = compare(out, run_oracle(oracle, SF_DIR))
        assert not problems, problems

class TestNeardupParams:
    def test_derivation_monotone_and_clamped(self):
        from openaq_data_pipeline_spark.operators.similarity import (
            neardup_lsh_params,
            neardup_param_table,
        )

        b_thresh, lookup = neardup_param_table()
        # threshold 0.40 / recall 0.90 / 64-table budget → depth 7
        assert b_thresh == 7
        assert set(lookup) == {4, 5, 6, 7}
        assert all(lookup[b] < lookup[b + 1] for b in range(4, 7)), (
            "deeper hashes must demand more tables"
        )
        # occupancy clamp: tiny corpora stay shallow, big hit b_thresh
        bs = [neardup_lsh_params(n)[0] for n in (10, 500, 2000, 10**9)]
        assert bs == sorted(bs) and bs[0] == 4 and bs[-1] == 7
        # known driver-scale values (the oracle CASE ladder mirrors
        # these — changing them silently breaks hash parity)
        assert neardup_lsh_params(500) == (6, lookup[6])
        assert neardup_lsh_params(2000) == (7, lookup[7])

    def test_sign_planes_md5_derivation(self):
        import hashlib

        from openaq_data_pipeline_spark.operators.similarity import _sign_planes

        planes = _sign_planes(dim=4, n_tables=2, n_planes=3, seed=42)
        assert planes.shape == (2, 3, 4)
        for t in (0, 1):
            for j in (0, 2):
                for k in (0, 3):
                    h = hashlib.md5(f"42|{t}|{j}|{k}".encode()).hexdigest()[0]
                    assert planes[t, j, k] == (1.0 if h >= "8" else -1.0)
        # prefix-stability: a bigger tensor embeds the smaller exactly
        big = _sign_planes(dim=4, n_tables=4, n_planes=5, seed=42)
        assert (big[:2, :3, :] == planes).all()


class TestCosinePairMethods:
    def test_matmul_equals_fold(self, spark):
        """The vectorized matmul scorer must agree with the
        pure-Catalyst index-ordered fold at the rounding precision."""
        from openaq_data_pipeline_spark.operators.similarity import (
            cosine_near_dup_pairs,
        )

        e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        fast = cosine_near_dup_pairs(e, 0.3, method="matmul")
        slow = cosine_near_dup_pairs(e, 0.3, method="fold")
        key = lambda r: (r["id_a"], r["id_b"], r["cosine_sim"])  # noqa: E731
        assert sorted(map(key, fast.collect())) == sorted(map(key, slow.collect()))

    def test_lsh_default_subset_of_exact_with_high_recall(self, spark):
        """Default (bucketed) near-dup pairs: precision 1.0 by
        construction (every candidate is exactly re-scored), recall
        bounded below by the multi-table LSH collision probability."""
        from openaq_data_pipeline_spark.operators.similarity import (
            cosine_near_dup_pairs,
        )

        e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        lsh = {
            (r["id_a"], r["id_b"])
            for r in cosine_near_dup_pairs(e, 0.40, dim=64).collect()
        }
        exact = {
            (r["id_a"], r["id_b"])
            for r in cosine_near_dup_pairs(e, 0.40, method="fold").collect()
        }
        assert lsh <= exact, "bucketed path emitted a false positive"
        assert len(lsh) / len(exact) >= 0.85, f"recall {len(lsh)/len(exact)}"

    def test_lsh_requires_dim(self, spark):
        import pytest
        from openaq_data_pipeline_spark.operators.similarity import (
            cosine_near_dup_pairs,
        )

        e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        with pytest.raises(ValueError, match="dim"):
            cosine_near_dup_pairs(e, 0.40)


class TestApproxSketch:
    def test_relative_error_bounded(self, spark):
        from openaq_data_pipeline_spark.catalog import load
        from pyspark.sql import functions as F

        e = load(spark, "/root/testdata/sf0.01", "events")["events"]
        approx = {
            r["event_type"]: r["a"]
            for r in e.groupBy("event_type")
            .agg(F.approx_count_distinct("user_id", rsd=0.01).alias("a"))
            .collect()
        }
        exact = {
            r["event_type"]: r["x"]
            for r in e.groupBy("event_type")
            .agg(F.count_distinct("user_id").alias("x"))
            .collect()
        }
        assert set(approx) == set(exact)
        for k, x in exact.items():
            assert abs(approx[k] - x) / x < 0.05  # 5× the 1% rsd, safe bound


class TestMultimodalPlumbing:
    def test_media_schema_binary_parquet_roundtrip(self, spark, tmp_path):
        from openaq_data_pipeline_spark.operators.multimodal import (
            MEDIA_SCHEMA,
            extract_features,
        )

        rows = [
            (1, b"\x89PNG\r\n" + bytes(range(100)), "image/png", 10, 10, None),
            (2, b"", "image/png", 0, 0, None),
            (3, None, "video/mp4", None, None, 4000),
        ]
        df = spark.createDataFrame(rows, MEDIA_SCHEMA)
        p = str(tmp_path / "media")
        df.write.parquet(p)
        back = spark.read.parquet(p)
        feats = {r["media_id"]: r for r in extract_features(back).collect()}
        assert feats[1]["n_bytes"] == 106
        assert feats[1]["header_hex"] == "89504e47"  # PNG magic
        assert len(feats[1]["feature"]) == 8
        assert feats[2]["n_bytes"] == 0 and feats[2]["mean_byte"] is None
        assert feats[3]["n_bytes"] == 0  # NULL content → empty

    def test_frame_sample_plan_and_resize(self, spark):
        from openaq_data_pipeline_spark.operators.multimodal import (
            MEDIA_SCHEMA,
            frame_sample_plan,
            resize_stub,
        )

        df = spark.createDataFrame(
            [(1, b"x", "video/mp4", None, None, 2500), (2, b"y", "image/png", 4, 4, None)],
            MEDIA_SCHEMA,
        )
        plan = {r["media_id"]: r["sample_ts_ms"] for r in frame_sample_plan(df, 1000).collect()}
        assert plan[1] == [0, 1000, 2000]
        assert plan[2] is None  # no duration → nothing to sample
        r = resize_stub(df, 224, 224).select("target_width").first()
        assert r[0] == 224

    def test_resize_images_nearest_neighbor(self, spark):
        """resize_images: decode → NN resample → re-encode; output
        blobs decode to the requested dims with exactly the source
        pixels the floor(center·ratio) grid selects."""
        import numpy as np

        from openaq_data_pipeline_spark.operators.multimodal import (
            decode_bmp24,
            encode_bmp24,
            resize_images,
        )

        img = np.arange(8 * 8 * 3, dtype=np.uint8).reshape(8, 8, 3)
        media = spark.createDataFrame(
            [(1, bytearray(encode_bmp24(img)))], "media_id long, content binary"
        )
        row = resize_images(media, 4, 4).first()
        assert row.width == 4 and row.height == 4
        out = decode_bmp24(bytes(row.content))
        idx = ((np.arange(4) + 0.5) * 2).astype(int)  # 1,3,5,7
        assert (out == img[idx][:, idx]).all()
        # upscale also exact: every target pixel is a source pixel
        row2 = resize_images(media, 16, 16).first()
        up = decode_bmp24(bytes(row2.content))
        idx2 = ((np.arange(16) + 0.5) * 0.5).astype(int)
        assert (up == img[idx2][:, idx2]).all()


class TestJpegCodec:
    """Baseline JFIF codec (VERDICT r5 next #6): grayscale
    constant-block exactness (the oracle fixture property), color
    round-trip tolerance across 4:4:4 and 4:2:0, restart intervals,
    and loud rejection of unsupported variants."""

    def test_grayscale_constant_blocks_bit_exact(self):
        import numpy as np

        from openaq_data_pipeline_spark.operators.multimodal import (
            decode_jpeg_baseline,
            encode_jpeg_baseline,
        )

        blocks = ((np.arange(12) * 73 + 5) % 256).astype(np.uint8).reshape(3, 4)
        img = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1)
        blob = encode_jpeg_baseline(img)
        assert blob[:4] == b"\xff\xd8\xff\xe0"
        out = decode_jpeg_baseline(blob)
        assert (out == np.repeat(img[:, :, None], 3, axis=2)).all()

    def test_grayscale_exact_with_restart_intervals(self):
        import numpy as np

        from openaq_data_pipeline_spark.operators.multimodal import (
            decode_jpeg_baseline,
            encode_jpeg_baseline,
        )

        blocks = ((np.arange(20) * 31) % 256).astype(np.uint8).reshape(4, 5)
        img = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1)
        blob = encode_jpeg_baseline(img, restart_interval=3)
        assert any(bytes([0xFF, 0xD0 + i]) in blob for i in range(8))
        out = decode_jpeg_baseline(blob)
        assert (out == np.repeat(img[:, :, None], 3, axis=2)).all()

    def test_color_round_trip_tolerance(self):
        import numpy as np

        from openaq_data_pipeline_spark.operators.multimodal import (
            decode_jpeg_baseline,
            encode_jpeg_baseline,
        )

        rng_img = ((np.arange(17 * 23 * 3, dtype=np.int64) * 91 + 7) % 256).astype(
            np.uint8
        ).reshape(17, 23, 3)
        out = decode_jpeg_baseline(encode_jpeg_baseline(rng_img, q=1))
        assert out.shape == rng_img.shape
        # YCbCr forward/backward rounding costs at most a couple of
        # codes per channel at q=1 (no quantization loss)
        assert np.abs(out.astype(int) - rng_img.astype(int)).max() <= 3

    def test_420_subsampling_and_restart(self):
        import numpy as np

        from openaq_data_pipeline_spark.operators.multimodal import (
            decode_jpeg_baseline,
            encode_jpeg_baseline,
        )

        yy, xx = np.meshgrid(np.arange(32), np.arange(40), indexing="ij")
        smooth = np.stack(
            [(yy * 3) % 256, (xx * 3) % 256, ((yy + xx) * 2) % 256], axis=2
        ).astype(np.uint8)
        for ri in (0, 2):
            out = decode_jpeg_baseline(
                encode_jpeg_baseline(smooth, q=1, subsampling="420",
                                     restart_interval=ri)
            )
            assert out.shape == smooth.shape
            # chroma is 2x2-averaged then replicated — smooth content
            # stays within a few codes
            assert np.abs(out.astype(int) - smooth.astype(int)).max() <= 6

    def test_rejects_unsupported(self):
        import numpy as np
        import pytest as _pytest

        from openaq_data_pipeline_spark.operators.multimodal import (
            decode_jpeg_baseline,
            encode_jpeg_baseline,
        )

        with _pytest.raises(ValueError, match="not a JPEG"):
            decode_jpeg_baseline(b"BM123456")
        # progressive marker (SOF2) rejected
        img = np.zeros((8, 8), dtype=np.uint8)
        blob = bytearray(encode_jpeg_baseline(img))
        idx = blob.find(b"\xff\xc0")
        blob[idx + 1] = 0xC2
        with _pytest.raises(ValueError, match="non-baseline"):
            decode_jpeg_baseline(bytes(blob))
        with _pytest.raises(ValueError, match="subsampling"):
            encode_jpeg_baseline(img, subsampling="420")  # gray 420


class TestUnicodeNormalize:
    """normalize_unicode (r8): compatibility forms, casefold, null
    passthrough, schema preservation, bad-form guard."""

    def test_nfkc_casefold_unifies_dedup_keys(self, spark):
        from openaq_data_pipeline_spark.operators.text import (
            normalize_unicode,
        )

        rows = [
            (0, "ｆile"),          # fullwidth f -> 'file'
            (1, "FILE"),
            (2, "café"),          # composed é
            (3, "café"),         # decomposed e + combining acute
            (4, None),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.doc_id: r.text for r in normalize_unicode(df, "text").collect()}
        assert out[0] == out[1] == "file"
        assert out[2] == out[3] == "café"
        assert out[4] is None

    def test_schema_preserved_and_form_guard(self, spark):
        import pytest as _p

        from openaq_data_pipeline_spark.operators.text import (
            normalize_unicode,
        )

        df = spark.createDataFrame(
            [(1, "A", 2.0)], "id long, text string, x double"
        )
        out = normalize_unicode(df, "text", casefold=False)
        assert out.schema == df.schema
        assert out.first()["text"] == "A"
        with _p.raises(ValueError):
            normalize_unicode(df, "text", form="XXX")


class TestSketchRollup:
    """Persisted mergeable HLL rollup (r8): merged range estimate ==
    direct full-scan sketch estimate EXACTLY (byte-deterministic
    sketches), counts sum, facts never rescanned."""

    def test_merged_equals_direct_exactly(self, spark, tmp_path):
        from openaq_data_pipeline_spark.operators.sketches import (
            build_sketch_rollup,
            rollup_distinct,
        )

        rows = [
            (d, f"u{(i * 7 + d) % 97}")
            for d in range(10)
            for i in range(200)
        ]
        facts = spark.createDataFrame(rows, "day long, user string")
        path = str(tmp_path / "rollup")
        build_sketch_rollup(facts, "day", "user").write.partitionBy(
            "day"
        ).parquet(path)

        stored = spark.read.parquet(path)
        got = (
            rollup_distinct(stored.filter("day BETWEEN 2 AND 6"))
            .first()
        )
        direct = (
            facts.filter("day BETWEEN 2 AND 6")
            .agg(
                F.hll_sketch_estimate(
                    F.hll_sketch_agg("user", F.lit(12))
                ).alias("e")
            )
            .first()["e"]
        )
        assert got["distinct_est"] == direct
        assert got["n_rows"] == 5 * 200
        # sanity vs truth: within HLL's error regime
        true = (
            facts.filter("day BETWEEN 2 AND 6")
            .select("user")
            .distinct()
            .count()
        )
        assert abs(got["distinct_est"] - true) <= max(3, true * 0.05)

    def test_grouped_rollup(self, spark):
        from openaq_data_pipeline_spark.operators.sketches import (
            build_sketch_rollup,
            rollup_distinct,
        )

        rows = [(d, d % 2, f"u{i % (10 + d)}") for d in range(6) for i in range(50)]
        facts = spark.createDataFrame(rows, "day long, region long, user string")
        r = build_sketch_rollup(facts, "day", "user", group_cols=["region"])
        out = {
            row["region"]: row["distinct_est"]
            for row in rollup_distinct(r, group_cols=["region"]).collect()
        }
        assert set(out) == {0, 1}
        assert all(v > 0 for v in out.values())


class TestPlanMetrics:
    """metrics.py (r8): executed-plan SQL metrics surfaced to
    Python — scan IO summary, pushdown visibility, AQE descent."""

    def test_scan_summary_reads_real_io(self, spark):
        from openaq_data_pipeline_spark.metrics import (
            plan_metrics,
            scan_summary,
        )

        df = (
            spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .filter("doc_id < 10")
            .select("doc_id")
        )
        df.collect()
        s = scan_summary(df)
        assert s["n_scans"] == 1 and s["files_read"] >= 1
        assert s["bytes_read"] > 0
        assert s["rows_scanned"] >= 10  # scan rows ≥ filtered output
        nodes = [e["node"] for e in plan_metrics(df)]
        assert any(n.startswith("Scan") for n in nodes)

    def test_aqe_shuffle_plan_is_descended(self, spark):
        from openaq_data_pipeline_spark.metrics import scan_summary

        df = (
            spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .groupBy("lang")
            .count()
        )
        df.collect()
        s = scan_summary(df)
        assert s["n_scans"] == 1 and s["rows_scanned"] > 0


class TestImagePhash:
    """Perceptual image hashing (r8) composed with the SimHash
    banded tier: identical images collide at Hamming 0, mildly
    perturbed images stay within the near-dup radius, structurally
    different images do not pair."""

    def _bmp(self, arr):
        import numpy as np

        from openaq_data_pipeline_spark.operators.multimodal import (
            encode_bmp24,
        )

        return encode_bmp24(np.asarray(arr, dtype="uint8"))

    def _images(self):
        import numpy as np

        # rich-spectrum texture: a flat gradient is DEGENERATE for
        # pHash (dozens of exactly-zero DCT coefficients make the
        # median threshold unstable — any perturbation flips many
        # sign bits), just as it would be for the real algorithm
        g = np.zeros((16, 16, 3), dtype="uint8")
        for i in range(16):
            for j in range(16):
                g[i, j, :] = (i * i + 3 * j * j + 5 * i * j) % 180 + 20
        noisy = g.copy()
        noisy[3, 3, :] = noisy[3, 3, :] + 20  # local perturbation
        checker = np.zeros((16, 16, 3), dtype="uint8")
        checker[::2, ::2, :] = 255
        checker[1::2, 1::2, :] = 255
        return g, noisy, checker

    def test_phash_invariance_and_discrimination(self, spark):
        from openaq_data_pipeline_spark.operators.dedup import (
            simhash_near_dup_pairs,
        )
        from openaq_data_pipeline_spark.operators.multimodal import (
            image_phash,
        )

        g, noisy, checker = self._images()
        rows = [
            (0, self._bmp(g)),
            (1, self._bmp(g)),        # byte-identical
            (2, self._bmp(noisy)),    # perceptually same
            (3, self._bmp(checker)),  # structurally different
        ]
        df = spark.createDataFrame(rows, "media_id long, content binary")
        fp = image_phash(df, "content", "media_id")
        rowsfp = {r.media_id: (r.b0, r.b1, r.b2, r.b3) for r in fp.collect()}
        assert rowsfp[0] == rowsfp[1]
        assert rowsfp[0] != rowsfp[3]
        pairs = {
            (r.id_a, r.id_b): r.hamming
            for r in simhash_near_dup_pairs(fp, "media_id").collect()
        }
        assert pairs[(0, 1)] == 0
        assert (0, 2) in pairs and pairs[(0, 2)] <= 3
        assert not any(3 in p for p in pairs)

    def test_band_layout_matches_simhash_contract(self, spark):
        from openaq_data_pipeline_spark.operators.multimodal import (
            image_phash,
        )

        g, _, _ = self._images()
        df = spark.createDataFrame(
            [(7, self._bmp(g))], "media_id long, content binary"
        )
        r = image_phash(df, "content", "media_id").first()
        for k in range(4):
            v = r[f"b{k}"]
            assert 0 <= v < 2**16


class TestIncrementalImageNearDup:
    """Composition (r8): image_phash + the fingerprint-level
    persisted SimHash index = incremental image near-dup. Batch
    images probe the index without the corpus being re-decoded."""

    def test_batch_probes_persisted_image_index(self, spark):
        import numpy as np

        from openaq_data_pipeline_spark.operators.incremental_fuzzy import (
            build_simhash_index_fp,
            incremental_simhash_matches_fp,
            temp_simhash_index,
        )
        from openaq_data_pipeline_spark.operators.multimodal import (
            encode_bmp24,
            image_phash,
        )

        def tex(seed):
            a = np.zeros((16, 16, 3), dtype="uint8")
            for i in range(16):
                for j in range(16):
                    a[i, j, :] = (i * i + 3 * j * j + seed * i * j) % 180 + 20
            return a

        corpus = [(i, encode_bmp24(tex(5 + i))) for i in range(4)]
        noisy = tex(5)
        noisy[3, 3, :] = noisy[3, 3, :] + 20
        batch = [
            (100, encode_bmp24(noisy)),       # near-dup of corpus 0
            (101, encode_bmp24(tex(50))),     # fresh
        ]
        cdf = spark.createDataFrame(corpus, "media_id long, content binary")
        bdf = spark.createDataFrame(batch, "media_id long, content binary")
        with temp_simhash_index(n_buckets=4) as idx:
            build_simhash_index_fp(
                image_phash(cdf, "content", "media_id"), "media_id", idx
            )
            m = incremental_simhash_matches_fp(
                image_phash(bdf, "content", "media_id"), "media_id", idx
            ).collect()
        pairs = {(r.id_a, r.id_b): r.hamming for r in m}
        assert (100, 0) in pairs and pairs[(100, 0)] <= 3
        assert not any(a == 101 for a, _ in pairs)


class TestAudioPhash:
    """Acoustic fingerprint (r8, Haitsma-Kalker energy differences in
    simhash64's 4×16-band layout): exact gain invariance, small-
    perturbation locality, cross-content discrimination, and the
    band-packing contract."""

    @staticmethod
    def _tone(freqs, n=4096, amp=3000):
        import numpy as np

        t = np.arange(n)
        s = sum(amp * np.sin(2 * np.pi * f * t) for f in freqs)
        return (s / len(freqs)).astype(np.int16)

    @staticmethod
    def _bits(samples):
        from openaq_data_pipeline_spark.operators.multimodal import (
            _audio_fp_bits,
        )

        return _audio_fp_bits(samples)

    def test_gain_invariance_is_exact(self):
        base = self._tone([0.03, 0.11])
        doubled = (base.astype("int32") * 2).astype("int16")
        assert self._bits(base) == self._bits(doubled)

    def test_perturbation_locality_and_discrimination(self):
        import numpy as np

        base = self._tone([0.03, 0.11])
        rng = np.random.default_rng(7)
        noisy = (base + rng.normal(0, 30, base.size)).astype("int16")
        other = self._tone([0.07, 0.19])
        ham_noise = sum(
            x != y for x, y in zip(self._bits(base), self._bits(noisy))
        )
        ham_other = sum(
            x != y for x, y in zip(self._bits(base), self._bits(other))
        )
        assert ham_noise <= 10
        assert ham_other > 16

    def test_band_packing_matches_bits(self, spark):
        from openaq_data_pipeline_spark.operators.multimodal import (
            audio_phash,
            encode_wav_pcm16,
        )

        base = self._tone([0.05, 0.13])
        df = spark.createDataFrame(
            [(1, encode_wav_pcm16(base, 8000))], "media_id long, content binary"
        )
        row = audio_phash(df).collect()[0]
        bits = self._bits(base)
        for k in range(4):
            assert row[f"b{k}"] == sum(
                bits[16 * k + j] << j for j in range(16)
            )

    def test_short_clip_zero_pads(self):
        import numpy as np

        # shorter than 9 segments × 32 samples: must not raise
        assert len(self._bits(np.arange(40, dtype=np.int16))) == 64


class TestIncrementalAudioNearDup:
    """Composition (r8): audio_phash + the fingerprint-level
    persisted SimHash index = incremental audio near-dup — the third
    modality (text, image, audio) on ONE index machinery. A re-gained
    copy of an indexed clip probes to Hamming 0 without the corpus
    being re-decoded; fresh content stays unmatched."""

    def test_regained_copy_found_fresh_clip_not(self, spark):
        from openaq_data_pipeline_spark.operators.incremental_fuzzy import (
            build_simhash_index_fp,
            incremental_simhash_matches_fp,
            temp_simhash_index,
        )
        from openaq_data_pipeline_spark.operators.multimodal import (
            audio_phash,
            encode_wav_pcm16,
        )

        tones = [
            TestAudioPhash._tone([0.02 + 0.01 * i, 0.1 + 0.02 * i])
            for i in range(4)
        ]
        corpus = [(i, encode_wav_pcm16(t, 8000)) for i, t in enumerate(tones)]
        regained = (tones[0].astype("int32") * 2).astype("int16")
        batch = [
            (100, encode_wav_pcm16(regained, 8000)),  # gain-scaled dup of 0
            (101, encode_wav_pcm16(TestAudioPhash._tone([0.29, 0.37]), 8000)),
        ]
        cdf = spark.createDataFrame(corpus, "media_id long, content binary")
        bdf = spark.createDataFrame(batch, "media_id long, content binary")
        with temp_simhash_index(n_buckets=4) as idx:
            build_simhash_index_fp(audio_phash(cdf), "media_id", idx)
            m = incremental_simhash_matches_fp(
                audio_phash(bdf), "media_id", idx
            ).collect()
        pairs = {(r.id_a, r.id_b): r.hamming for r in m}
        assert pairs.get((100, 0)) == 0
        assert not any(a == 101 for a, _ in pairs)


class TestQuantileRollup:
    """KLL quantile rollups (r8): merged-range estimates hit the
    published rank-error bound against TRUE order statistics, counts
    stay exact, grouped slices isolate, and the double family works.
    (Unlike the HLL tier, KLL compaction samples — so the pin is the
    error bound, not byte equality.)"""

    def _facts(self, spark):
        from pyspark.sql import functions as F

        return spark.range(10000).select(
            (F.col("id") % 10).alias("grain"),
            (F.col("id") % 2).alias("seg"),
            (F.col("id") * 37 % 1000).cast("bigint").alias("v"),
        )

    def test_range_quantiles_within_rank_error(self, spark):
        from pyspark.sql import functions as F

        from openaq_data_pipeline_spark.operators.sketches import (
            build_quantile_rollup,
            rollup_quantiles,
        )

        facts = self._facts(spark)
        rollup = build_quantile_rollup(facts, "grain", "v", k=400)
        sliced = rollup.where(F.col("grain") < 5)
        got = rollup_quantiles(sliced, [0.1, 0.5, 0.9]).collect()[0]
        vals = sorted(
            r.v for r in facts.where(F.col("grain") < 5).select("v").collect()
        )
        assert got.n_rows == len(vals)
        import bisect

        for p in (0.1, 0.5, 0.9):
            est = got[f"q_{str(p).replace('.', '_')}"]
            # the estimate's TRUE rank must sit within the k=400
            # error bound (~0.9%) of p; 5% margin kills flakiness
            rank = bisect.bisect_right(vals, est) / len(vals)
            assert abs(rank - p) <= 0.05, (p, est, rank)

    def test_rank_query_and_grouping(self, spark):
        from pyspark.sql import functions as F

        from openaq_data_pipeline_spark.operators.sketches import (
            build_quantile_rollup,
            rollup_rank,
        )

        facts = self._facts(spark)
        rollup = build_quantile_rollup(
            facts, "grain", "v", group_cols=["seg"], k=400
        )
        got = {
            r.seg: (r.n_rows, r.rank)
            for r in rollup_rank(
                rollup.where(F.col("grain") < 5), 500, group_cols=["seg"]
            ).collect()
        }
        for seg in (0, 1):
            n_true = facts.where(
                (F.col("grain") < 5) & (F.col("seg") == seg)
            ).count()
            frac_true = (
                facts.where(
                    (F.col("grain") < 5)
                    & (F.col("seg") == seg)
                    & (F.col("v") <= 500)
                ).count()
                / n_true
            )
            assert got[seg][0] == n_true
            assert abs(got[seg][1] - frac_true) <= 0.05

    def test_double_family(self, spark):
        from pyspark.sql import functions as F

        from openaq_data_pipeline_spark.operators.sketches import (
            build_quantile_rollup,
            rollup_quantiles,
        )

        facts = spark.range(2000).select(
            (F.col("id") % 4).alias("grain"),
            (F.col("id") % 1000 / 10.0).alias("v"),
        )
        rollup = build_quantile_rollup(facts, "grain", "v", k=400)
        got = rollup_quantiles(
            rollup, [0.5], value_type="double"
        ).collect()[0]
        assert abs(got.q_0_5 - 49.95) < 5.0

    def test_non_numeric_value_raises(self, spark):
        import pytest as _pytest
        from pyspark.sql import functions as F

        from openaq_data_pipeline_spark.operators.sketches import (
            build_quantile_rollup,
        )

        facts = spark.range(10).select(
            F.lit("x").alias("v"), F.col("id").alias("grain")
        )
        with _pytest.raises(ValueError, match="numeric"):
            build_quantile_rollup(facts, "grain", "v")


class TestProfileTable:
    """One-pass profiler (r8): exact counts/nulls/min/max, sane
    distinct estimates, type dispatch (numeric moments, string
    lengths, complex columns nulls-only), ONE job for the whole
    profile, and the drift diff."""

    def _df(self, spark):
        from pyspark.sql import functions as F

        return spark.range(100).select(
            F.col("id").alias("k"),
            F.when(F.col("id") % 4 != 0, F.col("id") % 10)
            .cast("int")
            .alias("num_nullable"),
            F.concat(F.lit("s"), (F.col("id") % 7).cast("string")).alias("s"),
            F.array(F.col("id")).alias("arr"),
        )

    def test_stats_exact_and_typed(self, spark):
        from openaq_data_pipeline_spark.operators.profiling import (
            profile_table,
        )

        prof = {r.column: r for r in profile_table(self._df(spark)).collect()}
        k = prof["k"]
        assert (k.n_rows, k.n_nulls, k.min_value, k.max_value) == (
            100, 0, "0", "99",
        )
        assert abs(k.distinct_est - 100) <= 5  # HLL++ ~2.3% rsd
        assert abs(k.mean - 49.5) < 1e-9
        n = prof["num_nullable"]
        assert n.n_nulls == 25  # every 4th id
        s = prof["s"]
        assert (s.min_value, s.max_value, s.avg_len) == ("s0", "s6", 2.0)
        assert s.mean is None
        arr = prof["arr"]
        # complex column: nulls only
        assert (arr.n_nulls, arr.distinct_est, arr.min_value) == (0, None, None)

    def test_single_job(self, spark):
        """The 100 TB property: profiling N columns must not scan N
        times. The whole profile is one agg → at most a couple of
        Spark jobs (the collect), never one per column."""
        from openaq_data_pipeline_spark.operators.profiling import (
            profile_table,
        )

        sc = spark.sparkContext
        tracker = sc.statusTracker()
        before = len(tracker.getJobIdsForGroup(None) or [])
        sc.setJobGroup("profile_job_count", "profile")
        profile_table(self._df(spark)).collect()
        jobs = tracker.getJobIdsForGroup("profile_job_count") or []
        sc.setJobGroup(None, None)
        # one agg job + the driver-built result's collect
        assert len(jobs) <= 3, jobs

    def test_unknown_column_raises(self, spark):
        import pytest as _pytest

        from openaq_data_pipeline_spark.operators.profiling import (
            profile_table,
        )

        with _pytest.raises(ValueError, match="unknown columns"):
            profile_table(self._df(spark), columns=["nope"])

    def test_drift_diff(self, spark):
        from openaq_data_pipeline_spark.operators.profiling import (
            profile_drift,
            profile_table,
        )
        from pyspark.sql import functions as F

        before = profile_table(self._df(spark))
        broken = self._df(spark).select(
            F.col("k").cast("string").alias("k"),           # type flip
            F.when(F.col("k") % 2 == 0, F.col("num_nullable"))
            .alias("num_nullable"),                          # null spike
            "s",
        )  # 'arr' dropped
        after = profile_table(broken)
        drift = {r.column: r for r in profile_drift(before, after).collect()}
        assert drift["k"].dtype_changed
        assert drift["num_nullable"].null_spike
        assert not drift["s"].dtype_changed and not drift["s"].null_spike
        assert drift["arr"].dtype_after is None and drift["arr"].dtype_changed


class TestLineFrequencyFilter:
    """Cross-corpus line-frequency boilerplate removal (r12 — the
    CCNet/C4 'paragraph dedup' step document-level dedup can't see):
    recurring lines strip from every document, order preserved,
    short lines exempt, all-boilerplate documents come back EMPTY
    (countable), NULL text passes through."""

    def test_boilerplate_strips_order_preserved(self, spark):
        from openaq_data_pipeline_spark.operators.dedup import (
            line_frequency_filter,
        )

        rows = [
            (1, "COOKIE BANNER TEXT\nunique body one\n- a\nFOOTER LINE XYZ"),
            (2, "COOKIE BANNER TEXT\nunique body two\n- a\nFOOTER LINE XYZ"),
            (3, "totally original document"),
            (4, "COOKIE BANNER TEXT"),
            (5, None),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r.doc_id: r
            for r in line_frequency_filter(df, "text", "doc_id").collect()
        }
        # boilerplate (in ≥2 docs, ≥10 chars) dies everywhere; the
        # short "- a" line recurs but is exempt by min_line_chars
        assert out[1].text_clean == "unique body one\n- a"
        assert out[1].n_lines_dropped == 2
        assert out[2].text_clean == "unique body two\n- a"
        assert out[3].text_clean == "totally original document"
        assert out[3].n_lines_dropped == 0
        # all-boilerplate doc: empty string, not a vanished row
        assert out[4].text_clean == "" and out[4].n_lines_dropped == 1
        assert out[5].text_clean is None
        assert out[5].n_lines_dropped is None

    def test_trim_normalization_and_threshold(self, spark):
        from openaq_data_pipeline_spark.operators.dedup import (
            line_frequency_filter,
        )

        # same line with differing surrounding whitespace still
        # counts as one boilerplate identity; min_docs=3 spares a
        # two-doc repeat
        rows = [
            (1, "  SHARED HEADER LINE  \nbody a"),
            (2, "SHARED HEADER LINE\nbody b"),
            (3, "\tSHARED HEADER LINE\nbody c"),
            (4, "TWICE ONLY LINE HERE\nbody d"),
            (5, "TWICE ONLY LINE HERE\nbody e"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r.doc_id: r
            for r in line_frequency_filter(
                df, "text", "doc_id", min_docs=3
            ).collect()
        }
        assert out[1].text_clean == "body a"
        assert out[2].text_clean == "body b"
        assert out[3].text_clean == "body c"
        assert out[4].text_clean.endswith("body d")
        assert "TWICE ONLY LINE HERE" in out[4].text_clean

    def test_metachar_separator_is_literal(self, spark):
        """r12 review: F.split takes a regex but sep is a literal —
        a '.' or '||' record separator must not split on every
        character."""
        from openaq_data_pipeline_spark.operators.dedup import (
            line_frequency_filter,
        )

        rows = [
            (1, "SHARED BOILER RECORD.unique record one"),
            (2, "SHARED BOILER RECORD.unique record two"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r.doc_id: r
            for r in line_frequency_filter(
                df, "text", "doc_id", sep="."
            ).collect()
        }
        assert out[1].text_clean == "unique record one"
        assert out[2].text_clean == "unique record two"
        assert out[1].n_lines_dropped == 1

    def test_plan_is_partial_aggregable_no_line_string_shuffle(
        self, spark
    ):
        from openaq_data_pipeline_spark.operators.dedup import (
            line_frequency_filter,
        )

        df = spark.createDataFrame(
            [(i, f"SHARED BOILERPLATE LINE\nbody {i}") for i in range(20)],
            "doc_id long, text string",
        )
        plan = (
            line_frequency_filter(df, "text", "doc_id")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # frequency counting exchanges on the 8-byte xxhash64 key —
        # the line STRINGS never shuffle for the count
        assert "xxhash64" in plan



    def test_oversized_doc_guard_routes_untouched(self, spark):
        """VERDICT r12 wrong #2: one pathological document must not
        concentrate the reassembly on a single task - over the line
        cap it passes through UNTOUCHED (boilerplate kept, lines not
        counted as evidence) under an observable flag; normal docs
        still filter, and with no cap the schema is unchanged."""
        from openaq_data_pipeline_spark.operators.dedup import (
            line_frequency_filter,
        )

        monster = "\n".join(
            ["COOKIE BANNER TEXT"] + [f"payload line {i}" for i in range(50)]
        )
        rows = [
            (1, "COOKIE BANNER TEXT\nunique body one"),
            (2, "COOKIE BANNER TEXT\nunique body two"),
            (3, monster),
            (4, None),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r.doc_id: r
            for r in line_frequency_filter(
                df, "text", "doc_id", max_lines_per_doc=10
            ).collect()
        }
        # normal docs: banner still recurs in >=2 SMALL docs -> stripped
        assert out[1].text_clean == "unique body one"
        assert not out[1].line_filter_skipped
        assert out[2].text_clean == "unique body two"
        # the monster: untouched, zero drops, flagged
        assert out[3].text_clean == monster
        assert out[3].n_lines_dropped == 0
        assert out[3].line_filter_skipped
        # NULL text: normal path, passes through, not flagged
        assert out[4].text_clean is None and not out[4].line_filter_skipped
        # monster lines are NOT evidence: drop doc 2 and the banner
        # survives in doc 1 (freq 1; the monster copy must not count)
        df2 = spark.createDataFrame([rows[0], rows[2]],
                                    "doc_id long, text string")
        out2 = {
            r.doc_id: r
            for r in line_frequency_filter(
                df2, "text", "doc_id", max_lines_per_doc=10
            ).collect()
        }
        assert out2[1].text_clean == "COOKIE BANNER TEXT\nunique body one"
        assert out2[1].n_lines_dropped == 0
        # no cap -> no flag column (r12 schema byte-stable)
        plain = line_frequency_filter(df, "text", "doc_id")
        assert "line_filter_skipped" not in plain.columns

    def test_incremental_guard_matches_batch_face(self, spark, tmp_path):
        """The guard threads through the incremental face: an
        oversized batch document skips probe AND append (its lines
        never enter the index)."""
        from pyspark.sql import functions as F

        from openaq_data_pipeline_spark.operators.dedup import (
            LineIndex,
            build_line_index,
            incremental_line_filter,
        )

        hist = spark.createDataFrame(
            [(1, "SHARED FOOTER LINE\nalpha"),
             (2, "SHARED FOOTER LINE\nbeta")],
            "doc_id long, text string",
        )
        monster = "\n".join(
            ["MONSTER ONLY LINE XX"] * 3 + [f"m{i}" for i in range(40)]
        )
        with LineIndex(
            name="t_lf_guard", min_docs=3,
            location=str(tmp_path / "lfg"),
        ) as idx:
            build_line_index(hist, idx)
            batch = spark.createDataFrame(
                [(10, "SHARED FOOTER LINE\ngamma"), (11, monster)],
                "doc_id long, text string",
            )
            out = {
                r.doc_id: r
                for r in incremental_line_filter(
                    batch, idx, batch_id=1, max_lines_per_doc=10
                ).collect()
            }
            # footer: 2 history + 1 batch = 3 >= min_docs -> stripped
            assert out[10].text_clean == "gamma"
            assert out[11].text_clean == monster
            assert out[11].line_filter_skipped
            # the monster's lines were NOT appended to the index
            assert spark.table(idx.lines_table).where(
                F.col("line_key")
                == F.xxhash64(F.lit("MONSTER ONLY LINE XX"))
            ).count() == 0

class TestHtmlTableExtract:
    """HTML table mining (r12): one row per <tr> with cleaned cells,
    header detection, table/row indexes — pure codegen, the
    structured-data face of the crawl text plane."""

    def test_rows_cells_headers_and_entities(self, spark):
        from openaq_data_pipeline_spark.operators.text import (
            html_extract_tables,
        )

        html = (
            "<html><body><p>prose</p>"
            '<table class="x"><tr><th>col &amp; a</th><th> col b </th>'
            "</tr><tr><td>1</td><td><b>v 7</b></td></tr>"
            "<tr><td>2</td><td>v 8</td></tr></table>"
            "<table><tr><td>solo</td></tr></table></body></html>"
        )
        df = spark.createDataFrame(
            [(1, html), (2, "<p>no tables</p>"), (3, None)],
            "doc_id long, html string",
        )
        out = sorted(
            html_extract_tables(df, "html", "doc_id").collect(),
            key=lambda r: (r.doc_id, r.table_index, r.row_index),
        )
        got = [
            (r.doc_id, r.table_index, r.row_index, r.is_header,
             list(r.cells), r.n_cells)
            for r in out
        ]
        assert got == [
            (1, 0, 0, True, ["col & a", "col b"], 2),
            (1, 0, 1, False, ["1", "v 7"], 2),
            (1, 0, 2, False, ["2", "v 8"], 2),
            (1, 1, 0, False, ["solo"], 1),
        ]

    def test_plan_is_shuffle_free(self, spark):
        from openaq_data_pipeline_spark.operators.text import (
            html_extract_tables,
        )

        df = spark.createDataFrame(
            [(1, "<table><tr><td>x</td></tr></table>")],
            "doc_id long, html string",
        )
        plan = (
            html_extract_tables(df, "html", "doc_id")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan



    def test_nested_tables_extract_both(self, spark):
        """r13 (VERDICT r12 missing #4): an inner table no longer
        truncates its outer - the outer keeps ALL its rows (nested
        markup excluded from its cells, sibling text kept), the
        inner emits under its own document-open-order index, and
        flat pages keep the r12 fast path byte-identically."""
        from openaq_data_pipeline_spark.operators.text import (
            html_extract_tables,
        )

        nested = (
            "<table>"
            "<tr><th>Name</th><th>Data</th></tr>"
            "<tr><td>alpha</td><td>"
            "<table><tr><td>i1</td><td>i2</td></tr></table>"
            " after-inner</td></tr>"
            "<tr><td>beta</td><td>gamma</td></tr>"
            "</table>"
            "<table><tr><td>s1</td></tr></table>"
        )
        flat = "<table><tr><th>H</th></tr><tr><td>x</td></tr></table>"
        df = spark.createDataFrame(
            [(1, nested), (2, flat)], "doc_id long, html string"
        )
        out = {
            (r.doc_id, r.table_index, r.row_index): r
            for r in html_extract_tables(df, "html", "doc_id").collect()
        }
        # outer: all three rows survive past the inner close
        assert out[(1, 0, 0)].cells == ["Name", "Data"]
        assert out[(1, 0, 0)].is_header
        assert out[(1, 0, 1)].cells == ["alpha", "after-inner"]
        assert out[(1, 0, 2)].cells == ["beta", "gamma"]
        # inner table: its own index, its own rows
        assert out[(1, 1, 0)].cells == ["i1", "i2"]
        # sibling table after the nested pair: next index
        assert out[(1, 2, 0)].cells == ["s1"]
        # flat page: unchanged fast path
        assert out[(2, 0, 0)].cells == ["H"]
        assert out[(2, 0, 1)].cells == ["x"]
        assert len(out) == 7

class TestIncrementalLineFilter:
    """Cross-batch line-frequency filtering against the persisted
    LineIndex (r12): the corpus-wide boilerplate threshold fires
    across batches without re-exploding history text — same
    SUM-reaggregatable blind-append discipline as the span tier."""

    B0 = [
        (1, "SHARED COOKIE BANNER LINE\nunique alpha body"),
        (2, "unique beta body only"),
    ]
    B1 = [
        (11, "SHARED COOKIE BANNER LINE\nunique gamma body"),
        (12, "unique delta body"),
    ]

    def test_threshold_fires_across_batches(self, spark):
        from openaq_data_pipeline_spark.operators.dedup import (
            build_line_index,
            incremental_line_filter,
            temp_line_index,
        )

        b0 = spark.createDataFrame(self.B0, "doc_id long, text string")
        b1 = spark.createDataFrame(self.B1, "doc_id long, text string")
        b2 = spark.createDataFrame(
            [
                (21, "SHARED COOKIE BANNER LINE"),
                (22, "unique gamma body\nunique epsilon"),
            ],
            "doc_id long, text string",
        )
        with temp_line_index(min_docs=2) as idx:
            build_line_index(b0, idx)
            r1 = {
                r.doc_id: r
                for r in incremental_line_filter(
                    b1, idx, batch_id=1
                ).collect()
            }
            # banner: 1 history doc + 1 batch doc ≥ 2 → dropped,
            # even though NO single batch reaches the threshold
            assert r1[11].text_clean == "unique gamma body"
            assert r1[12].text_clean == "unique delta body"
            r2 = {
                r.doc_id: r
                for r in incremental_line_filter(
                    b2, idx, batch_id=2
                ).collect()
            }
            assert r2[21].text_clean == "" and r2[21].n_lines_dropped == 1
            # 'unique gamma body' crossed the threshold via batch 1's
            # append — boilerplate is detected as it EMERGES
            assert r2[22].text_clean == "unique epsilon"

    def test_probe_equals_from_scratch(self, spark):
        from openaq_data_pipeline_spark.operators.dedup import (
            build_line_index,
            incremental_line_filter,
            line_frequency_filter,
            temp_line_index,
        )

        b0 = spark.createDataFrame(self.B0, "doc_id long, text string")
        b1 = spark.createDataFrame(self.B1, "doc_id long, text string")
        scratch = {
            r.doc_id: (r.text_clean, r.n_lines_dropped)
            for r in line_frequency_filter(
                b0.unionByName(b1), "text", "doc_id"
            ).collect()
            if r.doc_id >= 10
        }
        with temp_line_index(min_docs=2) as idx:
            build_line_index(b0, idx)
            inc = {
                r.doc_id: (r.text_clean, r.n_lines_dropped)
                for r in incremental_line_filter(
                    b1, idx, batch_id=1
                ).collect()
            }
        assert inc == scratch

    def test_replayed_append_is_absorbed_without_markers(self, spark):
        """At-least-once replay: re-running the SAME batch under the
        SAME batch_id leaves the corpus counts unchanged (per-(key,
        batch) MAX collapses the duplicate append), so a later batch
        sees correct history — the property that lets the streaming
        gate skip marker machinery entirely."""
        from openaq_data_pipeline_spark.operators.dedup import (
            build_line_index,
            incremental_line_filter,
            temp_line_index,
        )

        b0 = spark.createDataFrame(self.B0, "doc_id long, text string")
        b1 = spark.createDataFrame(self.B1, "doc_id long, text string")
        probe = spark.createDataFrame(
            # the banner's true corpus count is 2 (docs 1, 11); with
            # min_docs=4 this probe drops it ONLY if the replayed
            # append double-counted (2 real + 1 dup + 1 here = 4)
            [(31, "SHARED COOKIE BANNER LINE\nunique omega body")],
            "doc_id long, text string",
        )
        with temp_line_index(min_docs=4) as idx:
            build_line_index(b0, idx)
            incremental_line_filter(b1, idx, batch_id=1).collect()
            incremental_line_filter(b1, idx, batch_id=1).collect()  # replay
            r = incremental_line_filter(
                probe, idx, update_index=False
            ).first()
            assert r.text_clean.startswith("SHARED COOKIE BANNER LINE")
            assert r.n_lines_dropped == 0

    def test_replayed_probe_disposition_is_stable(self, spark):
        """r12 review: a replayed batch must not count its own
        first-attempt append as history. The banner here is carried
        by exactly ONE history doc and ONE batch doc (= min_docs on
        the first attempt, so it drops) while the unique body is
        carried by nobody else — on the replay the body must NOT
        suddenly cross the threshold against the batch's own
        first-attempt rows: disposition identical across retries."""
        from openaq_data_pipeline_spark.operators.dedup import (
            build_line_index,
            incremental_line_filter,
            temp_line_index,
        )

        b0 = spark.createDataFrame(self.B0, "doc_id long, text string")
        b1 = spark.createDataFrame(self.B1, "doc_id long, text string")
        with temp_line_index(min_docs=2) as idx:
            build_line_index(b0, idx)
            first = {
                r.doc_id: (r.text_clean, r.n_lines_dropped)
                for r in incremental_line_filter(
                    b1, idx, batch_id=1
                ).collect()
            }
            replay = {
                r.doc_id: (r.text_clean, r.n_lines_dropped)
                for r in incremental_line_filter(
                    b1, idx, batch_id=1
                ).collect()
            }
            assert first == replay
            # and the unique bodies actually survived both times
            assert first[11][0] == "unique gamma body"
            assert first[12][0] == "unique delta body"

    def test_update_requires_batch_id(self, spark):
        import pytest as _pytest

        from openaq_data_pipeline_spark.operators.dedup import (
            build_line_index,
            incremental_line_filter,
            temp_line_index,
        )

        b0 = spark.createDataFrame(self.B0, "doc_id long, text string")
        with temp_line_index() as idx:
            build_line_index(b0, idx)
            with _pytest.raises(ValueError, match="batch_id"):
                incremental_line_filter(b0, idx)

    def test_probe_never_rereads_history_text(self, spark):
        from openaq_data_pipeline_spark.operators.dedup import (
            build_line_index,
            incremental_line_filter,
            temp_line_index,
        )

        b0 = spark.createDataFrame(self.B0, "doc_id long, text string")
        b1 = spark.createDataFrame(self.B1, "doc_id long, text string")
        with temp_line_index(min_docs=2) as idx:
            build_line_index(b0, idx)
            probe = incremental_line_filter(
                b1, idx, update_index=False
            )
            files = probe.inputFiles()
            # the only files the probe plan touches are the index's
            assert all(idx.location in f for f in files), files


class TestIntraDocLineDedup:
    """Intra-document repeated-line removal (r13): first occurrence
    kept in place and original spelling, trim-normalized comparison,
    short lines exempt, NULL passthrough — one codegen fold, no
    explode."""

    def test_first_kept_trim_matched_short_exempt(self, spark):
        from openaq_data_pipeline_spark.operators.dedup import (
            dedupe_lines_within_doc,
        )

        text = (
            "NAV MENU HOME LINKS\n"
            "unique alpha body line\n"
            "NAV MENU HOME LINKS\n"
            "  NAV MENU HOME LINKS  \n"
            "- \n"
            "- \n"
            "unique beta body line"
        )
        df = spark.createDataFrame(
            [(1, text), (2, None)], "doc_id long, text string"
        )
        out = {
            r.doc_id: r
            for r in dedupe_lines_within_doc(df, "text").collect()
        }
        assert out[1].text_clean == (
            "NAV MENU HOME LINKS\n"
            "unique alpha body line\n"
            "- \n"
            "- \n"
            "unique beta body line"
        )
        assert out[1].n_lines_dropped == 2
        assert out[2].text_clean is None
        assert out[2].n_lines_dropped is None

    def test_oversized_doc_guard(self, spark):
        """VERDICT r13 wrong #1: the operator's OWN guard — a doc
        over the line cap routes through UNTOUCHED (zero drops)
        under line_filter_skipped, so the O(lines²) fold never runs
        on a pathological row; normal docs still dedup."""
        from openaq_data_pipeline_spark.operators.dedup import (
            dedupe_lines_within_doc,
        )

        nav = "NAV MENU HOME LINKS"
        big = "\n".join(
            [f"pathological body line {i}" for i in range(10)]
            + [nav, nav]
        )  # 12 lines > cap
        small = f"{nav}\nunique alpha body line\n{nav}"
        df = spark.createDataFrame(
            [(1, small), (2, big), (3, None)],
            "doc_id long, text string",
        )
        out = {
            r.doc_id: r
            for r in dedupe_lines_within_doc(
                df, "text", max_lines_per_doc=5
            ).collect()
        }
        assert out[1].text_clean == f"{nav}\nunique alpha body line"
        assert out[1].n_lines_dropped == 1
        assert out[1].line_filter_skipped is False
        # over the cap: original text verbatim, observable flag
        assert out[2].text_clean == big
        assert out[2].n_lines_dropped == 0
        assert out[2].line_filter_skipped is True
        assert out[3].text_clean is None
        assert out[3].line_filter_skipped is False
