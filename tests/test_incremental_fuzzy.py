"""Incremental fuzzy decontamination (VERDICT r5 next #3):
probe-vs-recompute equivalence against the whole-corpus operator,
the two scale properties (index side of the band re-aggregation is
bucket-local; the probe plan never re-reads history text), the
degenerate-bucket cap with its observability feed, and the
no-residue contract of the context-managed temp index."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from openaq_data_pipeline_spark.operators.curation import fuzzy_decontaminate
from openaq_data_pipeline_spark.operators.incremental_fuzzy import (
    append_fuzzy_index,
    build_fuzzy_index,
    incremental_fuzzy_dropped_buckets,
    incremental_fuzzy_matches,
    temp_fuzzy_index,
)

TRAIN = [
    (0, "the quick brown fox jumps over the lazy dog today"),
    (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
    (4, "one two three four five six seven eight nine ten eleven twelve"),
    (6, "completely unrelated text about rivers mountains and weather patterns"),
]
# batch: a truncated near-copy of 2, a near-copy of 4, and a fresh doc
BATCH = [
    (101, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"),
    (103, "one two three four five six seven eight nine ten eleven"),
    (105, "nothing like anything indexed before at all whatsoever"),
]


def _rows(df):
    return sorted(
        (r.train_id, r.eval_id, r.n_common, r.n_train, r.n_eval, r.jaccard)
        for r in df.collect()
    )


class TestIncrementalFuzzy:
    def test_probe_equals_whole_corpus_recompute(self, spark):
        """The semantics contract: probing an index built on T with
        batch B must equal fuzzy_decontaminate(T ∪ B, is_eval=B) —
        per-document MinHash/shingle state makes them identical."""
        train = spark.createDataFrame(TRAIN, "doc_id long, text string")
        batch = spark.createDataFrame(BATCH, "doc_id long, text string")
        whole = fuzzy_decontaminate(
            train.unionByName(batch), is_eval=F.col("doc_id") >= 100
        )
        with temp_fuzzy_index(n_buckets=4) as idx:
            build_fuzzy_index(train, "text", "doc_id", idx)
            got = _rows(incremental_fuzzy_matches(batch, "text", "doc_id", idx))
        want = _rows(whole)
        assert got == want
        # the fixture actually exercises matches
        assert {(t, e) for t, e, *_ in got} == {(2, 101), (4, 103)}

    def test_append_makes_earlier_batch_discoverable(self, spark):
        train = spark.createDataFrame(TRAIN, "doc_id long, text string")
        b1 = spark.createDataFrame(
            [(201, "red orange yellow green blue indigo violet ultraviolet")],
            "doc_id long, text string",
        )
        # near-copy of b1's doc — only findable if the append landed
        b2 = spark.createDataFrame(
            [(301, "red orange yellow green blue indigo violet")],
            "doc_id long, text string",
        )
        with temp_fuzzy_index(n_buckets=4) as idx:
            build_fuzzy_index(train, "text", "doc_id", idx)
            assert (
                incremental_fuzzy_matches(b1, "text", "doc_id", idx).count() == 0
            )
            append_fuzzy_index(b1, "text", "doc_id", idx)
            got = _rows(incremental_fuzzy_matches(b2, "text", "doc_id", idx))
        assert [(t, e) for t, e, *_ in got] == [(201, 301)]

    def test_band_reaggregation_is_exchange_free(self, spark):
        """No Exchange between the bands-table scan and the per-bkey
        re-aggregation — the index-shuffle-free property the design
        exists for (same pin as incremental_dedup's posting lists)."""
        from openaq_data_pipeline_spark.operators.incremental_fuzzy import (
            _old_band_lists,
        )

        train = spark.createDataFrame(TRAIN, "doc_id long, text string")
        with temp_fuzzy_index(n_buckets=4) as idx:
            build_fuzzy_index(train, "text", "doc_id", idx)
            append_fuzzy_index(
                spark.createDataFrame(
                    [(201, "red orange yellow green blue indigo violet")],
                    "doc_id long, text string",
                ),
                "text",
                "doc_id",
                idx,
            )
            plan = (
                _old_band_lists(spark, idx)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            assert "Exchange" not in plan, plan
            assert "Bucketed: true" in plan, plan

    def test_probe_plan_touches_index_not_history_text(self, spark, tmp_path):
        """Batch work scales with the batch: the probe plan reads the
        BATCH parquet and the INDEX tables, never the history parquet
        (no re-signatured history)."""
        hist_path = str(tmp_path / "train_docs")
        batch_path = str(tmp_path / "batch_docs")
        spark.createDataFrame(TRAIN, "doc_id long, text string").write.parquet(
            hist_path
        )
        spark.createDataFrame(BATCH, "doc_id long, text string").write.parquet(
            batch_path
        )
        with temp_fuzzy_index(n_buckets=4) as idx:
            build_fuzzy_index(
                spark.read.parquet(hist_path), "text", "doc_id", idx
            )
            out = incremental_fuzzy_matches(
                spark.read.parquet(batch_path), "text", "doc_id", idx
            )
            files = out.inputFiles()
            assert idx.location is not None
            assert any(idx.location in f for f in files), "index scan missing"
            assert not any(hist_path in f for f in files), (
                "probe re-reads history text"
            )

    def test_bucket_cap_drops_pairs_and_reports_them(self, spark):
        """With max_bucket below a mixed bucket's combined
        membership, the probe yields nothing and the dropped-buckets
        feed names the bucket (observability contract)."""
        text = "alpha beta gamma delta epsilon zeta eta theta"
        train = spark.createDataFrame(
            [(i, text) for i in range(0, 6)], "doc_id long, text string"
        )
        batch = spark.createDataFrame(
            [(101, text)], "doc_id long, text string"
        )
        with temp_fuzzy_index(n_buckets=4, max_bucket=4) as idx:
            build_fuzzy_index(train, "text", "doc_id", idx)
            assert (
                incremental_fuzzy_matches(batch, "text", "doc_id", idx).count()
                == 0
            )
            dropped = incremental_fuzzy_dropped_buckets(
                batch, "text", "doc_id", idx
            ).collect()
            assert dropped, "capped bucket not reported"
            assert all(r.n_train == 6 and r.n_eval == 1 for r in dropped)
        # and with the cap lifted the same probe fires
        with temp_fuzzy_index(n_buckets=4, max_bucket=None) as idx2:
            build_fuzzy_index(train, "text", "doc_id", idx2)
            assert (
                incremental_fuzzy_matches(batch, "text", "doc_id", idx2).count()
                == 6
            )

    def test_no_temp_index_residue(self, spark):
        """Indexing the documents and probing truncated copies of every
        13th doc (id+500000) through the temp-index context manager
        leaves no fuzzy_index_* tempdir and no fuzzy_idx_* catalog
        table; the result is readable after cleanup (eager checkpoint
        severs the index dependency)."""
        import tempfile

        from oracle_harness import SF_DIR

        sf = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", SF_DIR)
        d = spark.read.parquet(f"{sf}/documents.parquet")
        w = F.split(F.col("text"), " ")
        ev = d.filter((F.col("doc_id") % 13 == 0) & (F.size(w) >= 8)).select(
            (F.col("doc_id") + 500000).alias("doc_id"),
            F.concat_ws(" ", F.slice(w, 1, F.size(w) - 5)).alias("text"),
        )
        tmp_root = tempfile.gettempdir()
        before = set(glob.glob(os.path.join(tmp_root, "fuzzy_index_*")))
        with temp_fuzzy_index(n_buckets=8) as idx:
            build_fuzzy_index(d.select("doc_id", "text"), "text", "doc_id", idx)
            out = incremental_fuzzy_matches(
                ev, "text", "doc_id", idx
            ).localCheckpoint(eager=True)
        assert out.count() >= 0
        after = set(glob.glob(os.path.join(tmp_root, "fuzzy_index_*")))
        assert after - before == set()
        leaked = [
            t.name
            for t in spark.catalog.listTables()
            if t.name.startswith("fuzzy_idx_")
        ]
        assert leaked == [], leaked


class TestIncrementalSimHash:
    """Incremental SimHash tier (r6): probe-vs-whole-corpus
    equivalence, append, bucket-local plan, cap, no-residue."""

    # REAL corpus documents: the appended-token mutation only lands in
    # Hamming 1..3 when most of the 64 votes have margin > 1, which
    # natural-language token multiplicity gives and uniform synthetic
    # token soups do NOT (all-distinct tokens leave ~11% of bit-sums
    # balanced — one appended token then flips ~7 bits, past any
    # banded radius).
    def _train(self, spark):
        sf = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
        return (
            spark.read.parquet(f"{sf}/documents.parquet")
            .filter(F.col("doc_id") < 40)
            .select("doc_id", "text")
        )

    def _batch_of(self, train):
        # one appended token: Hamming 1..3 near-dups of their originals
        return train.select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" qq")).alias("text"),
        )

    def test_probe_equals_whole_corpus_cross_pairs(self, spark):
        from openaq_data_pipeline_spark.operators.dedup import (
            simhash64,
            simhash_near_dup_pairs,
        )
        from openaq_data_pipeline_spark.operators.incremental_fuzzy import (
            build_simhash_index,
            incremental_simhash_matches,
            temp_simhash_index,
        )

        train = self._train(spark)
        batch = self._batch_of(train)
        whole = simhash_near_dup_pairs(
            simhash64(train.unionByName(batch), "text", "doc_id"), "doc_id"
        )
        want = sorted(
            (max(r.id_a, r.id_b), min(r.id_a, r.id_b), r.hamming)
            for r in whole.collect()
            if (r.id_a >= 100000) != (r.id_b >= 100000)  # cross pairs only
        )
        with temp_simhash_index(n_buckets=4) as idx:
            build_simhash_index(train, "text", "doc_id", idx)
            got = sorted(
                (r.id_a, r.id_b, r.hamming)
                for r in incremental_simhash_matches(
                    batch, "text", "doc_id", idx
                ).collect()
            )
        assert got == want
        assert got, "fixture produced no near-dup pairs"

    def test_append_and_cap(self, spark):
        from openaq_data_pipeline_spark.operators.incremental_fuzzy import (
            append_simhash_index,
            build_simhash_index,
            incremental_simhash_dropped_buckets,
            incremental_simhash_matches,
            temp_simhash_index,
        )

        train = self._train(spark)
        # a later real doc, re-keyed: b2 is its appended near-dup
        # (doc 40 verified to stay within Hamming 3 of its +qq copy —
        # not every doc does; margins depend on token multiplicity)
        src = (
            train.sparkSession.read.parquet(
                os.environ.get(
                    "SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001"
                )
                + "/documents.parquet"
            )
            .filter(F.col("doc_id") == 40)
            .select("text")
            .first()["text"]
        )
        b1 = train.sparkSession.createDataFrame(
            [(200000, src)], "doc_id long, text string"
        )
        b2 = train.sparkSession.createDataFrame(
            [(300000, src + " qq")], "doc_id long, text string"
        )
        with temp_simhash_index(n_buckets=4) as idx:
            build_simhash_index(train, "text", "doc_id", idx)
            assert (
                incremental_simhash_matches(b1, "text", "doc_id", idx).count()
                == 0
            )
            append_simhash_index(b1, "text", "doc_id", idx)
            got = incremental_simhash_matches(
                b2, "text", "doc_id", idx
            ).collect()
            assert [(r.id_a, r.id_b) for r in got] == [(300000, 200000)]
        # cap: identical docs share all four bands; a tiny cap drops
        # the bucket and the observability feed reports it
        dup = "spam ham eggs spam ham eggs spam ham"
        many = spark.createDataFrame(
            [(i, dup) for i in range(6)], "doc_id long, text string"
        )
        probe = spark.createDataFrame(
            [(500, dup)], "doc_id long, text string"
        )
        with temp_simhash_index(n_buckets=4, max_bucket=4) as idx2:
            from openaq_data_pipeline_spark.operators.incremental_fuzzy import (
                build_simhash_index as _b,
            )

            _b(many, "text", "doc_id", idx2)
            assert (
                incremental_simhash_matches(probe, "text", "doc_id", idx2).count()
                == 0
            )
            dropped = incremental_simhash_dropped_buckets(
                probe, "text", "doc_id", idx2
            ).collect()
            assert dropped and all(
                r.n_old == 6 and r.n_new == 1 for r in dropped
            )

    def test_band_reaggregation_is_exchange_free(self, spark):
        from openaq_data_pipeline_spark.operators.incremental_fuzzy import (
            _old_simhash_lists,
            append_simhash_index,
            build_simhash_index,
            temp_simhash_index,
        )

        train = self._train(spark)
        with temp_simhash_index(n_buckets=4) as idx:
            build_simhash_index(train, "text", "doc_id", idx)
            append_simhash_index(self._batch_of(train), "text", "doc_id", idx)
            plan = (
                _old_simhash_lists(spark, idx)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            assert "Exchange" not in plan, plan
            assert "Bucketed: true" in plan, plan

    def test_probe_plan_touches_index_not_history_text(self, spark, tmp_path):
        from openaq_data_pipeline_spark.operators.incremental_fuzzy import (
            build_simhash_index,
            incremental_simhash_matches,
            temp_simhash_index,
        )

        hist_path = str(tmp_path / "train_docs")
        batch_path = str(tmp_path / "batch_docs")
        train = self._train(spark)
        train.write.parquet(hist_path)
        self._batch_of(train).write.parquet(batch_path)
        with temp_simhash_index(n_buckets=4) as idx:
            build_simhash_index(
                spark.read.parquet(hist_path), "text", "doc_id", idx
            )
            out = incremental_simhash_matches(
                spark.read.parquet(batch_path), "text", "doc_id", idx
            )
            files = out.inputFiles()
            assert idx.location is not None
            assert any(idx.location in f for f in files), "index scan missing"
            assert not any(hist_path in f for f in files), (
                "probe re-fingerprints history text"
            )

    def test_no_temp_index_residue(self, spark):
        import tempfile

        from openaq_data_pipeline_spark.operators.incremental_fuzzy import (
            build_simhash_index,
            incremental_simhash_matches,
            temp_simhash_index,
        )

        from oracle_harness import SF_DIR

        sf = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", SF_DIR)
        d = spark.read.parquet(f"{sf}/documents.parquet")
        batch = d.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" qq")).alias("text"),
        )
        tmp_root = tempfile.gettempdir()
        before = set(glob.glob(os.path.join(tmp_root, "simhash_index_*")))
        with temp_simhash_index(n_buckets=8) as idx:
            build_simhash_index(d.select("doc_id", "text"), "text", "doc_id", idx)
            out = incremental_simhash_matches(
                batch, "text", "doc_id", idx
            ).localCheckpoint(eager=True)
        assert out.count() > 0
        after = set(glob.glob(os.path.join(tmp_root, "simhash_index_*")))
        assert after - before == set()
        leaked = [
            t.name
            for t in spark.catalog.listTables()
            if t.name.startswith("simhash_idx_")
        ]
        assert leaked == [], leaked
