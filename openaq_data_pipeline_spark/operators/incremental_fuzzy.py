"""Incremental (cross-batch) FUZZY decontamination: probe new
batches against a PERSISTED MinHash band index instead of
re-signaturing the whole training corpus per eval release — the
fuzzy-tier analogue of :mod:`.incremental_dedup` (VERDICT r5 next
#3), and the same reference pattern: state persisted between runs,
each run joining only the new slice against it
(`openaq_transform/models/marts/mart_location_air_quality.sql:16-19`).

Index layout (three tables per :class:`FuzzyIndex`):

- ``{name}_bands`` — (bkey, doc_ids array<long>): per-band-bucket
  member lists of indexed documents, BUCKETED on ``bkey`` where
  ``bkey = md5(band_id || '|' || band_hash)`` collapses the
  composite band key to one column so the probe join key EQUALS the
  bucket key (a composite (band_id, band_hash) join over a table
  bucketed on band_hash alone would still exchange the index side).
  Appended batches re-aggregate per bkey BUCKET-LOCALLY.
- ``{name}_postings`` — (shingle, doc_ids): the verify-stage lookup,
  bucketed on ``shingle``.
- ``{name}_sizes`` — (id, n_sh): full distinct-shingle counts,
  bucketed on the id column.

Semantics contract (deterministic, oracle-expressible): probing a
batch against an index built on corpus T is EXACTLY
:func:`~.curation.fuzzy_decontaminate` run on T ∪ batch with
``is_eval`` marking the batch — provable because MinHash signatures,
bands, shingle sets and sizes are all PER-DOCUMENT properties
(independent of the rest of the corpus), and the degenerate-bucket
cap counts the same combined bucket membership
(|indexed ∩ bucket| + |batch ∩ bucket|). The driver oracle
recomputes the whole-corpus answer from raw text with no index,
proving index == recompute.

Scale (100 TB): batch probe cost is batch-sized + its collision
neighborhood — band join and posting/size lookups are bucket-local
on the index side (no index shuffle, pinned by
tests/test_incremental_fuzzy.py), candidate pairs are
bucket-capped, and verify joins are candidate-bounded. History text
is NEVER re-read or re-shingled at probe time.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openaq_data_pipeline_spark.operators.curation import (
    _fuzzy_bands,
    _fuzzy_shingles,
)
from openaq_data_pipeline_spark.sources.tables import save_bucketed


@dataclass(frozen=True)
class FuzzyIndex:
    """Handle for a persisted fuzzy (MinHash-band) index;
    ``location`` (optional) roots all three tables there as EXTERNAL
    tables. Parameters mirror :func:`~.curation.fuzzy_decontaminate`
    and are frozen into the index — a probe with different banding
    than the build would be silently meaningless."""

    name: str
    num_hashes: int = 8
    band_size: int = 2
    n_buckets: int = 32
    min_jaccard: float = 0.5
    max_bucket: int | None = 2048
    location: str | None = None

    @property
    def bands_table(self) -> str:
        return f"{self.name}_bands"

    @property
    def postings_table(self) -> str:
        return f"{self.name}_postings"

    @property
    def sizes_table(self) -> str:
        return f"{self.name}_sizes"

    def _path(self, suffix: str) -> str | None:
        return f"{self.location}/{suffix}" if self.location else None

    def drop(self, spark=None) -> None:
        """Drop all index tables and (for tempdir-rooted indexes) the
        external data directory — same no-residue contract as
        :meth:`.incremental_dedup.DedupIndex.drop`."""
        import shutil

        from pyspark.sql import SparkSession

        spark = spark or SparkSession.getActiveSession()
        if spark is not None:
            for t in (self.bands_table, self.postings_table, self.sizes_table):
                spark.sql(f"DROP TABLE IF EXISTS {t}")
        if self.location:
            shutil.rmtree(self.location, ignore_errors=True)

    def __enter__(self) -> "FuzzyIndex":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        self.drop()


def _bkey() -> F.Column:
    """Single-column band bucket key (see module docstring)."""
    return F.md5(
        F.concat_ws("|", F.col("band_id").cast("string"), F.col("band_hash"))
    )


def build_fuzzy_index(
    corpus: DataFrame, text_col: str, id_col: str, index: FuzzyIndex
) -> None:
    """Index ``corpus`` (typically the training set a decontamination
    gate protects): one shingle pass feeds band lists, postings and
    sizes; three co-partitioned bucketed writes."""
    sh = _fuzzy_shingles(corpus, text_col, id_col).localCheckpoint(eager=False)
    _append(sh, id_col, index, mode="overwrite")


def append_fuzzy_index(
    batch: DataFrame, text_col: str, id_col: str, index: FuzzyIndex
) -> None:
    """Append a new batch's documents to the index (ids must be
    globally unique — caller's contract, as in incremental_dedup).
    Readers re-aggregate per-bucket lists bucket-locally."""
    sh = _fuzzy_shingles(batch, text_col, id_col).localCheckpoint(eager=False)
    _append(sh, id_col, index, mode="append")


def _append(sh: DataFrame, id_col: str, index: FuzzyIndex, mode: str) -> None:
    bands = _fuzzy_bands(sh, id_col, index.num_hashes, index.band_size)
    band_lists = (
        bands.withColumn("bkey", _bkey())
        .groupBy("bkey")
        .agg(F.array_sort(F.collect_set(F.col(id_col))).alias("doc_ids"))
    )
    save_bucketed(
        band_lists,
        index.bands_table,
        "bkey",
        index.n_buckets,
        mode=mode,
        path=index._path("bands"),
    )
    postings = sh.groupBy("shingle").agg(
        F.array_sort(F.collect_set(F.col(id_col))).alias("doc_ids")
    )
    save_bucketed(
        postings,
        index.postings_table,
        "shingle",
        index.n_buckets,
        mode=mode,
        path=index._path("postings"),
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).cast("long").alias("n_sh"))
    save_bucketed(
        sizes,
        index.sizes_table,
        id_col,
        index.n_buckets,
        mode=mode,
        path=index._path("sizes"),
    )


def _old_band_lists(spark, index: FuzzyIndex) -> DataFrame:
    """(bkey, old_ids) — per-bucket indexed-doc lists re-aggregated
    across appended batches; the groupBy key equals the bucket key,
    so NO exchange above the index scan (pinned by tests)."""
    return (
        spark.table(index.bands_table)
        .groupBy("bkey")
        .agg(F.array_sort(F.flatten(F.collect_list("doc_ids"))).alias("old_ids"))
    )


def incremental_fuzzy_matches(
    batch: DataFrame, text_col: str, id_col: str, index: FuzzyIndex
) -> DataFrame:
    """(train_id, eval_id, n_common, n_train, n_eval, jaccard) —
    every indexed document that near-duplicates a ``batch`` document
    at the index's ``min_jaccard``, with ``eval_id`` the batch doc.
    Output contract identical to
    :func:`~.curation.fuzzy_decontaminate` restricted to cross
    (indexed × batch) pairs — see module semantics contract.

    Plan: batch shingles (ONE pass, materialized — feeds bands,
    verify join and eval sizes) → batch band lists → inner join the
    persisted band lists on ``bkey`` (index side bucket-local; only
    MIXED buckets survive, so history-only buckets never explode) →
    combined-membership cap → cross-only candidate explode →
    verify via candidate-bounded join against bucketed postings
    (``array_contains`` on the shingle's indexed-member list) →
    exact-ratio Jaccard against persisted full sizes."""
    from openaq_data_pipeline_spark.catalog import exact_ratio_spark

    spark = batch.sparkSession
    new_sh = _fuzzy_shingles(batch, text_col, id_col).localCheckpoint(eager=False)
    new_lists = (
        _fuzzy_bands(new_sh, id_col, index.num_hashes, index.band_size)
        .withColumn("bkey", _bkey())
        .groupBy("bkey")
        .agg(F.array_sort(F.collect_set(F.col(id_col))).alias("new_ids"))
    )
    joined = new_lists.join(_old_band_lists(spark, index), "bkey")
    if index.max_bucket is not None:
        joined = joined.filter(
            F.size(F.col("new_ids")) + F.size(F.col("old_ids")) <= index.max_bucket
        )
    cross = F.flatten(
        F.transform(
            F.col("old_ids"),
            lambda t: F.transform(
                F.col("new_ids"),
                lambda e: F.struct(t.alias("train_id"), e.alias("eval_id")),
            ),
        )
    )
    cand = (
        joined.select(F.explode(cross).alias("p"))
        .select(F.col("p.train_id"), F.col("p.eval_id"))
        .distinct()
    )
    # verify: per candidate pair, count batch-doc shingles whose
    # indexed posting list contains the train doc. Join key =
    # shingle = the postings bucket key → index side exchange-free;
    # row count = Σ over candidate pairs of n_sh(eval doc) —
    # candidate-bounded, never corpus × corpus
    inter = (
        cand.join(
            new_sh.select(F.col(id_col).alias("eval_id"), "shingle"), "eval_id"
        )
        .join(spark.table(index.postings_table), "shingle")
        .filter(F.array_contains(F.col("doc_ids"), F.col("train_id")))
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    new_sizes = new_sh.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_eval")
    )
    jac = exact_ratio_spark(
        F.col("n_common"), F.col("n_train") + F.col("n_eval") - F.col("n_common")
    )
    return (
        inter.join(
            spark.table(index.sizes_table).select(
                F.col(id_col).alias("train_id"), F.col("n_sh").alias("n_train")
            ),
            "train_id",
        )
        .join(new_sizes.withColumnRenamed(id_col, "eval_id"), "eval_id")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= index.min_jaccard)
        .select("train_id", "eval_id", "n_common", "n_train", "n_eval", "jaccard")
    )


def incremental_fuzzy_dropped_buckets(
    batch: DataFrame, text_col: str, id_col: str, index: FuzzyIndex
) -> DataFrame:
    """(bkey, n_train, n_eval) — the MIXED band buckets the probe
    drops under ``max_bucket`` (empty when the cap is None or nothing
    exceeds it); same observability contract as
    :func:`~.curation.fuzzy_decon_dropped_buckets`. History-only
    buckets are not reported: they generate no pairs to lose."""
    spark = batch.sparkSession
    new_counts = (
        _fuzzy_bands(
            _fuzzy_shingles(batch, text_col, id_col),
            id_col,
            index.num_hashes,
            index.band_size,
        )
        .withColumn("bkey", _bkey())
        .groupBy("bkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_eval"))
    )
    old_counts = _old_band_lists(spark, index).select(
        "bkey", F.size("old_ids").cast("long").alias("n_train")
    )
    grouped = new_counts.join(old_counts, "bkey")
    if index.max_bucket is None:
        return grouped.filter(F.lit(False)).select("bkey", "n_train", "n_eval")
    return grouped.filter(
        F.col("n_train") + F.col("n_eval") > index.max_bucket
    ).select("bkey", "n_train", "n_eval")


def temp_fuzzy_index(
    num_hashes: int = 8,
    band_size: int = 2,
    n_buckets: int = 32,
    min_jaccard: float = 0.5,
    max_bucket: int | None = 2048,
) -> FuzzyIndex:
    """A uniquely-named tempdir-rooted index, for self-contained
    queries/tests; use as a context manager so tables and tempdir
    are dropped on exit (no-residue contract)."""
    from openaq_data_pipeline_spark.tmproots import session_tmpdir

    return FuzzyIndex(
        name=f"fuzzy_idx_{uuid.uuid4().hex}",
        num_hashes=num_hashes,
        band_size=band_size,
        n_buckets=n_buckets,
        min_jaccard=min_jaccard,
        max_bucket=max_bucket,
        location=session_tmpdir("fuzzy_index_"),
    )


# --- incremental SimHash tier (r6: the optional half of VERDICT r5 #3) --


@dataclass(frozen=True)
class SimHashIndex:
    """Handle for a persisted SimHash band index — the second banded
    tier made cross-batch, beside the MinHash :class:`FuzzyIndex`.
    ONE table suffices: the per-bucket member lists carry each
    document's FULL fingerprint (id + all four 16-bit bands), so the
    Hamming verify happens inline on the joined lists with no second
    lookup table.

    ``{name}_bands`` — (bkey, members array<struct<id, b0..b3>>)
    BUCKETED on ``bkey = md5(band_id || '|' || band_val)`` (single
    join column == bucket column, as FuzzyIndex)."""

    name: str
    max_hamming: int = 3
    max_bucket: int | None = 2048
    n_buckets: int = 32
    location: str | None = None

    @property
    def bands_table(self) -> str:
        return f"{self.name}_bands"

    def _path(self, suffix: str) -> str | None:
        return f"{self.location}/{suffix}" if self.location else None

    def drop(self, spark=None) -> None:
        import shutil

        from pyspark.sql import SparkSession

        spark = spark or SparkSession.getActiveSession()
        if spark is not None:
            spark.sql(f"DROP TABLE IF EXISTS {self.bands_table}")
        if self.location:
            shutil.rmtree(self.location, ignore_errors=True)

    def __enter__(self) -> "SimHashIndex":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        self.drop()


def _simhash_band_lists(fp: DataFrame, id_col: str) -> DataFrame:
    """(bkey, members) from a simhash64 fingerprint table — the
    banded bucket topology of `dedup.simhash_near_dup_pairs`
    collapsed to the single-column bucket key."""
    from openaq_data_pipeline_spark.operators.dedup import (
        SIMHASH_BANDS,
    )

    band_cols = [f"b{k}" for k in range(SIMHASH_BANDS)]
    stack_args: list = []
    for k in range(SIMHASH_BANDS):
        stack_args += [F.lit(k), F.col(band_cols[k])]
    bands = fp.select(
        F.struct(F.col(id_col).alias("id"), *band_cols).alias("__m"),
        F.stack(F.lit(SIMHASH_BANDS), *stack_args).alias("band_id", "band_val"),
    ).withColumn(
        "bkey",
        F.md5(
            F.concat_ws(
                "|",
                F.col("band_id").cast("string"),
                F.col("band_val").cast("string"),
            )
        ),
    )
    return bands.groupBy("bkey").agg(
        F.array_sort(F.collect_list(F.col("__m"))).alias("members")
    )


def build_simhash_index(
    corpus: DataFrame, text_col: str, id_col: str, index: SimHashIndex
) -> None:
    """Fingerprint ``corpus`` once and persist the banded member
    lists (overwrite)."""
    _append_simhash(corpus, text_col, id_col, index, mode="overwrite")


def append_simhash_index(
    batch: DataFrame, text_col: str, id_col: str, index: SimHashIndex
) -> None:
    """Append a batch's fingerprinted members (globally unique ids —
    caller's contract); readers re-aggregate bucket-locally."""
    _append_simhash(batch, text_col, id_col, index, mode="append")


def build_simhash_index_fp(
    fp: DataFrame, id_col: str, index: SimHashIndex
) -> None:
    """Fingerprint-level build (r8): the index machinery is
    modality-agnostic — any (id, b0..b3) 64-bit fingerprint source
    persists through the same banded tables, so
    `multimodal.image_phash` output makes this an INCREMENTAL
    image-near-dup index with zero new code paths."""
    _append_simhash_fp(fp, id_col, index, mode="overwrite")


def _append_simhash(
    corpus: DataFrame, text_col: str, id_col: str, index: SimHashIndex, mode: str
) -> None:
    from openaq_data_pipeline_spark.operators.dedup import simhash64

    _append_simhash_fp(simhash64(corpus, text_col, id_col), id_col, index, mode)


def _append_simhash_fp(
    fp: DataFrame, id_col: str, index: SimHashIndex, mode: str
) -> None:
    lists = _simhash_band_lists(fp, id_col)
    save_bucketed(
        lists,
        index.bands_table,
        "bkey",
        index.n_buckets,
        sort=False,
        mode=mode,
        path=index._path("bands"),
    )


def _old_simhash_lists(spark, index: SimHashIndex) -> DataFrame:
    """(bkey, old_members) re-aggregated across appended batches —
    bucket-local, no exchange above the index scan (pinned)."""
    return (
        spark.table(index.bands_table)
        .groupBy("bkey")
        .agg(
            F.array_sort(F.flatten(F.collect_list("members"))).alias(
                "old_members"
            )
        )
    )


def incremental_simhash_matches(
    batch: DataFrame, text_col: str, id_col: str, index: SimHashIndex
) -> DataFrame:
    """(id_a, id_b, hamming) — every (batch doc, indexed doc) pair
    within ``max_hamming``, with ``id_a`` the batch doc. Equals
    `dedup.simhash_near_dup_pairs` over (indexed ∪ batch) restricted
    to cross pairs (fingerprints are per-document; the
    combined-membership cap counts the same bucket totals), which is
    what the driver oracle recomputes from raw text.

    Plan: batch fingerprints → banded lists → inner join the
    persisted lists on ``bkey`` (index side bucket-local; only MIXED
    buckets survive) → combined cap → cross explode with the Hamming
    verify computed INLINE from the member structs (both sides carry
    full fingerprints — no second index lookup) → distinct."""
    from openaq_data_pipeline_spark.operators.dedup import simhash64

    return incremental_simhash_matches_fp(
        simhash64(batch, text_col, id_col), id_col, index
    )


def incremental_simhash_matches_fp(
    fp: DataFrame, id_col: str, index: SimHashIndex
) -> DataFrame:
    """Fingerprint-level probe (r8): same contract as
    :func:`incremental_simhash_matches` for any (id, b0..b3)
    fingerprint source — compose with `multimodal.image_phash` for
    incremental image near-dup against a persisted index."""
    from openaq_data_pipeline_spark.operators.dedup import SIMHASH_BANDS

    spark = fp.sparkSession
    new_lists = _simhash_band_lists(fp, id_col).withColumnRenamed(
        "members", "new_members"
    )
    joined = new_lists.join(_old_simhash_lists(spark, index), "bkey")
    if index.max_bucket is not None:
        joined = joined.filter(
            F.size(F.col("new_members")) + F.size(F.col("old_members"))
            <= index.max_bucket
        )
    cross = F.flatten(
        F.transform(
            F.col("new_members"),
            lambda n: F.transform(
                F.col("old_members"),
                lambda o: F.struct(n.alias("n"), o.alias("o")),
            ),
        )
    )
    pair = (
        joined.select(F.explode(cross).alias("p"))
        .select(F.col("p.n").alias("n"), F.col("p.o").alias("o"))
    )
    hamming = sum(
        F.bit_count(
            F.col(f"n.b{k}").bitwiseXOR(F.col(f"o.b{k}"))
        )
        for k in range(SIMHASH_BANDS)
    ).cast("int")
    return (
        pair.select(
            F.col("n.id").alias("id_a"),
            F.col("o.id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= index.max_hamming)
        .distinct()
    )


def incremental_simhash_dropped_buckets(
    batch: DataFrame, text_col: str, id_col: str, index: SimHashIndex
) -> DataFrame:
    """(bkey, n_old, n_new) — MIXED buckets the probe drops under
    ``max_bucket``; same observability contract as the other capped
    pair generators."""
    from openaq_data_pipeline_spark.operators.dedup import simhash64

    spark = batch.sparkSession
    new_counts = _simhash_band_lists(
        simhash64(batch, text_col, id_col), id_col
    ).select("bkey", F.size("members").cast("long").alias("n_new"))
    old_counts = _old_simhash_lists(spark, index).select(
        "bkey", F.size("old_members").cast("long").alias("n_old")
    )
    grouped = new_counts.join(old_counts, "bkey")
    if index.max_bucket is None:
        return grouped.filter(F.lit(False)).select("bkey", "n_old", "n_new")
    return grouped.filter(
        F.col("n_old") + F.col("n_new") > index.max_bucket
    ).select("bkey", "n_old", "n_new")


def temp_simhash_index(
    max_hamming: int = 3,
    max_bucket: int | None = 2048,
    n_buckets: int = 32,
) -> SimHashIndex:
    """Uniquely-named tempdir-rooted index; context-manage it so the
    table and tempdir drop on exit."""
    from openaq_data_pipeline_spark.tmproots import session_tmpdir

    return SimHashIndex(
        name=f"simhash_idx_{uuid.uuid4().hex}",
        max_hamming=max_hamming,
        max_bucket=max_bucket,
        n_buckets=n_buckets,
        location=session_tmpdir("simhash_index_"),
    )
