"""Planted near-duplicates over the driver's documents table, shared
by the dedup plan gates and behaviour tests."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def mutated_corpus(documents: DataFrame) -> DataFrame:
    """documents ∪ truncated copies (last five words dropped, id+100000)
    of every 5th document with ≥ 8 words, restricted to documents of
    at least three words so 3-gram shingling is well-defined."""
    w = F.split(F.col("text"), " ")
    mutated = documents.filter(
        (F.col("doc_id") % 5 == 0) & (F.size(w) >= 8)
    ).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat_ws(" ", F.slice(w, 1, F.size(w) - 5)).alias("text"),
    )
    return (
        documents.select("doc_id", "text")
        .unionByName(mutated)
        .filter(F.size(F.split("text", " ")) >= 3)
    )


def jaccard_pairs(documents: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(corpus, pairs): the mutated corpus and its posting-list
    Jaccard pairs at threshold 0.5."""
    from openaq_data_pipeline_spark.catalog import fan_out
    from openaq_data_pipeline_spark.operators import dedup as D

    # fan_out: the regex+explode shingle build runs in the scan stage,
    # which on a one-file input is a single task without it
    corpus = mutated_corpus(fan_out(documents))
    sh = D.shingles(corpus, "text", "doc_id", n=3, distinct=False)
    return corpus, D.jaccard_pairs(
        sh, "doc_id", min_jaccard=0.5, max_doc_freq=1000
    )


def minhash_lsh_pairs(documents: DataFrame) -> DataFrame:
    """MinHash (8 hashes) + LSH banding (bands of 2) over the mutated
    corpus."""
    from openaq_data_pipeline_spark.operators import dedup as D

    corpus = mutated_corpus(documents)
    sh = D.shingles(corpus, "text", "doc_id", n=3, distinct=False)
    sig = D.minhash_signatures(sh, "doc_id", num_hashes=8)
    return D.lsh_candidate_pairs(sig, "doc_id", num_hashes=8, band_size=2)
