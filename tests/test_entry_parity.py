"""Spark-vs-DuckDB parity for every catalog query (the driver's t2
gate, run locally at sf0.001 for speed; set PARITY_SF_DIR to run at
sf0.01 exactly like the driver), and for the Spark-builtin
demonstrations in ``builtin_queries``."""

from __future__ import annotations

import pytest

from builtin_queries import BUILTIN_QUERIES
from openaq_data_pipeline_spark.catalog import registry
from oracle_harness import SF_DIR, compare, run_oracle

QUERIES = registry() + BUILTIN_QUERIES


@pytest.mark.parametrize("qdef", QUERIES, ids=[q.name for q in QUERIES])
def test_parity(spark, qdef):
    df = qdef.build(spark, SF_DIR)
    if qdef.oracle is None:
        assert df.count() >= 0  # rows-only check, mirrors driver
    else:
        oracle_pdf = run_oracle(qdef.oracle, SF_DIR)
        problems = compare(df, oracle_pdf)
        assert not problems, f"{qdef.name}: {problems}"
    # no query may park df.persist() blocks in the shared session's
    # CacheManager (VERDICT r2 #7): shared subplans materialize via
    # lazy localCheckpoint (ContextCleaner-collected) or scoped
    # persist/unpersist, never an unowned cache entry
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        f"{qdef.name} left persisted blocks in the shared session"
    )


def test_entry_smoke(spark):
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    assert df.count() > 0
    names = set(entrymod.queries())
    oracle = entrymod.oracle_sql()
    assert set(oracle) <= names
