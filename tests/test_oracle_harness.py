"""The oracle harness must catch type-level divergence locally.

The r9 driver failure (`table_profile_exact`) shipped because DuckDB
types an uncast ``SUM(CASE WHEN ... THEN 1 ELSE 0 END)`` as HUGEINT
(arrow decimal128(38,0)) while Spark emits int64: every value matched,
the driver's *typed* hash didn't, and the Python-normalizing local
harness was blind to it. These tests pin the machine-enforcement of
the BIGINT-cast contract (catalog.py determinism contract)."""

import pytest

from oracle_harness import SF_DIR, OracleTypeError, run_oracle


def test_uncast_sum_oracle_fails_locally():
    # the exact r9 bug shape: SUM over an int CASE → DuckDB HUGEINT
    with pytest.raises(OracleTypeError, match="BIGINT"):
        run_oracle(
            "SELECT SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS n_nulls"
            " FROM documents",
            SF_DIR,
        )


def test_decimal_column_fails_locally():
    # any decimal-typed output column violates the contract (Spark
    # queries here never emit DecimalType)
    with pytest.raises(OracleTypeError):
        run_oracle("SELECT CAST(1 AS DECIMAL(10,2)) AS a", SF_DIR)


def test_cast_sum_oracle_passes():
    pdf = run_oracle(
        "SELECT CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
        " AS n_nulls FROM documents",
        SF_DIR,
    )
    assert len(pdf) == 1


def test_count_star_is_contract_clean():
    # COUNT(*) is already BIGINT in DuckDB — must not be flagged
    pdf = run_oracle("SELECT COUNT(*) AS n FROM documents", SF_DIR)
    assert int(pdf["n"].iloc[0]) >= 0


def test_arrow_width_divergence_fails_locally(spark):
    """int32 (Spark) vs int64 (DuckDB BIGINT) has identical Python
    values but a divergent driver hash — compare() must flag it."""
    from oracle_harness import compare

    sdf = spark.createDataFrame([(1,)], "v int")  # arrow int32
    oracle_pdf = run_oracle("SELECT CAST(1 AS BIGINT) AS v", SF_DIR)
    problems = compare(sdf, oracle_pdf)
    assert problems and "arrow type differs" in problems[0]


def test_arrow_exact_match_passes(spark):
    from oracle_harness import compare

    sdf = spark.createDataFrame([(1,)], "v long")
    oracle_pdf = run_oracle("SELECT CAST(1 AS BIGINT) AS v", SF_DIR)
    assert compare(sdf, oracle_pdf) == []
