"""Skew mitigation: salted two-stage aggregation.

The reference never needs this (BigQuery hides shuffle strategy), but
at 100 TB a ``groupBy`` on a low-cardinality or Zipf-distributed key
(event_type, country_code, a hot location) concentrates a huge key's
rows in one reducer. AQE's skew-join splitting (on in session.py)
covers joins; for aggregations the classic fix is salting:

    stage 1: group by (key, salt) — the hot key's rows spread over
             ``n_salts`` reducers, each computing a partial;
    stage 2: group by key — combines ≤ n_salts partial rows per key.

Only algebraic measures decompose this way (count/sum/min/max, and
avg as sum+count); the helper refuses anything else rather than
silently computing a wrong two-stage median.

The salt must be deterministic (task retries must re-produce the same
row→salt mapping or shuffle-file reuse breaks): it is
``pmod(xxhash64(salt_cols...), n)``, defaulting to every input column.

Results are bit-identical to the single-stage ``groupBy`` — the tests
assert it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"

# measure -> (stage-1 partial, stage-2 combiner)
_COMBINERS = {
    "count": (F.count, F.sum),
    "sum": (F.sum, F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


def add_salt(df: DataFrame, n_salts: int, salt_cols: list[str] | None = None) -> DataFrame:
    """Deterministic row salt in [0, n_salts)."""
    cols = [F.col(c) for c in (salt_cols or df.columns)]
    return df.withColumn(SALT_COL, F.pmod(F.xxhash64(*cols), F.lit(n_salts)))


def salted_two_stage_agg(
    df: DataFrame,
    keys: list[str],
    measures: dict[str, tuple[str, Column]],
    n_salts: int = 16,
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """``df.groupBy(keys).agg(...)`` with the shuffle spread over
    ``(keys, salt)`` first. ``measures`` maps output name →
    (combiner, input column); combiner ∈ count|sum|min|max."""
    for name, (kind, _) in measures.items():
        if kind not in _COMBINERS:
            raise ValueError(
                f"measure {name!r}: {kind!r} does not decompose into "
                f"two algebraic stages (supported: {sorted(_COMBINERS)})"
            )
    salted = add_salt(df, n_salts, salt_cols)
    stage1 = salted.groupBy(*keys, SALT_COL).agg(
        *[
            _COMBINERS[kind][0](expr).alias(name)
            for name, (kind, expr) in measures.items()
        ]
    )
    return stage1.groupBy(*keys).agg(
        *[
            _COMBINERS[kind][1](F.col(name)).alias(name)
            for name, (kind, _) in measures.items()
        ]
    )
