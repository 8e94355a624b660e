"""Data-quality test executor — the engine's `dbt build` test phase.

The reference tests declaratively at the data level (SURVEY §5): dbt
builtin ``unique`` / ``not_null`` / ``relationships``, custom generic
tests ``is_between`` / ``is_non_negative`` / ``is_not_future_year``
(``openaq_transform/tests/generic/*.sql``), one singular
physical-feasibility assertion
(``tests/intermediate/assert_valid_measurement_ranges.sql:1-37``),
and a source-freshness SLA (``models/staging/src_openaq.yml:8-11``).
This module ports every one of those as DataFrame assertions and
ships the reference's complete manifest (staging.yml +
intermediate.yml + marts.yml + src_openaq.yml) as
:data:`REFERENCE_SUITE`.

Null semantics match dbt exactly:

- ``is_between`` / ``is_non_negative`` / ``is_not_future_year`` are
  SQL ``WHERE col < lo OR col > hi`` style — NULLs never satisfy the
  predicate, so NULLs *pass* (pair with ``not_null`` to forbid them),
- ``relationships`` ignores NULL child keys (dbt's test does).

Scale design: a naive executor runs one Spark job per test — ~40
scans of the same silver lineage. Here every check on a model folds
into ONE aggregate pass (``sum(case when bad then 1)`` per check,
uniqueness via ``count(*) - count(distinct key)`` in the same
aggregate), so a model is scanned once no matter how many column
contracts it carries. ``relationships`` fold in too: the child is
left-joined to its parent's de-duplicated key set, broadcast and
tagged with a hit flag, and the pass counts non-NULL child keys
without a hit. A distinct key set cannot fan child rows out, so the
other counts in the pass are unchanged. Only singular tests need
their own jobs. At 100 TB that is the difference between 40 full
scans and ~4.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Failure-row builders (lazy; use these to *inspect* failing rows)
# ---------------------------------------------------------------------------


def unique_failures(df: DataFrame, cols: str | list[str]) -> DataFrame:
    """dbt ``unique``: keys appearing more than once
    (group-by-key HAVING count>1, staging.yml:9-11)."""
    keys = [cols] if isinstance(cols, str) else list(cols)
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_records"))
        .filter(F.col("n_records") > 1)
    )


def not_null_failures(df: DataFrame, col: str) -> DataFrame:
    """dbt ``not_null`` (staging.yml:10)."""
    return df.filter(F.col(col).isNull())


def between_failures(df: DataFrame, col: str, lo, hi) -> DataFrame:
    """``is_between`` (tests/generic/is_between.sql:4-22):
    ``WHERE field < min OR field > max`` — NULLs pass."""
    c = F.col(col)
    return df.filter((c < F.lit(lo)) | (c > F.lit(hi)))


def non_negative_failures(df: DataFrame, col: str) -> DataFrame:
    """``is_non_negative`` (tests/generic/is_non_negative.sql:1-7)."""
    return df.filter(F.col(col) < 0)


def not_future_year_failures(df: DataFrame, col: str) -> DataFrame:
    """``is_not_future_year`` (tests/generic/is_not_future_year.sql:1-7):
    ``WHERE col > EXTRACT(YEAR FROM CURRENT_DATE())``."""
    return df.filter(F.col(col) > F.year(F.current_date()))


def relationship_failures(
    child: DataFrame,
    child_key: str,
    parent: DataFrame,
    parent_key: str | None = None,
    broadcast: bool = True,
) -> DataFrame:
    """dbt ``relationships`` (staging.yml:64-68): child keys with no
    parent row. NULL child keys are ignored (dbt semantics). The
    parent key set is deduplicated and, by default, broadcast — in
    the OpenAQ schema every parent is a dimension, so the fact side
    never shuffles. Pass ``broadcast=False`` for fact-sized parents
    (AQE then picks shuffle vs broadcast from runtime stats)."""
    pk = parent_key or child_key
    parent_keys = parent.select(F.col(pk).alias(child_key)).distinct()
    if broadcast:
        parent_keys = F.broadcast(parent_keys)
    return (
        child.filter(F.col(child_key).isNotNull())
        .join(parent_keys, child_key, "left_anti")
    )


def invalid_measurement_rows(int_valid_measurements: DataFrame) -> DataFrame:
    """Singular physical-feasibility test — the inverse of the P5
    validity predicate (assert_valid_measurement_ranges.sql:1-37);
    a passing dataset yields 0 rows."""
    pid = F.col("parameter_id")
    v = F.col("measurement_value")
    out_of_range = (
        F.when(pid == 100, (v < -80) | (v > 60))
        .when(pid == 22, (v < 0) | (v > 360))
        .when(pid == 98, (v < 0) | (v > 100))
        .otherwise(v < 0)
    )
    return int_valid_measurements.filter(
        (F.col("has_flags") == True) | out_of_range  # noqa: E712
    )


# ---------------------------------------------------------------------------
# Declarative checks + single-pass executor
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Check:
    """One test from the manifest. ``kind`` names the dbt test it
    ports; all but ``singular`` fold into the per-model aggregate
    pass, ``unique``/``relationships``/``singular`` carry the extra
    structure they need."""

    model: str
    column: str | None
    kind: str  # unique | not_null | is_between | is_non_negative |
    #            is_not_future_year | relationships | singular
    params: tuple = ()
    severity: str = "error"  # dbt default; freshness uses warn/error

    @property
    def name(self) -> str:
        col = f".{self.column}" if self.column else ""
        return f"{self.kind}:{self.model}{col}"


@dataclass
class QualityResult:
    check: Check
    failures: int

    @property
    def passed(self) -> bool:
        return self.failures == 0


def _bad_predicate(check: Check) -> Column:
    """Row-level failure predicate for fold-able checks (NULL input →
    NULL predicate → not counted, matching dbt's WHERE semantics)."""
    c = F.col(check.column)
    if check.kind == "not_null":
        return c.isNull()
    if check.kind == "is_between":
        lo, hi = check.params
        return (c < F.lit(lo)) | (c > F.lit(hi))
    if check.kind == "is_non_negative":
        return c < 0
    if check.kind == "is_not_future_year":
        return c > F.year(F.current_date())
    raise ValueError(f"not a predicate check: {check.kind}")


def run_suite(
    models: dict[str, DataFrame],
    checks: list[Check],
    singulars: dict[str, Callable[[dict[str, DataFrame]], DataFrame]] | None = None,
) -> list[QualityResult]:
    """Execute a manifest. One aggregate job per model covers all its
    row-local checks, uniqueness and relationships; one job per
    singular test."""
    singulars = dict(singulars or {})
    results: list[QualityResult] = []

    by_model: dict[str, list[Check]] = {}
    singular_checks: list[Check] = []
    for ch in checks:
        if ch.kind == "singular":
            singular_checks.append(ch)
        else:
            by_model.setdefault(ch.model, []).append(ch)

    for model, model_checks in by_model.items():
        df = models[model]
        aggs = []
        for i, ch in enumerate(model_checks):
            if ch.kind == "relationships":
                parent_model, parent_key = ch.params
                hit = f"_hit{i}"
                parent_keys = (
                    models[parent_model]
                    .select(F.col(parent_key).alias(ch.column))
                    .distinct()
                    .withColumn(hit, F.lit(True))
                )
                df = df.join(F.broadcast(parent_keys), ch.column, "left")
                orphan = F.col(ch.column).isNotNull() & F.col(hit).isNull()
                aggs.append(F.sum(F.when(orphan, 1).otherwise(0)).alias(f"c{i}"))
            elif ch.kind == "unique":
                keys = [ch.column] if isinstance(ch.column, str) else list(ch.column)
                key = keys[0] if len(keys) == 1 else F.concat_ws("\x1f", *keys)
                # excess duplicate rows: 0 iff every key is unique
                aggs.append(
                    (F.count(key) - F.count_distinct(key)).alias(f"c{i}")
                )
            else:
                aggs.append(
                    F.sum(F.when(_bad_predicate(ch), 1).otherwise(0)).alias(f"c{i}")
                )
        row = df.agg(*aggs).first()
        for i, ch in enumerate(model_checks):
            results.append(QualityResult(ch, int(row[f"c{i}"] or 0)))

    for ch in singular_checks:
        fails = singulars[ch.model](models)
        results.append(QualityResult(ch, fails.count()))

    return results


# ---------------------------------------------------------------------------
# Source freshness (src_openaq.yml:8-11)
# ---------------------------------------------------------------------------


@dataclass
class FreshnessResult:
    source: str
    max_loaded_at: object
    age_hours: float | None
    status: str  # pass | warn | error


def source_freshness(
    df: DataFrame,
    loaded_at_col: str = "_audit_extracted_at",
    warn_after_hours: float = 24.0,
    error_after_hours: float = 48.0,
    source: str = "source",
    now=None,
) -> FreshnessResult:
    """``dbt source freshness``: age of ``max(loaded_at)`` vs warn /
    error thresholds (warn 24h / error 48h in the reference). An
    empty source is an ``error`` (no signal ≙ stalest possible)."""
    row = df.agg(
        F.max(F.col(loaded_at_col).cast("timestamp")).alias("m"),
        (F.coalesce(F.lit(now), F.current_timestamp())).alias("now"),
    ).first()
    if row["m"] is None:
        return FreshnessResult(source, None, None, "error")
    age = (row["now"] - row["m"]).total_seconds() / 3600.0
    status = "pass" if age < warn_after_hours else (
        "warn" if age < error_after_hours else "error"
    )
    return FreshnessResult(source, row["m"], age, status)


# ---------------------------------------------------------------------------
# The reference's complete manifest
# ---------------------------------------------------------------------------

def _c(model, column, kind, *params, severity="error"):
    return Check(model, column, kind, tuple(params), severity)


REFERENCE_SUITE: list[Check] = [
    # --- sources (src_openaq.yml:14-39) ---
    _c("raw_locations", "_audit_run_id", "not_null"),
    _c("raw_locations", "_audit_logical_date", "not_null"),
    _c("raw_measurements", "_audit_sensor_id", "not_null"),
    _c("raw_measurements", "_audit_logical_date", "not_null"),
    # --- staging.yml: stg_openaq__locations ---
    _c("stg_openaq__locations", "record_id", "unique"),
    _c("stg_openaq__locations", "record_id", "not_null"),
    _c("stg_openaq__locations", "location_id", "not_null"),
    _c("stg_openaq__locations", "location_id", "is_non_negative"),
    _c("stg_openaq__locations", "latitude", "not_null"),
    _c("stg_openaq__locations", "latitude", "is_between", -90, 90),
    _c("stg_openaq__locations", "longitude", "not_null"),
    _c("stg_openaq__locations", "longitude", "is_between", -180, 180),
    # --- staging.yml: stg_openaq__measurements ---
    _c("stg_openaq__measurements", "measurement_id", "unique"),
    _c("stg_openaq__measurements", "measurement_id", "not_null"),
    _c("stg_openaq__measurements", "sensor_parameter_key", "not_null"),
    _c("stg_openaq__measurements", "sensor_parameter_key", "relationships",
       "stg_openaq__sensors", "sensor_parameter_key"),
    _c("stg_openaq__measurements", "sensor_id", "not_null"),
    _c("stg_openaq__measurements", "sensor_id", "is_non_negative"),
    _c("stg_openaq__measurements", "parameter_id", "not_null"),
    _c("stg_openaq__measurements", "parameter_id", "is_non_negative"),
    _c("stg_openaq__measurements", "measurement_value", "not_null"),
    _c("stg_openaq__measurements", "measured_from_utc", "not_null"),
    _c("stg_openaq__measurements", "measured_to_utc", "not_null"),
    _c("stg_openaq__measurements", "measurement_interval", "not_null"),
    # --- staging.yml: stg_openaq__sensors ---
    _c("stg_openaq__sensors", "sensor_record_id", "unique"),
    _c("stg_openaq__sensors", "sensor_record_id", "not_null"),
    _c("stg_openaq__sensors", "sensor_parameter_key", "not_null"),
    _c("stg_openaq__sensors", "location_id", "not_null"),
    _c("stg_openaq__sensors", "location_id", "is_non_negative"),
    _c("stg_openaq__sensors", "location_id", "relationships",
       "stg_openaq__locations", "location_id"),
    _c("stg_openaq__sensors", "sensor_id", "not_null"),
    _c("stg_openaq__sensors", "sensor_id", "is_non_negative"),
    _c("stg_openaq__sensors", "parameter_id", "not_null"),
    _c("stg_openaq__sensors", "parameter_id", "is_non_negative"),
    # --- intermediate.yml ---
    _c("int_sensors_enriched", "sensor_record_id", "unique"),
    _c("int_sensors_enriched", "sensor_record_id", "not_null"),
    _c("int_valid_measurements", "measured_from_utc", "not_null"),
    # --- marts.yml: mart_location_weather ---
    _c("mart_location_weather", "weather_record_id", "unique"),
    _c("mart_location_weather", "weather_record_id", "not_null"),
    _c("mart_location_weather", "location_id", "relationships",
       "dim_locations", "location_id"),
    # --- marts.yml: mart_location_air_quality ---
    _c("mart_location_air_quality", "air_quality_record_id", "unique"),
    _c("mart_location_air_quality", "air_quality_record_id", "not_null"),
    _c("mart_location_air_quality", "location_id", "relationships",
       "dim_locations", "location_id"),
    _c("mart_location_air_quality", "year_utc", "is_not_future_year"),
    _c("mart_location_air_quality", "month_utc", "is_between", 1, 12),
    _c("mart_location_air_quality", "day_utc", "is_between", 1, 31),
    _c("mart_location_air_quality", "hour_utc", "is_between", 0, 23),
    # --- marts.yml: dim_locations ---
    _c("dim_locations", "location_id", "unique"),
    _c("dim_locations", "location_id", "not_null"),
    # --- singular (tests/intermediate/assert_valid_measurement_ranges.sql) ---
    Check("int_valid_measurements", None, "singular"),
]

REFERENCE_SINGULARS: dict[str, Callable[[dict[str, DataFrame]], DataFrame]] = {
    "int_valid_measurements": lambda m: invalid_measurement_rows(
        m["int_valid_measurements"]
    ),
}


class QualitySuiteError(AssertionError):
    """Raised by :func:`assert_suite` with every failing check."""


def assert_suite(results: list[QualityResult]) -> None:
    failed = [r for r in results if not r.passed and r.check.severity == "error"]
    if failed:
        lines = "\n".join(f"  {r.check.name}: {r.failures} failures" for r in failed)
        raise QualitySuiteError(f"{len(failed)} quality checks failed:\n{lines}")
