"""Batch runner: lake → bronze → staging → intermediate → gold.

Replaces the reference's two Airflow DAGs (SURVEY §3.1-3.2):
``01_openaq_ingestion`` becomes :func:`ingest` (NDJSON lake → bronze
parquet, count-based branching) and ``02_openaq_transformation``
becomes :func:`transform` (the whole dbt model graph as one lazy
DataFrame lineage — Catalyst sees every layer end-to-end, strictly
more optimization scope than the reference's per-model BigQuery
jobs). Branch operators (``dags/01:104-117``) become plain ``if
count > 0`` driver logic.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openaq_data_pipeline_spark import schemas
from openaq_data_pipeline_spark.operators.intermediate import (
    int_sensors_enriched,
    int_valid_measurements,
)
from openaq_data_pipeline_spark.operators.marts import (
    air_quality_from_pivot,
    dim_locations,
    hourly_pivot,
    weather_from_pivot,
)
from openaq_data_pipeline_spark.operators.staging import (
    stg_locations,
    stg_measurements,
    stg_sensors,
)
from openaq_data_pipeline_spark.sources.bronze import load_bronze


@dataclass
class PipelinePaths:
    root: str
    lake_locations: str = ""
    lake_measurements: str = ""
    bronze_locations: str = field(default="")
    bronze_measurements: str = field(default="")

    def __post_init__(self):
        self.bronze_locations = self.bronze_locations or os.path.join(
            self.root, "bronze", "raw_locations"
        )
        self.bronze_measurements = self.bronze_measurements or os.path.join(
            self.root, "bronze", "raw_measurements"
        )


def ingest(spark: SparkSession, paths: PipelinePaths, mode: str = "overwrite") -> dict[str, int]:
    """Lake NDJSON → date-partitioned bronze parquet (S9), clustered
    like the reference (measurements sorted within partitions on
    ``[_audit_sensor_id, _audit_extracted_at]``, ``dags/01:191``).
    Returns row counts (the reference's branch signal, A6)."""
    counts = {}
    counts["raw_locations"] = load_bronze(
        spark,
        paths.lake_locations,
        schemas.RAW_LOCATIONS,
        paths.bronze_locations,
        mode=mode,
    )
    counts["raw_measurements"] = load_bronze(
        spark,
        paths.lake_measurements,
        schemas.RAW_MEASUREMENTS,
        paths.bronze_measurements,
        cluster_by=["_audit_sensor_id", "_audit_extracted_at"],
        mode=mode,
    )
    return counts


def _bronze(spark: SparkSession, paths: PipelinePaths) -> tuple[DataFrame, DataFrame]:
    return (
        spark.read.schema(schemas.RAW_LOCATIONS).parquet(paths.bronze_locations),
        spark.read.schema(schemas.RAW_MEASUREMENTS).parquet(paths.bronze_measurements),
    )


def transform(spark: SparkSession, paths: PipelinePaths) -> dict[str, DataFrame]:
    """The full dbt-graph equivalent as lazy DataFrames.

    Nothing materializes here — callers pick which outputs to write
    (or test). All models share the two bronze scans; both hourly
    marts are projections of one ``hourly_pivot`` (returned too, so a
    caller can persist it once for both)."""
    raw_locations, raw_measurements = _bronze(spark, paths)
    locations = stg_locations(raw_locations)
    sensors = stg_sensors(raw_locations)
    measurements = stg_measurements(raw_measurements)
    valid = int_valid_measurements(measurements)
    enriched = int_sensors_enriched(sensors, locations)
    pivot = hourly_pivot(valid, enriched)

    return {
        "raw_locations": raw_locations,
        "raw_measurements": raw_measurements,
        "stg_openaq__locations": locations,
        "stg_openaq__sensors": sensors,
        "stg_openaq__measurements": measurements,
        "int_valid_measurements": valid,
        "int_sensors_enriched": enriched,
        "hourly_pivot": pivot,
        "dim_locations": dim_locations(enriched),
        "mart_location_air_quality": air_quality_from_pivot(pivot),
        "mart_location_weather": weather_from_pivot(pivot),
    }


def materialize_marts(
    spark: SparkSession,
    paths: PipelinePaths,
    full_refresh: bool = False,
) -> dict[str, DataFrame]:
    """Incremental (MERGE) materialization of both gold marts — the
    reference's ``materialized='incremental', unique_key=…`` contract
    (S12/P7). Each run recomputes only measurements at/after the
    target's high watermark and MERGEs on the record key; day
    partitions outside the lookback are never rewritten.

    Both marts come from one slice: valid measurements at/after the
    lower of the two watermarks, pivoted once and localCheckpoint-ed.
    Each mart's incoming rows are its projection at/after its own
    watermark — exact, because a watermark is an hour boundary, so
    ``measured_from_utc >= hwm`` iff ``measurement_hour_utc >= hwm``."""
    from openaq_data_pipeline_spark import incremental as inc

    raw_locations, raw_measurements = _bronze(spark, paths)
    valid = int_valid_measurements(stg_measurements(raw_measurements))
    enriched = int_sensors_enriched(stg_sensors(raw_locations), stg_locations(raw_locations))
    marts = {
        "mart_location_air_quality": (air_quality_from_pivot, inc.AIR_QUALITY_TABLE_SPEC),
        "mart_location_weather": (weather_from_pivot, inc.WEATHER_TABLE_SPEC),
    }
    tables = {
        name: inc.IncrementalTable(path=os.path.join(paths.root, "gold", name), **spec)
        for name, (_, spec) in marts.items()
    }
    hwms = {
        name: None if full_refresh else inc.high_watermark(spark, table)
        for name, table in tables.items()
    }
    if None not in hwms.values():
        valid = valid.filter(F.col("measured_from_utc") >= F.lit(min(hwms.values())))
    pivot = hourly_pivot(valid, enriched).localCheckpoint(eager=True)
    out = {}
    for name, (project, _) in marts.items():
        sliced, hwm = project(pivot), hwms[name]
        if hwm is not None:
            sliced = sliced.filter(F.col("measurement_hour_utc") >= F.lit(hwm))
        out[name] = inc.commit_slice(spark, tables[name], sliced, hwm)
    return out


def build(
    spark: SparkSession,
    paths: PipelinePaths,
    freshness: bool = True,
    raise_on_failure: bool = True,
):
    """The reference's ``dbt source freshness && dbt build`` contract
    (``dags/02_openaq_transformation.py:41-47``): transform the full
    model graph, then run the complete ported test manifest
    (quality.REFERENCE_SUITE). Staging models and the hourly pivot are
    persisted for the duration of the suite — each staging model is
    referenced by several checks and both marts, and both marts
    project the one pivot, so caching turns ~8 recomputations of the
    silver lineage into one and computes the gold aggregation once."""
    from openaq_data_pipeline_spark import quality as Q

    models = transform(spark, paths)
    cached = [
        models[m]
        for m in (
            "stg_openaq__locations",
            "stg_openaq__sensors",
            "stg_openaq__measurements",
            "hourly_pivot",
        )
    ]
    for df in cached:
        df.persist()
    try:
        freshness_results = []
        if freshness:
            for src in ("raw_locations", "raw_measurements"):
                freshness_results.append(
                    Q.source_freshness(models[src], source=src)
                )
        results = Q.run_suite(models, Q.REFERENCE_SUITE, Q.REFERENCE_SINGULARS)
        if raise_on_failure:
            Q.assert_suite(results)
            stale = [f for f in freshness_results if f.status == "error"]
            if stale:
                raise Q.QualitySuiteError(
                    f"stale sources: {[(f.source, f.age_hours) for f in stale]}"
                )
        return models, results, freshness_results
    finally:
        for df in cached:
            df.unpersist()
