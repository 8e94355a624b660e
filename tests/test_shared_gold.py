"""The daily run computes shared silver and gold work once: both hourly
marts project one fused pivot, ``materialize_marts`` pivots one slice
for both MERGEs, the quality suite counts ``relationships`` inside its
child model's aggregate pass, and the high watermark reads only the
newest day partition. Each shortcut must give what the long way gives."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from openaq_data_pipeline_spark import quality as Q
from openaq_data_pipeline_spark.functions.keys import surrogate_key
from openaq_data_pipeline_spark.functions.scalars import celsius_to_fahrenheit, hour_bucket
from openaq_data_pipeline_spark.incremental import (
    AIR_QUALITY_TABLE_SPEC,
    PART_COL,
    WEATHER_TABLE_SPEC,
    IncrementalTable,
    high_watermark,
    incremental_mart,
)
from openaq_data_pipeline_spark.operators.marts import (
    AIR_QUALITY_PIVOT,
    conditional_avg,
    mart_location_air_quality,
    mart_location_weather,
)
from openaq_data_pipeline_spark.plans.runner import PipelinePaths, materialize_marts


def snap(df):
    cols = sorted(df.columns)
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


GROUP = ["location_id", "location_name", "country_code", "latitude", "longitude",
         "measurement_hour_utc"]


def per_mart_aggregations(valid, enriched):
    """The two marts as they were built before the fused pivot: each its
    own J2 join and its own aggregation, pivot columns listed inline."""
    s = F.broadcast(enriched.select("sensor_id", *GROUP[:5]))
    joined = valid.select(
        "sensor_id", "parameter_id", "measurement_value",
        hour_bucket(F.col("measured_from_utc")).alias("measurement_hour_utc"),
    ).join(s, "sensor_id")
    h = F.col("measurement_hour_utc")
    calendar = [
        F.to_date(h).alias("date_utc"),
        F.year(h).cast("long").alias("year_utc"),
        F.month(h).cast("long").alias("month_utc"),
        F.dayofmonth(h).cast("long").alias("day_utc"),
        F.hour(h).cast("long").alias("hour_utc"),
    ]

    def key():
        return surrogate_key(F.col("location_id").cast("string"),
                             F.date_format(h, "yyyy-MM-dd HH:mm:ss"))

    pid, v = F.col("parameter_id"), F.col("measurement_value")
    aq = joined.groupBy(*GROUP).agg(
        *[conditional_avg(pid, v, k).alias(n) for n, k in AIR_QUALITY_PIVOT.items()]
    ).select(key().alias("air_quality_record_id"), *GROUP, *calendar, *AIR_QUALITY_PIVOT)
    weather_cols = ["temp_celsius", "temp_fahrenheit", "humidity_pct", "wind_speed_ms",
                    "wind_direction_deg"]
    wx = joined.groupBy(*GROUP).agg(
        conditional_avg(pid, v, 100).alias("temp_celsius"),
        conditional_avg(pid, v, 100, transform=celsius_to_fahrenheit).alias("temp_fahrenheit"),
        conditional_avg(pid, v, 98).alias("humidity_pct"),
        conditional_avg(pid, v, 34).alias("wind_speed_ms"),
        conditional_avg(pid, v, 22, scale=0).alias("wind_direction_deg"),
    ).select(key().alias("weather_record_id"), *GROUP, *calendar, *weather_cols)
    return aq, wx


class TestFusedPivot:
    def test_marts_equal_per_mart_aggregations(self, pipeline):
        """On the fixture's drift rows (L1 renamed across snapshot days:
        two rows per key) and fan-out rows (each measurement joined to
        two snapshot days), row for row and column for column."""
        models = pipeline["models"]
        valid, enriched = models["int_valid_measurements"], models["int_sensors_enriched"]
        aq, wx = per_mart_aggregations(valid, enriched)
        for fused, old in ((models["mart_location_air_quality"], aq),
                           (models["mart_location_weather"], wx)):
            assert fused.columns == old.columns
            assert fused.schema == old.schema
            assert snap(fused) == snap(old)
        # the fixture really has the drift and fan-out cases
        assert aq.groupBy("air_quality_record_id").count().filter("count > 1").count() == 2
        assert valid.join(enriched.select("sensor_id"), "sensor_id").count() > valid.count()

    def test_lone_mart_prunes_the_other_marts_aggregates(self, pipeline):
        """Built alone, a mart carries only its own pivot columns into
        the aggregate: it costs what its own aggregation did."""
        models = pipeline["models"]
        valid, enriched = models["int_valid_measurements"], models["int_sensors_enriched"]
        aq_plan = mart_location_air_quality(valid, enriched)._jdf.queryExecution() \
            .optimizedPlan().toString()
        wx_plan = mart_location_weather(valid, enriched)._jdf.queryExecution() \
            .optimizedPlan().toString()
        assert "humidity_pct" not in aq_plan and "pm25_ugm3" in aq_plan
        assert "pm25_ugm3" not in wx_plan and "humidity_pct" in wx_plan


def _parts(path) -> list[str]:
    return sorted(d for d in os.listdir(path) if d.startswith(f"{PART_COL}="))


class TestSharedSlice:
    def test_equals_independent_runs_when_watermarks_differ(self, spark, pipeline, tmp_path):
        """One slice at the lower watermark, filtered per mart at its own,
        must land what two independent incremental runs land. Weather
        loses its newest partition, so its watermark regresses to day 1;
        air quality loses its oldest, which a merge at its own (day 2)
        watermark must leave missing."""
        src = pipeline["paths"]
        paths = PipelinePaths(root=str(tmp_path / "wh"), bronze_locations=src.bronze_locations,
                              bronze_measurements=src.bronze_measurements)
        materialize_marts(spark, paths)  # no targets yet: both written in full
        specs = {"mart_location_air_quality": (mart_location_air_quality, AIR_QUALITY_TABLE_SPEC),
                 "mart_location_weather": (mart_location_weather, WEATHER_TABLE_SPEC)}
        gold = {name: os.path.join(paths.root, "gold", name) for name in specs}
        aq, wx = gold["mart_location_air_quality"], gold["mart_location_weather"]
        assert len(_parts(aq)) == len(_parts(wx)) == 2
        shutil.rmtree(os.path.join(wx, _parts(wx)[-1]))
        shutil.rmtree(os.path.join(aq, _parts(aq)[0]))
        hwm = {name: high_watermark(spark, IncrementalTable(path=p, **specs[name][1]))
               for name, p in gold.items()}
        assert hwm["mart_location_weather"] < hwm["mart_location_air_quality"]
        solo = {}
        for name, p in gold.items():
            shutil.copytree(p, p + "_solo")
            solo[name] = IncrementalTable(path=p + "_solo", **specs[name][1])

        shared = materialize_marts(spark, paths)

        models = pipeline["models"]
        valid, enriched = models["int_valid_measurements"], models["int_sensors_enriched"]
        for name, (fn, _) in specs.items():
            alone = incremental_mart(spark, fn, valid, enriched, solo[name])
            assert snap(shared[name]) == snap(alone), name
        assert _parts(aq) == _parts(aq + "_solo") and len(_parts(aq)) == 1
        assert len(_parts(wx)) == 2  # the lost weather partition came back
        full = mart_location_weather(valid, enriched)
        assert snap(shared["mart_location_weather"]) == snap(full)


class TestHighWatermark:
    def test_reads_newest_partition_and_skips_torn_ones(self, spark, pipeline, tmp_path):
        models = pipeline["models"]
        table = IncrementalTable(path=str(tmp_path / "aq"), **AIR_QUALITY_TABLE_SPEC)
        mart = mart_location_air_quality(models["int_valid_measurements"],
                                         models["int_sensors_enriched"])
        incremental_mart(spark, mart_location_air_quality, models["int_valid_measurements"],
                         models["int_sensors_enriched"], table)
        want = mart.agg(F.max("measurement_hour_utc")).first()[0]
        assert high_watermark(spark, table) == want
        # a newer partition directory left empty by a torn commit holds
        # no rows, so it cannot move the watermark
        os.makedirs(os.path.join(table.path, f"{PART_COL}=2099-01-01"))
        assert high_watermark(spark, table) == want
        assert high_watermark(spark, IncrementalTable(
            path=str(tmp_path / "missing"), **AIR_QUALITY_TABLE_SPEC)) is None


class TestFoldedRelationships:
    @pytest.mark.parametrize(
        "check", [c for c in Q.REFERENCE_SUITE if c.kind == "relationships"],
        ids=lambda c: c.name,
    )
    def test_reference_relationship_counts(self, pipeline, check):
        models = pipeline["models"]
        parent, parent_key = check.params
        want = Q.relationship_failures(models[check.model], check.column,
                                       models[parent], parent_key).count()
        (got,) = Q.run_suite(models, [check])
        assert got.failures == want

    def test_null_child_keys_and_duplicate_parent_keys(self, spark):
        """NULL child keys never count; a parent key that repeats cannot
        fan the child out, so the same pass's unique count is intact."""
        child = spark.createDataFrame(
            [(1, 10), (2, 20), (3, None), (4, 99), (5, None), (6, 98)], "id int, k int")
        parent = spark.createDataFrame([(10,), (10,), (20,), (20,), (None,)], "pk int")
        models = {"child": child, "parent": parent}
        checks = [Q.Check("child", "id", "unique"),
                  Q.Check("child", "k", "relationships", ("parent", "pk"))]
        unique, rel = Q.run_suite(models, checks)
        assert unique.failures == 0
        assert rel.failures == Q.relationship_failures(child, "k", parent, "pk").count() == 2
