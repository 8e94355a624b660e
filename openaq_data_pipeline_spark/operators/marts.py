"""Gold layer: SCD-1 dimension + wide hourly pivot facts.

Parity targets:

- ``dim_locations``        ⇔ ``models/marts/dim_locations.sql:17-33``
- ``mart_location_air_quality`` ⇔ ``models/marts/
  mart_location_air_quality.sql`` (J2 inner join, F7 hour trunc,
  F8 calendar extract, A1 6-col group-by, A2 14-column
  conditional-AVG pivot, F9 round, F13 surrogate key)
- ``mart_location_weather``     ⇔ ``models/marts/
  mart_location_weather.sql`` (A3 5-column pivot with the Fahrenheit
  conversion *inside* the aggregate, wind dir rounded to 0 dp)

Both marts share the J2 join, the hour grain and the 6-column group
set, so :func:`hourly_pivot` computes them together: one join, one
``groupBy`` carrying all 19 pivot columns (14 air-quality + 5
weather). Each mart is a projection of that pivot
(:func:`air_quality_from_pivot`, :func:`weather_from_pivot`); built
alone, Catalyst prunes the other mart's aggregates, so a lone mart
costs what it did as its own aggregation.

Scale notes: the measurement fact is the only big input; enriched
sensors are a dimension (≤ sensors × snapshot days), broadcast into
the J2 join so the fact never shuffles for the join. The single
shuffle is the pivot's hash aggregation on the 6 grouping columns —
keyed by (location, hour), which is high-cardinality and evenly
spread — shared by both marts when they are built from one pivot.
AQE coalesces post-agg partitions.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from openaq_data_pipeline_spark.functions.keys import surrogate_key
from openaq_data_pipeline_spark.functions.scalars import celsius_to_fahrenheit, hour_bucket

# mart column → parameter_id (mart_location_air_quality.sql:71-86)
AIR_QUALITY_PIVOT: dict[str, int] = {
    "pm10_ugm3": 1,
    "pm25_ugm3": 2,
    "pm1_ugm3": 19,
    "um003_particles_cm3": 125,
    "o3_ugm3": 3,
    "co_ugm3": 4,
    "co_ppb": 102,
    "no2_ugm3": 5,
    "no2_ppb": 15,
    "so2_ugm3": 6,
    "so2_ppb": 101,
    "nox_ppb": 23,
    "no_ppb": 24,
    "no_ugm3": 19843,
}

# mart column → (parameter_id, decimals, transform applied inside the
# AVG) (mart_location_weather.sql:70-78)
WEATHER_PIVOT: dict[str, tuple[int, int, Callable[[Column], Column] | None]] = {
    "temp_celsius": (100, 2, None),
    "temp_fahrenheit": (100, 2, celsius_to_fahrenheit),
    "humidity_pct": (98, 2, None),
    "wind_speed_ms": (34, 2, None),
    "wind_direction_deg": (22, 0, None),
}


def conditional_avg(
    parameter_id: Column, value: Column, pid: int, scale: int = 2, transform=None
) -> Column:
    """A2/A3 building block: ``ROUND(AVG(CASE WHEN parameter_id = k
    THEN f(value) END), scale)`` — Catalyst partial-aggregates this
    map-side, so the pivot costs one shuffle total for all columns."""
    v = F.when(parameter_id == pid, transform(value) if transform else value)
    return F.round(F.avg(v), scale)


def air_quality_aggs() -> list[Column]:
    """The A2 pivot: one conditional AVG per :data:`AIR_QUALITY_PIVOT`
    column, over ``parameter_id`` / ``measurement_value``."""
    pid, v = F.col("parameter_id"), F.col("measurement_value")
    return [conditional_avg(pid, v, k).alias(name) for name, k in AIR_QUALITY_PIVOT.items()]


def weather_aggs() -> list[Column]:
    """The A3 pivot: Fahrenheit derived inside the aggregate for
    bit-parity (``mart_location_weather.sql:71``), wind direction at
    0 dp."""
    pid, v = F.col("parameter_id"), F.col("measurement_value")
    return [
        conditional_avg(pid, v, k, scale, transform).alias(name)
        for name, (k, scale, transform) in WEATHER_PIVOT.items()
    ]


def dim_locations(sensors_enriched: DataFrame) -> DataFrame:
    """SCD Type-1 current-location dimension (W2, P6).

    Latest snapshot per location_id by logical_date; the reference's
    tie among same-day sensor rows is harmless (all project identical
    location attributes), so output is deterministic.
    """
    from openaq_data_pipeline_spark.operators.staging import latest_per_key

    latest = latest_per_key(
        sensors_enriched.filter(F.col("location_id").isNotNull()),
        "location_id",
        order_col="logical_date",
    )
    return latest.select(
        "location_id",
        "location_name",
        "country_code",
        "country_name",
        "latitude",
        "longitude",
    ).withColumn("last_updated_utc", F.current_timestamp())


def _joined_hourly(
    valid_measurements: DataFrame,
    sensors_enriched: DataFrame,
    broadcast_sensors: bool = True,
) -> DataFrame:
    """J2 + F7: denormalize measurements with geography and snap
    timestamps to the hour. INNER join on sensor_id alone — fans out
    one measurement per snapshot day of its sensor (reference
    semantics, SURVEY §2.3); the AVG below re-collapses it."""
    s = sensors_enriched.select(
        "sensor_id",
        "location_id",
        "location_name",
        "country_code",
        "latitude",
        "longitude",
    )
    if broadcast_sensors:
        s = F.broadcast(s)
    m = valid_measurements.select(
        "sensor_id",
        "parameter_id",
        "measurement_value",
        hour_bucket(F.col("measured_from_utc")).alias("measurement_hour_utc"),
    )
    return m.join(s, on="sensor_id", how="inner")


_GROUP_COLS = [
    "location_id",
    "location_name",
    "country_code",
    "latitude",
    "longitude",
    "measurement_hour_utc",
]


def _calendar_cols() -> list[Column]:
    """F8: BI calendar columns from the hourly boundary."""
    h = F.col("measurement_hour_utc")
    return [
        F.to_date(h).alias("date_utc"),
        F.year(h).cast("long").alias("year_utc"),
        F.month(h).cast("long").alias("month_utc"),
        F.dayofmonth(h).cast("long").alias("day_utc"),
        F.hour(h).cast("long").alias("hour_utc"),
    ]


def _key_col() -> Column:
    return surrogate_key(
        F.col("location_id").cast("string"),
        F.date_format(F.col("measurement_hour_utc"), "yyyy-MM-dd HH:mm:ss"),
    )


def hourly_pivot(
    valid_measurements: DataFrame,
    sensors_enriched: DataFrame,
    broadcast_sensors: bool = True,
) -> DataFrame:
    """Both marts' aggregation in one pass: the J2 join, then one
    ``groupBy`` on the 6 grouping columns with all 19 pivot columns."""
    joined = _joined_hourly(valid_measurements, sensors_enriched, broadcast_sensors)
    return joined.groupBy(*_GROUP_COLS).agg(*air_quality_aggs(), *weather_aggs())


def air_quality_from_pivot(pivot: DataFrame) -> DataFrame:
    """``mart_location_air_quality`` as a projection of :func:`hourly_pivot`."""
    return pivot.select(
        _key_col().alias("air_quality_record_id"),
        *_GROUP_COLS,
        *_calendar_cols(),
        *AIR_QUALITY_PIVOT,
    )


def weather_from_pivot(pivot: DataFrame) -> DataFrame:
    """``mart_location_weather`` as a projection of :func:`hourly_pivot`."""
    return pivot.select(
        _key_col().alias("weather_record_id"),
        *_GROUP_COLS,
        *_calendar_cols(),
        *WEATHER_PIVOT,
    )


def mart_location_air_quality(
    valid_measurements: DataFrame,
    sensors_enriched: DataFrame,
    broadcast_sensors: bool = True,
) -> DataFrame:
    """Wide hourly air-quality fact (14 pollutant columns)."""
    return air_quality_from_pivot(
        hourly_pivot(valid_measurements, sensors_enriched, broadcast_sensors)
    )


def mart_location_weather(
    valid_measurements: DataFrame,
    sensors_enriched: DataFrame,
    broadcast_sensors: bool = True,
) -> DataFrame:
    """Wide hourly weather fact (5 columns, see :func:`weather_aggs`)."""
    return weather_from_pivot(
        hourly_pivot(valid_measurements, sensors_enriched, broadcast_sensors)
    )
