"""DuckDB restatement of the reference models, for the mart oracle.

Builds the two gold marts straight from the generated lake rows (never
from anything the engine wrote): latest-per-key dedup of locations,
sensors and measurements, the validity filter, the J1 snapshot join,
the J2 fan-out join on ``sensor_id`` and the hourly conditional-AVG
pivots. :class:`MartOracle` also replays the incremental rule: each
daily run recomputes only hours at or after the target's high
watermark and replaces target rows on the record key, so rows older
than the watermark are dropped.

``ROUND(AVG(x), s)`` is restated as Spark evaluates it — half-up on the
double's shortest decimal form — so the comparison can be exact.
"""

from __future__ import annotations

import hashlib

import duckdb
import pyarrow as pa

from openaq_data_pipeline_spark.functions.keys import NULL_SENTINEL
from openaq_data_pipeline_spark.operators.marts import AIR_QUALITY_PIVOT

GROUP_COLS = ["location_id", "location_name", "country_code", "latitude", "longitude"]
HOUR_FMT = "%Y-%m-%d %H:%M:%S"


def _round(expr: str, scale: int) -> str:
    return (f"CAST(round(CAST(CAST({expr} AS VARCHAR) AS DECIMAL(38, 12)), {scale}) "
            f"AS DOUBLE)")


def _avg(pid: int, value: str = "value", scale: int = 2) -> str:
    return _round(f"avg(CASE WHEN parameter_id = {pid} THEN {value} END)", scale)


MART_COLUMNS = {
    "mart_location_air_quality": ("air_quality_record_id", [
        f"{_avg(pid)} AS {name}" for name, pid in AIR_QUALITY_PIVOT.items()]),
    "mart_location_weather": ("weather_record_id", [
        f"{_avg(100)} AS temp_celsius",
        f"{_avg(100, 'value * 9 / 5 + 32')} AS temp_fahrenheit",
        f"{_avg(98)} AS humidity_pct",
        f"{_avg(34)} AS wind_speed_ms",
        f"{_avg(22, scale=0)} AS wind_direction_deg",
    ]),
}


def _tables(lake: dict, n_days: int) -> dict[str, pa.Table]:
    locs = {k: [] for k in ("day", "location_id", "logical_date", "extracted_at", "run_id",
                            "location_name", "country_code", "latitude", "longitude")}
    sensors = {k: [] for k in ("day", "location_id", "logical_date", "extracted_at",
                               "run_id", "sensor_id")}
    meas = {k: [] for k in ("day", "sensor_id", "parameter_id", "value", "ts",
                            "has_flags", "extracted_at", "run_id")}
    for d in range(n_days):
        for r in lake["locations"][d]:
            data = r["data"]
            audit = (d, data["id"], r["_audit_logical_date"], r["_audit_extracted_at"],
                     r["_audit_run_id"])
            for k, v in zip(("day", "location_id", "logical_date", "extracted_at", "run_id"),
                            audit):
                locs[k].append(v)
            locs["location_name"].append(data["name"])
            locs["country_code"].append(data["country"]["code"])
            locs["latitude"].append(float(data["coordinates"]["latitude"]))
            locs["longitude"].append(float(data["coordinates"]["longitude"]))
            for s in data.get("sensors") or []:
                for k, v in zip(("day", "location_id", "logical_date", "extracted_at",
                                 "run_id"), audit):
                    sensors[k].append(v)
                sensors["sensor_id"].append(s["id"])
        for r in lake["measurements"][d]:
            data = r["data"]
            meas["day"].append(d)
            meas["sensor_id"].append(r["_audit_sensor_id"])
            meas["parameter_id"].append(data["parameter"]["id"])
            meas["value"].append(float(data["value"]))
            meas["ts"].append(data["period"]["datetimeFrom"]["utc"])
            meas["has_flags"].append(data["flagInfo"].get("hasFlags"))
            meas["extracted_at"].append(r["_audit_extracted_at"])
            meas["run_id"].append(r["_audit_run_id"])
    return {"locs": pa.table(locs), "loc_sensors": pa.table(sensors),
            "meas": pa.table(meas)}


class MartOracle:
    """Gold marts as the reference computes them over a generated lake."""

    def __init__(self, lake: dict, n_days: int):
        self.con = duckdb.connect()
        for name, table in _tables(lake, n_days).items():
            self.con.register(f"{name}_arrow", table)
            self.con.execute(f"CREATE TABLE {name} AS SELECT * FROM {name}_arrow")
            self.con.unregister(f"{name}_arrow")
        self.gold: dict[str, bool] = {}

    def _mart_sql(self, mart: str, days: int, hwm: str | None) -> str:
        key, aggs = MART_COLUMNS[mart]
        since = f"AND ts >= TIMESTAMP '{hwm}'" if hwm else ""
        return f"""
WITH loc AS (
    SELECT * FROM locs WHERE day < {days}
    QUALIFY row_number() OVER (PARTITION BY location_id, logical_date
                               ORDER BY extracted_at DESC, run_id DESC) = 1
), sens AS (
    SELECT * FROM loc_sensors WHERE day < {days}
    QUALIFY row_number() OVER (PARTITION BY sensor_id, logical_date
                               ORDER BY extracted_at DESC, run_id DESC) = 1
), enriched AS (
    SELECT s.sensor_id, l.location_id, l.location_name, l.country_code,
           l.latitude, l.longitude
    FROM sens s LEFT JOIN loc l
      ON s.location_id = l.location_id AND s.logical_date = l.logical_date
), m AS (
    SELECT sensor_id, parameter_id, value, has_flags,
           CAST(replace(replace(ts, 'T', ' '), 'Z', '') AS TIMESTAMP) AS ts
    FROM meas WHERE day < {days}
    QUALIFY row_number() OVER (PARTITION BY sensor_id, parameter_id, meas.ts
                               ORDER BY extracted_at DESC, run_id DESC) = 1
), valid AS (
    SELECT * FROM m
    WHERE has_flags = false
      AND CASE WHEN parameter_id = 100 THEN value BETWEEN -80 AND 60
               WHEN parameter_id = 22 THEN value BETWEEN 0 AND 360
               WHEN parameter_id = 98 THEN value BETWEEN 0 AND 100
               ELSE value >= 0 END
      {since}
), g AS (
    SELECT {", ".join("e." + c for c in GROUP_COLS)},
           date_trunc('hour', v.ts) AS h,
           {", ".join(aggs)}
    FROM valid v JOIN enriched e ON v.sensor_id = e.sensor_id
    GROUP BY ALL
)
SELECT md5(concat_ws('-', coalesce(CAST(location_id AS VARCHAR), '{NULL_SENTINEL}'),
                          coalesce(strftime(h, '{HOUR_FMT}'), '{NULL_SENTINEL}'))) AS {key},
       {", ".join(GROUP_COLS)},
       strftime(h, '{HOUR_FMT}') AS measurement_hour_utc,
       CAST(CAST(h AS DATE) AS VARCHAR) AS date_utc,
       year(h) AS year_utc, month(h) AS month_utc, day(h) AS day_utc, hour(h) AS hour_utc,
       {", ".join(a.rsplit(" AS ", 1)[1] for a in aggs)}
FROM g
"""

    def full_refresh(self, mart: str, days: int) -> None:
        self.con.execute(f"CREATE OR REPLACE TABLE gold_{mart} AS "
                         f"{self._mart_sql(mart, days, None)}")
        self.gold[mart] = True

    def incremental(self, mart: str, days: int) -> None:
        """One daily run: slice at/after the high watermark, MERGE on key."""
        key = MART_COLUMNS[mart][0]
        hwm = self.con.execute(
            f"SELECT max(measurement_hour_utc) FROM gold_{mart}").fetchone()[0]
        self.con.execute(f"CREATE OR REPLACE TEMP TABLE slice AS "
                         f"{self._mart_sql(mart, days, hwm)}")
        self.con.execute(f"DELETE FROM gold_{mart} WHERE {key} IN (SELECT {key} FROM slice)")
        self.con.execute(f"INSERT INTO gold_{mart} SELECT * FROM slice")

    def rows(self, mart: str) -> list[tuple]:
        return self.con.execute(f"SELECT * FROM gold_{mart}").fetchall()


def spark_rows(spark, path: str) -> tuple[list[tuple], list[str]]:
    """A gold table as the oracle renders it: hours and dates as text."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path).drop("_part_date")
    df = df.withColumn("measurement_hour_utc",
                       F.date_format("measurement_hour_utc", "yyyy-MM-dd HH:mm:ss"))
    df = df.withColumn("date_utc", F.col("date_utc").cast("string"))
    return [tuple(r) for r in df.collect()], df.columns


def digest(rows: list[tuple]) -> str:
    """Order-insensitive hash of a row multiset (floats at 9 digits)."""
    canon = sorted(
        repr(tuple(round(v, 9) if isinstance(v, float) else v for v in r)) for r in rows
    )
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()
