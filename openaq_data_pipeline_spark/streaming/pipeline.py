"""Structured Streaming restatement of the transform DAG
(SURVEY §2.9).

The reference has no true streaming runtime — its "stream" is daily
micro-batching: an Airflow Dataset emitted on bronze success triggers
the transform DAG (``dags/01_openaq_ingestion.py:35,226-229``,
``dags/02_openaq_transformation.py:19,34``), and late data is handled
by the incremental lookback + MERGE. This module maps each of those
onto the native Spark constructs:

| reference mechanism              | here                             |
|----------------------------------|----------------------------------|
| Dataset-trigger on bronze files  | ``readStream`` file source on    |
|                                  | the bronze directory             |
| daily cron / catchup             | ``Trigger.AvailableNow`` (batch- |
|                                  | like drain) or processingTime    |
| hourly TIMESTAMP_TRUNC group-by  | 1-hour tumbling ``F.window``     |
| incremental ``>=`` lookback      | event-time watermark             |
| MERGE on unique_key              | ``foreachBatch`` → the same      |
|                                  | partition-scoped merge_upsert    |

Documented semantic deltas vs the reference (SURVEY §2.9, §7.4.6):

1. **Late data**: the reference silently drops rows strictly older
   than the target's max hour. A watermark with allowed lateness is a
   *superset* — rows up to ``lateness`` late still update their hour;
   only older ones drop. Set ``lateness="0 seconds"`` to approximate
   the reference floor.
2. **Dedup**: batch W1 keeps the *latest-extracted* row per key
   (descending sort); ``dropDuplicatesWithinWatermark`` keeps the
   *first-seen* within the watermark. Identical whenever re-extracted
   payloads are identical (the common case); divergent under true
   value drift. Callers needing exact W1 semantics run the batch
   path (the reference itself is a batch pipeline).

Scale notes: the stream-static J2 join broadcasts the enriched-sensor
dimension per micro-batch; state is bounded by (locations × hours
within watermark), evicted as the watermark advances; file-source
backpressure via ``maxFilesPerTrigger`` mirrors the reference's rate
limiting (``extract_measurements.py:145``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openaq_data_pipeline_spark import schemas
from openaq_data_pipeline_spark.functions.keys import surrogate_key
from openaq_data_pipeline_spark.incremental import IncrementalTable, merge_upsert
from openaq_data_pipeline_spark.operators.intermediate import physical_validity
from openaq_data_pipeline_spark.operators.marts import (
    AIR_QUALITY_PIVOT,
    WEATHER_PIVOT,
    air_quality_aggs,
    weather_aggs,
)
from openaq_data_pipeline_spark.operators.staging import measurements_projection


def stream_raw_measurements(
    spark: SparkSession,
    bronze_path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over the bronze measurements directory —
    the Dataset-trigger equivalent: new bronze files arriving (daily
    loads) wake the transform."""
    reader = spark.readStream.schema(schemas.RAW_MEASUREMENTS)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(bronze_path)


def stream_stg_measurements(
    raw_stream: DataFrame,
    lateness: str = "2 hours",
    dedup: bool = True,
) -> DataFrame:
    """Streaming staging: typed projection + watermark + in-stream
    dedup (first-seen per measurement_id within the watermark — see
    module docstring, delta #2)."""
    proj = measurements_projection(raw_stream)
    s = proj.withWatermark("measured_from_utc", lateness)
    if dedup:
        s = s.dropDuplicatesWithinWatermark(["measurement_id"])
    return s


def _stream_hourly_mart(
    stg_stream: DataFrame,
    sensors_enriched: DataFrame,
    aggs: list,
    pivot_names: list[str],
    key_name: str,
    broadcast_sensors: bool = True,
) -> DataFrame:
    """Shared streaming mart skeleton: P4+P5 validity filter →
    stream-static J2 join → 1-hour tumbling window pivot aggregation
    → the batch mart's output schema.

    The watermark must already be on ``stg_stream`` (set in
    :func:`stream_stg_measurements`); append-mode sinks emit each
    (location, hour) row once, when the watermark passes the hour.
    """
    valid = stg_stream.filter(
        (F.col("has_flags") == False)  # noqa: E712 — null-rejecting, per reference
        & physical_validity(F.col("parameter_id"), F.col("measurement_value"))
    )
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
    joined = valid.select(
        "sensor_id", "parameter_id", "measurement_value", "measured_from_utc"
    ).join(s, "sensor_id", "inner")

    grouped = joined.groupBy(
        F.window("measured_from_utc", "1 hour").alias("w"),
        "location_id",
        "location_name",
        "country_code",
        "latitude",
        "longitude",
    ).agg(*aggs)

    h = F.col("w.start")
    return grouped.select(
        surrogate_key(
            F.col("location_id").cast("string"),
            F.date_format(h, "yyyy-MM-dd HH:mm:ss"),
        ).alias(key_name),
        "location_id",
        "location_name",
        "country_code",
        "latitude",
        "longitude",
        h.alias("measurement_hour_utc"),
        F.to_date(h).alias("date_utc"),
        F.year(h).cast("long").alias("year_utc"),
        F.month(h).cast("long").alias("month_utc"),
        F.dayofmonth(h).cast("long").alias("day_utc"),
        F.hour(h).cast("long").alias("hour_utc"),
        *pivot_names,
    )


def stream_mart_air_quality(
    stg_stream: DataFrame,
    sensors_enriched: DataFrame,
    broadcast_sensors: bool = True,
) -> DataFrame:
    """Streaming hourly air-quality mart (14-column pollutant pivot)."""
    return _stream_hourly_mart(
        stg_stream,
        sensors_enriched,
        air_quality_aggs(),
        list(AIR_QUALITY_PIVOT),
        "air_quality_record_id",
        broadcast_sensors,
    )


def stream_mart_weather(
    stg_stream: DataFrame,
    sensors_enriched: DataFrame,
    broadcast_sensors: bool = True,
) -> DataFrame:
    """Streaming hourly weather mart — the A3 pivot with Fahrenheit
    derived inside the aggregate, wind direction at 0 dp
    (mart_location_weather.sql:70-78)."""
    return _stream_hourly_mart(
        stg_stream,
        sensors_enriched,
        weather_aggs(),
        list(WEATHER_PIVOT),
        "weather_record_id",
        broadcast_sensors,
    )


def write_stream_append(
    mart_stream: DataFrame,
    path: str,
    checkpoint: str,
    available_now: bool = True,
):
    """Append-mode parquet sink: each hourly row lands exactly once,
    after the watermark closes its window. Rows for hours still
    inside the watermark are withheld until more data (or a no-data
    micro-batch) advances it — the streaming analogue of the
    reference's "next day's run fills yesterday's last hours"."""
    writer = (
        mart_stream.writeStream.outputMode("append")
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_stream_merge(
    mart_stream: DataFrame,
    table: IncrementalTable,
    checkpoint: str,
    available_now: bool = True,
):
    """Update-mode ``foreachBatch`` → the same partition-scoped MERGE
    the batch incremental sink uses (incremental.merge_upsert). Each
    micro-batch carries the hourly rows it changed; merging on the
    record key upserts them — windows update in place as late rows
    arrive, and the result is readable mid-stream (unlike append,
    nothing is withheld)."""

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merge_upsert(batch_df.sparkSession, table, batch_df)

    writer = (
        mart_stream.writeStream.outputMode("update")
        .foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts: str,
    right_ts: str,
    tolerance: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: pair each left event with every
    right event of the SAME key whose timestamp falls within
    ``±tolerance`` of it — the streaming operator behind
    measurement↔calibration alignment, click↔impression attribution
    and sensor cross-validation, where BOTH sides arrive
    continuously and neither can be a static broadcast.

    This is the one join shape Structured Streaming can run with
    BOUNDED state: the watermark on each side plus the event-time
    range condition lets the engine evict buffered rows once
    ``watermark + tolerance`` has passed — state is
    O(rate · (watermark + tolerance)) per side, independent of
    stream lifetime. Without the time-range condition Spark would
    have to buffer both streams forever (and rejects the plan);
    ``watermark`` must therefore be >= the business tolerance for
    completeness, and late rows beyond it are dropped, not joined —
    the standard completeness/latency trade every watermark
    encodes.

    Column contract: apart from ``key_col`` (equi-joined, emitted
    once) the two schemas must not overlap — the usual prefix
    discipline of the staging layer. ``how`` supports the
    state-compatible variants (inner; left_outer/right_outer emit
    the unmatched side only after watermark expiry)."""
    overlap = (set(left.columns) & set(right.columns)) - {key_col}
    if overlap:
        raise ValueError(
            f"ambiguous columns {sorted(overlap)}: prefix one side "
            "(only the join key may be shared)"
        )
    lw = left.withWatermark(left_ts, watermark).alias("l")
    rw = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key_col}") == F.col(f"r.{key_col}"))
        & (
            F.col(f"r.{right_ts}")
            >= F.col(f"l.{left_ts}") - F.expr(f"INTERVAL {tolerance}")
        )
        & (
            F.col(f"r.{right_ts}")
            <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {tolerance}")
        )
    )
    joined = lw.join(rw, cond, how)
    # emit the shared key once (coalesced: an outer join's unmatched
    # side leaves its counterpart NULL); everything else passes through
    keep = [
        F.coalesce(
            F.col(f"l.{key_col}"), F.col(f"r.{key_col}")
        ).alias(key_col)
    ] + [
        F.col(f"l.{c}") for c in left.columns if c != key_col
    ] + [F.col(f"r.{c}") for c in right.columns if c != key_col]
    return joined.select(*keep)
