"""Core operator queries (SURVEY §2 reference inventory) on the
driver's TPC-H-ish tables, each paired with its DuckDB oracle.

The `events` table plays the measurements fact (timestamped values,
typed by `event_type` the way measurements are typed by
`parameter_id`), `customer`/`nation`/`orders` play the dimension
side. Every query is the idiomatic-Spark restatement of a reference
operator cited in the docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from openaq_data_pipeline_spark.catalog import (
    DATE_FMT_DUCK,
    DATE_FMT_SPARK,
    HOUR_FMT_DUCK,
    HOUR_FMT_SPARK,
    exact_avg_duck,
    exact_avg_spark,
    load,
    register,
    sk_duck,
    sk_spark,
)

# ---------------------------------------------------------------------------
# P5 validity CASE on events — mirror of int_valid_measurements.sql:23-35
# (temperature/wind-dir/humidity ranges keyed by parameter_id).
# ---------------------------------------------------------------------------


def _validity(col_type, col_value):
    return (
        F.when(col_type == "error", col_value.between(0, 100))
        .when(col_type == "click", col_value.between(0, 360))
        .when(col_type == "signup", col_value.between(0, 100))
        .otherwise(col_value >= 0)
    )


_VALID_DUCK = """
        CASE
            WHEN event_type = 'error' THEN value BETWEEN 0 AND 100
            WHEN event_type = 'click' THEN value BETWEEN 0 AND 360
            WHEN event_type = 'signup' THEN value BETWEEN 0 AND 100
            ELSE value >= 0
        END
"""

_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]

def _pivot_duck_lines() -> str:
    lines = []
    for t in _EVENT_TYPES:
        cond = "event_type = '%s'" % t
        lines.append(f"        {exact_avg_duck('value', cond)} AS {t}_avg,")
    return "\n".join(lines)


_PIVOT_DUCK = _pivot_duck_lines()


@register(
    "mart_hourly_activity",
    "A1,A2,F7,F8,F9,F13,P5 — hourly conditional-AVG pivot mart "
    "(mart_location_air_quality.sql:38-95 restated on events)",
    oracle=f"""
WITH valid AS (
    SELECT * FROM events WHERE {_VALID_DUCK}
), hourly AS (
    SELECT user_id, date_trunc('hour', ts) AS h,
{_PIVOT_DUCK}
        CAST(count(*) AS BIGINT) AS n_events,
        round(sum(value), 2) AS total_value
    FROM valid GROUP BY user_id, date_trunc('hour', ts)
)
SELECT
    {sk_duck("CAST(user_id AS VARCHAR)", f"strftime(h, '{HOUR_FMT_DUCK}')")} AS activity_record_id,
    user_id,
    strftime(h, '{HOUR_FMT_DUCK}') AS hour_utc,
    strftime(h, '{DATE_FMT_DUCK}') AS date_utc,
    CAST(year(h) AS BIGINT) AS year_utc,
    CAST(month(h) AS BIGINT) AS month_utc,
    CAST(day(h) AS BIGINT) AS day_utc,
    CAST(hour(h) AS BIGINT) AS hour_of_day,
    click_avg, view_avg, purchase_avg, signup_avg, error_avg,
    n_events, total_value
FROM hourly
""",
    tags=["flagship", "bench"],
)
def mart_hourly_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the air-quality hourly pivot restated on events —
    validity CASE filter (P5), hour truncation (F7), 6-way pivot via
    conditional AVG (A2), calendar extraction (F8), MD5 record key
    (F13). One shuffle total: the hash aggregate on (user, hour)."""
    e = load(spark, sf_dir, "events")["events"]
    valid = e.filter(_validity(F.col("event_type"), F.col("value")))
    h = F.date_trunc("hour", F.col("ts"))
    pivots = [
        exact_avg_spark(F.col("value"), cond=F.col("event_type") == t).alias(
            f"{t}_avg"
        )
        for t in _EVENT_TYPES
    ]
    grouped = valid.groupBy(F.col("user_id"), h.alias("h")).agg(
        *pivots,
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    hh = F.col("h")
    return grouped.select(
        sk_spark(
            F.col("user_id").cast("string"), F.date_format(hh, HOUR_FMT_SPARK)
        ).alias("activity_record_id"),
        "user_id",
        F.date_format(hh, HOUR_FMT_SPARK).alias("hour_utc"),
        F.date_format(hh, DATE_FMT_SPARK).alias("date_utc"),
        F.year(hh).cast("long").alias("year_utc"),
        F.month(hh).cast("long").alias("month_utc"),
        F.dayofmonth(hh).cast("long").alias("day_utc"),
        F.hour(hh).cast("long").alias("hour_of_day"),
        *[f"{t}_avg" for t in _EVENT_TYPES],
        "n_events",
        "total_value",
    )


@register(
    "dim_latest_order_per_customer",
    "W2,P6 — SCD-1 latest snapshot (dim_locations.sql:24-25)",
    oracle=f"""
SELECT o_custkey AS custkey, o_orderkey AS orderkey,
       strftime(o_orderdate, '{DATE_FMT_DUCK}') AS orderdate,
       o_totalprice AS totalprice, o_orderstatus AS orderstatus
FROM orders
WHERE o_custkey IS NOT NULL
QUALIFY ROW_NUMBER() OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC
) = 1
""",
)
def dim_latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")["orders"]
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        o.filter(F.col("o_custkey").isNotNull())
        .withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.date_format("o_orderdate", DATE_FMT_SPARK).alias("orderdate"),
            F.col("o_totalprice").alias("totalprice"),
            F.col("o_orderstatus").alias("orderstatus"),
        )
    )


@register(
    "int_valid_events",
    "P5 — per-type physical-range predicate "
    "(int_valid_measurements.sql:23-35)",
    oracle=f"""
SELECT event_id, user_id, event_type, value
FROM events WHERE {_VALID_DUCK}
""",
)
def int_valid_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")["events"]
    return e.filter(_validity(F.col("event_type"), F.col("value"))).select(
        "event_id", "user_id", "event_type", "value"
    )


@register(
    "revenue_by_order",
    "J2,A1 — fact-to-dim denormalizing inner join + group aggregate "
    "(mart_location_air_quality.sql:41-44,89-95; TPC-H Q3 shape)",
    oracle=f"""
SELECT l_orderkey AS orderkey,
       strftime(o_orderdate, '{DATE_FMT_DUCK}') AS orderdate,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))), 2) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey, strftime(o_orderdate, '{DATE_FMT_DUCK}')
""",
    tags=["bench"],
)
def revenue_by_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "customer", "orders", "lineitem")
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = t["orders"].select("o_orderkey", "o_custkey", "o_orderdate")
    # customer is the small side → broadcast into orders; the joined
    # (orders ⋈ customer) dim is still ≪ lineitem → broadcast again so
    # the fact table never shuffles for the join.
    dim = orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
    li = t["lineitem"].select("l_orderkey", "l_extendedprice", "l_discount")
    # exact DECIMAL arithmetic so ROUND is engine-independent (money
    # values are 2-dp; products are exact at 4 dp)
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(12,2)")
    )
    return (
        li.join(F.broadcast(dim), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.date_format("o_orderdate", DATE_FMT_SPARK).alias("orderdate"),
        )
        .agg(
            F.round(F.sum(rev), 2).cast("double").alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )


@register(
    "hwm_incremental_slice",
    "P7,A4 — high-watermark scalar-subquery predicate "
    "(mart_location_air_quality.sql:16-19)",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS total_value
FROM events
WHERE ts >= (SELECT max(ts) - INTERVAL 7 DAY FROM events)
GROUP BY event_type
""",
)
def hwm_incremental_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental lookback: only rows past (max watermark − 7 days)
    are reprocessed. Expressed as a scalar subquery so Catalyst plans
    one lightweight max() pass + a pruned main scan."""
    load(spark, sf_dir, "events")
    return spark.sql(
        """
        SELECT event_type,
               CAST(count(*) AS LONG) AS n_events,
               round(sum(value), 2) AS total_value
        FROM events
        WHERE ts >= (SELECT max(ts) - INTERVAL 7 DAY FROM events)
        GROUP BY event_type
        """
    )
