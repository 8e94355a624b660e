"""Spark-builtin query demonstrations, parity-checked against DuckDB.

Each query here exercises only Spark builtins (window frames, ROLLUP,
set operations, sketches, UNPIVOT, semi/anti joins, ...) and the
catalog's shared renderers — no engine operator. They are not part of
the driver's catalog (:func:`catalog.registry`); ``test_entry_parity``
runs them next to it, so each builtin keeps a Spark-vs-DuckDB check
on the same ``sf*/`` tables. SURVEY §2 ids lead each description.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from openaq_data_pipeline_spark.catalog import (
    HOUR_FMT_DUCK,
    HOUR_FMT_SPARK,
    TS_FMT_DUCK,
    TS_FMT_SPARK,
    QueryDef,
    exact_avg_duck,
    exact_avg_spark,
    exact_ratio_duck,
    exact_ratio_spark,
    load,
    sk_duck,
    sk_spark,
    ts_str,
)

BUILTIN_QUERIES: list[QueryDef] = []


def builtin_query(name: str, operators: str, oracle: str):
    def deco(fn):
        BUILTIN_QUERIES.append(QueryDef(name, operators, fn, oracle))
        return fn

    return deco


@builtin_query(
    "stg_dedup_latest",
    "W1 — latest-per-key window dedup (stg_openaq__*.sql QUALIFY "
    "ROW_NUMBER()=1), deterministic tiebreak",
    oracle=f"""
SELECT user_id, event_type, event_id, value,
       strftime(ts, '{TS_FMT_DUCK}') AS ts_utc
FROM events
QUALIFY ROW_NUMBER() OVER (
    PARTITION BY user_id, event_type
    ORDER BY ts DESC, event_id DESC
) = 1
""",
)
def stg_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest event per (user, type): the staging idempotency dedup.
    Single hash-shuffle on the key; Spark's window-group-limit
    optimization prunes to top-1 per partition map-side."""
    e = load(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "event_type",
            "event_id",
            "value",
            F.date_format("ts", TS_FMT_SPARK).alias("ts_utc"),
        )
    )


@builtin_query(
    "locality_coalesce_chain",
    "P3,F4,F5,F6 — NULL-safe fallback chain with split/replace "
    "(stg_openaq__locations.sql:20-24)",
    oracle="""
SELECT c_custkey AS custkey,
       coalesce(
           CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_name END,
           CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_mktsegment END,
           replace(string_split(n_name || '/' || replace(n_name, ' ', '_'), '/')[2], '_', ' ')
       ) AS locality
FROM customer JOIN nation ON c_nationkey = n_nationkey
""",
)
def locality_coalesce_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministically NULLed name fields falling back through the
    reference's COALESCE → SPLIT[SAFE_OFFSET] → REPLACE chain.
    The nation side is broadcast (25 rows)."""
    t = load(spark, sf_dir, "customer", "nation")
    c = t["customer"].join(
        F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey")
    )
    path = F.concat_ws("/", F.col("n_name"), F.regexp_replace("n_name", " ", "_"))
    return c.select(
        F.col("c_custkey").alias("custkey"),
        F.coalesce(
            F.when(F.col("c_custkey") % 3 == 0, F.lit(None)).otherwise(F.col("c_name")),
            F.when(F.col("c_custkey") % 5 == 0, F.lit(None)).otherwise(
                F.col("c_mktsegment")
            ),
            F.regexp_replace(F.split(path, "/").getItem(1), "_", " "),
        ).alias("locality"),
    )


@builtin_query(
    "surrogate_keys",
    "F13 — dbt_utils-compatible MD5 surrogate key incl. NULL sentinel "
    "(stg_openaq__locations.sql:13)",
    oracle=f"""
SELECT n_nationkey,
       {sk_duck("CAST(n_nationkey AS VARCHAR)", "CASE WHEN n_regionkey = 0 THEN NULL ELSE CAST(n_regionkey AS VARCHAR) END", "n_name")} AS record_key
FROM nation
""",
)
def surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load(spark, sf_dir, "nation")["nation"]
    return n.select(
        "n_nationkey",
        sk_spark(
            F.col("n_nationkey").cast("string"),
            F.when(F.col("n_regionkey") == 0, F.lit(None)).otherwise(
                F.col("n_regionkey").cast("string")
            ),
            F.col("n_name"),
        ).alias("record_key"),
    )


@builtin_query(
    "snapshot_left_join",
    "J1 — LEFT join on composite (key, logical_date), right-side "
    "NULL preserved (int_sensors_enriched.sql:32-37)",
    oracle=f"""
WITH dim AS (
    SELECT user_id, CAST(ts AS DATE) AS snapshot_date,
           round(max(value), 2) AS snapshot_max
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id, CAST(ts AS DATE)
)
SELECT e.event_id, e.user_id,
       strftime(e.ts, '{TS_FMT_DUCK}') AS ts_utc,
       d.snapshot_max
FROM events e
LEFT JOIN dim d
  ON e.user_id = d.user_id AND CAST(e.ts AS DATE) = d.snapshot_date
""",
)
def snapshot_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal snapshot alignment: a per-(user, day) dimension built
    from purchase events left-joined back to the fact on the
    composite key. Dimension is small → broadcast (the fact side
    never shuffles)."""
    e = load(spark, sf_dir, "events")["events"]
    dim = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.to_date("ts").alias("snapshot_date"))
        .agg(F.round(F.max("value"), 2).alias("snapshot_max"))
    )
    ev = e.alias("e")
    d = F.broadcast(dim).alias("d")
    return ev.join(
        d,
        (F.col("e.user_id") == F.col("d.user_id"))
        & (F.to_date(F.col("e.ts")) == F.col("d.snapshot_date")),
        "left",
    ).select(
        F.col("e.event_id").alias("event_id"),
        F.col("e.user_id").alias("user_id"),
        F.date_format(F.col("e.ts"), TS_FMT_SPARK).alias("ts_utc"),
        F.col("d.snapshot_max").alias("snapshot_max"),
    )


@builtin_query(
    "ri_violations",
    "J3,A8 — referential-integrity anti-join test (staging.yml:64-68): "
    "lineitem suppliers must exist; healthy data → empty result",
    oracle="""
SELECT DISTINCT l_suppkey AS orphan_suppkey
FROM lineitem
ANTI JOIN supplier ON l_suppkey = s_suppkey
""",
)
def ri_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "lineitem", "supplier")
    return (
        t["lineitem"]
        .join(
            F.broadcast(t["supplier"]),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .select(F.col("l_suppkey").alias("orphan_suppkey"))
        .distinct()
    )


@builtin_query(
    "parts_never_ordered",
    "J3 — anti-join, non-empty case (unreferenced parent keys)",
    oracle="""
SELECT p_partkey, p_name
FROM part
ANTI JOIN lineitem ON p_partkey = l_partkey
""",
)
def parts_never_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "part", "lineitem")
    return t["part"].join(
        t["lineitem"], F.col("p_partkey") == F.col("l_partkey"), "left_anti"
    ).select("p_partkey", "p_name")


@builtin_query(
    "union_snapshots_distinct",
    "U1,U2,A5 — append-style UNION ALL of overlapping daily slices "
    "+ distinct (dags/01 WRITE_APPEND + set-union of ids)",
    oracle="""
WITH unioned AS (
    SELECT * FROM events WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-01-10'
    UNION ALL
    SELECT * FROM events WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-15'
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct
FROM unioned GROUP BY event_type
""",
)
def union_snapshots_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")["events"]
    d = F.to_date("ts")
    s1 = e.filter(d.between("2024-01-01", "2024-01-10"))
    s2 = e.filter(d.between("2024-01-05", "2024-01-15"))
    return (
        s1.unionByName(s2)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("event_id").cast("long").alias("n_distinct"),
        )
    )


@builtin_query(
    "freshness_by_type",
    "A7 — source-freshness SLA (src_openaq.yml:8-11): hours since "
    "last record vs warn 24h / error 48h thresholds",
    oracle="""
SELECT event_type,
       CAST(floor((epoch(TIMESTAMP '2024-02-01 00:00:00') - epoch(max(ts))) / 3600) AS BIGINT) AS hours_stale,
       CASE
           WHEN (epoch(TIMESTAMP '2024-02-01 00:00:00') - epoch(max(ts))) / 3600 > 48 THEN 'error'
           WHEN (epoch(TIMESTAMP '2024-02-01 00:00:00') - epoch(max(ts))) / 3600 > 24 THEN 'warn'
           ELSE 'pass'
       END AS freshness_status
FROM events GROUP BY event_type
""",
)
def freshness_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness vs a pinned as-of timestamp (deterministic stand-in
    for now())."""
    e = load(spark, sf_dir, "events")["events"]
    asof = F.to_timestamp(F.lit("2024-02-01 00:00:00"))
    lag_h = (asof.cast("long") - F.max("ts").cast("long")) / 3600
    return e.groupBy("event_type").agg(
        F.floor(lag_h).cast("long").alias("hours_stale"),
        F.when(lag_h > 48, "error")
        .when(lag_h > 24, "warn")
        .otherwise("pass")
        .alias("freshness_status"),
    )


@builtin_query(
    "unique_violations",
    "A8 — dbt `unique` test as group-by-key HAVING count>1 "
    "(staging.yml:9-11)",
    oracle="""
SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
FROM events
GROUP BY user_id, event_type
HAVING count(*) > 1
""",
)
def unique_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")["events"]
    return (
        e.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .filter(F.col("n") > 1)
    )


@builtin_query(
    "topk_orders_per_segment",
    "O1,W1 — per-group top-k by ordered window (generalizes the "
    "reference's per-group top-1)",
    oracle=f"""
SELECT c_mktsegment AS segment, rnk, o_orderkey AS orderkey, o_totalprice AS totalprice
FROM (
    SELECT c_mktsegment, o_orderkey, o_totalprice,
           ROW_NUMBER() OVER (
               PARTITION BY c_mktsegment
               ORDER BY o_totalprice DESC, o_orderkey ASC
           ) AS rnk
    FROM orders JOIN customer ON o_custkey = c_custkey
)
WHERE rnk <= 3
""",
)
def topk_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "orders", "customer")
    joined = t["orders"].join(
        F.broadcast(t["customer"].select("c_custkey", "c_mktsegment")),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        joined.withColumn("rnk", F.row_number().over(w))
        .filter("rnk <= 3")
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.col("rnk").cast("long").alias("rnk"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_totalprice").alias("totalprice"),
        )
    )


@builtin_query(
    "events_json_extract",
    "F1,P1 — schema-on-read scalar extraction from a "
    "semi-structured column (JSON_VALUE ≈20 call sites in staging)",
    oracle="""
SELECT event_id,
       CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT) AS k_value
FROM events
""",
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `props` JSON string column stands in for the bronze `data`
    column; extraction + cast mirrors JSON_VALUE + CAST. (The OpenAQ
    pipeline itself parses with a declared struct schema — see
    operators/staging.py; regexp keeps this oracle engine-neutral.)"""
    e = load(spark, sf_dir, "events")["events"]
    return e.select(
        "event_id",
        F.regexp_extract("props", r'"k":\s*(\d+)', 1).cast("long").alias("k_value"),
    )


@builtin_query(
    "events_variant_extract",
    "F1/§1.3 — schema-on-read via Spark 4 VariantType (parse_json + "
    "try_variant_get), the maximal drift-tolerance regime SURVEY §1.2 "
    "maps BigQuery's JSON type onto; aggregated per event_type",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum
FROM events
GROUP BY event_type
""",
)
def events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unlike :func:`events_json_extract` (regexp ≈ JSON_VALUE), this
    path parses ``props`` into a VariantType value and extracts with
    ``try_variant_get`` — no declared schema, unknown fields survive,
    and extraction stays columnar (variant binary encoding) instead of
    re-running a regexp per row."""
    e = load(spark, sf_dir, "events")["events"]
    # try_parse_json: a malformed props row must yield NULL (and drop
    # out of the aggregate) exactly like the oracle's json_extract —
    # strict parse_json would fail the whole query on one bad row
    k = F.try_variant_get(F.try_parse_json("props"), "$.k", "long")
    return (
        e.select("event_type", k.alias("__k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("__k").cast("long").alias("k_sum"),
        )
    )


@builtin_query(
    "explode_words",
    "F2,A1 — array UNNEST/explode + aggregate "
    "(stg_openaq__sensors.sql:34-35)",
    oracle="""
SELECT word, CAST(count(*) AS BIGINT) AS n
FROM (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents
)
WHERE word <> ''
GROUP BY word
""",
)
def explode_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")["documents"]
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


@builtin_query(
    "pricing_summary",
    "A1,F9 — multi-aggregate group-by (TPC-H Q1 shape; the engine's "
    "heaviest single-shuffle aggregation)",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_qty,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_base_price,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) * (1 + CAST(l_tax AS DECIMAL(12,2)))), 2) AS DOUBLE) AS sum_charge,
       {exact_avg_duck('l_quantity')} AS avg_qty,
       {exact_avg_duck('l_extendedprice')} AS avg_price,
       {exact_avg_duck('l_discount', in_scale=2, out_scale=4)} AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(12,2)")
    tax = F.col("l_tax").cast("decimal(12,2)")
    li = load(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_quantity").cast("decimal(12,2)")), 2)
            .cast("double")
            .alias("sum_qty"),
            F.round(F.sum(price), 2).cast("double").alias("sum_base_price"),
            F.round(F.sum(price * (F.lit(1) - disc)), 2)
            .cast("double")
            .alias("sum_disc_price"),
            F.round(F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax)), 2)
            .cast("double")
            .alias("sum_charge"),
            exact_avg_spark(F.col("l_quantity")).alias("avg_qty"),
            exact_avg_spark(F.col("l_extendedprice")).alias("avg_price"),
            exact_avg_spark(F.col("l_discount"), out_scale=4).alias("avg_disc"),
            F.count(F.lit(1)).cast("long").alias("count_order"),
        )
    )


@builtin_query(
    "weather_pivot_conversion",
    "A3,F10 — conditional-AVG pivot with the unit conversion inside the "
    "aggregate (mart_location_weather.sql:70-78: AVG(CASE WHEN id=100 THEN "
    "v*9/5+32 END)), wind-direction analogue rounded to 0 dp",
    oracle=f"""
SELECT user_id,
       {exact_avg_duck('value', "event_type = 'view'", in_scale=2)} AS view_raw,
       {exact_avg_duck('value * 9 / 5 + 32', "event_type = 'view'", in_scale=4)} AS view_converted,
       {exact_avg_duck('value', "event_type = 'click'", in_scale=2, out_scale=0)} AS click_deg
FROM events
GROUP BY user_id
""",
)
def weather_pivot_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weather-mart shape: same source column pivoted twice with a
    derivation applied *inside* the AVG (reference keeps °C and °F as
    sibling aggregate columns) plus a 0-dp rounded pivot (wind
    direction). Exact integer-scaled averaging on both engines."""
    e = load(spark, sf_dir, "events")["events"]
    v, t = F.col("value"), F.col("event_type")
    return e.groupBy("user_id").agg(
        exact_avg_spark(v, cond=t == "view", in_scale=2).alias("view_raw"),
        exact_avg_spark(v * 9 / 5 + 32, cond=t == "view", in_scale=4).alias(
            "view_converted"
        ),
        exact_avg_spark(v, cond=t == "click", in_scale=2, out_scale=0).alias(
            "click_deg"
        ),
    )


@builtin_query(
    "session_windows",
    "EXT-sessionize — per-user session windows with a 30-minute "
    "inactivity gap (F.session_window; the oracle is the classic "
    "gaps-and-islands SQL, proving the operator's relational "
    "semantics). Sessions: event count + span seconds",
    oracle=f"""
WITH marked AS (
    SELECT user_id, ts,
           CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     > INTERVAL 30 MINUTE
                     OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                THEN 1 ELSE 0 END AS is_start
    FROM events
),
islands AS (
    SELECT user_id, ts,
           sum(is_start) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING
           ) AS session_no
    FROM marked
)
SELECT user_id,
       CAST(session_no AS BIGINT) AS session_no,
       strftime(min(ts), '{TS_FMT_DUCK}') AS session_start,
       CAST(count(*) AS BIGINT) AS n_events,
       (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS span_seconds
FROM islands
GROUP BY user_id, session_no
""",
)
def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization — the stateful-streaming window the reference
    lacks, batch-expressed with ``F.session_window`` (the same
    operator runs under Structured Streaming with a watermark for
    the stateful path). The session number is re-derived per user by
    start-time rank so both engines emit identical keys."""
    e = load(spark, sf_dir, "events")["events"]
    sessions = e.groupBy(
        F.col("user_id"), F.session_window("ts", "30 minutes").alias("w")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        # µs-exact: floor the *difference*, not each endpoint
        F.floor(
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))) / 1_000_000
        ).cast("long").alias("span_seconds"),
        F.min("ts").alias("t0"),
    )
    rank = Window.partitionBy("user_id").orderBy(F.col("t0"))
    return sessions.select(
        "user_id",
        F.row_number().over(rank).cast("long").alias("session_no"),
        F.date_format("t0", TS_FMT_SPARK).alias("session_start"),
        "n_events",
        "span_seconds",
    )


@builtin_query(
    "priority_orders_semi",
    "J-family completion — EXISTS/left-semi join: orders having at "
    "least one early-shipped line item",
    oracle="""
SELECT o.o_orderkey, o.o_orderpriority,
       strftime(o.o_orderdate, '%Y-%m-%d') AS order_date
FROM orders o
WHERE EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate < o.o_orderdate + INTERVAL 10 DAY
)
""",
)
def priority_orders_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi with a non-equi conjunct: the equi part hashes, the
    range predicate evaluates as a join residual — one shuffle (or
    broadcast under AQE), no fan-out, no dedup needed (semi-join
    emits each qualifying order exactly once)."""
    t = load(spark, sf_dir, "orders", "lineitem")
    o, li = t["orders"].alias("o"), t["lineitem"].alias("li")
    semi = o.join(
        li,
        (F.col("li.l_orderkey") == F.col("o.o_orderkey"))
        & (F.col("li.l_shipdate") < F.date_add(F.col("o.o_orderdate"), 10)),
        "left_semi",
    )
    return semi.select(
        "o_orderkey",
        "o_orderpriority",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
    )


@builtin_query(
    "approx_percentile_sketch",
    "EXT-sketch — approx_percentile (quantile digest) per event "
    "type with a bounded-rank-error verdict; digest values are "
    "engine-specific, so the hash-checked surface is the exact rank "
    "bound the sketch must satisfy",
    oracle="""
WITH ranked AS (
    SELECT event_type, value,
           percent_rank() OVER (PARTITION BY event_type ORDER BY value) AS pr
    FROM events WHERE value IS NOT NULL
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_values,
       TRUE AS p50_rank_ok,
       TRUE AS p95_rank_ok
FROM ranked GROUP BY event_type
""",
)
def approx_percentile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile's accuracy contract is on RANK, not value:
    the returned p-quantile's true percent_rank must lie within
    1/accuracy of p. That bound is engine-checkable: recompute each
    estimate's exact rank with a window and emit the verdict, which
    the oracle pins to TRUE. accuracy=1000 ⇒ ±0.1% rank error."""
    e = load(spark, sf_dir, "events")["events"].filter(F.col("value").isNotNull())
    est = e.groupBy("event_type").agg(
        F.percentile_approx("value", [0.5, 0.95], 1000).alias("q")
    )
    ranked = e.select(
        "event_type",
        "value",
        F.percent_rank()
        .over(Window.partitionBy("event_type").orderBy("value"))
        .alias("pr"),
    )
    # exact percent_rank of each estimate = max pr over values <= est
    j = ranked.join(F.broadcast(est), "event_type")
    agg = j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_values"),
        F.max(F.when(F.col("value") <= F.col("q")[0], F.col("pr"))).alias("r50"),
        F.max(F.when(F.col("value") <= F.col("q")[1], F.col("pr"))).alias("r95"),
    )
    # 2× the 1/accuracy bound, floored at the rank granularity of a
    # small group (an exact quantile's percent_rank is itself up to
    # 1/(n-1) away from p)
    tol = F.greatest(F.lit(0.002), 2.0 / F.col("n_values"))
    return agg.select(
        "event_type",
        "n_values",
        (F.abs(F.col("r50") - 0.5) <= tol).alias("p50_rank_ok"),
        (F.abs(F.col("r95") - 0.95) <= tol).alias("p95_rank_ok"),
    )


@builtin_query(
    "rollup_revenue",
    "EXT-olap — ROLLUP hierarchy totals (nation → year → grand "
    "total) with grouping_id disambiguation; one pass computes all "
    "three levels",
    oracle="""
WITH j AS (
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS BIGINT) AS order_year,
           CAST(o_totalprice AS DECIMAL(12,2)) AS p
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
)
SELECT nation, order_year,
       CAST(GROUPING(nation, order_year) AS BIGINT) AS gid,
       CAST(round(sum(p), 2) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_orders
FROM j GROUP BY ROLLUP(nation, order_year)
""",
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark .rollup == BigQuery/DuckDB GROUP BY ROLLUP: detail rows,
    per-nation subtotals, and the grand total in ONE aggregation pass
    (Catalyst Expand feeds a single hash aggregate — no union of
    three scans). grouping_id bit-encoding matches DuckDB GROUPING
    (first rollup col = MSB), verified in the oracle."""
    t = load(spark, sf_dir, "orders", "customer", "nation")
    dim = (
        t["customer"]
        .join(
            F.broadcast(t["nation"]),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", F.col("n_name").alias("nation"))
    )
    o = t["orders"].select(
        "o_custkey",
        F.col("o_totalprice").cast("decimal(12,2)").alias("p"),
        F.year("o_orderdate").cast("long").alias("order_year"),
    )
    return (
        o.join(F.broadcast(dim), F.col("o_custkey") == F.col("c_custkey"))
        .rollup("nation", "order_year")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.round(F.sum("p"), 2).cast("double").alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
        .select("nation", "order_year", "gid", "revenue", "n_orders")
    )


@builtin_query(
    "percentile_order_value",
    "EXT-olap — exact p25/median/p75 order value per priority class "
    "(absent from the reference; sort-based exact percentile). "
    "Interpolation over integer cents is exact in double arithmetic, "
    "so Spark percentile() and DuckDB quantile_cont() agree "
    "bit-for-bit",
    oracle="""
WITH cents AS (
    SELECT o_orderpriority,
           CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c
    FROM orders
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       quantile_cont(c, 0.25) / 100.0 AS p25,
       quantile_cont(c, 0.50) / 100.0 AS median,
       quantile_cont(c, 0.75) / 100.0 AS p75
FROM cents GROUP BY o_orderpriority
""",
)
def percentile_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At 100 TB: exact percentile requires a per-group sort of the
    full value set — Catalyst's ObjectHashAggregate buffers per
    group, so group cardinality x group size must fit executors; for
    genuinely huge groups switch to approx_percentile (t-digest,
    mergeable map-side) and document the error bound. Here groups are
    5 priority classes — exact is the right call and oracle-stable
    because interpolation over integer cents is exact FP arithmetic
    ((hi-lo)*f with lo,hi < 2^52)."""
    o = load(spark, sf_dir, "orders")["orders"].select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("c"),
    )
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        (F.expr("percentile(c, 0.25)") / 100.0).alias("p25"),
        (F.expr("percentile(c, 0.50)") / 100.0).alias("median"),
        (F.expr("percentile(c, 0.75)") / 100.0).alias("p75"),
    )


@builtin_query(
    "customer_year_setops",
    "EXT-setops — INTERSECT / EXCEPT over per-year customer key sets "
    "(absent from the reference, SURVEY §2.7): repeat buyers of "
    "1995∩1996 vs 1995-only churners, tagged in one result",
    oracle="""
WITH y95 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
     y96 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
SELECT o_custkey, 'repeat' AS cohort FROM (SELECT * FROM y95 INTERSECT SELECT * FROM y96)
UNION ALL
SELECT o_custkey, 'churned' AS cohort FROM (SELECT * FROM y95 EXCEPT SELECT * FROM y96)
""",
)
def customer_year_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT/EXCEPT compile to left-semi/left-anti hash joins over
    hash-distinct inputs — one shuffle each on the key, AQE-broadcast
    when one side is small. The two set ops share the same two scans;
    Catalyst reuses the year-filtered subplans (no lambdas, they
    canonicalize equal)."""
    o = load(spark, sf_dir, "orders")["orders"]
    def year_keys(y: int) -> DataFrame:
        return (
            o.filter(F.year("o_orderdate") == y)
            .select("o_custkey")
            .distinct()
        )
    y95, y96 = year_keys(1995), year_keys(1996)
    repeat = y95.intersect(y96).select("o_custkey", F.lit("repeat").alias("cohort"))
    churned = y95.exceptAll(y96).select(
        "o_custkey", F.lit("churned").alias("cohort")
    )
    return repeat.unionByName(churned)


@builtin_query(
    "rolling_user_spend",
    "EXT-window — frame-spec rolling aggregate (ROWS BETWEEN 9 "
    "PRECEDING AND CURRENT ROW): trailing-10-event spend sum and "
    "exact rounded average per user (no frame windows exist in the "
    "reference, SURVEY §2.5)",
    oracle=f"""
WITH cents AS (
    SELECT event_id, user_id, ts,
           CAST(round(value * 100, 0) AS BIGINT) AS c
    FROM events WHERE event_type = 'purchase'
),
framed AS (
    SELECT event_id, user_id,
           strftime(ts, '{TS_FMT_DUCK}') AS ts_utc,
           sum(c) OVER w AS roll_cents,
           count(*) OVER w AS roll_n
    FROM cents
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, ts_utc,
       CAST(roll_cents AS BIGINT) AS roll_cents,
       CAST(roll_n AS BIGINT) AS roll_n,
       {exact_ratio_duck('roll_cents', 'roll_n * 100')} AS roll_avg
FROM framed
""",
)
def rolling_user_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One shuffle (the window partition); the 10-row frame is a
    sliding aggregate Spark evaluates incrementally per partition.
    event_id tiebreak makes same-timestamp ordering deterministic
    (SURVEY §7.4 trap 2). Average = exact integer rounding on cents,
    engine-independent."""
    e = load(spark, sf_dir, "events")["events"]
    cents = e.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 100, 0).cast("long").alias("c"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    roll_cents = F.sum("c").over(w)
    roll_n = F.count(F.lit(1)).over(w)
    return cents.select(
        "event_id",
        "user_id",
        ts_str(F.col("ts"), TS_FMT_SPARK).alias("ts_utc"),
        roll_cents.cast("long").alias("roll_cents"),
        roll_n.cast("long").alias("roll_n"),
        exact_ratio_spark(roll_cents, roll_n * 100).alias("roll_avg"),
    )


@builtin_query(
    "event_gaps_lag_lead",
    "EXT-window — lag/lead analytics (SURVEY §2.5): per-user "
    "inter-event gap seconds and next event type, deterministic "
    "(ts, event_id) ordering",
    oracle=f"""
SELECT event_id, user_id,
       strftime(ts, '{TS_FMT_DUCK}') AS ts_utc,
       CAST(date_diff('second',
            lag(ts) OVER w, ts) AS BIGINT) AS gap_seconds,
       lead(event_type) OVER w AS next_event_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def event_gaps_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead share ONE window spec → one shuffle + one sort serves
    both; first/last rows per user yield NULLs in both engines.
    Gap arithmetic in whole seconds (unix_timestamp truncation ==
    DuckDB date_diff 'second' boundary counting for these
    microsecond-precision positive timestamps)."""
    e = load(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    return e.select(
        "event_id",
        "user_id",
        ts_str(F.col("ts"), TS_FMT_SPARK).alias("ts_utc"),
        (F.unix_timestamp("ts") - F.unix_timestamp(prev_ts))
        .cast("long")
        .alias("gap_seconds"),
        F.lead("event_type").over(w).alias("next_event_type"),
    )


@builtin_query(
    "unpivot_weather_long",
    "EXT-reshape — UNPIVOT/melt: wide hourly per-type averages back "
    "to long (metric, value) rows, the inverse of the "
    "conditional-AVG pivot (A2/A3), via Spark unpivot and DuckDB "
    "UNPIVOT",
    oracle=f"""
WITH wide AS (
    SELECT user_id,
           strftime(date_trunc('hour', ts), '{HOUR_FMT_DUCK}') AS hour_utc,
           {exact_avg_duck('value', "event_type = 'view'")} AS avg_view,
           {exact_avg_duck('value', "event_type = 'click'")} AS avg_click,
           {exact_avg_duck('value', "event_type = 'purchase'")} AS avg_purchase
    FROM events GROUP BY user_id, date_trunc('hour', ts)
)
SELECT user_id, hour_utc, metric, value
FROM wide UNPIVOT (value FOR metric IN (avg_view, avg_click, avg_purchase))
""",
)
def unpivot_weather_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long via stack(): a Generate with no shuffle of its own —
    the only exchange is the upstream hourly aggregate. NULL cells
    are dropped by both Spark unpivot and DuckDB UNPIVOT (default
    EXCLUDE NULLS) — row parity depends on that agreement."""
    e = load(spark, sf_dir, "events")["events"]
    wide = e.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        *[
            exact_avg_spark(F.col("value"), F.col("event_type") == t).alias(
                f"avg_{t}"
            )
            for t in ("view", "click", "purchase")
        ]
    ).select(
        "user_id",
        F.date_format("hour", HOUR_FMT_SPARK).alias("hour_utc"),
        "avg_view", "avg_click", "avg_purchase",
    )
    return wide.unpivot(
        ["user_id", "hour_utc"],
        ["avg_view", "avg_click", "avg_purchase"],
        "metric",
        "value",
    ).filter(F.col("value").isNotNull())
