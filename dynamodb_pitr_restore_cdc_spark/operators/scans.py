"""Source/sink queries (SURVEY.md §2B "Sources / sinks").

The reference's only I/O is service calls (Streams in, SQS through,
BatchWriteItem out — A1/A4/A13); here the equivalents are columnar
Parquet scans with Catalyst pushdown and a Parquet sink round-trip.
tests/test_plans.py asserts the scan actually prunes columns and pushes
the predicate (ReadSchema / PushedFilters in the formatted plan) — at
100 TB that is the difference between reading 2 columns and reading 40.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register, tracked_persist
from ..sources import table
from ..streaming.drill import Drill


@register(
    "q_scan_project_filter",
    oracle="""
SELECT l_orderkey, l_partkey, l_quantity, round(l_extendedprice, 2) AS price
FROM lineitem
WHERE l_quantity > 30 AND l_returnflag = 'R'
""",
)
def q_scan_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet scan + column pruning + predicate pushdown. The filter and
    the 4-column projection both reach the Parquet reader (no full-row
    materialization)."""
    li = table(spark, sf_dir, "lineitem")
    return li.where((F.col("l_quantity") > 30) & (F.col("l_returnflag") == "R")).select(
        "l_orderkey",
        "l_partkey",
        "l_quantity",
        F.round("l_extendedprice", 2).alias("price"),
    )


@register(
    "q_scan_json_props",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
FROM events
""",
)
def q_scan_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-in-string extraction (`events.props`) — the typed path for the
    reference's schemaless item payloads (SURVEY.md §1.2): stays JVM-side
    via get_json_object, no Python round-trip."""
    e = table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_val"),
    )


@register(
    "q_scan_json_source",
    oracle="""
SELECT event_id, user_id, round(value, 2) AS value
FROM events WHERE event_id % 10 = 0
""",
)
def q_scan_json_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source round trip: a deterministic slice of events is
    written as JSON and read back with an EXPLICIT schema (never
    inference — SURVEY §1.3), proving the second source format's
    value fidelity against the parquet-direct oracle. Doubles survive
    because Spark's JSON writer emits shortest-round-trip decimals."""
    with Drill(spark, "events_json") as d:
        out = d.dir("data")
        subset = (
            table(spark, sf_dir, "events")
            .where(F.col("event_id") % 10 == 0)
            .select("event_id", "user_id", F.round("value", 2).alias("value"))
        )
        subset.write.mode("overwrite").json(out)
        # tracked: harnesses release after consuming the result, so the
        # cached rows don't outlive the run (the backing dir is gone, so
        # the plan is never recomputed after release — it's fully consumed)
        result = tracked_persist(
            spark.read.schema("event_id long, user_id long, value double").json(out)
        )
        result.count()  # materialize before removing the backing dir
    return result


@register(
    "q_sink_roundtrip",
    # the write/read-back is a side effect, but the ROUNDTRIP IDENTITY
    # is oracle-able: the aggregate over the re-read sink must equal
    # the same aggregate over the source table (any loss or mangling
    # in the parquet write path breaks the hash match)
    oracle="""
SELECT o_orderstatus, count(*) AS n_rows,
       round(sum(o_totalprice), 2) AS sum_total
FROM orders GROUP BY o_orderstatus
""",
)
def q_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 analog: write a keyed Parquet sink, read it back, aggregate.
    Partitioned write → the sink layout a restored table would have; the
    read-back proves schema round-trip stability. Oracle: the same
    aggregate computed directly on the source — equality IS the
    roundtrip contract."""
    # unique path per invocation: a fixed path would collide if the
    # harness ever runs two queries concurrently
    with Drill(spark, "orders_roundtrip") as d:
        out = d.dir("data")
        orders = table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
        )
        orders.write.mode("overwrite").parquet(out)
        back = spark.read.parquet(out)
        result = tracked_persist(  # see q_scan_json_source: released post-consumption
            back.groupBy("o_orderstatus").agg(
                F.count("*").alias("n_rows"),
                F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
            )
        )
        result.count()  # materialize before removing the backing dir
    return result


@register(
    "q_scan_csv_source",
    oracle="""
SELECT event_id, user_id, round(value, 2) AS value
FROM events WHERE event_id % 10 = 3
""",
)
def q_scan_csv_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source round trip (the third source format beside parquet and
    JSON-lines): a deterministic slice of events is written as
    headered CSV and read back with an EXPLICIT schema (never
    inference — SURVEY §1.3). Doubles survive because Spark's CSV
    writer emits shortest-round-trip decimals, same as the JSON path."""
    with Drill(spark, "events_csv") as d:
        out = d.dir("data")
        subset = (
            table(spark, sf_dir, "events")
            .where(F.col("event_id") % 10 == 3)
            .select("event_id", "user_id", F.round("value", 2).alias("value"))
        )
        subset.write.mode("overwrite").option("header", "true").csv(out)
        result = tracked_persist(  # released post-consumption (see q_scan_json_source)
            spark.read.schema("event_id long, user_id long, value double")
            .option("header", "true")
            .csv(out)
        )
        result.count()  # materialize before removing the backing dir
    return result


@register(
    "q_scan_orc_source",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus,
       round(o_totalprice, 2) AS total_price,
       epoch_us(o_orderdate) AS order_date_us
FROM orders WHERE o_orderkey % 7 = 0
""",
)
def q_scan_orc_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source round trip (fourth source format: parquet, JSON-lines,
    CSV, ORC). ORC is the other splittable columnar format a lakehouse
    ingests at scale; unlike CSV/JSON its reader supports the same
    predicate pushdown + column pruning as parquet, so the read-back
    scan stays prunable. Timestamps survive natively (no string round
    trip) and leave as epoch-us per the engine-wide contract."""
    with Drill(spark, "orders_orc") as d:
        out = d.dir("data")
        subset = (
            table(spark, sf_dir, "orders")
            .where(F.col("o_orderkey") % 7 == 0)
            .select(
                "o_orderkey",
                "o_custkey",
                "o_orderstatus",
                F.round("o_totalprice", 2).alias("total_price"),
                "o_orderdate",
            )
        )
        subset.write.mode("overwrite").orc(out)
        result = tracked_persist(  # released post-consumption (see q_scan_json_source)
            spark.read.orc(out).select(
                "o_orderkey",
                "o_custkey",
                "o_orderstatus",
                "total_price",
                F.unix_micros("o_orderdate").alias("order_date_us"),
            )
        )
        result.count()  # materialize before removing the backing dir
    return result


@register(
    "q_dq_constraint_report",
    oracle="""
WITH base AS (
    SELECT count(*) AS n_rows,
           count(*) - count(o_custkey) AS null_custkey,
           count(*) - count(o_totalprice) AS null_totalprice,
           sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS nonpositive_price,
           sum(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01 00:00:00'
                      OR o_orderdate > TIMESTAMP '2003-01-01 00:00:00'
                    THEN 1 ELSE 0 END) AS date_out_of_range
    FROM orders
), dup AS (
    SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) AS dup_orderkeys
    FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)
), orphan AS (
    -- null keys are a COMPLETENESS violation (counted above), not a
    -- referential one: exclude them so the two checks don't overlap
    SELECT count(*) AS orphan_custkeys
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL
)
SELECT chk AS check_name, metric, CAST(metric > 0 AS INTEGER) AS violated
FROM (
    SELECT 'null_custkey' AS chk, CAST(null_custkey AS BIGINT) AS metric FROM base
    UNION ALL SELECT 'null_totalprice', CAST(null_totalprice AS BIGINT) FROM base
    UNION ALL SELECT 'nonpositive_price', CAST(nonpositive_price AS BIGINT) FROM base
    UNION ALL SELECT 'date_out_of_range', CAST(date_out_of_range AS BIGINT) FROM base
    UNION ALL SELECT 'dup_orderkeys', dup_orderkeys FROM dup
    UNION ALL SELECT 'orphan_custkeys', CAST(orphan_custkeys AS BIGINT) FROM orphan
)
""",
)
def q_dq_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint audit over orders (the Deequ/
    expectations shape every ingestion pipeline runs before
    publishing): completeness (null counts), domain ranges
    (non-positive prices, out-of-window dates), key uniqueness
    (surplus rows per duplicated order key), and referential integrity
    (customer orphans via broadcast anti-join). The scalar checks fuse
    into ONE pass over the fact (conditional partial aggregates);
    uniqueness adds a key-grain aggregate and integrity one broadcast
    join — nothing quadratic, nothing collected. All metrics are
    exact integers, so the report (and its violated flags) is
    bit-stable for alerting diffs between runs."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey")
    base = o.agg(
        F.count("*").alias("n_rows"),
        (F.count("*") - F.count("o_custkey")).alias("null_custkey"),
        (F.count("*") - F.count("o_totalprice")).alias("null_totalprice"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias(
            "nonpositive_price"
        ),
        F.sum(
            F.when(
                (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp"))
                | (F.col("o_orderdate") > F.lit("2003-01-01").cast("timestamp")),
                1,
            ).otherwise(0)
        ).alias("date_out_of_range"),
    )
    dup = (
        o.groupBy("o_orderkey")
        .agg(F.count("*").alias("cnt"))
        .agg(
            F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0))
            .cast("bigint")
            .alias("dup_orderkeys")
        )
    )
    orphan = (
        # null keys are the completeness check's finding, not this one's
        o.where(F.col("o_custkey").isNotNull())
        .join(F.broadcast(c), o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count("*").alias("orphan_custkeys"))
    )
    report = (
        base.selectExpr(
            "stack(4, 'null_custkey', CAST(null_custkey AS BIGINT), "
            "'null_totalprice', CAST(null_totalprice AS BIGINT), "
            "'nonpositive_price', CAST(nonpositive_price AS BIGINT), "
            "'date_out_of_range', CAST(date_out_of_range AS BIGINT)) "
            "AS (check_name, metric)"
        )
        .unionByName(
            dup.selectExpr("'dup_orderkeys' AS check_name", "dup_orderkeys AS metric")
        )
        .unionByName(
            orphan.selectExpr(
                "'orphan_custkeys' AS check_name",
                "CAST(orphan_custkeys AS BIGINT) AS metric",
            )
        )
    )
    return report.select(
        "check_name", "metric", (F.col("metric") > 0).cast("int").alias("violated")
    )
