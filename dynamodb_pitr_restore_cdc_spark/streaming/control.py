"""Control-event pattern filter (reference A18 — the last §2A operator).

The reference detects a PITR restore via an EventBridge rule over
CloudTrail management events matching ``eventSource =
dynamodb.amazonaws.com AND eventName = RestoreTableToPointInTime``
(cdk/lib/cdk-stack.ts:116-123); the matched event's
``detail.requestParameters.targetTableName`` late-binds the backfill
destination (app/lambdas/initiate-lambda-backfill/main.py:65-74).

Engine shape: the control plane is just another (low-volume) event
stream of JSON documents. The operator is a filter on the two pattern
fields plus a JSON-path projection of the target table name — all
JVM-side (`get_json_object`), no Python. ``drain_for_control_events``
composes it with the A17-A21 orchestration: one drain per matched
restore event, sink directory late-bound from the event payload.

Scale note: control streams are tiny by construction (management
events), so the filter is a map-only pass; the bounded `.collect()` of
matched targets is orchestration (one row per restore operation, not
data).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources import table

CONTROL_EVENT_SOURCE = "dynamodb.amazonaws.com"       # cdk-stack.ts:118
CONTROL_EVENT_NAME = "RestoreTableToPointInTime"      # cdk-stack.ts:121


def control_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic CloudTrail-shaped control stream derived from the
    `events` fixture: every event becomes a JSON document with the
    fields the EventBridge pattern inspects. Mix: 1/3 of sources are
    DynamoDB and 2/5 of names are restores, so the pattern must reject
    on either field independently."""
    e = table(spark, sf_dir, "events")
    src = (
        F.when(F.col("event_id") % 3 == 0, F.lit(CONTROL_EVENT_SOURCE))
        .when(F.col("event_id") % 3 == 1, F.lit("s3.amazonaws.com"))
        .otherwise(F.lit("lambda.amazonaws.com"))
    )
    name = (
        F.when(F.col("event_id") % 5 == 0, F.lit(CONTROL_EVENT_NAME))
        .when(F.col("event_id") % 5 == 1, F.lit("DescribeTable"))
        .when(F.col("event_id") % 5 == 2, F.lit("PutItem"))
        .when(F.col("event_id") % 5 == 3, F.lit(CONTROL_EVENT_NAME))
        .otherwise(F.lit("DeleteTable"))
    )
    detail = F.struct(
        src.alias("eventSource"),
        name.alias("eventName"),
        F.struct(
            F.concat(F.lit("restored_"), F.col("user_id")).alias("targetTableName")
        ).alias("requestParameters"),
    )
    return e.select(
        "event_id", F.to_json(F.struct(detail.alias("detail"))).alias("body")
    )


def control_plane_filter(control_df: DataFrame) -> DataFrame:
    """A18: keep only restore-initiation events and project the
    late-binding target — the EventBridge rule + the handler's
    ``detail.requestParameters.targetTableName`` read, as one
    JSON-path filter/projection over the raw document column."""
    body = F.col("body")
    return control_df.where(
        (F.get_json_object(body, "$.detail.eventSource") == CONTROL_EVENT_SOURCE)
        & (F.get_json_object(body, "$.detail.eventName") == CONTROL_EVENT_NAME)
    ).select(
        "event_id",
        F.get_json_object(body, "$.detail.requestParameters.targetTableName").alias(
            "target_table"
        ),
    )


@register(
    "q_cdc_control_filter",
    oracle="""
SELECT event_id, 'restored_' || CAST(user_id AS VARCHAR) AS target_table
FROM events
WHERE event_id % 3 = 0 AND event_id % 5 IN (0, 3)
""",
)
def q_cdc_control_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A18 end-to-end: build the CloudTrail-shaped JSON control stream,
    apply the (eventSource, eventName) pattern filter, and extract each
    match's targetTableName. The Spark path genuinely round-trips
    through JSON documents (to_json -> get_json_object); the oracle
    states the expected matches in closed form over `events` — an
    independent formulation, so agreement checks both the JSON
    construction and the pattern semantics."""
    return control_plane_filter(control_events(spark, sf_dir))


def drain_for_control_events(
    spark: SparkSession,
    control_df: DataFrame,
    probe_factory: Callable[[str], Callable[[], "RestoreStatus"]],
    src_dir: str,
    snapshot: DataFrame,
    work_root: str,
    **wait_kwargs,
) -> dict[str, str]:
    """A16+A17+A18 composed: for each DISTINCT restore target named by a
    matching control event, wait for that table's readiness and drain
    the buffered changelog into a sink late-bound to the target name
    (initiate-lambda-backfill/main.py:65-74's env-var late binding,
    re-expressed as a per-target work dir). Returns
    {target_table: table root}."""
    import os

    from .orchestration import restore_and_backfill

    targets = sorted(
        r.target_table
        for r in control_plane_filter(control_df).select("target_table").distinct().collect()
    )  # bounded: one row per restore operation (orchestration, not data)
    out: dict[str, str] = {}
    for target in targets:
        out[target] = restore_and_backfill(
            spark,
            probe_factory(target),
            src_dir,
            snapshot,
            os.path.join(work_root, target),
            **wait_kwargs,
        )
    return out
