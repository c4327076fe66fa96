"""CDC core: the flagship capability family (SURVEY.md §2B "CDC core").

Generalizes the reference's buffer-and-replay pipeline
(app/lambdas/lambda-backfill/main.py:31-46 — classify INSERT/MODIFY vs
REMOVE, project NewImage vs Keys, batch-write; cdk/lib/cdk-stack.ts:43-65 —
FIFO ordering + content dedup + DLQ) into partition-parallel DataFrame
operators:

- `changelog`        — the deterministic changelog derivation from `events`
                       (FIXTURES.md "Derived fixture"), mirrored verbatim in
                       the DuckDB oracle via CHANGELOG_SQL.
- `latest_per_key`   — net effect of a batch: one surviving op per key
                       (reference relies on FIFO delivery + full-image puts,
                       i.e. last-writer-wins; we recover order from seq_no
                       explicitly — never from arrival order).
- `cdc_merge`        — snapshot ⊕ batch → new snapshot. The one genuinely
                       custom physical op (SURVEY.md §4.2): latest-per-key,
                       split upserts/deletes, anti-join + union. Idempotent
                       (a seq_no monotonic guard makes re-applied batches
                       converge) — this is how the reference's at-least-once
                       delivery becomes exactly-once state.

Scale notes (100 TB): every step is a hash-shuffle on `key` or a
map-side-only projection; nothing touches the driver. The window in
latest_per_key and the join in cdc_merge share the same partitioning
key, so AQE reuses the exchange; skewed hot keys are handled by AQE
skew-join splitting. State size is O(live keys), not O(changelog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import register, tracked_persist
from ..sources import table
from ..streaming.drill import Drill

# ---------------------------------------------------------------------------
# changelog derivation (twin-written: Spark builder + DuckDB SQL)
# ---------------------------------------------------------------------------

# Exact CASE mapping per FIXTURES.md — the oracle mirrors it verbatim.
_OP_CASE_SQL = (
    "CASE WHEN event_type = 'error' THEN 'REMOVE' "
    "WHEN event_type = 'signup' THEN 'INSERT' "
    "ELSE 'MODIFY' END"
)

# content_hash: md5 over pipe-joined row fields. `printf('%.2f', ...)` /
# `format_string('%.2f', ...)` pins the float's text form so both engines
# hash identical bytes. ts is excluded (timestamp text forms differ across
# engines; seq_no already uniquely orders rows).
CHANGELOG_SQL = f"""
SELECT
    event_id AS seq_no,
    {_OP_CASE_SQL} AS op,
    user_id AS key,
    ts,
    round(value, 2) AS payload_value,
    props AS payload_props,
    md5(concat_ws('|',
        event_id::VARCHAR,
        {_OP_CASE_SQL},
        user_id::VARCHAR,
        printf('%.2f', round(value, 2)),
        props)) AS content_hash
FROM events
"""


def with_changelog(sql: str) -> str:
    """Wrap an oracle query with the changelog CTE."""
    return f"WITH changelog AS ({CHANGELOG_SQL})\n{sql}"


def changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the CDC changelog from the `events` fixture (Spark twin of CHANGELOG_SQL)."""
    e = table(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "error", F.lit("REMOVE"))
        .when(F.col("event_type") == "signup", F.lit("INSERT"))
        .otherwise(F.lit("MODIFY"))
    )
    df = e.select(
        F.col("event_id").alias("seq_no"),
        op.alias("op"),
        F.col("user_id").alias("key"),
        F.col("ts"),
        F.round("value", 2).alias("payload_value"),
        F.col("props").alias("payload_props"),
    )
    return df.withColumn(
        "content_hash",
        F.md5(
            F.concat_ws(
                "|",
                F.col("seq_no").cast("string"),
                F.col("op"),
                F.col("key").cast("string"),
                F.format_string("%.2f", F.col("payload_value")),
                F.col("payload_props"),
            )
        ),
    )


# ---------------------------------------------------------------------------
# reusable CDC primitives
# ---------------------------------------------------------------------------

def latest_per_key(
    df: DataFrame, key: str = "key", seq: str = "seq_no"
) -> DataFrame:
    """Net effect of a batch of change events: the single latest op per key.

    Reference semantic: DynamoDB full-image puts are last-writer-wins and
    `batch_write_item` rejects put+delete for the same key in one batch
    (SURVEY.md §0 caveat 3) — so a micro-batch MUST be reduced to one net
    op per key before the sink merge. Window + row_number is a single
    hash-shuffle on `key`; at scale this is the same exchange the merge
    join needs, so it is not an extra shuffle in the fused plan.
    """
    w = W.partitionBy(key).orderBy(F.col(seq).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def cdc_merge(
    snapshot: DataFrame,
    batch: DataFrame,
    key: str = "key",
    seq: str = "seq_no",
    op: str = "op",
    payload_cols: tuple[str, ...] = ("payload_value",),
) -> DataFrame:
    """Apply a batch of change events to a snapshot; return the new snapshot.

    snapshot schema: (key, last_seq, *payload_cols)
    batch schema:    (key, seq_no, op, *payload_cols)  op ∈ INSERT|MODIFY|REMOVE

    Semantics (reference app/lambdas/lambda-backfill/main.py:33-39 +
    BatchWriteItem last-writer-wins):
      * reduce batch to latest op per key,
      * seq_no monotonic guard: ignore batch ops not newer than the
        snapshot's stored last_seq for that key (replays converge — this
        replaces the reference's FIFO-queue ordering guarantee, and fixes
        its dropped-UnprocessedItems bug by being safely re-runnable),
      * non-REMOVE  -> full-image upsert,
      * REMOVE      -> delete by key.

    Plan shape — ONE full-outer join on `key` with per-row resolution,
    NOT guard-anti-join + union: each input DataFrame is referenced
    exactly once. That matters because Catalyst performs no common-
    subexpression elimination across DAG branches — a merge built from
    three references to the guarded batch (upserts + touched-keys +
    anti-join) physically re-executes the batch's whole upstream subtree
    (scan, window, everything) three times; measured on the flagship
    rebuild, the naive formulation planned 20 parquet scans vs 4 for
    this one. Resolution rules per key:
      batch absent            -> keep snapshot row
      batch newer, op!=REMOVE -> batch full image
      batch newer, op==REMOVE -> drop row
      batch stale (seq guard) -> keep snapshot row
    """
    net = latest_per_key(batch, key=key, seq=seq)

    j = snapshot.alias("s").join(net.alias("b"), on=key, how="full_outer")
    take_batch = F.col(f"b.{seq}").isNotNull() & (
        F.col("s.last_seq").isNull() | (F.col(f"b.{seq}") > F.col("s.last_seq"))
    )
    is_delete = take_batch & (F.col(f"b.{op}") == "REMOVE")
    return (
        j.where(~is_delete)
        .select(
            F.col(key),
            F.when(take_batch, F.col(f"b.{seq}")).otherwise(F.col("s.last_seq")).alias("last_seq"),
            *[
                F.when(take_batch, F.col(f"b.{c}")).otherwise(F.col(f"s.{c}")).alias(c)
                for c in payload_cols
            ],
        )
    )


def cdc_merge_tombstone(
    snapshot: DataFrame,
    batch: DataFrame,
    key: str = "key",
    seq: str = "seq_no",
    op: str = "op",
    payload_cols: tuple[str, ...] = ("payload_value",),
) -> DataFrame:
    """cdc_merge variant that RETAINS deletes as tombstone rows.

    snapshot schema: (key, last_seq, op, *payload_cols); rows with
    op='REMOVE' are tombstones (null payload). Project the live table
    with `visible()`.

    Why tombstones: plain cdc_merge forgets a deleted key's last_seq,
    so a stale (lower-seq) op for that key arriving in a LATER
    micro-batch would resurrect it. Keeping the tombstone makes the
    whole pipeline a per-key max-seq reduction — associative and
    commutative — so the final state is correct under ANY partition of
    the changelog into batches and ANY batch arrival order, not just
    the roughly-ordered delivery the reference's FIFO queue provides.
    At scale, tombstones are compacted away once the source's maximum
    reorder horizon has passed (the streaming analog of the 35-day
    PITR window, README.md:3).

    Same single full-outer-join resolution shape as cdc_merge (each
    input referenced once — see that docstring for why), except a
    winning REMOVE becomes a tombstone row instead of a drop.
    """
    net = latest_per_key(batch, key=key, seq=seq)

    j = snapshot.alias("s").join(net.alias("b"), on=key, how="full_outer")
    take_batch = F.col(f"b.{seq}").isNotNull() & (
        F.col("s.last_seq").isNull() | (F.col(f"b.{seq}") > F.col("s.last_seq"))
    )
    return j.select(
        F.col(key),
        F.when(take_batch, F.col(f"b.{seq}")).otherwise(F.col("s.last_seq")).alias("last_seq"),
        F.when(take_batch, F.col(f"b.{op}")).otherwise(F.col(f"s.{op}")).alias(op),
        *[
            F.when(take_batch & (F.col(f"b.{op}") != "REMOVE"), F.col(f"b.{c}"))
            .when(~take_batch, F.col(f"s.{c}"))
            .alias(c)
            for c in payload_cols
        ],
    )


def visible(snapshot: DataFrame, op: str = "op") -> DataFrame:
    """Live rows of a tombstoned snapshot."""
    return snapshot.where(F.col(op) != "REMOVE").drop(op)


def fold_changelog(
    cl: DataFrame,
    key: str = "key",
    seq: str = "seq_no",
    op: str = "op",
    payload_cols: tuple[str, ...] = ("payload_value",),
) -> DataFrame:
    """Sequential-fold semantics of a whole changelog: final state per key.

    Equals `cdc_merge` applied over any batch decomposition of the same
    changelog (property-tested in tests/test_cdc_property.py).
    """
    latest = latest_per_key(cl, key=key, seq=seq)
    return latest.where(F.col(op) != "REMOVE").select(
        F.col(key), F.col(seq).alias("last_seq"), *[F.col(c) for c in payload_cols]
    )


# ---------------------------------------------------------------------------
# registered queries
# ---------------------------------------------------------------------------

@register(
    "q_cdc_classify",
    oracle=with_changelog(
        """
SELECT seq_no, key,
       CASE WHEN op <> 'REMOVE' THEN 'UPSERT' ELSE 'DELETE' END AS action,
       CASE WHEN op <> 'REMOVE' THEN payload_value END AS image_value,
       CASE WHEN op = 'REMOVE' THEN key END AS delete_key
FROM changelog
"""
    ),
)
def q_cdc_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9-A12: classify events into upsert/delete and project the matching
    payload (NewImage for upserts, Keys for deletes) — reference
    lambda-backfill/main.py:33-39, as a single codegen'd projection."""
    cl = changelog(spark, sf_dir)
    is_upsert = F.col("op") != "REMOVE"
    return cl.select(
        "seq_no",
        "key",
        F.when(is_upsert, F.lit("UPSERT")).otherwise(F.lit("DELETE")).alias("action"),
        F.when(is_upsert, F.col("payload_value")).alias("image_value"),
        F.when(~is_upsert, F.col("key")).alias("delete_key"),
    )


@register(
    "q_cdc_latest_per_key",
    oracle=with_changelog(
        """
SELECT key, seq_no, op, payload_value
FROM (
    SELECT key, seq_no, op, payload_value,
           row_number() OVER (PARTITION BY key ORDER BY seq_no DESC) AS rn
    FROM changelog
) WHERE rn = 1
"""
    ),
)
def q_cdc_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 half 1: per-key last-writer-wins net effect of the full changelog."""
    cl = changelog(spark, sf_dir)
    return latest_per_key(cl).select("key", "seq_no", "op", "payload_value")


@register(
    "q_cdc_snapshot_rebuild",
    oracle=with_changelog(
        """
SELECT key, seq_no AS last_seq, payload_value
FROM (
    SELECT key, seq_no, op, payload_value,
           row_number() OVER (PARTITION BY key ORDER BY seq_no DESC) AS rn
    FROM changelog
) WHERE rn = 1 AND op <> 'REMOVE'
"""
    ),
)
def q_cdc_snapshot_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP (A8-A14 end-to-end): snapshot + ordered changelog ⇒
    reconstructed table state.

    The snapshot is the fold of the first half of the changelog
    (seq_no < median, FIXTURES.md); the second half is applied through
    `cdc_merge` (latest-per-key → upsert/delete split → anti-join +
    union). The result must equal — and the oracle computes — the fold
    of the WHOLE changelog. The median split point is carried as a
    1-row broadcast (no driver action; the whole query is one lazy plan).
    """
    # persist: the changelog feeds four plan branches (median agg + both
    # halves' windows) and Catalyst has no cross-branch CSE — without
    # materialization each branch re-derives it from the source scan.
    # In production the changelog IS materialized (it arrives as a
    # stream); this mirrors that. Measured at 10x data: ~15% off the
    # flagship (3.7s -> 3.1s) — the remaining cost is the genuine
    # shuffles (windows + merge join), which a cluster's executors
    # divide.
    cl = tracked_persist(changelog(spark, sf_dir))
    med = cl.agg(F.expr("percentile(seq_no, 0.5)").alias("med"))
    cl2 = cl.crossJoin(F.broadcast(med))
    first_half = cl2.where(F.col("seq_no") < F.col("med")).drop("med")
    second_half = cl2.where(F.col("seq_no") >= F.col("med")).drop("med")

    snapshot = fold_changelog(first_half)
    rebuilt = cdc_merge(snapshot, second_half)
    return rebuilt.select("key", "last_seq", "payload_value")


@register(
    "q_cdc_change_deltas",
    oracle=with_changelog(
        """
SELECT key, seq_no,
       payload_value,
       ((CAST(round(payload_value * 100) AS BIGINT)
         - lag(CAST(round(payload_value * 100) AS BIGINT))
           OVER (PARTITION BY key ORDER BY seq_no))) / 100.0 AS delta,
       lag(seq_no) OVER (PARTITION BY key ORDER BY seq_no) AS prev_seq
FROM changelog
WHERE op <> 'REMOVE'
"""
    ),
)
def q_cdc_change_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image diffing: for each upsert, the value delta against the key's
    previous image (the OldImage/NewImage comparison the full Streams
    envelope enables — SURVEY §1.1 change-stream row). First image per
    key has a NULL delta. Exact cent subtraction keeps deltas
    engine-identical; one window shuffle on key."""
    cl = changelog(spark, sf_dir)
    w = W.partitionBy("key").orderBy("seq_no")
    upserts = cl.where(F.col("op") != "REMOVE")
    vc = F.round(F.col("payload_value") * 100).cast("bigint")
    return upserts.select(
        "key",
        "seq_no",
        "payload_value",
        ((vc - F.lag(vc).over(w)) / 100.0).alias("delta"),
        F.lag("seq_no").over(w).alias("prev_seq"),
    )


@register(
    "q_cdc_restore_report",
    oracle=with_changelog(
        """
, state AS (
    SELECT key, seq_no AS last_seq, payload_value
    FROM (
        SELECT key, seq_no, op, payload_value,
               row_number() OVER (PARTITION BY key ORDER BY seq_no DESC) AS rn
        FROM changelog
    ) WHERE rn = 1 AND op <> 'REMOVE'
), history AS (
    SELECT key,
           count(*) AS n_changes,
           count(*) FILTER (WHERE op = 'REMOVE') AS n_removes,
           min(seq_no) AS first_seq
    FROM changelog GROUP BY key
)
SELECT h.key,
       s.last_seq,
       s.payload_value,
       (s.key IS NOT NULL) AS is_live,
       h.n_changes, h.n_removes, h.first_seq
FROM history h LEFT JOIN state s ON h.key = s.key
"""
    ),
)
def q_cdc_restore_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone: restore THEN analyze — the reference's end purpose (the
    restored table exists to be used). Rebuilds the table state via the
    full snapshot+merge path, then left-joins it against per-key change
    history: live rows carry their final image, deleted keys appear
    with is_live=false and their churn stats. One extra shuffle on key
    beyond the rebuild — history and state share the partitioning."""
    state = q_cdc_snapshot_rebuild(spark, sf_dir)
    cl = changelog(spark, sf_dir)
    history = cl.groupBy("key").agg(
        F.count("*").alias("n_changes"),
        F.count_if(F.col("op") == "REMOVE").alias("n_removes"),
        F.min("seq_no").alias("first_seq"),
    )
    return (
        history.alias("h")
        .join(state.alias("s"), on="key", how="left")
        .select(
            "key",
            F.col("s.last_seq").alias("last_seq"),
            F.col("s.payload_value").alias("payload_value"),
            F.col("s.last_seq").isNotNull().alias("is_live"),
            "n_changes",
            "n_removes",
            "first_seq",
        )
    )


@register(
    "q_cdc_dedup_content",
    oracle=with_changelog(
        """
SELECT seq_no, key, op, content_hash
FROM (
    SELECT seq_no, key, op, content_hash,
           row_number() OVER (PARTITION BY content_hash ORDER BY seq_no) AS rn
    FROM changelog
) WHERE rn = 1
"""
    ),
)
def q_cdc_dedup_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: content-based dedup (SQS FIFO `contentBasedDeduplication`,
    cdk-stack.ts:48) — keep the earliest record per content hash.

    Implemented as keep-first-by-seq rather than `dropDuplicates` so the
    surviving row is deterministic (dropDuplicates keeps an arbitrary
    row; the queue keeps the first). Single shuffle on content_hash.
    """
    cl = changelog(spark, sf_dir)
    w = W.partitionBy("content_hash").orderBy("seq_no")
    return (
        cl.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("seq_no", "key", "op", "content_hash")
    )


@register(
    "q_cdc_dlq_split",
    oracle=with_changelog(
        """
SELECT CASE WHEN key IS NULL OR payload_props IS NULL
                 OR json_extract_string(payload_props, '$.k') IS NULL
            THEN 'dlq' ELSE 'ok' END AS route,
       count(*) AS n_records
FROM changelog
GROUP BY 1
"""
    ),
)
def q_cdc_dlq_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2+A7: envelope validation + dead-letter routing (cdc-to-sqs/main.py:27-29,
    cdk-stack.ts:52-63) — filter-split into ok/dlq with counts. In the
    streaming path the same predicate side-outputs poison records to a
    dlq/ sink (streaming/cdc_stream.py)."""
    cl = changelog(spark, sf_dir)
    bad = (
        F.col("key").isNull()
        | F.col("payload_props").isNull()
        | F.get_json_object("payload_props", "$.k").isNull()
    )
    return (
        cl.select(F.when(bad, F.lit("dlq")).otherwise(F.lit("ok")).alias("route"))
        .groupBy("route")
        .agg(F.count("*").alias("n_records"))
    )


@register(
    "q_cdc_batch_count",
    oracle=with_changelog(
        """
SELECT key, count(*) AS n_events,
       CAST(ceil(count(*) / 25.0) AS BIGINT) AS n_chunks
FROM changelog
GROUP BY key
"""
    ),
)
def q_cdc_batch_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: 25-item write chunking (CHUNK_SIZE=25, lambda-backfill/main.py:22)
    — number of batch_write_item calls the reference would issue per key
    group. Pure map-side-combine aggregation."""
    cl = changelog(spark, sf_dir)
    return cl.groupBy("key").agg(
        F.count("*").alias("n_events"),
        F.ceil(F.count("*") / 25.0).cast("bigint").alias("n_chunks"),
    )


@register(
    "q_cdc_schema_evolution",
    oracle=with_changelog(
        """
SELECT key, seq_no AS last_seq, payload_value,
       CASE WHEN seq_no % 10 >= 5 THEN payload_props END AS payload_props
FROM (
    SELECT key, seq_no, op, payload_value, payload_props,
           row_number() OVER (PARTITION BY key ORDER BY seq_no DESC) AS rn
    FROM changelog
) WHERE rn = 1 AND op <> 'REMOVE'
"""
    ),
)
def q_cdc_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema drift across CDC batches: DynamoDB items are schemaless
    (AttributeValue maps, `initiate-lambda-backfill/main.py:33-47`
    writes whatever attributes each item has), so during a writer
    deploy the changelog contains BOTH shapes — records without the
    new attribute and records with it. The engine must fold them into
    one snapshot where the new column is NULL for keys whose last
    write predates it.

    Spark-first: the two shapes land as parquet files with different
    schemas in one directory; `mergeSchema=true` unions them by name
    (missing columns read as NULL — the columnar twin of schemaless
    items), and the fold is the ordinary latest-per-key + tombstone
    filter. At 100 TB schema evolution costs nothing at write time
    (files keep their own schema; no table-wide rewrite) and one footer
    union at read planning."""
    cl = changelog(spark, sf_dir)
    with Drill(spark, "evolve") as d:
        old, new = d.dir("old"), d.dir("new")
        # old-writer records (seq_no % 10 < 5): no payload_props column yet
        cl.where(F.col("seq_no") % 10 < 5).select(
            "seq_no", "op", "key", "payload_value"
        ).write.mode("overwrite").parquet(old)
        # new-writer records: the evolved shape carries the new attribute
        cl.where(F.col("seq_no") % 10 >= 5).select(
            "seq_no", "op", "key", "payload_value", "payload_props"
        ).write.mode("overwrite").parquet(new)

        merged = spark.read.option("mergeSchema", "true").parquet(old, new)
        snap = latest_per_key(merged).where(F.col("op") != "REMOVE").select(
            "key",
            F.col("seq_no").alias("last_seq"),
            "payload_value",
            "payload_props",
        )
        result = tracked_persist(snap)  # materialize before the backing dir is removed
        result.count()
    return result


@register(
    "q_cdc_restore_asof_ts",
    oracle=with_changelog(
        """
SELECT key, seq_no AS last_seq, payload_value
FROM (
    SELECT key, seq_no, op, payload_value,
           row_number() OVER (PARTITION BY key ORDER BY seq_no DESC) AS rn
    FROM changelog
    WHERE epoch_us(ts) <= (
        SELECT min(epoch_us(ts)) + ((max(epoch_us(ts)) - min(epoch_us(ts))) * 2) // 3
        FROM changelog)
) WHERE rn = 1 AND op <> 'REMOVE'
"""
    ),
)
def q_cdc_restore_asof_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-TIME point-in-time restore — the reference's literal
    semantic (RestoreDateTime is a wall-clock instant, not a sequence
    number): fold every change whose event time is at or before the
    restore point, 2/3 into the stream's time range. The cutoff is
    pure integer µs arithmetic (min + 2(max-min) div 3) so both
    engines compute the identical instant — never a float percentile,
    whose interpolation would make the boundary representation-
    dependent. The ts filter reaches the scan (pushdown), so at 100 TB
    a restore reads only the pre-cutoff changelog."""
    cl = changelog(spark, sf_dir)
    row = cl.agg(
        F.min(F.unix_micros("ts")).alias("lo"), F.max(F.unix_micros("ts")).alias("hi")
    ).first()  # driver scalars: orchestration, not data
    cutoff_us = row.lo + ((row.hi - row.lo) * 2) // 3
    return fold_changelog(cl.where(F.unix_micros("ts") <= F.lit(cutoff_us)))


# Sentinel for an open (current) SCD2 version: BIGINT max, so interval
# predicates (valid_from <= s < valid_to) need no NULL handling and the
# column stays non-nullable in both engines.
OPEN_VALID_TO = 9223372036854775807


@register(
    "q_cdc_scd2_history",
    oracle=with_changelog(f""", versioned AS (
  SELECT key, op, seq_no,
         coalesce(lead(seq_no) OVER (PARTITION BY key ORDER BY seq_no),
                  {OPEN_VALID_TO}) AS valid_to_seq,
         payload_value
  FROM changelog)
SELECT key,
       seq_no AS valid_from_seq,
       valid_to_seq,
       payload_value
FROM versioned
WHERE op <> 'REMOVE'
"""),
)
def q_cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2: the changelog folded into a
    VERSION HISTORY table — one row per key version with a validity
    interval [valid_from_seq, valid_to_seq). Each INSERT/MODIFY opens
    a version; the next event on the key (including a REMOVE) closes
    it; an open current version carries the OPEN_VALID_TO sentinel.
    This is the third representation of the reference's table-state
    semantics, beside point-state (q_cdc_snapshot_rebuild /
    lambda-backfill/main.py:31-46 upserts) and per-commit versions
    (streaming/versioned_sink.py): state AS OF any seq s is the
    interval predicate valid_from <= s < valid_to — a plain filter,
    no fold, which is what a warehouse dimension table wants for
    repeated historical joins. One window shuffle on key; the REMOVE
    filter must run AFTER the lead (a REMOVE closes its
    predecessor's interval but emits no version)."""
    cl = changelog(spark, sf_dir)
    w = W.partitionBy("key").orderBy("seq_no")
    return (
        cl.withColumn(
            "valid_to_seq",
            F.coalesce(F.lead("seq_no").over(w), F.lit(OPEN_VALID_TO)),
        )
        .where(F.col("op") != "REMOVE")
        .select(
            "key",
            F.col("seq_no").alias("valid_from_seq"),
            "valid_to_seq",
            "payload_value",
        )
    )
