"""Batch/stream parity twins for the behavioral operators.

`q_stream_foreachbatch_cdc` ≡ `q_cdc_snapshot_rebuild` established the
pattern: a REAL multi-batch streaming run registered with the SAME
oracle as its batch twin, so the driver hash-verifies that the
incremental formulation converges to the batch answer. This module
closes the remaining pair (SURVEY §2B behavioral family; reference
analog: the changelog consumers of `README.md`'s restore flow are
exactly such incremental downstream jobs):

- q_stream_sessionize ≡ q_ts_sessionize — incremental gap-based
  sessionization via foreachBatch. State = the SESSION-GRAIN summary
  table (user, start, end, n, value), not raw events: each micro-batch
  is sessionized in isolation (window pass over the batch), then
  merged with the store's intervals by a gaps-and-islands pass AT
  SESSION GRAIN — per batch that is O(batch) + O(sessions touched),
  and the store never holds more than one row per final session. At
  100 TB the merge would be restricted to users present in the batch
  (stream-static join pruning); the interval-merge algebra is the same.

- q_stream_anomaly_zscore ≡ q_ts_anomaly_zscore — the population
  z-score needs FINAL per-user moments, so the streaming half
  maintains exact integer sufficient statistics (n, Σv, Σv²) as
  streaming aggregation state (complete mode over 3 pinned batches);
  the flagging pass then broadcast-joins the final statistics against
  the event log. This is the two-phase shape any "flag against global
  stats" pipeline has at scale — the stats stream keeps O(users)
  state, and flagging is a map-side join.

Every drill here runs through streaming/drill.py (mtime-ordered
splits, one file per micro-batch), so batch boundaries are
deterministic and the temp dirs are removed in a finally; the pinned
shuffle width is restored in a finally by util.pinned_shuffle_width.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators.behavior import (
    ANOMALY_ZSCORE_ORACLE,
    SESSIONIZE_ORACLE,
    SESSION_GAP_US,
    Z_THRESHOLD,
    _Z_EXPR,
)
from ..registry import register, tracked_persist
from ..sources import table
from .drill import Drill, _ts_tertiles, fold_versions, read_pinned, run_available_now
from .util import atomic_write_text, pinned_shuffle_width


def _sessionize_events(batch: DataFrame) -> DataFrame:
    """Events → session-grain summaries (one window pass + rollup, the
    same (us, event_id)-total-ordered logic as the batch twin)."""
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    bounded = batch.withColumn(
        "new_s",
        F.when(F.lag("us").over(w).isNull(), 1)
        .when(F.col("us") - F.lag("us").over(w) > SESSION_GAP_US, 1)
        .otherwise(0),
    ).withColumn(
        "grp", F.sum("new_s").over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
    )
    return bounded.groupBy("user_id", "grp").agg(
        F.min("us").alias("start_us"),
        F.max("us").alias("end_us"),
        F.count("*").alias("n_events"),
        F.sum("value_c").alias("value_c"),
    ).drop("grp")


def _merge_session_intervals(sessions: DataFrame) -> DataFrame:
    """Gaps-and-islands at SESSION grain: adjacent intervals closer than
    the gap collapse (counts/sums are additive, bounds are min/max).
    Associative, so incremental per-batch application converges to the
    batch answer regardless of how events were split."""
    w = W.partitionBy("user_id").orderBy("start_us", "end_us")
    run_end = F.max("end_us").over(w.rowsBetween(W.unboundedPreceding, -1))
    marked = sessions.withColumn(
        "new_s",
        F.when(run_end.isNull() | (F.col("start_us") - run_end > SESSION_GAP_US), 1)
        .otherwise(0),
    ).withColumn(
        "grp", F.sum("new_s").over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
    )
    return marked.groupBy("user_id", "grp").agg(
        F.min("start_us").alias("start_us"),
        F.max("end_us").alias("end_us"),
        F.sum("n_events").alias("n_events"),
        F.sum("value_c").alias("value_c"),
    ).drop("grp")


_SESSION_STORE_SCHEMA = (
    "user_id long, start_us long, end_us long, n_events long, value_c long"
)


def run_session_stream(spark: SparkSession, src: str, work: str) -> str:
    """Drain every available event split in `src` into the versioned
    session store under `work`; returns the final store path.

    Resumable (drill.fold_versions' crash-recovery discipline): the store
    pointer `_LATEST` is durable, so a restarted run resumes the merge
    from the last COMMITTED store version while the checkpoint skips
    already-processed files — without the pointer, checkpoint-skipped
    batches would merge onto the empty v_init and silently lose the
    crashed run's sessions (pinned by the resume test)."""
    # v_init: empty session store with a pinned schema (an empty
    # non-partitioned parquet write preserves its schema; the empty
    # frame folds to a LocalRelation — zero jobs)
    empty = spark.range(0).select(
        F.col("id").alias("user_id"),
        F.col("id").alias("event_id"),
        F.col("id").alias("us"),
        F.col("id").alias("value_c"),
    )

    def merge(batch_df: DataFrame, epoch_id: int, state: dict, path: str) -> None:
        # explicit schema: an inferred read costs a footer-listing job
        # per micro-batch (r15 profile), and the store schema is ours
        store = batch_df.sparkSession.read.schema(_SESSION_STORE_SCHEMA).parquet(
            state["path"]
        )
        merged = _merge_session_intervals(
            store.unionByName(_sessionize_events(batch_df))
        )
        merged.write.mode("overwrite").parquet(path)

    stream = read_pinned(spark, "user_id long, event_id long, us long, value_c long", src)
    return fold_versions(stream, work, _sessionize_events(empty), merge)["path"]


@register("q_stream_sessionize", oracle=SESSIONIZE_ORACLE)
def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-stream twin of q_ts_sessionize (same oracle — the hash match
    IS the batch/stream parity proof): the event log replays as 3
    time-ordered micro-batches; foreachBatch sessionizes each batch and
    folds it into a versioned session store by interval merge
    (run_session_stream — durable-pointer resumable). The final store,
    with ordinals assigned per user, equals the one-shot batch
    sessionization."""
    e = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100).cast("bigint").alias("value_c"),
    )
    p1, p2 = _ts_tertiles(table(spark, sf_dir, "events"), "ts")
    us = F.col("us")
    with Drill(spark, "sess") as drill:
        src = drill.splits(e, [us <= p1, (us > p1) & (us <= p2), us > p2])
        with pinned_shuffle_width(spark):
            final_path = run_session_stream(spark, src, drill.dir("work"))
        final = spark.read.schema(_SESSION_STORE_SCHEMA).parquet(final_path)
        ordinal = W.partitionBy("user_id").orderBy("start_us")
        result = tracked_persist(
            final.select(
                "user_id",
                F.row_number().over(ordinal).cast("bigint").alias("session_id"),
                "start_us",
                "end_us",
                "n_events",
                (F.col("value_c") / 100.0).alias("session_value"),
            )
        )
        result.count()  # materialize before removing the backing store
    return result


@register("q_stream_anomaly_zscore", oracle=ANOMALY_ZSCORE_ORACLE)
def q_stream_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-stream twin of q_ts_anomaly_zscore (same oracle): per-user
    exact integer moments (n, Σv, Σv²) accumulate as streaming
    aggregation state over 3 pinned micro-batches (complete mode —
    unbounded keyed aggregate, O(users) state); the final statistics
    snapshot then broadcast-joins the event log to flag |z| > 2.5.
    Contrast with q_stream_anomaly (stateful.py), which scores
    PREQUENTIALLY — against the stats as of each event's arrival; this
    twin answers the retrospective question and must therefore equal
    the batch pass bit-for-bit."""
    e = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
    )
    p1, p2 = _ts_tertiles(table(spark, sf_dir, "events"), "ts")
    tsu = F.unix_micros("ts")
    with Drill(spark, "zs") as drill:
        src = drill.splits(
            e.withColumn("us", tsu).drop("ts"),
            [F.col("us") <= p1, (F.col("us") > p1) & (F.col("us") <= p2), F.col("us") > p2],
        )
        stats_agg = read_pinned(
            spark, "event_id long, user_id long, v long, us long", src
        ).groupBy("user_id").agg(
            F.count("*").alias("n"),
            F.sum("v").alias("s1"),
            F.sum(F.expr("v*v")).alias("s2"),
        )
        # snapshot of the memory sink, taken before the temp dirs go
        stats = drill.memory(stats_agg, "complete", pinned=True)  # state width
        flagged = (
            e.join(F.broadcast(stats), "user_id")
            .withColumn("zscore", F.expr(_Z_EXPR))
            .where(F.abs(F.col("zscore")) > Z_THRESHOLD)
        )
        result = tracked_persist(
            flagged.select(
                "event_id",
                "user_id",
                F.unix_micros("ts").alias("ts_us"),
                (F.col("v") / 100.0).alias("value"),
                "zscore",
            )
        )
        result.count()
    return result


# --- live alert routing over the versioned sink's commit stream -----------

ALERT_DELTA_C = 20_000   # |value delta| in cents that makes a change an alert
PAGE_DELTA_C = 30_000    # escalation threshold: page instead of digest

def _alert_routing_oracle() -> str:
    """Three commit transitions replayed as fold diffs, built from the
    versioned sink's shared FOLD_SQL / DIFF_SQL templates — the feed
    semantics live in ONE text (see versioned_sink._CHANGEFEED_CTES)."""
    from ..operators.cdc import with_changelog
    from .versioned_sink import DIFF_SQL, FOLD_SQL

    def diff(i: int) -> str:
        return DIFF_SQL.format(
            frm=f"s{i - 1}",
            to=f"s{i}",
            extra=f",\n           CAST({i} AS BIGINT) AS batch_no",
        )

    ctes = [
        ", cuts AS (SELECT CAST(floor(quantile_cont(seq_no, 0.3333)) AS BIGINT) AS c1,"
        " CAST(floor(quantile_cont(seq_no, 0.6667)) AS BIGINT) AS c2 FROM changelog)",
        ", s0 AS (SELECT * FROM (" + FOLD_SQL.format(pred="") + ") WHERE FALSE)",
        ", s1 AS ("
        + FOLD_SQL.format(pred=" WHERE seq_no <= (SELECT c1 FROM cuts)")
        + ")",
        ", s2 AS ("
        + FOLD_SQL.format(pred=" WHERE seq_no <= (SELECT c2 FROM cuts)")
        + ")",
        ", s3 AS (" + FOLD_SQL.format(pred="") + ")",
        ", d AS (" + " UNION ALL ".join(diff(i) for i in (1, 2, 3)) + ")",
    ]
    return with_changelog(
        "".join(ctes)
        + f"""
, scored AS (
    SELECT batch_no, key, change_type, last_seq,
           COALESCE(CAST(round(payload_value * 100) AS BIGINT), 0)
           - COALESCE(CAST(round(payload_value_old * 100) AS BIGINT), 0) AS delta_c
    FROM d
)
SELECT batch_no, key, change_type, last_seq, delta_c / 100.0 AS delta_value,
       CASE WHEN abs(delta_c) >= {PAGE_DELTA_C} THEN 'sink_pager'
            WHEN change_type = 'DELETE' THEN 'sink_audit'
            ELSE 'sink_digest' END AS destination
FROM scored
WHERE abs(delta_c) >= {ALERT_DELTA_C} OR change_type = 'DELETE'
"""
    )


ALERT_DESTS = ("sink_pager", "sink_audit", "sink_digest")


def run_alert_stream(spark: SparkSession, src: str, work: str, out: str) -> None:
    """Drain every available changelog split in `src` into the
    versioned table under `work`, routing per-commit changefeed alerts
    into per-destination directories under `out`.

    Crash-safe at EVERY boundary, not just between epochs, via a
    durable per-epoch marker chain (work/epochs/{e}.json holding the
    transition's (v_from, v_to)):

    - v_from for epoch e comes from the CHAIN (previous marker's
      v_to), never from the sink's live pointer — so a phantom commit
      (crash after apply_batch, before the marker write; the replayed
      epoch commits the same rows again under a new version) is
      absorbed: the seq-guarded merge makes the phantom and real
      commits byte-identical, and the chain diff spans both.
    - batch_no is epoch-derived (e + 1), so phantom versions never
      shift the numbering the oracle expects.
    - routing writes go to out/{dest}/e{e} with OVERWRITE — a crash
      mid-routing replays into the same directories idempotently.
    Two-phase test in tests/test_twins_property.py."""
    from .versioned_sink import VersionedCdcSink

    sink = VersionedCdcSink(spark, os.path.join(work, "table"))
    if sink.latest_version() == 0:
        empty = spark.range(0).selectExpr(
            "id AS key", "id AS last_seq", "CAST(NULL AS DOUBLE) AS payload_value"
        )
        sink.init(empty)  # v1: empty table
    epochs_dir = os.path.join(work, "epochs")
    os.makedirs(epochs_dir, exist_ok=True)

    def _marker(e: int) -> str:
        return os.path.join(epochs_dir, f"{e}.json")

    def _chain_tail(before: int) -> int:
        """v_to of the latest marked epoch < `before`, else the init
        version — the durable transition chain's view of 'previous'."""
        done = sorted(
            int(f[:-5]) for f in os.listdir(epochs_dir) if f.endswith(".json")
        )
        prior = [e for e in done if e < before]
        if not prior:
            return 1
        with open(_marker(prior[-1])) as fh:
            return json.loads(fh.read())["v_to"]

    def alert_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if os.path.exists(_marker(epoch_id)):
            # crash happened DURING routing: commit + marker landed,
            # re-route the recorded transition (overwrite = idempotent)
            with open(_marker(epoch_id)) as fh:
                m = json.loads(fh.read())
            v_from, v_to = m["v_from"], m["v_to"]
        else:
            v_from = _chain_tail(epoch_id)
            sink.apply_batch(batch_df)
            v_to = sink.latest_version()
            # atomic: a torn marker would wedge this epoch's replay AND
            # every later epoch's _chain_tail read, permanently
            atomic_write_text(
                _marker(epoch_id), json.dumps({"v_from": v_from, "v_to": v_to})
            )
        feed = sink.changes_between(v_from, v_to)
        delta_c = F.coalesce(
            F.round(F.col("payload_value") * 100).cast("bigint"), F.lit(0)
        ) - F.coalesce(
            F.round(F.col("payload_value_old") * 100).cast("bigint"), F.lit(0)
        )
        alerts = (
            feed.withColumn("delta_c", delta_c)
            .where(
                (F.abs(F.col("delta_c")) >= ALERT_DELTA_C)
                | (F.col("change_type") == "DELETE")
            )
            .select(
                F.lit(epoch_id + 1).cast("bigint").alias("batch_no"),
                "key",
                "change_type",
                "last_seq",
                (F.col("delta_c") / 100.0).alias("delta_value"),
                F.when(F.abs(F.col("delta_c")) >= PAGE_DELTA_C, "sink_pager")
                .when(F.col("change_type") == "DELETE", "sink_audit")
                .otherwise("sink_digest")
                .alias("destination"),
            )
            # referenced once per destination below — materialize once
            .localCheckpoint(eager=True)
        )
        for dest in ALERT_DESTS:  # late-bound sink: path chosen per row
            (
                alerts.where(F.col("destination") == dest)
                .drop("destination")
                .write.mode("overwrite")
                .parquet(os.path.join(out, dest, f"e{epoch_id}"))
            )

    run_available_now(
        read_pinned(spark, "seq_no long, op string, key long, payload_value double", src)
        .writeStream.foreachBatch(alert_batch)
        .option("checkpointLocation", os.path.join(work, "_ck"))
    )


def read_routed_alerts(spark: SparkSession, out: str) -> DataFrame:
    """Union the per-destination alert directories back into one frame
    (destination re-attached from the path — the late-binding inverse).
    A run whose feed produced zero alerts leaves no directories at all:
    return an empty typed frame, not an error."""
    schema = "batch_no long, key long, change_type string, last_seq long, delta_value double"
    parts = []
    for dest in ALERT_DESTS:
        droot = os.path.join(out, dest)
        if not os.path.isdir(droot):
            continue
        epoch_dirs = [
            os.path.join(droot, e) for e in sorted(os.listdir(droot))
            if e.startswith("e")
        ]
        if not epoch_dirs:
            continue
        parts.append(
            spark.read.schema(schema)
            .parquet(*epoch_dirs)
            .withColumn("destination", F.lit(dest))
        )
    if not parts:
        return (
            spark.range(0)
            .selectExpr(
                "id AS batch_no", "id AS key", "CAST(NULL AS STRING) AS change_type",
                "id AS last_seq", "CAST(NULL AS DOUBLE) AS delta_value",
                "CAST(NULL AS STRING) AS destination",
            )
        )
    acc = parts[0]
    for p in parts[1:]:
        acc = acc.unionByName(p)
    return acc


@register("q_stream_alert_routing", oracle=_alert_routing_oracle())
def q_stream_alert_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The alerting capstone LIVE: the changelog drains through
    foreachBatch into a fresh VersionedCdcSink (one COW commit per
    micro-batch), and after each commit the batch handler reads the
    changefeed vs the previous commit, applies the alert rule, and
    routes each alert to a LATE-BOUND destination directory chosen per
    row at delivery time (A16 / `initiate-lambda-backfill/main.py:65-74`
    generalized; EventBridge-rule targets `cdk-stack.ts:116-123`). The
    oracle replays the same three commit transitions as changelog-prefix
    fold diffs — so commit mechanics, feed pruning, rule, and routing
    are all under one hash. Static thresholds (not per-feed stats) on
    purpose: a live alert rule must not change meaning batch to batch."""
    from ..operators.cdc import changelog

    cl = changelog(spark, sf_dir).select("seq_no", "op", "key", "payload_value")
    row = cl.agg(
        F.expr("percentile(seq_no, 0.3333)").alias("p1"),
        F.expr("percentile(seq_no, 0.6667)").alias("p2"),
    ).first()
    c1, c2 = int(row.p1), int(row.p2)
    s = F.col("seq_no")
    with Drill(spark, "alrt") as drill:
        src = drill.splits(cl, [s <= c1, (s > c1) & (s <= c2), s > c2])
        out = drill.dir("out")
        # NO width pin (r15 verdict item 1): every epoch runs a full
        # VersionedCdcSink COW merge + changes_between window pass —
        # compute-bound work the width-4 pin serialized (driver r15:
        # 7.85 → 24.3 s, anti-scaling 0.40 at local[32]; this host's
        # idle-32 alternating A/B reads pin-vs-none at parity, so removal
        # is free here and fixes the driver regression)
        run_alert_stream(spark, src, drill.dir("work"), out)
        result = tracked_persist(read_routed_alerts(spark, out))
        result.count()  # materialize before removing the backing dirs
    return result


# --- streaming EWMA: bounded-history carryover --------------------------

def _hourly(batch: DataFrame) -> DataFrame:
    return batch.groupBy(
        "user_id", F.expr("(us div 3600000000) * 3600000000").alias("hus")
    ).agg(F.sum("value_c").alias("value_c"))


_EWMA_TAIL_SCHEMA = "user_id long, hus long, value_c long"


def run_ewma_stream(spark: SparkSession, src: str, work: str, out: str) -> None:
    """Drain event splits, emitting each observed hour's truncated EWMA
    (the q_ts_ewma closed form) incrementally. State = the TRAILING
    EWMA_LAGS hourly rows per user (bounded history — the exact window
    a truncated decay needs, O(users·lags) regardless of stream
    length); split cuts are hour-aligned by the caller so no hour ever
    straddles a batch. Durable-pointer resumable like the session
    store."""
    from ..operators.timeseries import EWMA_LAGS, _EWMA_DEN, _EWMA_NUM

    def emit(batch_df: DataFrame, epoch_id: int, state: dict, path: str) -> None:
        tail = batch_df.sparkSession.read.schema(_EWMA_TAIL_SCHEMA).parquet(
            state["path"]
        ).withColumn("is_new", F.lit(0))
        combined = tail.unionByName(_hourly(batch_df).withColumn("is_new", F.lit(1)))
        w = W.partitionBy("user_id").orderBy("hus")
        lagged = combined.select(
            "user_id",
            "hus",
            "value_c",
            "is_new",
            *[
                F.lag("value_c", j).over(w).alias(f"lag{j}")
                for j in range(EWMA_LAGS + 1)
            ],
        )
        emitted = lagged.where(F.col("is_new") == 1).select(
            "user_id",
            F.col("hus").alias("hour_us"),
            (F.col("value_c") / 100.0).alias("hour_value"),
            (F.expr(f"(({_EWMA_NUM}) / ({_EWMA_DEN}))") / 100.0).alias("ewma_value"),
        )
        # per-epoch OVERWRITE, never a shared append: a crash between
        # this write and the pointer write replays the epoch, which
        # must overwrite its own output rather than duplicate it
        emitted.write.mode("overwrite").parquet(os.path.join(out, f"e{epoch_id}"))
        # next batch's state: the trailing EWMA_LAGS observed hours/user
        wd = W.partitionBy("user_id").orderBy(F.desc("hus"))
        new_tail = (
            combined.withColumn("rn", F.row_number().over(wd))
            .where(F.col("rn") <= EWMA_LAGS)
            .select("user_id", "hus", "value_c")
        )
        new_tail.write.mode("overwrite").parquet(path)

    empty = spark.range(0).select(
        F.col("id").alias("user_id"),
        F.col("id").alias("hus"),
        F.col("id").alias("value_c"),
    )
    stream = read_pinned(spark, "user_id long, us long, value_c long", src)
    fold_versions(stream, work, empty, emit)


def _read_emitted(spark: SparkSession, out: str, schema: str) -> DataFrame:
    """Union per-epoch emission directories under `out` (empty run ->
    empty typed frame via the zero-job WHERE FALSE idiom). The schema
    is parsed properly, not string-split, so complex column types
    (STRUCT/MAP/DECIMAL — commas inside a type) stay valid."""
    from pyspark.sql.types import _parse_datatype_string

    epoch_dirs = [
        os.path.join(out, e)
        for e in sorted(os.listdir(out)) if e.startswith("e")
    ] if os.path.isdir(out) else []
    if not epoch_dirs:
        fields = _parse_datatype_string(schema).fields
        return (
            spark.range(1)
            .select(
                *[
                    F.lit(None).cast(f.dataType).alias(f.name)
                    for f in fields
                ]
            )
            .where(F.lit(False))
        )
    return spark.read.schema(schema).parquet(*epoch_dirs)


def read_emitted_ewma(spark: SparkSession, out: str) -> DataFrame:
    """Union the per-epoch EWMA emission directories (empty run -> empty
    typed frame)."""
    return _read_emitted(
        spark, out, "user_id long, hour_us long, hour_value double, ewma_value double"
    )


def _ewma_oracle() -> str:
    from ..operators.timeseries import EWMA_ORACLE

    return EWMA_ORACLE


@register("q_stream_ewma", oracle=_ewma_oracle())
def q_stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-stream twin of q_ts_ewma (same oracle): the truncated-decay
    closed form makes the streaming state BOUNDED — each user's next
    EWMA needs exactly the trailing EWMA_LAGS observed hours, so the
    carryover is O(users·lags) no matter how long the stream runs (a
    recursive float EWMA would need no more state but would be
    evaluation-order-dependent — the exact trade q_ts_ewma documents).
    Splits are hour-aligned so no hour straddles a micro-batch; every
    emitted row must hash-match the batch pass."""
    e = table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100).cast("bigint").alias("value_c"),
    )
    p1, p2 = _ts_tertiles(table(spark, sf_dir, "events"), "ts")
    h1 = (p1 // 3_600_000_000) * 3_600_000_000
    h2 = (p2 // 3_600_000_000) * 3_600_000_000
    us = F.col("us")
    with Drill(spark, "ewma") as drill:
        src = drill.splits(e, [us < h1, (us >= h1) & (us < h2), us >= h2])
        out = drill.dir("out")
        with pinned_shuffle_width(spark):
            run_ewma_stream(spark, src, drill.dir("work"), out)
        result = tracked_persist(read_emitted_ewma(spark, out))
        result.count()  # materialize before removing the backing dirs
    return result


# --- streaming CUSUM: prefix-carryover change-point scan -------------------

_CUSUM_STORE_SCHEMA = (
    "user_id long, t long, csum long, "
    "best struct<negdev: bigint, rn: bigint, ts_us: bigint>"
)
_CUSUM_STATS_SCHEMA = "user_id long, n long, s1 long"


def run_cusum_stream(spark: SparkSession, src: str, work: str, stats_path: str) -> str:
    """Drain time-ordered event splits in `src`, maintaining per user a
    running CUSUM change-point candidate against the FINAL statistics
    at `stats_path` (user_id, n, s1 — the phase-1 output); returns the
    final candidate-store path.

    The retrospective CUSUM peak argmaxₜ |n·csumₜ − t·s1| needs final
    (n, s1), so at scale this is inherently two passes: a stats pass
    (the O(users)-state complete-mode aggregate q_stream_anomaly_zscore
    demonstrates live) and THIS scoring pass, whose state is also
    O(users): per user the prefix tail (events-so-far t, prefix sum
    csum) plus the best candidate struct so far. The per-batch fold is
    associative — each batch contributes min(struct(-dev, rn, ts)) over
    its rows, merged into the store with least() — so the final store
    equals the batch argmin no matter how the stream was split.
    Durable-pointer resumable like the session store (pointer written
    AFTER data; a replayed epoch overwrites its own version
    idempotently from the prior committed store)."""

    def scan(batch_df: DataFrame, epoch_id: int, state: dict, path: str) -> None:
        sess = batch_df.sparkSession
        store = sess.read.schema(_CUSUM_STORE_SCHEMA).parquet(state["path"])
        stats = sess.read.schema(_CUSUM_STATS_SCHEMA).parquet(stats_path)
        w = W.partitionBy("user_id").orderBy("us", "event_id")
        wrun = w.rowsBetween(W.unboundedPreceding, W.currentRow)
        scored = (
            batch_df.select(
                "user_id",
                "us",
                "vc",
                F.row_number().over(w).alias("rn_b"),
                F.sum("vc").over(wrun).alias("csum_b"),
            )
            # carry join: the store is a materialized O(users) parquet,
            # so reading it here and again in the merge below is two
            # cheap scans, not a recomputed plan branch
            .join(store.select("user_id", "t", "csum"), "user_id", "left")
            .join(F.broadcast(stats), "user_id")
            .select(
                "user_id",
                "us",
                (F.coalesce("t", F.lit(0)) + F.col("rn_b")).alias("rn"),
                (F.coalesce("csum", F.lit(0)) + F.col("csum_b")).alias("cs"),
                "n",
                "s1",
            )
        )
        summary = scored.select(
            "user_id",
            "rn",
            "cs",
            "us",
            F.abs(F.expr("n * cs - rn * s1")).alias("dev"),
        ).groupBy("user_id").agg(
            # batch candidate: largest deviation, earliest index on ties
            # (rn is unique per user, so the struct order is total and
            # ts_us rides as payload)
            F.min(
                F.struct((-F.col("dev")).alias("negdev"), "rn", F.col("us").alias("ts_us"))
            ).alias("cand"),
            # prefix tail after this batch: rn/cs at the last row
            F.max(F.struct("rn", "cs")).alias("tail"),
        )
        merged = (
            store.join(summary, "user_id", "full")
            .select(
                "user_id",
                F.coalesce(F.col("tail.rn"), F.col("t")).alias("t"),
                F.coalesce(F.col("tail.cs"), F.col("csum")).alias("csum"),
                # least() skips NULLs: untouched users keep their best,
                # new users adopt the batch candidate
                F.least("best", "cand").alias("best"),
            )
        )
        merged.write.mode("overwrite").parquet(path)

    empty = spark.range(0).selectExpr(
        "id AS user_id",
        "id AS t",
        "id AS csum",
        "CAST(NULL AS STRUCT<negdev: BIGINT, rn: BIGINT, ts_us: BIGINT>) AS best",
    )
    stream = read_pinned(spark, "user_id long, event_id long, us long, vc long", src)
    return fold_versions(stream, work, empty, scan)["path"]


def read_cusum_store(spark: SparkSession, store_path: str, stats_path: str) -> DataFrame:
    """Final candidate store + final stats → the batch-twin output shape
    (every user with events has a best candidate by construction)."""
    store = spark.read.schema(_CUSUM_STORE_SCHEMA).parquet(store_path)
    stats = spark.read.schema(_CUSUM_STATS_SCHEMA).parquet(stats_path)
    return store.join(F.broadcast(stats), "user_id").select(
        "user_id",
        F.col("best.ts_us").alias("cp_ts_us"),
        F.col("best.rn").cast("bigint").alias("cp_index"),
        F.col("n").cast("bigint").alias("n_events"),
        (F.expr("(-best.negdev) / n") / 100.0).alias("peak_dev"),
    )


def _cusum_oracle() -> str:
    from ..operators.timeseries import CUSUM_ORACLE

    return CUSUM_ORACLE


@register("q_stream_cusum", oracle=_cusum_oracle())
def q_stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-stream twin of q_ts_cusum_changepoint (same oracle): the
    retrospective change point falls out of two O(users)-state passes —
    final exact moments (n, Σv; the stats half of the two-phase shape,
    run live in q_stream_anomaly_zscore, computed as one batch
    aggregate here), then a streamed prefix-carryover scan that scores
    each event's exact integer deviation |n·csumₜ − t·s1| as it
    arrives and folds the per-batch argmin candidate into a durable
    store (run_cusum_stream). Nothing per-event is ever retained:
    state is (t, csum, best) per user, so the scan would run
    unchanged over a 100 TB event log. The emitted peak must equal the
    batch window pass bit-for-bit."""
    e = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100).cast("bigint").alias("vc"),
    )
    p1, p2 = _ts_tertiles(table(spark, sf_dir, "events"), "ts")
    us = F.col("us")
    with Drill(spark, "cusum") as drill:
        src = drill.splits(e, [us <= p1, (us > p1) & (us <= p2), us > p2])
        work = drill.dir("work")
        stats_path = os.path.join(work, "stats")
        e.groupBy("user_id").agg(
            F.count("*").alias("n"), F.sum("vc").alias("s1")
        ).write.mode("overwrite").parquet(stats_path)

        with pinned_shuffle_width(spark):
            final = run_cusum_stream(spark, src, work, stats_path)
        result = tracked_persist(read_cusum_store(spark, final, stats_path))
        result.count()  # materialize before removing the backing dirs
    return result


# --- streaming Holt-Winters: two-phase seasonal smoothing -----------------

_HW_TAIL_SCHEMA = (
    "user_id long, hus long, vc long, s1_c long, level_c long, tr3 long"
)
_HW_SEAS_SCHEMA = "user_id long, hod long, seas_c long"


def run_hw_stream(
    spark: SparkSession, src: str, work: str, out: str, seas_path: str
) -> None:
    """Drain hour-aligned event splits, emitting each observed hour's
    Holt-Winters row (the q_ts_holt_winters closed form) incrementally
    against the FINAL seasonal index at `seas_path` (phase-1 output,
    user_id × hour-of-day × seas_c).

    State per user = the trailing EWMA_LAGS observed hours carrying
    (vc, s1_c, level_c, tr3): the d-lags of a new hour need the prior
    20 deseasonalized values (vc and the broadcast-free seas join
    recover them), the e-lags need the prior 20 QUANTIZED first
    smoothings — which must be the values computed when those hours
    were live, never recomputed from a truncated window — and the
    one-step forecast needs the last (level, trend). O(users·lags)
    forever, like the EWMA tail. Durable-pointer resumable (pointer
    written AFTER data; replayed epochs overwrite their own output)."""
    from ..operators.timeseries import (
        EWMA_LAGS,
        _HW_S1_EXPR,
        _HW_S2_EXPR,
        _hw_text,
    )

    s = _hw_text("div")

    def emit(batch_df: DataFrame, epoch_id: int, state: dict, path: str) -> None:
        sess = batch_df.sparkSession
        tail = sess.read.schema(_HW_TAIL_SCHEMA).parquet(
            state["path"]
        ).withColumn("is_new", F.lit(0))
        newh = (
            _hourly(batch_df)
            .select(
                "user_id",
                "hus",
                F.col("value_c").alias("vc"),
                F.lit(None).cast("long").alias("s1_c"),
                F.lit(None).cast("long").alias("level_c"),
                F.lit(None).cast("long").alias("tr3"),
            )
            .withColumn("is_new", F.lit(1))
        )
        seas = sess.read.schema(_HW_SEAS_SCHEMA).parquet(seas_path)
        comb = (
            tail.unionByName(newh)
            .withColumn("hod", F.expr("(hus div 3600000000) % 24"))
            # equi-join, not broadcast: the index is O(users·24) — at
            # scale it shuffles with the (small) hourly batch, never
            # pinned driver-side
            .join(seas, ["user_id", "hod"], "left")
            .withColumn("d_c", F.col("vc") - F.col("seas_c"))
        )
        w = W.partitionBy("user_id").orderBy("hus")
        lag1 = comb.select(
            "user_id",
            "hus",
            "vc",
            "seas_c",
            "is_new",
            "s1_c",
            "level_c",
            "tr3",
            *[F.lag("d_c", j).over(w).alias(f"d{j}") for j in range(EWMA_LAGS + 1)],
        )
        # carried s1 for tail rows (their full history is gone — a
        # recompute here would silently use a truncated window);
        # computed s1 for new rows
        s1r = lag1.withColumn(
            "s1_c",
            F.when(F.col("is_new") == 1, F.expr(_HW_S1_EXPR)).otherwise(
                F.col("s1_c")
            ),
        )
        lag2 = s1r.select(
            "user_id",
            "hus",
            "vc",
            "seas_c",
            "is_new",
            "s1_c",
            "level_c",
            "tr3",
            *[F.lag("s1_c", j).over(w).alias(f"e{j}") for j in range(EWMA_LAGS + 1)],
        )
        s2r = (
            lag2.withColumn("s2_c", F.expr(_HW_S2_EXPR))
            .withColumn(
                "level_c",
                F.when(
                    F.col("is_new") == 1, 2 * F.col("s1_c") - F.col("s2_c")
                ).otherwise(F.col("level_c")),
            )
            .withColumn(
                "tr3",
                F.when(
                    F.col("is_new") == 1, F.col("s1_c") - F.col("s2_c")
                ).otherwise(F.col("tr3")),
            )
        )
        # two actions (emission + new tail) consume fin: persist it for
        # the batch so the join + four window passes run once, not twice
        fin = s2r.select(
            "user_id",
            "hus",
            "vc",
            "seas_c",
            "is_new",
            "s1_c",
            "level_c",
            "tr3",
            F.lag("level_c", 1).over(w).alias("prev_level"),
            F.lag("tr3", 1).over(w).alias("prev_tr3"),
        ).persist()
        try:
            emitted = fin.where(F.col("is_new") == 1).select(
                "user_id",
                F.col("hus").alias("hour_us"),
                (F.col("vc") / F.lit(1e2)).alias("hour_value"),
                (F.col("seas_c") / F.lit(1e2)).alias("seasonal"),
                (F.col("level_c") / F.lit(1e2)).alias("level"),
                (F.col("tr3") / F.lit(3e2)).alias("trend"),
                F.expr(s["fc"]).alias("forecast"),
            )
            # per-epoch OVERWRITE, never a shared append (crash replay)
            emitted.write.mode("overwrite").parquet(
                os.path.join(out, f"e{epoch_id}")
            )
            wd = W.partitionBy("user_id").orderBy(F.desc("hus"))
            new_tail = (
                fin.withColumn("rn", F.row_number().over(wd))
                .where(F.col("rn") <= EWMA_LAGS)
                .select("user_id", "hus", "vc", "s1_c", "level_c", "tr3")
            )
            new_tail.write.mode("overwrite").parquet(path)
        finally:
            fin.unpersist()  # a failed write must not leak the cache

    empty = spark.range(0).selectExpr(
        "id AS user_id",
        "id AS hus",
        "id AS vc",
        "id AS s1_c",
        "id AS level_c",
        "id AS tr3",
    )
    stream = read_pinned(spark, "user_id long, us long, value_c long", src)
    fold_versions(stream, work, empty, emit)


def read_emitted_hw(spark: SparkSession, out: str) -> DataFrame:
    """Union the per-epoch Holt-Winters emissions (empty run -> empty
    typed frame)."""
    return _read_emitted(
        spark,
        out,
        "user_id long, hour_us long, hour_value double, seasonal double, "
        "level double, trend double, forecast double",
    )


def write_hw_seasonal_index(e: DataFrame, seas_path: str) -> None:
    """Phase 1: the final additive seasonal index (user × hour-of-day),
    exactly the batch twin's window formulation — the hourly frame is
    referenced once; dropDuplicates reduces the per-row window values
    to the per-cell index."""
    from ..operators.timeseries import _hw_text

    s = _hw_text("div")
    # the SAME hour bucketing as the scoring stream (_hourly) — phase 1
    # and phase 2 must never disagree on what an "hour" is
    hourly = _hourly(e).withColumnRenamed("value_c", "vc")
    hw = W.partitionBy("user_id", F.expr("(hus div 3600000000) % 24"))
    uw = W.partitionBy("user_id")
    (
        hourly.select(
            "user_id",
            F.expr("(hus div 3600000000) % 24").alias("hod"),
            F.sum("vc").over(hw).alias("s_hod"),
            F.count("*").over(hw).alias("n_hod"),
            F.sum("vc").over(uw).alias("s_all"),
            F.count("*").over(uw).alias("n_all"),
        )
        .select("user_id", "hod", F.expr(s["seas"]).alias("seas_c"))
        .dropDuplicates(["user_id", "hod"])
        .write.mode("overwrite")
        .parquet(seas_path)
    )


def _hw_oracle() -> str:
    from ..operators.timeseries import HW_ORACLE

    return HW_ORACLE


@register("q_stream_holt_winters", oracle=_hw_oracle())
def q_stream_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-stream twin of q_ts_holt_winters (same oracle): the
    decomposition route splits into exactly the two-phase shape every
    'smooth against global structure' pipeline has at scale — a stats
    pass producing the O(users·24) seasonal index (phase 1; the live
    complete-mode variant is demonstrated by q_stream_anomaly_zscore's
    moment stream), then a scoring stream whose carryover is the
    trailing EWMA_LAGS hours per user with their quantized first
    smoothings and last (level, trend) — O(users·lags) state no matter
    how long the stream runs. Splits are hour-aligned so no hour
    straddles a micro-batch; every emitted row must hash-match the
    batch pass, Brown's-identity arithmetic and all."""
    e = table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100).cast("bigint").alias("value_c"),
    )
    p1, p2 = _ts_tertiles(table(spark, sf_dir, "events"), "ts")
    h1 = (p1 // 3_600_000_000) * 3_600_000_000
    h2 = (p2 // 3_600_000_000) * 3_600_000_000
    us = F.col("us")
    with Drill(spark, "hw") as drill:
        src = drill.splits(e, [us < h1, (us >= h1) & (us < h2), us >= h2])
        work, out = drill.dir("work"), drill.dir("out")
        seas_path = os.path.join(work, "seas")
        with pinned_shuffle_width(spark):
            write_hw_seasonal_index(e, seas_path)
            run_hw_stream(spark, src, work, out, seas_path)
        result = tracked_persist(read_emitted_hw(spark, out))
        result.count()  # materialize before removing the backing dirs
    return result


# --- streaming heavy hitters: bounded-state space-saving summary -----------

HH_CAPACITY = 4096  # summary rows kept per stream (state bound)
HH_TOP = 25         # rows the registered query reports
# the summary store's schema: every read passes it (an inferred read
# runs a footer job per call, and the store is ours)
_HH_SUMMARY_SCHEMA = "key long, est long, err long"


def merge_space_saving(
    summary: DataFrame, bcounts: DataFrame, wm: int, capacity: int
) -> tuple[DataFrame, int]:
    """One space-saving merge step: fold a batch's exact counts
    (key, bcnt) into the summary (key, est, err) under watermark `wm`;
    return the truncated summary and the new watermark.

    Keys on both sides add; a key new to the summary enters with
    est = bcnt + wm and err = wm (it may have been counted up to the
    watermark before an earlier eviction); truncation keeps the top
    `capacity` rows by (est desc, key asc) and raises the watermark to
    the largest evicted est. Provable invariants (property-tested,
    tests/test_twins_property.py): est - err <= true <= est for every
    member, |summary| <= capacity, and ABSENT implies true <= wm — so
    every key with true count above the watermark is guaranteed
    present (the completeness half of the heavy-hitter guarantee)."""
    j = summary.alias("s").join(bcounts.alias("b"), on="key", how="full_outer")
    new_key = F.col("s.est").isNull()
    wm_lit = F.lit(wm)
    merged = j.select(
        "key",
        (
            F.when(new_key, F.col("b.bcnt") + wm_lit)
            .otherwise(F.col("s.est") + F.coalesce(F.col("b.bcnt"), F.lit(0)))
        ).alias("est"),
        F.when(new_key, wm_lit).otherwise(F.col("s.err")).alias("err"),
    )
    # truncation as a DISTRIBUTED top-k — orderBy().limit() compiles to
    # TakeOrderedAndProject (per-partition heaps + driver merge of
    # capacity+1 rows), never the global row_number window it replaced:
    # a micro-batch can carry millions of distinct keys at stream
    # scale, and an unpartitioned Window is a single-reducer sort of
    # ALL of them every batch (round-8 review). capacity+1 rows so the
    # boundary row both proves an eviction happened and carries the new
    # watermark: ordering is est-descending, so the largest EVICTED est
    # is exactly the (capacity+1)-th row's est.
    top = tracked_persist(
        merged.orderBy(F.desc("est"), F.asc("key")).limit(capacity + 1)
    )  # ≤ capacity+1 rows (state-bounded); referenced twice: kept + boundary
    kept = (
        top.orderBy(F.desc("est"), F.asc("key"))
        .limit(capacity)
        .select("key", "est", "err")
    )
    boundary = (
        top.orderBy(F.asc("est"), F.desc("key")).limit(1).collect()
        if top.count() > capacity
        else []
    )  # ≤ 1 row: orchestration, not data
    return kept, (max(wm, int(boundary[0].est)) if boundary else wm)


def run_heavy_hitters_stream(
    spark: SparkSession, src: str, work: str, capacity: int = HH_CAPACITY
) -> tuple[str, int]:
    """Drain event splits maintaining a SPACE-SAVING summary (Metwally
    et al.'s Stream-Summary, in its mergeable-summaries form): state is
    a capped table of (key, est, err) rows plus one scalar watermark —
    O(capacity) no matter how long the stream runs or how many distinct
    keys it carries, which is the whole point at 100 TB (an exact
    per-key count would be O(distinct)).

    Per micro-batch: exact batch counts (map-side pre-reduced groupBy)
    full-outer-merge with the summary — keys in both sides add; a key
    new to the summary enters with est = batch_count + watermark and
    err = watermark (it may have been counted up to the watermark
    before an earlier eviction) — then the summary truncates to the
    top `capacity` rows by (est desc, key asc) and the watermark rises
    to the largest evicted est. Invariants (unit-tested):
    est - err <= true <= est, and with capacity >= distinct keys the
    watermark stays 0, so every estimate is EXACT — which is what lets
    the registered query share the batch twin's exact-count oracle.

    Durable-pointer resumable like the session/EWMA stores: the
    `_LATEST` pointer carries {path, wm} in one atomic write, pointer
    lands AFTER data so a crash replays the epoch idempotently
    (per-epoch overwrite)."""

    def merge(batch_df: DataFrame, epoch_id: int, state: dict, path: str) -> dict:
        summary = batch_df.sparkSession.read.schema(_HH_SUMMARY_SCHEMA).parquet(
            state["path"]
        )
        bcounts = batch_df.groupBy(F.col("user_id").alias("key")).agg(
            F.count("*").alias("bcnt")
        )
        kept, new_wm = merge_space_saving(summary, bcounts, state["wm"], capacity)
        kept.write.mode("overwrite").parquet(path)
        return {"wm": new_wm}

    empty = spark.range(0).select(
        F.col("id").alias("key"),
        F.col("id").alias("est"),
        F.col("id").alias("err"),
    )
    stream = read_pinned(spark, "user_id long, us long", src)
    state = fold_versions(stream, work, empty, merge, carry={"wm": 0})
    return state["path"], state["wm"]


_HH_ORACLE = f"""
WITH counts AS (
    SELECT user_id AS key, CAST(count(*) AS BIGINT) AS est_count
    FROM events GROUP BY 1
), ranked AS (
    SELECT key, est_count, CAST(0 AS BIGINT) AS max_err,
           CAST(row_number() OVER (ORDER BY est_count DESC, key ASC) AS BIGINT)
               AS rk
    FROM counts
)
SELECT key, est_count, max_err, rk FROM ranked WHERE rk <= {HH_TOP}
"""


@register("q_stream_heavy_hitters", oracle=_HH_ORACLE)
def q_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming heavy hitters ≡ exact batch top-k (same
    rows, the hash match IS the proof): the event log replays as 3
    pinned micro-batches through the space-saving summary
    (run_heavy_hitters_stream). Capacity 4096 exceeds the fixture's
    distinct-key count at every SF, so the summary's guarantee
    (est - err <= true <= est) collapses to est == true and err == 0 —
    exact ≡ approximate is provable, which makes the exact-count SQL a
    legitimate oracle for the approximate operator. At production
    cardinalities the same code degrades gracefully to the documented
    overestimate bound instead of growing state (closes the last batch
    op with no streaming story — topwords/top-k)."""
    e = table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us")
    )
    p1, p2 = _ts_tertiles(table(spark, sf_dir, "events"), "ts")
    us = F.col("us")
    with Drill(spark, "hh") as drill:
        src = drill.splits(e, [us <= p1, (us > p1) & (us <= p2), us > p2])
        with pinned_shuffle_width(spark):
            path, wm = run_heavy_hitters_stream(spark, src, drill.dir("work"))
        if wm:
            # the exactness precondition, asserted rather than assumed: a
            # risen watermark means capacity < distinct keys at this SF, so
            # estimates carry error and the exact-count oracle no longer
            # applies — fail with the cause instead of an opaque driver
            # hash mismatch (the fixture grows ~10x distinct keys per SF;
            # 4096 covers sf0.1's 1500 but not sf1)
            raise ValueError(
                f"space-saving watermark rose to {wm}: HH_CAPACITY="
                f"{HH_CAPACITY} is below the distinct-key count of {sf_dir}; "
                f"raise HH_CAPACITY for exact parity at this scale"
            )
        summary = spark.read.schema(_HH_SUMMARY_SCHEMA).parquet(path)
        # top-k FIRST (TakeOrderedAndProject), window AFTER: the row_number
        # then ranks ≤ HH_TOP rows — bounded by the limit constant, not by
        # the summary (same replan as merge_space_saving's truncation)
        result = tracked_persist(
            summary.orderBy(F.desc("est"), F.asc("key"))
            .limit(HH_TOP)
            .withColumn(
                "rk",
                F.row_number().over(W.orderBy(F.desc("est"), F.asc("key"))).cast("bigint"),
            )
            .select(
                "key",
                F.col("est").alias("est_count"),
                F.col("err").alias("max_err"),
                "rk",
            )
        )
        result.count()  # materialize before removing the backing dirs
    return result


# --- streaming ingest through the merge-on-read lane ------------------------


def run_mor_ingest_stream(spark: SparkSession, src: str, work: str, sink) -> None:
    """Drain changelog splits into a lakehouse sink via BLIND APPENDS —
    the production ingest shape: each micro-batch lands as one
    always-compatible commit (no reads, no removes, O(batch) whatever
    the table size), and the read side folds pending entries until the
    maintenance policy pays for compaction.

    Epoch replay after a crash double-appends a batch, and that is
    VALUE-idempotent by construction: a duplicated changelog entry ties
    with itself in the per-key max-seq fold (identical row, identical
    winner), so the folded state is unchanged — physical debris is
    bounded by one batch and the next compact_mor folds it away. That
    is why this runner needs no pointer machinery where the merge-based
    runners do (their per-epoch OVERWRITE state is replay-sensitive)."""
    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        sink.append(batch_df)

    run_available_now(
        read_pinned(spark, "seq_no long, op string, key long, payload_value double", src)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", os.path.join(work, "_checkpoint"))
    )


def _mor_fold_oracle() -> str:
    # the shared FOLD_SQL template, not a re-typed copy: one text is
    # what keeps fold semantics from silently diverging across the
    # changefeed/alerting/ingest oracles (versioned_sink.py rationale)
    from ..operators.cdc import with_changelog
    from .versioned_sink import FOLD_SQL

    return with_changelog(FOLD_SQL.format(pred=""))


def _mor_ingest_drill(spark: SparkSession, sf_dir: str, sink_of) -> DataFrame:
    """Shared body of the streaming MOR ingest drills: init = fold of
    the changelog's first third, the remaining two thirds replay as 3
    pinned micro-batches of blind appends (run_mor_ingest_stream), then
    the maintenance policy runs for real — optimize_plan selects the
    buckets whose delta fan-in or tombstone debt crossed threshold,
    compact_mor folds exactly those — and the final visible() must
    still equal the one-shot fold. `sink_of(spark, path)` picks the
    table format; everything else (runner, policy thresholds, oracle)
    is format-independent, which is the seam promise in streaming
    form."""
    from ..operators.cdc import changelog, fold_changelog

    cl = changelog(spark, sf_dir).select(
        "seq_no", "op", "key", "payload_value"
    )
    max_seq = int(cl.agg(F.max("seq_no")).first()[0])  # orchestration scalar
    c1 = max_seq // 3
    seq = F.col("seq_no")
    d = max_seq - c1
    bounds = [c1 + (i * d) // 3 for i in range(4)]
    with Drill(spark, "mor") as drill:
        src = drill.splits(
            cl, [(seq > bounds[i]) & (seq <= bounds[i + 1]) for i in range(3)]
        )
        sink = sink_of(spark, os.path.join(drill.root, "table"))
        with pinned_shuffle_width(spark):
            sink.init(fold_changelog(cl.where(seq <= c1)))
            run_mor_ingest_stream(spark, src, drill.dir("work"), sink)
            plan = sink.optimize_plan(
                small_file_rows=100, min_small_files=2, tombstone_pct=10
            ).collect()  # ≤ n_buckets+1 rows: orchestration, not data
            to_compact = {r.bucket for r in plan if r.decision == "COMPACT"}
            if to_compact:
                sink.compact_mor(to_compact)
            if any(r.decision == "REPACK" for r in plan):
                # only the manifest-tree format prices fragmentation; applying
                # its decision here is what keeps per-commit metadata flat
                # WITHOUT operator intervention (round-10 verdict item 4) —
                # metadata-only commit, visible() provably unchanged
                sink.rewrite_manifests()
            result = tracked_persist(
                sink.visible().select("key", "last_seq", "payload_value")
            )
            result.count()  # materialize before the backing dirs go away
    return result


@register(
    "q_stream_schema_evolution",
    oracle="""
WITH changelog AS (
    SELECT event_id AS seq_no,
           CASE WHEN event_type = 'error' THEN 'REMOVE'
                WHEN event_type = 'signup' THEN 'INSERT'
                ELSE 'MODIFY' END AS op,
           user_id AS key,
           round(value, 2) AS payload_value,
           props AS payload_props
    FROM events),
p AS (SELECT max(seq_no) // 3 AS c1,
             max(seq_no) // 3
             + (max(seq_no) - max(seq_no) // 3) // 2 AS cw
      FROM changelog)
SELECT key, seq_no AS last_seq, payload_value,
       CASE WHEN seq_no > cw THEN payload_props END AS payload_props
FROM (
    SELECT key, seq_no, op, payload_value, payload_props,
           row_number() OVER (PARTITION BY key ORDER BY seq_no DESC) AS rn
    FROM changelog
) r, p WHERE rn = 1 AND op <> 'REMOVE'
""",
)
def q_stream_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mid-STREAM add-column schema evolution through the blind-append
    ingest lane — the composition the batch drills
    (q_cdc_delta_schema_evolution / _iceberg_) can't show: init = fold
    of the changelog's first third (payload_value only), then the tail
    replays as two pinned micro-batches where the SECOND arrives with a
    NEW payload_props column (writers drift mid-stream, the reference's
    schemaless payload). The evolution publishes inside that batch's
    append commit; compact_mor then folds WIDE pending files over
    NARROW base files (schema-on-read null-fill inside the fold), and
    the final state must equal the changelog fold where only rows whose
    winning entry postdates the evolution carry the column. Epoch
    replay stays value-idempotent (same argument as
    q_stream_mor_ingest; the evolution commit re-unions on retry)."""
    from ..operators.cdc import changelog, fold_changelog
    from .delta_log_sink import DeltaLogSink

    cl = changelog(spark, sf_dir).select(
        "seq_no", "op", "key", "payload_value", "payload_props"
    )
    max_seq = int(cl.agg(F.max("seq_no")).first()[0])  # orchestration scalar
    c1 = max_seq // 3
    cw = c1 + (max_seq - c1) // 2  # the evolution boundary
    seq = F.col("seq_no")

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if int(epoch_id) == 0:
            # the first micro-batch is a pre-drift writer: narrow shape
            batch_df = batch_df.drop("payload_props")
        sink.append(batch_df)

    with Drill(spark, "sevo") as drill:
        src = drill.splits(cl, [(seq > c1) & (seq <= cw), seq > cw])
        sink = DeltaLogSink(spark, os.path.join(drill.root, "table"))
        with pinned_shuffle_width(spark):
            sink.init(fold_changelog(cl.where(seq <= c1)))
            run_available_now(
                read_pinned(
                    spark,
                    "seq_no long, op string, key long, payload_value double, "
                    "payload_props string",
                    src,
                )
                .writeStream.foreachBatch(apply_batch)
                .option("checkpointLocation", os.path.join(drill.root, "_checkpoint"))
            )
            sink.compact_mor(set(range(sink.n_buckets)))
            result = tracked_persist(
                sink.visible().select(
                    "key", "last_seq", "payload_value", "payload_props"
                )
            )
            result.count()  # materialize before the backing dirs go away
    return result


@register("q_stream_mor_ingest", oracle=_mor_fold_oracle())
def q_stream_mor_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming merge-on-read ingest ≡ the batch changelog fold (same
    oracle as the copy-on-write fold drills — the hash match proves the
    append lane converges to the same state as write-time merging),
    through the Delta-shaped log. See _mor_ingest_drill. Ingest cost is
    O(batch) per commit; the rewrite is paid only where the policy
    said so."""
    from .delta_log_sink import DeltaLogSink

    return _mor_ingest_drill(spark, sf_dir, DeltaLogSink)


@register("q_stream_mor_ingest_iceberg", oracle=_mor_fold_oracle())
def q_stream_mor_ingest_iceberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same streaming MOR ingest drill through the Iceberg-shaped
    metadata tree (round 9): blind appends land as data +
    equality-delete files, optimize_plan prices the debt from manifest
    entries, compact_mor folds the selected buckets — one runner, one
    oracle, two protocols, which is the seam promise in streaming form
    (reference A13/A14, `lambda-backfill/main.py:22,33-46`)."""
    from .iceberg_log_sink import IcebergLogSink

    return _mor_ingest_drill(spark, sf_dir, IcebergLogSink)
