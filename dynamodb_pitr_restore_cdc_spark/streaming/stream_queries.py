"""Streaming operator family (SURVEY.md §2B "Streaming").

Two execution shapes, same operators:

- window/session aggregations run here in BATCH mode with the exact
  streaming operators (`F.window`, `F.session_window`) — in Spark these
  are the same Catalyst nodes either way, and batch mode makes the
  driver's oracle-differential check meaningful.
- the genuinely stateful behaviors (watermark late-drop, streaming
  dedup, foreachBatch CDC) run REAL multi-micro-batch streams over
  deterministic file splits, so batch boundaries — the thing that makes
  streaming semantics interesting — actually exist. Each runs through
  the one drill lifecycle in streaming/drill.py (which states the
  determinism discipline that makes those boundaries reproducible).

Scale notes (100 TB): all stateful ops are keyed (user_id /
content_hash) so state shards across executors; watermarks bound state
growth; session windows merge per key. The tumbling/sliding batch
equivalents shuffle once on (window, key) with map-side partials.

Ordering note: the CDC replays here (q_stream_foreachbatch_cdc and the
bucketed-sink drills) commit through the log-table core, whose merge
retains deletes as tombstones — a per-key max-seq reduction, so the
state is correct under arbitrary cross-batch reordering, not only the
roughly seq-ordered delivery of the reference's FIFO queue. Their
splits are contiguous seq ranges only to mirror that queue.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cdc import cdc_merge, changelog, fold_changelog, with_changelog
from ..registry import register, tracked_persist
from ..sources import table
from .cdc_stream import CHANGELOG_STREAM_SCHEMA, run_cdc_apply
from .delta_log_sink import DeltaLogSink
from .drill import Drill, _ts_tertiles, _write_one_split, read_pinned, run_available_now
from .util import pinned_shuffle_width


# ---------------------------------------------------------------------------
# windowed aggregations (streaming operators, batch-checked)
# ---------------------------------------------------------------------------

@register(
    "q_stream_tumbling",
    oracle="""
SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
       count(*) AS n_events,
       sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value
FROM events
GROUP BY 1
""",
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window count/sum (`F.window` — the streaming
    group-by node; epoch-aligned, so the batch oracle is date_trunc)."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour"))
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(F.round(F.col("value") * 100).cast("bigint")) / 100.0).alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "q_stream_sliding",
    # oracled since round 5: overlapping windows ARE one SQL group-by
    # after an explode — each event belongs to exactly the 4
    # epoch-aligned 15-minute starts s with s <= ts < s + 1h, which is
    # precisely Spark's Expand x4 made explicit
    oracle="""
WITH ev AS (SELECT epoch_us(ts) AS us FROM events),
x AS (SELECT us,
             (us // 900000000) * 900000000 - k * 900000000 AS ws
      FROM ev, UNNEST(range(4)) AS t(k))
SELECT ws AS window_start_us, count(*) AS n_events
FROM x
WHERE us >= ws AND us < ws + 3600000000
GROUP BY ws
""",
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 15 minutes — each event lands in 4
    windows (Expand ×4 before the shuffle)."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "n_events",
        )
    )


@register(
    "q_stream_session",
    oracle="""
WITH gaps AS (
    SELECT user_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
    SELECT user_id, ts,
           sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sess_id
    FROM gaps
)
SELECT user_id,
       epoch_us(min(ts)) AS session_start_us,
       count(*) AS n_events
FROM sess
GROUP BY user_id, sess_id
""",
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows, 30-minute gap, per user (`F.session_window` — the
    streaming merging-session state op). The oracle is the classic
    gap-and-islands rewrite, proving the semantics equivalence."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# real multi-batch streaming runs
# ---------------------------------------------------------------------------

# The watermark trajectory IS SQL-expressible here because the splits
# are pinned. Spark runs each micro-batch with TWO watermark values
# (verified empirically on a 3-file probe, reading
# numRowsDroppedByWatermark per batch): the LATE-EVENT FILTER for
# batch k uses the watermark committed after batch k-1, which was
# computed from data through batch k-2 — so batch 2's filter is
# W0 = ms-truncated max(batch-0 event time) - delay — while EVICTION /
# append emission uses the current batch's updated watermark; after
# the final no-data flush that is Wf over ALL rows (dropped late rows
# still advance event-time stats, which sit upstream of the filter).
_WM_LATE_ORACLE = """
WITH p AS (SELECT CAST(floor(quantile_cont(epoch_us(ts), 0.3333)) AS BIGINT) AS p1
           FROM events),
b AS (
    SELECT date_trunc('hour', ts) AS w0, epoch_us(ts) AS tsu,
           CASE WHEN event_id % 5 = 0 THEN 2
                WHEN epoch_us(ts) <= p.p1 THEN 0 ELSE 1 END AS batch
    FROM events, p),
wm AS (SELECT
    (max(CASE WHEN batch = 0 THEN tsu END) // 1000) * 1000 - 600000000 AS wm0,
    (max(tsu) // 1000) * 1000 - 600000000 AS wmf
 FROM b),
kept AS (
    SELECT w0, count(*) AS n_events
    FROM b, wm
    WHERE batch <= 1  -- batches 0-1 filter against the initial -inf watermark
       OR epoch_us(w0) + 3600000000 > wm0
    GROUP BY w0)
SELECT epoch_us(w0) AS window_start_us, n_events
FROM kept, wm WHERE epoch_us(w0) + 3600000000 <= wmf
"""


@register("q_stream_watermark_late", oracle=_WM_LATE_ORACLE)
def q_stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data drop beyond a 10-minute watermark, observed over a real
    3-batch stream: batches 1-2 advance event time through the month;
    batch 3 redelivers the event_id%5==0 rows (the reference's
    at-least-once redelivery shape) — all but the newest are behind the
    watermark and dropped; append mode emits only finalized windows."""
    e = table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
    on_time = F.col("event_id") % 5 != 0
    p1, p2 = _ts_tertiles(e, "ts")
    tsu = F.unix_micros("ts")
    with Drill(spark, "wm") as drill:
        src = drill.splits(
            e,
            [
                on_time & (tsu <= p1),
                on_time & (tsu > p1),
                ~on_time,  # replayed/late rows, spread over the whole month
            ],
        )
        stream = read_pinned(
            spark, "event_id long, ts timestamp, user_id long, value double", src
        ).withWatermark("ts", "10 minutes")
        agg = stream.groupBy(F.window("ts", "1 hour")).agg(F.count("*").alias("n_events"))
        # state-shuffle width pinned like the stateful.py family: each
        # shuffle partition is a state store checkpointed EVERY micro-batch,
        # so a small keyed stream wants few wide stores, not cores-many
        # (r15 profile: the 32-wide batches each cost ~3x their 4-wide twin)
        return drill.memory(
            agg,
            "append",
            pinned=True,
            shape=lambda t: t.select(
                F.unix_micros(F.col("window.start")).alias("window_start_us"), "n_events"
            ),
        )


@register(
    "q_stream_dedup",
    oracle=with_changelog("SELECT seq_no, key, op, content_hash FROM changelog"),
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on content_hash within a watermark
    (`dropDuplicatesWithinWatermark` — A5's SQS content dedup as keyed
    state). Input: the changelog split time-ordered into 2 batches, then
    a 3rd batch redelivering every 7th record (at-least-once). Every
    duplicate is eliminated — recent ones by dedup state, old ones as
    late data — so the output equals the clean changelog, which is
    exactly the oracle."""
    cl = changelog(spark, sf_dir)
    p1, p2 = _ts_tertiles(cl, "ts")
    tsu = F.unix_micros("ts")
    with Drill(spark, "dedup") as drill:
        src = drill.splits(cl, [tsu <= p2, tsu > p2])
        # batch 3: redelivered duplicates
        _write_one_split(cl.where(F.col("seq_no") % 7 == 0), src, 2)

        stream = (
            read_pinned(spark, CHANGELOG_STREAM_SCHEMA, src)
            .withWatermark("ts", "10 minutes")
            .dropDuplicatesWithinWatermark(["content_hash"])
        )
        # state-shuffle width pinned to a few wide stores (stateful.py
        # rationale; the dedup state op checkpoints one store per shuffle
        # partition per micro-batch — r15 profile: 1.3-1.5s per 32-wide batch)
        return drill.memory(
            stream.select("seq_no", "key", "op", "content_hash"), "append", pinned=True
        )


def _replay_cuts(cl: DataFrame) -> tuple[float, float, float]:
    """The three-batch replay drills' seq cuts: the restore point and
    the starts of batches 2 and 3, at 0.5, 0.6667 and 0.8333 of the
    changelog's seq_no range. One min/max aggregate (driver-side
    scalars — orchestration, not a data path): seq_no is the fixture's
    dense event_id (0..n-1), so ``min + q·(max − min)`` is exactly
    ``percentile(seq_no, q)``, which costs two jobs."""
    lo, hi = cl.agg(F.min("seq_no"), F.max("seq_no")).first()
    return tuple(lo + q * (hi - lo) for q in (0.5, 0.6667, 0.8333))


@register(
    "q_stream_foreachbatch_cdc",
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
def q_stream_foreachbatch_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end streaming CDC apply (A8-A17 under availableNow): the
    second half of the changelog drains through writeStream.foreachBatch
    in 3 contiguous-seq micro-batches, each one epoch-identified MERGE
    commit into a Delta-format table restored from the first-half
    snapshot (cdc_stream.run_cdc_apply). Must equal — and is
    oracle-checked against — the batch flagship q_cdc_snapshot_rebuild."""
    cl = changelog(spark, sf_dir)
    med, p1, p2 = _replay_cuts(cl)
    snapshot = fold_changelog(cl.where(F.col("seq_no") < med))
    second = cl.where(F.col("seq_no") >= med)

    s = F.col("seq_no")
    with Drill(spark, "fb") as drill:
        src = drill.splits(second, [s < p1, (s >= p1) & (s < p2), s >= p2])
        with pinned_shuffle_width(spark):
            table = run_cdc_apply(spark, src, snapshot, drill.dir("work"))
            result = tracked_persist(
                DeltaLogSink(spark, table).visible().select("key", "last_seq", "payload_value")
            )
            result.count()
    return result


@register(
    "q_cdc_multi_sink",
    oracle=with_changelog(
        """
SELECT key, seq_no AS last_seq, payload_value,
       CASE WHEN key % 2 = 0 THEN 'sink_even' ELSE 'sink_odd' END AS destination
FROM (
    SELECT key, seq_no, op, payload_value,
           row_number() OVER (PARTITION BY key ORDER BY seq_no DESC) AS rn
    FROM changelog
) WHERE rn = 1 AND op <> 'REMOVE'
"""
    ),
)
def q_cdc_multi_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16/A17 generalized: late-bound MULTI-destination routing — the
    reference binds one destination table at runtime
    (initiate-lambda-backfill/main.py:65-74); here the changelog fans
    out to two destination sinks by a routing predicate (key parity),
    each destination running the same snapshot+merge independently.
    The union of the destinations must equal the single-sink rebuild —
    routing is partitioning, never loss — which is exactly what the
    oracle checks."""
    cl = changelog(spark, sf_dir)
    med = cl.agg(F.expr("percentile(seq_no, 0.5)").alias("med")).first().med

    results = []
    for name, pred in [
        ("sink_even", F.col("key") % 2 == 0),
        ("sink_odd", F.col("key") % 2 == 1),
    ]:
        routed = cl.where(pred)
        snapshot = fold_changelog(routed.where(F.col("seq_no") < med))
        rebuilt = cdc_merge(snapshot, routed.where(F.col("seq_no") >= med))
        results.append(rebuilt.withColumn("destination", F.lit(name)))
    out = results[0].unionByName(results[1])
    return out.select("key", "last_seq", "payload_value", "destination")


@register(
    "q_stream_complete_mode",
    oracle="""
SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
       count(*) AS n_events
FROM events
GROUP BY 1
""",
)
def q_stream_complete_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete output mode over a real 3-batch stream: every micro-batch
    re-emits the ENTIRE aggregate state (no watermark needed — state is
    unbounded by design), so after the final batch the sink holds
    exactly the batch-mode tumbling result, which is the oracle. The
    third output-mode of the trio: append (q_stream_watermark_late),
    update (q_stream_stateful_totals), complete (here) — each with its
    state/emission trade-off."""
    e = table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
    p1, p2 = _ts_tertiles(e, "ts")
    tsu = F.unix_micros("ts")
    with Drill(spark, "cm") as drill:
        src = drill.splits(e, [tsu <= p1, (tsu > p1) & (tsu <= p2), tsu > p2])
        agg = (
            read_pinned(spark, "event_id long, ts timestamp, user_id long, value double", src)
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count("*").alias("n_events"))
            .select(F.unix_micros(F.col("window.start")).alias("window_start_us"), "n_events")
        )
        return drill.memory(agg, "complete", pinned=True)


@register(
    "q_stream_static_join",
    oracle="""
SELECT e.event_id, e.user_id, c.c_mktsegment,
       round(e.value, 2) AS value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
WHERE e.event_type = 'purchase'
""",
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: a real 3-batch event stream joined to the
    static customer dimension (broadcast — the dim never shuffles and
    needs no state, unlike stream-stream joins). Every micro-batch
    joins against the same static snapshot, so the appended union
    equals the batch join, which is the oracle. This is A16's
    destination-enrichment generalized: the stream picks up dimension
    attributes at apply time."""
    e = table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type", "value")
    p1, p2 = _ts_tertiles(e, "ts")
    tsu = F.unix_micros("ts")
    with Drill(spark, "sj") as drill:
        src = drill.splits(e, [tsu <= p1, (tsu > p1) & (tsu <= p2), tsu > p2])
        customers = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
        stream = (
            read_pinned(
                spark,
                "event_id long, ts timestamp, user_id long, event_type string, value double",
                src,
            )
            .where(F.col("event_type") == "purchase")
            .join(F.broadcast(customers), F.col("user_id") == F.col("c_custkey"))
            .select("event_id", "user_id", "c_mktsegment", F.round("value", 2).alias("value"))
        )
        return drill.memory(stream, "append")


@register(
    "q_stream_interval_join",
    oracle="""
SELECT p.event_id AS purchase_id, s.event_id AS signup_id, p.user_id
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup') s
  ON p.user_id = s.user_id
 AND s.ts BETWEEN p.ts - INTERVAL 7 DAY AND p.ts
""",
)
def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: purchases joined to same-user signups
    within the preceding 7 days — two watermarked streams over the same
    3-batch source, inner-joined on key + event-time band. Spark
    derives the state-retention horizon from the interval condition
    itself (signup state lives until the watermark passes its ts + 7d),
    so cross-batch matches are complete and the result equals — and is
    oracle-checked against — the batch inequality join."""
    e = table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type")
    p1, p2 = _ts_tertiles(e, "ts")
    tsu = F.unix_micros("ts")
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    with Drill(spark, "ij") as drill:
        src = drill.splits(e, [tsu <= p1, (tsu > p1) & (tsu <= p2), tsu > p2])

        def side(kind: str, prefix: str):
            return (
                read_pinned(spark, schema, src)
                .where(F.col("event_type") == kind)
                .select(
                    F.col("event_id").alias(f"{prefix}_id"),
                    F.col("user_id").alias(f"{prefix}_user"),
                    F.col("ts").alias(f"{prefix}_ts"),
                )
                .withWatermark(f"{prefix}_ts", "1 hour")
            )

        purchases = side("purchase", "p")
        signups = side("signup", "s")
        joined = purchases.join(
            signups,
            F.expr(
                "p_user = s_user AND s_ts BETWEEN p_ts - INTERVAL 7 DAYS AND p_ts"
            ),
        )
        # stream-stream joins keep one state store PER SIDE per shuffle
        # partition, checkpointed every batch: pin the width to a few wide
        # stores for this keyed test stream (same rationale as stateful.py)
        return drill.memory(
            joined.select(
                F.col("p_id").alias("purchase_id"),
                F.col("s_id").alias("signup_id"),
                F.col("p_user").alias("user_id"),
            ),
            "append",
            pinned=True,
        )


@register(
    "q_cdc_bucketed_sink",
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
def q_cdc_bucketed_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship rebuild through the 100 TB sink shape: a tombstoned
    16-bucket Delta-format table where each micro-batch MERGE reads and
    rewrites ONLY the buckets its keys hash into (the log-table commit
    core). Three contiguous-seq batches; result must equal the one-shot
    rebuild — same oracle as q_cdc_snapshot_rebuild."""
    cl = changelog(spark, sf_dir)
    med, p1, p2 = _replay_cuts(cl)
    snapshot = fold_changelog(cl.where(F.col("seq_no") < med))

    s = F.col("seq_no")
    second = cl.select("seq_no", "op", "key", "payload_value").where(s >= med)
    with Drill(spark, "bsink") as drill:
        sink = DeltaLogSink(spark, drill.dir("sink"), n_buckets=16)
        # NO width pin: the MERGE commits are the log-fold drills' work
        # (sf0.1 same-session A/B, median of 5, pinned vs session width:
        # local[8] 4.35 s vs 4.33 s; at local[4] the two widths are equal)
        sink.init(snapshot)
        for pred in [s < p1, (s >= p1) & (s < p2), s >= p2]:
            sink.apply_batch(second.where(pred))
        result = tracked_persist(
            sink.visible().select("key", "last_seq", "payload_value")
        )
        result.count()
    return result


@register(
    "q_cdc_sink_compaction",
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
def q_cdc_sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone compaction UNDER the stream: same three-batch bucketed
    rebuild as q_cdc_bucketed_sink, but between batches 2 and 3 the
    sink compacts away every tombstone below the reorder horizon (the
    streaming analog of the 35-day PITR window — batch 3 only carries
    seq >= horizon, so those tombstones are provably dead weight).
    visible() must be INVARIANT across the mid-stream compact: the
    oracle is the identical one-shot rebuild. The builder also asserts
    the compact actually removed tombstones — an inert pass would make
    this query vacuous."""
    cl = changelog(spark, sf_dir)
    med, p1, p2 = _replay_cuts(cl)
    snapshot = fold_changelog(cl.where(F.col("seq_no") < med))

    s = F.col("seq_no")
    second = cl.select("seq_no", "op", "key", "payload_value").where(s >= med)
    is_tomb = F.col("op") == "REMOVE"
    with Drill(spark, "csink") as drill:
        sink = DeltaLogSink(spark, drill.dir("sink"), n_buckets=16)
        # NO width pin (q_cdc_bucketed_sink; A/B at local[8]: pinned
        # 5.16 s vs session width 4.94 s)
        sink.init(snapshot)
        sink.apply_batch(second.where(s < p1))
        sink.apply_batch(second.where((s >= p1) & (s < p2)))
        tombs_before = sink.snapshot().where(is_tomb).count()  # orchestration scalar
        sink.compact(reorder_horizon_seq=int(p2))
        tombs_after = sink.snapshot().where(is_tomb).count()
        assert tombs_after < tombs_before, "compact removed no tombstones — vacuous run"
        sink.apply_batch(second.where(s >= p2))
        result = tracked_persist(
            sink.visible().select("key", "last_seq", "payload_value")
        )
        result.count()
    return result


def _near_dedup_oracle() -> str:
    # the SHARED shingle-Jaccard truth template (dedup.shingle_pair_ctes):
    # the threshold applies to the half-up MILLI value the Spark side
    # filters on (j_milli >= 500) — the exact 2i >= u predicate this
    # oracle previously used drops exact J in [0.4995, 0.5) that both
    # engines' milli rounding keeps (round-10 review)
    from ..llm.dedup import JACCARD_THRESHOLD, shingle_pair_ctes

    return f"""
WITH {shingle_pair_ctes('documents')}
SELECT doc_b AS doc_id,
       count(*) AS n_dup_sources,
       max(j_milli / 1000.0) AS best_jaccard
FROM jp WHERE j_milli >= {int(JACCARD_THRESHOLD * 1000)}
GROUP BY doc_b
"""


@register("q_stream_near_dedup", oracle=_near_dedup_oracle())
def q_stream_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dedup against the STATIC LSH index — the production
    ingestion shape: documents arrive in micro-batches (3 pinned
    doc_id-range splits), each batch is signature-banded (the one
    Arrow-vectorized UDF) and joined against the materialized
    band-bucket artifact of the corpus (llm/dedup.band_buckets), with
    exact-Jaccard verification of candidates; per arriving doc the
    query emits how many EARLIER corpus docs it near-duplicates. Every
    doc arrives exactly once, so the appended per-batch outputs union
    to the batch-mode answer — the oracle is the brute-force pair join
    grouped by the later doc. Composes: file stream + stream-static
    join + pandas_udf inside foreachBatch + append sink."""
    from ..llm.dedup import JACCARD_THRESHOLD, jaccard_milli, to_band_buckets
    from ..llm.dedup import band_buckets as corpus_band_buckets

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    index_bands = corpus_band_buckets(spark, sf_dir)
    texts_a = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))

    row = docs.agg(
        F.expr("percentile(doc_id, 0.3333)").alias("p1"),
        F.expr("percentile(doc_id, 0.6667)").alias("p2"),
    ).first()
    d = F.col("doc_id")

    def dedup_batch(batch: DataFrame, epoch_id: int) -> None:
        bands_b = to_band_buckets(batch)
        cand = (
            bands_b.alias("b")
            .join(
                index_bands.alias("a"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .distinct()
        )
        verified = (
            cand.join(texts_a, "doc_a")
            .join(
                batch.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b")),
                "doc_b",
            )
            .withColumn("j_milli", jaccard_milli("text_a", "text_b"))
            .where(F.col("j_milli") >= int(JACCARD_THRESHOLD * 1000))
        )
        (
            verified.groupBy("doc_b")
            .agg(
                F.count("*").alias("n_dup_sources"),
                (F.max("j_milli") / 1000.0).alias("best_jaccard"),
            )
            .write.mode("append")
            .parquet(out)
        )

    with Drill(spark, "snd") as drill:
        src = drill.splits(docs, [d < row.p1, (d >= row.p1) & (d < row.p2), d >= row.p2])
        out = drill.dir("out")
        # NO width pin: each micro-batch runs a real banded join + verify
        # UDF against the static corpus — compute-bound work that wants the
        # session width (r16 idle-32 A/B: pinned 8.52 s vs unpinned 5.72 s;
        # the r15 pin was validated on a loaded host that masked this)
        run_available_now(
            read_pinned(spark, "doc_id long, text string", src)
            .writeStream.foreachBatch(dedup_batch)
            .option("checkpointLocation", drill.dir("ck"))
        )
        result = tracked_persist(
            spark.read.schema(
                "doc_b long, n_dup_sources long, best_jaccard double"
            ).parquet(out).select(
                F.col("doc_b").alias("doc_id"), "n_dup_sources", "best_jaccard"
            )
        )
        result.count()  # materialize before removing the backing dirs
    return result


def _decon_oracle() -> str:
    # byte-identical truth to q_llm_decontaminate: the per-doc
    # contamination report must not depend on HOW the test split
    # arrived (one batch or many)
    from ..llm.curation import _DECON_CTES

    return f"WITH {_DECON_CTES}\nSELECT doc_id, n_shared, contaminated FROM per_doc\n"


@register("q_stream_decontaminate", oracle=_decon_oracle())
def q_stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming decontamination — q_llm_decontaminate's ingest twin
    (round-10 verdict item 7): held-out documents arrive in
    micro-batches (3 pinned doc_id-range splits) and each batch is
    checked against the STATIC train-split vocabulary inside
    foreachBatch — the same stream-static shape as q_stream_near_dedup,
    with the distinct-gram vocabulary as the reused build side
    (materialized once, joined per batch; at 100 TB the bloom row of
    the batch path broadcasts the same way). Every test doc arrives
    exactly once and the report is per-doc, so appended batch outputs
    union to the batch-mode answer under ANY batching — the oracle is
    byte-identical to the batch query's."""
    from ..llm.curation import (
        TRAIN_PERMILLE,
        VALID_PERMILLE,
        five_grams,
        split_bucket,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    bucket = split_bucket(F.col("doc_id"))
    # the vocabulary is referenced by every micro-batch: one
    # materialization, N probe joins
    train_grams = tracked_persist(
        five_grams(docs.where(bucket < TRAIN_PERMILLE)).select("gram").distinct()
    )
    test_docs = docs.where(bucket >= VALID_PERMILLE)

    row = test_docs.agg(
        F.expr("percentile(doc_id, 0.3333)").alias("p1"),
        F.expr("percentile(doc_id, 0.6667)").alias("p2"),
    ).first()
    d = F.col("doc_id")

    def decon_batch(batch: DataFrame, epoch_id: int) -> None:
        hits = (
            five_grams(batch)
            .join(train_grams, "gram")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_shared"))
        )
        (
            batch.select("doc_id")
            .join(hits, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
                (F.coalesce("n_shared", F.lit(0)) > 0)
                .cast("int")
                .alias("contaminated"),
            )
            .write.mode("append")
            .parquet(out)
        )

    with Drill(spark, "sdc") as drill:
        src = drill.splits(
            test_docs, [d < row.p1, (d >= row.p1) & (d < row.p2), d >= row.p2]
        )
        out = drill.dir("out")
        # NO width pin: each micro-batch explodes five-grams and joins the
        # static train vocabulary — compute-bound per-batch work (r16
        # idle-32 A/B: pinned 9.89 s vs unpinned 2.94 s)
        run_available_now(
            read_pinned(spark, "doc_id long, text string", src)
            .writeStream.foreachBatch(decon_batch)
            .option("checkpointLocation", drill.dir("ck"))
        )
        result = tracked_persist(
            spark.read.schema("doc_id long, n_shared long, contaminated int").parquet(out)
        )
        result.count()  # materialize before removing the backing dirs
    return result


def _lsh_ingest_oracle() -> str:
    # the shared shingle-Jaccard template over the FULL corpus: the
    # streamed, index-maintained pair set must converge to exactly the
    # batch near-dedup answer (same oracle family as q_llm_near_dedup /
    # the index-maintenance drill — one text, versioned_sink.py
    # rationale)
    from ..llm.dedup import PAIR_SELECT_SQL, shingle_pair_ctes

    return f"WITH {shingle_pair_ctes('documents')}\n{PAIR_SELECT_SQL}\n"


@register("q_stream_lsh_index_ingest", oracle=_lsh_ingest_oracle())
def q_stream_lsh_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest into the CDC-MAINTAINED LSH index —
    q_stream_near_dedup's production successor: that drill joins each
    batch against a FROZEN corpus artifact (new docs never become
    findable); here every micro-batch UPSERTS the arriving docs'
    signatures into the index table (O(batch) blind appends through the
    sink seam, llm/index_maintenance.LshIndex), so later batches pair
    against earlier ones and the final index answers the full near-dup
    query. Micro-batch seq = epoch id (pinned splits ⇒ deterministic);
    epoch REPLAY double-appends a batch and is value-idempotent by the
    same argument as q_stream_mor_ingest — a duplicated signature row
    ties with itself in the per-key max-seq fold. The hash match
    against the batch oracle proves stream-order independence: the
    pair set equals the one-shot corpus answer whatever the batching."""
    from ..llm.index_maintenance import LshIndex

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    row = docs.agg(
        F.expr("percentile(doc_id, 0.3333)").alias("p1"),
        F.expr("percentile(doc_id, 0.6667)").alias("p2"),
    ).first()
    d = F.col("doc_id")
    with Drill(spark, "lshing") as drill:
        src = drill.splits(docs, [d < row.p1, (d >= row.p1) & (d < row.p2), d >= row.p2])
        idx = LshIndex(spark, os.path.join(drill.root, "idx"))

        def upsert_batch(batch: DataFrame, epoch_id: int) -> None:
            idx.upsert(batch, seq=int(epoch_id) + 2)

        with pinned_shuffle_width(spark):
            # empty init: the table exists before the stream attaches (the
            # reference's create-then-attach orchestration, A17)
            idx.init(docs.where(F.lit(False)), seq=1)
            run_available_now(
                read_pinned(spark, "doc_id long, text string", src)
                .writeStream.foreachBatch(upsert_batch)
                .option("checkpointLocation", drill.dir("ck"))
            )
        # the PAIR query runs at session width — it is the real compute
        # (_run_maintenance's scoping; r16 idle-32 A/B: pairs under the pin
        # cost 17.4 s vs 6.9 s unpinned)
        result = tracked_persist(idx.pairs(docs))
        result.count()  # materialize before removing the backing dirs
    return result


def _ivf_ingest_oracle() -> str:
    # byte-identical truth to q_llm_ivf_index_maintenance: the probe
    # answer must not depend on whether the late third arrived as one
    # batch or a stream of micro-batches
    from ..llm.index_maintenance import ivf_maintenance_oracle

    return ivf_maintenance_oracle()


@register("q_stream_ivf_index_ingest", oracle=_ivf_ingest_oracle())
def q_stream_ivf_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest into the CDC-maintained IVF ANN index —
    q_stream_lsh_index_ingest's embedding-search sibling, closing the
    round-10 symmetry gap: the coarse quantizer trains ONCE on the
    loaded two-thirds (init — frozen from then on, the production
    cadence), then the late third arrives as 3 pinned micro-batches,
    each cell-assigned with the FROZEN centroids and blind-appended in
    O(batch) through the sink seam (a retrain mid-stream would
    invalidate every stored assignment — that is a REBUILD by design).
    A final retraction epoch tombstones every vec_id%17==5, and the
    probe answers top-5 ANN from the folded index (3 of 8 cells).
    Micro-batch seq = epoch id (pinned splits ⇒ deterministic); epoch
    replay is value-idempotent by the per-key max-seq fold. The oracle
    is byte-identical to the batch maintenance drill's — stream-order
    independence is the hash match."""
    from ..llm.index_maintenance import _REMOVE_MOD, IvfIndex
    from ..llm.kmeans import _quantized
    from ..llm.similarity import PROBE_VEC_ID, _as_double

    qv = _quantized(spark, sf_dir)
    mx = int(qv.agg(F.max("vec_id")).first()[0])  # orchestration scalar
    c2 = (2 * mx) // 3
    late = qv.where(F.col("vec_id") > c2)
    row = late.agg(
        F.expr("percentile(vec_id, 0.3333)").alias("p1"),
        F.expr("percentile(vec_id, 0.6667)").alias("p2"),
    ).first()
    v = F.col("vec_id")
    with Drill(spark, "ivfing") as drill:
        src = drill.splits(late, [v < row.p1, (v >= row.p1) & (v < row.p2), v >= row.p2])
        idx = IvfIndex(spark, os.path.join(drill.root, "idx"))

        def upsert_batch(batch: DataFrame, epoch_id: int) -> None:
            idx.upsert(batch, seq=int(epoch_id) + 2)

        floats = table(spark, sf_dir, "embeddings").select(
            "vec_id", _as_double("embedding").alias("v")
        )
        with pinned_shuffle_width(spark):
            # init trains the quantizer on the loaded corpus BEFORE the stream
            # attaches (the reference's create-then-attach orchestration, A17)
            idx.init(qv.where(v <= c2), seq=1)
            run_available_now(
                read_pinned(spark, "vec_id long, qv array<bigint>", src)
                .writeStream.foreachBatch(upsert_batch)
                .option("checkpointLocation", drill.dir("ck"))
            )
            idx.remove(qv.where(v % _REMOVE_MOD == 5).select("vec_id"), seq=10)
        # the probe SEARCH runs at session width — the distance scan over
        # probed cells is the real compute (_run_maintenance's scoping)
        result = tracked_persist(
            idx.search(qv.where(v == PROBE_VEC_ID), floats, PROBE_VEC_ID)
        )
        result.count()  # materialize before removing the backing dirs
    return result


def _corpus_build_oracle() -> str:
    # byte-identical truth to q_llm_corpus_build: the pack manifest
    # must not depend on whether the corpus was indexed in one shot or
    # streamed in
    from ..llm.corpus_build import _CORPUS_BUILD_ORACLE

    return _CORPUS_BUILD_ORACLE


@register("q_stream_corpus_build", oracle=_corpus_build_oracle())
def q_stream_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-build capstone over a LIVE ingest — the full
    training-data pipeline answered from a STREAMED index: documents
    arrive in 3 pinned micro-batches and every batch upserts its
    signatures into the CDC-maintained LSH index (raw arrivals — the
    index is the durable asset; curation decisions are downstream
    policy, re-derivable at any time). After ingest the same eight
    stages run (quality_exact_dedup / downstream_build — ONE
    implementation with the batch capstone), with near dedup answered
    from the streamed index: its pair set covers the raw corpus, so the
    pipeline semi-joins both endpoints to the dedup survivors — pair
    truth depends only on the two texts, so the filtered set equals the
    batch capstone's pairs-over-survivors exactly. Epoch replay is
    value-idempotent (per-key max-seq fold); the oracle is
    byte-identical to q_llm_corpus_build's — batching must never leak
    into the pack manifest."""
    from ..llm.corpus_build import downstream_build, quality_exact_dedup
    from ..llm.index_maintenance import LshIndex

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    row = docs.agg(
        F.expr("percentile(doc_id, 0.3333)").alias("p1"),
        F.expr("percentile(doc_id, 0.6667)").alias("p2"),
    ).first()
    d = F.col("doc_id")
    with Drill(spark, "scb") as drill:
        src = drill.splits(
            docs.select("doc_id", "text"),
            [d < row.p1, (d >= row.p1) & (d < row.p2), d >= row.p2],
        )
        idx = LshIndex(spark, os.path.join(drill.root, "idx"))

        def upsert_batch(batch: DataFrame, epoch_id: int) -> None:
            idx.upsert(batch, seq=int(epoch_id) + 2)

        with pinned_shuffle_width(spark):
            idx.init(docs.where(F.lit(False)).select("doc_id", "text"), seq=1)
            run_available_now(
                read_pinned(spark, "doc_id long, text string", src)
                .writeStream.foreachBatch(upsert_batch)
                .option("checkpointLocation", drill.dir("ck"))
            )
        # the eight-stage pipeline after ingest (exact dedup, drop set,
        # downstream build) is the real compute: session width, matching
        # _run_maintenance's scoping (r16 idle-32 width audit)
        deduped = tracked_persist(quality_exact_dedup(docs))
        dd = deduped.select("doc_id")
        # greedy drop set over the streamed index, endpoints restricted to
        # the dedup survivors (eligible= replaces the old pairs→semi-join
        # pair filtering: bands are filtered BEFORE candidates form, same
        # drop set, fewer verifies); the fan-out auto-gate engages the
        # two-phase clique mitigation at scale (index_maintenance.drop_set)
        near_drop = idx.drop_set(docs.select("doc_id", "text"), eligible=dd)
        survivors = deduped.join(near_drop, "doc_id", "left_anti")
        result = tracked_persist(downstream_build(docs, survivors))
        result.count()  # materialize before removing the backing dirs
    return result
