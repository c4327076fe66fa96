"""Custom stateful streaming operator via applyInPandasWithState.

The escape hatch for stateful semantics the built-in operators
(windowed aggs, dropDuplicates, session_window) can't express — per-key
mutable state carried across micro-batches with explicit timeout
control. Here: a per-user running counter/accumulator, the minimal
shape of the reference's per-key bookkeeping generalized.

Scale notes (100 TB): state lives in the state store, sharded by the
group key across executors; each micro-batch touches only the groups
present in the batch. State size is O(live keys) × O(state row), and
eviction is explicit (GroupStateTimeout) — unbounded-state bugs are
impossible to write silently with this API.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.rounding import avg_div
from ..operators.behavior import SESSION_GAP_US
from ..operators.cdc import changelog, with_changelog
from ..registry import register
from .cdc_stream import CHANGELOG_STREAM_SCHEMA
from .drill import Drill, read_pinned

OUTPUT_SCHEMA = "key long, n_events long, sum_value_c long, max_seq long"
STATE_SCHEMA = "n long, s long, m long"

# SESSION_GAP_US is shared with the batch sessionizer
# (operators/behavior.py) so the two protocols can never silently
# diverge on the gap definition
SESSION_OUTPUT_SCHEMA = "user_id long, session_start_us long, n_events long"
SESSION_STATE_SCHEMA = "start_us long, last_us long, n long"


def running_totals(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Accumulate (count, cent-sum, max seq) per key across batches and
    emit the updated totals each time the key appears."""
    import numpy as np

    if state.exists:
        n, s, m = state.get
    else:
        n, s, m = 0, 0, -1
    for pdf in pdfs:
        n += len(pdf)
        # same arithmetic as the pandas chain it replaces (np.rint is
        # the identical half-to-even), one allocation instead of four —
        # this function runs once per (key, batch), so constant factors
        # multiply by key cardinality (r15 profile)
        v = pdf["payload_value"].to_numpy()
        # np.rint(NaN).astype(int64) silently yields INT64_MIN where the
        # pandas chain this replaced raised — keep the loud failure
        if np.isnan(v).any():
            raise ValueError("running_totals: null payload_value in state batch")
        s += int(np.rint(v * 100).astype("int64").sum())
        m = max(m, int(pdf["seq_no"].to_numpy().max()))
    state.update((n, s, m))
    yield pd.DataFrame(
        {"key": [key[0]], "n_events": [n], "sum_value_c": [s], "max_seq": [m]}
    )


def sessionize(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Custom gap-based sessionization: maintain (start, last, count) per
    user; when an event arrives more than the gap after `last`, emit the
    CLOSED session and start a new one. The group's chunks are DRAINED
    AND CONCATENATED before sorting: the Arrow iterator yields ≤
    maxRecordsPerBatch-row chunks in arbitrary arrival order, so a
    per-chunk sort alone is not a total event-time order once one
    user's trigger exceeds a chunk (silent at fixture scale, wrong at
    larger SF). Memory is bounded by one (user, trigger) slice —
    exactly the unit the state store shuffles anyway. Batches arrive
    in time-split order, so cross-batch continuation works."""
    if state.exists:
        start_us, last_us, n = state.get
    else:
        start_us, last_us, n = None, None, 0
    closed = []
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        whole = pd.concat(chunks, ignore_index=True)
        # explicit µs: pandas delivers datetime64[ns] and a bare int64
        # cast would be nanoseconds, off by 1000x vs SESSION_GAP_US
        ts_us = whole["ts"].astype("datetime64[us]").astype("int64").sort_values()
        for t in ts_us:
            t = int(t)
            if last_us is None:
                start_us, last_us, n = t, t, 1
            elif t - last_us > SESSION_GAP_US:
                closed.append((key[0], start_us, n))
                start_us, last_us, n = t, t, 1
            else:
                last_us, n = t, n + 1
    state.update((start_us, last_us, n))
    yield pd.DataFrame(closed, columns=["user_id", "session_start_us", "n_events"])


@register(
    "q_stream_stateful_sessions",
    oracle=with_changelog(
        """
, gaps AS (
    SELECT key AS user_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_sess
    FROM changelog
    WINDOW w AS (PARTITION BY key ORDER BY ts, seq_no)
), sess AS (
    SELECT user_id, ts,
           sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sess_id
    FROM gaps
), agg AS (
    SELECT user_id, sess_id,
           epoch_us(min(ts)) AS session_start_us,
           count(*) AS n_events
    FROM sess GROUP BY user_id, sess_id
), ranked AS (
    SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY session_start_us DESC) AS rn
    FROM agg
)
SELECT user_id, session_start_us, n_events
FROM ranked WHERE rn > 1
"""
    ),
)
def q_stream_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful sessionization (the flatMapGroups shape): per-user
    gap-based sessions maintained in explicit state across a real
    3-batch stream, each CLOSED session emitted as one row. Without a
    timeout the final open session per user never closes, so the
    oracle is the gap-and-islands rewrite MINUS each user's last
    session — proving the custom operator matches the built-in
    session-window semantics (q_stream_session) on everything it can
    legally emit."""
    cl = changelog(spark, sf_dir).select("key", "ts", "seq_no")
    tsu = F.unix_micros("ts")
    row = cl.agg(
        F.expr("percentile(unix_micros(ts), 0.3333)").alias("p1"),
        F.expr("percentile(unix_micros(ts), 0.6667)").alias("p2"),
    ).first()
    with Drill(spark, "ss") as drill:
        src = drill.splits(
            cl, [tsu <= row.p1, (tsu > row.p1) & (tsu <= row.p2), tsu > row.p2]
        )
        stream = read_pinned(spark, "key long, ts timestamp, seq_no long", src).selectExpr(
            "key AS user_id", "ts"
        )
        sessions = stream.groupBy("user_id").applyInPandasWithState(
            sessionize,
            SESSION_OUTPUT_SCHEMA,
            SESSION_STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
        return drill.memory(sessions, "append", pinned=True)


@register(
    "q_stream_stateful_totals",
    oracle=with_changelog(
        """
SELECT key,
       count(*) AS n_events,
       ((2 * sum(CAST(round(payload_value * 100) AS BIGINT)) + count(*))
        // (2 * count(*))) / 100.0 AS avg_value,
       max(seq_no) AS max_seq
FROM changelog
GROUP BY key
"""
    ),
)
def q_stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful op over a real 3-batch stream: per-key state
    (count, cent-sum, max seq) carried across micro-batches with
    applyInPandasWithState; each batch emits the running totals and the
    LAST emission per key must equal the batch aggregate — which is the
    oracle. Proves cross-batch state continuity, not just windowing."""
    cl = changelog(spark, sf_dir)
    s = F.col("seq_no")
    row = cl.agg(
        F.expr("percentile(seq_no, 0.3333)").alias("p1"),
        F.expr("percentile(seq_no, 0.6667)").alias("p2"),
    ).first()
    # the state-shuffle width is fixed at query start from
    # spark.sql.shuffle.partitions; each partition is a state-store
    # instance checkpointed EVERY micro-batch, so a small keyed stream
    # wants few wide-enough stores, not cores-many (cuts ~2/3 of this
    # query's wall time at test SF). At 100 TB this is the knob sized
    # to key cardinality / executor count, not left at the default.
    # r16 interleaved A/B (4 rounds each, same session): the RocksDB
    # state store provider and noDataMicroBatches=false both measured
    # FLAT here (base 7.49 s / nodata 7.61 / rocksdb 7.68 / both 7.70)
    # — the drill's cost is the per-batch applyInPandasWithState
    # executor work itself, not the HDFS store commit or a trailing
    # no-data batch (the event log shows exactly 3 batch jobs).
    with Drill(spark, "st") as drill:
        src = drill.splits(cl, [s < row.p1, (s >= row.p1) & (s < row.p2), s >= row.p2])
        updates = read_pinned(spark, CHANGELOG_STREAM_SCHEMA, src).groupBy(
            "key"
        ).applyInPandasWithState(
            running_totals,
            OUTPUT_SCHEMA,
            STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
        # final state per key = the emission with the highest running count
        w = W.partitionBy("key").orderBy(F.col("n_events").desc())
        return drill.memory(
            updates,
            "update",
            pinned=True,
            shape=lambda out: out.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(
                "key",
                "n_events",
                avg_div("sum_value_c", "n_events").alias("avg_value"),
                "max_seq",
            ),
        )


# ---------------------------------------------------------------------------
# Prequential anomaly detection: the streaming twin of
# operators/behavior.q_ts_anomaly_zscore. Each event is judged against
# the statistics of STRICTLY EARLIER events of the same user (the
# state BEFORE the update), so the online operator has an exact batch
# rewrite: a running window frame ending at 1 PRECEDING — which is the
# oracle. The z derivation reuses behavior._Z_EXPR's shape in Python
# floats (IEEE doubles, same ops, same order), quantized floor(z*1e6+
# 0.5)/1e6 before the threshold, so stream and oracle agree bitwise.
# ---------------------------------------------------------------------------

ANOMALY_MIN_PRIOR = 30  # events required before a user's model fires
ANOMALY_THRESHOLD = 2.5
ANOMALY_OUTPUT_SCHEMA = (
    "event_id long, user_id long, ts_us long, value double, zscore double"
)
ANOMALY_STATE_SCHEMA = "n long, s1 long, s2 long"


def prequential_zscore(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Score each event against the user's PRIOR running mean/σ (exact
    integer cent sums in state), then fold it in. The group's Arrow
    chunks are DRAINED AND CONCATENATED before the (ts, event_id)
    sort — chunks arrive in arbitrary order and a per-chunk sort is
    not a total order once a user's trigger spans multiple chunks —
    then batches arrive in pinned time-split order, so the
    prequential order is total.

    The fold is fully vectorized: prior-state vectors are the batch's
    shifted cumulative sums offset by the carried state (exact int64 —
    cents² sums stay far below 2⁶³ for realistic per-user histories),
    and numpy float64 ops are the same IEEE doubles as the oracle's
    SQL expression, so vectorization changes throughput, not results.
    At fixture scale the streaming machinery dominates either way; at
    real batch sizes the per-row Python loop this replaces would be
    the bottleneck."""
    import numpy as np

    n0, s10, s20 = state.get if state.exists else (0, 0, 0)
    out = []
    chunks = [pdf for pdf in pdfs if len(pdf)]
    for pdf in ([pd.concat(chunks, ignore_index=True)] if chunks else []):
        pdf = pdf.sort_values(
            ["ts", "event_id"], kind="mergesort"
        )  # stable: total prequential order
        v = pdf["v"].to_numpy("int64")
        # prior state BEFORE each event: carried state + shifted cumsums
        n = n0 + np.arange(len(v), dtype="int64")
        s1 = s10 + np.concatenate(([0], np.cumsum(v[:-1]))) if len(v) else v
        s2 = (
            s20 + np.concatenate(([0], np.cumsum(v[:-1] * v[:-1])))
            if len(v)
            else v
        )
        eligible = (n >= ANOMALY_MIN_PRIOR) & (n * s2 - s1 * s1 > 0)
        with np.errstate(divide="ignore", invalid="ignore"):
            z = (v - s1 / n) / np.sqrt(s2 / n - (s1 / n) * (s1 / n))
        zq = np.floor(z * 1e6 + 0.5) / 1e6
        flag = eligible & (np.abs(zq) > ANOMALY_THRESHOLD)
        if flag.any():
            ts_us = pdf["ts"].astype("datetime64[us]").astype("int64").to_numpy()
            out.append(
                pd.DataFrame(
                    {
                        "event_id": pdf["event_id"].to_numpy("int64")[flag],
                        "user_id": key[0],
                        "ts_us": ts_us[flag],
                        "value": v[flag] / 100.0,
                        "zscore": zq[flag],
                    }
                )
            )
        if len(v):
            n0 = n0 + len(v)
            s10 = s10 + int(v.sum())
            s20 = s20 + int((v * v).sum())
    state.update((int(n0), int(s10), int(s20)))
    yield (
        pd.concat(out, ignore_index=True)
        if out
        else pd.DataFrame(
            {
                "event_id": pd.Series(dtype="int64"),
                "user_id": pd.Series(dtype="int64"),
                "ts_us": pd.Series(dtype="int64"),
                "value": pd.Series(dtype="float64"),
                "zscore": pd.Series(dtype="float64"),
            }
        )
    )


@register(
    "q_stream_anomaly",
    oracle=f"""
WITH v AS (
    SELECT event_id, user_id, ts,
           CAST(round(value * 100) AS BIGINT) AS v
    FROM events
), s AS (
    SELECT *,
           count(v) OVER w AS n,
           CAST(sum(v)   OVER w AS BIGINT) AS s1,
           CAST(sum(v*v) OVER w AS BIGINT) AS s2
    FROM v
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), z AS (
    SELECT event_id, user_id, ts, v,
           floor(((v - s1 / n) / sqrt(s2 / n - (s1 / n) * (s1 / n)))
                 * 1e6 + 0.5) / 1e6 AS zscore
    FROM s WHERE n >= {ANOMALY_MIN_PRIOR} AND n * s2 - s1 * s1 > 0
)
SELECT event_id, user_id, epoch_us(ts) AS ts_us, v / 100.0 AS value,
       zscore
FROM z WHERE abs(zscore) > {ANOMALY_THRESHOLD}
""",
)
def q_stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online anomaly detection over a real 3-batch stream: per-user
    running (n, Σv, Σv²) in explicit state; each event is z-scored
    against the PRE-update statistics (prequential evaluation — the
    model never sees the point it judges) and flagged beyond 2.5σ
    once the user has ANOMALY_MIN_PRIOR prior events. Because scoring uses
    strictly-earlier events only, the exact batch rewrite is a running
    window ending at 1 PRECEDING — the oracle — proving the custom
    stateful operator against declarative SQL semantics. State is 3
    BIGINTs per live user (constant size, no timeout needed for a
    bounded key space; production adds eviction for churning keys)."""
    from ..sources import table as _table

    ev = _table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
    )
    tsu = F.unix_micros("ts")
    row = ev.agg(
        F.expr("percentile(unix_micros(ts), 0.3333)").alias("p1"),
        F.expr("percentile(unix_micros(ts), 0.6667)").alias("p2"),
    ).first()
    with Drill(spark, "an") as drill:
        src = drill.splits(
            ev, [tsu <= row.p1, (tsu > row.p1) & (tsu <= row.p2), tsu > row.p2]
        )
        flagged = read_pinned(
            spark, "event_id long, user_id long, ts timestamp, v long", src
        ).groupBy("user_id").applyInPandasWithState(
            prequential_zscore,
            ANOMALY_OUTPUT_SCHEMA,
            ANOMALY_STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
        # NO width pin: the prequential z-score UDF over per-user history is
        # compute-bound per batch, unlike the tiny keyed folds above (r16
        # idle-32 A/B: pinned 10.70 s vs session width 5.88 s)
        return drill.memory(flagged, "append")
