"""Batch/stream twins: algebraic invariants beyond the parity gate.

The parity suite proves q_stream_sessionize == q_ts_sessionize for the
pinned 3-way time split; these properties prove the session-grain
interval merge (streaming/twins._merge_session_intervals) converges to
the batch answer under ARBITRARY batching — any assignment of events
to any number of micro-batches, applied incrementally in any batch
order. That is the claim that matters at scale, where batch boundaries
are whatever the source delivers.

Why it holds (and what the test exercises): an in-batch session's
every internal gap is ≤ GAP over a SUBSET of the true events, so
in-batch sessions are always sub-intervals of true sessions; and for
any two consecutive true events x, y with gap ≤ GAP in different
batches, the interval gap between their sessions is ≤ y - x ≤ GAP, so
the merge joins them. Conversely a merge only fires across a real
≤-GAP pair of event times. Hence merge(U sessionize(batch_i)) =
sessionize(U batch_i) for every partition of the events.
"""

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dynamodb_pitr_restore_cdc_spark.streaming.twins import (
    _merge_session_intervals,
    _sessionize_events,
)

MIN_US = 60 * 1_000_000
GAP_MIN = 30  # SESSION_GAP_US in minutes


def _df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["user_id", "event_id", "us", "value_c"]),
        schema="user_id long, event_id long, us long, value_c long",
    )


def _rows(df):
    return sorted(
        (r.user_id, r.start_us, r.end_us, r.n_events, r.value_c)
        for r in df.collect()
    )


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.data())
def test_interval_merge_invariant_under_arbitrary_batching(spark, data):
    n = data.draw(st.integers(1, 30))
    k = data.draw(st.integers(1, 4))
    rows = []
    for i in range(n):
        user = data.draw(st.integers(0, 2))
        minute = data.draw(st.integers(0, 300))
        rows.append((user, i, minute * MIN_US, data.draw(st.integers(-5, 5))))
    assignment = [data.draw(st.integers(0, k - 1)) for _ in range(n)]

    expected = _rows(_sessionize_events(_df(spark, rows)))

    acc = _sessionize_events(_df(spark, []))  # empty, schema-typed
    for b in range(k):
        batch = [r for r, a in zip(rows, assignment) if a == b]
        acc = _merge_session_intervals(
            acc.unionByName(_sessionize_events(_df(spark, batch)))
        )
        # materialize each incremental state like the foreachBatch store
        # does, so later merges read data, not a growing lazy plan
        acc = spark.createDataFrame(acc.toPandas(), schema=acc.schema)

    assert _rows(acc) == expected


def test_session_stream_resumes_from_committed_store(spark, tmp_path):
    """Crash-recovery: phase 1 drains two splits and 'crashes'; phase 2
    (same src/work dirs — the durable pointer + stream checkpoint) sees
    one more split. The resumed run must merge the new batch onto the
    COMMITTED store, ending equal to single-pass sessionization of all
    events — the pointer discipline of drill.fold_versions, applied
    to the session store."""
    import os

    from dynamodb_pitr_restore_cdc_spark.streaming.drill import (
        _write_one_split,
    )
    from dynamodb_pitr_restore_cdc_spark.streaming.twins import (
        _sessionize_events,
        run_session_stream,
    )

    rows = [
        # user 0: one session spanning the crash boundary (events in
        # splits 0 and 2 bridge via the split-1 event)
        (0, 1, 0 * MIN_US, 1),
        (0, 2, 20 * MIN_US, 1),
        (0, 3, 45 * MIN_US, 1),
        # user 1: a session entirely pre-crash, a second entirely after
        (1, 4, 0 * MIN_US, 2),
        (1, 5, 200 * MIN_US, 2),
    ]
    splits = [[rows[0], rows[3]], [rows[1]], [rows[2], rows[4]]]
    src, work = str(tmp_path / "src"), str(tmp_path / "work")
    os.makedirs(src)

    for i, chunk in enumerate(splits[:2]):  # phase 1, then "crash"
        _write_one_split(_df(spark, chunk), src, i)
    run_session_stream(spark, src, work)

    _write_one_split(_df(spark, splits[2]), src, 2)  # phase 2: restart
    final = spark.read.parquet(run_session_stream(spark, src, work))

    expected = _rows(_sessionize_events(_df(spark, rows)))
    got = sorted(
        (r.user_id, r.start_us, r.end_us, r.n_events, r.value_c)
        for r in final.collect()
    )
    assert got == expected


def test_alert_stream_resumes_without_duplicate_alerts(spark, tmp_path):
    """Crash-recovery for the live alert router: phase 1 routes alerts
    for two commits and 'crashes'; the restarted run (same dirs) must
    process only the remaining split, diffing from the sink's LAST
    COMMITTED version — no alert re-sent, no transition skipped. The
    final routed set equals a fresh single-run route over all splits."""
    import os
    import shutil

    from dynamodb_pitr_restore_cdc_spark.streaming.drill import (
        _write_one_split,
    )
    from dynamodb_pitr_restore_cdc_spark.streaming.twins import (
        ALERT_DELTA_C,
        read_routed_alerts,
        run_alert_stream,
    )

    def batch(rows):
        import pandas as pd

        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["seq_no", "op", "key", "payload_value"]),
            schema="seq_no long, op string, key long, payload_value double",
        )

    big = (ALERT_DELTA_C + 100) / 100.0  # crosses the alert threshold
    splits = [
        [(1, "INSERT", 1, big), (2, "INSERT", 2, 1.0)],
        [(3, "MODIFY", 2, big + 1.0), (4, "REMOVE", 1, None)],
        [(5, "INSERT", 3, big), (6, "MODIFY", 2, big + 2.0)],  # small delta: no alert
    ]

    def routed(base, n_splits, resume_from=None):
        src, work, out = (str(base / d) for d in ("src", "work", "out"))
        if resume_from is None:
            os.makedirs(src)
        for i in range(resume_from or 0, n_splits):
            _write_one_split(batch(splits[i]), src, i)
        run_alert_stream(spark, src, work, out)
        return sorted(
            (r.batch_no, r.key, r.change_type, r.delta_value, r.destination)
            for r in read_routed_alerts(spark, out).collect()
        )

    # two-phase (crash after split 1, resume with split 2)
    two_phase_dir = tmp_path / "tp"
    routed(two_phase_dir, 2)
    got = routed(two_phase_dir, 3, resume_from=2)

    # fresh single run over all three splits
    want = routed(tmp_path / "one", 3)

    assert got == want
    assert len(got) > 0  # the fixture crosses the threshold by design


def test_ewma_stream_resumes_with_bounded_tail(spark, tmp_path):
    """The EWMA carryover (trailing 20 hourly rows per user) must
    survive a crash: phase 1 drains two hour-aligned splits, the
    restart sees one more; every emitted row must equal the fresh
    single-run emission (which parity already proves == batch)."""
    import os

    from dynamodb_pitr_restore_cdc_spark.streaming.drill import (
        _write_one_split,
    )
    from dynamodb_pitr_restore_cdc_spark.streaming.twins import (
        read_emitted_ewma,
        run_ewma_stream,
    )

    H = 3_600_000_000

    def ev(spark_rows):
        import pandas as pd

        return spark.createDataFrame(
            pd.DataFrame(spark_rows, columns=["user_id", "us", "value_c"]),
            schema="user_id long, us long, value_c long",
        )

    # user 0: 30 consecutive hours crossing both split boundaries (the
    # lag-20 tail must flow through the carryover twice)
    rows = [(0, h * H, 100 + h) for h in range(30)] + [(1, 2 * H, 7), (1, 25 * H, 9)]
    splits = [
        [r for r in rows if r[1] < 10 * H],
        [r for r in rows if 10 * H <= r[1] < 20 * H],
        [r for r in rows if r[1] >= 20 * H],
    ]

    def run(base, upto, resume_from=None):
        src, work, out = (str(base / d) for d in ("src", "work", "out"))
        if resume_from is None:
            os.makedirs(src)
        for i in range(resume_from or 0, upto):
            _write_one_split(ev(splits[i]), src, i)
        run_ewma_stream(spark, src, work, out)
        return sorted(map(tuple, read_emitted_ewma(spark, out).collect()))

    run(tmp_path / "tp", 2)                      # phase 1, then "crash"
    got = run(tmp_path / "tp", 3, resume_from=2)  # restart
    want = run(tmp_path / "one", 3)               # fresh single run
    assert got == want and len(got) == 32


def test_alert_stream_absorbs_phantom_commit(spark, tmp_path):
    """The crash window the marker chain exists for: the process dies
    AFTER sink.apply_batch commits an epoch's version but BEFORE the
    epoch marker lands. The restarted stream replays the epoch and
    commits the same rows AGAIN (a phantom version — the seq-guarded
    merge makes both commits byte-identical); the chain diff must span
    phantom + real so the transition's alerts are emitted exactly once
    with the epoch-derived batch_no."""
    import os

    import pandas as pd

    from dynamodb_pitr_restore_cdc_spark.streaming.drill import (
        _write_one_split,
    )
    from dynamodb_pitr_restore_cdc_spark.streaming.twins import (
        ALERT_DELTA_C,
        read_routed_alerts,
        run_alert_stream,
    )
    from dynamodb_pitr_restore_cdc_spark.streaming.versioned_sink import (
        VersionedCdcSink,
    )

    def batch(rows):
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["seq_no", "op", "key", "payload_value"]),
            schema="seq_no long, op string, key long, payload_value double",
        )

    big = (ALERT_DELTA_C + 100) / 100.0
    splits = [
        [(1, "INSERT", 1, big)],
        [(2, "MODIFY", 1, 2 * big), (3, "INSERT", 2, 1.0)],
        [(4, "REMOVE", 2, None), (5, "INSERT", 3, big)],
    ]

    def routed(base, upto, resume_from=None):
        src, work, out = (str(base / d) for d in ("src", "work", "out"))
        if resume_from is None:
            os.makedirs(src)
        for i in range(resume_from or 0, upto):
            _write_one_split(batch(splits[i]), src, i)
        run_alert_stream(spark, src, work, out)
        return sorted(
            (r.batch_no, r.key, r.change_type, r.delta_value, r.destination)
            for r in read_routed_alerts(spark, out).collect()
        )

    base = tmp_path / "ph"
    routed(base, 2)  # epochs 0-1 complete cleanly
    # the simulated crash: split 2's batch committed, marker never written
    sink = VersionedCdcSink(spark, str(base / "work" / "table"))
    v_before = sink.latest_version()
    sink.apply_batch(batch(splits[2]))
    assert sink.latest_version() == v_before + 1  # the phantom is real

    got = routed(base, 3, resume_from=2)  # restart replays epoch 2
    want = routed(tmp_path / "one", 3)    # clean single run
    assert got == want and len(got) > 0


def test_cusum_stream_resumes_from_committed_store(spark, tmp_path):
    """The CUSUM carryover (prefix tail + best candidate per user) must
    survive a crash: phase 1 drains two splits, the restart sees one
    more; the final change point must equal the fresh single-run answer
    (which parity already proves == the batch window pass). The fixture
    plants the peak deviation in the FIRST split so the resumed run can
    only get it right by reading the committed store, not by rescoring
    what it sees after the restart."""
    import os

    from pyspark.sql import functions as F

    from dynamodb_pitr_restore_cdc_spark.streaming.drill import (
        _write_one_split,
    )
    from dynamodb_pitr_restore_cdc_spark.streaming.twins import (
        read_cusum_store,
        run_cusum_stream,
    )

    def ev(rows):
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["user_id", "event_id", "us", "vc"]),
            schema="user_id long, event_id long, us long, vc long",
        )

    # user 0: level shift after event 3 (peak dev at rn=3, in split 0);
    # user 1: drifts late (peak in split 2) — both directions exercised
    rows = [(0, i, i * 1_000_000, 100 if i <= 3 else 900) for i in range(1, 10)]
    rows += [(1, 100 + i, i * 1_000_000, 500 if i <= 6 else 50) for i in range(1, 10)]
    splits = [
        [r for r in rows if r[2] <= 3_000_000],
        [r for r in rows if 3_000_000 < r[2] <= 6_000_000],
        [r for r in rows if r[2] > 6_000_000],
    ]

    def run(base, upto, resume_from=None):
        src, work = str(base / "src"), str(base / "work")
        stats = str(base / "stats")
        if resume_from is None:
            os.makedirs(src)
            ev(rows).groupBy("user_id").agg(
                F.count("*").alias("n"), F.sum("vc").alias("s1")
            ).write.mode("overwrite").parquet(stats)
        for i in range(resume_from or 0, upto):
            _write_one_split(ev(splits[i]), src, i)
        final = run_cusum_stream(spark, src, work, stats)
        return sorted(map(tuple, read_cusum_store(spark, final, stats).collect()))

    run(tmp_path / "tp", 2)                       # phase 1, then "crash"
    got = run(tmp_path / "tp", 3, resume_from=2)  # restart
    want = run(tmp_path / "one", 3)               # fresh single run
    assert got == want and len(got) == 2
    by_user = {r[0]: r for r in got}
    assert by_user[0][2] == 3   # cp_index: the planted split-0 peak
    assert by_user[1][2] == 6   # user 1's late drift peak


def test_semantic_neardup_stream_resumes_without_duplicate_pairs(spark, tmp_path):
    """The stream-static pair scan is stateless per batch, so resume
    safety = the checkpoint skipping already-delivered arrival files
    while per-epoch overwrite absorbs replays: phase 1 drains two
    vec_id splits, the restart sees one more; the unioned pair set
    must equal the fresh single-run set (which parity proves == the
    batch q_llm_embed_neardup answer), with no pair emitted twice.
    Drives the PRODUCTION run_semantic_stream/read_semantic_pairs, not
    a re-implementation."""
    import os

    from pyspark.sql import functions as F

    from dynamodb_pitr_restore_cdc_spark.llm.similarity import (
        _cell_members,
        _dot,
        read_semantic_pairs,
        run_semantic_stream,
    )
    from dynamodb_pitr_restore_cdc_spark.streaming.drill import (
        _write_one_split,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    member = _cell_members(spark, sf_dir).withColumn(
        "nrm", F.sqrt(_dot(F.col("v"), F.col("v")))
    )
    ids = sorted(r.vec_id for r in member.select("vec_id").collect())
    cut1, cut2 = ids[len(ids) // 3], ids[2 * len(ids) // 3]
    splits = [
        [i for i in ids if i <= cut1],
        [i for i in ids if cut1 < i <= cut2],
        [i for i in ids if i > cut2],
    ]

    def ids_df(vals):
        return spark.createDataFrame([(v,) for v in vals], "vec_id long")

    def run(base, upto, resume_from=None):
        src, out = str(base / "src"), str(base / "out")
        if resume_from is None:
            os.makedirs(src)
        for i in range(resume_from or 0, upto):
            _write_one_split(ids_df(splits[i]), src, i)
        run_semantic_stream(spark, src, out, member)
        return sorted(map(tuple, read_semantic_pairs(spark, out).collect()))

    run(tmp_path / "tp", 2)                       # phase 1, then "crash"
    got = run(tmp_path / "tp", 3, resume_from=2)  # restart
    want = run(tmp_path / "one", 3)               # fresh single run
    assert got == want
    assert len(got) == len({(a, b) for a, b, _ in got})  # no pair twice
    assert len(got) > 0


def test_hw_stream_resumes_with_carried_smoothings(spark, tmp_path):
    """The Holt-Winters carryover (trailing 20 hours with their
    QUANTIZED first smoothings and last level/trend per user) must
    survive a crash: phase 1 drains two hour-aligned splits, the
    restart sees one more; every emitted row must equal the fresh
    single-run emission (which parity already proves == batch). The
    30-hour user pushes the s1 tail through the carryover twice — a
    recomputed-from-truncated-history s1 would diverge here."""
    import os

    from dynamodb_pitr_restore_cdc_spark.streaming.drill import (
        _write_one_split,
    )
    from dynamodb_pitr_restore_cdc_spark.streaming.twins import (
        read_emitted_hw,
        run_hw_stream,
        write_hw_seasonal_index,
    )

    H = 3_600_000_000

    def ev(rows):
        import pandas as pd

        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["user_id", "us", "value_c"]),
            schema="user_id long, us long, value_c long",
        )

    rows = [(0, h * H, 100 + 7 * h % 50) for h in range(30)] + [
        (1, 2 * H, 7),
        (1, 25 * H, 9),
    ]
    splits = [
        [r for r in rows if r[1] < 10 * H],
        [r for r in rows if 10 * H <= r[1] < 20 * H],
        [r for r in rows if r[1] >= 20 * H],
    ]
    seas = str(tmp_path / "seas")
    write_hw_seasonal_index(ev(rows), seas)

    def run(base, upto, resume_from=None):
        src, work, out = (str(base / d) for d in ("src", "work", "out"))
        if resume_from is None:
            os.makedirs(src)
        for i in range(resume_from or 0, upto):
            _write_one_split(ev(splits[i]), src, i)
        run_hw_stream(spark, src, work, out, seas)
        return sorted(map(tuple, read_emitted_hw(spark, out).collect()))

    run(tmp_path / "tp", 2)                       # phase 1, then "crash"
    got = run(tmp_path / "tp", 3, resume_from=2)  # restart
    want = run(tmp_path / "one", 3)               # fresh single run
    assert got == want and len(got) == 32


def test_hw_stream_resume_survives_torn_pointer_attempt(spark, tmp_path):
    """drill.fold_versions' crash window: a run that died mid-pointer-update
    leaves a stale `_LATEST.tmp` (torn content) while `_LATEST` itself
    still names the last committed state — the restart must resume from
    the committed pointer, ignore the debris, and emit exactly the
    fresh single-run rows. (Before the tmp+rename rewrite, the torn
    write landed IN `_LATEST` and permanently wedged every resume.)"""
    import os

    from dynamodb_pitr_restore_cdc_spark.streaming.drill import (
        _write_one_split,
    )
    from dynamodb_pitr_restore_cdc_spark.streaming.twins import (
        read_emitted_hw,
        run_hw_stream,
        write_hw_seasonal_index,
    )

    H = 3_600_000_000

    def ev(rows):
        import pandas as pd

        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["user_id", "us", "value_c"]),
            schema="user_id long, us long, value_c long",
        )

    rows = [(0, h * H, 40 + 11 * h % 30) for h in range(24)]
    splits = [
        [r for r in rows if r[1] < 12 * H],
        [r for r in rows if r[1] >= 12 * H],
    ]
    seas = str(tmp_path / "seas")
    write_hw_seasonal_index(ev(rows), seas)

    src, work, out = (str(tmp_path / d) for d in ("src", "work", "out"))
    os.makedirs(src)
    _write_one_split(ev(splits[0]), src, 0)
    run_hw_stream(spark, src, work, out, seas)
    # hard-crash debris in the shape atomic_write_text actually leaves
    # (kill between open and rename): a unique-suffix temp with a
    # garbage path — resume must ignore it, and the next pointer write
    # must sweep it
    debris = os.path.join(work, "_LATEST.tmp-deadbeef0123")
    with open(debris, "w") as fh:
        fh.write(os.path.join(work, "v9"))
    _write_one_split(ev(splits[1]), src, 1)
    run_hw_stream(spark, src, work, out, seas)
    assert not os.path.exists(debris)  # swept by the resumed run's writes
    got = sorted(map(tuple, read_emitted_hw(spark, out).collect()))

    src1, work1, out1 = (str(tmp_path / d) for d in ("s1", "w1", "o1"))
    os.makedirs(src1)
    _write_one_split(ev(splits[0]), src1, 0)
    _write_one_split(ev(splits[1]), src1, 1)
    run_hw_stream(spark, src1, work1, out1, seas)
    want = sorted(map(tuple, read_emitted_hw(spark, out1).collect()))
    assert got == want and len(got) == 24


def test_heavy_hitters_exact_when_capacity_exceeds_keys(spark, tmp_path):
    """capacity >= distinct keys => watermark never rises, every err is
    0, and every estimate equals the true count (the property that lets
    the registered query share the exact-count oracle)."""
    import os

    import pandas as pd

    from dynamodb_pitr_restore_cdc_spark.streaming.drill import (
        _write_one_split,
    )
    from dynamodb_pitr_restore_cdc_spark.streaming.twins import (
        run_heavy_hitters_stream,
    )

    def ev(rows):
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["user_id", "us"]),
            schema="user_id long, us long",
        )

    rows = [(k, i) for i, k in enumerate([0, 1, 0, 2, 0, 1, 3, 0, 2, 0])]
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i in range(3):
        _write_one_split(ev(rows[i::3]), src, i)
    path, wm = run_heavy_hitters_stream(
        spark, src, str(tmp_path / "work"), capacity=10
    )
    got = {r.key: (r.est, r.err) for r in spark.read.parquet(path).collect()}
    assert wm == 0
    assert got == {0: (5, 0), 1: (2, 0), 2: (2, 0), 3: (1, 0)}


def test_heavy_hitters_bounds_hold_under_eviction(spark, tmp_path):
    """capacity < distinct keys: the summary never exceeds capacity,
    every survivor obeys est - err <= true <= est, and the dominant
    key is present with its count bracketed."""
    import os
    from collections import Counter

    import pandas as pd

    from dynamodb_pitr_restore_cdc_spark.streaming.drill import (
        _write_one_split,
    )
    from dynamodb_pitr_restore_cdc_spark.streaming.twins import (
        run_heavy_hitters_stream,
    )

    def ev(rows):
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["user_id", "us"]),
            schema="user_id long, us long",
        )

    # key 99 dominates (40 of 100 events); keys 0..19 share the rest,
    # deterministically interleaved so each split carries evictions
    rows, i = [], 0
    for rep in range(3):
        for k in range(20):
            rows.append((k, i)); i += 1
    for _ in range(40):
        rows.append((99, i)); i += 1
    true = Counter(k for k, _ in rows)
    src = str(tmp_path / "src")
    os.makedirs(src)
    for j in range(3):
        _write_one_split(ev(rows[j::3]), src, j)
    path, wm = run_heavy_hitters_stream(
        spark, src, str(tmp_path / "work"), capacity=8
    )
    got = {r.key: (r.est, r.err) for r in spark.read.parquet(path).collect()}
    assert len(got) <= 8 and wm > 0
    for k, (est, err) in got.items():
        assert est - err <= true[k] <= est, (k, est, err, true[k])
    assert 99 in got  # the heavy hitter always survives


def test_heavy_hitters_stream_resumes_from_committed_summary(spark, tmp_path):
    """Crash-recovery: phase 1 drains two splits and 'crashes'; the
    restarted run (same dirs) sees one more split. The resumed summary
    AND watermark must equal the fresh single-run's."""
    import os

    import pandas as pd

    from dynamodb_pitr_restore_cdc_spark.streaming.drill import (
        _write_one_split,
    )
    from dynamodb_pitr_restore_cdc_spark.streaming.twins import (
        run_heavy_hitters_stream,
    )

    def ev(rows):
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["user_id", "us"]),
            schema="user_id long, us long",
        )

    rows = [(k % 7, i) for i, k in enumerate(range(60))] + [(42, 99)] * 9
    splits = [rows[0:20], rows[20:40], rows[40:]]

    def run(base, upto, resume_from=None):
        src, work = str(base / "src"), str(base / "work")
        if resume_from is None:
            os.makedirs(src)
        for i in range(resume_from or 0, upto):
            _write_one_split(ev(splits[i]), src, i)
        path, wm = run_heavy_hitters_stream(spark, src, work, capacity=6)
        return sorted(map(tuple, spark.read.parquet(path).collect())), wm

    run(tmp_path / "tp", 2)                       # phase 1, then "crash"
    got = run(tmp_path / "tp", 3, resume_from=2)  # restart
    want = run(tmp_path / "one", 3)               # fresh single run
    assert got == want


def test_mor_double_append_is_value_idempotent(spark, tmp_path):
    """The q_stream_mor_ingest crash story: an epoch replayed after a
    crash appends its batch twice. The duplicated changelog entries tie
    with themselves in the per-key max-seq fold, so visible() is
    unchanged — and compact_mor folds the physical debris away."""
    import pandas as pd

    from dynamodb_pitr_restore_cdc_spark.streaming.delta_log_sink import (
        DeltaLogSink,
    )

    def frame(rows, cols, schema):
        return spark.createDataFrame(pd.DataFrame(rows, columns=cols), schema)

    snap = frame([(1, 0, 1.0), (2, 0, 2.0)],
                 ["key", "last_seq", "payload_value"],
                 "key long, last_seq long, payload_value double")
    batch = frame([(1, 10, "MODIFY", 1.5), (2, 11, "REMOVE", None),
                   (3, 12, "INSERT", 3.0)],
                  ["key", "seq_no", "op", "payload_value"],
                  "key long, seq_no long, op string, payload_value double")

    once = DeltaLogSink(spark, str(tmp_path / "once"), n_buckets=4)
    once.init(snap)
    once.append(batch)
    twice = DeltaLogSink(spark, str(tmp_path / "twice"), n_buckets=4)
    twice.init(snap)
    twice.append(batch)
    twice.append(batch)  # replayed epoch

    want = sorted(map(tuple, once.visible().collect()))
    assert sorted(map(tuple, twice.visible().collect())) == want
    twice.compact_mor(set(range(4)))
    assert sorted(map(tuple, twice.visible().collect())) == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.data())
def test_space_saving_guarantees_under_arbitrary_batching(spark, data):
    """The provable space-saving invariants, under random streams,
    random batch splits and random (small) capacities:
      (1) |summary| <= capacity;
      (2) est - err <= true <= est for every member;
      (3) ABSENT => true <= watermark (completeness: every key whose
          true count exceeds the watermark is present)."""
    import pandas as pd
    from collections import Counter

    from dynamodb_pitr_restore_cdc_spark.streaming.twins import (
        merge_space_saving,
    )

    n = data.draw(st.integers(1, 40))
    cap = data.draw(st.integers(2, 6))
    k = data.draw(st.integers(1, 4))
    keys = [data.draw(st.integers(0, 9)) for _ in range(n)]
    assignment = [data.draw(st.integers(0, k - 1)) for _ in range(n)]
    true = Counter(keys)

    summary = spark.createDataFrame(
        pd.DataFrame(columns=["key", "est", "err"]).astype("int64"),
        schema="key long, est long, err long",
    )
    wm = 0
    for b in range(k):
        batch = Counter(kk for kk, a in zip(keys, assignment) if a == b)
        if not batch:
            continue
        bcounts = spark.createDataFrame(
            pd.DataFrame(sorted(batch.items()), columns=["key", "bcnt"]),
            schema="key long, bcnt long",
        )
        summary, wm = merge_space_saving(summary, bcounts, wm, cap)
        # materialize like the stream's per-epoch parquet store does
        summary = spark.createDataFrame(summary.toPandas(), schema=summary.schema)

    got = {r.key: (r.est, r.err) for r in summary.collect()}
    assert len(got) <= cap
    for kk, (est, err) in got.items():
        assert est - err <= true[kk] <= est, (kk, est, err, true[kk], wm)
    for kk, t in true.items():
        if kk not in got:
            assert t <= wm, (kk, t, wm)
