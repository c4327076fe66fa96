"""Sink-level property test: the full log-table stack (bucketing,
bucket-pruned MERGE commits, tombstones, compaction-free path) must
equal the naive sequential fold for random op sequences over random
batch splits — the integration-level version of the merge properties."""

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dynamodb_pitr_restore_cdc_spark.streaming.delta_log_sink import DeltaLogSink


def naive_fold(ops):
    state = {}
    for seq, (key, op, val) in enumerate(ops):
        if op == "REMOVE":
            state.pop(key, None)
        else:
            state[key] = (seq, val)
    return state


def to_batch(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["key", "seq_no", "op", "payload_value"]),
        schema="key long, seq_no long, op string, payload_value double",
    )


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.data())
def test_bucketed_sink_equals_fold(spark, tmp_path_factory, data):
    n = data.draw(st.integers(1, 15))
    ops = [
        (
            data.draw(st.integers(0, 5)),
            data.draw(st.sampled_from(["INSERT", "MODIFY", "REMOVE"])),
            float(data.draw(st.integers(0, 99))),
        )
        for _ in range(n)
    ]
    assignment = [data.draw(st.integers(0, 1)) for _ in range(n)]

    path = str(tmp_path_factory.mktemp("sinkprop"))
    # the 16-bucket table of the bucketed-sink drills
    sink = DeltaLogSink(spark, path + "/s", n_buckets=16)
    sink.init(to_batch(spark, []).selectExpr("key", "seq_no as last_seq", "op", "payload_value"))
    for b in range(2):
        rows = [
            (key, seq, op, val)
            for seq, (key, op, val) in enumerate(ops)
            if assignment[seq] == b
        ]
        sink.apply_batch(to_batch(spark, rows))

    got = {r.key: (r.last_seq, r.payload_value) for r in sink.visible().collect()}
    assert got == naive_fold(ops)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.data())
def test_delta_sink_equals_fold_and_feed_equals_state_diff(
    spark, tmp_path_factory, data
):
    # same integration property, through the Delta-protocol format —
    # PLUS the changefeed invariant: changes_between(v2, v3) must equal
    # the dict-diff of the naive fold before/after the second batch
    n = data.draw(st.integers(1, 15))
    ops = [
        (
            data.draw(st.integers(0, 5)),
            data.draw(st.sampled_from(["INSERT", "MODIFY", "REMOVE"])),
            float(data.draw(st.integers(0, 99))),
        )
        for _ in range(n)
    ]
    assignment = [data.draw(st.integers(0, 1)) for _ in range(n)]

    path = str(tmp_path_factory.mktemp("deltaprop"))
    sink = DeltaLogSink(spark, path + "/d", n_buckets=4)
    sink.init(
        to_batch(spark, []).selectExpr(
            "key", "seq_no as last_seq", "op", "payload_value"
        )
    )
    batches = [
        [(key, seq, op, val) for seq, (key, op, val) in enumerate(ops)
         if assignment[seq] == b]
        for b in range(2)
    ]
    for rows in batches:
        sink.apply_batch(to_batch(spark, rows))

    got = {r.key: (r.last_seq, r.payload_value) for r in sink.visible().collect()}
    assert got == naive_fold(ops)

    def fold_rows(rows):
        # sequential fold carrying GLOBAL seq numbers (a re-enumerated
        # fold would mistake a stale cross-batch replay for an update)
        state = {}
        for key, seq, op, val in sorted(rows, key=lambda r: r[1]):
            if op == "REMOVE":
                state.pop(key, None)
            else:
                state[key] = (seq, val)
        return state

    mid = fold_rows(batches[0])
    final = fold_rows(batches[0] + batches[1])
    expect = {}
    for k in set(mid) | set(final):
        if k not in mid:
            expect[k] = ("INSERT", final[k][1], None)
        elif k not in final:
            expect[k] = ("DELETE", None, mid[k][1])
        elif mid[k][0] != final[k][0]:
            expect[k] = ("UPDATE", final[k][1], mid[k][1])
    feed = {
        r.key: (r.change_type, r.payload_value, r.payload_value_old)
        for r in sink.changes_between(2, 3).collect()
    }
    assert feed == expect


@settings(max_examples=3, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.data())
def test_delta_maintenance_interleaving_preserves_history(
    spark, tmp_path_factory, data
):
    """Random merge/compact/expire interleavings: after every commit,
    visible() equals the sequential fold, every RETAINED version's
    snapshot equals the fold recorded when that version was published
    (compaction commits change no visible state), and every EXPIRED
    version raises loudly. Batches are seq-contiguous so a compaction
    horizon can never outrun an in-flight stale row."""
    n = data.draw(st.integers(3, 12))
    ops = [
        (
            data.draw(st.integers(0, 4)),
            data.draw(st.sampled_from(["INSERT", "MODIFY", "REMOVE"])),
            float(data.draw(st.integers(0, 99))),
        )
        for _ in range(n)
    ]
    cut1 = data.draw(st.integers(1, n - 1))
    cut2 = data.draw(st.integers(cut1, n))
    batches = [
        [(key, seq, op, val) for seq, (key, op, val) in enumerate(ops)][a:b]
        for a, b in ((0, cut1), (cut1, cut2), (cut2, n))
    ]

    def fold(rows):
        state = {}
        for key, seq, op, val in rows:
            if op == "REMOVE":
                state.pop(key, None)
            else:
                state[key] = (seq, val)
        return state

    path = str(tmp_path_factory.mktemp("deltamaint"))
    sink = DeltaLogSink(spark, path + "/d", n_buckets=4)
    sink.init(
        to_batch(spark, []).selectExpr(
            "key", "seq_no as last_seq", "op", "payload_value"
        )
    )
    applied: list = []
    hist = [(1, {})]  # (published version, expected fold at publication)
    dropped: list[int] = []
    for rows in batches:
        if rows:
            sink.apply_batch(to_batch(spark, rows))
            applied += rows
            hist.append((sink.latest_version(), fold(applied)))
        if data.draw(st.booleans()):
            v_before = sink.latest_version()
            horizon = max((r[1] for r in applied), default=0) + 1
            sink.compact(reorder_horizon_seq=horizon)
            if sink.latest_version() != v_before:  # a real OPTIMIZE commit
                hist.append((sink.latest_version(), fold(applied)))
        if data.draw(st.booleans()):
            keep = data.draw(st.integers(1, 3))
            expired = sink.expire_versions(keep_last=keep, sweep_orphans=True)
            dropped += expired
            hist = [(v, s) for (v, s) in hist if v not in set(expired)]

    from dynamodb_pitr_restore_cdc_spark.operators.cdc import visible

    got = {r.key: (r.last_seq, r.payload_value) for r in sink.visible().collect()}
    assert got == fold(applied)
    for v, s in hist:
        # snapshot(v) is the TOMBSTONED physical state; the model folds
        # away removes, so compare through the visible filter
        at_v = {
            r.key: (r.last_seq, r.payload_value)
            for r in visible(sink.snapshot(v)).collect()
        }
        assert at_v == s, f"snapshot({v}) diverged from the recorded fold"
    for v in dropped:
        with pytest.raises(ValueError, match="expired"):
            sink.snapshot(v)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.data())
def test_mor_lane_interleaving_converges_to_fold(spark, data):
    """The round-7 lane algebra: ANY interleaving of blind appends and
    copy-on-write merges over ANY batch decomposition — with compaction
    fired at ANY point — must converge to the plain changelog fold.
    This is the sink-level form of the cdc_merge associativity property
    (same per-key max-seq reduction, now spread across storage)."""
    import pandas as pd

    from dynamodb_pitr_restore_cdc_spark.operators.cdc import (
        fold_changelog,
        latest_per_key,
    )
    n = data.draw(st.integers(1, 24))
    k = data.draw(st.integers(1, 4))
    rows = []
    for seq in range(1, n + 1):
        key = data.draw(st.integers(0, 4))
        op = data.draw(st.sampled_from(["INSERT", "MODIFY", "REMOVE"]))
        val = None if op == "REMOVE" else float(data.draw(st.integers(0, 9)))
        rows.append((key, seq, op, val))
    assignment = [data.draw(st.integers(0, k - 1)) for _ in range(n)]
    lane = [data.draw(st.sampled_from(["append", "merge"])) for _ in range(k)]
    compact_after = data.draw(st.integers(0, k))

    def cl(rws):
        return spark.createDataFrame(
            pd.DataFrame(rws, columns=["key", "seq_no", "op", "payload_value"]),
            schema="key long, seq_no long, op string, payload_value double",
        )

    import tempfile, shutil, os

    base = tempfile.mkdtemp(prefix="morprop-")
    sink = DeltaLogSink(spark, os.path.join(base, "t"), n_buckets=4)
    sink.init(fold_changelog(cl([])))  # empty init, pinned schema
    for b in range(k):
        batch = [r for r, a in zip(rows, assignment) if a == b]
        if not batch:
            continue
        (sink.append if lane[b] == "append" else sink.apply_batch)(cl(batch))
        if compact_after == b + 1:
            sink.compact_mor(set(range(4)))
    got = sorted(
        (r.key, r.last_seq, r.payload_value) for r in sink.visible().collect()
    )
    want = sorted(
        (r.key, r.last_seq, r.payload_value)
        for r in fold_changelog(cl(rows)).collect()
    )
    shutil.rmtree(base, ignore_errors=True)
    assert got == want


def test_compact_skips_buckets_with_pending_deltas(spark, tmp_path_factory):
    """Round-8 review regression (delta_log_sink.py compact): a bucket
    holding BOTH a settled base tombstone and a pending merge-on-read
    delta file whose entry sits BELOW the tombstone's seq must not be
    rewritten by the settled-tombstone OPTIMIZE — dropping the
    tombstone hands the read-time fold to the stale entry, silently
    resurrecting the deleted key across a dataChange:False commit."""
    from dynamodb_pitr_restore_cdc_spark.operators.cdc import fold_changelog
    path = str(tmp_path_factory.mktemp("morcompact"))
    sink = DeltaLogSink(spark, path + "/t", n_buckets=2)
    sink.init(
        fold_changelog(to_batch(spark, []))
    )
    # copy-on-write lane: key 7 inserted then deleted (tombstone seq 5)
    sink.apply_batch(to_batch(spark, [(7, 1, "INSERT", 1.0)]))
    sink.apply_batch(to_batch(spark, [(7, 5, "REMOVE", None)]))
    # write-cheap lane: a STALE entry for the same key lands as a
    # pending delta file (seq 3 < tombstone's 5 — explicitly supported)
    sink.append(to_batch(spark, [(7, 3, "MODIFY", 3.0)]))
    assert sink.visible().count() == 0  # tombstone wins the fold

    v_before = sink.latest_version()
    sink.compact(reorder_horizon_seq=100)  # every tombstone "settled"
    # the mor-carrying bucket was ineligible: no resurrection, and no
    # pointless rewrite commit either (the only candidate was skipped)
    assert sink.visible().count() == 0, "deleted key resurrected by OPTIMIZE"
    assert sink.latest_version() == v_before

    # retire the delta via compact_mor, then the tombstone IS reclaimable
    sink.compact_mor({0, 1})
    sink.compact(reorder_horizon_seq=100)
    assert sink.visible().count() == 0
    snap = sink.snapshot().collect()
    assert snap == [], f"settled tombstone not reclaimed: {snap}"


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.data())
def test_append_stale_entries_survive_compact(spark, fmt, data):
    """Property form of the round-8 fix, run against BOTH merge-on-read
    protocols (Delta delta files / Iceberg equality-delete files): seqs
    1..n are dealt to lanes in ARBITRARY order (so appends routinely
    carry entries below already-merged tombstones — DELIVERED but
    pending in delta files), compact()/compact_mor() fire at arbitrary
    points — and visible() must still equal the plain changelog fold.

    The compaction horizon honors its contract (nothing below it is
    still IN FLIGHT): it is the smallest not-yet-delivered seq. Pending
    delta entries are NOT in flight — they are delivered, merely
    unfolded — so a settled tombstone above a pending stale entry is a
    legal state the fix must survive."""
    import os
    import shutil
    import tempfile

    from dynamodb_pitr_restore_cdc_spark.operators.cdc import fold_changelog
    from dynamodb_pitr_restore_cdc_spark.streaming.iceberg_log_sink import (
        IcebergLogSink,
    )

    sink_cls = DeltaLogSink if fmt == "delta" else IcebergLogSink
    n = data.draw(st.integers(2, 16))
    k = data.draw(st.integers(2, 4))
    rows = []
    for seq in range(1, n + 1):
        key = data.draw(st.integers(0, 3))
        op = data.draw(st.sampled_from(["INSERT", "MODIFY", "REMOVE"]))
        val = None if op == "REMOVE" else float(data.draw(st.integers(0, 9)))
        rows.append((key, seq, op, val))
    # NON-contiguous split: any seq can land in any lane/batch, so a
    # stale sub-tombstone append after a high-seq merge is a routine draw
    assignment = [data.draw(st.integers(0, k - 1)) for _ in range(n)]
    lane = [data.draw(st.sampled_from(["append", "merge"])) for _ in range(k)]
    maint = [
        data.draw(st.sampled_from(["none", "compact", "compact_mor", "both"]))
        for _ in range(k)
    ]

    base = tempfile.mkdtemp(prefix="stalecompact-")
    sink = sink_cls(spark, os.path.join(base, "t"), n_buckets=4)
    sink.init(fold_changelog(to_batch(spark, [])))
    for b in range(k):
        batch = [r for r, a in zip(rows, assignment) if a == b]
        if batch:
            (sink.append if lane[b] == "append" else sink.apply_batch)(
                to_batch(spark, batch)
            )
        if maint[b] in ("compact", "both"):
            # smallest seq NOT yet delivered: the horizon's contract —
            # delivered-but-unfolded delta entries are deliberately NOT
            # exempted, that's the interleaving under test
            in_flight = [
                r[1] for r, a in zip(rows, assignment) if a > b
            ]
            sink.compact(
                reorder_horizon_seq=min(in_flight) if in_flight else n + 1
            )
        if maint[b] in ("compact_mor", "both"):
            sink.compact_mor(set(range(4)))
    got = sorted(
        (r.key, r.last_seq, r.payload_value) for r in sink.visible().collect()
    )
    want = sorted(
        (r.key, r.last_seq, r.payload_value)
        for r in fold_changelog(to_batch(spark, rows)).collect()
    )
    shutil.rmtree(base, ignore_errors=True)
    assert got == want
