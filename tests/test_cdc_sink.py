"""Tombstone merge + bucketed sink: the guarantees beyond plain
cdc_merge, the sink being the Delta-format log table the bucketed-sink
drills commit to."""

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dynamodb_pitr_restore_cdc_spark.operators.cdc import (
    cdc_merge_tombstone,
    visible,
)
from dynamodb_pitr_restore_cdc_spark.streaming.delta_log_sink import DeltaLogSink


def to_batch(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["key", "seq_no", "op", "payload_value"]),
        schema="key long, seq_no long, op string, payload_value double",
    )


def empty_tomb_snapshot(spark):
    return to_batch(spark, []).selectExpr(
        "key", "seq_no as last_seq", "op", "payload_value"
    )


def files_by_bucket(sink):
    """{bucket: active data files} from the table's log."""
    out = {}
    for f in sink._pin().files:
        out.setdefault(f.bucket, set()).add(f.path)
    return out


def naive_fold(ops):
    state = {}
    for seq, (key, op, val) in enumerate(ops):
        if op == "REMOVE":
            state.pop(key, None)
        else:
            state[key] = (seq, val)
    return state


def test_tombstone_blocks_stale_resurrection(spark):
    """The exact failure plain cdc_merge has: REMOVE applied, then a
    STALE older op for the same key arrives in a later batch."""
    snap = empty_tomb_snapshot(spark)
    b1 = to_batch(spark, [(1, 10, "REMOVE", None)])
    b2 = to_batch(spark, [(1, 8, "MODIFY", 5.0)])  # stale, out of order
    state = cdc_merge_tombstone(cdc_merge_tombstone(snap, b1), b2)
    assert visible(state).count() == 0
    # tombstone retained with the winning seq
    rows = state.collect()
    assert len(rows) == 1 and rows[0].op == "REMOVE" and rows[0].last_seq == 10


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.data())
def test_tombstone_merge_invariant_under_arbitrary_batching(spark, data):
    """Stronger than the contiguous-cuts property of plain cdc_merge:
    ops are assigned to batches RANDOMLY (any partition, any order of
    application) and the visible state must still equal the fold."""
    n = data.draw(st.integers(0, 20))
    ops = [
        (
            data.draw(st.integers(0, 3)),
            data.draw(st.sampled_from(["INSERT", "MODIFY", "REMOVE"])),
            float(data.draw(st.integers(0, 99))),
        )
        for _ in range(n)
    ]
    assignment = [data.draw(st.integers(0, 2)) for _ in range(n)]

    state = empty_tomb_snapshot(spark)
    for b in range(3):
        rows = [
            (key, seq, op, val)
            for seq, (key, op, val) in enumerate(ops)
            if assignment[seq] == b
        ]
        state = cdc_merge_tombstone(state, to_batch(spark, rows))
        state = state.localCheckpoint(eager=True)

    got = {r.key: (r.last_seq, r.payload_value) for r in visible(state).collect()}
    assert got == naive_fold(ops)


def test_bucketed_sink_rewrites_only_touched_buckets(spark, tmp_path):
    sink = DeltaLogSink(spark, str(tmp_path / "sink"), n_buckets=8)
    init = to_batch(
        spark, [(k, 1, "INSERT", float(k)) for k in range(40)]
    ).selectExpr("key", "seq_no as last_seq", "op", "payload_value")
    sink.init(init)

    before = files_by_bucket(sink)
    # one batch touching exactly one key
    batch = to_batch(spark, [(7, 2, "MODIFY", 99.0)])
    touched_bucket = batch.select(
        F.pmod(F.hash("key"), F.lit(8)).alias("b")
    ).first().b
    sink.apply_batch(batch)

    after = files_by_bucket(sink)
    for b in before:
        if b != touched_bucket:
            assert before[b] == after[b], f"untouched bucket {b} was rewritten"
    assert before[touched_bucket] != after[touched_bucket]

    vis = {r.key: r.payload_value for r in sink.visible().collect()}
    assert vis[7] == 99.0 and len(vis) == 40


def test_compaction_drops_old_tombstones_keeps_recent(spark, tmp_path):
    sink = DeltaLogSink(spark, str(tmp_path / "sink3"), n_buckets=4)
    sink.init(
        to_batch(spark, [(k, k, "INSERT", float(k)) for k in range(6)]).selectExpr(
            "key", "seq_no as last_seq", "op", "payload_value"
        )
    )
    sink.apply_batch(to_batch(spark, [(1, 10, "REMOVE", None), (2, 20, "REMOVE", None)]))
    assert sink.snapshot().where("op = 'REMOVE'").count() == 2

    # compaction must prune: untouched clean buckets keep their files
    clean_before = files_by_bucket(sink)
    sink.compact(reorder_horizon_seq=15)
    snap = sink.snapshot()
    # tombstone@10 compacted away, tombstone@20 still guards reordering
    assert {r.last_seq for r in snap.where("op = 'REMOVE'").collect()} == {20}
    # visible rows unaffected
    assert {r.key for r in sink.visible().collect()} == {0, 3, 4, 5}
    # a stale op for the still-guarded key is ignored after compaction
    sink.apply_batch(to_batch(spark, [(2, 12, "MODIFY", 99.0)]))
    assert {r.key for r in sink.visible().collect()} == {0, 3, 4, 5}
    del clean_before  # layout asserted in the pruning test below


def test_compaction_is_bucket_pruned_and_clears_empty_buckets(spark, tmp_path):
    # 1 key per bucket: bucket of key 100 will hold ONLY an expired tombstone
    sink = DeltaLogSink(spark, str(tmp_path / "sink4"), n_buckets=8)
    sink.init(
        to_batch(spark, [(k, 1, "INSERT", float(k)) for k in range(6)]).selectExpr(
            "key", "seq_no as last_seq", "op", "payload_value"
        )
    )
    sink.apply_batch(to_batch(spark, [(100, 5, "INSERT", 1.0)]))
    sink.apply_batch(to_batch(spark, [(100, 6, "REMOVE", None)]))

    before = files_by_bucket(sink)
    tomb_bucket = (
        sink.snapshot()
        .where("op = 'REMOVE'")
        .select(F.pmod(F.hash("key"), F.lit(8)).alias("b"))
        .first()
        .b
    )
    tomb_only = all(
        r.key == 100
        for r in sink.snapshot().where(
            F.pmod(F.hash("key"), F.lit(8)) == tomb_bucket
        ).collect()
    )
    sink.compact(reorder_horizon_seq=50)

    after = files_by_bucket(sink)
    # clean buckets untouched: the same active file set
    for b in before:
        if b != tomb_bucket:
            assert before[b] == after[b], f"clean bucket {b} was rewritten by compact"
    # a bucket that held only the expired tombstone has no live file left
    if tomb_only:
        assert tomb_bucket not in after
    assert sink.snapshot().where("op = 'REMOVE'").count() == 0
    assert {r.key for r in sink.visible().collect()} == {0, 1, 2, 3, 4, 5}


def test_bucketed_sink_delete_and_reinsert(spark, tmp_path):
    sink = DeltaLogSink(spark, str(tmp_path / "sink2"), n_buckets=4)
    sink.init(
        to_batch(spark, [(1, 1, "INSERT", 1.0), (2, 2, "INSERT", 2.0)]).selectExpr(
            "key", "seq_no as last_seq", "op", "payload_value"
        )
    )
    sink.apply_batch(to_batch(spark, [(1, 3, "REMOVE", None)]))
    assert {r.key for r in sink.visible().collect()} == {2}
    sink.apply_batch(to_batch(spark, [(1, 4, "INSERT", 10.0)]))
    vis = {r.key: r.payload_value for r in sink.visible().collect()}
    assert vis == {1: 10.0, 2: 2.0}
