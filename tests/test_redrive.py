"""RedriveStore durability + replay semantics (reference A7,
cdk/lib/cdk-stack.ts:52-63): the retry store must survive a consumer
restart (SQS state outlives the Lambda), and a redelivered foreachBatch
epoch must not double-count receives or duplicate DLQ rows
(at-least-once replay safety). Both were round-2 ADVICE findings.
"""

import os
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from dynamodb_pitr_restore_cdc_spark.streaming.redrive import (
    MAX_RECEIVES,
    RECEIVE_COUNT_COL,
    RedriveStore,
)


@pytest.fixture()
def root():
    d = os.path.join(tempfile.gettempdir(), f"redrive-test-{uuid.uuid4().hex[:8]}")
    yield d
    import shutil

    shutil.rmtree(d, ignore_errors=True)


def _batch(spark, n=10):
    return spark.range(n).select(
        F.col("id").alias("seq_no"),
        (F.col("id") % 3).alias("key"),
        (F.col("id") * 10).alias("val"),
    )


def _reject_odd(df):
    return df.where(F.col("seq_no") % 2 == 1)


def test_restart_resumes_committed_state(spark, root):
    """A new store over the same root (consumer crash/restart) must see
    the committed retry records WITH their receive counts — not silently
    drop them (the round-2 in-memory-schema bug)."""
    store = RedriveStore(spark, root)
    store.deliver(_batch(spark), _reject_odd)
    empty = spark.createDataFrame([], schema=_batch(spark).schema)

    restarted = RedriveStore(spark, root)
    pending = restarted.pending()
    assert pending is not None, "restarted store lost the committed retry state"
    rows = {r.seq_no: r[RECEIVE_COUNT_COL] for r in pending.collect()}
    assert rows == {1: 1, 3: 1, 5: 1, 7: 1, 9: 1}

    # redelivery through the restarted store keeps incrementing counts
    restarted.deliver(empty, _reject_odd)
    rows2 = {r.seq_no: r[RECEIVE_COUNT_COL] for r in restarted.pending().collect()}
    assert rows2 == {1: 2, 3: 2, 5: 2, 7: 2, 9: 2}
    assert restarted._version == 2


def test_poison_reaches_dlq_after_restarts(spark, root):
    """Receive counts accumulate across restarts; at MAX_RECEIVES the
    record lands in the DLQ exactly once."""
    empty_schema = _batch(spark).schema
    store = RedriveStore(spark, root)
    store.deliver(_batch(spark), _reject_odd)
    for _ in range(MAX_RECEIVES - 1):  # every tick through a fresh store
        store = RedriveStore(spark, root)
        store.deliver(spark.createDataFrame([], schema=empty_schema), _reject_odd)
    dlq = {r.seq_no: r[RECEIVE_COUNT_COL] for r in store.dlq().collect()}
    assert dlq == {1: 5, 3: 5, 5: 5, 7: 5, 9: 5}
    assert not store.has_pending()


def test_epoch_replay_is_readonly(spark, root):
    """Redelivering the committed epoch (foreachBatch at-least-once)
    returns the stored accepted rows and mutates nothing: receive
    counts stay put and the DLQ does not grow."""
    store = RedriveStore(spark, root)
    first = store.deliver(_batch(spark), _reject_odd, epoch_id=0)
    accepted_first = sorted(r.seq_no for r in first.collect())
    pending_before = {r.seq_no: r[RECEIVE_COUNT_COL] for r in store.pending().collect()}
    version_before = store._version

    replay = store.deliver(_batch(spark), _reject_odd, epoch_id=0)
    assert sorted(r.seq_no for r in replay.collect()) == accepted_first
    assert store._version == version_before
    pending_after = {r.seq_no: r[RECEIVE_COUNT_COL] for r in store.pending().collect()}
    assert pending_after == pending_before, "replay re-incremented receive counts"


def test_epoch_replay_does_not_duplicate_dlq(spark, root):
    """A replayed poison-bearing epoch must leave DLQ contents
    identical (per-cycle overwrite dirs, not blind appends)."""

    def reject_all(df):
        return df

    store = RedriveStore(spark, root, max_receives=1)
    store.deliver(_batch(spark, n=4), reject_all, epoch_id=7)
    dlq_once = sorted(r.seq_no for r in store.dlq().collect())
    assert dlq_once == [0, 1, 2, 3]

    # replay same epoch — including through a restarted store
    for s in (store, RedriveStore(spark, root, max_receives=1)):
        s.deliver(_batch(spark, n=4), reject_all, epoch_id=7)
        assert sorted(r.seq_no for r in s.dlq().collect()) == dlq_once


def test_kept_snapshot_survives_the_next_deliver(spark, root):
    """kept_snapshot(dst) clones the committed cycle's accepted rows:
    the next deliver() reclaims accepted_v{n}, the kept copy still
    reads the same rows (the q_cdc_dlq_redrive consumption shape)."""
    store = RedriveStore(spark, root)
    with pytest.raises(ValueError, match="no committed cycle"):
        store.kept_snapshot(os.path.join(root, "kept_none"))
    store.deliver(_batch(spark), _reject_odd)
    kept = store.kept_snapshot(os.path.join(root, "kept_c0"))
    want = {(0, 1), (2, 1), (4, 1), (6, 1), (8, 1)}
    assert {(r.seq_no, r[RECEIVE_COUNT_COL]) for r in kept.collect()} == want

    store.deliver(_batch(spark).where(F.lit(False)), _reject_odd)
    assert not os.path.exists(os.path.join(root, "accepted_v1"))  # reclaimed
    assert {(r.seq_no, r[RECEIVE_COUNT_COL]) for r in kept.collect()} == want
