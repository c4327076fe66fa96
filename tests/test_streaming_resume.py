"""Checkpoint recovery: the streaming CDC apply must resume — process
only files the checkpoint hasn't committed, continue from the sink's
last version, and be a no-op when nothing new arrived. This is the
restart story the reference's queue+Lambda pipeline gets from SQS
redelivery, here provided by source checkpoint + the table's log +
epoch-identified idempotent merge."""

import json
import os

import pandas as pd

from dynamodb_pitr_restore_cdc_spark.streaming.cdc_stream import run_cdc_apply
from dynamodb_pitr_restore_cdc_spark.streaming.delta_log_sink import (
    LOG_DIR,
    DeltaLogSink,
)


def _write_file(df, path, mtime):
    pdf = df.toPandas()
    pdf.to_parquet(path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
    os.utime(path, (mtime, mtime))


def _cl(spark, rows):
    pdf = pd.DataFrame(
        rows, columns=["seq_no", "op", "key", "ts", "payload_value", "payload_props", "content_hash"]
    )
    return spark.createDataFrame(
        pdf,
        schema="seq_no long, op string, key long, ts timestamp, "
        "payload_value double, payload_props string, content_hash string",
    )


def _visible(spark, table):
    return {
        r.key: (r.last_seq, r.payload_value)
        for r in DeltaLogSink(spark, table).visible().collect()
    }


def test_resume_processes_only_new_files(spark, tmp_path):
    src = tmp_path / "src"
    work = str(tmp_path / "work")
    src.mkdir()

    snapshot = _cl(spark, []).selectExpr("key", "seq_no as last_seq", "payload_value")
    f1 = _cl(spark, [(1, "INSERT", 10, None, 1.0, "{}", "h1"), (2, "INSERT", 11, None, 2.0, "{}", "h2")])
    f2 = _cl(spark, [(3, "MODIFY", 10, None, 5.0, "{}", "h3")])
    _write_file(f1, str(src / "00000.parquet"), 1_700_000_000)
    _write_file(f2, str(src / "00001.parquet"), 1_700_000_001)

    final1 = run_cdc_apply(spark, str(src), snapshot, work)
    got1 = _visible(spark, final1)
    assert got1 == {10: (3, 5.0), 11: (2, 2.0)}

    # "restart": new file arrives, rerun against the SAME work dir.
    f3 = _cl(spark, [(4, "REMOVE", 11, None, None, None, "h4"), (5, "INSERT", 12, None, 9.0, "{}", "h5")])
    _write_file(f3, str(src / "00002.parquet"), 1_700_000_002)
    final2 = run_cdc_apply(spark, str(src), snapshot, work)
    got2 = _visible(spark, final2)
    # batches 1-2 NOT reprocessed (their effect persists via the resumed
    # sink version), batch 3 applied exactly once
    assert got2 == {10: (3, 5.0), 12: (5, 9.0)}

    # no new data -> state unchanged
    final3 = run_cdc_apply(spark, str(src), snapshot, work)
    got3 = _visible(spark, final3)
    assert got3 == got2


def test_replayed_epoch_after_pointer_write_is_skipped(spark, tmp_path):
    """Crash window between the table commit and the stream's
    commit-log write: the restarted query replays the epoch with the
    SAME epoch_id, which the table already recorded. The table must
    skip it (no second version for one epoch) and keep the same
    state."""
    src = tmp_path / "src"
    work = str(tmp_path / "work")
    src.mkdir()

    snapshot = _cl(spark, []).selectExpr("key", "seq_no as last_seq", "payload_value")
    f1 = _cl(spark, [(1, "INSERT", 10, None, 1.0, "{}", "h1")])
    f2 = _cl(spark, [(2, "MODIFY", 10, None, 7.0, "{}", "h2"), (3, "INSERT", 11, None, 2.0, "{}", "h3")])
    _write_file(f1, str(src / "00000.parquet"), 1_700_000_000)
    _write_file(f2, str(src / "00001.parquet"), 1_700_000_001)

    final1 = run_cdc_apply(spark, str(src), snapshot, work)
    want = _visible(spark, final1)
    version1 = DeltaLogSink(spark, final1).latest_version()
    assert want == {10: (2, 7.0), 11: (3, 2.0)}

    # simulate the crash: the table committed epoch 1, but batch 1's
    # commit record never landed -> restart replays epoch 1
    commits_dir = os.path.join(work, "_checkpoint", "commits")
    last = sorted(f for f in os.listdir(commits_dir) if not f.startswith("."))[-1]
    os.remove(os.path.join(commits_dir, last))
    crc = os.path.join(commits_dir, f".{last}.crc")  # local-fs checksum sidecar
    if os.path.exists(crc):
        os.remove(crc)

    final2 = run_cdc_apply(spark, str(src), snapshot, work)
    got = _visible(spark, final2)
    assert got == want
    assert DeltaLogSink(spark, final2).latest_version() == version1


def test_stale_op_after_remove_across_batches_stays_dead(spark, tmp_path):
    """Cross-batch reordering: batch 1 REMOVEs key 10 at seq 5, and a
    STALE MODIFY of key 10 at seq 3 arrives in batch 2. The replay must
    keep key 10 dead — a merge that forgets the delete's seq would drop
    the row and then resurrect it from the stale op."""
    src = tmp_path / "src"
    work = str(tmp_path / "work")
    src.mkdir()

    snapshot = spark.createDataFrame(
        [(10, 1, 1.0)], schema="key long, last_seq long, payload_value double"
    )
    f1 = _cl(spark, [(5, "REMOVE", 10, None, None, "{}", "h5")])
    f2 = _cl(spark, [(3, "MODIFY", 10, None, 3.0, "{}", "h3")])  # stale
    _write_file(f1, str(src / "00000.parquet"), 1_700_000_000)
    _write_file(f2, str(src / "00001.parquet"), 1_700_000_001)

    table = run_cdc_apply(spark, str(src), snapshot, work)
    assert DeltaLogSink(spark, table).visible().where("key = 10").count() == 0


def test_one_key_epoch_writes_one_data_file(spark, tmp_path):
    """Files written per epoch are O(touched buckets), not O(table): an
    epoch that changes one key of a 200-key table adds exactly one data
    file to the log, and removes only that bucket's file."""
    src = tmp_path / "src"
    work = str(tmp_path / "work")
    src.mkdir()

    snapshot = spark.createDataFrame(
        [(k, 1, float(k)) for k in range(200)],
        schema="key long, last_seq long, payload_value double",
    )
    _write_file(
        _cl(spark, [(2, "MODIFY", 7, None, 99.0, "{}", "h2")]),
        str(src / "00000.parquet"),
        1_700_000_000,
    )
    table = run_cdc_apply(spark, str(src), snapshot, work)
    sink = DeltaLogSink(spark, table)
    with open(os.path.join(table, LOG_DIR, f"{sink.latest_version():020d}.json")) as fh:
        actions = [json.loads(line) for line in fh]
    assert sum("add" in a for a in actions) == 1
    assert sum("remove" in a for a in actions) == 1
    assert len(sink._state(1)[2]) > 1  # init wrote one file per bucket
    vis = {r.key: r.payload_value for r in sink.visible().collect()}
    assert vis[7] == 99.0 and len(vis) == 200
