"""The shared bucket write (table_files.repartition_by_bucket), pinned
structurally for every sink: every bucket dir of a commit holds
exactly one data file, the files of one commit come from more than one
write task (AQE did not coalesce the exchange into a single serial
writer), and a shuffle-width pin around the write sets the task count.

A written file's ``part-NNNNN`` prefix is the index of the task that
wrote it, so the set of prefixes in a commit dir is its writer set."""

import os
from collections import defaultdict

import pandas as pd
import pytest

from dynamodb_pitr_restore_cdc_spark.streaming.delta_log_sink import DeltaLogSink
from dynamodb_pitr_restore_cdc_spark.streaming.iceberg_log_sink import IcebergLogSink
from dynamodb_pitr_restore_cdc_spark.streaming.util import pinned_shuffle_width
from dynamodb_pitr_restore_cdc_spark.streaming.versioned_sink import VersionedCdcSink

N_BUCKETS = 8

SINKS = {
    "delta": lambda spark, root: DeltaLogSink(spark, root, n_buckets=N_BUCKETS),
    "iceberg": lambda spark, root: IcebergLogSink(spark, root, n_buckets=N_BUCKETS),
    "versioned": lambda spark, root: VersionedCdcSink(spark, root, n_buckets=N_BUCKETS),
    # the 16-bucket Delta table the bucketed-sink stream drills commit to
    "bucketed": lambda spark, root: DeltaLogSink(spark, root, n_buckets=16),
}


def _frame(spark, rows, seq_col):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["key", seq_col, "op", "payload_value"]),
        schema=f"key long, {seq_col} long, op string, payload_value double",
    )


def _init_and_apply(spark, sink):
    """Init 200 keys, then one batch of 64 keys that touches every
    bucket, so the apply commit rewrites all of the sink's buckets."""
    snapshot = _frame(
        spark, [(k, 1, "INSERT", float(k)) for k in range(200)], "last_seq"
    )
    batch = _frame(
        spark,
        [(k, 2, "REMOVE" if k % 5 == 0 else "MODIFY", k + 0.5) for k in range(64)],
        "seq_no",
    )
    sink.init(snapshot)
    sink.apply_batch(batch)


def _commits(root: str) -> dict[str, dict[int, list[str]]]:
    """{commit dir: {bucket: data files}} for every bucket=N dir under
    the sink root (the dir that holds bucket dirs is one commit's
    output)."""
    out: dict[str, dict[int, list[str]]] = defaultdict(dict)
    for dirpath, _dirs, files in os.walk(root):
        name = os.path.basename(dirpath)
        if name.startswith("bucket="):
            out[os.path.dirname(dirpath)][int(name.split("=", 1)[1])] = sorted(
                f for f in files if f.endswith(".parquet")
            )
    return dict(out)


def _writer_tasks(buckets: dict[int, list[str]]) -> set[int]:
    return {int(f.split("-")[1]) for files in buckets.values() for f in files}


@pytest.mark.parametrize("name", sorted(SINKS))
def test_bucket_write_is_one_file_per_bucket_from_parallel_tasks(
    spark, tmp_path, name
):
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) > 1
    root = str(tmp_path / name)
    sink = SINKS[name](spark, root)
    _init_and_apply(spark, sink)
    commits = _commits(root)
    assert len(commits) == 2  # init + apply
    for cdir, buckets in commits.items():
        assert sorted(buckets) == list(range(sink.n_buckets)), cdir
        assert all(len(files) == 1 for files in buckets.values()), buckets
        assert len(_writer_tasks(buckets)) > 1, (cdir, buckets)


@pytest.mark.parametrize("name", sorted(SINKS))
def test_bucket_write_width_follows_the_shuffle_pin(spark, tmp_path, name):
    root = str(tmp_path / name)
    with pinned_shuffle_width(spark, 1):
        _init_and_apply(spark, SINKS[name](spark, root))
    for cdir, buckets in _commits(root).items():
        assert all(len(files) == 1 for files in buckets.values()), buckets
        assert _writer_tasks(buckets) == {0}, cdir
