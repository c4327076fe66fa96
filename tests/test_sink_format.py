"""The table-format seam, exercised AS a seam.

Every helper here takes the sink as its `SinkFormat` /
`CompactingSinkFormat` / `VersionedSinkFormat` protocol type and calls
ONLY seam methods — the executable proof that the sink behaviors
(merge convergence, tombstone compaction, time travel, changefeed,
retention) are expressed through the interface, so a Delta/Iceberg
implementation (method mapping in streaming/sink_format.py) drops in
without touching query code.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dynamodb_pitr_restore_cdc_spark.operators.cdc import visible
from dynamodb_pitr_restore_cdc_spark.streaming.sink_format import (
    CompactingSinkFormat,
    SinkFormat,
    VersionedSinkFormat,
)
from dynamodb_pitr_restore_cdc_spark.streaming.delta_log_sink import DeltaLogSink
from dynamodb_pitr_restore_cdc_spark.streaming.iceberg_log_sink import IcebergLogSink
from dynamodb_pitr_restore_cdc_spark.streaming.versioned_sink import VersionedCdcSink


def _batch(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["key", "seq_no", "op", "payload_value"]),
        schema="key long, seq_no long, op string, payload_value double",
    )


def _snapshot(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["key", "last_seq", "payload_value"]),
        schema="key long, last_seq long, payload_value double",
    )


def _rows(df):
    return sorted((r.key, r.last_seq, r.payload_value) for r in df.collect())


FACTORIES = {
    # the 16-bucket Delta table the bucketed-sink stream drills
    # (q_cdc_bucketed_sink, q_cdc_sink_compaction) commit to
    "bucketed": lambda spark, path: DeltaLogSink(spark, path, n_buckets=16),
    "versioned": lambda spark, path: VersionedCdcSink(spark, path, n_buckets=4),
    # the Delta-protocol-shaped format (delta_log_sink.py): the proof
    # that a transaction-log table format drops in behind the seam
    "delta": lambda spark, path: DeltaLogSink(spark, path, n_buckets=4),
    # the Iceberg-shaped format (iceberg_log_sink.py): the proof the
    # seam generalizes beyond one metadata design (snapshot tree vs log)
    "iceberg": lambda spark, path: IcebergLogSink(spark, path, n_buckets=4),
}
VERSIONED = ["versioned", "delta", "iceberg"]
COMPACTING = ["bucketed", "delta", "iceberg"]


def test_structural_conformance():
    # runtime_checkable protocols: every sink satisfies the base seam;
    # each extension is satisfied by exactly the sinks that claim it
    assert issubclass(VersionedCdcSink, SinkFormat)
    assert issubclass(VersionedCdcSink, VersionedSinkFormat)
    assert not issubclass(VersionedCdcSink, CompactingSinkFormat)
    # the Delta-shaped log implements every seam extension
    assert issubclass(DeltaLogSink, SinkFormat)
    assert issubclass(DeltaLogSink, CompactingSinkFormat)
    assert issubclass(DeltaLogSink, VersionedSinkFormat)
    # ...and so does the Iceberg-shaped metadata tree
    assert issubclass(IcebergLogSink, SinkFormat)
    assert issubclass(IcebergLogSink, CompactingSinkFormat)
    assert issubclass(IcebergLogSink, VersionedSinkFormat)


def _drive(sink: SinkFormat, spark) -> None:
    """init + two ordered batches, through seam methods only."""
    sink.init(_snapshot(spark, [(1, 0, 1.0), (2, 0, 2.0), (3, 0, 3.0)]))
    sink.apply_batch(
        _batch(spark, [(2, 10, "MODIFY", 2.5), (4, 11, "INSERT", 4.0)])
    )
    sink.apply_batch(
        _batch(spark, [(3, 20, "REMOVE", None), (2, 12, "MODIFY", 2.0)])
    )


EXPECTED_FINAL = [(1, 0, 1.0), (2, 12, 2.0), (4, 11, 4.0)]


@pytest.mark.parametrize("name", sorted(FACTORIES))
def test_merge_convergence_through_seam(spark, tmp_path, name):
    sink: SinkFormat = FACTORIES[name](spark, str(tmp_path / name))
    _drive(sink, spark)
    assert _rows(sink.visible()) == EXPECTED_FINAL


@pytest.mark.parametrize("name", sorted(FACTORIES))
def test_stale_op_after_remove_stays_dead_through_seam(spark, tmp_path, name):
    # the reorder-protection behavior (tombstones) is part of the seam
    # CONTRACT, not an implementation detail: a stale pre-delete op
    # arriving in a later batch must not resurrect the key
    sink: SinkFormat = FACTORIES[name](spark, str(tmp_path / name))
    sink.init(_snapshot(spark, [(7, 0, 7.0)]))
    sink.apply_batch(_batch(spark, [(7, 10, "REMOVE", None)]))
    sink.apply_batch(_batch(spark, [(7, 5, "MODIFY", 9.9)]))  # stale replay
    assert _rows(sink.visible()) == []


@pytest.mark.parametrize("name", COMPACTING)
def test_tombstone_compaction_preserves_visible(spark, tmp_path, name):
    sink: CompactingSinkFormat = FACTORIES[name](spark, str(tmp_path / "c"))
    _drive(sink, spark)
    before = _rows(sink.visible())
    sink.compact(reorder_horizon_seq=21)  # key 3's tombstone (seq 20) settled
    assert _rows(sink.visible()) == before == EXPECTED_FINAL
    # the settled tombstone is physically gone (observed via the
    # concrete snapshot — storage shape, not seam behavior)
    assert sink.snapshot().where(F.col("op") == "REMOVE").count() == 0


@pytest.mark.parametrize("name", VERSIONED)
def test_time_travel_prefix_equality_through_seam(spark, tmp_path, name):
    sink: VersionedSinkFormat = FACTORIES[name](spark, str(tmp_path / "v"))
    _drive(sink, spark)
    assert sink.latest_version() == 3
    # v2 = init + first batch only
    assert _rows(visible(sink.snapshot(2))) == [
        (1, 0, 1.0), (2, 10, 2.5), (3, 0, 3.0), (4, 11, 4.0),
    ]
    assert _rows(visible(sink.snapshot())) == EXPECTED_FINAL


@pytest.mark.parametrize("name", VERSIONED)
def test_changefeed_classification_through_seam(spark, tmp_path, name):
    sink: VersionedSinkFormat = FACTORIES[name](spark, str(tmp_path / "f"))
    _drive(sink, spark)
    feed = {
        r.key: (r.change_type, r.payload_value, r.payload_value_old)
        for r in sink.changes_between(2, 3).collect()
    }
    assert feed == {
        2: ("UPDATE", 2.0, 2.5),
        3: ("DELETE", None, 3.0),
    }


@pytest.mark.parametrize("name", VERSIONED)
def test_retention_expiry_through_seam(spark, tmp_path, name):
    sink: VersionedSinkFormat = FACTORIES[name](spark, str(tmp_path / "r"))
    _drive(sink, spark)
    expired = sink.expire_versions(keep_last=1)
    assert expired == [1, 2]
    assert _rows(visible(sink.snapshot())) == EXPECTED_FINAL


@pytest.mark.parametrize("name", sorted(set(VERSIONED) & set(COMPACTING)))
def test_changefeed_across_pure_compaction_is_empty(spark, tmp_path, name):
    # OPTIMIZE rewrites storage without changing visible state: a
    # changefeed spanning ONLY a compaction commit must classify
    # nothing (CDF semantics — dataChange=False transitions are noise)
    sink = FACTORIES[name](spark, str(tmp_path / name))
    _drive(sink, spark)
    v = sink.latest_version()
    sink.compact(reorder_horizon_seq=21)  # key 3's tombstone settled
    assert sink.latest_version() == v + 1
    assert sink.changes_between(v, v + 1).count() == 0
