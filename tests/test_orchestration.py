"""A17-A21 orchestration: poll loop, status derivation, retry/backoff,
and the composed restore-then-backfill flow — all with injectable
clocks (no real sleeping)."""

import pandas as pd
import pytest

from dynamodb_pitr_restore_cdc_spark.streaming.delta_log_sink import DeltaLogSink
from dynamodb_pitr_restore_cdc_spark.streaming.orchestration import (
    RestoreStatus,
    restore_and_backfill,
    wait_until_ready,
    with_retries,
)


class FakeClock:
    def __init__(self):
        self.now = 0.0
        self.sleeps = []

    def sleep(self, s):
        self.sleeps.append(s)
        self.now += s

    def clock(self):
        return self.now


def test_status_derivation():
    assert RestoreStatus.from_table_state("ACTIVE").state == "SUCCEEDED"
    assert RestoreStatus.from_table_state("CREATING").state == "IN PROGRESS"
    assert RestoreStatus.from_table_state("UPDATING").state == "IN PROGRESS"
    assert RestoreStatus.from_table_state("ARCHIVED").state == "FAILED"


def test_retry_backoff_schedule():
    clk = FakeClock()
    calls = []

    def flaky():
        calls.append(1)
        if len(calls) < 3:
            raise RuntimeError("transient")
        return "ok"

    assert with_retries(flaky, sleep=clk.sleep) == "ok"
    # reference schedule: 1s then 2s (x2.0 backoff), success on 3rd try
    assert clk.sleeps == [1.0, 2.0]


def test_retry_exhaustion_raises():
    clk = FakeClock()
    with pytest.raises(RuntimeError):
        with_retries(lambda: (_ for _ in ()).throw(RuntimeError("down")), sleep=clk.sleep)
    # SFN MaxAttempts=3: initial call + 3 retries = 4 invocations, 3 sleeps
    assert clk.sleeps == [1.0, 2.0, 4.0]


def test_wait_until_ready_polls_then_succeeds():
    clk = FakeClock()
    states = iter(["CREATING", "CREATING", "ACTIVE"])
    status = wait_until_ready(
        lambda: RestoreStatus.from_table_state(next(states)),
        poll_interval_s=30.0,
        sleep=clk.sleep,
        clock=clk.clock,
    )
    assert status.state == "SUCCEEDED"
    # the Wait state precedes every poll (reference machine shape):
    # three polls => three 30s waits
    assert clk.sleeps == [30.0, 30.0, 30.0]


def test_wait_until_ready_times_out():
    clk = FakeClock()
    with pytest.raises(TimeoutError):
        wait_until_ready(
            lambda: RestoreStatus.from_table_state("CREATING"),
            poll_interval_s=30.0,
            timeout_s=60.0,
            sleep=clk.sleep,
            clock=clk.clock,
        )


def test_restore_and_backfill_end_to_end(spark, tmp_path):
    clk = FakeClock()
    states = iter(["CREATING", "ACTIVE"])
    src = tmp_path / "src"
    src.mkdir()
    cl = pd.DataFrame(
        [(1, "INSERT", 10, None, 1.5, "{}", "h1"), (2, "REMOVE", 11, None, None, None, "h2")],
        columns=["seq_no", "op", "key", "ts", "payload_value", "payload_props", "content_hash"],
    )
    cl["ts"] = pd.to_datetime(cl["ts"]).astype("datetime64[us]")
    cl["payload_value"] = cl["payload_value"].astype("float64")
    cl.to_parquet(src / "00000.parquet", index=False)
    snapshot = spark.createDataFrame(
        [(11, 1, 9.0)], schema="key long, last_seq long, payload_value double"
    )
    final = restore_and_backfill(
        spark,
        lambda: RestoreStatus.from_table_state(next(states)),
        str(src),
        snapshot,
        str(tmp_path / "work"),
        sleep=clk.sleep,
    )
    got = {r.key: r.payload_value for r in DeltaLogSink(spark, final).visible().collect()}
    assert got == {10: 1.5}  # key 10 inserted, key 11 removed


def test_control_event_drain_late_binds_targets(spark, tmp_path):
    """A18 wired into A16/A17: matching control events (and ONLY those)
    each late-bind a drain to their targetTableName, mirroring the
    EventBridge rule -> initiate-lambda-backfill env-var flow."""
    from dynamodb_pitr_restore_cdc_spark.streaming.control import (
        drain_for_control_events,
    )

    clk = FakeClock()
    rows = [
        (1, "dynamodb.amazonaws.com", "RestoreTableToPointInTime", "restored_a"),
        (2, "s3.amazonaws.com", "RestoreTableToPointInTime", "decoy_1"),  # wrong source
        (3, "dynamodb.amazonaws.com", "DescribeTable", "decoy_2"),        # wrong name
        (4, "dynamodb.amazonaws.com", "RestoreTableToPointInTime", "restored_b"),
    ]
    control = spark.createDataFrame(
        [
            (
                i,
                '{"detail": {"eventSource": "%s", "eventName": "%s", '
                '"requestParameters": {"targetTableName": "%s"}}}' % (s, n, t),
            )
            for i, s, n, t in rows
        ],
        schema="event_id long, body string",
    )
    src = tmp_path / "src"
    src.mkdir()
    cl = pd.DataFrame(
        [(1, "INSERT", 10, None, 1.5, "{}", "h1")],
        columns=["seq_no", "op", "key", "ts", "payload_value", "payload_props", "content_hash"],
    )
    cl["ts"] = pd.to_datetime(cl["ts"]).astype("datetime64[us]")
    cl["payload_value"] = cl["payload_value"].astype("float64")
    cl.to_parquet(src / "00000.parquet", index=False)
    snapshot = spark.createDataFrame(
        [(11, 1, 9.0)], schema="key long, last_seq long, payload_value double"
    )
    probed = []

    def probe_factory(target):
        probed.append(target)
        return lambda: RestoreStatus.from_table_state("ACTIVE")

    out = drain_for_control_events(
        spark, control, probe_factory, str(src), snapshot,
        str(tmp_path / "work"), sleep=clk.sleep,
    )
    assert sorted(out) == ["restored_a", "restored_b"]  # decoys filtered
    assert probed == ["restored_a", "restored_b"]
    for target, path in out.items():
        assert f"/{target}/" in path + "/"
        got = {r.key: r.payload_value for r in DeltaLogSink(spark, path).visible().collect()}
        assert got == {10: 1.5, 11: 9.0}


def test_restore_failed_raises(spark, tmp_path):
    clk = FakeClock()
    with pytest.raises(RuntimeError, match="FAILED"):
        restore_and_backfill(
            spark,
            lambda: RestoreStatus.from_table_state("ARCHIVED"),
            str(tmp_path),
            spark.createDataFrame([], schema="key long, last_seq long, payload_value double"),
            str(tmp_path / "w"),
            sleep=clk.sleep,
        )
