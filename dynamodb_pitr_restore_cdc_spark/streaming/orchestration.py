"""Restore-control orchestration (reference A17-A21, SURVEY.md §3 E2).

The reference's control plane is a Step Functions polling loop:
Wait 30s → describe_table → status derivation → Choice → loop/branch
(state-machine.json:10-53, check-ddb-status/main.py:22-30), retrying
Lambda faults at 1s × 3 attempts × 2.0 backoff (state-machine.json:
31-33), then attaching the drain consumer (initiate-lambda-backfill/
main.py:31-59). In the Spark engine that entire machine is DRIVER-SIDE
code — orchestration, not dataflow — so it lives here as plain
functions with injectable probes/clocks (tested without sleeping).

Defaults mirror the reference's constants (30 s poll; 1 s × 3 × 2.0
retry).
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

POLL_INTERVAL_S = 30.0   # state-machine.json:13
RETRY_ATTEMPTS = 3       # state-machine.json:32
RETRY_BASE_DELAY_S = 1.0  # state-machine.json:31
RETRY_BACKOFF = 2.0      # state-machine.json:33


@dataclass(frozen=True)
class RestoreStatus:
    """A19's status derivation: ACTIVE -> SUCCEEDED, terminal failures
    -> FAILED, anything else -> IN PROGRESS (check-ddb-status/main.py:26-28)."""

    state: str

    @classmethod
    def from_table_state(cls, table_state: str) -> "RestoreStatus":
        if table_state == "ACTIVE":
            return cls("SUCCEEDED")
        if table_state in ("ARCHIVED", "INACCESSIBLE_ENCRYPTION_CREDENTIALS"):
            return cls("FAILED")
        return cls("IN PROGRESS")


def with_retries(
    fn: Callable[[], object],
    attempts: int = RETRY_ATTEMPTS,
    base_delay_s: float = RETRY_BASE_DELAY_S,
    backoff: float = RETRY_BACKOFF,
    sleep: Callable[[float], None] = time.sleep,
) -> object:
    """A21: bounded retry with exponential backoff (the SFN Retry block).

    SFN MaxAttempts semantics: `attempts` RETRIES after the initial
    call — up to attempts+1 invocations (state-machine.json:31-33)."""
    delay = base_delay_s
    for attempt in range(attempts + 1):
        try:
            return fn()
        except Exception:
            if attempt == attempts:
                raise
            sleep(delay)
            delay *= backoff


def wait_until_ready(
    probe: Callable[[], RestoreStatus],
    poll_interval_s: float = POLL_INTERVAL_S,
    timeout_s: float = 3600.0,
    sleep: Callable[[float], None] = time.sleep,
    clock: Callable[[], float] = time.monotonic,
) -> RestoreStatus:
    """A20: the Wait→Poll→Choice loop — the Wait state comes FIRST, as
    in the reference machine (state-machine.json:10-13), so the initial
    probe happens poll_interval_s after the restore is initiated. Each
    probe call is itself retried per A21. Returns the terminal status;
    raises TimeoutError if the deadline passes while still IN PROGRESS."""
    deadline = clock() + timeout_s
    while True:
        sleep(poll_interval_s)
        status = with_retries(lambda: probe(), sleep=sleep)
        if status.state in ("SUCCEEDED", "FAILED"):
            return status
        if clock() >= deadline:
            raise TimeoutError(f"restore not ready after {timeout_s}s")


def restore_and_backfill(
    spark: SparkSession,
    probe: Callable[[], RestoreStatus],
    src_dir: str,
    snapshot: DataFrame,
    work_dir: str,
    poll_interval_s: float = POLL_INTERVAL_S,
    timeout_s: float = 3600.0,
    sleep: Callable[[float], None] = time.sleep,
) -> str:
    """E2+E3 composed: wait for the restored table (A19/A20/A21), then
    attach the drain (A17) — run_cdc_apply drains all buffered change
    events into a table restored from the snapshot. Returns the table
    root (read it through ``DeltaLogSink(spark, path).visible()``)."""
    from .cdc_stream import run_cdc_apply

    status = wait_until_ready(probe, poll_interval_s, timeout_s, sleep=sleep)
    if status.state != "SUCCEEDED":
        raise RuntimeError(f"restore failed: {status.state}")
    return run_cdc_apply(spark, src_dir, snapshot, work_dir)
