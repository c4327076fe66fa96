"""The table-format seam: what CDC query code may assume about a sink.

The three concrete sinks implement these structural interfaces over
plain parquet: `VersionedCdcSink`, plus the Delta-shaped
`DeltaLogSink` and the Iceberg-shaped `IcebergLogSink`, which share
one commit core (`log_table.LogTable`) and differ only in their
metadata. Every registered query touches them ONLY through seam
methods — so a real lakehouse table format drops in without touching
query code. The method-by-method mapping to the two production
formats:

| seam method              | Delta Lake                      | Iceberg                          |
|--------------------------|---------------------------------|----------------------------------|
| init(snapshot)           | CREATE TABLE AS SELECT          | CTAS                             |
| apply_batch(batch)       | MERGE INTO (whenMatched delete/ | MERGE INTO                       |
|                          | update, whenNotMatched insert)  |                                  |
| visible()                | SELECT *                        | SELECT *                         |
| snapshot(version)        | VERSION AS OF                   | snapshot-id / as-of-timestamp    |
| latest_version()         | DESCRIBE HISTORY (max version)  | current snapshot id              |
| changes_between(a, b)    | table_changes / CDF read        | incremental append/changelog scan|
| expire_versions(keep)    | VACUUM + logRetentionDuration   | expireSnapshots                  |
| compact(horizon)         | OPTIMIZE (+ ZORDER)             | rewriteDataFiles                 |

The seam deliberately excludes everything implementation-shaped:
bucket counts, manifest sharding, bloom sidecars, pointer CAS — those
are THIS engine's physical choices behind the interface, exactly as
Delta's transaction log or Iceberg's manifest lists are theirs.

`tests/test_sink_format.py` drives the behavior suite (merge
convergence, tombstone compaction, time travel, changefeed) through
seam-typed helpers against every registered implementation, which is
the executable proof that query code never reaches around the seam.
"""

from __future__ import annotations

from typing import Protocol, runtime_checkable

from pyspark.sql import DataFrame


@runtime_checkable
class SinkFormat(Protocol):
    """A CDC merge target: initialize from a snapshot, fold ordered
    change batches, expose the visible (tombstone-free) state."""

    def init(self, snapshot: DataFrame, key: str = "key") -> None: ...

    def apply_batch(self, batch: DataFrame, key: str = "key") -> None: ...

    def visible(self) -> DataFrame: ...


@runtime_checkable
class CompactingSinkFormat(SinkFormat, Protocol):
    """A sink that can rewrite storage below a sequence horizon —
    dropping settled tombstones and re-sorting — without changing the
    visible state (the OPTIMIZE / rewriteDataFiles analog)."""

    def compact(self, reorder_horizon_seq: int) -> None: ...


@runtime_checkable
class VersionedSinkFormat(SinkFormat, Protocol):
    """A sink whose every commit remains readable: time travel,
    changefeed between versions, and explicit retention expiry (the
    engine's PITR identity — reference `state-machine.json` restore
    path generalized to zero-copy version reads)."""

    def snapshot(self, version: int | None = None) -> DataFrame: ...

    def latest_version(self) -> int: ...

    def changes_between(self, v_from: int, v_to: int) -> DataFrame: ...

    def expire_versions(
        self, keep_last: int, sweep_orphans: bool = False
    ) -> list[int]: ...
