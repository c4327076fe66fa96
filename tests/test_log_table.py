"""The shared commit core (streaming/log_table.py) under both formats:
its error contract, its empty-batch rules, its default width and its
one retention path (expire_versions over each format's _truncate).

The first two groups need no Spark: every path they drive fails at
its pin, before any data is touched, so the sinks run with
``spark=None`` on hand-written metadata."""

import ast
import json
import os
import pathlib
import time

import pandas as pd
import pytest

from dynamodb_pitr_restore_cdc_spark.streaming.delta_log_sink import DeltaLogSink
from dynamodb_pitr_restore_cdc_spark.streaming.iceberg_log_sink import (
    IcebergLogSink,
)
from dynamodb_pitr_restore_cdc_spark.streaming import log_table
from dynamodb_pitr_restore_cdc_spark.streaming.util import pinned_shuffle_width

FORMATS = {"delta": DeltaLogSink, "iceberg": IcebergLogSink}
SCHEMA = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": n, "type": t, "nullable": True, "metadata": {}}
            for n, t in (
                ("key", "long"),
                ("last_seq", "long"),
                ("payload_value", "double"),
                ("op", "string"),
            )
        ],
    }
)

CALLS = {
    "optimize_plan": lambda s: s.optimize_plan(100, 3, 15),
    "append": lambda s: s.append(None),
    "snapshot": lambda s: s.snapshot(),
    "latest_version": lambda s: s.latest_version(),
}


@pytest.mark.parametrize("call", sorted(CALLS))
@pytest.mark.parametrize("fmt", sorted(FORMATS))
def test_never_initialised_table_is_a_value_error(tmp_path, fmt, call):
    # a table nobody init-ed is a user error: it must surface as the
    # ValueError itself, never as a RuntimeError from retries burnt on
    # a "race" that cannot resolve
    sink = FORMATS[fmt](None, str(tmp_path / "t"), n_buckets=4)
    with pytest.raises(ValueError):  # a RuntimeError would escape this
        CALLS[call](sink)


def _delta_without_commit_1(path: str) -> DeltaLogSink:
    sink = DeltaLogSink(None, path, n_buckets=4)
    sink._commit(
        1,
        [
            {"commitInfo": {"operation": "CREATE TABLE AS SELECT"}},
            {
                "metaData": {
                    "schemaString": SCHEMA,
                    "partitionColumns": ["bucket"],
                    "configuration": {
                        "mergeKey": "key",
                        "bucketTransform": "bucket[4]",
                    },
                }
            },
        ],
    )
    sink._commit(2, [{"commitInfo": {"operation": "WRITE"}}])
    os.remove(sink._log_path(1))  # no checkpoint covers it
    return sink


def _iceberg_without_manifest_list(path: str) -> IcebergLogSink:
    sink = IcebergLogSink(None, path, n_buckets=4)
    meta = {
        "format-version": 2,
        "table-uuid": "0" * 32,
        "schema": SCHEMA,
        "schemas": [{"schema-id": 0, "schema": SCHEMA}],
        "current-schema-id": 0,
        "partition-spec": [
            {"name": "bucket", "transform": "bucket[4]", "source": "key"}
        ],
        "snapshots": [],
        "current-snapshot-id": None,
    }
    snap = sink._snapshot_shell(None, [], "append")
    sink._commit_snapshot(1, meta, snap)
    os.remove(os.path.join(sink.path, snap["manifest-list"]))
    return sink


BROKEN = {
    "delta": _delta_without_commit_1,
    "iceberg": _iceberg_without_manifest_list,
}
WRITES = {
    "compact": lambda s: s.compact(reorder_horizon_seq=10),
    "compact_mor": lambda s: s.compact_mor({0, 1, 2, 3}),
    "optimize_plan": lambda s: s.optimize_plan(100, 3, 15),
}


@pytest.mark.parametrize("call", sorted(WRITES))
@pytest.mark.parametrize("fmt", sorted(BROKEN))
def test_exhausted_retries_chain_the_pin_error(tmp_path, fmt, call):
    # a state that can never be pinned again (Delta: a commit gone
    # with no checkpoint; Iceberg: the current manifest list gone)
    # exhausts the retries; the RuntimeError must carry the real cause
    sink = BROKEN[fmt](str(tmp_path / "t"))
    with pytest.raises(RuntimeError) as info:
        WRITES[call](sink)
    assert info.value.__cause__ is not None
    assert isinstance(info.value.__cause__, (ValueError, FileNotFoundError))


def _batch(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["key", "seq_no", "op", "payload_value"]),
        schema="key long, seq_no long, op string, payload_value double",
    )


@pytest.mark.parametrize("fmt", sorted(FORMATS))
def test_empty_append_commits_nothing_empty_merge_commits_once(
    spark, tmp_path, fmt
):
    sink = FORMATS[fmt](spark, str(tmp_path / "t"), n_buckets=4)
    sink.init(
        spark.createDataFrame(
            pd.DataFrame(
                [(k, 0, float(k)) for k in range(4)],
                columns=["key", "last_seq", "payload_value"],
            ),
            schema="key long, last_seq long, payload_value double",
        )
    )
    v = sink.latest_version()
    sink.append(_batch(spark, []))  # blind append: no no-op commit
    assert sink.latest_version() == v
    # a MERGE commits even when empty: one version per micro-batch
    sink.apply_batch(_batch(spark, []))
    assert sink.latest_version() == v + 1
    assert sorted(r.key for r in sink.visible().collect()) == [0, 1, 2, 3]


@pytest.mark.parametrize("fmt", sorted(FORMATS))
def test_epoch_txn_commits_each_epoch_once(spark, tmp_path, fmt):
    # apply_batch(txn=(app, epoch)) is exactly-once per epoch at the
    # table: the epoch is recorded in the commit, and an epoch at or
    # below the app's recorded one is a no-op
    sink = FORMATS[fmt](spark, str(tmp_path / "t"), n_buckets=4)
    sink.init(
        spark.createDataFrame(
            [(k, 0, float(k)) for k in range(4)],
            schema="key long, last_seq long, payload_value double",
        )
    )
    v = sink.latest_version()
    sink.apply_batch(_batch(spark, [(1, 5, "MODIFY", 1.5)]), txn=("app", 1))
    sink.apply_batch(_batch(spark, [(1, 5, "MODIFY", 1.5)]), txn=("app", 1))
    assert sink.latest_version() == v + 1  # the replayed epoch: one version
    sink.apply_batch(_batch(spark, [(2, 6, "MODIFY", 9.9)]), txn=("app", 0))
    assert sink.latest_version() == v + 1  # a lower epoch: no-op
    sink.apply_batch(_batch(spark, [(2, 6, "MODIFY", 2.5)]), txn=("other", 0))
    assert sink.latest_version() == v + 2  # another app commits

    # a lost race against a winner that committed the same epoch: the
    # loser re-pins, finds the epoch recorded and commits nothing
    winner = FORMATS[fmt](spark, sink.path, n_buckets=4)
    write, fired = sink._write_data, {}

    def racing_write(*a, **k):
        out = write(*a, **k)
        if not fired:
            fired["x"] = True
            winner.apply_batch(_batch(spark, [(3, 7, "MODIFY", 3.5)]), txn=("app", 2))
        return out

    sink._write_data = racing_write
    sink.apply_batch(_batch(spark, [(3, 7, "MODIFY", 3.5)]), txn=("app", 2))
    assert fired and sink.latest_version() == v + 3

    # the recorded epoch survives retention past every commit carrying it
    sink.apply_batch(_batch(spark, [(0, 8, "MODIFY", 0.5)]))
    sink.expire_versions(keep_last=1)
    sink.apply_batch(_batch(spark, [(0, 9, "REMOVE", None)]), txn=("app", 2))
    assert sink.latest_version() == v + 4
    assert sorted((r.key, r.payload_value) for r in sink.visible().collect()) == [
        (0, 0.5), (1, 1.5), (2, 2.5), (3, 3.5),
    ]


def _keys(spark, n):
    return spark.createDataFrame(
        [(k, 0, float(k)) for k in range(n)],
        schema="key long, last_seq long, payload_value double",
    )


def _live_buckets(sink) -> list[int]:
    """The bucket of each live data file, one entry per file."""
    return sorted(f.bucket for f in sink._pin().files)


@pytest.mark.parametrize("fmt", sorted(FORMATS))
def test_default_width_is_the_creating_sessions_write_width(spark, tmp_path, fmt):
    path = str(tmp_path / "t")
    with pinned_shuffle_width(spark, 3):
        sink = FORMATS[fmt](spark, path)
        sink.init(_keys(spark, 64))
        assert sink._pin().transform == "bucket[3]"
        assert sink.n_buckets == 3
        assert _live_buckets(sink) == [0, 1, 2]
        # a batch touching every key rewrites every bucket: one file each
        sink.apply_batch(
            _batch(spark, [(k, 1, "MODIFY", k + 0.5) for k in range(64)])
        )
        assert _live_buckets(sink) == [0, 1, 2]

    # a fresh handle in a session of another width follows the
    # persisted width: its MERGE replaces the bucket files it touches
    # instead of adding keys under a second layout
    with pinned_shuffle_width(spark, 5):
        fresh = FORMATS[fmt](spark, path)
        fresh.apply_batch(_batch(spark, [(k, 2, "MODIFY", -1.0) for k in (7, 70)]))
        assert fresh._transform() == ("bucket", 3)
        assert _live_buckets(fresh) == [0, 1, 2]
        keys = [r.key for r in fresh.visible().collect()]
    assert len(keys) == len(set(keys)) == 65


@pytest.mark.parametrize("fmt", sorted(FORMATS))
def test_explicit_width_ignores_the_session_width(spark, tmp_path, fmt):
    with pinned_shuffle_width(spark, 3):
        sink = FORMATS[fmt](spark, str(tmp_path / "t"), n_buckets=6)
        sink.init(_keys(spark, 64))
    assert sink._pin().transform == "bucket[6]"
    assert _live_buckets(sink) == list(range(6))


def test_delta_rejects_the_iceberg_time_axis(tmp_path):
    # older_than_ms is Iceberg's expireSnapshots(olderThan): Delta's
    # truncation has no time axis and must refuse it, not ignore it
    sink = DeltaLogSink(None, str(tmp_path / "t"), n_buckets=4)
    with pytest.raises(TypeError, match="older_than_ms"):
        sink.expire_versions(keep_last=1, older_than_ms=0)


def _table(spark, tmp_path, fmt):
    sink = FORMATS[fmt](spark, str(tmp_path / "t"), n_buckets=4)
    sink.init(_keys(spark, 8))
    return sink


@pytest.mark.parametrize("fmt", sorted(FORMATS))
def test_orphan_sweep_reclaims_aged_staging_tmps(spark, tmp_path, fmt):
    # a process killed between a staged write and its link/rename
    # leaves an attempt-scoped .tmp- file that no later attempt
    # consumes: the sweep must reclaim it once aged, and spare a fresh
    # one (an in-flight commit is about to consume it)
    sink = _table(spark, tmp_path, fmt)
    meta = os.path.join(sink.path, sink.META_DIR)
    aged = os.path.join(meta, ".tmp-deadbeef0001")
    fresh = os.path.join(meta, ".tmp-fresh0001")
    for p in (aged, fresh):
        with open(p, "w") as fh:
            fh.write("{}")
    ancient = time.time() - 3600
    os.utime(aged, (ancient, ancient))
    sink.apply_batch(_batch(spark, [(1, 10, "MODIFY", 1.5)]))
    sink.apply_batch(_batch(spark, [(2, 11, "MODIFY", 2.5)]))
    sink.expire_versions(keep_last=1, sweep_orphans=True)
    assert not os.path.exists(aged), "aged staging debris survived"
    assert os.path.exists(fresh), "swept an in-flight attempt's tmp"
    rows = {r.key: r.payload_value for r in sink.visible().collect()}
    assert rows[1] == 1.5 and rows[2] == 2.5


@pytest.mark.parametrize("fmt", sorted(FORMATS))
def test_spared_dead_file_gets_its_sweep_clock_restarted(spark, tmp_path, fmt):
    # a spared file's death stamp dies with the truncated history, so
    # sparing must TOUCH the file: otherwise the same call's
    # mtime-gated sweep reclaims it inside its tombstone grace.
    # Ancient write-mtime + fresh death = the hazard shape.
    sink = _table(spark, tmp_path, fmt)
    before = {f.path for f in sink._pin(version=1).files}
    sink.apply_batch(_batch(spark, [(3, 10, "MODIFY", 3.5)]))
    replaced = sorted(before - {f.path for f in sink._pin().files})
    assert replaced
    ancient = time.time() - 10_000
    for p in replaced:
        os.utime(os.path.join(sink.path, p), (ancient, ancient))
    sink.expire_versions(keep_last=1, sweep_orphans=True)  # default grace
    for p in replaced:
        full = os.path.join(sink.path, p)
        assert os.path.exists(full), "swept inside the tombstone grace"
        assert os.path.getmtime(full) > ancient + 1, "sweep clock not restarted"


def _retention_offences(path: pathlib.Path) -> list[str]:
    """What would make a format module a second retention path."""
    tree = ast.parse(path.read_text())
    found = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "os"
            and node.func.attr in ("walk", "utime")
        ):
            found.append(f"{node.lineno}: os.{node.func.attr}")
        elif (
            isinstance(node, ast.Name)
            and node.id == "ORPHAN_GRACE_DEFAULT_S"
            and isinstance(node.ctx, ast.Store)
        ):
            found.append(f"{node.lineno}: defines ORPHAN_GRACE_DEFAULT_S")
    classes = [
        n for n in tree.body
        if isinstance(n, ast.ClassDef)
        and any(isinstance(b, ast.Name) and b.id == "LogTable" for b in n.bases)
    ]
    if not classes:
        found.append("no LogTable format class")
    for cls in classes:
        methods = {n.name for n in cls.body if isinstance(n, ast.FunctionDef)}
        if "_truncate" not in methods:
            found.append(f"{cls.name} supplies no _truncate")
        if "expire_versions" in methods:
            found.append(f"{cls.lineno}: {cls.name} defines expire_versions")
    return found


def test_retention_is_written_once_in_the_core():
    # the grace, spare-and-utime and orphan sweep live only in
    # LogTable.expire_versions; a format supplies only its truncation
    sinks = pathlib.Path(log_table.__file__).parent
    offenders = [
        f"{name}:{o}"
        for name in ("delta_log_sink.py", "iceberg_log_sink.py")
        for o in _retention_offences(sinks / name)
    ]
    assert not offenders, "second retention path: " + ", ".join(offenders)


def _caught(handler: ast.ExceptHandler) -> set[str]:
    types = handler.type.elts if isinstance(handler.type, ast.Tuple) else [handler.type]
    return {t.id for t in types if isinstance(t, ast.Name)}


def test_commit_retry_is_written_once_in_the_core():
    # a lost put-if-absent race (FileExistsError) is retried only by
    # LogTable._optimistic; a format catching it runs a second loop
    sinks = pathlib.Path(log_table.__file__).parent
    offenders = [
        f"{name}:{node.lineno}"
        for name in ("delta_log_sink.py", "iceberg_log_sink.py")
        for node in ast.walk(ast.parse((sinks / name).read_text()))
        if isinstance(node, ast.ExceptHandler)
        and node.type is not None
        and "FileExistsError" in _caught(node)
    ]
    assert not offenders, "second commit loop: " + ", ".join(offenders)


@pytest.mark.parametrize("fmt", sorted(FORMATS))
def test_expired_version_error_names_the_asked_version(spark, tmp_path, fmt):
    sink = _table(spark, tmp_path, fmt)
    for seq in (10, 11, 12):
        sink.apply_batch(_batch(spark, [(seq % 8, seq, "MODIFY", seq + 0.5)]))
    assert sink.expire_versions(keep_last=1) == [1, 2, 3]
    for v in (1, 2, 3):
        with pytest.raises(ValueError, match=f"version {v} expired"):
            sink.snapshot(v)
