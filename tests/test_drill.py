"""The streaming-drill harness (streaming/drill.py): the one place a
drill starts, awaits and cleans up, and the one owner of builders'
scratch dirs. A failing drill must leave no temp dir, no active
stream, no pinned shuffle width and no memory-sink view behind, and no
other module may grow its own lifecycle or temp-dir root again."""

from __future__ import annotations

import ast
import os
import pathlib

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql.streaming.query import StreamingQuery

from dynamodb_pitr_restore_cdc_spark.streaming import drill

from .conftest import SF_SMOKE

PACKAGE = pathlib.Path(drill.__file__).resolve().parents[1]


def _lifecycle_calls(tree: ast.AST) -> list[tuple[int, str]]:
    """(line, what) for each call that starts, awaits or pins a stream."""
    found = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call) or not isinstance(node.func, ast.Attribute):
            continue
        attr = node.func.attr
        if attr == "awaitTermination":
            found.append((node.lineno, "awaitTermination("))
        elif attr == "trigger" and any(k.arg == "availableNow" for k in node.keywords):
            found.append((node.lineno, "trigger(availableNow"))
        elif any(
            isinstance(a, ast.Constant) and a.value == "maxFilesPerTrigger" for a in node.args
        ):
            found.append((node.lineno, "maxFilesPerTrigger"))
    return found


def _exempt_lines(tree: ast.AST, rel: str) -> set[int]:
    """cdc_stream.read_changelog_stream keeps its own `files` read: the
    replay benchmark calls it with a configurable maxFilesPerTrigger."""
    if rel != "streaming/cdc_stream.py":
        return set()
    fn = next(
        n for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "read_changelog_stream"
    )
    return set(range(fn.lineno, fn.end_lineno + 1))


def test_only_the_harness_runs_a_stream_lifecycle():
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        if rel == "streaming/drill.py":
            continue
        tree = ast.parse(path.read_text())
        exempt = _exempt_lines(tree, rel)
        offenders += [
            f"{rel}:{line} {what}" for line, what in _lifecycle_calls(tree) if line not in exempt
        ]
    assert not offenders, "stream lifecycle outside streaming/drill.py: " + ", ".join(offenders)


# the temp-dir roots that may stay outside a Drill: the harness's own
# ROOT, the pid-scoped session artifact roots, and the two plan-audit
# helpers that hand their path to the caller
_TEMP_ROOT_EXEMPT = {
    "registry.py": {"pid_scoped_root"},
    "operators/layout.py": {"partitioned_scan_plan", "dpp_join_plan"},
}


def _temp_root_calls(tree: ast.AST, exempt: set[str]) -> list[tuple[int, str]]:
    """(line, what) for each mkdtemp(/gettempdir( call outside the
    functions named in `exempt`."""
    skip = {
        line
        for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef) and fn.name in exempt
        for line in range(fn.lineno, fn.end_lineno + 1)
    }
    found = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        name = getattr(node.func, "attr", getattr(node.func, "id", None))
        if name in ("mkdtemp", "gettempdir") and node.lineno not in skip:
            found.append((node.lineno, f"{name}("))
    return found


def test_only_the_harness_makes_a_scratch_dir():
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        if rel == "streaming/drill.py":
            continue
        tree = ast.parse(path.read_text())
        offenders += [
            f"{rel}:{line} {what}"
            for line, what in _temp_root_calls(tree, _TEMP_ROOT_EXEMPT.get(rel, set()))
        ]
    assert not offenders, "scratch dir outside streaming/drill.Drill: " + ", ".join(offenders)


def _snapshot(spark):
    os.makedirs(drill.ROOT, exist_ok=True)
    return (
        set(os.listdir(drill.ROOT)),
        spark.conf.get("spark.sql.shuffle.partitions"),
        sorted(t.name for t in spark.catalog.listTables()),
    )


def _assert_clean(spark, before):
    after = _snapshot(spark)
    assert after[0] - before[0] == set(), "drill left temp dirs behind"
    assert after[1:] == before[1:]
    assert spark.streams.active == []


def test_failing_batch_propagates_and_cleans_up(spark, monkeypatch):
    from dynamodb_pitr_restore_cdc_spark.llm.index_maintenance import LshIndex
    from dynamodb_pitr_restore_cdc_spark.streaming.stream_queries import (
        q_stream_lsh_index_ingest,
    )

    upsert = LshIndex.upsert

    def failing_upsert(self, batch, seq):
        if seq == 3:  # micro-batch epoch 1
            raise RuntimeError("injected upsert failure")
        return upsert(self, batch, seq=seq)

    monkeypatch.setattr(LshIndex, "upsert", failing_upsert)
    before = _snapshot(spark)
    with pytest.raises(StreamingQueryException, match="injected upsert failure"):
        q_stream_lsh_index_ingest(spark, SF_SMOKE)
    _assert_clean(spark, before)


def test_failure_before_await_stops_the_memory_sink_drill(spark, monkeypatch):
    from dynamodb_pitr_restore_cdc_spark.streaming.stream_queries import q_stream_dedup

    def failing_await(self, timeout=None):
        raise RuntimeError("injected failure before await")

    monkeypatch.setattr(StreamingQuery, "awaitTermination", failing_await)
    before = _snapshot(spark)
    with pytest.raises(RuntimeError, match="injected failure before await"):
        q_stream_dedup(spark, SF_SMOKE)
    _assert_clean(spark, before)


def test_memory_sink_drills_leave_no_view(spark):
    from dynamodb_pitr_restore_cdc_spark.streaming.stateful import q_stream_stateful_totals
    from dynamodb_pitr_restore_cdc_spark.streaming.stream_queries import q_stream_dedup

    before = _snapshot(spark)
    for builder in (q_stream_dedup, q_stream_stateful_totals):
        result = builder(spark, SF_SMOKE)
        assert result.is_cached and result.count() > 0
    _assert_clean(spark, before)
