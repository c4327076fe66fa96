"""The streaming-drill lifecycle: the one place a drill starts, awaits
and cleans up a Structured Streaming query.

A drill replays a fixture as a REAL multi-micro-batch stream so batch
boundaries — the thing that makes streaming semantics interesting —
actually exist. Every drill has the same lifecycle: fresh dirs under
``<tmp>/spark_cdc_engine_stream-<pid>/``, mtime-pinned split files, the
pinned file stream read, start and await under ``availableNow``, then
materialize the result and remove the dirs. ``Drill`` owns that
lifecycle and cleans up in a finally: the query is stopped if it is
still active, the memory sink's view is dropped and the drill's dirs
are removed, so a failing drill leaks neither a running stream nor
its temp dirs.

Determinism discipline for the real streams: input files are written
with monotonically increasing mtimes (the file source orders by
modification time), maxFilesPerTrigger=1 pins the batch decomposition,
and fixture timestamps are fixed — so every run sees the same batches,
the same watermark trajectory, and the same output.

``fold_versions`` is the one resumable versioned-state fold of the
twins' stream runners (the CDC replay commits through the log-table
core instead): exactly-once STATE from at-least-once DELIVERY (the
Structured Streaming discipline; PAPERS.md). Each epoch writes its
state version ``v{epoch}`` from the last committed one, and the
``_LATEST`` pointer names the committed version.

``Drill`` also owns every builder's scratch dir: a builder that needs
a temp dir takes ``with Drill(spark, tag) as d:`` and gets it removed
however the block exits.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import pid_scoped_root, tracked_persist
from .util import atomic_write_text, pinned_shuffle_width

# pid-scoped (registry.pid_scoped_root): a concurrent engine process's
# drill dirs live under its own root, never under this one
ROOT = pid_scoped_root("stream")

_SPLIT_BASE_MTIME = 1_700_000_000


def _write_one_split(df: DataFrame, src_dir: str, i: int) -> None:
    """Write one split as a single parquet file, entirely executor-side
    (no driver materialization — at 100 TB a split is still a distributed
    write; coalesce(1) is the micro-batch-fixture shape, not a data
    funnel through the driver). The part file is renamed to a stable
    name with an increasing mtime so the file streaming source processes
    splits in list order."""
    tmp = os.path.join(src_dir, f"_tmp_{i:05d}")  # leading _ : invisible to the stream source
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
    path = os.path.join(src_dir, f"{i:05d}.parquet")
    os.replace(os.path.join(tmp, part), path)
    shutil.rmtree(tmp, ignore_errors=True)
    os.utime(path, (_SPLIT_BASE_MTIME + i, _SPLIT_BASE_MTIME + i))


def _write_split_files(df: DataFrame, splits: list, src_dir: str) -> None:
    """Write one parquet file per split predicate, with increasing mtimes
    so the file streaming source processes them in list order.

    The N split writes are INDEPENDENT jobs over the same source, so
    they are submitted from a small thread pool (guide §2.6 — actions
    are only sequential because driver code calls them sequentially);
    overlapping them hides most of the per-write scan+schedule latency
    that every streaming drill pays before its stream even starts
    (r16 profile: 3 sequential writes + the percentile cut = ~3.6 s of
    q_stream_stateful_totals' 14 s wall). Each thread owns its split's
    tmp dir and target file, and the mtime is set per file from the
    split INDEX, so the on-disk result — names, contents, mtime order —
    is identical to the sequential form (tests/test_split_files.py
    pins that identity; the streams consume an unchanged fixture)."""
    from concurrent.futures import ThreadPoolExecutor

    if not splits:
        return
    with ThreadPoolExecutor(max_workers=min(4, len(splits))) as pool:
        # list() drains the iterator so the first failing split raises
        list(
            pool.map(
                lambda iv: _write_one_split(df.where(iv[1]), src_dir, iv[0]),
                enumerate(splits),
            )
        )


def _ts_tertiles(df: DataFrame, col: str) -> tuple:
    """Deterministic 1/3-2/3 event-time cut points (driver-side scalars —
    orchestration, not a data path)."""
    row = df.agg(
        F.expr(f"percentile(unix_micros({col}), 0.3333)").alias("p1"),
        F.expr(f"percentile(unix_micros({col}), 0.6667)").alias("p2"),
    ).first()
    return int(row.p1), int(row.p2)


def read_pinned(spark: SparkSession, schema: str, src: str) -> DataFrame:
    """The drills' file stream over `src`: one split file per micro-batch."""
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)


def run_available_now(writer) -> None:
    """Start `writer` under availableNow and wait until it has drained
    every available file. A batch failure propagates from the await;
    the query is stopped in a finally if it is still active, so no
    caller leaves a running stream behind."""
    q = writer.trigger(availableNow=True).start()
    try:
        q.awaitTermination()
    finally:
        if q.isActive:
            q.stop()


class Drill:
    """One drill's dirs (under ``ROOT``) and memory-sink views, all
    removed when the ``with`` block exits, however it exits."""

    def __init__(self, spark: SparkSession, tag: str):
        self.spark = spark
        self.root = os.path.join(ROOT, f"{tag}-{uuid.uuid4().hex[:8]}")
        self._views: list[str] = []

    def __enter__(self) -> Drill:
        os.makedirs(self.root)
        return self

    def __exit__(self, *exc) -> None:
        try:
            for name in self._views:
                self.spark.catalog.dropTempView(name)
        finally:
            shutil.rmtree(self.root, ignore_errors=True)

    def dir(self, name: str) -> str:
        path = os.path.join(self.root, name)
        os.makedirs(path, exist_ok=True)
        return path

    def splits(self, df: DataFrame, preds: list) -> str:
        """The pinned split files of `df`, one per predicate, in a fresh
        ``src`` dir; returns that dir."""
        src = self.dir("src")
        _write_split_files(df, preds, src)
        return src

    def memory(self, frame: DataFrame, mode: str, pinned: bool = False, shape=None) -> DataFrame:
        """Drain the streaming `frame` into a memory sink in output
        `mode`; returns ``shape(sink table)`` persisted and counted.

        `pinned` runs the stream under ``pinned_shuffle_width`` (the
        state-store width of a small keyed stream); the result is
        materialized at session width either way. The sink's view is
        dropped before the persist: ``dropTempView`` uncaches a frame
        whose plan is exactly the view, and the frame keeps its
        analyzed plan without the catalog entry."""
        name = f"drill_{uuid.uuid4().hex[:8]}"
        self._views.append(name)
        writer = (
            frame.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", self.dir(name))
        )
        with pinned_shuffle_width(self.spark) if pinned else contextlib.nullcontext():
            run_available_now(writer)
        table = self.spark.table(name)
        self.spark.catalog.dropTempView(name)
        result = tracked_persist(shape(table) if shape else table)
        result.count()
        return result


def fold_versions(
    stream: DataFrame, work: str, init: DataFrame, step, carry: dict | None = None
) -> dict:
    """Drain `stream` into the versioned state under `work`; returns the
    committed state ``{"path": ..., **carry}``.

    The first run writes `init` as ``v_init``. Each epoch then calls
    ``step(batch, epoch_id, state, path)``, which writes the state after
    the batch at ``path`` (``v{epoch}``) from the committed state at
    ``state["path"]`` and returns the new `carry` values. ``_LATEST``
    holds the committed path (or, with `carry`, the JSON state) and is
    written AFTER the data through ``atomic_write_text``: a crash between
    the two replays the epoch, which overwrites ``v{epoch}`` from the
    still-prior pointer, and a torn pointer can never wedge a resume.

    A restart resumes from ``_LATEST`` while the checkpoint
    (``work/_checkpoint``) skips already-committed files — without the
    pointer, skipped batches would fold onto ``v_init`` and silently
    lose their effect. A replayed epoch whose pointer already landed
    (crash between the pointer write and the stream's commit-log write)
    is skipped: re-folding would read and overwrite one path, and its
    state is already committed."""
    os.makedirs(work, exist_ok=True)
    pointer = os.path.join(work, "_LATEST")

    def commit(state: dict) -> None:
        atomic_write_text(pointer, state["path"] if carry is None else json.dumps(state))

    if os.path.exists(pointer):
        with open(pointer) as fh:
            text = fh.read().strip()
        state = {"path": text} if carry is None else json.loads(text)
    else:
        state = {"path": os.path.join(work, "v_init"), **(carry or {})}
        init.write.mode("overwrite").parquet(state["path"])
        commit(state)

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        path = os.path.join(work, f"v{epoch_id}")
        if path == state["path"]:
            return
        state.update(step(batch_df, epoch_id, state, path) or {}, path=path)
        commit(state)

    run_available_now(
        stream.writeStream.foreachBatch(apply_batch).option(
            "checkpointLocation", os.path.join(work, "_checkpoint")
        )
    )
    return state
