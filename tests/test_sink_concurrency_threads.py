"""True-thread concurrency over the table-format sinks: three writers
on disjoint key ranges race a maintenance loop (compact + compact_mor
+ rewrite_manifests + expire with the DEFAULT orphan grace) on one
table. The put-if-absent commit protocol must serialize them
losslessly — final visible() == the plain fold of everything written —
and the mtime grace window must keep the sweeper from deleting a
racing writer's pre-CAS attempt files (the round-9 review race:
without the grace this test deletes in-flight files and the winning
commit publishes dangling references).

Writer mix (round-10 verdict, item 4 — the interleavings the property
suite covers only single-threaded):
- writer 0: copy-on-write MERGEs only;
- writer 1: blind APPENDs only, INCLUDING a REMOVE — so equality-
  delete files (Iceberg) / mor-tagged tombstone entries (Delta) race
  compact_mor and the expiry sweep;
- writer 2: alternates lanes and grows a NEW payload column mid-race —
  schema-evolution commits racing writers and maintenance (the
  re-union-on-retry rule is what keeps a racing evolution from
  clobbering another writer's columns).

Thread model: Spark supports concurrent job submission on one session;
each sink call is a driver-side optimistic-CAS loop, so interleavings
are real (state read / data write / os.link publication all race).
Writers use a high max_attempts; the maintenance loop tolerates losing
its CAS budget (liveness, not correctness) — correctness asserts run
at the end on the settled table, then again after a full maintenance
pass drains every pending lane.
"""

import os
import threading
import traceback

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dynamodb_pitr_restore_cdc_spark.operators.cdc import fold_changelog
from dynamodb_pitr_restore_cdc_spark.registry import release_persisted
from dynamodb_pitr_restore_cdc_spark.streaming.delta_log_sink import DeltaLogSink
from dynamodb_pitr_restore_cdc_spark.streaming.iceberg_log_sink import (
    IcebergLogSink,
)

N_BATCHES = 4
KEYS_PER_WRITER = 6
WIDE_FROM_BATCH = 2  # writer 2 evolves the schema from this batch on


def _batch(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["key", "seq_no", "op", "payload_value"]),
        schema="key long, seq_no long, op string, payload_value double",
    )


def _wide(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(
            rows, columns=["key", "seq_no", "op", "payload_value", "payload_note"]
        ),
        schema=(
            "key long, seq_no long, op string, payload_value double, "
            "payload_note string"
        ),
    )


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_writers_race_maintenance_losslessly(spark, tmp_path, fmt):
    cls = DeltaLogSink if fmt == "delta" else IcebergLogSink
    sink = cls(spark, str(tmp_path / "t"), n_buckets=4)
    sink.init(fold_changelog(_batch(spark, [])))

    # deterministic op tape per writer: inserts, updates, one delete,
    # re-insert — disjoint key/seq spaces so the expected fold is exact
    def rows_for(writer: int, batch: int, wide: bool):
        base_key = writer * 1000
        base_seq = writer * 10000 + batch * 100
        out = []
        for k in range(KEYS_PER_WRITER):
            key = base_key + k
            seq = base_seq + k
            if batch == 2 and k == 0:
                row = (key, seq, "REMOVE", None)
            else:
                row = (key, seq, "MODIFY", float(batch * 10 + k))
            if wide:
                note = None if row[2] == "REMOVE" else f"w{writer}b{batch}k{k}"
                row = (*row, note)
            out.append(row)
        return out

    def is_wide(writer: int, batch: int) -> bool:
        return writer == 2 and batch >= WIDE_FROM_BATCH

    all_rows: list[tuple] = []
    for w in range(3):
        for b in range(N_BATCHES):
            for row in rows_for(w, b, wide=is_wide(w, b)):
                all_rows.append(row if len(row) == 5 else (*row, None))

    errors: list[str] = []  # formatted tracebacks from worker threads
    stop = threading.Event()

    def writer(w: int):
        try:
            for b in range(N_BATCHES):
                wide = is_wide(w, b)
                mk = _wide if wide else _batch
                batch = mk(spark, rows_for(w, b, wide=wide))
                # w0: MERGE lane; w1: append lane (its batch-2 REMOVE
                # lands as an equality-delete racing compact_mor);
                # w2: alternates, evolving from WIDE_FROM_BATCH on
                if w == 0 or (w == 2 and b % 2 == 0):
                    sink.apply_batch(batch, max_attempts=40)
                else:
                    sink.append(batch, max_attempts=40)
        except BaseException:  # noqa: BLE001 - surfaced in the main thread
            errors.append(traceback.format_exc())

    def maintenance():
        try:
            while not stop.is_set():
                try:
                    # horizon 1 settles nothing (writers are in flight)
                    # but exercises candidate scan + commit arbitration
                    sink.compact(reorder_horizon_seq=1, max_attempts=3)
                    sink.compact_mor(set(range(4)), max_attempts=3)
                    if fmt == "iceberg":
                        sink.rewrite_manifests(max_attempts=3)
                    # DEFAULT grace: must spare racing pre-CAS attempt
                    # files; keep_last high enough to never drop a
                    # version a reader could still resolve mid-test
                    sink.expire_versions(keep_last=10, sweep_orphans=True)
                except RuntimeError:
                    pass  # lost its CAS budget to the writers: liveness only
        except BaseException:  # noqa: BLE001
            errors.append(traceback.format_exc())

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(3)]
    mt = threading.Thread(target=maintenance)
    for t in threads:
        t.start()
    mt.start()
    for t in threads:
        t.join(timeout=600)
        assert not t.is_alive(), "writer thread hung"
    stop.set()
    mt.join(timeout=600)
    assert not mt.is_alive(), "maintenance thread hung"
    assert not errors, errors

    want = sorted(
        (r.key, r.last_seq, r.payload_value, r.payload_note)
        for r in fold_changelog(
            _wide(spark, all_rows),
            payload_cols=("payload_value", "payload_note"),
        ).collect()
    )

    def got():
        return sorted(
            (r.key, r.last_seq, r.payload_value, r.payload_note)
            for r in sink.visible().collect()
        )

    # the settled table must equal the plain fold of everything written
    # (the evolved column included: narrow rows null-fill)
    assert got() == want

    # every file the final state references must exist (no dangling
    # adds from a sweep that raced a winning commit)
    if fmt == "delta":
        active = sink._state()[2]
        paths = [a["path"] for a in active.values()]
    else:
        meta = sink._current_meta()
        paths = [
            e["data_file"]["file_path"]
            for e in sink._entries(sink._snapshot_record(meta, None))
        ]
    missing = [p for p in paths if not os.path.exists(os.path.join(sink.path, p))]
    assert missing == [], f"dangling references after racing sweep: {missing}"

    # a full single-threaded maintenance pass drains every pending lane
    # (fold equality must survive settling too)
    sink.compact_mor(set(range(4)))
    sink.compact(reorder_horizon_seq=10**9)
    if fmt == "iceberg":
        sink.rewrite_manifests()
    sink.expire_versions(keep_last=2, sweep_orphans=True)
    assert got() == want


def test_index_maintenance_races_ingest_and_readers(spark, tmp_path):
    """INDEX state under the same discipline as table state (round-11:
    q_llm_lsh_index_compaction proves layout-invariance sequentially;
    this races it): one thread blind-appends upsert/remove epochs into
    the LSH index, a maintenance thread loops the sink's own policy
    (optimize_plan → compact_mor on the priced buckets), and a reader
    thread answers pairs() continuously — readers must never crash on
    a mid-commit layout, and the settled index must answer exactly
    like a fresh one-shot index over the final corpus."""
    from dynamodb_pitr_restore_cdc_spark.llm.index_maintenance import LshIndex
    from dynamodb_pitr_restore_cdc_spark.sources import table

    from .conftest import SF_SMOKE

    docs = (
        table(spark, SF_SMOKE, "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 160)
        .localCheckpoint(eager=True)
    )
    idx = LshIndex(spark, str(tmp_path / "lsh"))
    idx.init(docs.where(F.col("doc_id") < 40), seq=1)

    errors: list[str] = []
    stop = threading.Event()

    def ingest():
        try:
            for i, lo in enumerate((40, 80, 120)):
                idx.upsert(
                    docs.where(
                        (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 40)
                    ),
                    seq=2 + i,
                )
            idx.remove(
                docs.where(F.col("doc_id") % 7 == 3).select("doc_id"), seq=9
            )
        except BaseException:  # noqa: BLE001
            errors.append(traceback.format_exc())

    def maintenance():
        try:
            while not stop.is_set():
                try:
                    plan = idx.sink.optimize_plan(
                        small_file_rows=10**6, min_small_files=2, tombstone_pct=15
                    ).collect()
                    buckets = {
                        r.bucket for r in plan
                        if r.decision == "COMPACT" and r.bucket >= 0
                    }
                    if buckets:
                        idx.sink.compact_mor(buckets, max_attempts=3)
                except RuntimeError:
                    pass  # lost its CAS budget to the ingester: liveness only
        except BaseException:  # noqa: BLE001
            errors.append(traceback.format_exc())

    def reader():
        try:
            while not stop.is_set():
                # any committed snapshot is a valid index state: the
                # count just has to come back, never crash on a
                # mid-commit layout
                idx.pairs(docs).count()
                # every pairs() call tracked_persists a fresh band
                # frame; drain them per iteration or the race window
                # accumulates unreleased blocks (round-12 advice)
                release_persisted()
        except BaseException:  # noqa: BLE001
            errors.append(traceback.format_exc())

    it = threading.Thread(target=ingest)
    mt = threading.Thread(target=maintenance)
    rt = threading.Thread(target=reader)
    for t in (it, mt, rt):
        t.start()
    it.join(timeout=600)
    assert not it.is_alive(), "ingest thread hung"
    stop.set()
    for t in (mt, rt):
        t.join(timeout=600)
        assert not t.is_alive(), "worker thread hung"
    assert not errors, errors

    final_docs = docs.where(F.col("doc_id") % 7 != 3)
    fresh = LshIndex(spark, str(tmp_path / "fresh"))
    fresh.init(final_docs)

    def pair_set(ix):
        return sorted(
            (r.doc_a, r.doc_b, r.jaccard) for r in ix.pairs(final_docs).collect()
        )

    assert pair_set(idx) == pair_set(fresh)
