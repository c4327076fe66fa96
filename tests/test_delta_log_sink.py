"""Delta-protocol mechanics of DeltaLogSink (what the seam suite can't
see: log layout, put-if-absent commits, file immutability, stats-based
skipping, checkpoint-bounded replay, vacuum)."""

import json
import os
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dynamodb_pitr_restore_cdc_spark.streaming.delta_log_sink import (
    LOG_DIR,
    DeltaLogSink,
)


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


@pytest.fixture()
def sink(spark, tmp_path):
    s = DeltaLogSink(spark, str(tmp_path / "tbl"), n_buckets=4)
    # keys 0..7 cover several of the 4 buckets
    s.init(_snapshot(spark, [(k, 0, float(k)) for k in range(8)]))
    return s


def _actions(sink, v):
    with open(os.path.join(sink.path, LOG_DIR, f"{v:020d}.json")) as fh:
        return [json.loads(line) for line in fh]


def test_log_layout_and_actions(sink):
    acts = _actions(sink, 1)
    kinds = [next(iter(a)) for a in acts]
    assert kinds[0] == "commitInfo" and "metaData" in kinds and "add" in kinds
    meta = next(a["metaData"] for a in acts if "metaData" in a)
    assert meta["partitionColumns"] == ["bucket"]
    assert "schemaString" in meta
    for a in acts:
        if "add" not in a:
            continue
        add = a["add"]
        assert set(add["partitionValues"]) == {"bucket"}
        stats = json.loads(add["stats"])
        assert stats["numRecords"] >= 1
        assert "key" in stats["minValues"] and "last_seq" in stats["maxValues"]
        # directory-partitioned writes put exactly one bucket per file
        assert f"bucket={add['partitionValues']['bucket']}" in add["path"]


def test_merge_skips_untouched_buckets(sink, spark):
    active_v1 = sink._state(1)[2]
    bucket_of = {
        p: int(a["partitionValues"]["bucket"]) for p, a in active_v1.items()
    }
    # one-key batch: its bucket is the ONLY one the MERGE may touch
    sink.apply_batch(_batch(spark, [(3, 10, "MODIFY", 3.5)]))
    b3 = F.pmod(F.hash(F.lit(3).cast("long")), F.lit(4))
    touched = spark.range(1).select(b3.alias("b")).first().b
    removes = [a["remove"]["path"] for a in _actions(sink, 2) if "remove" in a]
    assert removes, "MERGE must retire the files it replaced"
    assert all(bucket_of[p] == touched for p in removes)
    adds = [a["add"] for a in _actions(sink, 2) if "add" in a]
    assert all(int(a["partitionValues"]["bucket"]) == touched for a in adds)


def test_data_files_are_immutable(sink, spark):
    active_v1 = sink._state(1)[2]
    sigs = {
        p: os.path.getmtime(os.path.join(sink.path, p)) for p in active_v1
    }
    sink.apply_batch(_batch(spark, [(1, 10, "MODIFY", 9.9)]))
    for p, mtime in sigs.items():
        full = os.path.join(sink.path, p)
        assert os.path.exists(full)
        assert os.path.getmtime(full) == mtime  # never rewritten in place


def test_commit_is_put_if_absent(sink):
    with pytest.raises(FileExistsError):
        sink._commit(1, [{"commitInfo": {"operation": "LOSER"}}])


def test_checkpoint_bounds_replay_and_expiry_fails_loudly(sink, spark):
    sink.apply_batch(_batch(spark, [(1, 10, "MODIFY", 1.5)]))
    sink.apply_batch(_batch(spark, [(2, 20, "REMOVE", None)]))
    before = sorted(
        (r.key, r.payload_value) for r in sink.visible().collect()
    )
    assert sink.expire_versions(keep_last=1) == [1, 2]
    lc = os.path.join(sink.path, LOG_DIR, "_last_checkpoint")
    assert json.load(open(lc))["version"] == 3
    assert os.path.exists(
        os.path.join(sink.path, LOG_DIR, f"{3:020d}.checkpoint.json")
    )
    # state survives, replays purely from the checkpoint
    after = sorted((r.key, r.payload_value) for r in sink.visible().collect())
    assert after == before
    with pytest.raises(ValueError, match="expired"):
        sink.snapshot(1)


def test_vacuum_deletes_only_unreferenced_files(sink, spark):
    active_v1 = sink._state(1)[2]
    sink.apply_batch(_batch(spark, [(3, 10, "MODIFY", 3.5)]))
    active_v2 = sink._state(2)[2]
    replaced = set(active_v1) - set(active_v2)
    survivors = set(active_v1) & set(active_v2)
    assert replaced and survivors  # untouched buckets' files carry over
    # default retention SPARES the just-replaced files first: a reader
    # pinned on v1 may still be scanning them (round-9 review)
    sink.expire_versions(keep_last=1, sweep_orphans=True)
    for p in replaced | survivors:
        assert os.path.exists(os.path.join(sink.path, p)), "retention ignored"
    # aged past retention they are reclaimed; live files never are
    sink.apply_batch(_batch(spark, [(3, 11, "MODIFY", 3.6)]))
    sink.expire_versions(keep_last=1, sweep_orphans=True, orphan_grace_s=0.0)
    for p in replaced:
        assert not os.path.exists(os.path.join(sink.path, p))
    for p in survivors & {
        a["path"] for a in sink._state()[2].values()
    }:
        assert os.path.exists(os.path.join(sink.path, p))


def test_optimize_uses_stats_and_converges(sink, spark):
    sink.apply_batch(_batch(spark, [(5, 10, "REMOVE", None)]))
    sink.compact(reorder_horizon_seq=11)
    assert sink.snapshot().where(F.col("op") == "REMOVE").count() == 0
    v_after = sink.latest_version()
    # second pass: stats prove every file clean -> no new commit at all
    sink.compact(reorder_horizon_seq=11)
    assert sink.latest_version() == v_after


def test_second_expiry_cycle_expires_loudly(sink, spark):
    # a superseded checkpoint must die with its commits: after TWO
    # expiry cycles, time travel to a version expired in the first
    # cycle's window still raises the designed error instead of
    # resolving via a stale checkpoint onto vacuumed files
    sink.apply_batch(_batch(spark, [(1, 10, "MODIFY", 1.1)]))
    sink.apply_batch(_batch(spark, [(1, 11, "MODIFY", 1.2)]))
    sink.expire_versions(keep_last=1)  # checkpoint@3, drops 1-2
    sink.apply_batch(_batch(spark, [(1, 12, "MODIFY", 1.3)]))
    sink.apply_batch(_batch(spark, [(1, 13, "MODIFY", 1.4)]))
    assert sink.expire_versions(keep_last=1) == [3, 4]  # checkpoint@5
    for v in (1, 2, 3, 4):
        with pytest.raises(ValueError, match="expired"):
            sink.snapshot(v)
    assert sorted(
        (r.key, r.payload_value) for r in sink.visible().collect()
    )[1] == (1, 1.4)


def test_crashed_write_attempt_does_not_wedge(sink, spark):
    # simulate a crash between data write and log publication: the
    # attempt-scoped data dir must not collide with the retry
    v = sink.latest_version() + 1
    orphan = sink._write_data(
        _batch(spark, [(1, 10, "MODIFY", 5.0)])
        .withColumnRenamed("seq_no", "last_seq")
        .withColumn("bucket", sink._bucket(F.col("key"))),
        v,
    )  # files exist, commit never happens
    assert orphan
    sink.apply_batch(_batch(spark, [(1, 10, "MODIFY", 5.0)]))  # retry works
    assert sink.latest_version() == v
    rows = {r.key: r.payload_value for r in sink.visible().collect()}
    assert rows[1] == 5.0


def test_corrupt_last_checkpoint_is_tolerated(sink, spark):
    sink.apply_batch(_batch(spark, [(1, 10, "MODIFY", 1.5)]))
    sink.expire_versions(keep_last=1)
    lc = os.path.join(sink.path, LOG_DIR, "_last_checkpoint")
    with open(lc, "w") as fh:
        fh.write('{"ver')  # torn mid-write
    rows = {r.key: r.payload_value for r in sink.visible().collect()}
    assert rows[1] == 1.5  # listing fallback found the checkpoint


def test_optimize_converges_on_mixed_fresh_tombstone_file(sink, spark):
    # post-merge shape: one file holds old live rows AND a fresh
    # (unsettled) tombstone — stats admit it forever, so only the
    # exact emptiness check stops OPTIMIZE from rewriting it each call
    sink.apply_batch(_batch(spark, [(0, 50, "REMOVE", None)]))
    v = sink.latest_version()
    sink.compact(reorder_horizon_seq=10)  # tombstone seq 50 NOT settled
    assert sink.latest_version() == v  # no-op commit suppressed


def test_lost_race_remerges_against_winner_state(sink, spark):
    # two writers target the same next version; the loser must re-read
    # the winner's state before retrying — a stale retry would publish
    # a remove set naming pre-race files and resurrect the winner's
    # rows as duplicates
    loser, winner = sink, DeltaLogSink(spark, sink.path, n_buckets=4)
    v0 = sink.latest_version()
    orig, fired = sink._commit, {}

    def racing_commit(v, actions):
        if not fired:
            fired["x"] = True  # interleave: winner publishes v first
            winner.apply_batch(_batch(spark, [(1, 20, "MODIFY", 7.0)]))
        orig(v, actions)

    loser._commit = racing_commit
    loser.apply_batch(_batch(spark, [(1, 21, "MODIFY", 8.0), (2, 21, "REMOVE", None)]))
    assert sink.latest_version() == v0 + 2  # winner v0+1, loser retried at v0+2
    rows = sink.visible().collect()  # ROW list, not a dict — duplicates count
    assert [(r.key, r.payload_value) for r in rows if r.key == 1] == [(1, 8.0)]
    assert not [r for r in rows if r.key == 2]  # seq-21 REMOVE survived
    keys = [r.key for r in rows]
    assert len(keys) == len(set(keys))  # no resurrected duplicate anywhere
    # the retry's remove set names the WINNER's file for key 1's bucket,
    # so replay keeps exactly one live add per path
    active = sink._state()[2]
    assert len(active) == len({a["path"] for a in active.values()})


def test_optimize_lost_race_recomputes_candidates(sink, spark):
    # OPTIMIZE races a MERGE that replaces one of its candidate files:
    # the retry must re-select candidates from the winner's state, so
    # the published removes name live files only
    sink.apply_batch(_batch(spark, [(3, 30, "REMOVE", None)]))
    other = DeltaLogSink(spark, sink.path, n_buckets=4)
    orig, fired = sink._commit, {}

    def racing_commit(v, actions):
        if not fired:
            fired["x"] = True
            other.apply_batch(_batch(spark, [(3, 31, "MODIFY", 3.5)]))
        orig(v, actions)

    sink._commit = racing_commit
    sink.compact(reorder_horizon_seq=31)
    rows = sink.visible().collect()  # ROW list, not a dict — duplicates count
    assert [(r.key, r.payload_value) for r in rows if r.key == 3] == [(3, 3.5)]
    keys = [r.key for r in rows]
    assert len(keys) == len(set(keys))  # the stale-remove bug duplicates rows
    active = sink._state()[2]
    for a in active.values():  # every live add names an existing file
        assert os.path.exists(os.path.join(sink.path, a["path"]))


def test_optimize_race_inside_state_read_still_retries(sink, spark):
    # the narrower window: a MERGE that lands AFTER compact reads state
    # but BEFORE it commits (e.g. during the exact emptiness check).
    # Because compact pins its version BEFORE the state read, the
    # interloper claims that slot and compact must hit EEXIST and
    # recompute — pinning after the read let this commit slip through
    # with a stale remove set (reproduced: duplicated live rows)
    sink.apply_batch(_batch(spark, [(3, 30, "REMOVE", None)]))
    other = DeltaLogSink(spark, sink.path, n_buckets=4)
    orig_state, fired = sink._state, {}

    def racing_state(*a, **k):
        out = orig_state(*a, **k)
        if not fired:
            fired["x"] = True
            other.apply_batch(_batch(spark, [(3, 31, "MODIFY", 3.5)]))
        return out

    sink._state = racing_state
    sink.compact(reorder_horizon_seq=31)
    rows = sink.visible().collect()
    assert [(r.key, r.payload_value) for r in rows if r.key == 3] == [(3, 3.5)]
    keys = [r.key for r in rows]
    assert len(keys) == len(set(keys))


def test_vacuum_sweeps_crashed_attempt_orphans(sink, spark):
    # a crashed MERGE attempt leaves attempt-scoped data files with no
    # log reference; sweep_orphans must reclaim them while every live
    # file survives
    orphan_adds = sink._write_data(
        _batch(spark, [(1, 10, "MODIFY", 5.0)])
        .withColumnRenamed("seq_no", "last_seq")
        .withColumn("bucket", sink._bucket(F.col("key"))),
        sink.latest_version() + 1,
    )
    orphans = [os.path.join(sink.path, a["path"]) for a in orphan_adds]
    assert orphans and all(os.path.exists(p) for p in orphans)
    sink.apply_batch(_batch(spark, [(1, 10, "MODIFY", 5.0)]))
    sink.apply_batch(_batch(spark, [(2, 11, "MODIFY", 6.0)]))
    # default mtime grace spares fresh unreferenced files: an in-flight
    # writer's pre-CAS attempt files are indistinguishable from crash
    # debris until its commit lands (round-9 review, Iceberg's twin fix)
    sink.expire_versions(keep_last=1, sweep_orphans=True)
    assert all(os.path.exists(p) for p in orphans), "in-flight attempt swept"
    sink.apply_batch(_batch(spark, [(2, 12, "MODIFY", 6.5)]))
    # aged past the grace window the same files ARE debris
    sink.expire_versions(keep_last=1, sweep_orphans=True, orphan_grace_s=0.0)
    assert not any(os.path.exists(p) for p in orphans)
    active = sink._state()[2]
    for a in active.values():
        assert os.path.exists(os.path.join(sink.path, a["path"]))
    rows = {r.key: r.payload_value for r in sink.visible().collect()}
    assert rows[1] == 5.0 and rows[2] == 6.5


# -- merge-on-read ingest lane (append / optimize_plan / compact_mor) -----


def test_append_is_mor_tagged_with_remove_counts(sink, spark):
    sink.append(_batch(spark, [(1, 10, "MODIFY", 1.5), (1, 11, "REMOVE", None),
                               (2, 12, "REMOVE", None)]))
    acts = _actions(sink, 2)
    assert acts[0]["commitInfo"]["operation"] == "WRITE"
    assert not any("remove" in a for a in acts)  # blind append: no removes
    adds = [a["add"] for a in acts if "add" in a]
    assert adds and all(a["tags"]["mor"] == "true" for a in adds)
    by_bucket = {
        int(a["partitionValues"]["bucket"]): json.loads(a["stats"]) for a in adds
    }
    # keys 1,2 may share a bucket or not; total counts must reconcile
    assert sum(s["numRecords"] for s in by_bucket.values()) == 3
    assert sum(s["numRemoves"] for s in by_bucket.values()) == 2


def test_visible_folds_mor_entries(sink, spark):
    # init has keys 0..7 at seq 0. Appends: newer MODIFY, REMOVE, brand
    # new key, and a STALE entry below the base seq
    sink.apply_batch(_batch(spark, [(4, 5, "MODIFY", 4.4)]))  # base at seq 5
    sink.append(_batch(spark, [(1, 10, "MODIFY", 1.5), (9, 11, "INSERT", 9.0)]))
    sink.append(_batch(spark, [(2, 12, "REMOVE", None), (4, 3, "MODIFY", 0.1)]))
    rows = {r.key: (r.last_seq, r.payload_value) for r in sink.visible().collect()}
    assert rows[1] == (10, 1.5)      # delta entry wins over base
    assert 2 not in rows             # delta REMOVE hides the base row
    assert rows[9] == (11, 9.0)      # delta-only key appears
    assert rows[4] == (5, 4.4)       # stale delta entry loses to base
    assert rows[0] == (0, 0.0)       # untouched base rows unaffected


def test_merge_retires_touched_buckets_mor_files(sink, spark):
    sink.append(_batch(spark, [(3, 10, "MODIFY", 3.5)]))
    active = sink._state()[2]
    mor_paths = {p for p, a in active.items() if DeltaLogSink._is_mor(a)}
    assert mor_paths
    # a MERGE touching key 3's bucket must fold + retire its mor files
    sink.apply_batch(_batch(spark, [(3, 11, "MODIFY", 3.6)]))
    active2 = sink._state()[2]
    assert not (mor_paths & set(active2)), "merge must retire folded mor files"
    rows = {r.key: r.payload_value for r in sink.visible().collect()}
    assert rows[3] == 3.6


def test_compact_never_drops_mor_remove_entries(sink, spark):
    # a settled REMOVE living in a DELTA file is a changelog entry:
    # OPTIMIZE rewriting it away would resurrect the base row
    sink.append(_batch(spark, [(5, 10, "REMOVE", None)]))
    sink.compact(reorder_horizon_seq=99)  # seq 10 is "settled"
    rows = {r.key for r in sink.visible().collect()}
    assert 5 not in rows  # key stays dead: the entry survived


def test_optimize_plan_thresholds_and_execution(sink, spark):
    # one bucket piles up 3 tiny delta files -> small-file COMPACT;
    # another gets one delta file whose REMOVE entries exceed 15% of
    # its rows -> tombstone COMPACT. Pick two keys in provably
    # DIFFERENT buckets (hash mod 4 collides for small consecutive keys)
    bucket_of = {
        r.k: r.b
        for r in spark.range(8)
        .select(
            F.col("id").alias("k"),
            F.pmod(F.hash(F.col("id").cast("long")), F.lit(4)).alias("b"),
        )
        .collect()
    }
    ka = 0
    kb = next(k for k in range(1, 8) if bucket_of[k] != bucket_of[ka])
    for s in (10, 11, 12):
        sink.append(_batch(spark, [(ka, s, "MODIFY", float(s))]))
    sink.append(_batch(spark, [(kb, 13, "REMOVE", None)]))
    plan = {r.bucket: r for r in sink.optimize_plan(
        small_file_rows=100, min_small_files=3, tombstone_pct=15
    ).collect()}
    k0, k1 = bucket_of[ka], bucket_of[kb]
    assert plan[k0].decision == "COMPACT" and plan[k0].small_delta_files == 3
    assert plan[k1].decision == "COMPACT" and plan[k1].delta_removes == 1
    untouched = [b for b in plan if b not in (k0, k1)]
    assert untouched and all(plan[b].decision == "SKIP" for b in untouched)
    assert all(plan[b].delta_files == 0 for b in untouched)
    # execute: visible unchanged, pending deltas folded, plan goes SKIP
    before = sorted((r.key, r.payload_value) for r in sink.visible().collect())
    sink.compact_mor({b for b, r in plan.items() if r.decision == "COMPACT"})
    after = sorted((r.key, r.payload_value) for r in sink.visible().collect())
    assert after == before
    plan2 = {r.bucket: r for r in sink.optimize_plan(
        small_file_rows=100, min_small_files=3, tombstone_pct=15
    ).collect()}
    assert all(r.decision == "SKIP" and r.delta_files == 0 for r in plan2.values())
    # the folded tombstone is now base-side and reclaimable by OPTIMIZE
    sink.compact(reorder_horizon_seq=99)
    assert sink.snapshot().where(F.col("op") == "REMOVE").count() == 0


def test_changefeed_classifies_through_mor(sink, spark):
    v0 = sink.latest_version()
    sink.append(_batch(spark, [(1, 10, "MODIFY", 1.5), (2, 11, "REMOVE", None),
                               (9, 12, "INSERT", 9.0)]))
    feed = {
        r.key: r.change_type
        for r in sink.changes_between(v0, sink.latest_version()).collect()
    }
    assert feed == {1: "UPDATE", 2: "DELETE", 9: "INSERT"}


def test_snapshot_folds_pending_mor_files(sink, spark):
    # round-7 review: snapshot() is the STATE contract — with pending
    # delta files, visible(snapshot()) must never show duplicated or
    # resurrected keys, and time travel must fold the files live at
    # that version
    from dynamodb_pitr_restore_cdc_spark.operators.cdc import visible

    sink.append(_batch(spark, [(1, 10, "MODIFY", 1.5), (2, 11, "REMOVE", None)]))
    snap = sink.snapshot()
    rows = [(r.key, r.last_seq, r.payload_value) for r in visible(snap).collect()]
    keys = [k for k, _, _ in rows]
    assert len(keys) == len(set(keys))  # one row per key, no duplicates
    d = {k: (s, v) for k, s, v in rows}
    assert d[1] == (10, 1.5)
    assert 2 not in d  # the REMOVE entry became a tombstone row
    assert snap.where(F.col("op") == "REMOVE").count() == 1
    # and the pre-append version still reads raw base state
    assert visible(sink.snapshot(1)).count() == 8


def test_mor_lane_honors_custom_merge_key(spark, tmp_path):
    # round-7 review: the fold path must use the table's persisted
    # mergeKey, not assume the default column name — including from a
    # FRESH sink instance and after log truncation (checkpoint replay)
    s = DeltaLogSink(spark, str(tmp_path / "tbl"), n_buckets=4)
    snap = spark.createDataFrame(
        pd.DataFrame([(1, 0, 1.0), (2, 0, 2.0)],
                     columns=["id", "last_seq", "payload_value"]),
        schema="id long, last_seq long, payload_value double",
    )
    s.init(snap, key="id")
    batch = spark.createDataFrame(
        pd.DataFrame([(1, 10, "MODIFY", 1.5), (3, 11, "INSERT", 3.0)],
                     columns=["id", "seq_no", "op", "payload_value"]),
        schema="id long, seq_no long, op string, payload_value double",
    )
    s.append(batch, key="id")
    reader = DeltaLogSink(spark, s.path, n_buckets=4)  # fresh instance
    rows = {r.id: r.payload_value for r in reader.visible().collect()}
    assert rows == {1: 1.5, 2: 2.0, 3: 3.0}
    s.expire_versions(keep_last=1)  # mergeKey must survive the checkpoint
    rows = {r.id: r.payload_value for r in reader.visible().collect()}
    assert rows == {1: 1.5, 2: 2.0, 3: 3.0}


def test_fresh_handle_follows_persisted_transform(spark, tmp_path):
    # round-9 review: the partition transform (and width) must be read
    # back from the table's metaData configuration — a fresh handle
    # with default constructor args on a mod[8] table used to hash-
    # bucket its batch, miss the existing base file, and duplicate keys
    s = DeltaLogSink(spark, str(tmp_path / "t"), n_buckets=8, transform="mod")
    s.init(_snapshot(spark, [(k, 0, float(k)) for k in range(16)]))
    fresh = DeltaLogSink(spark, str(tmp_path / "t"))  # defaults: bucket[session width]
    fresh.apply_batch(_batch(spark, [(9, 10, "MODIFY", 9.5)]))
    rows = fresh.visible().collect()
    keys = [r.key for r in rows]
    assert len(keys) == len(set(keys)), "duplicate keys: transform not persisted"
    assert {r.payload_value for r in rows if r.key == 9} == {9.5}
    assert fresh._transform() == ("mod", 8)


def test_spared_dead_file_gets_its_sweep_clock_restarted(sink, spark):
    # round-9 review: a spared file's deletionTimestamp dies with the
    # expired commit, so sparing must TOUCH the file — otherwise the
    # next mtime-gated orphan sweep reclaims it inside its tombstone
    # grace. Ancient write-mtime + fresh tombstone = the hazard shape.
    import time as _time

    active_v1 = sink._state(1)[2]
    sink.apply_batch(_batch(spark, [(3, 10, "MODIFY", 3.5)]))
    active_v2 = sink._state(2)[2]
    replaced = sorted(set(active_v1) - set(active_v2))
    assert replaced
    ancient = _time.time() - 10_000
    for p in replaced:
        os.utime(os.path.join(sink.path, p), (ancient, ancient))
    # default grace: fresh tombstone spares them from the vacuum, and
    # the SAME call's sweep must not reclaim them via the ancient mtime
    sink.expire_versions(keep_last=1, sweep_orphans=True)
    for p in replaced:
        full = os.path.join(sink.path, p)
        assert os.path.exists(full), "swept inside the tombstone grace"
        assert os.path.getmtime(full) > ancient + 1, "sweep clock not restarted"


def test_transform_resolution_retries_truncation_race(sink, monkeypatch):
    # round-9 review: a transient expiry-truncation failure must RETRY,
    # not silently fall back to constructor defaults (mis-bucketing)
    calls = {"n": 0}
    real = sink._state

    def flaky(*a, **k):
        calls["n"] += 1
        if calls["n"] < 3:
            raise ValueError("version 2 expired (vacuumed below the horizon)")
        return real(*a, **k)

    sink._transform_cached = None
    monkeypatch.setattr(sink, "_state", flaky)
    assert sink._transform() == ("bucket", 4)
    assert calls["n"] == 3


def test_append_on_never_inited_table_raises_user_error(spark, tmp_path):
    # ADVICE r10: 'no commits' is a USER error — it must surface
    # immediately, not burn retries and misreport as a concurrency race
    s = DeltaLogSink(spark, str(tmp_path / "fresh"), n_buckets=4)
    with pytest.raises(ValueError, match="no commits"):
        s.append(_batch(spark, [(1, 10, "MODIFY", 1.5)]))


def test_orphan_sweep_reclaims_log_tmp_debris(sink, spark):
    # ADVICE r10: crashed-attempt staging tmps in _delta_log (commit,
    # checkpoint, _last_checkpoint) are never consumed by later attempts
    # (attempt-scoped names) — the orphan sweep must reclaim aged ones
    log_dir = os.path.join(sink.path, LOG_DIR)
    debris = [
        os.path.join(log_dir, ".tmp-deadbeef0001"),
        os.path.join(log_dir, f"{3:020d}.checkpoint.json.tmp-cafe0001"),
        os.path.join(log_dir, "_last_checkpoint.tmp-cafe0002"),
    ]
    for p in debris:
        with open(p, "w") as fh:
            fh.write("{}")
    fresh = os.path.join(log_dir, ".tmp-fresh0001")
    with open(fresh, "w") as fh:
        fh.write("{}")
    ancient = time.time() - 3600
    for p in debris:
        os.utime(p, (ancient, ancient))
    sink.apply_batch(_batch(spark, [(1, 10, "MODIFY", 1.5)]))
    sink.apply_batch(_batch(spark, [(2, 11, "MODIFY", 2.5)]))
    sink.expire_versions(keep_last=1, sweep_orphans=True, orphan_grace_s=300.0)
    for p in debris:
        assert not os.path.exists(p), f"aged tmp debris survived: {p}"
    assert os.path.exists(fresh), "swept an in-flight attempt's tmp"
    # real log objects are untouched
    assert os.path.exists(sink._log_path(sink.latest_version()))
