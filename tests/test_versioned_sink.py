"""VersionedCdcSink: copy-on-write commits, time travel, retention.

The oracled q_cdc_time_travel proves the as-of read against the
changelog-prefix fold; these tests pin the mechanics the oracle can't
see: which files each commit writes (COW, not rewrite), pointer
crash-safety, and that expiry never deletes a file a retained
manifest still references.
"""

import os

from pyspark.sql import functions as F

from dynamodb_pitr_restore_cdc_spark.operators.cdc import changelog, fold_changelog
from dynamodb_pitr_restore_cdc_spark.streaming.versioned_sink import VersionedCdcSink

from .conftest import SF_SMOKE


def _mk(spark, tmp_path, n_buckets=8):
    cl = changelog(spark, SF_SMOKE).select("seq_no", "op", "key", "payload_value")
    max_seq = cl.agg(F.max("seq_no")).first()[0]
    c1, c2 = max_seq // 3, (2 * max_seq) // 3
    sink = VersionedCdcSink(spark, str(tmp_path / "sink"), n_buckets=n_buckets)
    sink.init(fold_changelog(cl.where(F.col("seq_no") <= c1)))
    sink.apply_batch(cl.where((F.col("seq_no") > c1) & (F.col("seq_no") <= c2)))
    sink.apply_batch(cl.where(F.col("seq_no") > c2))
    return sink, cl, c1, c2


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_latest_equals_full_fold(spark, tmp_path):
    sink, cl, _, _ = _mk(spark, tmp_path)
    assert sink.latest_version() == 3
    assert _rows(sink.visible()) == _rows(fold_changelog(cl))


def test_every_version_matches_its_prefix_fold(spark, tmp_path):
    sink, cl, c1, c2 = _mk(spark, tmp_path)
    for version, cutoff in ((1, c1), (2, c2)):
        want = _rows(fold_changelog(cl.where(F.col("seq_no") <= cutoff)))
        assert _rows(sink.visible(version)) == want, version


def test_commits_are_copy_on_write(spark, tmp_path):
    # a commit's data-token dir contains ONLY its touched buckets;
    # untouched buckets are inherited through the manifest (their
    # entries keep the PRIOR commit's data token), not rewritten
    sink, cl, c1, c2 = _mk(spark, tmp_path)
    b2 = cl.where((F.col("seq_no") > c1) & (F.col("seq_no") <= c2))
    m1, m2 = sink._manifest(1), sink._manifest(2)
    rewritten = {b for b, t in m2.items() if m1.get(b) != t}
    batch_buckets = {
        r.b
        for r in b2.select(
            F.pmod(F.hash("key"), F.lit(sink.n_buckets)).alias("b")
        ).distinct().collect()
    }
    assert rewritten == batch_buckets
    # all rewritten buckets share commit 2's single data token, and its
    # dir holds exactly those buckets
    (tok2,) = {m2[b] for b in rewritten}
    v2_dir = os.path.join(sink.path, "data", tok2)
    assert {d for d in os.listdir(v2_dir) if d.startswith("bucket=")} == {
        f"bucket={b}" for b in rewritten
    }
    # and at least one untouched bucket is inherited token-for-token
    # (this fixture doesn't touch every bucket every third)
    inherited = {b for b, t in m2.items() if m1.get(b) == t}
    assert inherited or set(m2) == rewritten


def test_expire_preserves_inherited_files(spark, tmp_path):
    sink, cl, _, c2 = _mk(spark, tmp_path)
    before = _rows(sink.visible(2))
    expired = sink.expire_versions(keep_last=2)
    assert expired == [1]
    assert not os.path.exists(os.path.join(sink.path, "manifests", "v1.json"))
    # v2 (in-window) still reads bit-identically: its v1-inherited
    # bucket files must have survived the sweep
    assert _rows(sink.visible(2)) == before
    assert _rows(sink.visible()) == _rows(fold_changelog(cl))


def test_empty_batch_is_a_noop_commit(spark, tmp_path):
    sink, cl, _, _ = _mk(spark, tmp_path)
    v = sink.latest_version()
    sink.apply_batch(cl.where(F.lit(False)))
    assert sink.latest_version() == v


def test_torn_pointer_never_visible(spark, tmp_path):
    # simulate a crash AFTER staging data + manifests but BEFORE the
    # pointer CAS: readers of LATEST still see the previous commit,
    # consistently — the staged root is invisible until the swap
    sink, cl, _, c2 = _mk(spark, tmp_path)
    import json

    r3 = sink._root(3)
    staged = sink._staged_root_path("deadbeef0000")
    with open(staged, "w") as fh:
        json.dump({"version": 4, "shards": {str(s): t for s, t in r3.items()}}, fh)
    assert sink.latest_version() == 3
    assert _rows(sink.visible()) == _rows(fold_changelog(cl))


def test_changefeed_pruning_loses_nothing(spark, tmp_path):
    # the manifest-pruned diff must equal the brute-force full diff,
    # and the pruning must actually skip buckets — the final batch is
    # deliberately narrow (top 2% of seqs) so it touches a strict
    # subset of buckets
    from dynamodb_pitr_restore_cdc_spark.streaming.versioned_sink import (
        VersionedCdcSink,
        _changes_between,
    )

    cl = changelog(spark, SF_SMOKE).select("seq_no", "op", "key", "payload_value")
    max_seq = cl.agg(F.max("seq_no")).first()[0]
    c1, c2 = max_seq // 2, (98 * max_seq) // 100
    sink = VersionedCdcSink(spark, str(tmp_path / "cfsink"), n_buckets=64)
    sink.init(fold_changelog(cl.where(F.col("seq_no") <= c1)))
    sink.apply_batch(cl.where((F.col("seq_no") > c1) & (F.col("seq_no") <= c2)))
    sink.apply_batch(cl.where(F.col("seq_no") > c2))

    m2, m3 = sink._manifest(2), sink._manifest(3)
    changed = {b for b in set(m2) | set(m3) if m2.get(b) != m3.get(b)}
    assert changed and changed < (set(m2) | set(m3))  # real pruning happened

    got = _rows(_changes_between(sink, 2, 3))

    a = {r.key: r for r in fold_changelog(cl.where(F.col("seq_no") <= c2)).collect()}
    b = {r.key: r for r in fold_changelog(cl).collect()}
    want = []
    for k in set(a) | set(b):
        if k not in a:
            want.append((k, "INSERT", b[k].last_seq, b[k].payload_value, None))
        elif k not in b:
            want.append((k, "DELETE", a[k].last_seq, None, a[k].payload_value))
        elif a[k].last_seq != b[k].last_seq:
            want.append(
                (k, "UPDATE", b[k].last_seq, b[k].payload_value, a[k].payload_value)
            )
    assert got == sorted(want)


def test_sink_state_invariant_under_batching_and_order(spark, tmp_path):
    """The versioned sink's tombstoned merge is a per-key max-seq
    reduction, so the LATEST state must equal the whole-changelog fold
    under ANY batch decomposition applied in ANY order — stronger than
    the reference's FIFO assumption. Deterministic sweep over several
    decompositions and permutations (hypothesis-style, but each case
    costs a sink replay, so the cases are pinned)."""
    cl = changelog(spark, SF_SMOKE).select("seq_no", "op", "key", "payload_value")
    max_seq = cl.agg(F.max("seq_no")).first()[0]
    want = _rows(fold_changelog(cl))

    cases = [
        # (cut permilles, batch application order)
        ((250, 500, 750), (0, 1, 2, 3)),       # in order
        ((250, 500, 750), (3, 2, 1, 0)),       # fully reversed
        ((100, 900), (1, 0, 2)),               # middle-heavy, swapped head
        ((500,), (1, 0)),                      # two halves, reversed
    ]
    for i, (permilles, order) in enumerate(cases):
        bounds = [0] + [max_seq * p // 1000 for p in permilles] + [max_seq]
        batches = [
            cl.where((F.col("seq_no") > lo) & (F.col("seq_no") <= hi))
            for lo, hi in zip(bounds, bounds[1:])
        ]
        sink = VersionedCdcSink(spark, str(tmp_path / f"perm{i}"), n_buckets=8)
        # empty init: schema remembered via an empty base write
        sink.init(fold_changelog(cl.where(F.lit(False))))
        for j in order:
            sink.apply_batch(batches[j])
        assert _rows(sink.visible()) == want, (permilles, order)


def test_streaming_commits_resume_from_checkpoint(spark, tmp_path):
    """Crash/restart under the stream: drain one split, stop, then
    restart with the SAME checkpoint after two more splits land — the
    source must skip the committed file, the sink must append commits
    v3/v4 on top of v2, and the final state must equal the full fold."""
    from dynamodb_pitr_restore_cdc_spark.streaming.cdc_stream import (
        CHANGELOG_STREAM_SCHEMA,
    )
    from dynamodb_pitr_restore_cdc_spark.streaming.drill import (
        _write_one_split,
    )

    cl = changelog(spark, SF_SMOKE).select("seq_no", "op", "key", "payload_value")
    max_seq = cl.agg(F.max("seq_no")).first()[0]
    q1, q2, q3 = max_seq // 3, (5 * max_seq) // 9, (7 * max_seq) // 9

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    sink = VersionedCdcSink(spark, str(tmp_path / "sink"), n_buckets=8)
    sink.init(fold_changelog(cl.where(F.col("seq_no") <= q1)))

    def drain():
        def commit(batch_df, epoch_id):
            sink.spark = batch_df.sparkSession
            sink.apply_batch(batch_df.select("seq_no", "op", "key", "payload_value"))

        q = (
            spark.readStream.schema(CHANGELOG_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.foreachBatch(commit)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        sink.spark = spark

    s = F.col("seq_no")
    _write_one_split(cl.where((s > q1) & (s <= q2)), src, 0)
    drain()  # run 1: only split 0 exists
    assert sink.latest_version() == 2

    _write_one_split(cl.where((s > q2) & (s <= q3)), src, 1)
    _write_one_split(cl.where(s > q3), src, 2)
    drain()  # run 2, same checkpoint: split 0 must NOT replay
    assert sink.latest_version() == 4
    assert _rows(sink.visible()) == _rows(fold_changelog(cl))
    # and the commit two batches back is still the run-1 state
    want_v2 = _rows(fold_changelog(cl.where(F.col("seq_no") <= q2)))
    assert _rows(sink.visible(version=2)) == want_v2


def test_point_lookup_reads_exactly_one_bucket(spark, tmp_path):
    """lookup() must resolve through the manifest to ONE bucket
    directory (inputFiles all share a single bucket path), return the
    fold-of-changelog row for present keys, and empty for absent keys
    without widening the read."""
    from dynamodb_pitr_restore_cdc_spark.operators.cdc import (
        changelog,
        fold_changelog,
    )
    from .conftest import SF_SMOKE

    cl = changelog(spark, SF_SMOKE).select("seq_no", "op", "key", "payload_value")
    sink = VersionedCdcSink(spark, str(tmp_path / "sink"), n_buckets=8)
    max_seq = cl.agg(F.max("seq_no")).first()[0]
    sink.init(fold_changelog(cl.where(F.col("seq_no") <= max_seq // 2)))
    sink.apply_batch(cl.where(F.col("seq_no") > max_seq // 2))

    want = {r.key: r for r in fold_changelog(cl).collect()}
    probe = sorted(want)[0]
    df = sink.lookup(int(probe))
    files = df.inputFiles()
    assert files, "lookup plan lists no files"
    buckets = {f.rsplit("/bucket=", 1)[1].split("/")[0] for f in files}
    tokens = {f.split("/data/")[1].split("/")[0] for f in files}
    assert len(buckets) == 1  # one bucket dir only
    assert len(tokens) == 1  # and from ONE commit's rewrite of it
    got = df.collect()
    assert len(got) == 1 and got[0].key == probe
    assert got[0].payload_value == want[probe].payload_value

    # absent key: the bloom sidecar proves absence -- empty result
    # with ZERO data files read
    miss = sink.lookup(-1)
    assert miss.count() == 0
    assert miss.inputFiles() == []

    # fresh handle with no remembered schema must hash with the
    # writer's column type (schema recovered from parquet footers)
    fresh = VersionedCdcSink(spark, sink.path, n_buckets=8)
    got2 = fresh.lookup(int(probe)).collect()
    assert len(got2) == 1 and got2[0].payload_value == want[probe].payload_value


def test_bloom_sidecars_never_false_negative_and_usually_skip(spark, tmp_path):
    """Every live key must pass its bucket's bloom (no false negatives,
    ever); a sweep of absent keys must mostly short-circuit to a
    zero-file read (false positives allowed, bounded)."""
    from dynamodb_pitr_restore_cdc_spark.operators.cdc import (
        changelog,
        fold_changelog,
    )
    from .conftest import SF_SMOKE

    cl = changelog(spark, SF_SMOKE).select("seq_no", "op", "key", "payload_value")
    sink = VersionedCdcSink(spark, str(tmp_path / "sink"), n_buckets=8)
    max_seq = cl.agg(F.max("seq_no")).first()[0]
    sink.init(fold_changelog(cl.where(F.col("seq_no") <= max_seq // 2)))
    sink.apply_batch(cl.where(F.col("seq_no") > max_seq // 2))

    live = [int(r.key) for r in fold_changelog(cl).select("key").collect()]
    for k in live[:20]:
        assert len(sink.lookup(k).collect()) == 1  # bloom never hides a key
    absent_reads = sum(
        1 for k in range(100000, 100020) if sink.lookup(k).inputFiles()
    )
    assert absent_reads <= 2  # ≤10% false-positive bucket reads on this sweep


def test_python_hash_twins_match_spark(spark):
    """The driver-side murmur3/xxhash64 twins behind lookup's hot path
    must equal Spark's own hash expressions bit-for-bit, or point
    lookups would silently probe the wrong bucket/bits."""
    import random

    from dynamodb_pitr_restore_cdc_spark.streaming.versioned_sink import (
        _murmur3_hash_long,
        _xxhash64_long,
    )

    random.seed(11)
    vals = [0, 1, -1, 42, 2**62, -(2**62), 2**63 - 1, -(2**63)] + [
        random.randrange(-(2**63), 2**63) for _ in range(40)
    ]
    df = spark.createDataFrame([(v,) for v in vals], "v long").select(
        "v",
        F.hash("v").alias("h"),
        *[
            F.xxhash64("v", F.lit(i).cast("bigint")).alias(f"x{i}")
            for i in range(4)
        ],
    )
    for r in df.collect():
        assert _murmur3_hash_long(r.v) == r.h, r.v
        seed = _xxhash64_long(r.v, 42)
        for i in range(4):
            assert _xxhash64_long(i, seed) == r[f"x{i}"], (r.v, i)
