"""The one commit core of the log-structured table formats.

The Delta-shaped transaction log (`delta_log_sink.py`) and the
Iceberg-shaped metadata tree (`iceberg_log_sink.py`) differ only in
how they RECORD table state — add/remove actions replayed from a log
vs. a metadata file naming a manifest tree. Everything a write path
DOES with that state is format-independent and lives here, once:

- the optimistic commit protocol (`_optimistic`): pin → read state →
  compute → write data → put-if-absent publish, re-pinning and
  recomputing on a lost race — the epoch → idempotent-sink-commit
  contract of Structured Streaming (SIGMOD 2018, PAPERS.md);
- the write paths built on it: `apply_batch` (MERGE), `compact`
  (settled-tombstone OPTIMIZE), `append` (blind merge-on-read ingest)
  and `compact_mor` (fold pending files into base files);
- the read paths: `snapshot`, `visible`, `changes_between`;
- retention (`expire_versions`): the two-axis grace, spare-or-reclaim
  of dead objects and the orphan sweep, written once for both formats;
- the partition transform (`_transform`, `_bucket`), the pending-file
  fold (`_fold`) and the per-bucket counters of `optimize_plan`.

A format subclass supplies only its mechanics:

- `_pin(buckets, version)` → `Pin`: the version or metadata number a
  commit would claim, the schema, merge key and transform, and the
  live files as `FileFacts` (optionally pruned to a bucket set);
  raises `NoTable` on a table that was never initialised and
  ValueError/FileNotFoundError when the pinned state vanished under a
  concurrent expiry (a lost race, retried);
- `_write_data(bucketed, version)` and `_write_pending(rows, version,
  key, counts)`: one commit attempt's data files as format records;
- `_publish(pin, removed, added, op, new_schema, txn)`: the
  put-if-absent commit, raising FileExistsError when another writer
  claimed the slot; a `txn` (app id, epoch) is recorded in the commit
  itself, and the pin reports the last recorded epoch per app;
- `_table_decisions(pin)`: table-scoped optimize_plan rows (none by
  default);
- `_truncate(keep_last, ...)` → `Retained`: retention's durable
  truncation (Delta: checkpoint, then drop expired commits; Iceberg: a
  metadata commit without the expired snapshots), reporting every path
  a retained version references and each dead object's death time;
- `DATA_DIR` and `META_OBJECTS`: where its data files live and which
  metadata objects only a retained version keeps alive;
- `init` and `latest_version`.

Data files are immutable and every attempt writes under a fresh
attempt-scoped directory, so the put-if-absent publish is the one
arbiter: a race-losing attempt's files are orphans that
``expire_versions(sweep_orphans=True)`` reclaims.
"""

from __future__ import annotations

import os
import re
import time
from dataclasses import dataclass
from typing import Any, Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cdc import cdc_merge_tombstone, visible
from .table_files import (
    align_to_payloads,
    bucket_counters,
    diff_states,
    empty_frame,
    evolve_schema_json,
    optimize_decisions,
    payload_cols_of,
    read_with_schema,
)


# Orphan sweep ignores files younger than this (VACUUM's retention,
# Iceberg's remove-orphan-files olderThan, 3 days there): an in-flight
# commit attempt writes its data and manifest files BEFORE the
# publishing CAS, so without an age floor a concurrent expiry would
# delete them and the attempt, on winning, would publish references to
# deleted files (round-8 and round-9 reviews)
ORPHAN_GRACE_DEFAULT_S = 300.0


class NoTable(ValueError):
    """The table was never initialised. A user error, not a race: the
    retry loops re-raise it at once instead of burning their attempts
    and misreporting it as lost commit races."""


class FileFacts(NamedTuple):
    """What the core needs to know about one live data file."""

    path: str  # relative to the table root
    bucket: int
    pending: bool  # merge-on-read file awaiting compact_mor
    records: int
    removes: int  # REMOVE entries a pending file carries
    lower: dict  # per-column lower bounds ({} = no stats)
    upper: dict


@dataclass(frozen=True)
class Pin:
    """Table state as of one metadata read, plus what a commit on top
    of it claims. `base` is format-private (what `_publish` needs)."""

    version: int  # the version a commit on the latest state publishes
    schema: str
    key: str  # the persisted merge key
    transform: str  # persisted partition transform, e.g. "bucket[32]"
    files: list[FileFacts]
    base: Any
    txns: dict[str, int]  # app id -> last epoch recorded by apply_batch


class Retained(NamedTuple):
    """What a format's `_truncate` leaves for the retention core."""

    expired: list[int]  # versions expired by this call, oldest first
    keep: set[str]  # every path a retained version references
    dead: dict[str, int]  # dead object -> death time, ms (0 = aged)


def _the_pin(pin: Pin) -> Pin:
    return pin


class LogTable:
    """VersionedSinkFormat + CompactingSinkFormat over a log-structured
    table; see the module docstring for the split with the formats."""

    META_DIR: str  # the format's metadata directory under the table root
    DATA_DIR: str  # the format's data directory under the table root
    # prefixes of META_DIR objects that live only while a retained
    # version references them (Iceberg's manifests and manifest lists)
    META_OBJECTS: tuple[str, ...] = ()

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        n_buckets: int | None = None,
        transform: str = "bucket",
    ):
        """`transform` picks the partition transform, Iceberg-spec
        style: "bucket" (hash-mod, default) or "mod" (identity-mod —
        reproducible by external engines; the optimize-plan oracles use
        key % N). `n_buckets` defaults to the creating session's write
        width (`_init_transform`). Only init CONSUMES these arguments:
        an existing table's transform (and width) is read back from its
        persisted metadata, so a fresh handle can never mis-bucket a
        table created with different parameters (round-9 review — the
        mergeKey persistence rule applied to the layout)."""
        self.spark = spark
        self.path = path
        self.n_buckets = n_buckets
        self._transform_arg = transform
        self._transform_cached: tuple[str, int] | None = None
        os.makedirs(os.path.join(path, self.META_DIR), exist_ok=True)

    # -- format adapter ----------------------------------------------------

    def _pin(
        self, buckets: set[int] | None = None, version: int | None = None
    ) -> Pin:
        raise NotImplementedError

    def _write_data(self, bucketed: DataFrame, version: int) -> list[dict]:
        raise NotImplementedError

    def _write_pending(
        self, rows: DataFrame, version: int, key: str, counts: dict
    ) -> list[dict]:
        raise NotImplementedError

    def _publish(
        self,
        pin: Pin,
        removed: list[FileFacts],
        added: list[dict],
        op: str,
        new_schema: str | None = None,
        txn: tuple[str, int] | None = None,
    ) -> None:
        raise NotImplementedError

    def _table_decisions(self, pin: Pin) -> list[dict]:
        return []

    def _truncate(self, keep_last: int) -> Retained:
        raise NotImplementedError

    # -- the commit protocol -----------------------------------------------

    def _optimistic(
        self,
        what: str,
        attempt: Callable[[Pin], Any] = _the_pin,
        max_attempts: int = 5,
        buckets: set[int] | None = None,
        pin: Pin | None = None,
    ) -> Any:
        """Run `attempt` on a freshly pinned state until it returns.

        The pin comes BEFORE the state read that feeds the attempt: a
        commit landing anywhere after it (even during the attempt's
        emptiness-check job) claims the pinned slot and forces
        FileExistsError — pinning after the read would let such a
        commit slip past the retry and publish a stale remove set
        (duplicated or resurrected rows; the *_race_inside_state_read_*
        tests in tests/test_delta_log_sink.py and test_iceberg_log_sink.py).
        On a lost race the whole attempt recomputes against the
        winner's state. A pin whose base state vanished (an expiry
        truncated the log or GC'd the metadata file mid-read) is a lost
        race too. `NoTable` is a user error and surfaces at once. Out
        of attempts, the RuntimeError chains the last cause, so a
        persistent failure (a lost checkpoint, a deleted manifest list)
        never reads as mere contention."""
        last: Exception | None = None
        for _ in range(max_attempts):
            if pin is None:
                try:
                    pin = self._pin(buckets)
                except NoTable:
                    raise
                except (ValueError, FileNotFoundError) as e:
                    last = e
                    continue
            try:
                return attempt(pin)
            except FileExistsError as e:
                last, pin = e, None
        if isinstance(last, FileExistsError):
            raise RuntimeError(
                f"{what} lost the commit race {max_attempts} times at {self.path}"
            ) from last
        raise RuntimeError(
            f"{what} could not pin the table state {max_attempts} times "
            f"at {self.path}"
        ) from last

    # -- data plumbing -----------------------------------------------------

    def _init_transform(self) -> tuple[str, int]:
        """(name, N) of the transform `init` creates the table with and
        persists. Without an explicit width the table takes one bucket
        per write task of the creating session (its
        ``spark.sql.shuffle.partitions``): every commit rewrites and
        every as-of read opens one file per touched bucket, so a wider
        table only splits the same rows into more, smaller files (at
        20k keys, local[4]: an as-of read opened 32 files at 32 buckets
        vs 4 at 4, and the replay's per-version latency fell by a
        third). Resolved once, into ``n_buckets``; later handles follow
        the persisted width whatever their own session's width."""
        if self.n_buckets is None:
            self.n_buckets = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        return self._transform_arg, self.n_buckets

    def _transform(self) -> tuple[str, int]:
        """(name, N) of the table's partition transform — persisted
        value first (a fresh handle must follow the TABLE's layout, not
        its constructor defaults), `_init_transform` fallback only
        before the table exists (init). A transient pin failure
        retries: falling back there would silently mis-bucket."""
        if self._transform_cached is not None:
            return self._transform_cached
        try:
            pin = self._optimistic("transform resolution", buckets=set())
        except NoTable:
            return self._init_transform()  # init is writing the table:
            # don't cache, so post-init reads re-resolve
        m = re.fullmatch(r"(bucket|mod)\[(\d+)\]", pin.transform)
        self._transform_cached = (
            (m.group(1), int(m.group(2))) if m else self._init_transform()
        )
        return self._transform_cached

    def _bucket(self, key_col):
        name, n = self._transform()
        hashed = key_col if name == "mod" else F.hash(key_col)
        return F.pmod(hashed, F.lit(n)).alias("bucket")

    def _read_files(self, files: list[FileFacts], schema_json: str) -> DataFrame:
        if not files:
            return empty_frame(self.spark, schema_json)
        paths = [os.path.join(self.path, p) for p in sorted(f.path for f in files)]
        # schema-on-read: files written before an add-column evolution
        # null-fill the new columns
        return read_with_schema(self.spark, schema_json, paths)

    def _fold(
        self, files: list[FileFacts], schema_json: str, key: str
    ) -> DataFrame:
        """Tombstoned state of a set of files, folding pending
        merge-on-read files over the base files at read time. With
        nothing pending this is a plain read (zero overhead for
        copy-on-write tables). Every read path goes through here or
        pending files resurrect keys and duplicate rows (round-7
        review). `key` is the caller's or the persisted merge key —
        never assume the default on a read path; payload columns come
        from the SCHEMA, so the fold is evolution-transparent."""
        base = [f for f in files if not f.pending]
        pending = [f for f in files if f.pending]
        cur = self._read_files(base, schema_json)
        if not pending:
            return cur
        entries = self._read_files(pending, schema_json).withColumnRenamed(
            "last_seq", "seq_no"
        )
        # the per-key max-seq reduction is associative/commutative, so
        # folding ALL pending entries in one merge ≡ applying their
        # commits one by one (tests/test_cdc_property.py)
        return cdc_merge_tombstone(
            cur, entries, key=key, payload_cols=payload_cols_of(schema_json, key)
        )

    # -- SinkFormat ----------------------------------------------------------

    def apply_batch(
        self,
        batch: DataFrame,
        key: str = "key",
        max_attempts: int = 5,
        txn: tuple[str, int] | None = None,
    ) -> None:
        """MERGE INTO: resolve the batch against ONLY the files of the
        buckets it touches (the format prunes at pin time, from
        metadata), write replacement files, publish remove + add in one
        commit. Immutable data files mean the read side is never the
        write target — no lineage break needed.

        On a lost race the merge recomputes against the winner's state:
        the winner may have replaced the very files our candidate set
        named, and publishing that stale remove set would resurrect its
        rows as duplicates. An empty batch still commits one (empty)
        version: one version per micro-batch is the replay contract.

        ``txn = (app_id, epoch)`` makes the commit exactly-once per
        epoch (Delta's transaction identifiers, PROTOCOL.md; the
        idempotent-sink contract of Structured Streaming): the epoch is
        recorded in the commit itself, and an epoch at or below the one
        the pin reports for the app is a no-op. The check runs inside
        the attempt, so a lost race re-checks against the winner's
        state — a winner that committed the same epoch ends the loop."""
        batch = batch.withColumn("bucket", self._bucket(F.col(key)))
        touched = {
            r.bucket for r in batch.select("bucket").distinct().collect()
        }  # ≤ N ints: orchestration, not data

        def attempt(pin: Pin) -> None:
            if txn is not None and pin.txns.get(txn[0], -1) >= txn[1]:
                return  # this epoch already committed: a replay
            # add-column schema evolution (union-by-name): a batch
            # carrying payload columns the table doesn't know widens
            # the schema in the SAME commit. Evolved inside the retry
            # loop so a racing writer's own evolution is unioned on
            # recompute, never overwritten.
            schema_json, evolved = evolve_schema_json(pin.schema, batch.schema, key)
            # _fold (not a raw read): a touched bucket may carry pending
            # merge-on-read files, which this commit retires by folding
            # them into the rewritten base files
            merged = cdc_merge_tombstone(
                self._fold(pin.files, schema_json, key),
                align_to_payloads(batch.drop("bucket"), schema_json, key),
                key=key,
                payload_cols=payload_cols_of(schema_json, key),
            )
            added = self._write_data(
                merged.withColumn("bucket", self._bucket(F.col(key))), pin.version
            )
            self._publish(
                pin, pin.files, added, "MERGE", schema_json if evolved else None, txn
            )

        self._optimistic("MERGE", attempt, max_attempts, buckets=touched)

    def snapshot(self, version: int | None = None) -> DataFrame:
        """Tombstoned state at a version (time travel). Pending
        merge-on-read files are folded here too: snapshot() is the
        STATE contract (one row per key, tombstones as rows), whatever
        the physical layout — visible(snapshot(v)) must never show
        duplicate or resurrected keys (round-7 review)."""
        pin = self._pin(version=version)
        return self._fold(pin.files, pin.schema, pin.key)

    def visible(self) -> DataFrame:
        return visible(self.snapshot())

    # -- CompactingSinkFormat ----------------------------------------------

    def compact(self, reorder_horizon_seq: int, max_attempts: int = 5) -> None:
        """OPTIMIZE / rewriteDataFiles: rewrite files that may hold
        settled tombstones (op='REMOVE' below the reorder horizon),
        dropping them. Candidates come from file BOUNDS only — a file
        whose op range excludes 'REMOVE' or whose min last_seq is above
        the horizon is provably clean and never opened. A lost race
        recomputes the candidate set (and the exact emptiness check)
        from the winner's state."""

        def attempt(pin: Pin) -> None:
            pending_buckets = {f.bucket for f in pin.files if f.pending}

            def may_hold_settled(f: FileFacts) -> bool:
                if f.pending:
                    # a REMOVE row in a pending file is a changelog
                    # ENTRY (or an equality delete), not a folded
                    # tombstone: dropping it would resurrect the key's
                    # older base row. compact_mor folds pending files
                    # into base, after which this path can reclaim the
                    # folded tombstone.
                    return False
                if f.bucket in pending_buckets:
                    # the whole BUCKET is ineligible while files are
                    # pending: a pending entry may sit BELOW a settled
                    # base tombstone's seq (stale entries are supported
                    # — test_visible_folds_mor_entries), and dropping
                    # that tombstone would hand the read-time fold to
                    # the stale entry — a silently resurrected key
                    # (round-8 review). compact_mor folds the pending
                    # files first; the bucket then re-qualifies.
                    return False
                if "op" not in f.lower:
                    return True  # no stats: conservative
                if not (f.lower["op"] <= "REMOVE" <= f.upper["op"]):
                    return False
                ls_min = f.lower.get("last_seq")
                return ls_min is None or ls_min < reorder_horizon_seq

            cand = [f for f in pin.files if may_hold_settled(f)]
            if not cand:
                return
            cur = self._read_files(cand, pin.schema)
            settled = (F.col("op") == "REMOVE") & (
                F.col("last_seq") < reorder_horizon_seq
            )
            # bounds admit false positives (a post-merge file mixing
            # old live rows with a FRESH tombstone passes forever) —
            # without this exact check, periodic OPTIMIZE would rewrite
            # such buckets and grow the log unboundedly
            if cur.where(settled).limit(1).count() == 0:
                return
            # the persisted merge key: hardcoding "key" crashed compact
            # on custom-key tables (round-8 review)
            added = self._write_data(
                cur.where(~settled).withColumn(
                    "bucket", self._bucket(F.col(pin.key))
                ),
                pin.version,
            )
            self._publish(pin, cand, added, "OPTIMIZE")

        self._optimistic("OPTIMIZE", attempt, max_attempts)

    # -- merge-on-read ingest lane -------------------------------------------

    def append(
        self, batch: DataFrame, key: str | None = None, max_attempts: int = 5
    ) -> None:
        """Blind-append ingest: the batch's changelog entries (key,
        seq_no → last_seq, payload, op) land as pending files in one
        commit with NO data reads and NO removes — O(batch) whatever
        the table size. Readers fold pending files at read time;
        optimize_plan prices the debt and compact_mor pays it.

        One per-bucket count job feeds the pending files' remove counts
        and detects an empty batch, which commits nothing (no no-op
        commit). Appends never conflict semantically, so a lost race
        re-publishes the same data files on the winner's state. ``key``
        defaults to the table's persisted merge key (the round-8
        hardcoded-default defect class)."""
        pin = self._optimistic("WRITE", max_attempts=max_attempts, buckets=set())
        key = key or pin.key
        # schemas only ever WIDEN, so a batch whose columns fit the
        # pinned schema fits every later schema too: only an evolving
        # append re-unions on each attempt
        _, evolved = evolve_schema_json(pin.schema, batch.schema, key)
        rows = batch.select(
            F.col(key),
            F.col("seq_no").alias("last_seq"),
            *[F.col(c) for c in payload_cols_of(batch.schema.json(), key)],
            F.col("op"),
        ).withColumn("bucket", self._bucket(F.col(key)))
        counts = {
            r.bucket: (int(r.records), int(r.removes))
            for r in rows.groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("records"),
                F.sum((F.col("op") == "REMOVE").cast("long")).alias("removes"),
            )
            .collect()
        }  # ≤ N (records, removes) pairs: orchestration, not data
        if not counts:
            return  # empty batch: no no-op commit
        added = self._write_pending(rows, pin.version, key, counts)

        def attempt(p: Pin) -> None:
            new_schema = None
            if evolved:
                # re-union against the CURRENT schema each attempt: a
                # racing writer may have evolved too, and publishing our
                # stale union would silently drop its added columns
                merged, still_new = evolve_schema_json(p.schema, batch.schema, key)
                new_schema = merged if still_new else None
            self._publish(p, [], added, "WRITE", new_schema)

        self._optimistic("WRITE", attempt, max_attempts, buckets=set(), pin=pin)

    def optimize_plan(
        self,
        small_file_rows: int,
        min_small_files: int,
        tombstone_pct: int,
    ) -> DataFrame:
        """Maintenance policy: per bucket, decide COMPACT or SKIP from
        file metadata alone (zero data reads, O(files) driver work —
        the same metadata the pruning uses). COMPACT when the read-side
        merge fan-in has grown (≥ min_small_files pending files under
        small_file_rows rows) or the tombstone debt has (pending REMOVE
        entries exceed tombstone_pct% of the bucket's rows); the
        decision is table_files.optimize_decisions. A format may append
        table-scoped rows (`_table_decisions`, bucket -1).

        The data-driven form of the reference's operational constants
        (batch size 25 `lambda-backfill/main.py:22`, maxReceiveCount 5
        `cdk-stack.ts:52-63`): thresholds turned into per-bucket
        decisions off observed stats."""
        pin = self._optimistic("optimize_plan")
        per_bucket: dict[int, dict] = {}
        for f in pin.files:
            d = per_bucket.setdefault(f.bucket, bucket_counters(f.bucket))
            if f.pending:
                d["delta_files"] += 1
                d["delta_records"] += f.records
                d["delta_removes"] += f.removes
                if f.records < small_file_rows:
                    d["small_delta_files"] += 1
            else:
                d["base_files"] += 1
                d["base_records"] += f.records
        return optimize_decisions(
            self.spark,
            per_bucket,
            min_small_files,
            tombstone_pct,
            table_rows=self._table_decisions(pin),
        )

    def compact_mor(
        self, buckets: set[int], key: str | None = None, max_attempts: int = 5
    ) -> None:
        """Execute an optimize_plan decision: fold the selected
        buckets' pending files into rewritten base files in one commit
        (a lost race recomputes the candidate set from the winner's
        state). Folded REMOVE entries become base tombstones, which
        compact reclaims once the reorder horizon passes. ``key``
        defaults to the table's persisted merge key."""

        def attempt(pin: Pin) -> None:
            if not any(f.pending for f in pin.files):
                return  # nothing pending: no no-op commit
            k = key or pin.key
            added = self._write_data(
                self._fold(pin.files, pin.schema, k).withColumn(
                    "bucket", self._bucket(F.col(k))
                ),
                pin.version,
            )
            self._publish(pin, pin.files, added, "OPTIMIZE")

        self._optimistic("MOR OPTIMIZE", attempt, max_attempts, buckets=buckets)

    # -- VersionedSinkFormat -------------------------------------------------

    def changes_between(self, v_from: int, v_to: int) -> DataFrame:
        """Changefeed: a bucket whose FILE SET is identical at both
        versions is provably unchanged (immutable files) and is never
        read; only differing buckets are folded from each side, then
        `diff_states` classifies INSERT/UPDATE/DELETE — the same
        classification the native versioned sink uses."""
        p_from, p_to = self._pin(version=v_from), self._pin(version=v_to)

        def by_bucket(files: list[FileFacts]) -> dict[int, set[str]]:
            out: dict[int, set[str]] = {}
            for f in files:
                out.setdefault(f.bucket, set()).add(f.path)
            return out

        bb_from, bb_to = by_bucket(p_from.files), by_bucket(p_to.files)
        changed = {
            b
            for b in set(bb_from) | set(bb_to)
            if bb_from.get(b, set()) != bb_to.get(b, set())
        }
        # BOTH sides fold under the TO schema (schemas only widen, so
        # it covers the FROM side; pre-evolution files null-fill) and
        # the feed carries every TO-side payload column — a consumer
        # mirroring through the feed must converge to visible(), new
        # columns included (round-10 review)
        key, schema = p_to.key, p_to.schema

        def side(p: Pin) -> DataFrame:
            changed_files = [f for f in p.files if f.bucket in changed]
            return visible(self._fold(changed_files, schema, key))

        return diff_states(
            side(p_from),
            side(p_to),
            payload_cols=payload_cols_of(schema, key),
            key=key,
        )

    # -- retention -----------------------------------------------------------

    def expire_versions(
        self,
        keep_last: int,
        sweep_orphans: bool = False,
        orphan_grace_s: float = ORPHAN_GRACE_DEFAULT_S,
        **horizon: Any,
    ) -> list[int]:
        """VACUUM / expireSnapshots: the format truncates its history
        to the last ``keep_last`` versions (``horizon`` carries a
        format's extra retention axis, Iceberg's ``older_than_ms``) and
        makes that durable; then objects referenced by no retained
        version are reclaimed. Returns the versions expired this call.

        ``orphan_grace_s`` is the retention grace, on two axes:
        (a) a DEAD object (referenced only by expired versions) is
        reclaimed only once its death — Delta's remove-action
        deletionTimestamp, the superseding Iceberg snapshot's
        timestamp-ms — is older than the grace: a long-running reader
        that pinned a recently superseded version may still be scanning
        it. mtime is useless there (the file was WRITTEN long ago; what
        must age is its tombstoning), and so is the dead version's own
        creation time (an idle table's old version can be superseded
        seconds ago). (b) UNREFERENCED files (the orphan sweep) are
        reclaimed only once their mtime is older than the grace. Pass 0
        only when no reader or writer can be concurrent (tests,
        single-writer drills). (round-9 review, two passes)"""
        r = self._truncate(keep_last, **horizon)
        if not r.expired:
            return []
        cutoff = time.time() - orphan_grace_s
        for rel in sorted(set(r.dead) - r.keep):
            full = os.path.join(self.path, rel)
            if r.dead[rel] > cutoff * 1000:
                # a spared object's death stamp dies with the history
                # truncated above, so sparing TOUCHES it: a later
                # sweep's mtime grace then restarts from the sparing
                # (>= the death) instead of the long-past write
                try:
                    os.utime(full)
                except FileNotFoundError:
                    pass  # vanished: nothing to spare
                # any other failure propagates: silently keeping the
                # ancient write-mtime would arm the NEXT sweep to
                # reclaim this object inside its tombstone grace
                continue
            if os.path.exists(full):
                os.remove(full)
        if not sweep_orphans:
            return r.expired

        def aged_out(full: str) -> bool:
            try:
                return os.path.getmtime(full) <= cutoff
            except OSError:
                return False  # vanished mid-sweep: nothing to do

        # the sweep: unreferenced data files (crashed or race-losing
        # attempts), their metadata twins (META_OBJECTS no retained
        # version references) and attempt-scoped staging debris (any
        # ``.tmp-`` name: a crashed commit, checkpoint or pointer move
        # — each retry stages under a fresh name, so no later attempt
        # consumes it). Real table objects never contain ``.tmp-``.
        for dirpath, _dirs, files in os.walk(os.path.join(self.path, self.DATA_DIR)):
            for fn in files:
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, self.path)
                if fn.endswith(".parquet") and rel not in r.keep and aged_out(full):
                    os.remove(full)
        for fn in os.listdir(os.path.join(self.path, self.META_DIR)):
            rel = os.path.join(self.META_DIR, fn)
            full = os.path.join(self.path, rel)
            if (
                ".tmp-" in fn or (fn.startswith(self.META_OBJECTS) and rel not in r.keep)
            ) and aged_out(full):
                os.remove(full)
        return r.expired


# ---------------------------------------------------------------------------
# drills shared by both formats' registered queries
# ---------------------------------------------------------------------------


def log_fold_drill(
    spark: SparkSession, sf_dir: str, sink_cls: type[LogTable], tag: str
) -> DataFrame:
    """init = fold of the changelog's first third, two MERGE commits,
    a settled-tombstone compact past the full reorder horizon, then
    retention to the last two versions with an orphan sweep; returns
    the surviving visible state."""
    from ..operators.cdc import changelog, fold_changelog
    from ..registry import tracked_persist
    from .drill import Drill

    cl = changelog(spark, sf_dir).select("seq_no", "op", "key", "payload_value")
    max_seq = cl.agg(F.max("seq_no")).first()[0]  # orchestration scalar
    c1, c2 = max_seq // 3, (2 * max_seq) // 3
    with Drill(spark, tag) as d:
        sink = sink_cls(spark, d.dir("t"))
        # NO width pin: the MERGE commits and the compact rewrite are
        # real per-bucket merges over the full table — compute-bound
        # (r16 idle-32 A/B, pinned vs session width: Delta 8.90 s vs
        # 4.04 s, Iceberg 9.39 s vs 4.57 s)
        sink.init(fold_changelog(cl.where(F.col("seq_no") <= c1)))
        sink.apply_batch(
            cl.where((F.col("seq_no") > c1) & (F.col("seq_no") <= c2))
        )
        sink.apply_batch(cl.where(F.col("seq_no") > c2))
        sink.compact(reorder_horizon_seq=int(max_seq) + 1)
        # grace 0 is safe here: this builder is the table's only writer
        sink.expire_versions(keep_last=2, sweep_orphans=True, orphan_grace_s=0.0)
        result = tracked_persist(
            sink.visible().select("key", "last_seq", "payload_value")
        )
        result.count()  # materialize before the backing dirs go away
    return result


def optimize_plan_drill(
    spark: SparkSession, sf_dir: str, sink_cls: type[LogTable], tag: str
) -> DataFrame:
    """init = fold of the changelog's first third into 8 identity-mod
    buckets (key % 8, so an oracle can reproduce the layout), six
    blind appends over equal seq ranges of the rest, then the
    optimize_plan decision table (small-file fan-in ≥ 3 files under
    100 rows, or tombstone debt > 15% of bucket rows)."""
    from ..operators.cdc import changelog, fold_changelog
    from ..registry import tracked_persist
    from .drill import Drill

    cl = changelog(spark, sf_dir).select("seq_no", "op", "key", "payload_value")
    max_seq = int(cl.agg(F.max("seq_no")).first()[0])  # orchestration scalar
    c1, span = max_seq // 3, max_seq - max_seq // 3
    bounds = [c1 + (i * span) // 6 for i in range(7)]
    with Drill(spark, tag) as d:
        sink = sink_cls(spark, d.dir("t"), n_buckets=8, transform="mod")
        # NO width pin: the seven appends + the stats pass want session
        # width (r16 idle-32 A/B, pinned vs session width: Delta
        # 10.73 s vs 3.73 s, Iceberg 11.83 s vs 6.25 s)
        sink.init(fold_changelog(cl.where(F.col("seq_no") <= c1)))
        for i in range(1, 7):
            sink.append(
                cl.where(
                    (F.col("seq_no") > bounds[i - 1])
                    & (F.col("seq_no") <= bounds[i])
                )
            )
        plan = tracked_persist(
            sink.optimize_plan(
                small_file_rows=100, min_small_files=3, tombstone_pct=15
            )
        )
        plan.count()  # materialize before the backing dirs go away
    return plan
