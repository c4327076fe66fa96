"""Delta-protocol-shaped table format behind the SinkFormat seam.

No Delta jar exists in this sandbox, so this module implements the
PUBLIC Delta Lake transaction-log design (the published PROTOCOL.md:
github.com/delta-io/delta) from scratch on plain parquet + JSON. The
write and read paths (MERGE, OPTIMIZE, blind append, MOR compaction,
time travel, changefeed) are the shared commit core in
`log_table.py`; this module holds the log mechanics:

- **NDJSON commit files** ``_delta_log/<version>.json``, one action
  per line: ``metaData`` (schema, partition columns and the
  configuration carrying mergeKey and bucketTransform), ``add`` (file
  path, partitionValues, size, stats), ``remove`` (with a
  deletionTimestamp), ``txn`` (appId, version, lastUpdated: the
  epoch an exactly-once MERGE recorded), ``commitInfo`` (operation
  ``CREATE TABLE AS SELECT``/``MERGE``/``OPTIMIZE``/``WRITE``). Table
  state at version v = replay of commits 1..v (adds minus removes,
  the newest txn per appId).
- **Put-if-absent commits**: a commit is a hard-linked rename into
  ``<version>.json``; ``os.link`` raises EEXIST if the version was
  already claimed — Delta's optimistic-concurrency rule. (The
  reference never races writers at all: its restore path is
  serialized through a single Step Functions execution,
  `state-machine.json:10-53` wait/poll loop, so this log supplies
  the concurrency story the reference sidesteps.)
- **File facts from add actions**: the ``bucket`` partition value
  (``bucket=K`` directories), a stats blob (numRecords, min/max of
  key/last_seq/op) and, on merge-on-read files, a ``mor`` tag and a
  ``numRemoves`` stat — everything pruning and maintenance read,
  with zero data reads (Delta's data-skipping contract).
- **Checkpoint + _last_checkpoint**: retention (`expire_versions`)
  first writes ``<v>.checkpoint.json`` capturing the full action
  state at the horizon and points ``_last_checkpoint`` at it, then
  deletes older commits and vacuums data files referenced by no
  retained version. Replay cost is bounded by the checkpoint cadence,
  and time travel below the horizon fails loudly — Delta's
  VACUUM / logRetentionDuration semantics.

Deliberate divergences, each cosmetic: versions are 1-based (the seam
contract `tests/test_sink_format.py` counts init as commit 1; Delta
counts from 0), the checkpoint is NDJSON rather than parquet, and
``schemaString`` holds Spark's StructType JSON rather than Delta's
schema dialect.

Reference parity: the commit log IS the PITR identity the reference
implements with PITR export + stream replay (`state-machine.json`
restore path); `snapshot(v)` is its point-in-time restore,
`changes_between` its stream tail.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .log_table import FileFacts, LogTable, NoTable, Pin
from .table_files import write_bucketed_files


def _now_ms() -> int:
    """Wall-clock ms for remove-action deletionTimestamp stamps
    (Delta protocol field): VACUUM retention compares against these
    so a long-running reader of a just-replaced file is not pulled
    out from under its scan."""
    return int(time.time() * 1000)


LOG_DIR = "_delta_log"
# Orphan sweep ignores files younger than this (VACUUM's retention
# grace): an in-flight commit attempt writes its data files BEFORE the
# log-link CAS, so without an age floor a concurrent vacuum would
# delete them and the attempt, on winning, would publish add actions
# referencing deleted files (round-9 review — the Iceberg sink's
# round-8 fix, mirrored)
ORPHAN_GRACE_DEFAULT_S = 300.0


class DeltaLogSink(LogTable):
    """VersionedSinkFormat + CompactingSinkFormat over a Delta-shaped
    transaction log. See module docstring for the protocol."""

    META_DIR = LOG_DIR

    # -- log plumbing ----------------------------------------------------

    def _log_dir(self) -> str:
        return os.path.join(self.path, LOG_DIR)

    def _log_path(self, v: int) -> str:
        return os.path.join(self._log_dir(), f"{v:020d}.json")

    def _ckpt_path(self, v: int) -> str:
        return os.path.join(self._log_dir(), f"{v:020d}.checkpoint.json")

    def _versions_on_disk(self) -> list[int]:
        out = []
        for f in os.listdir(self._log_dir()):
            stem, _, ext = f.partition(".")
            if ext == "json" and stem.isdigit():
                out.append(int(stem))
        return sorted(out)

    def latest_version(self) -> int:
        vs = self._versions_on_disk()
        if not vs:
            raise NoTable(f"no commits in {self.path}")
        return vs[-1]

    def _commit(self, v: int, actions: list[dict]) -> None:
        """Put-if-absent publication of one commit: write a temp file,
        hard-link it into the version slot (EEXIST = another writer won
        — Delta's optimistic concurrency), drop the temp name."""
        tmp = os.path.join(self._log_dir(), f".tmp-{uuid.uuid4().hex[:12]}")
        with open(tmp, "w") as fh:
            for a in actions:
                fh.write(json.dumps(a) + "\n")
            fh.flush()
            os.fsync(fh.fileno())  # the link IS publication: a commit
            # whose data blocks never hit disk would corrupt the log
        try:
            os.link(tmp, self._log_path(v))
        finally:
            os.remove(tmp)

    def _newest_checkpoint_at_most(self, v: int) -> int | None:
        """Honor _last_checkpoint first (Delta's fast path), fall back
        to a directory listing (its documented recovery path — which
        the protocol requires to also cover a CORRUPT pointer file: a
        crash mid-write must not wedge every subsequent read)."""
        lc = os.path.join(self._log_dir(), "_last_checkpoint")
        try:
            with open(lc) as fh:
                cv = json.load(fh)["version"]
            if cv <= v and os.path.exists(self._ckpt_path(cv)):
                return cv
        except (OSError, ValueError, KeyError):
            pass  # missing, torn, or stale pointer: use the listing
        cks = sorted(
            int(f.partition(".")[0])
            for f in os.listdir(self._log_dir())
            if f.endswith(".checkpoint.json")
        )
        cks = [c for c in cks if c <= v]
        return cks[-1] if cks else None

    def _state(
        self, version: int | None = None
    ) -> tuple[str, dict, dict[str, dict], dict[str, int]]:
        """(schemaString, configuration, {path: add-action}, {appId:
        txn version}) at `version` — replay of the newest checkpoint ≤
        version plus the commits after it. `configuration` is the
        metaData configuration map (carries mergeKey); tables written
        before it existed replay to {} and fall back to the defaults."""
        latest = self.latest_version()
        v = latest if version is None else version
        if v > latest or v < 1:
            raise ValueError(f"version {v} out of range (latest {latest})")
        schema, config, active, txns = None, {}, {}, {}
        start = 1
        ck = self._newest_checkpoint_at_most(v)
        if ck is not None:
            with open(self._ckpt_path(ck)) as fh:
                for line in fh:
                    a = json.loads(line)
                    if "metaData" in a:
                        schema = a["metaData"]["schemaString"]
                        config = a["metaData"].get("configuration", {})
                    elif "add" in a:
                        active[a["add"]["path"]] = a["add"]
                    elif "txn" in a:
                        txns[a["txn"]["appId"]] = a["txn"]["version"]
            start = ck + 1
        for i in range(start, v + 1):
            p = self._log_path(i)
            if not os.path.exists(p):
                raise ValueError(
                    f"version {i} expired (vacuumed below the retention "
                    f"horizon); no checkpoint covers it"
                )
            with open(p) as fh:
                for line in fh:
                    a = json.loads(line)
                    if "metaData" in a:
                        schema = a["metaData"]["schemaString"]
                        config = a["metaData"].get("configuration", {})
                    elif "add" in a:
                        active[a["add"]["path"]] = a["add"]
                    elif "remove" in a:
                        active.pop(a["remove"]["path"], None)
                    elif "txn" in a:
                        txns[a["txn"]["appId"]] = a["txn"]["version"]
        return schema, config, active, txns

    # -- commit-core adapter ---------------------------------------------

    @staticmethod
    def _is_mor(add: dict) -> bool:
        return add.get("tags", {}).get("mor") == "true"

    def _facts(self, add: dict) -> FileFacts:
        st = json.loads(add["stats"]) if add.get("stats") else {}
        return FileFacts(
            path=add["path"],
            bucket=int(add["partitionValues"]["bucket"]),
            pending=self._is_mor(add),
            records=st.get("numRecords", 0),
            removes=st.get("numRemoves", 0),
            lower=st.get("minValues", {}),
            upper=st.get("maxValues", {}),
        )

    def _pin(
        self, buckets: set[int] | None = None, version: int | None = None
    ) -> Pin:
        """The next version number, then the replayed state (in that
        order: the pin must precede the read). `base` is the metaData
        configuration, which an evolving commit republishes."""
        v = self.latest_version() + 1
        schema, config, active, txns = self._state(version)
        return Pin(
            version=v,
            schema=schema,
            key=config.get("mergeKey", "key"),
            transform=config.get("bucketTransform", ""),
            files=[
                self._facts(a)
                for a in active.values()
                if buckets is None or int(a["partitionValues"]["bucket"]) in buckets
            ],
            base=config,
            txns=txns,
        )

    def _write_data(self, bucketed: DataFrame, v: int) -> list[dict]:
        """Write one commit ATTEMPT's data files (table_files shared
        physics: immutable attempt-scoped dir, so os.link on the log
        file stays the one true arbiter and orphaned attempt dirs are
        debris that vacuum's sweep_orphans reclaims) and shape the
        per-file facts into Delta add actions with a stats blob."""
        rel_dir = os.path.join("files", f"c{v:06d}-{uuid.uuid4().hex[:8]}")
        return [
            {
                "path": i.rel_path,
                "partitionValues": {"bucket": str(i.bucket)},
                "size": i.size_bytes,
                "dataChange": True,
                "stats": json.dumps(
                    {
                        "numRecords": i.num_rows,
                        "minValues": i.mins,
                        "maxValues": i.maxs,
                    }
                ),
            }
            for i in write_bucketed_files(
                bucketed, self.path, rel_dir, self._transform()[1]
            )
        ]

    def _write_pending(
        self, rows: DataFrame, v: int, key: str, counts: dict
    ) -> list[dict]:
        """Merge-on-read files: adds tagged ``mor`` whose stats carry
        ``numRemoves`` (one file per bucket per commit —
        table_files.repartition_by_bucket — so the batch's per-bucket
        remove counts ARE per-file counts)."""
        adds = self._write_data(rows, v)
        for a in adds:
            a["tags"] = {"mor": "true"}
            st = json.loads(a["stats"])
            st["numRemoves"] = counts.get(int(a["partitionValues"]["bucket"]), (0, 0))[1]
            a["stats"] = json.dumps(st)
        return adds

    def _publish(
        self,
        pin: Pin,
        removed: list[FileFacts],
        added: list[dict],
        op: str,
        new_schema: str | None = None,
        txn: tuple[str, int] | None = None,
    ) -> None:
        """One commit: commitInfo, a metaData action when the schema
        widened, a txn action for an epoch-identified MERGE, removes
        (dataChange only for a MERGE: OPTIMIZE rewrites never change
        the data), adds."""
        meta_actions = (
            [
                {
                    "metaData": {
                        "schemaString": new_schema,
                        "partitionColumns": ["bucket"],
                        "configuration": pin.base,
                    }
                }
            ]
            if new_schema
            else []
        )
        txn_actions = (
            [{"txn": {"appId": txn[0], "version": txn[1], "lastUpdated": _now_ms()}}]
            if txn
            else []
        )
        self._commit(
            pin.version,
            [
                {"commitInfo": {"operation": op}},
                *meta_actions,
                *txn_actions,
                *(
                    {"remove": {"path": f.path, "dataChange": op == "MERGE",
                                 "deletionTimestamp": _now_ms()}}
                    for f in removed
                ),
                *({"add": a} for a in added),
            ],
        )

    # -- SinkFormat ------------------------------------------------------

    def init(self, snapshot: DataFrame, key: str = "key") -> None:
        snap = snapshot
        if "op" not in snap.columns:
            snap = snap.withColumn("op", F.lit("INSERT"))
        schema_json = snap.schema.json()
        name, n = self._init_transform()
        bucketed = snap.withColumn("bucket", self._bucket(F.col(key)))
        adds = self._write_data(bucketed, 1)
        self._commit(
            1,
            [
                {"commitInfo": {"operation": "CREATE TABLE AS SELECT"}},
                {
                    "metaData": {
                        "id": uuid.uuid4().hex,
                        "format": {"provider": "parquet"},
                        "schemaString": schema_json,
                        "partitionColumns": ["bucket"],
                        # persisted so read paths (visible/snapshot/
                        # changefeed) fold mor files on the right key —
                        # and bucket on the right transform/width —
                        # even from a fresh sink instance
                        "configuration": {
                            "mergeKey": key,
                            "bucketTransform": f"{name}[{n}]",
                        },
                    }
                },
                *({"add": a} for a in adds),
            ],
        )

    def expire_versions(
        self,
        keep_last: int,
        sweep_orphans: bool = False,
        orphan_grace_s: float = ORPHAN_GRACE_DEFAULT_S,
    ) -> list[int]:
        """Retention: checkpoint the horizon version (so replay never
        needs the expired commits), point _last_checkpoint at it, drop
        the expired commit files, and vacuum data files referenced by
        no retained version. Returns the versions expired this call.

        ``orphan_grace_s`` is VACUUM's retention, applied on two axes:
        (a) UNREFERENCED files (orphan sweep) are reclaimed only when
        their mtime is older than it — a racing writer's pre-CAS
        attempt files look exactly like crash debris until its commit
        lands; (b) files referenced ONLY by expired versions are
        reclaimed only when their remove action's deletionTimestamp is
        older than it — a long-running reader that pinned a
        recently-superseded version may still be scanning them
        (round-9 review). Files spared by (b) become orphans for a
        later sweep's (a). Pass 0 only when no reader or writer can be
        concurrent (tests, single-writer drills)."""
        latest = self.latest_version()
        horizon = max(1, latest - keep_last + 1)
        on_disk = self._versions_on_disk()
        expired = [v for v in on_disk if v < horizon]
        if not expired:
            return []
        # referenced-file accounting BEFORE anything is deleted: ONE
        # incremental replay (each commit file read exactly once) seeds
        # from the newest checkpoint covering the oldest surviving
        # commit, applies commits in order, and snapshots the active
        # set at every version boundary at or past the horizon
        keep_files: set[str] = set()
        all_refs: set[str] = set()
        removed_ms: dict[str, int] = {}  # path -> newest deletionTimestamp
        schema_at_horizon = None
        config_at_horizon: dict = {}
        active_at_horizon: dict[str, dict] = {}
        txns_at_horizon: dict[str, dict] = {}
        schema: str | None = None
        config: dict = {}
        active: dict[str, dict] = {}
        txns: dict[str, dict] = {}  # appId -> newest txn action
        start = 1
        ck0 = self._newest_checkpoint_at_most(on_disk[0])
        if ck0 is not None:
            with open(self._ckpt_path(ck0)) as fh:
                for line in fh:
                    a = json.loads(line)
                    if "metaData" in a:
                        schema = a["metaData"]["schemaString"]
                        config = a["metaData"].get("configuration", {})
                    elif "add" in a:
                        active[a["add"]["path"]] = a["add"]
                    elif "txn" in a:
                        txns[a["txn"]["appId"]] = a["txn"]
            start = ck0 + 1
            all_refs.update(active)
            # ck0 < horizon always holds here: ck0 is the previous
            # horizon, and a wider keep_last would have early-returned
        for v in range(start, latest + 1):
            with open(self._log_path(v)) as fh:
                for line in fh:
                    a = json.loads(line)
                    if "metaData" in a:
                        schema = a["metaData"]["schemaString"]
                        config = a["metaData"].get("configuration", {})
                    elif "add" in a:
                        active[a["add"]["path"]] = a["add"]
                        all_refs.add(a["add"]["path"])
                    elif "remove" in a:
                        active.pop(a["remove"]["path"], None)
                        removed_ms[a["remove"]["path"]] = a["remove"].get(
                            "deletionTimestamp", 0
                        )  # legacy actions without the stamp: aged
                    elif "txn" in a:
                        txns[a["txn"]["appId"]] = a["txn"]
            if v == horizon:
                schema_at_horizon = schema
                config_at_horizon = dict(config)
                active_at_horizon = dict(active)
                txns_at_horizon = dict(txns)
            if v >= horizon:
                keep_files.update(active)
        ck = self._ckpt_path(horizon)
        # attempt-scoped tmp names (same rule as every other staging
        # path): two concurrent expiries sharing a tmp would race the
        # final os.replace and the loser crashes on its consumed tmp
        ck_tmp = ck + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(ck_tmp, "w") as fh:
            fh.write(
                json.dumps(
                    {
                        "metaData": {
                            "schemaString": schema_at_horizon,
                            # mergeKey must survive log truncation or
                            # post-expiry reads fold on the wrong key
                            "configuration": config_at_horizon,
                        }
                    }
                )
                + "\n"
            )
            # an exactly-once writer's last epoch must survive log
            # truncation, or a replayed epoch re-commits after expiry
            for t in txns_at_horizon.values():
                fh.write(json.dumps({"txn": t}) + "\n")
            for a in active_at_horizon.values():
                fh.write(json.dumps({"add": a}) + "\n")
            fh.flush()
            os.fsync(fh.fileno())  # an empty checkpoint after the
            # expired commits are gone replays to an EMPTY active set
        os.replace(ck_tmp, ck)
        # pointer write is torn-read-safe: tmp + atomic rename (readers
        # additionally tolerate a corrupt pointer, _newest_checkpoint_at_most)
        lc = os.path.join(self._log_dir(), "_last_checkpoint")
        lc_tmp = lc + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(lc_tmp, "w") as fh:
            json.dump({"version": horizon}, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(lc_tmp, lc)
        # superseded checkpoints must go WITH their commits: a stale
        # checkpoint below the horizon would let _state resolve an
        # expired version against vacuumed files instead of raising
        for f in os.listdir(self._log_dir()):
            if f.endswith(".checkpoint.json") and int(f.partition(".")[0]) < horizon:
                os.remove(os.path.join(self._log_dir(), f))
        for v in expired:
            os.remove(self._log_path(v))
        # VACUUM retention (Delta's deletedFileRetentionDuration): a
        # dead file is reclaimable only once its remove action is older
        # than the grace — mtime is useless here (the file was WRITTEN
        # long ago; what must age is its TOMBSTONING). A spared file's
        # deletionTimestamp dies with the expired commit this same call
        # removes, so sparing also TOUCHES the file: the later orphan
        # sweep's mtime grace then restarts from the sparing moment
        # (>= the tombstoning) instead of the long-past write.
        retention_cutoff_ms = (time.time() - orphan_grace_s) * 1000
        for rel in sorted(all_refs - keep_files):
            full = os.path.join(self.path, rel)
            if removed_ms.get(rel, 0) > retention_cutoff_ms:
                try:
                    os.utime(full)
                except FileNotFoundError:
                    pass  # vanished: nothing to spare
                # any other failure propagates: silently keeping the
                # ancient write-mtime would arm the NEXT sweep to
                # reclaim this file inside its tombstone grace
                continue
            if os.path.exists(full):
                os.remove(full)
        if sweep_orphans:
            cutoff = time.time() - orphan_grace_s

            def aged_out(full: str) -> bool:
                try:
                    return os.path.getmtime(full) <= cutoff
                except OSError:
                    return False  # vanished mid-sweep: nothing to do

            data_root = os.path.join(self.path, "files")
            for dirpath, _dirs, files in os.walk(data_root):
                for fn in files:
                    full = os.path.join(dirpath, fn)
                    rel = os.path.relpath(full, self.path)
                    if (
                        fn.endswith(".parquet")
                        and rel not in keep_files
                        and aged_out(full)
                    ):
                        os.remove(full)
            # attempt-scoped staging debris in _delta_log (crashed
            # commit .tmp-<uuid>, checkpoint/_last_checkpoint
            # *.tmp-<uuid>) is never consumed by a later attempt — each
            # retry stages under a fresh name — so without this sweep it
            # accumulates forever (the Iceberg sink reclaims its hint
            # tmps the same way). Real log objects never contain
            # ".tmp-"; the age floor spares in-flight attempts about to
            # be linked/replaced.
            for fn in os.listdir(self._log_dir()):
                full = os.path.join(self._log_dir(), fn)
                if ".tmp-" in fn and aged_out(full):
                    os.remove(full)
        return expired


# ---------------------------------------------------------------------------
# registered queries: the whole protocol under one oracle hash
# ---------------------------------------------------------------------------


def _register_delta_fold() -> None:
    """Deferred import so the module stays importable without the
    registry side effects it feeds (registry imports THIS module)."""
    from ..operators.cdc import changelog, fold_changelog, with_changelog
    from ..registry import register, tracked_persist
    from .drill import Drill
    from .log_table import log_fold_drill, optimize_plan_drill

    @register(
        "q_cdc_delta_log_fold",
        oracle=with_changelog(
            """
SELECT key, seq_no AS last_seq, payload_value
FROM (
    SELECT key, seq_no, op, payload_value,
           row_number() OVER (PARTITION BY key ORDER BY seq_no DESC) AS rn
    FROM changelog
) WHERE rn = 1 AND op <> 'REMOVE'
"""
        ),
    )
    def q_cdc_delta_log_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The Delta-protocol table format end to end under one oracle
        hash: init = fold of the changelog's first third, two MERGE
        commits (bucket-pruned, loser-retry protocol), an OPTIMIZE past
        the full reorder horizon (settled tombstones rewritten away),
        then retention to the last two versions (checkpoint + commit
        truncation + vacuum with orphan sweep). What survives all four
        maintenance operations must still equal the plain changelog
        fold — the PITR identity (`state-machine.json` restore path)
        expressed through the log-structured format rather than the
        manifest format (q_cdc_snapshot_rebuild / q_cdc_time_travel
        twins)."""
        return log_fold_drill(spark, sf_dir, DeltaLogSink, "deltafold")

    @register(
        "q_cdc_delta_schema_evolution",
        oracle=with_changelog(
            """
, p AS (SELECT (2 * max(seq_no)) // 3 AS c2 FROM changelog)
SELECT key, seq_no AS last_seq, payload_value,
       CASE WHEN seq_no > c2 THEN payload_props END AS payload_props
FROM (
    SELECT key, seq_no, op, payload_value, payload_props,
           row_number() OVER (PARTITION BY key ORDER BY seq_no DESC) AS rn
    FROM changelog
) r, p WHERE rn = 1 AND op <> 'REMOVE'
"""
        ),
    )
    def q_cdc_delta_schema_evolution(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Add-column schema evolution through the Delta-protocol
        commit path, end to end under one oracle hash: init + one MERGE
        carry only payload_value; the final MERGE arrives with a NEW
        payload_props column (the reference's schemaless payload drift
        — `lambda-backfill/main.py:35-39` passes NewImage opaquely, so
        writers can grow attributes mid-stream), publishing the widened
        schema as a metaData action in the same commit. Retention then
        truncates the log past the evolution point, so the checkpoint
        must carry the widened schema. The surviving state must equal
        the plain changelog fold where only rows whose WINNING entry
        postdates the evolution carry the new column — rows folded from
        older images null-fill (schema-on-read), which is exactly what
        a full-image put without the attribute means."""
        cl = changelog(spark, sf_dir).select(
            "seq_no", "op", "key", "payload_value", "payload_props"
        )
        max_seq = cl.agg(F.max("seq_no")).first()[0]  # orchestration scalar
        c1, c2 = max_seq // 3, (2 * max_seq) // 3
        narrow = cl.drop("payload_props")
        with Drill(spark, "deltaevo") as d:
            sink = DeltaLogSink(spark, d.dir("t"))
            # NO width pin: MERGE commits are compute-bound (see
            # q_cdc_delta_log_fold; r16 idle-32 A/B 4.48 s → 3.68 s)
            sink.init(fold_changelog(narrow.where(F.col("seq_no") <= c1)))
            sink.apply_batch(
                narrow.where((F.col("seq_no") > c1) & (F.col("seq_no") <= c2))
            )
            sink.apply_batch(cl.where(F.col("seq_no") > c2))  # evolves
            # grace 0 is safe here: this builder is the table's only writer
            sink.expire_versions(keep_last=2, sweep_orphans=True, orphan_grace_s=0.0)
            result = tracked_persist(
                sink.visible().select(
                    "key", "last_seq", "payload_value", "payload_props"
                )
            )
            result.count()  # materialize before the backing dirs go away
        return result

    @register(
        "q_cdc_optimize_plan",
        oracle=with_changelog(
            """
, p AS (SELECT max(seq_no) AS mx, max(seq_no) // 3 AS c1 FROM changelog)
, base AS (
    SELECT key % 8 AS bucket, CAST(count(*) AS BIGINT) AS base_records
    FROM (
        SELECT key, op,
               row_number() OVER (PARTITION BY key ORDER BY seq_no DESC) AS rn
        FROM changelog, p WHERE seq_no <= c1
    ) WHERE rn = 1 AND op <> 'REMOVE'
    GROUP BY 1)
, files AS (
    SELECT key % 8 AS bucket,
           CASE WHEN seq_no <= c1 + (1 * (mx - c1)) // 6 THEN 1
                WHEN seq_no <= c1 + (2 * (mx - c1)) // 6 THEN 2
                WHEN seq_no <= c1 + (3 * (mx - c1)) // 6 THEN 3
                WHEN seq_no <= c1 + (4 * (mx - c1)) // 6 THEN 4
                WHEN seq_no <= c1 + (5 * (mx - c1)) // 6 THEN 5
                ELSE 6 END AS commit_i,
           CAST(count(*) AS BIGINT) AS recs,
           CAST(sum(CASE WHEN op = 'REMOVE' THEN 1 ELSE 0 END) AS BIGINT) AS removes
    FROM changelog, p WHERE seq_no > c1
    GROUP BY 1, 2)
, deltas AS (
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS delta_files,
           CAST(sum(recs) AS BIGINT) AS delta_records,
           CAST(sum(removes) AS BIGINT) AS delta_removes,
           CAST(sum(CASE WHEN recs < 100 THEN 1 ELSE 0 END) AS BIGINT)
               AS small_delta_files
    FROM files GROUP BY 1)
SELECT COALESCE(b.bucket, d.bucket) AS bucket,
       CAST(CASE WHEN b.bucket IS NULL THEN 0 ELSE 1 END AS BIGINT) AS base_files,
       COALESCE(b.base_records, 0) AS base_records,
       COALESCE(d.delta_files, 0) AS delta_files,
       COALESCE(d.delta_records, 0) AS delta_records,
       COALESCE(d.delta_removes, 0) AS delta_removes,
       COALESCE(d.small_delta_files, 0) AS small_delta_files,
       CASE WHEN COALESCE(d.small_delta_files, 0) >= 3
              OR 100 * COALESCE(d.delta_removes, 0)
                 > 15 * (COALESCE(b.base_records, 0) + COALESCE(d.delta_records, 0))
            THEN 'COMPACT' ELSE 'SKIP' END AS decision
FROM base b FULL OUTER JOIN deltas d ON b.bucket = d.bucket
"""
        ),
    )
    def q_cdc_optimize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The maintenance-policy layer under one oracle hash: init =
        fold of the changelog's first third, then SIX blind-append
        commits (the merge-on-read ingest lane — each lands one delta
        file per touched bucket), then optimize_plan reads the
        add-action stats and emits the per-bucket COMPACT/SKIP decision
        (small-file fan-in ≥ 3 files under 100 rows, or tombstone debt
        > 15% of bucket rows). The oracle reproduces the exact physical
        layout arithmetic — identity-mod bucketing (key % 8) and the
        integer seq-range commit boundaries — so file counts, record
        counts, remove counts and the decision are all hash-checked.
        The sink-side drill additionally executes the plan
        (compact_mor) and asserts the fold identity in the unit suite;
        the registered surface is the decision table itself."""
        return optimize_plan_drill(spark, sf_dir, DeltaLogSink, "optplan")


_register_delta_fold()
