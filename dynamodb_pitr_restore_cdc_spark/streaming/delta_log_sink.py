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
- **Checkpoint + _last_checkpoint**: retention's truncation hook
  (`_truncate`, under the shared `LogTable.expire_versions`) first
  writes ``<v>.checkpoint.json`` capturing the full action state at
  the horizon and points ``_last_checkpoint`` at it, then deletes
  older commits; the shared core then vacuums data files referenced
  by no retained version, dead ones by their remove actions'
  deletionTimestamp. Replay cost is bounded by the checkpoint cadence,
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
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .log_table import FileFacts, LogTable, NoTable, Pin, Retained
from .table_files import write_bucketed_files


def _now_ms() -> int:
    """Wall-clock ms for remove-action deletionTimestamp stamps
    (Delta protocol field): VACUUM retention compares against these
    so a long-running reader of a just-replaced file is not pulled
    out from under its scan."""
    return int(time.time() * 1000)


LOG_DIR = "_delta_log"


class _Replay:
    """Table state as a replay of log actions: the schemaString, the
    metaData configuration, {path: add action}, {appId: newest txn
    action} and {path: newest remove deletionTimestamp}."""

    def __init__(self) -> None:
        self.schema: str | None = None
        self.config: dict = {}
        self.active: dict[str, dict] = {}
        self.txns: dict[str, dict] = {}
        self.removed_ms: dict[str, int] = {}

    def read(self, path: str) -> None:
        with open(path) as fh:
            for line in fh:
                a = json.loads(line)
                if "metaData" in a:
                    self.schema = a["metaData"]["schemaString"]
                    self.config = a["metaData"].get("configuration", {})
                elif "add" in a:
                    self.active[a["add"]["path"]] = a["add"]
                elif "remove" in a:
                    self.active.pop(a["remove"]["path"], None)
                    self.removed_ms[a["remove"]["path"]] = a["remove"].get(
                        "deletionTimestamp", 0
                    )  # legacy actions without the stamp: aged
                elif "txn" in a:
                    self.txns[a["txn"]["appId"]] = a["txn"]


class DeltaLogSink(LogTable):
    """VersionedSinkFormat + CompactingSinkFormat over a Delta-shaped
    transaction log. See module docstring for the protocol."""

    META_DIR = LOG_DIR
    DATA_DIR = "files"

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

    def _replay(self, seed: int, upto: int) -> Iterator[tuple[int, _Replay]]:
        """Incremental replay: the newest checkpoint ≤ `seed`, then the
        commits after it through `upto`, yielding (version, state)
        after the checkpoint and after each commit. The state is ONE
        mutable object, so each log file is read exactly once whatever
        the caller snapshots at the version boundaries."""
        st = _Replay()
        start = 1
        ck = self._newest_checkpoint_at_most(seed)
        if ck is not None:
            st.read(self._ckpt_path(ck))
            start = ck + 1
            yield ck, st
        for i in range(start, upto + 1):
            p = self._log_path(i)
            if not os.path.exists(p):
                # below the seed, name the version the caller asked to
                # rebuild, not the first missing commit under it
                raise ValueError(
                    f"version {max(i, seed)} expired (vacuumed below the retention "
                    f"horizon); no checkpoint covers it"
                )
            st.read(p)
            yield i, st

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
        for _, st in self._replay(v, v):
            pass
        txns = {app: t["version"] for app, t in st.txns.items()}
        return st.schema, st.config, st.active, txns

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

    def _truncate(self, keep_last: int) -> Retained:
        """Retention's truncation: checkpoint the horizon version (so
        replay never needs the expired commits), point _last_checkpoint
        at it, then drop the superseded checkpoints and the expired
        commit files. Dead files die at their remove action's
        deletionTimestamp."""
        latest = self.latest_version()
        horizon = max(1, latest - keep_last + 1)
        on_disk = self._versions_on_disk()
        expired = [v for v in on_disk if v < horizon]
        if not expired:
            return Retained([], set(), {})
        # referenced-file accounting BEFORE anything is deleted: ONE
        # incremental replay seeded from the newest checkpoint covering
        # the oldest surviving commit, snapshotting the active set at
        # every version boundary at or past the horizon. The seed
        # checkpoint is always below the horizon: it is the previous
        # horizon, and a wider keep_last would have returned above.
        keep: set[str] = set()
        for v, st in self._replay(on_disk[0], latest):
            if v == horizon:
                ckpt = [
                    # mergeKey must survive log truncation or
                    # post-expiry reads fold on the wrong key
                    {"metaData": {"schemaString": st.schema,
                                  "configuration": dict(st.config)}},
                    # an exactly-once writer's last epoch must survive
                    # log truncation, or a replayed epoch re-commits
                    *({"txn": t} for t in st.txns.values()),
                    *({"add": a} for a in st.active.values()),
                ]
            if v >= horizon:
                keep.update(st.active)
        ck = self._ckpt_path(horizon)
        # attempt-scoped tmp names (same rule as every other staging
        # path): two concurrent expiries sharing a tmp would race the
        # final os.replace and the loser crashes on its consumed tmp
        ck_tmp = ck + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(ck_tmp, "w") as fh:
            fh.writelines(json.dumps(a) + "\n" for a in ckpt)
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
        return Retained(expired, keep, st.removed_ms)


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
