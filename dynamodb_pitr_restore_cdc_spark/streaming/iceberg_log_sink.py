"""Iceberg-shaped table format behind the SinkFormat seam.

No Iceberg jar exists in this sandbox, so this module implements the
PUBLIC Apache Iceberg table spec (iceberg.apache.org/spec) from
scratch on plain parquet + JSON. The write and read paths (MERGE,
rewriteDataFiles, blind append, MOR compaction, time travel,
changefeed) are the shared commit core in `log_table.py`; this module
holds the metadata-tree mechanics:

- **Immutable metadata files** ``metadata/v<N>.metadata.json``, each a
  COMPLETE table description: schema history, partition spec (the
  transform and the merge-key source field), the full list of live
  snapshots (id, 1-based sequence-number, manifest-list path, summary)
  and the current snapshot id, plus — once an epoch-identified MERGE
  committed — a ``txns`` map (appId -> version, lastUpdated: the
  Delta txn action's fields) that every later metadata file copies
  forward. Unlike the Delta log there is NO replay: any version's
  state is one metadata read away.
- **version-hint.text + put-if-absent commits**: a commit writes the
  next metadata file via temp + ``os.link`` (EEXIST = another writer
  won) and then moves the hint — exactly the HadoopTableOperations
  commit protocol; readers treat the hint as a fast path and recover
  from a missing/torn/stale hint by probing forward and listing.
- **Manifest list per snapshot** (``snap-…json``; gzipped NDJSON here,
  avro in Iceberg): one row per manifest with partition-field
  summaries (lower/upper bucket bounds) — the first pruning level.
  Manifests UNTOUCHED by a commit are reused by path in the new
  snapshot's list, so commit cost is O(changed buckets) metadata,
  never O(table). Snapshot operations: ``append`` (init, blind
  append), ``overwrite`` (MERGE), ``replace`` (rewrites).
- **Manifest files** (``manifest-…json``): one row per data file with
  its partition value, record count and per-column lower/upper bounds
  — the second pruning level.
- **Row-level deletes** (merge-on-read lane): ``append`` lands upsert
  rows as data files (spec content=data) and REMOVE rows as
  **equality-delete files** (content=equality-deletes,
  ``equality_ids`` = the merge-key field), the Iceberg v2 design. One
  documented divergence from the v2 spec: deletes here resolve
  per-ROW by the changelog's ``last_seq`` (the per-key max-seq fold),
  not by the spec's file-level data-sequence-number rule, because
  this engine supports out-of-order delivery (a stale entry below an
  already-merged row must LOSE, which file-level sequencing cannot
  express).
- **Snapshot lifecycle**: ``expireSnapshots`` (here the truncation
  hook `_truncate`, under the shared `LogTable.expire_versions`)
  publishes a new metadata file with the expired snapshots dropped
  from the list; the shared core then garbage-collects manifest
  lists, manifests and data files referenced by no retained snapshot,
  dead ones by the superseding snapshot's timestamp.
  ``rewrite_manifests`` repacks manifests, and ``optimize_plan``
  prices that repack in a table-scoped REPACK row.

Deliberate divergences, each cosmetic: manifest list / manifest files
are NDJSON rather than avro, and the schema field holds Spark's
StructType JSON rather than Iceberg's schema dialect. Expired metadata
files follow Iceberg's own retention rule — the trailing
``previous-versions-max`` (here PREVIOUS_METADATA_KEPT) survive so
racing writers pinned on a just-expired base can still read it and
lose cleanly.

Reference parity: the snapshot list IS the PITR identity the reference
implements with PITR export + stream replay (`state-machine.json`
restore path); `snapshot(v)` is its point-in-time restore,
`changes_between` its stream tail, and the keyed upsert/delete merge
is `lambda-backfill/main.py:33-39` under a third storage protocol.
"""

from __future__ import annotations

import gzip
import json
import math
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .log_table import FileFacts, LogTable, NoTable, Pin, Retained
from .table_files import write_bucketed_files

META_DIR = "metadata"
# expired metadata files retained for racing writers (Iceberg's
# write.metadata.previous-versions-max): a writer that pinned its
# target number just before an expiry commit must still be able to
# read its base metadata file, hit EEXIST, and retry
PREVIOUS_METADATA_KEPT = 8


def _pack_groups(entries: list[dict], target: int) -> list[list[dict]]:
    """Group live entries into manifests of ~target each, packed by
    contiguous bucket ranges: a bucket's files stay together (one
    oversized bucket overflows its own manifest rather than splitting —
    bounds stay tight either way), groups close at the target on bucket
    boundaries. Shared by rewrite_manifests (the action) and
    optimize_plan (the pricing) so the two can never disagree on what
    "packed" means."""
    entries = sorted(
        entries, key=lambda e: e["data_file"]["partition"]["bucket"]
    )
    groups: list[list[dict]] = []
    cur: list[dict] = []
    for e in entries:
        b = e["data_file"]["partition"]["bucket"]
        if (
            cur
            and len(cur) >= target
            and cur[-1]["data_file"]["partition"]["bucket"] != b
        ):
            groups.append(cur)
            cur = []
        cur.append({**e, "status": "EXISTING"})
    if cur:
        groups.append(cur)
    return groups


def _manifests_packed(
    old_list: list[dict], groups: list[list[dict]], target: int
) -> bool:
    """Already-packed test from manifest-list SUMMARIES against the
    layout's OWN fresh pack: packed when the old layout either (a)
    matches the classic summary test — same manifest count as a fresh
    pack, every manifest within target, bucket spans DISJOINT (an
    overlapping layout — e.g. init + append both spanning all buckets —
    must repack even if each piece is small, or every one-bucket MERGE
    keeps rewriting all of them) — or (b) is span/size-identical to
    what _pack_groups would itself produce.  (b) is what (a)'s
    ``n <= target`` clause cannot see: a single bucket holding more
    than target entries packs into one OVERSIZED manifest (a bucket's
    files stay together), so without it rewrite_manifests republishes
    the identical layout forever — the repack-livelock shape the
    round-11 review missed (single-bucket-dominant tables)."""
    spans = sorted(
        (
            m["partitions"]["bucket"]["lower"],
            m["partitions"]["bucket"]["upper"],
            m["added_files_count"] + m["existing_files_count"],
        )
        for m in old_list
    )
    if len(old_list) == len(groups):
        if all(n <= target for _lo, _hi, n in spans) and all(
            spans[i][1] < spans[i + 1][0] for i in range(len(spans) - 1)
        ):
            return True
        fresh = sorted(
            (
                min(e["data_file"]["partition"]["bucket"] for e in g),
                max(e["data_file"]["partition"]["bucket"] for e in g),
                len(g),
            )
            for g in groups
        )
        return spans == fresh
    return False


def _manifest_target(n_entries: int) -> int:
    """√-packing default: per-commit metadata cost is rewritten-manifest
    entries (∝ target) + manifest-list rows (∝ entries/target) —
    balanced at √total (SCALE.md round-10 measurements)."""
    return max(16, math.isqrt(n_entries))


# REPACK pricing (round-12 hysteresis; SCALE.md round-11 honest
# reading): a repack rewrites EVERY live entry, so the trigger must
# charge that cost against the per-commit tax it removes — the round-11
# model (fire at E[cover] ≥ 2·target) paid n_entries of rewrite to
# remove a ~target/commit tax, firing every ~4-5 trickle commits and
# writing 7× the metadata of one hand-placed post-load repack.  Three
# rules, cheapest-evidence first:
#
# (a) IMMEDIATE (predicted): E[excess] = E[per-commit rewrite] −
#     target ≥ n_entries / 2 — the repack (cost n_entries) pays for
#     itself out of SAVINGS within REPACK_PAYBACK_COMMITS removing
#     commits with certainty (excess, not raw cover: a packed
#     two-manifest table has E[rewrite] = n/2 but zero savings —
#     rewriting it buys nothing).  This is the bulk-load monolith
#     (expected width = the whole table): fire before paying any tax,
#     matching the informed manual cadence; reduces to n ≥ 2·target
#     for monoliths.
# (b) ACCUMULATED (ski-rental on MEASURED tax): fire once
#     Σ rewritten-entries − Σ removed-buckets × target over the
#     commits since the last repack reaches n_entries — i.e. the
#     manifest-rewrite bytes commits ACTUALLY paid, minus what the
#     same commits would have paid on a packed layout (one
#     target-sized pack per removed bucket), has reached the repack's
#     own cost.  Measured, never predicted: the round-12 60-commit
#     drill showed a cover-based prediction over-counts savings for
#     multi-bucket hot-key trickles (wide-but-tiny recent manifests
#     are CHEAPER to rewrite than the packs they'd be consolidated
#     into — the LSM insight), firing 4 repacks that each made
#     per-commit cost strictly worse; under measured tax those
#     commits' excess is negative and the lane stays at the one
#     monolith repack, matching the informed manual cadence at any
#     horizon.  Blind appends rewrite nothing and remove nothing:
#     they contribute zero to both sides.  The accumulation is a
#     zero-floored CUSUM fold, so cheaper-than-packed commits reset
#     the clock but never bank negative credit — a regime change
#     (hot-key trickles → narrow merges) fires on the NEW regime's
#     own schedule.
# (c) LIST: more than 2× ceil(entries/target) manifests — list
#     republication is the other per-commit cost axis.  Round 14: the
#     60-commit drill showed length alone over-fires — under uniform
#     bucket churn the list grows ~1 manifest/commit while every
#     consolidation makes subsequent MERGEs rewrite ~target-entry
#     packs instead of cheap debris manifests (measured: +8 KB/commit
#     after the mid-drill repack, a strict loss vs never firing).  So
#     (c) now fires only when the measured history does NOT show that
#     churn penalty: Σ rewritten ≥ Σ removed-buckets × target (i.e.
#     the workload's rewrites already cost at least what the packed
#     layout would — consolidating can't make them worse), or there
#     is no history at all (a shattered list with no churn evidence).
#     Gradual list growth under churn is instead priced by rule (b)'s
#     list term, which fires exactly when the accumulated list excess
#     outweighs the measured rewrite penalty.
#
# (a) and (b) are gated on n_entries > target (a table whose fresh
# pack is a single manifest cannot be improved by repacking), and
# width-1 oversized manifests are EXCLUDED from cover: _pack_groups
# keeps a bucket's files together, so their rewrite tax is
# irreducible and repacking buys nothing (single-bucket livelock,
# round-12 advice).
REPACK_PAYBACK_COMMITS = 2


def _repack_priced(
    old_list: list[dict],
    n_entries: int,
    target: int,
    history: tuple[tuple[int, ...], ...] = (),
) -> bool:
    """Cost-aware REPACK trigger from manifest-list summaries plus the
    snapshot summaries since the last repack (zero manifest reads,
    O(manifests + commits) driver arithmetic).  ``history`` is one
    (rewritten_entries, removed_buckets[, manifest_length]) tuple per
    commit since the last repack, oldest first — the optional third
    element is the manifest-list length AT that commit (missing or 0
    = legacy snapshot, list term 0: conservative).  Integer math
    throughout: E[cover] ≥ X  ⇔  Σ entries·width ≥ X·total_width."""
    spans = [
        (
            m["partitions"]["bucket"]["lower"],
            m["partitions"]["bucket"]["upper"],
            m["added_files_count"] + m["existing_files_count"],
        )
        for m in old_list
    ]
    total_w = max(hi for _lo, hi, _n in spans) - min(lo for lo, _hi, _n in spans) + 1
    cover = sum(
        n * (hi - lo + 1)
        for lo, hi, n in spans
        if not (lo == hi and n > target)  # irreducible: never splits
    )
    ideal = -(-n_entries // target)
    hist = [(h[0], h[1], h[2] if len(h) > 2 else 0) for h in history]
    # Measured churn refutation (round 14): when the commits since the
    # last repack MEASURABLY rewrote less than a packed layout would
    # have cost (Σrw < target·Σrb), the PREDICTED-savings rules may
    # not fire — the 60-commit drill showed both the cover excess (a)
    # and the raw list-length rule (c) crossing their thresholds on
    # accumulated trickle debris whose consolidation then made every
    # subsequent merge strictly more expensive (+8 KB/commit measured).
    # A genuinely expensive layout can't hide behind this guard: a
    # monolith's merges rewrite O(table) entries, so its measured Σrw
    # dwarfs target·Σrb, and an empty history (bulk load, blind
    # appends) passes trivially.  Gradual list growth under cheap
    # churn is priced by rule (b)'s list term instead.
    churn_refuted = bool(hist) and sum(
        rw for rw, _rb, _ml in hist
    ) < target * sum(rb for _rw, rb, _ml in hist)
    if len(old_list) > 2 * ideal and not churn_refuted:
        return True  # (c)
    if n_entries <= target:
        return False  # fresh pack is one manifest: nothing to improve
    excess = cover - target * total_w  # savings·total_w, ≤ 0 when packed
    if excess <= 0:
        # already effectively packed: no repack can help, whatever the
        # paid history says (without this gate a packed layout with a
        # heavy history would price a REPACK whose apply no-ops and
        # never writes the resetting marker — a decision livelock)
        return False
    if REPACK_PAYBACK_COMMITS * excess >= n_entries * total_w and not churn_refuted:
        return True  # (a)
    # (b): CUSUM fold, floored at zero per commit — cheaper-than-packed
    # commits must not bank unbounded negative credit, or a workload
    # regime change (hot-key trickles -> narrow merges) would starve a
    # genuinely-needed repack for the hundreds of commits it takes to
    # pay the banked credit back (round-12 review finding).  Each
    # commit's net tax = manifest entries it rewrote, minus what a
    # packed layout would have cost (one target-sized pack per removed
    # bucket), PLUS the manifest-list lines it republished past the
    # packed length (round 14: list growth under churn accrues here —
    # the trigger fires exactly when the accumulated list excess
    # outweighs the measured rewrite penalty of consolidating).
    # Scope note (round-14 advice): ``mlen`` is the FULL manifest-list
    # length at each past commit (hot manifests included) while
    # ``ideal`` is computed from the COLD-scoped n_entries, so
    # list_excess slightly overstates the cold layout's excess and the
    # measured arm fires a little earlier than a cold-only model
    # would.  Deliberately conservative: the hot membership of PAST
    # commits is unknowable from their summaries (hotness is relative
    # to the current sequence), subtracting the CURRENT hot count
    # would be a different approximation with the opposite bias, and
    # the hot set is bounded by REPACK_AGE_FLOOR_COMMITS small
    # manifests — at most a few lines of the hundreds the arm needs.
    paid = 0
    for rw, rb, mlen in hist:
        list_excess = max(0, mlen - ideal)
        paid = max(0, paid + rw - rb * target + list_excess)
    return paid >= n_entries  # (b)


# LSM age floor (round 14; SCALE.md round-12 addendum named the
# mechanism): manifests REWRITTEN within the last floor commits hold
# the workload's hot files — consolidating them into per-bucket-range
# packs makes the NEXT touch of those files cost ~target entries per
# bucket instead of one cheap tiny-manifest rewrite (the measured
# 60-commit regression that rule (b)'s move to measured tax only
# halved).  So both the pricing and the apply see only the COLD
# subset: manifests at least floor commits old, PLUS any young
# manifest already bigger than the pack target (a bulk-load monolith
# is expensive on its very first rewrite — its repack must not wait
# out the floor, or the 12-commit post-load parity breaks).
REPACK_AGE_FLOOR_COMMITS = 2


def _split_lsm(
    old_list: list[dict],
    cur_seq: int,
    target: int,
    floor: int = REPACK_AGE_FLOOR_COMMITS,
) -> tuple[list[dict], list[dict]]:
    """(cold, hot) split of a manifest list by rewrite age.

    hot ⇔ rewritten within the last ``floor`` commits AND no bigger
    than the pack target (young-but-huge is cold: cheap to exempt is
    the point, and a monolith is never cheap).  floor=0 makes
    everything cold — the explicit-operator full repack.  Summaries
    written before the age field existed count as seq 0 — infinitely
    aged, so legacy trees keep the pre-aging behavior exactly."""
    cold: list[dict] = []
    hot: list[dict] = []
    for m in old_list:
        n = m["added_files_count"] + m["existing_files_count"]
        age = cur_seq - int(m.get("added_sequence_number", 0))
        if age < floor and n <= target:
            hot.append(m)
        else:
            cold.append(m)
    return cold, hot


def _entry_count(manifests: list[dict]) -> int:
    return sum(
        m["added_files_count"] + m["existing_files_count"] for m in manifests
    )


# snapshot summary operation per commit-core op
_OPERATIONS = {"MERGE": "overwrite", "OPTIMIZE": "replace", "WRITE": "append"}


class IcebergLogSink(LogTable):
    """VersionedSinkFormat + CompactingSinkFormat over an Iceberg-shaped
    metadata tree. See module docstring for the protocol."""

    META_DIR = META_DIR
    DATA_DIR = "data"
    # manifest/manifest-list debris from crashed or race-losing commit
    # attempts (written before the metadata CAS, referenced by no
    # snapshot) is the metadata twin of orphaned data files: the sweep
    # reclaims it the same way (round-7 review finding)
    META_OBJECTS = ("manifest-", "snap-")

    # -- metadata-tree plumbing -------------------------------------------

    def _meta_dir(self) -> str:
        return os.path.join(self.path, META_DIR)

    def _meta_path(self, n: int) -> str:
        return os.path.join(self._meta_dir(), f"v{n:020d}.metadata.json")

    def _hint_path(self) -> str:
        return os.path.join(self._meta_dir(), "version-hint.text")

    def _latest_meta_num(self) -> int:
        """Newest metadata file number. version-hint is only a START
        point (HadoopTableOperations probes forward from it — a crash
        between link and hint move leaves the hint one behind, and
        trusting it verbatim would wedge the commit loop in EEXIST);
        a missing/torn hint falls back to a directory listing."""
        start = 0
        try:
            with open(self._hint_path()) as fh:
                start = int(fh.read().strip())
        except (OSError, ValueError):
            pass  # missing or torn hint: use the listing
        if start < 1 or not os.path.exists(self._meta_path(start)):
            # a PARSABLE hint can still be stale-and-deleted (expiry GC
            # raced the read): the listing is the recovery path there
            # too, not only for a torn hint
            nums = [
                int(m.group(1))
                for f in os.listdir(self._meta_dir())
                if (m := re.fullmatch(r"v(\d+)\.metadata\.json", f))
            ]
            if not nums:
                raise NoTable(f"no table metadata in {self.path}")
            start = max(nums)
        n = start
        while os.path.exists(self._meta_path(n + 1)):
            n += 1
        return n

    def _load_meta(self, n: int) -> dict:
        with open(self._meta_path(n)) as fh:
            return json.load(fh)

    def _commit_meta(self, n: int, meta: dict) -> None:
        """Put-if-absent publication of metadata file n (the commit):
        temp write + fsync + hard link; EEXIST = lost the race. On
        success the version hint moves via atomic rename — a crash
        between link and rename only makes the hint stale, which
        _latest_meta_num's forward probe absorbs."""
        tmp = os.path.join(self._meta_dir(), f".tmp-{uuid.uuid4().hex[:12]}")
        with open(tmp, "w") as fh:
            json.dump(meta, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, self._meta_path(n))
        finally:
            os.remove(tmp)
        # attempt-scoped tmp name: two committers moving the hint
        # concurrently must not share a staging path, or the loser's
        # os.replace finds its tmp already consumed (FileNotFoundError —
        # reproduced by the threaded race suite). Concurrent replaces of
        # the hint itself are benign: the hint is only a probe START and
        # staleness is tolerated by _latest_meta_num.
        hint_tmp = self._hint_path() + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(hint_tmp, "w") as fh:
            fh.write(str(n))
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(hint_tmp, self._hint_path())

    def _write_ndjson(self, prefix: str, rows: list[dict]) -> str:
        """Immutable uuid-named NDJSON metadata object, gzip-compressed
        (Iceberg's manifests and manifest lists are deflate-compressed
        avro; compression is what keeps the per-commit manifest-LIST
        republication — the one metadata cost proportional to table
        width — at ~10% of its raw bytes, SCALE.md round-10 table).
        Returns the path relative to the table root."""
        rel = os.path.join(META_DIR, f"{prefix}-{uuid.uuid4().hex[:12]}.json")
        body = "".join(json.dumps(r) + "\n" for r in rows).encode()
        with open(os.path.join(self.path, rel), "wb") as fh:
            fh.write(gzip.compress(body, compresslevel=1))
            fh.flush()
            os.fsync(fh.fileno())
        return rel

    def _read_ndjson(self, rel: str) -> list[dict]:
        with open(os.path.join(self.path, rel), "rb") as fh:
            raw = fh.read()
        if raw[:2] == b"\x1f\x8b":  # gzip magic; plain NDJSON = a table
            # written before compression landed — still readable
            raw = gzip.decompress(raw)
        return [json.loads(line) for line in raw.decode().splitlines() if line]

    # -- snapshot resolution ----------------------------------------------

    def _current_meta(self) -> dict:
        return self._load_meta(self._latest_meta_num())

    def _snapshot_record(self, meta: dict, version: int | None) -> dict:
        snaps = meta["snapshots"]
        if not snaps:
            raise ValueError(f"table {self.path} has no snapshots")
        if version is None:
            cur = meta["current-snapshot-id"]
            return next(s for s in snaps if s["snapshot-id"] == cur)
        latest = snaps[-1]["sequence-number"]
        if version > latest or version < 1:
            raise ValueError(f"version {version} out of range (latest {latest})")
        for s in snaps:
            if s["sequence-number"] == version:
                return s
        raise ValueError(
            f"version {version} expired (expireSnapshots dropped it from "
            f"the metadata tree)"
        )

    def _manifest_list(self, snap: dict) -> list[dict]:
        return self._read_ndjson(snap["manifest-list"])

    @staticmethod
    def _repack_history(meta: dict) -> tuple[tuple[int, int, int], ...]:
        """(rewritten-entries, removed-buckets, manifest-length) per
        snapshot after the newest rewrite_manifests commit (marked by
        its ``manifests-replaced`` summary metric), oldest first — the
        measured tax the hysteresis pricing (_repack_priced rule b)
        accumulates.  Snapshots written before the metrics existed
        count as (0, 0, 0) (no measured tax — conservative).
        expire_versions truncates the snapshot list, which only
        UNDERCOUNTS paid tax (a later repack, never a livelock)."""
        snaps = meta["snapshots"]
        out: list[tuple[int, int, int]] = []
        for s in reversed(snaps):
            summary = s.get("summary", {})
            if "manifests-replaced" in summary:
                break
            out.append(
                (
                    int(summary.get("rewritten-entries", 0)),
                    int(summary.get("removed-buckets", 0)),
                    int(summary.get("manifest-length", 0)),
                )
            )
        return tuple(reversed(out))

    def _entries(
        self, snap: dict, buckets: set[int] | None = None
    ) -> list[dict]:
        """Live data-file entries of one snapshot, two-level pruned
        (see _prune)."""
        return self._prune(self._manifest_list(snap), buckets)

    def _prune(
        self, manifest_list: list[dict], buckets: set[int] | None
    ) -> list[dict]:
        """Entries of a manifest list, two-level pruned: manifest-list
        partition summaries (bucket bounds) first — a manifest outside
        the bucket range is never opened — then per-entry partition
        values. Bounds math on driver-side ints, zero data reads. An
        empty bucket set (empty batch, no changed buckets) opens no
        manifest."""
        if buckets is not None and not buckets:
            return []
        out: list[dict] = []
        for m in manifest_list:
            if buckets is not None and (
                m["partitions"]["bucket"]["lower"] > max(buckets)
                or m["partitions"]["bucket"]["upper"] < min(buckets)
            ):
                continue
            for e in self._read_ndjson(m["manifest_path"]):
                b = e["data_file"]["partition"]["bucket"]
                if buckets is None or b in buckets:
                    out.append(e)
        return out

    # -- commit-core adapter ------------------------------------------------

    @staticmethod
    def _is_pending(e: dict) -> bool:
        """True for merge-on-read files awaiting a rewrite: appended
        data files and equality-delete files (content != plain base
        data, or the append lane's mor tag on appended upsert rows)."""
        return (
            e.get("tags", {}).get("mor") == "true"
            or e["data_file"].get("content", "data") != "data"
        )

    def _facts(self, e: dict) -> FileFacts:
        """An equality-delete file's record_count IS its remove count;
        bounds are the manifest entry's lower/upper_bounds."""
        df_ = e["data_file"]
        return FileFacts(
            path=df_["file_path"],
            bucket=int(df_["partition"]["bucket"]),
            pending=self._is_pending(e),
            records=df_["record_count"],
            removes=(
                df_["record_count"]
                if df_.get("content") == "equality-deletes"
                else 0
            ),
            lower=df_.get("lower_bounds", {}),
            upper=df_.get("upper_bounds", {}),
        )

    def _pin(
        self, buckets: set[int] | None = None, version: int | None = None
    ) -> Pin:
        """The next metadata number, then that base metadata file and
        its snapshot's manifest tree (pin BEFORE read: a commit
        landing after the pin claims our number and forces EEXIST).
        The manifest list is read once per pin, whatever the bucket
        set: entries are pruned from it, the REPACK pricing and
        rewrite_manifests read its summaries, and a list that vanished
        under an expiry fails HERE, where the core retries it. `base`
        is (metadata number to claim, base metadata, snapshot, list)."""
        meta_num = self._latest_meta_num() + 1
        meta = self._load_meta(meta_num - 1)
        snap = self._snapshot_record(meta, version)
        manifest_list = self._manifest_list(snap)
        return Pin(
            version=snap["sequence-number"] + 1,
            # the schema in effect AT the snapshot: time travel below an
            # add-column evolution must not show the later column
            # (Iceberg's snapshot schema-id)
            schema=self._schema_at(meta, snap),
            key=self._merge_key(meta),
            transform=meta["partition-spec"][0]["transform"],
            files=[self._facts(e) for e in self._prune(manifest_list, buckets)],
            base=(meta_num, meta, snap, manifest_list),
            txns={app: t["version"] for app, t in meta.get("txns", {}).items()},
        )

    def _write_data(self, bucketed: DataFrame, seq: int) -> list[dict]:
        """Write one commit ATTEMPT's data files (table_files shared
        physics: immutable attempt-scoped dir, so a crashed or
        race-losing attempt can never collide with a retry) and shape
        the per-file facts into Iceberg manifest entries."""
        rel_dir = os.path.join("data", f"s{seq:06d}-{uuid.uuid4().hex[:8]}")
        return [
            {
                "status": "ADDED",
                "data_file": {
                    "file_path": i.rel_path,
                    "partition": {"bucket": i.bucket},
                    "record_count": i.num_rows,
                    "file_size_in_bytes": i.size_bytes,
                    "lower_bounds": i.mins,
                    "upper_bounds": i.maxs,
                },
            }
            for i in write_bucketed_files(
                bucketed, self.path, rel_dir, self._transform()[1]
            )
        ]

    def _write_pending(
        self, rows: DataFrame, seq: int, key: str, counts: dict
    ) -> list[dict]:
        """The v2 row-level-delete write: upsert rows become data files
        (content=data), REMOVE rows EQUALITY-DELETE files
        (content=equality-deletes, ``equality_ids`` = the merge-key
        field); a side the batch's counts show empty is not written."""
        is_del = F.col("op") == "REMOVE"
        has_upserts = any(n > r for n, r in counts.values())
        has_deletes = any(r > 0 for _n, r in counts.values())
        entries: list[dict] = []
        for pred, content, present in (
            (~is_del, "data", has_upserts),
            (is_del, "equality-deletes", has_deletes),
        ):
            if not present:
                continue
            for e in self._write_data(rows.where(pred), seq):
                e["tags"] = {"mor": "true"}
                e["data_file"]["content"] = content
                if content == "equality-deletes":
                    e["data_file"]["equality_ids"] = [key]
                entries.append(e)
        return entries

    def _publish(
        self,
        pin: Pin,
        removed: list[FileFacts],
        added: list[dict],
        op: str,
        new_schema: str | None = None,
        txn: tuple[str, int] | None = None,
    ) -> None:
        """One snapshot on the pinned base: a widened schema becomes a
        new schema-id in the metadata file's schema history, and the
        manifest tree reuses every manifest that lost no file. A `txn`
        lands in the metadata file's ``txns`` map (appId -> version,
        lastUpdated), which every later metadata file copies forward —
        snapshot expiry included — and the pin reads with no extra
        file."""
        meta_num, meta, snap, _manifest_list = pin.base
        if new_schema is not None:
            meta = self._apply_schema(meta, new_schema)
        if txn is not None:
            app, epoch = txn
            meta = {
                **meta,
                "txns": {
                    **meta.get("txns", {}),
                    app: {"version": epoch, "lastUpdated": int(time.time() * 1000)},
                },
            }
        rec = self._build_snapshot(
            snap, {f.path for f in removed}, added, _OPERATIONS[op]
        )
        self._commit_snapshot(meta_num, meta, rec)

    def _table_decisions(self, pin: Pin) -> list[dict]:
        """optimize_plan's Iceberg-specific extra: the plan also prices
        MANIFEST fragmentation (round-10 verdict item 4 — the
        flat-metadata property must hold without operator
        intervention). When the expected per-commit rewrite width or
        the manifest-list length crosses the cost model's threshold
        (_repack_priced, decided from manifest-list summaries plus the
        per-commit rewrite metrics in the snapshot summaries since the
        last repack — a repack rewrites EVERYTHING, so the trigger
        charges that cost against the tax commits actually pay:
        immediately for a monolith whose payback is certain, by
        MEASURED ski-rental accumulation for slow fragmentation), one
        TABLE-scoped row is appended: ``bucket = -1, decision =
        'REPACK'`` with the pricing in the counter columns —
        base_files = live manifests, base_records = live entries,
        delta_files = ideal manifest count ceil(entries/target),
        delta_records = the √-packing target. Callers apply it with
        rewrite_manifests()."""
        if not pin.files:
            return []
        _meta_num, meta, prev, old_list = pin.base
        target = _manifest_target(len(pin.files))
        # LSM-aged scope (round 14): pricing sees only the COLD
        # manifests — the subset rewrite_manifests will actually
        # consolidate — so a REPACK row is emitted exactly when the
        # aged apply would act (pricing a repack whose apply no-ops
        # would skip the history-resetting marker: decision
        # livelock).  The counters describe the aged repack's own
        # work: cold manifests in, ceil(cold_entries/target) packs
        # of ~target out.
        cold, _hot = _split_lsm(old_list, prev["sequence-number"], target)
        cold_entries = _entry_count(cold)
        if not cold or not _repack_priced(
            cold, cold_entries, target, self._repack_history(meta)
        ):
            return []
        return [
            {
                "bucket": -1,
                "base_files": len(cold),
                "base_records": cold_entries,
                "delta_files": -(-cold_entries // target),
                "delta_records": target,
                "delta_removes": 0,
                "small_delta_files": 0,
                "decision": "REPACK",
            }
        ]

    def _merge_key(self, meta: dict) -> str:
        """The merge key is the partition-spec SOURCE field (persisted
        by init) — never assume the default on a read path."""
        return meta["partition-spec"][0]["source"]

    # -- schema evolution ---------------------------------------------------

    def _apply_schema(self, meta: dict, new_schema_json: str) -> dict:
        """Metadata copy with a NEW schema appended to the schema
        history (the spec's schemas list + current-schema-id); the flat
        ``schema`` key stays the current schema for every existing read
        path. Snapshots committed after this carry the new schema-id,
        so time travel resolves the schema in effect at each version."""
        m = dict(meta)
        cur_id = m.get("current-schema-id", 0)
        schemas = list(
            m.get("schemas", [{"schema-id": cur_id, "schema": m["schema"]}])
        )
        new_id = cur_id + 1
        schemas.append({"schema-id": new_id, "schema": new_schema_json})
        m["schemas"], m["current-schema-id"], m["schema"] = (
            schemas, new_id, new_schema_json,
        )
        return m

    def _schema_at(self, meta: dict, snap: dict) -> str:
        """Schema in effect when `snap` was committed (its schema-id
        resolved against the metadata's schema history); pre-evolution
        tables and snapshots fall back to the flat current schema."""
        sid = snap.get("schema-id")
        if sid is not None:
            for s in meta.get("schemas", []):
                if s["schema-id"] == sid:
                    return s["schema"]
        return meta["schema"]

    # -- snapshot construction ----------------------------------------------

    def _manifest_summary(self, rel: str, entries: list[dict], seq: int) -> dict:
        bs = [e["data_file"]["partition"]["bucket"] for e in entries]
        return {
            "manifest_path": rel,
            "added_files_count": sum(e["status"] == "ADDED" for e in entries),
            "existing_files_count": sum(e["status"] == "EXISTING" for e in entries),
            "partitions": {"bucket": {"lower": min(bs), "upper": max(bs)}},
            # the snapshot sequence that (re)wrote this manifest file —
            # Iceberg's added_snapshot_id analog, the age signal the
            # LSM-aged repack reads (_split_lsm).  Untouched manifests
            # are reused by path with their summary intact, so age =
            # commits since this manifest was last rewritten.
            "added_sequence_number": seq,
        }

    def _build_snapshot(
        self,
        prev: dict | None,
        removed_paths: set[str],
        new_entries: list[dict],
        operation: str,
    ) -> dict:
        """One snapshot's manifest tree: manifests with no removed file
        are REUSED by path; touched manifests are rewritten without the
        removed entries (survivors demoted to EXISTING); new files land
        in one fresh ADDED manifest.

        The summary records this commit's ACTUAL manifest-rewrite tax
        (Iceberg-metric style): ``rewritten-entries`` = surviving
        entries re-serialized because their manifest lost a file, and
        ``removed-buckets`` = distinct buckets the removed files lived
        in (what the same commit would touch on a PACKED layout — one
        pack per removed bucket).  The repack pricing's ski-rental rule
        charges measured tax, never a prediction (round-12 60-commit
        drill: cover-based prediction over-counts savings for
        multi-bucket hot-key trickles and repacked a workload that got
        strictly worse afterwards)."""
        manifest_list: list[dict] = []
        rewritten = 0
        removed_buckets: set[int] = set()
        seq = 1 if prev is None else prev["sequence-number"] + 1
        if prev is not None:
            for m in self._manifest_list(prev):
                entries = self._read_ndjson(m["manifest_path"])
                kept = [
                    e
                    for e in entries
                    if e["data_file"]["file_path"] not in removed_paths
                ]
                if len(kept) == len(entries):
                    manifest_list.append(m)  # untouched: reuse by path
                    continue
                removed_buckets.update(
                    e["data_file"]["partition"]["bucket"]
                    for e in entries
                    if e["data_file"]["file_path"] in removed_paths
                )
                if kept:
                    for e in kept:
                        e["status"] = "EXISTING"
                    rewritten += len(kept)
                    rel = self._write_ndjson("manifest", kept)
                    manifest_list.append(self._manifest_summary(rel, kept, seq))
        if new_entries:
            rel = self._write_ndjson("manifest", new_entries)
            manifest_list.append(self._manifest_summary(rel, new_entries, seq))
        snap = self._snapshot_shell(prev, manifest_list, operation)
        snap["summary"]["rewritten-entries"] = str(rewritten)
        snap["summary"]["removed-buckets"] = str(len(removed_buckets))
        return snap

    def _snapshot_shell(
        self, prev: dict | None, manifest_list: list[dict], operation: str
    ) -> dict:
        """Snapshot record over an already-built manifest list (shared
        by _build_snapshot and the metadata-only rewrite_manifests)."""
        seq = 1 if prev is None else prev["sequence-number"] + 1
        sid = uuid.uuid4().int >> 65  # 63-bit snapshot id, Iceberg-style
        ml_rel = self._write_ndjson(f"snap-{seq:06d}", manifest_list)
        # clamped monotonic (max(prev_ts, now), as Iceberg effectively
        # does): wall clocks of concurrent writer PROCESSES can skew,
        # and a timestamp dip would break expire_versions' prefix rule
        # and the death-time walk's successor pairing
        ts = int(time.time() * 1000)
        if prev is not None:
            ts = max(ts, prev.get("timestamp-ms", 0))
        return {
            "snapshot-id": sid,
            "sequence-number": seq,
            "timestamp-ms": ts,  # spec field; GC
            # retention compares against it (expire_versions)
            "manifest-list": ml_rel,
            # total-manifests analog: the list length every later
            # commit republishes — rule (b)'s list term reads it
            "summary": {
                "operation": operation,
                "manifest-length": str(len(manifest_list)),
            },
        }

    def _commit_snapshot(self, meta_num: int, meta: dict, snap: dict) -> None:
        new_meta = dict(meta)
        new_meta["snapshots"] = meta["snapshots"] + [snap]
        new_meta["current-snapshot-id"] = snap["snapshot-id"]
        # spec field: the schema in effect when this snapshot committed,
        # so time travel reads under the right width (_schema_at)
        snap.setdefault("schema-id", meta.get("current-schema-id", 0))
        self._commit_meta(meta_num, new_meta)

    # -- SinkFormat -----------------------------------------------------------

    def init(self, snapshot: DataFrame, key: str = "key") -> None:
        snap = snapshot
        if "op" not in snap.columns:
            snap = snap.withColumn("op", F.lit("INSERT"))
        schema_json = snap.schema.json()
        name, n = self._init_transform()
        bucketed = snap.withColumn("bucket", self._bucket(F.col(key)))
        entries = self._write_data(bucketed, 1)
        meta = {
            "format-version": 2,
            "table-uuid": uuid.uuid4().hex,
            "schema": schema_json,
            "schemas": [{"schema-id": 0, "schema": schema_json}],
            "current-schema-id": 0,
            "partition-spec": [
                {"name": "bucket", "transform": f"{name}[{n}]", "source": key}
            ],
            "snapshots": [],
            "current-snapshot-id": None,
        }
        snap_rec = self._build_snapshot(None, set(), entries, "append")
        self._commit_snapshot(1, meta, snap_rec)

    def latest_version(self) -> int:
        meta = self._current_meta()
        if not meta["snapshots"]:
            raise ValueError(f"no snapshots in {self.path}")
        return meta["snapshots"][-1]["sequence-number"]

    # -- maintenance --------------------------------------------------------

    def rewrite_manifests(
        self,
        target_entries: int | None = None,
        max_attempts: int = 5,
        age_floor: int | None = None,
    ) -> int:
        """rewriteManifests analog — the maintenance op that bounds
        per-commit METADATA width (round-9 scale finding): a
        metadata-only commit that repacks the live manifest entries
        into manifests of ~``target_entries`` each, grouped by
        contiguous bucket ranges (tight partition summaries, so the
        two-level prune stays exact). No data file is touched.

        Why it matters at 10⁴+ buckets: init lands the whole table in
        ONE manifest, so every trickle MERGE that removes a file from
        it must rewrite all O(table) surviving entries — the measured
        ~400 KB/commit (SCALE.md round-9 table). After repacking, a
        commit touching b buckets rewrites only the ≤b small manifests
        covering them: O(b·target) entries instead of O(table). The
        default target balances the two per-commit costs — rewritten
        manifest entries (∝ target) against manifest-list rows
        (∝ entries/target) — at √total, giving O(√table) per-commit
        metadata instead of O(table).

        LSM-aged (round 14; SCALE.md round-12 addendum): only manifests
        at least REPACK_AGE_FLOOR_COMMITS commits old (or young-but-
        bigger-than-target — a bulk-load monolith must not wait out the
        floor) are consolidated; manifests rewritten more recently hold
        the hot files and are reused by path, so a hot key's next
        update keeps rewriting a cheap tiny manifest instead of the
        ~target-entry pack it would have been consolidated into — the
        measured 60-commit regression mechanism.

        Returns the number of manifests after the rewrite (0 = empty
        table, nothing committed). Same pin-before-read loser-retry as
        every other commit (`_optimistic`, pinning the manifest list
        without opening a manifest); a no-op (aged subset already
        packed) publishes nothing.
        """
        if target_entries is not None and target_entries < 1:
            raise ValueError(f"target_entries must be >= 1, got {target_entries}")

        def attempt(pin: Pin) -> int:
            meta_num, meta, prev, old_list = pin.base
            n_live = _entry_count(old_list)
            if not n_live:
                return 0
            target = (
                target_entries
                if target_entries is not None
                else _manifest_target(n_live)
            )
            # LSM-aged consolidation (round 14): manifests rewritten
            # within the last REPACK_AGE_FLOOR_COMMITS commits hold the
            # hot files — they stay out of the packs (reused by path,
            # age intact) so the workload's next touch of those files
            # rewrites a cheap tiny manifest, not a ~target-entry pack.
            # The pricing (_repack_priced in optimize_plan) is scoped
            # to the same cold subset, so a priced REPACK always acts.
            # age_floor=0 is the explicit-operator full repack.
            cold, hot = _split_lsm(
                old_list,
                prev["sequence-number"],
                target,
                REPACK_AGE_FLOOR_COMMITS if age_floor is None else age_floor,
            )
            entries = [
                e
                for m in cold
                for e in self._read_ndjson(m["manifest_path"])
            ]
            groups = _pack_groups(entries, target) if entries else []
            if _manifests_packed(cold, groups, target):
                return len(old_list)  # no no-op commit
            seq = prev["sequence-number"] + 1
            manifest_list = [
                self._manifest_summary(self._write_ndjson("manifest", g), g, seq)
                for g in groups
            ] + hot
            snap_rec = self._snapshot_shell(prev, manifest_list, "replace")
            # Iceberg-style summary metric; also the marker the
            # hysteresis pricing uses to count commits since the last
            # repack (_repack_history)
            snap_rec["summary"]["manifests-replaced"] = str(len(cold))
            self._commit_snapshot(meta_num, meta, snap_rec)
            return len(manifest_list)

        return self._optimistic(
            "rewriteManifests", attempt, max_attempts, buckets=set()
        )

    def _truncate(
        self, keep_last: int, older_than_ms: int | None = None
    ) -> Retained:
        """expireSnapshots: publish a new metadata file with the expired
        snapshots dropped from the list (same put-if-absent commit as
        any writer — concurrent MERGEs race it safely, and a lost race
        recomputes the horizon). ``older_than_ms`` adds the spec's time
        axis (expireSnapshots' olderThan): snapshots newer than it are
        retained even beyond ``keep_last`` — the retention knob that
        bounds how far back a pinned reader can be without racing GC.
        A dead object dies at the timestamp of the first snapshot that
        no longer references it."""

        def attempt(pin: Pin) -> Retained:
            meta_num, meta, _snap, _list = pin.base
            snaps = meta["snapshots"]
            horizon = max(1, snaps[-1]["sequence-number"] - keep_last + 1)
            # expireSnapshots(olderThan, retainLast): both constraints
            # RETAIN — a snapshot expires only when it is outside the
            # trailing keep_last window AND (when olderThan is given)
            # older than the timestamp. The expired set is a STRICT
            # PREFIX (stop at the first snapshot failing either
            # constraint): snapshot timestamps come from each
            # committer's wall clock, so clock skew between concurrent
            # writer processes can make the raw olderThan filter select
            # a non-contiguous set — which would pair wrong successors
            # in the death-time walk below and understate death times
            # (files reclaimable inside their grace). Stopping at the
            # first survivor only ever retains MORE, and keeps the
            # retained suffix contiguous (the walk relies on that).
            expired: list[dict] = []
            for s in snaps:
                if s["sequence-number"] >= horizon or (
                    older_than_ms is not None
                    and s.get("timestamp-ms", 0) >= older_than_ms
                ):
                    break
                expired.append(s)
            if not expired:
                return Retained([], set(), {})
            retained = snaps[len(expired):]
            self._commit_meta(meta_num, {**meta, "snapshots": retained})
            # GC accounting against the RETAINED tree only, after the
            # commit is visible (Iceberg's remove-then-delete order).
            # Manifests are REUSED across snapshots — memoize so each
            # is read exactly once per expiry call, across the keep
            # loop AND the death-time walk below.
            manifest_memo: dict[str, list[str]] = {}

            def refs(s: dict) -> set[str]:
                out = {s["manifest-list"]}
                for m in self._manifest_list(s):
                    mp = m["manifest_path"]
                    if mp not in manifest_memo:
                        manifest_memo[mp] = [
                            e["data_file"]["file_path"]
                            for e in self._read_ndjson(mp)
                        ]
                    out.add(mp)
                    out.update(manifest_memo[mp])
                return out

            keep: set[str] = set()
            for s in retained:
                keep |= refs(s)
            # each dead object's last reference is in some expired
            # snapshot; its death is the NEXT snapshot in the chain.
            # Walk backwards so each snapshot's refs are computed once.
            death_ms: dict[str, int] = {}
            chain = expired + retained[:1]
            next_refs = refs(chain[-1])
            for i in range(len(chain) - 2, -1, -1):
                cur_refs = refs(chain[i])
                ts = chain[i + 1].get("timestamp-ms", 0)  # legacy: aged
                for rel in cur_refs - next_refs:
                    death_ms[rel] = ts
                next_refs = cur_refs
            # old metadata files: keep the trailing PREVIOUS_METADATA_KEPT
            # (Iceberg's write.metadata.previous-versions-max) so a writer
            # that pinned its base metadata just before this expiry can
            # still read it, hit EEXIST on its own commit, and retry —
            # eager deletion of ALL of them crashed such racers
            # (round-7 review finding)
            for n in range(1, meta_num - PREVIOUS_METADATA_KEPT + 1):
                p = self._meta_path(n)
                if os.path.exists(p):
                    os.remove(p)
            return Retained([s["sequence-number"] for s in expired], keep, death_ms)

        return self._optimistic("expireSnapshots", attempt, buckets=set())


# ---------------------------------------------------------------------------
# registered queries: the whole protocol under one oracle hash
# ---------------------------------------------------------------------------


def _lower_half(sink: LogTable) -> set[int]:
    """The lower half of the table's PERSISTED buckets, at least one:
    the MOR drills' compact_mor set, which must fold something at any
    creation width (half of one bucket is none)."""
    return set(range(max(1, sink._transform()[1] // 2)))


def _register_iceberg_fold() -> None:
    """Deferred import so the module stays importable without the
    registry side effects it feeds (registry imports THIS module)."""
    from ..operators.cdc import changelog, fold_changelog, with_changelog
    from ..registry import register, tracked_persist
    from .drill import Drill
    from .log_table import log_fold_drill, optimize_plan_drill

    @register(
        "q_cdc_iceberg_log_fold",
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
    def q_cdc_iceberg_log_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The Iceberg-shaped table format end to end under one oracle
        hash — the same drill the Delta-protocol log passes
        (q_cdc_delta_log_fold), proving the seam generalizes across
        metadata designs: init = fold of the changelog's first third,
        two MERGE commits (manifest-pruned, loser-retry protocol), a
        rewriteDataFiles past the full reorder horizon (settled
        tombstones rewritten away), then expireSnapshots to the last
        two (metadata republication + manifest/data GC with orphan
        sweep). What survives all four maintenance operations must
        still equal the plain changelog fold — the PITR identity
        (`state-machine.json` restore path) expressed through the
        snapshot-tree format rather than the transaction-log format."""
        return log_fold_drill(spark, sf_dir, IcebergLogSink, "icebergfold")

    @register(
        "q_cdc_iceberg_mor_fold",
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
    def q_cdc_iceberg_mor_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The Iceberg merge-on-read lane end to end under one oracle
        hash — the manifest-tree twin of q_stream_mor_ingest's Delta
        drill: init = fold of the changelog's first third, then TWO
        blind appends (upserts as data files, REMOVEs as equality-
        delete files — the v2 row-level-delete write, no reads, no
        removed files), compact_mor over HALF the buckets (pending
        files folded into rewritten base), a settled-tombstone OPTIMIZE
        (which must SKIP the still-pending buckets — the round-8
        resurrection guard under this protocol), then expireSnapshots
        with orphan sweep. visible() must still equal the plain
        changelog fold whichever lane each row travelled — reference
        A13/A14 (`lambda-backfill/main.py:22,33-46`) under the third
        protocol's write-cheap lane."""
        cl = changelog(spark, sf_dir).select(
            "seq_no", "op", "key", "payload_value"
        )
        max_seq = cl.agg(F.max("seq_no")).first()[0]  # orchestration scalar
        c1, c2 = max_seq // 3, (2 * max_seq) // 3
        with Drill(spark, "icebergmor") as d:
            sink = IcebergLogSink(spark, d.dir("t"))
            # NO width pin: compact_mor folds + full compact are real
            # merges (r16 idle-32 A/B: pinned 22.59 s vs session 7.12 s —
            # the widest gap of the audit)
            sink.init(fold_changelog(cl.where(F.col("seq_no") <= c1)))
            sink.append(
                cl.where((F.col("seq_no") > c1) & (F.col("seq_no") <= c2))
            )
            sink.append(cl.where(F.col("seq_no") > c2))
            sink.compact_mor(_lower_half(sink))
            sink.compact(reorder_horizon_seq=int(max_seq) + 1)
            # grace 0 is safe here: this builder is the table's only writer
            sink.expire_versions(keep_last=2, sweep_orphans=True, orphan_grace_s=0.0)
            result = tracked_persist(
                sink.visible().select("key", "last_seq", "payload_value")
            )
            result.count()  # materialize before the backing dirs go away
        return result

    @register(
        "q_cdc_iceberg_schema_evolution",
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
    def q_cdc_iceberg_schema_evolution(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Add-column schema evolution through the manifest-tree
        protocol's MERGE-ON-READ lane, end to end under one oracle
        hash (the Delta twin evolves via MERGE; this drill proves the
        harder interleaving): init + one MERGE carry only
        payload_value; the final batch arrives as a blind APPEND with a
        NEW payload_props column, publishing a new schema-id in the
        metadata file's schema history in the same commit. compact_mor
        then folds half the buckets' pending wide files over narrow
        base files (null-fill on read), and expireSnapshots GCs past
        the evolution point. The surviving state must equal the plain
        changelog fold where only rows whose WINNING entry postdates
        the evolution carry the new column — reference parity: the
        schemaless payload drift of `lambda-backfill/main.py:35-39`
        surviving a restore."""
        cl = changelog(spark, sf_dir).select(
            "seq_no", "op", "key", "payload_value", "payload_props"
        )
        max_seq = cl.agg(F.max("seq_no")).first()[0]  # orchestration scalar
        c1, c2 = max_seq // 3, (2 * max_seq) // 3
        narrow = cl.drop("payload_props")
        with Drill(spark, "icebergevo") as d:
            sink = IcebergLogSink(spark, d.dir("t"))
            # NO width pin: MERGE + compact_mor are compute-bound (r16
            # idle-32 A/B: pinned 13.67 s vs session width 5.60 s)
            sink.init(fold_changelog(narrow.where(F.col("seq_no") <= c1)))
            sink.apply_batch(
                narrow.where((F.col("seq_no") > c1) & (F.col("seq_no") <= c2))
            )
            sink.append(cl.where(F.col("seq_no") > c2))  # evolves, MOR lane
            sink.compact_mor(_lower_half(sink))
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
        "q_cdc_iceberg_optimize_plan",
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
           (op = 'REMOVE') AS is_del,
           CAST(count(*) AS BIGINT) AS recs
    FROM changelog, p WHERE seq_no > c1
    GROUP BY 1, 2, 3)
, deltas AS (
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS delta_files,
           CAST(sum(recs) AS BIGINT) AS delta_records,
           CAST(sum(CASE WHEN is_del THEN recs ELSE 0 END) AS BIGINT)
               AS delta_removes,
           CAST(sum(CASE WHEN recs < 100 THEN 1 ELSE 0 END) AS BIGINT)
               AS small_delta_files
    FROM files GROUP BY 1)
, mrows AS (
    -- one row per live manifest: init over the base buckets, one per
    -- non-empty append commit over its touched buckets — the same
    -- spans _manifest_summary records, plus the snapshot sequence
    -- that wrote each manifest (init = 1; appends = 1 + rank among
    -- non-empty commits — empty batches publish no snapshot)
    SELECT CAST(1 AS BIGINT) AS seq,
           min(bucket) AS lo, max(bucket) AS hi,
           CAST(count(*) AS BIGINT) AS n
    FROM base HAVING count(*) > 0
    UNION ALL
    SELECT 1 + CAST(row_number() OVER (ORDER BY commit_i) AS BIGINT),
           lo, hi, n
    FROM (SELECT commit_i, min(bucket) AS lo, max(bucket) AS hi,
                 CAST(count(*) AS BIGINT) AS n
          FROM files GROUP BY commit_i))
, tstat AS (
    -- pack target from ALL live entries; cur = current sequence
    SELECT CAST(max(seq) AS BIGINT) AS cur,
           GREATEST(CAST(16 AS BIGINT),
                    CAST(floor(sqrt(sum(n))) AS BIGINT)) AS target
    FROM mrows)
, cold AS (
    -- LSM age floor (engine _split_lsm): manifests rewritten within
    -- the last 2 commits AND no bigger than the pack target are HOT
    -- and exempt from pricing/consolidation; blind appends never
    -- rewrite a manifest, so age here is just cur - write seq
    SELECT r.seq, r.lo, r.hi, r.n FROM mrows r, tstat t
    WHERE NOT (t.cur - r.seq < 2 AND r.n <= t.target))
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
UNION ALL
SELECT CAST(-1 AS BIGINT) AS bucket,
       m.manifests AS base_files,
       m.entries AS base_records,
       (m.entries + m.target - 1) // m.target AS delta_files,
       m.target AS delta_records,
       CAST(0 AS BIGINT) AS delta_removes,
       CAST(0 AS BIGINT) AS small_delta_files,
       'REPACK' AS decision
FROM (
    SELECT c.manifests, c.entries, c.total_w, ts.target,
           -- width-1 oversized manifests are irreducible (a bucket's
           -- files stay together in the engine's _pack_groups) and
           -- contribute no repack benefit — excluded from cover;
           -- cover/entries/width are COLD-scoped (the aged repack's
           -- own work), the target stays table-global
           (SELECT CAST(sum(CASE WHEN r.lo = r.hi AND r.n > t2.target
                                 THEN 0
                                 ELSE r.n * (r.hi - r.lo + 1) END)
                    AS BIGINT)
            FROM cold r, tstat t2) AS cover
    FROM (
        SELECT CAST(count(*) AS BIGINT) AS manifests,
               CAST(sum(n) AS BIGINT) AS entries,
               CAST(max(hi) - min(lo) + 1 AS BIGINT) AS total_w
        FROM cold
    ) c, tstat ts
) m
-- the engine's _repack_priced model over the COLD subset, verbatim
-- for THIS lifecycle: (c) shattered cold list, else gated on
-- cold entries > target: (a) predicted immediate payback —
-- E[excess] >= cold_entries/2.  Rule (b), the measured ski-rental,
-- cannot fire on this lifecycle, but NOT because its terms vanish
-- (round-14 advice: blind appends zero the rewrite term rw - rb x
-- target, yet the round-14 LIST term max(0, mlen - ideal) is
-- nonzero whenever the list outgrows the packed length).  The real
-- bound is horizon arithmetic: while (c) has not fired, mlen <=
-- 2*ideal, so each commit banks < ideal and after T commits paid <
-- T*ideal; (b) needs paid >= cold_entries ~= ideal*target, i.e.
-- T >= target ~= sqrt(entries) commits.  This drill runs 6 commits
-- against target = floor(sqrt(entries)) > 6, so (b) stays short of
-- its threshold here — at long horizons it IS the designed backstop
-- (the ~commit-300 crossover in the SCALE.md horizon drill), which
-- tests/test_iceberg_log_sink.py::
-- test_rule_b_fires_after_c_horizon_on_blind_appends pins.
WHERE m.manifests > 2 * ((m.entries + m.target - 1) // m.target)
   OR (m.entries > m.target
       AND m.cover > m.target * m.total_w
       AND 2 * (m.cover - m.target * m.total_w)
                >= m.entries * m.total_w)
"""
        ),
    )
    def q_cdc_iceberg_optimize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The maintenance-policy layer under the MANIFEST-TREE
        protocol — q_cdc_optimize_plan's twin, proving the policy
        generalizes across the SinkFormat seam: same init + six blind
        appends, but each append splits into data files and
        equality-delete files (one of each per touched bucket per
        commit), so the oracle's file arithmetic groups by (bucket,
        commit, is-delete) and the remove count IS the delete files'
        record_count — no stats blob needed, the v2 manifest entries
        carry everything. Decision thresholds and output schema are
        byte-identical to the Delta twin (small-file fan-in ≥ 3 under
        100 rows, or tombstone debt > 15% of bucket rows), plus one
        Iceberg-only TABLE row (bucket = -1): the manifest REPACK
        pricing. The oracle re-derives the manifest spans from the
        same changelog arithmetic (init over base buckets, one
        manifest per non-empty append over its touched buckets) and
        applies the engine's _repack_priced model VERBATIM for this
        lifecycle — LSM-aged (round 14): manifests written within the
        last REPACK_AGE_FLOOR_COMMITS commits and no bigger than the
        pack target are hot and exempt, so pricing and counters cover
        only the COLD subset — shattered cold list, or (gated on cold
        entries > target) predicted immediate payback E[excess] ≥
        cold_entries/2, with width-1 oversized manifests excluded
        from cover; the measured
        ski-rental arm is structurally zero here because blind
        appends rewrite no manifest — so the row appears on exactly
        the layouts the engine prices, never unconditionally
        (round-11 review: an unconditional row would hash-mismatch on
        a fixture whose appends touch few contiguous buckets)."""
        return optimize_plan_drill(spark, sf_dir, IcebergLogSink, "iceoptplan")


_register_iceberg_fold()
