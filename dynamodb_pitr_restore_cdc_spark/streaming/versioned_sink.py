"""Versioned CDC sink: copy-on-write time travel — the engine's own
point-in-time restore.

The reference's whole identity is PITR: restore a table to an earlier
point, then replay CDC forward (`cdk/lib/cdk-stack.ts:119`
`eventName: ["RestoreTableToPointInTime"]`; README restore flow). On
DynamoDB that restore is a managed service call; on a 100 TB lakehouse
the equivalent is a VERSIONED table: every merge commit produces a new
snapshot version, any retained version is readable ("restore" =
reading it — zero data movement), and old versions expire explicitly.

Layout (Iceberg-style manifests, radically simplified):

    <path>/data/<token>/bucket=<b>/part-*.parquet  files of one commit attempt
    <path>/manifests/shards/<tok>.json             {bucket -> data token} for one shard
    <path>/manifests/roots/<tok>.json              staged root (pre-commit)
    <path>/manifests/v<N>.json                     published root {shard -> shard token}
    <path>/LATEST                                  "N:<root token>" pointer

Copy-on-write at BUCKET granularity: commit N rewrites only the
buckets its batch touches; every untouched bucket is inherited by
pointing the new manifest at the data token an earlier commit already
wrote. Reading version V resolves V's manifest and reads exactly the
named bucket directories — manifest-level partition pruning, no
directory walk, no filter on a partition column.

The bucket->token map is SHARDED by bucket range (``shard_size``
buckets per shard file): a commit writes only the shard files whose
ranges contain touched buckets and inherits every other shard by
token reference in a small root manifest. Commit metadata cost is
O(touched shards), not O(buckets) — at 10^5+ buckets the single-JSON
manifest would otherwise become the very bottleneck the reference's
25-item write chunks were.

Commit protocol (optimistic, multi-writer, crash-safe): every attempt
stages its data and manifests under fresh unique tokens, then performs
ONE conditional swap of the LATEST pointer (compare-and-set on the
exact value it read). A loser re-reads the winner's manifest and either
REBASES (winner touched disjoint buckets: re-point and retry the CAS —
no data rewrite) or RE-MERGES (winner rewrote a bucket this batch also
touches: redo the merge against the new state), bounded by
``max_commit_retries``. This reproduces, under concurrency, exactly the
serial semantics the reference gets from single-consumer FIFO delivery
(`cdk-stack.ts:47`, `lambda-backfill/main.py:25`). A crash at any point
before the pointer swap leaves only unreferenced token files that the
orphan sweep removes; readers never see a half commit.

The pointer itself is behind a swappable ``PointerStore`` seam:
locally a file with an flock'd compare-and-replace; on an object store
(the actual 100 TB substrate) atomic rename DOES NOT EXIST and this
seam is where a conditional put goes — S3 ``If-Match``/``If-None-Match``
preconditions, a DynamoDB conditional write, or a catalog (Glue/HMS/
Nessie) holding the table pointer. Do not ship the file store to S3.

Scale: a commit costs O(touched buckets) data writes + O(touched
shards) manifest writes + one pointer CAS. Time travel costs nothing
at write time; retention is a policy knob
(`expire_versions(keep_last=...)`), the 35-day PITR window's analog;
readers pin versions (``pinned()``) to fence expiry races.
"""

from __future__ import annotations

import fcntl
import json
import os
import shutil
import threading
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.cdc import cdc_merge_tombstone, visible
from .table_files import diff_states, repartition_by_bucket

N_BUCKETS_DEFAULT = 32
SHARD_SIZE_DEFAULT = 1024  # buckets per manifest shard file

_M32 = 0xFFFFFFFF
_M64 = 0xFFFFFFFFFFFFFFFF


def _murmur3_hash_long(value: int, seed: int = 42) -> int:
    """Spark's `hash()` for a LongType column, computed driver-side:
    Murmur3 x86_32 over the two 32-bit halves (low first), seed 42 —
    the public algorithm Spark's Murmur3_x86_32.hashLong implements.
    Returns the SIGNED int32 Spark returns; pinned against F.hash in
    tests so a Spark-side change can never silently diverge."""

    def rotl32(x, r):
        return ((x << r) | (x >> (32 - r))) & _M32

    def mix_k1(k1):
        k1 = (k1 * 0xCC9E2D51) & _M32
        k1 = rotl32(k1, 15)
        return (k1 * 0x1B873593) & _M32

    def mix_h1(h1, k1):
        h1 ^= k1
        h1 = rotl32(h1, 13)
        return (h1 * 5 + 0xE6546B64) & _M32

    v = value & _M64
    h1 = seed & _M32
    h1 = mix_h1(h1, mix_k1(v & _M32))
    h1 = mix_h1(h1, mix_k1((v >> 32) & _M32))
    h1 ^= 8
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _M32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _M32
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def _xxhash64_long(value: int, seed: int) -> int:
    """Spark's `xxhash64()` for a LongType column, driver-side: the
    public XXH64 single-long path. Returns Spark's signed int64;
    pinned against F.xxhash64 in tests."""
    P1, P2, P3, P4, P5 = (
        0x9E3779B185EBCA87,
        0xC2B2AE3D27D4EB4F,
        0x165667B19E3779F9,
        0x85EBCA77C2B2AE63,
        0x27D4EB2F165667C5,
    )

    def rotl64(x, r):
        return ((x << r) | (x >> (64 - r))) & _M64

    h = (seed + P5 + 8) & _M64
    k1 = (value & _M64) * P2 & _M64
    k1 = rotl64(k1, 31)
    k1 = (k1 * P1) & _M64
    h ^= k1
    h = (rotl64(h, 27) * P1 + P4) & _M64
    h ^= h >> 33
    h = (h * P2) & _M64
    h ^= h >> 29
    h = (h * P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


class CommitConflictError(RuntimeError):
    """Raised when a commit loses the pointer CAS more than
    ``max_commit_retries`` times — the optimistic protocol's bounded
    give-up, after which the caller owns backoff/abort policy."""


class PointerStoreUnavailableError(RuntimeError):
    """A pointer-store call failed and the conditional put was
    DEFINITELY NOT applied (connection refused, 503 before the write).
    Safe to retry the same CAS verbatim; the sink does so a bounded
    number of times before surfacing this error."""


class CommitStateUnknownError(RuntimeError):
    """The conditional put's OUTCOME IS UNKNOWN — the request may have
    been applied server-side while the response was lost (timeout,
    connection reset after send). The object-store failure mode Iceberg
    models as CommitStateUnknownException: the sink must resolve it by
    re-reading the pointer, never by blindly retrying (a blind retry of
    a CAS that already won would spuriously 'lose' to itself)."""


class LocalPointerStore:
    """File-backed pointer with flock'd compare-and-set.

    ``put_if`` takes the EXACT raw value the caller read (None for
    "pointer must not exist yet") and swaps only if the pointer still
    holds it — the local twin of an object-store conditional put.
    POSIX-correct on a local/NFS-with-locks filesystem ONLY: on S3/GCS
    there is no atomic compare-and-replace, so production deployments
    must swap this class for a catalog or conditional-put
    implementation (see module docstring). Everything above this seam
    is substrate-agnostic.
    """

    def __init__(self, path: str):
        self.path = path
        self._lock_path = path + ".lock"

    def read(self) -> str | None:
        try:
            with open(self.path) as fh:
                return fh.read().strip()
        except FileNotFoundError:
            return None

    def put_if(self, expected: str | None, new: str) -> bool:
        fd = os.open(self._lock_path, os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            if self.read() != expected:
                return False
            atomic_write_text(self.path, new)
            return True
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)


class InMemoryConditionalPointerStore:
    """Object-store-shaped pointer: a strongly-consistent read plus a
    conditional put on the exact current value — the semantics of an S3
    ``If-Match`` put, a DynamoDB conditional write, or a catalog CAS —
    with INJECTABLE FAULTS so the commit protocol's failure paths can
    be raced in tests without a real object store behind them.

    ``inject(mode, before=...)`` queues one fault for the NEXT
    ``put_if`` call:

    - ``"spurious-loss"``   — return False without touching the value
      (e.g. a proxy replayed a stale 412): the caller must re-read and
      discover nothing changed.
    - ``"unavailable"``     — raise ``PointerStoreUnavailableError``;
      the value is NOT modified (request never reached the store).
    - ``"unknown-applied"`` — APPLY the swap (if the condition holds),
      then raise ``CommitStateUnknownError``: the response was lost
      after the server acted. The hardest object-store failure mode.
    - ``"unknown-lost"``    — raise ``CommitStateUnknownError`` without
      applying: same client-side symptom, opposite server-side truth.

    The optional ``before`` hook runs after the value swap (if any) and
    before the exception — the seam for interleaving a RIVAL writer's
    full commit inside the ambiguity window, which is exactly the race
    that buries an ambiguous winner behind a successor's version.
    """

    def __init__(self):
        self._value: str | None = None
        self._mu = threading.Lock()
        self._faults: list[tuple[str, object]] = []
        self.attempts = 0
        self.losses = 0
        self.faults_fired = 0

    def inject(self, mode: str, before=None) -> None:
        self._faults.append((mode, before))

    def read(self) -> str | None:
        with self._mu:
            return self._value

    def put_if(self, expected: str | None, new: str) -> bool:
        self.attempts += 1
        mode, hook = self._faults.pop(0) if self._faults else (None, None)
        if mode is not None:
            self.faults_fired += 1
        if mode == "spurious-loss":
            self.losses += 1
            return False
        if mode == "unavailable":
            raise PointerStoreUnavailableError("injected: store unreachable")
        with self._mu:
            applied = self._value == expected and mode != "unknown-lost"
            if applied:
                self._value = new
        if mode in ("unknown-applied", "unknown-lost"):
            if hook is not None:
                hook()
            raise CommitStateUnknownError("injected: response lost in flight")
        if not applied:
            self.losses += 1
        return applied


class VersionedCdcSink:
    """Bucket-partitioned CDC merge target with commit-level time travel."""

    # bounded same-CAS retries when the store is transiently down
    # (definitely-not-applied failures only; unknown outcomes are
    # resolved by read, never blind-retried)
    _MAX_STORE_RETRIES = 3

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        n_buckets: int = N_BUCKETS_DEFAULT,
        shard_size: int = SHARD_SIZE_DEFAULT,
        pointer_store=None,
        max_commit_retries: int = 5,
    ):
        self.spark = spark
        self.path = path
        self.n_buckets = n_buckets
        self.shard_size = shard_size
        self.max_commit_retries = max_commit_retries
        self.pointer = pointer_store or LocalPointerStore(os.path.join(path, "LATEST"))
        self._schema = None  # remembered for empty-table reads
        self._pins: dict[int, int] = {}  # version -> in-flight reader count
        self._pre_commit_hook = None  # test seam: called right before each CAS
        os.makedirs(os.path.join(path, "manifests", "shards"), exist_ok=True)
        os.makedirs(os.path.join(path, "manifests", "roots"), exist_ok=True)

    # -- pointer + manifest plumbing ------------------------------------

    @staticmethod
    def _parse_version(raw: str | None) -> int:
        """Pointer value -> version. An empty or unparseable pointer
        (e.g. a zero-byte LATEST left by an interrupted first commit)
        reads as version 0 — the orphan sweep covers any half-written
        data behind it."""
        if not raw:
            return 0
        try:
            return int(raw.split(":", 1)[0])
        except ValueError:
            return 0

    def latest_version(self) -> int:
        return self._parse_version(self.pointer.read())

    @staticmethod
    def _new_token() -> str:
        return uuid.uuid4().hex[:12]

    def _root_path(self, version: int) -> str:
        return os.path.join(self.path, "manifests", f"v{version}.json")

    def _shard_path(self, token: str) -> str:
        return os.path.join(self.path, "manifests", "shards", f"{token}.json")

    def _staged_root_path(self, token: str) -> str:
        return os.path.join(self.path, "manifests", "roots", f"{token}.json")

    def _root(self, version: int) -> dict[int, str]:
        """Root manifest of a commit: {shard id -> shard token}.

        Falls back to the pointer's staged root for the crash window
        between winning the CAS and publishing v<N>.json — and ROLLS
        FORWARD: the staged root is re-published under its version name
        right here, so any reader/writer that observes a committed-but-
        unpublished root completes the winner's publication for it.
        This is what keeps an AMBIGUOUSLY-committed version resolvable
        even after a successor commits on top of it (the successor's
        read lands in this fallback and publishes v<N>.json before its
        own CAS; see ``_cas``'s buried-winner resolution)."""
        try:
            with open(self._root_path(version)) as fh:
                raw = json.load(fh)
        except FileNotFoundError:
            ptr = self.pointer.read()
            if ptr and self._parse_version(ptr) == version and ":" in ptr:
                staged = self._staged_root_path(ptr.split(":", 1)[1])
                if os.path.exists(staged):
                    with open(staged) as fh:
                        raw = json.load(fh)
                    # roll-forward (fsync'd: an empty manifest after a
                    # power loss would be unrecoverable)
                    atomic_write_text(self._root_path(version), json.dumps(raw))
                    return {int(s): t for s, t in raw["shards"].items()}
            raise FileNotFoundError(
                f"no manifest for version {version} under {self.path}: "
                "either it was expired or it never committed"
            )
        return {int(s): t for s, t in raw["shards"].items()}

    def _shard_map(self, token: str) -> dict[int, str]:
        with open(self._shard_path(token)) as fh:
            raw = json.load(fh)
        return {int(b): t for b, t in raw["buckets"].items()}

    def _manifest(self, version: int, buckets=None) -> dict[int, str]:
        """Bucket -> data-token map of a commit. With ``buckets``, loads
        only the shard files covering those buckets — the read-side
        half of O(touched shards) commit metadata."""
        shards = self._root(version)
        if buckets is not None:
            need = {b // self.shard_size for b in buckets}
            shards = {s: t for s, t in shards.items() if s in need}
        out: dict[int, str] = {}
        for t in shards.values():
            out.update(self._shard_map(t))
        return out

    def _try_commit(
        self,
        new_version: int,
        new_shard_maps: dict[int, dict[int, str]],
        inherited_shards: dict[int, str],
        expected_raw: str | None,
    ) -> bool:
        """Stage shard + root files under fresh tokens, then CAS the
        pointer. On a lost race every staged file is removed — the
        loser leaves no litter to sweep."""
        shards = dict(inherited_shards)
        staged: list[str] = []
        for sid, m in sorted(new_shard_maps.items()):
            if not m:  # shard emptied out: drop it from the root
                shards.pop(sid, None)
                continue
            tok = self._new_token()
            spath = self._shard_path(tok)
            # fsync'd: these outlive the CAS (read post-commit), so a
            # power loss must not leave an empty staged file behind a
            # durable pointer
            atomic_write_text(
                spath, json.dumps({"buckets": {str(b): t for b, t in m.items()}})
            )
            staged.append(spath)
            shards[sid] = tok
        root_token = self._new_token()
        root_doc = {
            "version": new_version,
            "shards": {str(s): t for s, t in shards.items()},
        }
        rpath = self._staged_root_path(root_token)
        atomic_write_text(rpath, json.dumps(root_doc))  # same durability bar
        if self._pre_commit_hook is not None:
            self._pre_commit_hook()
        try:
            won = self._cas(
                expected_raw, f"{new_version}:{root_token}", new_version, root_doc
            )
        except PointerStoreUnavailableError:
            # definitely never applied: the attempt leaves no litter
            os.remove(rpath)
            for spath in staged:
                os.remove(spath)
            raise
        # CommitStateUnknownError escapes _cas only after the bounded
        # retry budget on repeated provably-not-applied unknowns (or if
        # a resolution READ itself dies); staged files then stay — the
        # pointer decides their fate at the next sweep_orphans (live if
        # we won, debris if we lost).
        if won:
            # publish the root under its version name for time-travel
            # readers; latest-readers resolve via the pointer token, so
            # a crash before this replace loses nothing. A buried
            # ambiguous win may find it already roll-forward-published
            # (identical content) — the replace is then a no-op rewrite.
            os.replace(rpath, self._root_path(new_version))
            return True
        os.remove(rpath)
        for spath in staged:
            os.remove(spath)
        return False

    def _cas(
        self,
        expected: str | None,
        new_raw: str,
        new_version: int,
        root_doc: dict,
    ) -> bool:
        """One conditional pointer swap, tolerant of the object-store
        failure modes (the ``PointerStore`` contract):

        - ``PointerStoreUnavailableError`` — the put was definitely not
          applied: retry the same CAS up to ``_MAX_STORE_RETRIES``
          times, then surface (infrastructure down ≠ CAS loss).
        - ``CommitStateUnknownError`` — resolve by strong read, never
          blind-retry: pointer == our value ⇒ we won; pointer == the
          value we expected ⇒ the put provably never applied, retry;
          pointer == anything else ⇒ a successor already committed on
          top of version N, so v<N>.json EXISTS (the successor's read
          roll-forward-published it, `_root`) — we won iff its content
          is the root we staged (tokens are fresh uuids: content
          equality ⟺ identity).
        """
        unavailable = 0
        unknown = 0
        while True:
            try:
                return self.pointer.put_if(expected, new_raw)
            except PointerStoreUnavailableError:
                unavailable += 1
                if unavailable > self._MAX_STORE_RETRIES:
                    raise
            except CommitStateUnknownError:
                raw = self.pointer.read()
                if raw == new_raw:
                    return True
                if raw == expected:
                    # provably not applied — but a persistent one-way
                    # partition (every put times out after send, none
                    # land) would loop here forever without a bound
                    unknown += 1
                    if unknown > self._MAX_STORE_RETRIES:
                        raise
                    continue
                try:
                    with open(self._root_path(new_version)) as fh:
                        return json.load(fh) == root_doc
                except FileNotFoundError:
                    return False

    def _bucket_dir(self, token: str, bucket: int) -> str:
        return os.path.join(self.path, "data", token, f"bucket={bucket}")

    def _bucket(self, key_col) -> F.Column:
        return F.pmod(F.hash(key_col), F.lit(self.n_buckets))

    # -- writes ---------------------------------------------------------

    def _write_buckets(self, df: DataFrame, token: str, key: str) -> list[int]:
        """Write df (tombstoned rows) into per-bucket dirs under
        data/<token>, one file per bucket (the shared
        table_files.repartition_by_bucket exchange); returns the bucket
        ids actually written. Token dirs are unique per commit ATTEMPT,
        so concurrent writers can never scribble on each other's (or
        committed) data."""
        bucketed = df.withColumn("bucket", self._bucket(F.col(key)))
        self._schema = df.schema
        out = os.path.join(self.path, "data", token)
        (
            repartition_by_bucket(bucketed, self.n_buckets)
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(out)
        )
        written = [
            int(d.split("=")[1])
            for d in os.listdir(out)
            if d.startswith("bucket=")
        ]
        if written:  # an empty write leaves no schema to read back
            self._write_blooms(out, key)
        return written

    BLOOM_BITS = 8192  # per-bucket filter width; size ~n_keys*10 at scale
    BLOOM_HASHES = 4

    _BLOOM_ALGO = "xxh64-chain-long"  # chained 8-byte path, seed 42

    def _bloom_positions(self, key_col) -> F.Column:
        """The k bit positions of a key: xxhash64 chained with a BIGINT
        variant column (the 8-byte path on both inputs, so the
        driver-side python twin in `lookup` reproduces it exactly —
        an INT literal would silently switch Spark to the 4-byte
        path)."""
        return F.array(
            *[
                F.pmod(
                    F.xxhash64(key_col, F.lit(i).cast("bigint")),
                    F.lit(self.BLOOM_BITS),
                )
                for i in range(self.BLOOM_HASHES)
            ]
        )

    def _write_blooms(self, token_dir: str, key: str) -> None:
        """Per-bucket bloom sidecar (data/<token>/bloom.json): the set
        bits of every key's k positions, built by reading back ONLY the
        key column of the just-written files (column-pruned — re-using
        the pre-write DataFrame would re-run the whole merge, no
        cross-branch CSE). Lives inside the token dir, so it shares the
        data's immutability and commit atomicity. Negative lookups test
        the filter and skip the bucket read entirely — the reference's
        GetItem-on-absent-key costs one hash probe, ours costs one tiny
        JSON + k bit tests instead of a parquet scan."""
        back = self.spark.read.parquet(token_dir).select(
            "bucket", F.explode(self._bloom_positions(F.col(key))).alias("p")
        )
        rows = (
            back.groupBy("bucket")
            .agg(F.collect_set("p").alias("ps"))
            .collect()
        )  # bounded: n_buckets × ≤BLOOM_BITS positions (control plane)
        blooms = {}
        for r in rows:
            bits = bytearray(self.BLOOM_BITS // 8)
            for p in r.ps:
                bits[p // 8] |= 1 << (p % 8)
            blooms[str(r.bucket)] = bits.hex()
        bpath = os.path.join(token_dir, "bloom.json")
        atomic_write_text(  # never a half-written (or power-lost) sidecar
            bpath,
            json.dumps(
                {
                    "m": self.BLOOM_BITS,
                    "k": self.BLOOM_HASHES,
                    "algo": self._BLOOM_ALGO,
                    "buckets": blooms,
                }
            ),
        )

    def _bloom_might_contain(self, token: str, bucket: int, positions) -> bool:
        """False only when the sidecar PROVES the key absent; missing or
        foreign-format sidecars (older commits) fall through to True."""
        bpath = os.path.join(self.path, "data", token, "bloom.json")
        try:
            with open(bpath) as fh:
                doc = json.load(fh)
            if (
                doc.get("m") != self.BLOOM_BITS
                or doc.get("k") != self.BLOOM_HASHES
                or doc.get("algo") != self._BLOOM_ALGO
            ):
                return True
            hexbits = doc["buckets"].get(str(bucket))
            if hexbits is None:
                return True
            bits = bytes.fromhex(hexbits)
            return all(bits[p // 8] & (1 << (p % 8)) for p in positions)
        except (OSError, ValueError, KeyError, AttributeError, IndexError, TypeError):
            # missing, truncated, or foreign-format sidecar: an
            # OPTIMIZATION artifact must never fail a lookup — fall
            # through to the one-bucket read it would have saved
            return True

    def _shard_maps_for(
        self, touched: list[int], merged_tokens: dict[int, str], cur_root: dict[int, str]
    ) -> tuple[dict[int, dict[int, str]], dict[int, str]]:
        """New shard contents for the shards containing touched
        buckets, plus the untouched shards inherited by token."""
        touched_set = set(touched)
        touched_sids = {b // self.shard_size for b in touched}
        new_maps: dict[int, dict[int, str]] = {}
        for sid in touched_sids:
            prev = self._shard_map(cur_root[sid]) if sid in cur_root else {}
            new_maps[sid] = {b: t for b, t in prev.items() if b not in touched_set}
        for b, t in merged_tokens.items():
            new_maps.setdefault(b // self.shard_size, {})[b] = t
        inherited = {s: t for s, t in cur_root.items() if s not in touched_sids}
        return new_maps, inherited

    def init(self, snapshot: DataFrame, key: str = "key") -> None:
        """Commit v1: the restored base snapshot, all buckets owned by
        the init commit's data token. Conditional on the table not
        existing yet (pointer CAS expected=None)."""
        snap = snapshot
        if "op" not in snap.columns:
            snap = snap.withColumn("op", F.lit("INSERT"))
        token = self._new_token()
        written = self._write_buckets(snap, token, key)
        maps, inherited = self._shard_maps_for(written, {b: token for b in written}, {})
        if not self._try_commit(1, maps, inherited, expected_raw=None):
            raise CommitConflictError(
                f"init lost the v1 CAS at {self.path}: another writer "
                "initialized this table concurrently"
            )

    def apply_batch(self, batch: DataFrame, key: str = "key") -> None:
        """Merge one micro-batch as the next commit, rewriting ONLY
        touched buckets; every other bucket/shard is inherited by
        manifest reference.

        Optimistic concurrency: the merge is computed against the
        manifest as read; if the pointer CAS then loses to a concurrent
        commit, the loser re-reads and REBASES when the winner's
        touched buckets are disjoint (no data rewrite — just re-point
        the inherited shards and retry) or RE-MERGES when they overlap
        (the previously merged data is stale — rebuild it against the
        winner's state). Bounded by ``max_commit_retries``; the final
        state equals some serial order of the batches, which is all the
        reference's FIFO queue guarantees too."""
        batch = batch.withColumn("bucket", self._bucket(F.col(key)))
        touched = sorted(r.bucket for r in batch.select("bucket").distinct().collect())
        if not touched:
            return
        base_view: dict[int, str] | None = None  # touched-bucket entries the merge saw
        merged_tokens: dict[int, str] = {}
        data_token: str | None = None
        for _ in range(self.max_commit_retries + 1):
            raw = self.pointer.read()
            cur_version = self._parse_version(raw)
            cur_root = self._root(cur_version) if cur_version else {}
            cur_view = {
                b: t
                for b, t in (
                    self._manifest(cur_version, buckets=touched) if cur_version else {}
                ).items()
                if b in set(touched)
            }
            if base_view is None or cur_view != base_view:
                # first attempt, or a concurrent commit rewrote a bucket
                # this batch also touches: (re)merge against current state
                if data_token is not None:
                    shutil.rmtree(
                        os.path.join(self.path, "data", data_token), ignore_errors=True
                    )
                base_view = cur_view
                current = self._read_buckets(cur_view)
                merged = cdc_merge_tombstone(current, batch.drop("bucket"), key=key)
                data_token = self._new_token()
                written = self._write_buckets(merged, data_token, key)
                merged_tokens = {b: data_token for b in written}
            maps, inherited = self._shard_maps_for(touched, merged_tokens, cur_root)
            try:
                if self._try_commit(cur_version + 1, maps, inherited, expected_raw=raw):
                    return
            except PointerStoreUnavailableError:
                # store down, put never applied: withdraw this attempt's
                # data before surfacing (callers own backoff-and-retry;
                # the merge is idempotent so a later retry is safe)
                if data_token is not None:
                    shutil.rmtree(
                        os.path.join(self.path, "data", data_token), ignore_errors=True
                    )
                raise
        if data_token is not None:
            shutil.rmtree(os.path.join(self.path, "data", data_token), ignore_errors=True)
        raise CommitConflictError(
            f"apply_batch gave up after {self.max_commit_retries} pointer-CAS "
            f"retries at {self.path} (buckets {touched[:8]}...): sustained "
            "concurrent-writer contention"
        )

    # -- reads ----------------------------------------------------------

    def _empty_snapshot(self) -> DataFrame:
        """A zero-row frame in the remembered schema. Built as typed
        null casts behind WHERE FALSE so Catalyst folds it to an empty
        LocalRelation — actions cost ZERO Spark jobs. The obvious
        `createDataFrame([], schema)` is RDD-backed with
        defaultParallelism empty partitions: ~0.27 s of task overhead
        per action, which would dominate a bloom MISS — the very case
        meant to be near-free (measured via scripts/lookup_bench.py).
        """
        if self._schema is None:
            raise ValueError("empty sink with no remembered schema")
        cols = [
            F.lit(None).cast(f.dataType).alias(f.name)
            for f in self._schema.fields
        ]
        return self.spark.range(1).select(*cols).where(F.lit(False))

    def _read_buckets(self, manifest: dict[int, str], only=None) -> DataFrame:
        paths = [
            self._bucket_dir(t, b)
            for b, t in sorted(manifest.items())
            if only is None or b in only
        ]
        if not paths:
            return self._empty_snapshot()
        # manifest-level pruning: ONLY the named bucket dirs are listed —
        # the bucket id is derivable from key, so no partition column is
        # needed on the way back in
        return self.spark.read.parquet(*paths)

    def snapshot(self, version: int | None = None) -> DataFrame:
        """Tombstoned state at a commit (default: latest). Time travel is
        just reading an older manifest."""
        v = self.latest_version() if version is None else version
        return self._read_buckets(self._manifest(v))

    def visible(self, version: int | None = None) -> DataFrame:
        return visible(self.snapshot(version))

    def lookup(self, key_value, version: int | None = None, key: str = "key") -> DataFrame:
        """Point lookup — the engine's GetItem: resolve the key's bucket
        with the SAME hash the writer used, load only that bucket's
        shard entry from the manifest, and read exactly one bucket
        directory. Cost is O(1) manifest shards + one bucket of data
        regardless of table size — the reference's per-item access
        pattern (DynamoDB GetItem) reproduced via manifest-level
        pruning instead of a key-value store. Absent keys are usually
        answered WITHOUT any data read: each commit writes a per-bucket
        bloom sidecar, and a clear filter bit proves absence (false
        positives only ever cost the one-bucket read they would have
        paid anyway)."""
        from pyspark.sql.types import LongType

        v = self.latest_version() if version is None else version
        if self._schema is None:
            # fresh handle on an existing table: recover the schema from
            # the manifest's parquet footers so the key hash below uses
            # the WRITER's column type, not the literal's python type
            self._schema = self._read_buckets(self._manifest(v)).schema
        key_type = (
            self._schema[key].dataType
            if self._schema is not None and key in self._schema.fieldNames()
            else None
        )
        if isinstance(key_type, LongType) and isinstance(key_value, int):
            # hot path: hash DRIVER-SIDE with the python twins of
            # Spark's murmur3/xxhash64 long paths (pinned equal in CI) —
            # a lookup, and especially a bloom MISS, must not cost a
            # Spark job just to learn its bucket
            b = _murmur3_hash_long(key_value) % self.n_buckets
            seed = _xxhash64_long(key_value, 42)
            ps = [
                _xxhash64_long(i, seed) % self.BLOOM_BITS
                for i in range(self.BLOOM_HASHES)
            ]
        else:
            # general path (non-long keys): one tiny Spark job computes
            # bucket + bloom positions with the writer's exact hashes
            lit = F.lit(key_value)
            if key_type is not None:
                lit = lit.cast(key_type)
            probe = (
                self.spark.range(1)
                .select(
                    F.pmod(F.hash(lit), F.lit(self.n_buckets)).alias("b"),
                    self._bloom_positions(lit).alias("ps"),
                )
                .first()
            )
            b, ps = probe.b, probe.ps
        m = self._manifest(v, buckets=[b])
        if b not in m or not self._bloom_might_contain(m[b], b, ps):
            # manifest says the bucket never existed, or its bloom
            # sidecar PROVES the key absent: answer without touching a
            # single data file
            snap = self._empty_snapshot()
        else:
            snap = self._read_buckets({b: m[b]})
        return visible(snap).where(F.col(key) == key_value)

    @contextmanager
    def pinned(self, version: int | None = None):
        """Pin a version for the duration of a read: ``expire_versions``
        treats pinned versions as retained, fencing the race where a
        reader holds an old manifest while expiry deletes its files.
        In-process refcount — a multi-process deployment moves this
        refcount into the same catalog that holds the pointer."""
        v = self.latest_version() if version is None else version
        self._pins[v] = self._pins.get(v, 0) + 1
        try:
            yield v
        finally:
            self._pins[v] -= 1
            if self._pins[v] <= 0:
                del self._pins[v]

    # -- retention ------------------------------------------------------

    def expire_versions(self, keep_last: int, sweep_orphans: bool = False) -> list[int]:
        """Drop manifests older than the retention window and delete
        data/shard files no retained (or pinned) manifest references —
        the PITR-window analog. Versions already expired by an earlier,
        deeper sweep are skipped, so widening ``keep_last`` later is
        safe. With ``sweep_orphans`` (only when no writer is in
        flight), also removes token files referenced by NO manifest —
        the debris of crashed or CAS-losing commit attempts.
        Returns the version ids expired this call."""
        latest = self.latest_version()
        window = set(range(max(1, latest - keep_last + 1), latest + 1))
        keep = window | {v for v, c in self._pins.items() if c > 0}
        mdir = os.path.join(self.path, "manifests")
        on_disk = {
            int(f[1:-5])
            for f in os.listdir(mdir)
            if f.startswith("v") and f.endswith(".json")
        }

        def refs(versions):
            shard_toks: set[str] = set()
            data_refs: set[tuple[str, int]] = set()
            for v in versions:
                for tok in self._root(v).values():
                    shard_toks.add(tok)
                    data_refs.update((t, b) for b, t in self._shard_map(tok).items())
            return shard_toks, data_refs

        retained = sorted(v for v in on_disk if v in keep)
        expired = sorted(v for v in on_disk if v not in keep)
        keep_shards, keep_data = refs(retained)
        exp_shards, exp_data = refs(expired)
        for tok, b in sorted(exp_data - keep_data):
            shutil.rmtree(self._bucket_dir(tok, b), ignore_errors=True)
        for v in expired:
            os.remove(self._root_path(v))
        for tok in exp_shards - keep_shards:
            os.remove(self._shard_path(tok))
        data_root = os.path.join(self.path, "data")
        if sweep_orphans:
            live_tokens = {t for t, _ in keep_data}
            for d in os.listdir(data_root) if os.path.isdir(data_root) else []:
                if d not in live_tokens:
                    shutil.rmtree(os.path.join(data_root, d), ignore_errors=True)
            live_shards = keep_shards
            sdir = os.path.join(mdir, "shards")
            for f in os.listdir(sdir):
                if f[:-5] not in live_shards:
                    os.remove(os.path.join(sdir, f))
            ptr = self.pointer.read()
            live_root = ptr.split(":", 1)[1] if ptr and ":" in ptr else None
            rdir = os.path.join(mdir, "roots")
            for f in os.listdir(rdir):
                if f[:-5] != live_root:
                    os.remove(os.path.join(rdir, f))
        # a token dir may stay alive holding buckets inherited by
        # retained manifests; remove it only when fully orphaned
        if os.path.isdir(data_root):
            for d in os.listdir(data_root):
                vdir = os.path.join(data_root, d)
                if not any(x.startswith("bucket=") for x in os.listdir(vdir)):
                    shutil.rmtree(vdir, ignore_errors=True)
        return expired

    # -- changefeed (VersionedSinkFormat seam method) -------------------

    def changes_between(self, v_from: int, v_to: int) -> DataFrame:
        """Change data feed between two commits — the seam method query
        code calls (sink_format.VersionedSinkFormat); a real table
        format swaps in its CDF/incremental read here."""
        return _changes_between(self, v_from, v_to)


# ---------------------------------------------------------------------------
# registered queries
# ---------------------------------------------------------------------------

from ..operators.behavior import _Z_EXPR as _BEHAVIOR_Z_EXPR  # noqa: E402
from ..operators.cdc import (  # noqa: E402
    cdc_merge,
    changelog,
    fold_changelog,
    with_changelog,
)
from ..registry import (  # noqa: E402
    pid_scoped_root,
    register,
    tracked_persist,
)
from .drill import Drill, read_pinned, run_available_now  # noqa: E402
from .util import atomic_write_text

# One 3-commit sink per (session, corpus), shared by the time-travel /
# changefeed / incremental-agg queries — the dedup.py band-artifact
# pattern: in production the versioned table EXISTS; per-query rebuilds
# are a fixture cost, so the replay (init + 2 commits at the 1/3 and
# 2/3 seq cutoffs) runs once per session and every consumer reads the
# same commit history.
#
# IMMUTABILITY CONTRACT (round-13, after the r12 q_cdc_history crash):
# the shared artifact is READ-ONLY for every consumer. A query that
# needs a destructive operation (expire, orphan sweep, branch write)
# must take a private clone via expired_shared_sink / _hardlink_clone —
# q_cdc_time_travel's expire_versions(keep_last=2) on the shared sink
# deleted v1's manifest before q_cdc_history read visible(version=1)
# whenever the driver window ordered time_travel first (r12 slot 27 vs
# 33; the alphabetical local suite could never see it). Guarded by
# tests/test_sink_shared_artifact.py (driver-order regression) and the
# registry-order parity run.
_SINK_ARTIFACT: dict[tuple[str, str], tuple] = {}
# the expired VIEW of the shared sink (keep_last=2, v1 aged out) —
# a separate session-memoized artifact so the expire never touches the
# shared replay
_EXPIRED_ARTIFACT: dict[tuple[str, str], "VersionedCdcSink"] = {}
# pid-scoped + dead-sibling sweep: see registry.pid_scoped_root
_SINK_ROOT = pid_scoped_root("vsink")


def shared_sink(spark: SparkSession, sf_dir: str):
    """(sink, c1, c2): the session-shared 3-commit replay of sf_dir's
    changelog — v1 = fold(seq ≤ c1), v2 = +batch(c1, c2], v3 = +rest.

    Consumers must treat the returned sink as immutable (see the
    _SINK_ARTIFACT contract above)."""
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    hit = _SINK_ARTIFACT.get(key)
    if hit is not None and os.path.isdir(hit[0].path):
        return hit
    cl = changelog(spark, sf_dir).select("seq_no", "op", "key", "payload_value")
    max_seq = cl.agg(F.max("seq_no")).first()[0]  # driver scalar: orchestration
    c1, c2 = max_seq // 3, (2 * max_seq) // 3
    sink = VersionedCdcSink(
        spark, os.path.join(_SINK_ROOT, f"sink-{uuid.uuid4().hex[:8]}")
    )
    sink.init(fold_changelog(cl.where(F.col("seq_no") <= c1)))
    sink.apply_batch(cl.where((F.col("seq_no") > c1) & (F.col("seq_no") <= c2)))
    sink.apply_batch(cl.where(F.col("seq_no") > c2))
    _SINK_ARTIFACT[key] = (sink, c1, c2)
    return _SINK_ARTIFACT[key]


def _hardlink_clone(src: VersionedCdcSink, dst_path: str) -> VersionedCdcSink:
    """O(metadata) private copy of a sink: every file hard-linked, no
    data bytes moved. Safe because the sink NEVER modifies a published
    file in place — data/shard/root/pointer writes all go through
    atomic_write_text or a fresh-token parquet write + rename, so a
    destructive op on the clone (expire's unlink/rmtree) only drops the
    clone's links while the source keeps its own. The 100 TB analog is
    a metadata-only snapshot/branch (Iceberg snapshot ref, S3 manifest
    copy): cloning cost scales with file COUNT, not data size."""
    shutil.copytree(src.path, dst_path, copy_function=os.link)
    clone = VersionedCdcSink(
        src.spark, dst_path, n_buckets=src.n_buckets, shard_size=src.shard_size
    )
    clone._schema = src._schema
    return clone


def expired_shared_sink(spark: SparkSession, sf_dir: str) -> VersionedCdcSink:
    """The retention-window view of the shared replay: a private
    hardlink clone with ``expire_versions(keep_last=2)`` already
    applied (v1's manifest gone; its untouched-bucket files survive
    only through the v2 manifest's copy-on-write references).
    Memoized per (session, corpus) like shared_sink itself, so the
    expire runs once and NEVER against the shared artifact — the r12
    q_cdc_history crash was exactly that shared mutation."""
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    hit = _EXPIRED_ARTIFACT.get(key)
    if hit is not None and os.path.isdir(hit.path):
        return hit
    src, _, _ = shared_sink(spark, sf_dir)
    clone = _hardlink_clone(
        src, os.path.join(_SINK_ROOT, f"sink-expired-{uuid.uuid4().hex[:8]}")
    )
    clone.expire_versions(keep_last=2)  # v1 ages out ON THE CLONE ONLY
    _EXPIRED_ARTIFACT[key] = clone
    return clone


@register(
    "q_cdc_time_travel",
    oracle=with_changelog(
        """
SELECT key, seq_no AS last_seq, payload_value
FROM (
    SELECT key, seq_no, op, payload_value,
           row_number() OVER (PARTITION BY key ORDER BY seq_no DESC) AS rn
    FROM changelog
    WHERE seq_no <= (SELECT (2 * max(seq_no)) // 3 FROM changelog)
) WHERE rn = 1 AND op <> 'REMOVE'
"""
    ),
)
def q_cdc_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time restore as a table read: replay the changelog into
    the versioned sink (restore base = first third, then two CDC
    commits), expire down to the retention window, and read the table
    AS OF the middle commit — which must equal the fold of the
    changelog prefix up to that commit's high-water seq (the oracle).

    The expire runs BEFORE the time-travel read on purpose: v1 leaves
    the retention window but its untouched-bucket files are still
    referenced by the v2 manifest, so copy-on-write inheritance — not
    file survival by luck — is what the oracle match proves. Round-13
    fix: the expire happens on a PRIVATE hardlink clone
    (expired_shared_sink) — in r12 it mutated the session-shared
    replay and deleted the v1 manifest q_cdc_history still reads
    (driver slot 27 vs 33: the one red row of the round).

    Reference twin: RestoreTableToPointInTime + forward CDC replay
    (`cdk/lib/cdk-stack.ts:119`, README restore flow); here restore =
    reading a retained commit, no data movement."""
    sink = expired_shared_sink(spark, sf_dir)  # v1 aged out, clone-local
    return sink.visible(version=2).select("key", "last_seq", "payload_value")


@register(
    "q_stream_versioned_sink",
    oracle=with_changelog(
        """
SELECT key, seq_no AS last_seq, payload_value
FROM (
    SELECT key, seq_no, op, payload_value,
           row_number() OVER (PARTITION BY key ORDER BY seq_no DESC) AS rn
    FROM changelog
    WHERE seq_no <= (SELECT (7 * max(seq_no)) // 9 FROM changelog)
) WHERE rn = 1 AND op <> 'REMOVE'
"""
    ),
)
def q_stream_versioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The versioned sink under a REAL stream: three pinned changelog
    splits drain through writeStream.foreachBatch → one COW commit per
    micro-batch (maxFilesPerTrigger=1, availableNow), then the table is
    read AS OF the commit two batches in — time travel against live
    streaming history. Every commit is a version, so 'what did the
    table look like N batches ago' needs no extra bookkeeping; the
    oracle is the changelog-prefix fold at that commit's high-water
    seq."""
    from .cdc_stream import CHANGELOG_STREAM_SCHEMA

    cl = changelog(spark, sf_dir)
    max_seq = cl.agg(F.max("seq_no")).first()[0]  # driver scalar: orchestration
    q1, q2, q3 = max_seq // 3, (5 * max_seq) // 9, (7 * max_seq) // 9

    s = F.col("seq_no")

    def commit_batch(batch_df: DataFrame, epoch_id: int) -> None:
        sink.spark = batch_df.sparkSession  # merge reads run on the batch session
        sink.apply_batch(batch_df.select("seq_no", "op", "key", "payload_value"))

    with Drill(spark, "vsink") as drill:
        src = drill.splits(cl.where(s > q1), [s <= q2, (s > q2) & (s <= q3), s > q3])
        sink = VersionedCdcSink(spark, os.path.join(drill.root, "sink"), n_buckets=16)
        # NO width pin: every micro-batch is a full COW merge
        # (cdc_merge_tombstone over the touched buckets) — compute-bound
        # work that wants the session width (r16 idle-32 A/B: pinned
        # 7.24 s vs unpinned 5.85 s; the r15 pin was validated on a
        # loaded host that masked the lost parallelism)
        sink.init(fold_changelog(cl.where(s <= q1)))
        run_available_now(
            read_pinned(spark, CHANGELOG_STREAM_SCHEMA, src)
            .writeStream.foreachBatch(commit_batch)
            .option("checkpointLocation", drill.dir("ckpt"))
        )
        sink.spark = spark
        if sink.latest_version() != 4:  # init + 3 split commits
            raise RuntimeError(
                f"versioned stream drained to v{sink.latest_version()}, expected v4: "
                f"a pinned split (cutoffs q1={q1} q2={q2} q3={q3}, max_seq={max_seq}) "
                "came out empty, so its micro-batch committed nothing — the fixture's "
                "seq distribution no longer covers all three splits"
            )
        result = tracked_persist(
            sink.visible(version=3).select("key", "last_seq", "payload_value")
        )
        result.count()  # materialize before the working dir is removed
    return result


def _changes_between(sink: VersionedCdcSink, v_from: int, v_to: int) -> DataFrame:
    """Change data feed between two commits, pruned at the MANIFEST
    level in two stages: a shard whose token is identical in both root
    manifests holds identical bucket entries — its shard file is never
    even opened; within differing shards, a bucket whose owning data
    token is identical points at the same immutable files — provably
    unchanged, never read. Only differing buckets are scanned from each
    side, then a per-key full-outer diff classifies INSERT / UPDATE /
    DELETE (on visible rows; tombstone-to-tombstone is no change).

    At 100 TB this is the operation that makes downstream incremental
    consumers possible: the diff cost scales with what CHANGED (touched
    shards/buckets since v_from), not with the table."""
    r_from, r_to = sink._root(v_from), sink._root(v_to)
    diff_sids = {
        s for s in set(r_from) | set(r_to) if r_from.get(s) != r_to.get(s)
    }

    def side(root):
        out: dict[int, str] = {}
        for s in diff_sids:
            if s in root:
                out.update(sink._shard_map(root[s]))
        return out

    m_from, m_to = side(r_from), side(r_to)
    changed = sorted(
        {b for b in set(m_from) | set(m_to) if m_from.get(b) != m_to.get(b)}
    )
    a = visible(sink._read_buckets(m_from, only=changed))
    b = visible(sink._read_buckets(m_to, only=changed))
    return diff_states(a, b)


# Changefeed CTEs continuing with_changelog()'s open WITH list (must
# start with ", name AS ("): `a` = table state at the middle commit,
# `b` = latest state, `feed` = the classified per-key diff. Shared by
# q_cdc_changefeed and the alerting capstone so the feed semantics are
# asserted from one text.
# The fold (changelog prefix -> visible state) and diff (two states ->
# classified changefeed) as parameterized SQL templates — THE single
# source of feed semantics for every oracle that replays commit
# transitions (q_cdc_changefeed, q_cdc_alerting here;
# q_stream_alert_routing in streaming/twins.py). One text: a future
# semantics change cannot silently diverge between them.
FOLD_SQL = """
    SELECT key, seq_no AS last_seq, payload_value
    FROM (
        SELECT key, seq_no, op, payload_value,
               row_number() OVER (PARTITION BY key ORDER BY seq_no DESC) AS rn
        FROM changelog{pred}
    ) WHERE rn = 1 AND op <> 'REMOVE'
"""

DIFF_SQL = """
    SELECT COALESCE(a.key, b.key) AS key,
           CASE WHEN a.key IS NULL THEN 'INSERT'
                WHEN b.key IS NULL THEN 'DELETE'
                ELSE 'UPDATE' END AS change_type,
           COALESCE(b.last_seq, a.last_seq) AS last_seq,
           b.payload_value AS payload_value,
           a.payload_value AS payload_value_old{extra}
    FROM {frm} a FULL JOIN {to} b ON a.key = b.key
    WHERE a.key IS NULL OR b.key IS NULL OR a.last_seq <> b.last_seq
"""

_CHANGEFEED_CTES = (
    ", a AS ("
    + FOLD_SQL.format(
        pred="\n        WHERE seq_no <= (SELECT (2 * max(seq_no)) // 3 FROM changelog)"
    )
    + "),\nb AS ("
    + FOLD_SQL.format(pred="")
    + "),\nfeed AS ("
    + DIFF_SQL.format(frm="a", to="b", extra="")
    + ")\n"
)


@register(
    "q_cdc_changefeed",
    oracle=with_changelog(
        _CHANGEFEED_CTES
        + """
SELECT key, change_type, last_seq, payload_value, payload_value_old
FROM feed
"""
    ),
)
def q_cdc_changefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed over the versioned sink: replay the changelog
    into three commits, then ask 'what changed between the middle
    commit and now' — the incremental-consumer primitive (Delta CDF /
    Iceberg incremental-read twin). The engine prunes at the manifest
    level (identical owning commit ⇒ identical files ⇒ skipped), so
    the oracle equivalence proves the pruning loses nothing."""
    sink, _, _ = shared_sink(spark, sf_dir)
    return sink.changes_between(2, 3)


@register(
    "q_cdc_incremental_agg",
    oracle=with_changelog(
        """
SELECT key % 10 AS grp,
       count(*) AS n_keys,
       sum(CAST(round(payload_value * 100) AS BIGINT)) / 100.0 AS sum_value
FROM (
    SELECT key, seq_no, op, payload_value,
           row_number() OVER (PARTITION BY key ORDER BY seq_no DESC) AS rn
    FROM changelog
) WHERE rn = 1 AND op <> 'REMOVE'
GROUP BY 1
"""
    ),
)
def q_cdc_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance off the change data feed: a grouped
    aggregate (count + exact cent-sum per key%10) is maintained by
    applying the v2→v3 changefeed's retractions and additions to the
    aggregate AT v2 — never re-scanning the table — and must equal the
    direct aggregate over the final state (the oracle).

    The delta math is the standard retract/accumulate pair: DELETE
    retracts the pre-image, INSERT accumulates the post-image, UPDATE
    does both. Exact integer cents make retraction lossless (float
    sums would drift under retraction — the reason streaming engines
    keep aggregates in exact or decimal form). At 100 TB the
    maintenance cost is O(changefeed), not O(table): this query is WHY
    the sink keeps versions."""
    sink, _, _ = shared_sink(spark, sf_dir)
    grp = (F.col("key") % 10).alias("grp")
    cents_new = F.round(F.col("payload_value") * 100).cast("bigint")
    cents_old = F.round(F.col("payload_value_old") * 100).cast("bigint")

    base = (
        sink.visible(version=2)
        .groupBy(grp)
        .agg(
            F.count("*").alias("n_keys"),
            F.sum(cents_new).alias("sum_cents"),
        )
    )
    delta = (
        sink.changes_between(2, 3)
        .groupBy(grp)
        .agg(
            F.sum(
                F.when(F.col("change_type") == "INSERT", 1)
                .when(F.col("change_type") == "DELETE", -1)
                .otherwise(0)
            ).alias("d_keys"),
            F.sum(
                F.coalesce(cents_new, F.lit(0)) - F.coalesce(cents_old, F.lit(0))
            ).alias("d_cents"),
        )
    )
    merged = (
        base.alias("s")
        .join(delta.alias("d"), on="grp", how="full_outer")
        .select(
            F.col("grp"),
            (
                F.coalesce(F.col("s.n_keys"), F.lit(0))
                + F.coalesce(F.col("d.d_keys"), F.lit(0))
            ).alias("n_keys"),
            (
                (
                    F.coalesce(F.col("s.sum_cents"), F.lit(0))
                    + F.coalesce(F.col("d.d_cents"), F.lit(0))
                )
                / 100.0
            ).alias("sum_value"),
        )
        .where(F.col("n_keys") > 0)
    )
    return merged


@register(
    "q_cdc_point_lookup",
    oracle=with_changelog(
        """
SELECT key, seq_no AS last_seq, payload_value
FROM (
    SELECT key, seq_no, op, payload_value,
           row_number() OVER (PARTITION BY key ORDER BY seq_no DESC) AS rn
    FROM changelog
    WHERE key IN (SELECT min(key) FROM changelog)
       OR key IN (SELECT max(key) FROM changelog)
) WHERE rn = 1 AND op <> 'REMOVE'
"""
    ),
)
def q_cdc_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GetItem over the versioned table: point lookups for the lowest
    and highest changelog keys (plus a guaranteed-absent key, which
    must come back empty after reading only its one bucket). Each
    lookup hashes the key to its bucket, loads one manifest shard, and
    lists exactly one bucket directory — O(1) in table size, the
    reference's per-item DynamoDB access pattern (the keyed
    PutRequest/DeleteRequest items of `lambda-backfill/main.py:33-39`
    read back item-by-item) served by manifest pruning. Oracle: the
    changelog fold restricted to those keys."""
    sink, _, _ = shared_sink(spark, sf_dir)
    cl = changelog(spark, sf_dir)
    row = cl.agg(F.min("key").alias("lo"), F.max("key").alias("hi")).first()
    out = sink.lookup(int(row.lo))
    if int(row.hi) != int(row.lo):
        # skip the second lookup on a degenerate one-key changelog: the
        # oracle's IN-set dedupes min==max, an unconditional union here
        # would emit the row twice
        out = out.unionByName(sink.lookup(int(row.hi)))
    out = out.unionByName(sink.lookup(-1))  # absent key: empty, still 1-bucket read
    return out.select("key", "last_seq", "payload_value")


# ---------------------------------------------------------------------------
# alerting capstone: changefeed → anomaly rule → late-bound sink routing
# ---------------------------------------------------------------------------

ALERT_Z = 2.0       # feed a change to alerting when |z(delta)| exceeds this
PAGE_Z = 3.0        # severity escalation: page instead of digest


@register(
    "q_cdc_alerting",
    oracle=with_changelog(
        _CHANGEFEED_CTES
        + f"""
, d AS (
    SELECT key, change_type, last_seq,
           COALESCE(CAST(round(payload_value * 100) AS BIGINT), 0)
           - COALESCE(CAST(round(payload_value_old * 100) AS BIGINT), 0) AS v
    FROM feed
),
s AS (
    SELECT count(*) AS n,
           CAST(sum(v) AS BIGINT) AS s1,
           CAST(sum(v * v) AS BIGINT) AS s2
    FROM d
),
z AS (SELECT key, change_type, last_seq, v, {{Z}} AS zscore FROM d, s)
SELECT key, change_type, last_seq, v / 100.0 AS delta_value, zscore,
       CASE WHEN abs(zscore) > {PAGE_Z} THEN 'sink_pager'
            WHEN change_type = 'DELETE' THEN 'sink_audit'
            ELSE 'sink_digest' END AS destination
FROM z
WHERE abs(zscore) > {ALERT_Z} OR change_type = 'DELETE'
""".replace("{Z}", _BEHAVIOR_Z_EXPR)
    ),
)
def q_cdc_alerting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alerting capstone — the reference's EventBridge-rule pattern
    (`cdk-stack.ts:116-123`: state-machine status events routed to
    rule-bound targets) generalized to DATA-driven alerts over the
    versioned table:

      changefeed (q_cdc_changefeed's commit diff)
        → anomaly rule (z-score of the per-key value delta against the
          feed's own exact-integer moments — the q_ts_anomaly_zscore
          discipline: quantized score, engine-identical threshold)
        → late-bound sink routing (A16/q_cdc_multi_sink's pattern:
          destination chosen per row at delivery time — severity pages,
          deletes audit, the rest digests).

    Entirely JVM-side: the feed diff is a full-outer join over changed
    buckets only, the moments are one 1-row aggregate broadcast back
    over the feed (the documented 1-row crossJoin shape), and the rule
    + routing are codegen'd CASE expressions — no Python stage anywhere
    (plan-pinned in tests/test_plans.py). At 100 TB the feed is sized
    by what changed, the stats row is O(1), and alert fan-out writes
    are a tiny filtered subset of the feed."""
    sink, _, _ = shared_sink(spark, sf_dir)
    feed = sink.changes_between(2, 3)
    cents_new = F.coalesce(F.round(F.col("payload_value") * 100).cast("bigint"), F.lit(0))
    cents_old = F.coalesce(F.round(F.col("payload_value_old") * 100).cast("bigint"), F.lit(0))
    # referenced by the stats aggregate AND the scoring pass — persist
    # rather than recompute the bucket diff twice (no cross-branch CSE)
    d = tracked_persist(
        feed.select(
            "key", "change_type", "last_seq", (cents_new - cents_old).alias("v")
        )
    )
    stats = d.agg(
        F.count("*").alias("n"),
        F.sum("v").alias("s1"),
        F.sum(F.expr("v*v")).alias("s2"),
    )
    z = d.crossJoin(F.broadcast(stats)).withColumn(
        "zscore", F.expr(_BEHAVIOR_Z_EXPR)
    )
    alerts = z.where(
        (F.abs(F.col("zscore")) > ALERT_Z) | (F.col("change_type") == "DELETE")
    )
    return alerts.select(
        "key",
        "change_type",
        "last_seq",
        (F.col("v") / 100.0).alias("delta_value"),
        "zscore",
        F.when(F.abs(F.col("zscore")) > PAGE_Z, "sink_pager")
        .when(F.col("change_type") == "DELETE", "sink_audit")
        .otherwise("sink_digest")
        .alias("destination"),
    )


@register(
    "q_cdc_restore_drill",
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
def q_cdc_restore_drill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's WHOLE identity as one drill, end-to-end:
    RestoreTableToPointInTime + forward CDC replay
    (`state-machine.json:10-76` — restore, poll to ACTIVE, attach the
    backfill consumer, drain; README restore flow). Here: "restore" =
    reading the middle commit of the versioned table (zero-copy time
    travel), "replay" = cdc_merge of every changelog record past that
    commit's high-water sequence onto the restored state. The drill's
    success criterion IS the oracle: restored-then-replayed must equal
    the full changelog fold — i.e. a disaster recovery through the
    version store loses nothing and duplicates nothing. At 100 TB the
    restore step moves no data (manifest read) and the replay costs
    only the suffix since the restore point."""
    sink, _, c2 = shared_sink(spark, sf_dir)
    restored = sink.visible(version=2).select("key", "last_seq", "payload_value")
    forward = (
        changelog(spark, sf_dir)
        .where(F.col("seq_no") > c2)
        .select("seq_no", "op", "key", "payload_value")
    )
    return cdc_merge(restored, forward).select("key", "last_seq", "payload_value")


@register(
    "q_cdc_branch_merge",
    oracle=with_changelog(
        ", m AS ("
        + FOLD_SQL.format(pred="")
        + "), br AS ("
        + FOLD_SQL.format(
            pred="\n        WHERE seq_no <= (SELECT max(seq_no) // 2 FROM changelog)"
            "\n           OR op <> 'REMOVE'"
        )
        + "), d AS ("
        + DIFF_SQL.format(frm="m", to="br", extra="")
        + """)
SELECT key, change_type, last_seq, payload_value, payload_value_old FROM d
"""
    ),
)
def q_cdc_branch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What-if restore branch: replay the changelog onto a branch that
    IGNORES every deletion after the branch point (max seq // 2) — the
    'restore, but keep the records an incident deleted' drill — then
    diff the branch head against the main head (the selective-restore
    analog of `state-machine.json:54-76`'s restore-complete path; Delta
    branch / Iceberg ref semantics without a table format). Both folds
    and the diff come out of ONE changelog shuffle: a single window
    pass per key annotates the main-latest and branch-latest sequence,
    and a groupBy on the SAME key folds both heads as argmax structs —
    the diff is then pure per-key expression logic, no second scan and
    no self-join (the oracle states the same thing as two FOLD_SQL
    prefixes + DIFF_SQL, the shared feed-semantics text). The branch
    cut is a driver-side scalar (plan-time decision, orchestration not
    data). At 100 TB: one exchange on key, reused by the fold aggregate;
    the policy predicate is a map-side filter."""
    cl = changelog(spark, sf_dir).select("seq_no", "op", "key", "payload_value")
    cut = cl.agg(F.expr("max(seq_no) div 2").alias("c")).first().c
    return branch_merge_frame(cl, cut)


def branch_merge_frame(cl: DataFrame, cut: int) -> DataFrame:
    """q_cdc_branch_merge's core over any (seq_no, op, key,
    payload_value) changelog frame and branch point — separated so the
    property suite can drive it with arbitrary op sequences (fold/diff
    equivalence vs a naive sequential model)."""
    is_br = (F.col("seq_no") <= cut) | (F.col("op") != "REMOVE")
    wk = Window.partitionBy("key")
    ann = cl.select(
        "key",
        "seq_no",
        "op",
        "payload_value",
        F.max("seq_no").over(wk).alias("mseq"),
        F.max(F.when(is_br, F.col("seq_no"))).over(wk).alias("bseq"),
    )
    alive = F.col("op") != "REMOVE"
    heads = ann.where(
        (F.col("seq_no") == F.col("mseq")) | (F.col("seq_no") == F.col("bseq"))
    )
    folded = heads.groupBy("key").agg(
        F.max(
            F.when(
                (F.col("seq_no") == F.col("mseq")) & alive,
                F.struct(F.col("seq_no").alias("last_seq"), F.col("payload_value").alias("v")),
            )
        ).alias("m"),
        F.max(
            F.when(
                (F.col("seq_no") == F.col("bseq")) & alive,
                F.struct(F.col("seq_no").alias("last_seq"), F.col("payload_value").alias("v")),
            )
        ).alias("b"),
    )
    return (
        folded.where(F.col("m").isNotNull() | F.col("b").isNotNull())
        .where(
            F.col("m").isNull()
            | F.col("b").isNull()
            | (F.col("m.last_seq") != F.col("b.last_seq"))
        )
        .select(
            "key",
            F.when(F.col("m").isNull(), "INSERT")
            .when(F.col("b").isNull(), "DELETE")
            .otherwise("UPDATE")
            .alias("change_type"),
            F.coalesce(F.col("b.last_seq"), F.col("m.last_seq")).alias("last_seq"),
            F.col("b.v").alias("payload_value"),
            F.col("m.v").alias("payload_value_old"),
        )
    )


def _history_oracle() -> str:
    def diff(i: int) -> str:
        return DIFF_SQL.format(
            frm=f"h{i - 1}",
            to=f"h{i}",
            extra=f",\n           CAST({i} AS BIGINT) AS version",
        )

    ctes = (
        ", cuts AS (SELECT max(seq_no) AS mx FROM changelog)"
        ", h0 AS (SELECT * FROM (" + FOLD_SQL.format(pred="") + ") WHERE FALSE)"
        ", h1 AS ("
        + FOLD_SQL.format(pred=" WHERE seq_no <= (SELECT mx // 3 FROM cuts)")
        + "), h2 AS ("
        + FOLD_SQL.format(pred=" WHERE seq_no <= (SELECT (2 * mx) // 3 FROM cuts)")
        + "), h3 AS ("
        + FOLD_SQL.format(pred="")
        + "), d AS ("
        + " UNION ALL ".join(diff(i) for i in (1, 2, 3))
        + "), sizes AS ("
        "SELECT CAST(1 AS BIGINT) AS version, count(*) AS n_rows FROM h1"
        " UNION ALL SELECT 2, count(*) FROM h2"
        " UNION ALL SELECT 3, count(*) FROM h3)"
    )
    return with_changelog(
        ctes
        + """
SELECT s.version, s.n_rows,
       count(CASE WHEN d.change_type = 'INSERT' THEN 1 END) AS n_inserts,
       count(CASE WHEN d.change_type = 'UPDATE' THEN 1 END) AS n_updates,
       count(CASE WHEN d.change_type = 'DELETE' THEN 1 END) AS n_deletes
FROM sizes s LEFT JOIN d ON d.version = s.version
GROUP BY 1, 2
"""
    )


@register("q_cdc_history", oracle=_history_oracle())
def q_cdc_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY for the versioned sink (the Delta `DESCRIBE
    HISTORY` / Iceberg snapshots-table analog, and the audit surface a
    PITR operator reads after a restore drill): one row per commit with
    the table size at that version and the insert/update/delete counts
    of the commit that produced it. Sizes read version manifests
    (zero-copy time travel); per-commit change counts aggregate the
    SAME changefeed the incremental consumers use — so the oracle's
    prefix-fold + DIFF_SQL replay hash-checks commit accounting, feed
    classification, and manifest pruning together. v1's history row is
    its own fold (everything an INSERT onto the empty table)."""
    sink, _, _ = shared_sink(spark, sf_dir)

    def size_of(v: int) -> DataFrame:
        return sink.visible(version=v).agg(
            F.lit(v).cast("bigint").alias("version"),
            F.count("*").alias("n_rows"),
        )

    def changes_of(v: int) -> DataFrame:
        if v == 1:
            return sink.visible(version=1).agg(
                F.lit(1).cast("bigint").alias("version"),
                F.count("*").alias("n_inserts"),
                F.lit(0).cast("bigint").alias("n_updates"),
                F.lit(0).cast("bigint").alias("n_deletes"),
            )
        return sink.changes_between(v - 1, v).agg(
            F.lit(v).cast("bigint").alias("version"),
            F.count(F.when(F.col("change_type") == "INSERT", 1)).alias("n_inserts"),
            F.count(F.when(F.col("change_type") == "UPDATE", 1)).alias("n_updates"),
            F.count(F.when(F.col("change_type") == "DELETE", 1)).alias("n_deletes"),
        )

    sizes = size_of(1).unionByName(size_of(2)).unionByName(size_of(3))
    changes = changes_of(1).unionByName(changes_of(2)).unionByName(changes_of(3))
    return sizes.join(changes, "version")
