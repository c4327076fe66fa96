"""Receive-count DLQ redrive (reference A7, full semantics).

The reference's buffer queue moves a message to the DLQ after 5 failed
receives (cdk/lib/cdk-stack.ts:52-63, ``maxReceiveCount: 5``); each
redelivery exposes ``ApproximateReceiveCount`` to the consumer. The
round-1 engine only had the validity *split* half of A7; this module
adds the *redrive* half:

- every record carries a ``receive_count`` (1-based, incremented per
  delivery) — the SQS attribute as a column;
- per cycle, a caller-supplied ``try_reject(df) -> rejected rows``
  models the consumer's failure (the Lambda's raised exception, at the
  per-message granularity SQS provides);
- rejected records re-enter a durable retry store (versioned dirs +
  a commit pointer written last); records whose receive_count reaches
  ``max_receives`` are appended to ``dlq/`` instead — the batch is
  never blocked by a poison record.

Scale notes (100 TB): the retry store is O(currently-failing records),
not O(stream); the happy path adds one anti-join per micro-batch
(accepted = batch − rejected, both sides already partitioned by the
batch's key) and zero writes when nothing fails.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cdc import changelog, with_changelog
from ..registry import register, tracked_persist
from .drill import Drill
from .util import atomic_write_text

MAX_RECEIVES = 5  # cdk-stack.ts:53
RECEIVE_COUNT_COL = "receive_count"  # SQS ApproximateReceiveCount analog


@dataclass
class RedriveStore:
    """Durable retry + DLQ state for one consumer.

    Layout under ``root``:
      retry_v{n}/    versioned retry-store snapshots (parquet)
      accepted_v{n}/ the cycle's accepted rows (for replay-safe returns)
      dlq/cycle_v{n} per-cycle poison records (parquet, overwrite)
      _SCHEMA.json   the record schema (written once, read on restart)
      _RETRY_LATEST  JSON commit pointer {"path", "version", "epoch"}

    Durability contract: every cycle writes ALL its data dirs first and
    the pointer last; a restarted store derives version, schema, and
    last-delivered epoch from the committed pointer + _SCHEMA.json, so
    it resumes exactly from committed state (ADVICE r02). Replaying the
    epoch of the committed cycle (foreachBatch at-least-once) is a
    read-only no-op: receive counts don't re-increment, the DLQ cycle
    dir is simply overwritten by the same content, and the stored
    accepted rows are returned as-is.
    """

    spark: SparkSession
    root: str
    max_receives: int = MAX_RECEIVES
    _schema: object = field(default=None, repr=False)

    def __post_init__(self) -> None:
        os.makedirs(self.root, exist_ok=True)
        self._pointer = os.path.join(self.root, "_RETRY_LATEST")
        self._schema_file = os.path.join(self.root, "_SCHEMA.json")
        committed = self._committed()
        self._version = committed["version"] if committed else 0
        if self._schema is None and os.path.exists(self._schema_file):
            from pyspark.sql.types import StructType

            with open(self._schema_file) as fh:
                self._schema = StructType.fromJson(json.load(fh))

    @property
    def dlq_dir(self) -> str:
        return os.path.join(self.root, "dlq")

    def _committed(self) -> dict | None:
        """The last committed cycle: {"path", "version", "epoch"} or None."""
        if not os.path.exists(self._pointer):
            return None
        with open(self._pointer) as fh:
            return json.load(fh)

    def pending(self) -> DataFrame | None:
        """Records awaiting redelivery (with receive_count), or None."""
        committed = self._committed()
        if committed is None or self._schema is None:
            return None
        return self.spark.read.schema(self._schema).parquet(committed["path"])

    def dlq(self) -> DataFrame | None:
        """Poisoned records (receive_count == max_receives), or None.

        Only cycle dirs at or below the committed version are visible —
        a crashed cycle's dlq write (data written, pointer not) stays
        invisible until the cycle commits, then is overwritten in place.
        """
        committed = self._committed()
        if self._schema is None or committed is None or not os.path.isdir(self.dlq_dir):
            return None
        dirs = [
            os.path.join(self.dlq_dir, d)
            for d in sorted(os.listdir(self.dlq_dir))
            if d.startswith("cycle_v") and int(d.rsplit("_v", 1)[1]) <= committed["version"]
        ]
        if not dirs:
            return None
        return self.spark.read.schema(self._schema).parquet(*dirs)

    # -- one receive cycle ---------------------------------------------------

    def deliver(self, batch_df: DataFrame, try_reject, epoch_id: int | None = None) -> DataFrame:
        """One delivery cycle: new records (receive 1) plus redelivered
        retries (receive n+1) are offered to the consumer; returns the
        ACCEPTED rows (with their receive_count). ``try_reject(df)``
        sees ``receive_count`` — the ApproximateReceiveCount contract —
        and returns the rejected subset.

        ``epoch_id`` is the foreachBatch epoch: redelivering the epoch
        of the already-committed cycle returns the stored accepted rows
        without touching state (at-least-once replay safety). Pass an
        empty batch_df to model a pure redelivery tick (SQS redelivers
        on visibility timeout, not on new data)."""
        committed = self._committed()
        if (
            epoch_id is not None
            and committed is not None
            and committed.get("epoch") == epoch_id
        ):
            # replayed epoch: the cycle is fully committed; re-running it
            # would re-increment receive counts and re-route records
            return self.spark.read.schema(self._schema).parquet(
                os.path.join(self.root, f"accepted_v{committed['version']}")
            )

        incoming = batch_df.withColumn(RECEIVE_COUNT_COL, F.lit(1).cast("int"))
        prev = self.pending()
        if prev is not None:
            redelivered = prev.withColumn(
                RECEIVE_COUNT_COL, (F.col(RECEIVE_COUNT_COL) + F.lit(1)).cast("int")
            )
            incoming = incoming.unionByName(redelivered)
        if self._schema is None:
            self._schema = incoming.schema
        if not os.path.exists(self._schema_file):
            # atomic: a torn schema file would make __post_init__ throw
            # on every restart, leaving the store unconstructable
            atomic_write_text(self._schema_file, json.dumps(self._schema.jsonValue()))

        # one pass decides accepted/rejected; materialize the cycle once
        # (incoming feeds three branches and Catalyst has no cross-branch
        # CSE) — localCheckpoint also cuts lineage so retry chains don't
        # deepen the plan across cycles
        incoming = incoming.localCheckpoint(eager=True)
        rejected = try_reject(incoming)
        accepted = incoming.join(
            rejected.select("seq_no"), on="seq_no", how="left_anti"
        )

        poisoned = rejected.where(F.col(RECEIVE_COUNT_COL) >= self.max_receives)
        still_retryable = rejected.where(F.col(RECEIVE_COUNT_COL) < self.max_receives)

        # all data dirs first (each overwrite-idempotent under a crashed
        # cycle's re-run), pointer commit LAST, so a crash before it
        # re-runs the cycle from the prior committed state. The three
        # routes are independent jobs over the one checkpointed cycle
        # frame, so they run CONCURRENTLY (guide §2.6) — the pointer
        # still only commits after ALL of them landed, so the crash
        # window is unchanged (r16 profile: the redrive drill spent
        # 47% of its wall in driver gaps between ~80 ms jobs).
        version = self._version + 1
        accepted_path = os.path.join(self.root, f"accepted_v{version}")
        new_retry = os.path.join(self.root, f"retry_v{version}")
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=3) as pool:
            list(
                pool.map(
                    lambda dp: dp[0].write.mode("overwrite").parquet(dp[1]),
                    [
                        (poisoned, os.path.join(self.dlq_dir, f"cycle_v{version}")),
                        (accepted, accepted_path),
                        (still_retryable, new_retry),
                    ],
                )
            )
        atomic_write_text(
            self._pointer,
            json.dumps({"path": new_retry, "version": version, "epoch": epoch_id}),
        )  # torn pointer = wedged store (util.atomic_write_text rationale)
        self._version = version
        # superseded snapshots are unreferenced once the pointer moved on,
        # keeping the store O(currently-failing), not O(stream). Contract:
        # the returned accepted rows must be consumed before the NEXT
        # cycle's deliver (normal foreachBatch shape — the merge happens
        # within the epoch); holders of older cycles' results must
        # materialize them first.
        for stale in (f"accepted_v{version - 1}", f"retry_v{version - 1}"):
            shutil.rmtree(os.path.join(self.root, stale), ignore_errors=True)
        return self.spark.read.schema(self._schema).parquet(accepted_path)

    def kept_snapshot(self, dst: str) -> DataFrame:
        """The last committed cycle's accepted rows, kept past the next
        deliver(): its immutable files are HARDLINK-cloned into the new
        dir `dst` (the versioned_sink expired_shared_sink pattern) and
        read from there with the store's schema. No Spark job, and the
        clone survives the store reclaiming accepted_v{n} on the next
        commit."""
        if self._version == 0:
            raise ValueError(f"no committed cycle under {self.root}")
        src = os.path.join(self.root, f"accepted_v{self._version}")
        os.makedirs(dst)
        for f in os.listdir(src):
            if f.endswith(".parquet"):
                os.link(os.path.join(src, f), os.path.join(dst, f))
        return self.spark.read.schema(self._schema).parquet(dst)

    def has_pending(self) -> bool:
        p = self.pending()
        return p is not None and bool(p.take(1))


@register(
    "q_cdc_dlq_redrive",
    oracle=with_changelog(
        """
SELECT route, receive_count, count(*) AS n_records
FROM (
    SELECT CASE WHEN key % 97 = 0 THEN 'dlq' ELSE 'applied' END AS route,
           CAST(CASE WHEN key % 97 = 0 THEN 5
                     WHEN seq_no % 7 = 0 THEN 3
                     ELSE 1 END AS INTEGER) AS receive_count
    FROM changelog
)
GROUP BY route, receive_count
"""
    ),
)
def q_cdc_dlq_redrive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 full semantics through the real redrive machinery: 5 delivery
    cycles over the changelog with a planted failure model — poison
    records (key%97==0) fail every receive and must land in the DLQ at
    receive 5 (maxReceiveCount, cdk-stack.ts:53); transient records
    (seq_no%7==0) fail receives 1-2 and apply on receive 3; everything
    else applies first time. The oracle states each record's terminal
    (route, receive_count) in closed form — the loop must converge to
    exactly that."""
    cl = changelog(spark, sf_dir)
    poison = F.col("key") % 97 == 0
    transient = F.col("seq_no") % 7 == 0

    def try_reject(df: DataFrame) -> DataFrame:
        return df.where(poison | (transient & (F.col(RECEIVE_COUNT_COL) < 3)))

    # WHERE FALSE, not createDataFrame([]): the RDD-backed empty frame
    # carries defaultParallelism empty partitions into every cycle's
    # union (~0.27 s of no-op tasks per action — CLAUDE.md gotcha);
    # this folds to a zero-job LocalRelation with the same schema
    empty = cl.where(F.lit(False))
    accepted_cycles = []
    # NO width pin: each cycle's anti-join + checkpoint over the full
    # changelog is compute-bound (r16 idle-32 A/B: pinned 4.73 s vs
    # session width 4.03 s; the r15 pin won only on a loaded host)
    batch = cl
    with Drill(spark, "redrive") as drill:
        root = os.path.join(drill.root, "store")
        store = RedriveStore(spark, root, max_receives=MAX_RECEIVES)
        for i in range(MAX_RECEIVES):  # cycle 1 delivers; 2-5 are redelivery ticks
            store.deliver(batch, try_reject)
            # consume the cycle's accepted rows as a kept snapshot (a
            # hardlink clone, not an eager localCheckpoint: zero Spark jobs
            # per cycle, and the rows are read ONCE by the final union+agg
            # — r16: removes 5 sequential checkpoint jobs + their gaps)
            accepted_cycles.append(
                store.kept_snapshot(os.path.join(root, f"kept_c{i}")).select(
                    F.lit("applied").alias("route"), F.col(RECEIVE_COUNT_COL)
                )
            )
            batch = empty

        applied = reduce(lambda a, b: a.unionByName(b), accepted_cycles)
        dlq = store.dlq().select(
            F.lit("dlq").alias("route"), F.col(RECEIVE_COUNT_COL)
        )
        result = tracked_persist(  # released by the harness post-consumption
            applied.unionByName(dlq)
            .groupBy("route", RECEIVE_COUNT_COL)
            .agg(F.count("*").alias("n_records"))
        )
        result.count()  # materialize before removing the store's backing dirs
    return result
