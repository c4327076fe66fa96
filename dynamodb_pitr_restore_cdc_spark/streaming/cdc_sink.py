"""Bucket-partitioned CDC sink: the 100 TB shape of the merge target.

The plain sink in cdc_stream.py rewrites the WHOLE snapshot every
micro-batch — correct, but O(table) write amplification. At 100 TB the
table must be laid out so a batch only touches the data it changes:

- the snapshot is parquet partitioned by ``bucket = pmod(hash(key), N)``
  (the same co-location a bucketed table or a MERGE-capable format
  gives);
- each micro-batch computes the distinct buckets its keys hash into —
  a tiny driver-side list (≤ N ints), pure orchestration;
- only those partitions are read (partition pruning on the bucket
  column) and only those are rewritten (dynamic partition overwrite).

Write amplification drops from O(table) to O(touched buckets); with a
reference-like workload (hot working set per window) that's typically
a few percent. N is chosen so one bucket ≈ one executor-digestible
unit (128-512 MB at target scale).

Tombstones (cdc_merge_tombstone) make the merge a per-key max-seq
reduction, so correctness holds under arbitrary cross-batch reordering
— stronger than the reference's FIFO assumption.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cdc import cdc_merge_tombstone, visible
from .table_files import repartition_by_bucket

N_BUCKETS_DEFAULT = 32


class BucketedCdcSink:
    def __init__(self, spark: SparkSession, path: str, n_buckets: int = N_BUCKETS_DEFAULT):
        self.spark = spark
        self.path = path
        self.n_buckets = n_buckets
        self._schema = None  # set by init(); enables empty-table reads

    def _bucket(self, key_col):
        return F.pmod(F.hash(key_col), F.lit(self.n_buckets)).alias("bucket")

    def init(self, snapshot: DataFrame, key: str = "key") -> None:
        """Materialize the initial tombstoned snapshot, bucket-partitioned.
        Accepts a live snapshot (key, last_seq, payload...) and marks all
        rows as upserts."""
        snap = snapshot
        if "op" not in snap.columns:
            snap = snap.withColumn("op", F.lit("INSERT"))
        bucketed = snap.withColumn("bucket", self._bucket(F.col(key)))
        # an EMPTY partitioned write leaves no parquet files, so later
        # reads can't infer a schema — remember it here (the empty-
        # initial-table case is a fresh restore, entirely legitimate)
        self._schema = bucketed.schema
        bucketed.write.mode("overwrite").partitionBy("bucket").parquet(self.path)

    def _read(self):
        try:
            return self.spark.read.parquet(self.path)
        except Exception:
            if self._schema is None:
                raise
            return self.spark.createDataFrame([], schema=self._schema)

    def apply_batch(self, batch: DataFrame, key: str = "key") -> None:
        """Merge one micro-batch, rewriting only the touched buckets."""
        batch = batch.withColumn("bucket", self._bucket(F.col(key)))
        touched = [r.bucket for r in batch.select("bucket").distinct().collect()]
        if not touched:
            return
        current = self._read().where(F.col("bucket").isin(touched))
        merged = cdc_merge_tombstone(
            current.drop("bucket"), batch.drop("bucket"), key=key
        ).withColumn("bucket", self._bucket(F.col(key)))
        # one output file per touched bucket, buckets spread over
        # parallel tasks (table_files.repartition_by_bucket); lineage
        # is broken before overwriting partitions we just read
        merged = repartition_by_bucket(merged, self.n_buckets).localCheckpoint(
            eager=True
        )
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(self.path)
        )

    def snapshot(self) -> DataFrame:
        return self._read().drop("bucket")

    def visible(self) -> DataFrame:
        return visible(self.snapshot())

    def compact(self, reorder_horizon_seq: int) -> None:
        """Drop tombstones no longer needed for reorder protection.

        A tombstone guards against stale ops with seq < its last_seq;
        once the source guarantees no event older than
        `reorder_horizon_seq` can still arrive (the streaming analog of
        the 35-day PITR window), tombstones below the horizon are dead
        weight.

        Bucket-pruned like apply_batch: only buckets that actually
        contain an expired tombstone are read and rewritten — a
        maintenance pass over a mostly-live table touches almost
        nothing. The bucket list is a tiny driver-side aggregate
        (orchestration, not data)."""
        expired = (F.col("op") == "REMOVE") & (F.col("last_seq") < reorder_horizon_seq)
        snap = self._read()
        dirty = [r.bucket for r in snap.where(expired).select("bucket").distinct().collect()]
        if not dirty:
            return
        kept = snap.where(F.col("bucket").isin(dirty)).where(~expired)
        kept = repartition_by_bucket(kept, self.n_buckets).localCheckpoint(eager=True)
        (
            kept.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(self.path)
        )
        # dynamic overwrite only replaces partitions PRESENT in the new
        # data: a dirty bucket compacted down to zero rows must have its
        # directory removed explicitly or the expired tombstones survive
        import shutil

        remaining = {r.bucket for r in kept.select("bucket").distinct().collect()}
        for b in dirty:
            if b not in remaining:
                shutil.rmtree(os.path.join(self.path, f"bucket={b}"), ignore_errors=True)

    def untouched_partition_paths(self, touched: list[int]) -> list[str]:
        return [
            os.path.join(self.path, d)
            for d in os.listdir(self.path)
            if d.startswith("bucket=") and int(d.split("=")[1]) not in touched
        ]
