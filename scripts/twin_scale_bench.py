#!/usr/bin/env python
"""Streaming Holt-Winters scale evidence (SCALE.md): the scoring
stream's carryover is O(users·lags), so

- splitting the SAME events into more micro-batches (a longer stream)
  must keep the final state store the same size and the per-batch cost
  roughly flat (each batch pays O(batch + users·lags), never
  O(stream-so-far));
- replicating users 10x must scale state and per-batch cost linearly
  in users (the state join is an equi-join that shuffles with the
  batch, nothing driver-pinned).

Prints one line per variant: batches, total wall, per-batch wall, and
the final tail-store row count.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dynamodb_pitr_restore_cdc_spark.session import get_spark
from dynamodb_pitr_restore_cdc_spark.sources import table
from dynamodb_pitr_restore_cdc_spark.streaming.drill import (
    _write_split_files,
)
from dynamodb_pitr_restore_cdc_spark.streaming.twins import (
    read_emitted_hw,
    run_hw_stream,
    write_hw_seasonal_index,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
HOUR_US = 3_600_000_000


def hour_cuts(e, k: int) -> list[int]:
    """k-1 hour-aligned cut points at the us quantiles."""
    qs = e.approxQuantile("us", [i / k for i in range(1, k)], 0.001)
    return sorted({(int(q) // HOUR_US) * HOUR_US for q in qs})


def run(tag: str, e, k: int) -> None:
    e = e.localCheckpoint(eager=True)
    cuts = hour_cuts(e, k)
    us = F.col("us")
    preds = []
    lo = None
    for c in cuts:
        preds.append(us < c if lo is None else (us >= lo) & (us < c))
        lo = c
    preds.append(us >= lo if lo is not None else F.lit(True))

    base = os.path.join(tempfile.gettempdir(), f"twinbench-{uuid.uuid4().hex[:8]}")
    src, work, out = (os.path.join(base, d) for d in ("src", "work", "out"))
    try:
        _write_split_files(e, preds, src)
        seas = os.path.join(work, "seas")
        write_hw_seasonal_index(e, seas)
        t0 = time.perf_counter()
        run_hw_stream(e.sparkSession, src, work, out, seas)
        wall = time.perf_counter() - t0
        with open(os.path.join(work, "_LATEST")) as fh:
            tail_rows = e.sparkSession.read.parquet(fh.read().strip()).count()
        emitted = read_emitted_hw(e.sparkSession, out).count()
        print(
            f"{tag}: batches={len(preds)} wall={wall:.1f}s "
            f"per_batch={wall / len(preds):.2f}s state_rows={tail_rows} "
            f"emitted={emitted}"
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def main() -> None:
    spark = get_spark("twin-scale-bench")
    spark.sparkContext.setLogLevel("ERROR")
    e = table(spark, SF_DIR, "events").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100).cast("bigint").alias("value_c"),
    ).localCheckpoint(eager=True)  # one scan feeds the 10 union branches
    run("sf0.1 short", e, 3)
    run("sf0.1 long", e, 12)
    from functools import reduce

    ten = reduce(
        lambda a, b: a.unionAll(b),
        [
            e.select(
                (F.col("user_id") + 1_000_000 * i).alias("user_id"), "us", "value_c"
            )
            for i in range(1, 10)
        ],
        e,
    )
    run("sf0.1 x10 users", ten, 3)


if __name__ == "__main__":
    main()
