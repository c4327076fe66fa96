"""_write_split_files fixture-identity pin (r16).

The r16 round parallelized the per-split writes with a thread pool
(guide §2.6). Every streaming drill's INPUT fixture comes from this
helper, so the change is safe exactly insofar as the on-disk result is
indistinguishable from the sequential form: same file names, same
mtime order (the stream source's processing order), same rows per
file, and an EMPTY split still yields a schema-bearing empty file (a
drill's micro-batch count depends on the file count). This test pins
all four properties against a from-first-principles sequential
reference.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from dynamodb_pitr_restore_cdc_spark.streaming.drill import (
    _SPLIT_BASE_MTIME,
    _write_one_split,
    _write_split_files,
)


def _read_sorted(spark, path):
    return [
        tuple(r)
        for r in spark.read.parquet(path).orderBy("seq_no").collect()
    ]


def test_threaded_split_writes_match_sequential(spark, tmp_path):
    df = spark.range(0, 300).select(
        F.col("id").alias("seq_no"), (F.col("id") % 7).alias("k")
    )
    s = F.col("seq_no")
    # three non-empty splits plus one EMPTY split (the empty-file
    # contract: still one parquet file, still one micro-batch)
    splits = [s < 100, (s >= 100) & (s < 200), s >= 200, s < 0]

    seq_dir, par_dir = str(tmp_path / "seq"), str(tmp_path / "par")
    os.makedirs(seq_dir), os.makedirs(par_dir)
    for i, pred in enumerate(splits):  # the pre-r16 sequential form
        _write_one_split(df.where(pred), seq_dir, i)
    _write_split_files(df, splits, par_dir)

    seq_files = sorted(f for f in os.listdir(seq_dir) if f.endswith(".parquet"))
    par_files = sorted(f for f in os.listdir(par_dir) if f.endswith(".parquet"))
    assert par_files == seq_files == [f"{i:05d}.parquet" for i in range(4)]
    for i, fn in enumerate(par_files):
        sp, pp = os.path.join(seq_dir, fn), os.path.join(par_dir, fn)
        assert os.path.getmtime(pp) == os.path.getmtime(sp) == _SPLIT_BASE_MTIME + i
        assert _read_sorted(spark, pp) == _read_sorted(spark, sp)
    # no tmp debris left behind by either form
    assert not [f for f in os.listdir(par_dir) if f.startswith("_tmp_")]
