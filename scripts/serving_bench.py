#!/usr/bin/env python
"""Batched-ANN-serving amortization evidence (SCALE.md round 11).

q_llm_ann_ivf_multiprobe's claim is that batching amortizes the
inverted-list scan: ONE pass answers the whole query set, where
per-probe serving re-reads the probed cells per query and pays Spark's
per-job overhead Q times. This script measures both shapes over the
SAME trained index and the SAME probe set:

- batched: the registered multiprobe plan (broadcast (qid, cid, pv)
  plan x inverted lists, WindowGroupLimit top-5 per query);
- per-probe: Q sequential ivf_probe_topk jobs (the registered
  single-probe plan, once per query) — the serving loop a system
  without batch support runs.

Both return identical answer sets (asserted). Wall times are medians
of BENCH_RUNS runs after one warm-up; the index artifact and the
quantizer are materialized once before timing (serving measurements
must not bill the one-time indexing job).

Run: python scripts/serving_bench.py   (~2-3 min on local[32];
SPARK_GRAFT_SF_DIR overrides the corpus, default sf0.1).
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dynamodb_pitr_restore_cdc_spark.registry import all_queries, release_persisted
from dynamodb_pitr_restore_cdc_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("BENCH_RUNS", "3"))


def main() -> None:
    from dynamodb_pitr_restore_cdc_spark.llm.kmeans import (
        assignment_ranking,
        quantized_rows,
    )
    from dynamodb_pitr_restore_cdc_spark.llm.similarity import (
        IVF_PROBE_CELLS,
        MULTIPROBE_MOD,
        MULTIPROBE_RES,
        _as_double,
        _cell_members,
        _ivf_artifact,
        cosine_col,
        ivf_probe_topk,
    )
    from dynamodb_pitr_restore_cdc_spark.sources import table

    spark = get_spark("serving-bench")
    spark.sparkContext.setLogLevel("ERROR")
    spec = all_queries()["q_llm_ann_ivf_multiprobe"]

    # materialize the one-time artifacts outside the timed region
    cents, _ = _ivf_artifact(spark, SF_DIR, None)
    members = _cell_members(spark, SF_DIR)
    members.count()
    emb = table(spark, SF_DIR, "embeddings")
    e = emb.select("vec_id", _as_double("embedding").alias("v"))
    is_probe = F.col("vec_id") % MULTIPROBE_MOD == MULTIPROBE_RES
    probe_ids = [r.vec_id for r in emb.where(is_probe).select("vec_id").collect()]
    print(f"sf_dir={SF_DIR} probes={len(probe_ids)} runs={RUNS}")

    def run_batched() -> float:
        t0 = time.perf_counter()
        spec.builder(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        release_persisted()
        return dt

    def probe_of(pid: int):
        """(cells, probe) of one probe row, quantized off its own scan
        row as the engine's probes are."""
        cells = (
            assignment_ranking(quantized_rows(emb.where(F.col("vec_id") == pid)), cents)
            .where(F.col("rn") <= IVF_PROBE_CELLS)
            .select("cid")
        )
        return cells, e.where(F.col("vec_id") == pid).select(F.col("v").alias("pv"))

    def run_per_probe() -> float:
        t0 = time.perf_counter()
        for pid in probe_ids:
            probe_cells, probe = probe_of(pid)
            ivf_probe_topk(members, probe_cells.crossJoin(probe)).write.format(
                "noop"
            ).mode("overwrite").save()
        return time.perf_counter() - t0

    # answer-set equivalence (excluding the qid!=vec_id vs qid-probe
    # asymmetry: single-probe excludes only PROBE_VEC_ID, so compare on
    # a per-probe re-run with the same exclusion the batch uses)
    batch_rows = {
        (r.qid, r.vec_id)
        for r in spec.builder(spark, SF_DIR).collect()
    }
    release_persisted()
    per_rows = set()
    for pid in probe_ids:
        probe_cells, probe = probe_of(pid)
        cand = (
            members.join(F.broadcast(probe_cells), "cid", "left_semi")
            .where(F.col("vec_id") != pid)
            .crossJoin(F.broadcast(probe))
        )
        top = (
            cand.select("vec_id", cosine_col(F.col("v"), F.col("pv")).alias("cos"))
            .orderBy(F.col("cos").desc(), "vec_id")
            .limit(5)
            .collect()
        )
        per_rows |= {(pid, r.vec_id) for r in top}
    assert batch_rows == per_rows, (
        f"answer drift: batch-only={batch_rows - per_rows} "
        f"per-only={per_rows - batch_rows}"
    )
    print("answer sets identical:", len(batch_rows), "pairs")

    run_batched()  # warm-up
    b = [run_batched() for _ in range(RUNS)]
    p = [run_per_probe() for _ in range(RUNS)]
    mb, mp = statistics.median(b), statistics.median(p)
    print(
        f"batched: med={mb:.2f}s runs={[round(x, 2) for x in b]}\n"
        f"per-probe ({len(probe_ids)} jobs): med={mp:.2f}s "
        f"runs={[round(x, 2) for x in p]}\n"
        f"amortization: {mp / mb:.1f}x "
        f"({mp / len(probe_ids):.2f}s/probe sequential vs "
        f"{mb / len(probe_ids):.2f}s/probe batched)"
    )


if __name__ == "__main__":
    main()
