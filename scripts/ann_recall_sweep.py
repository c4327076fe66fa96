#!/usr/bin/env python
"""Recall@k sweep for the IVF index over nprobe — the quality/cost dial.

q_llm_ann_recall hash-proves recall@5 for the standard probe; this
script measures the DISTRIBUTION over a deterministic probe sample
(vec_ids 0..N_PROBES-1) for nprobe = 1..4 at $SPARK_GRAFT_SF_DIR
(default sf0.01), plus the scored-fraction cost (cells touched / K).
Output: one table to stdout; the numbers land in SCALE.md.

Plan shape: brute-force truth for ALL probes in one job — probes ×
corpus broadcast-cosine, per-probe top-5 via WindowGroupLimit; IVF
side = probe cell ranking (the nearest-cell kernel over the probes'
own scan rows) and a cell-semijoin per nprobe. Runs a few corpus passes total, independent
of probe count.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dynamodb_pitr_restore_cdc_spark.llm.kmeans import (
    assignment_ranking,
    quantized_rows,
)
from dynamodb_pitr_restore_cdc_spark.llm.similarity import (
    _as_double,
    _cell_members,
    _ivf_artifact,
    cosine_col,
)
from dynamodb_pitr_restore_cdc_spark.session import get_spark
from dynamodb_pitr_restore_cdc_spark.sources import table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
N_PROBES = 20
TOP_K = 5


def top5(scored, extra_cols=()):
    w = W.partitionBy("probe_id").orderBy(F.col("cos").desc(), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TOP_K)
        .select("probe_id", "vec_id", *extra_cols)
    )


def main() -> None:
    spark = get_spark("ann-sweep", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "16")))
    spark.sparkContext.setLogLevel("ERROR")

    emb = table(spark, SF_DIR, "embeddings")
    e = emb.select("vec_id", _as_double("embedding").alias("v"))
    probes = (
        e.where(F.col("vec_id") < N_PROBES)
        .select(F.col("vec_id").alias("probe_id"), F.col("v").alias("pv"))
    )
    corpus = e

    # exact truth: one probes×corpus pass, per-probe top-5
    exact = top5(
        corpus.join(F.broadcast(probes), F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id", cosine_col(F.col("v"), F.col("pv")).alias("cos"))
    ).withColumnRenamed("vec_id", "true_id")
    exact = exact.persist()
    exact.count()

    cents, _ = _ivf_artifact(spark, SF_DIR, None)
    k_cells = cents.count()
    members = _cell_members(spark, SF_DIR)
    # probes quantized off their own scan rows, as the engine's probes are
    probe_vecs = quantized_rows(emb.where(F.col("vec_id") < N_PROBES))
    ranking = (
        assignment_ranking(probe_vecs, cents)
        .select(F.col("vec_id").alias("probe_id"), "cid", "rn")
        .persist()
    )
    ranking.count()

    print(f"corpus={corpus.count()} K={k_cells} probes={N_PROBES} k={TOP_K}")
    print("nprobe | scanned_frac | mean_recall | min_recall | p[recall=1]")
    for nprobe in (1, 2, 3, 4):
        cells = ranking.where(F.col("rn") <= nprobe).select("probe_id", "cid")
        # each probe's candidates = members of ITS probed cells only
        cand = (
            members.alias("m")
            .join(F.broadcast(cells).alias("c"), F.col("m.cid") == F.col("c.cid"))
            .join(
                F.broadcast(probes).alias("p"),
                (F.col("p.probe_id") == F.col("c.probe_id"))
                & (F.col("m.vec_id") != F.col("p.probe_id")),
            )
            .select(
                F.col("p.probe_id").alias("probe_id"),
                F.col("m.vec_id").alias("vec_id"),
                cosine_col(F.col("m.v"), F.col("p.pv")).alias("cos"),
            )
        )
        ivf = top5(cand)
        hits = (
            exact.join(
                ivf.withColumnRenamed("vec_id", "true_id"),
                ["probe_id", "true_id"],
            )
            .groupBy("probe_id")
            .agg(F.count("*").alias("n_hit"))
        )
        per_probe = (
            probes.select("probe_id")
            .join(hits, "probe_id", "left")
            .select(
                "probe_id",
                (F.coalesce(F.col("n_hit"), F.lit(0)) / TOP_K).alias("recall"),
            )
        )
        stats = per_probe.agg(
            F.avg("recall").alias("mean_r"),
            F.min("recall").alias("min_r"),
            F.avg((F.col("recall") == 1.0).cast("double")).alias("perfect"),
        ).first()
        print(
            f"{nprobe:6d} | {nprobe / k_cells:12.3f} | {stats.mean_r:11.3f} |"
            f" {stats.min_r:10.3f} | {stats.perfect:.2f}"
        )


if __name__ == "__main__":
    main()
