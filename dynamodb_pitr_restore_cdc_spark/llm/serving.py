"""Filtered batched ANN serving (round-11 verdict item 5).

Real serving queries carry metadata predicates (tenant, language,
label, date window) alongside the vector.  The naive plan scores every
candidate in the probed cells and filters afterwards; the right plan
pushes the predicate into the INVERTED-LIST SCAN so the filter prunes
files before any cosine arithmetic — the q_scan_zorder_box footer-
stats discipline applied to the index artifact.

The serving index here is the multiprobe index (similarity.py
`_cell_members`) re-materialized WITH its filterable payload column
and laid out `partitionBy(cid, label)`: `cid` keeps the probe's
partition-pruned read, `label` gives the metadata predicate
directory-level skipping (and, inside a partition, parquet min/max
footer stats — at 100 TB a coarser label-BUCKET directory plus sorted
row groups is the same plan shape).  The candidate volume drops from
Q·nprobe·n/K to its selectivity fraction BEFORE scoring; the plan pin
asserts the predicate lands in PartitionFilters of the index scan,
and `scripts/filtered_serving_bench.py` measures the reduction.

Built in round 12 but NOT registered then (the driver window was
exactly full: 45 age-5 rotations + 4 reverifies + the
incremental-manifest query); registered in round 13 as that window's
one fresh query, discharging the code-enforced obligation
(`tests/test_serving.py::test_r13_registration_obligation`, which
tripped once round 12's driver evidence was recorded — the round-11
review rule that a deferral must live in code, not a comment — and now
checks the registration unconditionally).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import pid_scoped_root, register
from ..sources import table
from .similarity import (
    IVF_PROBE_CELLS,
    MULTIPROBE_MOD,
    MULTIPROBE_RES,
    MULTIPROBE_TOP_K,
    _as_double,
    _ivf_artifact,
    _ivf_oracle_prefix,
    cosine_col,
)

# the serving predicate: a deterministic label so both dialects name
# the same slice (43/500 rows at the fixtures — ~9% selectivity)
SERVE_LABEL = 3

_FILTERED_INDEX_CACHE: dict[tuple[str, str], str] = {}
_FILTERED_INDEX_ROOT = pid_scoped_root("fivf")


def filtered_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v, cid, label): the IVF inverted lists with the
    filterable payload column, laid out partitionBy(cid, label) — one
    corpus scan to build (the map-side nearest-cell kernel of
    llm/kmeans.py, as in similarity._cell_members; no shuffle),
    materialized once per (session, corpus). Reading it with a label
    predicate must skip whole directories: the serving filter prunes
    the scan, not the scored rows."""
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    path = _FILTERED_INDEX_CACHE.get(key)
    if path is None or not os.path.isdir(path):
        from .kmeans import nearest_cell, quantize_expr

        cents, _ = _ivf_artifact(spark, sf_dir, None)
        members = table(spark, sf_dir, "embeddings").select(
            "vec_id",
            _as_double("embedding").alias("v"),
            nearest_cell(cents, quantize_expr(F.col("embedding"))).alias("cid"),
            "label",
        )
        path = os.path.join(_FILTERED_INDEX_ROOT, f"index-{uuid.uuid4().hex[:8]}")
        members.write.mode("overwrite").partitionBy("cid", "label").parquet(path)
        _FILTERED_INDEX_CACHE[key] = path
    # partition dirs read back via type inference as INT — cast both to
    # the written types so downstream joins/outputs are width-stable
    return spark.read.parquet(path).select(
        "vec_id",
        "v",
        F.col("cid").cast("bigint").alias("cid"),
        F.col("label").cast("int").alias("label"),
    )


FILTERED_SERVING_ORACLE = f"""
WITH {_ivf_oracle_prefix()},
probe_cells AS (
    SELECT vec_id AS qid, cid FROM rank_final
    WHERE vec_id % {MULTIPROBE_MOD} = {MULTIPROBE_RES} AND rn <= {IVF_PROBE_CELLS}),
pv AS (SELECT vec_id AS qid, v AS pv FROM e
       WHERE vec_id % {MULTIPROBE_MOD} = {MULTIPROBE_RES}),
lb AS (SELECT vec_id, label FROM embeddings),
cand AS (
    SELECT c.qid, e.vec_id,
           list_cosine_similarity(e.v, p.pv) AS cos
    FROM e
    JOIN asg m USING (vec_id)
    JOIN lb USING (vec_id)
    JOIN probe_cells c ON m.cid = c.cid
    JOIN pv p ON p.qid = c.qid
    WHERE e.vec_id <> c.qid AND lb.label = {SERVE_LABEL})
SELECT qid, vec_id, round(cos, 4) AS cos_sim
FROM (SELECT qid, vec_id, cos,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
      FROM cand)
WHERE rn <= {MULTIPROBE_TOP_K}
"""


def multiprobe_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batched-serving probe plan (qid, cid, pv) for the standard
    MULTIPROBE slice — ONE construction shared by
    q_llm_ann_ivf_multiprobe, the filtered builder, the serving benches
    and the equivalence tests, so a change to the probe-slice rule or
    the nprobe cut cannot desynchronize which query batch two lanes
    answer."""
    from .kmeans import assignment_ranking, quantized_rows

    cents, _ = _ivf_artifact(spark, sf_dir, None)
    rows = table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % MULTIPROBE_MOD == MULTIPROBE_RES
    )
    probe_cells = (
        assignment_ranking(quantized_rows(rows), cents)
        .where(F.col("rn") <= IVF_PROBE_CELLS)
        .select(F.col("vec_id").alias("qid"), "cid")
    )
    probes = rows.select(
        F.col("vec_id").alias("qid"), _as_double("embedding").alias("pv")
    )
    return probe_cells.join(probes, "qid")


def probe_topk(cand: DataFrame) -> DataFrame:
    """Per-query top-k over scored candidates (the WindowGroupLimit
    shape) — shared tail of the filtered and post-filtered lanes."""
    w = W.partitionBy("qid").orderBy(F.col("cos").desc(), "vec_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= MULTIPROBE_TOP_K)
        .select("qid", "vec_id", F.round("cos", 4).alias("cos_sim"))
    )


def filtered_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched multiprobe ANN with a metadata predicate: the same
    broadcast (qid, cid, pv) probe plan as q_llm_ann_ivf_multiprobe,
    but the corpus side is the label-partitioned index read UNDER the
    predicate — the filter prunes directories in the scan (plan-pinned)
    and only the surviving ~selectivity fraction of each probed cell is
    ever scored.  Candidate volume: Q·nprobe·(n/K)·sel, reduced BEFORE
    the cosine, not after."""
    plan = multiprobe_plan(spark, sf_dir)
    members = filtered_index(spark, sf_dir).where(
        F.col("label") == SERVE_LABEL
    )
    cand = (
        members.join(F.broadcast(plan), "cid")
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "vec_id", cosine_col(F.col("v"), F.col("pv")).alias("cos")
        )
    )
    return probe_topk(cand)


@register("q_llm_ann_ivf_filtered", oracle=FILTERED_SERVING_ORACLE)
def q_llm_ann_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered round 13, discharging the code-enforced obligation
    (tests/test_serving.py::test_r13_registration_obligation — the r12
    window was exactly full).  Top-k nearest label={SERVE_LABEL}
    vectors for every probe in the batched slice: the metadata
    predicate prunes the partitionBy(cid, label) index scan at
    directory level BEFORE any cosine is computed (plan-pinned
    PartitionFilters; measured 9.7× candidate reduction at ~9%
    selectivity, scripts/filtered_serving_bench.py)."""
    return filtered_multiprobe(spark, sf_dir)
