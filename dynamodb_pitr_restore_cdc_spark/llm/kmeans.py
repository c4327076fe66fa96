"""Distributed k-means over the embedding corpus — the iterative-
algorithm workload (and the offline trainer for the IVF quantizer in
similarity.py).

Determinism at cluster scale: floating-point centroid updates are
schedule-dependent (summation order), which makes k-means results
unreproducible run-to-run on a real cluster. This implementation
quantizes components to integer micro-units once, then every
assignment distance and centroid mean is EXACT integer arithmetic —
bit-identical results under any partitioning, the same discipline as
functions/rounding.py.

One map-side nearest-cell kernel serves training, list build and
probe. The K centroids travel as ONE row value (`cell_row`: an array
of struct(cid, cv) sorted by cid), and each vector meets every cell
inside its own row: the assignment is
array_min(transform(cells, c -> struct(d2, cid))).cid (`nearest_cell`,
the (d2, cid) tie-break), the ranking is the posexplode of the
array_sort of the same structs (`assignment_ranking`, rn = pos + 1).
No n×K row is ever materialised, sorted or shuffled — the argmin is
NOT min(struct(d2, cid)) over a broadcast cross join, whose struct
aggregation buffer is not hash-aggregable: both its partial and final
aggregates plan as SortAggregate and sort the n×K cross product.

Shape per Lloyd update: the kernel → one hash-aggregated groupBy(cid)
of count(*) and the per-dimension sums (only K rows per map task leave
the partial aggregate) → `div` → collect. The driver holds the K×64
longs between updates — orchestration, not data — so an update is one
aggregation job with one hash exchange.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register, tracked_checkpoint
from ..sources import table

K = 8
ITERS = 3
QUANT = 1_000_000  # micro-units: float32 components quantized exactly


def quantize_expr(col):
    # floor(x*Q + 0.5), NOT round(): both engines evaluate floor on the
    # identical double product bit-for-bit, while round() half-way
    # behavior differs between Spark (HALF_UP) and DuckDB near ties —
    # the CLAUDE.md round() gotcha applied to the quantizer itself.
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * QUANT + F.lit(0.5)).cast("long")
    )


def int_sq_dist(a="qv", b="cv") -> Column:
    """Exact integer squared-L2 between two array<bigint> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _quantized(spark: SparkSession, sf_dir: str, floats: bool = False) -> DataFrame:
    """(vec_id, qv) — plus the double vector `v` with `floats` — spread
    off the one-split scan: every trainer/encoder stage downstream
    (Lloyd updates, PQ codebooks, residual encode, the IVF list build)
    inherits this partitioning through its checkpoints, so without the
    exchange the whole ANN family's integer vector math runs on a
    single core (r15 profile: 0.9-1.4 s one-task stages per iteration)."""
    e = table(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    cols = [F.col("vec_id"), quantize_expr(F.col("embedding")).alias("qv")]
    if floats:
        cols.append(
            F.transform("embedding", lambda x: x.cast("double")).alias("v")
        )
    return e.select(*cols)


# Cells = driver-held [(cid, cv), ...] sorted by cid: K×dim longs.
Cells = list[tuple[int, list[int]]]
_CELL_TYPE = "array<struct<cid:bigint,cv:array<bigint>>>"


def centroid_cells(centroids: DataFrame | Cells) -> Cells:
    """The centroids on the driver, sorted by cid. Collecting a frame
    this module returns (`centroids_frame`, a local relation) runs no
    Spark job; a parquet-backed one (IvfIndex) costs one small job."""
    if isinstance(centroids, list):
        return centroids
    return sorted((int(r.cid), [int(x) for x in r.cv]) for r in centroids.collect())


def centroids_frame(spark: SparkSession, cells: Cells) -> DataFrame:
    """The public (cid, cv) frame of driver-held cells. Built from
    pandas, so with Arrow on (session.py / tune_session) it is a local
    relation: collecting it back runs no job."""
    pdf = pd.DataFrame(
        {"cid": [c for c, _ in cells], "cv": [cv for _, cv in cells]}
    )
    return spark.createDataFrame(pdf, "cid bigint, cv array<bigint>")


def cell_row(centroids: DataFrame | Cells) -> Column:
    """The centroids as ONE row value: array<struct<cid, cv>> sorted by
    cid. The carrier is a single JSON string literal read by from_json,
    which constant folding evaluates once per plan, so the analyzer
    sees one node and executors one folded literal. A literal built
    from F.lit objects makes one py4j call per component, and
    array(named_struct(...)) SQL text costs planning time linear in
    K×64 (measured on a 4-core VM: 0.05 s at K=142, 0.3 s at K=1000,
    against a flat ~0.03 s here). The folded literal ships with every
    task (K×64×8 bytes: 0.5 MB at K=1000), so the carrier stays
    sensible up to K of about a thousand (n ≈ 10^6 under
    ivf_cell_count); past that, carry the cells as a broadcast
    one-row frame instead."""
    cells = centroid_cells(centroids)
    text = json.dumps([{"cid": c, "cv": cv} for c, cv in cells])
    return F.from_json(F.lit(text), _CELL_TYPE)


def _cell_distances(centroids: DataFrame | Cells, qv: str | Column = "qv") -> Column:
    """Per row: array<struct<d2, cid>> over every cell — the kernel."""
    return F.transform(
        cell_row(centroids),
        lambda c: F.struct(
            int_sq_dist(qv, c["cv"]).alias("d2"), c["cid"].alias("cid")
        ),
    )


def nearest_cell(centroids: DataFrame | Cells, qv: str | Column = "qv") -> Column:
    """The assigned cid: argmin of (d2, cid), computed in the row."""
    return F.array_min(_cell_distances(centroids, qv))["cid"]


def nearest_cells(
    centroids: DataFrame | Cells, n: int, qv: str | Column = "qv"
) -> Column:
    """The n nearest cids in rank order — an IVF probe set, in the row."""
    return F.transform(
        F.slice(F.array_sort(_cell_distances(centroids, qv)), 1, n),
        lambda c: c["cid"],
    )


def assignment_ranking(vectors: DataFrame, centroids: DataFrame | Cells) -> DataFrame:
    """(vec_id, cid, d2, rn): every (vector, cell) pair ranked by exact
    integer squared-L2, ties broken by cid — rn=1 is the assignment,
    rn<=nprobe the IVF probe set. Map-side: the posexplode of each
    row's sorted cell distances (no window, no shuffle)."""
    ranked = F.array_sort(_cell_distances(centroids))
    return vectors.select("vec_id", F.posexplode(ranked).alias("pos", "c")).select(
        "vec_id",
        F.col("c.cid").alias("cid"),
        F.col("c.d2").alias("d2"),
        (F.col("pos") + 1).alias("rn"),
    )


def _assign(vectors: DataFrame, centroids: DataFrame | Cells) -> DataFrame:
    """`vectors` plus its nearest `cid` — map-only."""
    return vectors.withColumn("cid", nearest_cell(centroids))


def lloyd_means(vectors: DataFrame, cells: Cells) -> DataFrame:
    """(cid, cv): one Lloyd update with exact integer means — the
    kernel, then hash-aggregated count(*) and per-dimension sums per
    assigned cell, then `div` (truncating, as DuckDB `//` in the
    oracle). A cell left without members vanishes, so K can shrink."""
    dim = len(cells[0][1])
    qv = F.col("qv")
    return (
        _assign(vectors.select("qv"), cells)
        .groupBy("cid")
        .agg(
            F.count("*").alias("n"),
            F.array(*(F.sum(qv[i]) for i in range(dim))).alias("s"),
        )
        .select("cid", F.expr("transform(s, x -> x div n)").alias("cv"))
    )


def kmeans_centroids(vectors: DataFrame, k: int = K, iters: int = ITERS) -> DataFrame:
    """The trained quantizer as a (cid, cv) frame: initial centroids are
    the vectors with vec_id 1..k, then `iters` Lloyd updates with the
    centroids on the driver in between. Each update reads `vectors`
    once — pass a checkpointed frame. The result is a local relation,
    so multi-branch consumers never re-run the iterative job."""
    seeds = vectors.where(F.col("vec_id").between(1, k)).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("cv")
    )
    cells = centroid_cells(seeds)
    for _ in range(iters):
        cells = centroid_cells(lloyd_means(vectors, cells))
    return centroids_frame(vectors.sparkSession, cells)


def kmeans_fit(vectors: DataFrame, k: int = K, iters: int = ITERS) -> DataFrame:
    """Lloyd iterations with exact integer means; returns the final
    assignment (computed against the centroids after iters-1 updates —
    the classic fit loop's last argmin pass). `vectors` is checkpointed
    once for every update and the assignment; consume the result
    before release_persisted()."""
    vectors = tracked_checkpoint(vectors)
    cents = kmeans_centroids(vectors, k=k, iters=iters - 1)
    return _assign(vectors, cents).select("vec_id", "cid")


EMBED_DIM = 64  # fixture contract (embeddings.embedding: array<float>[64])


def lloyd_oracle_ctes(k_sql: str, iters: int, train_cond: str | None = None) -> str:
    """DuckDB CTE chain mirroring the exact-integer Lloyd trainer: same
    floor-quantization, same initialization (vec_id 1..k), `iters`
    unrolled updates (tied argmin by cid, truncating integer means),
    then a final assignment ranking (`rank_final`/`asg`). Exact integer
    math is what makes the iterative trainer oracle-expressible at all
    — double centroid means would diverge between engines on summation
    order. `k_sql` is an aggregate expression over `embeddings`
    (a literal for a fixed k). `train_cond` restricts TRAINING to a
    vector subset (the frozen-quantizer index-maintenance shape: train
    once on the loaded corpus, assign later arrivals with the frozen
    centroids); `rank_final`/`asg` still rank EVERY vector. The default
    emits byte-identical text to the pre-parameter version, so existing
    oracles are unchanged."""
    d2 = (
        "list_sum(list_transform(list_zip(q.qv, c.cv), "
        "z -> (z[1] - z[2]) * (z[1] - z[2])))"
    )
    train_src = "qt q" if train_cond else "q"
    parts = [
        "e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings)",
        (
            "q AS (SELECT vec_id, list_transform(embedding, "
            f"x -> CAST(floor(x::DOUBLE * {QUANT} + 0.5) AS BIGINT)) AS qv FROM embeddings)"
        ),
        f"kk AS (SELECT {k_sql} AS k FROM embeddings)",
        "c0 AS (SELECT vec_id AS cid, qv AS cv FROM q WHERE vec_id BETWEEN 1 AND (SELECT k FROM kk))",
    ]
    if train_cond:
        parts.append(f"qt AS (SELECT * FROM q WHERE {train_cond})")
    for i in range(1, iters + 1):
        parts += [
            (
                f"a{i} AS (SELECT q.vec_id, c.cid, row_number() OVER "
                f"(PARTITION BY q.vec_id ORDER BY {d2}, c.cid) AS rn "
                f"FROM {train_src} CROSS JOIN c{i - 1} c)"
            ),
            f"asg{i} AS (SELECT vec_id, cid FROM a{i} WHERE rn = 1)",
            (
                f"dims{i} AS (SELECT asg{i}.cid, p.pos, q.qv[p.pos] AS val "
                f"FROM asg{i} JOIN q USING (vec_id) "
                f"CROSS JOIN (SELECT unnest(range(1, {EMBED_DIM + 1})) AS pos) p)"
            ),
            (
                f"m{i} AS (SELECT cid, pos, CAST(sum(val) // count(*) AS BIGINT) AS m "
                f"FROM dims{i} GROUP BY cid, pos)"
            ),
            f"c{i} AS (SELECT cid, list(m ORDER BY pos) AS cv FROM m{i} GROUP BY cid)",
        ]
    parts += [
        (
            f"rank_final AS (SELECT q.vec_id, c.cid, row_number() OVER "
            f"(PARTITION BY q.vec_id ORDER BY {d2}, c.cid) AS rn "
            f"FROM q CROSS JOIN c{iters} c)"
        ),
        "asg AS (SELECT vec_id, cid FROM rank_final WHERE rn = 1)",
    ]
    return ",\n".join(parts)


@register(
    "q_llm_kmeans",
    # fully oracled since round 3: kmeans_fit(iters=3) assigns against
    # the centroids after 2 updates, so the oracle unrolls 2 Lloyd
    # iterations and takes rank_final's argmin as the fit assignment
    oracle=f"""
WITH {lloyd_oracle_ctes(k_sql=str(K), iters=ITERS - 1)}
SELECT cid, count(*) AS n_members,
       CAST(sum(vec_id) AS BIGINT) AS member_id_sum,
       min(vec_id) AS min_member
FROM asg GROUP BY cid
""",
)
def q_llm_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration integer k-means (K=8) over the embeddings: outputs per-
    cluster membership stats. Deterministic by construction (exact
    integer math; see module docstring), asserted by running twice in
    tests/test_llm.py — and, since round 3, hash-checked against a
    DuckDB oracle that unrolls the identical integer Lloyd chain."""
    assigned = kmeans_fit(_quantized(spark, sf_dir))
    return assigned.groupBy("cid").agg(
        F.count("*").alias("n_members"),
        F.sum("vec_id").alias("member_id_sum"),
        F.min("vec_id").alias("min_member"),
    )
