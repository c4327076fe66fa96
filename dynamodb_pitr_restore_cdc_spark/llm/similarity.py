"""Embedding similarity search (LLM-data-pipeline extension).

- brute-force cosine top-k: the correctness baseline — JVM-side
  higher-order functions (zip_with + aggregate), no Python in the
  scoring loop, probe broadcast so the big side never shuffles.
- LSH-bucketed ANN: the scale path — a fixed set of random hyperplanes
  maps each vector to a bucket; search touches only the probe's bucket
  (≈ n/2^planes of the data). At 100 TB the bucket id is a partition
  key: the probe routes to one partition instead of scanning all.

Float discipline: components are float32 in storage; both engines cast
to double BEFORE any arithmetic and fold sequentially, so cosine
values agree to ~1e-15 and the round(_, 4) outputs hash-match.
"""

from __future__ import annotations

import os
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..registry import (
    pid_scoped_root,
    register,
    release_checkpoint,
    tracked_checkpoint,
    tracked_persist,
)
from ..sources import table

TOP_K = 10
PROBE_VEC_ID = 0

N_PLANES = 4
_plane_rng = np.random.RandomState(7)
_PLANES = _plane_rng.standard_normal((N_PLANES, 64))


def _as_double(col):
    return F.transform(col if not isinstance(col, str) else F.col(col), lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def cosine_col(a, b):
    """cos(a, b) as a pure JVM column expression (codegen'd, no UDF)."""
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


@register(
    "q_llm_cosine_topk",
    oracle=f"""
WITH p AS (SELECT list_transform(embedding, x -> x::DOUBLE) AS pv
           FROM embeddings WHERE vec_id = {PROBE_VEC_ID}),
c AS (SELECT vec_id,
             list_cosine_similarity(list_transform(embedding, x -> x::DOUBLE), pv) AS cos
      FROM embeddings, p WHERE vec_id <> {PROBE_VEC_ID})
SELECT vec_id, round(cos, 4) AS cos_sim
FROM c ORDER BY cos DESC, vec_id LIMIT {TOP_K}
""",
)
def q_llm_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k against a probe vector (vec_id=0).

    The probe is a 1-row broadcast; scoring is a map-only pass over the
    corpus (zip_with/aggregate inside codegen); top-k is TakeOrdered
    (per-partition heads + small merge), so nothing global ever sorts."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", _as_double("embedding").alias("v"))
    probe = e.where(F.col("vec_id") == PROBE_VEC_ID).select(F.col("v").alias("pv"))
    scored = (
        e.where(F.col("vec_id") != PROBE_VEC_ID)
        .crossJoin(F.broadcast(probe))
        .select("vec_id", cosine_col(F.col("v"), F.col("pv")).alias("cos"))
    )
    return (
        scored.orderBy(F.col("cos").desc(), "vec_id")
        .limit(TOP_K)
        .select("vec_id", F.round("cos", 4).alias("cos_sim"))
    )


IVF_PROBE_CELLS = 2
IVF_TRAIN_ITERS = 3   # = kmeans.ITERS: the quantizer IS q_llm_kmeans's trainer
EMBED_DIM = 64        # fixture contract (embeddings.embedding: array<float>[64])


def ivf_probe_tail_sql(members_rel: str, nprobe: int) -> str:
    """The IVF probe's candidate/score/top-5 SQL — ONE text for every
    cell-pruned ANN oracle (q_llm_ann_ivf; the CDC-maintained index
    drill passes its live-filtered membership), so a scoring or
    tie-break change cannot silently diverge between them. Continues an
    open WITH list; expects `rank_final` (probe cell ranking) and `e`
    (float vectors) upstream. `members_rel` is a relation text with
    (vec_id, cid) — a CTE name or a parenthesized subquery."""
    return f"""probe_cells AS (SELECT cid FROM rank_final
                WHERE vec_id = {PROBE_VEC_ID} AND rn <= {nprobe}),
p AS (SELECT v AS pv FROM e WHERE vec_id = {PROBE_VEC_ID}),
cand AS (SELECT e.vec_id, m.cid,
                list_cosine_similarity(e.v, p.pv) AS cos
         FROM e JOIN {members_rel} m USING (vec_id) CROSS JOIN p
         WHERE m.cid IN (SELECT cid FROM probe_cells)
           AND e.vec_id <> {PROBE_VEC_ID})
SELECT vec_id, cid, round(cos, 4) AS cos_sim
FROM cand ORDER BY cos DESC, vec_id LIMIT 5"""


def ivf_probe_topk(members: DataFrame, probe: DataFrame) -> DataFrame:
    """Spark twin of ivf_probe_tail_sql: members (vec_id, cid, v) ×
    broadcast probe rows (cid, pv) — one per probed cell → exact
    cosine → TakeOrdered top-5."""
    cand = (
        members.join(F.broadcast(probe), "cid")
        .where(F.col("vec_id") != PROBE_VEC_ID)
        .select("vec_id", "cid", cosine_col(F.col("v"), F.col("pv")).alias("cos"))
    )
    return (
        cand.orderBy(F.col("cos").desc(), "vec_id")
        .limit(5)
        .select("vec_id", "cid", F.round("cos", 4).alias("cos_sim"))
    )


def ivf_cell_count(n: int) -> int:
    """K-vs-n sizing rule: K = max(4, ceil(sqrt(n))) — the standard IVF
    nlist heuristic. Cells then hold ~sqrt(n) vectors, so within-cell
    work (the neardup self-join's O(n²/K) candidate set, a probe's
    nprobe·n/K scan) grows as n^1.5/K = n, i.e. linearly with the
    corpus instead of quadratically. At 100 TB one additionally caps
    cell bytes (~n·d·4/K ≤ executor-partition budget), which sqrt
    sizing satisfies for any realistic n."""
    import math

    return max(4, math.ceil(math.sqrt(n)))


# one IVF artifact per (session, corpus, k): the trained centroids
# (driver-built (cid, cv) frame, k×64 longs) and the path of the
# materialized inverted lists. IVF training and indexing are OFFLINE
# jobs in production — done once per corpus snapshot, and every
# index/search job reuses them (same artifact discipline as
# llm/dedup.band_buckets). An IVF index IS "centroids + vectors grouped
# by cell", so both halves come out of one build.
_IVF_CACHE: dict[tuple[str, str, int | None], tuple[DataFrame, str]] = {}
# pid-scoped + dead-sibling sweep: see registry.pid_scoped_root
_IVF_INDEX_ROOT = pid_scoped_root("ivf")


def _ivf_lists(corpus: DataFrame, cents) -> DataFrame:
    """(vec_id, cid, v): the inverted lists as written — the map-side
    nearest-cell kernel over the corpus rows; no shuffle."""
    from .kmeans import nearest_cell

    return corpus.select("vec_id", nearest_cell(cents).alias("cid"), "v")


def _ivf_artifact(spark: SparkSession, sf_dir: str, k: int | None) -> tuple[DataFrame, str]:
    """Build (or serve) the (centroids, lists path) artifact. ONE corpus
    scan: the quantized corpus, v riding along, is spread to
    defaultParallelism and checkpointed once; the K-sizing count, the
    seed read, every Lloyd update (one aggregation job each, centroids
    on the driver in between) and the list build read that checkpoint,
    which is released once the lists exist. The list build is the
    nearest-cell kernel over it plus a write — no shuffle, every core."""
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), k)
    art = _IVF_CACHE.get(key)
    if art is None or not os.path.isdir(art[1]):
        from .kmeans import _quantized, kmeans_centroids

        corpus = tracked_checkpoint(_quantized(spark, sf_dir, floats=True))
        kk = ivf_cell_count(corpus.count()) if k is None else k
        cents = kmeans_centroids(corpus, k=kk, iters=IVF_TRAIN_ITERS)
        path = os.path.join(_IVF_INDEX_ROOT, f"index-{uuid.uuid4().hex[:8]}")
        _ivf_lists(corpus, cents).write.mode("overwrite").parquet(path)
        release_checkpoint(corpus)
        art = _IVF_CACHE[key] = (cents, path)
    return art


def trained_quantizer(spark: SparkSession, sf_dir: str, k: int | None = None):
    """(quantized vectors, trained centroids) for the embeddings corpus:
    integer-exact k-means (llm/kmeans.py) over K = ivf_cell_count(n)
    cells (overridable for the K-sweep property tests),
    IVF_TRAIN_ITERS Lloyd updates, trained once per (session, corpus)
    and served from the IVF artifact afterwards. The corpus count is a
    scalar driver-side read (quantizer sizing is a plan-time decision,
    orchestration not data); the centroids are a local relation, so
    multi-branch consumers never retrain."""
    from .kmeans import _quantized

    return _quantized(spark, sf_dir), _ivf_artifact(spark, sf_dir, k)[0]


# the written list schema, given on read: inferring it costs a job
_MEMBERS_SCHEMA = "vec_id bigint, cid bigint, v array<double>"


def _cell_members(spark: SparkSession, sf_dir: str, k: int | None = None) -> DataFrame:
    """(vec_id, cid, v): the IVF inverted lists, read back from the
    materialized index (built with the quantizer by _ivf_artifact: the
    map-side nearest-cell kernel over the training checkpoint). At
    100 TB the index write is partitioned by cid, making each probe a
    partition-pruned read."""
    path = _ivf_artifact(spark, sf_dir, k)[1]
    return spark.read.schema(_MEMBERS_SCHEMA).parquet(path)


def _ivf_oracle_prefix() -> str:
    """DuckDB CTE chain mirroring the trained quantizer exactly (see
    kmeans.lloyd_oracle_ctes): the IVF instance uses the dynamic
    K = max(4, ceil(sqrt(n))) sizing rule and IVF_TRAIN_ITERS updates."""
    from .kmeans import lloyd_oracle_ctes

    return lloyd_oracle_ctes(
        k_sql="GREATEST(4, CAST(ceil(sqrt(count(*))) AS BIGINT))",
        iters=IVF_TRAIN_ITERS,
    )


@register(
    "q_llm_ann_ivf",
    oracle=f"""
WITH {_ivf_oracle_prefix()},
{ivf_probe_tail_sql("asg", IVF_PROBE_CELLS)}
""",
)
def q_llm_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: a k-means-trained coarse quantizer partitions the
    corpus into K = ceil(sqrt(n)) cells; search touches only the nprobe
    cells nearest the probe.

    The quantizer is the integer-exact Lloyd trainer from llm/kmeans.py
    (SURVEY §2B-bis: "trains the IVF quantizer" — true in code since
    round 3; the round-2 fixed-8 exemplar constant is gone). Cell
    assignment is the map-side nearest-cell kernel (one Arrow-batched
    exact-integer argmin per vector against the K centroids, integer
    squared-L2 — same ranking as L2, no sqrt); the probe's nprobe
    cells come from the same kernel on the probe's own scan row,
    which broadcasts as nprobe (cid, pv) rows — no window, no shuffle.
    At scale `cid` becomes the partition key, so a probe reads
    nprobe/K of the data.
    Fully oracle-checked, trainer included: exact integer math keeps
    even the iterative k-means SQL-expressible."""
    from .kmeans import nearest_cells, quantize_expr

    cents, _ = _ivf_artifact(spark, sf_dir, None)
    probe = (
        table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") == PROBE_VEC_ID)
        .select(
            F.explode(
                nearest_cells(cents, IVF_PROBE_CELLS, quantize_expr(F.col("embedding")))
            ).alias("cid"),
            _as_double("embedding").alias("pv"),
        )
    )
    return ivf_probe_topk(_cell_members(spark, sf_dir), probe)


# the batched-serving probe set: a deterministic arithmetic slice so
# both dialects name the same queries without a lookup table
MULTIPROBE_MOD, MULTIPROBE_RES = 97, 13
MULTIPROBE_TOP_K = 5


@register(
    "q_llm_ann_ivf_multiprobe",
    oracle=f"""
WITH {_ivf_oracle_prefix()},
probe_cells AS (
    SELECT vec_id AS qid, cid FROM rank_final
    WHERE vec_id % {MULTIPROBE_MOD} = {MULTIPROBE_RES} AND rn <= {IVF_PROBE_CELLS}),
pv AS (SELECT vec_id AS qid, v AS pv FROM e
       WHERE vec_id % {MULTIPROBE_MOD} = {MULTIPROBE_RES}),
cand AS (
    SELECT c.qid, e.vec_id,
           list_cosine_similarity(e.v, p.pv) AS cos
    FROM e
    JOIN asg m USING (vec_id)
    JOIN probe_cells c ON m.cid = c.cid
    JOIN pv p ON p.qid = c.qid
    WHERE e.vec_id <> c.qid)
SELECT qid, vec_id, round(cos, 4) AS cos_sim
FROM (SELECT qid, vec_id, cos,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
      FROM cand)
WHERE rn <= {MULTIPROBE_TOP_K}
""",
)
def q_llm_ann_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched ANN serving — the shape inference actually runs: a SET of
    query vectors (vec_id % 97 == 13) answered in ONE pass over the IVF
    index instead of per-probe jobs. Every probe's cells come from the
    map-side nearest-cell kernel in its own row; the probe plan
    (serving.multiprobe_plan: qid, cid, pv) broadcasts against
    the materialized inverted lists, so the corpus is read ONCE and
    each member row fans out only to the probes whose plan includes its
    cell — candidate volume Q·nprobe·n/K. Per-query top-5 is a rank
    window, which Spark's WindowGroupLimit rewrite pre-reduces to 5
    rows per query PER MAP TASK before the shuffle (the
    q_win_topk_per_group physical shape), so the exchange carries
    O(Q·k), never the candidate set. At 100 TB with cid as partition
    key this is a partition-pruned scan of the union of probed cells —
    batching amortizes the scan across the whole query set, which is
    why serving systems batch."""
    from .serving import multiprobe_plan, probe_topk

    # one broadcast carries the whole probe plan (qid, cid, pv):
    # Q·nprobe tiny rows — the big side shuffles nothing extra
    cand = (
        _cell_members(spark, sf_dir)
        .join(F.broadcast(multiprobe_plan(spark, sf_dir)), "cid")
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "vec_id", cosine_col(F.col("v"), F.col("pv")).alias("cos")
        )
    )
    return probe_topk(cand)


NEARDUP_COS = 0.35


# shared with the real-stream twin (q_stream_semantic_neardup below),
# whose per-batch stream-static pair detection must union to the
# IDENTICAL pair set
EMBED_NEARDUP_ORACLE = f"""
WITH {_ivf_oracle_prefix()},
m AS (SELECT e.vec_id, e.v, asg.cid FROM e JOIN asg USING (vec_id))
SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
       round(list_cosine_similarity(x.v, y.v), 4) AS cos_sim
FROM m x JOIN m y ON x.cid = y.cid AND x.vec_id < y.vec_id
WHERE list_cosine_similarity(x.v, y.v) >= {NEARDUP_COS}
"""


@register("q_llm_embed_neardup", oracle=EMBED_NEARDUP_ORACLE)
def q_llm_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, cell-bucketed: vectors are
    assigned to k-means-trained IVF cells (same quantizer as
    q_llm_ann_ivf, K = ceil(sqrt(n))) and pairs are scored only WITHIN
    a cell — the candidate set is O(n²/K) = O(n^1.5), and `cid` is the
    shuffle key, so at scale each cell's pair generation is an
    in-partition job whose size follows the K-vs-n rule
    (ivf_cell_count) instead of a fixed constant. The oracle runs the
    identical trainer + cell-restricted pair join, making the whole
    path (training + assignment + pairing + scoring) hash-checked."""
    return embed_neardup_pairs(spark, sf_dir)


def embed_neardup_pairs(spark: SparkSession, sf_dir: str, k: int | None = None) -> DataFrame:
    """q_llm_embed_neardup's builder, with the cell count overridable:
    the K-sweep property tests assert that for ANY K the result is
    exactly (brute-force pairs ≥ τ) ∩ (co-assigned pairs) with exact
    scores — i.e. the cell restriction is the only recall loss and
    never a precision loss."""
    member = (
        _cell_members(spark, sf_dir, k=k)
        # norm precomputed per vector, not per pair: cos(x,y) needs one
        # dot per pair but each norm only once per vector — recomputing
        # norms inside the pair loop would triple the fold work
        .withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
        .transform(tracked_persist)  # both sides of the pair self-join (no cross-branch CSE)
    )
    pairs = (
        member.alias("x")
        .join(
            member.alias("y"),
            (F.col("x.cid") == F.col("y.cid")) & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(
            F.col("x.vec_id").alias("vec_a"),
            F.col("y.vec_id").alias("vec_b"),
            (_dot(F.col("x.v"), F.col("y.v")) / (F.col("x.nrm") * F.col("y.nrm"))).alias("cos"),
        )
        .where(F.col("cos") >= NEARDUP_COS)
    )
    return pairs.select("vec_a", "vec_b", F.round("cos", 4).alias("cos_sim"))


@F.pandas_udf(T.IntegerType())
def lsh_bucket(embeddings: pd.Series) -> pd.Series:
    """Random-hyperplane LSH bucket (sign pattern over N_PLANES planes,
    fixed seed — deterministic across runs and executors)."""
    M = np.array(embeddings.tolist(), dtype=np.float64)
    signs = (M @ _PLANES.T) > 0
    buckets = (signs * (1 << np.arange(N_PLANES))).sum(axis=1)
    return pd.Series(buckets.astype(np.int32))


# The 4×64 hyperplane matrix shipped as a literal VALUES table so the
# oracle reproduces the bucket assignment exactly: repr() of each
# float64 round-trips bit-exactly, and DuckDB's sequential
# list_dot_product vs numpy's pairwise matmul differ by ~1e-15 — a
# bucket sign flip would need |dot| below that, unobserved at any
# fixture SF (same tolerance discipline as the cosine family).
_PLANES_VALUES = ",\n    ".join(
    f"({p}, [{', '.join(repr(float(w)) for w in _PLANES[p])}])"
    for p in range(N_PLANES)
)

_ANN_LSH_ORACLE = f"""
WITH planes(p, w) AS (VALUES
    {_PLANES_VALUES}),
b AS (
    SELECT e.vec_id,
           CAST(sum(CASE WHEN list_dot_product(
                             list_transform(e.embedding, x -> x::DOUBLE), pl.w) > 0
                         THEN (1 << pl.p) ELSE 0 END) AS INTEGER) AS bucket,
           list_transform(e.embedding, x -> x::DOUBLE) AS v
    FROM embeddings e CROSS JOIN planes pl
    GROUP BY e.vec_id, v),
probe AS (SELECT bucket AS pb, v AS pv FROM b WHERE vec_id = {PROBE_VEC_ID}),
probed AS (
    SELECT DISTINCT xor(pb, (1 << i.i) // 2) AS probed, pv
    FROM probe CROSS JOIN (SELECT unnest(generate_series(0, {N_PLANES})) AS i) i),
cand AS (
    SELECT b.vec_id, b.bucket, list_cosine_similarity(b.v, p.pv) AS cos
    FROM b JOIN probed p ON b.bucket = p.probed
    WHERE b.vec_id <> {PROBE_VEC_ID})
SELECT vec_id, bucket, round(cos, 4) AS cos_sim
FROM cand ORDER BY cos DESC, vec_id LIMIT {TOP_K}
"""


@register("q_llm_ann_lsh", oracle=_ANN_LSH_ORACLE)
def q_llm_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbors with MULTI-PROBE: score the probe's
    LSH bucket plus its Hamming-1 neighbors (flip each plane bit once).

    Single-bucket LSH misses neighbors that fall just across one
    hyperplane; probing the N_PLANES adjacent buckets recovers most of
    that recall for (1 + N_PLANES)/2^N_PLANES of the corpus scored —
    the standard production recall/cost dial. Scores are exact
    (property-tested: LSH changes WHICH vectors are scored, never
    their scores); the probed-bucket set is a tiny broadcast."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", _as_double("embedding").alias("v")
    )
    bucketed = e.withColumn("bucket", lsh_bucket("embedding"))
    probe = bucketed.where(F.col("vec_id") == PROBE_VEC_ID).select(
        F.col("v").alias("pv"), F.col("bucket").alias("probe_bucket")
    )
    # probe bucket + Hamming-1 neighborhood (bit-flip per plane)
    probe_buckets = probe.select(
        "pv",
        F.explode(
            F.expr(
                f"array_union(array(probe_bucket), "
                f"transform(sequence(0, {N_PLANES - 1}), "
                f"i -> cast(probe_bucket ^ shiftleft(1, i) as int)))"
            )
        ).alias("probed"),
    )
    cand = (
        bucketed.join(
            F.broadcast(probe_buckets),
            (F.col("bucket") == F.col("probed")) & (F.col("vec_id") != PROBE_VEC_ID),
        )
        .select("vec_id", "bucket", cosine_col(F.col("v"), F.col("pv")).alias("cos"))
        .dropDuplicates(["vec_id"])
    )
    return (
        cand.orderBy(F.col("cos").desc(), "vec_id")
        .limit(TOP_K)
        .select("vec_id", "bucket", F.round("cos", 4).alias("cos_sim"))
    )


@register(
    "q_llm_embed_quantize",
    oracle="""
WITH m AS (
    SELECT vec_id, label,
           len(embedding) AS n_dims,
           list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS max_abs,
           list_transform(embedding, x -> x::DOUBLE) AS v
    FROM embeddings),
q AS (
    SELECT vec_id, label, n_dims,
           CAST(floor(max_abs * 1000000 + 0.5) AS BIGINT) AS scale_micro,
           list_transform(v, x -> CAST(floor(x * 127.0 / max_abs + 0.5) AS BIGINT)) AS qv
    FROM m WHERE max_abs > 0)
SELECT vec_id, label, CAST(n_dims AS BIGINT) AS n_dims, scale_micro,
       CAST(list_sum(qv) AS BIGINT) AS q_sum,
       CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS q_sq_sum,
       CAST(list_min(qv) AS BIGINT) AS q_min,
       CAST(list_max(qv) AS BIGINT) AS q_max
FROM q
""",
)
def q_llm_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization — the storage/serving form
    of an embedding table (4× smaller than float32, SIMD-friendly
    dot products): per-vector scale = max|x|, q_i = floor(x_i·127/scale
    + 0.5). Everything after the scale division is the floor-plus-half
    rule from llm/kmeans.quantize_expr — never round(), whose half-way
    behavior differs across engines. Entirely map-side JVM array
    expressions: zero shuffle, zero Python — quantizing 100 TB of
    embeddings is a fused scan-projection. The result reports exact
    integer checksums (sum, sum-of-squares, min, max) plus the
    µs-quantized scale, all engine-stable."""
    e = table(spark, sf_dir, "embeddings")
    m = e.select(
        "vec_id",
        "label",
        F.size("embedding").cast("bigint").alias("n_dims"),
        F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double")))).alias(
            "max_abs"
        ),
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    q = m.where(F.col("max_abs") > 0).select(
        "vec_id",
        "label",
        "n_dims",
        F.floor(F.col("max_abs") * 1000000 + F.lit(0.5)).cast("bigint").alias("scale_micro"),
        F.transform(
            "v",
            lambda x: F.floor(x * 127.0 / F.col("max_abs") + F.lit(0.5)).cast("long"),
        ).alias("qv"),
    )
    zero = F.lit(0).cast("long")
    return q.select(
        "vec_id",
        "label",
        "n_dims",
        "scale_micro",
        F.aggregate("qv", zero, lambda a, x: a + x).alias("q_sum"),
        F.aggregate("qv", zero, lambda a, x: a + x * x).alias("q_sq_sum"),
        F.array_min("qv").alias("q_min"),
        F.array_max("qv").alias("q_max"),
    )


@register(
    "q_emb_quality_report",
    oracle="""
WITH base AS (
    SELECT count(*) AS n_vectors,
           CAST(max(len(embedding)) - min(len(embedding)) AS BIGINT) AS dim_spread,
           CAST(sum(CASE WHEN NOT list_bool_or(list_transform(embedding, x -> x <> 0))
                         THEN 1 ELSE 0 END) AS BIGINT) AS zero_vectors,
           CAST(sum(CASE WHEN list_bool_or(list_transform(embedding, x -> isnan(x)))
                         THEN 1 ELSE 0 END) AS BIGINT) AS nan_vectors,
           CAST(sum(CASE WHEN len(list_filter(embedding, x -> x IS NULL)) > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS null_elements
    FROM embeddings
), dup AS (
    SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) AS dup_vec_ids
    FROM (SELECT count(*) AS c FROM embeddings GROUP BY vec_id)
)
SELECT chk AS check_name, metric, CAST(metric > 0 AS INTEGER) AS violated
FROM (
    SELECT 'dim_spread' AS chk, dim_spread AS metric FROM base
    UNION ALL SELECT 'zero_vectors', zero_vectors FROM base
    UNION ALL SELECT 'nan_vectors', nan_vectors FROM base
    UNION ALL SELECT 'null_elements', null_elements FROM base
    UNION ALL SELECT 'dup_vec_ids', dup_vec_ids FROM dup
)
""",
)
def q_emb_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-column health audit — q_dq_constraint_report's twin for
    the embedding modality, run before any index build: dimension
    consistency (max−min length; a single ragged vector poisons every
    dot product), all-zero vectors (cosine-undefined, corrupt or
    failed encoder output), NaN contamination (one NaN absorbs a whole
    IVF cell's distances), null elements (encoders emit them through
    lossy format conversions — pandas→arrow turns float('nan') in
    object lists into NULL, a distinct defect from IEEE NaN), and id
    uniqueness. All checks are JVM
    higher-order predicates fused into one scan + a key-grain
    aggregate; metrics are exact integers so the report diffs
    bit-stably. Float comparisons against 0 and isnan are
    representation-exact in both engines — no quantization needed."""
    e = table(spark, sf_dir, "embeddings")
    base = e.agg(
        F.count("*").alias("n_vectors"),
        (F.max(F.size("embedding")) - F.min(F.size("embedding")))
        .cast("bigint")
        .alias("dim_spread"),
        F.sum(
            F.when(~F.exists("embedding", lambda x: x != 0.0), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("zero_vectors"),
        F.sum(
            F.when(F.exists("embedding", F.isnan), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("nan_vectors"),
        F.sum(
            F.when(F.exists("embedding", lambda x: x.isNull()), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("null_elements"),
    )
    dup = (
        e.groupBy("vec_id")
        .agg(F.count("*").alias("c"))
        .agg(
            F.coalesce(F.sum(F.col("c") - 1), F.lit(0))
            .cast("bigint")
            .alias("dup_vec_ids")
        )
    )
    report = base.selectExpr(
        "stack(4, 'dim_spread', dim_spread, 'zero_vectors', zero_vectors, "
        "'nan_vectors', nan_vectors, 'null_elements', null_elements) "
        "AS (check_name, metric)"
    ).unionByName(
        dup.selectExpr("'dup_vec_ids' AS check_name", "dup_vec_ids AS metric")
    )
    return report.select(
        "check_name", "metric", (F.col("metric") > 0).cast("int").alias("violated")
    )


@register(
    "q_llm_ann_recall",
    oracle=f"""
WITH {_ivf_oracle_prefix()},
probe_cells AS (SELECT cid FROM rank_final
                WHERE vec_id = {PROBE_VEC_ID} AND rn <= {IVF_PROBE_CELLS}),
p AS (SELECT v AS pv FROM e WHERE vec_id = {PROBE_VEC_ID}),
ivf AS (SELECT e.vec_id, list_cosine_similarity(e.v, p.pv) AS cos
        FROM e JOIN asg USING (vec_id) CROSS JOIN p
        WHERE asg.cid IN (SELECT cid FROM probe_cells)
          AND e.vec_id <> {PROBE_VEC_ID}
        ORDER BY cos DESC, vec_id LIMIT 5),
exact AS (SELECT e.vec_id, list_cosine_similarity(e.v, p.pv) AS cos
          FROM e CROSS JOIN p WHERE e.vec_id <> {PROBE_VEC_ID}
          ORDER BY cos DESC, vec_id LIMIT 5)
SELECT CAST(5 AS BIGINT) AS k,
       count(*) AS n_overlap,
       count(*) / 5 AS recall
FROM ivf JOIN exact USING (vec_id)
""",
)
def q_llm_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 audit of the IVF index against brute-force truth — the
    metric that justifies (or vetoes) shipping an approximate index:
    |IVF top-5 ∩ exact top-5| / 5 for the standard probe. Both sides
    are individually oracle-proven queries (q_llm_ann_ivf's unrolled
    integer Lloyd, q_llm_cosine_topk's scan); this composes them into
    the quality gate a production ANN rollout runs per index build.
    Cost: one brute-force pass (the thing being audited away) + the
    IVF probe; at 100 TB the audit runs on a sampled probe set, same
    plan shape."""
    from .kmeans import assignment_ranking, quantized_rows

    emb = table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", _as_double("embedding").alias("v"))
    probe = e.where(F.col("vec_id") == PROBE_VEC_ID).select(F.col("v").alias("pv"))

    cents, _ = _ivf_artifact(spark, sf_dir, None)
    members = _cell_members(spark, sf_dir)
    probe_cells = (
        assignment_ranking(
            quantized_rows(emb.where(F.col("vec_id") == PROBE_VEC_ID)), cents
        )
        .where(F.col("rn") <= IVF_PROBE_CELLS)
        .select("cid")
    )
    ivf5 = (
        members.join(F.broadcast(probe_cells), "cid", "left_semi")
        .where(F.col("vec_id") != PROBE_VEC_ID)
        .crossJoin(F.broadcast(probe))
        .select("vec_id", cosine_col(F.col("v"), F.col("pv")).alias("cos"))
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(5)
        .select("vec_id")
    )
    exact5 = (
        e.where(F.col("vec_id") != PROBE_VEC_ID)
        .crossJoin(F.broadcast(probe))
        .select("vec_id", cosine_col(F.col("v"), F.col("pv")).alias("cos"))
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(5)
        .select("vec_id")
    )
    return ivf5.join(exact5, "vec_id").agg(
        F.lit(5).cast("bigint").alias("k"),
        F.count("*").alias("n_overlap"),
        (F.count("*") / F.lit(5)).alias("recall"),
    )


def run_semantic_stream(spark: SparkSession, src: str, out: str, member: DataFrame) -> None:
    """Drain every available vec_id arrival split in `src`, pairing each
    arriving vector against every indexed vector with a smaller id in
    the same IVF cell of `member` (a PERSISTED stream-static frame:
    vec_id, cid, v, nrm — built once outside the stream so each batch
    joins cached blocks instead of re-scanning the index and
    recomputing norms). Per-epoch OVERWRITE output: a replayed epoch
    rewrites its own directory idempotently; the checkpoint skips
    already-delivered arrival files, so the run is resumable with no
    pair emitted twice (two-phase test in tests/test_twins_property)."""

    def pair_batch(batch_df: DataFrame, epoch_id: int) -> None:
        arriving = batch_df.join(member, "vec_id")  # index lookup: cid, v, nrm
        pairs = (
            member.alias("x")
            .join(
                arriving.alias("y"),
                (F.col("x.cid") == F.col("y.cid"))
                & (F.col("x.vec_id") < F.col("y.vec_id")),
            )
            .select(
                F.col("x.vec_id").alias("vec_a"),
                F.col("y.vec_id").alias("vec_b"),
                (
                    _dot(F.col("x.v"), F.col("y.v"))
                    / (F.col("x.nrm") * F.col("y.nrm"))
                ).alias("cos"),
            )
            .where(F.col("cos") >= NEARDUP_COS)
            .select("vec_a", "vec_b", F.round("cos", 4).alias("cos_sim"))
        )
        pairs.write.mode("overwrite").parquet(os.path.join(out, f"e{epoch_id}"))

    from ..streaming.drill import read_pinned, run_available_now

    run_available_now(
        read_pinned(spark, "vec_id long", src)
        .writeStream.foreachBatch(pair_batch)
        .option("checkpointLocation", os.path.join(out, "_ck"))
    )


def read_semantic_pairs(spark: SparkSession, out: str) -> DataFrame:
    """Union the per-epoch pair directories back into one frame."""
    epoch_dirs = [
        os.path.join(out, d) for d in sorted(os.listdir(out)) if d.startswith("e")
    ]
    return spark.read.schema("vec_a long, vec_b long, cos_sim double").parquet(
        *epoch_dirs
    )


@register("q_stream_semantic_neardup", oracle=EMBED_NEARDUP_ORACLE)
def q_stream_semantic_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-stream twin of q_llm_embed_neardup (same oracle): vectors
    ARRIVE as 3 vec_id-ordered micro-batches; each batch looks its
    vectors up in the materialized IVF cell index, pairs them against
    every INDEXED vector with a smaller id in the same cell, and emits
    the cosine hits — the online 'is this new document a semantic
    duplicate of anything we already hold' check a live ingestion
    pipeline runs. Completeness is arrival-order algebra: the index is
    the full corpus snapshot, and pair (a, b) with a < b is emitted by
    exactly the batch that delivers b — so the per-epoch outputs union
    to the batch pair set (the hash match proves it). Stateless per
    batch (run_semantic_stream: stream-static join against the
    persisted index+norm frame; per-epoch overwrite makes replays
    idempotent); at scale the index lookup is a partition-pruned read
    on cid, and the only growing artifact is the index itself — the
    same one every other ANN query shares."""
    from ..streaming.drill import Drill

    ids = table(spark, sf_dir, "embeddings").select("vec_id")
    row = ids.agg(
        F.expr("percentile(vec_id, 0.3333)").alias("p1"),
        F.expr("percentile(vec_id, 0.6667)").alias("p2"),
    ).first()
    c1, c2 = int(row.p1), int(row.p2)
    member = tracked_persist(
        _cell_members(spark, sf_dir).withColumn(
            "nrm", F.sqrt(_dot(F.col("v"), F.col("v")))
        )
    )
    member.count()  # materialize before the stream's batches join it
    v = F.col("vec_id")
    with Drill(spark, "sem") as drill:
        src = drill.splits(ids, [v <= c1, (v > c1) & (v <= c2), v > c2])
        out = drill.dir("out")
        run_semantic_stream(spark, src, out, member)
        result = tracked_persist(read_semantic_pairs(spark, out))
        result.count()  # materialize before removing the backing dirs
    return result
