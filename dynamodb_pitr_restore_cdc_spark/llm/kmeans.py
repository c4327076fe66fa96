"""Distributed k-means over the embedding corpus — the iterative-
algorithm workload (and the offline trainer for the IVF quantizer in
similarity.py and the PQ codebooks in pq.py).

Determinism at cluster scale: floating-point centroid updates are
schedule-dependent (summation order), which makes k-means results
unreproducible run-to-run on a real cluster. This implementation
quantizes components to integer micro-units once, then every
assignment distance and centroid mean is EXACT integer arithmetic —
bit-identical results under any partitioning, the same discipline as
functions/rounding.py.

One nearest-cell kernel serves every quantizer: IVF training, list
build and probes, IvfIndex, the serving index, kmeans_fit, and the PQ
assign and codebook update (one cell set per subspace). It is one
Arrow-batched numpy pass: per Arrow batch the vectors become an n×d
int64 matrix and d2 = |x|² − 2·x·Cᵀ + |c|² is computed exactly in
int64 against the K×d centroid matrix, which travels in the function
closure. The cells are sorted by cid, so argmin (first minimum) and a
stable argsort keep the oracle's (d2, cid) tie-break. numpy wraps on
overflow where Spark's ANSI arithmetic raises, so the kernel first
checks d·(max|x| + max|c|)² < 2⁶³, which bounds every intermediate,
and raises ArithmeticError when it does not hold.

Spark meets the kernel in two shapes: a scalar Arrow UDF for the
column functions (`nearest_cell`, `nearest_cells`), and mapInArrow for
the frame functions (`assignment_ranking`, the keyed PQ assign, the
Lloyd partials). No n×K row is materialised, sorted or shuffled.

A Lloyd update (`lloyd_means`) is the kernel emitting per-task
partials (cid, n, s): at most K rows per task. One hash aggregation on
cid combines them with sum(n) and collect_list(s), folded element-wise,
then the truncating `div`. The partials never reach the driver (P×K
rows do not scale); the driver holds only the K×d means between
updates — orchestration, not data.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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
    """Exact integer squared-L2 between two array<bigint> columns — for
    a handful of rows (the ADC distance tables); a vector against every
    cell goes through the kernel."""
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
    return quantized_rows(e, floats)


def quantized_rows(rows: DataFrame, floats: bool = False) -> DataFrame:
    """(vec_id, qv) — plus `v` with `floats` — of embeddings rows as
    they come. Probes quantize their rows straight off their own scan
    this way: a probe set is a few rows, so the spread exchange of
    `_quantized` (a map-stage job) would buy nothing."""
    cols = [F.col("vec_id"), quantize_expr(F.col("embedding")).alias("qv")]
    if floats:
        cols.append(
            F.transform("embedding", lambda x: x.cast("double")).alias("v")
        )
    return rows.select(*cols)


# Cells = driver-held [(cid, cv), ...] sorted by cid: K×dim longs.
Cells = list[tuple[int, list[int]]]


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


# ---------------------------------------------------------------------------
# the kernel (numpy; runs inside Arrow batches on the executors)
# ---------------------------------------------------------------------------


class CellMatrix:
    """One cell set as the kernel reads it: cids (K,) ascending, the
    K×d centroid matrix, |c|² per cell and max|c| for the guard."""

    def __init__(self, cells: Cells):
        if not cells:
            raise ValueError("no cells: the nearest-cell kernel needs K >= 1")
        cells = sorted(cells)
        self.cids = np.array([c for c, _ in cells], dtype=np.int64)
        self.c = np.array([cv for _, cv in cells], dtype=np.int64)
        self.dim = self.c.shape[1]
        self.cmax = _abs_max(self.c)
        # wraps only when the guard below would refuse every vector anyway
        self.cc = np.einsum("ij,ij->i", self.c, self.c)

    def sq_dists(self, x: np.ndarray) -> np.ndarray:
        """n×K exact integer squared-L2, |x|² − 2·x·Cᵀ + |c|²."""
        if len(x) == 0:
            return np.empty((0, len(self.cids)), dtype=np.int64)
        xmax = _abs_max(x)
        if self.dim * (xmax + self.cmax) ** 2 >= 2**63:
            raise ArithmeticError(
                f"squared-L2 of {self.dim}-dim vectors with components up "
                f"to {xmax} against cells up to {self.cmax} overflows int64"
            )
        return (np.einsum("ij,ij->i", x, x)[:, None] - 2 * (x @ self.c.T)) + self.cc

    def nearest(self, x: np.ndarray) -> np.ndarray:
        """Row index into the cells of each vector's (d2, cid) argmin."""
        return np.argmin(self.sq_dists(x), axis=1)

    def ranked(self, x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(order, d2): each vector's cell indexes in (d2, cid) order."""
        d2 = self.sq_dists(x)
        return np.argsort(d2, axis=1, kind="stable"), d2


def _abs_max(a: np.ndarray) -> int:
    return max(int(a.max()), -int(a.min())) if a.size else 0


def _matrix(col: pa.Array, dim: int) -> np.ndarray:
    """A list<bigint> Arrow column as an n×dim int64 matrix."""
    flat = col.flatten()
    if col.null_count or flat.null_count or len(flat) != len(col) * dim:
        raise ValueError(f"the kernel takes non-null {dim}-long vectors")
    return flat.to_numpy(zero_copy_only=False).reshape(len(col), dim)


def _list_array(m: np.ndarray) -> pa.ListArray:
    """An n×w int64 matrix as a list<bigint> Arrow column."""
    n, w = m.shape
    offsets = pa.array(np.arange(0, (n + 1) * w, w, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(m.ravel()))


def _cell_sets(books: dict) -> dict:
    return {k: CellMatrix(cells) for k, cells in books.items()}


def _row_groups(batch: pa.RecordBatch, key: str | None, vec: str, mats: dict):
    """(key, cells, rows, x) per cell set present in an Arrow batch:
    `rows` indexes the batch (None = all of it), `x` is their vectors.
    Rows whose key has no cell set are skipped, as an inner join on
    the key would drop them."""
    dim = next(iter(mats.values())).dim
    x = _matrix(batch.column(vec), dim)
    if key is None:
        yield None, mats[None], None, x
        return
    keys = batch.column(key).to_numpy(zero_copy_only=False)
    for k in np.unique(keys):
        cm = mats.get(int(k))
        if cm is not None:
            rows = np.flatnonzero(keys == k)
            yield int(k), cm, rows, x[rows]


# ---------------------------------------------------------------------------
# the kernel in Spark
# ---------------------------------------------------------------------------


def nearest_cell(centroids: DataFrame | Cells, qv: str | Column = "qv") -> Column:
    """The assigned cid: argmin of (d2, cid), computed in the row."""
    cm = CellMatrix(centroid_cells(centroids))

    def cell(col: pa.Array) -> pa.Array:
        return pa.array(cm.cids[cm.nearest(_matrix(col, cm.dim))])

    return F.arrow_udf(cell, "bigint")(qv)


def nearest_cells(
    centroids: DataFrame | Cells, n: int, qv: str | Column = "qv"
) -> Column:
    """The n nearest cids in rank order — an IVF probe set, in the row."""
    cm = CellMatrix(centroid_cells(centroids))

    def cells(col: pa.Array) -> pa.Array:
        order, _ = cm.ranked(_matrix(col, cm.dim))
        return _list_array(cm.cids[order[:, :n]])

    return F.arrow_udf(cells, "array<bigint>")(qv)


def assignment_ranking(vectors: DataFrame, centroids: DataFrame | Cells) -> DataFrame:
    """(vec_id, cid, d2, rn): every (vector, cell) pair ranked by exact
    integer squared-L2, ties broken by cid — rn=1 is the assignment,
    rn<=nprobe the IVF probe set. Map-side: each vector's K cells in
    (d2, cid) order, exploded to rn = pos + 1 (no window, no shuffle)."""
    cm = CellMatrix(centroid_cells(centroids))

    def rank(batches):
        for b in batches:
            order, d2 = cm.ranked(_matrix(b.column("qv"), cm.dim))
            n, k = order.shape
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(b.column("vec_id").to_numpy(), k)),
                    pa.array(cm.cids[order].ravel()),
                    pa.array(np.take_along_axis(d2, order, axis=1).ravel()),
                    pa.array(np.tile(np.arange(1, k + 1, dtype=np.int32), n)),
                ],
                names=["vec_id", "cid", "d2", "rn"],
            )

    return vectors.select("vec_id", "qv").mapInArrow(
        rank, "vec_id bigint, cid bigint, d2 bigint, rn int"
    )


def _assign(vectors: DataFrame, centroids: DataFrame | Cells) -> DataFrame:
    """`vectors` plus its nearest `cid` — map-only."""
    return vectors.withColumn("cid", nearest_cell(centroids))


def keyed_assign(frame: DataFrame, books: dict, key: str, vec: str) -> DataFrame:
    """`frame` plus the `cid` nearest to its `vec` among the cells of
    its `key` (`books`: key -> Cells; PQ: one codebook per subspace m).
    Map-side; rows whose key has no cells are dropped."""
    mats = _cell_sets(books)
    schema = T.StructType([*frame.schema.fields, T.StructField("cid", T.LongType())])

    def assign(batches):
        for b in batches:
            for _, cm, rows, x in _row_groups(b, key, vec, mats):
                yield b.take(pa.array(rows)).append_column(
                    "cid", pa.array(cm.cids[cm.nearest(x)])
                )

    return frame.mapInArrow(assign, schema)


def lloyd_update(frame: DataFrame, books: dict, key: str | None, vec: str) -> DataFrame:
    """One exact-integer Lloyd update of every cell set in `books`
    ({key value: Cells}; key None = one set): the kernel emits per-task
    partials ([key,] cid, n, s), at most K rows per set per task; one
    hash aggregation on ([key,] cid) sums n and collects s, folded
    element-wise, then `div` (truncating, as DuckDB `//` in the
    oracle). A cell left without members vanishes, so K can shrink."""
    mats = _cell_sets(books)
    dim = next(iter(mats.values())).dim
    keys = [key] if key else []

    def partials(batches):
        acc = {
            k: (np.zeros(len(cm.cids), np.int64), np.zeros((len(cm.cids), dim), np.int64))
            for k, cm in mats.items()
        }
        seen, xmax = 0, 0
        for b in batches:
            for k, cm, _, x in _row_groups(b, key, vec, mats):
                if not len(x):
                    continue
                seen, xmax = seen + len(x), max(xmax, _abs_max(x))
                if seen * xmax >= 2**63:
                    raise ArithmeticError("per-cell component sums overflow int64")
                idx = cm.nearest(x)
                order = np.argsort(idx, kind="stable")
                sidx = idx[order]
                starts = np.flatnonzero(np.r_[True, sidx[1:] != sidx[:-1]])
                n, s = acc[k]
                n += np.bincount(idx, minlength=len(n))
                s[sidx[starts]] += np.add.reduceat(x[order], starts, axis=0)
        for k, (n, s) in acc.items():
            hit = np.flatnonzero(n)
            if len(hit):
                cols = [
                    pa.array(mats[k].cids[hit]), pa.array(n[hit]), _list_array(s[hit])
                ]
                if key:
                    cols.insert(0, pa.array(np.full(len(hit), k, dtype=np.int64)))
                yield pa.RecordBatch.from_arrays(cols, names=[*keys, "cid", "n", "s"])

    schema = ", ".join(
        [*(f"{k} bigint" for k in keys), "cid bigint, n bigint, s array<bigint>"]
    )
    return (
        frame.select(*(F.col(k).cast("bigint").alias(k) for k in keys), vec)
        .mapInArrow(partials, schema)
        .groupBy(*keys, "cid")
        .agg(F.sum("n").alias("n"), F.collect_list("s").alias("ss"))
        .select(
            *keys,
            "cid",
            F.expr(
                f"transform(aggregate(ss, array_repeat(0L, {dim}),"
                " (acc, s) -> zip_with(acc, s, (a, b) -> a + b)), x -> x div n)"
            ).alias("cv"),
        )
    )


def lloyd_means(vectors: DataFrame, cells: Cells) -> DataFrame:
    """(cid, cv): one Lloyd update with exact integer means
    (`lloyd_update` over the one cell set)."""
    return lloyd_update(vectors, {None: cells}, None, "qv")


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
