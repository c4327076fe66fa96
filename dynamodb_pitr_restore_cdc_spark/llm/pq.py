"""Product quantization (PQ) ANN — the vector-COMPRESSION scale path.

IVF (similarity.py) prunes which vectors a probe touches; PQ shrinks
what each vector costs to touch: split the 64-dim embedding into M=4
subspaces of 16 dims, train an independent 16-codeword codebook per
subspace, and store each vector as M one-byte codes (4 bytes vs 256
bytes of float32 — 64x). A probe then computes one M x K distance
table against the codebooks and scores every vector by TABLE LOOKUPS
(asymmetric distance computation, ADC) — no per-vector float math at
all. At 100 TB this is the difference between an in-memory index and
one that cannot fit: 10^9 vectors become 4 GB of codes.

Everything reuses the exact-integer discipline of llm/kmeans.py
(floor-quantized micro-units, integer squared-L2, truncating integer
centroid means), which is what makes the WHOLE pipeline — trainer,
encoder, ADC scores — DuckDB-oracle-expressible: the oracle unrolls
the identical Lloyd chain per subspace and must reproduce every code
and every approximate distance bit-for-bit.

All M subspaces train SIMULTANEOUSLY: the corpus explodes to
(vec_id, m, subvector) grain once, and every assignment runs
kmeans.py's Arrow-batched nearest-cell kernel with one cell set per
subspace m (`kmeans.keyed_assign`; no join, no aggregate). A codebook
update is that kernel emitting per-task (m, cid, n, s) partials and
one hash aggregation on (m, cid) (`kmeans.lloyd_update`) — M
independent k-means for the price of one pass, with the M×K codebooks
on the driver between updates (no per-subspace loop, no checkpoint).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources import table
from .kmeans import (
    EMBED_DIM,
    QUANT,
    Cells,
    _quantized,
    int_sq_dist,
    keyed_assign,
    lloyd_update,
    quantized_rows,
)

M_SUBSPACES = 4
SUB_DIM = EMBED_DIM // M_SUBSPACES  # 16
PQ_K = 16        # codewords per subspace -> one byte per code
PQ_ITERS = 2     # Lloyd updates before encoding (oracle unrolls these)
PQ_TOP_K = 10
PROBE_VEC_ID = 0

_D2_SQL = (
    "list_sum(list_transform(list_zip(s.sv, c.cv), "
    "z -> (z[1] - z[2]) * (z[1] - z[2])))"
)


def subvectors_of(q: DataFrame) -> DataFrame:
    """(vec_id, m, sv) from any (vec_id, qv) frame — map-only (slice +
    posexplode fused into whatever produced qv)."""
    return q.select(
        "vec_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {M_SUBSPACES - 1}),"
                f" m -> slice(qv, m * {SUB_DIM} + 1, {SUB_DIM}))"
            )
        ).alias("m", "sv"),
    )


def _subvectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, m, sv): the corpus exploded to subspace grain."""
    return subvectors_of(_quantized(spark, sf_dir))


def _books(centroids: DataFrame) -> dict[int, Cells]:
    """The codebooks on the driver, {m: Cells}. Collecting a frame
    `pq_codebooks` returned (a local relation) runs no job."""
    books: dict[int, Cells] = {}
    for r in centroids.collect():
        books.setdefault(int(r.m), []).append((int(r.cid), [int(x) for x in r.cv]))
    return {m: sorted(cells) for m, cells in books.items()}


def _pq_assign(sub: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, m, sv, cid): each subvector's nearest codeword of its
    own subspace — the nearest-cell kernel with one cell set per m,
    map-side."""
    return keyed_assign(sub, _books(centroids), "m", "sv")


def pq_codebooks(sub: DataFrame, iters: int = PQ_ITERS) -> DataFrame:
    """M codebooks of PQ_K codewords each, trained by `iters` exact-
    integer Lloyd updates (init: the subvectors of vec_id 1..PQ_K,
    per subspace). Returns (m, cid, cv) as a local relation — M x K
    tiny rows held on the driver between updates — so encode and
    distance-table branches never re-run the iterative job."""
    books = _books(
        sub.where(F.col("vec_id").between(1, PQ_K)).select(
            "m", F.col("vec_id").alias("cid"), F.col("sv").alias("cv")
        )
    )
    for _ in range(iters):
        books = _books(lloyd_update(sub, books, "m", "sv"))
    pdf = pd.DataFrame(
        [(m, cid, cv) for m in sorted(books) for cid, cv in books[m]],
        columns=["m", "cid", "cv"],
    )
    return sub.sparkSession.createDataFrame(pdf, "m int, cid bigint, cv array<bigint>")


def _pq_oracle_ctes(prefix: str = "", qv_cte: str | None = None) -> str:
    """DuckDB CTE chain mirroring the PQ trainer + encoder + ADC: the
    per-subspace Lloyd unroll is kmeans.lloyd_oracle_ctes with the
    subspace id m threaded through every key. ``prefix`` renames every
    CTE so the chain composes with other Lloyd unrolls (the IVF prefix
    also defines c0/a1/asg1/... — see q_llm_ann_ivfadc). ``qv_cte``
    swaps the quantization source: instead of quantizing embeddings,
    read (vec_id, qv) from an earlier CTE — the residual-PQ hook."""
    P = prefix
    parts = [
        (
            f"{P}q AS (SELECT vec_id, qv FROM {qv_cte})"
            if qv_cte
            else f"{P}q AS (SELECT vec_id, list_transform(embedding, "
            f"x -> CAST(floor(x::DOUBLE * {QUANT} + 0.5) AS BIGINT)) AS qv FROM embeddings)"
        ),
        (
            f"{P}sub AS (SELECT vec_id, CAST(t.m AS BIGINT) AS m, "
            f"qv[(t.m*{SUB_DIM}+1):(t.m*{SUB_DIM}+{SUB_DIM})] AS sv "
            f"FROM {P}q, UNNEST(range({M_SUBSPACES})) AS t(m))"
        ),
        (
            f"{P}c0 AS (SELECT m, vec_id AS cid, sv AS cv FROM {P}sub "
            f"WHERE vec_id BETWEEN 1 AND {PQ_K})"
        ),
    ]
    for i in range(1, PQ_ITERS + 1):
        parts += [
            (
                f"{P}a{i} AS (SELECT s.vec_id, s.m, c.cid, row_number() OVER "
                f"(PARTITION BY s.vec_id, s.m ORDER BY {_D2_SQL}, c.cid) AS rn "
                f"FROM {P}sub s JOIN {P}c{i - 1} c ON s.m = c.m)"
            ),
            f"{P}asg{i} AS (SELECT vec_id, m, cid FROM {P}a{i} WHERE rn = 1)",
            (
                f"{P}dims{i} AS (SELECT g.m, g.cid, p.pos, s.sv[p.pos] AS val "
                f"FROM {P}asg{i} g JOIN {P}sub s ON s.vec_id = g.vec_id AND s.m = g.m "
                f"CROSS JOIN (SELECT unnest(range(1, {SUB_DIM + 1})) AS pos) p)"
            ),
            (
                f"{P}mm{i} AS (SELECT m, cid, pos, CAST(sum(val) // count(*) AS BIGINT) "
                f"AS mean_val FROM {P}dims{i} GROUP BY m, cid, pos)"
            ),
            (
                f"{P}c{i} AS (SELECT m, cid, list(mean_val ORDER BY pos) AS cv "
                f"FROM {P}mm{i} GROUP BY m, cid)"
            ),
        ]
    cfin = f"{P}c{PQ_ITERS}"
    parts += [
        (
            f"{P}enc_rank AS (SELECT s.vec_id, s.m, c.cid, row_number() OVER "
            f"(PARTITION BY s.vec_id, s.m ORDER BY {_D2_SQL}, c.cid) AS rn "
            f"FROM {P}sub s JOIN {cfin} c ON s.m = c.m)"
        ),
        f"{P}enc AS (SELECT vec_id, m, cid FROM {P}enc_rank WHERE rn = 1)",
        (
            f"{P}dt AS (SELECT c.m, c.cid, {_D2_SQL} AS d FROM {cfin} c "
            f"JOIN (SELECT m, sv FROM {P}sub WHERE vec_id = {PROBE_VEC_ID}) s "
            f"ON s.m = c.m)"
        ),
        (
            f"{P}approx AS (SELECT e.vec_id, CAST(sum(dt.d) AS BIGINT) AS approx_d2 "
            f"FROM {P}enc e JOIN {P}dt dt ON e.m = dt.m AND e.cid = dt.cid "
            f"WHERE e.vec_id <> {PROBE_VEC_ID} GROUP BY e.vec_id)"
        ),
    ]
    return ",\n".join(parts)


@register(
    "q_llm_ann_pq",
    oracle=f"""
WITH {_pq_oracle_ctes()}
SELECT vec_id, approx_d2
FROM approx
ORDER BY approx_d2, vec_id
LIMIT {PQ_TOP_K}
""",
)
def q_llm_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed ANN: train M=4 x K=16 integer codebooks, encode
    every vector as 4 codes, and answer a probe (vec_id=0) by ADC —
    distance table against the codebooks (M x K = 64 rows, broadcast)
    + per-vector code lookups summed to an EXACT integer approximate
    distance; top-10 nearest by that score.

    Plan: the trainer is PQ_ITERS kernel passes, each one hash
    aggregation of per-task (m, cid) partials; encode is one map-side
    kernel pass; ADC is codes ⋈ broadcast(dtable) -> groupBy(vec_id)
    sum -> top-k TakeOrdered. 100 TB: the scored side carries only (vec_id, m,
    cid) — the 64x-compressed representation — so the scan that
    answers a query reads ~4 bytes per vector, and the codebooks +
    distance table stay O(M·K), probe-independent of corpus size.
    Exact-integer scores make the top-k deterministic (ties break on
    vec_id identically in both engines)."""
    sub = _subvectors(spark, sf_dir)
    sub = sub.localCheckpoint(eager=True)  # trainer + encode + probe branches
    books = pq_codebooks(sub)
    codes = _pq_assign(sub, books).select("vec_id", "m", "cid")
    probe = sub.where(F.col("vec_id") == PROBE_VEC_ID).select(
        F.col("m").alias("pm"), F.col("sv").alias("psv")
    )
    dtable = (
        books.join(F.broadcast(probe), books.m == F.col("pm"))
        .select("m", "cid", int_sq_dist(F.col("psv"), F.col("cv")).alias("d"))
    )
    return (
        codes.where(F.col("vec_id") != PROBE_VEC_ID)
        .join(F.broadcast(dtable), ["m", "cid"])
        .groupBy("vec_id")
        .agg(F.sum("d").alias("approx_d2"))
        .orderBy("approx_d2", "vec_id")
        .limit(PQ_TOP_K)
    )


def _ivfadc_oracle() -> str:
    """IVF cell pruning composed with PQ ADC scoring: the IVF chain
    (kmeans.lloyd_oracle_ctes via similarity._ivf_oracle_prefix —
    defines rank_final/asg on FULL vectors) and the PQ chain (prefixed
    pq_, on subvectors) coexist in one WITH; candidates = vectors in
    the probe's nprobe nearest cells, scored by their ADC distance."""
    from .similarity import IVF_PROBE_CELLS, _ivf_oracle_prefix

    return f"""
WITH {_ivf_oracle_prefix()},
{_pq_oracle_ctes(prefix="pq_")},
probe_cells AS (SELECT cid FROM rank_final
                WHERE vec_id = {PROBE_VEC_ID} AND rn <= {IVF_PROBE_CELLS}),
cand AS (SELECT vec_id FROM asg
         WHERE cid IN (SELECT cid FROM probe_cells)
           AND vec_id <> {PROBE_VEC_ID})
SELECT x.vec_id, x.approx_d2
FROM pq_approx x JOIN cand USING (vec_id)
ORDER BY approx_d2, vec_id
LIMIT {PQ_TOP_K}
"""


@register("q_llm_ann_ivfadc", oracle=_ivfadc_oracle())
def q_llm_ann_ivfadc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC — the production ANN layout: IVF cells prune WHICH
    vectors a probe touches (nprobe nearest of K = ceil(sqrt(n))
    cells, k-means-trained coarse quantizer from llm/similarity.py),
    then PQ codes decide how CHEAPLY each touched vector is scored
    (ADC table lookups over the 64x-compressed codes). At 100 TB the
    two compose multiplicatively: a probe reads nprobe/K of the
    corpus at ~4 bytes per vector — versus every full float vector
    for brute force. Classic IVFADC encodes cell RESIDUALS; this
    registers the flat-code variant (codes trained corpus-wide),
    which keeps the encoder cell-independent — the same trade
    OPQ-less IVF-Flat/PQ indexes make. Both stages are exact-integer,
    so the composed pipeline stays bit-reproducible and fully
    oracled (trainer included, both chains unrolled in one WITH)."""
    from .kmeans import assignment_ranking
    from .similarity import IVF_PROBE_CELLS, _cell_members, _ivf_artifact

    # stage 1: IVF — the probe's nprobe nearest cells (the kernel on the
    # probe's own scan row), then the cell members (served from the
    # materialized per-corpus index)
    cents, _ = _ivf_artifact(spark, sf_dir, None)
    probe_rows = table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") == PROBE_VEC_ID
    )
    probe_cells = (
        assignment_ranking(quantized_rows(probe_rows), cents)
        .where(F.col("rn") <= IVF_PROBE_CELLS)
        .select("cid")
    )
    cand_ids = (
        _cell_members(spark, sf_dir)
        .join(F.broadcast(probe_cells), "cid", "left_semi")
        .where(F.col("vec_id") != PROBE_VEC_ID)
        .select("vec_id")
    )
    # stage 2: ADC over the surviving candidates only
    sub = _subvectors(spark, sf_dir)
    sub = sub.localCheckpoint(eager=True)  # trainer + encode + probe branches
    books = pq_codebooks(sub)
    codes = _pq_assign(sub, books).select("vec_id", "m", "cid")
    probe = sub.where(F.col("vec_id") == PROBE_VEC_ID).select(
        F.col("m").alias("pm"), F.col("sv").alias("psv")
    )
    dtable = books.join(F.broadcast(probe), books.m == F.col("pm")).select(
        "m", "cid", int_sq_dist(F.col("psv"), F.col("cv")).alias("d")
    )
    return (
        codes.join(cand_ids, "vec_id", "left_semi")
        .join(F.broadcast(dtable), ["m", "cid"])
        .groupBy("vec_id")
        .agg(F.sum("d").alias("approx_d2"))
        .orderBy("approx_d2", "vec_id")
        .limit(PQ_TOP_K)
    )


def _ivfpq_residual_oracle() -> str:
    """Classic IVFADC with cell-RESIDUAL codebooks: PQ trains on
    (vector - assigned cell centroid), and a probe builds one distance
    table PER PROBED CELL from its residual against that cell. The
    oracle chains: IVF Lloyd unroll (defines q/asg/c{n}/rank_final) ->
    residual CTE rq -> PQ chain re-rooted at rq (qv_cte hook) ->
    per-cell probe residual tables -> candidate scoring."""
    from .similarity import IVF_PROBE_CELLS, IVF_TRAIN_ITERS, _ivf_oracle_prefix

    cfin = f"c{IVF_TRAIN_ITERS}"
    pq_books = f"pq_c{PQ_ITERS}"
    d2 = (
        "list_sum(list_transform(list_zip(ps.sv, cb.cv), "
        "z -> (z[1] - z[2]) * (z[1] - z[2])))"
    )
    return f"""
WITH {_ivf_oracle_prefix()},
rq AS (
  SELECT q.vec_id,
         list_transform(list_zip(q.qv, c.cv), z -> z[1] - z[2]) AS qv
  FROM q JOIN asg USING (vec_id) JOIN {cfin} c ON asg.cid = c.cid
),
{_pq_oracle_ctes(prefix="pq_", qv_cte="rq")},
probe_cells AS (SELECT cid FROM rank_final
                WHERE vec_id = {PROBE_VEC_ID} AND rn <= {IVF_PROBE_CELLS}),
pres AS (
  SELECT c.cid AS pcell,
         list_transform(list_zip(pq0.qv, c.cv), z -> z[1] - z[2]) AS rv
  FROM (SELECT qv FROM q WHERE vec_id = {PROBE_VEC_ID}) pq0, {cfin} c
  WHERE c.cid IN (SELECT cid FROM probe_cells)
),
psub AS (
  SELECT pcell, CAST(t.m AS BIGINT) AS m,
         rv[(t.m*{SUB_DIM}+1):(t.m*{SUB_DIM}+{SUB_DIM})] AS sv
  FROM pres, UNNEST(range({M_SUBSPACES})) AS t(m)
),
dtc AS (
  SELECT ps.pcell, cb.m, cb.cid AS code, {d2} AS d
  FROM psub ps JOIN {pq_books} cb ON cb.m = ps.m
),
cand AS (
  SELECT vec_id, cid AS cell FROM asg
  WHERE cid IN (SELECT cid FROM probe_cells) AND vec_id <> {PROBE_VEC_ID}
)
SELECT e.vec_id, CAST(sum(dtc.d) AS BIGINT) AS approx_d2
FROM pq_enc e
JOIN cand ON e.vec_id = cand.vec_id
JOIN dtc ON dtc.pcell = cand.cell AND dtc.m = e.m AND dtc.code = e.cid
GROUP BY e.vec_id
ORDER BY approx_d2, e.vec_id
LIMIT {PQ_TOP_K}
"""


@register("q_llm_ann_ivfpq_residual", oracle=_ivfpq_residual_oracle())
def q_llm_ann_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic IVFADC (cell-residual codebooks): PQ codes quantize the
    RESIDUAL vector - assigned-centroid, not the raw vector, so the
    codebook spends its 4x16 codewords on within-cell variation — the
    quantization-error upgrade over q_llm_ann_ivfadc's flat codes. A
    probe computes ONE distance table PER PROBED CELL (its residual
    against that cell's centroid vs every codeword: nprobe x M x K
    rows, still broadcast-sized and corpus-independent) and candidates
    score by lookups against their own cell's table. 100 TB: identical
    layout economics to flat IVFADC — ~4 bytes/vector scanned,
    codebooks O(M*K) — with strictly better recall per bit; the cost
    is that codes must be re-encoded if a vector changes cells.
    Exact-integer residuals (differences of quantized BIGINTs) keep
    the whole thing bit-reproducible and fully oracled: the DuckDB
    twin chains the IVF Lloyd unroll, re-roots the PQ chain at the
    residual CTE, and reproduces every code and score."""
    from .kmeans import _assign, assignment_ranking
    from .similarity import IVF_PROBE_CELLS, _ivf_artifact

    # one fixture read (one schema-inference job) for both the spread
    # vectors and the probe row, which skips the spread
    emb = table(spark, sf_dir, "embeddings")
    vectors = quantized_rows(emb.repartition(spark.sparkContext.defaultParallelism))
    cents, _ = _ivf_artifact(spark, sf_dir, None)
    assigned = _assign(vectors, cents)  # (vec_id, qv, cid)
    cents2 = cents.select(F.col("cid").alias("ccid"), F.col("cv").alias("ccv"))
    residuals = (
        assigned.join(F.broadcast(cents2), assigned.cid == F.col("ccid"))
        .select(
            "vec_id",
            F.col("cid").alias("cell"),
            F.zip_with("qv", "ccv", lambda x, y: x - y).alias("qv"),
        )
        .localCheckpoint(eager=True)  # trainer + encode + candidate branches
    )
    rsub = subvectors_of(residuals.select("vec_id", "qv")).localCheckpoint(
        eager=True
    )
    books = pq_codebooks(rsub)
    codes = _pq_assign(rsub, books).select(
        "vec_id", "m", F.col("cid").alias("code")
    )
    probe_vec = quantized_rows(emb.where(F.col("vec_id") == PROBE_VEC_ID))
    probe_cells = (
        assignment_ranking(probe_vec, cents)
        .where(F.col("rn") <= IVF_PROBE_CELLS)
        .select("cid")
    )
    probe_qv = probe_vec.select(F.col("qv").alias("pqv"))
    pres = (
        cents.join(F.broadcast(probe_cells), "cid", "left_semi")
        .crossJoin(F.broadcast(probe_qv))
        .select(
            F.col("cid").alias("pcell"),
            F.zip_with("pqv", "cv", lambda x, y: x - y).alias("rv"),
        )
    )
    psub = pres.select(
        "pcell",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {M_SUBSPACES - 1}),"
                f" i -> slice(rv, i * {SUB_DIM} + 1, {SUB_DIM}))"
            )
        ).alias("m", "sv"),
    )
    books2 = books.select(
        F.col("m").alias("bm"), F.col("cid").alias("dcode"), "cv"
    )
    dtc = psub.join(F.broadcast(books2), psub.m == F.col("bm")).select(
        "pcell",
        F.col("bm").alias("dm"),
        "dcode",
        int_sq_dist(F.col("sv"), F.col("cv")).alias("d"),
    )
    cand = (
        residuals.select("vec_id", "cell")
        .join(F.broadcast(probe_cells), residuals.cell == F.col("cid"), "left_semi")
        .where(F.col("vec_id") != PROBE_VEC_ID)
    )
    return (
        codes.join(cand, "vec_id")
        .join(
            F.broadcast(dtc),
            (F.col("cell") == F.col("pcell"))
            & (F.col("m") == F.col("dm"))
            & (F.col("code") == F.col("dcode")),
        )
        .groupBy("vec_id")
        .agg(F.sum("d").alias("approx_d2"))
        .orderBy("approx_d2", "vec_id")
        .limit(PQ_TOP_K)
    )
