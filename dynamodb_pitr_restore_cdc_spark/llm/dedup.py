"""Document deduplication (LLM-data-pipeline extension, SURVEY.md §2B).

Three tiers, matching how a 100 TB corpus is actually deduped:

- exact:   hash-groupBy on md5(text) — one shuffle, keep-first.
- near:    MinHash-LSH — shingle → 64-perm minhash signature
           (vectorized pandas_udf, Arrow-batched) → band/bucket join →
           exact-Jaccard verification on candidates only. Always
           join-shaped: the candidate set is O(n·bands), never the
           O(n²) all-pairs product, so it shuffles and scales; the
           only Python is the signature computation (one pass) and
           the per-candidate verification.
- simhash: 64-bit sign-hash per doc; near-dups differ in few bits.

Determinism: token hashing is zlib.crc32 (stable across platforms and
runs); permutation parameters come from a fixed-seed RandomState; the
exact-Jaccard check rounds in integer space. With the fixture's
planted near-dup pairs at J≈0.98, the per-pair LSH miss probability is
(1 - 0.98⁴)¹⁶ ≈ 1e-18 — the oracle (a shingle self-join computing true
Jaccard ≥ 0.5 in pure SQL) therefore matches exactly.
"""

from __future__ import annotations

import os
import uuid
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..registry import pid_scoped_root, register, tracked_persist
from ..sources import table

N_PERM = 64
LSH_BANDS = 16
ROWS_PER_BAND = N_PERM // LSH_BANDS
_rng = np.random.RandomState(42)
_SEEDS = _rng.randint(0, 1 << 62, N_PERM).astype(np.uint64)
SHINGLE_K = 3
JACCARD_THRESHOLD = 0.5


def _shingle_hashes(text: str) -> np.ndarray:
    toks = text.split()
    hs = {
        zlib.crc32(" ".join(toks[i : i + SHINGLE_K]).encode())
        for i in range(len(toks) - SHINGLE_K + 1)
    }
    return np.fromiter(hs, dtype=np.uint64) if hs else np.array([0], dtype=np.uint64)


def _splitmix64(z: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — full-avalanche 64-bit mixing, vectorized
    with numpy's natural mod-2^64 wrap-around. A plain linear perm
    ((a·x+b) mod p) is NOT adequate here: with 32-bit shingle hashes it
    barely wraps the modulus, stays order-preserving, and the smallest
    crc32 wins the min for most permutations at once — destroying
    min-wise independence (observed: 19/64 matching perms on a J=0.989
    pair instead of ~63/64)."""
    with np.errstate(over="ignore"):
        z = (z + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


@F.pandas_udf(T.ArrayType(T.LongType()))
def minhash_signature(texts: pd.Series) -> pd.Series:
    """64-permutation MinHash signature per document (Arrow-vectorized;
    the single Python pass of the near-dedup pipeline). Permutation i
    is min over shingles of splitmix64(shingle_hash XOR seed_i)."""
    out = []
    for t in texts:
        x = _shingle_hashes(t)
        vals = _splitmix64(x[None, :] ^ _SEEDS[:, None])
        out.append(vals.min(axis=1).astype(np.int64).tolist())
    return pd.Series(out)


@F.pandas_udf(T.LongType())
def jaccard_milli(text_a: pd.Series, text_b: pd.Series) -> pd.Series:
    """Exact 3-shingle Jaccard in integer thousandths, half-up — the same
    integer rounding the SQL oracle uses, so values match bit-for-bit."""
    out = []
    for a, b in zip(text_a, text_b):
        sa = set(map(int, _shingle_hashes(a)))
        sb = set(map(int, _shingle_hashes(b)))
        i = len(sa & sb)
        u = len(sa | sb) or 1
        out.append((2000 * i + u) // (2 * u))
    return pd.Series(out, dtype="int64")


@register(
    "q_llm_exact_dedup",
    oracle="""
SELECT doc_id, lang, source
FROM (
    SELECT doc_id, lang, source,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM documents
) WHERE rn = 1
""",
)
def q_llm_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash, keep lowest doc_id — one shuffle on
    the hash; at 100 TB the hash is computed in the scan projection so
    only (hash, doc_id, kept cols) ever shuffles, not the text."""
    d = table(spark, sf_dir, "documents")
    w = W.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", "source")
    )


# LSH band artifacts, one per (session, corpus). In production the
# signature pass over a 100 TB corpus is run once and its output stored
# as a table that every downstream near-dup/clustering job reads; this
# mirrors that: the minhash pandas_udf runs a single time per corpus
# per session, and q_llm_near_dedup / q_llm_dedup_clusters (and repeat
# runs, e.g. bench) scan the parquet artifact instead of recomputing.
_BANDS_ARTIFACT: dict[tuple[str, str], str] = {}
# pid-scoped root: the atexit rmtree may only reclaim THIS process's
# artifacts — a shared root let one exiting session delete a
# concurrent session's materialized bands mid-read (round-11 bench
# crash: FAILED_READ_FILE under a parallel review session).  The
# helper also sweeps dead siblings' roots (SIGKILL skips atexit).
_ARTIFACT_ROOT = pid_scoped_root("sigs")


def band_array(docs: DataFrame) -> DataFrame:
    """(doc_id, bands array<long>) for a (doc_id, text) batch:
    signature via the Arrow-vectorized UDF, then the per-band hashes
    as ONE array column — THE band-hash definition (to_band_buckets
    and the CDC-maintained index both derive from it; a banding tweak
    can never desynchronize them).

    Fan-out rebalance (SCALE.md round-5 note, r15 measurement): a
    corpus/batch frame usually arrives as ONE input split, so the
    signature UDF — the only genuinely expensive per-row work in the
    index write path — would run on a single core. The compact
    (doc_id, text) rows are exchanged round-robin across
    defaultParallelism first; the r15 profile showed the single-task
    signature stage dominating every LshIndex.init/upsert job."""
    docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    return docs.withColumn("sig", minhash_signature("text")).select(
        "doc_id",
        F.expr(
            f"transform(sequence(0, {LSH_BANDS - 1}), "
            f"b -> xxhash64(concat_ws(',', slice(sig, b * {ROWS_PER_BAND} + 1, {ROWS_PER_BAND}))))"
        ).alias("bands"),
    )


def to_band_buckets(docs: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) for a (doc_id, text) DataFrame — the
    exploded form of band_array."""
    return band_array(docs).select(
        "doc_id", F.posexplode("bands").alias("band", "bucket")
    )


def band_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band, bucket) LSH band hashes for the corpus, computed
    through the Arrow-vectorized signature UDF on first use and served
    from the materialized parquet artifact afterwards. 16 small rows
    per doc — the artifact is ~2% of the text it indexes."""
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    path = _BANDS_ARTIFACT.get(key)
    if path is None or not os.path.isdir(path):
        d = table(spark, sf_dir, "documents").select("doc_id", "text")
        bands = to_band_buckets(d)
        path = os.path.join(_ARTIFACT_ROOT, f"bands-{uuid.uuid4().hex[:8]}")
        bands.write.mode("overwrite").parquet(path)
        _BANDS_ARTIFACT[key] = path
    return spark.read.parquet(path)


def verify_pairs(cand: DataFrame, corpus: DataFrame) -> DataFrame:
    """Exact-Jaccard verification of (doc_a, doc_b) candidates against
    the corpus texts (candidates only — the LSH contract). THE one
    verify implementation: LshIndex.pairs/delta_pairs/drop_set and the
    registered drop-set query all route here."""
    d = corpus.select("doc_id", "text")
    return (
        cand.join(
            d.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a")),
            "doc_a",
        )
        .join(
            d.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b")),
            "doc_b",
        )
        .withColumn("j_milli", jaccard_milli("text_a", "text_b"))
        .where(F.col("j_milli") >= int(JACCARD_THRESHOLD * 1000))
        .select("doc_a", "doc_b", (F.col("j_milli") / 1000.0).alias("jaccard"))
    )


# greedy_drop_set fan-out auto-gate (r12 verdict item 5; the bloom
# BLOOM_AUTO_MIN_BYTES discipline): the two-phase lane pays one extra
# bucket-size aggregation, a persist, and a second (tiny) verify job —
# worth it only when the estimated candidate volume is both large in
# absolute terms AND clique-quadratic relative to the O(c)-per-bucket
# min-edge count. Σ c(c−1)/2 ≥ RATIO × Σ (c−1) ⇔ pair-weighted mean
# bucket size ≥ 2·RATIO — the fixture's planted 2-3-doc buckets sit at
# ratio ~1, the 100-clique probe regime at ~50.
DROPSET_AUTO_MIN_PAIRS = 200_000
DROPSET_FANOUT_RATIO = 4


def dropset_gate(bands: DataFrame) -> tuple[bool, int, int]:
    """(take_two_phase, est_pairs, est_min_edges) for a (doc_id, band,
    bucket) frame — driver-side scalars (a plan-shape decision:
    orchestration, not data). Separated from greedy_drop_set so
    tests can pin the DECISION itself: the registered fixtures must
    sit on the plain lane (lifecycle unchanged), the 100-clique probe
    regime on the two-phase lane.

    Round 14: the gate aggregates ONE band (band 0) and scales by
    LSH_BANDS instead of shuffling all n·LSH_BANDS rows — at the
    1000x probe (5M docs, 80M band rows) the exact gate's ~25M-group
    shuffle cost 69 s, doubling the auto lane over the forced one.
    The bands are iid minhash views of the same shingle sets, so the
    band-0 fan-out is an unbiased estimate of every band's; the gate
    only chooses between two BYTE-IDENTICAL plans (the drop-set
    equality is proven independently), so estimator error can only
    ever cost plan time, never a row. Both pinned regimes sit far
    from the thresholds (fixture ratio ~1 vs 4; clique regime ~50)."""
    sizes = (
        bands.where(F.col("band") == 0)
        .groupBy("bucket")
        .agg(F.count("*").alias("c"))
    )
    row = sizes.agg(
        F.sum(F.expr("c * (c - 1) div 2")).alias("pairs"),
        F.sum(F.expr("c - 1")).alias("min_edges"),
    ).first()
    est_pairs = (row["pairs"] or 0) * LSH_BANDS
    est_min_edges = (row["min_edges"] or 0) * LSH_BANDS
    return (
        est_pairs >= DROPSET_AUTO_MIN_PAIRS
        and est_pairs >= DROPSET_FANOUT_RATIO * max(est_min_edges, 1),
        est_pairs,
        est_min_edges,
    )


def band_candidates(left_bands: DataFrame, right_bands: DataFrame) -> DataFrame:
    """Distinct (doc_a, doc_b) candidates from a banded join: same
    (band, bucket), left id strictly lower. THE banded candidate join —
    shared by greedy_drop_set's two lanes, q_llm_near_dedup, and
    LshIndex.pairs (unified round 14, when its executors were re-seeded
    for the driver). LshIndex.delta_pairs keeps its own asymmetric
    changed-side × full-index join (`!=` + least/greatest), which is a
    different shape, not a copy."""
    return (
        left_bands.alias("a")
        .join(
            right_bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def greedy_drop_set(
    bands: DataFrame,
    corpus: DataFrame,
    eligible: DataFrame | None = None,
    force_two_phase: bool | None = None,
) -> DataFrame:
    """The greedy keep-lowest near-dedup DROP SET over a (doc_id, band,
    bucket) frame: distinct doc_ids that appear as the HIGHER endpoint
    of any exact-verified pair — the only thing the dedup consumers
    (capstones, manifest maintenance, the registered drop-set query)
    ever read from the pair set. ``eligible`` (optional one-column
    doc_id frame) restricts BOTH endpoints, matching the streaming
    capstone's both-sides-deduped semantics.

    Below the fan-out gate this is exactly the banded self-join →
    verify → doc_b plan (so the fixture lifecycle is unchanged — the
    bloom-pre-prune auto-gate discipline). Above it, the
    clique-quadratic mitigation (SCALE.md rounds 12-13) runs TWO verify
    phases that return a byte-identical drop set while verifying O(c)
    edges per c-sized bucket instead of O(c²):

    phase 1 — per (band, bucket), verify only each doc's edge to the
    bucket MINIMUM (c−1 edges). Every true near-dup clique member ≠
    min drops here: greedy dedup never needs its other edges, because
    drop(d) only asks whether SOME lower verified partner exists.
    phase 2 — docs NOT dropped by phase 1 re-enter the full banded
    self-join as the HIGHER side only (the lower side stays
    unrestricted: a dropped doc can still be the lower witness that
    drops a survivor), minus the phase-1-verified edges. On a real
    clique bucket the undropped residue is just the minimum, which has
    no higher role — near-zero candidates.

    Equality proof shape: d is dropped by the full pair set iff some
    lower same-bucket partner verifies. If d drops in phase 1, done;
    otherwise every (a, d) candidate survives into phase 2's candidate
    set (d is undropped; min-edges already checked are subtracted), so
    the union of both phases' doc_b sets is the full drop set —
    asserted byte-identical on the fixture and a planted
    min-edge-fails corpus (tests/test_index_maintenance.py) and at
    100× replication (scripts/corpus_scale_probe.py)."""
    if eligible is not None:
        bands = bands.join(eligible.select("doc_id"), "doc_id", "left_semi")
    bands = tracked_persist(bands)

    if force_two_phase is None:
        force_two_phase, _, _ = dropset_gate(bands)

    if not force_two_phase:
        return (
            verify_pairs(band_candidates(bands, bands), corpus)
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
        )

    # phase 1: edges to the bucket minimum only — O(c) per bucket
    bmin = bands.groupBy("band", "bucket").agg(F.min("doc_id").alias("doc_a"))
    p1 = tracked_persist(
        bands.join(bmin, ["band", "bucket"])
        .where(F.col("doc_id") > F.col("doc_a"))
        .select("doc_a", F.col("doc_id").alias("doc_b"))
        .distinct()
    )
    d1 = tracked_persist(
        verify_pairs(p1, corpus)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    # phase 2: only phase-1 survivors can still be dropped, so only
    # they take the HIGHER side; the lower side stays the full band set
    # (a dropped doc remains a valid lower witness)
    live = bands.join(d1, "doc_id", "left_anti")
    p2 = band_candidates(bands, live).join(p1, ["doc_a", "doc_b"], "left_anti")
    d2 = (
        verify_pairs(p2, corpus)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    return d1.unionByName(d2).distinct()


# THE shingle-Jaccard truth template (q_llm_near_dedup and the
# index-maintenance drills all hash against it — one text, so a
# rounding or shingling tweak cannot silently diverge between oracles).
# Continues an open WITH list; yields `jp(doc_a, doc_b, j_milli)` over
# relation `source(doc_id, text)`. The threshold must be applied to the
# half-up-rounded MILLI value the Spark side filters on (j_milli >=
# 500), not the exact 2i >= u predicate: exact J in [0.4995, 0.5)
# rounds to 500 and must be kept by BOTH engines.
# (q_llm_jaccard_exact deliberately differs: it IS the exact-predicate
# baseline, not a milli-threshold consumer.)


def shingle_ctes(source: str) -> str:
    """THE 3-shingle derivation (tokens -> distinct shingles), stated
    once (round-14 review: _SIMHASH_SKETCH_CTES had re-typed it; a
    SHINGLE_K change must desynchronize nothing).  Yields
    ``toks(doc_id, t)`` and ``sh(doc_id, s)`` over ``source``."""
    return f"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM {source}),
sh AS (SELECT DISTINCT doc_id,
              unnest(list_transform(generate_series(1, len(t) - 2),
                                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
       FROM toks)"""


def shingle_pair_ctes(source: str) -> str:
    return f"""
{shingle_ctes(source)},
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
jp AS (
    SELECT doc_a, doc_b,
           ((2000 * i + (sa.n + sb.n - i)) // (2 * (sa.n + sb.n - i))) AS j_milli
    FROM pairs
    JOIN sz sa ON doc_a = sa.doc_id
    JOIN sz sb ON doc_b = sb.doc_id
)"""


PAIR_SELECT_SQL = (
    "SELECT doc_a, doc_b, j_milli / 1000.0 AS jaccard\n"
    f"FROM jp WHERE j_milli >= {int(JACCARD_THRESHOLD * 1000)}"
)


@register(
    "q_llm_near_dedup",
    oracle=f"WITH {shingle_pair_ctes('documents')}\n{PAIR_SELECT_SQL}\n",
)
def q_llm_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs (J ≥ 0.5), exact-verified.

    Plan: signature (pandas_udf, materialized once per corpus — see
    band_buckets) → 16 band-buckets per doc → self-join on (band,
    bucket-hash) → distinct candidate pairs → join texts back →
    exact-Jaccard verify. The oracle computes true Jaccard by
    brute-force shingle self-join — feasible at test SF, while the
    Spark path is the one that scales (candidates only).
    """
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    # both self-join sides scan the materialized artifact (no persist
    # needed, no double pandas_udf run — Catalyst has no cross-branch CSE)
    bands = band_buckets(spark, sf_dir)
    cand = band_candidates(bands, bands)
    verified = (
        cand.join(d.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a")), "doc_a")
        .join(d.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b")), "doc_b")
        .withColumn("j_milli", jaccard_milli("text_a", "text_b"))
        .where(F.col("j_milli") >= int(JACCARD_THRESHOLD * 1000))
    )
    return verified.select(
        "doc_a", "doc_b", (F.col("j_milli") / 1000.0).alias("jaccard")
    )


@register(
    "q_llm_dedup_dropset",
    oracle=f"""
WITH {shingle_pair_ctes('documents')}
SELECT DISTINCT doc_b AS doc_id FROM jp
WHERE j_milli >= {int(JACCARD_THRESHOLD * 1000)}
""",
)
def q_llm_dedup_dropset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The greedy keep-lowest near-dedup DROP SET as a first-class
    query (registered r13 with the two-phase mitigation it fronts):
    every doc_id that loses to SOME lower near-duplicate (J ≥ 0.5) —
    exactly what the corpus capstones and the manifest-maintenance
    epoch build subtract from the corpus. The builder routes through
    greedy_drop_set over the materialized band artifact: at fixture
    fan-out the auto-gate keeps the plain banded-verify plan; past it
    (100-clique crawl corpora) the bucket-minimum two-phase lane
    verifies O(c) edges per bucket with a byte-identical result
    (scripts/corpus_scale_probe.py measures both lanes at 100×). The
    oracle is the brute-force shingle-Jaccard truth template's doc_b
    projection — drop membership, not the edge list, so the two lanes'
    different verify ORDER cannot show through."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    return greedy_drop_set(band_buckets(spark, sf_dir), d)


@register(
    "q_llm_dedup_dropset_twophase",
    oracle=f"""
WITH {shingle_pair_ctes('documents')}
SELECT DISTINCT doc_b AS doc_id FROM jp
WHERE j_milli >= {int(JACCARD_THRESHOLD * 1000)}
""",
)
def q_llm_dedup_dropset_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-phase bucket-minimum lane of greedy_drop_set, FORCED —
    the r13 verdict item 5 driver row: the registered fixture sits
    below the fan-out auto-gate (the gate test pins that), so
    q_llm_dedup_dropset's driver hash never executes phase 1/phase 2;
    this twin forces the lane against the SAME brute-force oracle (the
    lanes are byte-identical by construction — the equality proof in
    greedy_drop_set's docstring — so the oracle is free). The plan pin
    (tests/test_plans.py) asserts the twin's plan carries the
    two-phase signature the plain lane lacks: the bucket-minimum
    aggregate and the phase-2 anti-joins."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    return greedy_drop_set(band_buckets(spark, sf_dir), d, force_two_phase=True)


@F.pandas_udf(T.LongType())
def simhash64(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over 3-word shingles (splitmix64-expanded crc32).

    Shingles, not unigram tokens: with a small shared vocabulary every
    document's token SET is nearly identical, so token-level SimHash
    collapses (random pairs landed ~14 bits apart); shingle sets keep
    Jaccard ~0.05 between unrelated docs, giving ~32-bit separation."""
    shifts = np.arange(64, dtype=np.uint64)
    out = []
    for t in texts:
        hs = _splitmix64(_shingle_hashes(t))
        bits = ((hs[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64)
        acc = (2 * bits - 1).sum(axis=0)
        h = int(((acc > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64))
        out.append(h - (1 << 64) if h >= (1 << 63) else h)
    return pd.Series(out, dtype="int64")


def _crc32_table() -> list[int]:
    """The 256-entry crc32 (poly 0xEDB88320) byte table — embedded in
    the simhash oracles as a literal list (the r6 hyperplane-matrix
    precedent for deterministic constants DuckDB can't derive)."""
    out = []
    for n in range(256):
        c = n
        for _ in range(8):
            c = (c >> 1) ^ (0xEDB88320 if c & 1 else 0)
        out.append(c)
    return out


# DuckDB twin of simhash64 (round 14 — drains the rows-only tail): the
# crc32 fold is a list_reduce over the shingle's bytes through the
# embedded byte table (fixture text is ASCII, so ord == byte), the
# splitmix64 finalizer is UHUGEINT multiply-mod-2^64 arithmetic, and
# the per-bit majority vote sums ±1 per (doc, bit). The bit recompose
# MUST sum HUGEINT terms — DuckDB sum() over UHUGEINT promotes to
# DOUBLE and silently zeroes the low ~11 bits of a 64-bit sketch.
# A shingle-less document (< 3 tokens) hashes the singleton {0} set,
# exactly _shingle_hashes' sentinel fallback (round-14 review: the sh
# CTE alone would DROP such docs while the UDF emits a row).
# Yields `simh(doc_id, sh)` (sh UBIGINT) over relation documents.
_SIMHASH_SKETCH_CTES = f"""
crctab AS (
  SELECT list(CAST(v AS UBIGINT) ORDER BY i) AS t
  FROM (SELECT unnest(range(256)) AS i,
               unnest([{",".join(str(v) for v in _crc32_table())}]) AS v)
),
{shingle_ctes('documents')},
crc AS (
  SELECT doc_id,
         xor(list_reduce(
               list_prepend(CAST(4294967295 AS UBIGINT),
                 list_transform(range(1, length(s) + 1),
                                i -> CAST(ord(s[i]) AS UBIGINT))),
               (acc, b) -> xor(t[CAST(xor(acc, b) & 255 AS INT) + 1], acc >> 8)),
             CAST(4294967295 AS UBIGINT)) AS c
  FROM sh, crctab
  UNION ALL
  SELECT doc_id, CAST(0 AS UBIGINT) AS c
  FROM toks WHERE len(t) < 3),
dhs AS (
  SELECT DISTINCT doc_id,
    xor(z3, z3 >> 31) AS h
  FROM (
    SELECT doc_id,
      CAST((CAST(xor(z2, z2 >> 27) AS UHUGEINT) * 10723151780598845931)
           % 18446744073709551616 AS UBIGINT) AS z3
    FROM (
      SELECT doc_id,
        CAST((CAST(xor(z1, z1 >> 30) AS UHUGEINT) * 13787848793156543929)
             % 18446744073709551616 AS UBIGINT) AS z2
      FROM (
        SELECT doc_id, CAST((CAST(c AS UHUGEINT) + 11400714819323198485)
                            % 18446744073709551616 AS UBIGINT) AS z1
        FROM crc) a) b) c2),
bits AS (
  SELECT doc_id, b, sum(CASE WHEN (h >> CAST(b AS UBIGINT)) & 1 = 1
                             THEN 1 ELSE -1 END) AS acc
  FROM dhs, (SELECT unnest(range(64)) AS b)
  GROUP BY 1, 2),
simh AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN acc > 0
                       THEN CAST(1 AS HUGEINT) << CAST(b AS HUGEINT)
                       ELSE CAST(0 AS HUGEINT) END) AS UBIGINT) AS sh
  FROM bits GROUP BY 1)"""


@register(
    "q_llm_simhash",
    oracle=f"""
WITH {_SIMHASH_SKETCH_CTES}
SELECT doc_id,
       CAST(CASE WHEN sh >= 9223372036854775808
                 THEN CAST(sh AS HUGEINT) - 18446744073709551616
                 ELSE CAST(sh AS HUGEINT) END AS BIGINT) AS simhash
FROM simh
""",
)
def q_llm_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 64-bit SimHash fingerprint — the constant-size sketch
    whose Hamming distance approximates cosine similarity of token
    sets; near-dup detection at scale groups by rotated prefixes of
    this value (tested: planted near-dup pairs land within 12 bits,
    random pairs around 32). Oracled round 14 (was rows-only): the
    crc32+splitmix64 sketch is re-derived in DuckDB bit-for-bit
    (_SIMHASH_SKETCH_CTES), signed-converted to match the int64 the
    Spark side returns."""
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", simhash64("text").alias("simhash"))


@register(
    "q_llm_jaccard_exact",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (SELECT DISTINCT doc_id,
              unnest(list_transform(generate_series(1, len(t) - 2),
                                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
       FROM toks),
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT doc_a, doc_b,
       ((2000 * i + (sa.n + sb.n - i)) // (2 * (sa.n + sb.n - i))) / 1000.0 AS jaccard
FROM pairs
JOIN sz sa ON doc_a = sa.doc_id
JOIN sz sb ON doc_b = sb.doc_id
WHERE i * 2 >= (sa.n + sb.n - i)
""",
)
def q_llm_jaccard_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (J ≥ 0.5), pure DataFrame ops —
    no UDF anywhere: shingles fan out via a sequence/element_at
    comprehension, pair intersections come from the shingle self-join
    with map-side partial counts, and the Jaccard value is the same
    integer rounding as the oracle. This is the brute-force baseline
    whose candidate set is O(pairs sharing a shingle); at corpus scale
    MinHash-LSH (q_llm_near_dedup) replaces it — same answer on the
    planted pairs, O(n·bands) candidates."""
    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("t"))
        # fan-out rebalance: the corpus arrives as ~1 input split; the
        # shingle explode AND the persisted store it feeds would run
        # (and cache) on one core/partition without this cheap
        # compact-row exchange
        .repartition(spark.sparkContext.defaultParallelism)
    )
    sh = (
        d.where(F.size("t") >= SHINGLE_K)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, size(t) - 2), "
                        "i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1), element_at(t, i + 2)))"
                    )
                )
            ).alias("s"),
        )
    )
    # both sides of the self-join (no cross-branch CSE); tracked so
    # release_persisted() frees it after the harness consumes the result
    sh = tracked_persist(sh)
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("i"))
    )
    scored = (
        pairs.join(sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .withColumn("u", F.col("na") + F.col("nb") - F.col("i"))
        .where(F.col("i") * 2 >= F.col("u"))
    )
    return scored.select(
        "doc_a",
        "doc_b",
        (F.expr("(2000 * i + u) div (2 * u)") / 1000.0).alias("jaccard"),
    )


SIMHASH_BANDS = 4          # 4 × 16-bit bands: ≤3-bit-different pairs always collide
SIMHASH_MAX_HAMMING = 16


@register(
    "q_llm_simhash_pairs",
    oracle=f"""
WITH {_SIMHASH_SKETCH_CTES},
bands AS (
  SELECT doc_id, sh, b AS band, (sh >> CAST(b * 16 AS UBIGINT)) & 65535 AS bval
  FROM simh, (SELECT unnest(range({SIMHASH_BANDS})) AS b)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.sh AS sh_a, b.sh AS sh_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= {SIMHASH_MAX_HAMMING}
""",
)
def q_llm_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pair generation — the banded-join pipeline on top
    of the sketch: split each 64-bit hash into 4 × 16-bit bands,
    candidates = pairs sharing ANY band value, verify with
    popcount(xor) ≤ threshold. Same O(n·bands) candidate shape as
    MinHash-LSH but on a constant-size sketch (no shingle sets
    shuffled). Recall contract (tested): pairs within 3 bits ALWAYS
    collide in some band (pigeonhole); pairs further out are found
    probabilistically — the classic SimHash trade-off vs MinHash,
    which is why both pipelines exist. Oracled round 14 (was
    rows-only): DuckDB re-derives the sketch bit-for-bit
    (_SIMHASH_SKETCH_CTES) and mirrors the banded join + popcount
    verify."""
    # referenced by both sides of the self-join (no cross-branch CSE);
    # tracked so release_persisted() frees it post-consumption
    sigs = tracked_persist(
        table(spark, sf_dir, "documents").select(
            "doc_id", simhash64("text").alias("simhash")
        )
    )
    bands = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {SIMHASH_BANDS - 1}), "
                f"b -> (simhash >> (b * 16)) & 65535)"
            )
        ).alias("band", "bval"),
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", F.col("hamming").cast("bigint").alias("hamming"))
    )


@register(
    "q_llm_dedup_report",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (SELECT DISTINCT doc_id,
              unnest(list_transform(generate_series(1, len(t) - 2),
                                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
       FROM toks),
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
v AS (SELECT doc_a, doc_b
      FROM pairs
      JOIN sz sa ON doc_a = sa.doc_id
      JOIN sz sb ON doc_b = sb.doc_id
      WHERE ((2000 * i + (sa.n + sb.n - i)) // (2 * (sa.n + sb.n - i))) >= 500)
SELECT (SELECT count(*) FROM documents) AS n_docs,
       (SELECT count(*) - count(DISTINCT md5(text)) FROM documents) AS n_exact_dup,
       (SELECT count(*) FROM v) AS near_pairs,
       (SELECT count(DISTINCT d)
        FROM (SELECT doc_a AS d FROM v UNION SELECT doc_b FROM v)) AS docs_in_pairs
""",
)
def q_llm_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus dedup health report — the one-row summary a curation run
    publishes before/after dedup: corpus size, exact-duplicate count
    (rows beyond the first per content hash), verified near-dup pair
    count (J ≥ 0.5) and how many documents sit in at least one such
    pair. The Spark side rides the LSH band artifact (candidates only,
    O(n·bands)); the oracle recomputes truth by brute-force shingle
    join — so a green hash ALSO re-proves LSH recall at this threshold
    corpus-wide, not just per planted pair."""
    d = table(spark, sf_dir, "documents")
    exact = d.agg(
        F.count("*").alias("n_docs"),
        (F.count("*") - F.countDistinct(F.md5("text"))).alias("n_exact_dup"),
    )
    # verified near-dup pairs via the banded pipeline (referenced by
    # the pair count AND the distinct-doc explode — persist, no CSE)
    pairs = tracked_persist(
        q_llm_near_dedup(spark, sf_dir).select("doc_a", "doc_b")
    )
    n_pairs = pairs.agg(F.count("*").alias("near_pairs"))
    n_docs_in = (
        pairs.select(F.explode(F.array("doc_a", "doc_b")).alias("d"))
        .agg(F.countDistinct("d").alias("docs_in_pairs"))
    )
    # three 1-row frames -> one report row (documented 1-row crossJoins)
    return exact.crossJoin(F.broadcast(n_pairs)).crossJoin(F.broadcast(n_docs_in))
