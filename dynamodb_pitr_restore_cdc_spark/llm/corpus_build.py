"""The end-to-end corpus-build capstone (round-10 verdict item 6).

One registered query composes the whole training-data pipeline a
curation owner actually runs — quality filter → exact dedup → NEAR
dedup answered by the CDC-maintained LSH index → train-split cut →
decontamination against the held-out split → domain-mixture sampling →
per-language token-budget cut → sequence packing — under ONE oracle
hash. Every stage is an operator this engine already ships
(q_llm_corpus_curation's filter/dedup/split, q_llm_lsh_index_* near
dedup, q_llm_decontaminate's gram join, q_llm_domain_mix,
q_llm_token_budget_sample, q_llm_seq_packing); the capstone proves
they COMPOSE: one fused plan, stage outputs never materialized except
where a frame is referenced more than once (Catalyst has no
cross-branch CSE).

Scale shape (the 100 TB read): stages 1/4/6 are map-side predicates
fused into the scan; exact dedup is one shuffle on the content hash;
near dedup signatures the CORPUS ONCE into the index (the only Python
pass, Arrow-vectorized) and pairs from the banded self-join —
candidates only, never all-pairs; decontamination joins distinct
benchmark grams (vocabulary-sized build side); the two per-language
windows share one hash exchange. Nothing in the pipeline rescans
text after the index is built.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import register, tracked_persist
from ..sources import table
from .curation import (
    PACK_BUDGET_TOKENS,
    QUALITY_DEDUP_CTES,
    SAMPLE_BUDGET_TOKENS,
    SPLIT_MULT,
    TRAIN_PERMILLE,
    VALID_PERMILLE,
    _RATE_SQL,
    _SAMPLE_BUCKET_SQL,
    _SPLIT_BUCKET_SQL,
    five_grams,
    mix_rate,
    mult_hash32,
    mult_hash32,
    quality_exact_dedup,
    sample_bucket,
    split_bucket,
)
from .dedup import JACCARD_THRESHOLD, shingle_pair_ctes
from .index_maintenance import LshIndex

# 5-gram text, identical fragment on both dialects' train and benchmark
# sides (the q_llm_decontaminate definition, restated over a generic
# relation)
_GRAMS_SQL = (
    "SELECT doc_id, unnest(list_distinct(list_transform("
    "range(1, len(ws) - 3), i -> array_to_string(ws[i:i+4], ' ')))) AS gram"
)


_CORPUS_BUILD_ORACLE = f"""
WITH {QUALITY_DEDUP_CTES},
{shingle_pair_ctes('deduped')},
near_drop AS (
    SELECT DISTINCT doc_b AS doc_id FROM jp
    WHERE j_milli >= {int(JACCARD_THRESHOLD * 1000)}
),
survivors AS (
    SELECT * FROM deduped
    WHERE doc_id NOT IN (SELECT doc_id FROM near_drop)
),
train AS (
    SELECT * FROM survivors WHERE {_SPLIT_BUCKET_SQL} < {TRAIN_PERMILLE}
),
bw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       WHERE {_SPLIT_BUCKET_SQL} >= {VALID_PERMILLE}),
bench_grams AS (
    SELECT DISTINCT gram FROM ({_GRAMS_SQL} FROM bw WHERE len(ws) >= 5)
),
tw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM train),
contaminated AS (
    SELECT DISTINCT g.doc_id
    FROM ({_GRAMS_SQL} FROM tw WHERE len(ws) >= 5) g
    JOIN bench_grams b ON g.gram = b.gram
),
clean AS (
    SELECT * FROM train
    WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
),
mixed AS (
    SELECT * FROM clean WHERE {_SAMPLE_BUCKET_SQL} < {_RATE_SQL}
),
budgeted AS (
    SELECT doc_id, lang, n_tokens FROM (
        SELECT doc_id, lang, n_tokens,
               sum(n_tokens) OVER (
                   PARTITION BY lang
                   ORDER BY (doc_id * {SPLIT_MULT}) % 4294967296, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_budget
        FROM mixed
    ) WHERE cum_budget <= {SAMPLE_BUDGET_TOKENS}
),
packed AS (
    SELECT lang, n_tokens,
           sum(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS cum
    FROM budgeted
)
SELECT lang,
       CAST((cum - n_tokens) // {PACK_BUDGET_TOKENS} AS BIGINT) AS pack_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
FROM packed GROUP BY lang, pack_id
"""


def budget_and_pack(mixed: DataFrame) -> DataFrame:
    """Stages 7-8 (per-language token budget → sequence packing) over a
    `mixed` (doc_id, lang, n_tokens) frame — THE one implementation
    (round-13 fold: manifest_maintenance mirrored this tail verbatim
    through r12 behind a byte-equality pin; the capstone's reverify
    window made the merge free, r12 verdict item 6). Both windows
    share one (lang) hash exchange."""
    wb = (
        W.partitionBy("lang")
        .orderBy("hk", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    budgeted = (
        mixed.withColumn(
            "hk", mult_hash32(F.col("doc_id"), SPLIT_MULT)
        )
        .withColumn("cum_budget", F.sum("n_tokens").over(wb))
        .where(F.col("cum_budget") <= SAMPLE_BUDGET_TOKENS)
        .select("doc_id", "lang", "n_tokens")
    )
    wp = (
        W.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    packed = budgeted.withColumn("cum", F.sum("n_tokens").over(wp))
    return (
        packed.select(
            "lang",
            F.expr(f"(cum - n_tokens) div {PACK_BUDGET_TOKENS}").alias("pack_id"),
            "n_tokens",
        )
        .groupBy("lang", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
        )
    )


def stage_4to6_delta(clean_base: DataFrame, bench_grams: DataFrame) -> DataFrame:
    """Stages 4-6 (train cut → decontamination against a FROZEN
    benchmark vocabulary → domain mix) over a survivor frame → its
    `mixed` rows (doc_id, lang, n_tokens). Map-side cuts plus one gram
    equi-join scoped to the input — THE one implementation (the
    capstone passes the full survivor set, manifest maintenance passes
    an epoch batch; folded in round 13 with budget_and_pack, r12
    verdict item 6). `train` is referenced by two branches (the gram
    fan-out and the anti-join base) — persisted per the
    no-cross-branch-CSE rule."""
    train = tracked_persist(
        clean_base.where(split_bucket(F.col("doc_id")) < TRAIN_PERMILLE)
    )
    contaminated = (
        five_grams(train.select("doc_id", "text"))
        .join(bench_grams, "gram")
        .select("doc_id")
        .distinct()
    )
    clean = train.join(contaminated, "doc_id", "left_anti")
    return clean.where(
        sample_bucket(F.col("doc_id")) < mix_rate("source")
    ).select("doc_id", "lang", "n_tokens")


def downstream_build(docs: DataFrame, survivors: DataFrame) -> DataFrame:
    """Stages 4-8 (train cut → decontamination → domain mix → token
    budget → packing) over the near-dedup survivors; ``docs`` is the
    ORIGINAL corpus (the benchmark side of decontamination never goes
    through the pipeline's own filters). Shared by both capstones AND
    (via stage_4to6_delta / budget_and_pack) the manifest-maintenance
    tails — one implementation, one oracle text."""
    bench_grams = (
        five_grams(docs.where(split_bucket(F.col("doc_id")) >= VALID_PERMILLE))
        .select("gram")
        .distinct()
    )
    return budget_and_pack(stage_4to6_delta(survivors, bench_grams))


@register("q_llm_corpus_build", oracle=_CORPUS_BUILD_ORACLE)
def q_llm_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus a trainer would actually load, built end to end:

    1. quality filter — length ≥ 40 tokens, stopword density < 20%
       (q_llm_quality_score rules; map-side, fused into the scan);
    2. exact dedup — keep lowest doc_id per content hash (one shuffle);
    3. NEAR dedup from the CDC-maintained LSH index: survivors are
       signatured ONCE into the index (the pipeline's only full-corpus
       Python pass, Arrow-vectorized), verified pairs (J ≥ 0.5) come
       from the banded self-join, and the greedy keep-lowest rule drops
       every pair's higher doc_id — deterministic and order-free;
    4. train-split cut — the multiplicative-hash 80% bucket;
    5. decontamination — drop train docs sharing any word 5-gram with
       the held-out split of the ORIGINAL corpus (the benchmark side
       never goes through the pipeline's own filters), distinct
       benchmark grams as the join build side;
    6. domain mixture — per-source keep-rate on the independent
       sampling hash (map-side);
    7. per-language token budget — hash-order prefix under
       SAMPLE_BUDGET_TOKENS (one window);
    8. sequence packing — stable (lang, doc_id) order, pack_id =
       prefix-tokens div PACK_BUDGET_TOKENS (same exchange as 7).

    Output: one row per (lang, pack_id) with doc and token counts —
    the pack manifest a resumable trainer consumes. The oracle
    recomputes all eight stages in SQL, near-dup truth by brute-force
    shingle Jaccard (dedup.shingle_pair_ctes — the SAME template every
    LSH query oracles against)."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    # referenced by index init (an action), both text sides of the pair
    # verify, and the anti-join base — one materialization, four reads
    from ..streaming.drill import Drill
    from ..streaming.util import pinned_shuffle_width

    # Scoped drill width. What executes where (every frame here is
    # lazy, so a phase runs under the width of the ACTION that
    # triggers it):
    # - first pin: the exact dedup and the index init, whose bucket
    #   write (table_files.repartition_by_bucket) also takes the pinned
    #   width, min(32 buckets, pin) parallel write tasks (LshIndex keeps
    #   an explicit 32, not the pin: index_maintenance docstring);
    # - session width: only drop_set's eager part, the folded index
    #   read and the dropset_gate aggregate (the verify plan it returns
    #   is lazy);
    # - second pin: everything else at result.count() — the banded
    #   candidate join, the exact-Jaccard verify, the anti-join and the
    #   manifest tail, all aggs/joins over ≤5000-doc frames where
    #   per-job scheduling dominates (width 4 wins).
    # r16 interleaved same-session A/B (median of 5, variants
    # alternated per run): this scoped form 5.09 s / full pin 5.54 s /
    # no pin 7.46 s.
    with Drill(spark, "corpusbuild") as d:
        idx = LshIndex(spark, d.dir("t"))
        with pinned_shuffle_width(spark):
            deduped = tracked_persist(quality_exact_dedup(docs))
            idx.init(deduped.select("doc_id", "text"))
        near_drop = idx.drop_set(deduped.select("doc_id", "text"))
        survivors = deduped.join(near_drop, "doc_id", "left_anti")
        with pinned_shuffle_width(spark):
            result = tracked_persist(downstream_build(docs, survivors))
            result.count()  # materialize before the index's backing dir goes away
    return result
