"""Incremental pack-manifest maintenance off the index changefeed
(round-11 verdict item 4).

The corpus-build capstone (corpus_build.py) recomputes all eight
stages per run.  A continuously-crawled corpus instead runs this
cadence: after an ingest epoch lands in the CDC-maintained LSH index,
update ONLY the (lang, pack) manifest rows whose inputs the feed
touched — the composition of the engine's incremental view
maintenance (q_cdc_incremental_agg) with its changefeed-scoped pair
refresh (q_llm_lsh_index_delta_pairs).

Incrementality argument, stage by stage (insert-only epochs with
monotonic doc_ids — the crawl shape; the registered fixture splits
`documents` at the 3/4 doc_id point):

1-2. quality + exact dedup: map-side on the batch, then an anti-join
     of the batch's content hashes against the maintained hash state
     (compact rows, no text).  Keep-lowest across epochs holds because
     new ids are higher: a new duplicate always loses to the existing
     representative, and the batch keeps its own lowest for new
     hashes.
3.   near dedup: `delta_pairs` — candidates come from the CHANGED
     side joined against the folded band index, O(batch·bands), never
     a re-signature of the corpus.  Every delta pair's doc_b (the
     higher id) is a NEW doc, so the existing survivor set never
     shrinks — full-rebuild-equivalent by the keep-lowest rule.
4-6. split cut, decontamination, domain mix: map-side on the batch.
     The benchmark gram vocabulary is FROZEN at epoch 0 (benchmarks
     are fixed suites — the q_stream_decontaminate semantics), so new
     docs can never retroactively contaminate existing clean docs.
7-8. token budget + packing are per-language PREFIX computations: a
     new doc shifts every later cumulative sum in its language, so the
     honest incremental granularity is the LANGUAGE — stages 7-8
     re-run over the maintained compact `mixed` state (doc_id, lang,
     n_tokens — no text) for TOUCHED languages only; untouched
     languages keep their manifest rows verbatim.

The oracle is the FULL REBUILD over the final corpus (same CTE
templates as the capstone, bench side frozen to epoch 0), so the
driver hash IS the incremental ≡ full-rebuild proof.

Scale reading at 100 TB: the epoch cost is O(batch) signature work +
O(batch·bands) candidate rows + O(mixed rows of touched languages) —
`mixed` is three scalar columns per surviving doc (~10⁻⁴ of corpus
bytes), and a language's mixed rows are further bounded by the token
budget's keep set.  Epoch-0 TEXT is never re-signatured and never
re-grammed; the only standing-corpus text touched is the candidate
endpoints' verification lookup (same contract, and cost, as
q_llm_lsh_index_delta_pairs — point reads in a production store).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register, tracked_persist
from ..sources import table

# THE gram fragment — imported, never re-typed (one statement of the
# gram shape per dialect; CLAUDE.md shared-template rule)
from .corpus_build import (  # noqa: F401 — shared tails, re-exported
    _GRAMS_SQL,
    budget_and_pack,
    stage_4to6_delta,
)
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
    quality_exact_dedup,
    split_bucket,
)
from .dedup import JACCARD_THRESHOLD, shingle_pair_ctes
from .index_maintenance import LshIndex

# epoch cut: the crawl's "already ingested" prefix — 3/4 of the id
# space, monotonic ids, SQL-expressible on both dialects
_EPOCH_SQL = "(SELECT (max(doc_id) * 3) // 4 AS t FROM documents)"

# the fixture's epoch-1 batch is a LANGUAGE-SCOPED crawl (common in
# practice: per-language crawl frontiers land as separate batches) —
# which is also what makes the maintenance observably incremental:
# the other languages' manifest rows must come back verbatim from the
# standing state, never recomputed (tests pin both branches)
BATCH_LANGS = ("de", "en")
_BATCH_LANGS_SQL = ", ".join(f"'{lang}'" for lang in BATCH_LANGS)


# Full rebuild over the FINAL corpus with the benchmark vocabulary
# frozen at epoch 0 — the only textual difference from the capstone
# oracle is `bw`'s `doc_id <= ep.t` restriction.  Hash equality against
# the incremental Spark path is the maintenance-correctness proof.
_INCR_MANIFEST_ORACLE = f"""
WITH ep AS {_EPOCH_SQL},
corpus AS (
    SELECT d.* FROM documents d, ep
    WHERE d.doc_id <= ep.t OR d.lang IN ({_BATCH_LANGS_SQL})
),
{QUALITY_DEDUP_CTES.replace("FROM documents", "FROM corpus")},
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
bw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents, ep
       WHERE doc_id <= ep.t AND {_SPLIT_BUCKET_SQL} >= {VALID_PERMILLE}),
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


# Stages 4-6 and 7-8 now live in corpus_build.stage_4to6_delta /
# corpus_build.budget_and_pack — ONE implementation for the capstone
# tail and the manifest tails (the r12 verbatim mirrors and their
# byte-equality pin are gone; r12 verdict item 6, folded during the
# capstone's r13 reverify window).


def build_epoch0_state(
    spark: SparkSession, e0: DataFrame, index_path: str
) -> dict:
    """The standing state a crawler maintains, built from the epoch-0
    corpus: the CDC-maintained LSH index, the deduped corpus (whose
    content hashes are the exact-dedup state), the FROZEN benchmark
    gram vocabulary, the compact per-doc ``mixed`` rows and the
    manifest.  Returned as a dict so apply_epoch can be timed and
    re-run independently of the build (the production cadence — and
    scripts/manifest_incr_probe.py measures exactly that split)."""
    dedup0 = tracked_persist(quality_exact_dedup(e0))
    idx = LshIndex(spark, index_path)
    idx.init(dedup0.select("doc_id", "text"))
    # epoch-0 greedy drop set (auto-gated two-phase above the band
    # fan-out threshold — the clique-quadratic mitigation; drop set
    # byte-identical to pairs()→doc_b by construction)
    drops0 = idx.drop_set(dedup0.select("doc_id", "text"))
    surv0 = dedup0.join(drops0, "doc_id", "left_anti")
    # frozen benchmark vocabulary (epoch-0 held-out split, raw corpus)
    bench_grams = tracked_persist(
        five_grams(e0.where(split_bucket(F.col("doc_id")) >= VALID_PERMILLE))
        .select("gram")
        .distinct()
    )
    mixed0 = tracked_persist(stage_4to6_delta(surv0, bench_grams))
    manifest0 = tracked_persist(budget_and_pack(mixed0))
    manifest0.count()  # the standing manifest is materialized state
    return {
        "idx": idx,
        "v0": idx.version(),
        "dedup0": dedup0,
        "bench_grams": bench_grams,
        "mixed0": mixed0,
        "manifest0": manifest0,
    }


def apply_epoch(
    spark: SparkSession, state: dict, e1: DataFrame, seq: int = 2
) -> DataFrame:
    """O(batch) maintenance of the pack manifest for one crawl batch
    against the standing state — the measured quantity of the round-12
    scale probe.  Returns the maintained manifest (≡ full rebuild; the
    registered oracle and test_incremental_manifest_equals_rebuild
    prove it)."""
    idx, dedup0 = state["idx"], state["dedup0"]
    # stages 1-2 on the batch: map-side quality, intra-batch keep-lowest,
    # then the content-hash anti-join against the maintained hash state
    # (compact rows, no epoch-0 text)
    batch_kept = quality_exact_dedup(e1)
    d1 = tracked_persist(
        batch_kept.join(
            dedup0.select(F.md5("text").alias("h")).distinct(),
            F.md5(batch_kept["text"]) == F.col("h"),
            "left_anti",
        )
    )
    # stage 3: signature the BATCH into the index, pairs from the
    # changefeed window — O(batch·bands) candidates, doc_b is always a
    # batch doc (monotonic ids), so existing survivors never retract
    idx.upsert(d1.select("doc_id", "text"), seq=seq)
    corpus_texts = dedup0.select("doc_id", "text").unionByName(
        d1.select("doc_id", "text")
    )
    delta_drops = (
        idx.delta_pairs(state["v0"], corpus_texts)  # ≥ threshold built in
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    surv1 = d1.join(delta_drops, "doc_id", "left_anti")
    # stages 4-6 on the batch, frozen bench
    mixed1 = tracked_persist(stage_4to6_delta(surv1, state["bench_grams"]))

    # stages 7-8: recompute ONLY the touched languages; untouched
    # languages keep their standing manifest rows verbatim
    touched = mixed1.select("lang").distinct()
    merged_touched = (
        state["mixed0"].unionByName(mixed1)
        .join(F.broadcast(touched), "lang", "left_semi")
    )
    kept_rows = state["manifest0"].join(F.broadcast(touched), "lang", "left_anti")
    return kept_rows.unionByName(budget_and_pack(merged_touched))


def incremental_manifest(
    spark: SparkSession, docs: DataFrame, epoch_cut: int, index_path: str
) -> DataFrame:
    """Run the full production cadence on a fixture corpus: build the
    epoch-0 state (index + hash set + frozen bench vocabulary + mixed
    rows + manifest), ingest the epoch-1 batch incrementally, and
    return the maintained manifest.  Exposed separately from the
    registered query so tests can also diff it against a from-scratch
    rebuild."""
    state = build_epoch0_state(
        spark, docs.where(F.col("doc_id") <= epoch_cut), index_path
    )
    return apply_epoch(spark, state, docs.where(F.col("doc_id") > epoch_cut))


@register("q_llm_pack_manifest_incremental", oracle=_INCR_MANIFEST_ORACLE)
def q_llm_pack_manifest_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Changefeed-incremental pack-manifest maintenance: epoch 0 (3/4
    of the id space) builds the standing state, epoch 1 (the newest
    quarter — the crawl batch) is ingested through O(batch) stages and
    a touched-language-only stage-7/8 recompute.  The oracle is the
    full rebuild over the final corpus (frozen epoch-0 benchmark
    vocabulary), so the hash match proves maintenance ≡ rebuild.
    Reference semantics: the CDC backfill's incremental catch-up
    (lambda-backfill/main.py:33-39) lifted from row upserts to a
    derived-view maintenance protocol."""
    raw = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    cut = (
        raw.agg((F.max("doc_id") * 3).cast("long")).first()[0] // 4
    )  # orchestration scalar: the epoch boundary
    # the epoch-1 batch is language-scoped (BATCH_LANGS) so the
    # untouched languages' kept-rows branch actually executes
    docs = raw.where(
        (F.col("doc_id") <= cut) | F.col("lang").isin(*BATCH_LANGS)
    )
    from ..streaming.drill import Drill
    from ..streaming.util import pinned_shuffle_width

    # the whole cadence is ~70 jobs over ≤5000-doc frames (r15 profile:
    # nearly all of them 33-98 task stages at cores-wide shuffle width);
    # the drill width cuts per-job scheduling cost, and every stage is a
    # partition-count-independent agg/join (the dropset gate is a
    # count-based scalar)
    with Drill(spark, "manifestincr") as d, pinned_shuffle_width(spark):
        result = tracked_persist(incremental_manifest(spark, docs, cut, d.dir("t")))
        result.count()  # materialize before the index's backing dir goes away
    return result
