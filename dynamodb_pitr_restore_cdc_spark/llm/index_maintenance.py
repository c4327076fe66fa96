"""Incremental LSH index maintenance under CDC ingest.

The round-3 near-dedup design materializes the MinHash band artifact
once per (session, corpus) and REBUILDS it per corpus — right for a
frozen snapshot, wrong for a living one: at 100 TB a curation pipeline
ingests/edits/retracts documents continuously, and re-signaturing the
whole corpus per batch is the exact rewrite-amplification the CDC
sinks exist to avoid. This module generalizes reference A14's
upsert/delete merge semantics (`lambda-backfill/main.py:33-39`) from
TABLE state to INDEX state:

- the index IS a keyed table behind the sink seam (DeltaLogSink,
  key=doc_id, payload = the 16 LSH band hashes as one array<long>
  row per doc — ~2% of the text it indexes);
- maintenance is O(batch): upserts/removals land through the sink's
  blind-append MOR lane (signatures computed for the BATCH only, one
  Arrow-vectorized pass), never a corpus rescan;
- pair queries read the INDEX (band self-join, candidates only), so a
  stale signature would surface as a wrong pair set — which is exactly
  what the oracle hash-checks;
- the sink's changefeed scopes INCREMENTAL pair refresh: after a
  maintenance window, only pairs touching inserted/updated docs are
  recomputed — a changed-side × index join (small × large, broadcast-
  able) instead of the full self-join.

Scale shape: index updates shuffle O(batch) rows into 32 hash buckets;
pair generation stays the bucketed band join (never all-pairs); the
delta-pair path makes the refresh O(changed · bands) — the property
that keeps continuous dedup viable at 10⁹ documents.

The indexes keep an EXPLICIT 32 buckets rather than the log table's
default (the creating session's shuffle width): an A/B of the
curation workload with the LSH index at 4 buckets was inconclusive,
so the width every index oracle and drill was verified at stays.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register, release_checkpoint, tracked_checkpoint, tracked_persist
from ..sources import table
from ..streaming.delta_log_sink import DeltaLogSink
from ..streaming.drill import Drill
from .dedup import (
    JACCARD_THRESHOLD,
    PAIR_SELECT_SQL,
    band_array,
    band_candidates,
    greedy_drop_set,
    shingle_pair_ctes,
    verify_pairs,
)


class LshIndex:
    """MinHash-LSH band index as a CDC-maintained keyed table.

    Wraps a DeltaLogSink (key=doc_id): `init` folds the starting
    corpus, `upsert`/`remove` are O(batch) blind appends through the
    merge-on-read lane; table maintenance (optimize_plan, compact_mor,
    expire_versions) is the SINK's job — run it on `.sink` directly,
    the index is just a keyed table. Readers (`band_rows`, `pairs`,
    `delta_pairs`) see the folded state — an updated document's OLD
    signature can never leak into a candidate set (the per-key max-seq
    fold guarantees it)."""

    def __init__(self, spark: SparkSession, path: str, n_buckets: int = 32):
        self.spark = spark
        self.sink = DeltaLogSink(spark, path, n_buckets=n_buckets)

    # -- maintenance (all O(batch)) -----------------------------------------

    def init(self, docs: DataFrame, seq: int = 1) -> None:
        self.sink.init(
            band_array(docs).withColumn("last_seq", F.lit(seq).cast("long")),
            key="doc_id",
        )

    def upsert(self, docs: DataFrame, seq: int) -> None:
        """Insert-or-replace signatures for a document batch (new docs
        and edited docs are the same operation — full-image put)."""
        self.sink.append(
            band_array(docs)
            .withColumn("seq_no", F.lit(seq).cast("long"))
            .withColumn("op", F.lit("MODIFY"))
        )

    def remove(self, doc_ids: DataFrame, seq: int) -> None:
        """Retract documents (doc_ids: a one-column `doc_id` frame)."""
        self.sink.append(
            doc_ids.select(
                "doc_id",
                F.lit(seq).cast("long").alias("seq_no"),
                F.lit("REMOVE").alias("op"),
                F.lit(None).cast("array<long>").alias("bands"),
            )
        )

    def version(self) -> int:
        return self.sink.latest_version()

    # -- reads (index state, never a text rescan) ---------------------------

    def band_rows(self) -> DataFrame:
        """(doc_id, band, bucket) exploded from the folded index."""
        return self.sink.visible().select(
            "doc_id", F.posexplode("bands").alias("band", "bucket")
        )

    def _verify(self, cand: DataFrame, corpus: DataFrame) -> DataFrame:
        """Exact-Jaccard verification of candidate pairs against the
        corpus texts (candidates only — the LSH contract); the one
        implementation lives in dedup.verify_pairs."""
        return verify_pairs(cand, corpus)

    def pairs(self, corpus: DataFrame) -> DataFrame:
        """All near-dup pairs per the CURRENT index state: band
        self-join for candidates (dedup.band_candidates — the one
        banded candidate join, unified round 14), exact-Jaccard
        verify. A document updated through `upsert` pairs by its NEW
        signature; a removed document pairs with nothing."""
        bands = tracked_persist(self.band_rows())
        return self._verify(band_candidates(bands, bands), corpus)

    def drop_set(
        self,
        corpus: DataFrame,
        eligible: DataFrame | None = None,
        force_two_phase: bool | None = None,
    ) -> DataFrame:
        """The greedy keep-lowest near-dedup DROP SET over THIS index's
        folded band state — dedup.greedy_drop_set (the one
        implementation: auto-gated two-phase bucket-minimum
        verification, byte-identical to pairs() → doc_b; full design
        note there) applied to band_rows()."""
        return greedy_drop_set(
            self.band_rows(),
            corpus,
            eligible=eligible,
            force_two_phase=force_two_phase,
        )

    def delta_pairs(
        self, v_from: int, corpus: DataFrame, v_to: int | None = None
    ) -> DataFrame:
        """Pairs a downstream consumer must refresh after a maintenance
        window: every current near-dup pair with at least one endpoint
        inserted or updated in (v_from, v_to]. Candidates come from the
        CHANGED side joined against the full index — O(changed · bands)
        shuffle rows, broadcast-able when the window is small, instead
        of the full band self-join. Deletions need no pair compute: the
        feed's DELETE rows are themselves the retraction signal."""
        v_to = self.version() if v_to is None else v_to
        changed = self.sink.changes_between(v_from, v_to).where(
            F.col("change_type") != "DELETE"
        ).select("doc_id")  # the feed's key column carries the table's
        # merge-key name (diff_states key passthrough)
        bands = tracked_persist(self.band_rows())
        changed_bands = bands.join(F.broadcast(changed), "doc_id")
        cand = (
            changed_bands.alias("a")
            .join(
                bands.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.doc_id") != F.col("b.doc_id")),
            )
            .select(
                F.least("a.doc_id", "b.doc_id").alias("doc_a"),
                F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        return self._verify(cand, corpus)


class IvfIndex:
    """IVF (cell-partitioned ANN) index as a CDC-maintained keyed table
    — the frozen-quantizer production shape: the coarse quantizer is
    trained ONCE on the loaded corpus (`init`), later arrivals are
    assigned to cells with the FROZEN centroids in O(batch) blind
    appends, retractions are tombstones, and searches read the folded
    membership (probe cells → candidate rows → exact scoring).
    Retraining the quantizer is an index REBUILD by design (as in
    production IVF systems — centroids drift invalidates every stored
    assignment), so the centroids live with the instance, not the log."""

    K = 8
    ITERS = 3
    NPROBE = 3

    def __init__(self, spark: SparkSession, path: str, n_buckets: int = 32):
        self.spark = spark
        self.sink = DeltaLogSink(spark, path, n_buckets=n_buckets)
        self._cells: list | None = None

    def _quantizer_path(self) -> str:
        return os.path.join(self.sink.path, "quantizer")

    def _centroids(self) -> list:
        """The frozen centroids, on the driver (kmeans.Cells) — persisted
        at init next to the log so a FRESH handle (or a later session)
        can still maintain and search the durable index; a never-trained
        index fails loudly instead of assigning against nothing."""
        if self._cells is None:
            from .kmeans import centroid_cells

            p = self._quantizer_path()
            if not os.path.isdir(p):
                raise ValueError(
                    f"no trained quantizer at {p}: init() trains it; "
                    f"retraining is an index REBUILD by design"
                )
            self._cells = centroid_cells(self.spark.read.parquet(p))
        return self._cells

    def init(self, vectors: DataFrame, seq: int = 1) -> None:
        """Train the quantizer on `vectors` (vec_id, qv — must contain
        vec_id 1..K, the deterministic seeds), persist it beside the
        log, and fold the cell assignments as the starting state. The
        vectors are checkpointed once for the seed read, every update
        and the assignment, and released after the fold."""
        from .kmeans import _assign, centroid_cells, kmeans_centroids

        vectors = tracked_checkpoint(vectors)
        cents = kmeans_centroids(vectors, k=self.K, iters=self.ITERS)
        cents.write.mode("overwrite").parquet(self._quantizer_path())
        self._cells = centroid_cells(cents)
        self.sink.init(
            _assign(vectors, self._cells)
            .select("vec_id", "cid")
            .withColumn("last_seq", F.lit(seq).cast("long")),
            key="vec_id",
        )
        release_checkpoint(vectors)

    def upsert(self, vectors: DataFrame, seq: int) -> None:
        """Assign a batch with the FROZEN centroids and blind-append —
        O(batch): the quantizer never rescans the corpus."""
        from .kmeans import _assign

        self.sink.append(
            _assign(vectors, self._centroids())
            .select("vec_id", "cid")
            .withColumn("seq_no", F.lit(seq).cast("long"))
            .withColumn("op", F.lit("MODIFY"))
        )

    def remove(self, vec_ids: DataFrame, seq: int) -> None:
        self.sink.append(
            vec_ids.select(
                "vec_id",
                F.lit(seq).cast("long").alias("seq_no"),
                F.lit("REMOVE").alias("op"),
                F.lit(None).cast("long").alias("cid"),
            )
        )

    def search(self, probe_q: DataFrame, floats: DataFrame, probe_id: int) -> DataFrame:
        """Top-5 cosine ANN over the CURRENT index state: the probe's
        NPROBE nearest frozen cells (the map-side kernel, in its row),
        read only those cells' members from the folded index, score
        candidates exactly against the float embeddings — the shared
        probe tail (similarity.ivf_probe_topk, one implementation with
        q_llm_ann_ivf)."""
        from .kmeans import nearest_cells
        from .similarity import ivf_probe_topk

        probe = probe_q.select(
            F.explode(nearest_cells(self._centroids(), self.NPROBE)).alias("cid")
        ).crossJoin(
            floats.where(F.col("vec_id") == probe_id).select(F.col("v").alias("pv"))
        )
        members = self.sink.visible().select("vec_id", "cid").join(floats, "vec_id")
        return ivf_probe_topk(members, probe)


# ---------------------------------------------------------------------------
# the maintenance drill both registered queries share
# ---------------------------------------------------------------------------

# Deterministic corpus-lifecycle arithmetic, mirrored verbatim in the
# oracles: two-thirds init, one-third late ingest, every doc_id%10==3
# edited to carry its predecessor's text (creating exact near-dups the
# index MUST re-pair under the new signature), every doc_id%17==5
# retracted.
_UPSERT_MOD = 3   # doc_id % 3 == 2 arrives late
_EDIT_MOD = 10    # doc_id % 10 == 3 takes text of doc_id - 1
_REMOVE_MOD = 17  # doc_id % 17 == 5 is retracted

_FINAL_CORPUS_SQL = f"""
raw AS (SELECT doc_id, text FROM documents),
fin AS (
    SELECT r.doc_id, COALESCE(p.text, r.text) AS text
    FROM raw r
    LEFT JOIN raw p
      ON r.doc_id % {_EDIT_MOD} = 3 AND p.doc_id = r.doc_id - 1
    WHERE r.doc_id % {_REMOVE_MOD} <> 5
)"""

# truth pairs over the final corpus: the SHARED shingle-Jaccard
# template (dedup.shingle_pair_ctes — one text with q_llm_near_dedup)
_PAIRS_SQL = shingle_pair_ctes("fin")


def ivf_maintenance_oracle() -> str:
    """Shared truth for the IVF maintenance lifecycle: quantizer
    trained on the first two-thirds (prefix-trained unrolled integer
    Lloyd), every live (non-retracted) vector assigned against it,
    probed cells brute-forced. ONE text for the batch drill and its
    streaming ingest twin — the two lifecycles must answer
    identically."""
    from .kmeans import lloyd_oracle_ctes
    from .similarity import ivf_probe_tail_sql

    live_members_rel = (
        "(SELECT asg.vec_id, asg.cid FROM asg JOIN live USING (vec_id))"
    )
    return f"""
WITH pmax AS (SELECT (2 * max(vec_id)) // 3 AS c2 FROM embeddings),
{lloyd_oracle_ctes(str(IvfIndex.K), IvfIndex.ITERS,
                   train_cond="vec_id <= (SELECT c2 FROM pmax)")},
live AS (SELECT vec_id FROM embeddings WHERE vec_id % {_REMOVE_MOD} <> 5),
{ivf_probe_tail_sql(live_members_rel, IvfIndex.NPROBE)}
"""


def _run_maintenance(
    spark: SparkSession, sf_dir: str, path: str, mid_hook=None
) -> tuple[LshIndex, DataFrame, int]:
    """init → late ingest → edits → [mid_hook(idx)] → retractions of an
    index at `path`; returns (index, final corpus frame, index version
    after init). ``mid_hook`` runs BETWEEN upsert epochs — the seam
    where table maintenance on the index state happens in production
    (the compaction-under-query drill injects optimize_plan →
    compact_mor there)."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = LshIndex(spark, path)
    edited = (
        docs.where(F.col("doc_id") % _EDIT_MOD == 3)
        .alias("r")
        .join(
            docs.selectExpr("doc_id + 1 AS doc_id", "text AS p_text").alias("p"),
            "doc_id",
        )
        .select("doc_id", F.col("p_text").alias("text"))
    )
    # NO drill-width pin on the maintenance epochs: the signature UDF
    # keeps its own defaultParallelism fan-out inside band_array, and
    # the r16 idle-32 A/B read the pinned epochs SLOWER (18.08 s vs
    # 15.98 s unpinned; compaction/delta-pairs flat) — the r15 pin's
    # win existed only under co-tenant load
    idx.init(docs.where(F.col("doc_id") % _UPSERT_MOD != 2), seq=1)
    v0 = idx.version()
    idx.upsert(docs.where(F.col("doc_id") % _UPSERT_MOD == 2), seq=2)
    idx.upsert(edited, seq=3)
    if mid_hook is not None:
        mid_hook(idx)
    idx.remove(
        docs.where(F.col("doc_id") % _REMOVE_MOD == 5).select("doc_id"), seq=4
    )
    # the corpus as the index should now see it (edits applied from the
    # pre-retraction texts, retractions last — same order as the seqs)
    raw = docs
    partner = raw.selectExpr("doc_id + 1 AS doc_id", "text AS p_text")
    final = (
        raw.join(partner, "doc_id", "left")
        .withColumn(
            "text",
            F.when(
                (F.col("doc_id") % _EDIT_MOD == 3) & F.col("p_text").isNotNull(),
                F.col("p_text"),
            ).otherwise(F.col("text")),
        )
        .where(F.col("doc_id") % _REMOVE_MOD != 5)
        .select("doc_id", "text")
    )
    # _verify joins the corpus twice (doc_a and doc_b sides — no
    # cross-branch CSE), so the edit-application join must not rebuild
    # per branch; released by the harness via release_persisted()
    return idx, tracked_persist(final), v0


def _register() -> None:
    @register(
        "q_llm_lsh_index_maintenance",
        oracle=f"""
WITH {_FINAL_CORPUS_SQL},
{_PAIRS_SQL}
{PAIR_SELECT_SQL}
""",
    )
    def q_llm_lsh_index_maintenance(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """The LSH index as CDC-maintained state, end to end under one
        oracle hash: init on two-thirds of the corpus, late-ingest the
        rest, EDIT every doc_id%10==3 to its predecessor's text (the
        index must re-pair them under the new signature — a stale
        band row would miss the planted exact dups), retract every
        doc_id%17==5 (their pairs must vanish), then answer the
        near-dup pair query FROM THE INDEX (band self-join + exact
        verify — never a corpus re-signature). The oracle recomputes
        truth by brute-force shingle Jaccard over the same final
        corpus arithmetic. Maintenance cost is O(batch) per step
        (sink blind-append lane); the signature UDF runs once per
        INGESTED row, which is the property that keeps continuous
        dedup viable at 10⁹ docs."""
        with Drill(spark, "lshidx") as d:
            idx, final, _v0 = _run_maintenance(spark, sf_dir, d.dir("t"))
            result = tracked_persist(idx.pairs(final))
            result.count()  # materialize before the backing dirs go away
        return result

    from .similarity import PROBE_VEC_ID

    @register(
        "q_llm_ivf_index_maintenance",
        oracle=ivf_maintenance_oracle(),
    )
    def q_llm_ivf_index_maintenance(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """The IVF ANN index as CDC-maintained state — the LSH drill's
        sibling for embedding search (round-9 verdict named both):
        train the coarse quantizer on the first two-thirds of the
        corpus (frozen from then on — the production cadence; retrain =
        rebuild), blind-append the late third's cell assignments in
        O(batch), retract every vec_id%17==5, then answer the probe's
        top-5 ANN FROM THE INDEX (3 of 8 cells read). The oracle
        re-derives the frozen quantizer with the unrolled integer Lloyd
        chain TRAINED ON THE SAME PREFIX (lloyd_oracle_ctes train_cond
        — later arrivals must not perturb the centroids), assigns every
        live vector against it, and brute-forces the probed cells.
        A stale assignment (an upsert folded against retrained
        centroids, or a removal leaking back) would change the
        candidate set and break the hash."""
        from .kmeans import _quantized

        q = _quantized(spark, sf_dir)
        mx = q.agg(F.max("vec_id")).first()[0]  # orchestration scalar
        c2 = (2 * int(mx)) // 3
        with Drill(spark, "ivfidx") as d:
            idx = IvfIndex(spark, d.dir("t"))
            # NO width pin: init trains the coarse quantizer (Lloyd
            # iterations — real compute; r16 idle-32 A/B: pinned 9.70 s vs
            # session width 7.86 s)
            idx.init(q.where(F.col("vec_id") <= c2), seq=1)
            idx.upsert(q.where(F.col("vec_id") > c2), seq=2)
            idx.remove(
                q.where(F.col("vec_id") % _REMOVE_MOD == 5).select("vec_id"), seq=3
            )
            from .similarity import _as_double

            floats = table(spark, sf_dir, "embeddings").select(
                "vec_id", _as_double("embedding").alias("v")
            )
            result = tracked_persist(
                idx.search(
                    q.where(F.col("vec_id") == PROBE_VEC_ID), floats, PROBE_VEC_ID
                )
            )
            result.count()  # materialize before the backing dirs go away
        return result

    @register(
        "q_llm_lsh_index_delta_pairs",
        oracle=f"""
WITH {_FINAL_CORPUS_SQL},
{_PAIRS_SQL},
changed AS (
    -- mirrors the engine's maintenance exactly: the late-ingest third,
    -- plus edited docs — which the engine only upserts when the
    -- predecessor EXISTS (inner join in _run_maintenance), so the
    -- arithmetic alone would over-count on sparse doc_id fixtures
    SELECT r.doc_id FROM raw r
    WHERE (r.doc_id % {_UPSERT_MOD} = 2
           OR (r.doc_id % {_EDIT_MOD} = 3
               AND EXISTS (SELECT 1 FROM raw p WHERE p.doc_id = r.doc_id - 1)))
      AND r.doc_id % {_REMOVE_MOD} <> 5
)
SELECT doc_a, doc_b, j_milli / 1000.0 AS jaccard
FROM jp
WHERE j_milli >= {int(JACCARD_THRESHOLD * 1000)}
  AND (doc_a IN (SELECT doc_id FROM changed)
       OR doc_b IN (SELECT doc_id FROM changed))
""",
    )
    def q_llm_lsh_index_delta_pairs(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Incremental pair refresh scoped by the index's CHANGEFEED:
        after the same maintenance window, recompute only pairs with an
        endpoint the feed reports inserted/updated — the changed-side ×
        index band join (O(changed · bands), broadcast changed side)
        instead of the full self-join. The oracle derives the same
        changed set from the lifecycle arithmetic and filters the
        brute-force truth to pairs touching it. Deletions are excluded
        by both sides: the feed's DELETE rows are the retraction
        signal, no pair compute needed."""
        with Drill(spark, "lshidx") as d:
            idx, final, v0 = _run_maintenance(spark, sf_dir, d.dir("t"))
            result = tracked_persist(idx.delta_pairs(v0, final))
            result.count()  # materialize before the backing dirs go away
        return result

    @register(
        "q_llm_lsh_index_compaction",
        oracle=f"""
WITH {_FINAL_CORPUS_SQL},
{_PAIRS_SQL}
{PAIR_SELECT_SQL}
""",
    )
    def q_llm_lsh_index_compaction(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Compaction-under-query (round-10 verdict item 5): the index
        sink accumulates merge-on-read debt like any table, and table
        maintenance must be invisible to index READERS. Same lifecycle
        as q_llm_lsh_index_maintenance, but MID-lifecycle — after the
        edit epoch, before the retractions — the sink's own policy runs
        for real: optimize_plan prices the two pending delta files per
        touched bucket, compact_mor folds the selected buckets into
        rewritten base files. The retraction epoch then lands ON TOP of
        the compacted state, and the pair query answers from the mixed
        layout (compacted base + one pending tombstone delta). The
        oracle is byte-identical to the no-maintenance drill — physical
        layout must never leak into answers."""

        def compact(idx: LshIndex) -> None:
            plan = idx.sink.optimize_plan(
                small_file_rows=1_000_000, min_small_files=2, tombstone_pct=15
            ).collect()  # ≤ n_buckets rows: orchestration, not data
            to_compact = {r.bucket for r in plan if r.decision == "COMPACT"}
            # the late-ingest + edit epochs put 2 pending files in every
            # bucket both touched — an empty selection means the drill
            # exercised nothing; fail loudly rather than pass vacuously
            assert to_compact, "fixture must trip the small-file fan-in rule"
            idx.sink.compact_mor(to_compact)

        with Drill(spark, "lshidx") as d:
            idx, final, _v0 = _run_maintenance(
                spark, sf_dir, d.dir("t"), mid_hook=compact
            )
            result = tracked_persist(idx.pairs(final))
            result.count()  # materialize before the backing dirs go away
        return result


_register()
