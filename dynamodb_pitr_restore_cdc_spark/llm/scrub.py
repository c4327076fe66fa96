"""Sub-document scrubbing (LLM-data-pipeline extension): paragraph-
level deduplication and PII redaction — the two curation passes that
rewrite document CONTENT rather than dropping whole documents.

Paragraph-level dedup is the Dolma/RefinedWeb step that document-level
dedup (llm/dedup.py) cannot express: boilerplate paragraphs recur
across MOSTLY-DIFFERENT documents, so the whole-doc hash never fires.
The corpus is exploded to paragraph grain, the globally-first copy of
each distinct paragraph wins, and surviving paragraphs are reassembled
in document order.

PII redaction is the standard pre-training scrub (emails, phone
numbers -> typed placeholder tokens). The fixture corpus is synthetic
lowercase words with no real PII, so the query first APPENDS
deterministic doc_id-derived contact strings and then redacts them —
the injection makes the redaction observable and exactly mirrored in
the oracle, while the regex/count/replace plumbing is the production
path. Patterns are kept in the RE2 ∩ java.util.regex common subset so
both engines compile the same automaton.

Everything is built-in JVM expressions (textstats.py discipline):
these passes touch every byte of the corpus, so no Python in the row
path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register, tracked_persist
from ..sources import table

# Paragraph analog for the whitespace-token fixture corpus: fixed
# 10-word blocks (real corpora split on blank lines; the block size
# only changes the explode fan-out, not the algorithm).
BLOCK_WORDS = 10

# Pair-encoding for the first-copy-wins tie-break: doc_id * 2^20 +
# block_idx orders (doc_id, idx) lexicographically as ONE bigint, so
# the winner is a plain min() — no struct comparison needed in either
# engine. Holds while docs stay under 2^20 paragraphs (a 10 MB doc at
# 10-word paragraphs is ~10^5 — two orders of magnitude of headroom).
_PAIR = 1 << 20

EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
PHONE_RE = "\\b[0-9]{3}-[0-9]{4}\\b"


def block_rows(d: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, block_idx, block) grain: the 10-word
    block explode shared by the dedup queries and the skew tests."""
    return d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, int(ceil(size(split(text, ' ')) / {BLOCK_WORDS}.0)) - 1),"
                f" i -> array_join(slice(split(text, ' '), i * {BLOCK_WORDS} + 1, {BLOCK_WORDS}), ' '))"
            )
        ).alias("block_idx", "block"),
    )


@register(
    "q_llm_paragraph_dedup",
    oracle=f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), b AS (
  SELECT doc_id, CAST(i AS BIGINT) AS block_idx,
         array_to_string(w[(i*{BLOCK_WORDS}+1):(i*{BLOCK_WORDS}+{BLOCK_WORDS})], ' ') AS block
  FROM d, UNNEST(range(CAST(ceil(len(w) / {BLOCK_WORDS}.0) AS BIGINT))) AS t(i)
), m AS (
  SELECT doc_id, block_idx, block,
         min(doc_id * {_PAIR} + block_idx) OVER (PARTITION BY block) AS winner
  FROM b
)
SELECT doc_id,
       count(*) AS n_blocks,
       CAST(sum(CASE WHEN doc_id * {_PAIR} + block_idx = winner
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       coalesce(string_agg(CASE WHEN doc_id * {_PAIR} + block_idx = winner
                                THEN block END, ' ' ORDER BY block_idx),
                '') AS dedup_text
FROM m
GROUP BY doc_id
""",
)
def q_llm_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide paragraph-level dedup: split every document into
    10-word blocks, keep only the globally FIRST copy of each distinct
    block (first = smallest (doc_id, block_idx)), and reassemble each
    document from its surviving blocks in order.

    Plan: explode to block grain (map-side, after a compact-row
    rebalance — the corpus parquet is one input split), then the
    winner per distinct block comes from a two-phase hash aggregate
    (partial min per mapper BEFORE the exchange) joined back to the
    block grain, and ONE shuffle on doc_id reassembles. The winner
    tie-break is min() over a single bigint pair-encoding, and
    collect_list skips the non-winning (NULL) blocks before the sort.

    Skew (the viral-paragraph hazard — one boilerplate block repeated
    10^8 times): deliberately NOT a window. min() OVER (PARTITION BY
    block) must colocate every copy of the hot block in one task and
    AQE cannot split a window partition. The aggregate+join shape
    bounds it twice: the partial min pre-reduces the hot block to ONE
    row per map task before any shuffle (reduce-side input is
    O(mappers), proven by the skewed-fixture test), and the join back
    is equi-shaped, so AQE skew-join can split the block-grain probe
    side across tasks (the 1-row winner build side duplicates
    freely). 100 TB: production keys the index by xxhash64(block)
    with 8-byte keys; see SCALE.md for measured counts."""
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    # block grain is referenced by BOTH the winner aggregate and the
    # reassembly join (no cross-branch CSE) — persist the exploded rows
    blocks = tracked_persist(block_rows(d))
    pair = F.col("doc_id") * _PAIR + F.col("block_idx")
    winners = blocks.groupBy("block").agg(F.min(pair).alias("winner"))
    marked = blocks.join(winners, "block").withColumn("keep", pair == F.col("winner"))
    kept_arr = F.array_sort(
        F.collect_list(
            F.when(
                F.col("keep"),
                F.struct(F.col("block_idx").alias("i"), F.col("block").alias("b")),
            )
        )
    )
    return marked.groupBy("doc_id").agg(
        F.count("*").alias("n_blocks"),
        F.sum(F.col("keep").cast("bigint")).alias("n_kept"),
        F.array_join(F.transform(kept_arr, lambda x: x["b"]), " ").alias(
            "dedup_text"
        ),
    )


@register(
    "q_llm_pii_redact",
    oracle=f"""
WITH injected AS (
  SELECT doc_id, lang,
         text
         || CASE WHEN doc_id % 3 <> 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 2 = 0
                 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END AS text
  FROM documents
)
SELECT doc_id, lang,
       CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{PHONE_RE}')) AS BIGINT) AS n_phones,
       regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                      '{PHONE_RE}', '<PHONE>', 'g') AS redacted,
       CAST(length(regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                                  '{PHONE_RE}', '<PHONE>', 'g')) AS BIGINT) AS redacted_len
FROM injected
""",
)
def q_llm_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: count and redact email addresses and phone numbers
    to typed placeholders. The fixture corpus carries no PII, so a
    deterministic doc_id-derived contact suffix is appended first
    (2/3 of docs get an email, 1/2 a phone) — identically in both
    dialects — and then redacted; counts come from the pre-redaction
    text. Map-only: regexp_count + two regexp_replace passes fused
    into the scan projection, zero shuffles at any corpus size.
    Spark regexp_replace is global by default; the DuckDB twin needs
    the explicit 'g' flag — a silent first-match-only divergence
    otherwise (caught by the parity gate)."""
    d = table(spark, sf_dir, "documents")
    injected = d.select(
        "doc_id",
        "lang",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 != 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(""),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.lit(" call 555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(""),
        ).alias("text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), EMAIL_RE, "<EMAIL>"),
        PHONE_RE,
        "<PHONE>",
    )
    return injected.select(
        "doc_id",
        "lang",
        F.regexp_count(F.col("text"), F.lit(EMAIL_RE)).cast("bigint").alias(
            "n_emails"
        ),
        F.regexp_count(F.col("text"), F.lit(PHONE_RE)).cast("bigint").alias(
            "n_phones"
        ),
        redacted.alias("redacted"),
        F.length(redacted).cast("bigint").alias("redacted_len"),
    )


@register(
    "q_stream_paragraph_dedup",
    oracle=f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), b AS (
  SELECT doc_id, CAST(i AS BIGINT) AS block_idx,
         array_to_string(w[(i*{BLOCK_WORDS}+1):(i*{BLOCK_WORDS}+{BLOCK_WORDS})], ' ') AS block
  FROM d, UNNEST(range(CAST(ceil(len(w) / {BLOCK_WORDS}.0) AS BIGINT))) AS t(i)
), firsts AS (
  SELECT block, min(doc_id) AS first_doc FROM b GROUP BY block
)
SELECT b.doc_id,
       count(*) AS n_blocks,
       CAST(sum(CASE WHEN f.first_doc < b.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dup_blocks
FROM b JOIN firsts f ON b.block = f.block
GROUP BY b.doc_id
""",
)
def q_stream_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming paragraph dedup against the static block index — the
    ingestion twin of q_llm_paragraph_dedup (the shape
    q_stream_near_dedup gives doc-level minhash, at paragraph grain
    and exact): documents arrive in micro-batches (3 pinned
    doc_id-range splits); each arriving doc's 10-word blocks are
    joined against the corpus block->first-owner index (min doc_id
    per distinct block, built once and persisted), and the query
    emits how many of the doc's blocks already belong to an EARLIER
    document. Every doc arrives exactly once, so appended per-batch
    outputs union to the batch answer — which is what the oracle
    computes directly. At 100 TB the index is the block vocabulary
    keyed by block (in production: xxhash64(block), 8-byte keys), and
    each micro-batch joins only its own blocks against it."""
    from ..streaming.drill import Drill, read_pinned, run_available_now

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    block_expr = F.posexplode(
        F.expr(
            f"transform(sequence(0, int(ceil(size(split(text, ' ')) / {BLOCK_WORDS}.0)) - 1),"
            f" i -> array_join(slice(split(text, ' '), i * {BLOCK_WORDS} + 1, {BLOCK_WORDS}), ' '))"
        )
    ).alias("block_idx", "block")
    # corpus block -> first owning doc (the static index; referenced by
    # every micro-batch, so persisted once)
    first_owner = tracked_persist(
        docs.select("doc_id", block_expr)
        .groupBy("block")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    first_owner.count()

    row = docs.agg(
        F.expr("percentile(doc_id, 0.3333)").alias("p1"),
        F.expr("percentile(doc_id, 0.6667)").alias("p2"),
    ).first()
    d = F.col("doc_id")

    def dedup_batch(batch: DataFrame, epoch_id: int) -> None:
        blocks = batch.select("doc_id", block_expr)
        (
            blocks.join(first_owner, "block")
            .groupBy("doc_id")
            .agg(
                F.count("*").alias("n_blocks"),
                F.sum((F.col("first_doc") < F.col("doc_id")).cast("bigint")).alias(
                    "n_dup_blocks"
                ),
            )
            .write.mode("append")
            .parquet(out)
        )

    with Drill(spark, "spd") as drill:
        src = drill.splits(docs, [d < row.p1, (d >= row.p1) & (d < row.p2), d >= row.p2])
        out = drill.dir("out")
        run_available_now(
            read_pinned(spark, "doc_id long, text string", src)
            .writeStream.foreachBatch(dedup_batch)
            .option("checkpointLocation", drill.dir("ck"))
        )
        result = tracked_persist(
            spark.read.schema("doc_id long, n_blocks long, n_dup_blocks long").parquet(
                out
            )
        )
        result.count()  # materialize before removing the backing dirs
    return result
