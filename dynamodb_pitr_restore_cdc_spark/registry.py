"""Query registry: one named entry per operator in SURVEY.md §2B.

Each query is a (builder, oracle_sql) pair registered at import time.
`builder(spark, sf_dir) -> DataFrame` is the Spark-native
implementation; `oracle` is the DuckDB-equivalent ANSI SQL (None for
ops that aren't cleanly SQL-expressible — the driver then records a
rows-only check).

Discipline (SURVEY.md §5.2): every computed column is aliased
identically in both dialects; float aggregates are round(_, 2)-ed on
both sides; timestamps leave the engine as epoch-microsecond BIGINTs
(`unix_micros` / `epoch_us`) so value-hashes are representation-stable.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from . import evidence

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None  # DuckDB SQL twin; None => rows-only check


_REGISTRY: dict[str, QuerySpec] = {}

# DataFrames persisted inside builders (justified per-site by the
# no-cross-branch-CSE rule). Builders return lazy plans, so the builder
# itself can never unpersist; harnesses call release_persisted() after
# consuming a result so long-lived sessions (bench, parity suite,
# driver rounds) don't accumulate cached RDDs until LRU eviction.
_TRACKED_PERSISTS: list[DataFrame] = []


def tracked_persist(df: DataFrame) -> DataFrame:
    """persist() + record for a later release_persisted()."""
    df = df.persist()
    _TRACKED_PERSISTS.append(df)
    return df


# (df, [JavaRDD handles]) per tracked checkpoint — the df reference
# keeps identity stable for release_checkpoint(df)
_TRACKED_CHECKPOINTS: list = []


def tracked_checkpoint(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint() + record for a later release.

    For iterative builders whose plans would otherwise grow per
    iteration (persist caches data but never truncates the logical
    plan): the checkpoint cuts lineage, and tracking it keeps the
    release contract identical to tracked_persist — the caller must
    consume the result before release_persisted(), since a released
    checkpoint cannot recompute.

    DataFrame.unpersist() cannot free a local checkpoint (the blocks
    are an RDD-level persist, not a CacheManager entry), so the newly
    persisted RDD handles are captured by diffing the context's
    persistent-RDD map around the checkpoint (builders are
    single-threaded, so the diff is exact) and released at the RDD
    level — either early via release_checkpoint(df) for superseded
    iteration state, or at release_persisted()."""
    jsc = df.sparkSession.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    df = df.localCheckpoint(eager=True)
    jmap = jsc.getPersistentRDDs()
    handles = [
        jmap.get(rid) for rid in jmap.keySet().toArray() if rid not in before
    ]
    _TRACKED_CHECKPOINTS.append((df, handles))
    return df


def release_checkpoint(df: DataFrame) -> None:
    """Free ONE tracked checkpoint's blocks early — for iteration state
    that has been superseded and will never be referenced again."""
    for i, (d, handles) in enumerate(_TRACKED_CHECKPOINTS):
        if d is df:
            for h in handles:
                try:
                    h.unpersist()
                except Exception:
                    pass
            _TRACKED_CHECKPOINTS.pop(i)
            return


def release_persisted() -> None:
    """Unpersist every builder-persisted DataFrame recorded so far."""
    while _TRACKED_PERSISTS:
        try:
            _TRACKED_PERSISTS.pop().unpersist()
        except Exception:
            pass  # session may already be gone; releasing is best-effort
    while _TRACKED_CHECKPOINTS:
        _, handles = _TRACKED_CHECKPOINTS.pop()
        for h in handles:
            try:
                h.unpersist()
            except Exception:
                pass


_SIBLING_ROOTS_SWEPT = False


def pid_scoped_root(tag: str) -> str:
    """Per-process tmp artifact root ``spark_cdc_engine_<tag>-<pid>``.

    Pid-scoping (round 11) stops a second process's atexit from
    rmtree-ing a root this process is mid-read on; the cost is that a
    SIGKILL'd or crashed process skips atexit and leaves its sf-scale
    parquet behind forever.  So the first call in a process also
    sweeps SIBLING roots whose owning pid is no longer alive
    (``os.kill(pid, 0)`` probe — EPERM counts as alive, and a reused
    pid just defers the sweep to a later process; round-12 advice).
    Registers an atexit rmtree for the returned root."""
    import atexit
    import errno
    import re
    import shutil
    import tempfile

    global _SIBLING_ROOTS_SWEPT
    tmp = tempfile.gettempdir()
    if not _SIBLING_ROOTS_SWEPT:
        _SIBLING_ROOTS_SWEPT = True
        for entry in os.listdir(tmp):
            m = re.fullmatch(r"spark_cdc_engine_\w+-(\d+)", entry)
            if not m or int(m.group(1)) == os.getpid():
                continue
            try:
                os.kill(int(m.group(1)), 0)
            except OSError as e:
                if e.errno == errno.ESRCH:  # owner is gone: crash debris
                    shutil.rmtree(os.path.join(tmp, entry), ignore_errors=True)
            except OverflowError:
                # a foreign/malformed dirname whose digits exceed pid_t
                # (os.kill raises OverflowError, not OSError) — this
                # sweep runs at import on a SHARED host /tmp, so one
                # such entry must never crash every engine import
                # (round-12 advice); not ours, leave it alone
                continue
    root = os.path.join(tmp, f"spark_cdc_engine_{tag}-{os.getpid()}")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def register(name: str, oracle: str | None = None) -> Callable[[Builder], Builder]:
    def deco(fn: Builder) -> Builder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query registration: {name}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle)
        return fn

    return deco


# Driver re-verification seeds: query -> the last driver round run
# before its executed code or oracle text changed.  all_queries() fronts
# a seed while the query's newest verifying driver row is no newer than
# that round; the seed lapses by itself once a later round verifies the
# query, so recording a driver round needs no edit here.  A seed is owed
# whenever a query's builder or oracle text, or the machinery it
# executes, changes (CLAUDE.md); the local parity suite is otherwise
# its only guard.
REVERIFY_SEEDS: dict[str, int] = {
    # The Delta/Iceberg fold, schema-evolution and optimize-plan drills:
    # their bucket files go through the one bucket writer
    # (table_files.repartition_by_bucket) and their commits through the
    # one log-table commit core, whose drill bodies they now share.
    "q_cdc_delta_log_fold": 16,
    "q_cdc_delta_schema_evolution": 16,
    "q_cdc_optimize_plan": 16,
    "q_cdc_iceberg_log_fold": 16,
    "q_cdc_iceberg_mor_fold": 16,
    "q_cdc_iceberg_schema_evolution": 16,
    "q_cdc_iceberg_optimize_plan": 16,
    # The other sink write sites moved onto the one bucket writer:
    # versioned sink and corpus builds.
    "q_stream_versioned_sink": 16,
    "q_llm_corpus_build": 16,
    "q_stream_corpus_build": 16,
    # The paper's replay commits through the log-table core: the
    # foreachBatch drain (epoch-identified MERGE) and the bucketed-sink
    # drills (a 16-bucket DeltaLogSink).
    "q_stream_foreachbatch_cdc": 16,
    "q_cdc_bucketed_sink": 16,
    "q_cdc_sink_compaction": 16,
    # The LSH/IVF index drills: their index tables are DeltaLogSinks
    # (bucket writer, commit core), and IvfIndex trains on the
    # nearest-cell kernel.
    "q_stream_lsh_index_ingest": 16,
    "q_stream_ivf_index_ingest": 16,
    "q_llm_lsh_index_maintenance": 16,
    "q_llm_ivf_index_maintenance": 16,
    "q_llm_lsh_index_delta_pairs": 16,
    "q_llm_lsh_index_compaction": 16,
    # The MOR ingest drills: append, optimize_plan and compact_mor run
    # through the commit core.
    "q_stream_mor_ingest": 16,
    "q_stream_mor_ingest_iceberg": 16,
    # RedriveStore.kept_snapshot took the clone and read out of the
    # builder.
    "q_cdc_dlq_redrive": 16,
    # Every IVF/PQ quantizer path runs the Arrow-batched exact-integer
    # nearest-cell kernel (assignment, ranking, Lloyd and PQ codebook
    # updates), and probes quantize their own scan rows.
    "q_llm_ann_ivf": 16,
    "q_llm_kmeans": 16,
    "q_llm_ann_ivf_multiprobe": 16,
    "q_llm_ann_ivf_filtered": 16,
    "q_llm_embed_neardup": 16,
    "q_llm_ann_recall": 16,
    "q_stream_semantic_neardup": 16,
    "q_llm_ann_ivfadc": 16,
    "q_llm_ann_ivfpq_residual": 16,
    "q_llm_ann_pq": 16,
    # The space-saving summary is read back with its schema.
    "q_stream_heavy_hitters": 16,
    # A log table built without a width takes its creating session's
    # shuffle width: this drill's table now inits at its 4-wide pin
    # instead of 32 buckets.
    "q_stream_schema_evolution": 16,
}


def all_queries() -> dict[str, QuerySpec]:
    """Import all operator modules (side-effect: registration) and return the registry.

    Returned dict order is evidence.rotation over the committed
    CORRECTNESS_r*.json files and REVERIFY_SEEDS (the driver evaluates
    in dict order and keeps only a ~50-entry window, so ordering IS the
    coverage policy): never-verified oracled queries, then active
    seeds, then every other oracled query oldest evidence first, then
    rows-only entries.

    Trade-off, documented per round-2 advice: queries past the window
    are NOT re-checked by the driver, so a regression there would only
    be caught by the local parity suite (tests/test_oracle_parity.py),
    which therefore stays mandatory before every round snapshot.
    """
    from .operators import (  # noqa: F401
        aggregates,
        behavior,
        cdc,
        envelope,
        joins,
        layout,
        reshape,
        scans,
        setops,
        skew,
        timeseries,
        windows,
        workloads,
        workloads2,
    )
    from .functions import maps, scalar, scalar2  # noqa: F401
    from .llm import (  # noqa: F401
        clusters,
        corpus_build,
        curation,
        dedup,
        index_maintenance,
        kmeans,
        manifest_maintenance,
        multimodal,
        pq,
        retrieval,
        scrub,
        serving,
        similarity,
        textstats,
    )
    from .streaming import (  # noqa: F401
        control,
        delta_log_sink,
        iceberg_log_sink,
        redrive,
        stateful,
        stream_queries,
        twins,
        versioned_sink,
    )

    order = evidence.rotation(_REGISTRY, REVERIFY_SEEDS, evidence.EVIDENCE_DIR)
    return {n: _REGISTRY[n] for n in order}
