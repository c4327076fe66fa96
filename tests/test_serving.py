"""Filtered batched ANN serving (round 12, unregistered until round 13
— the driver window was exactly full; see llm/serving.py docstring).

Proves today what registration will prove through the driver next
round: oracle parity, the pushed-predicate plan shape, the measured
candidate reduction, and filtered-then-scored ≡ scored-then-filtered.
"""

import pytest
from pyspark.sql import functions as F

from dynamodb_pitr_restore_cdc_spark.llm import serving
from dynamodb_pitr_restore_cdc_spark.plans.explain import (
    executed_metrics_by_node,
    has_broadcast_join,
    plan_string,
)
from tests.parity import assert_parity, run_oracle


def test_filtered_serving_oracle_parity(spark, sf_dir):
    """The exact check the driver will run in round 13."""
    got = serving.filtered_multiprobe(spark, sf_dir)
    want = run_oracle(serving.FILTERED_SERVING_ORACLE, sf_dir)
    assert_parity(got, want, "q_llm_ann_ivf_filtered")


def test_filtered_serving_prunes_the_index_scan(spark, sf_dir):
    """The serving predicate must land in the index scan's
    PartitionFilters (directory skipping — scan-time, before any
    cosine), the probe plan must broadcast, and the scan must emit only
    the predicate's survivors, never the full inverted lists."""
    df = serving.filtered_multiprobe(spark, sf_dir)
    p = plan_string(df)
    assert "PartitionFilters" in p
    seg = next(
        line for line in p.splitlines() if "PartitionFilters" in line and "label" in line
    )
    assert f"= {serving.SERVE_LABEL})" in seg, seg
    assert has_broadcast_join(p)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # measured reduction, from the EXECUTED plan: the partitioned index
    # scan (the only scan carrying partition-pruning metrics) must skip
    # files (numFiles < staticFilesNum — directories the predicate
    # pruned were never opened) and emit only the label slice
    df.collect()
    n_total = serving.filtered_index(spark, sf_dir).count()
    n_label = (
        serving.filtered_index(spark, sf_dir)
        .where(F.col("label") == serving.SERVE_LABEL)
        .count()
    )
    assert 0 < n_label < n_total / 3, (n_label, n_total)
    # per-node metric dicts with STRUCTURAL boundaries — consecutive
    # same-named nodes stay separate (round-12 advice)
    nodes = executed_metrics_by_node(df)
    part_scans = [
        m
        for name, m in nodes
        if name.startswith("Scan parquet") and "numPartitions" in m
    ]
    assert part_scans, "no partitioned index scan in the executed plan"
    idx_scan = part_scans[0]
    # directory-level skip: the scan opened only the label slice's
    # (cid, label) partitions, a fraction of the index's directories...
    n_dirs = (
        serving.filtered_index(spark, sf_dir)
        .select("cid", "label")
        .distinct()
        .count()
    )
    assert idx_scan["numPartitions"] < n_dirs / 3, (idx_scan, n_dirs)
    # ...and emitted exactly the label slice of the probed cells, never
    # the full lists: dynamic partition pruning on cid (the broadcast
    # probe plan's cells) skips the unprobed cells' label directories
    probed = [
        r.cid
        for r in serving.multiprobe_plan(spark, sf_dir).select("cid").distinct().collect()
    ]
    n_probed = (
        serving.filtered_index(spark, sf_dir)
        .where((F.col("label") == serving.SERVE_LABEL) & F.col("cid").isin(probed))
        .count()
    )
    assert 0 < n_probed <= n_label
    assert idx_scan["numOutputRows"] == n_probed, (idx_scan, n_probed)


def test_filtered_equals_post_filtered(spark, sf_dir):
    """Pushing the predicate below the scorer changes WHERE rows are
    dropped, never WHICH answers come back: top-k over the filtered
    candidates must equal filter-after-score + re-rank on the SAME
    unfiltered multiprobe candidate set (both lanes share
    serving.multiprobe_plan / probe_topk, so they answer the identical
    query batch by construction)."""
    from dynamodb_pitr_restore_cdc_spark.llm.similarity import cosine_col

    fast = sorted(
        map(tuple, serving.filtered_multiprobe(spark, sf_dir).collect())
    )
    # naive lane: score EVERYTHING in the probed cells, filter after
    plan = serving.multiprobe_plan(spark, sf_dir)
    members = serving.filtered_index(spark, sf_dir)  # NO predicate
    cand = (
        members.join(F.broadcast(plan), "cid")
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            "label",
            cosine_col(F.col("v"), F.col("pv")).alias("cos"),
        )
    )
    naive = sorted(
        map(
            tuple,
            serving.probe_topk(
                cand.where(F.col("label") == serving.SERVE_LABEL)
            ).collect(),
        )
    )
    assert fast == naive and fast


def test_r13_registration_obligation():
    """Round-12's window had zero free slots (45 age-5 rotations + 4
    reverifies + the incremental-manifest query), so
    q_llm_ann_ivf_filtered shipped driver-ready but unregistered, with
    this test as the obligation that tripped once round 12's driver
    evidence was recorded.  Round 13 registered it; the checks stay
    unconditional so the registration cannot silently regress."""
    import inspect

    import dynamodb_pitr_restore_cdc_spark.registry as R

    R.all_queries()
    assert "q_llm_ann_ivf_filtered" in R._REGISTRY, (
        "round 13 is here: register q_llm_ann_ivf_filtered "
        "(llm/serving.py — builder and oracle are driver-ready, "
        "seed it as one of this round's fresh queries)"
    )
    # ...and reachable through all_queries()'s OWN import list —
    # this test module imports llm.serving itself, so checking
    # _REGISTRY alone would pass even if the driver process (which
    # imports only via all_queries) never sees the query
    assert "serving" in inspect.getsource(R.all_queries), (
        "q_llm_ann_ivf_filtered is registered but llm.serving is "
        "missing from all_queries()'s import list — the driver "
        "would silently skip it"
    )
