"""restore_replay: the paper's path, then reads of what it produced.

A restored table plus its buffered, ordered changelog are
reconstructed micro-batch by micro-batch, and the versions each
micro-batch committed are read back as of a point in time.

Per pass, outside the clock: generate a fresh changelog, then the
set-up -- fold the restored part with ``operators.cdc.fold_changelog``
and ``init`` it into a ``DeltaLogSink`` and an ``IcebergLogSink``
(timed as ``setup_s``, the generation excluded). On the clock:

1. replay -- stream the buffered splits through ``read_changelog_stream``
   -> ``split_dlq`` -> ``foreachBatch`` -> ``apply_batch``, once per sink;
   every micro-batch commits one version;
2. reads -- a seeded mix over those versions of both sinks: as-of reads
   (``snapshot(v)`` materialized), point lookups as of a version and
   ``changes_between(v1, v2)`` feeds.

After the clock every read is checked against DuckDB folds of the
changelog prefix its version holds, and each sink's final ``visible()``
against the fold of the whole changelog.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from dynamodb_pitr_restore_cdc_spark.operators.cdc import fold_changelog, visible
from dynamodb_pitr_restore_cdc_spark.streaming.cdc_stream import (
    read_changelog_stream,
    split_dlq,
)
from dynamodb_pitr_restore_cdc_spark.streaming.delta_log_sink import DeltaLogSink
from dynamodb_pitr_restore_cdc_spark.streaming.iceberg_log_sink import IcebergLogSink

import gen
from harness import CHANGE_COLS, Ctx, Result, p50, p50_per_format, p90

# The warm-up pass has this same shape: it pays the session's first-use
# costs (JIT, code generation, first stream) on the very plans the timed
# passes run. With a smaller warm-up the first timed pass ran ~30%
# slower than the later ones, and the metrics then hung on how many
# passes a run happened to fit.
SPEC = gen.ChangelogSpec()
# (layer name, sink class, metadata dir, metadata-bytes metric)
FORMATS = (("delta_log_sink", DeltaLogSink, "_delta_log", "log_bytes"),
           ("iceberg_log_sink", IcebergLogSink, "metadata", "meta_bytes"))
# read kinds in a fixed cycle per format (formats alternate), so every
# kind x format pair occurs in each pass's READS reads
READ_CYCLE = ("asof", "asof", "lookup", "asof", "changes", "asof", "lookup", "asof")
READS = len(FORMATS) * len(READ_CYCLE)
SPAN = {"asof": "snapshot", "lookup": "lookup", "changes": "changes"}
LIVE = ("key", "last_seq", "payload_value")


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) of the regular files below ``path``, ignoring
    Hadoop .crc sidecars."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".crc"):
                continue
            n += 1
            size += os.path.getsize(os.path.join(d, f))
    return n, size


def footprint(table_dir: str, meta_dir: str) -> tuple[int, int, int]:
    """(data files, data bytes, metadata bytes) of a table on disk."""
    n_all, b_all = dir_stats(table_dir)
    n_meta, b_meta = dir_stats(os.path.join(table_dir, meta_dir))
    return n_all - n_meta, b_all - b_meta, b_meta


def write_layers(tracer, footprints: dict) -> dict:
    """Per-format write-side metrics: apply_batch time and the Spark
    work per call, and the table's on-disk footprint."""
    out = {}
    for layer, _, _, meta_metric in FORMATS:
        span = f"{layer}.apply_batch"
        files, data_bytes, meta_bytes = footprints[layer]
        out.update({
            f"{layer}.apply_s": tracer.p50(span),
            f"{layer}.apply_jobs": tracer.per_call(span, "jobs"),
            f"{layer}.apply_stages": tracer.per_call(span, "stages"),
            f"{layer}.apply_tasks": tracer.per_call(span, "tasks"),
            f"{layer}.files_written": files,
            f"{layer}.bytes_written": data_bytes,
            f"{layer}.{meta_metric}": meta_bytes,
        })
    return out


def restore(ctx: Ctx, d: str, restored: str) -> dict:
    """Fold the restored changelog and init one sink per format from it."""
    spark, tr = ctx.spark, ctx.tracer
    snap = fold_changelog(spark.read.parquet(restored).select(*CHANGE_COLS))
    if tr.enabled:
        # the fold is lazy and runs inside each init; the traced run
        # also times it once on its own
        with tr.span("operators.cdc.fold_changelog", jobs=True):
            snap.write.format("noop").mode("overwrite").save()
    sinks = {}
    for layer, cls, _, _ in FORMATS:
        sinks[layer] = cls(spark, os.path.join(d, layer))
        with tr.span(f"{layer}.init"):
            sinks[layer].init(snap)
    return sinks


def replay(ctx: Ctx, layer: str, sink, src: str, ck: str, count_jobs: bool) -> list[dict]:
    """Drain ``src`` into ``sink`` through the changelog stream; returns
    the stream's per-batch progress. The query is stopped in a finally,
    so a failing batch never leaves an active stream behind."""
    tr = ctx.tracer

    def apply(batch, _epoch):
        with tr.span(f"{layer}.apply_batch", jobs=count_jobs):
            sink.apply_batch(batch.select(*CHANGE_COLS))

    with tr.span("cdc_stream.read_changelog_stream"):
        ok, _dlq = split_dlq(read_changelog_stream(ctx.spark, src))
    q = (ok.writeStream.foreachBatch(apply)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True)
         .start())
    try:
        q.awaitTermination()
    finally:
        if q.isActive:
            q.stop()
    return q.recentProgress


def read_ops(seed: int, versions: list[int], keys: np.ndarray, n: int):
    """The seeded read sequence: n (kind, format index, args)."""
    rng = np.random.default_rng(seed)
    for i in range(n):
        fmt = i % len(FORMATS)
        kind = READ_CYCLE[(i // len(FORMATS)) % len(READ_CYCLE)]
        if kind == "changes":
            yield kind, fmt, tuple(sorted(rng.choice(versions, size=2, replace=False).tolist()))
        elif kind == "lookup":
            yield kind, fmt, (int(rng.choice(versions)), int(rng.choice(keys)))
        else:
            yield kind, fmt, (int(rng.choice(versions)),)


def read(sink, kind: str, args: tuple):
    """The DataFrame one read answers with; materialized by the caller."""
    if kind == "changes":
        return sink.changes_between(*args)
    df = visible(sink.snapshot(args[0])).select(*LIVE)
    return df.where(F.col("key") == args[1]) if kind == "lookup" else df


def read_back(ctx: Ctx, i: int, sinks: dict, restored: str, splits: list[str], out: dict):
    """The timed read mix over the versions the replay committed: init
    is version 1 and micro-batch k commits version 1 + k, holding the
    restored changelog plus the first k splits."""
    tr, chk = ctx.tracer, ctx.checker
    held = {1 + k: [restored, *splits[:k]] for k in range(len(splits) + 1)}
    for layer, sink in sinks.items():
        if sink.latest_version() != max(held):
            chk.fail(f"pass {i} {layer}: {sink.latest_version()} versions, "
                     f"expected {max(held)}")
    # lookup keys are drawn from the changelog's records, so they
    # follow its Zipf skew
    keys = np.concatenate([pq.read_table(f, columns=["key"]).column(0).to_numpy()
                           for f in held[max(held)]])
    folds: dict = {}

    def fold(v):
        if v not in folds:
            folds[v] = chk.fold(held[v])
        return folds[v]

    for kind, f, args in read_ops(ctx.pass_seed(i), sorted(held), keys, READS):
        layer = FORMATS[f][0]
        try:
            with ctx.timed(out[kind][layer]), tr.span(f"{layer}.{SPAN[kind]}",
                                                      jobs=(i == 0)):
                df = read(sinks[layer], kind, args)
                got = df.toPandas()
        except Exception as e:  # a failed read is a failed operation
            chk.fail(f"pass {i} {layer} {kind}{args}: {type(e).__name__}: {e}")
            continue
        if kind == "changes":
            chk.check(f"pass {i} {layer} changes{args}", got,
                      lambda: chk.changes(held[args[0]], held[args[1]]))
            continue
        want = fold(args[0])
        if kind == "lookup":
            want = want[want["key"] == args[1]]
        chk.check(f"pass {i} {layer} {kind}{args}", got, lambda: want)
        if tr.enabled and i == 0:
            out["files"].setdefault(f"{layer}.{kind}", []).append(len(df.inputFiles()))


def one_pass(ctx: Ctx, i: int, spec) -> dict:
    """Set up, replay, read back and check one fresh table pair. Pass 0
    of a traced run also counts the Spark work of every call."""
    out = {"replay": [], "progress": {}, "files": {},
           **{k: {layer: [] for layer, *_ in FORMATS} for k in SPAN}}
    with ctx.fresh_dir(f"replay{i}") as d:
        src = os.path.join(d, "in")
        out["traffic"] = gen.write_changelog(src, ctx.pass_seed(i), spec)
        restored, splits = gen.changelog_paths(src)
        t0 = time.perf_counter()
        sinks = restore(ctx, d, restored)
        out["setup"] = time.perf_counter() - t0
        for layer, _, _, _ in FORMATS:
            with ctx.timed(out["replay"]):
                out["progress"][layer] = replay(
                    ctx, layer, sinks[layer], os.path.join(src, "splits"),
                    os.path.join(d, f"ck-{layer}"), count_jobs=(i == 0))
        out["footprint"] = {layer: footprint(os.path.join(d, layer), meta_dir)
                            for layer, _, meta_dir, _ in FORMATS}
        read_back(ctx, i, sinks, restored, splits, out)
        truth = ctx.checker.fold([restored, *splits])
        for layer, sink in sinks.items():
            ctx.checker.check(f"pass {i} {layer}.visible()",
                              lambda s=sink: s.visible().select(*LIVE).toPandas(),
                              lambda: truth)
    return out


def warm_up(ctx: Ctx) -> dict:
    return one_pass(ctx, -1, SPEC)


def run(ctx: Ctx, _warm: dict) -> Result:
    passes = []
    while ctx.more(len(passes)):
        passes.append(one_pass(ctx, len(passes), SPEC))

    def per_format(key, f=lambda x: x):
        return {layer: [f(x) for p in passes for x in (p[key][layer])]
                for layer, *_ in FORMATS}

    batch_s = per_format("progress", lambda pr: pr["durationMs"]["triggerExecution"] / 1000)
    trigger = p50_per_format(batch_s)
    # throughput from each sink's median micro-batch, not from the
    # replay's total: one batch stalled by a co-tenant moves a total,
    # not a median
    records_per_s = statistics.fmean(SPEC.batch_records / p50(xs) for xs in batch_s.values())
    overhead = p50_per_format(per_format(
        "progress", lambda pr: (pr["durationMs"]["triggerExecution"]
                                - pr["durationMs"].get("addBatch", 0)) / 1000))
    asof = per_format("asof")
    setup_s = p50([p["setup"] for p in passes])
    tr, files = ctx.tracer, passes[0]["files"]

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    layers = {
        "cdc_stream.trigger_s": trigger,
        "cdc_stream.overhead_s": overhead,
        "operators.cdc.fold_s": tr.p50("operators.cdc.fold_changelog"),
        **write_layers(tr, passes[0]["footprint"]),
    }
    for layer, *_ in FORMATS:
        layers.update({
            f"{layer}.snapshot_s": tr.p50(f"{layer}.snapshot"),
            f"{layer}.snapshot_files": mean(files.get(f"{layer}.asof", [])),
            f"{layer}.snapshot_jobs": tr.per_call(f"{layer}.snapshot", "jobs"),
            f"{layer}.lookup_files": mean(files.get(f"{layer}.lookup", [])),
            f"{layer}.changes_s": tr.p50(f"{layer}.changes"),
            f"{layer}.changes_jobs": tr.per_call(f"{layer}.changes", "jobs"),
        })
    return Result(
        items_per_s=records_per_s,
        op_p50_s=p50_per_format(asof),
        setup_s=setup_s,
        named={
            "setup_s": (setup_s, "s"),
            "records_per_s": (records_per_s, "1/s"),
            "batch_p50_s": (trigger, "s"),
            "asof_p50_s": (p50_per_format(asof), "s"),
            "asof_p90_s": (mean([p90(xs) for xs in asof.values()]), "s"),
            "lookup_p50_s": (p50_per_format(per_format("lookup")), "s"),
            "changes_p50_s": (p50_per_format(per_format("changes")), "s"),
            "asof_reads": (sum(len(xs) for xs in asof.values()), "count"),
        },
        layers=layers,
        traffic=passes[0]["traffic"],
        passes=len(passes),
    )
