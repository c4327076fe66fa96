"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload restore_replay --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The engine runs on one local Spark
driver with CORES cores (fixed, so runs on hosts of any size compare).
Everything a run writes -- generated inputs, sink tables, checkpoints,
Spark's and Python's temp files -- goes to a private dir under
``.perfbench_work/`` in the checkout, removed when the run ends; the
traced run also writes its spans to ``.perfbench_out/``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones (no spans, no job counting); with ``--trace 1`` the
per-layer ones, layers the workload does not call reading 0. Lines
before it record the workload's own named metrics, its traffic
properties and the host (steal and process-tree CPU over the timed
regions, the Spark core count, other Spark JVMs on the host, and the
time of a fixed reference computation before and after the run).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
DRIVER_MEMORY = "2g"

WORKLOADS = ("restore_replay", "llm_curate")


def _declared() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, as BENCHMARK.json
    declares them; README.md says what each one counts on each workload."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


def _isolate(work: str) -> None:
    """Point every temp dir the run's processes use into ``work`` and
    let Spark's Python workers import the engine from the checkout.
    Must run before pyspark or the engine is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # every JVM spark-submit starts (its launcher too) keeps its temp
    # files here and writes no perf-data file to the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    sys.path.insert(0, ROOT)


def _stop_jvm(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it
    forked) to exit; kill it if it does not."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        for q in spark.streams.active:
            q.stop()
        spark.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    end_to_end, per_layer = _declared()

    # a terminated run still cleans up: SIGTERM unwinds through the
    # finally below like an exception
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    t_start = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = checker = None
    try:
        _isolate(work)
        from checks import Checker
        from harness import Ctx
        from spans import Tracer, host_ref_s, other_spark_jvms

        import curate
        import replay
        from dynamodb_pitr_restore_cdc_spark.session import get_spark

        others = other_spark_jvms()
        ref_before = host_ref_s()
        t_session = time.perf_counter()
        spark = get_spark("perfbench", cpus=CORES)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t_session
        module = {"restore_replay": replay, "llm_curate": curate}[args.workload]
        checker = Checker(os.environ["TMPDIR"], threads=CORES)
        ctx = Ctx(spark=spark, work=work, seed=args.seed, seconds=args.seconds,
                  tracer=Tracer(spark, enabled=bool(args.trace)), checker=checker,
                  session_s=session_s)
        warm = module.warm_up(ctx)
        ctx.reset()
        startup_s = time.perf_counter() - t_start
        res = module.run(ctx, warm)
        ref_after = host_ref_s()
        if args.trace:
            ctx.tracer.write(os.path.join(
                ROOT, ".perfbench_out", f"trace-{args.workload}-seed{args.seed}.json"))
    finally:
        try:
            if spark is not None:
                _stop_jvm(spark)
        finally:
            if checker is not None:
                checker.close()
            shutil.rmtree(work, ignore_errors=True)
            with contextlib.suppress(OSError):  # another run may still use it
                os.rmdir(os.path.dirname(work))

    print(json.dumps({"workload": args.workload, "named": {
        k: {"value": v, "unit": u} for k, (v, u) in res.named.items()}}))
    print(json.dumps({"traffic": res.traffic, "passes": res.passes}))
    print(json.dumps({"host": {
        "seed": args.seed, "spark_cores": CORES, "nproc": os.cpu_count(),
        "other_spark_jvms": others, "host_ref_s": [ref_before, ref_after],
        "session_s": session_s, "startup_s": startup_s,
        "timed_s": ctx.timed_s, "cpu_s": ctx.host.cpu_s, "steal_s": ctx.host.steal_s}}))
    if checker.reasons:
        print(json.dumps({"failures": checker.reasons}))
    if args.trace:
        values = dict.fromkeys(per_layer, 0.0)
        values.update(res.layers)
        values.update({"host.cpu_s": ctx.host.cpu_s, "host.steal_s": ctx.host.steal_s,
                       "trace.items_per_s": res.items_per_s})
        units = per_layer
    else:
        values = {"items_per_s": res.items_per_s, "op_p50_s": res.op_p50_s,
                  "setup_s": res.setup_s}
        units = end_to_end
    if set(values) != set(units):
        raise SystemExit(f"metrics {sorted(set(values) ^ set(units))} not as declared")
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": checker.failed == 0, "attempted": checker.attempted,
                      "failed": checker.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
