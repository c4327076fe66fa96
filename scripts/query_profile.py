#!/usr/bin/env python
"""Per-query profiling on the benchmarked session.

Usage:
  python scripts/query_profile.py time q_a q_b ...
      one JSON line {name: {med, runs}}: each query timed RUNS times by
      bench.run_once after bench's warm-up (an A/B is this, run once from
      each checkout, alternating, with stdout redirected)
  python scripts/query_profile.py explain DIR q_a q_b ...
      each query's formatted physical plan written to DIR/<name>.txt
  python scripts/query_profile.py jobs q_a q_b ...
      per query, its Spark jobs (duration, stages, tasks, call site) and
      its driver gap: wall time minus the UNION of its job intervals
      (a sum would count concurrent jobs twice)

RUNS, SF_DIR and CPUS are bench.py's (BENCH_RUNS, SPARK_GRAFT_SF_DIR,
SPARK_GRAFT_CPUS) and the session is session.get_spark's. `jobs` turns
on Spark's event log through spark-submit --conf entries in
PYSPARK_SUBMIT_ARGS, so the profiled session carries every engine conf
(the worker daemon included) and nothing else changes.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402
from dynamodb_pitr_restore_cdc_spark.plans.explain import plan_string  # noqa: E402
from dynamodb_pitr_restore_cdc_spark.registry import all_queries, release_persisted  # noqa: E402
from dynamodb_pitr_restore_cdc_spark.session import get_spark  # noqa: E402


def event_log_submit_args(log_dir: str, submit_args: str) -> str:
    """`submit_args` with the confs that make Spark write one plain-JSON
    event log file into `log_dir` (Spark 4 compresses with zstd and rolls
    the log by default)."""
    confs = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    return " ".join(f"--conf {k}={v}" for k, v in confs.items()) + " " + submit_args


def read_jobs(lines) -> dict[int, dict]:
    """Job ID -> {start, end, stages, tasks, site} from event-log lines;
    `end` stays None for a job whose end event never came."""
    jobs: dict[int, dict] = {}
    for line in lines:
        e = json.loads(line)
        if e["Event"] == "SparkListenerJobStart":
            jobs[e["Job ID"]] = {
                "start": e["Submission Time"],
                "end": None,
                "stages": len(e["Stage IDs"]),
                "tasks": sum(s["Number of Tasks"] for s in e["Stage Infos"]),
                # the result stage's name, as the Spark UI names a job
                "site": max(e["Stage Infos"], key=lambda s: s["Stage ID"])["Stage Name"],
            }
        elif e["Event"] == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"]
    return jobs


def attribute(
    jobs: dict[int, dict], start_ms: float, end_ms: float
) -> tuple[list[tuple[int, dict]], float]:
    """The finished jobs submitted inside [start_ms, end_ms], by job ID,
    and the driver gap: the window minus the union of their intervals."""
    mine = sorted(
        (jid, j)
        for jid, j in jobs.items()
        if j["end"] is not None and start_ms <= j["start"] <= end_ms
    )
    busy, reach = 0.0, start_ms
    for s, e in sorted((j["start"], min(j["end"], end_ms)) for _, j in mine):
        if e > reach:
            busy += e - max(s, reach)
            reach = e
    return mine, end_ms - start_ms - busy


def _session():
    spark = get_spark("query_profile", cpus=bench.CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm(spark, specs) -> None:
    bench.run_once(specs["q_cdc_snapshot_rebuild"], spark)  # bench.main's warm-up


def cmd_time(specs, names: list[str]) -> None:
    spark = _session()
    _warm(spark, specs)
    out = {}
    for name in names:
        runs = [bench.run_once(specs[name], spark) for _ in range(bench.RUNS)]
        out[name] = {
            "med": round(statistics.median(runs), 3),
            "runs": [round(t, 3) for t in runs],
        }
    print(json.dumps(out))


def cmd_explain(specs, out_dir: str, names: list[str]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    spark = _session()
    for name in names:
        plan = plan_string(specs[name].builder(spark, bench.SF_DIR))
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
            fh.write(plan)
        release_persisted()


def cmd_jobs(specs, names: list[str]) -> None:
    log_dir = tempfile.mkdtemp(prefix="query_profile_events_")
    try:
        os.environ["PYSPARK_SUBMIT_ARGS"] = event_log_submit_args(
            log_dir, os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
        )
        spark = _session()
        app_id = spark.sparkContext.applicationId
        print(
            f"# {app_id}: spark.python.daemon.module="
            f"{spark.conf.get('spark.python.daemon.module')}"
        )
        _warm(spark, specs)
        windows = {}
        for name in names:
            # the wall clock anchors the window in event-log time; its
            # length is bench's measurement
            start_ms = time.time() * 1000
            wall_ms = bench.run_once(specs[name], spark) * 1000
            windows[name] = (start_ms, start_ms + wall_ms)
        spark.stop()  # closes the log under its final name
        with open(os.path.join(log_dir, app_id)) as fh:
            jobs = read_jobs(fh)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)
    for name, (start_ms, end_ms) in windows.items():
        mine, gap_ms = attribute(jobs, start_ms, end_ms)
        print(
            f"=== {name}: wall {(end_ms - start_ms) / 1000:.2f}s, "
            f"{len(mine)} jobs, driver gap {gap_ms / 1000:.2f}s"
        )
        for jid, j in mine:
            print(
                f"  job {jid:4d} +{j['start'] - start_ms:7.0f}ms "
                f"{j['end'] - j['start']:6.0f}ms {j['stages']}st/{j['tasks']}tk "
                f"{j['site']}"
            )


def main(argv: list[str]) -> None:
    cmd, args = (argv[0], argv[1:]) if argv else ("", [])
    names = args[1:] if cmd == "explain" else args
    if cmd not in ("time", "explain", "jobs") or not names:
        sys.exit(__doc__)
    specs = all_queries()
    unknown = sorted(set(names) - set(specs))
    if unknown:
        sys.exit(f"unknown queries: {', '.join(unknown)}")
    if cmd == "time":
        cmd_time(specs, names)
    elif cmd == "explain":
        cmd_explain(specs, args[0], names)
    else:
        cmd_jobs(specs, names)


if __name__ == "__main__":
    main(sys.argv[1:])
