"""The query profiler (scripts/query_profile.py) without Spark: its
event-log parser and driver-gap rule on a hand-written log, the confs
its `jobs` session adds, and the script names it taught us to guard."""

import importlib.util
import json
import pathlib
import shlex
import sys

REPO = pathlib.Path(__file__).resolve().parents[1]

spec = importlib.util.spec_from_file_location(
    "query_profile", REPO / "scripts" / "query_profile.py"
)
qp = importlib.util.module_from_spec(spec)
spec.loader.exec_module(qp)


def _start(jid, ms, tasks=(2,)):
    return {
        "Event": "SparkListenerJobStart",
        "Job ID": jid,
        "Submission Time": ms,
        "Stage IDs": [10 * jid + i for i in range(len(tasks))],
        "Stage Infos": [
            {"Stage ID": 10 * jid + i, "Stage Name": f"stage {10 * jid + i}",
             "Number of Tasks": n}
            for i, n in enumerate(tasks)
        ],
        "Properties": {},
    }


def _end(jid, ms):
    return {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": ms}


# the query ran over [1000, 5000] ms
LOG = [
    {"Event": "SparkListenerApplicationStart", "Timestamp": 0},
    _start(0, 500), _end(0, 900),  # the warm-up's job: before the window
    _start(1, 1200, tasks=(4, 1)), _end(1, 2200),
    _start(2, 1800), _end(2, 3000),  # runs beside job 1
    _start(3, 3500),  # no end event: the log stopped first
]


def test_jobs_in_the_window_and_the_gap_is_wall_minus_their_union():
    jobs = qp.read_jobs(json.dumps(e) for e in LOG)
    assert jobs[1] == {
        "start": 1200, "end": 2200, "stages": 2, "tasks": 5, "site": "stage 11",
    }
    assert jobs[3]["end"] is None
    mine, gap = qp.attribute(jobs, 1000.0, 5000.0)
    assert [jid for jid, _ in mine] == [1, 2]
    # union of [1200, 2200] and [1800, 3000] is 1800 ms of a 4000 ms wall;
    # summing the two durations (2200 ms) would report 1800 ms of gap
    assert gap == 4000 - 1800
    assert gap != 4000 - sum(j["end"] - j["start"] for _, j in mine)


def test_jobs_session_adds_only_event_log_confs():
    # everything else comes from session.get_spark, so the profiled
    # session cannot drift from the benchmarked one
    args = shlex.split(qp.event_log_submit_args("/tmp/ev", "pyspark-shell"))
    assert args[-1] == "pyspark-shell"
    flags, confs = args[:-1:2], dict(a.split("=", 1) for a in args[1:-1:2])
    assert set(flags) == {"--conf"}
    assert all(k.startswith("spark.eventLog.") for k in confs)
    assert confs["spark.eventLog.enabled"] == "true"
    assert confs["spark.eventLog.dir"] == "file:///tmp/ev"
    # Spark 4 writes zstd-compressed, rolling logs by default
    assert confs["spark.eventLog.compress"] == "false"
    assert confs["spark.eventLog.rolling.enabled"] == "false"


def test_no_script_shadows_a_stdlib_module():
    # a scripts/profile.py shadows the stdlib `profile` for anything run
    # from that directory: `import pyspark` under cProfile then fails
    shadowing = sorted(
        p.name for p in (REPO / "scripts").glob("*.py")
        if p.stem in sys.stdlib_module_names
    )
    assert not shadowing, f"scripts shadowing the stdlib: {shadowing}"
