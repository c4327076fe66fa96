"""Run hygiene: a run that fails mid-replay leaves no dirs and no
active stream behind, and a checkout without the engine gives no
result."""

import os
import shutil
import signal
import subprocess
import sys
import time

import pytest

from conftest import BENCH

import gen
import replay
from dynamodb_pitr_restore_cdc_spark.streaming.delta_log_sink import DeltaLogSink


def test_failure_mid_replay_cleans_up(spark_ctx, monkeypatch):
    ctx = spark_ctx
    calls = []
    original = DeltaLogSink.apply_batch

    def failing(self, batch, *a, **kw):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("injected failure in the second micro-batch")
        return original(self, batch, *a, **kw)

    monkeypatch.setattr(DeltaLogSink, "apply_batch", failing)
    spec = gen.ChangelogSpec(n_keys=300, restored_records=500, n_batches=3,
                             batch_records=200)
    with pytest.raises(Exception, match="injected failure"):
        replay.one_pass(ctx, 0, spec)
    assert len(calls) == 2
    assert ctx.spark.streams.active == []
    assert os.listdir(ctx.work) == []


def test_replay_pass_is_correct(spark_ctx):
    ctx = spark_ctx
    spec = gen.ChangelogSpec(n_keys=300, restored_records=500, n_batches=2,
                             batch_records=200)
    out = replay.one_pass(ctx, 1, spec)
    # every read of the mix plus each sink's final visible()
    assert ctx.checker.attempted == replay.READS + 2
    assert ctx.checker.failed == 0, ctx.checker.reasons
    assert all(len(p) == spec.n_batches for p in out["progress"].values())
    assert os.listdir(ctx.work) == []


def test_checkout_without_engine_gives_no_result(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "restore_replay",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, env=env, capture_output=True, text=True, timeout=170)
    assert r.returncode != 0
    assert '"metrics"' not in r.stdout
    assert not (tmp_path / ".perfbench_work").exists()


def test_terminated_run_cleans_up(tmp_path):
    """SIGTERM mid-run: the JVM is stopped and the run's dir removed."""
    root = tmp_path / "checkout"
    root.mkdir()
    shutil.copytree(BENCH, root / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    repo = os.path.dirname(BENCH)
    shutil.copy(os.path.join(repo, "BENCHMARK.json"), root)
    os.symlink(os.path.join(repo, "dynamodb_pitr_restore_cdc_spark"),
               root / "dynamodb_pitr_restore_cdc_spark")
    p = subprocess.Popen([sys.executable, "perfbench/run.py", "--workload", "restore_replay",
                          "--seed", "1", "--seconds", "1", "--trace", "0"],
                         cwd=root, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
    work = root / ".perfbench_work"
    deadline = time.monotonic() + 120
    # wait until the warm-up pass is writing its tables
    while not list(work.glob("*/replay-1-*")) and time.monotonic() < deadline:
        assert p.poll() is None
        time.sleep(0.2)
    jvms = _children(p.pid)
    assert jvms, "no Spark JVM under the run"
    p.send_signal(signal.SIGTERM)
    out, _ = p.communicate(timeout=90)
    assert p.returncode == 128 + signal.SIGTERM
    assert b'"metrics"' not in out
    assert not work.exists()
    assert not any(os.path.exists(f"/proc/{pid}") and not _zombie(pid) for pid in jvms)


def _children(pid):
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    raw = fh.read()
            except OSError:
                continue
            if int(raw[raw.rindex(")") + 2:].split()[1]) == pid:
                out.append(int(d))
    return out


def _zombie(pid):
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return True
    return raw[raw.rindex(")") + 2:].split()[0] == "Z"
