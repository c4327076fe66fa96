"""What every workload shares: the run context, fresh per-pass dirs,
the timed-region clock and the result record."""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time
import uuid
from dataclasses import dataclass, field

from checks import Checker
from spans import HostMeter, Tracer

MIN_PASSES = 2

# change columns a sink merges; the stream's other columns are carried
# by the generated files but are not part of the table
CHANGE_COLS = ("seq_no", "op", "key", "payload_value")


@dataclass
class Ctx:
    spark: object
    work: str            # this run's private dir, removed when the run ends
    seed: int
    seconds: float
    tracer: Tracer
    checker: Checker
    host: HostMeter = field(default_factory=HostMeter)
    timed_s: float = 0.0  # sum of the timed regions so far
    session_s: float = 0.0  # time to start the Spark session

    def reset(self) -> None:
        """Forget the warm-up: its spans, timed seconds and host record."""
        self.tracer.reset()
        self.timed_s = 0.0
        self.host = HostMeter()

    def pass_seed(self, i: int) -> int:
        """Input seed of timed pass ``i``; the warm-up uses i = -1."""
        return self.seed * 1000 + 500 + i

    @contextlib.contextmanager
    def fresh_dir(self, tag: str):
        """A never-used dir for one pass's inputs and tables, removed on
        exit whether the pass succeeded or not."""
        d = os.path.join(self.work, f"{tag}-{uuid.uuid4().hex[:8]}")
        os.makedirs(d)
        try:
            yield d
        finally:
            shutil.rmtree(d, ignore_errors=True)

    @contextlib.contextmanager
    def timed(self, out: list | None = None):
        """One timed region: adds its wall time to ``timed_s`` (and to
        ``out``), and its CPU and steal seconds to the host record."""
        self.host.start()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            self.host.stop()
            self.timed_s += dt
            if out is not None:
                out.append(dt)

    def more(self, passes_done: int) -> bool:
        """Whether to run another timed pass: at least MIN_PASSES, then
        until the run's measuring time is used. The floor keeps the
        sample count of a run from hanging on the host's speed."""
        return passes_done < MIN_PASSES or self.timed_s < self.seconds


@dataclass
class Result:
    """What a workload reports. ``named`` holds the workload's own
    metrics (name -> (value, unit)); ``layers`` the per-layer metrics
    it drove; ``traffic`` the generated inputs' properties."""

    items_per_s: float
    op_p50_s: float
    setup_s: float
    named: dict
    layers: dict
    traffic: dict
    passes: int


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def p50_per_format(xs_by_format: dict[str, list[float]]) -> float:
    """Mean over formats of each format's median: the formats' latencies
    form separate clusters, and a pooled median would land between
    them and jump with the sample count."""
    return statistics.fmean(p50(xs) for xs in xs_by_format.values())


def p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10)[-1]
