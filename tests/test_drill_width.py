"""drill_width identity proof (r16 reverify narrow-exception backing).

The r16 round rewired every pinned streaming drill through
``streaming.util.drill_width`` (cores-derived: ``max(4,
defaultParallelism // 8)``) instead of the r15 constant 4.  The
registry's narrow full-window exception for the pin-KEPT drills whose
builder text is otherwise untouched (foreachBatch twins, pack
manifest) rests on the executed lifecycle being PROVABLY identical:
for every core count the driver contract uses (``SPARK_GRAFT_CPUS`` 8
and 32 — and in fact any parallelism ≤ 39) the derived width IS the
old constant 4.  This test pins that equivalence in code, so a future
change to the formula (or a driver topology where it diverges) fails
loudly instead of silently invalidating the exception.
"""

from __future__ import annotations

from types import SimpleNamespace

from dynamodb_pitr_restore_cdc_spark.streaming.util import drill_width


def _fake_spark(parallelism: int):
    return SimpleNamespace(
        sparkContext=SimpleNamespace(defaultParallelism=parallelism)
    )


def test_drill_width_equals_r15_constant_at_driver_core_counts():
    for cores in (4, 8, 16, 32):  # the driver benches at 8 and 32
        assert drill_width(_fake_spark(cores)) == 4
    # the formula departs from the constant only past 39 cores —
    # i.e. only on real clusters, never under the driver contract
    assert drill_width(_fake_spark(40)) == 5
    assert drill_width(_fake_spark(256)) == 32
