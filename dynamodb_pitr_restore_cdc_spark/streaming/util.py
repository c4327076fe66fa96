"""Shared crash-safety primitives for the durable stores.

One rule, applied everywhere a single small file is the commit point
(resume pointers, store manifests): write a temp file, flush + fsync
it, then rename over the target. A plain truncate-and-write leaves a
torn file if the writer dies mid-write — and a rename WITHOUT the
fsync can itself survive a power loss whose unflushed data blocks
never hit disk, yielding an empty committed file. Readers of a
pointer written this way always see either the old or the new
content, never a prefix.
"""

from __future__ import annotations

import contextlib
import os
import uuid

# Per-drill shuffle width for the keyed test streams (state stores,
# foreachBatch window passes over O(users) rows). Each streaming state
# partition is a store checkpointed EVERY micro-batch, and each batch
# job pays per-task scheduling, so a small keyed stream wants a few
# wide partitions, not cores-many. Parameterized (env); kept as the
# module-level LOCAL default for import compatibility — the effective
# width is computed per session by drill_width() below.
STREAM_DRILL_WIDTH = int(os.environ.get("SPARK_GRAFT_STREAM_WIDTH", "4"))


def drill_width(spark) -> int:
    """Effective drill shuffle width for THIS session: the env knob
    when set, else cores-derived — max(4, defaultParallelism // 8).
    The r15 verdict's item 3: a fixed constant is right for the local
    32-core fixtures (32 // 8 = 4, unchanged) but serializes a real
    cluster; deriving from the session keeps the scheduling win at
    small core counts without a serialization cliff at large ones."""
    env = os.environ.get("SPARK_GRAFT_STREAM_WIDTH")
    if env is not None:
        return int(env)
    return max(4, spark.sparkContext.defaultParallelism // 8)


@contextlib.contextmanager
def pinned_shuffle_width(spark, n: int | None = None):
    """Pin spark.sql.shuffle.partitions for a streaming drill, RESTORED
    in a finally (the streaming invariant in CLAUDE.md). Streams started
    under the pin keep it: micro-batch execution clones the session conf
    at start. Lives here (not stream_queries) because sink modules need
    it and stream_queries imports their registration chains — this
    module imports nothing from the package, so it can never cycle."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n or drill_width(spark)))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def atomic_write_text(path: str, text: str) -> None:
    """Atomically replace `path` with `text` (tmp + fsync + rename).

    The temp name is unique per call: with a FIXED suffix, two writers
    racing on the same target could truncate each other's temp file
    mid-write and one would rename the other's partial content — the
    exact torn outcome this helper exists to rule out. Hard-crash
    debris (`<name>.tmp-*` left by a kill between open and rename) is
    swept on the next write to the same target, so long-lived store
    directories stay bounded; writers to one target are serialized by
    their callers (flock in the pointer CAS, single-maintainer
    elsewhere), so the sweep never races a live temp file."""
    import contextlib

    base = os.path.basename(path)
    parent = os.path.dirname(path) or "."
    for f in os.listdir(parent):
        if f.startswith(base + ".tmp-"):
            with contextlib.suppress(OSError):
                os.remove(os.path.join(parent, f))
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:12]}"
    try:
        with open(tmp, "w") as fh:
            fh.write(text)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)
    except BaseException:
        # surface the WRITE/RENAME error, never a cleanup error
        with contextlib.suppress(OSError):
            os.remove(tmp)
        raise
