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


def drill_width(spark) -> int:
    """Drill shuffle width for THIS session: max(4, defaultParallelism
    // 8). Each streaming state partition is a store checkpointed EVERY
    micro-batch, and each batch job pays per-task scheduling, so a small
    keyed stream wants a few wide partitions, not cores-many. Deriving
    from the session (r15 verdict item 3) keeps that win at small core
    counts (32 // 8 = 4, the old constant) without serializing a real
    cluster."""
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
