"""Driver evidence: the CORRECTNESS_r<NN>.json file each driver round
commits next to the package (one row per query the round checked).

The driver runs only the first WINDOW entries of
`registry.all_queries()`, so the dict order is the coverage policy.
This module is the one reader of that evidence.  Two consumers use it:
the rotation (`rotation`, the order `all_queries()` returns) and the
staleness gate (`scripts/evidence_report.py`).  Recording a driver
round means committing its JSON; no code changes.

No Spark import here: the gate and the rotation tests run without a
session.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Mapping

WINDOW = 50  # the driver evaluates registry order and keeps ~50 rows

# the repo root: where driver rounds commit their CORRECTNESS files
EVIDENCE_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def correctness_rows(root: str) -> dict[int, dict[str, dict]]:
    """round number -> {query: driver row}; {} when `root` holds no
    correctness files (or does not exist)."""
    try:
        entries = os.listdir(root)
    except FileNotFoundError:
        return {}
    out: dict[int, dict[str, dict]] = {}
    for fn in entries:
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fn)
        if m:
            with open(os.path.join(root, fn)) as fh:
                out[int(m.group(1))] = json.load(fh)
    return out


def correctness_rounds(root: str) -> dict[int, set[str]]:
    """round number -> query names with a driver row in that round.

    A row counts whether it passed or not: a red row is still evidence
    that the rotation reached the query (redness is the driver's
    failure signal, not staleness)."""
    return {r: set(rows) for r, rows in correctness_rows(root).items()}


def verifies(row: Mapping) -> bool:
    """A row verifies its query when it hash-matched with no error, or
    when it is a rows-only slot (err == "no_oracle").  A crashed or
    mismatched row does not: its query keeps the age of its last green
    row, so it moves toward the front by itself."""
    err = row.get("err")
    return err == "no_oracle" or (row.get("hash_match") is True and not err)


def last_verified(root: str) -> dict[str, int]:
    """query -> the newest round with a verifying row (rounds ranked by
    their number)."""
    out: dict[str, int] = {}
    for r, rows in correctness_rows(root).items():
        for name, row in rows.items():
            if verifies(row) and r > out.get(name, 0):
                out[name] = r
    return out


def rotation(
    specs: Mapping[str, object], seeds: Mapping[str, int], root: str
) -> list[str]:
    """Driver-window order of `specs` (registration order, each with an
    `oracle` attribute, None for rows-only entries):

    1. oracled queries with no verifying row in any round;
    2. active seeds: a seed (query -> the last driver round run before
       its code or oracle changed) is active while the query's newest
       verifying row is no newer than that round, and lapses once a
       later round verifies it;
    3. every other oracled query, oldest verifying round first: a
       rotation that drains staleness;
    4. rows-only queries last: a driver slot can only re-confirm
       `no_oracle` for them, so they never displace a hash-verifiable
       query from the window.

    Within a tier, active seeds come first, then the oldest verifying
    round, then registration order.  With no correctness files every
    query ranks as never verified, so the order is seeds first and
    otherwise registration order.
    """
    last = last_verified(root)

    def rank(name: str) -> tuple:
        active = name in seeds and last.get(name, 0) <= seeds[name]
        rows_only = specs[name].oracle is None
        return (rows_only, name in last, not active, last.get(name, 0))

    return sorted(specs, key=rank)  # stable: registration order breaks ties
