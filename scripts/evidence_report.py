#!/usr/bin/env python
"""Driver-evidence staleness gate (round-8 verdict, item 6).

Joins the CORRECTNESS_r*.json union (read by the package's `evidence`
module, the same reader the rotation uses) against the live registry
and reports, per oracled query, the newest round with a driver row. Exit
code 1 iff any oracled query's newest row is older than MAX_AGE_ROUNDS
rounds behind the newest correctness file — the enforced form of the
rotation invariant that all_queries() ordering implements (a frozen
rotation, as in round 8, ages evidence silently; this script is what
makes that loud).

Usage:
    python scripts/evidence_report.py [--max-age N] [--dir REPO_ROOT]

`--dir` names where the correctness files are read; the registry (and
so the driver window) is always the package next to this script.

Policy:
- threshold default 5: the registry holds 229 oracled queries and the
  driver window is 50, so a full rotation takes ceil(229/50) = 5
  rounds — steady-state ages run 0..4 and hit 5 only for the straggler
  batch about to be re-checked. Age > 5 therefore always means the
  rotation stalled (round 8's freeze produced age 6).
- any row counts here, red or green: a red row is still evidence the
  rotation reached the query. The rotation itself (evidence.rotation)
  counts only verifying rows, so a red query moves to the front.
- rows-only queries (oracle is None) are reported but never gate: a
  driver slot can only ever re-confirm `no_oracle` for them, and the
  ordering deliberately parks them last.
- queries with NO row in any round gate too (age = infinity) UNLESS
  the registry ordering actually FRONTS them (they sit inside the
  driver window, i.e. the first WINDOW entries of all_queries(), so
  they get a row in this round's run — the just-registered case). A
  never-checked query that has slipped OUT of the window is exactly
  the rotation failure this gate exists for, and it gates in default
  mode. `--strict` removes the exemption entirely.
"""

from __future__ import annotations

import argparse
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from dynamodb_pitr_restore_cdc_spark.evidence import (  # noqa: E402
    WINDOW,
    correctness_rounds,
)

MAX_AGE_DEFAULT = 5


def build_report(
    rounds: dict[int, set[str]], specs: dict[str, object]
) -> dict:
    newest = max(rounds) if rounds else 0
    queries = {}
    for name, spec in specs.items():
        seen = [r for r, names in rounds.items() if name in names]
        last = max(seen, default=None)
        queries[name] = {
            "oracled": getattr(spec, "oracle", None) is not None,
            "last_round": last,
            "age": (newest - last) if last is not None else None,
        }
    return {"newest_round": newest, "queries": queries}


def stale_entries(
    report: dict, max_age: int, strict: bool, front: frozenset[str] = frozenset()
) -> list[str]:
    """`front` = names inside the driver's upcoming window: a
    never-checked query there gets its first row this round and is
    exempt; one that slipped OUT of the window never will — that's the
    rotation failure this gate exists for, so it gates."""
    bad = []
    for name, q in report["queries"].items():
        if not q["oracled"]:
            continue
        if q["last_round"] is None:
            if strict or name not in front:
                bad.append(f"{name}: never driver-checked")
            continue
        if q["age"] > max_age:
            bad.append(
                f"{name}: newest row r{q['last_round']:02d} is "
                f"{q['age']} rounds behind r{report['newest_round']:02d}"
            )
    return bad


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--max-age", type=int, default=MAX_AGE_DEFAULT)
    ap.add_argument("--dir", default=HERE)
    ap.add_argument("--strict", action="store_true")
    args = ap.parse_args(argv)

    from dynamodb_pitr_restore_cdc_spark.registry import all_queries

    rounds = correctness_rounds(args.dir)
    specs = all_queries()
    front = frozenset(list(specs)[:WINDOW])
    report = build_report(rounds, specs)
    ages = [
        q["age"]
        for q in report["queries"].values()
        if q["oracled"] and q["age"] is not None
    ]
    hist: dict[int, int] = {}
    for a in ages:
        hist[a] = hist.get(a, 0) + 1
    print(
        f"evidence: {len(ages)} oracled queries with rows through "
        f"r{report['newest_round']:02d}; age histogram "
        f"{dict(sorted(hist.items()))}"
    )
    never = [
        n
        for n, q in report["queries"].items()
        if q["oracled"] and q["last_round"] is None
    ]
    if never:
        print(f"pending first check ({len(never)}): {', '.join(sorted(never))}")
    bad = stale_entries(report, args.max_age, args.strict, front)
    for line in bad:
        print(f"STALE: {line}")
    if bad:
        print(f"FAIL: {len(bad)} queries exceed the {args.max_age}-round age gate")
        return 1
    print(f"OK: no oracled query older than {args.max_age} rounds")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
