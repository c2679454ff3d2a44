#!/usr/bin/env python3
"""List queries whose deterministic counts changed between two ledgers.

    python3 perfbench/ledger_diff.py OLD_LEDGER.json NEW_LEDGER.json

A ledger is the per-query layer record a traced run writes
(`.perfbench/ledger-<workload>-seed<n>.json`). Counts (jobs, stages,
tasks, exchanges, inference and checkpoint jobs) do not move with host
noise, so any change is a change of plan. A count a ledger marks as
varying (it differed between the passes of that run) is listed apart,
with its spread, instead of being compared. Exits 1 when a count changed.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402

COUNT_FIELDS = ["jobs", "build_jobs", "stages", "tasks", "exchanges",
                "inference_jobs", "checkpoint_jobs"]


def main(argv):
    if len(argv) != 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    old, new = (json.load(open(p)) for p in argv)
    changed, varying, gone, added = stats.ledger_diff(old, new, COUNT_FIELDS)
    for q, f, a, b in changed:
        print(f"changed  {q} {f}: {a} -> {b}")
    for q, f in varying:
        print(f"varying  {q} {f}: {old[q].get(f)} -> {new[q].get(f)}")
    for q in gone:
        print(f"removed  {q}")
    for q in added:
        print(f"added    {q}")
    print(f"{len(changed)} changed, {len(varying)} varying, "
          f"{len(set(old) & set(new))} queries compared")
    return 1 if changed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
