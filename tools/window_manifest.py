"""Emit the driver-evaluation window manifest for the current tree.

The grading driver runs the FIRST 50 entries of ``queries()``.  Which 50
that is follows from ``_rotate_stalest_first`` alone: queries with no
passing verdict first, then by the round of their latest passing verdict
in the committed ``CORRECTNESS_r*.json`` artifacts, oldest first.  This
script materializes that order WITHOUT creating a SparkSession, records
every query's verdict age, and checks that the rotation keeps every
query within the 3-round age bound (``check_capacity``).  The per-round
``WINDOW_r{N}.json`` artifact lets a judge audit rotation coverage
without executing the module.

Usage:
    python tools/window_manifest.py            # print to stdout
    python tools/window_manifest.py --out artifacts/WINDOW_r{N}.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW = 50
AGE_BOUND = 3


def build_manifest() -> dict:
    sys.path.insert(0, REPO)
    import __spark_entry__ as entry

    names = list(entry.queries())  # callables are not invoked — ordering only
    # the SAME scan the rotation itself uses — no parallel implementation
    # to drift
    next_round, last_pass = entry._verdict_rounds()
    rows = []
    for i, n in enumerate(names):
        lp = last_pass.get(n)
        rows.append(
            {
                "pos": i + 1,
                "name": n,
                "in_window": i < WINDOW,
                "last_pass_round": lp,
                "verdict_age_rounds": None if lp is None else next_round - lp,
            }
        )
    capacity = check_capacity(rows, next_round)
    ages = [r["verdict_age_rounds"] for r in rows if r["verdict_age_rounds"] is not None]
    return {
        "for_round": next_round,
        "window_size": WINDOW,
        "capacity": capacity,
        "total_queries": len(names),
        "max_verdict_age_rounds": max(ages, default=None),
        # check_capacity guarantees every outside-window row has a verdict
        "max_age_outside_window": max(
            (r["verdict_age_rounds"] for r in rows if not r["in_window"]),
            default=None,
        ),
        "queries": rows,
    }


def check_capacity(rows: list, next_round: int) -> dict:
    """Raise ``ValueError`` unless the rotation keeps every query within
    the age bound this round and the next two.

    1. Everything that MUST be graded this round is in-window: queries
       at verdict age >= 3 (a miss puts them past the age bound) and
       queries with no passing verdict.
    2. Each of the next two rounds' due cohorts fits the window: the
       outside-window queries whose last pass is ``next_round-2`` reach
       age 3 at ``next_round+1``, those at ``next_round-1`` reach it at
       ``next_round+2``.  This round's window recycles at
       ``next_round+3``, so no later round is decided by the current
       verdicts.
    """
    win = {r["name"] for r in rows if r["in_window"]}
    must_now = {
        r["name"]
        for r in rows
        if r["verdict_age_rounds"] is None or r["verdict_age_rounds"] >= AGE_BOUND
    }
    overflow_now = sorted(must_now - win)
    if overflow_now:
        raise ValueError(
            f"window capacity violated for round {next_round}: "
            f"{overflow_now} must be graded this round but sit outside "
            f"the {WINDOW}-slot window"
        )
    demand = {}
    for ahead in range(1, AGE_BOUND):
        rnd = next_round + ahead
        due = [
            r["name"]
            for r in rows
            if r["name"] not in win and r["last_pass_round"] == rnd - AGE_BOUND
        ]
        if len(due) > WINDOW:
            raise ValueError(
                f"round {rnd} is over-committed: {len(due)} queries reach "
                f"verdict age {AGE_BOUND} there but the window has "
                f"{WINDOW} slots"
            )
        demand[str(rnd)] = len(due)
    return {
        "must_grade_this_round": len(must_now),
        "demand_by_round": demand,
        "window": WINDOW,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--out", help="write JSON to this path instead of stdout")
    args = ap.parse_args()
    manifest = build_manifest()
    text = json.dumps(manifest, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
        print(
            f"wrote {args.out}: round {manifest['for_round']}, "
            f"{manifest['total_queries']} queries, "
            f"max verdict age {manifest['max_verdict_age_rounds']}",
            file=sys.stderr,
        )
    else:
        print(text)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
