"""Compare the per-layer metrics of two traced runs.

    python3 perfbench/compare.py BEFORE AFTER

Each argument is a trace file written by ``run.py --trace 1`` (under
``.perfbench_work/traces/``). Lists the metrics that moved,
largest relative change first. Exact counts (jobs, stages, tasks,
bytes, rows) are listed as exact differences, apart from the timings.
"""

from __future__ import annotations

import argparse
import json
import sys

# Units of metrics whose values are exact counts or byte totals, which
# repeat exactly at one seed.
EXACT_UNITS = {"count", "MB"}


def load_metrics(path: str) -> dict[str, dict]:
    with open(path) as f:
        return json.load(f)["metrics"]


def compare(before: dict[str, dict], after: dict[str, dict]) -> tuple[list, list]:
    """(exact-count rows, timing rows) for metrics present in both runs
    whose values differ; timing rows are sorted by relative change."""
    exact, timed = [], []
    for name in sorted(before.keys() & after.keys()):
        b, a = before[name]["value"], after[name]["value"]
        if a == b:
            continue
        unit = after[name].get("unit", "")
        if unit in EXACT_UNITS:
            exact.append((name, b, a, a - b, unit))
        else:
            rel = (a - b) / abs(b) if b else float("inf")
            timed.append((name, b, a, rel, unit))
    timed.sort(key=lambda r: -abs(r[3]))
    exact.sort(key=lambda r: -abs(r[3]))
    return exact, timed


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("before")
    p.add_argument("after")
    args = p.parse_args(argv)
    before, after = load_metrics(args.before), load_metrics(args.after)
    exact, timed = compare(before, after)
    print("exact counts that changed (after - before):")
    for name, b, a, diff, unit in exact:
        print(f"  {name:45s} {b:>14.6g} -> {a:<14.6g} {diff:+.6g} {unit}")
    if not exact:
        print("  none")
    print("other metrics that moved, largest relative change first:")
    for name, b, a, rel, unit in timed:
        print(f"  {name:45s} {b:>14.6g} -> {a:<14.6g} {100 * rel:+.1f}% {unit}")
    if not timed:
        print("  none")
    only = sorted(before.keys() ^ after.keys())
    if only:
        print("in one run only: " + ", ".join(only))
    return 0


if __name__ == "__main__":
    sys.exit(main())
