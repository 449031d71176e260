"""Compare two sets of result records from ``run.py``.

    python3 perfbench/compare.py BASE.jsonl CHANGE.jsonl

Each file holds the records ``run.py`` appends to
``.perfbench_work/results.jsonl``.  For every workload it prints each
end-to-end metric's median and quartiles on both sides, and the
change's median as a ratio of the base's.  A ratio is printed only
when every record on both sides has the same machine fingerprint
(core count, memory, Spark, Python and Java versions); otherwise the
workload is reported as incomparable, with the fields that differ.
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict

from run import COMPARABLE


def load(path: str) -> dict[str, list[dict]]:
    by_workload = defaultdict(list)
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            if not rec["trace"]:
                by_workload[rec["workload"]].append(rec)
    return by_workload


def machine(rec: dict) -> tuple:
    return tuple(rec["fingerprint"].get(k) for k in COMPARABLE)


def spread(values: list[float]) -> str:
    if len(values) < 2:
        return f"{values[0]:.4g} (n=1)"
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return f"{q2:.4g} [{q1:.4g}, {q3:.4g}] (n={len(values)})"


def compare(base: dict, change: dict) -> None:
    for wl in sorted(set(base) | set(change)):
        a, b = base.get(wl, []), change.get(wl, [])
        machines = {machine(r) for r in a + b}
        print(f"{wl}: base {len(a)} runs, change {len(b)} runs")
        if not a or not b:
            continue
        comparable = len(machines) == 1
        if not comparable:
            diff = [
                k for i, k in enumerate(COMPARABLE) if len({m[i] for m in machines}) > 1
            ]
            print(f"  incomparable: the runs differ in {', '.join(diff)}")
        metrics = set.intersection(*(set(r["end_to_end"]) for r in a + b))
        for metric in sorted(metrics):
            va = [r["end_to_end"][metric] for r in a]
            vb = [r["end_to_end"][metric] for r in b]
            line = f"  {metric:30s} base {spread(va)}  change {spread(vb)}"
            if comparable:
                ratio = statistics.median(vb) / statistics.median(va)
                line += f"  change/base {ratio:.3f}"
            print(line)


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    compare(load(argv[0]), load(argv[1]))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
