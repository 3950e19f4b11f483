"""Compare two sets of benchmark results.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds result files written by ``run.py`` (copies of
``.bench_work/results``). For every workload and metric the table gives
each side's median, its spread (distance between the quartiles as a
share of the median) and the change of the median. Results from hosts
with different core counts are refused: walls do not carry across
core counts.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def load(directory: str) -> list[dict]:
    runs = []
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as f:
            runs.append(json.load(f))
    if not runs:
        raise SystemExit(f"compare: no results in {directory}")
    return runs


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else 0.0


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = load(sys.argv[1]), load(sys.argv[2])
    cores = {r["environment"]["nproc"] for r in base + new}
    if len(cores) != 1:
        print(f"compare: refusing to compare runs on {sorted(cores)} cores",
              file=sys.stderr)
        return 2
    table: dict[tuple[str, str], tuple[list, list]] = {}
    for side, runs in ((0, base), (1, new)):
        for r in runs:
            for name, value in r["metrics"].items():
                key = (r["workload"], name)
                table.setdefault(key, ([], []))[side].append(value)
    print(f"{'workload':16} {'metric':44} {'base':>10} {'new':>10} "
          f"{'change':>8} {'spread b/n':>12} runs")
    for (wl, name), (a, b) in sorted(table.items()):
        if not a or not b:
            continue
        ma, mb = statistics.median(a), statistics.median(b)
        change = f"{(mb - ma) / ma:+.1%}" if ma else "-"
        print(f"{wl:16} {name:44} {ma:10.4g} {mb:10.4g} {change:>8} "
              f"{spread(a):5.1%}/{spread(b):5.1%} {len(a)}/{len(b)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
