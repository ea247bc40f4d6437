"""Compare two sets of benchmark results, metric by metric.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds result files written by run.py (``.perfbench/results``
copied aside per commit). Prints, per workload and metric, both medians
and NEW/BASE. Refuses results taken at different core counts.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
from collections import defaultdict


def load(d: str) -> tuple[dict, set]:
    """{(workload, trace): {metric: [values]}} and the core counts seen."""
    out: dict = defaultdict(lambda: defaultdict(list))
    cores = set()
    for path in glob.glob(os.path.join(d, "*.json")):
        with open(path) as f:
            r = json.load(f)
        env = r["env"]
        cores.add((env["nproc"], env["SPARK_GRAFT_CPUS"]))
        for name, m in r["metrics"].items():
            out[(env["workload"], env["trace"])][name].append(m["value"])
    return out, cores


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__)
        return 2
    (base, base_cores), (new, new_cores) = load(argv[0]), load(argv[1])
    if len(base_cores | new_cores) != 1:
        print(f"refusing: results span core counts {sorted(base_cores | new_cores)}"
              " (nproc, SPARK_GRAFT_CPUS)")
        return 1
    for key in sorted(set(base) & set(new)):
        print(f"== {key[0]} (trace {key[1]})")
        for name in base[key]:
            if name not in new[key]:
                continue
            b = statistics.median(base[key][name])
            n = statistics.median(new[key][name])
            ratio = n / b if b else float("nan")
            print(f"  {name:30s} {b:12.6g} -> {n:12.6g}  x{ratio:.3f}"
                  f"  (runs {len(base[key][name])}/{len(new[key][name])})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
