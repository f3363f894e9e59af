"""Summarize saved benchmark runs.

    python3 perfbench/summarize.py DIR [DIR ...]

DIR holds one ``<workload>-<seed>.out`` file per run: the stdout of
``perfbench/run.py``. Prints, per workload and metric, the run count,
median, first and third quartile and the quartile spread as a share of
the median (``statistics.quantiles(values, n=4)``) — the result line's
metrics, then, in parentheses, the detail line's workload-specific
parts — and last the host steal seconds each run recorded.
"""

import glob
import json
import os
import statistics
import sys
from collections import defaultdict


def load(dirs):
    runs = []
    for d in dirs:
        for f in sorted(glob.glob(os.path.join(d, "*.out"))):
            lines = open(f).read().strip().splitlines()
            if len(lines) < 2:
                print(f"{f}: no result line")
                continue
            res = json.loads(lines[-1])
            det = json.loads(lines[-2])["perfbench_detail"]
            runs.append((det, res))
    return runs


def main(dirs) -> None:
    vals = defaultdict(list)
    steal = defaultdict(list)
    for det, res in load(dirs):
        w = det["workload"]
        if not res["correct"]:
            print(f"{w} seed {det['seed']}: WRONG OUTPUT {det['mismatches']}")
        for k, v in res["metrics"].items():
            vals[(w, k)].append(v["value"])
        # the workload-specific parts of the end-to-end values, ungated
        for k, v in det.get("parts", {}).items():
            vals[(w, f"({k})")].append(v)
        steal[w].append(det["host_steal_s"])
    print(f"{'workload':9} {'metric':30} {'n':>3} {'median':>14} {'q1':>14} {'q3':>14} {'spread':>7}")
    for (w, k), v in sorted(vals.items()):
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (v[0], 0, v[0])
        spread = (q3 - q1) / med if med else 0.0
        print(f"{w:9} {k:30} {len(v):3d} {med:14.4f} {q1:14.4f} {q3:14.4f} {spread:7.3f}")
    for w, s in sorted(steal.items()):
        print(f"{w}: host steal s per run {s}")


if __name__ == "__main__":
    main(sys.argv[1:])
