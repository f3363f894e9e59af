"""Benchmark entry point.

    python3 perfbench/run.py --workload {olap,ingest} --seed N \\
        --seconds S --trace {0,1}

Runs one workload in this fresh process on local[nproc] over the
bundled sf0.1 tables, checks every output, stops the session and waits
for the JVM and every Python worker to exit, then prints a detail line
and, last, the result line:
{"correct", "attempted", "failed", "metrics"} with the end-to-end
metrics (--trace 0) or the per-layer metrics (--trace 1).
Exits non-zero on a wrong output or when the engine is not importable.
"""

import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import time  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import procs  # noqa: E402


def manifest_units(key: str) -> dict[str, str]:
    """name → unit of every BENCHMARK.json metric under ``key``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[key]}


def manifest_mismatch(metrics: dict, key: str) -> str | None:
    """Why ``metrics`` (the result line's) is not exactly the manifest's
    ``key`` metrics in their units, or None."""
    want = manifest_units(key)
    got = {k: m["unit"] for k, m in metrics.items()}
    if got == want:
        return None
    return f"metrics {sorted(got.items())} do not match BENCHMARK.json {key} {sorted(want.items())}"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["olap", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    from perfbench.session import Session
    from perfbench.workloads import PYTHON_POOL, WORKLOADS

    steal0 = procs.host_steal_seconds()
    s = Session.open(args.workload, args.seed, bool(args.trace), args.workload in PYTHON_POOL)
    try:
        res = WORKLOADS[args.workload](s, args.seed, args.seconds)
    finally:
        t0 = time.perf_counter()
        killed = s.close()
    res.detail["teardown_s"] = round(time.perf_counter() - t0, 3)
    if killed:
        res.mismatches.append(f"processes still running after stop: {killed}")
    res.metrics["setup_s"] = (s.setup_s, "s")

    # every manifest metric, in its unit; a layer the workload does not
    # exercise reads 0
    if args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in res.layers.items()}
        for k, u in manifest_units("per_layer").items():
            metrics.setdefault(k, {"value": 0.0, "unit": u})
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in res.metrics.items()}
    err = manifest_mismatch(metrics, "per_layer" if args.trace else "end_to_end")
    if err:
        print(f"perfbench: {err}", file=sys.stderr)
        return 2
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host_steal_s": round(procs.host_steal_seconds() - steal0, 2),
        "setup_phases_s": {k: round(v, 3) for k, v in s.phases.items()},
        "end_to_end": {k: round(v, 4) for k, (v, _) in res.metrics.items()},
        "mismatches": res.mismatches[:20],
        **res.detail,
    }
    print(json.dumps({"perfbench_detail": detail}))
    correct = not res.mismatches
    print(json.dumps({"correct": correct, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
