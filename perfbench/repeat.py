"""Run workloads once per seed and report each end-to-end metric's median,
quartiles and spread (interquartile distance over the median) against the
bounds in ``BENCHMARK.json``.

    python3 perfbench/repeat.py --seconds 10 --seeds 1-10 transcript_backfill sketch_serve

Runs one after another from the repository root; prints one line per run
and then one JSON summary.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("workloads", nargs="+")
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--seconds", type=int, default=10)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    summary = {}
    for w in args.workloads:
        values: dict[str, list[float]] = {}
        for seed in _seeds(args.seeds):
            t0 = time.time()
            out = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(seed),
                 "--seconds", str(args.seconds), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=300)
            lines = out.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            got = {k: m["value"] for k, m in res["metrics"].items()}
            # the median pass wall time, printed in the run's table (not declared)
            got.update({"wall_s": json.loads(line.split(None, 1)[1])["median"]
                        for line in lines if line.startswith("wall_s ")})
            print(json.dumps({"workload": w, "seed": seed, "elapsed_s": time.time() - t0,
                              "correct": res["correct"], "failed": res["failed"], **got}),
                  flush=True)
            for k, v in got.items():
                values.setdefault(k, []).append(v)
        summary[w] = {}
        for k, vs in values.items():
            if len(vs) < 2:  # quartiles need two values at least
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            summary[w][k] = {"median": med, "q1": q1, "q3": q3,
                             "spread": (q3 - q1) / med, "bound": bounds.get(k)}
    print(json.dumps(summary, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
