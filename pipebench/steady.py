"""Steadiness self-check: run the benchmark as two sets of runs of the
same commit, one seed per run, and report each end-to-end metric's
spread per workload.

    python3 pipebench/steady.py

Set 0 uses seeds 1-10, set 1 seeds 1001-1010, on every workload in
BENCHMARK.json. For each set and metric it prints the median and the
inter-quartile range as a share of the median
(``statistics.quantiles(n=4)``), and how far set 1's median is from set
0's. A metric passes when both spreads are within its bound from
BENCHMARK.json and set 1's median is not worse than set 0's by more
than the bound. Runs are sequential: one Spark session at a time.
Results also go to ``.pipebench_out/steady.json``.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEEDS = 10
SETS = 2


def run_once(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.monotonic()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {out.returncode}: "
                           f"{out.stderr.strip()[-500:]}")
    res = json.loads(lines[-1])
    res["elapsed_s"] = time.monotonic() - t0
    return res


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    lower_better = {m["name"]: m["better"] == "lower" for m in spec["end_to_end"]}
    report: dict = {}
    ok = True
    for workload in (w["name"] for w in spec["workloads"]):
        sets = []
        for s in range(SETS):
            runs = []
            for seed in range(1, SEEDS + 1):
                res = run_once(workload, 1000 * s + seed, spec["run_seconds"])
                runs.append(res)
                print(f"{workload} set {s} seed {1000 * s + seed}: "
                      f"{res['elapsed_s']:.1f} s, correct={res['correct']} "
                      f"failed={res['failed']}/{res['attempted']} "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                      flush=True)
            sets.append(runs)
        rep = report[workload] = {}
        for name, bound in bounds.items():
            per_set = [[r["metrics"][name]["value"] for r in runs] for runs in sets]
            medians = [statistics.median(v) for v in per_set]
            spreads = [spread(v) for v in per_set]
            worse = [((m - medians[0]) if lower_better[name] else (medians[0] - m))
                     / medians[0] for m in medians[1:]]
            good = all(w <= bound for w in worse) and all(s <= bound for s in spreads)
            ok &= good
            rep[name] = {"values": per_set, "medians": medians, "spreads": spreads,
                         "worse_than_first": worse, "bound": bound, "ok": good}
            print(f"  {workload:<18} {name:<14} medians "
                  + " ".join(f"{m:.4g}" for m in medians)
                  + "  spreads " + " ".join(f"{s:.3f}" for s in spreads)
                  + f"  bound {bound}  {'ok' if good else 'OUT OF BOUND'}", flush=True)
        rep["elapsed_s"] = [r["elapsed_s"] for runs in sets for r in runs]
        rep["all_correct"] = all(r["correct"] for runs in sets for r in runs)
        ok &= rep["all_correct"]
    os.makedirs(os.path.join(ROOT, ".pipebench_out"), exist_ok=True)
    with open(os.path.join(ROOT, ".pipebench_out", "steady.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
