#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's metrics.

    python3 perfbench/spread.py --workload W --seeds 1 2 3 ... [--trace 0|1]

Runs run.py once per seed (run_seconds from BENCHMARK.json) and prints, for
each metric, its median and the distance between the first and third
quartile as a share of the median (statistics.quantiles(values, n=4)), next
to the metric's bound. One JSON line per run goes to stderr.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    values = {}
    for seed in a.seeds:
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", a.workload, "--seed", str(seed),
                            "--seconds", str(spec["run_seconds"]),
                            "--trace", str(a.trace)],
                           cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True)
        line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
        print(json.dumps({"seed": seed, "wall_s": round(time.time() - t0, 1),
                          "rc": p.returncode, "result": json.loads(line)}),
              file=sys.stderr, flush=True)
        res = json.loads(line)
        if p.returncode != 0 or not res.get("correct"):
            print(f"seed {seed}: rc={p.returncode} correct={res.get('correct')}")
        for k, v in res.get("metrics", {}).items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2:
            q1, _, q3 = statistics.quantiles(vs, n=4)
            iqr = f"{(q3 - q1) / med:.4f}" if med else "n/a"
        else:
            iqr = "n/a"
        print(f"{k:40s} median={med:.6g} iqr/median={iqr} bound={bounds.get(k)}")


if __name__ == "__main__":
    main()
