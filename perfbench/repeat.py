"""Runs one workload under several seeds and prints, per metric, the median
and the quartile spread (Q3 - Q1) / median of its values: the steadiness
check the benchmark's bounds are set against.

    python3 perfbench/repeat.py --workload <name> --runs 10 [--first-seed 1]
                                [--seconds 10] [--trace 0]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values = {}
    for seed in range(a.first_seed, a.first_seed + a.runs):
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                              "--workload", a.workload, "--seed", str(seed),
                              "--seconds", str(seconds), "--trace", str(a.trace)],
                             capture_output=True, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", flush=True)
            continue
        res = json.loads(lines[-1])
        host = json.loads(lines[-2])["report"]["host"] if len(lines) > 1 else {}
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                         if k in bounds or a.trace)
              + f" steal={host.get('steal_pct', 0):.1f}%", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        if len(vs) >= 2 and (k in bounds or a.trace) and statistics.median(vs):
            b = bounds.get(k)
            print(f"{k}: median {statistics.median(vs):.6g} spread "
                  f"{stats.quartile_spread(vs):.4f}" + (f" (bound {b})" if b else ""))


if __name__ == "__main__":
    main()
