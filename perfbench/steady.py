"""Run one workload N times with different seeds and print, for every
end-to-end metric, the median, the quartiles and the spread (quartile
distance as a share of the median) against its bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload ingest_cron --runs 10 [--first-seed 1]

Run from the repository root. Exits 1 if any metric's spread exceeds its
bound, or if any run failed or reported wrong output.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {m["name"]: [] for m in bench["end_to_end"]}
    broken = 0
    for seed in range(args.first_seed, args.first_seed + args.runs):
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"seed {seed}: exit {out.returncode}")
            broken += 1
            continue
        res = json.loads(lines[-1])
        broken += (not res["correct"]) or res["failed"] > 0
        print(f"seed {seed}: attempted={res['attempted']} failed={res['failed']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values[k].append(v["value"])

    over = 0
    print(f"\n{'metric':<16}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>8}")
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        flag = ""
        if spread > m["bound"]:
            flag, over = "  OVER", over + 1
        elif spread > m["bound"] / 3:
            flag = "  >1/3"
        print(f"{m['name']:<16}{med:>12.5g}{q1:>12.5g}{q3:>12.5g}{spread:>9.3f}"
              f"{m['bound']:>8}{flag}")
    return 1 if over or broken else 0


if __name__ == "__main__":
    sys.exit(main())
