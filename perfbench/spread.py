"""Run-to-run spread of the end-to-end metrics, as the acceptance check
computes it: for each metric, the distance between the first and third
quartile of its values over seeds, as a share of their median.

    python3 perfbench/spread.py --workload olap-sf0.1 --seeds 1 2 3 4 5

Each seed is one fresh ``run.py`` process; results are printed as one
JSON line per run and a summary per metric.
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
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
               args.workload, "--seed", str(seed), "--seconds", str(seconds),
               "--trace", "0"]
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
        print(proc.returncode, last, flush=True)
        if proc.returncode != 0:
            return proc.returncode
        for k, v in json.loads(last)["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        print(f"{k:14s} median {med:10.4f}  iqr/median {(q3 - q1) / med:7.2%}"
              f"  bound {bounds.get(k, float('nan')):.0%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
