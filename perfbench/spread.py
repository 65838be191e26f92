"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload live_tcp --seeds 1-10

Runs the benchmark once per seed, one run at a time, and prints for each
end-to-end metric its median and quartiles (``statistics.quantiles``,
n=4) and the spread (q3 - q1) / median next to a third of the metric's
bound. Seeds whose run was invalid twice (exit code 3) are reported and
left out.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--out", help="append each run's record to this JSON-lines file")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {m["name"]: [] for m in bench["end_to_end"]}
    walls, invalid, failed = [], [], []
    for seed in seeds(args.seeds):
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True,
        )
        walls.append(time.time() - t0)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode == 3:
            invalid.append(seed)
            print(f"seed {seed}: invalid twice, no result\n{proc.stderr[-500:]}",
                  file=sys.stderr)
            continue
        if proc.returncode != 0 or len(lines) < 2:
            failed.append(seed)
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            continue
        context, result = json.loads(lines[-2])["context"], json.loads(lines[-1])
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"context": context, "result": result}) + "\n")
        print(f"seed {seed}: {walls[-1]:.0f} s, correct={result['correct']}, "
              f"discarded={context['discarded']}", file=sys.stderr)
        for name, m in result["metrics"].items():
            values[name].append(m["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {"workload": args.workload, "invalid_seeds": invalid, "failed_seeds": failed,
              "wall_s_median": statistics.median(walls), "metrics": {}}
    for name, vals in values.items():
        if len(vals) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        report["metrics"][name] = {
            "median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
            "third_of_bound": bounds[name] / 3,
        }
    print(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
