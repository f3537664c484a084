"""Run the benchmark over several seeds and summarise each metric.

    python3 perfbench/spread.py --workloads delta_load query_mix --seeds 1-10 \
        --out perfbench/_work/spread.json

For every workload and metric it reports the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the spread, the distance
between the quartiles as a share of the median. Runs are sequential,
one process each, exactly as ``BENCHMARK.json`` invokes them.
``--record`` passes ``--record`` to every run, so each seed's KPI
hashes are written once its other checks pass (a seed already recorded
is checked against its hashes first).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seed_list(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarise(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "n": len(values)}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", type=seed_list, default=seed_list("1-10"))
    ap.add_argument("--seconds", type=int, default=None,
                    help="default: run_seconds from BENCHMARK.json")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        seconds = args.seconds or json.load(f)["run_seconds"]

    report = {}
    for w in args.workloads:
        runs = []
        for seed in args.seeds:
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace),
                 *(["--record"] if args.record else [])],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
            res = json.loads(last) if last.startswith("{") else {}
            res["seed"], res["exit"] = seed, proc.returncode
            runs.append(res)
            print(w, seed, proc.returncode, json.dumps(res.get("metrics", {})), flush=True)
        names = sorted({k for r in runs for k in r.get("metrics", {})})
        report[w] = {
            "runs": runs,
            "metrics": {
                k: summarise([r["metrics"][k]["value"] for r in runs if k in r.get("metrics", {})])
                for k in names
            },
            "all_correct": all(r.get("correct") for r in runs),
        }
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    for w, rep in report.items():
        for k, s in rep["metrics"].items():
            print(f"{w:14s} {k:24s} median {s['median']:.4g}  spread {s['spread']:.3f}")
    return 0 if all(r["all_correct"] for r in report.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
