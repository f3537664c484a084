"""Benchmark of the restaurant warehouse's daily load and of its
registered queries.

    python3 perfbench/run.py --workload delta_load --seed 1 --seconds 10 --trace 0

Runs one workload (or ``--workload all``, each in its own process) from
the root of a checkout, checks the outputs and prints, as the last line
of standard output, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics
of BENCHMARK.json; ``--trace 1`` wraps the program's load, KPI and
query calls in spans and reports the per-layer metrics instead, writing
the span tree to ``perfbench/_work/traces/``. The exit code is 0 only when every
check passed; without the program's package next to ``perfbench/`` the
run exits with code 2 and prints no result.
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
EXPECTED = os.path.join(HERE, "expected_kpis.json")
SPEC = os.path.join(ROOT, "BENCHMARK.json")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, help="workload name, or 'all'")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0,
                    help="measuring time; at least one repetition always runs")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=int, default=None,
                    help="override the workload's size: orders per day, or events (self-test sizes)")
    ap.add_argument("--expected", default=EXPECTED,
                    help="recorded KPI value hashes, keyed by workload and seed")
    ap.add_argument("--record", action="store_true",
                    help="write this run's KPI hashes into --expected when its other checks pass")
    return ap.parse_args(argv)


def isolate_environment(work: str) -> None:
    """Keep Spark's and Python's scratch inside the checkout and size
    the local master to the CPUs this process may use."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_TMPDIR"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata_*


def run_all_workloads(args: argparse.Namespace, names: list[str]) -> int:
    """One child process per workload; the last line merges them."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    code = 0
    for name in names:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--expected", args.expected]
        if args.size:
            cmd += ["--size", str(args.size)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print(f"{name}: {lines[-1] if lines else '<no result>'}", flush=True)
        if proc.returncode == 2 or not lines:
            return 2
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            merged["metrics"][f"{name}.{k}"] = v
        code = code or proc.returncode
    print(json.dumps(merged))
    return code


def layer_metrics(run, out, tracer) -> dict[str, tuple[float, str]]:
    """The workload's per-layer metrics, and 0 for every per-layer
    metric of BENCHMARK.json that belongs to a layer the workload does
    not run (the load path on ``query_mix``, the queries on the loads)."""
    with open(SPEC) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    measured = run.layer_metrics(out, tracer)
    unknown = sorted(set(measured) - set(units))
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {unknown}")
    return {k: measured.get(k, (0, u)) for k, u in units.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate_environment(work)  # before the import: the session module reads it
    sys.path[:0] = [ROOT, HERE]
    try:
        import querymix
        import workloads as wl
    except ImportError as e:
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in wl.WORKLOADS:
        shutil.rmtree(work, ignore_errors=True)
        if args.workload == "all":
            return run_all_workloads(args, list(wl.WORKLOADS))
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"expected one of {sorted(wl.WORKLOADS)} or 'all'", file=sys.stderr)
        return 2
    workload = wl.WORKLOADS[args.workload]
    if args.size:
        workload = dataclasses.replace(workload, size=args.size)

    expected = {}
    if os.path.exists(args.expected):
        with open(args.expected) as f:
            expected = json.load(f)

    kind = querymix.QueryRun if workload.name == "query_mix" else wl.LoadRun
    run = kind(workload, args.seed, work, expected)
    metrics: dict[str, tuple[float, str]] = {}
    out = None
    try:
        run.start_session()
        run.generate()
        run.prebuild()
        tracer = wl.Tracer(run.spark.sparkContext) if args.trace else None
        patch = wl.instrument if tracer and kind is wl.LoadRun else lambda _: contextlib.nullcontext()
        t0, rep = time.perf_counter(), 0
        while rep == 0 or (tracer is None and time.perf_counter() - t0 < args.seconds):
            try:
                with patch(tracer):
                    out = run.timed_rep(rep, tracer)
            except Exception as e:  # a failed operation is counted and reported
                run.attempted += 1
                run.problems.append(f"repetition {rep} raised {type(e).__name__}: {e}")
                out = None
                break
            run.check(out)
            rep += 1
        if out is not None and tracer is None:
            metrics = run.end_to_end(out)
        elif out is not None:
            metrics = layer_metrics(run, out, tracer)
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            path = os.path.join(WORK, "traces", f"{workload.name}-seed{args.seed}.json")
            with open(path, "w") as f:
                json.dump({"workload": workload.name, "seed": args.seed,
                           "setup": run.setup, "spans": tracer.to_json()}, f, indent=1)
        if args.record and out is not None and not run.problems and "hashes" in out:
            wl.record_hashes(args.expected, run.hash_key, args.seed, out["hashes"])
    finally:
        run.stop()
        shutil.rmtree(work, ignore_errors=True)

    phases = {**run.setup, **{k: sum(v) for k, v in run.timings.items()}, "checks_s": run.check_s}
    print("perfbench: " + " ".join(f"{k}={v:.2f}" for k, v in phases.items()), file=sys.stderr)
    for p in run.problems:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    attempted = max(run.attempted, 1)
    failed = len(run.problems)
    print(f"error_rate {failed / attempted:.6f} ({failed} of {attempted} checks and operations)")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
