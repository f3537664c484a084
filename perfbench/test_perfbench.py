"""Self-test of the benchmark: span self time on a synthetic tree, the
exit without the program, and a tiny run of every workload that must
print every metric of BENCHMARK.json with its unit and no failure.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from spans import Span, Tracer, self_times  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
#: self-test sizes: 2,000 orders a day, and 1,000 events (the smallest test tables)
SIZE = {"delta_load": 2000, "query_mix": 1000}


def tiny(workload: str) -> list[str]:
    return ["--seconds", "1", "--size", str(SIZE[workload])]


def test_self_time_subtracts_union_of_children():
    # root [0,10]; a [1,4] and b [3,6] overlap; c [5,5.5] nests in b; d [8,12] overruns root
    spans = [Span(0, "root", None, 0.0, 10.0), Span(1, "a", 0, 1.0, 4.0),
             Span(2, "b", 0, 3.0, 6.0), Span(3, "c", 2, 5.0, 5.5), Span(4, "d", 0, 8.0, 12.0)]
    st = self_times(spans)
    assert st == pytest.approx({0: 10 - 5 - 2, 1: 3.0, 2: 2.5, 3: 0.5, 4: 4.0})


def test_tracer_nests_and_closes_children_left_open():
    tr = Tracer()
    with tr.span("outer") as outer:
        with tr.span("inner"):
            pass
        tr.open("left-open")
    assert [s.parent for s in tr.spans] == [None, outer.id, outer.id]
    assert tr.spans[2].end == outer.end and tr.current() is None
    selfs = self_times(tr.spans)
    total = sum(selfs.values())
    assert total == pytest.approx(outer.duration)


def test_a_job_without_a_group_goes_to_the_window_span_open_at_submission():
    outer = Span(0, "query:a", None, 0.0, 10.0, attrs={"window": True}, wall=1000.0)
    inner = Span(1, "query:b", 0, 2.0, 3.0, attrs={"window": True}, wall=1002.0)
    at = lambda t: Tracer._window_at([outer, inner], t)  # noqa: E731
    assert at("1970-01-01T00:16:42.500GMT") is inner  # 1002.5 s
    assert at("1970-01-01T00:16:45.000GMT") is outer  # 1005 s
    assert at("1970-01-01T00:16:51.000GMT") is None  # 1011 s, after both
    assert at(None) is None


def run(args, cwd=ROOT):
    proc = subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, (json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None)


def test_exits_without_result_when_the_program_is_missing(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "__pycache__"))
    code, result = run(["--workload", "delta_load", "--seed", "1", *tiny("delta_load")], cwd=tmp_path)
    assert code != 0 and result is None


def assert_metrics(result, spec_key):
    want = {m["name"]: m["unit"] for m in SPEC[spec_key]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_reports_every_end_to_end_metric(workload):
    code, result = run(["--workload", workload, "--seed", "7", "--trace", "0", *tiny(workload)])
    assert code == 0 and result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    assert_metrics(result, "end_to_end")
    assert all(v["value"] > 0 for v in result["metrics"].values())


#: per-layer metric prefixes that each workload measures; the rest read 0 there
LAYERS = {
    "delta_load": ("runner.", "snapshot.", "ledger.", "kpis.", "spark.jobs.load", "spark.jobs.kpis",
                   "trace.load_s", "trace.kpi_pass_s"),
    "query_mix": ("query.", "stream.", "spark.jobs.queries"),
}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_traced_run_reports_every_per_layer_metric(workload):
    code, result = run(["--workload", workload, "--seed", "7", "--trace", "1", *tiny(workload)])
    assert code == 0 and result["correct"]
    assert_metrics(result, "per_layer")
    m = {k: v["value"] for k, v in result["metrics"].items()}
    mine = [k for k in m if k.startswith(LAYERS[workload])]
    others = [k for k in m if k.startswith(sum(LAYERS.values(), ())) and k not in mine]
    assert mine and all(m[k] > 0 for k in mine), {k: m[k] for k in mine if not m[k] > 0}
    assert all(m[k] == 0 for k in others)
    assert m["trace.pass_s"] > 0 and m["cpu.pass_s"] > 0 and m["driver.peak_rss_mb"] > 0
    if workload == "delta_load":
        assert m["ledger.skip_ratio"] == 1.0
        assert m["runner.stats_jobs"] >= 20  # two count probes per entity
        assert m["spark.jobs.load"] > m["runner.stats_jobs"]
    else:
        assert m["stream.batches.q164"] >= 3  # three drops, plus the no-data batch
        assert m["spark.jobs.queries"] >= sum(v for k, v in m.items() if k.endswith("_jobs"))


def test_corrupted_expected_hash_fails_the_run(tmp_path):
    expected = tmp_path / "expected.json"
    code, _ = run(["--workload", "delta_load", "--seed", "5", "--expected", str(expected),
                   "--record", *tiny("delta_load")])
    assert code == 0
    data = json.loads(expected.read_text())
    hashes = data["delta_load@2000"]["5"]
    hashes["kpi_summary"] = "0" * len(hashes["kpi_summary"])
    expected.write_text(json.dumps(data))
    code, result = run(["--workload", "delta_load", "--seed", "5", "--expected", str(expected),
                        *tiny("delta_load")])
    assert code == 1 and not result["correct"] and result["failed"] == 1
