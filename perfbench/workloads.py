"""Workloads of the benchmark: inputs, set-up, timed operation,
correctness checks and the traced run's wrappers.

Every workload is a closed loop with one client. ``delta_load`` is
the scheduled daily task: it lands a day of files, calls ``run_all`` on
the day's prefix, re-drops the same prefix (which must stage nothing)
and refreshes the 15-KPI dashboard. Its inputs come only from
``tools/datagen.generate_day`` with the run's seed.
``query_mix`` (``querymix.py``) is one analyst running registered
queries over seeded parquet tables.
"""

from __future__ import annotations

import contextlib
import csv
import functools
import hashlib
import json
import os
import resource
import shutil
import statistics
import time
from dataclasses import dataclass
from datetime import date
from decimal import Decimal

from pyspark.sql import functions as F

from real_time_data_pipeline_for_restaurant_analytics_spark.pipeline import runner
from real_time_data_pipeline_for_restaurant_analytics_spark.pipeline.entities import ENTITIES
from real_time_data_pipeline_for_restaurant_analytics_spark.pipeline.runner import Warehouse, run_all
from real_time_data_pipeline_for_restaurant_analytics_spark.plans.kpis import ALL_KPIS, ConsumptionViews
from real_time_data_pipeline_for_restaurant_analytics_spark.session import get_spark
from real_time_data_pipeline_for_restaurant_analytics_spark.sources.ledger import FileLedger
from real_time_data_pipeline_for_restaurant_analytics_spark.sources.paths import entity_file
from real_time_data_pipeline_for_restaurant_analytics_spark.sources.snapshot import SnapshotTable
from spans import Tracer, self_times
from tools import datagen

DAY1 = date(2024, 5, 1)
DAY2 = date(2024, 5, 2)


@dataclass(frozen=True)
class Workload:
    name: str
    size: int  # orders of a full day (delta_load), events (query_mix)
    days: tuple = ()  # ((date, delta_frac), ...) landed in order; the last is timed


WORKLOADS = {
    w.name: w
    for w in (
        Workload("delta_load", 2_500, ((DAY1, 0.0), (DAY2, 0.1))),
        Workload("query_mix", 2_000),
    )
}

#: Leading key columns of each landed file (the clean table's key).
KEY_COLUMNS = {"delivery": 3, "order_item": 3}


def value_hash(rows) -> str:
    """Order-insensitive hash of collected rows: columns by name, cells
    canonicalised as in the repo's oracle checks, floats to 9 significant
    digits (their summation order follows the partitioning)."""

    def canon(v) -> str:
        if v is None:
            return "<NULL>"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, float):
            return format(v, ".9g")
        return str(v)

    lines = sorted(
        "\x1f".join(f"{k}={canon(v)}" for k, v in sorted(r.asDict().items())) for r in rows
    )
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


# ---------------------------------------------------------------------------
# Independent expectations from the landed files
# ---------------------------------------------------------------------------


def _rows(prefix: str, spec) -> list[list[str]]:
    path = entity_file(prefix, spec.source_file_stem, spec.ext)
    with open(path, newline="") as f:
        if spec.ext == "json":
            return [list(json.loads(line).values()) for line in f if line.strip()]
        rows = csv.reader(f)
        next(rows)
        return list(rows)


def landed_expectations(prefixes: list[str]) -> dict:
    """Distinct keys per entity over all landed days, and the headline
    order KPIs recomputed from the latest landed version of each order."""
    keys = {}
    for name, spec in ENTITIES.items():
        k = KEY_COLUMNS.get(name, 1)
        keys[name] = len({tuple(r[:k]) for p in prefixes for r in _rows(p, spec)})
    latest = {}
    for p in prefixes:  # later days carry later ModifiedDate values
        for r in _rows(p, ENTITIES["orders"]):
            latest[r[0]] = r
    done = [r for r in latest.values() if r[8] != "Cancelled"]
    return {
        "clean_rows": keys,
        "total_orders": len(done),
        "total_revenue": sum((Decimal(r[7]) for r in done), Decimal("0.00")),
    }


def record_hashes(path: str, key: str, seed: int, hashes: dict) -> None:
    """Store one run's KPI hashes under ``key`` (workload@size) and seed."""
    data = {}
    if os.path.exists(path):
        with open(path) as f:
            data = json.load(f)
    data.setdefault(key, {})[str(seed)] = hashes
    with open(path, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")


# ---------------------------------------------------------------------------
# The run
# ---------------------------------------------------------------------------


class Run:
    """One benchmark process: session, checks and process metrics.
    Subclasses add ``generate``, ``prebuild``, ``timed_rep``, ``check``,
    ``end_to_end`` and ``layer_metrics``."""

    def __init__(self, workload: Workload, seed: int, work: str, expected: dict):
        self.w = workload
        self.seed = seed
        self.work = work
        self.expected = expected
        self.problems: list[str] = []
        self.attempted = 0
        self.timings: dict[str, list[float]] = {}
        self.setup: dict[str, float] = {}
        self.check_s = 0.0
        self.spark = None

    @property
    def hash_key(self) -> str:
        """Recorded hashes are per workload, size and seed."""
        return f"{self.w.name}@{self.w.size}"

    def expect(self, ok: bool, msg: str) -> None:
        """One correctness check; a failure is one entry in ``problems``."""
        self.attempted += 1
        if not ok:
            self.problems.append(msg)

    def timed(self, key: str, t0: float) -> None:
        self.timings.setdefault(key, []).append(time.perf_counter() - t0)

    def start_session(self) -> None:
        t = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.w.name}",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "5000",
                "spark.ui.retainedStages": "10000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.setup["session_s"] = time.perf_counter() - t

    def _jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def cpu_s(self) -> float:
        """CPU seconds used so far by the driver JVM, which runs the
        local executors, and by this process."""
        with open(f"/proc/{self._jvm_pid()}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        t = os.times()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK") + t.user + t.system

    def peak_rss_mb(self) -> float:
        """Driver JVM peak resident set plus this process's."""
        jvm_kb = 0
        with open(f"/proc/{self._jvm_pid()}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0

    def stop(self) -> None:
        """Stop Spark and wait for the driver JVM to exit."""
        if self.spark is None:
            return
        proc = self.spark.sparkContext._gateway.proc
        self.spark.stop()
        proc.stdin.close()  # the JVM exits when its parent's pipe closes
        proc.wait(timeout=60)


class LoadRun(Run):
    """``delta_load``: every day but the last is loaded in set-up; the
    last is timed as load, re-drop and KPI pass."""

    def generate(self) -> None:
        """Land every day of the workload."""
        t = time.perf_counter()
        root = os.path.join(self.work, "land")
        self.prefixes = [
            datagen.generate_day(root, d, self.w.size, seed=self.seed, delta_frac=f)
            for d, f in self.w.days
        ]
        self.setup["datagen_s"] = time.perf_counter() - t

    def prebuild(self) -> None:
        """Load the leading days once, through the same path as the
        timed load, and keep a pristine copy that every timed
        repetition starts from."""
        self.pristine = os.path.join(self.work, "wh_pristine")
        t = time.perf_counter()
        for p in self.prefixes[:-1]:
            self.load(Warehouse(self.pristine), p)
        self.setup["prebuild_s"] = time.perf_counter() - t

    def load(self, wh, prefix):
        """The daily task: ``run_all`` over the ten entities with the
        runner's own fan-out (``parallel=True``); stats and the merge
        plans are the product defaults."""
        return run_all(self.spark, wh, prefix, parallel=True)

    def kpi_pass(self, wh, span) -> tuple[dict, dict, dict]:
        """One dashboard refresh: every ``ALL_KPIS`` entry, collected.
        Returns per-KPI seconds, value hashes and the ``kpi_summary`` row."""
        cv = ConsumptionViews(self.spark, wh)
        times, hashes = {}, {}
        for name, build in ALL_KPIS.items():
            t = time.perf_counter()
            with span(f"kpi:{name}"):
                rows = build(cv).collect()
            times[name] = time.perf_counter() - t
            hashes[name] = value_hash(rows)
            if name == "kpi_summary":
                summary = rows[0].asDict()
        return times, hashes, summary

    def timed_rep(self, rep: int, tracer: Tracer | None = None) -> dict:
        """Restore the pre-built warehouse, load the workload's last day,
        re-drop it, refresh the KPIs. Returns what the checks need."""
        wh_dir = os.path.join(self.work, f"wh{rep}")
        shutil.rmtree(wh_dir, ignore_errors=True)
        shutil.copytree(self.pristine, wh_dir)
        wh, day = Warehouse(wh_dir), self.prefixes[-1]

        def span(name):
            return tracer.span(name) if tracer else contextlib.nullcontext()

        t0, c0 = time.perf_counter(), self.cpu_s()
        with span("run_all") as load_span:
            results = self.load(wh, day)
        self.timed("load_s", t0)
        with span("redrop") as redrop_span:
            redrop = self.load(wh, day)
        t = time.perf_counter()
        with span("kpi_pass") as kpi_span:
            kpi_times, hashes, summary = self.kpi_pass(wh, span)
        self.timed("kpi_pass_s", t)
        self.timed("pass_s", t0)
        self.timings.setdefault("cpu_s", []).append(self.cpu_s() - c0)
        return {
            "wh": wh, "results": results, "redrop": redrop, "hashes": hashes,
            "kpi_times": kpi_times, "kpi_summary": summary,
            "spans": {"run_all": load_span, "redrop": redrop_span, "kpi_pass": kpi_span},
        }

    # -- checks --------------------------------------------------------------

    def check(self, rep: dict) -> None:
        """Every correctness check of one repetition."""
        t0 = time.perf_counter()
        exp = landed_expectations(self.prefixes)
        expect = self.expect
        for r in rep["redrop"]:
            expect(r["staged_files"] == 0, f"re-drop staged {r['staged_files']} file(s) for {r['entity']}")
        counts = []  # one Spark action counts the current rows of every consumption table
        for e in ENTITIES:
            dim = rep["wh"].dim(e).read(self.spark)
            cur = dim.filter(F.col("is_current")) if "is_current" in dim.columns else dim
            counts.append(cur.agg(F.count(F.lit(1)).alias("n")).withColumn("entity", F.lit(e)))
        current = {r["entity"]: r["n"] for r in functools.reduce(
            lambda a, b: a.unionByName(b), counts).collect()}
        for r in rep["results"]:
            e, clean = r["entity"], r.get("clean_rows")
            want = exp["clean_rows"][e]
            expect(clean == want, f"{e}: clean rows {clean} != {want} keys landed")
            expect(current[e] == clean, f"{e}: current dim rows {current[e]} != clean rows {clean}")
        summ = rep["kpi_summary"]
        expect(summ["total_orders"] == exp["total_orders"],
               f"kpi_summary.total_orders {summ['total_orders']} != {exp['total_orders']} landed")
        expect(summ["total_revenue"] == exp["total_revenue"],
               f"kpi_summary.total_revenue {summ['total_revenue']} != {exp['total_revenue']} landed")
        recorded = self.expected.get(self.hash_key, {}).get(str(self.seed))
        if recorded is not None:
            for name, h in rep["hashes"].items():
                expect(recorded.get(name) == h, f"{name}: value hash {h} != recorded {recorded.get(name)}")
        self.check_s += time.perf_counter() - t0

    # -- metrics ---------------------------------------------------------------

    def end_to_end(self, rep: dict) -> dict[str, tuple[float, str]]:
        """End-to-end metrics of the run, ``name → (value, unit)``."""
        landed = sum(dir_bytes(p) for p in self.prefixes)
        return {
            "pass_s": (statistics.median(self.timings["pass_s"]), "s"),
            "setup_s": (sum(self.setup.values()), "s"),
            "storage_amplification": (dir_bytes(rep["wh"].root) / landed, "ratio"),
        }

    def layer_metrics(self, rep: dict, tracer: Tracer) -> dict[str, tuple[float, str]]:
        """Per-layer metrics of one traced repetition, ``name → (value, unit)``."""
        tracer.attribute_spark()
        load, redrop, kpis = (rep["spans"][k] for k in ("run_all", "redrop", "kpi_pass"))
        load_spans, redrop_spans = tracer.subtree(load), tracer.subtree(redrop)
        m: dict[str, tuple[float, str]] = {}
        for s in load_spans:
            if s.parent == load.id and s.name.startswith("run_entity:"):
                e = s.attrs["entity"]
                m[f"runner.entity_s.{e}"] = (s.duration, "s")
                m[f"runner.entity_executor_s.{e}"] = (tracer.subtree_spark(s)["executor_run_s"], "s")
        stats = [s for s in load_spans if s.name == "runner.stats"]
        m["runner.self_s"] = (self_times(tracer.spans)[load.id], "s")
        m["runner.stats_jobs"] = (sum(s.spark["jobs"] for s in stats), "count")
        m["runner.stats_s"] = (sum(s.duration for s in stats), "s")
        writes = [s for s in load_spans if s.name.startswith("snapshot.write:")]
        for layer in ("clean", "consumption"):
            m[f"snapshot.write_s.{layer}"] = (
                sum(s.duration for s in writes if s.attrs["layer"] == layer), "s")
        m["snapshot.write_count"] = (len(writes), "count")
        m["snapshot.rewrite_ratio"] = (
            sum(s.attrs["bytes"] for s in writes) / dir_bytes(self.prefixes[-1]), "ratio")
        ledger = [s for s in load_spans + redrop_spans if s.name.startswith("ledger.")]
        m["ledger.s"] = (sum(s.duration for s in ledger), "s")
        checks = [s for s in redrop_spans if s.name == "ledger.unprocessed"]
        m["ledger.skip_ratio"] = (
            sum(s.attrs["candidates"] - s.attrs["todo"] for s in checks)
            / max(1, sum(s.attrs["candidates"] for s in checks)), "ratio")
        for name, t in rep["kpi_times"].items():
            m[f"kpis.{name}_s"] = (t, "s")
        for part, root in (("load", load), ("kpis", kpis)):
            for k, v in tracer.subtree_spark(root).items():
                m[f"spark.{k}.{part}"] = (v, spark_unit(k))
        m["driver.peak_rss_mb"] = (self.peak_rss_mb(), "MB")
        m["cpu.pass_s"] = (self.timings["cpu_s"][-1], "s")
        m["trace.pass_s"] = (self.timings["pass_s"][-1], "s")
        m["trace.load_s"] = (load.duration, "s")
        m["trace.kpi_pass_s"] = (kpis.duration, "s")
        m["trace.spans"] = (len(tracer.spans), "count")
        return m


def spark_unit(field: str) -> str:
    return "s" if field.endswith("_s") else "bytes" if field.endswith("_bytes") else "count"


# ---------------------------------------------------------------------------
# Traced run
# ---------------------------------------------------------------------------


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap the load path's public calls in spans: ``run_entity``,
    ``SnapshotTable.write``, ``FileLedger.unprocessed`` and ``mark``.
    After ``mark`` returns, a ``runner.stats`` span stays open until
    ``run_entity`` returns, so it covers the post-load count probes."""

    def run_entity(orig):
        def wrapped(spark, wh, spec, *args, **kwargs):
            with tracer.span(f"run_entity:{spec.name}", entity=spec.name):
                return orig(spark, wh, spec, *args, **kwargs)
        return wrapped

    def write(orig):
        def wrapped(table, df, *args, **kwargs):
            layer = os.path.basename(os.path.dirname(table.dir))
            with tracer.span(f"snapshot.write:{layer}", table=table.name, layer=layer) as s:
                version = orig(table, df, *args, **kwargs)
            s.attrs["bytes"] = dir_bytes(table._path(version))
            return version
        return wrapped

    def unprocessed(orig):
        def wrapped(ledger, candidates):
            with tracer.span("ledger.unprocessed") as s:
                todo = orig(ledger, candidates)
            s.attrs.update(candidates=len(candidates), todo=len(todo))
            return todo
        return wrapped

    def mark(orig):
        def wrapped(ledger, paths):
            with tracer.span("ledger.mark"):
                orig(ledger, paths)
            tracer.open("runner.stats")  # closed with the enclosing run_entity
        return wrapped

    with contextlib.ExitStack() as stack:
        stack.enter_context(tracer.patch(runner, "run_entity", run_entity))
        stack.enter_context(tracer.patch(SnapshotTable, "write", write))
        stack.enter_context(tracer.patch(FileLedger, "unprocessed", unprocessed))
        stack.enter_context(tracer.patch(FileLedger, "mark", mark))
        yield
