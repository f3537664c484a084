"""The ``query_mix`` workload: one analyst running a fixed set of
registered queries (``registry.all_queries()``) over seeded tables.

The set covers the three layers that only registered queries reach:

- ``operators.dedup`` / ``similarity`` pair kernels: q20, exact n-gram
  Jaccard pairs through the sorted-id pair walk;
- ``pipeline.replay``: q147, a JSON-sourced entity replayed for three
  days through ``run_all`` and read back as digests;
- ``streaming.windows``: q164, a watermarked window aggregation drained
  as ordered ``availableNow`` micro-batches.

Each query is built and collected once per pass, in that order. Every
result is checked against the query's DuckDB oracle on the same files,
with the canonicalisation of ``tests/oracle_check.py``.
"""

from __future__ import annotations

import os
import statistics
import time
from datetime import datetime

import duckdb
from pyspark.sql.streaming import StreamingQueryListener

import querydata
from real_time_data_pipeline_for_restaurant_analytics_spark.registry import all_queries
from spans import SPARK_FIELDS, Tracer
from tests.oracle_check import _canon
from workloads import Run, dir_bytes, spark_unit

QUERIES = (
    "q20_ngram_jaccard_pairs",
    "q147_json_entity_replay",
    "q164_watermark_window_replay",
)
STREAMING = ("q164",)
TABLES = ("documents", "customer", "events")


def short(name: str) -> str:
    return name.split("_", 1)[0]


class StreamProgress(StreamingQueryListener):
    """Keeps ``(trigger start, triggerExecution ms)`` of every
    micro-batch that any streaming query reports."""

    def __init__(self):
        self.batches: list[tuple[float, float]] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        start = datetime.strptime(p.timestamp.replace("Z", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z")
        self.batches.append((start.timestamp(), float(p.durationMs.get("triggerExecution", 0))))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def settle(self, quiet_s: float = 1.0, limit_s: float = 15.0) -> None:
        """Wait until no progress event has arrived for ``quiet_s``:
        the listener bus delivers them asynchronously."""
        deadline, seen = time.monotonic() + limit_s, -1
        while time.monotonic() < deadline and seen != len(self.batches):
            seen = len(self.batches)
            time.sleep(quiet_s)


class QueryRun(Run):
    """One pass over ``QUERIES`` per repetition."""

    def generate(self) -> None:
        t = time.perf_counter()
        self.sf_dir = querydata.generate(os.path.join(self.work, "tables"), self.w.size, self.seed)
        self.setup["datagen_s"] = time.perf_counter() - t
        self.queries = {name: all_queries()[name] for name in QUERIES}
        self.scratch = os.environ["SPARK_GRAFT_TMPDIR"]
        self.listener = None

    def prebuild(self) -> None:
        pass

    def scratch_bytes(self) -> int:
        """Bytes the replays keep: landing drops, warehouses, stream
        checkpoints, state and sinks."""
        return sum(dir_bytes(os.path.join(self.scratch, d))
                   for d in os.listdir(self.scratch) if d.startswith("spark_graft_"))

    def timed_rep(self, rep: int, tracer: Tracer | None = None) -> dict:
        if tracer and self.listener is None:
            self.listener = StreamProgress()
            self.spark.streams.addListener(self.listener)
        before = self.scratch_bytes()
        rows, times, spans, windows = {}, {}, {}, {}
        t_rep, c_rep = time.perf_counter(), self.cpu_s()
        for name, q in self.queries.items():
            t, w = time.perf_counter(), time.time()
            if tracer:
                with tracer.span(f"query:{short(name)}", window=True) as spans[name]:
                    df = q.build(self.spark, self.sf_dir)
                    rows[name] = (sorted(df.columns), df.collect())
            else:
                df = q.build(self.spark, self.sf_dir)
                rows[name] = (sorted(df.columns), df.collect())
            times[name] = time.perf_counter() - t
            windows[name] = (w, time.time())
        self.timed("pass_s", t_rep)
        self.timings.setdefault("cpu_s", []).append(self.cpu_s() - c_rep)
        return {"rows": rows, "times": times, "spans": spans, "windows": windows,
                "written": self.scratch_bytes() - before}

    def check(self, rep: dict) -> None:
        """Each query's rows against its DuckDB oracle: same sorted
        column names, same row count, same canonical rows."""
        t0 = time.perf_counter()
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        for name, (cols, srows) in rep["rows"].items():
            self.expect(len(srows) > 0, f"{name}: no rows")
            res = con.execute(self.queries[name].oracle)
            duck_cols = [d[0] for d in res.description]
            drows = res.fetchall()
            if sorted(duck_cols) != cols:
                self.expect(False, f"{name}: columns spark={cols} duck={sorted(duck_cols)}")
                continue
            idx = [duck_cols.index(c) for c in cols]
            s_set = sorted(tuple(_canon(r[c]) for c in cols) for r in srows)
            d_set = sorted(tuple(_canon(r[i]) for i in idx) for r in drows)
            bad = [(a, b) for a, b in zip(s_set, d_set) if a != b]
            self.expect(s_set == d_set, f"{name}: {len(bad)} of {len(s_set)} rows differ from "
                        f"the oracle's {len(d_set)}; first: {bad[:1]}")
        con.close()
        self.check_s += time.perf_counter() - t0

    def end_to_end(self, rep: dict) -> dict[str, tuple[float, str]]:
        return {
            "pass_s": (statistics.median(self.timings["pass_s"]), "s"),
            "setup_s": (sum(self.setup.values()), "s"),
            "storage_amplification": (rep["written"] / dir_bytes(self.sf_dir), "ratio"),
        }

    def layer_metrics(self, rep: dict, tracer: Tracer) -> dict[str, tuple[float, str]]:
        self.listener.settle()
        tracer.attribute_spark()
        m: dict[str, tuple[float, str]] = {}
        totals = dict.fromkeys(SPARK_FIELDS, 0)
        for name, span in rep["spans"].items():
            q = short(name)
            spark = tracer.subtree_spark(span)
            m[f"query.{q}_s"] = (rep["times"][name], "s")
            m[f"query.{q}_jobs"] = (spark["jobs"], "count")
            for k, v in spark.items():
                totals[k] += v
            if q in STREAMING:
                lo, hi = rep["windows"][name]
                trig = [ms for t, ms in self.listener.batches if lo <= t <= hi]
                m[f"stream.batches.{q}"] = (len(trig), "count")
                m[f"stream.trigger_ms.{q}"] = (statistics.median(trig) if trig else 0.0, "ms")
        for k, v in totals.items():
            m[f"spark.{k}.queries"] = (v, spark_unit(k))
        m["driver.peak_rss_mb"] = (self.peak_rss_mb(), "MB")
        m["cpu.pass_s"] = (self.timings["cpu_s"][-1], "s")
        m["trace.pass_s"] = (self.timings["pass_s"][-1], "s")
        m["trace.spans"] = (len(tracer.spans), "count")
        return m
