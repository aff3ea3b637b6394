"""Per-layer metrics for a traced run (``--trace 1``).

Two sources, both outside the program:

* wrappers, installed from here around the public functions of each
  layer; each call is a span that records its self time (its duration
  minus the spans it encloses) and tags the Spark jobs it starts with a
  local property, ``perfbench.layer``;
* Spark's event log, written uncompressed and non-rolling (Spark's
  default codec, zstd, has no reader in this environment), parsed after
  the session stops: jobs, stages, tasks, executor run/CPU/GC time,
  shuffle and spill bytes.

Only calls and jobs inside the timed window count, and every metric is
reported per batch of that window.  Layers a workload does not reach
report 0.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict

from etl_world_banks_with_python_and_postgresql_spark import committer, pipeline
from etl_world_banks_with_python_and_postgresql_spark.operators import merge
from etl_world_banks_with_python_and_postgresql_spark.sources import html_table, sinks
from etl_world_banks_with_python_and_postgresql_spark.sources.incremental import (
    IncrementalTable,
)

from .etl import dir_files as files_under

LAYER_PROP = "perfbench.layer"

# spans reported as <name>_s, self seconds per batch
SPAN_METRICS = [
    "html_table.parse", "html_table.to_frame",
    "merge.classify", "merge.counters", "merge.deactivate",
    "sinks.write_snapshot", "sinks.footer", "sinks.append_log", "sinks.read_snapshot",
    "incremental.merge_batch", "incremental.read", "incremental.write_delta",
    "incremental.compact", "incremental.vacuum",
    "committer.commit",
]
SPARK_METRICS = [
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
    ("spark.jvm_gc_s", "s"), ("spark.shuffle_write_bytes", "B"),
    ("spark.spill_bytes", "B"), ("spark.driver_s", "s"),
]

# the run's own figures under tracing: minus an untraced run's, they give
# the tracing overhead
TRACED = ("batch_cpu_p50_s", "batch_p50_s", "read_p50_s", "rows_per_s")


def event_log_conf(path: str) -> dict[str, str]:
    os.makedirs(path, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": path,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.log_dir = self.sc.getConf().get("spark.eventLog.dir").removeprefix("file:")
        self.totals: dict[str, float] = defaultdict(float)
        self.counts: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        # run_pipeline's two table legs run on two threads
        self._lock = threading.Lock()
        self.active = False
        self.window = (0.0, 0.0)
        self._install()

    # --- spans ---------------------------------------------------------

    def _span(self, name: str, fn, after=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            stack = getattr(tracer._local, "stack", None)
            if stack is None:
                stack = tracer._local.stack = []
            prev = tracer.sc.getLocalProperty(LAYER_PROP)
            tracer.sc.setLocalProperty(LAYER_PROP, name)
            stack.append(0.0)
            t0 = time.perf_counter()
            try:
                result = fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                child = stack.pop()
                if stack:
                    stack[-1] += dt
                tracer.sc.setLocalProperty(LAYER_PROP, prev)
                if tracer.active:
                    with tracer._lock:
                        tracer.totals[name] += dt - child
                        tracer.counts[name + ".calls"] += 1
            if after is not None and tracer.active:
                after(result, args, kwargs)
            return result

        return wrapper

    def _patch(self, owner, attr: str, name: str, after=None) -> None:
        setattr(owner, attr, self._span(name, getattr(owner, attr), after))

    def _install(self) -> None:
        p = self._patch
        p(html_table, "parse_html", "html_table.parse")
        p(html_table, "read_html_table", "html_table.to_frame")

        def add(counter: str, value: float) -> None:
            with self._lock:
                self.counts[counter] += value

        def wrap_counters(res, _args, _kwargs):
            res.counters.collect = self._span("merge.counters", res.counters.collect)

        for owner in (merge, pipeline):
            p(owner, "merge_scd", "merge.classify", after=wrap_counters)
        p(pipeline, "deactivate_stale", "merge.deactivate")
        p(merge, "deactivated_rows", "merge.deactivate")

        def snapshot_bytes(_res, args, _kwargs):
            add("sinks.bytes_written", sum(files_under(args[1]).values()))

        p(sinks, "write_snapshot", "sinks.write_snapshot", after=snapshot_bytes)
        p(sinks, "snapshot_row_count", "sinks.footer")
        p(sinks, "snapshot_column_max", "sinks.footer")
        p(sinks, "read_snapshot", "sinks.read_snapshot")
        sinks.append_log = self._grown(sinks.append_log, "sinks.append_log",
                                       "sinks.bytes_written", path_arg=1)

        T = IncrementalTable
        p(T, "merge_batch", "incremental.merge_batch")
        p(T, "vacuum", "incremental.vacuum")
        T.write_delta = self._grown(T.write_delta, "incremental.write_delta",
                                    "incremental.bytes_written", path_arg=0)
        T.compact = self._grown(T.compact, "incremental.compact",
                                "incremental.bytes_written", path_arg=0)

        def deltas(_res, args, _kwargs):
            add("incremental.deltas_at_read",
                len(args[0]._load_manifest()["deltas"]))  # noqa: SLF001

        p(T, "read", "incremental.read", after=deltas)
        p(committer.JsonCommitter, "commit", "committer.commit")

    def _grown(self, fn, name: str, counter: str, path_arg: int):
        """Span ``fn`` and count the bytes of files it adds under its path
        argument (``self.path`` for IncrementalTable methods)."""
        spanned = self._span(name, fn)

        def path_of(args):
            a = args[path_arg]
            return a.path if isinstance(a, IncrementalTable) else a

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            before = files_under(path_of(args)) if self.active else None
            result = spanned(*args, **kwargs)
            if before is not None:
                after = files_under(path_of(args))
                with self._lock:
                    self.counts[counter] += sum(
                        s for f, s in after.items() if f not in before)
            return result

        return wrapper

    # --- window ----------------------------------------------------------

    def start_window(self) -> None:
        self.totals.clear()
        self.counts.clear()
        self.active = True
        self.window = (time.time(), 0.0)

    def stop_window(self) -> None:
        if self.active:
            self.active = False
            self.window = (self.window[0], time.time())

    # --- report ----------------------------------------------------------

    def spark_totals(self) -> dict[str, float]:
        """Totals over the window's jobs from the event log."""
        (name,) = [f for f in os.listdir(self.log_dir) if not f.startswith(".")]
        lo, hi = (int(t * 1000) for t in self.window)
        jobs, stage_job, tasks = {}, {}, []
        with open(os.path.join(self.log_dir, name), encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    t = ev["Submission Time"]
                    if lo <= t <= hi:
                        props = ev.get("Properties") or {}
                        jobs[ev["Job ID"]] = {
                            "start": t, "end": t, "layer": props.get(LAYER_PROP, ""),
                            "stages": ev["Stage IDs"],
                        }
                        for s in ev["Stage IDs"]:
                            stage_job[s] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_job:
                    tasks.append(ev)
        out = defaultdict(float)
        out["spark.jobs"] = len(jobs)
        out["merge.spark_jobs"] = sum(
            1 for j in jobs.values() if j["layer"].startswith("merge."))
        out["spark.stages"] = len({t["Stage ID"] for t in tasks})
        out["spark.tasks"] = len(tasks)
        for t in tasks:
            m = t.get("Task Metrics") or {}
            out["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            out["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["spark.jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            out["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            out["spark.spill_bytes"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0))
        # driver time: window wall time not covered by any job
        busy, cur_end = 0, lo
        for s, e in sorted((j["start"], j["end"]) for j in jobs.values()):
            if e > cur_end:
                busy += e - max(s, cur_end)
                cur_end = e
        out["spark.driver_s"] = (hi - lo - busy) / 1e3
        return out

    def metrics(self, out: dict) -> dict[str, tuple[float, str]]:
        """Per-batch per-layer metrics; call after the session stopped."""
        n = max(out.get("batches", 1), 1)
        spark = self.spark_totals()
        res = {}
        for name in SPAN_METRICS:
            res[f"{name}_s"] = (self.totals[name] / n, "s")
        res["html_table.parse_calls"] = (self.counts["html_table.parse.calls"] / n, "count")
        res["committer.commits"] = (self.counts["committer.commit.calls"] / n, "count")
        reads = self.counts["incremental.read.calls"]
        res["incremental.deltas_at_read"] = (
            self.counts["incremental.deltas_at_read"] / reads if reads else 0.0, "count")
        for name in ("sinks.bytes_written", "incremental.bytes_written"):
            res[name] = (self.counts[name] / n, "B")
        res["merge.spark_jobs"] = (spark.pop("merge.spark_jobs") / n, "count")
        for name, unit in SPARK_METRICS:
            res[name] = (spark[name] / n, unit)
        figures = out["metrics"] | out["wall"]
        for name in TRACED:
            res[f"traced.{name}"] = figures[name]
        return res
