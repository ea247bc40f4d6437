"""Traced run: spans around calls into each layer, plus Spark's status store.

Nothing here edits the program. Hooks replace public functions with
timing wrappers for the duration of a traced run and put the originals
back afterwards. Spans live in memory until ``Tracer.dump``.

Span tree of one op::

    op
    ├── construct (registry) ─┬─ collect (toPandas/collect by the program)
    │                         └─ driverfit.collect_cells ── collect
    ├── execute (registry: the benchmark's own toPandas)
    ├── excel_sheet_to_df / process_* / overwrite_table (etl)
    └── spark.job  (from the status store, start/end as Spark saw them)

Spark jobs are given to the op whose wall-clock window holds their
submission time, and inside it to the innermost benchmark span that does.
Job groups are not used: jobs started from plain threads carry none.
"""

from __future__ import annotations

import json
import os
import re
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PY_NODE = re.compile(r"Python|Pandas|Arrow")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def sql_metric_value(text: str) -> float:
    """Total of one formatted SQL metric: '1,000', '4.6 s (...)',
    'total (min, med, max ...)\\n8.5 KiB (...)'."""
    line = text.split("\n")[-1].strip()
    num, _, rest = line.partition(" ")
    value = float(num.replace(",", ""))
    unit = rest.split(" ")[0] if rest else ""
    return value * _UNITS.get(unit, 1.0)


class StatusStore:
    """Spark's in-process status store (jobs, stages, SQL executions),
    read as JSON through the JVM's Jackson so each read is one call."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala,
                        "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(getattr(scala, "MODULE$"))

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self) -> list[dict]:
        return self._json(self._store.jobsList(None))

    def stage(self, stage_id: int) -> dict | None:
        try:
            return self._json(self._store.lastStageAttempt(stage_id))
        except Exception:  # evicted or never attempted (skipped)
            return None

    def execution_count(self) -> int:
        return int(self._sql.executionsCount())

    def python_node_metrics(self, first: int) -> list[dict]:
        """SQL metrics of the Python/Arrow plan nodes of every execution
        from index ``first`` on, each tagged with its submission time."""
        out = []
        execs = self._sql.executionsList(first, 1 << 20)
        for i in range(execs.size()):
            ex = execs.apply(i)
            eid = ex.executionId()
            graph = self._json(self._sql.planGraph(eid))
            nodes = [n for n in graph["allNodes"] if PY_NODE.search(n["name"])]
            if not nodes:
                continue
            values = self._json(self._sql.executionMetrics(eid))
            m = defaultdict(float)
            for n in nodes:
                for met in n["metrics"]:
                    v = values.get(str(met["accumulatorId"]))
                    if v is not None:
                        m[met["name"]] += sql_metric_value(v)
            out.append({"submitted_ms": ex.submissionTime(), **m})
        return out


def _union_s(intervals) -> float:
    """Seconds covered by the union of (start, end) intervals."""
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def _clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


class Tracer:
    """Spans and counters of one traced run."""

    def __init__(self, spark):
        self.spark = spark
        self.store = StatusStore(spark)
        self.spans: list[dict] = []
        self.active = False
        self.in_sink = False  # the benchmark's own forcing collect
        self._stack: list[dict] = []
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._main = threading.get_ident()

    # -------------------------------------------------------------- spans
    def _open(self, name: str, layer: str, **attrs) -> dict:
        with self._lock:
            parent = self._stack[-1]["id"] if self._stack else None
            sp = {"id": len(self.spans), "parent": parent, "name": name,
                  "layer": layer, "start": time.time(), "end": None,
                  "attrs": attrs}
            self.spans.append(sp)
            if threading.get_ident() == self._main:
                self._stack.append(sp)
        return sp

    def _close(self, sp: dict) -> None:
        sp["end"] = time.time()
        with self._lock:
            if self._stack and self._stack[-1] is sp:
                self._stack.pop()

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.active:
            yield None
            return
        sp = self._open(name, layer, **attrs)
        try:
            yield sp
        finally:
            self._close(sp)

    # -------------------------------------------------------------- hooks
    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._restore.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def _timed(self, name: str, layer: str, measure=None):
        tracer = self

        def make(orig):
            def wrapper(*args, **kwargs):
                with tracer.span(name, layer) as sp:
                    out = orig(*args, **kwargs)
                    if sp is not None and measure is not None:
                        sp["attrs"].update(measure(args, kwargs, out))
                    return out

            wrapper.__wrapped__ = orig
            return wrapper

        return make

    def install(self) -> None:
        """Wrap the layer entry points. Only the traced run calls this."""
        from pyspark.sql.classic.dataframe import DataFrame

        import cancer_survival_etl_spark.pipeline as pipeline
        from cancer_survival_etl_spark.operators import driverfit
        from cancer_survival_etl_spark.plans import views
        from cancer_survival_etl_spark.sources import sinks, xlsx

        tracer = self
        probe_n = driverfit.MAX_DRIVER_CELLS + 1

        def make_limit(orig):
            def limit(df, num):
                out = orig(df, num)
                if num == probe_n:  # the bounded-collect probe shape
                    out._perfbench_probe = True
                return out

            return limit

        def make_collect(kind):
            def make(orig):
                def collect(df, *args, **kwargs):
                    top = tracer._stack[-1] if tracer._stack else None
                    if not tracer.active or (top and top["name"] == "collect"):
                        return orig(df, *args, **kwargs)
                    probe = getattr(df, "_perfbench_probe", False)
                    with tracer.span("collect", "driver",
                                     kind="sink" if tracer.in_sink else kind,
                                     probe=probe) as sp:
                        out = orig(df, *args, **kwargs)
                        sp["attrs"]["rows"] = len(out)
                        sp["attrs"]["fallback"] = probe and len(out) >= probe_n
                    return out

                return collect

            return make

        self._patch(DataFrame, "limit", make_limit)
        self._patch(DataFrame, "toPandas", make_collect("toPandas"))
        self._patch(DataFrame, "collect", make_collect("collect"))

        # collect_cells is imported by name into the fit modules, so the
        # wrapper goes on every module that holds the driverfit function
        cc = driverfit.collect_cells
        cc_wrap = self._timed("collect_cells", "driverfit")(cc)
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith(
                    "cancer_survival_etl_spark")
                    and getattr(mod, "collect_cells", None) is cc):
                self._restore.append((mod, "collect_cells", cc))
                mod.collect_cells = cc_wrap

        def rows(args, kwargs, out):
            return {"rows": len(out)}

        def written(args, kwargs, out):
            path = args[1] if len(args) > 1 else kwargs["path"]
            return {"bytes": sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, fs in os.walk(path) for f in fs)}

        self._patch(xlsx, "read_xlsx_sheet", self._timed(
            "read_xlsx_sheet", "sources", rows))
        self._patch(pipeline, "excel_sheet_to_df", self._timed(
            "excel_sheet_to_df", "sources"))
        self._patch(pipeline, "process_index", self._timed(
            "process_index", "plans"))
        self._patch(pipeline, "process_adult4", self._timed(
            "process_adult4", "plans"))
        self._patch(sinks, "overwrite_table", self._timed(
            "overwrite_table", "sources", written))
        self._patch(views, "register_reporting_views", self._timed(
            "register_reporting_views", "plans"))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # -------------------------------------------------------------- ops
    @contextmanager
    def op(self, name: str, kind: str):
        """Trace one op: its span, then the Spark jobs and SQL executions
        submitted inside its window, attached as child spans."""
        self.store.drain()
        first_job = max((j["jobId"] for j in self.store.jobs()), default=-1)
        first_exec = self.store.execution_count()
        self.active = True
        sp = self._open(name, "op", kind=kind)
        try:
            yield sp
        finally:
            self._close(sp)
            self.active = False
            self.store.drain()
            self._attach_jobs(sp, first_job)
            self._attach_python(sp, first_exec)

    def _attach_jobs(self, op: dict, first_job: int) -> None:
        lo, hi = op["start"] * 1000.0, op["end"] * 1000.0
        inner = [s for s in self.spans[op["id"]:] if s["layer"] != "spark"]
        for job in self.store.jobs():
            sub = job.get("submissionTime")
            if job["jobId"] <= first_job or sub is None or not lo <= sub <= hi:
                continue
            end = job.get("completionTime") or sub
            parent = op
            for s in inner:  # innermost enclosing span wins
                if s["start"] * 1000.0 <= sub <= s["end"] * 1000.0:
                    parent = s
            stages = [self.store.stage(sid) for sid in job["stageIds"]]
            ran = [st for st in stages
                   if st is not None and st["status"] != "SKIPPED"]
            self.spans.append({
                "id": len(self.spans), "parent": parent["id"],
                "name": f"job {job['jobId']}", "layer": "spark",
                "start": sub / 1000.0, "end": end / 1000.0,
                "attrs": {
                    "group": job.get("jobGroup"),
                    "status": job["status"],
                    "stages": len(ran),
                    "tasks": sum(st["numTasks"] for st in ran),
                    "failed_tasks": sum(st["numFailedTasks"] for st in ran),
                    "run_s": sum(st["executorRunTime"] for st in ran) / 1e3,
                    "cpu_s": sum(st["executorCpuTime"] for st in ran) / 1e9,
                    "gc_s": sum(st["jvmGcTime"] for st in ran) / 1e3,
                    "shuffle_read": sum(st["shuffleReadBytes"] for st in ran),
                    "shuffle_write": sum(st["shuffleWriteBytes"] for st in ran),
                    "spill": sum(st["memoryBytesSpilled"]
                                 + st["diskBytesSpilled"] for st in ran),
                    "input_bytes": sum(st["inputBytes"] for st in ran),
                    "input_rows": sum(st["inputRecords"] for st in ran),
                },
            })

    def _attach_python(self, op: dict, first_exec: int) -> None:
        lo, hi = op["start"] * 1000.0, op["end"] * 1000.0
        for m in self.store.python_node_metrics(first_exec):
            if lo <= m["submitted_ms"] <= hi:
                a = op["attrs"]
                a["py_rows"] = a.get("py_rows", 0) + m.get(
                    "number of output rows", 0)
                a["py_sent"] = a.get("py_sent", 0) + m.get(
                    "data sent to Python workers", 0)
                a["py_recv"] = a.get("py_recv", 0) + m.get(
                    "data returned from Python workers", 0)
                a["py_exec_s"] = a.get("py_exec_s", 0) + m.get(
                    "time to run Python workers", 0)

    # -------------------------------------------------------------- report
    def children(self, sp: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sp["id"]]

    def self_time(self, sp: dict) -> float:
        """Span duration minus the part its children cover."""
        kids = _clip([(c["start"], c["end"]) for c in self.children(sp)],
                     sp["start"], sp["end"])
        return (sp["end"] - sp["start"]) - _union_s(kids)

    def descendants(self, sp: dict) -> list[dict]:
        out, frontier = [], [sp["id"]]
        by_parent = defaultdict(list)
        for s in self.spans:
            by_parent[s["parent"]].append(s)
        while frontier:
            for s in by_parent[frontier.pop()]:
                out.append(s)
                frontier.append(s["id"])
        return out

    def metrics(self) -> dict[str, float]:
        """Per-layer totals over every traced op."""
        m: dict[str, float] = defaultdict(float)
        layer_self: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            layer_self[sp["layer"]] += self.self_time(sp)
        for op in (s for s in self.spans if s["layer"] == "op"):
            desc = self.descendants(op)
            jobs = [s for s in desc if s["layer"] == "spark"]
            job_iv = [(j["start"], j["end"]) for j in jobs]
            kind = op["attrs"]["kind"]
            m["spark.gap_s"] += (op["end"] - op["start"]) - _union_s(
                _clip(job_iv, op["start"], op["end"]))
            for j in jobs:
                a = j["attrs"]
                m["spark.jobs"] += 1
                m["spark.stages"] += a["stages"]
                m["spark.tasks"] += a["tasks"]
                m["spark.failed_tasks"] += a["failed_tasks"]
                m["spark.job_s"] += j["end"] - j["start"]
                m["spark.executor_run_s"] += a["run_s"]
                m["spark.executor_cpu_s"] += a["cpu_s"]
                m["spark.gc_s"] += a["gc_s"]
                m["spark.shuffle_read_bytes"] += a["shuffle_read"]
                m["spark.shuffle_write_bytes"] += a["shuffle_write"]
                m["spark.spill_bytes"] += a["spill"]
                m["sources.scan_bytes"] += a["input_bytes"]
                m["sources.scan_rows"] += a["input_rows"]
            if kind == "view":
                m["plans.views_s"] += op["end"] - op["start"]
                m["plans.view_jobs"] += len(jobs)
            for key, attr in [("pyworker.rows", "py_rows"),
                              ("pyworker.bytes_sent", "py_sent"),
                              ("pyworker.bytes_recv", "py_recv"),
                              ("pyworker.exec_s", "py_exec_s")]:
                m[key] += op["attrs"].get(attr, 0)
            for s in desc:
                dur = s["end"] - s["start"]
                if s["name"] in ("construct", "execute"):
                    m[f"registry.{s['name']}_s"] += dur
                    m[f"registry.{s['name']}_jobs"] += sum(
                        1 for d in self.descendants(s) if d["layer"] == "spark")
                elif s["name"] == "excel_sheet_to_df":
                    m["sources.xlsx_read_s"] += dur
                elif s["name"] == "read_xlsx_sheet":
                    m["sources.xlsx_rows"] += s["attrs"]["rows"]
                elif s["name"] == "overwrite_table":
                    m["sources.sink_write_s"] += dur
                    m["sources.sink_bytes"] += s["attrs"]["bytes"]
                elif s["name"] in ("process_index", "process_adult4"):
                    m["plans.recipe_s"] += dur
                elif s["name"] == "collect" and s["attrs"]["kind"] != "sink":
                    m["driver.collects"] += 1
                    m["driver.collect_rows"] += s["attrs"]["rows"]
                    m["driver.collect_s"] += dur
                    if s["attrs"]["probe"]:
                        m["driverfit.probes"] += 1
                    if s["attrs"]["fallback"]:
                        m["driverfit.fallbacks"] += 1
                        m["driverfit.wasted_rows"] += s["attrs"]["rows"]
            # driver work not covered by any Spark job: Python/numpy
            # solves and plan building inside the program's own calls
            for s in [op] if kind == "fit" else [
                    d for d in desc if d["name"] == "construct"]:
                m["driver.solve_s"] += (s["end"] - s["start"]) - _union_s(
                    _clip(job_iv, s["start"], s["end"]))
        rows = m["driver.collect_rows"]
        m["driverfit.wasted_frac"] = m["driverfit.wasted_rows"] / rows if rows else 0.0
        for layer, v in layer_self.items():
            m[f"self.{layer}_s"] = v
        m["trace.spans"] = len(self.spans)
        return dict(m)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
