"""Tracing for the benchmark: in-memory spans around the benchmark's own
calls into the program, and per-operation counters read from Spark's
status stores after each traced operation.

Nothing here reaches into the program: plan-node SQL metrics come from the
session's SQL status store (final adaptive plan, StageRunner writes
included), task durations and shuffle counters from the SparkContext
status store, and kernel time from PySpark's UDF profiler.
"""

from __future__ import annotations

import contextlib
import glob
import os
import pstats
import shutil
import statistics
import time

from py4j.protocol import Py4JJavaError

_SCALE = {"B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
          "TiB": 2.0 ** 40, "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0,
          "h": 3600.0}


def parse_metric(text: str) -> float | None:
    """A formatted SQL metric as a number: counts as is, sizes in bytes,
    times in seconds; None for the formats no counter here uses (averages).
    Per-task metrics read 'total (min, med, max ...)\\n<total> (...)';
    driver-side ones are a single value."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    parts = text.split(" (", 1)[0].split()
    try:
        value = float(parts[0].replace(",", ""))
        return value * _SCALE[parts[1]] if len(parts) > 1 else value
    except (IndexError, KeyError, ValueError):
        return None


def _seq(jseq):
    it = jseq.iterator()
    while it.hasNext():
        yield it.next()


class Tracer:
    """Spans kept in memory: name, start, end, operation id (the parent
    span is derived by time containment when the spans are written out).
    Times are wall-clock seconds (`time.time`), the clock Spark's stores
    and StageRunner manifests use."""

    def __init__(self):
        self.spans: list[dict] = []
        self.op = None

    def add(self, name: str, start: float, end: float, op=None) -> None:
        self.spans.append({"name": name, "start": start, "end": end,
                           "op": self.op if op is None else op})

    @contextlib.contextmanager
    def span(self, name: str):
        start = time.time()
        try:
            yield
        finally:
            self.add(name, start, time.time())

    def wrap(self, module, attr: str, name: str):
        """Replace module.attr by a spanned call; returns the undo."""
        fn = getattr(module, attr)

        def spanned(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        setattr(module, attr, spanned)
        return lambda: setattr(module, attr, fn)

    def total(self, name: str, op) -> float:
        """Time covered by the spans called `name` in `op` (nested calls
        counted once)."""
        return union_length([(s["start"], s["end"]) for s in self.spans
                             if s["op"] == op and s["name"] == name])


def union_length(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def wall_partition(t0: float, t1: float, layers) -> dict:
    """Split the wall [t0, t1] among `layers`, a list of (name, intervals)
    in order of precedence: each layer gets the time its intervals cover
    that no earlier layer covers. The time no layer covers is
    "wall.unattributed_s"."""
    out, seen, covered = {}, [], 0.0
    for name, intervals in layers:
        seen += [(max(a, t0), min(b, t1)) for a, b in intervals
                 if min(b, t1) > max(a, t0)]
        total = union_length(seen)
        out[name] = total - covered
        covered = total
    out["wall.unattributed_s"] = (t1 - t0) - covered
    return out


class SparkStats:
    """Reads the counters of one traced operation from Spark's stores. An
    operation runs under its own job group, whose id is also the job
    description and so the description of its SQL executions."""

    def __init__(self, spark, work_dir: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.app_store = self.sc._jsc.sc().statusStore()
        self.work_dir = work_dir
        self._first_exec = 0

    def begin(self, op: str, profile: bool) -> None:
        self._first_exec = int(self.sql_store.executionsCount())
        self.sc.setJobGroup(op, op, False)
        if profile:
            self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        self.spark.conf.unset("spark.sql.pyspark.udf.profiler")

    def executions(self, op: str) -> list[dict]:
        """SQL executions of `op`: plan nodes with their metric values, the
        child -> parent edges, and the stage ids that ran them."""
        out = []
        total = int(self.sql_store.executionsCount())
        for e in _seq(self.sql_store.executionsList(
                self._first_exec, total - self._first_exec + 16)):
            if e.description() != op:
                continue
            eid = e.executionId()
            values = self.sql_store.executionMetrics(eid)
            graph = self.sql_store.planGraph(eid)
            nodes = {}
            for n in _seq(graph.allNodes()):
                metrics = {}
                for m in _seq(n.metrics()):
                    v = values.get(m.accumulatorId())
                    x = parse_metric(v.get()) if v.isDefined() else None
                    if x is not None:
                        metrics[m.name()] = x
                nodes[n.id()] = (n.name(), metrics)
            parent = {x.fromId(): x.toId() for x in _seq(graph.edges())}
            stages = [int(s) for s in _seq(e.stages())]
            done = e.completionTime()
            span = ((e.submissionTime() / 1e3, done.get().getTime() / 1e3)
                    if done.isDefined() else None)
            out.append({"id": eid, "nodes": nodes, "parent": parent,
                        "stages": stages, "span": span})
        return out

    def stage_counters(self, stage_ids) -> dict:
        """Shuffle write bytes/seconds summed over stages, and per stage
        its summed task run time and its task intervals (start, end)."""
        wbytes = wsecs = 0.0
        per_stage = {}
        for sid in stage_ids:
            try:
                sd = self.app_store.lastStageAttempt(sid)
            except Py4JJavaError:   # stage never ran or left the store
                continue
            wbytes += sd.shuffleWriteBytes()
            wsecs += sd.shuffleWriteTime() / 1e9
            tasks = []
            for t in _seq(self.app_store.taskList(sid, sd.attemptId(),
                                                  100000)):
                d = t.duration()
                if d.isDefined():
                    start = t.launchTime().getTime() / 1e3
                    tasks.append((start, start + d.get() / 1e3))
            per_stage[sid] = {"run_s": sd.executorRunTime() / 1e3,
                              "tasks": tasks}
        return {"write_bytes": wbytes, "write_s": wsecs, "stages": per_stage}

    def peak_memory_mb(self) -> dict:
        """The driver's peak executor memory metrics (MB) as Spark recorded
        them: sampled at heartbeats and stage ends."""
        for e in _seq(self.app_store.executorList(True)):
            pk = e.peakMemoryMetrics()
            if e.id() == "driver" and pk.isDefined():
                return {name: pk.get().getMetricValue(name) / 2 ** 20
                        for name in ("JVMHeapMemory", "JVMOffHeapMemory")}
        return {"JVMHeapMemory": 0.0, "JVMOffHeapMemory": 0.0}

    def job_intervals(self, op: str) -> list[tuple[float, float]]:
        out = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(op):
            try:
                jd = self.app_store.job(jid)
            except Py4JJavaError:   # job left the store
                continue
            s, c = jd.submissionTime(), jd.completionTime()
            if s.isDefined() and c.isDefined():
                out.append((s.get().getTime() / 1e3, c.get().getTime() / 1e3))
        return out

    def kernel_seconds(self, func: str = "points_in_geom") -> float:
        """Inclusive time of the geometry kernel across all profiled UDF
        calls since the last read, then clears the profiles."""
        d = os.path.join(self.work_dir, "profiles")
        shutil.rmtree(d, ignore_errors=True)
        self.spark.profile.dump(d, type="perf")
        self.spark.profile.clear(type="perf")
        total = 0.0
        for f in glob.glob(os.path.join(d, "*")):
            st = pstats.Stats(f)
            for (path, _, fn), (_, _, _, cum, _) in st.stats.items():
                if fn == func and path.endswith("geomops.py"):
                    total += cum
        return total


def _metric(nodes, prefix: str, metric: str) -> float:
    return sum(m.get(metric, 0.0) for name, m in nodes.values()
               if name.startswith(prefix))


def _is_udf(metrics) -> bool:
    return "data sent to Python workers" in metrics


def layer_counters(execs, stage_info, pip_exec_ids) -> dict:
    """Per-operation layer counters from its executions. `pip_exec_ids`
    are the executions of the PIP join (a UDF node and a broadcast probe
    in an operation that called `pip_join`)."""
    c = {"scan.s": 0.0, "agg.s": 0.0, "udf.rows": 0.0, "udf.bytes_sent": 0.0,
         "udf.bytes_received": 0.0, "udf.python_s": 0.0,
         "udf.boot_init_s": 0.0, "udf.filter_in": 0.0, "udf.filter_out": 0.0,
         "write.files": 0.0, "write.bytes": 0.0, "write.commit_s": 0.0,
         "pip.execs": 0, "pip.scan_rows": 0.0, "pip.broadcast_builds": 0.0,
         "pip.broadcast_collect_s": 0.0, "pip.candidates": 0.0,
         "pip.udf_rows": 0.0, "pip.task_skew": []}
    for ex in execs:
        nodes, parent = ex["nodes"], ex["parent"]
        c["scan.s"] += _metric(nodes, "Scan", "scan time")
        c["agg.s"] += _metric(nodes, "", "time in aggregation build")
        c["write.files"] += _metric(nodes, "", "number of written files")
        c["write.bytes"] += _metric(nodes, "", "written output")
        c["write.commit_s"] += (_metric(nodes, "", "task commit time")
                                + _metric(nodes, "", "job commit time"))
        udf_rows = 0.0
        for nid, (name, m) in nodes.items():
            if not _is_udf(m):
                continue
            rows = m.get("number of output rows", 0.0)
            udf_rows += rows
            c["udf.rows"] += rows
            c["udf.bytes_sent"] += m.get("data sent to Python workers", 0.0)
            c["udf.bytes_received"] += m.get(
                "data returned from Python workers", 0.0)
            c["udf.python_s"] += m.get("time to run Python workers", 0.0)
            c["udf.boot_init_s"] += (
                m.get("time to start Python workers", 0.0)
                + m.get("time to initialize Python workers", 0.0))
            up = nodes.get(parent.get(nid))
            if up is not None and up[0] == "Filter":
                c["udf.filter_in"] += rows
                c["udf.filter_out"] += up[1].get("number of output rows", 0.0)
        if ex["id"] not in pip_exec_ids:
            continue
        c["pip.execs"] += 1
        c["pip.scan_rows"] += _metric(nodes, "Scan parquet",
                                      "number of output rows")
        c["pip.broadcast_builds"] += sum(
            1 for name, _ in nodes.values() if name == "BroadcastExchange")
        c["pip.broadcast_collect_s"] += _metric(nodes, "BroadcastExchange",
                                                "time to collect")
        # the mask tests reference both sides, so Catalyst folds them into
        # the join condition: the probes emit exactly the candidates the
        # masks did not reject (accepted + boundary)
        c["pip.candidates"] += _metric(nodes, "BroadcastHashJoin",
                                       "number of output rows")
        c["pip.udf_rows"] += udf_rows
        # skew of the heaviest stage (the scan + probe + UDF map stage)
        runs = [stage_info["stages"][s] for s in ex["stages"]
                if s in stage_info["stages"] and stage_info["stages"][s]["tasks"]]
        if runs:
            heavy = max(runs, key=lambda r: r["run_s"])
            durs = [b - a for a, b in heavy["tasks"]]
            c["pip.task_skew"].append(max(durs) / statistics.median(durs))
    c["shuffle.write_bytes"] = stage_info["write_bytes"]
    c["shuffle.write_s"] = stage_info["write_s"]
    return c


def is_pip_execution(ex) -> bool:
    names = [n for n, _ in ex["nodes"].values()]
    return ("BroadcastHashJoin" in names
            and any(_is_udf(m) for _, m in ex["nodes"].values()))
