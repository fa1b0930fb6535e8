"""The three workloads and the measurement loop they share.

A run sets up (session, region dim, inputs, a fixed number of warm-up
passes), then measures passes until `--seconds` have elapsed, then checks
every pass it ran against the oracles. Untraced runs report the end-to-end
metrics. Traced runs alternate untraced and traced passes: the per-layer
metrics come from the traced ones and the difference of the two pass-time
medians is the tracing overhead.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
import time

import numpy as np

from bench import HEADLINE     # the repository's headline query set

from . import inputs, oracles, schema
from .spark_stats import SparkStats, Tracer, layer_counters, \
    is_pip_execution, union_length, wall_partition

CORES = 4
JOIN_WARMUP = 4        # see README.md, "Warm-up"
QUERY_WARMUP = 1       # the cold pass; see README.md, "Warm-up"
QUERY_MIN_PASSES = 3   # 51 latency samples; README.md, "End-to-end metrics"
HD_GRID = 200_000      # integration points of the Harrell-Davis weights
PIP_SPAN = "operators.spatial_join.pip_join"
PLAN_SPAN = "queries.Q"
# per-layer task times that are self times: each is time the task spends
# in that layer alone (README.md, "Reconciliation")
TASK_SELF_TIMES = ("scan.s", "udf.python_s", "shuffle.write_s")
RECONCILE_TOL = 0.15
_T0 = time.time()


def log(msg: str) -> None:
    print(f"# [{time.time() - _T0:7.2f}] {msg}", file=sys.stderr, flush=True)


def workers_peak_rss_mb() -> float:
    """Summed peak RSS (VmHWM) of the Python workers: the processes below
    the JVM this process launched (PySpark's daemon and its forks)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue                # process ended while we looked
        children.setdefault(ppid, []).append(int(d))
    todo = [k for jvm in children.get(os.getpid(), ())
            for k in children.get(jvm, ())]
    total_kb = 0
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def harrell_davis(values, p: float) -> float:
    """Harrell-Davis estimate of the p-quantile of `values`: the mean of
    all order statistics, the i-th (of n) weighted by the Beta((n+1)p,
    (n+1)(1-p)) mass on [i/n, (i+1)/n) (Harrell and Davis, Biometrika
    1982). With a few dozen samples it varies less from sample to sample
    than the one or two order statistics an interpolated quantile uses."""
    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    t = (np.arange(HD_GRID) + 0.5) / HD_GRID      # midpoint rule
    density = np.exp((a - 1) * np.log(t) + (b - 1) * np.log1p(-t))
    w = np.bincount((t * n).astype(int), weights=density, minlength=n)
    return float(w @ x / w.sum())


def log_memory(b) -> None:
    """Peak memory to stderr, in untraced runs too (README.md, "Memory")."""
    jvm = SparkStats(b.spark, b.work).peak_memory_mb()
    log(f"memory: JVM heap peak {jvm['JVMHeapMemory']:.1f} MB, off-heap "
        f"{jvm['JVMOffHeapMemory']:.1f} MB, Python workers "
        f"{b.workers_peak_mb:.1f} MB")


def reconciled(row: dict) -> bool:
    """A traced pass reconciles when the layers leave at most
    RECONCILE_TOL of its wall unattributed, and the task self times fit in
    the task time they are part of."""
    return (row["trace.unattributed_share"] <= RECONCILE_TOL
            and row["tasks.other_s"] >= -RECONCILE_TOL * row["tasks.core_s"])


class Bench:
    """State of one benchmark run: the session, the outcome counts, the
    tracer and the per-pass samples."""

    def __init__(self, spark, t_start: float, work: str, out_dir: str,
                 workload: str, seed: int, seconds: float, trace: bool,
                 setup: dict):
        self.spark = spark
        self.t_start = t_start
        self.work = work
        self.out_dir = out_dir
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.setup = dict(setup)
        self.attempted = 0
        self.failed = 0
        self.workers_peak_mb = 0.0
        self.tracer = Tracer()
        self.stats = SparkStats(spark, work) if trace else None
        self.op_records: list[dict] = []

    # -- outcome bookkeeping ------------------------------------------------
    def record(self, fails: list[str]) -> None:
        self.attempted += 1
        if fails:
            self.failed += 1
            log(f"FAILED: {'; '.join(fails)}")

    def sample_memory(self) -> None:
        self.workers_peak_mb = max(self.workers_peak_mb,
                                   workers_peak_rss_mb())

    # -- one traced operation ------------------------------------------------
    def begin_op(self, op: str) -> None:
        self.tracer.op = op
        self.stats.begin(op, profile=True)

    def end_op(self, op: str, t0: float, t1: float,
               stages: dict | None = None) -> dict:
        """Counters of a traced operation, read after its timed span.
        `stages` maps StageRunner stage names to their manifests."""
        self.stats.end()
        self.tracer.op = None
        execs = self.stats.executions(op)
        called_pip = any(s["op"] == op and s["name"] == PIP_SPAN
                         for s in self.tracer.spans)
        pip_ids = {ex["id"] for ex in execs
                   if called_pip and is_pip_execution(ex)}
        stage_ids = sorted({s for ex in execs for s in ex["stages"]})
        sc = self.stats.stage_counters(stage_ids)
        c = layer_counters(execs, sc, pip_ids)
        c["kernel.pip_s"] = self.stats.kernel_seconds()
        c["pip.build_s"] = self.tracer.total(PIP_SPAN, op)
        c["queries.plan_s"] = self.tracer.total(PLAN_SPAN, op)
        # each source below has its own clock: the benchmark's spans, the
        # executor's task launch times and durations, the SQL listener's
        # execution and job times, the StageRunner manifests
        plan = [(s["start"], s["end"]) for s in self.tracer.spans
                if s["op"] == op and s["name"] in (PIP_SPAN, PLAN_SPAN)]
        tasks = [t for st in sc["stages"].values() for t in st["tasks"]]
        for st in sc["stages"].values():
            if st["tasks"]:
                self.tracer.add("spark.stage_tasks",
                                min(a for a, _ in st["tasks"]),
                                max(b for _, b in st["tasks"]), op=op)
        spark = [ex["span"] for ex in execs if ex["span"]]
        for a, b in spark:
            self.tracer.add("spark.sql_execution", a, b, op=op)
        for a, b in self.stats.job_intervals(op):
            self.tracer.add("spark.job", a, b, op=op)
            spark.append((a, b))
        runner = []
        for name, m in (stages or {}).items():
            c[f"stage.{name}_s"] = m["wall_s"]
            runner.append((m["ts"] - m["wall_s"], m["ts"]))
            self.tracer.add(f"stage.{name}", *runner[-1], op=op)
        c.update(wall_partition(t0, t1, [
            ("wall.plan_s", plan), ("wall.tasks_s", tasks),
            ("wall.spark_driver_s", spark), ("wall.stage_runner_s", runner)]))
        c["wall"] = t1 - t0
        c["tasks.core_s"] = sum(b - a for a, b in tasks)
        self.op_records.append({"op": op, "start": t0, "end": t1,
                                "counters": {k: v for k, v in c.items()
                                             if k != "pip.task_skew"},
                                "task_skew": c["pip.task_skew"]})
        return c

    # -- the measurement loop -------------------------------------------------
    def measure(self, run_pass, warmup: int, min_passes: int):
        """Warm up, then run passes until `seconds` have elapsed and at
        least `min_passes` ran. A traced run alternates untraced and traced
        passes and runs at least three, so that a traced pass sits between
        two untraced ones while the walls still fall.
        Returns [(wall, counters or None)] of the measured passes."""
        if self.trace:
            min_passes = max(min_passes, 3)
        for i in range(warmup):
            wall, _ = run_pass(i, False)
            log(f"warm-up pass {i}: {wall:.3f} s")
        self.setup["setup_s"] = time.time() - self.t_start
        self.setup["warmup.passes"] = warmup
        passes = []
        deadline = time.time() + self.seconds
        i = warmup
        while time.time() < deadline or len(passes) < min_passes:
            traced = self.trace and len(passes) % 2 == 1
            wall, counters = run_pass(i, traced)
            log(f"pass {i}{' (traced)' if traced else ''}: {wall:.3f} s")
            passes.append((wall, counters))
            i += 1
        return passes

    # -- results ----------------------------------------------------------------
    def end_to_end(self, pass_walls, latencies, pages_per_pass) -> dict:
        return {
            "setup_s": self.setup["setup_s"],
            "pages_per_s": pages_per_pass / statistics.median(pass_walls),
            "query_p50_s": harrell_davis(latencies, 0.5),
            "query_p90_s": harrell_davis(latencies, 0.9),
        }

    def per_layer(self, passes, pages_per_pass, n_samples) -> dict:
        """Medians over the traced passes of each pass's summed counters."""
        untraced = [w for w, c in passes if c is None]
        traced = [(w, c) for w, c in passes if c is not None]
        rows = []
        for wall, ops in traced:
            s = {}
            for c in ops:
                for k, v in c.items():
                    if isinstance(v, (int, float)):
                        s[k] = s.get(k, 0) + v
            skew = [x for c in ops for x in c["pip.task_skew"]]
            execs = max(s["pip.execs"], 1)
            rows.append({
                "queries.plan_s": s["queries.plan_s"],
                "pip.build_s": s["pip.build_s"],
                "pip.scan_rows_per_page": s["pip.scan_rows"]
                / (pages_per_pass * execs),
                "pip.broadcast_builds": s["pip.broadcast_builds"] / execs,
                "pip.broadcast_collect_s": s["pip.broadcast_collect_s"],
                "pip.exact_share": s["pip.udf_rows"]
                / max(s["pip.candidates"], 1.0),
                "pip.task_skew": statistics.median(skew) if skew else 0.0,
                "udf.rows": s["udf.rows"],
                "udf.bytes_sent": s["udf.bytes_sent"],
                "udf.bytes_received": s["udf.bytes_received"],
                "udf.python_s": s["udf.python_s"],
                "udf.boot_init_s": s["udf.boot_init_s"],
                "udf.accept_ratio": s["udf.filter_out"]
                / max(s["udf.filter_in"], 1.0),
                "kernel.pip_s": s["kernel.pip_s"],
                "scan.s": s["scan.s"],
                "agg.s": s["agg.s"],
                "shuffle.write_bytes": s["shuffle.write_bytes"],
                "shuffle.write_s": s["shuffle.write_s"],
                "stage.pip_counts_s": s.get("stage.pip_counts_s", 0.0),
                "stage.tile_density_s": s.get("stage.tile_density_s", 0.0),
                "stage.overview_s": s.get("stage.overview_s", 0.0),
                "write.files": s["write.files"],
                "write.bytes": s["write.bytes"],
                "write.commit_s": s["write.commit_s"],
                "wall.plan_s": s["wall.plan_s"],
                "wall.tasks_s": s["wall.tasks_s"],
                "wall.spark_driver_s": s["wall.spark_driver_s"],
                "wall.stage_runner_s": s["wall.stage_runner_s"],
                "trace.unattributed_share": s["wall.unattributed_s"]
                / s["wall"],
                "tasks.core_s": s["tasks.core_s"],
                "tasks.other_s": s["tasks.core_s"] - sum(
                    s[k] for k in TASK_SELF_TIMES),
            })
        unreconciled = [r for r in rows if not reconciled(r)]
        for r in unreconciled:
            log("reconciliation outside tolerance: unattributed share "
                f"{r['trace.unattributed_share']:.3f}, task time "
                f"{r['tasks.core_s']:.3f} s, other {r['tasks.other_s']:.3f} s")
        out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
        t_med = statistics.median(w for w, _ in traced)
        out.update({
            "session.start_s": self.setup["session.start_s"],
            "datagen.regions_s": self.setup["datagen.regions_s"],
            "setup.pages_s": self.setup["setup.pages_s"],
            "warmup.passes": self.setup["warmup.passes"],
            "query.samples": n_samples,
            "failed_frac": self.failed / self.attempted,
            "trace.pass_s": t_med,
            "trace.overhead_s": t_med - statistics.median(untraced),
            "trace.passes_unreconciled": len(unreconciled),
            "mem.jvm_heap_peak_mb": self.stats.peak_memory_mb()[
                "JVMHeapMemory"],
            "mem.python_workers_peak_mb": self.workers_peak_mb,
        })
        return out

    def write_trace(self) -> str:
        """All spans (parents derived by time containment within each
        operation, with self times) and the per-operation counters."""
        spans = [dict(s, id=i) for i, s in enumerate(
            s for s in self.tracer.spans if s["op"] is not None)]
        eps = 0.005                  # Spark's job times have ms resolution
        for s in spans:
            best = None
            for p in spans:
                if (p is not s and p["op"] == s["op"]
                        and p["start"] - eps <= s["start"]
                        and s["end"] <= p["end"] + eps
                        and (p["end"] - p["start"]) > (s["end"] - s["start"])
                        and (best is None or p["end"] - p["start"]
                             < best["end"] - best["start"])):
                    best = p
            s["parent"] = None if best is None else best["id"]
        for s in spans:
            kids = [(c["start"], c["end"]) for c in spans
                    if c["parent"] == s["id"]]
            s["self_s"] = (s["end"] - s["start"]) - union_length(
                [(max(a, s["start"]), min(b, s["end"])) for a, b in kids
                 if min(b, s["end"]) > max(a, s["start"])])
        os.makedirs(self.out_dir, exist_ok=True)
        path = os.path.join(self.out_dir,
                            f"trace-{self.workload}-seed{self.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": self.workload, "seed": self.seed,
                       "spans": spans, "ops": self.op_records}, f)
        return path

    def result(self, values: dict) -> str:
        return schema.result_line(self.failed == 0, self.attempted,
                                  self.failed, values, self.trace)


# =============================================================================
# join_uniform / join_hotspot
# =============================================================================

def run_join(b: Bench, hotspot: bool) -> str:
    from gdal_spark import pipeline
    from gdal_spark.operators import spatial_join

    pages = os.path.join(b.work, "pages")
    log("writing pages")
    t = time.time()
    inputs.write_pages(b.spark, b.seed, hotspot, pages)
    b.setup["setup.pages_s"] = time.time() - t
    n = inputs.N_JOIN_PAGES
    done: list[tuple[str, list[str]]] = []       # (job dir, errors)
    undo = b.tracer.wrap(spatial_join, "pip_join", PIP_SPAN) \
        if b.trace else None

    def run_pass(i: int, traced: bool):
        job_dir = os.path.join(b.work, f"job{i}")
        op = f"pass{i}"
        if traced:
            b.begin_op(op)
        errors = []
        t0 = time.time()
        try:
            manifests = pipeline.run_canonical_job(
                b.spark, n, job_dir, pages_path=pages)
        except Exception as e:      # counted as a failed operation
            errors, manifests = [f"{op}: {type(e).__name__}: {e}"], {}
        t1 = time.time()
        counters = None
        if traced:
            b.tracer.add("pipeline.run_canonical_job", t0, t1, op=op)
            counters = [b.end_op(op, t0, t1, stages=manifests)]
        b.sample_memory()
        done.append((job_dir, errors))
        return t1 - t0, counters

    passes = b.measure(run_pass, JOIN_WARMUP, min_passes=2)
    if undo:
        undo()

    log("checking outputs")
    oracle = oracles.JoinOracle(pages, n)
    try:
        for job_dir, errors in done:
            b.record(errors or oracle.check(job_dir))
    finally:
        oracle.close()
    walls = [w for w, c in passes if c is None]
    if not b.trace:
        return b.result(b.end_to_end(walls, walls, n))
    log(f"trace written to {b.write_trace()}")
    return b.result(b.per_layer(passes, n, len(walls)))


# =============================================================================
# query_mix
# =============================================================================

def run_query_mix(b: Bench) -> str:
    from gdal_spark import queries
    from gdal_spark.operators import spatial_join

    sf_dir = inputs.SF_DIR
    t = time.time()
    n_docs = inputs.n_docs(sf_dir)
    b.setup["setup.pages_s"] = time.time() - t
    rng = random.Random(b.seed)
    results: list[tuple[str, list, list, list[str]]] = []
    latencies: list[float] = []
    undo = b.tracer.wrap(spatial_join, "pip_join", PIP_SPAN) \
        if b.trace else None

    def run_query(op: str, name: str, traced: bool):
        if traced:
            b.begin_op(op)
        errors, cols, rows = [], [], []
        t0 = time.time()
        try:
            if traced:
                with b.tracer.span(PLAN_SPAN):
                    df = queries.Q[name](b.spark, sf_dir)
                with b.tracer.span("spark.action"):
                    rows = df.collect()
            else:
                df = queries.Q[name](b.spark, sf_dir)
                rows = df.collect()
            cols = df.columns
        except Exception as e:      # counted as a failed operation
            errors = [f"{name}: {type(e).__name__}: {e}"]
        t1 = time.time()
        if traced:
            b.tracer.add(f"query.{name}", t0, t1, op=op)
        counters = b.end_op(op, t0, t1) if traced else None
        results.append((name, cols, [tuple(r) for r in rows], errors))
        return t1 - t0, counters

    def run_pass(i: int, traced: bool):
        order = HEADLINE[:]
        rng.shuffle(order)
        wall, ops, lats = 0.0, [], []
        for name in order:
            lat, c = run_query(f"pass{i}.{name}", name, traced)
            wall += lat
            lats.append(f"{name}={lat:.3f}")
            if i >= QUERY_WARMUP and not traced:
                latencies.append(lat)
            if c is not None:
                ops.append(c)
        log(f"pass {i} latencies (s): {' '.join(sorted(lats))}")
        b.sample_memory()
        return wall, (ops if traced else None)

    passes = b.measure(run_pass, QUERY_WARMUP, QUERY_MIN_PASSES)
    if undo:
        undo()

    log("checking outputs")
    oracle = oracles.QueryOracle(sf_dir, HEADLINE, inputs.QUERY_TABLES)
    for name, cols, rows, errors in results:
        b.record(errors or oracle.check(name, cols, rows))
    walls = [w for w, c in passes if c is None]
    log(f"{len(latencies)} timed query executions")
    if not b.trace:
        return b.result(b.end_to_end(walls, latencies, n_docs))
    log(f"trace written to {b.write_trace()}")
    return b.result(b.per_layer(passes, n_docs, len(latencies)))


def run_workload(b: Bench) -> str:
    if b.workload == "query_mix":
        return run_query_mix(b)
    return run_join(b, hotspot=b.workload == "join_hotspot")

