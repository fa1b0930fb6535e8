"""The benchmark's output contract: workloads, metric names and units.

One source of truth for the JSON line `run.py` prints and for
`BENCHMARK.json` (`test_perfbench_schema.py` keeps the two in step).
"""

from __future__ import annotations

import json
import math

WORKLOADS = {
    "join_uniform": (
        "canonical staged job over uniformly scattered pages: the JVM scan, "
        "broadcast-hash probe, mask triage, aggregation and StageRunner "
        "writes dominate; few candidates reach the exact-PIP UDF"),
    "join_hotspot": (
        "same job and size, 80% of pages in 8 Zipf-weighted cities on "
        "region corners: the exact-PIP UDF (Arrow boundary + geomops "
        "kernel) dominates and hot cells skew the range partitions"),
    "query_mix": (
        "the 17 bench.py headline queries over the repository's sf0.1 "
        "tables (5,000 pages) in one warm session: driver plan "
        "construction and per-query fixed costs dominate; read-only"),
}

JOIN_WORKLOADS = ("join_uniform", "join_hotspot")

# the workloads BENCHMARK.json lists; join_uniform stays runnable by name
# but does not fit the run budget (README.md, "Budget")
BENCHMARKED = ("join_hotspot", "query_mix")

# (name, unit, better, bound) -- printed with --trace 0
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("pages_per_s", "pages/s", "higher", 0.25),
    ("query_p50_s", "s", "lower", 0.25),
    ("query_p90_s", "s", "lower", 0.25),
]

# (name, unit, better) -- printed with --trace 1; every time is per pass
PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("datagen.regions_s", "s", "lower"),
    ("setup.pages_s", "s", "lower"),
    ("warmup.passes", "count", "lower"),
    ("queries.plan_s", "s", "lower"),
    ("query.samples", "count", "higher"),
    ("pip.build_s", "s", "lower"),
    ("pip.scan_rows_per_page", "ratio", "lower"),
    ("pip.broadcast_builds", "count", "lower"),
    ("pip.broadcast_collect_s", "s", "lower"),
    ("pip.exact_share", "ratio", "lower"),
    ("pip.task_skew", "ratio", "lower"),
    ("udf.rows", "count", "lower"),
    ("udf.bytes_sent", "bytes", "lower"),
    ("udf.bytes_received", "bytes", "lower"),
    ("udf.python_s", "s", "lower"),
    ("udf.boot_init_s", "s", "lower"),
    ("udf.accept_ratio", "ratio", "higher"),
    ("kernel.pip_s", "s", "lower"),
    ("scan.s", "s", "lower"),
    ("agg.s", "s", "lower"),
    ("shuffle.write_bytes", "bytes", "lower"),
    ("shuffle.write_s", "s", "lower"),
    ("stage.pip_counts_s", "s", "lower"),
    ("stage.tile_density_s", "s", "lower"),
    ("stage.overview_s", "s", "lower"),
    ("write.files", "count", "lower"),
    ("write.bytes", "bytes", "lower"),
    ("write.commit_s", "s", "lower"),
    ("failed_frac", "ratio", "lower"),
    ("trace.pass_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.unattributed_share", "ratio", "lower"),
    ("trace.passes_unreconciled", "count", "lower"),
    ("wall.plan_s", "s", "lower"),
    ("wall.tasks_s", "s", "lower"),
    ("wall.spark_driver_s", "s", "lower"),
    ("wall.stage_runner_s", "s", "lower"),
    ("tasks.core_s", "s", "lower"),
    ("tasks.other_s", "s", "lower"),
    ("mem.jvm_heap_peak_mb", "MB", "lower"),
    ("mem.python_workers_peak_mb", "MB", "lower"),
]

# per-layer metrics measured on only some workloads; elsewhere they read 0
MEASURED_ON = {
    "queries.plan_s": ("query_mix",),
    **{name: JOIN_WORKLOADS for name in (
        "stage.pip_counts_s", "stage.tile_density_s", "stage.overview_s",
        "write.files", "write.bytes", "write.commit_s",
        "wall.stage_runner_s")},
}

RUN_SECONDS = 6
COMMAND = ["python3", "perfbench/run.py"]
PATHS = ["perfbench"]


def benchmark_json() -> dict:
    """The BENCHMARK.json document this module describes."""
    return {
        "command": COMMAND,
        "paths": PATHS,
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": WORKLOADS[n]} for n in BENCHMARKED],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bd}
                       for n, u, b, bd in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b}
                      for n, u, b in PER_LAYER],
    }


def result_line(correct: bool, attempted: int, failed: int,
                values: dict[str, float], trace: bool) -> str:
    """The last stdout line: exactly the metrics of the chosen set, each a
    finite number with its unit. Raises on a missing or extra metric."""
    spec = PER_LAYER if trace else END_TO_END
    units = {s[0]: s[1] for s in spec}
    if set(values) != set(units):
        missing = sorted(set(units) - set(values))
        extra = sorted(set(values) - set(units))
        raise ValueError(f"metric set mismatch: missing={missing} "
                         f"extra={extra}")
    metrics = {}
    for name, unit in units.items():
        v = float(values[name])
        if not math.isfinite(v):
            raise ValueError(f"metric {name} is not finite: {v}")
        metrics[name] = {"value": v, "unit": unit}
    if attempted < 1:
        raise ValueError("attempted must be at least 1")
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": metrics})
