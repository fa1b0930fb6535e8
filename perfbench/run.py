"""Seeded benchmark of the PIP join + tiling engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload join_hotspot --seed 1 \\
        --seconds 6 --trace 0

The last stdout line is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with `--trace 0`, the
per-layer ones with `--trace 1` (see perfbench/README.md). Everything the
run writes stays under `.perfbench_work/` (removed at exit) and
`.perfbench_out/` (trace files) in the checkout.
"""

import time

T_START = time.time()

import argparse  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _args(argv):
    from perfbench import schema
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(schema.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=schema.RUN_SECONDS)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(work: str) -> None:
    """Keep temp files, Spark's local dirs and the JVM's tmpdir inside the
    checkout, and let the Python workers import the package from it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:   # do not leave it behind
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    if sys.path and os.path.abspath(sys.path[0]) == os.path.dirname(
            os.path.abspath(__file__)):
        sys.path[0] = ROOT           # import perfbench.* as a package
    elif ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    args = _args(argv)
    try:
        import gdal_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not in this checkout ({e})",
              file=sys.stderr)
        return 2

    from perfbench import workloads
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        _isolate(work)
        from gdal_spark import datagen
        from gdal_spark.session import get_spark
        setup = {}
        t = time.time()
        spark = get_spark("perfbench", cores=workloads.CORES)
        spark.sparkContext.setLogLevel("ERROR")
        setup["session.start_s"] = time.time() - t
        t = time.time()
        datagen.regions(spark)
        setup["datagen.regions_s"] = time.time() - t
        bench = workloads.Bench(
            spark, T_START, work, os.path.join(ROOT, ".perfbench_out"),
            args.workload, args.seed, args.seconds, bool(args.trace), setup)
        line = workloads.run_workload(bench)
        workloads.log_memory(bench)
        workloads.log("done")
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
