"""Species-range benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload etl_large_rasters --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root.  It generates the workload's inputs from the
seed, starts one Spark session, runs a first pass whose output is checked
against an independent expectation (numpy for the ETL, the DuckDB oracles
for the lanes), then measures warm passes for ``--seconds`` and prints one
JSON line::

    {"correct": true, "attempted": 7, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones from a separate traced run (see README.md in this directory).  A
mismatch or a failed pass prints ``"correct": false`` and exits 1; a
missing engine package exits 2 without a result line.

The run environment is pinned here, before the JVM starts: local[--cpus]
(``SPARK_GRAFT_CPUS``), a driver heap of --driver-mem
(``SPARK_GRAFT_DRIVER_MEM``; the session's 16g default exceeds small
hosts), ``PYTHONPATH`` at the repository root so Python workers import the
engine from any working directory, and Spark's local dirs, ``java.io.tmpdir``
and ``TMPDIR`` inside a per-run scratch directory under ``.perfbench_work/``
that is removed on exit.
"""

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: inputs per workload; sizes are fixed, the seed changes only the content
WORKLOADS = {
    # a few big grids: as much per-cell work (decode, Arrow transfer, the
    # dissolve kernel) as the run time allows on top of the ~5 s of fixed
    # job and worker overhead every pass carries
    "etl_large_rasters": {"n_species": 4, "n_scenarios": 2, "side": 112},
    # many tiny grids through the same code: per-file, per-group and
    # per-task overhead dominates (not in BENCHMARK.json, see README.md)
    "etl_many_small": {"n_species": 20, "n_scenarios": 4, "side": 16},
    # registry lanes over a generated star schema (see lanes.py)
    "lanes_mix": {"scale": 0.005},
}
SETUPS = 3  # session set-ups per run; setup_s is their median
MIN_WARM = 2  # untraced warm passes measured even if --seconds runs out first
DEADLINE_S = 170  # the whole run, set-up included


def pin_env(args, work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(args.cpus)
    env["SPARK_GRAFT_DRIVER_MEM"] = args.driver_mem
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = tmp
    # every JVM the session starts (the launcher and the driver) keeps its
    # temp files, perf data included, out of the system temp dir
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # a fixed, pre-touched driver heap: G1's adaptive heap growth otherwise
    # moves the JVM's RSS by +-0.5 GB between runs of unchanged code
    env["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Xms{args.driver_mem} -XX:+AlwaysPreTouch' "
        "pyspark-shell")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def setup(spark):
    """Stop ``spark`` if given, then time ``get_spark()`` and the first
    Python-worker job: (session, get_spark seconds, worker-job seconds)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from species_range_data_pipeline_spark.session import get_spark

    if spark is not None:
        spark.stop()
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    spark.range(0, 4, 1, 1).select(plus_one("id")).collect()
    return spark, t1 - t0, time.perf_counter() - t1


def make_workload(name: str, seed: int, work: str):
    """Generate the inputs (before any timing) and return the constructor
    that wraps them around a session; only the generated files reach the
    program."""
    spec = WORKLOADS[name]
    if name == "lanes_mix":
        from gen import star_tables
        from lanes import LanesWorkload

        table_dir = os.path.join(work, "tables")
        rows = star_tables(table_dir, seed, spec["scale"])
        return lambda spark: LanesWorkload(spark, table_dir, rows)
    from etl import EtlWorkload
    from gen import species_zips

    inputs = species_zips(os.path.join(work, "zips"), seed, **spec)
    return lambda spark: EtlWorkload(spark, inputs, work)


def attempt(fn) -> tuple[float, list[str]]:
    """Run one checked pass; an exception is a failed pass, not a crash."""
    try:
        return fn()
    except Exception as exc:  # noqa: BLE001 - counted and reported
        return 0.0, [f"{type(exc).__name__}: {exc}"]


def kernel_rates(seed: int) -> dict[str, float]:
    """Driver-side rates of the two per-cell kernels on one generated grid:
    ``parse_ascii_grid`` (decode) and ``union_cells_to_multipolygon``
    (dissolve), best of three."""
    import numpy as np

    from gen import asc_bytes, smooth_field
    from species_range_data_pipeline_spark.functions.geometry import (
        union_cells_to_multipolygon,
    )
    from species_range_data_pipeline_spark.pipeline.raster import parse_ascii_grid

    milli = smooth_field(np.random.default_rng(seed), 200, 200)
    blob = asc_bytes(milli)
    rows, cols = np.nonzero(milli >= 250)
    best_dec = best_dis = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        _, cells = parse_ascii_grid(blob)
        t1 = time.perf_counter()
        union_cells_to_multipolygon(rows, cols, -100.0, 30.0, 0.05, 200)
        t2 = time.perf_counter()
        best_dec, best_dis = min(best_dec, t1 - t0), min(best_dis, t2 - t1)
    return {"decode.kernel_cells_per_s": len(cells) / best_dec,
            "dissolve.kernel_cells_per_s": len(rows) / best_dis}


def measure(args, work: str) -> dict:
    from procs import PeakRss, tree_cpu_s

    build = make_workload(args.workload, args.seed, work)
    spark, start_s, worker_s = setup(None)
    wl = build(spark)
    # the correctness gate: the first pass in the fresh session
    cold_s, problems = attempt(wl.check)
    attempted, failed = 1, int(bool(problems))
    warm, cpu, peak_mb, traced = [], [], [], []
    min_warm = 1 if args.trace else MIN_WARM
    with PeakRss() as rss:
        t_end = time.perf_counter() + args.seconds
        while not problems and (
                time.perf_counter() < t_end or len(warm) < min_warm):
            attempted += 1
            rss.take()
            c0 = tree_cpu_s()
            wall, problems = attempt(wl.run_pass)
            cpu.append(tree_cpu_s() - c0)
            peak_mb.append(rss.take())
            if problems:
                failed += 1
                break
            warm.append(wall)
            print(f"perfbench: warm pass {len(warm)}: {wall:.3f} s, "
                  f"cpu {cpu[-1]:.2f} s, peak {peak_mb[-1]:.0f} MB", file=sys.stderr)
            if args.trace:
                from probe import StoreProbe

                traced.append(wl.traced_chain(StoreProbe(spark)))
    restart_s = []
    for _ in range(SETUPS - 1):
        spark, s1, s2 = setup(spark)
        restart_s.append(s1 + s2)
    setup_s = [start_s + worker_s] + restart_s
    for p in problems:
        print(f"perfbench: {args.workload}: {p}", file=sys.stderr)
    result = {"correct": not problems, "attempted": attempted, "failed": failed,
              "metrics": {}}
    if problems:
        return result

    if args.workload == "lanes_mix":
        warm_s = sum(statistics.median(v) for v in wl.lane_s.values())
    else:
        warm_s = statistics.median(warm)
    if args.trace:
        metrics = per_layer(traced, warm, args.seed, {
            "session.start_s": start_s, "session.worker_warm_s": worker_s,
            "session.restart_s": statistics.median(restart_s)})
    else:
        metrics = {
            "setup_s": statistics.median(setup_s),
            "cold_s": cold_s,
            "warm_s": warm_s,
            "input_rows_per_s": wl.work_units / warm_s,
            "cpu_s": statistics.median(cpu),
            "peak_rss_mb": statistics.median(peak_mb),
        }
    units = dict(declared("per_layer" if args.trace else "end_to_end"))
    result["metrics"] = {k: {"value": metrics.get(k, 0.0), "unit": u}
                         for k, u in units.items()}
    return result


def declared(kind: str) -> list[tuple[str, str]]:
    """(name, unit) of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [(m["name"], m["unit"]) for m in json.load(fh)[kind]]


def per_layer(traced, warm, seed, session: dict[str, float]) -> dict[str, float]:
    """Medians over the traced chains, plus the set-up and kernel timings.
    A layer the workload never calls (the raster layers on lanes_mix, the
    lanes on the ETL) is absent here and reads 0."""
    values = {k: statistics.median(t.get(k, 0.0) for t in traced)
              for k in set().union(*traced)}
    values["spark.spill_bytes"] = values["spark.disk_spill_bytes"]
    values["trace.overhead_s"] = (values["trace.traced_pass_s"]
                                  - statistics.median(warm))
    values.update(session)
    values.update(kernel_rates(seed))
    return values


def shutdown() -> None:
    """Stop the session and the JVM it launched, and wait for every child."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from procs import descendant_pids

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while descendant_pids() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendant_pids():
        os.kill(pid, signal.SIGKILL)
    while descendant_pids() and time.monotonic() < deadline + 10:
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--driver-mem", default="2g")
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import species_range_data_pipeline_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    def on_deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_deadline)
    signal.alarm(DEADLINE_S)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cwd = os.getcwd()
    try:
        pin_env(args, work)
        os.chdir(work)  # stray relative outputs (spark-warehouse) land here
        result = measure(args, work)
    finally:
        signal.alarm(0)
        shutdown()
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
