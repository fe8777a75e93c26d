"""Lifecycle benchmark of the gasto-spark engine: one run of one workload.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload mef_lifecycle --seed 1 --seconds 10 --trace 0

Builds nothing: the engine is imported from the checkout's source.  The
run makes its inputs from ``--seed`` under ``.bench_work/`` in the
checkout, starts one Spark session on ``local[<cores>]``, sets up,
repeats the workload's round until ``--seconds`` have passed, checks
every operation's result, stops Spark and prints, as the last line of
standard output, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` the run is traced (spans, job
groups, Py4J counts, Spark UI harvest) and the metrics are the per-layer
ones.  The line before it is a ``{"detail": ...}`` object with the
environment stamp, input sizes, sample counts and each failed
operation, and the known-defect probes (``Workload.known_defects``),
which run after the timed rounds and do not count in the result.
``perfbench/suite.py`` runs every workload and prints the report.

Exits 2 without a result when the engine package is not importable.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "proyecto_gasto_publico_etl_per__spark"


def cores() -> int:
    """Cores this process may run on (``nproc`` without OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


def vm_hwm_kb(pid: int | str) -> int:
    """Peak resident set (``VmHWM``) of a process, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def tail(samples: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile with at least ``beyond`` samples above it:
    ``(percentile, value)``, or None with too few samples."""
    xs = sorted(samples)
    n = len(xs)
    if n <= beyond:
        return None
    i = n - 1 - beyond
    return 100.0 * i / (n - 1), xs[i]


def end_to_end(res, peak_rss_mb: float) -> dict[str, float]:
    reads = [o.latency_s for o in res.ops if o.kind == "read"]
    writes = [o.latency_s for o in res.ops if o.kind == "write"]
    return {
        "setup_s": res.setup_s,
        "wall_s": statistics.median(res.round_walls),
        "read_p50_s": statistics.median(reads),
        "write_p50_s": statistics.median(writes),
        "ingest_rows_per_s": res.ingest_rows / res.ingest_s,
        "stored_bytes_per_input_byte": res.stored_bytes / res.input_bytes,
        "peak_rss_mb": peak_rss_mb,
    }


UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "read_p50_s": "s",
    "write_p50_s": "s",
    "ingest_rows_per_s": "1/s",
    "stored_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}


def session_conf(work: Path) -> dict[str, str]:
    """Benchmark deployment settings: everything the run writes stays
    under the work directory, the UI (for the harvest) binds to
    loopback on a free port.  The driver JVM runs the serial collector
    with a fixed young generation, so its peak RSS tracks the data it
    retains rather than when G1 happened to grow the heap.  Engine
    tuning is left at its defaults."""
    return {
        "spark.driver.memory": "2g",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.port": "0",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
            " -XX:+UseSerialGC -Xmn256m",
    }


def env_stamp(spark, seed: int) -> dict:
    import pyspark

    conf = spark.sparkContext.getConf()
    return {
        "nproc": cores(),
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": conf.get("spark.driver.memory"),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "seed": seed,
    }


def stop_spark(spark) -> int:
    """Stop the session and the JVM it launched, and wait for it.
    Returns the JVM's peak RSS in kB, read just before it stops."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    hwm = vm_hwm_kb(proc.pid) if proc is not None else 0
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    return hwm


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        __import__(PACKAGE)
    except ImportError as err:
        print(f"perfbench: cannot import the engine ({err}); run from a "
              "checkout that holds its source", file=sys.stderr)
        return 2
    from perfbench import layers, trace, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = Path.cwd() / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # the run reads and writes only inside the checkout; the engine
    # runs with its own defaults, whatever the caller's environment says
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # the launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}")
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    import tempfile

    tempfile.tempdir = str(work / "tmp")

    from proyecto_gasto_publico_etl_per__spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", f"local[{cores()}]", session_conf(work))
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    stamp = env_stamp(spark, args.seed)

    tracer = trace.Tracer(spark, bool(args.trace))
    wl = workloads.WORKLOADS[args.workload](spark, tracer, work, args.seed)
    wl.result.session_start_s = start_s
    try:
        res = wl.run(args.seconds)
        tracer.close()
        per_layer = None
        if args.trace:
            raw = trace.harvest(spark)
            harvest = trace.Harvest(raw)
            per_layer = layers.derive(
                tracer.spans, harvest, res.notes.get("zone_files", {}),
                start_s, statistics.median(res.round_walls),
            )
            tracer.dump(work.parent / f"trace-{work.name}.json", raw)
        try:
            defects = wl.known_defects()
        except Exception as err:  # a probe, not an operation of the run
            defects = {"probe_error": f"{type(err).__name__}: {err}"[:300]}
    finally:
        t_stop = time.perf_counter()
        jvm_kb = stop_spark(spark)
        stop_s = time.perf_counter() - t_stop
    peak_rss_mb = (jvm_kb + vm_hwm_kb("self")) / 1024.0

    reads = [o for o in res.ops if o.kind == "read"]
    writes = [o for o in res.ops if o.kind == "write"]
    failed = [o for o in res.ops if not o.ok]
    read_tail = tail([o.latency_s for o in reads])
    detail = {
        "workload": args.workload,
        "env": stamp,
        "trace": args.trace,
        "seconds": args.seconds,
        "input_rows": res.input_rows,
        "input_bytes": res.input_bytes,
        "stored_bytes": res.stored_bytes,
        "rounds": len(res.round_walls),
        "phases": {**res.notes.get("phases", {}), "start_s": start_s,
                   "stop_s": stop_s},
        "samples": {
            "setup_s": 1, "wall_s": len(res.round_walls),
            "read_p50_s": len(reads), "write_p50_s": len(writes),
            "ingest_rows_per_s": res.ingest_samples,
            "stored_bytes_per_input_byte": 1, "peak_rss_mb": 1,
        },
        "read_tail": (
            {"percentile": read_tail[0], "value_s": read_tail[1]}
            if read_tail else None
        ),
        "failed_frac": len(failed) / len(res.ops),
        "failures": [
            {"op": o.name, "kind": o.kind, "error": o.error} for o in failed
        ],
        "ops": [[o.name, o.kind, round(o.latency_s, 4), o.ok] for o in res.ops],
        "known_defects": defects,
    }
    for name, probe in defects.items():
        print(f"perfbench: known defect {name}: {json.dumps(probe)}",
              file=sys.stderr)
    if per_layer is None:
        values = end_to_end(res, peak_rss_mb)
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in values.items()}
    else:
        units = dict(layers.CATALOG)
        metrics = {k: {"value": v, "unit": units[k]} for k, v in per_layer.items()}
    result = {
        "correct": not failed,
        "attempted": len(res.ops),
        "failed": len(failed),
        "metrics": metrics,
    }
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
