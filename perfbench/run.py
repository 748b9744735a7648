"""Benchmark runner: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload {tick_stream,relational_mix} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root.  The engine runs as shipped: ``get_spark``
defaults at ``local[nproc]`` (through ``SPARK_GRAFT_CPUS``).  Every file the
run writes stays under ``perfbench/``: inputs in ``.data`` and ``.work``,
one record per run (metrics, host calibration, and in traced runs the
spans) in ``out``.  The last stdout line is the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones.  The exit code is 1 when an output check fails or an op raises.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from pyspark import SparkContext  # noqa: E402

import mix  # noqa: E402
import tables  # noqa: E402
import tick  # noqa: E402
from spans import Tracer, traced_conf  # noqa: E402

from real_time_scraping_and_predicting_time_series_data_spark.session import get_spark  # noqa: E402

WORKLOADS = {"tick_stream": tick.run, "relational_mix": mix.run}

# Printed by --trace 1 for every workload; a layer a workload never enters
# reads 0.  Every figure is per op (per query, or per micro-batch).  The
# run record holds these plus the per-layer times.
PER_LAYER = {
    "catalog.load_calls": "count",
    "catalog.load_jobs": "count",
    "plans.build_jobs": "count",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.executor_run_s": "s",
    "operators.shuffle_read_bytes": "bytes",
    "operators.shuffle_write_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "streaming.jobs_per_batch": "count",
    "streaming.tasks_per_batch": "count",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "ml.fits": "count",
    "ml.fit_jobs": "count",
    "sources.store_files": "count",
    "sources.store_bytes": "bytes",
}


@dataclass
class Context:
    spark: object
    tracer: Tracer
    seed: int
    seconds: int
    work_dir: str
    data_dir: str
    input_s: float = 0.0
    timed_start: float = 0.0

    def mark_timed_start(self) -> None:
        self.timed_start = boot_clock()


def boot_clock() -> float:
    """Seconds since boot: the clock /proc gives process start times in."""
    return time.clock_gettime(time.CLOCK_BOOTTIME)


def process_start_time() -> float:
    """Start of this process on ``boot_clock``, to one clock tick."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return start_ticks / os.sysconf("SC_CLK_TCK")


def host_calibration_s() -> float:
    """A fixed single-threaded md5 chain: the host's speed at this moment."""
    t = time.perf_counter()
    h = b"perfbench"
    for _ in range(200_000):
        h = hashlib.md5(h).digest()
    return time.perf_counter() - t


def _environment(work_dir: str) -> dict[str, str]:
    local = os.path.join(work_dir, "spark-local")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # Every JVM (the launcher and the driver) keeps its temp files in the run.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {"spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse")}


def stop_spark(spark) -> None:
    """Stop every query and the session, then end the JVM (and with it
    the Python workers) and wait for it."""
    for q in spark.streams.active:
        q.stop()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)
        SparkContext._gateway = SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    proc_start = process_start_time()
    calibration = [host_calibration_s()]

    work_dir = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(work_dir, ignore_errors=True)
    extra_conf = _environment(work_dir)
    data_dir = tables.data_dir(HERE)
    input_s = tables.ensure_tables(data_dir) if args.workload == "relational_mix" else 0.0

    if args.trace:
        extra_conf.update(traced_conf())
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_ready = boot_clock()
    ctx = Context(spark, Tracer(spark, bool(args.trace)), args.seed, args.seconds, work_dir, data_dir, input_s)
    try:
        result = WORKLOADS[args.workload](ctx)
    finally:
        stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
    calibration.append(host_calibration_s())

    # Set-up leaves out writing the inputs and the first host calibration.
    setup_s = ctx.timed_start - proc_start - ctx.input_s - calibration[0]
    if args.trace:
        layers = result["layers"]
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "ops_per_s": {"value": result["ops_per_s"], "unit": "ops/s"},
            "op_p50_s": {"value": result["op_p50_s"], "unit": "s"},
        }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "started_at": time.time() - (boot_clock() - proc_start),
        "host_calibration_s": calibration,
        "setup_s": setup_s,
        "input_s": ctx.input_s,
        "session_s": session_ready - proc_start - calibration[0],
        "ops_per_s": result["ops_per_s"],
        "op_p50_s": result["op_p50_s"],
        "errors": result["errors"],
        "details": result["details"],
        "layers": result.get("layers"),
    }
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    if args.trace:
        ctx.tracer.dump(os.path.join(out_dir, f"{stem}.json"), record)
    else:
        with open(os.path.join(out_dir, f"{stem}.json"), "w") as f:
            json.dump(record, f, indent=1)

    for e in result["errors"]:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    for e in result["details"].get("failures", []):
        print(f"OP FAILED: {e}", file=sys.stderr)
    print(f"host calibration (s): {calibration[0]:.4f} {calibration[1]:.4f}; ops/s {result['ops_per_s']:.4f}")
    correct = not result["errors"]
    print(json.dumps({"correct": correct, "attempted": result["attempted"], "failed": result["failed"], "metrics": metrics}))
    return 0 if correct and not result["failed"] else 1


if __name__ == "__main__":
    sys.exit(main())
