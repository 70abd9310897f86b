"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Drives flouds_vectordb_spark only through
its public API, on local[nproc] with one client, and prints one JSON
object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 reports the per-layer
metrics from the same workload with every public call wrapped by
perfbench/spans.py, and writes the spans as JSON lines under
.perfbench_work/. Human-readable detail goes to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("online_rw", "curation_small")


def _args():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _hwm_mb(pid) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _environment(work: str) -> int:
    """Point Spark, the JVM and Python workers inside the checkout, and
    export the package for the workers. Returns nproc."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    jopts = os.environ.get("JAVA_TOOL_OPTIONS")
    os.environ.update({
        # without it, Python UDF workers fail: ModuleNotFoundError
        "PYTHONPATH": ROOT + (os.pathsep + pp if pp else ""),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_DRIVER_MEMORY": "3g",
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": (jopts + " " if jopts else "")
                             + f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    return nproc


def _stop(spark) -> None:
    """Stop the session and wait for the JVM the gateway launched."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    a = _args()
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    if not os.path.isfile(os.path.join(ROOT, "flouds_vectordb_spark", "__init__.py")):
        _log("flouds_vectordb_spark not found: run from the repository root")
        return 2
    import layers
    from spans import Tracer

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    nproc = _environment(work)
    with open("/proc/loadavg") as f:
        load0 = f.read().split()[:3]

    from flouds_vectordb_spark.session import get_spark

    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t0
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        tracer = Tracer(spark, enabled=bool(a.trace))
        try:
            if a.workload == "online_rw":
                import online

                res = online.run(spark, tracer, work, a.seed, a.seconds)
            else:
                import curation

                res = curation.run(spark, tracer, work, a.seed, a.seconds)
            rss_py = _hwm_mb("self")
            rss_jvm = _hwm_mb(jvm.pid) if jvm is not None else 0.0
        finally:
            _stop(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if a.trace:
        tracer.write(os.path.join(work_root, f"spans-{a.workload}-{a.seed}.jsonl"))

    res["session_s"] = session_s
    res["jvm_peak_rss_mb"] = rss_jvm
    info = {k: v for k, v in res.items() if k not in ("latencies",)}
    _log(json.dumps({"workload": a.workload, "seed": a.seed, "nproc": nproc,
                     "loadavg_start": load0, "py_peak_rss_mb": rss_py, **info},
                    default=str))
    for line in layers.summary(res):
        _log(line)
    if a.trace:
        metrics = layers.per_layer(tracer, res)
    else:
        metrics = {
            "setup_s": (session_s + res["setup_data_s"], "s"),
            "cpu_s_per_item": (res["cpu_s_per_item"], "s"),
            "recall": (res["recall"], "ratio"),
            "py_peak_rss_mb": (rss_py, "MB"),
        }
    out = {
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
