"""CPU seconds used by this process and every process below it (the
Spark JVM it launched, the Python daemon and UDF workers the JVM forks),
read from /proc, and the yardstick they are divided by.

The host's CPUs are shared: it has phases, minutes long, in which every
CPU second of Spark work does about half the work. The yardstick is a fixed
Spark SQL job that calls no library code (planning, codegen, a shuffle and
a collect), timed in the same session as the workload; the workload's CPU
divided by the yardstick's follows the library's cost, not the phase.
"""

from __future__ import annotations

import os
import statistics

_TICK = os.sysconf("SC_CLK_TCK")
YARDSTICK_ROWS = 2_000_000
YARDSTICK_REPS = 5


def _stat(path: str) -> list[str] | None:
    try:
        with open(path) as f:
            stat = f.read()
    except OSError:  # exited while listing
        return None
    return stat[stat.rindex(")") + 2:].split()


def _tree(root: int) -> dict[int, list[str]]:
    """pid -> stat fields, for root and its live descendants."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            fields = _stat(f"/proc/{d}/stat")
            if fields is not None:
                stats[int(d)] = fields
    parent = {pid: int(f[1]) for pid, f in stats.items()}
    out = {}
    for pid, fields in stats.items():
        p = pid
        while p and p != root:
            p = parent.get(p, 0)
        if p == root:
            out[pid] = fields
    return out


def cpu_s(root: int | None = None) -> float:
    """utime + stime of the process tree under root (default: this
    process): every thread, live or exited, plus reaped children."""
    root = os.getpid() if root is None else root
    return sum(sum(int(x) for x in fields[11:15])
               for fields in _tree(root).values()) / _TICK


def yardstick(spark) -> float:
    """Median CPU seconds of one run of the yardstick job, over
    YARDSTICK_REPS runs after one untimed run."""
    n = spark.sparkContext.defaultParallelism

    def job():
        # the explicit repartition fixes the shuffle width, whatever the
        # session's spark.sql.shuffle.partitions
        rows = (spark.range(0, YARDSTICK_ROWS, 1, n)
                .selectExpr("id % 4099 AS k", "hash(id) AS h",
                            "cast(id * 7 % 1000003 AS double) AS x")
                .repartition(n, "k")
                .groupBy("k")
                .agg({"h": "max", "x": "sum"})
                .collect())
        assert len(rows) == 4099

    job()
    reps = []
    for _ in range(YARDSTICK_REPS):
        c = cpu_s()
        job()
        reps.append(cpu_s() - c)
    return statistics.median(reps)
