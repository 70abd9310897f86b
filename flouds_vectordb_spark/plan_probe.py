"""Catalyst plan probes that pick an operator's regime at plan-build time.

Both probes read the OPTIMIZED logical plan through the JVM handle
(`df._jdf`), so they work in classic (py4j) mode only: a Spark Connect
DataFrame has no `_jdf`, and every probe then fails closed — it reports
"large" / "not local", which sends the caller to its distributed regime,
the one that is correct at any scale. Each caller keeps its own bound.

`sparse_search._small_corpus` (sum of the plan's LEAF sizes) and
`sparse_search._honest_scan_bytes` (on-disk bytes of a bare file scan) are
different estimates for plans whose root estimate is unusable; they stay
where they are.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

UNKNOWN_SIZE = 1 << 62  # fail-closed answer: larger than any bound


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's sizeInBytes estimate for df's optimized plan (file bytes
    for parquet scans); UNKNOWN_SIZE when there is no estimate."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
    except Exception:
        return UNKNOWN_SIZE


def is_local_relation(df: DataFrame) -> bool:
    """True when df's optimized plan is one LocalRelation — driver-built
    literal rows, which a collect reads back without running a job."""
    try:
        return (df._jdf.queryExecution().optimizedPlan()
                .getClass().getSimpleName() == "LocalRelation")
    except Exception:
        return False
