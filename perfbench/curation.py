"""curation_small: the LLM-data curation funnel over a generated corpus.

dedup_exact -> dedup_minhash -> dedup_components -> gopher_quality ->
lang_id -> scrub_pii -> chunk_documents. Each stage's output is
materialised (localCheckpoint, collect or count) inside its own public
call, as a pipeline that hands stage outputs on would.

The dedup operators choose their regime from Catalyst's size estimate of
the input against a 16 MB bound: below it a driver numpy path, above it
distributed plans. This workload measures the driver side, and the run
fails if the generated corpus lands on the other side. (The distributed
side would also need its warm-up pass over a corpus above the bound, which
more than doubles a run's length.)
"""

from __future__ import annotations

import os
import time

import gen
from cpu import cpu_s, yardstick
from stats import median

REGIME_BOUND_BYTES = 16 << 20
N_BASE = 10_000  # ~11.6k documents with the planted copies, ~3.3 MB
WARMUP_DOCS = 600
CPU_PASSES = 2
JACCARD = 0.5
# the driver regime runs its whole minhash in at most this many jobs
DRIVER_REGIME_MAX_JOBS = 2


def plan_size_bytes(df) -> int:
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def funnel(spark, tr, df) -> dict:
    """One pass; returns the stage outputs the checks need."""
    from pyspark.sql import functions as F

    from flouds_vectordb_spark.functions.langid import lang_id
    from flouds_vectordb_spark.operators.chunking import chunk_documents
    from flouds_vectordb_spark.operators.dedup import (
        dedup_components, dedup_exact, dedup_minhash)
    from flouds_vectordb_spark.operators.text_analysis import (
        gopher_quality, scrub_pii)

    def exact():
        keep = dedup_exact(df).filter("id = keeper_id").select("id")
        return df.join(keep, "id", "left_semi").localCheckpoint(eager=True)

    d1 = tr.call("dedup.exact", exact)
    def minhash():
        # the driver regime runs its jobs inside dedup_minhash itself
        p = dedup_minhash(d1, jaccard_threshold=JACCARD)
        return p, p.collect()

    pairs, pair_rows = tr.call("dedup.minhash", minhash)

    def components():
        comp = dedup_components(pairs)
        losers = comp.filter(F.col("id") != F.col("component_id")).select("id")
        return d1.join(losers, "id", "left_anti").localCheckpoint(eager=True)

    d2 = tr.call("dedup.components", components)

    def gopher():
        keep = gopher_quality(d2).filter("keep").select("id")
        return d2.join(keep, "id", "left_semi").localCheckpoint(eager=True)

    d3 = tr.call("gopher", gopher)

    def langid():
        en = lang_id(d3).filter(F.col("lang") == "en").select("id")
        return d3.join(en, "id", "left_semi").localCheckpoint(eager=True)

    d4 = tr.call("langid", langid)
    d5 = tr.call("scrub", lambda: scrub_pii(d4).localCheckpoint(eager=True))
    n_chunks = tr.call("chunk", lambda: chunk_documents(
        d5, id_col="id", text_col="text_scrubbed").count())
    return {"d1": d1, "pairs": pair_rows, "n_chunks": n_chunks}


def run(spark, tracer, work: str, seed: int, seconds: float) -> dict:
    t0 = time.perf_counter()
    path = os.path.join(work, "corpus")
    corpus = gen.write_corpus(path, seed, N_BASE)
    df = spark.read.parquet(path)
    size = plan_size_bytes(df)
    setup_s = time.perf_counter() - t0
    if size >= REGIME_BOUND_BYTES:
        raise SystemExit(
            f"corpus estimate {size} B is not below the {REGIME_BOUND_BYTES} B "
            "driver-regime bound")

    # warm-up: one untimed pass over a small corpus of the same shape
    wpath = os.path.join(work, "warmup")
    gen.write_corpus(wpath, seed + 7919, WARMUP_DOCS)
    tracing, tracer.enabled = tracer.enabled, False
    t = time.perf_counter()
    funnel(spark, tracer, spark.read.parquet(wpath))
    warmup_s = time.perf_counter() - t
    tracer.enabled = tracing

    passes, out, cpu = [], None, None
    cpu0 = cpu_s()
    t_end = time.perf_counter() + seconds
    while len(passes) < CPU_PASSES or time.perf_counter() < t_end:
        tracer.request = len(passes)
        t = time.perf_counter()
        with tracer.span("pass"):
            out = funnel(spark, tracer, df)
        passes.append(time.perf_counter() - t)
        if len(passes) == CPU_PASSES:
            # CPU of the leading passes only: every run reports the same
            # stretch of the JIT warm-up curve, however many passes fit
            cpu = cpu_s() - cpu0

    # ---- output checks (outside the timed passes) ----
    checks = {}
    survivors = {r["id"] for r in out["d1"].select("id").collect()}
    checks["exact_duplicates_removed"] = all(
        sum(i in survivors for i in g) == 1 and min(g) in survivors
        for g in corpus.exact_groups)
    truth = set()
    for g in corpus.near_groups:
        truth.update((a, b) for a in g for b in g if a < b)
    found = {(r["id_a"], r["id_b"]) for r in out["pairs"]}
    true_found = len(found & truth)
    checks["pairs_found"] = true_found > 0
    extra = {}
    if tracer.enabled:
        jobs = [sp.counters["jobs"] for sp in tracer.calls("dedup.minhash")]
        checks["regime_by_jobs"] = all(j <= DRIVER_REGIME_MAX_JOBS for j in jobs)
        extra["yardstick_cpu_s"] = yardstick(spark)
    return {
        **extra,
        "setup_data_s": setup_s,
        "warmup_s": warmup_s,
        "attempted": 7 * len(passes) + len(checks),
        "failed": sum(not ok for ok in checks.values()),
        "checks": checks,
        "unit_p50_s": median(passes),
        "items_per_s": corpus.n_docs * len(passes) / sum(passes),
        "cpu_s_per_item": cpu / (CPU_PASSES * corpus.n_docs),
        "recall": true_found / len(truth),
        "pairs_out": len(found),
        "pair_precision": true_found / max(1, len(found)),
        "corpus_bytes": size,
        "n_docs": corpus.n_docs,
    }

