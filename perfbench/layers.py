"""Per-layer metric table: layer (named after the module whose public call
the span wraps) x counter, each the median over that layer's calls in the
run, 0 when the workload does not call the layer."""

from __future__ import annotations

from stats import median, tail

SEARCH = ("build_s", "py4j_calls", "jobs", "tasks", "rows_read_per_result",
          "driver_s")
DEDUP = ("jobs", "tasks", "executor_run_s", "executor_cpu_s",
         "shuffle_write_bytes", "spill_bytes", "driver_s")
TEXT = ("tasks", "executor_run_s", "executor_cpu_s", "driver_s")
BUILD = ("wall_s", "jobs", "shuffle_write_bytes")
BATCH = ("build_s", "py4j_calls", "jobs", "stages", "executor_run_s",
         "shuffle_read_bytes", "driver_s")

LAYERS = {
    "upsert.insert": ("wall_s", "jobs", "output_bytes"),
    "upsert.flush": BUILD,
    "upsert.build_index": BUILD,
    "upsert.build_sparse_index": BUILD,
    "dense": SEARCH, "sparse": SEARCH, "hybrid": SEARCH,
    "batch_dense": BATCH, "batch_sparse": BATCH, "batch_hybrid": BATCH,
    "dedup.exact": DEDUP, "dedup.minhash": DEDUP, "dedup.components": DEDUP,
    "gopher": TEXT, "scrub": TEXT, "langid": TEXT, "chunk": TEXT,
}
UNITS = {"wall_s": "s", "build_s": "s", "driver_s": "s", "executor_run_s": "s",
         "executor_cpu_s": "s", "rows_read_per_result": "rows"}


def _value(c: dict, metric: str) -> float:
    if metric == "executor_run_s":
        return c["executor_run_ms"] / 1e3
    if metric == "executor_cpu_s":
        return c["executor_cpu_ns"] / 1e9
    if metric == "spill_bytes":
        return c["spill_mem_bytes"] + c["spill_disk_bytes"]
    if metric == "rows_read_per_result":
        return c["input_records"] / max(1, c.get("result_rows", 0))
    return c[metric]


def per_layer(tracer, res: dict) -> dict:
    out = {"session.start_s": (res["session_s"], "s"),
           "session.jvm_peak_rss_mb": (res["jvm_peak_rss_mb"], "MB"),
           "session.yardstick_cpu_s": (res["yardstick_cpu_s"], "s")}
    for layer, metrics in LAYERS.items():
        # a call that raised has no counters
        calls = [sp.counters for sp in tracer.calls(layer) if sp.counters]
        for m in metrics:
            unit = UNITS.get(m, "bytes" if m.endswith("_bytes") else "count")
            out[f"{layer}.{m}"] = (median(_value(c, m) for c in calls), unit)
    out["batch_dense.recall_at_10"] = (res.get("batch_recall", 0.0), "ratio")
    out["dedup.minhash.pairs_out"] = (res.get("pairs_out", 0), "count")
    out["dedup.minhash.pair_precision"] = (res.get("pair_precision", 0.0), "ratio")
    # the workload's unit latency under tracing; minus the same figure of
    # an untraced run (search_p50_s / pass_p50_s on its standard error),
    # it is the tracing overhead
    out["trace.unit_p50_s"] = (res["unit_p50_s"], "s")
    out["trace.bookkeeping_s"] = (tracer.bookkeeping_s, "s")
    return out


def summary(res: dict) -> list[str]:
    """The workload's own figures under their descriptive names, with the
    sample count behind each (standard error, not the result line)."""
    lines = []
    lat = res.get("latencies")
    if lat:
        search = [x for xs in lat.values() for x in xs]
        p, v = tail(search)
        lines.append(f"search_p50_s {res['unit_p50_s']:.4f} s (n={len(search)})")
        if p > 0.5:
            lines.append(f"search_p{int(p * 100)}_s {v:.4f} s (n={len(search)})")
        for k, xs in lat.items():
            lines.append(f"{k}_p50_s {median(xs):.4f} s (n={len(xs)})")
        lines.append(f"recall_at_10 {res['recall']:.4f}")
    if "n_docs" in res:
        lines.append(f"pass_p50_s {res['unit_p50_s']:.4f} s")
        lines.append(f"curation_docs_per_s {res['items_per_s']:.1f} 1/s "
                     f"(docs={res['n_docs']})")
        lines.append(f"corpus_plan_bytes {res['corpus_bytes']}")
    lines.append(f"error_rate {res['failed'] / max(1, res['attempted']):.4f}")
    lines.append("checks " + " ".join(f"{k}={'ok' if v else 'FAIL'}"
                                      for k, v in res["checks"].items()))
    return lines
