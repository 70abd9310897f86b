"""Fingerprint the search request shapes of perfbench's online_rw workload.

    python scripts/search_plans.py OUT.json

Run from the repository root. Builds online_rw's collection (seed 1: IVF and
BM25 indexes plus the upsert) in a temporary directory, then builds — but
does not run — the single and batched dense, sparse and hybrid requests the
workload sends, plus a few post-filter variants. For each it records the
optimized logical plan with expression ids (`#123`) and physical plan ids
(`plan_id=123`) stripped, and, for the operators themselves, the py4j round
trips one plan build costs: main thread only, garbage-collector detach
commands excluded, so the count is the same on every run.

Run it on two commits and diff the files: a refactor that keeps the plans
and the counts keeps the jobs, stages and tasks the searches schedule. The
column list of each stored `Relation [...]` is sorted: the stored
doc-length table's column order varies between index builds of the same
code.
"""

from __future__ import annotations

import gc
import json
import os
import re
import shutil
import sys
import tempfile
import threading

ROOT = os.getcwd()
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import gen  # noqa: E402
import numpy as np  # noqa: E402
import online  # noqa: E402

from flouds_vectordb_spark.functions.text import filter_words  # noqa: E402
from flouds_vectordb_spark.operators.batch_search import dense_search_many  # noqa: E402
from flouds_vectordb_spark.operators.dense_search import (  # noqa: E402
    DenseSearchRequest,
    dense_search,
)
from flouds_vectordb_spark.operators.hybrid_search import (  # noqa: E402
    HybridSearchRequest,
    hybrid_search,
    hybrid_search_many,
)
from flouds_vectordb_spark.operators.sparse_search import SparseSearchRequest  # noqa: E402
from flouds_vectordb_spark.session import get_spark  # noqa: E402


class _NoTrace:
    enabled = False

    def call(self, name, fn, *args, consume=None, **kwargs):
        out = fn(*args, **kwargs)
        return out if consume is None else consume(out)


def _plan(df) -> str:
    s = df._jdf.queryExecution().optimizedPlan().toString()
    s = re.sub(r"plan_id=\d+", "", re.sub(r"#\d+", "", s))
    return re.sub(r"Relation \[([^\]]*)\]",
                  lambda m: f"Relation [{','.join(sorted(m[1].split(',')))}]", s)


def main(out_path: str) -> None:
    os.environ.setdefault("PYTHONPATH", ROOT)
    work = tempfile.mkdtemp(prefix="search_plans_")
    spark = get_spark("search_plans")
    client = spark.sparkContext._gateway._gateway_client
    inner, main_thread, n = client.send_command, threading.get_ident(), [0]

    def send_command(command, *args, **kwargs):
        if threading.get_ident() == main_thread and not command.startswith("m\nd"):
            n[0] += 1
        return inner(command, *args, **kwargs)

    client.send_command = send_command
    try:
        o = online.Online(spark, _NoTrace(), work, 1)
        w = o.w
        rng = np.random.default_rng([1, 9])
        key = o.updated[0]
        chunk, vec, _ = o.latest[key]
        qv = [float(x) for x in vec]
        dreq = DenseSearchRequest(
            query_vector=qv, limit=10, nprobe=online.NPROBE,
            score_threshold=online.THRESHOLD,
            text_filter=" ".join(filter_words(chunk)[:2]), minimum_words_match=1)
        text = gen.query_texts(rng, 1)[0]
        hv = [float(x) for x in gen.query_vectors(rng, o.coll, 1, online.DIM)[0]]
        hreq = HybridSearchRequest(query_vector=hv, text_filter=text, limit=10,
                                   score_threshold=0.1,
                                   meta_filter={"source": gen.META_SOURCES[0]})
        vecs = gen.query_vectors(rng, o.coll, online.BATCH_QUERIES, online.DIM)
        texts = gen.query_texts(rng, online.BATCH_QUERIES)
        dq = [(q, [float(x) for x in v]) for q, v in enumerate(vecs)]
        hq = [(q, v, t) for (q, v), t in zip(dq, texts)]
        payload = dict(chunk_col="chunk", meta_col="meta")

        shapes = {
            "dense": lambda: w.search(dreq, use_index=True, **payload),
            "dense_l2_offset_round": lambda: w.search(
                DenseSearchRequest(query_vector=qv, metric="L2", limit=10, offset=3,
                                   round_decimal=3, meta_required=True),
                **payload),
            "sparse": lambda: w.search_sparse(
                SparseSearchRequest(query_text=text, limit=10), use_index=True),
            "hybrid": lambda: w.search_hybrid(hreq, use_index=True, **payload),
            "hybrid_no_payload": lambda: w.search_hybrid(
                HybridSearchRequest(query_vector=hv, text_filter=text, limit=10,
                                    offset=2, score_threshold=0.3, round_decimal=2),
                use_index=True),
            "batch_dense": lambda: w.search_many(dq, DenseSearchRequest(
                query_vector=dq[0][1], limit=10, nprobe=online.NPROBE,
                score_threshold=None, output_fields=("id",)), use_index=True),
            "batch_dense_filtered": lambda: w.search_many(dq, DenseSearchRequest(
                query_vector=dq[0][1], limit=10, nprobe=online.NPROBE,
                score_threshold=0.2, text_filter=texts[0], minimum_words_match=1,
                meta_required=True), use_index=True, **payload),
            "batch_sparse": lambda: w.search_sparse_many(
                list(enumerate(texts)), SparseSearchRequest(query_text="", limit=10),
                use_index=True),
            "batch_hybrid": lambda: w.search_hybrid_many(hq, HybridSearchRequest(
                query_vector=dq[0][1], text_filter=texts[0], limit=10,
                output_fields=()), use_index=True),
            "batch_hybrid_filtered": lambda: w.search_hybrid_many(
                hq, hreq, use_index=True, **payload),
        }
        res = {"plans": {k: _plan(fn()) for k, fn in shapes.items()}}

        base = w.read_latest()
        posts = w._stored_postings()
        ops = {
            "dense_search": lambda: dense_search(base, dreq, **payload),
            "dense_search_many": lambda: dense_search_many(base, dq, dreq, **payload),
            "hybrid_search": lambda: hybrid_search(base, posts, hreq, **payload),
            "hybrid_search_many": lambda: hybrid_search_many(base, posts, hq, hreq,
                                                             **payload),
        }
        res["py4j_calls"] = {}
        for name, fn in ops.items():
            fn()  # first build warms per-process caches
            gc.collect()
            gc.disable()
            n0 = n[0]
            df = fn()
            res["py4j_calls"][name] = n[0] - n0
            gc.enable()
            res["plans"][f"op_{name}"] = _plan(df)
        with open(out_path, "w") as f:
            json.dump(res, f, indent=1, sort_keys=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main(sys.argv[1])
