"""online_rw: one client in a closed loop against one collection.

Set-up writes a generated collection through the public ingest path
(insert_data, flush), builds the IVF_FLAT and BM25 indexes, then upserts
one batch with 30% updates of live keys, so the indexes carry appended
rows and stale versions. The loop sends the next request only after the
previous one completed: a dense IVF search, a BM25 search and a hybrid
search, all on the index-append / latest-wins path, carrying the
reference's post-filters (text filter with minimum_words_match and score
threshold on dense, meta filter and score threshold on hybrid).

Untimed, after the warm-up cycle: IVF recall@10 over a fixed sample of
plain dense searches against the numpy top-10 (the index state is final
once set-up ends). After the loop, in traced runs only: one block of each
batched search (search_many, search_sparse_many, search_hybrid_many) for
the batch_* layers.

The upsert is part of set-up, not of the loop: measured in the loop, its
27 Spark jobs needed their own warm-up cycle and doubled a run's length.
"""

from __future__ import annotations

import os
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from cpu import cpu_s, yardstick
from stats import median

DIM = 64
N_ROWS = 4_000
NLIST = 16
NPROBE = 4
UPSERT_ROWS = 1_000
UPDATE_FRAC = 0.3
THRESHOLD = 0.2
CYCLE = ("dense", "sparse", "hybrid")
WARMUP_CYCLES = 1
CPU_CYCLES = 3
RECALL_QUERIES = 10
BATCH_QUERIES = 16
TENANT, MODEL = "bench", "online"


def _ranked(df) -> list:
    return sorted(df.collect(), key=lambda r: r["rank"])


def _ranked_by_qid(df) -> dict[int, list]:
    out: dict[int, list] = {}
    for r in _ranked(df):
        out.setdefault(r["qid"], []).append(r)
    return out


class Online:
    def __init__(self, spark, tracer, work: str, seed: int):
        from flouds_vectordb_spark.catalog import Catalog, CollectionSpec
        from flouds_vectordb_spark.operators.upsert import CollectionWriter

        self.spark, self.tr, self.work, self.seed = spark, tracer, work, seed
        self.rng = np.random.default_rng([seed, 1])
        base = os.path.join(work, "base")
        self.coll = gen.write_collection(base, seed, N_ROWS, DIM)
        # the benchmark's own copy of the latest state, for the checks
        self.latest: dict[str, tuple] = {}
        self._track(base)
        self.batch_ts = 1
        cat = Catalog(spark, os.path.join(work, "warehouse"))
        cat.set_vector_store(TENANT)
        cat.generate_schema(CollectionSpec(TENANT, MODEL, dimension=DIM,
                                           nlist=NLIST, index_type="IVF_FLAT"))
        self.w = CollectionWriter(cat, TENANT, MODEL)
        self.tr.call("upsert.insert_initial", self._insert, base)
        self.tr.call("upsert.flush", self.w.flush)
        self.tr.call("upsert.build_index", self.w.build_index)
        self.tr.call("upsert.build_sparse_index", self.w.build_sparse_index)
        path = os.path.join(work, "upsert.parquet")
        ids = gen.write_upsert_batch(path, self.rng, self.coll, DIM, N_ROWS,
                                     UPSERT_ROWS, UPDATE_FRAC)
        self.tr.call("upsert.insert", self._insert, path)
        self._track(path)
        self.updated = ids[:int(UPSERT_ROWS * UPDATE_FRAC)]
        self.todo: list = []
        self.rows: list = []

    def _insert(self, path: str) -> dict:
        out = self.w.insert_data(self.spark.read.parquet(path),
                                 batch_ts=self.batch_ts, auto_flush_min_batch=-1)
        self.batch_ts += 1
        return out

    def _track(self, path: str) -> None:
        t = pq.read_table(path)
        for i, c, v, m in zip(t["id"].to_pylist(), t["chunk"].to_pylist(),
                              t["vector"].to_pylist(), t["meta"].to_pylist()):
            self.latest[i] = (c, np.asarray(v, dtype=np.float32), dict(m))

    # ---- requests --------------------------------------------------------

    def request(self, kind: str, i: int) -> None:
        """Run one search of `kind`. Output checks for it are queued in
        self.todo, to run after its timing."""
        from flouds_vectordb_spark.functions.text import filter_words
        from flouds_vectordb_spark.operators.dense_search import DenseSearchRequest
        from flouds_vectordb_spark.operators.hybrid_search import HybridSearchRequest
        from flouds_vectordb_spark.operators.sparse_search import SparseSearchRequest

        rng = self.rng
        self.todo = []
        text = gen.query_texts(rng, 1)[0]
        if kind == "dense":
            # the query is an updated key's new vector, and the text filter
            # holds two non-stop words of its new chunk: the top hit must be that
            # key's newest version (read-after-write through the index
            # appends)
            key = self.updated[int(rng.integers(len(self.updated)))]
            chunk, vec, _ = self.latest[key]
            words = filter_words(chunk)
            filt = " ".join(words[j] for j in rng.choice(len(words), 2, replace=False))
            req = DenseSearchRequest(query_vector=[float(x) for x in vec], limit=10,
                                     nprobe=NPROBE, score_threshold=THRESHOLD,
                                     text_filter=filt, minimum_words_match=1)
            rows = self.tr.call("dense", self.w.search, req, use_index=True,
                                chunk_col="chunk", meta_col="meta",
                                consume=_ranked)
            self.todo.append(("read_after_write", lambda rows: (
                bool(rows) and rows[0]["id"] == key and rows[0]["chunk"] == chunk)))
        elif kind == "sparse":
            req = SparseSearchRequest(query_text=text, limit=10)
            rows = self.tr.call("sparse", self.w.search_sparse, req,
                                use_index=True, consume=_ranked)
            self.todo.append(("bm25_equals_duckdb",
                              lambda rows: self.check_sparse(text, rows)))
        else:
            v = gen.query_vectors(rng, self.coll, 1, DIM)[0]
            src = gen.META_SOURCES[i % len(gen.META_SOURCES)]
            req = HybridSearchRequest(query_vector=[float(x) for x in v],
                                      text_filter=text, limit=10,
                                      score_threshold=0.1, meta_filter={"source": src})
            rows = self.tr.call("hybrid", self.w.search_hybrid, req,
                                use_index=True, chunk_col="chunk",
                                meta_col="meta", consume=_ranked)
        self.rows = rows

    # ---- reference answers -----------------------------------------------

    def exact_top(self, vecs: np.ndarray, k: int = 10) -> list[list[tuple]]:
        """numpy COSINE top-k as (id, round(score, 6)), ranked (score desc,
        id asc)."""
        ids = sorted(self.latest)
        mat = np.stack([self.latest[i][1] for i in ids]).astype(np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        q = vecs.astype(np.float64)
        q /= np.linalg.norm(q, axis=1, keepdims=True)
        out = []
        for row in np.round(q @ mat.T, 6):
            top = np.argpartition(-row, 3 * k)[:3 * k]
            order = sorted(top, key=lambda j: (-row[j], ids[j]))[:k]
            out.append([(ids[j], row[j]) for j in order])
        return out

    def check_sparse(self, text: str, rows) -> bool:
        """Indexed BM25 result equals the DuckDB twin over the latest state."""
        from flouds_vectordb_spark.operators.sparse_search import (
            SparseSearchRequest, bm25_postings_sql, sparse_search_sql)

        ids = sorted(self.latest)
        c = pa.table({"id": ids, "chunk": [self.latest[i][0] for i in ids]})
        con = duckdb.connect()
        try:
            con.register("c", c)
            want = con.execute(sparse_search_sql(
                SparseSearchRequest(query_text=text, limit=10),
                bm25_postings_sql("c"))).fetchall()
        finally:
            con.close()
        got = sorted(rows, key=lambda r: r["rank"])
        return ([r["id"] for r in got] == [w[0] for w in want]
                and all(abs(r["score"] - w[2]) <= 1e-6 for r, w in zip(got, want)))

    def check_exact(self) -> bool:
        """Exact (index-free) dense search equals the numpy top-10."""
        from flouds_vectordb_spark.operators.dense_search import DenseSearchRequest

        v = gen.query_vectors(self.rng, self.coll, 1, DIM)
        req = DenseSearchRequest(query_vector=[float(x) for x in v[0]], limit=10,
                                 score_threshold=None, output_fields=("id",))
        got = sorted(self.w.search(req, use_index=False).collect(),
                     key=lambda r: r["rank"])
        return [r["id"] for r in got] == [i for i, _ in self.exact_top(v)[0]]

    def recall_sample(self) -> float:
        """IVF recall@10 of RECALL_QUERIES plain indexed dense searches
        against the numpy top-10 of the latest state."""
        from flouds_vectordb_spark.operators.dense_search import DenseSearchRequest

        vecs = gen.query_vectors(np.random.default_rng([self.seed, 2]),
                                 self.coll, RECALL_QUERIES, DIM)
        hits = 0
        for v, truth in zip(vecs, self.exact_top(vecs)):
            req = DenseSearchRequest(query_vector=[float(x) for x in v], limit=10,
                                     nprobe=NPROBE, score_threshold=None,
                                     output_fields=("id",))
            got = {r["id"] for r in self.w.search(req, use_index=True).collect()}
            hits += len(got & {i for i, _ in truth})
        return hits / (10 * len(vecs))

    def batch_block(self) -> tuple[dict[str, bool], float]:
        """One block of BATCH_QUERIES through each batched search. Returns
        its output checks and the dense block's IVF recall@10."""
        from flouds_vectordb_spark.operators.dense_search import DenseSearchRequest
        from flouds_vectordb_spark.operators.hybrid_search import HybridSearchRequest
        from flouds_vectordb_spark.operators.sparse_search import SparseSearchRequest

        rng = np.random.default_rng([self.seed, 3])
        vecs = gen.query_vectors(rng, self.coll, BATCH_QUERIES, DIM)
        texts = gen.query_texts(rng, BATCH_QUERIES)
        dq = [(q, [float(x) for x in v]) for q, v in enumerate(vecs)]
        dense = self.tr.call(
            "batch_dense", self.w.search_many, dq,
            DenseSearchRequest(query_vector=dq[0][1], limit=10, nprobe=NPROBE,
                               score_threshold=None, output_fields=("id",)),
            use_index=True, consume=_ranked_by_qid)
        sparse = self.tr.call(
            "batch_sparse", self.w.search_sparse_many, list(enumerate(texts)),
            SparseSearchRequest(query_text="", limit=10), use_index=True,
            consume=_ranked_by_qid)
        hreq = HybridSearchRequest(query_vector=dq[0][1], text_filter=texts[0],
                                   limit=10, output_fields=())
        hybrid = self.tr.call(
            "batch_hybrid", self.w.search_hybrid_many,
            [(q, v, t) for (q, v), t in zip(dq, texts)], hreq, use_index=True,
            consume=_ranked_by_qid)
        hits = sum(len({r["id"] for r in dense.get(q, [])} & {i for i, _ in truth})
                   for q, truth in enumerate(self.exact_top(vecs)))
        single = _ranked(self.w.search_hybrid(hreq, use_index=True))
        checks = {
            "batch_bm25_equals_duckdb": all(
                self.check_sparse(t, sparse.get(q, [])) for q, t in enumerate(texts)),
            # qid 0 of the block asks what hreq asks on its own
            "batch_hybrid_equals_single": (
                [r["id"] for r in hybrid.get(0, [])] == [r["id"] for r in single]),
        }
        return checks, hits / (10 * BATCH_QUERIES)


def run(spark, tracer, work: str, seed: int, seconds: float) -> dict:
    t0 = time.perf_counter()
    o = Online(spark, tracer, work, seed)
    setup_s = time.perf_counter() - t0
    # warm-up: untimed, untraced cycles, then the recall sample; the first
    # runs of each plan shape are JIT-bound and their CPU varies run to run
    tracing, tracer.enabled = tracer.enabled, False
    t = time.perf_counter()
    for _ in range(WARMUP_CYCLES):
        for i, kind in enumerate(CYCLE):
            o.request(kind, i)
    recall = o.recall_sample()
    warmup_s = time.perf_counter() - t
    tracer.enabled = tracing
    lat: dict[str, list[float]] = {k: [] for k in CYCLE}
    checks: dict[str, bool] = {}
    busy = 0.0
    attempted = failed = 0
    i = cycles = 0
    cycle_cpu: list[float] = []
    deadline = time.perf_counter() + seconds
    # whole cycles only, so every run has the same request mix
    while cycles < CPU_CYCLES or time.perf_counter() < deadline:
        cpu0, check_cpu, answered = cpu_s(), 0.0, attempted - failed
        for kind in CYCLE:
            attempted += 1
            tracer.request = i
            i += 1
            t = time.perf_counter()
            try:
                o.request(kind, i)
            except Exception:  # a failed request counts, the loop goes on
                import traceback

                traceback.print_exc()
                failed += 1
                continue
            finally:
                dt = time.perf_counter() - t
                busy += dt
                lat[kind].append(dt)
            # output checks on the request just answered, outside its timing
            # and outside the measured CPU
            c = time.process_time()
            for name, check in o.todo:
                checks[name] = checks.get(name, True) and check(o.rows)
            check_cpu += time.process_time() - c
        cycles += 1
        if cycles <= CPU_CYCLES:
            # the leading cycles only: every run reports the same stretch
            # of the JIT warm-up curve, however many cycles fit
            answered = attempted - failed - answered
            cycle_cpu.append((cpu_s() - cpu0 - check_cpu) / max(1, answered))
    tracer.request = None
    t = time.perf_counter()
    checks["exact_dense_equals_numpy"] = o.check_exact()
    out = {"checks_s": time.perf_counter() - t}
    if tracer.enabled:
        t = time.perf_counter()
        batch_checks, out["batch_recall"] = o.batch_block()
        checks.update(batch_checks)
        out["batch_s"] = time.perf_counter() - t
        out["yardstick_cpu_s"] = yardstick(spark)
    n = attempted - failed
    return {
        **out,
        "setup_data_s": setup_s,
        "warmup_s": warmup_s,
        "attempted": attempted + len(checks),
        "failed": failed + sum(not ok for ok in checks.values()),
        "checks": checks,
        "unit_p50_s": median(x for k in CYCLE for x in lat[k]),
        "items_per_s": n / busy,
        # median over cycles: a cycle that meets a GC or a burst of JIT
        # compiles does not move it
        "cpu_s_per_item": median(cycle_cpu),
        "cycle_cpu_s_per_item": cycle_cpu,
        "recall": recall,
        "latencies": lat,
    }
