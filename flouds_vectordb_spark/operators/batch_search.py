"""Batched multi-query dense search — amortizing the per-query job floor.

Every single-query index path (plans/ivf.py `IvfIndex.search`, the SQ8/PQ
decode paths in operators/upsert.py `CollectionWriter.search`) costs at
least one driver-coordinated Spark job per query — the reference has the
same one-request shape (app/routers/vector.py:130-164 /
app/milvus/vector_store.py:464-517), but a 100 TB training pipeline issues
retrieval queries by the million (distillation retrieval, corpus-vs-corpus
dedup), where a per-query job floor of ~0.2-0.5 s is the real bottleneck.

This module is the set-of-queries shape:

- a (qid, vector) QUERY BLOCK is broadcast (queries are the small side —
  thousands of rows of scalars+arrays; the corpus never moves),
- ONE scan scores every query: the exact path is a broadcast nested-loop
  join of block x corpus; the IVF path explodes each query into its nprobe
  probed cells driver-side and broadcast-hash-joins on centroid_id, so the
  scan stays partition-pruned to the UNION of probed cells and each query
  scores only rows of its own cells,
- the k-cut is ONE per-qid window over (qid, id, score) scalars — the
  shuffle carries no vectors and no payload (late materialization: payload
  joins back for the <= nq*fetch survivors only),
- everything after the k-cut IS the single-query code: dense_search's
  post_filter_tail (late payload join, score_threshold, empty-chunk drop,
  text filter, meta_required, meta_filter, final rank, rounding,
  projection — the vector_store.py:519-582 chain), called with its rank
  window partitioned by qid; the request TEMPLATE is shared by all queries
  (the batch-retrieval shape: one search config, many vectors).

Scoring determinism matches functions/vector.py's oracle contract: per-pair
sequential float64 folds, and the per-query norms (COSINE) are computed
ONCE driver-side with the same fold and spliced into BOTH engines as the
same literal, so Spark and DuckDB rank identical doubles.

Scale notes (100 TB): the query block is a genuine broadcast (scalars);
candidate volume is sum_q(nprobe * cell_rows) pairs of 3 scalars; the
per-qid window compiles to one hash-partitioned sort over those scalars.
At 1000 executors the probed scan parallelizes over cells and the window
over qids — no driver loop, no per-query job.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flouds_vectordb_spark.functions import vector as V
from flouds_vectordb_spark.functions.text import text_filter_sql
from flouds_vectordb_spark.operators.dense_search import (
    RANK_DECIMALS,
    DenseSearchRequest,
    bounded_candidates,
    post_filter_tail,
)

QueryBatch = Sequence[tuple[int, Sequence[float]]]


def _check_batch(queries: QueryBatch) -> int:
    if not queries:
        raise ValueError("search_many requires at least one (qid, vector) query")
    dims = {len(v) for _, v in queries}
    if len(dims) != 1:
        raise ValueError(f"all query vectors must share one dimension, got {sorted(dims)}")
    qids = [int(q) for q, _ in queries]
    if len(set(qids)) != len(qids):
        raise ValueError("duplicate qids in query batch")
    return dims.pop()


def query_block(spark: SparkSession, queries: QueryBatch) -> DataFrame:
    """The broadcastable query block: (qid, _qv, _qn). _qn is the
    driver-side sequential-fold L2 norm (functions/vector.py:query_norm) —
    the SAME literal both engines divide by for COSINE."""
    queries = list(queries)
    _check_batch(queries)
    from flouds_vectordb_spark.functions.local import local_df

    rows = [(int(q), [float(x) for x in v], V.query_norm(list(v)))
            for q, v in queries]
    return local_df(spark, rows, "qid bigint, _qv array<double>, _qn double")


def _pair_score(metric: str, vector_col: str) -> Column:
    """Per-(row, query) score against the block's _qv/_qn columns; the same
    larger-is-better convention and fold order as metric_score_q."""
    m = metric.upper()
    vec = F.col(vector_col)
    if m == "IP":
        return V.dot_score(vec, F.col("_qv"))
    if m == "L2":
        return V.l2_score(vec, F.col("_qv"))
    if m == "COSINE":
        return F.try_divide(V.dot_score(vec, F.col("_qv")),
                            V.norm(vec) * F.col("_qn"))
    raise ValueError(f"unsupported metric {metric!r} (expected COSINE, L2, IP)")


def _ranked_pipeline(
    cand: DataFrame,
    payload_df: DataFrame,
    req: DenseSearchRequest,
    id_col: str,
    chunk_col: str | None,
    meta_col: str | None,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Shared ranking of every search_many variant. cand: (qid, _id, _score)
    candidate pairs (scalars only). The k-cut is one per-qid window; the
    rest is dense_search's own post_filter_tail, partitioned by qid."""
    slim = bounded_candidates(cand, req)
    fetch = req.fetch + req.offset
    w = Window.partitionBy("qid").orderBy(F.col("_score_r").desc(), F.col("_id").asc())
    topk = (
        slim.withColumn("_pre", F.row_number().over(w))
        .filter((F.col("_pre") > req.offset) & (F.col("_pre") <= fetch))
        .drop("_pre")
    )
    return post_filter_tail(topk, payload_df, req, id_col, chunk_col, meta_col,
                            extra_cols, keys=("qid",))


def dense_search_many(
    df: DataFrame,
    queries: QueryBatch,
    req: DenseSearchRequest,
    id_col: str = "id",
    vector_col: str = "vector",
    chunk_col: str | None = None,
    meta_col: str | None = None,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Exact batched search: ONE corpus scan scores every query (broadcast
    nested-loop join against the query block), one per-qid window k-cut.
    Returns (qid, id, rank, score [, chunk, meta_kv, extra...]) with rank
    1-based per qid. req.query_vector is IGNORED — the batch supplies the
    vectors; every other request knob applies to all queries."""
    queries = list(queries)
    _check_batch(queries)
    qb = query_block(df.sparkSession, queries)
    cand = (
        df.select(F.col(id_col).alias("_id"), F.col(vector_col))
        .join(F.broadcast(qb))          # query block x corpus, block is tiny
        .select("qid", "_id", _pair_score(req.metric, vector_col).alias("_score"))
    )
    return _ranked_pipeline(cand, df, req, id_col, chunk_col, meta_col, extra_cols)


def ivf_search_many(
    idx,
    spark: SparkSession,
    queries: QueryBatch,
    req: DenseSearchRequest,
    scan_df: DataFrame | None = None,
    payload_df: DataFrame | None = None,
    nprobe: int | None = None,
    id_col: str = "id",
    vector_col: str = "vector",
    chunk_col: str | None = None,
    meta_col: str | None = None,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """IVF-pruned batched search over a built IvfIndex (plans/ivf.py):
    per-query probe cells are computed driver-side in one vectorized numpy
    pass, the scan is pruned to the UNION of probed cells, and the
    (qid, cell) explode joins each scanned row to exactly the queries that
    probed its cell. scan_df overrides the raw IVF layout with an
    already-pruned-and-decoded table (the SQ8/PQ paths); it must carry
    `centroid_id`. payload_df supplies chunk/meta/extra columns when the
    request needs them (defaults to scan_df/the raw scan)."""
    queries = list(queries)
    dim = _check_batch(queries)
    qmat = np.array([[float(x) for x in v] for _, v in queries], dtype=np.float64)
    cells = idx.probe_cells_many(qmat, req.nprobe if nprobe is None else nprobe)
    union_cells = sorted({int(c) for row in cells for c in row})

    # The exploded (qid, _qv, _qn, _cell) probe block, built ENTIRELY
    # driver-side as one LocalRelation (r13): the previous
    # query_block ⋈ createDataFrame(cells) + explode subtree cost an
    # ExistingRDD task stage (the local_df lesson), a broadcast join and
    # a Generate — all to produce <= nq*nprobe rows the driver already
    # holds. Very large blocks (where the VALUES literal would be MBs of
    # SQL text) keep the join shape.
    if len(queries) * len(cells[0]) * dim <= 200_000:
        from flouds_vectordb_spark.functions.local import local_df

        qx = local_df(
            spark,
            [(int(qid), [float(x) for x in v], V.query_norm(list(v)), int(c))
             for (qid, v), crow in zip(queries, cells) for c in crow],
            "qid bigint, _qv array<double>, _qn double, _cell int")
    else:
        qb = query_block(spark, queries)
        qcells = spark.createDataFrame(
            [(int(qid), [int(c) for c in crow])
             for (qid, _), crow in zip(queries, cells)],
            "qid bigint, _cells array<int>")
        qx = (qb.join(qcells, "qid")
              .select("qid", "_qv", "_qn", F.explode("_cells").alias("_cell")))

    scan = scan_df if scan_df is not None else idx.scan(spark, union_cells)
    cand = (
        scan.select(F.col(id_col).alias("_id"), F.col(vector_col), "centroid_id")
        .join(F.broadcast(qx), F.col("centroid_id") == F.col("_cell"))
        .select("qid", "_id", _pair_score(req.metric, vector_col).alias("_score"))
    )
    if payload_df is None:
        payload_df = scan  # same pruned plan — never a second footer trip
    return _ranked_pipeline(cand, payload_df, req, id_col, chunk_col, meta_col,
                            extra_cols)


# --- DuckDB oracle twin ------------------------------------------------------

def queries_values_sql(queries: QueryBatch) -> str:
    """The query block as a FROM-able VALUES subquery (qid, qv, qn) — qn is
    the SAME driver-computed literal the Spark side broadcasts."""
    queries = list(queries)
    _check_batch(queries)
    rows = ", ".join(
        f"({int(q)}::BIGINT, {V.query_sql_literal(list(v))}, "
        f"({V.query_norm(list(v))!r}::DOUBLE))"
        for q, v in queries)
    return f"(SELECT * FROM (VALUES {rows}) AS _qv(qid, qv, qn))"


def _pair_score_sql(metric: str, vec_expr: str, dim: int) -> str:
    """DuckDB twin of _pair_score against the q.qv/q.qn block columns, with
    the ragged-vector guard (Spark's zip_with NULL-pads -> NULL score;
    DuckDB's list_sum would silently skip)."""
    m = metric.upper()
    if m == "IP":
        score = V.dot_sql(vec_expr, "q.qv")
    elif m == "L2":
        score = V.l2_sql(vec_expr, "q.qv")
    elif m == "COSINE":
        score = f"({V.dot_sql(vec_expr, 'q.qv')} / nullif({V.norm_sql(vec_expr)} * q.qn, 0))"
    else:
        raise ValueError(f"unsupported metric {metric!r}")
    return f"(CASE WHEN len({vec_expr}) = {dim} THEN {score} ELSE NULL END)"


def dense_search_many_sql(
    req: DenseSearchRequest,
    queries: QueryBatch,
    table_sql: str,
    id_expr: str,
    vector_expr: str,
    chunk_expr: str | None = None,
    meta_exprs: dict[str, str] | None = None,
    meta_size_expr: str | None = None,
    meta_kv_expr: str | None = None,
) -> str:
    """Oracle twin of dense_search_many / ivf_search_many: the EXACT
    batched search (full scan — an index whose fixture is recall-safe must
    match it). Window partitioning and tie-breaks mirror the engine."""
    dim = _check_batch(queries)
    if req.effective_text_filter is not None and chunk_expr is None:
        raise ValueError("text_filter requires chunk_expr")
    score = _pair_score_sql(req.metric, vector_expr, dim)

    where = ["_score IS NOT NULL"]
    lo, hi = req.score_bounds()
    if lo is not None:
        where.append(f"_score > ({lo!r}::DOUBLE)")
    if hi is not None:
        where.append(f"_score <= ({hi!r}::DOUBLE)")
    fetch = req.fetch + req.offset

    post = ["TRUE"]
    if req.score_threshold is not None:
        ms = "(-_score)" if req.metric.upper() == "L2" else "_score"
        post.append(
            f"round({ms}, {req.threshold_decimals}) >= ({float(req.score_threshold)!r}::DOUBLE)")
    if chunk_expr is not None:
        post.append("(chunk IS NOT NULL AND chunk <> '')")
    if req.effective_text_filter is not None:
        post.append(text_filter_sql("chunk", req.effective_text_filter,
                                    req.minimum_words_match, req.include_stop_words))
    if req.meta_required:
        post.append("_meta_n > 0")
    meta_sel = ""
    for i, (k, v) in enumerate((req.meta_filter or {}).items()):
        e = (meta_exprs or {})[k]
        meta_sel += f", {e} AS _meta_{i}"
        vv = v.lower().replace("'", "''")
        post.append(f"(_meta_{i} IS NOT NULL AND instr(lower(_meta_{i}), '{vv}') > 0)")

    rd = req.effective_round_decimal
    dec = rd if rd > 0 else RANK_DECIMALS
    with_chunk = chunk_expr is not None and "chunk" in req.effective_output_fields
    with_meta = meta_kv_expr is not None and "meta" in req.effective_output_fields
    chunk_sel = f", {chunk_expr} AS chunk" if chunk_expr else ""
    meta_sel_out = f", {meta_kv_expr} AS meta_kv" if with_meta else ""
    chunk_out = ", chunk" if with_chunk else ""
    meta_out = ", meta_kv" if with_meta else ""
    return f"""
WITH scored AS (
  SELECT q.qid AS qid, {id_expr} AS id, {score} AS _score
         {chunk_sel}{meta_sel_out}{meta_sel},
         {meta_size_expr if meta_size_expr is not None else '0'} AS _meta_n
  FROM {table_sql} AS _t CROSS JOIN {queries_values_sql(queries)} AS q
),
topk AS (
  SELECT * FROM (
    SELECT *, round(_score, {RANK_DECIMALS}) AS _score_r,
           row_number() OVER (PARTITION BY qid
                              ORDER BY round(_score, {RANK_DECIMALS}) DESC, id ASC) AS _pre
    FROM scored WHERE {' AND '.join(where)}
  ) WHERE _pre > {req.offset} AND _pre <= {fetch}
),
filtered AS (
  SELECT * FROM topk WHERE {' AND '.join(post)}
)
SELECT qid, id, rank, score{chunk_out}{meta_out} FROM (
  SELECT qid, id,
         row_number() OVER (PARTITION BY qid ORDER BY _score_r DESC, id ASC) AS rank,
         round(_score, {dec}) AS score{chunk_out}{meta_out}
  FROM filtered
) WHERE rank <= {req.effective_limit}
"""
