"""Dense vector top-k search with the reference's full post-filter pipeline.

Reference behavior reproduced (citations into /root/reference):
- metric ∈ {COSINE, L2, IP}; larger score = better for all
  (app/milvus/vector_store.py:445-517, search_request.py:202-220)
- search limit = min(limit + text-search increase, 100) — the clamp applies
  AFTER the over-fetch increase (vector_store.py:457, :483-490); final trim
  back to the original limit (:579-582)
- post-filters run AFTER the k-cut, in order: score_threshold -> empty-chunk
  drop -> text filter -> meta_required -> meta_filter
  (vector_store.py:519-582); a query may return fewer than `limit` rows
- score_threshold compares against the round_decimal-rounded score Milvus
  returns (vector_store.py:521-529 operate on hit.score post-rounding)
- range search follows the Milvus similarity contract
  radius < score <= range_filter; for L2 the bounds are on the raw DISTANCE
  (range_filter <= distance < radius), translated here onto the negated
  score (vector_store.py:501-503)
- round_decimal applied to the reported score (search_request.py:70-75)

Scale notes (the 100 TB design):
- The k-cut runs over (id, score) ONLY — late materialization. Payload
  columns (chunk up to 60 KB, meta map) are joined back for the <=fetch
  survivors via a broadcast hash join, so the corpus text never enters the
  top-k sort/shuffle. At 1000 executors the scan is embarrassingly parallel,
  each task keeps a k-row heap, and the driver merges <=fetch rows.
- The k-cut compiles to TakeOrderedAndProject (per-partition top-k, bounded
  merge) — no global sort. Rank windows run only over the <=fetch survivors.
- With the IVF plan (plans/ivf.py) the scan itself is partition-pruned to
  the nprobe nearest centroid cells first.

Every builder has a *_sql twin emitting the equivalent DuckDB query so the
correctness oracle shares one semantics definition with the engine.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flouds_vectordb_spark.functions import vector as V
from flouds_vectordb_spark.functions.text import text_filter_predicate, text_filter_sql

MAX_LIMIT = 100  # reference vector_store.py:457
RANK_DECIMALS = 6  # deterministic cross-engine ranking key


@dataclass
class DenseSearchRequest:
    """Mirror of the reference's SearchEmbeddedRequest dense surface
    (app/models/search_request.py:44-240)."""

    query_vector: list[float]
    metric: str = "COSINE"
    limit: int = 10
    offset: int = 0
    round_decimal: int = -1
    # the reference's Field(0.0, ge=0, le=1): NEVER None, so a default
    # search drops negative-similarity hits (score < 0.0). None = an
    # explicit engine extension meaning "skip the threshold entirely".
    score_threshold: float | None = 0.0
    radius: float | None = None
    range_filter: float | None = None
    text_filter: str | None = None
    minimum_words_match: int = 2
    include_stop_words: bool = False
    increase_limit_for_text_search: int = 10
    meta_filter: dict[str, str] = field(default_factory=dict)
    meta_required: bool = False
    # IVF probe count: request range 4-128 default 4, engine clamp <=256
    # (search_request.py:63-68, vector_store.py:495); used by plans/ivf.py,
    # accepted-and-ignored by the exact full-scan path
    nprobe: int = 4
    # Q12: projection — default mirrors search_request.py:82-85
    output_fields: tuple[str, ...] = ("chunk", "meta")
    # Q13: accepted-and-ignored (Spark reads are snapshot-consistent;
    # search_request.py:222-240, SURVEY §2.2-Q13)
    consistency_level: str = "Bounded"
    # OPTIONAL_SEARCH_KEYS pass-throughs (vector_store.py:63-71): the
    # reference forwards these verbatim to Milvus. Accepted + validated,
    # then ignored — Spark reads are snapshot-consistent (the timestamp
    # knobs), synchronous (_async/_callback), and partition selection is
    # the IVF plan's cell pruning, not an API surface. `async_`/`callback`
    # mirror Milvus's `_async`/`_callback` (leading underscore would make
    # them non-init dataclass fields).
    partition_names: tuple[str, ...] | None = None
    timeout: float | None = None
    async_: bool = False
    callback: object | None = None
    guarantee_timestamp: int | None = None
    graceful_time: int | None = None
    travel_timestamp: int | None = None

    VALID_CONSISTENCY = ("Strong", "Session", "Bounded", "Eventually")

    def __post_init__(self) -> None:
        if self.consistency_level not in self.VALID_CONSISTENCY:
            raise ValueError(
                f"consistency_level must be one of {self.VALID_CONSISTENCY}"
            )
        # search_request.py:63-68 rejects nprobe outside 4-128 at the API
        if not 4 <= self.nprobe <= 128:
            raise ValueError("nprobe must be between 4 and 128")
        # remaining Pydantic field ranges (search_request.py:49-131)
        if not 1 <= self.limit <= 100:
            raise ValueError("limit must be between 1 and 100")
        if not 0 <= self.offset <= 100:
            raise ValueError("offset must be between 0 and 100")
        if not -1 <= self.round_decimal <= 6:
            raise ValueError("round_decimal must be between -1 and 6")
        if self.score_threshold is not None and not 0.0 <= self.score_threshold <= 1.0:
            raise ValueError("score_threshold must be between 0.0 and 1.0")
        # search_request.py: Field(2, ge=1, le=10)
        if not 1 <= self.minimum_words_match <= 10:
            raise ValueError("minimum_words_match must be between 1 and 10")
        if not 0 <= self.increase_limit_for_text_search <= 100:
            raise ValueError("increase_limit_for_text_search must be between 0 and 100")
        self._validate_optional_search_keys()

    def _validate_optional_search_keys(self) -> None:
        """OPTIONAL_SEARCH_KEYS are accepted VERBATIM, matching the
        reference: vector_store.py:63-71 forwards them to Milvus with no
        validation, so timeout=0 or a negative guarantee_timestamp succeeds
        there and must succeed here (accepted-and-ignored, like Q13)."""

    @property
    def effective_limit(self) -> int:
        return min(self.limit, MAX_LIMIT)

    @property
    def effective_output_fields(self) -> tuple[str, ...]:
        """`request.output_fields or ["chunk", "meta"]` (vector_store.py:460):
        a falsy/EMPTY list collapses to the full default payload in the
        reference — same falsy-collapse family as effective_round_decimal.
        To strip the payload, request a field list without chunk/meta
        (e.g. ("id",)), which the reference honors as-is. None is part of
        the falsy family (the reference field is Optional)."""
        return tuple(self.output_fields or ()) or ("chunk", "meta")

    @property
    def effective_text_filter(self) -> str | None:
        """The reference gates every text-filter behavior on
        `text_filter and text_filter.strip()` (vector_store.py:486-488,
        :544): empty/whitespace-only filters mean NO filter."""
        if self.text_filter and self.text_filter.strip():
            return self.text_filter
        return None

    @property
    def fetch(self) -> int:
        """Candidate-pool size: the reference clamps AFTER adding the text
        over-fetch — min(limit + increase, 100) (vector_store.py:483-490,
        then :457's clamp inside _build_base_search_params)."""
        extra = self.increase_limit_for_text_search if self.effective_text_filter else 0
        return min(self.limit + extra, MAX_LIMIT)

    @property
    def effective_round_decimal(self) -> int:
        """`request.round_decimal or -1` (vector_store.py:459): the falsy 0
        collapses to -1 (no rounding) in the reference."""
        return self.round_decimal if self.round_decimal > 0 else -1

    @property
    def threshold_decimals(self) -> int:
        """Decimals a score is compared and reported at."""
        rd = self.effective_round_decimal
        return rd if rd > 0 else RANK_DECIMALS

    def score_bounds(self) -> tuple[float | None, float | None]:
        """(lo, hi) in SCORE space with Milvus's contract lo < score <= hi.
        COSINE/IP: radius < similarity <= range_filter. L2: bounds are on the
        (squared, Milvus-unit) distance (range_filter <= dist < radius),
        i.e. -radius < score <= -range_filter on the negated-distance
        score."""
        if self.metric.upper() == "L2":
            lo = -float(self.radius) if self.radius is not None else None
            hi = -float(self.range_filter) if self.range_filter is not None else None
        else:
            lo = float(self.radius) if self.radius is not None else None
            hi = float(self.range_filter) if self.range_filter is not None else None
        return lo, hi


def meta_kv_column(meta_col: str) -> Column:
    """Canonical sorted `k=v,...` rendering of the meta map — deterministic
    and hashable. THE single definition: dense and hybrid output both use
    it, and the oracle twins' meta_kv_expr must match this order."""
    kv = F.transform(
        F.array_sort(F.map_entries(F.col(meta_col))),
        lambda e: F.concat(e["key"], F.lit("="), e["value"]),
    )
    return F.array_join(kv, ",").alias("meta_kv")


def meta_filter_predicate(meta: Column, meta_filter: dict[str, str]) -> Column:
    """Reference `_matches_meta_filter` (vector_store.py:871-886): each key
    must exist and the expected value must be a case-insensitive substring."""
    pred = F.lit(True)
    for k, v in meta_filter.items():
        val = F.element_at(meta, F.lit(k))
        pred = pred & val.isNotNull() & (F.instr(F.lower(val), v.lower()) > 0)
    return pred


def rank_window(keys: tuple[str, ...]):
    """Rank window per query: keys=() for one query, ("qid",) for a block.
    keys=() returns Window itself, not Window.partitionBy(): same plan,
    fewer py4j round trips on the single-query path."""
    return Window.partitionBy(*keys) if keys else Window


def bounded_candidates(scored: DataFrame, req: DenseSearchRequest) -> DataFrame:
    """(..., _id, _score) -> non-null scores inside the range-search bounds,
    plus the rank key _score_r: the input of the k-cut."""
    slim = (
        scored.filter(F.col("_score").isNotNull())
        .withColumn("_score_r", F.round(F.col("_score"), RANK_DECIMALS))
    )
    lo, hi = req.score_bounds()
    if lo is not None:
        slim = slim.filter(F.col("_score") > F.lit(lo))
    if hi is not None:
        slim = slim.filter(F.col("_score") <= F.lit(hi))
    return slim


def post_filter_tail(
    topk: DataFrame,
    payload_df: DataFrame,
    req: DenseSearchRequest,
    id_col: str,
    chunk_col: str | None,
    meta_col: str | None,
    extra_cols: tuple[str, ...] = (),
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """Phases 2-3 after the k-cut topk (*keys, _id, _score, _score_r), per
    query key (rank_window): payload join from payload_df, the post-filter
    chain, final rank and projection -> (*keys, id, rank, score, ...)."""
    if req.effective_text_filter is not None and chunk_col is None:
        raise ValueError("text_filter requires chunk_col")
    if (req.meta_filter or req.meta_required) and meta_col is None:
        raise ValueError("meta_filter/meta_required require meta_col")

    # ---- phase 2: late materialization — payload only for survivors ----
    meta_out = meta_col is not None and "meta" in req.effective_output_fields
    need_meta = bool(req.meta_filter or req.meta_required) or meta_out
    payload = [c for c in (chunk_col, meta_col if need_meta else None, *extra_cols) if c]
    if payload:
        keep = list(dict.fromkeys([id_col, *payload]))
        out = (
            payload_df.select(*keep)
            .join(F.broadcast(topk), F.col(id_col) == F.col("_id"), "inner")
            .drop("_id")
        )
    else:
        out = topk.withColumnRenamed("_id", id_col)

    # ---- phase 3: post-filter pipeline (vector_store.py:519-582) ----
    if req.score_threshold is not None:
        # the reference compares the RAW Milvus score (rounded by Milvus to
        # round_decimal) against the threshold: similarity for COSINE/IP,
        # (squared) distance for L2 — i.e. -score in our convention
        milvus_score = -F.col("_score") if req.metric.upper() == "L2" else F.col("_score")
        rounded = F.round(milvus_score, req.threshold_decimals)
        out = out.filter(rounded >= F.lit(float(req.score_threshold)))
    if chunk_col is not None:
        # reference drops hits with empty/null chunk before text/meta filters
        # (vector_store.py: `if not chunk_content: continue`)
        out = out.filter(F.col(chunk_col).isNotNull() & (F.col(chunk_col) != ""))
    if req.effective_text_filter is not None:
        out = out.filter(
            text_filter_predicate(
                F.col(chunk_col), req.effective_text_filter,
                req.minimum_words_match, req.include_stop_words
            )
        )
    if req.meta_required:
        out = out.filter(F.size(F.col(meta_col)) > 0)
    if req.meta_filter:
        out = out.filter(meta_filter_predicate(F.col(meta_col), req.meta_filter))

    # trim back to the original limit, assign final rank (<=fetch rows per
    # query here, so the window is bounded — it must stay behind the limit)
    w = rank_window(keys).orderBy(F.col("_score_r").desc(), F.col(id_col).asc())
    out = out.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= req.effective_limit)

    cols = [*(F.col(k) for k in keys), F.col(id_col), F.col("rank"),
            F.round(F.col("_score"), req.threshold_decimals).alias("score")]
    # Q12 projection: output_fields picks the payload columns; the result
    # row shape mirrors EmbeddedMeta = content + meta (embedded_meta.py:9-20)
    if chunk_col and "chunk" in req.effective_output_fields:
        cols.append(F.col(chunk_col))
    if meta_out:
        cols.append(meta_kv_column(meta_col))
    cols += [F.col(c) for c in extra_cols]
    return out.select(*cols)


def dense_search(
    df: DataFrame,
    req: DenseSearchRequest,
    id_col: str = "id",
    vector_col: str = "vector",
    chunk_col: str | None = None,
    meta_col: str | None = None,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Returns (id, rank, score [, chunk, extra...]) — rank 1-based after
    post-filtering, score rounded to round_decimal (or 6 for determinism).

    Documented divergences from the reference, both deliberate:
    - L2 scores are returned NEGATED (larger-is-better for every metric);
      the unit is Milvus's squared distance, so thresholds/bounds carry
      over with a sign flip only (score_bounds handles it).
    - Post-filters evaluate against the STORED chunk/meta columns, not the
      returned entity: the reference drops every hit when output_fields
      excludes 'chunk' (entity.get('chunk') is None -> continue) or fails
      meta filters when it excludes 'meta' — projection there silently
      disables/empties results; here projection only affects output shape.
    """
    # ---- phase 1: score + k-cut over (id, score) only ----
    score = V.metric_score_q(req.metric, F.col(vector_col), req.query_vector)
    slim = bounded_candidates(
        df.select(F.col(id_col).alias("_id"), score.alias("_score")), req)

    fetch = req.fetch + req.offset
    topk = slim.orderBy(F.col("_score_r").desc(), F.col("_id").asc()).limit(fetch)
    if req.offset:
        w = Window.orderBy(F.col("_score_r").desc(), F.col("_id").asc())
        topk = (
            topk.withColumn("_pre_rank", F.row_number().over(w))
            .filter(F.col("_pre_rank") > req.offset)
            .drop("_pre_rank")
        )
    return post_filter_tail(topk, df, req, id_col, chunk_col, meta_col, extra_cols)


def dense_search_sql(
    req: DenseSearchRequest,
    table_sql: str,
    id_expr: str,
    vector_expr: str,
    chunk_expr: str | None = None,
    meta_exprs: dict[str, str] | None = None,
    meta_size_expr: str | None = None,
    meta_kv_expr: str | None = None,
    extra_exprs: dict[str, str] | None = None,
) -> str:
    """DuckDB oracle twin of dense_search. `table_sql` is a FROM-able
    subquery/view; `meta_exprs` maps meta_filter keys to SQL expressions
    (NULL-able); `meta_size_expr` is the meta-entry-count expression;
    `meta_kv_expr` renders the canonical sorted `k=v,...` meta string for
    Q12 output (must match the engine's array_sort(map_entries) order)."""
    if req.effective_text_filter is not None and chunk_expr is None:
        raise ValueError("text_filter requires chunk_expr")
    score = V.metric_sql_q(req.metric, vector_expr, req.query_vector)

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
            f"round({ms}, {req.threshold_decimals}) >= ({float(req.score_threshold)!r}::DOUBLE)"
        )
    if chunk_expr is not None:
        post.append("(chunk IS NOT NULL AND chunk <> '')")
    if req.effective_text_filter is not None:
        post.append(
            text_filter_sql("chunk", req.effective_text_filter,
                            req.minimum_words_match, req.include_stop_words)
        )
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
    extra_sel = "".join(f", {e} AS {name}" for name, e in (extra_exprs or {}).items())
    chunk_out = ", chunk" if with_chunk else ""
    meta_out = ", meta_kv" if with_meta else ""
    extra_out = "".join(f", {name}" for name in (extra_exprs or {}))
    return f"""
WITH scored AS (
  SELECT {id_expr} AS id, {score} AS _score
         {chunk_sel}{meta_sel_out}{extra_sel}{meta_sel},
         {meta_size_expr if meta_size_expr is not None else '0'} AS _meta_n
  FROM {table_sql}
),
topk AS (
  SELECT *, round(_score, {RANK_DECIMALS}) AS _score_r FROM scored
  WHERE {' AND '.join(where)}
  ORDER BY _score_r DESC, id ASC LIMIT {fetch - req.offset} OFFSET {req.offset}
),
filtered AS (
  SELECT * FROM topk WHERE {' AND '.join(post)}
)
SELECT id, rank, score{chunk_out}{meta_out}{extra_out} FROM (
  SELECT id, row_number() OVER (ORDER BY _score_r DESC, id ASC) AS rank,
         round(_score, {dec}) AS score{chunk_out}{meta_out}{extra_out}
  FROM filtered
) WHERE rank <= {req.effective_limit}
"""
