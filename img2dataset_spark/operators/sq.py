"""Scalar quantization (SQ8) — per-dimension byte codes + integer scan.

The second standard embedding-compression family (FAISS
``IndexScalarQuantizer`` with ``QT_8bit``): each DIMENSION is linearly
quantized to a byte against per-dimension [lo, hi] bounds learned from
the corpus — a 4× compression of float32 (8× of float64) that, unlike
PQ (operators/pq.py), needs NO codebook training, NO Arrow pass, and
keeps per-dimension resolution (PQ trades dimensions for the k^m
product; SQ8 keeps d independent axes at 256 levels each).  The classic
trade: SQ8 compresses less than PQ but encodes for free and loses less
at moderate dimensionality.

Spark-first shape — every stage whole-stage codegen, no Python anywhere:

- **fit** is ONE aggregation: ``posexplode`` the vectors and
  ``groupBy(dim).agg(min, max)`` — partial aggregation combines
  min/max map-side, so the shuffle carries ``partitions × d`` rows, not
  ``n × d``.  The bounds artifact is d rows (the whole model).
- **encode** is a pure-codegen ``transform`` with the d lo/hi bounds
  inlined as literal arrays: ``floor((x−lo)·255/(hi−lo) + 0.5)``
  clamped to [0, 255]; a constant dimension (hi = lo) codes to 0.
  No UDF, no join — the cheapest possible compression pass.
- **search** is SYMMETRIC code-domain squared-L2: the query is encoded
  with the same bounds (driver-side, float64 — bit-identical IEEE ops)
  and the scan sums ``(code_i − qcode_i)²`` — exact int64 arithmetic,
  mirrored term-for-term in the DuckDB twin, ranked
  (dist asc, id asc).  FAISS's asymmetric variant scores float
  reconstructions; the symmetric integer form is chosen here so the
  distributed computation strict-compares against SQL.

Driver materialization is d rows (the bounds) — bounded by dimension,
never by corpus size.  At 10⁹ × 768-dim float32 the codes table is
768 B/row (~0.8 TB vs 3 TB raw), scanned by codegen at parquet speed;
compose with :func:`operators.similarity.ivf_assign` partitioning for
probe pruning exactly like IVF+PQ if the corpus also has a coarse
codebook.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from img2dataset_spark.operators.ivf_search import (
    Codec,
    assignment,
    chunk_kw,
    chunk_size,
    collect_overrides,
    empty_overrides_frame,
    group_override_rows,
    query_table_sql,
    search,
)
from img2dataset_spark.operators.similarity import (
    _QUANT,
    double_array_sql,
)


def sq_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Learn per-dimension [lo, hi] bounds: (dim, lo, hi), dim 1-based.
    One posexplode + min/max aggregation — partial agg keeps the
    shuffle at partitions×d rows; min/max are exact (no float-sum
    fold hazard), so the bounds are bit-identical in any engine.

    The explode formulation is the MEASURED winner, not an accident
    (r10 same-session A/B at sf0.1, dim=64, fit stage alone): explode
    0.17 s; a "no-row-inflation" single aggregate of 2d min/max
    expressions 0.87 s (128 aggregates blow the codegen field budget
    and fall back to interpreted evaluation — 5× slower); an Arrow
    mapInPandas per-partition numpy min/max 0.44 s warm (Python worker
    round-trip).  The explode's n×d rows are PIPELINED through
    Generate → partial HashAggregate inside one codegen stage — never
    materialized — so the "row inflation" the alternative avoids was
    never a cost.  ``dim`` is accepted for signature compatibility and
    future validation; the plan does not depend on it."""
    del dim  # bounds shape is derived from the data, not the argument
    from img2dataset_spark.operators.similarity import _as_double

    return (
        df.select(
            F.posexplode(_as_double(F.col(vec_col))).alias("_p", "_x")
        )
        .groupBy((F.col("_p") + 1).alias("dim"))
        .agg(F.min("_x").alias("lo"), F.max("_x").alias("hi"))
    )


# (id(df) -> (df, bounds)) memo: callers composing encode+search in one
# session (ivfsq_index + ivfsq_topk, or several sq ops over one bounds
# frame) collect the d-row model ONCE instead of one tiny Spark job per
# call.  The df reference is retained so the id can't be recycled; the
# cap bounds retained lineage (each entry is d floats + a plan).
_BOUNDS_MEMO: dict[int, tuple[DataFrame, tuple[np.ndarray, np.ndarray]]] = {}


def _collect_bounds(bounds: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(lo, hi) float64 arrays in dim order — d values, the whole
    artifact (the ONE driver materialization, bounded by dimension).
    Memoized per bounds-DataFrame object."""
    from img2dataset_spark.operators.similarity import _memo_get, _memo_put

    hit = _memo_get(_BOUNDS_MEMO, bounds)
    if hit is None:
        hit = _bounds_arrays(bounds.select("dim", "lo", "hi").collect(), "bounds")
        # LRU-evicting, lock-guarded put (shared helper, r15 — r10 nit:
        # evict least-recently-used, not the whole memo)
        _memo_put(_BOUNDS_MEMO, bounds, hit)
    return hit


def _bounds_arrays(rows, what: str) -> tuple[np.ndarray, np.ndarray]:
    """(lo, hi) float64 arrays in dim order from (dim, lo, hi) rows,
    whose dims must be exactly 1..d: a partial row set would silently
    mis-encode every dimension after the gap."""
    dims = sorted(int(r["dim"]) for r in rows)
    if dims != list(range(1, len(rows) + 1)):
        raise ValueError(f"{what} dims not contiguous 1..d: {dims[:5]}...")
    lo, hi = np.empty(len(rows)), np.empty(len(rows))
    for r in rows:
        lo[int(r["dim"]) - 1] = float(r["lo"])
        hi[int(r["dim"]) - 1] = float(r["hi"])
    return lo, hi


def _encode_expr(vec, lo: np.ndarray, hi: np.ndarray):
    """codegen byte-code expression: per-dimension
    clamp(floor((x−lo)·255/(hi−lo) + 0.5), 0, 255); hi=lo codes to 0.
    Bounds ride the plan as two d-value literal arrays."""
    from img2dataset_spark.operators.similarity import lit_double_array

    lo_arr = lit_double_array(lo)
    hi_arr = lit_double_array(hi)
    d = len(lo)

    def code(x, i):
        l_ = F.element_at(lo_arr, i + 1)
        h = F.element_at(hi_arr, i + 1)
        raw = F.floor((x - l_) * F.lit(255.0) / (h - l_) + F.lit(0.5))
        clamped = F.greatest(F.lit(0).cast("long"),
                             F.least(F.lit(255).cast("long"),
                                     raw.cast("long")))
        return F.when(h == l_, F.lit(0).cast("long")).otherwise(clamped)

    # transform with index gives (x, i); slice first so extra dims in a
    # malformed row fail loudly via the bounds arrays, not silently
    return F.transform(F.slice(vec, 1, d), code)


def sq_encode(
    df: DataFrame,
    bounds: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, codes array<long>) — one pure-codegen pass (no UDF, no
    Arrow, no join): the compression write that runs once per corpus
    version.  Codes are 0..255 per dimension."""
    from img2dataset_spark.operators.similarity import _as_double

    lo, hi = _collect_bounds(bounds)
    return df.select(
        F.col(id_col),
        _encode_expr(_as_double(F.col(vec_col)), lo, hi).alias("codes"),
    )


def encode_query(bounds_lo: np.ndarray, bounds_hi: np.ndarray,
                 query_vec: list[float]) -> np.ndarray:
    """The query's own byte codes, computed driver-side with the SAME
    float64 IEEE expression the distributed encode uses — symmetric
    distance compares code against code, exactly."""
    q = np.asarray(query_vec, dtype=np.float64)
    lo, hi = bounds_lo, bounds_hi
    if q.shape[0] != lo.shape[0]:
        raise ValueError(f"query dim {q.shape[0]} != bounds dim {lo.shape[0]}")
    span = hi - lo
    with np.errstate(divide="ignore", invalid="ignore"):
        raw = np.floor((q - lo) * 255.0 / span + 0.5)
    codes = np.clip(raw, 0, 255)
    codes[span == 0] = 0
    return codes.astype(np.int64)


class _SQCodec(Codec):
    """The symmetric SQ8 codec of the IVF search core: the query is
    encoded with the corpus bounds (driver-side, the same float64 IEEE
    expression as the distributed encode) and each row scores the exact
    int64 code-domain squared-L2 ``Σ (code_i − qcode_i)²`` —
    ``aggregate(zip_with(...))`` over longs, whole-stage codegen."""

    out_col = "sq_dist"
    probe_metric = "l2"
    chunked = "ivfsq_multi_topk_chunked"
    override_cols = ("cell", "dim", "lo", "hi")

    def __init__(self, bounds: DataFrame):
        self.bounds = bounds

    def book(self):
        return _collect_bounds(self.bounds)

    def dim(self) -> int:
        return len(self.book()[0])

    def dist_sql(self, book, qvecs, qid_sql):
        lo, hi = book
        q = query_table_sql([encode_query(lo, hi, qv) for qv in qvecs], qid_sql)
        return (
            f"aggregate(zip_with(`codes`, {q}, (x, y) -> (x - y) * (x - y)), "
            "CAST(0 AS BIGINT), (x, y) -> x + y)"
        )

    def literals(self, nq, n_tables):
        return nq * self.dim(), f"{nq} queries x dim {self.dim()}"

    def width(self):
        return self.dim(), f"bounds dim {self.dim()}"

    @staticmethod
    def parse_overrides(rows) -> dict:
        """{cell: (lo, hi)} — :func:`_collect_bounds`'s artifact keyed
        by cell."""
        return {
            cell: _bounds_arrays(cell_rows, f"override cell {cell} bounds")
            for cell, cell_rows in group_override_rows(rows).items()
        }

    def check_overrides(self, books):
        _check_bounds_dim(books, self.dim())


class _SQAsymCodec(_SQCodec):
    """The ASYMMETRIC SQ8 codec — the versioned searchers' distance.
    The symmetric code-domain (c−q)² is meaningless across cells whose
    codes were minted with DIFFERENT bounds (a wide-bounds cell
    compresses every distance), so each code is reconstructed through
    ITS bounds (``lo_i + c_i·(hi_i−lo_i)/255``, FAISS's asymmetric SQ
    decode) and measured against the 2^-20 fixed-point quantized query:
    exact int64 per-dimension squares, comparable across any bounds.
    The reconstruction's float64 expression order (lo + (c·span)/255,
    then ·2^20 + 0.5, floor) is mirrored verbatim in the SQL twin."""

    out_col = "sq_adist"

    def dist_sql(self, book, qvecs, qid_sql):
        lo, hi = book
        Q = []
        for qv in qvecs:
            if qv.shape[0] != lo.shape[0]:
                raise ValueError(
                    f"query dim {qv.shape[0]} != bounds dim {lo.shape[0]}"
                )
            Q.append(np.floor(qv * _QUANT + 0.5).astype(np.int64))
        # lambda (x, y) = (code, 0-based dimension)
        q = f"element_at({query_table_sql(Q, qid_sql)}, y + 1)"
        recon = (
            f"(element_at({double_array_sql(lo)}, y + 1) + "
            f"((CAST(x AS DOUBLE) * element_at({double_array_sql(hi - lo)}, "
            "y + 1)) / 255.0D))"
        )
        diff = f"({q} - CAST(floor(((({recon}) * {float(_QUANT)!r}D) + 0.5D)) AS BIGINT))"
        return (
            f"aggregate(transform(`codes`, (x, y) -> ({diff} * {diff})), "
            "CAST(0 AS BIGINT), (x, y) -> x + y)"
        )

    def literals(self, nq, n_tables):
        d = self.dim()
        return (
            nq * d + n_tables * 2 * d,
            f"{nq} queries x dim {d} + {n_tables} bounds tables x 2*{d}",
        )


def _check_bounds_dim(books: dict, expected_dim: int | None) -> None:
    """An override relation fit at a different dimensionality passes
    the contiguity check alone, and ``element_at`` past its shorter
    arrays would yield NULL distances that NULLS-FIRST asc silently
    top-ranks — applied per call, since the memo stores raw parsed
    bounds and callers may know different global dims (r13 advice)."""
    if expected_dim is None:
        return
    for cell, (lo, _hi) in books.items():
        if len(lo) != expected_dim:
            raise ValueError(
                f"override cell {cell} carries bounds for {len(lo)} "
                f"dims but the global bounds have {expected_dim} — the "
                "override relation was fit at a different dimensionality"
            )


def _collect_cell_bounds(
    overrides: DataFrame, expected_dim: int | None = None, cells=None
) -> dict[int, tuple[np.ndarray, np.ndarray]]:
    """{cell: (lo, hi)} of a per-cell bounds override relation
    (cell, dim, lo, hi), parsed by the SQ codec — see
    :func:`ivf_search.collect_overrides` for the collect and memo
    rules — with every returned cell checked against ``expected_dim``."""
    books = collect_overrides(overrides, _SQCodec, cells)
    _check_bounds_dim(books, expected_dim)
    return books


def empty_cell_bounds_frame(spark) -> DataFrame:
    """The canonical EMPTY per-cell bounds relation, memo-seeded so the
    version-0 side of a versioned SQ search runs no collect job."""
    return empty_overrides_frame(spark, "cell long, dim int, lo double, hi double")


def _codec(bounds: DataFrame, overrides) -> _SQCodec:
    return _SQCodec(bounds) if overrides is None else _SQAsymCodec(bounds)


def sq_topk(
    codes_df: DataFrame,
    bounds: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric SQ8 top-k over a whole corpus: the query's d byte codes
    ride the plan as a literal array and each row scores the exact int64
    code-domain squared-L2 (:class:`_SQCodec`), TakeOrdered.  A codes
    row of the wrong width fails loudly.  Returns (id, sq_dist),
    (sq_dist asc, id asc), limit k."""
    return search(_SQCodec(bounds), "sq_topk", codes_df, None, query_df,
                  k=k, id_col=id_col)


def ivfsq_index(
    df: DataFrame,
    ivf_codebook: DataFrame,
    bounds: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """(id, cell, codes) — the FAISS IVF+SQ index row (IndexIVFScalarQuantizer):
    coarse IVF cell for pruning plus the SQ8 byte codes.  ONE pass:
    the coarse assignment is the only Arrow stage, and the byte encode
    is a codegen expression in the SAME select (SQ8's structural
    advantage over IVF+PQ, whose encode is a second Arrow pass).
    Write partitioned by cell; a query then reads nprobe cells' code
    files.  Flat and hierarchical coarse codebooks both work
    (ivf_assign dispatches)."""
    lo, hi = _collect_bounds(bounds)
    # `assigned` (r14): reuse a pre-computed assignment pass, see
    # maintain.pq_refit_cells
    tagged = assignment(df, ivf_codebook, vec_col, id_col, assigned)
    return tagged.select(
        F.col(id_col),
        "cell",
        _encode_expr(F.col("v"), lo, hi).alias("codes"),
    )


def ivfsq_topk(
    index_df: DataFrame,
    ivf_codebook: DataFrame,
    bounds: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    nprobe: int | None = None,
    id_col: str = "vec_id",
    probe_metric: str | None = None,
) -> DataFrame:
    """IVF-pruned symmetric SQ8 search: rank coarse cells by the probe
    metric, keep the top ``nprobe``, and scan ONLY those cells' byte
    codes against the query's own codes.  Returns (id, sq_dist),
    (asc, id asc), top k.  Probe defaults as :func:`ivf_search.search`
    (the sqrt(cells) nprobe was the measured sf1 probe-loss fix, ivfsq
    0.55 → 0.85, SCALE.md §10)."""
    return search(_SQCodec(bounds), "ivfsq_topk", index_df, ivf_codebook,
                  query_df, k=k, nprobe=nprobe, id_col=id_col,
                  probe_metric=probe_metric)


def ivfsq_multi_topk(
    index_df: DataFrame,
    ivf_codebook: DataFrame,
    bounds: DataFrame,
    queries_df: DataFrame,
    k: int = 10,
    nprobe: int | None = None,
    id_col: str = "vec_id",
    qid_col: str = "qid",
    probe_metric: str | None = None,
) -> DataFrame:
    """Batch IVF+SQ8 search — every probe vector answered from ONE pass
    over the byte codes, each row scored against ITS query's codes read
    from a 2-level literal ``lit[qid]`` (q·d longs; past the literal
    budget the call names :func:`ivfsq_multi_topk_chunked`).
    ``queries_df`` is (qid, query_vec) with qid DENSE 0..q-1.  Returns
    (qid, id, sq_dist), per-qid (sq_dist asc, id asc) top-k."""
    return search(_SQCodec(bounds), "ivfsq_multi_topk", index_df,
                  ivf_codebook, queries_df, k=k, nprobe=nprobe,
                  id_col=id_col, qid_col=qid_col, probe_metric=probe_metric)


def ivfsq_topk_versioned(
    index_df: DataFrame,
    ivf_codebook: DataFrame,
    bounds: DataFrame,
    overrides: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    nprobe: int | None = None,
    id_col: str = "vec_id",
    probe_metric: str | None = None,
) -> DataFrame:
    """IVF+SQ8 search over a SELECTIVELY-REFIT index
    (:func:`maintain.sq_refit_cells` + rewrite): cells in ``overrides``
    were re-encoded with their own [lo, hi] bounds, every other cell
    still carries global-bounds codes, and each row is decoded through
    the bounds that MINTED its codes.  The distance cannot stay
    symmetric across two bounds versions, so the scan ranks by the
    ASYMMETRIC reconstruction distance (:class:`_SQAsymCodec`), a CASE
    over the probed override cells with the global bounds as ELSE.
    Probe and defaults as :func:`ivfsq_topk`.  Returns (id, sq_adist),
    (sq_adist asc, id asc), top k."""
    return search(_SQAsymCodec(bounds), "ivfsq_topk_versioned", index_df,
                  ivf_codebook, query_df, k=k, nprobe=nprobe, id_col=id_col,
                  probe_metric=probe_metric, overrides=overrides)


def ivfsq_multi_topk_versioned(
    index_df: DataFrame,
    ivf_codebook: DataFrame,
    bounds: DataFrame,
    overrides: DataFrame,
    queries_df: DataFrame,
    k: int = 10,
    nprobe: int | None = None,
    id_col: str = "vec_id",
    qid_col: str = "qid",
    probe_metric: str | None = None,
) -> DataFrame:
    """Batch search over the SELECTIVELY-REFIT SQ index: one pass over
    the mixed codes, each probed override cell CASE-dispatched to the
    bounds that minted its codes, every row ranked by the asymmetric
    reconstruction distance against ITS query (the quantized queries
    ride the plan as a 2-level ``lit[qid][dim]`` table).  Returns
    (qid, id, sq_adist), per-qid (sq_adist asc, id asc) top-k."""
    return search(_SQAsymCodec(bounds), "ivfsq_multi_topk_versioned",
                  index_df, ivf_codebook, queries_df, k=k, nprobe=nprobe,
                  id_col=id_col, qid_col=qid_col, probe_metric=probe_metric,
                  overrides=overrides)


def ivfsq_multi_topk_chunked(
    index_df: DataFrame,
    ivf_codebook: DataFrame,
    bounds: DataFrame,
    queries_df: DataFrame,
    k: int = 10,
    max_queries_per_scan: int | None = None,
    qid_col: str = "qid",
    overrides: DataFrame | None = None,
    **kw,
) -> DataFrame:
    """The SQ route past the shared plan-literal budget: dense-qid
    chunks, each answered from ONE scan (:func:`ivfsq_multi_topk`, or
    :func:`ivfsq_multi_topk_versioned` with ``overrides``; ``kw``
    takes their other arguments: nprobe, id_col, probe_metric).
    ``max_queries_per_scan=None`` sizes chunks from the budget (plain
    route only, ivf_search.chunk_size)."""
    codec, name = _codec(bounds, overrides), "ivfsq_multi_topk_chunked"
    kw = chunk_kw(name, kw)
    if max_queries_per_scan is None:
        max_queries_per_scan = chunk_size(codec, name, overrides)
    return search(codec, name, index_df, ivf_codebook, queries_df, k=k,
                  qid_col=qid_col, overrides=overrides,
                  max_queries_per_scan=max_queries_per_scan, **kw)


def ivfsq_refine_topk(
    index_df: DataFrame,
    ivf_codebook: DataFrame,
    bounds: DataFrame,
    vectors_df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    nprobe: int | None = None,
    refine_factor: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_metric: str | None = None,
    refine_target_occupancy: int = 1024,
) -> DataFrame:
    """Two-stage refine for the SQ family: the top ``k·refine_factor``
    candidates of :func:`ivfsq_topk` (at high occupancy the byte
    resolution ties more rows than k separates), re-ranked by exact
    cosine.  Output (id, cos_sim)."""
    return search(_SQCodec(bounds), "ivfsq_refine_topk", index_df,
                  ivf_codebook, query_df, k=k, nprobe=nprobe, id_col=id_col,
                  probe_metric=probe_metric, vectors_df=vectors_df,
                  vec_col=vec_col, refine_factor=refine_factor,
                  refine_target_occupancy=refine_target_occupancy)


def ivfsq_refine_topk_versioned(
    index_df: DataFrame,
    ivf_codebook: DataFrame,
    bounds: DataFrame,
    overrides: DataFrame,
    vectors_df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    nprobe: int | None = None,
    refine_factor: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_metric: str | None = None,
    refine_target_occupancy: int = 1024,
) -> DataFrame:
    """Refine over the MAINTAINED SQ index: the top ``k·refine_factor``
    candidates of :func:`ivfsq_topk_versioned`'s mixed-bounds scan,
    re-ranked by exact cosine.  Output (id, cos_sim)."""
    return search(_SQAsymCodec(bounds), "ivfsq_refine_topk_versioned",
                  index_df, ivf_codebook, query_df, k=k, nprobe=nprobe,
                  id_col=id_col, probe_metric=probe_metric,
                  overrides=overrides, vectors_df=vectors_df,
                  vec_col=vec_col, refine_factor=refine_factor,
                  refine_target_occupancy=refine_target_occupancy)


def ivfsq_multi_refine_topk(
    index_df: DataFrame,
    ivf_codebook: DataFrame,
    bounds: DataFrame,
    vectors_df: DataFrame,
    queries_df: DataFrame,
    k: int = 10,
    nprobe: int | None = None,
    refine_factor: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    qid_col: str = "qid",
    probe_metric: str | None = None,
    refine_target_occupancy: int = 1024,
    overrides: DataFrame | None = None,
    max_queries_per_scan: int | None = None,
) -> DataFrame:
    """Batch two-stage refine for the SQ family: every query's top
    ``k·refine_factor`` candidates from ONE pass over the byte codes
    (:func:`ivfsq_multi_topk`; ``overrides`` → the versioned scan,
    ``max_queries_per_scan`` → chunked), re-ranked in ONE pass over the
    vector table.  Returns (qid, id, cos_sim)."""
    return search(_codec(bounds, overrides), "ivfsq_multi_refine_topk",
                  index_df, ivf_codebook, queries_df, k=k, nprobe=nprobe,
                  id_col=id_col, qid_col=qid_col, probe_metric=probe_metric,
                  overrides=overrides,
                  max_queries_per_scan=max_queries_per_scan,
                  vectors_df=vectors_df, vec_col=vec_col,
                  refine_factor=refine_factor,
                  refine_target_occupancy=refine_target_occupancy)
