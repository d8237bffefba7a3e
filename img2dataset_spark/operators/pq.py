"""Product quantization (PQ) — compressed embeddings + ADC search.

Beyond-reference operator family (SURVEY §7 M6): at the 100 TB design
point raw embeddings do not fit the working set (10⁹ vectors × 768
float32 ≈ 3 TB before replication); the standard answer (Jégou et al.,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011) splits
each vector into ``m`` subspaces, k-means-quantizes each subspace
independently, and stores only the m one-byte-ish code indices —
a d·4/m-fold compression — then answers queries by Asymmetric Distance
Computation (ADC): the query precomputes an m×k table of
query-subvector → centroid distances and a scan SUMS m table lookups
per row, never touching a float vector.

Spark-first shape:

- **fit** reuses :func:`operators.similarity.ivf_fit` per subspace —
  the SAME deterministic md5-seeded, decimal-mean, quantized-argmin
  Lloyd the SQL oracle already mirrors; the codebook is m·k rows
  (tiny, broadcastable; k ≤ 256 for byte codes).
- **encode** is ONE Arrow pass with all m sub-codebooks broadcast: per
  batch, m small (n × d/m) @ (d/m × k) int64 matmuls — no joins, no
  shuffle, the map-only pass whose output you write once per corpus
  version.  Default codes are ``array<long>`` of m cell ids (8 B/code
  pre-encoding; parquet dictionary/bit-packing recovers most of it);
  ``packed=True`` stores ceil(m/8) byte-packed words — literally
  m bytes/row — with the scan still pure codegen (shift+mask slices).
- **search** is pure codegen: the m×k distance table is EXACT int64
  (2^-20 fixed-point, same quantization as everything else in this
  repo), small enough to inline as constant-folded literal arrays
  indexed by code id (sentinel-filled gaps), so the ADC scan is
  `element_at(lit_array_j, code_j + 1)` summed across subspaces —
  whole-stage codegen over the codes table, no Python, no UDF, no
  vector column read.  Top-k is a TakeOrdered.

Exactness (oracle-shared): subspace slicing, quantization, argmin
tie-breaks (smallest code wins), and the ADC int64 sums are all
mirrored expression-for-expression in DuckDB SQL, so the registry row
strict-compares.  ADC distance is an APPROXIMATION of the true
distance (that is PQ's trade) — what the oracle certifies is that the
distributed computation of that approximation is bit-exact.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from img2dataset_spark.operators.ivf_search import (
    Codec,
    assignment,
    chunk_kw,
    chunk_size,
    collect_overrides,
    empty_overrides_frame as _empty_overrides_frame,
    fine_cells,
    group_override_rows,
    query_table_sql,
    search,
)
from img2dataset_spark.operators.similarity import (
    _QUANT,
    _as_double,
    _memo_get,
    _memo_put,
    ivf_fit,
)


def _check_geometry(dim: int, num_subspaces: int) -> int:
    if dim % num_subspaces != 0:
        raise ValueError(
            f"dim={dim} is not divisible into {num_subspaces} subspaces"
        )
    return dim // num_subspaces


def pq_fit(
    df: DataFrame,
    num_subspaces: int = 4,
    num_codes: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """Train a PQ codebook: an independent ``num_codes``-cell Lloyd fit
    (:func:`ivf_fit` — md5 seeds, exact decimal means, quantized
    argmin) on each of the ``num_subspaces`` vector slices.  Returns
    (subspace, cell, centroid) with d/m-dim centroids — m·k rows, the
    whole artifact; persist or write it once per corpus version.

    Scale: ONE fused Lloyd pipeline trains all m subspaces together
    (r14 — the previous shape ran m independent :func:`ivf_fit`
    pipelines, i.e. m seed-collect jobs plus m jobs per iteration over
    the SAME corpus scan; fused it is 1 seed job + 1 job per
    iteration, provably identical output: same md5-ordered seed rows
    sliced per subspace, same quantized-argmin assignment per
    subspace, same per-(subspace, cell, pos) exact decimal means).
    Driver materialization = m·k centroids per iteration, ceiling-safe
    (k ≤ 256 keeps codes byte-sized; PQ's capacity comes from the
    PRODUCT k^m, not from big k)."""
    from pyspark import StorageLevel

    sub_dim = _check_geometry(dim, num_subspaces)
    spark = df.sparkSession
    from img2dataset_spark.operators.similarity import _seed_order

    e = df.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("v")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    seed_rows = e.orderBy(*_seed_order(id_col)).limit(num_codes).collect()
    # per-subspace (cell, centroid) books, seeded with the SAME rows
    # each per-subspace fit would seed with (the md5 order depends only
    # on the id), sliced locally
    books: list[list[tuple[int, list[float]]]] = [
        [
            (i, [float(x) for x in r["v"]][j * sub_dim:(j + 1) * sub_dim])
            for i, r in enumerate(seed_rows)
        ]
        for j in range(num_subspaces)
    ]

    def _literal_book(bks) -> DataFrame:
        cb = spark.createDataFrame(
            [
                (j, int(c), [float(x) for x in cent])
                for j, book in enumerate(bks)
                for c, cent in book
            ],
            schema="subspace int, cell bigint, centroid array<double>",
        )
        # rows are driver-local: pre-seed the codebook memo so the
        # assignment pass (pq_encode) and every later search skip the
        # m·k-row collect job
        _memo_put(_CODEBOOK_MEMO, cb, _quantized_books([dict(b) for b in bks]))
        return cb

    cb = _literal_book(books)
    for _ in range(iters):
        assigned = pq_encode(
            e, cb, vec_col="v", id_col=id_col, keep_cols=("v",)
        )
        sub = F.expr(f"pos div {sub_dim}")
        agg_rows = (
            assigned.select("codes", F.posexplode("v"))
            .select(
                sub.alias("subspace"),
                F.element_at("codes", sub.cast("int") + F.lit(1)).alias(
                    "cell"
                ),
                F.expr(f"pos % {sub_dim}").alias("spos"),
                "col",
            )
            .groupBy("subspace", "cell", "spos")
            .agg(
                (
                    F.sum(F.col("col").cast("decimal(28,12)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("cv")
            )
            .groupBy("subspace", "cell")
            .agg(
                F.array_sort(F.collect_list(F.struct("spos", "cv"))).alias(
                    "pv"
                )
            )
            .select(
                "subspace",
                "cell",
                F.transform(F.col("pv"), lambda s: s["cv"]).alias("centroid"),
            )
            .collect()
        )
        books = [[] for _ in range(num_subspaces)]
        for r in agg_rows:
            books[int(r["subspace"])].append(
                (int(r["cell"]), [float(x) for x in r["centroid"]])
            )
        for book in books:
            book.sort(key=lambda t: t[0])
        cb = _literal_book(books)
    e.unpersist()
    return cb


# (id(df) -> (df, artifact)) memo — callers composing encode + search
# over one codebook frame (ivfpq_index then ivfpq_topk in a session)
# collect the m·k-row model ONCE instead of one Spark job per call.
# The df reference is retained so the id can't be recycled; capped.
_CODEBOOK_MEMO: dict[int, tuple[DataFrame, tuple]] = {}


def _collect_codebook(
    codebook: DataFrame,
) -> tuple[list[np.ndarray], list[np.ndarray], list[np.ndarray]]:
    """(cells, QC, nc): per-subspace ascending cell-id arrays,
    quantized centroid matrices (k_j x sub_dim int64) and squared
    norms — the broadcastable encode/search artifact.  Codes are the
    ACTUAL cell ids, not dense positions: Lloyd legitimately drops a
    cell that empties during iteration, so per-subspace id sets may be
    gapped (and even differently sized); encode maps argmin positions
    back through cells_j, the ADC lookup is a map (not an indexed
    array), and the SQL twin joins by cell — all gap-safe.
    Memoized per codebook-DataFrame object."""
    hit = _memo_get(_CODEBOOK_MEMO, codebook)
    if hit is not None:
        return hit
    rows = codebook.select("subspace", "cell", "centroid").collect()
    books = _parse_book(rows, "cell", "codebook")
    # LRU-evicting, lock-guarded put (shared helper, r15): a long
    # session cycling many models keeps its hot codebooks
    # collected-once (r10 verdict nit)
    _memo_put(_CODEBOOK_MEMO, codebook, books)
    return books


def _parse_book(rows, code_col: str, what: str) -> tuple[list, list, list]:
    """(cells, QC, nc) from (subspace, ``code_col``, centroid) rows —
    the parse of the global codebook and of each override cell's book:
    the subspaces must be exactly 0..m-1 and every centroid one width."""
    by_sub: dict[int, dict[int, list[float]]] = {}
    for r in rows:
        by_sub.setdefault(int(r["subspace"]), {})[int(r[code_col])] = (
            r["centroid"]
        )
    if sorted(by_sub) != list(range(len(by_sub))):
        raise ValueError(f"{what} missing subspaces: have {sorted(by_sub)}")
    dims = {len(c) for v in by_sub.values() for c in v.values()}
    if len(dims) != 1:
        raise ValueError(f"{what}: inconsistent centroid dims {sorted(dims)}")
    return _quantized_books([by_sub[j] for j in range(len(by_sub))])


def _quantized_books(by_sub) -> tuple[list, list, list]:
    """(cells, QC, nc) from per-subspace {cell: centroid} maps:
    ascending cell-id arrays, 2^-20 fixed-point centroid matrices and
    their squared norms."""
    cells, QC, nc = [], [], []
    for book in by_sub:
        ids = np.array(sorted(book), dtype=np.int64)
        C = np.stack([np.asarray(book[int(c)], dtype=np.float64) for c in ids])
        Q = np.floor(C * _QUANT + 0.5).astype(np.int64)
        cells.append(ids)
        QC.append(Q)
        nc.append((Q * Q).sum(axis=1))
    return cells, QC, nc


def pq_encode(
    df: DataFrame,
    codebook: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_cols: tuple[str, ...] = (),
    packed: bool = False,
) -> DataFrame:
    """(id, *keep_cols, codes) — nearest-centroid code per subspace in
    ONE Arrow pass with the full codebook broadcast (m·k·d/m values —
    tiny).  Distances are exact int64 squared-L2 over quantized
    subvectors and centroids; ties resolve to the smallest code, the
    repo-wide argmin rule, mirrored in the SQL twin.
    ``keep_cols`` threads extra columns (e.g. the IVF cell) through the
    same select, so callers never self-join the projection back on id —
    the r8 double-reference fix for :func:`ivfpq_index`.

    ``packed=False``: codes is ``array<long>`` of m cell ids — readable,
    parquet dictionary/bit-packing compresses it well in practice.
    ``packed=True``: codes is ``array<long>`` of ceil(m/8) WORDS, each
    packing 8 one-byte codes little-endian — the literal "m bytes/row"
    representation (requires every cell id < 256, guaranteed while
    k ≤ 256 since pq_fit numbers cells 0..k-1 and Lloyd drops never
    renumber).  The ADC scan stays pure codegen either way: the packed
    lookup key is ``shiftright(word, 8·(j mod 8)) & 255``."""
    from pyspark.sql.functions import pandas_udf

    cells, QC, nc = _collect_codebook(codebook)
    m, sub_dim = len(QC), QC[0].shape[1]
    if packed and any(int(c.max()) > 255 for c in cells):
        raise ValueError("packed codes need every cell id < 256 (k <= 256)")
    bc = df.sparkSession.sparkContext.broadcast((cells, QC, nc))
    n_words = (m + 7) // 8

    @pandas_udf("array<long>")
    def encode(vs: pd.Series) -> pd.Series:
        b_cells, b_qc, b_nc = bc.value
        V = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        QV = np.floor(V * _QUANT + 0.5).astype(np.int64)
        codes = np.empty((len(V), m), dtype=np.int64)
        for j in range(m):
            S = QV[:, j * sub_dim : (j + 1) * sub_dim]
            d2 = (
                (S * S).sum(axis=1)[:, None]
                + b_nc[j][None, :]
                - 2 * (S @ b_qc[j].T)
            )
            # centroids sorted ascending by cell id: first-minimum
            # argmin = smallest cell id on exact ties
            codes[:, j] = b_cells[j][np.argmin(d2, axis=1)]
        if not packed:
            return pd.Series(list(codes))
        # little-endian byte pack; uint64 arithmetic then a bit-level
        # view back to int64 (byte 7 would overflow a signed shift)
        words = np.zeros((len(V), n_words), dtype=np.uint64)
        for j in range(m):
            words[:, j // 8] |= codes[:, j].astype(np.uint64) << np.uint64(
                8 * (j % 8)
            )
        return pd.Series(list(words.view(np.int64)))

    e = df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        _as_double(F.col(vec_col)).alias("_v"),
    )
    return e.select(id_col, *keep_cols, encode(F.col("_v")).alias("codes"))


def _adc_table(QC, nc, query_vec) -> list[np.ndarray]:
    """Per-subspace ADC distance arrays (aligned with the codebook's
    cells_j order) from a pre-collected codebook: exact int64
    squared-L2 between each quantized query subvector and centroid."""
    m, sub_dim = len(QC), QC[0].shape[1]
    q = np.asarray(query_vec, dtype=np.float64)
    if q.shape[0] != m * sub_dim:
        raise ValueError(f"query dim {q.shape[0]} != codebook dim {m * sub_dim}")
    Q = np.floor(q * _QUANT + 0.5).astype(np.int64)
    dt = []
    for j in range(m):
        s = Q[j * sub_dim : (j + 1) * sub_dim]
        dt.append((s * s).sum() + nc[j] - 2 * (QC[j] @ s))
    return dt


def pq_adc_distances(
    codebook: DataFrame, query_vec: list[float]
) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """(cells, distances): per-subspace ascending cell-id arrays and
    the matching exact int64 squared-L2 ADC distances for the query.
    Tiny (m·k longs) — inlined as literal (cell -> distance) maps into
    the scan expression by pq_topk.  Collects the codebook; callers
    building MANY tables (the residual per-probed-cell search) collect
    once and use :func:`_adc_table`."""
    cells, QC, nc = _collect_codebook(codebook)
    return cells, _adc_table(QC, nc, query_vec)


# Sentinel distance for code ids the book never minted (Lloyd gap ids,
# or a foreign/corrupt code): large enough to rank the row LAST —
# never silently into the top-k, unlike a NULL under NULLS-FIRST asc —
# and small enough that m terms cannot overflow int64
# (8 · 2^55 = 2^58; real quantized sub-distances top out ~2^47).
_ADC_SENTINEL = 1 << 55


def _code_sql(j: int, packed: bool) -> str:
    """SQL for the j-th code: the array element, or the byte slice of
    word j div 8 in packed mode — ``shiftright(word, 8·(j mod 8)) &
    255``; the arithmetic shift's sign-extension only touches bits the
    mask drops, so byte 7 of a negative word still reads correctly."""
    if packed:
        return f"(shiftright(`codes`[{j // 8}], {8 * (j % 8)}) & 255)"
    return f"`codes`[{j}]"


def _adc_sql(code_ids, tables, qid_sql: str | None, packed: bool) -> str:
    """The ADC scan as ONE SQL string: the sum over subspaces of a dense
    literal ARRAY lookup on the j-th code — ``lit[code]`` for one query
    (``tables`` = [per-subspace distances aligned with ``code_ids``]),
    ``lit[qid][code]`` for a batch (one table per qid, indexed by the
    SQL expression ``qid_sql``).

    ARRAY, not map — measured why (SCALE.md §11): Catalyst
    constant-folds a CreateArray of literals into one Literal but does
    NOT fold CreateMap, so a map was rebuilt PER ROW and scan cost grew
    with k (7.6 s vs 0.8 s at k=256 vs 16).  Gap-safe: Lloyd-dropped ids
    hold :data:`_ADC_SENTINEL`; over-range codes fall off the array and
    coalesce to it; NEGATIVE codes take an explicit branch (element_at
    reads negative indices from the array's END, and index 0 raises).
    One string, not a Column tree: the Column API cost hundreds of Py4J
    round trips per search (r15)."""
    terms = []
    for j in range(len(code_ids)):
        size = int(code_ids[j].max()) + 1
        rows = []
        for t in tables:
            dense = np.full(size, _ADC_SENTINEL, dtype=np.int64)
            dense[code_ids[j]] = t[j]
            rows.append(dense)
        table = query_table_sql(rows, qid_sql)
        code = _code_sql(j, packed)
        terms.append(
            f"(CASE WHEN {code} < 0 THEN {_ADC_SENTINEL}L ELSE "
            f"coalesce(element_at({table}, CAST({code} AS INT) + 1), "
            f"{_ADC_SENTINEL}L) END)"
        )
    return "(" + " + ".join(terms) + ")"


class _PQCodec(Codec):
    """The PQ codec of the IVF search core: ADC over the global book or
    a cell's override book, on raw codes or (``residual``) on codes of
    v − centroid[cell], whose tables therefore differ per probed cell."""

    out_col = "adc_dist"
    probe_metric = "l2"
    chunked = "ivfpq_multi_topk_chunked"
    override_cols = ("cell", "subspace", "code", "centroid")

    def __init__(self, codebook: DataFrame, packed: bool = False,
                 residual: bool = False):
        self.codebook, self.packed, self.residual = codebook, packed, residual

    def book(self):
        return _collect_codebook(self.codebook)

    def dist_sql(self, book, qvecs, qid_sql):
        code_ids, QC, nc = book
        tables = [_adc_table(QC, nc, qv) for qv in qvecs]
        return _adc_sql(code_ids, tables, qid_sql, self.packed)

    def literals(self, nq, n_tables):
        per_q = sum(int(c.max()) + 1 for c in self.book()[0])
        return nq * n_tables * per_q, f"{nq} queries x this codebook"

    def fallback_sql(self):
        return f"{len(self.book()[0]) * _ADC_SENTINEL}L"

    @staticmethod
    def parse_overrides(rows) -> dict:
        """{cell: (code_ids, QC, nc)} — the _collect_codebook artifact
        keyed by cell.  Gap-safe exactly like the global book: codes
        are the actual surviving Lloyd ids per (cell, subspace), kept
        ascending so first-minimum argmin ties resolve to the smallest
        code."""
        return {
            cell: _parse_book(cell_rows, "code", f"override cell {cell}")
            for cell, cell_rows in group_override_rows(rows).items()
        }


def _collect_overrides(overrides: DataFrame, cells=None) -> dict:
    """{cell: (code_ids, QC, nc)} of a per-cell override relation
    (cell, subspace, code, centroid), parsed by the PQ codec — see
    :func:`ivf_search.collect_overrides` for the collect and memo rules."""
    return collect_overrides(overrides, _PQCodec, cells)


def empty_overrides_frame(spark) -> DataFrame:
    """The canonical EMPTY per-cell override relation, memo-seeded so
    the version-0 side of a versioned search runs no collect job."""
    return _empty_overrides_frame(
        spark, "cell long, subspace long, code long, centroid array<double>"
    )


def pq_topk(
    codes_df: DataFrame,
    codebook: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    packed: bool = False,
) -> DataFrame:
    """ADC top-k over a whole PQ-encoded corpus (no coarse probe): the
    query's m×k distance table rides the PLAN as constant-folded literal
    arrays and each row's approximate distance is m array lookups summed
    — whole-stage codegen, no UDF, no join, no vector column.  Returns
    (id, adc_dist), the exact int64 sum of quantized subspace distances,
    ranked (adc_dist asc, id asc), limit ``k``.  The query side is a
    1-row frame with a `query_vec` column (cosine_topk convention)."""
    return search(_PQCodec(codebook, packed), "pq_topk", codes_df, None,
                  query_df, k=k, id_col=id_col)


def ivfpq_topk(
    index_df: DataFrame,
    ivf_codebook: DataFrame,
    pq_codebook: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    nprobe: int | None = None,
    id_col: str = "vec_id",
    residual: bool = False,
    packed: bool = False,
    probe_metric: str | None = None,
) -> DataFrame:
    """IVF-pruned ADC search — the standard large-corpus composition:
    rank coarse cells by the probe metric, keep the top ``nprobe``, and
    ADC-scan ONLY those cells' PQ codes (partition pruning over a
    cell-partitioned index; the scan reads m-byte codes, not vectors).
    Returns (id, adc_dist), exact int64 sums, (adc_dist asc, id asc)
    top-k.  ``nprobe=None`` / ``probe_metric=None``: the corpus-aware
    defaults of :func:`ivf_search.search` (ceil(sqrt(cells)), ``"l2"``);
    pass an explicit nprobe for a fully static configuration (the
    oracle registry does).

    ``residual=True`` (index built with residual codes): the query's
    residual — and therefore its ADC table — differs per probed cell,
    so the scan is an nprobe-way CASE over per-cell literal tables,
    nprobe·m·k literal longs in the plan."""
    return search(_PQCodec(pq_codebook, packed, residual), "ivfpq_topk",
                  index_df, ivf_codebook, query_df, k=k, nprobe=nprobe,
                  id_col=id_col, probe_metric=probe_metric)


def ivfpq_refine_topk(
    index_df: DataFrame,
    ivf_codebook: DataFrame,
    pq_codebook: DataFrame,
    vectors_df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    nprobe: int | None = None,
    refine_factor: int | None = None,
    residual: bool = False,
    packed: bool = False,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_metric: str | None = None,
    refine_target_occupancy: int = 1024,
) -> DataFrame:
    """Two-stage refine search — FAISS ``IndexRefineFlat`` over
    :func:`ivfpq_topk`: the top ``k·refine_factor`` ADC candidates,
    re-ranked by exact cosine (:func:`ivf_search.search`'s refine
    stage; ``refine_factor=None`` sizes the pool from cell occupancy —
    the clustered residual recall fell 0.4 → 0.175 at 10× occupancy
    with the pool fixed, SCALE.md §11).  Output (id, cos_sim)."""
    return search(_PQCodec(pq_codebook, packed, residual),
                  "ivfpq_refine_topk", index_df, ivf_codebook, query_df,
                  k=k, nprobe=nprobe, id_col=id_col,
                  probe_metric=probe_metric, vectors_df=vectors_df,
                  vec_col=vec_col, refine_factor=refine_factor,
                  refine_target_occupancy=refine_target_occupancy)


def ivfpq_multi_topk(
    index_df: DataFrame,
    ivf_codebook: DataFrame,
    pq_codebook: DataFrame,
    queries_df: DataFrame,
    k: int = 10,
    nprobe: int | None = None,
    id_col: str = "vec_id",
    qid_col: str = "qid",
    packed: bool = False,
    probe_metric: str | None = None,
    residual: bool = False,
) -> DataFrame:
    """Batch IVF+PQ search — EVERY probe vector answered from ONE pass
    over the codes: q single searches cost q scans of the probed cells,
    and at 100 TB the scan is the cost.  Each row reads the 2-level
    literal table ``lit[qid][code]`` per subspace (q·m·k longs riding
    the plan once — ~250 queries at FAISS-like m=16, k=256 fit the
    literal budget; past it the call names
    :func:`ivfpq_multi_topk_chunked`).  ``residual=True``: a CASE over
    the probed cells of per-cell tables, probed_cells·q·m·k literals.
    ``queries_df`` is (qid, query_vec) with qid DENSE 0..q-1.  Returns
    (qid, id, adc_dist), per-qid (adc_dist asc, id asc) top-k."""
    return search(_PQCodec(pq_codebook, packed, residual),
                  "ivfpq_multi_topk", index_df, ivf_codebook, queries_df,
                  k=k, nprobe=nprobe, id_col=id_col, qid_col=qid_col,
                  probe_metric=probe_metric)


def ivfpq_multi_topk_versioned(
    index_df: DataFrame,
    ivf_codebook: DataFrame,
    pq_codebook: DataFrame,
    overrides: DataFrame,
    queries_df: DataFrame,
    k: int = 10,
    nprobe: int | None = None,
    id_col: str = "vec_id",
    qid_col: str = "qid",
    packed: bool = False,
    probe_metric: str | None = None,
    residual: bool = False,
) -> DataFrame:
    """Batch search over a SELECTIVELY-REFIT index
    (:func:`maintain.pq_refit_cells` + rewrite): one pass over the mixed
    codes, each probed override cell CASE-dispatched to the per-cell
    book that MINTED its codes, every other cell to the frozen global
    book.  ``residual=True`` serves the true-LOPQ variant (every probed
    cell's tables derive from each query's residual against it).
    Returns (qid, id, adc_dist), per-qid (adc_dist asc, id asc) top-k."""
    return search(_PQCodec(pq_codebook, packed, residual),
                  "ivfpq_multi_topk_versioned", index_df, ivf_codebook,
                  queries_df, k=k, nprobe=nprobe, id_col=id_col,
                  qid_col=qid_col, probe_metric=probe_metric,
                  overrides=overrides)


def ivfpq_multi_topk_chunked(
    index_df: DataFrame,
    ivf_codebook: DataFrame,
    pq_codebook: DataFrame,
    queries_df: DataFrame,
    k: int = 10,
    max_queries_per_scan: int | None = None,
    qid_col: str = "qid",
    overrides: DataFrame | None = None,
    **kw,
) -> DataFrame:
    """The route past the plan-literal budget: dense-qid chunks of the
    probe set, each answered from ONE scan (:func:`ivfpq_multi_topk`,
    or :func:`ivfpq_multi_topk_versioned` with ``overrides``; ``kw``
    takes their other arguments: nprobe, id_col, probe_metric, packed,
    residual).  ``max_queries_per_scan=None`` sizes chunks from the
    budget (raw mode only, ivf_search.chunk_size)."""
    name = "ivfpq_multi_topk_chunked"
    kw = chunk_kw(name, kw, packed=False, residual=False)
    codec = _PQCodec(pq_codebook, kw.pop("packed"), kw.pop("residual"))
    if max_queries_per_scan is None:
        max_queries_per_scan = chunk_size(codec, name, overrides)
    return search(codec, name, index_df, ivf_codebook, queries_df, k=k,
                  qid_col=qid_col, overrides=overrides,
                  max_queries_per_scan=max_queries_per_scan, **kw)


def ivfpq_multi_refine_topk(
    index_df: DataFrame,
    ivf_codebook: DataFrame,
    pq_codebook: DataFrame,
    vectors_df: DataFrame,
    queries_df: DataFrame,
    k: int = 10,
    nprobe: int | None = None,
    refine_factor: int | None = None,
    residual: bool = False,
    packed: bool = False,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    qid_col: str = "qid",
    probe_metric: str | None = None,
    refine_target_occupancy: int = 1024,
    overrides: DataFrame | None = None,
    max_queries_per_scan: int | None = None,
) -> DataFrame:
    """Batch two-stage refine: every query's top ``k·refine_factor``
    candidates from ONE codes pass (:func:`ivfpq_multi_topk`;
    ``overrides`` → the versioned scan, ``max_queries_per_scan`` →
    chunked), re-ranked in ONE pass over the vector table.  Returns
    (qid, id, cos_sim), per-qid (cos_sim desc, id asc) top-k."""
    return search(_PQCodec(pq_codebook, packed, residual),
                  "ivfpq_multi_refine_topk", index_df, ivf_codebook,
                  queries_df, k=k, nprobe=nprobe, id_col=id_col,
                  qid_col=qid_col, probe_metric=probe_metric,
                  overrides=overrides,
                  max_queries_per_scan=max_queries_per_scan,
                  vectors_df=vectors_df, vec_col=vec_col,
                  refine_factor=refine_factor,
                  refine_target_occupancy=refine_target_occupancy)


def ivfpq_topk_versioned(
    index_df: DataFrame,
    ivf_codebook: DataFrame,
    pq_codebook: DataFrame,
    overrides: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    nprobe: int | None = None,
    id_col: str = "vec_id",
    packed: bool = False,
    probe_metric: str | None = None,
    residual: bool = False,
) -> DataFrame:
    """IVF+PQ search over a SELECTIVELY-REFIT index — what makes
    :func:`maintain.pq_refit_cells` usable: cells in ``overrides`` were
    re-encoded with their own per-cell books (version 1), every other
    cell still carries global-book codes (version 0), and the scan
    scores each row against the book that MINTED its codes — a CASE
    over the probed override cells with the global table as ELSE.
    Probe and defaults as :func:`ivfpq_topk`.

    ``residual=True`` serves a RESIDUAL-coded index maintained by the
    true-LOPQ refit (``pq_refit_cells(residual=True)``): every probed
    cell's table comes from the query's residual against that cell —
    through its override book or the global residual book.  Returns
    (id, adc_dist), (adc_dist asc, id asc) top-k."""
    return search(_PQCodec(pq_codebook, packed, residual),
                  "ivfpq_topk_versioned", index_df, ivf_codebook, query_df,
                  k=k, nprobe=nprobe, id_col=id_col,
                  probe_metric=probe_metric, overrides=overrides)


def ivfpq_refine_topk_versioned(
    index_df: DataFrame,
    ivf_codebook: DataFrame,
    pq_codebook: DataFrame,
    overrides: DataFrame,
    vectors_df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    nprobe: int | None = None,
    refine_factor: int | None = None,
    residual: bool = False,
    packed: bool = False,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_metric: str | None = None,
    refine_target_occupancy: int = 1024,
) -> DataFrame:
    """Two-stage refine over the MAINTAINED index: the top
    ``k·refine_factor`` candidates of :func:`ivfpq_topk_versioned`,
    re-ranked by exact cosine (the engine's 600k ledger put the
    compressed stage at 0.025-0.16 recall at 10× occupancy even
    post-refit, the refine stage at 0.65).  Output (id, cos_sim)."""
    return search(_PQCodec(pq_codebook, packed, residual),
                  "ivfpq_refine_topk_versioned", index_df, ivf_codebook,
                  query_df, k=k, nprobe=nprobe, id_col=id_col,
                  probe_metric=probe_metric, overrides=overrides,
                  vectors_df=vectors_df, vec_col=vec_col,
                  refine_factor=refine_factor,
                  refine_target_occupancy=refine_target_occupancy)


def residual_vectors(
    df: DataFrame,
    ivf_codebook: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """(id, cell, rvec) — each vector minus its coarse cell's centroid,
    the residual that real IVF+PQ quantizes (residuals cluster tightly
    around 0, so the same code budget buys far finer resolution than
    coding raw vectors).  Assignment dispatches through ivf_assign;
    the subtraction is a broadcast join + zip_with — pure codegen, no
    UDF beyond the assignment pass itself.

    ``assigned`` (r14): a pre-computed ``ivf_assign(df, ivf_codebook)``
    frame — (id, v, cell) — to reuse instead of re-running the
    assignment pass; composites that assign once and persist feed the
    same tagged frame to indexing, occupancy and refit (identical
    output, the pass just runs once)."""
    tagged = assignment(df, ivf_codebook, vec_col, id_col, assigned)
    cents = F.broadcast(fine_cells(ivf_codebook).select("cell", "centroid"))
    # LEFT join, deliberately: an inner join makes Catalyst infer
    # isnotnull(cell) and push it below the projection as a Filter that
    # RE-RUNS the assignment UDF (the expensive-subtree double-reference
    # shape, plan-pinned in test_ivfpq_index_single_pass_plan).  Every
    # assigned cell exists in the codebook, so left ≡ inner here — and a
    # codebook hole fails LOUDLY naming the cell (raise_error below)
    # instead of feeding a null rvec into the encode UDF's np.stack.
    rvec = F.when(
        F.col("centroid").isNull(),
        F.raise_error(
            F.concat(
                F.lit("ivf codebook has no centroid for assigned cell "),
                F.col("cell").cast("string"),
            )
        ).cast("array<double>"),
    ).otherwise(F.zip_with("v", "centroid", lambda x, c: x - c))
    return tagged.join(cents, "cell", "left").select(
        F.col(id_col),
        "cell",
        rvec.alias("rvec"),
    )


def ivfpq_fit(
    df: DataFrame,
    num_cells: int = 10,
    num_subspaces: int = 4,
    num_codes: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """Train the RESIDUAL IVF+PQ pair: coarse codebook on the raw
    vectors, then one shared PQ codebook on the coarse RESIDUALS
    (the FAISS IVFPQ recipe — one residual codebook across cells, not
    k of them).  Returns (ivf_codebook, pq_codebook); feed both to
    :func:`ivfpq_index` / :func:`ivfpq_topk` with ``residual=True``."""
    ivf_cb = ivf_fit(df, num_cells, iters, vec_col, id_col)
    res = residual_vectors(df, ivf_cb, vec_col, id_col)
    pq_cb = pq_fit(
        res, num_subspaces, num_codes, iters,
        vec_col="rvec", id_col=id_col, dim=dim,
    )
    return ivf_cb, pq_cb


def ivfpq_index(
    df: DataFrame,
    ivf_codebook: DataFrame,
    pq_codebook: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    residual: bool = False,
    packed: bool = False,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """(id, cell, codes) — the FAISS-style IVF+PQ index row: coarse IVF
    cell for pruning plus the PQ code word for the ADC scan.  ONE pass
    over one scan: assignment and encode live in the SAME select
    (``pq_encode(keep_cols=("cell",))``), so the coarse-assignment
    Arrow pass — the hottest stage of the one-off 100 TB indexing job —
    executes exactly once and the corpus is never shuffled on id (the
    r8 plan self-joined the encode projection back, re-running
    assignment twice; ``tests/test_pq.py`` pins the single-pass shape).
    The output is written PARTITIONED BY cell (the ivf_assign
    deployment story), after which a query touches only nprobe cells'
    code files and never a raw vector.  Cell assignment goes through
    :func:`similarity.ivf_assign`, so flat AND hierarchical coarse
    codebooks both work.

    With ``residual=True`` (pair with :func:`ivfpq_fit`) the codes
    quantize v − centroid[cell] instead of v — the standard IVFPQ
    accuracy upgrade; the search side must then also pass
    ``residual=True`` so its ADC tables are per-probed-cell.

    ``assigned`` (r14): a pre-computed ``ivf_assign(df, ivf_codebook)``
    frame to reuse — composites that assign once and persist skip this
    function's own assignment pass (identical output)."""
    if residual:
        res = residual_vectors(
            df, ivf_codebook, vec_col, id_col, assigned=assigned
        )
        return pq_encode(
            res, pq_codebook, vec_col="rvec", id_col=id_col,
            keep_cols=("cell",), packed=packed,
        )
    tagged = assignment(df, ivf_codebook, vec_col, id_col, assigned)
    return pq_encode(
        tagged, pq_codebook, vec_col="v", id_col=id_col,
        keep_cols=("cell",), packed=packed,
    )

