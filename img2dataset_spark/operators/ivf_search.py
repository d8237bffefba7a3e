"""One IVF search core for every compression family.

FAISS splits an inverted-file index into ``IndexIVF`` — coarse probe,
list selection, top-k — and a per-codec ``InvertedListScanner`` that
only knows how to score one list's codes (Jégou et al., PAMI 2011;
Douze et al., "The Faiss library", 2024).  This module is the
``IndexIVF`` half for the PQ, SQ8 and BQ families; each family
(operators/pq.py, sq.py, bq.py) supplies a small codec object, and
every public IVF searcher is a thin wrapper over :func:`search`.

Stages, each written once:

- **resolve** the probe defaults: ``nprobe=None`` →
  ceil(sqrt(num_cells)) (similarity.recommended_nprobe over the
  memoized cell count), ``probe_metric=None`` → the codec's own
  (``"l2"`` for the L2 families, ``"cosine"`` for BQ's angle
  estimate), hierarchical codebooks → their fine level;
- **probe**: :func:`similarity.probe_cells` for one query;
  :func:`similarity.flat_multi_probe_pairs` for a batch, falling back
  to the distributed :func:`similarity.multi_probe_cells` for a
  hierarchical codebook;
- **static prune**: the probed cells become a ``cell IN (...)``
  predicate — planning-time partition pruning over a cell-partitioned
  index (batches additionally join the broadcast (qid, cell) pairs);
- **score**: one SQL string, parsed by the JVM in one round trip — the
  codec's distance for the global book, CASE-dispatched per probed cell
  where the distance depends on the cell (a residual codec, or cells
  re-fit with their own book in ``overrides``), wrapped in the codec's
  codes-width guard;
- **top-k**: ``orderBy(dist, id).limit(k)`` for one query, a per-qid
  ``row_number`` for a batch;
- **refine** (optional): the exact-cosine re-rank of the compressed
  stage's ``k·refine_factor`` candidates against the raw vectors;
- **chunk** (optional): dense-qid chunks of a batch, one scan each,
  unioned with the original qids restored.

Each family supplies only what differs, as a :class:`Codec`.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from img2dataset_spark.operators import similarity as S
from img2dataset_spark.operators.similarity import quote_ident

# Practical ceiling on the literal values a multi-query scan may
# inline into ONE plan (the 2-level folded ADC tables / quantized
# query tables / per-branch bounds): past it, plan serialization/
# codegen cost dominates the scan it was amortizing.  ~250 queries at
# FAISS-like m=16, k=256.  One budget for every codec — the cost being
# priced is plan size, which does not care which family minted the
# literals.
_MULTI_TOPK_MAX_LITERALS = 1_000_000


class Codec:
    """What one compression family plugs into the core (FAISS's
    ``InvertedListScanner`` role):

    - ``out_col``, ``probe_metric``: the distance column, the default
      probe rule;
    - ``dist_sql(book, qvecs, qid_sql)``: every row's distance against
      ``book`` — one query when ``qid_sql`` is None, else the 2-level
      per-qid tables indexed by the SQL expression ``qid_sql``;
    - ``literals(nq, n_tables)``: (count, description) of the plan
      literals ``n_tables`` books inline for ``nq`` queries;
    - ``override_cols``, ``parse_overrides(rows)``: the override
      relation's columns and its {cell: book} parse;
    - ``fallback_sql()`` (residual codecs): the rank-last distance
      outside every probed cell.

    The defaults below are a family without a global book, per-cell
    residuals, a chunked route or a codes-width guard."""

    residual = False  # codes of v − centroid[cell]: the score is per cell
    chunked: str | None = None  # the family's chunked batch route

    def book(self):
        """The global book, collected once (memoized)."""
        return None

    def width(self) -> tuple[int, str] | None:
        """(expected codes width, description) for the width guard."""
        return None

    def check_overrides(self, books: dict) -> None:
        """Reject override books this search cannot score."""


def _col(name: str):
    return F.col(quote_ident(name))


def _sql_string(s: str) -> str:
    """A Python string as a SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _check_plan_literal_budget(count: int, name: str, remedy: str) -> None:
    """A batch scan whose plan would carry ``count`` literal values past
    the shared budget fails NAMING the chunked route, not opaquely in
    codegen or plan serialization."""
    if count > _MULTI_TOPK_MAX_LITERALS:
        raise ValueError(
            f"{name}: {count} plan literals > "
            f"{_MULTI_TOPK_MAX_LITERALS} — {remedy}"
        )


def _cell_case_sql(
    branches: list[tuple[int, str]], else_sql: str, searcher: str
) -> str:
    """``(CASE WHEN cell = c THEN <branch> ... ELSE <else> END)`` over
    per-probed-cell distance strings.  An empty branch list would be a
    parse error deep in Spark; it is refused here, naming the
    searcher."""
    if not branches:
        raise ValueError(
            f"{searcher}: no probed-cell branches to dispatch on"
        )
    body = " ".join(
        f"WHEN `cell` = {int(c)} THEN {sql}" for c, sql in branches
    )
    return f"(CASE {body} ELSE {else_sql} END)"


def query_table_sql(rows, qid_sql: str | None) -> str:
    """The per-query literal table a row reads: ``lit`` for one query,
    ``lit[qid]`` of a 2-level table for a batch (``qid_sql`` indexes
    it)."""
    if qid_sql is None:
        return S.long_array_sql(rows[0])
    return f"element_at({S.long_array_2d_sql(rows)}, {qid_sql})"


def _width_guard_sql(dist_sql: str, width: int, what: str, searcher: str) -> str:
    """Fail loudly on a codes row of the wrong width: ``zip_with``
    null-pads a short array and ``transform`` stops early, so the row
    would score NULL or partial — and NULLS-FIRST asc ranks a NULL top.
    NULL codes take the error branch too (``size(NULL)`` is NULL, so a
    bare ``!=`` would fall through)."""
    msg = _sql_string(f"{searcher}: codes width != {what} — got ")
    return (
        f"(CASE WHEN (`codes` IS NULL OR (size(`codes`) != {int(width)})) "
        f"THEN CAST(raise_error(concat({msg}, "
        "coalesce(CAST(size(`codes`) AS STRING), 'NULL'))) AS BIGINT) "
        f"ELSE {dist_sql} END)"
    )


def fine_cells(ivf_codebook: DataFrame) -> DataFrame:
    """The assignment/probe domain of a coarse codebook: a hierarchical
    codebook's FINE rows (its coarse rows' ids collide with fine ids),
    a flat codebook as is."""
    if "level" in ivf_codebook.columns:
        return ivf_codebook.filter(F.col("level") == "fine")
    return ivf_codebook


def assignment(df: DataFrame, ivf_codebook: DataFrame, vec_col: str,
               id_col: str, assigned: DataFrame | None = None) -> DataFrame:
    """(id, v, cell): ``assigned``, a pre-computed ``ivf_assign(df,
    ivf_codebook)`` frame a composite already ran, or the assignment
    pass itself — the head of every IVF index build."""
    if assigned is not None:
        return assigned
    return S.ivf_assign(df, ivf_codebook, vec_col, id_col)


# (id(df) -> (df, {cell: book})) memo for override-relation collects,
# one for every codec: one composite computes the override relation,
# probes it nonempty, re-encodes with it and then searches through it,
# and each step would otherwise run its own collect job over the same
# bounded frame.
_OVERRIDES_MEMO: dict[int, tuple[DataFrame, dict]] = {}


def collect_overrides(overrides: DataFrame, codec, cells=None) -> dict:
    """{cell: book} from a per-cell override relation, parsed by the
    codec, restricted to ``cells`` (the probed cells) when given.

    The first call collects the WHOLE relation and memoizes it; every
    later call on the same frame, for any slice, is a driver-local dict
    filter with no Spark job.  A versioned search therefore pays one
    collect per override frame, not one filter+collect per build.  The
    relation is bounded: the codec's parse refuses more than
    similarity.FLAT_CODEBOOK_MAX_CELLS override cells, so the collect
    cannot grow corpus-shaped.  The returned dict is a copy; the payload
    arrays are shared and treated as immutable."""
    full = S._memo_get(_OVERRIDES_MEMO, overrides)
    if full is None:
        full = codec.parse_overrides(
            overrides.select(*codec.override_cols).collect()
        )
        S._memo_put(_OVERRIDES_MEMO, overrides, full)
    if cells is None:
        return dict(full)
    want = {int(c) for c in cells}
    return {c: v for c, v in full.items() if c in want}


def empty_overrides_frame(spark, schema: str) -> DataFrame:
    """The canonical EMPTY override relation — the version-0 ("pre",
    stale-index) side of every versioned search — memo-seeded at
    creation, so no searcher runs a filter+collect job just to discover
    zero rows."""
    df = spark.createDataFrame([], schema)
    S._memo_put(_OVERRIDES_MEMO, df, {})
    return df


def group_override_rows(rows) -> dict[int, list]:
    """{cell: rows} — the shared head of every override parse, with the
    FLAT_CODEBOOK_MAX_CELLS gate that keeps the relation bounded."""
    by_cell: dict[int, list] = {}
    for r in rows:
        by_cell.setdefault(int(r["cell"]), []).append(r)
    if len(by_cell) > S.FLAT_CODEBOOK_MAX_CELLS:
        raise ValueError(
            f"{len(by_cell)} override cells exceed "
            f"FLAT_CODEBOOK_MAX_CELLS={S.FLAT_CODEBOOK_MAX_CELLS}; refit in "
            "bounded batches (the flagged set is a schedule, not one job)"
        )
    return by_cell


def _score_sql(codec, name, qvecs, qid_sql, probe, overrides) -> str:
    """The whole distance expression.  ``probe`` is {cell: centroid}
    for the probed cells (centroids only where a residual codec needs
    them; None for a flat scan)."""
    g = codec.book()
    books = {}
    if overrides is not None:
        books = collect_overrides(overrides, codec, cells=list(probe or ()))
        codec.check_overrides(books)
    if codec.residual:
        if not probe:
            raise ValueError(
                f"{name}: probe returned no cells — is the ivf_codebook "
                "empty (or all-coarse)?"
            )
        cells = sorted(probe)
        n_tables = len(cells)
    else:
        cells = sorted(books)
        n_tables = len(cells) + 1
    if qid_sql is not None:
        count, what = codec.literals(len(qvecs), n_tables)
        remedy = (
            f"chunk the probe set with {codec.chunked}"
            if codec.chunked
            else "chunk the probe set into smaller dense-qid batches"
        )
        _check_plan_literal_budget(
            count, f"{name}: {what}",
            remedy + " (each chunk is still answered from one scan)",
        )
    if codec.residual:
        branches = [
            (c, codec.dist_sql(
                books.get(c, g),
                [qv - np.asarray(probe[c], dtype=np.float64) for qv in qvecs],
                qid_sql,
            ))
            for c in cells
        ]
        else_sql = codec.fallback_sql()
    else:
        branches = [(c, codec.dist_sql(books[c], qvecs, qid_sql)) for c in cells]
        else_sql = codec.dist_sql(g, qvecs, qid_sql)
    sql = _cell_case_sql(branches, else_sql, name) if branches else else_sql
    width = codec.width()
    return sql if width is None else _width_guard_sql(sql, *width, name)


def _resolve(codec, ivf_codebook, nprobe, probe_metric):
    if probe_metric is None:
        probe_metric = codec.probe_metric
    if nprobe is None:
        # memoized cell count: repeated searches over one fitted
        # codebook size the probe without a count job per call
        nprobe = S.recommended_nprobe(S.codebook_num_cells(ivf_codebook))
    return fine_cells(ivf_codebook), nprobe, probe_metric


def _vec(v) -> np.ndarray:
    return np.asarray([float(x) for x in v], dtype=np.float64)


def _top_k(scored: DataFrame, qq: str | None, order, k: int) -> DataFrame:
    """The first ``k`` rows by ``order``: a TakeOrdered for one query,
    a ``row_number`` window per qid (the quoted column ``qq``) for a
    batch."""
    if qq is None:
        return scored.orderBy(*order).limit(k)
    wk = Window.partitionBy(qq).orderBy(*order)
    return (
        scored.withColumn("_rk", F.row_number().over(wk))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def _single(codec, name, index_df, ivf_codebook, query_df, k, nprobe,
            id_col, probe_metric, overrides) -> DataFrame:
    probe = None
    scanned = index_df
    if ivf_codebook is not None:
        fine, nprobe, metric = _resolve(codec, ivf_codebook, nprobe, probe_metric)
        # bounded probe rows (job-free for flat codebooks: probe_cells
        # pre-memoizes its literal output)
        probe = dict(S._collect_flat_codebook(
            S.probe_cells(fine, query_df, nprobe, metric)
        ))
        scanned = S.static_prune_cells(index_df, probe)
    qrow = S.collect_query_rows(query_df, ("query_vec",))
    if len(qrow) != 1:
        raise ValueError(f"query_df must have exactly 1 row, got {len(qrow)}")
    dist = _score_sql(
        codec, name, [_vec(qrow[0]["query_vec"])], None, probe, overrides
    )
    out, idq = codec.out_col, quote_ident(id_col)
    scored = scanned.select(idq, F.expr(dist).alias(out))
    return _top_k(scored, None, (F.asc(out), F.asc(idq)), k)


def _dense_qrows(queries_df: DataFrame, qid_col: str) -> list:
    """The batch's (qid, query_vec) rows in qid order.  collect()
    returns partition order, NOT qid order: unsorted, a multi-partition
    queries_df would index a literal table or a chunk with the wrong
    query."""
    return sorted(S.collect_dense_qids(queries_df, qid_col),
                  key=lambda r: int(r[qid_col]))


def _batch(codec, name, index_df, ivf_codebook, queries_df, k, nprobe,
           id_col, qid_col, probe_metric, overrides) -> DataFrame:
    fine, nprobe, metric = _resolve(codec, ivf_codebook, nprobe, probe_metric)
    qrows = _dense_qrows(queries_df, qid_col)
    qq = quote_ident(qid_col)
    pairs = S.flat_multi_probe_pairs(fine, queries_df, nprobe, metric, qid_col)
    pcells = None
    if pairs is not None:
        probed = fine.sparkSession.createDataFrame(
            pairs, schema=f"{qq} bigint, cell bigint"
        )
        pre = S.static_prune_cells(index_df, (c for _, c in pairs))
        pcells = sorted({c for _, c in pairs})
    else:
        # hierarchical: distributed probe, broadcast join only; the
        # probed cells are collected only when the score needs them
        probed = S.multi_probe_cells(fine, queries_df, nprobe, metric, qid_col)
        pre = index_df
        if codec.residual or overrides is not None:
            pcells = sorted(
                int(r["cell"])
                for r in probed.select("cell").distinct().collect()
            )
    probe = None if pcells is None else dict.fromkeys(pcells)
    if codec.residual and pcells:
        cents = (
            S._collect_flat_codebook(fine) if pairs is not None
            else fine.filter(F.col("cell").isin(pcells))
            .select("cell", "centroid").collect()
        )
        probe = {int(c): cent for c, cent in cents if int(c) in probe}
    pruned = pre.join(F.broadcast(probed), "cell")
    dist = _score_sql(
        codec, name, [_vec(r["query_vec"]) for r in qrows],
        f"CAST({qq} AS INT) + 1", probe, overrides,
    )
    out, idq = codec.out_col, quote_ident(id_col)
    scored = pruned.select(qq, idq, F.expr(dist).alias(out))
    return _top_k(scored, qq, (F.asc(out), F.asc(idq)), k)


def chunk_size(codec, name: str, overrides) -> int:
    """The chunked routes' ``max_queries_per_scan=None``: the largest
    chunk whose global-book plan fits the literal budget.  Residual
    and versioned scans multiply literals by a probe-dependent cell
    count, so there the sizing refuses to guess."""
    if codec.residual or overrides is not None:
        raise ValueError(
            f"{name}: residual/versioned modes multiply plan literals by "
            "the probed-cell count — pass an explicit max_queries_per_scan"
        )
    return max(1, _MULTI_TOPK_MAX_LITERALS // codec.literals(1, 1)[0])


def chunk_kw(name: str, kw: dict, **codec_kw) -> dict:
    """The chunked routes' ``**kw``: the batch searchers' own
    parameters (nprobe, id_col, probe_metric, and the codec's
    ``codec_kw`` with their defaults) and nothing else — refine stays
    reachable only through the ``*_refine_topk`` searchers."""
    allowed = dict(nprobe=None, id_col="vec_id", probe_metric=None, **codec_kw)
    extra = sorted(set(kw) - set(allowed))
    if extra:
        raise TypeError(f"{name}() got an unexpected keyword argument {extra[0]!r}")
    return {**allowed, **kw}


def _chunked(codec, name, index_df, ivf_codebook, queries_df, k, nprobe,
             id_col, qid_col, probe_metric, overrides,
             max_queries_per_scan) -> DataFrame:
    """Dense-qid chunks of the probe set, each answered from ONE scan,
    unioned with the original qids restored — the route past the plan
    literal budget: q/chunk scans instead of one."""
    spark = queries_df.sparkSession
    qrows = _dense_qrows(queries_df, qid_col)
    out = None
    for lo in range(0, len(qrows), max_queries_per_scan):
        chunk = qrows[lo : lo + max_queries_per_scan]
        # memo-seeded: the chunk's own batch search collects no rows
        cdf = S.literal_multi_query_frame(
            spark, [r["query_vec"] for r in chunk], qid_col
        )
        res = _batch(codec, name, index_df, ivf_codebook, cdf, k, nprobe,
                     id_col, qid_col, probe_metric, overrides)
        res = res.withColumn(qid_col, _col(qid_col) + F.lit(lo))
        out = res if out is None else out.unionByName(res)
    return out


def _refine(cand, vectors_df, query_df, k, id_col, qid_col, vec_col):
    """Exact re-rank of the candidates by round6 cosine against their
    raw vectors (FAISS ``IndexRefineFlat``): a BROADCAST join of the
    candidate ids into the vector table — never a full vector scan.
    Output (id, cos_sim) or (qid, id, cos_sim), (cos_sim desc, id asc)
    — cosine_topk's convention."""
    idq = quote_ident(id_col)
    e = vectors_df.select(
        idq, S._as_double(_col(vec_col)).alias("_v")
    )
    sim = S.round6(S.cosine(F.col("_v"), F.col("query_vec"))).alias("cos_sim")
    if qid_col is None:
        pruned = e.join(F.broadcast(cand.select(idq)), id_col, "left_semi")
        q = F.broadcast(query_df.select("query_vec"))
        scored = pruned.crossJoin(q).select(idq, sim)
        return _top_k(scored, None, (F.desc("cos_sim"), F.asc(idq)), k)
    qq = quote_ident(qid_col)
    # a row fetched by two queries is read once, scored once per query
    paired = e.join(F.broadcast(cand.select(qq, idq)), id_col)
    q = F.broadcast(query_df.select(qq, "query_vec"))
    scored = paired.join(q, qid_col).select(qq, idq, sim)
    return _top_k(scored, qq, (F.desc("cos_sim"), F.asc(idq)), k)


def search(
    codec,
    name: str,
    index_df: DataFrame,
    ivf_codebook: DataFrame | None,
    query_df: DataFrame,
    *,
    k: int = 10,
    nprobe: int | None = None,
    id_col: str = "vec_id",
    qid_col: str | None = None,
    probe_metric: str | None = None,
    overrides: DataFrame | None = None,
    max_queries_per_scan: int | None = None,
    vectors_df: DataFrame | None = None,
    vec_col: str = "embedding",
    refine_factor: int | None = None,
    refine_target_occupancy: int = 1024,
) -> DataFrame:
    """Answer ``query_df`` (one ``query_vec`` row; or, with ``qid_col``,
    a (qid, query_vec) batch with qid dense 0..q-1) from ``index_df``'s
    codes.  ``ivf_codebook=None`` scans every row (the flat searchers);
    ``overrides`` scores each overridden probed cell against its own
    book; ``max_queries_per_scan`` chunks a batch; ``vectors_df``
    re-ranks the top ``k·refine_factor`` candidates exactly.  ``name``
    is the public searcher, named in every error.

    The corpus-aware defaults, each a measured rule:

    - ``nprobe=None`` → ceil(sqrt(num_cells))
      (similarity.recommended_nprobe), so recall survives
      recommended_num_cells growing k with the corpus (ivfsq 0.55 →
      0.85 at sf1, SCALE.md §10);
    - ``probe_metric=None`` → the codec's rule: ``"l2"``, the
      ASSIGNMENT metric, for PQ and SQ (on a clustered drift corpus the
      cosine probe ranked the query's own cell 4th-of-7 — recall 0.05
      vs 0.20, SCALE.md §11), ``"cosine"`` for BQ, whose Hamming
      estimates the angle;
    - ``refine_factor=None`` → grows with cell occupancy
      (similarity.recommended_refine_factor; 1 cell for a flat scan): a
      fixed pool shrinks relative to the compressed tie mass."""
    if vectors_df is not None:
        if refine_factor is None:
            refine_factor = S.recommended_refine_factor(
                S.memoized_count(index_df),
                S.codebook_num_cells(ivf_codebook)
                if ivf_codebook is not None else 1,
                target_occupancy=refine_target_occupancy,
            )
        cand = search(
            codec, name, index_df, ivf_codebook, query_df,
            k=k * refine_factor, nprobe=nprobe, id_col=id_col,
            qid_col=qid_col, probe_metric=probe_metric, overrides=overrides,
            max_queries_per_scan=max_queries_per_scan,
        )
        return _refine(cand, vectors_df, query_df, k, id_col, qid_col, vec_col)
    if qid_col is None:
        return _single(codec, name, index_df, ivf_codebook, query_df, k,
                       nprobe, id_col, probe_metric, overrides)
    args = (codec, name, index_df, ivf_codebook, query_df, k, nprobe,
            id_col, qid_col, probe_metric, overrides)
    if max_queries_per_scan is not None:
        return _chunked(*args, max_queries_per_scan)
    return _batch(*args)
