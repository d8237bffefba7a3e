"""Similarity search over embedding columns (array<float>).

Beyond-reference operators (SURVEY §7 M6): brute-force cosine top-k as
the exactness baseline, IVF (centroid-partitioned) search as the scale
path, and cosine near-duplicate pairs.

All math is built-in expressions (`zip_with` + `aggregate` folds) —
JVM-side, no Python in the hot path.  Vectors are cast to double before
any arithmetic: both Spark and DuckDB then fold left-to-right in f64,
making results bit-identical for the oracle (outputs additionally
rounded to 6 dp via floor(x*1e6+0.5)/1e6).

Scale notes: brute-force is one scan + one top-k (no shuffle beyond the
final limit) — the right baseline for one-off queries.  For repeated
queries at 100 TB, `ivf_assign` buckets vectors by nearest centroid
(k-means-style inverted file); a query then scans only `nprobe`
buckets, i.e. partition pruning on the centroid id.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    a, b = _as_double(a), _as_double(b)
    return dot(a, b) / (norm(a) * norm(b))


def round6(c: Column) -> Column:
    """Engine-portable rounding: floor(x*1e6 + 0.5)/1e6."""
    return F.floor(c * 1e6 + F.lit(0.5)) / 1e6


def cosine_topk(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force exact top-k by cosine against a 1-row query_df with a
    `query_vec` column.  The query side is broadcast (it is one row); the
    corpus side is a single scan + TakeOrdered."""
    q = F.broadcast(query_df.select(F.col("query_vec")))
    joined = df.crossJoin(q)
    scored = joined.select(
        F.col(id_col),
        round6(cosine(F.col(vec_col), F.col("query_vec"))).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


def centroids_by_label(
    df: DataFrame, vec_col: str = "embedding", label_col: str = "label"
) -> DataFrame:
    """Per-label mean vector (the IVF codebook; labels stand in for
    k-means cells on the synthetic tables).  posexplode + groupBy —
    one shuffle keyed (label, dim), then re-assembled in dim order."""
    dims = (
        df.select(F.col(label_col), F.posexplode(_as_double(F.col(vec_col))))
        .groupBy(label_col, "pos")
        # exact decimal sum / count, not avg(): double summation order is
        # partition-dependent, which would break cross-engine determinism
        .agg(
            (
                F.sum(F.col("col").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("v")
        )
    )
    return (
        dims.groupBy(label_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("pv"))
        .select(
            label_col,
            F.transform(F.col("pv"), lambda s: s["v"]).alias("centroid"),
        )
    )


def ivf_topk(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """IVF search: pick the `nprobe` centroids nearest the query, then
    brute-force only within those cells.  At scale the cells are
    partition keys, so this is partition pruning for vector search."""
    cents = centroids_by_label(df, vec_col, label_col)
    q = F.broadcast(query_df.select("query_vec"))
    probed = (
        cents.crossJoin(q)
        .select(
            label_col,
            round6(cosine(F.col("centroid"), F.col("query_vec"))).alias("c_sim"),
        )
        .orderBy(F.desc("c_sim"), F.asc(label_col))
        .limit(nprobe)
        .select(label_col)
    )
    pruned = df.join(F.broadcast(probed), label_col)
    return cosine_topk(pruned, query_df, k=k, vec_col=vec_col, id_col=id_col)


def embedding_dup_pairs(
    df: DataFrame,
    threshold: float = 0.98,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str | None = "label",
    dim: int = 64,
) -> DataFrame:
    """Cosine near-duplicate pairs.  With `label_col`, the self-join is
    blocked per cell (the IVF trick); without one, candidates come from
    random-hyperplane LSH bucketing (`embedding_dup_pairs_lsh`) — there
    is no quadratic path."""
    if label_col is None:
        return embedding_dup_pairs_lsh(
            df, threshold=threshold, vec_col=vec_col, id_col=id_col, dim=dim
        )
    a, b = df.alias("a"), df.alias("b")
    return (
        a.join(b, label_col)
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            round6(cosine(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# IVF fit/transform: k-means codebook trained once, reused across queries
# ---------------------------------------------------------------------------


def _seed_order(id_col: str):
    # md5 of the id: pseudo-random but deterministic and SQL-expressible
    return [F.md5(F.col(id_col).cast("string")), F.col(id_col)]


# Flat-codebook ceiling: above this cell count, ivf_fit/ivf_assign
# auto-route to the two-level hierarchical path.  Rationale: the flat
# path broadcasts the whole codebook (k x d int64 quantized + float64
# rows, ~16·k·d bytes — ~100 MB at k=8192, d=768) and, during fit,
# collects k x d centroid rows to the driver once per Lloyd iteration.
# Both costs grow linearly with k, and recommended_num_cells ties k to
# the corpus size — so an un-gated flat path walks itself into a
# driver/broadcast bottleneck exactly when the corpus is large.  Below
# the ceiling the flat path is exact (global argmin) and cheap; above
# it the hierarchical path bounds every driver/broadcast artifact at
# O(sqrt(k) · d) and keeps the fine codebook a DataFrame end to end.
FLAT_CODEBOOK_MAX_CELLS = 8192


def ivf_fit(
    df: DataFrame,
    num_cells: int = 10,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Train an IVF codebook: Lloyd's k-means with deterministic
    md5-ordered seeding.  Returns (cell, centroid) — tiny (num_cells
    rows), meant to be persisted/broadcast and reused by every
    subsequent `ivf_assign`/`ivf_topk_fitted` call, unlike the per-query
    label-derived codebook of `ivf_topk`.

    Above :data:`FLAT_CODEBOOK_MAX_CELLS` this dispatches to
    :func:`ivf_fit_hierarchical` (two-level codebook, schema gains a
    `coarse`/`level` column pair) so nothing driver-materialized or
    closure/broadcast-shipped grows past O(sqrt(k) · d) — see the
    ceiling's rationale above.

    Flat-path scale shape per iteration: one Arrow assignment pass with
    the k centroids broadcast (one torrent-distributed copy per
    executor, not a per-task closure; one (n x d) @ (d x k) matmul per
    batch, no n*k row explosion, no per-vector window shuffle), then
    one (cell, dim) aggregation with exact decimal sums.  No corpus
    self-join anywhere.  The training frame is persisted across the
    iteration scans; seed cell ids are assigned on the driver from the
    collected orderBy+limit rows (k rows) — a row_number window here
    would be a global single-partition window, the one shape to never
    ship.  The per-iteration k-row driver collect is the flat path's
    ceiling-gated cost: bounded by FLAT_CODEBOOK_MAX_CELLS x d, never
    by the corpus."""
    from pyspark import StorageLevel

    if num_cells > FLAT_CODEBOOK_MAX_CELLS:
        return ivf_fit_hierarchical(df, num_cells, iters, vec_col, id_col)
    e = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    seed_rows = e.orderBy(*_seed_order(id_col)).limit(num_cells).collect()
    cents = _literal_codebook(
        df.sparkSession,
        [{"cell": i, "centroid": r["v"]} for i, r in enumerate(seed_rows)],
    )
    for _ in range(iters):
        assigned = _assign_cells(e, cents, "v", id_col)
        dims = (
            assigned.select("cell", F.posexplode("v"))
            .groupBy("cell", "pos")
            .agg(
                (
                    F.sum(F.col("col").cast("decimal(28,12)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("cv")
            )
        )
        updated = (
            dims.groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("pv"))
            .select(
                "cell", F.transform(F.col("pv"), lambda s: s["cv"]).alias("centroid")
            )
        )
        # Materialize the tiny codebook to a LITERAL frame each
        # iteration (k-means is inherently driver-coordinated): one job
        # per iteration, and downstream plans don't drag the whole
        # training lineage along for re-execution.
        cents = _literal_codebook(df.sparkSession, updated.collect())
    e.unpersist()
    return cents


def _literal_codebook(spark, rows) -> DataFrame:
    tuples = [
        (int(r["cell"]), [float(x) for x in r["centroid"]]) for r in rows
    ]
    df = spark.createDataFrame(
        tuples, schema="cell bigint, centroid array<double>"
    )
    # The rows are driver-local already: pre-seed the codebook-rows memo
    # so downstream ivf_assign/probe_cells calls on this frame never run
    # a collect job just to re-read what the fit materialized (r14:
    # each such collect was a measured ~0.35 s Spark job, and the refit
    # composites run five of them per query).
    _memo_put(_CB_ROWS_MEMO, df, tuples)
    return df


# (id(df) -> (df, payload)) memos, LRU-capped — the pq._CODEBOOK_MEMO
# pattern shared by the flat-codebook rows cache and the bounded
# query-frame rows cache.  The DataFrame reference is retained so the
# id cannot be recycled; every payload is ceiling-gated (flat codebooks
# by FLAT_CODEBOOK_MAX_CELLS, query frames by the probe-set size), so
# nothing corpus-shaped is ever memoized.
_CB_ROWS_MEMO: dict[int, tuple[DataFrame, list]] = {}
_QUERY_ROWS_MEMO: dict[int, tuple[DataFrame, list]] = {}
_ROWS_MEMO_CAP = 64

# One lock for every (id(df) -> (df, payload)) memo in the package
# (similarity, pq, sq): the refit composites mutate these from
# ThreadPoolExecutor workers, and the LRU refresh / eviction sequences
# are multi-step (r15, the r14 advice's concurrent-refit race).  The
# guarded region is driver-local dict surgery — never a Spark call —
# so contention is nanoseconds.
#
# WRITE-ONCE ASSUMPTION (r14 advice, documented): a memoized payload is
# trusted for the lifetime of its DataFrame object.  That is sound for
# every producer in this package — literal frames, write-once tmp/scratch
# parquet, and bounded model relations are never rewritten in place.  A
# caller that DOES rewrite a memoized frame's underlying files must use
# a fresh DataFrame object (a new read) to see the new bytes.
import threading as _threading

_MEMO_LOCK = _threading.Lock()


def quote_ident(name: str) -> str:
    """A column name as a backticked SQL identifier (embedded backticks
    doubled), safe to interpolate into generated SQL and to pass where
    Spark parses a column name, whatever characters the name holds."""
    return "`" + name.replace("`", "``") + "`"


def long_array_sql(vals) -> str:
    """SQL text of a literal ``array<bigint>`` — the one-string form
    every literal table of the searchers is built from, so the JVM
    parses a whole table in one round trip (r15: ``F.lit(list)``
    decomposes into per-element gateway calls — a cProfile of one
    versioned search build showed 3,137 Py4J round trips ≈ 1.05 s, over
    half of them literal-table construction).  The ``L`` suffix parses
    to the same int64s as ``F.lit``.  An empty list is a TYPED empty
    array: a bare ``array()`` is ``array<void>``."""
    body = ",".join(f"{int(v)}L" for v in vals)
    return f"array({body})" if body else "CAST(array() AS ARRAY<BIGINT>)"


def long_array_2d_sql(rows) -> str:
    """SQL text of a 2-level ``array<array<bigint>>`` literal — the
    batch searchers' ``lit[qid][code]`` tables."""
    body = ",".join(long_array_sql(r) for r in rows)
    return f"array({body})" if body else "CAST(array() AS ARRAY<ARRAY<BIGINT>>)"


def double_array_sql(vals) -> str:
    """SQL text of a literal ``array<double>``.  repr() of a float is
    the shortest string that round-trips to the same IEEE-754 double,
    and the string-to-double cast reads it correctly rounded — so the
    values are bit-identical to ``F.lit(float(v))``'s.  Quoted-string
    casts, not bare literals: a bare -0.0 would parse as DECIMAL first
    (which has no signed zero), and the cast also reads repr()'s
    ``inf``/``-inf``/``nan``."""
    body = ",".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in vals)
    return f"array({body})" if body else "CAST(array() AS ARRAY<DOUBLE>)"


def lit_double_array(vals) -> Column:
    """Literal ``array<double>`` in one round trip."""
    return F.expr(double_array_sql(vals))


def _memo_get(memo: dict, df: DataFrame):
    with _MEMO_LOCK:
        hit = memo.get(id(df))
        if hit is not None and hit[0] is df:
            memo[id(df)] = memo.pop(id(df))  # LRU refresh
            return hit[1]
    return None


def _memo_put(memo: dict, df: DataFrame, payload) -> None:
    with _MEMO_LOCK:
        while len(memo) >= _ROWS_MEMO_CAP:
            memo.pop(next(iter(memo)))
        memo[id(df)] = (df, payload)


def _collect_flat_codebook(cb: DataFrame) -> list[tuple[int, list[float]]]:
    """[(cell, centroid)] for a FLAT codebook frame, memoized per
    DataFrame object.  Bounded by FLAT_CODEBOOK_MAX_CELLS × d (the flat
    path's standing ceiling); hierarchical codebooks never route here —
    their fine level is corpus-k-sized and stays distributed."""
    rows = _memo_get(_CB_ROWS_MEMO, cb)
    if rows is None:
        rows = [
            (int(r["cell"]), [float(x) for x in r["centroid"]])
            for r in cb.select("cell", "centroid").collect()
        ]
        _memo_put(_CB_ROWS_MEMO, cb, rows)
    return rows


def collect_query_rows(query_df: DataFrame, cols: tuple[str, ...]):
    """Memoized collect of a BOUNDED query/probe frame (1-row query
    vectors, q-row batch probe sets) keyed on the DataFrame object —
    a single search composition otherwise collects the same 1-row
    frame two or three times (probe ranking, ADC table build, refine
    re-rank), one small Spark job each."""
    key = (tuple(cols),)
    cached = _memo_get(_QUERY_ROWS_MEMO, query_df)
    if cached is not None and cached[0] == key:
        return cached[1]
    rows = query_df.select(*[quote_ident(c) for c in cols]).collect()
    _memo_put(_QUERY_ROWS_MEMO, query_df, (key, rows))
    return rows


def literal_query_frame(spark, vec) -> DataFrame:
    """A 1-row (query_vec array<double>) frame built from a
    DRIVER-LOCAL vector, with the query-rows memo pre-seeded — callers
    that mint probe frames from local data (the recall ledgers) get
    job-free query collects in every downstream searcher (r14)."""
    vals = [float(x) for x in vec]
    df = spark.createDataFrame([(vals,)], "query_vec array<double>")
    from pyspark.sql import Row

    _memo_put(
        _QUERY_ROWS_MEMO,
        df,
        ((("query_vec",),), [Row(query_vec=vals)]),
    )
    return df


def literal_multi_query_frame(spark, vecs, qid_col: str = "qid") -> DataFrame:
    """A (qid, query_vec) probe frame built from DRIVER-LOCAL vectors
    (qid = list position, dense 0..q-1 as every ``*_multi_topk``
    searcher requires), with the query-rows memo pre-seeded so
    ``collect_dense_qids`` is job-free — the batch twin of
    :func:`literal_query_frame` (r15, the recall ledgers' per-family
    batched searches; the chunked batch route's chunk frames)."""
    vals = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(
        vals, f"{quote_ident(qid_col)} bigint, query_vec array<double>"
    )
    from pyspark.sql import Row

    _memo_put(
        _QUERY_ROWS_MEMO,
        df,
        (
            ((qid_col, "query_vec"),),
            [Row(**{qid_col: i, "query_vec": v}) for i, v in vals],
        ),
    )
    return df


def _probe_rank_local(
    rows: list[tuple[int, list[float]]],
    qvec: list[float],
    metric: str,
) -> list[tuple[int, list[float]]]:
    """Driver-local replica of the probe ranking over a FLAT codebook's
    collected rows — bit-exact with the SQL/expression form:

    - ``cosine``: round6(dot/(norm·norm)) with LEFT-TO-RIGHT float64
      folds (Python ``acc + x*y`` is the same IEEE op sequence as
      F.aggregate's fold and DuckDB's), desc, cell-ascending ties;
      Spark total-order semantics for the unreachable edge cases
      (NaN sorts greatest; a dim-mismatch NULL sorts last under desc).
    - ``l2``: exact int64 squared-L2 over 2^-20 quantized values
      (floor(x·2^20 + 0.5) — Python int arithmetic is exact), asc,
      cell-ascending ties; a dim-mismatch NULL sorts first under asc
      (Spark's asc-nulls-first default), mirroring the expression form.

    Returns the FULL ranked row list; callers slice [:nprobe]."""
    import math

    q = [float(x) for x in qvec]
    scored: list[tuple[int, list[float], float | int | None]] = []
    if metric == "cosine":
        nq = 0.0
        for y in q:
            nq = nq + y * y
        nq = math.sqrt(nq)
        for cell, cent in rows:
            if len(cent) != len(q):
                scored.append((cell, cent, None))
                continue
            num = 0.0
            na = 0.0
            for x, y in zip(cent, q):
                num = num + x * y
                na = na + x * x
            s = num / (math.sqrt(na) * nq)
            if not math.isnan(s):
                s = math.floor(s * 1e6 + 0.5) / 1e6
            scored.append((cell, cent, s))

        def key(t):
            s = t[2]
            if s is None:
                return (2, 0.0, t[0])  # NULL last under desc
            if math.isnan(s):
                return (0, 0.0, t[0])  # NaN greatest -> first under desc
            return (1, -s, t[0])

    elif metric == "l2":
        qq = [math.floor(x * float(_QUANT) + 0.5) for x in q]
        for cell, cent in rows:
            if len(cent) != len(q):
                scored.append((cell, cent, None))
                continue
            acc = 0
            for x, b in zip(cent, qq):
                a = math.floor(x * float(_QUANT) + 0.5)
                acc += (a - b) * (a - b)
            scored.append((cell, cent, acc))

        def key(t):
            s = t[2]
            if s is None:
                return (0, 0, t[0])  # NULL first under asc
            return (1, s, t[0])

    else:
        raise ValueError(f"probe_cells: unknown metric {metric!r}")
    scored.sort(key=key)
    return [(c, cent) for c, cent, _ in scored]


def static_prune_cells(index_df: DataFrame, cells) -> DataFrame:
    """Restrict an index frame to a driver-known probed-cell set with a
    STATIC ``cell IN (...)`` predicate.  Over a cell-partitioned
    parquet index this is PLANNING-TIME partition pruning — strictly
    stronger than the runtime DPP subquery the previous
    broadcast-join-on-probed-cells shape relied on (r14: a literal
    probed frame carries no selective filter, so Spark's DPP rule no
    longer fires; the IN-list needs no runtime subquery at all and
    shows up in the scan's PartitionFilters).  The list is bounded by
    nprobe (or q·nprobe for batch searchers) — probe-domain, never
    corpus-sized."""
    ids = sorted({int(c) for c in cells})
    return index_df.filter(F.col("cell").isin(ids))


def _assign_cells(
    e: DataFrame, cents: DataFrame, vec_field: str, id_col: str
) -> DataFrame:
    """Nearest-centroid assignment as ONE Arrow pass: the codebook is
    small (it is the *point* of IVF — and the flat path is ceiling-
    gated at FLAT_CODEBOOK_MAX_CELLS), so it ships as an explicit
    ``SparkContext.broadcast`` (the operators/bloom.py precedent: ONE
    torrent-distributed copy per executor, not a per-task closure
    copy) and each batch does a single (n x d) @ (d x k) integer
    matmul — no n*k row explosion, no per-vector window shuffle.
    Distances are exact int64 squared-L2 over 2^-20 fixed-point
    quantized values (both vectors AND centroids quantized, mirrored
    in the SQL twin), so argmin ties break identically everywhere;
    among exact ties the smallest cell id wins."""
    from pyspark.sql.functions import pandas_udf

    rows = _collect_flat_codebook(cents)
    order = np.argsort([c for c, _ in rows])
    cell_ids = np.array([rows[i][0] for i in order], dtype=np.int64)
    C = np.stack([np.asarray(rows[i][1], dtype=np.float64) for i in order])
    QC = np.floor(C * _QUANT + 0.5).astype(np.int64)  # k x d
    nc = (QC * QC).sum(axis=1)  # k
    bc = e.sparkSession.sparkContext.broadcast((cell_ids, QC, nc))

    @pandas_udf("long")
    def assign(vs: pd.Series) -> pd.Series:
        b_ids, b_qc, b_nc = bc.value
        V = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        QV = np.floor(V * _QUANT + 0.5).astype(np.int64)
        # |a-b|^2 = |a|^2 + |b|^2 - 2ab, all int64-exact
        d2 = (QV * QV).sum(axis=1)[:, None] + b_nc[None, :] - 2 * (QV @ b_qc.T)
        # argmin returns the FIRST minimum; cells are sorted ascending,
        # so exact ties resolve to the smallest cell id
        return pd.Series(b_ids[np.argmin(d2, axis=1)])

    return e.withColumn("cell", assign(F.col(vec_field)))


def _md5_order_key(ids: np.ndarray) -> list[int]:
    """Row order by (md5(str(id)), id) — the SAME deterministic
    pseudo-random order `_seed_order` expresses in SQL, computed
    locally.  Used by the hierarchical fine fit for seeding and
    fit-sampling, so local seeding follows the exact global rule."""
    import hashlib

    return sorted(
        range(len(ids)),
        key=lambda i: (
            hashlib.md5(str(int(ids[i])).encode()).hexdigest(),
            int(ids[i]),
        ),
    )


def _local_lloyd(ids: np.ndarray, V: np.ndarray, k: int, iters: int):
    """Deterministic Lloyd's k-means over ONE coarse cell's vectors,
    run entirely inside an executor task — the hierarchical fit's
    fine-level trainer.  Mirrors the global :func:`ivf_fit` rules:
    seeds are the first min(k, n) rows in (md5(str(id)), id) order,
    assignment is exact int64 squared-L2 over 2^-20 quantized vectors
    AND centroids with first-minimum (= smallest local cell id)
    tie-break, empty cells are dropped (ids of survivors stay stable).
    The one divergence: means are float64 numpy sums, not the global
    path's decimal(28,12) — the hierarchical codebook has no SQL twin
    to stay bit-identical with (it is the beyond-ceiling scale path),
    and on test-scale data with exactly-representable values the two
    agree bitwise.  Returns (local_cell_ids, centroids)."""
    seed_idx = _md5_order_key(ids)
    k = min(k, len(ids))
    local_ids = np.arange(k, dtype=np.int64)
    C = V[seed_idx[:k]].astype(np.float64)
    QV = np.floor(V * _QUANT + 0.5).astype(np.int64)
    nv = (QV * QV).sum(axis=1)
    for _ in range(iters):
        QC = np.floor(C * _QUANT + 0.5).astype(np.int64)
        nc = (QC * QC).sum(axis=1)
        d2 = nv[:, None] + nc[None, :] - 2 * (QV @ QC.T)
        # C rows are kept in ascending local-id order, so argmin's
        # first-minimum resolves exact ties to the smallest cell id
        a = np.argmin(d2, axis=1)
        live = np.unique(a)
        C = np.stack([V[a == c].sum(axis=0) / (a == c).sum() for c in live])
        local_ids = local_ids[live]
    return local_ids, C


def ivf_fit_hierarchical(
    df: DataFrame,
    num_cells: int,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    coarse_cells: int | None = None,
    fit_sample_per_cell: int = 262_144,
) -> DataFrame:
    """Two-level IVF codebook for cell counts past
    :data:`FLAT_CODEBOOK_MAX_CELLS` — the standard large-scale IVF
    answer to the flat path's driver bottleneck (recommended_num_cells
    ties k to n, so at the 100 TB design point k reaches 10^6-10^7 and
    a flat codebook would mean tens-of-GB per-iteration driver collects
    and an unshippable broadcast).

    Shape — nothing driver-materialized or broadcast grows past
    O(sqrt(k) · d):

    - COARSE level: a flat :func:`ivf_fit` with k1 = coarse_cells
      (default ceil(sqrt(num_cells))) cells.  Driver collect and
      broadcast are bounded at k1 x d.
    - FINE level: the corpus is coarse-assigned (one broadcast matmul
      pass), then each coarse cell trains its own
      ceil(num_cells / k1)-cell local Lloyd INSIDE
      ``groupBy(coarse).applyInPandas`` (:func:`_local_lloyd`) — all
      fine centroids are born distributed and stay a DataFrame; the
      driver never sees them.  Cells larger than
      ``fit_sample_per_cell`` train on their first N rows in
      deterministic (md5(id), id) order (the faiss train-on-a-sample
      convention); assignment later still covers every row.  Fit-task
      memory is bounded by coarse-cell occupancy — raise
      ``coarse_cells`` to shrink it.

    Returns a codebook DataFrame (cell, coarse, centroid, level) with
    level ∈ {'coarse','fine'}: fine rows carry the global cell id
    coarse_id * ceil(num_cells/k1) + local_id; coarse rows carry their
    own centroid for the assignment's first hop.  The fine subtree is
    persisted (MEMORY_AND_DISK) — it is k rows, the codebook itself,
    referenced by every subsequent assignment (write it to parquet to
    reuse across jobs); level-filters on the union are pruned by
    constant folding, so reading one level never scans the other.

    Assignment through this codebook (:func:`ivf_assign` dispatches on
    the `level` column) is the standard IVF approximation: exact argmin
    WITHIN the nearest coarse cell — a vector whose true nearest fine
    centroid lives in a different coarse cell gets its best in-cell
    centroid instead (same trade every two-level IVF makes)."""
    import math

    from pyspark import StorageLevel

    k1 = coarse_cells if coarse_cells is not None else max(
        1, math.ceil(math.sqrt(num_cells))
    )
    if k1 > FLAT_CODEBOOK_MAX_CELLS:
        raise ValueError(
            f"coarse_cells={k1} exceeds FLAT_CODEBOOK_MAX_CELLS="
            f"{FLAT_CODEBOOK_MAX_CELLS}; the coarse level must stay flat"
        )
    fine_per_coarse = math.ceil(num_cells / k1)
    coarse = ivf_fit(df, k1, iters, vec_col, id_col)
    e = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    tagged = _assign_cells(e, coarse, "v", id_col).withColumnRenamed(
        "cell", "coarse"
    )

    def fit_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
        order = _md5_order_key(ids)
        if len(order) > fit_sample_per_cell:
            order = order[:fit_sample_per_cell]
        ids, V = ids[order], V[order]
        # _local_lloyd re-derives the md5 seed order itself; passing the
        # sample pre-ordered only bounds WHICH rows train, not seeding
        local_ids, C = _local_lloyd(ids, V, fine_per_coarse, iters)
        coarse_id = int(pdf["coarse"].iloc[0])
        return pd.DataFrame(
            {
                "cell": coarse_id * fine_per_coarse + local_ids,
                "coarse": np.full(len(local_ids), coarse_id, dtype=np.int64),
                "centroid": [list(map(float, c)) for c in C],
            }
        )

    fine = (
        tagged.groupBy("coarse")
        .applyInPandas(fit_cell, schema="cell long, coarse long, centroid array<double>")
        .withColumn("level", F.lit("fine"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    coarse_rows = coarse.select(
        "cell",
        F.col("cell").alias("coarse"),
        "centroid",
        F.lit("coarse").alias("level"),
    )
    return fine.select("cell", "coarse", "centroid", "level").unionByName(
        coarse_rows
    )


def _assign_cells_hierarchical(
    e: DataFrame,
    codebook: DataFrame,
    vec_field: str,
    id_col: str,
    num_salts: int = 8,
) -> DataFrame:
    """Two-hop assignment through a hierarchical codebook, with the
    fine codebook staying a DataFrame end to end:

    1. Coarse hop: :func:`_assign_cells` against the (collected +
       broadcast, O(sqrt(k) · d)-bounded) coarse rows.
    2. Fine hop: a salted COGROUP — corpus rows keyed by
       (coarse, pmod(xxhash64(id), num_salts)), fine codebook rows
       replicated across the salts — so each applyInPandas group holds
       occupancy/num_salts vectors plus that coarse cell's
       fine_per_coarse centroids and runs one quantized argmin matmul.
       No per-vector window, nothing pair-shaped, no driver round trip;
       group size is bounded by salting, not by coarse occupancy.

    Output (id, vec, cell) matches the flat `_assign_cells` contract
    (cell = global fine id).  Deterministic: the salt is a pure
    function of the id and the result is salt-invariant."""
    coarse = codebook.filter(F.col("level") == "coarse").select("cell", "centroid")
    fine = codebook.filter(F.col("level") == "fine").select(
        "coarse", "cell", "centroid"
    )
    # A coarse cell can legitimately end up with ZERO fine children (no
    # training row landed in it, so fit_cell never saw its group).  For
    # the training corpus that cell also attracts no rows at assign time
    # (same codebook, same deterministic argmin), but a FRESH dataset
    # (semantic_dedup_pairs_vs new side, ivfpq_index over new data) can
    # land vectors there — and an empty cogroup right side would silently
    # drop them, breaking the one-row-per-input contract.  Restrict the
    # coarse hop to cells that HAVE fine centroids: out-of-corpus vectors
    # re-route to the nearest USABLE coarse cell (the same approximation
    # IVF already makes), and nothing vanishes.  The semi-join is over
    # two codebook-sized frames and executes inside the coarse collect.
    coarse = coarse.join(
        fine.select(F.col("coarse").alias("cell")).distinct(),
        "cell",
        "left_semi",
    )
    tagged = _assign_cells(e, coarse, vec_field, id_col).withColumnRenamed(
        "cell", "coarse"
    )
    tagged = tagged.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_salts))
    )
    # the salt MUST be long on both sides: the corpus salt is
    # pmod(xxhash64)=bigint, and an int literal here would hash-partition
    # the two cogroup children with DIFFERENT murmur3 functions (int vs
    # long), silently mis-aligning every (coarse, salt) group the moment
    # AQE stops coalescing both sides to one partition — invisible at
    # test scale, total at sf10 (found round 9; regression test pins it
    # with AQE off)
    fine_s = fine.withColumn(
        "_salt",
        F.explode(F.array(*[F.lit(i).cast("long") for i in range(num_salts)])),
    )

    def assign(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                id_col: pd.Series([], dtype="int64"),
                vec_field: pd.Series([], dtype="object"),
                "cell": pd.Series([], dtype="int64"),
            }
        )
        if len(left) == 0:
            return empty
        if len(right) == 0:
            # unreachable after the fine-less-coarse filter above; raise
            # rather than silently dropping rows if it ever regresses
            raise ValueError(
                "coarse cell "
                f"{int(left['coarse'].iloc[0]) if 'coarse' in left else '?'}"
                " has corpus rows but no fine centroids"
            )
        right = right.sort_values("cell")
        cells = right["cell"].to_numpy()
        C = np.stack([np.asarray(c, dtype=np.float64) for c in right["centroid"]])
        QC = np.floor(C * _QUANT + 0.5).astype(np.int64)
        nc = (QC * QC).sum(axis=1)
        V = np.stack([np.asarray(v, dtype=np.float64) for v in left[vec_field]])
        QV = np.floor(V * _QUANT + 0.5).astype(np.int64)
        d2 = (QV * QV).sum(axis=1)[:, None] + nc[None, :] - 2 * (QV @ QC.T)
        # centroids sorted ascending by global cell id: first-minimum
        # argmin = smallest cell id on exact ties, the global rule
        a = np.argmin(d2, axis=1)
        # vectors pass through untouched (Arrow serializes the ndarray
        # column directly — no per-element Python conversion)
        return pd.DataFrame(
            {
                id_col: left[id_col].to_numpy(),
                vec_field: left[vec_field].to_numpy(),
                "cell": cells[a],
            }
        )

    return (
        tagged.groupBy("coarse", "_salt")
        .cogroup(fine_s.groupBy("coarse", "_salt"))
        .applyInPandas(
            assign, schema=f"{id_col} long, {vec_field} array<double>, cell long"
        )
    )


def ivf_assign(
    df: DataFrame,
    codebook: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Transform step: tag every vector with its codebook cell.  At scale
    this is the one-off partitioning pass whose output is written
    bucketed by cell; queries then prune to nprobe cells.  Dispatches
    on the codebook's shape: a flat (cell, centroid) codebook takes the
    single broadcast-matmul pass; a hierarchical codebook (the `level`
    column, from :func:`ivf_fit_hierarchical`) takes the two-hop
    coarse-broadcast + salted-cogroup pass."""
    e = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    if "level" in codebook.columns:
        return _assign_cells_hierarchical(e, codebook, "v", id_col)
    return _assign_cells(e, codebook, "v", id_col)


def ivf_topk_fitted(
    assigned: DataFrame,
    codebook: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """Search with a pre-fit codebook over pre-assigned vectors: rank
    cells by cosine(query, centroid), scan only the top `nprobe` cells.
    With a hierarchical codebook only the FINE cells are ranked (the
    assignment's cell ids are fine ids); the ranking is a distributed
    top-nprobe over the codebook DataFrame, never a driver collect."""
    # probe_cells is the SAME round6-cosine-desc/cell-asc rule this
    # function previously inlined — flat codebooks rank on the driver
    # (r14); the probed cells become a STATIC IN-list predicate
    # (static_prune_cells) instead of a broadcast join
    probed = probe_cells(codebook, query_df, nprobe, "cosine")
    pruned = static_prune_cells(
        assigned, (c for c, _ in _collect_flat_codebook(probed))
    )
    return cosine_topk(pruned, query_df, k=k, vec_col="v", id_col=id_col)


def recommended_num_cells(
    n_vectors: int, target_cell_size: int = 1024
) -> int:
    """Cluster count that pins expected cell occupancy at
    ``target_cell_size`` — the SemDeDup scale rule (the paper runs
    ~100k clusters on LAION-scale corpora for the same reason the LSH
    band bits grow with log2(n)): a FIXED k means cells grow linearly
    with the corpus until they blow past max_cell_size and the cap
    silently drops them all.  k = ceil(n / target); fit cost grows as
    n·k per iteration, which stays linear in n at fixed occupancy."""
    import math

    if n_vectors <= 0:
        return 1
    return max(1, math.ceil(n_vectors / target_cell_size))


def probe_cells(
    ivf_codebook: DataFrame,
    query_df: DataFrame,
    nprobe: int,
    metric: str = "cosine",
) -> DataFrame:
    """Rank coarse cells for an IVF probe and keep the top ``nprobe``
    — returns (cell, centroid) so residual searchers can reuse the
    probed centroids.  Two rules:

    - ``"cosine"``: 6-dp-rounded cosine desc, cell-ascending ties —
      the original probe rule every oracle twin pins.  Correct for
      angle-metric families (BQ) and near-equivalent to L2 on
      centered corpora (iid noise: norms concentrate, so cosine and
      L2 rank cells identically — measured, the r10 ledger's IVF
      variants matched their flat siblings exactly at sf≤0.1).
    - ``"l2"``: exact int64 squared-L2 over 2^-20 quantized vectors
      asc, cell-ascending ties — the ASSIGNMENT metric (ivf_assign's
      rule).  MEASURED why this exists (SCALE.md §11): on a clustered
      corpus with off-center clusters, a drifted cell's centroid can
      point away from the query direction even though the query is
      L2-ASSIGNED to that very cell — the cosine probe ranked the
      query's own cell 4th-of-7 with NEGATIVE similarity and the scan
      never read the true neighbors.  L2-metric families (PQ ADC,
      SQ8) should probe with l2 on real (clustered) data; the cosine
      default stands for oracle-twin compatibility.

    FLAT codebooks (the ceiling-gated ≤ FLAT_CODEBOOK_MAX_CELLS case)
    rank on the DRIVER from the memoized collected rows — bit-exact
    local replicas of both metrics (:func:`_probe_rank_local`), zero
    Spark jobs when the codebook rows and query row are already
    memoized (r14: the ranking job plus its crossJoin subtree was pure
    per-search overhead; FAISS's coarse ranking is likewise local).
    Hierarchical codebooks keep the distributed ranking — their fine
    level is corpus-k-sized and must never be driver-collected."""
    if "level" not in ivf_codebook.columns:
        qrows = collect_query_rows(query_df, ("query_vec",))
        if len(qrows) != 1:
            raise ValueError(
                f"probe_cells: query_df must have exactly 1 row, "
                f"got {len(qrows)}"
            )
        ranked = _probe_rank_local(
            _collect_flat_codebook(ivf_codebook),
            list(qrows[0]["query_vec"]),
            metric,
        )[:nprobe]
        return _literal_codebook(
            ivf_codebook.sparkSession,
            [{"cell": c, "centroid": cent} for c, cent in ranked],
        )
    ivf_codebook = ivf_codebook.filter(F.col("level") == "fine")
    q = F.broadcast(query_df.select("query_vec"))
    j = ivf_codebook.crossJoin(q)
    if metric == "cosine":
        ordered = j.select(
            "cell",
            "centroid",
            round6(cosine(F.col("centroid"), F.col("query_vec"))).alias("_s"),
        ).orderBy(F.desc("_s"), F.asc("cell"))
    elif metric == "l2":

        def quant(c: Column) -> Column:
            return F.transform(
                _as_double(c),
                lambda x: F.floor(x * F.lit(float(_QUANT)) + 0.5).cast("long"),
            )

        d = F.aggregate(
            F.zip_with(
                quant(F.col("centroid")),
                quant(F.col("query_vec")),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        ordered = j.select("cell", "centroid", d.alias("_s")).orderBy(
            F.asc("_s"), F.asc("cell")
        )
    else:
        raise ValueError(f"probe_cells: unknown metric {metric!r}")
    return ordered.limit(nprobe).select("cell", "centroid")


def flat_multi_probe_pairs(
    ivf_codebook: DataFrame,
    queries_df: DataFrame,
    nprobe: int,
    metric: str = "l2",
    qid_col: str = "qid",
) -> list[tuple[int, int]] | None:
    """The flat-codebook batch probe, ranked on the DRIVER: (qid, cell)
    pairs via :func:`_probe_rank_local` per query — or None for a
    hierarchical codebook (corpus-k-sized fine level, must stay
    distributed).  Batch searchers use the returned pairs twice: as the
    literal (qid, cell) join frame AND as the static probed-cell
    IN-list for planning-time partition pruning (r14)."""
    if "level" in ivf_codebook.columns:
        return None
    rows = _collect_flat_codebook(ivf_codebook)
    qrows = collect_query_rows(queries_df, (qid_col, "query_vec"))
    out: list[tuple[int, int]] = []
    for r in qrows:
        ranked = _probe_rank_local(rows, list(r["query_vec"]), metric)[:nprobe]
        out.extend((int(r[qid_col]), c) for c, _ in ranked)
    return out


def multi_probe_cells(
    ivf_codebook: DataFrame,
    queries_df: DataFrame,
    nprobe: int,
    metric: str = "l2",
    qid_col: str = "qid",
) -> DataFrame:
    """(qid, cell) — :func:`probe_cells` batched over a bounded probe
    set: ONE codebook × queries crossJoin (cells × q rows, both
    bounded), per-qid ranking by the metric, ``row_number ≤ nprobe``.
    The shared probe stage of every ``*_multi_topk`` searcher (PQ, SQ,
    BQ) — one relation instead of q probe jobs.  Metrics mirror
    probe_cells exactly: ``"l2"`` = exact quantized squared-L2 asc
    (the assignment metric, the L2-family production default),
    ``"cosine"`` = round6 cosine desc; cell-ascending ties both.

    FLAT codebooks rank locally per qid (:func:`_probe_rank_local` —
    the probe_cells r14 rule; the row_number-over-window ranking of a
    bounded q × cells frame was a pure-overhead shuffle job) and
    return a literal (qid, cell) frame; hierarchical codebooks keep
    the distributed ranking — their fine level is corpus-k-sized."""
    from pyspark.sql import Window

    pairs = flat_multi_probe_pairs(
        ivf_codebook, queries_df, nprobe, metric, qid_col
    )
    if pairs is not None:
        return ivf_codebook.sparkSession.createDataFrame(
            pairs, schema=f"{quote_ident(qid_col)} bigint, cell bigint"
        )
    ivf_codebook = ivf_codebook.filter(F.col("level") == "fine")
    qq = quote_ident(qid_col)
    q = F.broadcast(queries_df.select(qq, "query_vec"))
    joined = ivf_codebook.crossJoin(q)
    if metric == "cosine":
        scored = joined.select(
            qq,
            "cell",
            round6(cosine(F.col("centroid"), F.col("query_vec"))).alias("_s"),
        )
        wp = Window.partitionBy(qq).orderBy(F.desc("_s"), F.asc("cell"))
    elif metric == "l2":

        def _quant(c: Column) -> Column:
            return F.transform(
                _as_double(c),
                lambda x: F.floor(x * F.lit(float(_QUANT)) + 0.5).cast("long"),
            )

        d = F.aggregate(
            F.zip_with(
                _quant(F.col("centroid")),
                _quant(F.col("query_vec")),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        scored = joined.select(qq, "cell", d.alias("_s"))
        wp = Window.partitionBy(qq).orderBy(F.asc("_s"), F.asc("cell"))
    else:
        raise ValueError(f"multi_probe_cells: unknown metric {metric!r}")
    return (
        scored.withColumn("_rn", F.row_number().over(wp))
        .filter(F.col("_rn") <= nprobe)
        .select(qq, "cell")
    )


def collect_dense_qids(queries_df: DataFrame, qid_col: str = "qid"):
    """Collect a bounded (qid, query_vec) probe set and validate qids
    are DENSE 0..q-1 (literal probe tables are indexed by qid) —
    the shared head of every ``*_multi_topk`` searcher.  Memoized per
    frame object (collect_query_rows), so the probe-ranking stage and
    the literal-table build share ONE collect job."""
    qrows = collect_query_rows(queries_df, (qid_col, "query_vec"))
    if not qrows:
        raise ValueError("multi_topk: queries_df is empty")
    qids = sorted(int(r[qid_col]) for r in qrows)
    if qids != list(range(len(qids))):
        raise ValueError(
            f"multi_topk: {qid_col} must be dense 0..q-1, got {qids}"
        )
    return qrows


# (id(codebook) -> (codebook, fine-cell count)) memo, LRU-capped like
# pq._CODEBOOK_MEMO: every nprobe=None search sizes its probe from the
# codebook's cell count, and without the memo each repeated
# single-query search over an UNCACHED fitted codebook (a plain
# parquet read) pays a fresh count() scan job just to size the probe
# (r11 advice).  The DataFrame reference is retained so the id cannot
# be recycled.
_CELL_COUNT_MEMO: dict[int, tuple[DataFrame, int]] = {}
_CELL_COUNT_MEMO_CAP = 64


def codebook_num_cells(codebook: DataFrame) -> int:
    """Number of (fine) cells in a coarse IVF codebook — hierarchical
    codebooks count only their ``level == "fine"`` rows, since those
    are the assignment/probe domain.  Memoized per codebook DataFrame
    OBJECT (key on the frame you reuse across searches), so a session
    answering many nprobe=None queries against one fitted codebook
    runs the sizing count once, not once per query.

    STALENESS CONTRACT: the memo keys on the DataFrame object, not on
    the data underneath it.  If the frame's backing path is mutated in
    place (rewrite_index_cells, append_to_index, a streaming append),
    either re-read the path into a NEW DataFrame — the maintained-index
    examples all do — or call :func:`invalidate_memoized_counts` on the
    reused frame before the next auto-sized search (r12 advice)."""
    hit = _CELL_COUNT_MEMO.get(id(codebook))
    if hit is not None and hit[0] is codebook:
        _CELL_COUNT_MEMO[id(codebook)] = _CELL_COUNT_MEMO.pop(id(codebook))
        return hit[1]
    cb = codebook
    if "level" in cb.columns:
        cb = cb.filter(F.col("level") == "fine")
    n = cb.count()
    while len(_CELL_COUNT_MEMO) >= _CELL_COUNT_MEMO_CAP:
        _CELL_COUNT_MEMO.pop(next(iter(_CELL_COUNT_MEMO)))
    _CELL_COUNT_MEMO[id(codebook)] = (codebook, n)
    return n


_COUNT_MEMO: dict[int, tuple[DataFrame, int]] = {}


def memoized_count(df: DataFrame) -> int:
    """Memoized ``df.count()`` keyed on the DataFrame OBJECT — the
    codebook_num_cells pattern for arbitrary relations: sizing knobs
    that need a row count once per reused frame (refine-factor sizing
    counts the index) shouldn't pay a fresh count job per search.
    Separate store from the codebook memo (that one counts FINE rows
    only, so the same object could legally carry two counts)."""
    hit = _COUNT_MEMO.get(id(df))
    if hit is not None and hit[0] is df:
        _COUNT_MEMO[id(df)] = _COUNT_MEMO.pop(id(df))
        return hit[1]
    n = df.count()
    while len(_COUNT_MEMO) >= _CELL_COUNT_MEMO_CAP:
        _COUNT_MEMO.pop(next(iter(_COUNT_MEMO)))
    _COUNT_MEMO[id(df)] = (df, n)
    return n


def seed_memoized_count(df: DataFrame, n: int) -> None:
    """Pre-seed :func:`memoized_count` for a frame whose row count the
    caller already knows from the SAME query's computation — e.g. a
    1:1-encoded index written and read back within one composite, whose
    row count equals the already-materialized assignment pass's count.
    Skips the sizing count job (one Spark job per auto-rf search).
    Same-run reuse only: callers must derive ``n`` inside the same
    query execution, never from a previous run or persisted artifact."""
    while len(_COUNT_MEMO) >= _CELL_COUNT_MEMO_CAP:
        _COUNT_MEMO.pop(next(iter(_COUNT_MEMO)))
    _COUNT_MEMO[id(df)] = (df, int(n))


def invalidate_memoized_counts(df: DataFrame | None = None) -> None:
    """Evict ``df`` from both sizing memos (codebook_num_cells,
    memoized_count), or clear them entirely when ``df`` is None — the
    escape hatch for callers that mutate a frame's backing path in
    place (rewrite_index_cells, append_to_index, streaming appends) and
    then REUSE the same DataFrame object for an auto-sized search.
    Without this, nprobe / refine-factor sizing would silently use the
    pre-mutation count (r12 advice).  Re-reading the path into a fresh
    DataFrame makes this unnecessary; the helper exists for the reuse
    pattern."""
    if df is None:
        _CELL_COUNT_MEMO.clear()
        _COUNT_MEMO.clear()
        return
    _CELL_COUNT_MEMO.pop(id(df), None)
    _COUNT_MEMO.pop(id(df), None)


def recommended_nprobe(
    num_cells: int,
    min_nprobe: int = 1,
    worst_case_recall: float | None = None,
) -> int:
    """Probe count that grows with the cell count —
    ceil(sqrt(num_cells)), FAISS's standard nprobe starting heuristic
    for IVF indexes — so search recall survives the corpus-aware cell
    sizing instead of silently decaying as :func:`recommended_num_cells`
    grows k with n.  Passing ``nprobe=None`` to ivfpq_topk /
    ivfsq_topk / ivfbq_topk / ivfbq_refine_topk routes through this.

    What the recall ledger measured about this knob (SCALE.md §10-11):

    - On CLUSTERED corpora — the corpus shape IVF exists for — probe
      loss is small at any tested scale: at 600k rows / 586 cells the
      IVF variants matched their flat siblings at nprobe=4 (ivfsq 0.8
      = flat sq8 0.8).  ceil(sqrt(.)) is pure headroom there, and
      probed-row work stays ~sqrt(k)·occupancy = O(n/sqrt(k)).
    - On IID-NOISE corpora the exact neighbors are uniform over cells
      (distance concentration), so expected recall ≈ nprobe/num_cells
      and NO sublinear rule can hold recall — measured: 20k rows / 20
      cells read 0.55 at nprobe=4 and 0.85 at nprobe=16 (=80% of
      cells); 600k rows / 586 cells read 0.325 even at the sqrt rule's
      25 probes.  That is the corpus telling you IVF pruning has
      nothing to prune on — not a knob mis-set.

    ``worst_case_recall`` makes the uniform-cell bound explicit:
    nprobe is raised to ceil(worst_case_recall · num_cells), the probe
    count that achieves the target recall even on the iid adversary
    (0.8 · 20 = 16 — exactly the measured recovery point).  Leave it
    None for structured corpora; setting it trades away sublinearity
    by construction, which is the honest price of noise."""
    import math

    if num_cells <= 0:
        return max(1, min_nprobe)
    base = math.isqrt(num_cells - 1) + 1  # ceil(sqrt(num_cells))
    if worst_case_recall is not None:
        if not 0.0 < worst_case_recall <= 1.0:
            raise ValueError(
                f"worst_case_recall must be in (0, 1], got {worst_case_recall}"
            )
        base = max(base, math.ceil(worst_case_recall * num_cells))
    return max(min_nprobe, min(base, num_cells))


def recommended_refine_factor(
    n_vectors: int,
    num_cells: int,
    base: int = 4,
    target_occupancy: int = 1024,
    max_factor: int = 256,
) -> int:
    """Refine-stage candidate multiplier that GROWS with cell
    occupancy — the fourth application of the corpus-aware sizing
    precedent (band_bits, num_cells, nprobe).  The refine stage
    re-ranks the top ``k·rf`` ADC candidates exactly; for the true
    top-k to survive the compressed stage, the candidate pool must
    scale with the number of ADC-indistinguishable rows, which grows
    with occupancy at a fixed code budget.  MEASURED why (SCALE.md
    §11): clustered residual recall fell 0.4 → 0.175 as occupancy grew
    937 → 9,375 rows while a fixed rf=4 refine held the composition at
    0.525 — a fixed rf is borrowed time, the pool it buys shrinks
    relative to the tie mass.

    Rule: ``rf = base`` up to ``target_occupancy`` (the
    recommended_num_cells design point, where base is known-good),
    then ``base · ceil(sqrt(occupancy / target_occupancy))`` — the
    square-root compromise (exact-rerank cost grows as sqrt of the
    occupancy overshoot, not linearly), capped at ``max_factor``.
    Exact recall is monotone in rf (the re-rank is exact over a
    superset), so auto-sizing can only match or beat the fixed knob.
    ``refine_factor=None`` in ivfpq_refine_topk / ivfbq_refine_topk
    routes through this."""
    import math

    if n_vectors <= 0 or num_cells <= 0:
        return base
    occ = n_vectors / num_cells
    grow = (
        math.ceil(math.sqrt(occ / target_occupancy))
        if occ > target_occupancy
        else 1
    )
    return max(base, min(base * grow, max_factor))


def semantic_dedup_pairs(
    df: DataFrame,
    num_cells: int | None = None,
    iters: int = 2,
    threshold: float = 0.98,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    max_cell_size: int = 10_000,
    codebook: DataFrame | None = None,
    n_vectors: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding space, then compare
    pairs ONLY within a cluster — the clustering replaces LSH banding as
    the candidate generator, catching "same meaning, different words"
    duplicates that shingle/minhash dedup cannot see.

    Returns (id_a, id_b, cell, cos_sim) with id_a < id_b and cos_sim =
    the exact 6-dp quantized cosine (make_pair_qcosine_udf) >=
    ``threshold``.

    Scale shape: the codebook comes from :func:`ivf_fit` (pass
    ``codebook=`` to reuse one across calls — the SemDeDup paper fits
    once per corpus version): a literal k-row frame below
    FLAT_CODEBOOK_MAX_CELLS, auto-routed to the two-level
    :func:`ivf_fit_hierarchical` above it so nothing driver-side or
    broadcast grows past O(sqrt(k) · d) even though
    recommended_num_cells ties k to n; assignment is the broadcast
    matmul (or two-hop cogroup) pass of :func:`ivf_assign`; the
    per-cell self-join is an equi-join
    on `cell` whose fan-out is bounded by cell occupancy — at 100 TB
    you raise ``num_cells`` so cells stay batch-sized (the paper uses
    ~100k clusters for LAION-scale corpora), and ``max_cell_size``
    guards the degenerate-clustering case the same way the LSH bucket
    caps do (a group-size check inside the per-cell verifier; capped
    cells are skipped, not sampled).  Like embedding_dup_pairs_lsh,
    verification is per-GROUP, not per-pair: each cell flows through
    applyInPandas and runs blocked int64 Gram matmuls (_gram_pairs —
    bit-identical to pairwise qcosine, block-bounded memory since
    cells can be far larger than LSH buckets), so vectors move once
    per row and nothing pair-shaped is ever shuffled.  Nothing is
    persisted: the assignment subtree is one cheap matmul, and
    persisting a corpus-sized frame is itself the scale hazard
    (measured trade-off, SCALE.md §5-6).

    ``num_cells=None`` (the default) sizes the cluster count from the
    corpus via :func:`recommended_num_cells`, pinning expected cell
    occupancy regardless of n — a FIXED k on a growing corpus would
    eventually push every cell past ``max_cell_size`` and the cap
    would silently drop them all.  Pass ``n_vectors`` to skip the
    sizing count, or an explicit ``num_cells`` for a fully static
    configuration (the oracle registry does)."""
    if codebook is None:
        if num_cells is None:
            n = n_vectors if n_vectors is not None else df.count()
            num_cells = recommended_num_cells(n)
        codebook = ivf_fit(df, num_cells, iters, vec_col, id_col)
    assigned = ivf_assign(df, codebook, vec_col, id_col)

    def verify(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id_a": pd.Series([], dtype="int64"),
                "id_b": pd.Series([], dtype="int64"),
                "cell": pd.Series([], dtype="int64"),
                "cos_sim": pd.Series([], dtype="float64"),
            }
        )
        m = len(pdf)
        if m < 2 or m > max_cell_size:
            return empty
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
        id_a, id_b, cos6 = _gram_pairs(ids, V, threshold)
        return pd.DataFrame(
            {
                "id_a": id_a,
                "id_b": id_b,
                "cell": np.full(len(id_a), pdf["cell"].iloc[0], dtype=np.int64),
                "cos_sim": cos6,
            }
        )

    return assigned.groupBy("cell").applyInPandas(
        verify, schema="id_a long, id_b long, cell long, cos_sim double"
    )


def semantic_dedup(
    df: DataFrame,
    num_cells: int | None = None,
    iters: int = 2,
    threshold: float = 0.98,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    max_cell_size: int = 10_000,
    codebook: DataFrame | None = None,
    n_vectors: int | None = None,
) -> DataFrame:
    """Survivors of SemDeDup: one representative per semantic
    near-duplicate group, chosen by the deterministic min-id rule — a
    vector is dropped iff a SMALLER-id vector in its cell sits within
    the cosine threshold (i.e. it appears as id_b in
    :func:`semantic_dedup_pairs`).  Greedy-local like the paper's
    keep-one-per-cluster-neighborhood rule, not transitive-closure:
    pipe the pairs through graph.connected_components +
    dedup_representatives when full CC semantics are wanted.  Returns
    (id, cell) survivors; one AQE-decided left-anti join off the
    verified pairs."""
    if codebook is None:
        if num_cells is None:
            n = n_vectors if n_vectors is not None else df.count()
            num_cells = recommended_num_cells(n)
        codebook = ivf_fit(df, num_cells, iters, vec_col, id_col)
    pairs = semantic_dedup_pairs(
        df, num_cells, iters, threshold, vec_col, id_col, dim,
        max_cell_size, codebook,
    )
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    assigned = ivf_assign(df, codebook, vec_col, id_col)
    return assigned.join(dropped, id_col, "left_anti").select(id_col, "cell")


def semantic_dedup_pairs_vs(
    new: DataFrame,
    corpus: DataFrame,
    num_cells: int | None = None,
    iters: int = 2,
    threshold: float = 0.98,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    max_cell_size: int = 10_000,
    codebook: DataFrame | None = None,
    n_vectors: int | None = None,
) -> DataFrame:
    """Cross-corpus SemDeDup: every NEW vector vs an EXISTING corpus —
    the embedding-space twin of dedup.minhash_lsh_pairs_vs (crawl-wave
    screening against the accumulated corpus, without re-pairing the
    corpus against itself).  The codebook is fit on the CORPUS (the
    reference distribution; pass ``codebook=`` to amortize one fit
    across many waves — the index-persistence story of
    build_minhash_index), both sides are assigned with the same
    one-matmul pass, and each cell runs ONE blocked new x corpus Gram
    matmul inside applyInPandas — nothing pair-shaped is shuffled,
    same as the self-join variants (SCALE.md §6.2).  Ids are assumed
    distinct across the two frames.  Returns (id_a = new id, id_b =
    corpus id, cell, cos_sim >= threshold), 6-dp floor-rounded.
    The ``max_cell_size`` cap applies to the CORPUS side of a cell
    (mirroring the minhash corpus-side cap: a giant corpus cell is a
    degenerate cluster; capping the wave side would cost recall
    without bounding anything)."""
    if codebook is None:
        if num_cells is None:
            n = n_vectors if n_vectors is not None else corpus.count()
            num_cells = recommended_num_cells(n)
        codebook = ivf_fit(corpus, num_cells, iters, vec_col, id_col)
    tagged = ivf_assign(new, codebook, vec_col, id_col).withColumn(
        "_side", F.lit("n")
    ).unionByName(
        ivf_assign(corpus, codebook, vec_col, id_col).withColumn(
            "_side", F.lit("c")
        )
    )

    def verify(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id_a": pd.Series([], dtype="int64"),
                "id_b": pd.Series([], dtype="int64"),
                "cell": pd.Series([], dtype="int64"),
                "cos_sim": pd.Series([], dtype="float64"),
            }
        )
        nn = pdf[pdf["_side"] == "n"]
        cc = pdf[pdf["_side"] == "c"]
        if len(nn) == 0 or len(cc) == 0 or len(cc) > max_cell_size:
            return empty
        ids_n = nn[id_col].to_numpy()
        ids_c = cc[id_col].to_numpy()
        VN = np.stack([np.asarray(v, dtype=np.float64) for v in nn["v"]])
        VC = np.stack([np.asarray(v, dtype=np.float64) for v in cc["v"]])
        QN = np.floor(VN * _QUANT + 0.5).astype(np.int64)
        QC = np.floor(VC * _QUANT + 0.5).astype(np.int64)
        nrm_n = np.sqrt((QN * QN).sum(axis=1).astype(np.float64))
        nrm_c = np.sqrt((QC * QC).sum(axis=1).astype(np.float64))
        out_a, out_b, out_c = [], [], []
        block = 2048
        for s in range(0, len(ids_n), block):
            e = min(s + block, len(ids_n))
            G = QN[s:e] @ QC.T
            cos = G.astype(np.float64) / (nrm_n[s:e, None] * nrm_c[None, :])
            cos6 = np.floor(cos * 1e6 + 0.5) / 1e6
            rows, cols = np.nonzero(cos6 >= threshold)
            out_a.append(ids_n[rows + s])
            out_b.append(ids_c[cols])
            out_c.append(cos6[rows, cols])
        id_a = np.concatenate(out_a) if out_a else np.array([], dtype=np.int64)
        id_b = np.concatenate(out_b) if out_b else np.array([], dtype=np.int64)
        c6 = np.concatenate(out_c) if out_c else np.array([], dtype=np.float64)
        return pd.DataFrame(
            {
                "id_a": id_a,
                "id_b": id_b,
                "cell": np.full(len(id_a), pdf["cell"].iloc[0], dtype=np.int64),
                "cos_sim": c6,
            }
        )

    return tagged.groupBy("cell").applyInPandas(
        verify, schema="id_a long, id_b long, cell long, cos_sim double"
    )


def semantic_dedup_vs(
    new: DataFrame,
    corpus: DataFrame,
    num_cells: int | None = None,
    iters: int = 2,
    threshold: float = 0.98,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    max_cell_size: int = 10_000,
    codebook: DataFrame | None = None,
    n_vectors: int | None = None,
) -> DataFrame:
    """Survivors of cross-corpus SemDeDup: NEW rows whose vector
    semantically duplicates nothing in the existing corpus.  One
    AQE-decided left-anti join off the verified pairs (the corpus side
    always wins — no connected components needed, same rule as
    dedup.dedup_against_corpus)."""
    pairs = semantic_dedup_pairs_vs(
        new, corpus, num_cells, iters, threshold, vec_col, id_col, dim,
        max_cell_size, codebook, n_vectors,
    )
    dropped = pairs.select(F.col("id_a").alias(id_col)).distinct()
    return new.join(dropped, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Random-hyperplane (sign-bit) LSH — the label-free scale path
# ---------------------------------------------------------------------------

_QUANT = 1 << 20  # fixed-point scale for exact integer sign computation


def hyperplane_coeffs(num_planes: int, dim: int) -> list[list[int]]:
    """Deterministic integer hyperplane coefficients in [-1000, 1000]:
    c[j][i] = (int(md5("hp:j:i")[:8 hex], 16) % 2001) - 1000.  md5-seeded
    (independent pseudo-random planes, unlike an LCG ramp) and shared
    verbatim with the DuckDB oracle, like text.minhash_coeffs."""
    import hashlib

    return [
        [
            (int(hashlib.md5(f"hp:{j}:{i}".encode()).hexdigest()[:8], 16) % 2001)
            - 1000
            for i in range(dim)
        ]
        for j in range(num_planes)
    ]


def make_pair_qcosine_udf(dim: int):
    """(vec_a, vec_b) -> cosine of the 2^-20 fixed-point quantized
    vectors, rounded to 6 dp.  Quantized dot/norms are EXACT int64 sums
    (order-independent — no float fold-order hazard), so the numpy
    batch computation is bit-identical to the SQL twin while being
    Arrow-vectorized (~100 ns/pair vs ~35 us/pair for the interpreted
    higher-order-function cosine).  Quantization error vs true cosine is
    < 2e-6 — irrelevant against a near-dup threshold."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def qcos(va: pd.Series, vb: pd.Series) -> pd.Series:
        A = np.stack([np.asarray(v, dtype=np.float64) for v in va])
        B = np.stack([np.asarray(v, dtype=np.float64) for v in vb])
        QA = np.floor(A * _QUANT + 0.5).astype(np.int64)
        QB = np.floor(B * _QUANT + 0.5).astype(np.int64)
        dot = (QA * QB).sum(axis=1).astype(np.float64)
        na = (QA * QA).sum(axis=1).astype(np.float64)
        nb = (QB * QB).sum(axis=1).astype(np.float64)
        cos = dot / (np.sqrt(na) * np.sqrt(nb))
        return pd.Series(np.floor(cos * 1e6 + 0.5) / 1e6)

    return qcos


def make_hyperplane_bands_udf(num_planes: int, num_bands: int, dim: int):
    """vec -> LSH band keys (array<string>).  Arrow-vectorized: quantize
    to fixed point, integer matmul against the hyperplane matrix (exact —
    no float fold-order hazards), sign bits, then r-bit band keys.
    Per-batch cost is one (n x dim) @ (dim x planes) int64 matmul."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(hyperplane_coeffs(num_planes, dim), dtype=np.int64).T  # d x H
    rows = num_planes // num_bands

    @pandas_udf("array<string>")
    def bands(vecs: pd.Series) -> pd.Series:
        out = []
        for v in vecs:
            if v is None or len(v) != dim:
                out.append([])
                continue
            q = np.floor(
                np.asarray(v, dtype=np.float64) * _QUANT + 0.5
            ).astype(np.int64)
            bits = (q @ C) >= 0  # H sign bits, exact integer dot
            out.append(
                [
                    f"{b}:" + "".join("1" if x else "0" for x in bits[b * rows : (b + 1) * rows])
                    for b in range(num_bands)
                ]
            )
        return pd.Series(out)

    return bands


def recommended_band_bits(
    n_vectors: int,
    num_bands: int = 4,
    target_bucket_size: int = 200,
    threshold: float = 0.98,
) -> int:
    """Size the sign-bit band width for a corpus of ``n_vectors``.

    With r bits per band, random (near-orthogonal) vectors spread over
    ~2^r buckets per band, so expected occupancy is n / 2^r.  A FIXED r
    (the 8-bit default) saturates as n grows — bucket occupancy, and
    with it the exact-verify candidate count, rises linearly; the sf1.0
    scale rehearsal measured exactly this (SCALE.md: 4.7× wall at 10×
    rows, the worst ratio in the suite).  The scale-correct setting
    grows r with log2(n):

        r = ceil(log2(n * num_bands / target_bucket_size))

    which pins expected occupancy at target_bucket_size regardless of
    corpus size, making candidate generation O(n · target) instead of
    O(n²/2^r).  The recall cost is bounded: each extra bit multiplies a
    band's hit probability by p_bit = 1 - acos(threshold)/π (0.936 at
    0.98), so going 8 → 20 bits keeps per-band recall within
    0.936^12 ≈ 0.45, recovered by raising num_bands (each band is an
    independent chance; 8 bands at 20 bits ≈ the 4-band/8-bit recall
    at three orders of magnitude more vectors).  Returns at least 8
    bits; pass the result as num_planes = r * num_bands."""
    import math

    if n_vectors <= 0:
        return 8
    r = math.ceil(math.log2(max(2.0, n_vectors * num_bands / target_bucket_size)))
    return max(8, r)


def recommended_num_bands(
    band_bits: int,
    threshold: float = 0.98,
    target_recall: float = 0.9,
    min_bands: int = 4,
) -> int:
    """Band count that recovers the recall wider bands cost.

    Each band is an independent chance to catch a pair: a θ-cosine pair
    matches one r-bit band with p = p_bit^r (p_bit = 1 - acos(θ)/π), so
    b bands give recall 1 - (1-p)^b; solving for the target gives
    b = ln(1 - target) / ln(1 - p_bit^r).  Anchored at the 0.98
    NEAR-duplicate design point (pass `threshold` to re-anchor) — NOT
    at whatever runtime threshold the caller filters by: banded LSH is
    a near-dup detector, and sizing bands to chase recall at a loose
    range threshold (say 0.3) would explode the plane count for a
    query class ann/ivf search serves better.  At the 8-bit floor this
    returns the historical 4-band default (p = 0.936⁸ → b = 3.4 → 4),
    so small-corpus behavior is unchanged; at 20 bits it returns 8."""
    import math

    p = (1.0 - math.acos(threshold) / math.pi) ** band_bits
    if p >= 1.0:
        return min_bands
    b = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p))
    return max(min_bands, b)


def _gram_pairs(
    ids: np.ndarray, V: np.ndarray, threshold: float, block: int = 2048
):
    """All (i < j) pairs of rows of V whose 6-dp quantized cosine is at
    or above ``threshold``, via BLOCKED int64 Gram matmuls: Q[s:e] @ Q.T
    one row-block at a time, so peak memory is block x m doubles
    regardless of group size.  Arithmetic is element-for-element the
    per-pair make_pair_qcosine_udf computation (exact integer dots,
    float64 division, floor 6-dp) — bit-identical results.  ``ids``
    must be ascending so emitted pairs satisfy id_a < id_b.  Returns
    (id_a, id_b, cos6) numpy arrays."""
    m = len(ids)
    Q = np.floor(V * _QUANT + 0.5).astype(np.int64)
    sq = (Q * Q).sum(axis=1)
    nrm = np.sqrt(sq.astype(np.float64))
    out_a, out_b, out_c = [], [], []
    for s in range(0, m, block):
        e = min(s + block, m)
        G = Q[s:e] @ Q.T  # (e-s, m) exact int64 dots
        cos = G.astype(np.float64) / (nrm[s:e, None] * nrm[None, :])
        cos6 = np.floor(cos * 1e6 + 0.5) / 1e6
        rows, cols = np.nonzero(cos6 >= threshold)
        keep = cols > rows + s  # strict upper triangle in global indices
        rows, cols = rows[keep], cols[keep]
        out_a.append(ids[rows + s])
        out_b.append(ids[cols])
        out_c.append(cos6[rows, cols])
    if not out_a:
        z = np.array([], dtype=np.int64)
        return z, z, np.array([], dtype=np.float64)
    return np.concatenate(out_a), np.concatenate(out_b), np.concatenate(out_c)


def make_bucket_verify_udf(
    id_col: str, vec_col: str, threshold: float, max_bucket_size: int
):
    """Per-bucket verifier for applyInPandas over band groups: ONE
    intra-bucket int64 Gram matmul replaces per-pair cosine evaluation.
    Emits (id_a < id_b, cos_sim) for pairs at/above the threshold;
    buckets over ``max_bucket_size`` are dropped whole (the degenerate
    near-dup-cluster cap, same rule the window-cap plan applied).

    Exactness: the Gram matrix Q@Q.T contains the SAME int64 quantized
    dot products make_pair_qcosine_udf computes pairwise, and the
    cosine/rounding arithmetic is element-for-element identical
    (float64 division of exact integers, floor 6-dp) — so the switch
    from per-pair to per-bucket evaluation is bit-invisible to the SQL
    oracle."""

    def verify(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id_a": pd.Series([], dtype="int64"),
                "id_b": pd.Series([], dtype="int64"),
                "cos_sim": pd.Series([], dtype="float64"),
            }
        )
        m = len(pdf)
        if m < 2 or m > max_bucket_size:
            return empty
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        id_a, id_b, cos6 = _gram_pairs(ids, V, threshold)
        return pd.DataFrame({"id_a": id_a, "id_b": id_b, "cos_sim": cos6})

    return verify


def embedding_lsh_bucket_stats(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 32,
    num_bands: int = 4,
    max_bucket_size: int = 1000,
    dim: int = 64,
) -> DataFrame:
    """Cap ledger for :func:`embedding_dup_pairs_lsh` (SCALE.md "no
    silent caps"): the same hyperplane banding, one aggregate —
    (n_buckets, n_capped_buckets, capped_row_mass).  The bucket
    verifier returns empty for over-cap bands with no trace; run this
    (one extra agg over the banded frame) when the recall ledger
    matters.  A nonzero counter means a degenerate near-identical
    cluster bigger than the cap — raise ``max_bucket_size``, or raise
    ``num_planes`` so bands split it."""
    from img2dataset_spark.operators.dedup import capped_bucket_stats

    bands_udf = make_hyperplane_bands_udf(num_planes, num_bands, dim)
    banded = df.select(
        F.explode(bands_udf(F.col(vec_col))).alias("band")
    )
    return capped_bucket_stats(banded, ["band"], max_bucket_size)


def semantic_dedup_cell_stats(
    df: DataFrame,
    codebook: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cell_size: int = 10_000,
) -> DataFrame:
    """Cap ledger for :func:`semantic_dedup_pairs` /
    :func:`semantic_dedup_pairs_vs`: the same cell assignment, one
    aggregate — (n_buckets, n_capped_buckets, capped_row_mass) where a
    "bucket" is a k-means cell.  A nonzero counter means clustering
    degenerated (cells past ``max_cell_size`` are skipped whole by the
    per-cell Gram verifier); the fix is more cells —
    recommended_num_cells pins occupancy exactly so this stays zero."""
    from img2dataset_spark.operators.dedup import capped_bucket_stats

    assigned = ivf_assign(df, codebook, vec_col, id_col)
    return capped_bucket_stats(assigned, ["cell"], max_cell_size)


def embedding_dup_pairs_lsh(
    df: DataFrame,
    threshold: float = 0.98,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int | None = None,
    num_bands: int = 4,
    max_bucket_size: int = 1000,
    dim: int = 64,
    n_vectors: int | None = None,
) -> DataFrame:
    """Label-free cosine near-duplicate pairs: random-hyperplane sign-bit
    signatures, banded into `num_bands` keys; candidates share a band
    (bucket join on high-cardinality keys, degenerate buckets capped —
    the same 100TB shape as dedup.minhash_lsh_pairs); exact cosine
    verification last.  No crossJoin anywhere in the plan.

    Band sizing is the scale axis: a FIXED band width saturates as the
    corpus grows (candidate pairs ∝ n²/2^r — the sf3 rehearsal measured
    28.2× wall at 30× rows for 8-bit bands, SCALE.md), so by DEFAULT
    (``num_planes=None``) the band width is derived from the corpus
    size via :func:`recommended_band_bits` — pinning expected bucket
    occupancy at a constant regardless of n.  Pass ``n_vectors`` to
    skip the sizing ``df.count()`` (e.g. a catalog row-count estimate);
    pass an explicit ``num_planes`` for a fully static configuration
    (the oracle registry does, so a static SQL twin can mirror the
    hyperplane set).

    At the 8-bit floor (n ≲ 100k at the default target occupancy) a
    random pair collides with p = 4/256 while a 0.98-cosine pair lands
    in ≥ one shared band with ~97% probability (p_bit = 1 - acos(0.98)/π
    = 0.936, 4·0.936⁸); wider bands trade per-band recall (bounded by
    p_bit per extra bit) for linear candidate generation — see the
    recall math in :func:`recommended_band_bits`.  Candidate recall
    below ~0.9 cosine falls off — by design; this is a NEAR-duplicate
    detector, use ann/ivf search for range queries.

    Verification is PER-BUCKET, not per-pair: band groups go through
    applyInPandas and each bucket computes one intra-bucket int64 Gram
    matmul (make_bucket_verify_udf), emitting only pairs at/above the
    threshold; a final distinct() dedupes pairs that co-band more than
    once.  The step-timed sf30 profile of the previous per-pair plan
    showed why: with occupancy pinned at ~200, candidates ≈
    occupancy x n x bands / 2 rows (88.8M at n=600k) and the two
    id-keyed joins + per-pair Arrow transfer moved ~46 GB of vector
    payload — 118 s of a 134 s wall.  In the bucket plan vectors move
    ONCE per band row (n x bands rows, ~1% of the pair volume), the
    bucket cap is a group-size check inside the verifier (no window
    pass), and the only pair-shaped frame is the VERIFIED pairs
    (measured 13.3x smaller than the candidate set at sf30).  Measured
    walls (identical outputs, SCALE.md §6.2): sf3 4.3 s -> 2.0 s,
    sf10 25.2 s -> 2.8 s, sf30 109.3 s -> 9.3 s — the sf10->sf30
    ratio drops from 4.3x to 3.3x (linear) because nothing pair-shaped
    is shuffled anymore.

    No persist/cache anywhere: the banding subtree executes exactly
    once (the bucket plan has no self-join), and at 100 TB persisting
    corpus-sized frames is itself the hazard.  Contrast
    operators/dedup.py minhash_lsh_pairs, whose shingle-set frame IS
    persisted — both trade-offs are measured and documented in
    SCALE.md."""
    if num_planes is None:
        n = n_vectors if n_vectors is not None else df.count()
        # r and b interact (more bands -> more rows per band -> +~1 bit),
        # so iterate the pair to its (fast) fixpoint; the recall anchor
        # is the 0.98 design point — see recommended_num_bands
        bands = num_bands
        for _ in range(3):
            r = recommended_band_bits(n, bands)
            bands = max(num_bands, recommended_num_bands(r))
        num_bands = bands
        num_planes = r * num_bands
    bands_udf = make_hyperplane_bands_udf(num_planes, num_bands, dim)
    vecs = df.select(id_col, vec_col)
    banded = vecs.select(
        id_col, vec_col, F.explode(bands_udf(F.col(vec_col))).alias("band")
    )
    verify = make_bucket_verify_udf(id_col, vec_col, threshold, max_bucket_size)
    pairs = banded.groupBy("band").applyInPandas(
        verify, schema="id_a long, id_b long, cos_sim double"
    )
    return pairs.distinct()
