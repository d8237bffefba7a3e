"""Equivalence pins for the r14 optimization round: every rewrite is a
pure performance change, so each one gets a test asserting the new path
produces EXACTLY what the old path produced.

- driver-local probe ranking (_probe_rank_local) vs the distributed
  expression form it replaced, on both metrics, including ties;
- fused multi-subspace pq_fit vs the m-independent-ivf_fit composition
  it replaced;
- the operators' ``assigned=`` reuse parameter vs their own assignment
  pass.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _distributed_probe(ivf_codebook, query_df, nprobe, metric):
    """The pre-r14 distributed probe ranking, verbatim (the expression
    form probe_cells used before the driver-local rewrite)."""
    from pyspark.sql import Column

    from img2dataset_spark.operators.similarity import (
        _QUANT,
        _as_double,
        cosine,
        round6,
    )

    q = F.broadcast(query_df.select("query_vec"))
    j = ivf_codebook.crossJoin(q)
    if metric == "cosine":
        ordered = j.select(
            "cell",
            "centroid",
            round6(cosine(F.col("centroid"), F.col("query_vec"))).alias("_s"),
        ).orderBy(F.desc("_s"), F.asc("cell"))
    else:

        def quant(c: Column) -> Column:
            return F.transform(
                _as_double(c),
                lambda x: F.floor(x * F.lit(float(_QUANT)) + 0.5).cast(
                    "long"
                ),
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
    return ordered.limit(nprobe).select("cell")


@pytest.mark.parametrize("metric", ["cosine", "l2"])
@pytest.mark.parametrize("nprobe", [1, 3, 10])
def test_local_probe_matches_distributed(spark, emb, metric, nprobe):
    from img2dataset_spark.operators.similarity import ivf_fit, probe_cells

    cb = ivf_fit(emb, num_cells=10, iters=2)
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("query_vec")
    )
    got = [
        r["cell"]
        for r in probe_cells(cb, q, nprobe, metric).select("cell").collect()
    ]
    want = [r["cell"] for r in _distributed_probe(cb, q, nprobe, metric).collect()]
    assert got == want


def test_local_probe_tie_break_matches_distributed(spark):
    """Exact ties (duplicate centroids) must resolve cell-ascending in
    both the local and the distributed ranking."""
    from img2dataset_spark.operators.similarity import probe_cells

    cb = spark.createDataFrame(
        [
            (5, [1.0, 0.0]),
            (2, [1.0, 0.0]),   # exact tie with cell 5
            (9, [0.0, 1.0]),
            (1, [0.5, 0.5]),
        ],
        "cell bigint, centroid array<double>",
    )
    q = spark.createDataFrame([([1.0, 0.0],)], "query_vec array<double>")
    for metric in ("cosine", "l2"):
        got = [
            r["cell"]
            for r in probe_cells(cb, q, 3, metric).select("cell").collect()
        ]
        want = [
            r["cell"] for r in _distributed_probe(cb, q, 3, metric).collect()
        ]
        assert got == want, metric
        assert got[:2] == [2, 5], metric  # tie resolved cell-ascending


def test_fused_pq_fit_matches_per_subspace_ivf_fit(spark, emb):
    """The r14 fused pq_fit must mint EXACTLY the codebook the previous
    m-independent-ivf_fit composition minted."""
    from img2dataset_spark.operators.pq import _check_geometry, pq_fit
    from img2dataset_spark.operators.similarity import _as_double, ivf_fit

    m, k, iters, dim = 2, 4, 2, 64
    sub_dim = _check_geometry(dim, m)
    old_rows = set()
    for j in range(m):
        sliced = emb.select(
            F.col("vec_id"),
            F.slice(
                _as_double(F.col("embedding")), j * sub_dim + 1, sub_dim
            ).alias("_sub"),
        )
        cb = ivf_fit(sliced, k, iters, vec_col="_sub", id_col="vec_id")
        for r in cb.collect():
            old_rows.add((j, int(r["cell"]), tuple(r["centroid"])))
    new_rows = {
        (int(r["subspace"]), int(r["cell"]), tuple(r["centroid"]))
        for r in pq_fit(
            emb, num_subspaces=m, num_codes=k, iters=iters
        ).collect()
    }
    assert new_rows == old_rows


def test_assigned_reuse_is_identical(spark, emb):
    """ivfpq_index / pq_refit_cells / sq_refit_cells with a pre-computed
    assigned= frame must equal their own-assignment output."""
    from img2dataset_spark.operators.maintain import (
        pq_refit_cells,
        sq_refit_cells,
    )
    from img2dataset_spark.operators.pq import ivfpq_index, pq_fit
    from img2dataset_spark.operators.similarity import ivf_assign, ivf_fit

    ivf_cb = ivf_fit(emb, num_cells=5, iters=2)
    pq_cb = pq_fit(emb, num_subspaces=2, num_codes=4, iters=2)
    tagged = ivf_assign(emb, ivf_cb)
    flagged = spark.createDataFrame([(0,), (3,)], "cell bigint")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(ivfpq_index(emb, ivf_cb, pq_cb)) == rows(
        ivfpq_index(emb, ivf_cb, pq_cb, assigned=tagged)
    )
    assert rows(
        pq_refit_cells(emb, ivf_cb, flagged, num_subspaces=2, num_codes=4)
    ) == rows(
        pq_refit_cells(
            emb, ivf_cb, flagged, num_subspaces=2, num_codes=4,
            assigned=tagged,
        )
    )
    assert rows(sq_refit_cells(emb, ivf_cb, flagged)) == rows(
        sq_refit_cells(emb, ivf_cb, flagged, assigned=tagged)
    )


def test_split_cells_assigned_reuse_is_identical(spark, emb):
    """split_cells with a pre-computed assigned= frame must equal its
    own-assignment output (the escalation-actuator queries feed it the
    shared persisted pass that also computes their drift flags)."""
    from img2dataset_spark.operators.maintain import split_cells
    from img2dataset_spark.operators.similarity import ivf_assign, ivf_fit

    ivf_cb = ivf_fit(emb, num_cells=5, iters=2)
    tagged = ivf_assign(emb, ivf_cb)
    flagged = spark.createDataFrame([(0,), (3,)], "cell bigint")

    def rows(df):
        return sorted(
            (int(r["cell"]), tuple(r["centroid"])) for r in df.collect()
        )

    assert rows(split_cells(emb, ivf_cb, flagged, num_subcells=2)) == rows(
        split_cells(emb, ivf_cb, flagged, num_subcells=2, assigned=tagged)
    )


def test_static_prune_cells_matches_join(spark, emb):
    """The static IN-list prune keeps exactly the rows the broadcast
    probed-cell join kept."""
    from img2dataset_spark.operators.pq import ivfpq_index, pq_fit
    from img2dataset_spark.operators.similarity import (
        ivf_fit,
        static_prune_cells,
    )

    ivf_cb = ivf_fit(emb, num_cells=5, iters=2)
    pq_cb = pq_fit(emb, num_subspaces=2, num_codes=4, iters=2)
    idx = ivfpq_index(emb, ivf_cb, pq_cb)
    cells = [1, 3]
    probed = spark.createDataFrame([(c,) for c in cells], "cell bigint")
    joined = sorted(
        tuple(r)
        for r in idx.join(F.broadcast(probed), "cell")
        .select("vec_id", "cell", "codes")
        .collect()
    )
    pruned = sorted(
        tuple(r)
        for r in static_prune_cells(idx, cells)
        .select("vec_id", "cell", "codes")
        .collect()
    )
    assert joined == pruned and len(pruned) > 0


def test_refit_index_count_matches_corpus(spark, emb):
    """_refit_pq_artifacts seeds the auto-rf sizing memo for the
    read-back index with the corpus row count from the SAME run's
    assignment pass.  Premise pinned here: the refit pipeline's index
    (1:1 encode, selective rewrite) has exactly one row per corpus row,
    and the seeded memo returns that same number."""
    from img2dataset_spark import queries as Q
    from img2dataset_spark.operators.similarity import memoized_count

    e, ivf_cb, pq_cb, ovr_rd, idx_rd = Q._refit_pq_artifacts(
        spark, SF_DIR, "graft_test_seedcount_", residual=False
    )
    n_corpus = e.count()
    assert memoized_count(idx_rd) == n_corpus  # memo hit, no job
    # the memo must agree with a genuine count of the read-back index
    assert idx_rd.count() == n_corpus


def test_refit_ledger_prep_overlap_families_identical(spark, emb):
    """refit_recall_ledger's r14 prep-overlap restructure (per-family
    refit+re-encode chains submitted concurrently with the global book
    fits) must emit the same relation as before — pinned against the
    deterministic recall values of the sequential semantics."""
    from img2dataset_spark.operators.recall import refit_recall_ledger

    base = emb.filter(F.col("vec_id") % 10 < 7)
    out = refit_recall_ledger(
        emb, base, num_cells=10, iters=2, pq_subspaces=2, pq_codes=4,
        k=10, num_queries=3, nprobe=4, threshold=1.02,
    ).collect()
    fams = [r["family"] for r in out]
    assert fams == [
        "versioned_raw_pre", "versioned_raw_post",
        "versioned_residual_pre", "versioned_residual_post",
    ]
    for r in out:
        assert 0.0 <= r["min_recall"] <= r["mean_recall"] <= 1.0
        assert r["num_queries"] == 3 and r["k"] == 10


def test_override_collect_memo_slice_matches_fresh_collect(spark, emb):
    """r14 opt 2: the memoized full-relation override collect, sliced
    driver-side to the probed cells, must equal a fresh collect of the
    filtered relation (the pre-memo searcher shape) — for both the PQ
    book and the SQ bounds variants."""
    import numpy as np

    from img2dataset_spark.operators.maintain import (
        pq_refit_cells,
        sq_refit_cells,
    )
    from img2dataset_spark.operators.ivf_search import _OVERRIDES_MEMO
    from img2dataset_spark.operators.pq import _collect_overrides
    from img2dataset_spark.operators.similarity import ivf_fit
    from img2dataset_spark.operators.sq import _collect_cell_bounds

    ivf_cb = ivf_fit(emb, num_cells=4, iters=1)
    flagged = spark.createDataFrame([(0,), (2,), (3,)], "cell long")
    ovr = pq_refit_cells(emb, ivf_cb, flagged, num_subspaces=2,
                         num_codes=4, iters=1)

    def canon_books(b):
        return {
            c: tuple(
                (tuple(ids.tolist()),
                 tuple(map(tuple, qc.tolist())),
                 tuple(nc.tolist()))
                for ids, qc, nc in zip(*v)
            )
            for c, v in b.items()
        }

    full = _collect_overrides(ovr)  # seeds the memo
    assert id(ovr) in _OVERRIDES_MEMO
    sliced = _collect_overrides(ovr, cells=[2, 3])
    fresh = _collect_overrides(
        ovr.filter(F.col("cell").isin([2, 3]))  # distinct df: memo miss
    )
    assert set(sliced) == {2, 3}
    assert canon_books(sliced) == canon_books(fresh)
    assert set(full) == {0, 2, 3}

    sovr = sq_refit_cells(emb, ivf_cb, flagged)
    sfull = _collect_cell_bounds(sovr)  # seeds the memo
    assert id(sovr) in _OVERRIDES_MEMO
    ssliced = _collect_cell_bounds(sovr, expected_dim=64, cells=[0, 3])
    sfresh = _collect_cell_bounds(
        sovr.filter(F.col("cell").isin([0, 3])), expected_dim=64
    )
    assert set(ssliced) == {0, 3}
    for c in ssliced:
        assert np.array_equal(ssliced[c][0], sfresh[c][0])
        assert np.array_equal(ssliced[c][1], sfresh[c][1])
    # the r13-advice dimensionality guard still fires through the memo
    with pytest.raises(ValueError, match="different dimensionality"):
        _collect_cell_bounds(sovr, expected_dim=32, cells=[0])
