"""The IVF search core's generated-SQL safety: empty CASE branch lists,
odd column names, and empty literal tables fail or work at the call
site, never as a ParseException from a generated string."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(11)
    centers = rng.normal(0.0, 1.0, (4, 64))
    vecs = centers[rng.integers(0, 4, 400)] + rng.normal(0.0, 0.3, (400, 64))
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )


@pytest.fixture(scope="module")
def models(spark, emb):
    from img2dataset_spark.operators.pq import pq_fit
    from img2dataset_spark.operators.similarity import ivf_fit
    from img2dataset_spark.operators.sq import sq_fit

    ivf_cb = ivf_fit(emb, num_cells=4, iters=1)
    book = pq_fit(emb, num_subspaces=2, num_codes=4, iters=1)
    return ivf_cb, book, sq_fit(emb)


def test_empty_case_branch_list_names_the_searcher():
    from img2dataset_spark.operators.ivf_search import _cell_case_sql

    with pytest.raises(ValueError, match="ivfpq_topk_versioned"):
        _cell_case_sql([], "0L", "ivfpq_topk_versioned")
    with pytest.raises(ValueError, match="ivfsq_multi_topk"):
        _cell_case_sql([], "0L", "ivfsq_multi_topk")


def test_quote_ident_escapes_backticks():
    from img2dataset_spark.operators.ivf_search import quote_ident

    assert quote_ident("qid") == "`qid`"
    assert quote_ident("q`id") == "`q``id`"
    assert quote_ident("a.b") == "`a.b`"


def test_empty_literal_arrays_are_typed(spark):
    from img2dataset_spark.operators.similarity import (
        lit_double_array,
        long_array_2d_sql,
        long_array_sql,
    )

    df = spark.range(1).select(
        F.expr(long_array_sql([])).alias("a"),
        F.expr(long_array_2d_sql([])).alias("b"),
        lit_double_array([]).alias("c"),
        F.expr(long_array_2d_sql([[], [7]])).alias("d"),
    )
    assert df.schema.simpleString() == (
        "struct<a:array<bigint>,b:array<array<bigint>>,"
        "c:array<double>,d:array<array<bigint>>>"
    )
    assert tuple(df.first()) == ([], [], [], [[], [7]])


def _queries(emb, qid_col, n=3):
    from img2dataset_spark.operators.similarity import _as_double

    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias(qid_col),
        _as_double(F.col("embedding")).alias("query_vec"),
    )


@pytest.mark.parametrize("family", ["pq", "pq_residual", "sq", "sq_versioned",
                                    "bq"])
def test_batch_search_with_backticked_qid_column(spark, emb, models, family):
    """A qid column named q`id answers exactly what `qid` answers — the
    name is escaped wherever the core interpolates it into SQL."""
    from img2dataset_spark.operators import bq, pq, sq

    ivf_cb, book, bounds = models
    odd = "q`id"

    def run(qid_col):
        qs = _queries(emb, qid_col)
        if family.startswith("pq"):
            residual = family == "pq_residual"
            idx = pq.ivfpq_index(emb, ivf_cb, book, residual=residual)
            return pq.ivfpq_multi_topk(idx, ivf_cb, book, qs, k=5, nprobe=2,
                                       qid_col=qid_col, residual=residual)
        if family == "sq":
            idx = sq.ivfsq_index(emb, ivf_cb, bounds)
            return sq.ivfsq_multi_topk(idx, ivf_cb, bounds, qs, k=5,
                                       nprobe=2, qid_col=qid_col)
        if family == "sq_versioned":
            idx = sq.ivfsq_index(emb, ivf_cb, bounds)
            ovr = sq.empty_cell_bounds_frame(spark)
            return sq.ivfsq_multi_topk_versioned(
                idx, ivf_cb, bounds, ovr, qs, k=5, nprobe=2, qid_col=qid_col)
        idx = bq.ivfbq_index(emb, ivf_cb)
        return bq.ivfbq_multi_topk(idx, ivf_cb, qs, k=5, nprobe=2,
                                   qid_col=qid_col)

    got = run(odd)
    assert got.columns[0] == odd
    want = sorted(tuple(r) for r in run("qid").collect())
    assert sorted(tuple(r) for r in got.collect()) == want


def test_chunked_and_refine_with_backticked_qid_column(spark, emb, models):
    from img2dataset_spark.operators.pq import (
        ivfpq_index,
        ivfpq_multi_refine_topk,
        ivfpq_multi_topk_chunked,
    )

    ivf_cb, book, _ = models
    idx = ivfpq_index(emb, ivf_cb, book)
    odd = "q`id"
    for fn, extra in ((ivfpq_multi_topk_chunked, {"max_queries_per_scan": 2}),
                      (ivfpq_multi_refine_topk, {})):
        args = (idx, ivf_cb, book) + (() if extra else (emb,))
        got = fn(*args, _queries(emb, odd), k=5, nprobe=2, qid_col=odd,
                 **extra)
        want = fn(*args, _queries(emb, "qid"), k=5, nprobe=2, **extra)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )


def test_id_column_with_backtick(spark, emb, models):
    from img2dataset_spark.operators.sq import ivfsq_index, ivfsq_topk

    ivf_cb, _, bounds = models
    idx = ivfsq_index(emb, ivf_cb, bounds).withColumnRenamed("vec_id", "v`id")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec")
    )
    got = ivfsq_topk(idx, ivf_cb, bounds, q, k=5, nprobe=2, id_col="v`id")
    want = ivfsq_topk(ivfsq_index(emb, ivf_cb, bounds), ivf_cb, bounds, q,
                      k=5, nprobe=2)
    assert got.columns == ["v`id", "sq_dist"]
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in want.collect()
    ]


@pytest.mark.parametrize("extra", ["refine_factor", "vectors_df", "vec_col",
                                   "refine_target_occupancy", "packed"])
def test_chunked_routes_take_only_the_batch_arguments(spark, emb, models,
                                                      extra):
    """The chunked routes' ``**kw`` is the batch searchers' own
    argument set: a refine argument (or ``packed`` on SQ) is a
    TypeError, never a silent exact-cosine refine."""
    from img2dataset_spark.operators.pq import (
        ivfpq_index,
        ivfpq_multi_topk_chunked,
    )
    from img2dataset_spark.operators.sq import (
        ivfsq_index,
        ivfsq_multi_topk_chunked,
    )

    ivf_cb, book, bounds = models
    qs = _queries(emb, "qid")
    value = emb if extra == "vectors_df" else 2
    calls = [lambda: ivfsq_multi_topk_chunked(
        ivfsq_index(emb, ivf_cb, bounds), ivf_cb, bounds, qs, k=5,
        max_queries_per_scan=2, nprobe=2, **{extra: value})]
    if extra != "packed":
        calls.append(lambda: ivfpq_multi_topk_chunked(
            ivfpq_index(emb, ivf_cb, book), ivf_cb, book, qs, k=5,
            max_queries_per_scan=2, nprobe=2, **{extra: value}))
    for call in calls:
        with pytest.raises(TypeError, match=extra):
            call()
