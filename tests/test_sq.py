"""operators/sq.py — SQ8 scalar quantization fit / encode / search."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from img2dataset_spark.operators.sq import (
    _collect_bounds,
    encode_query,
    sq_encode,
    sq_fit,
    sq_topk,
)


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


@pytest.fixture(scope="module")
def fitted(emb):
    bounds = sq_fit(emb)
    return bounds, sq_encode(emb, bounds)


def test_sq_bounds_match_numpy(emb, fitted):
    bounds, _ = fitted
    lo, hi = _collect_bounds(bounds)
    V = np.stack([
        np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.select("embedding").collect()
    ])
    np.testing.assert_array_equal(lo, V.min(axis=0))
    np.testing.assert_array_equal(hi, V.max(axis=0))


def test_sq_encode_matches_local(emb, fitted):
    """The codegen encode equals the driver-side float64 recompute
    (encode_query uses the SAME expression) on every corpus row."""
    bounds, codes = fitted
    lo, hi = _collect_bounds(bounds)
    vecs = {r["vec_id"]: r["embedding"]
            for r in emb.select("vec_id", "embedding").collect()}
    got = {r["vec_id"]: list(r["codes"]) for r in codes.collect()}
    for vid, v in list(vecs.items())[:100]:
        want = encode_query(lo, hi, [float(x) for x in v]).tolist()
        assert got[vid] == want, vid
    assert all(0 <= c <= 255 for cs in got.values() for c in cs)


def test_sq_topk_equals_bruteforce(emb, fitted):
    bounds, codes = fitted
    q = emb.filter(F.col("vec_id") == 3).select(
        F.col("embedding").alias("query_vec")
    )
    lo, hi = _collect_bounds(bounds)
    qc = encode_query(lo, hi, [float(x) for x in
                               q.collect()[0]["query_vec"]])
    local = sorted(
        (int(((np.asarray(r["codes"]) - qc) ** 2).sum()), r["vec_id"])
        for r in codes.collect()
    )[:10]
    got = [(r["sq_dist"], r["vec_id"])
           for r in sq_topk(codes, bounds, q, k=10).collect()]
    assert got == local


def test_sq_self_query_ranks_first(emb, fitted):
    bounds, codes = fitted
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec")
    )
    top = sq_topk(codes, bounds, q, k=5).collect()
    assert top[0]["vec_id"] == 0 and top[0]["sq_dist"] == 0


def test_sq_constant_dimension_codes_zero(spark):
    """hi = lo (constant dimension) must code to 0, not NaN-propagate."""
    df = spark.createDataFrame(
        [(i, [float(i), 7.0]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    bounds = sq_fit(df)
    codes = {r["vec_id"]: list(r["codes"])
             for r in sq_encode(df, bounds).collect()}
    assert all(c[1] == 0 for c in codes.values())  # constant dim -> 0
    assert codes[0][0] == 0 and codes[3][0] == 255  # lo -> 0, hi -> 255


def test_sq_fit_explode_is_pipelined_codegen(emb):
    """The explode fit is the MEASURED winner (see sq_fit docstring:
    r10 A/B — a 2d-expression aggregate blows the codegen field budget
    and runs 5× slower interpreted); this pin keeps the Generate and
    the partial HashAggregate fused in ONE WholeStageCodegen span, the
    property that makes the n×d explosion pipelined instead of
    materialized."""
    plan = (
        sq_fit(emb, dim=64)._jdf.queryExecution().executedPlan().toString()
    )
    # top-down: final agg -> THE ONE Exchange -> partial agg -> Generate
    # -> scan.  The explode output never crosses a shuffle: the partial
    # min/max combine map-side, so the Exchange carries partitions×d
    # rows, not n×d.
    assert plan.count("Exchange") == 1, plan
    assert (
        plan.index("Exchange")
        < plan.rindex("HashAggregate")
        < plan.index("Generate")
    ), plan


def test_collect_bounds_memoized(fitted, monkeypatch):
    """r9 ADVICE: composing several SQ ops over one bounds frame must
    collect the d-row model ONCE per session, not once per call."""
    from pyspark.sql import DataFrame

    bounds, _ = fitted
    first = _collect_bounds(bounds)

    def boom(self, *a, **k):  # pragma: no cover - failure path
        raise AssertionError("collect ran despite bounds memo")

    monkeypatch.setattr(DataFrame, "collect", boom)
    again = _collect_bounds(bounds)
    assert again[0] is first[0] and again[1] is first[1]


def test_sq_topk_rejects_width_mismatch(spark, emb, fitted):
    """A codes table encoded at a different dim must raise loudly, not
    let null distances sort NULLS-FIRST into the top-k (r9 ADVICE)."""
    bounds, _ = fitted
    short = spark.createDataFrame(
        [(1, [0] * 8)], "vec_id long, codes array<long>"
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec")
    )
    with pytest.raises(Exception, match="codes width"):
        sq_topk(short, bounds, q, k=5).collect()


def test_ivfsq_scans_only_probed_cells(spark, emb, fitted):
    """IVF+SQ composition: results come exclusively from the top-nprobe
    probed cells and match a local recompute over those cells."""
    from img2dataset_spark.operators.similarity import cosine, ivf_fit, round6
    from img2dataset_spark.operators.sq import (
        encode_query,
        ivfsq_index,
        ivfsq_topk,
    )

    bounds, _ = fitted
    ivf_cb = ivf_fit(emb, num_cells=5, iters=1)
    idx = ivfsq_index(emb, ivf_cb, bounds)
    qvec = [float(x) for x in
            emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    qdf = spark.createDataFrame([(qvec,)], "query_vec array<double>")
    got = [(r["vec_id"], r["sq_dist"]) for r in
           ivfsq_topk(idx, ivf_cb, bounds, qdf, k=10, nprobe=2).collect()]
    probe = [r["cell"] for r in
             ivf_cb.crossJoin(F.broadcast(qdf))
             .select("cell",
                     round6(cosine(F.col("centroid"),
                                   F.col("query_vec"))).alias("s"))
             .orderBy(F.desc("s"), F.asc("cell")).limit(2).collect()]
    lo, hi = _collect_bounds(bounds)
    qc = encode_query(lo, hi, qvec)
    local = sorted(
        (int(((np.asarray(r["codes"]) - qc) ** 2).sum()), r["vec_id"])
        for r in idx.collect() if r["cell"] in probe
    )[:10]
    assert got == [(v, d) for d, v in local]


def test_ivfsq_index_single_pass_plan(spark, emb, fitted):
    """The IVF+SQ index job's ONLY Python stage is the coarse
    assignment — the byte encode is codegen in the same select (SQ8's
    structural edge over IVF+PQ's second Arrow pass); no join, no
    shuffle Exchange."""
    from img2dataset_spark.operators.similarity import ivf_fit
    from img2dataset_spark.operators.sq import ivfsq_index

    bounds, _ = fitted
    ivf_cb = ivf_fit(emb, num_cells=4, iters=1)
    idx = ivfsq_index(emb, ivf_cb, bounds)
    assert idx.columns == ["vec_id", "cell", "codes"]
    plan = idx._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert plan.count("assign(") == 1, plan
    for bad in ("SortMergeJoin", "ShuffledHashJoin", "Exchange hashpartitioning"):
        assert bad not in plan, bad


def test_sq_plan_is_pure_codegen(spark, emb, fitted, tmp_path):
    """Unlike PQ there is no Arrow pass ANYWHERE: encode and the
    search over a materialized codes table are codegen-only — no
    Python, no join, no Exchange in the scan."""
    import os

    bounds, codes = fitted
    assert "ArrowEvalPython" not in (
        codes._jdf.queryExecution().executedPlan().toString()
    )
    path = os.path.join(str(tmp_path), "sq_codes")
    codes.write.parquet(path)
    rd = emb.sparkSession.read.parquet(path)
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec")
    )
    plan = (
        sq_topk(rd, bounds, q, k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan
    for bad in ("ArrowEvalPython", "BatchEvalPython", "Join", "Exchange"):
        assert bad not in plan, bad


def test_sq_topk_rejects_null_codes(spark, emb, fitted):
    """A NULL codes row must hit the width guard: size(NULL) is NULL,
    the != predicate evaluates NULL, and without the isNull term the
    NULL distance would sort NULLS-FIRST into the top-k (r10 ADVICE)."""
    bounds, _ = fitted
    nulled = spark.createDataFrame(
        [(1, [0] * 64), (2, None)], "vec_id long, codes array<long>"
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec")
    )
    with pytest.raises(Exception, match="codes width"):
        sq_topk(nulled, bounds, q, k=5).collect()


def test_bounds_memo_lru_keeps_hot_model(spark, emb, fitted, monkeypatch):
    """Cycling past the memo cap evicts the LEAST-recently-used entry,
    not the whole memo: a hot model touched between insertions must
    survive and still serve from cache (r10 verdict nit — the old
    clear-all forced a cold re-collect)."""
    from pyspark.sql import DataFrame

    from img2dataset_spark.operators import similarity as simmod
    from img2dataset_spark.operators import sq as sqmod

    bounds, _ = fitted
    # the cap now lives on the shared memo helpers (r15)
    monkeypatch.setattr(simmod, "_ROWS_MEMO_CAP", 3)
    monkeypatch.setattr(sqmod, "_BOUNDS_MEMO", {})
    hot = _collect_bounds(bounds)
    # churn: two fresh bounds frames fill the cap alongside the hot one
    fillers = [sq_fit(emb.limit(5 + i)) for i in range(2)]
    for f in fillers:
        _collect_bounds(f)
    _collect_bounds(bounds)  # LRU refresh
    _collect_bounds(sq_fit(emb.limit(9)))  # evicts the oldest filler
    assert id(bounds) in sqmod._BOUNDS_MEMO
    assert id(fillers[0]) not in sqmod._BOUNDS_MEMO

    def boom(self, *a, **k):  # pragma: no cover - failure path
        raise AssertionError("collect ran despite LRU-refreshed memo")

    monkeypatch.setattr(DataFrame, "collect", boom)
    again = _collect_bounds(bounds)
    assert again[0] is hot[0] and again[1] is hot[1]


def test_ivfsq_multi_topk_matches_single(spark, emb):
    """The batch byte scan is q single searches in one pass: per-qid
    results equal ivfsq_topk run per query (same l2 probe default),
    and a non-dense qid set is refused (the literal code table is
    indexed by position)."""
    from img2dataset_spark.operators.similarity import _as_double, ivf_fit
    from img2dataset_spark.operators.sq import (
        ivfsq_index,
        ivfsq_multi_topk,
        ivfsq_topk,
        sq_fit,
    )

    ivf_cb = ivf_fit(emb, num_cells=10, iters=2)
    bounds = sq_fit(emb, dim=64)
    idx = ivfsq_index(emb, ivf_cb, bounds)
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"),
        _as_double(F.col("embedding")).alias("query_vec"),
    )
    multi = {}
    for r in ivfsq_multi_topk(idx, ivf_cb, bounds, qs, k=5,
                              nprobe=2).collect():
        multi.setdefault(r["qid"], []).append((r["vec_id"], r["sq_dist"]))
    assert set(multi) == {0, 1, 2}
    for qid in (0, 1, 2):
        q1 = qs.filter(F.col("qid") == qid).select("query_vec")
        single = [(r["vec_id"], r["sq_dist"]) for r in
                  ivfsq_topk(idx, ivf_cb, bounds, q1, k=5,
                             nprobe=2).collect()]
        assert multi[qid] == single, qid

    sparse = qs.withColumn("qid", F.col("qid") * 2)
    with pytest.raises(ValueError, match="dense"):
        ivfsq_multi_topk(idx, ivf_cb, bounds, sparse, k=5, nprobe=2)


def test_sq_multi_literal_ceiling(spark, emb, fitted, monkeypatch):
    """The shared plan-literal budget now prices the SQ batch scans
    (r13 verdict item 2): past the ceiling the batch searcher fails
    with a NAMED error pointing at ivfsq_multi_topk_chunked instead of
    an opaque codegen/plan failure — and the chunked route itself
    stays under budget per chunk."""
    from img2dataset_spark.operators import ivf_search
    from img2dataset_spark.operators.similarity import _as_double, ivf_fit
    from img2dataset_spark.operators.sq import (
        ivfsq_index,
        ivfsq_multi_topk,
        ivfsq_multi_topk_chunked,
    )

    bounds, _codes = fitted
    ivf_cb = ivf_fit(emb, num_cells=4, iters=1)
    idx = ivfsq_index(emb, ivf_cb, bounds)
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"),
        _as_double(F.col("embedding")).alias("query_vec"),
    )
    # 3 queries x 64 dims = 192 literals > 100
    monkeypatch.setattr(ivf_search, "_MULTI_TOPK_MAX_LITERALS", 100)
    with pytest.raises(ValueError, match="ivfsq_multi_topk_chunked"):
        ivfsq_multi_topk(idx, ivf_cb, bounds, qs, k=5, nprobe=2)
    # one query per scan = 64 literals <= 100: the named remedy works
    got = ivfsq_multi_topk_chunked(
        idx, ivf_cb, bounds, qs, k=5, nprobe=2, max_queries_per_scan=1
    )
    assert got.count() == 15
