"""operators/bq.py — binary quantization encode / Hamming search."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from img2dataset_spark.operators.bq import (
    _pack_bits,
    _plane_matrix,
    bq_encode,
    bq_topk,
    encode_query_bits,
)


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


@pytest.fixture(scope="module")
def codes(emb):
    return bq_encode(emb, num_planes=64, dim=64)


def test_bq_encode_matches_local(emb, codes):
    """The Arrow encode equals a local recompute of the quantized
    hyperplane dot signs + 32-bit packing, row for row."""
    C = _plane_matrix(64, 64)
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    got = {r["vec_id"]: list(r["codes"]) for r in codes.collect()}
    for vid, v in list(vecs.items())[:100]:
        qv = np.floor(v * (1 << 20) + 0.5).astype(np.int64)
        bits = (qv @ C >= 0).astype(np.int64)[None, :]
        assert got[vid] == _pack_bits(bits)[0].tolist(), vid
    # 32-bit words: always non-negative, below 2^32
    assert all(0 <= w < (1 << 32) for ws in got.values() for w in ws)


def test_bq_topk_equals_bruteforce(emb, codes):
    q = [float(x) for x in
         emb.filter(F.col("vec_id") == 3).collect()[0]["embedding"]]
    qw = encode_query_bits(q, 64, 64)
    local = sorted(
        (sum(bin(w ^ int(qw[i])).count("1")
             for i, w in enumerate(r["codes"])), r["vec_id"])
        for r in codes.collect()
    )[:10]
    qdf = emb.sparkSession.createDataFrame([(q,)], "query_vec array<double>")
    got = [(r["hamming"], r["vec_id"])
           for r in bq_topk(codes, qdf, k=10).collect()]
    assert got == local


def test_bq_self_query_first(emb, codes):
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec")
    )
    top = bq_topk(codes, q, k=5).collect()
    assert top[0]["vec_id"] == 0 and top[0]["hamming"] == 0


def test_bq_hamming_tracks_angle(emb, codes):
    """Charikar's bound, loosely: the query's true nearest-cosine
    neighbors should average a LOWER Hamming distance than random
    rows — the property that makes 8-byte codes a useful screen."""
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    ids = sorted(vecs)
    M = np.stack([vecs[i] for i in ids])
    q = vecs[0]
    cos = (M @ q) / (np.linalg.norm(M, axis=1) * np.linalg.norm(q))
    order = np.argsort(-cos, kind="stable")
    near = {ids[i] for i in order[1:21]}
    far = {ids[i] for i in order[-20:]}
    qw = encode_query_bits([float(x) for x in q], 64, 64)
    ham = {r["vec_id"]: sum(bin(w ^ int(qw[i])).count("1")
                            for i, w in enumerate(r["codes"]))
           for r in codes.collect()}
    near_avg = sum(ham[i] for i in near) / len(near)
    far_avg = sum(ham[i] for i in far) / len(far)
    assert near_avg < far_avg, (near_avg, far_avg)


def test_bq_topk_rejects_width_mismatch(spark, emb):
    """Codes encoded with a different num_planes must raise loudly —
    null popcounts would otherwise sort NULLS-FIRST into the top-k
    (r9 ADVICE)."""
    narrow = spark.createDataFrame(
        [(1, [0])], "vec_id long, codes array<long>"
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec")
    )
    with pytest.raises(Exception, match="codes width"):
        bq_topk(narrow, q, k=5, num_planes=64, dim=64).collect()


def test_bq_scan_plan_is_codegen(spark, emb, codes, tmp_path):
    """The Hamming scan over a materialized codes table is popcounts in
    codegen — no Python, no join, no Exchange."""
    import os

    path = os.path.join(str(tmp_path), "bq_codes")
    codes.write.parquet(path)
    rd = spark.read.parquet(path)
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec")
    )
    plan = (
        bq_topk(rd, q, k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan
    for bad in ("ArrowEvalPython", "BatchEvalPython", "Join", "Exchange"):
        assert bad not in plan, bad


def test_bq_refine_full_budget_equals_exact(spark, emb, codes):
    """The exactness limit (ivfpq_refine precedent): with the candidate
    pool covering the whole corpus, popcount-screen + exact re-rank IS
    brute-force cosine_topk — identical rows, identical scores."""
    from img2dataset_spark.operators.bq import bq_refine_topk
    from img2dataset_spark.operators.similarity import cosine_topk

    n = emb.count()
    q = emb.filter(F.col("vec_id") == 3).select(
        F.col("embedding").alias("query_vec")
    )
    want = [(r["vec_id"], r["cos_sim"])
            for r in cosine_topk(emb, q, k=10).collect()]
    got = [(r["vec_id"], r["cos_sim"])
           for r in bq_refine_topk(
               codes, emb, q, k=10, refine_factor=n // 10 + 1).collect()]
    assert got == want


def test_bq_refine_candidates_come_from_screen(spark, emb, codes):
    """Every refined row must be one of the screen's k·factor Hamming
    candidates — the re-rank never looks outside the broadcast pool."""
    from img2dataset_spark.operators.bq import bq_refine_topk

    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec")
    )
    screen = {r["vec_id"] for r in bq_topk(codes, q, k=40).collect()}
    got = {r["vec_id"]
           for r in bq_refine_topk(codes, emb, q, k=10,
                                   refine_factor=4).collect()}
    assert got <= screen and len(got) == 10


def test_ivfbq_scans_only_probed_cells(spark, emb):
    """IVF+BQ composition: results come exclusively from the top-nprobe
    probed cells and match a local popcount recompute over them."""
    from img2dataset_spark.operators.bq import ivfbq_index, ivfbq_topk
    from img2dataset_spark.operators.similarity import cosine, ivf_fit, round6

    ivf_cb = ivf_fit(emb, num_cells=5, iters=1)
    idx = ivfbq_index(emb, ivf_cb, num_planes=64, dim=64)
    qvec = [float(x) for x in
            emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    qdf = spark.createDataFrame([(qvec,)], "query_vec array<double>")
    got = [(r["vec_id"], r["hamming"]) for r in
           ivfbq_topk(idx, ivf_cb, qdf, k=10, nprobe=2).collect()]
    probe = [r["cell"] for r in
             ivf_cb.crossJoin(F.broadcast(qdf))
             .select("cell",
                     round6(cosine(F.col("centroid"),
                                   F.col("query_vec"))).alias("s"))
             .orderBy(F.desc("s"), F.asc("cell")).limit(2).collect()]
    qw = encode_query_bits(qvec, 64, 64)
    local = sorted(
        (sum(bin(int(w) ^ int(qv)).count("1")
             for w, qv in zip(r["codes"], qw)), r["vec_id"])
        for r in idx.collect() if r["cell"] in probe
    )[:10]
    assert got == [(v, d) for d, v in local]


def test_ivfbq_index_single_pass_plan(spark, emb):
    """The IVF+BQ index job reads the corpus ONCE: coarse assignment
    and the sign-bit encode are independent Arrow UDFs of the same
    select, fused into a single ArrowEvalPython stage — no join, no
    shuffle Exchange (the delivery of bq.py's r9 composability claim)."""
    from img2dataset_spark.operators.bq import ivfbq_index
    from img2dataset_spark.operators.similarity import ivf_fit

    ivf_cb = ivf_fit(emb, num_cells=4, iters=1)
    idx = ivfbq_index(emb, ivf_cb)
    assert idx.columns == ["vec_id", "cell", "codes"]
    plan = idx._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert plan.count("assign(") == 1, plan
    for bad in ("SortMergeJoin", "ShuffledHashJoin", "Exchange hashpartitioning"):
        assert bad not in plan, bad


def test_ivfbq_refine_full_probe_full_budget_equals_exact(spark, emb):
    """Exactness limit for the full binary composition: every cell
    probed + whole-corpus candidate budget -> identical to brute-force
    cosine_topk."""
    from img2dataset_spark.operators.bq import ivfbq_index, ivfbq_refine_topk
    from img2dataset_spark.operators.similarity import cosine_topk, ivf_fit

    n = emb.count()
    ivf_cb = ivf_fit(emb, num_cells=5, iters=1)
    idx = ivfbq_index(emb, ivf_cb)
    q = emb.filter(F.col("vec_id") == 3).select(
        F.col("embedding").alias("query_vec")
    )
    want = [(r["vec_id"], r["cos_sim"])
            for r in cosine_topk(emb, q, k=10).collect()]
    got = [(r["vec_id"], r["cos_sim"])
           for r in ivfbq_refine_topk(
               idx, ivf_cb, emb, q, k=10, nprobe=5,
               refine_factor=n // 10 + 1).collect()]
    assert got == want


def test_bq_topk_rejects_null_codes(spark, emb):
    """A NULL codes row must hit the width guard, not slip through:
    size(NULL) is NULL under default sizeOfNull=false, so without the
    isNull term the when() falls through, hamming is NULL, and asc
    NULLS-FIRST ranks the row top-k (r10 ADVICE)."""
    nulled = spark.createDataFrame(
        [(1, [0] * 2), (2, None)], "vec_id long, codes array<long>"
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec")
    )
    with pytest.raises(Exception, match="codes width"):
        bq_topk(nulled, q, k=5, num_planes=64, dim=64).collect()


def test_ivfbq_multi_topk_matches_single(spark, emb):
    """The batch popcount scan is q single searches in one pass:
    per-qid results equal ivfbq_topk run per query (cosine probe —
    the angle family's rule), and a non-dense qid set is refused."""
    from img2dataset_spark.operators.bq import (
        ivfbq_index,
        ivfbq_multi_topk,
        ivfbq_topk,
    )
    from img2dataset_spark.operators.similarity import _as_double, ivf_fit

    ivf_cb = ivf_fit(emb, num_cells=10, iters=2)
    idx = ivfbq_index(emb, ivf_cb, num_planes=64, dim=64)
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"),
        _as_double(F.col("embedding")).alias("query_vec"),
    )
    multi = {}
    for r in ivfbq_multi_topk(idx, ivf_cb, qs, k=5, nprobe=2,
                              num_planes=64, dim=64).collect():
        multi.setdefault(r["qid"], []).append((r["vec_id"], r["hamming"]))
    assert set(multi) == {0, 1, 2}
    for qid in (0, 1, 2):
        q1 = qs.filter(F.col("qid") == qid).select("query_vec")
        single = [(r["vec_id"], r["hamming"]) for r in
                  ivfbq_topk(idx, ivf_cb, q1, k=5, nprobe=2,
                             num_planes=64, dim=64).collect()]
        assert multi[qid] == single, qid

    sparse = qs.withColumn("qid", F.col("qid") * 2)
    with pytest.raises(ValueError, match="dense"):
        ivfbq_multi_topk(idx, ivf_cb, sparse, k=5, nprobe=2)


def test_bq_refine_topk_auto_rf(spark, emb):
    """refine_factor=None (the r13 default) sizes the flat screen's
    pool from the CORPUS (occupancy = n, num_cells = 1 — the same
    tie-mass rule the IVF siblings use): equals the explicit rf at the
    computed value, and can only match-or-beat a smaller fixed rf on
    recall (exact re-rank over a superset)."""
    from img2dataset_spark.operators.bq import bq_encode, bq_refine_topk
    from img2dataset_spark.operators.similarity import (
        _as_double,
        recommended_refine_factor,
    )

    codes = bq_encode(emb, num_planes=64, dim=64).persist()
    n = codes.count()
    q = emb.filter(F.col("vec_id") == 0).select(
        _as_double(F.col("embedding")).alias("query_vec")
    )
    rf = recommended_refine_factor(n, 1, target_occupancy=64)
    assert rf > 4  # the fixture corpus overshoots the target pool
    auto = [tuple(r) for r in bq_refine_topk(
        codes, emb, q, k=10, num_planes=64, dim=64,
        refine_target_occupancy=64,
    ).collect()]
    pinned = [tuple(r) for r in bq_refine_topk(
        codes, emb, q, k=10, refine_factor=rf, num_planes=64, dim=64,
    ).collect()]
    assert auto == pinned
    codes.unpersist()


def test_bq_multi_literal_ceiling(spark, monkeypatch):
    """The shared plan-literal budget prices the BQ batch scan too
    (r13 verdict item 2): past the ceiling, a named error instead of
    an opaque plan failure."""
    from img2dataset_spark.operators import ivf_search
    from img2dataset_spark.operators.bq import ivfbq_index, ivfbq_multi_topk
    from img2dataset_spark.operators.similarity import _as_double, ivf_fit

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ivf_cb = ivf_fit(emb, num_cells=4, iters=1)
    idx = ivfbq_index(emb, ivf_cb, num_planes=64, dim=64)
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"),
        _as_double(F.col("embedding")).alias("query_vec"),
    )
    # 3 queries x 2 packed words = 6 literals > 5
    monkeypatch.setattr(ivf_search, "_MULTI_TOPK_MAX_LITERALS", 5)
    with pytest.raises(ValueError, match="packed words"):
        ivfbq_multi_topk(idx, ivf_cb, qs, k=5, nprobe=2,
                         num_planes=64, dim=64)
