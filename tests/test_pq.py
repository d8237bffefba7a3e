"""operators/pq.py — product quantization fit / encode / ADC search."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from img2dataset_spark.operators.pq import (
    _collect_codebook,
    pq_adc_distances,
    pq_encode,
    pq_fit,
    pq_topk,
)


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


@pytest.fixture(scope="module")
def fitted(emb):
    cb = pq_fit(emb, num_subspaces=4, num_codes=8, iters=2)
    return cb, pq_encode(emb, cb)


def test_pq_fit_shape_and_determinism(emb):
    cb1 = {
        (r["subspace"], r["cell"]): r["centroid"]
        for r in pq_fit(emb, num_subspaces=2, num_codes=4, iters=1).collect()
    }
    cb2 = {
        (r["subspace"], r["cell"]): r["centroid"]
        for r in pq_fit(emb, num_subspaces=2, num_codes=4, iters=1).collect()
    }
    assert cb1 == cb2  # md5-seeded Lloyd: fully deterministic
    assert {s for s, _ in cb1} == {0, 1}
    assert all(len(c) == 32 for c in cb1.values())  # 64 dims / 2 subspaces


def test_pq_encode_codes_in_range(fitted):
    cb, codes = fitted
    rows = codes.collect()
    assert all(len(r["codes"]) == 4 for r in rows)
    assert all(0 <= c < 8 for r in rows for c in r["codes"])


def test_pq_encode_matches_local_argmin(emb, fitted):
    """The one-pass Arrow encode equals a local numpy recomputation of
    the per-subspace quantized argmin (smallest-code ties)."""
    cb, codes = fitted
    cells, QC, nc = _collect_codebook(cb)
    m, sub_dim = len(QC), QC[0].shape[1]
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.select("vec_id", "embedding").collect()
    }
    got = {r["vec_id"]: list(r["codes"]) for r in codes.collect()}
    for vid, v in list(vecs.items())[:50]:
        qv = np.floor(v * (1 << 20) + 0.5).astype(np.int64)
        want = []
        for j in range(m):
            s = qv[j * sub_dim : (j + 1) * sub_dim]
            d2 = (s * s).sum() + nc[j] - 2 * (QC[j] @ s)
            want.append(int(cells[j][np.argmin(d2)]))
        assert got[vid] == want, vid


def test_pq_topk_equals_bruteforce_adc(emb, fitted):
    """The codegen element_at scan returns exactly the brute-force ADC
    ranking (distance table applied row by row locally)."""
    cb, codes = fitted
    q = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 3)
        .select("embedding")
        .collect()[0]["embedding"]
    ]
    cells, dt = pq_adc_distances(cb, q)
    lut = [dict(zip(c.tolist(), d.tolist())) for c, d in zip(cells, dt)]
    local = sorted(
        (int(sum(lut[j][c] for j, c in enumerate(r["codes"]))), r["vec_id"])
        for r in codes.collect()
    )[:10]
    qdf = emb.sparkSession.createDataFrame([(q,)], "query_vec array<double>")
    got = [
        (r["adc_dist"], r["vec_id"])
        for r in pq_topk(codes, cb, qdf, k=10).collect()
    ]
    assert got == local


def test_pq_compression_and_recall_sanity(emb, fitted):
    """PQ exists to compress: codes are m small ints vs d floats, and
    the ADC ranking still puts the query vector itself first when the
    query is a corpus member."""
    cb, codes = fitted
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec")
    )
    top = pq_topk(codes, cb, q, k=10).collect()
    assert top[0]["vec_id"] == 0  # own cell-combo minimizes every table term


def test_pq_geometry_guard(emb):
    with pytest.raises(ValueError, match="divisible"):
        pq_fit(emb, num_subspaces=7, num_codes=4, dim=64)


def test_pq_topk_plan_is_codegen(fitted, emb, tmp_path):
    """No Python UDF and no join in the ADC scan over a MATERIALIZED
    codes table (the deployment shape: encode once per corpus version,
    scan many): the distance table is literal arrays, the scan one
    codegen Project + TakeOrdered."""
    import os

    cb, codes = fitted
    path = os.path.join(str(tmp_path), "codes")
    codes.write.parquet(path)
    codes_rd = emb.sparkSession.read.parquet(path)
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec")
    )
    plan = (
        pq_topk(codes_rd, cb, q, k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan
    for bad in ("ArrowEvalPython", "BatchEvalPython", "Join", "Exchange"):
        assert bad not in plan, bad


def test_ivfpq_topk_scans_only_probed_cells(spark, emb, fitted):
    """The composition: results come exclusively from the nprobe probed
    cells, and within them the ranking equals a local ADC recompute."""
    from img2dataset_spark.operators.pq import (
        ivfpq_index,
        ivfpq_topk,
        pq_adc_distances,
    )
    from img2dataset_spark.operators.similarity import cosine, ivf_fit, round6

    pq_cb, _ = fitted
    ivf_cb = ivf_fit(emb, num_cells=5, iters=1)
    idx = ivfpq_index(emb, ivf_cb, pq_cb)
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0)
        .select("embedding")
        .collect()[0]["embedding"]
    ]
    qdf = spark.createDataFrame([(qvec,)], "query_vec array<double>")
    got = [(r["vec_id"], r["adc_dist"]) for r in
           ivfpq_topk(idx, ivf_cb, pq_cb, qdf, k=10, nprobe=2).collect()]

    # local ground truth: probe ranking by rounded centroid cosine
    probe = [
        r["cell"]
        for r in ivf_cb.crossJoin(F.broadcast(qdf))
        .select("cell", round6(cosine(F.col("centroid"), F.col("query_vec"))).alias("s"))
        .orderBy(F.desc("s"), F.asc("cell")).limit(2).collect()
    ]
    rows = idx.collect()
    cbc, dt = pq_adc_distances(pq_cb, qvec)
    lut = [dict(zip(c.tolist(), d.tolist())) for c, d in zip(cbc, dt)]
    local = sorted(
        (int(sum(lut[j][c] for j, c in enumerate(r["codes"]))), r["vec_id"])
        for r in rows if r["cell"] in probe
    )[:10]
    assert got == [(v, d) for d, v in local]
    assert {r["cell"] for r in rows if r["vec_id"] in {v for v, _ in got}} <= set(probe)


def test_ivfpq_with_hierarchical_coarse_codebook(spark, emb, fitted):
    """ivfpq_index/ivfpq_topk accept a hierarchical coarse codebook
    (the beyond-ceiling IVF path): assignment dispatches through
    ivf_assign and the probe ranks fine cells only."""
    from img2dataset_spark.operators.pq import ivfpq_index, ivfpq_topk
    from img2dataset_spark.operators.similarity import ivf_fit_hierarchical

    pq_cb, _ = fitted
    ivf_cb = ivf_fit_hierarchical(emb, num_cells=9, iters=1, coarse_cells=3)
    idx = ivfpq_index(emb, ivf_cb, pq_cb)
    fine = {r["cell"] for r in ivf_cb.filter(F.col("level") == "fine").collect()}
    assert {r["cell"] for r in idx.select("cell").distinct().collect()} <= fine
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec")
    )
    top = ivfpq_topk(idx, ivf_cb, pq_cb, q, k=5, nprobe=2).collect()
    assert len(top) > 0
    dists = [r["adc_dist"] for r in top]
    assert dists == sorted(dists)


def test_ivfpq_residual_matches_local_and_tightens(spark, emb):
    """Residual codes: (a) the distributed per-probed-cell ADC ranking
    equals a local recompute; (b) quantizing residuals is TIGHTER than
    quantizing raw vectors — a corpus member's own approximate distance
    shrinks (the reason FAISS encodes residuals)."""
    from img2dataset_spark.operators.pq import (
        ivfpq_fit,
        ivfpq_index,
        ivfpq_topk,
        pq_adc_distances,
        pq_fit,
    )

    ivf_cb, pq_cb = ivfpq_fit(emb, num_cells=5, num_subspaces=4, num_codes=8, iters=1)
    idx = ivfpq_index(emb, ivf_cb, pq_cb, residual=True)
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec")
    )
    got = [(r["vec_id"], r["adc_dist"]) for r in
           ivfpq_topk(idx, ivf_cb, pq_cb, q, k=10, nprobe=2, residual=True).collect()]
    assert got[0][0] == 0  # the query's own row ranks first

    # local recompute: per-probed-cell tables over the collected index
    from img2dataset_spark.operators.similarity import cosine, round6

    qvec = np.asarray(
        [float(x) for x in q.collect()[0]["query_vec"]], dtype=np.float64
    )
    probe = {
        r["cell"]: np.asarray(r["centroid"], dtype=np.float64)
        for r in ivf_cb.crossJoin(F.broadcast(q))
        .select("cell", "centroid",
                round6(cosine(F.col("centroid"), F.col("query_vec"))).alias("s"))
        .orderBy(F.desc("s"), F.asc("cell")).limit(2).collect()
    }
    tables = {}
    for c, cen in probe.items():
        cbc, dt = pq_adc_distances(pq_cb, qvec - cen)
        tables[c] = [dict(zip(a.tolist(), d.tolist())) for a, d in zip(cbc, dt)]
    local = sorted(
        (int(sum(tables[r["cell"]][j][c] for j, c in enumerate(r["codes"]))),
         r["vec_id"])
        for r in idx.collect() if r["cell"] in tables
    )[:10]
    assert got == [(v, d) for d, v in local]

    # tightness: own-row ADC distance under residual coding <= raw coding
    pq_raw = pq_fit(emb, num_subspaces=4, num_codes=8, iters=1)
    idx_raw = ivfpq_index(emb, ivf_cb, pq_raw)
    raw = {r["vec_id"]: r["adc_dist"] for r in
           ivfpq_topk(idx_raw, ivf_cb, pq_raw, q, k=10, nprobe=2).collect()}
    assert got[0][1] <= raw.get(0, float("inf"))


def test_pq_gapped_codebook_is_handled(spark, emb):
    """Lloyd can drop a cell that empties — encode and search must
    work with GAPPED cell ids (codes are cell ids, the ADC lookup is
    a map): construct a codebook missing cell 1 and pin encode codes
    + the topk ranking against a local recompute."""
    from img2dataset_spark.operators.pq import pq_adc_distances

    rows = []
    for j in range(2):
        for cell, base in [(0, 0.1), (2, 0.5), (3, 0.9)]:  # gap at 1
            rows.append((j, cell, [base + 0.001 * i for i in range(32)]))
    cb = spark.createDataFrame(
        rows, "subspace long, cell long, centroid array<double>"
    )
    codes = pq_encode(emb, cb)
    vals = {c for r in codes.collect() for c in r["codes"]}
    assert vals <= {0, 2, 3} and vals, vals
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec")
    )
    got = [(r["vec_id"], r["adc_dist"]) for r in pq_topk(codes, cb, q, k=5).collect()]
    qvec = [float(x) for x in q.collect()[0]["query_vec"]]
    cells, dt = pq_adc_distances(cb, qvec)
    lut = [dict(zip(c.tolist(), d.tolist())) for c, d in zip(cells, dt)]
    local = sorted(
        (int(sum(lut[j][c] for j, c in enumerate(r["codes"]))), r["vec_id"])
        for r in codes.collect()
    )[:5]
    assert got == [(v, d) for d, v in local]


def test_pq_packed_codes_equal_unpacked(spark, emb, fitted):
    """packed=True stores ceil(m/8) byte-packed words (m bytes/row on
    disk); codes and the full ADC top-k are identical to the unpacked
    representation."""
    cb, codes = fitted
    packed = pq_encode(emb, cb, packed=True)
    words = {r["vec_id"]: r["codes"] for r in packed.collect()}
    un = {r["vec_id"]: list(r["codes"]) for r in codes.collect()}
    for vid, cs in un.items():
        w = words[vid]
        assert len(w) == 1  # m=4 -> one word
        assert [(w[0] >> (8 * j)) & 255 for j in range(4)] == cs
    q = emb.filter(F.col("vec_id") == 3).select(
        F.col("embedding").alias("query_vec")
    )
    a = [(r["vec_id"], r["adc_dist"]) for r in pq_topk(codes, cb, q, k=10).collect()]
    b = [(r["vec_id"], r["adc_dist"])
         for r in pq_topk(packed, cb, q, k=10, packed=True).collect()]
    assert a == b


def test_pq_packed_byte7_sign_safe(spark):
    """Byte 7 of a packed word lands in the int64 sign bits; the scan's
    arithmetic shiftright sign-extends, and the & 255 mask must drop
    exactly those bits — pinned with a code >= 128 in slot 7 (negative
    word) against a local recompute."""
    from img2dataset_spark.operators.pq import _adc_sql

    m = 8
    codes = [7, 1, 2, 3, 4, 5, 6, 200]
    word = 0
    for j, c in enumerate(codes):
        word |= c << (8 * j)
    if word >= 1 << 63:
        word -= 1 << 64
    assert word < 0
    df = spark.createDataFrame([(1, [word])], "vec_id long, codes array<long>")
    cells = [np.arange(256, dtype=np.int64) for _ in range(m)]
    dt = [np.arange(256, dtype=np.int64) * (j + 1) for j in range(m)]
    got = df.select(
        F.expr(_adc_sql(cells, [dt], None, packed=True)).alias("d")
    ).collect()[0]["d"]
    assert got == sum(codes[j] * (j + 1) for j in range(m))


def test_ivfpq_index_packed_roundtrip(spark, emb, fitted):
    """ivfpq_index(packed=True) + ivfpq_topk(packed=True) return the
    exact unpacked results through a parquet roundtrip (the deployment
    shape the packing exists for)."""
    from img2dataset_spark.operators.pq import ivfpq_index, ivfpq_topk
    from img2dataset_spark.operators.similarity import ivf_fit

    pq_cb, _ = fitted
    ivf_cb = ivf_fit(emb, num_cells=5, iters=1)
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec")
    )
    want = [(r["vec_id"], r["adc_dist"]) for r in
            ivfpq_topk(ivfpq_index(emb, ivf_cb, pq_cb), ivf_cb, pq_cb,
                       q, k=10, nprobe=2).collect()]
    got = [(r["vec_id"], r["adc_dist"]) for r in
           ivfpq_topk(ivfpq_index(emb, ivf_cb, pq_cb, packed=True),
                      ivf_cb, pq_cb, q, k=10, nprobe=2, packed=True).collect()]
    assert got == want


def test_ivfpq_refine_topk_exact_rerank(spark, emb, fitted):
    """Refine = EXACT cosine over the ADC top-(k·f) candidate set: the
    result equals brute-force cosine_topk restricted to those ids (and
    therefore inherits its output convention), with candidates drawn
    only from the probed cells."""
    from img2dataset_spark.operators.pq import (
        ivfpq_index,
        ivfpq_refine_topk,
        ivfpq_topk,
    )
    from img2dataset_spark.operators.similarity import cosine_topk, ivf_fit

    pq_cb, _ = fitted
    ivf_cb = ivf_fit(emb, num_cells=5, iters=1)
    idx = ivfpq_index(emb, ivf_cb, pq_cb)
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec")
    )
    cand = {r["vec_id"] for r in
            ivfpq_topk(idx, ivf_cb, pq_cb, q, k=40, nprobe=2).collect()}
    got = [(r["vec_id"], r["cos_sim"]) for r in
           ivfpq_refine_topk(idx, ivf_cb, pq_cb, emb, q,
                             k=10, nprobe=2, refine_factor=4).collect()]
    want = [(r["vec_id"], r["cos_sim"]) for r in
            cosine_topk(emb.filter(F.col("vec_id").isin(list(cand))),
                        q, k=10).collect()]
    assert got == want
    assert {v for v, _ in got} <= cand


def test_ivfpq_index_single_pass_plan(spark, emb, fitted):
    """(id, cell, codes) comes from ONE select: the coarse-assignment
    Arrow pass — the hottest stage of the 100 TB indexing job —
    executes exactly once, and the corpus is never self-joined back on
    id (the r8 plan ran assignment twice and paid a full id-shuffle)."""
    from img2dataset_spark.operators.pq import ivfpq_fit, ivfpq_index
    from img2dataset_spark.operators.similarity import ivf_fit

    pq_cb, _ = fitted
    ivf_cb = ivf_fit(emb, num_cells=4, iters=1)
    rivf_cb, rpq_cb = ivfpq_fit(
        emb, num_cells=4, num_subspaces=4, num_codes=8, iters=1
    )
    for idx in (
        ivfpq_index(emb, ivf_cb, pq_cb),
        ivfpq_index(emb, rivf_cb, rpq_cb, residual=True),
    ):
        assert idx.columns == ["vec_id", "cell", "codes"]
        plan = idx._jdf.queryExecution().executedPlan().toString()
        assert plan.count("assign(") == 1, plan  # assignment UDF once
        assert plan.count("encode(") == 1, plan
        for bad in ("SortMergeJoin", "ShuffledHashJoin",
                    "Exchange hashpartitioning"):
            assert bad not in plan, bad


def test_ivfpq_index_partitioned_write_prunes_files(spark, emb, fitted, tmp_path):
    """The deployment story end-to-end: write the IVF+PQ index
    PARTITIONED BY cell and confirm a probe-filtered read plans only
    the probed cells' files (PartitionFilters — a query reads nprobe
    cells' CODE files, never a vector)."""
    import os

    from img2dataset_spark.operators.pq import ivfpq_index
    from img2dataset_spark.operators.similarity import ivf_fit

    pq_cb, _ = fitted
    ivf_cb = ivf_fit(emb, num_cells=4, iters=1)
    idx = ivfpq_index(emb, ivf_cb, pq_cb)
    out = os.path.join(str(tmp_path), "ivfpq")
    idx.write.partitionBy("cell").parquet(out)
    cells = sorted(r["cell"] for r in idx.select("cell").distinct().collect())
    assert len(cells) > 1
    probe = cells[:2]
    rd = spark.read.parquet(out).filter(F.col("cell").isin(probe))
    plan = rd._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "cell" in pf
    want = idx.filter(F.col("cell").isin(probe)).count()
    assert rd.count() == want > 0


def test_collect_codebook_memoized(fitted, monkeypatch):
    """r9 ADVICE: composing encode + search over one codebook frame in
    a session must collect the m·k-row model ONCE, not per call."""
    from pyspark.sql import DataFrame

    from img2dataset_spark.operators.pq import _collect_codebook

    cb, _ = fitted
    first = _collect_codebook(cb)

    def boom(self, *a, **k):  # pragma: no cover - failure path
        raise AssertionError("collect ran despite codebook memo")

    monkeypatch.setattr(DataFrame, "collect", boom)
    again = _collect_codebook(cb)
    assert again[0] is first[0]


def test_residual_vectors_codebook_hole_fails_loudly(spark, emb):
    """A coarse codebook missing an assigned cell must raise an error
    NAMING the cell, not crash later inside the encode UDF's np.stack
    (r9 ADVICE)."""
    import img2dataset_spark.operators.similarity as sim
    from img2dataset_spark.operators.pq import residual_vectors
    from img2dataset_spark.operators.similarity import ivf_fit

    ivf_cb = ivf_fit(emb, num_cells=4, iters=1)
    real_assign = sim.ivf_assign

    def skewed_assign(df, cb, vec_col="embedding", id_col="vec_id"):
        # assignment emits a cell id the codebook does not carry — the
        # inconsistent-artifact state the guard exists for (a consistent
        # (assign, codebook) pair can never produce a hole)
        out = real_assign(df, cb, vec_col, id_col)
        return out.withColumn("cell", F.col("cell") + F.lit(1000))

    monkeypatch = pytest.MonkeyPatch()
    try:
        monkeypatch.setattr(sim, "ivf_assign", skewed_assign)
        with pytest.raises(Exception, match="no centroid for assigned cell"):
            residual_vectors(emb, ivf_cb).collect()
    finally:
        monkeypatch.undo()


def test_ivfpq_fitted_roundtrip_plan_static_prunes(spark):
    """The persisted-index registry row (r10, tightened r14): the
    search over the parquet-roundtripped cell-partitioned index must
    partition-prune — since r14 the probed cells are driver-known
    (flat probe ranking is local), so the scan carries a STATIC
    ``cell IN (...)`` PartitionFilter resolved at PLANNING time — no
    runtime DPP subquery, no broadcast join at all; a 100 TB index
    reads nprobe cells' code files, not the corpus."""
    import re

    from img2dataset_spark.queries import q_ivfpq_fitted_roundtrip

    df = q_ivfpq_fitted_roundtrip(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    low = plan.lower()
    assert re.search(r"partitionfilters: \[[^]]*cell[^]]* in \(", low), plan
    # the probe side is gone from the plan entirely: no join remains
    assert "join" not in low, plan
    assert df.count() == 10


def test_ivfpq_multi_topk_matches_single(spark, emb):
    """The batch search is q single searches in one scan: per-qid
    results equal ivfpq_topk run per query, and a non-dense qid set
    is refused (the 2-level table is indexed by position)."""
    from img2dataset_spark.operators.pq import (
        ivfpq_index,
        ivfpq_multi_topk,
        ivfpq_topk,
        pq_fit,
    )
    from img2dataset_spark.operators.similarity import _as_double, ivf_fit

    ivf_cb = ivf_fit(emb, num_cells=10, iters=2)
    pq_cb = pq_fit(emb, num_subspaces=2, num_codes=4, iters=2)
    idx = ivfpq_index(emb, ivf_cb, pq_cb)
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"),
        _as_double(F.col("embedding")).alias("query_vec"),
    )
    multi = {}
    for r in ivfpq_multi_topk(idx, ivf_cb, pq_cb, qs, k=5,
                              nprobe=2).collect():
        multi.setdefault(r["qid"], []).append((r["vec_id"], r["adc_dist"]))
    assert set(multi) == {0, 1, 2}
    for qid in (0, 1, 2):
        q1 = qs.filter(F.col("qid") == qid).select("query_vec")
        single = [(r["vec_id"], r["adc_dist"]) for r in
                  ivfpq_topk(idx, ivf_cb, pq_cb, q1, k=5,
                             nprobe=2).collect()]
        assert multi[qid] == single, qid

    sparse = qs.withColumn("qid", F.col("qid") * 2)
    with pytest.raises(ValueError, match="dense"):
        ivfpq_multi_topk(idx, ivf_cb, pq_cb, sparse, k=5, nprobe=2)


def test_adc_negative_code_ranks_last(spark, emb, fitted):
    """A corrupt NEGATIVE code must read the rank-last sentinel, not
    element_at's semantics: index 0 (code −1) raises in Spark, and a
    from-the-end index (code −2 → −1) would silently score another
    centroid's real distance into the ranking (r11 advice)."""
    cb, codes = fitted
    corrupt = spark.createDataFrame(
        [(100001, [-1, 0, 0, 0]), (100002, [-2, 0, 0, 0])],
        "vec_id long, codes array<bigint>",
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec")
    )
    n = codes.count()
    got = pq_topk(codes.unionByName(corrupt), cb, q, k=n + 2).collect()
    assert [r["vec_id"] for r in got[-2:]] == [100001, 100002]
    assert all(r["adc_dist"] >= (1 << 55) for r in got[-2:])


def test_multi_topk_literal_ceiling(spark, emb, fitted, monkeypatch):
    """The plan-literal q ceiling is ENFORCED, not just documented
    (r11 verdict nit): past _MULTI_TOPK_MAX_LITERALS the searcher
    names the problem and tells the caller to chunk."""
    from img2dataset_spark.operators import ivf_search
    from img2dataset_spark.operators import pq as pqmod
    from img2dataset_spark.operators.similarity import _as_double, ivf_fit

    cb, codes = fitted
    ivf_cb = ivf_fit(emb, num_cells=4, iters=1)
    idx = pqmod.ivfpq_index(emb, ivf_cb, cb)
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"),
        _as_double(F.col("embedding")).alias("query_vec"),
    )
    monkeypatch.setattr(ivf_search, "_MULTI_TOPK_MAX_LITERALS", 10)
    with pytest.raises(ValueError, match="chunk"):
        pqmod.ivfpq_multi_topk(idx, ivf_cb, cb, qs, k=5, nprobe=2)


def test_ivfpq_multi_topk_residual_matches_single(spark, emb):
    """Batch × residual (the family the recall matrix endorses): the
    per-probed-cell residual CASE of 2-level tables reproduces q
    single residual searches exactly, same l2 probe default."""
    from img2dataset_spark.operators.pq import (
        ivfpq_fit,
        ivfpq_index,
        ivfpq_multi_topk,
        ivfpq_topk,
    )
    from img2dataset_spark.operators.similarity import _as_double

    ivf_cb, pq_cb = ivfpq_fit(
        emb, num_cells=10, num_subspaces=2, num_codes=4, iters=2
    )
    idx = ivfpq_index(emb, ivf_cb, pq_cb, residual=True)
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"),
        _as_double(F.col("embedding")).alias("query_vec"),
    )
    multi = {}
    for r in ivfpq_multi_topk(idx, ivf_cb, pq_cb, qs, k=5, nprobe=2,
                              residual=True).collect():
        multi.setdefault(r["qid"], []).append((r["vec_id"], r["adc_dist"]))
    assert set(multi) == {0, 1, 2}
    for qid in (0, 1, 2):
        q1 = qs.filter(F.col("qid") == qid).select("query_vec")
        single = [(r["vec_id"], r["adc_dist"]) for r in
                  ivfpq_topk(idx, ivf_cb, pq_cb, q1, k=5, nprobe=2,
                             residual=True).collect()]
        assert multi[qid] == single, qid


def test_ivfpq_multi_refine_matches_single(spark, emb):
    """Batch refine == q single refines: the one-vector-pass re-rank
    of all queries' candidate pairs reproduces ivfpq_refine_topk per
    qid exactly (same rf, nprobe, probe default)."""
    from img2dataset_spark.operators.pq import (
        ivfpq_index,
        ivfpq_multi_refine_topk,
        ivfpq_refine_topk,
        pq_fit,
    )
    from img2dataset_spark.operators.similarity import _as_double, ivf_fit

    ivf_cb = ivf_fit(emb, num_cells=10, iters=2)
    pq_cb = pq_fit(emb, num_subspaces=2, num_codes=4, iters=2)
    idx = ivfpq_index(emb, ivf_cb, pq_cb)
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"),
        _as_double(F.col("embedding")).alias("query_vec"),
    )
    multi = {}
    for r in ivfpq_multi_refine_topk(idx, ivf_cb, pq_cb, emb, qs, k=5,
                                     nprobe=2,
                                     refine_factor=4).collect():
        multi.setdefault(r["qid"], []).append((r["vec_id"], r["cos_sim"]))
    assert set(multi) == {0, 1, 2}
    for qid in (0, 1, 2):
        q1 = qs.filter(F.col("qid") == qid).select("query_vec")
        single = [(r["vec_id"], r["cos_sim"]) for r in
                  ivfpq_refine_topk(idx, ivf_cb, pq_cb, emb, q1, k=5,
                                    nprobe=2, refine_factor=4).collect()]
        assert multi[qid] == single, qid


def test_ivfpq_multi_topk_chunked_equals_unchunked(spark, emb):
    """The chunked route returns the SAME relation as one scan — qids
    restored across chunk offsets — at any chunk size; residual mode
    refuses to auto-size (plan literals depend on the probe)."""
    from img2dataset_spark.operators.pq import (
        ivfpq_index,
        ivfpq_multi_topk,
        ivfpq_multi_topk_chunked,
        pq_fit,
    )
    from img2dataset_spark.operators.similarity import _as_double, ivf_fit

    ivf_cb = ivf_fit(emb, num_cells=10, iters=2)
    pq_cb = pq_fit(emb, num_subspaces=2, num_codes=4, iters=2)
    idx = ivfpq_index(emb, ivf_cb, pq_cb)
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"),
        _as_double(F.col("embedding")).alias("query_vec"),
    )
    want = sorted(
        tuple(r)
        for r in ivfpq_multi_topk(idx, ivf_cb, pq_cb, qs, k=5,
                                  nprobe=2).collect()
    )
    for chunk in (1, 2, None):
        got = sorted(
            tuple(r)
            for r in ivfpq_multi_topk_chunked(
                idx, ivf_cb, pq_cb, qs, k=5, nprobe=2,
                max_queries_per_scan=chunk,
            ).collect()
        )
        assert got == want, chunk
    with pytest.raises(ValueError, match="max_queries_per_scan"):
        ivfpq_multi_topk_chunked(idx, ivf_cb, pq_cb, qs, k=5,
                                 residual=True)


def test_ivfpq_multi_topk_chunked_unordered_queries(spark, emb):
    """REGRESSION (r12 advice, high): collect() returns partition
    order, not qid order — a queries_df built in REVERSE qid order
    must still restore each query's results under ITS OWN qid through
    the positional chunking (the fix sorts qrows before chunking;
    without it qid 0 silently received qid 2's neighbors)."""
    from img2dataset_spark.operators.pq import (
        ivfpq_index,
        ivfpq_multi_topk,
        ivfpq_multi_topk_chunked,
        pq_fit,
    )
    from img2dataset_spark.operators.similarity import _as_double, ivf_fit

    ivf_cb = ivf_fit(emb, num_cells=10, iters=2)
    pq_cb = pq_fit(emb, num_subspaces=2, num_codes=4, iters=2)
    idx = ivfpq_index(emb, ivf_cb, pq_cb)
    base = {
        int(r["vec_id"]): [float(x) for x in r["query_vec"]]
        for r in emb.filter(F.col("vec_id") < 3)
        .select("vec_id", _as_double(F.col("embedding")).alias("query_vec"))
        .collect()
    }
    # reverse insertion order AND multiple partitions: collect order
    # disagrees with qid order both ways
    qs = spark.createDataFrame(
        [(qid, base[qid]) for qid in (2, 1, 0)],
        "qid long, query_vec array<double>",
    ).repartition(3)
    want = sorted(
        tuple(r)
        for r in ivfpq_multi_topk(idx, ivf_cb, pq_cb, qs, k=5,
                                  nprobe=2).collect()
    )
    for chunk in (1, 2):
        got = sorted(
            tuple(r)
            for r in ivfpq_multi_topk_chunked(
                idx, ivf_cb, pq_cb, qs, k=5, nprobe=2,
                max_queries_per_scan=chunk,
            ).collect()
        )
        assert got == want, chunk


def test_ivfpq_multi_topk_residual_hierarchical_codebook(spark, emb):
    """REGRESSION (r12 advice, medium): hierarchical codebooks union
    coarse rows whose cell ids (0..k1-1) collide with fine global ids;
    the residual multi scan's centroid collect must see FINE rows only
    or low-numbered probed cells get coarse centroids in their
    query-residual ADC tables.  Pin batch == q singles (the single
    path probes through probe_cells, which always filtered)."""
    from img2dataset_spark.operators.pq import (
        ivfpq_index,
        ivfpq_multi_topk,
        ivfpq_topk,
        pq_fit,
    )
    from img2dataset_spark.operators.similarity import (
        _as_double,
        ivf_fit_hierarchical,
    )

    ivf_cb = ivf_fit_hierarchical(emb, num_cells=9, iters=1, coarse_cells=3)
    assert ivf_cb.filter(F.col("level") == "coarse").count() > 0
    pq_cb = pq_fit(emb, num_subspaces=2, num_codes=4, iters=2)
    idx = ivfpq_index(emb, ivf_cb, pq_cb, residual=True)
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"),
        _as_double(F.col("embedding")).alias("query_vec"),
    )
    multi = {}
    for r in ivfpq_multi_topk(idx, ivf_cb, pq_cb, qs, k=5, nprobe=2,
                              residual=True).collect():
        multi.setdefault(r["qid"], []).append((r["vec_id"], r["adc_dist"]))
    assert set(multi) == {0, 1, 2}
    for qid in (0, 1, 2):
        q1 = qs.filter(F.col("qid") == qid).select("query_vec")
        single = [(r["vec_id"], r["adc_dist"]) for r in
                  ivfpq_topk(idx, ivf_cb, pq_cb, q1, k=5, nprobe=2,
                             residual=True).collect()]
        assert multi[qid] == single, qid


def test_empty_probe_raises_named_error(spark, emb):
    """REGRESSION (r12 advice, low): an empty ivf_codebook used to
    leave the residual CASE's dist=None and die with an opaque
    AttributeError on .otherwise — now every searcher raises a named
    ValueError pointing at the codebook."""
    from img2dataset_spark.operators.pq import (
        ivfpq_index,
        ivfpq_multi_topk,
        ivfpq_multi_topk_versioned,
        ivfpq_topk,
        ivfpq_topk_versioned,
        pq_fit,
    )
    from img2dataset_spark.operators.similarity import _as_double, ivf_fit

    ivf_cb = ivf_fit(emb, num_cells=4, iters=1)
    pq_cb = pq_fit(emb, num_subspaces=2, num_codes=4, iters=1)
    idx = ivfpq_index(emb, ivf_cb, pq_cb, residual=True)
    empty_cb = spark.createDataFrame(
        [], "cell int, centroid array<double>"
    )
    empty_ovr = spark.createDataFrame(
        [], "cell int, subspace int, code int, centroid array<double>"
    )
    q1 = emb.filter(F.col("vec_id") == 0).select(
        _as_double(F.col("embedding")).alias("query_vec")
    )
    qs = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"),
        _as_double(F.col("embedding")).alias("query_vec"),
    )
    with pytest.raises(ValueError, match="probe returned no cells"):
        ivfpq_topk(idx, empty_cb, pq_cb, q1, k=5, nprobe=2, residual=True)
    with pytest.raises(ValueError, match="probe returned no cells"):
        ivfpq_multi_topk(idx, empty_cb, pq_cb, qs, k=5, nprobe=2,
                         residual=True)
    with pytest.raises(ValueError, match="probe returned no cells"):
        ivfpq_topk_versioned(idx, empty_cb, pq_cb, empty_ovr, q1, k=5,
                             nprobe=2, residual=True)
    with pytest.raises(ValueError, match="probe returned no cells"):
        ivfpq_multi_topk_versioned(idx, empty_cb, pq_cb, empty_ovr, qs,
                                   k=5, nprobe=2, residual=True)


def test_invalidate_memoized_counts(spark):
    """The sizing memos key on the DataFrame OBJECT; the r12-advice
    escape hatch evicts one frame or clears both stores."""
    from img2dataset_spark.operators import similarity as S

    df = spark.range(7).withColumnRenamed("id", "cell")
    cb = df.withColumn("centroid", F.array(F.lit(0.0)))
    assert S.memoized_count(df) == 7
    assert S.codebook_num_cells(cb) == 7
    assert id(df) in S._COUNT_MEMO and id(cb) in S._CELL_COUNT_MEMO
    S.invalidate_memoized_counts(df)
    assert id(df) not in S._COUNT_MEMO
    assert id(cb) in S._CELL_COUNT_MEMO  # targeted evict leaves others
    S.invalidate_memoized_counts()
    assert not S._COUNT_MEMO and not S._CELL_COUNT_MEMO
    # recount after eviction still answers correctly
    assert S.memoized_count(df) == 7
