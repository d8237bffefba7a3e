"""Build-counter guards for the IVF searchers: the Spark jobs and Py4J
commands one WARM plan build costs (every codebook, bounds, override
and query frame already memoized), per searcher shape and codec.

Both counters are deterministic for a given code path, so these are
performance regression guards that machine load cannot flake:

- jobs: ``statusTracker().getJobIdsForGroup`` over a job group set
  around the build;
- Py4J commands: a counting wrapper on the gateway client's
  ``send_command``.  The release command a garbage-collected JavaObject
  proxy sends is not counted: when it is sent is up to Python's
  collector, not to the build.

Each bound is the count the searcher had before the IVF search core
(4,000 x 64 vectors, 16 cells, 8 queries), or the lower count the core
brought; a build may cost less, never more.
"""

from __future__ import annotations

import gc

import numpy as np
import pytest

N, DIM, CELLS, NQ = 4000, 64, 16, 8

# py4j's memory-release command prefix (JavaObject finalization)
_RELEASE = "m\nd\n"

# (jobs, Py4J commands) per warm build; "was" is the count before
# the IVF search core
BOUNDS = {
    "ivfbq_multi_topk": (0, 223),  # was (0, 568)
    "ivfbq_refine_topk": (0, 629),  # was (0, 934)
    "ivfbq_topk": (0, 118),  # was (0, 403)
    "ivfpq_multi_refine_topk": (0, 783),  # was (0, 813)
    "ivfpq_multi_topk": (0, 199),  # was (0, 209)
    "ivfpq_multi_topk_chunked": (0, 521),  # was (2, 583)
    "ivfpq_multi_topk_versioned": (1, 284),  # was (1, 294)
    "ivfpq_refine_topk": (0, 629),  # was (0, 659)
    "ivfpq_topk": (0, 118),  # was (0, 128)
    "ivfpq_topk_versioned": (1, 191),  # was (1, 201)
    "ivfsq_multi_refine_topk": (0, 783),  # was (0, 3,232)
    "ivfsq_multi_topk": (0, 199),  # was (0, 2,628)
    "ivfsq_multi_topk_chunked": (0, 521),  # was (2, 3,309)
    "ivfsq_multi_topk_versioned": (1, 284),  # was (1, 1,242)
    "ivfsq_refine_topk": (0, 629),  # was (0, 921)
    "ivfsq_topk": (0, 118),  # was (0, 390)
    "ivfsq_topk_versioned": (1, 191),  # was (1, 588)
}


class _Fixture:
    def __init__(self, spark):
        from img2dataset_spark.operators.bq import ivfbq_index
        from img2dataset_spark.operators.pq import ivfpq_index, pq_fit
        from img2dataset_spark.operators.similarity import (
            ivf_fit,
            literal_multi_query_frame,
            literal_query_frame,
        )
        from img2dataset_spark.operators.sq import ivfsq_index, sq_fit

        rng = np.random.default_rng(7)
        centers = rng.normal(0.0, 1.0, (CELLS, DIM))
        vecs = centers[rng.integers(0, CELLS, N)] + rng.normal(
            0.0, 0.2, (N, DIM)
        )
        self.vectors = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        ).persist()
        self.ivf = ivf_fit(self.vectors, num_cells=CELLS, iters=1)
        self.pq = pq_fit(self.vectors, num_subspaces=4, num_codes=16,
                         iters=1, dim=DIM)
        self.bounds = sq_fit(self.vectors)
        self.pq_index = ivfpq_index(self.vectors, self.ivf, self.pq)
        self.sq_index = ivfsq_index(self.vectors, self.ivf, self.bounds)
        self.bq_index = ivfbq_index(self.vectors, self.ivf)
        qv = [list(map(float, v)) for v in vecs[:NQ] + 0.01]
        self.query = literal_query_frame(spark, qv[0])
        self.queries = literal_multi_query_frame(spark, qv)
        # one overridden cell per family, its book taken from the
        # global one (the counters do not depend on the values)
        pq_rows = self.pq.collect()
        self.pq_ovr = spark.createDataFrame(
            [(0, int(r["subspace"]), int(r["cell"]),
              [float(x) for x in r["centroid"]]) for r in pq_rows],
            "cell long, subspace long, code long, centroid array<double>",
        )
        b_rows = self.bounds.collect()
        self.sq_ovr = spark.createDataFrame(
            [(0, int(r["dim"]), float(r["lo"]) - 0.5, float(r["hi"]) + 0.5)
             for r in b_rows],
            "cell long, dim int, lo double, hi double",
        )

    def build(self, name):
        from img2dataset_spark.operators import bq, pq, sq

        ip, isq, ib = self.pq_index, self.sq_index, self.bq_index
        ivf, book, bounds = self.ivf, self.pq, self.bounds
        q, qs, v = self.query, self.queries, self.vectors
        kw = dict(k=10, nprobe=4)
        return {
            "ivfpq_topk": lambda: pq.ivfpq_topk(ip, ivf, book, q, **kw),
            "ivfpq_multi_topk": lambda: pq.ivfpq_multi_topk(
                ip, ivf, book, qs, **kw),
            "ivfpq_topk_versioned": lambda: pq.ivfpq_topk_versioned(
                ip, ivf, book, self.pq_ovr, q, **kw),
            "ivfpq_multi_topk_versioned":
                lambda: pq.ivfpq_multi_topk_versioned(
                    ip, ivf, book, self.pq_ovr, qs, **kw),
            "ivfpq_multi_topk_chunked": lambda: pq.ivfpq_multi_topk_chunked(
                ip, ivf, book, qs, k=10, max_queries_per_scan=4, nprobe=4),
            "ivfpq_refine_topk": lambda: pq.ivfpq_refine_topk(
                ip, ivf, book, v, q, **kw),
            "ivfpq_multi_refine_topk": lambda: pq.ivfpq_multi_refine_topk(
                ip, ivf, book, v, qs, **kw),
            "ivfsq_topk": lambda: sq.ivfsq_topk(isq, ivf, bounds, q, **kw),
            "ivfsq_multi_topk": lambda: sq.ivfsq_multi_topk(
                isq, ivf, bounds, qs, **kw),
            "ivfsq_topk_versioned": lambda: sq.ivfsq_topk_versioned(
                isq, ivf, bounds, self.sq_ovr, q, **kw),
            "ivfsq_multi_topk_versioned":
                lambda: sq.ivfsq_multi_topk_versioned(
                    isq, ivf, bounds, self.sq_ovr, qs, **kw),
            "ivfsq_multi_topk_chunked": lambda: sq.ivfsq_multi_topk_chunked(
                isq, ivf, bounds, qs, k=10, max_queries_per_scan=4,
                nprobe=4),
            "ivfsq_refine_topk": lambda: sq.ivfsq_refine_topk(
                isq, ivf, bounds, v, q, **kw),
            "ivfsq_multi_refine_topk": lambda: sq.ivfsq_multi_refine_topk(
                isq, ivf, bounds, v, qs, **kw),
            "ivfbq_topk": lambda: bq.ivfbq_topk(ib, ivf, q, **kw),
            "ivfbq_multi_topk": lambda: bq.ivfbq_multi_topk(
                ib, ivf, qs, **kw),
            "ivfbq_refine_topk": lambda: bq.ivfbq_refine_topk(
                ib, ivf, v, q, **kw),
        }[name]


def measure(spark, fx: _Fixture, name: str) -> tuple[int, int]:
    """(jobs, Py4J commands) of one warm build of ``name``: a first
    build fills every memo, the second is counted."""
    build = fx.build(name)
    build()
    sc = spark.sparkContext
    group = f"ivf_counters_{name}"
    sc.setJobGroup(group, name)
    client = sc._gateway._gateway_client
    orig = client.send_command
    calls = [0]

    def counting(command, *a, **kw):
        if not command.startswith(_RELEASE):
            calls[0] += 1
        return orig(command, *a, **kw)

    gc.collect()
    client.send_command = counting
    try:
        build()
    finally:
        client.send_command = orig
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    sc.setJobGroup("", "")
    return jobs, calls[0]


@pytest.fixture(scope="module")
def fx(spark):
    f = _Fixture(spark)
    yield f
    f.vectors.unpersist()


@pytest.mark.parametrize("name", sorted(BOUNDS))
def test_warm_build_counters(spark, fx, name):
    jobs, calls = measure(spark, fx, name)
    max_jobs, max_calls = BOUNDS[name]
    assert jobs <= max_jobs, (name, jobs)
    assert calls <= max_calls, (name, calls)
