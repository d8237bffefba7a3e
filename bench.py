"""Benchmark driver: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": secs, "unit": "sec",
"queries": {name: secs}, "sf": ..., "loadavg_start": [1, 5, 15 min],
"loadavg_end": [...]}.

Each query is materialized with a noop sink (no driver collect, no
result serialization) so the number measures engine execution.

QUIET-BOX RULE (standing since r14; the r13 local sweep started at
loadavg 13 and ~12 untouched-operator rows drifted 10-20%): the
round-close BENCH_r{N}_local.json must be recorded with
loadavg_start[0] below ~2 and max spread <= ~1.3.  The load averages
ride on the stdout contract line, so the committed artifact carries its
own contention evidence; the per-query spread map goes to STDERR as its
own JSON line (the stdout line stays short, so the driver's output-tail
capture can never front-truncate it, which is how the r13
round-over-round comparison died).  They exist so a reader can audit
the rule, but the RULE is to not record the artifact on a contended box
in the first place.  Mid-round iteration runs are exempt; the committed
round-close artifact is not.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from img2dataset_spark.queries import ALL_QUERIES  # noqa: E402
from img2dataset_spark.session import get_spark  # noqa: E402


def _q_embedding_dup_pairs_lsh_auto(spark, sf_dir):
    """Bench twin of embedding_dup_pairs_lsh with DEFAULT parameters —
    since round 5 the default IS the scale-correct configuration (bands
    sized by recommended_band_bits/recommended_num_bands from a corpus
    count).  Not in the oracle registry: the hyperplane count depends on
    the corpus size at runtime, which a static SQL oracle cannot mirror
    (the pinned 32-plane registry variant stays oracle-verified; this
    entry MEASURES what default callers get)."""
    from img2dataset_spark.operators.similarity import embedding_dup_pairs_lsh

    e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    return embedding_dup_pairs_lsh(e, threshold=0.3)


def _q_dedup_substring_spans_hashed(spark, sf_dir):
    """Bench twin of dedup_substring_spans with 64-bit gram hashing —
    the ENGINE DEFAULT since round 6 (the 100 TB shuffle-width knob).
    Not in the registry: DuckDB has no xxhash64, so a static oracle
    cannot mirror the hashed keys; the string-gram registry query pins
    correctness, this entry MEASURES what default callers get."""
    import os as _os

    from img2dataset_spark.operators.substring import duplicated_spans

    d = spark.read.parquet(_os.path.join(sf_dir, "documents.parquet"))
    return duplicated_spans(d, k=5, min_count=2, hash_grams=True)


def _q_semantic_dedup_auto(spark, sf_dir):
    """Bench twin of semantic_dedup with num_cells=None — the ENGINE
    DEFAULT (occupancy-pinned cluster count via recommended_num_cells).
    Not in the registry: the auto k depends on the corpus row count, so
    a static SQL oracle cannot mirror the seed set; the pinned-10-cell
    registry query pins correctness, this entry MEASURES the default.

    Reads HIGHER than the pinned twin on the synthetic tables and that
    is recall, not regression (step-timed at sf1): occupancy-pinned
    cells are PURER clusters, so at the bench's loose 0.3 threshold
    far more within-cell pairs qualify and the verifier emits them —
    more near-dups found costs more output.  Fit cost is linear in k."""
    import os as _os

    from img2dataset_spark.operators.similarity import semantic_dedup

    e = spark.read.parquet(_os.path.join(sf_dir, "embeddings.parquet"))
    return semantic_dedup(e, threshold=0.3)


def _q_semantic_dedup_hier(spark, sf_dir):
    """Bench twin of semantic_dedup with the HIERARCHICAL codebook
    FORCED at the auto-sized k (the path that auto-engages past
    FLAT_CODEBOOK_MAX_CELLS): coarse ~sqrt(k) fit + per-coarse-cell
    applyInPandas fine Lloyd + salted-cogroup assignment.  Not in the
    registry (hierarchical assignment is the documented two-level IVF
    approximation, no SQL twin); this entry MEASURES the overhead of
    the beyond-ceiling plan relative to semantic_dedup_auto at the
    same corpus, so the flat-vs-hierarchical crossover is a recorded
    number instead of a guess."""
    import os as _os

    from img2dataset_spark.operators.similarity import (
        ivf_fit_hierarchical,
        recommended_num_cells,
        semantic_dedup,
    )

    e = spark.read.parquet(_os.path.join(sf_dir, "embeddings.parquet"))
    k = recommended_num_cells(e.count())
    cb = ivf_fit_hierarchical(e, k, iters=2)
    return semantic_dedup(e, threshold=0.3, codebook=cb)


_PQ_ARTIFACTS: dict[str, str] = {}


def _cleanup_artifacts() -> None:
    """Remove the fitted-index scratch dirs at exit — at sf10/sf30 the
    codebooks + three cell-partitioned indexes are sizeable, and leaked
    /tmp is exactly the stale-blockmgr hygiene problem this repo already
    polices."""
    import shutil

    for path in _PQ_ARTIFACTS.values():
        shutil.rmtree(path, ignore_errors=True)
    _PQ_ARTIFACTS.clear()


import atexit  # noqa: E402

atexit.register(_cleanup_artifacts)


def _pq_fitted_artifacts(spark, sf_dir: str) -> str:
    """The one-off PQ indexing job, run UNTIMED (PREPARE hook): train
    codebooks at production-ish settings (m=8 subspaces, k=16 codes,
    occupancy-pinned coarse cells), encode, and write codebooks + codes
    + cell-partitioned IVF+PQ indexes to parquet — the artifact a
    deployment builds once per corpus version.  The *_fitted bench rows
    then measure ONLY the production query shape: read codebook rows,
    inline the literal ADC tables, scan compressed codes (pruned to the
    probed cells' files), TakeOrdered — zero Lloyd fits in the timed
    region.  Memoized per sf_dir, so the 2-4 timed runs share one
    build."""
    if sf_dir in _PQ_ARTIFACTS:
        return _PQ_ARTIFACTS[sf_dir]
    import tempfile

    from img2dataset_spark.operators.pq import (
        ivfpq_fit,
        ivfpq_index,
        pq_encode,
        pq_fit,
    )
    from img2dataset_spark.operators.similarity import (
        ivf_fit,
        recommended_num_cells,
    )

    e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    k_coarse = recommended_num_cells(e.count())
    base = tempfile.mkdtemp(prefix="pq_fitted_bench_")
    pq_cb = pq_fit(e, num_subspaces=8, num_codes=16, iters=2)
    pq_cb.write.parquet(base + "/pq_cb")
    pq_cb_rd = spark.read.parquet(base + "/pq_cb")
    pq_encode(e, pq_cb_rd).write.parquet(base + "/codes")
    pq_encode(e, pq_cb_rd, packed=True).write.parquet(base + "/codes_packed")
    # FAISS-default codebook width (k=256/subspace): the ADC scan's
    # literal map grows to m*256 longs — the k256 bench row measures
    # whether that stays inside the codegen budget (the sq_fit lesson:
    # measure, don't assume)
    pq_cb256 = pq_fit(e, num_subspaces=8, num_codes=256, iters=2)
    pq_cb256.write.parquet(base + "/pq_cb256")
    pq_encode(e, spark.read.parquet(base + "/pq_cb256")).write.parquet(
        base + "/codes256"
    )
    ivf_cb = ivf_fit(e, num_cells=k_coarse, iters=2)
    ivf_cb.write.parquet(base + "/ivf_cb")
    # assign ONCE per coarse codebook (r14): the read-back ivf_cb
    # drives five index/maintenance builds below — share one persisted
    # assignment pass via the operators' assigned= parameter
    from img2dataset_spark.operators.similarity import ivf_assign

    ivf_rd0 = spark.read.parquet(base + "/ivf_cb")
    tagged_e = ivf_assign(e, ivf_rd0)
    tagged_e = tagged_e.persist()
    tagged_e.count()
    ivfpq_index(
        e, ivf_rd0, pq_cb_rd, assigned=tagged_e
    ).write.partitionBy("cell").parquet(base + "/index")
    rivf_cb, rpq_cb = ivfpq_fit(
        e, num_cells=k_coarse, num_subspaces=8, num_codes=16, iters=2
    )
    rivf_cb.write.parquet(base + "/rivf_cb")
    rpq_cb.write.parquet(base + "/rpq_cb")
    ivfpq_index(
        e,
        spark.read.parquet(base + "/rivf_cb"),
        spark.read.parquet(base + "/rpq_cb"),
        residual=True,
    ).write.partitionBy("cell").parquet(base + "/rindex")
    from img2dataset_spark.operators.sq import ivfsq_index, sq_fit

    sq_fit(e, dim=64).write.parquet(base + "/sq_bounds")
    ivfsq_index(
        e,
        spark.read.parquet(base + "/ivf_cb"),
        spark.read.parquet(base + "/sq_bounds"),
    ).write.partitionBy("cell").parquet(base + "/sq_index")
    from img2dataset_spark.operators.bq import bq_encode, ivfbq_index

    bq_encode(e, num_planes=64, dim=64).write.parquet(base + "/bq_codes")
    ivfbq_index(
        e, spark.read.parquet(base + "/ivf_cb"), num_planes=64, dim=64
    ).write.partitionBy("cell").parquet(base + "/bq_index")
    # versioned-index artifacts (the selective-refit search shape): a
    # SEPARATE index dir (rewrite mutates partitions — the shared
    # /index must stay pristine for the other fitted rows), drift
    # flags from a 70/30 hash split, per-cell refit books, flagged
    # cells rewritten
    from pyspark.sql import functions as F

    from img2dataset_spark.operators.maintain import (
        index_occupancy,
        occupancy_drift,
        pq_reencode_cells,
        pq_refit_cells,
        rewrite_index_cells,
    )
    from img2dataset_spark.operators.similarity import ivf_assign

    ivf_rd = ivf_rd0
    pq_rd = spark.read.parquet(base + "/pq_cb")
    ivfpq_index(e, ivf_rd, pq_rd, assigned=tagged_e).write.partitionBy(
        "cell"
    ).parquet(base + "/vindex")
    tagged_vbase = tagged_e.filter(F.col("vec_id") % 10 < 7)
    flagged = (
        occupancy_drift(
            index_occupancy(tagged_vbase),
            index_occupancy(tagged_e),
            threshold=1.02,
        )
        .filter(F.col("retrain"))
        .select("cell")
    )
    if flagged.limit(1).count() > 0:
        pq_refit_cells(e, ivf_rd, flagged, num_subspaces=8, num_codes=16,
                       iters=2, assigned=tagged_e).write.parquet(
            base + "/overrides")
        rewrite_index_cells(
            pq_reencode_cells(e, ivf_rd,
                              spark.read.parquet(base + "/overrides"),
                              assigned=tagged_e),
            base + "/vindex",
        )
    else:
        # no drift at this scale point: version 1 is empty and the
        # versioned search degrades to the global book (still timed —
        # the CASE machinery's zero-override cost)
        spark.createDataFrame(
            [], "cell long, subspace long, code long, centroid array<double>"
        ).write.parquet(base + "/overrides")
    # residual-versioned artifacts (true LOPQ, r12): the same selective
    # refit composed with the RESIDUAL family — per-cell books fit on
    # coarse residuals of the flagged cells, flagged rows residual-
    # re-encoded, separate index dir (rewrite mutates partitions)
    rivf_rd = spark.read.parquet(base + "/rivf_cb")
    rpq_rd = spark.read.parquet(base + "/rpq_cb")
    tagged_r = ivf_assign(e, rivf_rd).persist()
    tagged_r.count()
    ivfpq_index(e, rivf_rd, rpq_rd, residual=True,
                assigned=tagged_r).write.partitionBy(
        "cell"
    ).parquet(base + "/rvindex")
    rflagged = (
        occupancy_drift(
            index_occupancy(tagged_r.filter(F.col("vec_id") % 10 < 7)),
            index_occupancy(tagged_r),
            threshold=1.02,
        )
        .filter(F.col("retrain"))
        .select("cell")
    )
    if rflagged.limit(1).count() > 0:
        pq_refit_cells(e, rivf_rd, rflagged, num_subspaces=8, num_codes=16,
                       iters=2, residual=True,
                       assigned=tagged_r).write.parquet(
            base + "/roverrides"
        )
        rewrite_index_cells(
            pq_reencode_cells(e, rivf_rd,
                              spark.read.parquet(base + "/roverrides"),
                              residual=True, assigned=tagged_r),
            base + "/rvindex",
        )
    else:
        spark.createDataFrame(
            [], "cell long, subspace long, code long, centroid array<double>"
        ).write.parquet(base + "/roverrides")
    tagged_r.unpersist()
    # SQ-versioned artifacts (r13: the SQ half of the maintenance
    # loop): the same drift flags drive a per-cell BOUNDS refit —
    # separate index dir, flagged cells rewritten with their own
    # bounds' byte codes
    from img2dataset_spark.operators.maintain import (
        sq_reencode_cells,
        sq_refit_cells,
    )

    ivfsq_index(
        e, ivf_rd, spark.read.parquet(base + "/sq_bounds"),
        assigned=tagged_e
    ).write.partitionBy("cell").parquet(base + "/sq_vindex")
    if flagged.limit(1).count() > 0:
        sq_refit_cells(e, ivf_rd, flagged,
                       assigned=tagged_e).write.parquet(
            base + "/sq_overrides"
        )
        rewrite_index_cells(
            sq_reencode_cells(e, ivf_rd,
                              spark.read.parquet(base + "/sq_overrides"),
                              assigned=tagged_e),
            base + "/sq_vindex",
        )
    else:
        spark.createDataFrame(
            [], "cell long, dim int, lo double, hi double"
        ).write.parquet(base + "/sq_overrides")
    tagged_e.unpersist()
    _PQ_ARTIFACTS[sf_dir] = base
    return base


def _fitted_query_vec(spark, sf_dir):
    from img2dataset_spark.queries import _query_vec

    return _query_vec(spark, sf_dir)


# ---------------------------------------------------------------------------
# Table-driven *_fitted bench twins (r12 verdict item 6): every twin is
# "read pre-built artifacts, run ONE searcher" — a spec row instead of a
# function.  Tokens: "@dir" = parquet under the artifact base; "EMB" =
# the embeddings table; "WAVE" = its 10% hash-slice; "Q" = the 1-row
# query frame; "QS" = the 3-probe batch frame.  Adding a family's twin
# is one dict entry.
# ---------------------------------------------------------------------------

_FITTED_SPECS: dict[str, dict] = {
    "pq_adc_topk_fitted": dict(
        fn="pq:pq_topk", args=["@codes", "@pq_cb", "Q"], kw=dict(k=10),
        doc="SEARCH-ONLY PQ: codebook + codes from parquet — the "
            "compressed ADC scan alone (pq_adc_topk re-trains per run, "
            "so its number is fit-dominated)."),
    "pq_adc_topk_fitted_packed": dict(
        fn="pq:pq_topk", args=["@codes_packed", "@pq_cb", "Q"],
        kw=dict(k=10, packed=True),
        doc="Packed-codes twin (byte-packed words, shift+mask slices): "
            "same search, smaller scan — the storage A/B."),
    "pq_adc_topk_fitted_k256": dict(
        fn="pq:pq_topk", args=["@codes256", "@pq_cb256", "Q"], kw=dict(k=10),
        doc="FAISS-default k=256 codes/subspace: m*256 = 2048 literal "
            "longs in the plan — the codegen-budget stress test (r10 "
            "item 4)."),
    "ivfpq_topk_fitted": dict(
        fn="pq:ivfpq_topk", args=["@index", "@ivf_cb", "@pq_cb", "Q"],
        kw=dict(k=10, nprobe=4),
        doc="SEARCH-ONLY IVF+PQ: probe-rank -> partition-pruned ADC "
            "scan -> TakeOrdered (zero fits)."),
    "ivfpq_topk_versioned_fitted": dict(
        fn="pq:ivfpq_topk_versioned",
        args=["@vindex", "@ivf_cb", "@pq_cb", "@overrides", "Q"],
        kw=dict(k=10, nprobe=4),
        doc="SEARCH-ONLY versioned search: mixed index + override "
            "relation from parquet; per-probed-cell CASE ADC scan — "
            "zero fits, zero refits."),
    "ivfpq_multi_topk_fitted": dict(
        fn="pq:ivfpq_multi_topk", args=["@index", "@ivf_cb", "@pq_cb", "QS"],
        kw=dict(k=10, nprobe=4),
        doc="SEARCH-ONLY batch: three probes through ONE pass over the "
            "pre-built index — the amortization vs 3x single scans."),
    "ivfpq_refine_topk_fitted": dict(
        fn="pq:ivfpq_refine_topk",
        args=["@index", "@ivf_cb", "@pq_cb", "EMB", "Q"],
        kw=dict(k=10, nprobe=4, refine_factor=4),
        doc="SEARCH-ONLY two-stage refine: compressed ADC top-40, exact "
            "re-rank of just those rows via broadcast semi-join."),
    "ivfpq_residual_topk_fitted": dict(
        fn="pq:ivfpq_topk", args=["@rindex", "@rivf_cb", "@rpq_cb", "Q"],
        kw=dict(k=10, nprobe=4, residual=True),
        doc="SEARCH-ONLY residual IVF+PQ: per-probed-cell literal ADC "
            "tables over the pre-built residual index."),
    "ivfpq_refit_residual_fitted": dict(
        fn="pq:ivfpq_topk_versioned",
        args=["@rvindex", "@rivf_cb", "@rpq_cb", "@roverrides", "Q"],
        kw=dict(k=10, nprobe=4, residual=True),
        doc="SEARCH-ONLY versioned RESIDUAL search (true LOPQ): mixed "
            "residual index + per-cell books from parquet."),
    "ivfsq_multi_topk_fitted": dict(
        fn="sq:ivfsq_multi_topk",
        args=["@sq_index", "@ivf_cb", "@sq_bounds", "QS"],
        kw=dict(k=10, nprobe=4),
        doc="SEARCH-ONLY batch SQ8: three probes through ONE pass over "
            "the pre-built byte-code index."),
    "ivfbq_multi_topk_fitted": dict(
        fn="bq:ivfbq_multi_topk", args=["@bq_index", "@ivf_cb", "QS"],
        kw=dict(k=10, nprobe=4, num_planes=64, dim=64),
        doc="SEARCH-ONLY batch BQ: three probes through ONE pass over "
            "the pre-built packed-word index."),
    "ivfpq_refine_auto_fitted": dict(
        fn="pq:ivfpq_refine_topk",
        args=["@index", "@ivf_cb", "@pq_cb", "EMB", "Q"],
        kw=dict(k=10, nprobe=4, refine_target_occupancy=64),
        doc="SEARCH-ONLY refine with refine_factor=None sizing: what "
            "the auto-sized exact re-rank costs vs the fixed-rf twin."),
    "ivfpq_multi_refine_fitted": dict(
        fn="pq:ivfpq_multi_refine_topk",
        args=["@index", "@ivf_cb", "@pq_cb", "EMB", "QS"],
        kw=dict(k=10, nprobe=4, refine_factor=4),
        doc="SEARCH-ONLY batch refine: one codes pass for three "
            "queries' candidates + ONE vector re-rank pass."),
    "ivfpq_multi_versioned_fitted": dict(
        fn="pq:ivfpq_multi_topk_versioned",
        args=["@rvindex", "@rivf_cb", "@rpq_cb", "@roverrides", "QS"],
        kw=dict(k=10, nprobe=4, residual=True),
        doc="SEARCH-ONLY batch over the MAINTAINED residual index: "
            "three probes, one mixed-codes pass, per-cell-book CASE."),
    "ivfpq_multi_versioned_chunked_fitted": dict(
        fn="pq:ivfpq_multi_topk_chunked",
        args=["@rvindex", "@rivf_cb", "@rpq_cb", "QS"],
        kw=dict(k=10, nprobe=4, residual=True, max_queries_per_scan=2),
        kwf=dict(overrides="@roverrides"),
        doc="The sanctioned past-the-ceiling route on the MAINTAINED "
            "index (r13): same three probes as the unchunked twin but "
            "split 2+1 across scans — the measured cost of chunking."),
    "ivfpq_refine_versioned_fitted": dict(
        fn="pq:ivfpq_refine_topk_versioned",
        args=["@rvindex", "@rivf_cb", "@rpq_cb", "@roverrides", "EMB", "Q"],
        kw=dict(k=10, nprobe=4, refine_factor=4, residual=True),
        doc="SEARCH-ONLY refine over the MAINTAINED residual index "
            "(r14): versioned mixed-codes screen to top-40, exact "
            "cosine re-rank via broadcast semi-join — the production "
            "shape that reaches refine-level recall on a refit corpus."),
    "ivfpq_refine_versioned_auto_fitted": dict(
        fn="pq:ivfpq_refine_topk_versioned",
        args=["@rvindex", "@rivf_cb", "@rpq_cb", "@roverrides", "EMB", "Q"],
        kw=dict(k=10, nprobe=4, residual=True, refine_target_occupancy=64),
        doc="The same maintained-index refine with refine_factor=None "
            "— the corpus-aware auto-rf pool vs the fixed-rf twin."),
    "ivfpq_multi_refine_versioned_fitted": dict(
        fn="pq:ivfpq_multi_refine_topk",
        args=["@rvindex", "@rivf_cb", "@rpq_cb", "EMB", "QS"],
        kw=dict(k=10, nprobe=4, refine_factor=4, residual=True),
        kwf=dict(overrides="@roverrides"),
        doc="Batch refine over the MAINTAINED index: one versioned "
            "mixed-codes pass for three queries' candidates + ONE "
            "exact-cosine vector pass."),
    "ivfsq_multi_versioned_chunked_fitted": dict(
        fn="sq:ivfsq_multi_topk_chunked",
        args=["@sq_vindex", "@ivf_cb", "@sq_bounds", "QS"],
        kw=dict(k=10, nprobe=4, max_queries_per_scan=2),
        kwf=dict(overrides="@sq_overrides"),
        doc="The SQ family's sanctioned past-the-ceiling route (r14): "
            "same three probes as the unchunked versioned twin but "
            "split 2+1 across scans — the measured chunking cost."),
    "ivfsq_topk_fitted": dict(
        fn="sq:ivfsq_topk", args=["@sq_index", "@ivf_cb", "@sq_bounds", "Q"],
        kw=dict(k=10, nprobe=4),
        doc="SEARCH-ONLY IVF+SQ8: probe-rank -> pruned symmetric int64 "
            "byte scan -> TakeOrdered."),
    "ivfsq_refit_versioned_fitted": dict(
        fn="sq:ivfsq_topk_versioned",
        args=["@sq_vindex", "@ivf_cb", "@sq_bounds", "@sq_overrides", "Q"],
        kw=dict(k=10, nprobe=4),
        doc="SEARCH-ONLY versioned SQ search (r13): mixed bounds index "
            "from parquet, asymmetric reconstruction CASE — the SQ "
            "maintenance loop's production query shape."),
    "ivfsq_multi_versioned_fitted": dict(
        fn="sq:ivfsq_multi_topk_versioned",
        args=["@sq_vindex", "@ivf_cb", "@sq_bounds", "@sq_overrides", "QS"],
        kw=dict(k=10, nprobe=4),
        doc="SEARCH-ONLY batch over the MAINTAINED SQ index (r13): "
            "three probes, one mixed byte-codes pass, per-cell-bounds "
            "CASE with a shared 2-level quantized-query literal."),
    "bq_topk_fitted": dict(
        fn="bq:bq_topk", args=["@bq_codes", "Q"],
        kw=dict(k=10, num_planes=64, dim=64),
        doc="SCAN-ONLY BQ: ceil(p/32) popcounts per row + TakeOrdered "
            "— the cheapest possible ANN screen."),
    "ivfbq_topk_fitted": dict(
        fn="bq:ivfbq_topk", args=["@bq_index", "@ivf_cb", "Q"],
        kw=dict(k=10, nprobe=4, num_planes=64, dim=64),
        doc="SEARCH-ONLY IVF+BQ: probe-rank -> pruned popcount scan -> "
            "TakeOrdered."),
    "bq_refine_topk_fitted": dict(
        fn="bq:bq_refine_topk", args=["@bq_codes", "EMB", "Q"],
        kw=dict(k=10, refine_factor=4, num_planes=64, dim=64),
        doc="SEARCH-ONLY binary refine: popcount screen to top-40, "
            "exact-cosine re-rank via broadcast semi-join."),
    "ivfpq_index_full": dict(
        fn="pq:ivfpq_index", args=["EMB", "@ivf_cb", "@pq_cb"], kw={},
        doc="The FULL re-index encode pass (pre-trained books) — the "
            "denominator of the wave-append story."),
    "ivfpq_index_append_wave": dict(
        fn="pq:ivfpq_index", args=["WAVE", "@ivf_cb", "@pq_cb"], kw={},
        doc="The wave-APPEND encode pass: the same assignment+encode "
            "restricted to a 10% hash-slice wave — FAISS add(); the "
            "ratio to ivfpq_index_full should track the wave fraction."),
}


def _resolve_token(tok: str, spark, sf_dir: str, base: str):
    from pyspark.sql import functions as F

    if tok.startswith("@"):
        return spark.read.parquet(f"{base}/{tok[1:]}")
    if tok == "EMB":
        return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    if tok == "WAVE":
        e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        return e.filter(F.col("vec_id") % 10 == 7)
    if tok == "Q":
        return _fitted_query_vec(spark, sf_dir)
    if tok == "QS":
        from pyspark.sql import functions as F

        from img2dataset_spark.operators.similarity import _as_double

        e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        return e.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("qid"),
            _as_double(F.col("embedding")).alias("query_vec"),
        )
    raise ValueError(f"unknown fitted-spec token {tok!r}")


def _make_fitted(name: str, spec: dict):
    def q(spark, sf_dir):
        import importlib

        base = _pq_fitted_artifacts(spark, sf_dir)
        mod, fn = spec["fn"].split(":")
        f = getattr(
            importlib.import_module(f"img2dataset_spark.operators.{mod}"),
            fn,
        )
        args = [_resolve_token(t, spark, sf_dir, base) for t in spec["args"]]
        kw = dict(spec.get("kw", {}))
        for key, t in spec.get("kwf", {}).items():
            kw[key] = _resolve_token(t, spark, sf_dir, base)
        return f(*args, **kw)

    q.__name__ = f"_q_{name}"
    q.__doc__ = spec["doc"]
    return q


BENCH_ONLY = {
    "embedding_dup_pairs_lsh_auto": _q_embedding_dup_pairs_lsh_auto,
    "dedup_substring_spans_hashed": _q_dedup_substring_spans_hashed,
    "semantic_dedup_auto": _q_semantic_dedup_auto,
    "semantic_dedup_hier": _q_semantic_dedup_hier,
    **{name: _make_fitted(name, spec)
       for name, spec in _FITTED_SPECS.items()},
}
RESOLVE = {**ALL_QUERIES, **BENCH_ONLY}

# untimed per-query setup (the one-off indexing job every *_fitted row
# searches against); memoized, so all spec rows share one build
PREPARE = {name: _pq_fitted_artifacts for name in _FITTED_SPECS}

HEADLINE = [
    "tpch_q1",
    "tpch_q6",
    "tpch_q3",
    "tpch_q5",
    "a1_status_counts",
    "w2_running_sum",
    "r1_sharding",
    "text_stats",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_vs_corpus",
    "dedup_substring_spans",
    "dedup_substring_spans_hashed",
    "url_dedup",
    "ann_cosine_topk",
    "ann_ivf_fit_topk",
    "pq_adc_topk",
    "pq_adc_topk_packed",
    "ivfpq_topk",
    "ivfpq_topk_sized",
    "ivfpq_multi_topk",
    "ivfpq_multi_topk_residual",
    "ivfpq_multi_refine_topk",
    "ivfpq_fitted_roundtrip",
    "ivfpq_refit_versioned",
    "ivfpq_refit_distortion",
    "ivfpq_refit_residual",
    "ivfpq_refit_refine",
    "ivfsq_refit_versioned",
    "ivfsq_refit_escalation",
    "ann_cell_split",
    "ann_refit_recall_ledger",
    "ivfpq_refine_topk_sized",
    "ivfpq_residual_topk",
    "ivfpq_refine_topk",
    "sq8_topk",
    "ivfsq_topk",
    "ivfsq_multi_topk",
    "ivfbq_multi_topk",
    "bq_topk",
    "bq_refine_topk",
    "ivfbq_topk",
    "ivfbq_refine_topk",
    "pq_adc_topk_fitted",
    "pq_adc_topk_fitted_packed",
    "pq_adc_topk_fitted_k256",
    "ivfpq_topk_fitted",
    "ivfpq_topk_versioned_fitted",
    "ivfpq_multi_topk_fitted",
    "ivfpq_refine_topk_fitted",
    "ivfpq_residual_topk_fitted",
    "ivfpq_refit_residual_fitted",
    "ivfsq_multi_topk_fitted",
    "ivfbq_multi_topk_fitted",
    "ivfpq_refine_auto_fitted",
    "ivfpq_multi_refine_fitted",
    "ivfpq_multi_versioned_fitted",
    "ivfpq_multi_versioned_chunked_fitted",
    "ivfpq_refine_versioned_fitted",
    "ivfpq_refine_versioned_auto_fitted",
    "ivfpq_multi_refine_versioned_fitted",
    "ivfsq_topk_fitted",
    "ivfsq_refit_versioned_fitted",
    "ivfsq_multi_versioned_fitted",
    "ivfsq_multi_versioned_chunked_fitted",
    "bq_topk_fitted",
    "ivfbq_topk_fitted",
    "bq_refine_topk_fitted",
    "ivfpq_index_full",
    "ivfpq_index_append_wave",
    "ivfpq_index_append",
    "ann_occupancy_drift",
    "ann_ivf_hier_assign",
    "embedding_dup_pairs_lsh",
    "embedding_dup_pairs_lsh_auto",
    "decontamination",
    "redact_pii",
    "resample_mixture",
    "text_fingerprint",
    "pack_sequences",
    "pack_blocks",
    "text_vocab",
    "text_lm_score",
    "quality_flags",
    "events_asof",
    "events_range_join",
    "sessionize",
    "events_salted_join",
    "dedup_survivors",
    "dedup_components",
    "curation_e2e",
    "curation_substr",
    "ingest_wave_e2e",
    "pipeline_e2e",
    "bm25_topk",
    "bm25_multi_topk",
    "semantic_dedup",
    "semantic_dedup_auto",
    "semantic_dedup_vs",
    "aspect_buckets",
    "dedup_phash",
    "pipeline_aspect_resize",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="img2dataset_spark_bench")
    # warm the JVM/codegen path and the Python worker pool (not counted):
    # the first Arrow-UDF stage spawns one pyspark worker per core, a
    # fixed ~seconds cost that would otherwise land on whichever query
    # happens to hit Python first.
    spark.range(1000).selectExpr("sum(id)").collect()
    (
        spark.range(64)
        .repartition(int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4)))
        .mapInPandas(lambda it: it, "id long")
        .count()
    )

    load_start = os.getloadavg()

    def run_once(name: str) -> float:
        # operators persist() frames reused across self-join subtrees;
        # drop leftover cache between queries so each is measured cold
        spark.catalog.clearCache()
        t0 = time.time()
        RESOLVE[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 3)

    # Timed runs per query, keep the min: a transiently contended box
    # (round 2's bench recorded 1.3-6x phantom "regressions" from driver
    # co-jobs) can slow one run, but rarely several.  ADAPTIVE depth —
    # two runs normally, but while the two fastest samples still
    # disagree by >30% keep sampling (cap 4), so a single noisy run of
    # a LIGHT query can't print as a phantom round-over-round swing
    # (r4->r5 recorded 1.4-1.7x swings on sub-5s queries that the
    # heavy-six-only quiet pass never re-checked).  The per-query
    # spread (second_fastest/fastest) ships in the JSON so a reader can
    # see which numbers were contended rather than trusting the
    # methodology note.
    times: dict[str, float] = {}
    spread: dict[str, float] = {}
    for name in HEADLINE:
        if name in PREPARE:
            PREPARE[name](spark, sf_dir)  # untimed one-off indexing job
        runs = [run_once(name), run_once(name)]
        while len(runs) < 4 and sorted(runs)[1] > 1.3 * sorted(runs)[0]:
            runs.append(run_once(name))
        times[name] = min(runs)
        spread[name] = round(sorted(runs)[1] / sorted(runs)[0], 3)
        print(f"  {name}: {times[name]}s (runs {runs})", file=sys.stderr, flush=True)

    total = round(sum(times.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # The spread map goes to STDERR (r15, verdict item 3): the r13
    # round-over-round comparison died because the one stdout JSON
    # line, grown to several KB by the 102-entry spread map, was
    # front-truncated by the driver's output-tail capture.  The stdout
    # contract line stays short and is printed LAST, so a tail capture
    # always contains it whole.
    print(
        json.dumps(
            {
                "diagnostics": "bench",
                "timing": "adaptive_min_of_2_to_4_runs",
                # per-query second_fastest/fastest ratio: ~1.0 = stable
                # samples, >1.3 = still contended after 4 runs
                "spread": spread,
            }
        ),
        file=sys.stderr,
        flush=True,
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": times,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                # contention self-identification: 1/5/15-min load averages
                # at start and end of the run (load above the core count
                # means the numbers above include neighbour noise)
                "loadavg_start": [round(x, 2) for x in load_start],
                "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
