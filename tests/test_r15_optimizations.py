"""Equivalence pins for the r15 optimization round: every rewrite is a
pure performance change, so each one gets a test asserting the new path
produces EXACTLY what the old path produced.

- quality_flags' repetition signals as JVM higher-order-function
  expressions (repetition_fractions) vs the Arrow UDF they replaced
  (make_repetition_udf, kept for exactly this pin).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


class TestRepetitionExpressions:
    """r15: the top-token / top-bigram fractions moved from an Arrow
    UDF to pure JVM higher-order functions — quality_flags (and every
    composite embedding it: ingest_wave_e2e, pipeline_e2e, curation_e2e,
    decontamination) now has ZERO Python boundary.  The expressions must
    reproduce the UDF bit-exactly on the corpus and on the hostile
    ASCII-whitespace edge cases.

    (Known, documented divergence OUTSIDE the engine's data contract:
    non-ASCII whitespace — U+00A0, U+3000 … — which Python's ``\\s``
    matches but Java's and RE2's do not.  There the NEW expression form
    agrees with the DuckDB SQL oracle and the relational
    text_repetition twin; the old UDF was the outlier.  No generator
    table contains such text, and the full-SF sweep in this pin plus
    the oracle replay keep that pinned.)"""

    def _both(self, spark, df):
        from img2dataset_spark.operators.quality import (
            make_repetition_udf,
            with_repetition_fractions,
        )

        rep = make_repetition_udf()(F.col("text"))
        old = df.select(
            "doc_id",
            rep.getField("ttf").alias("ttf"),
            rep.getField("tbf").alias("tbf"),
        )
        new = with_repetition_fractions(df.select("doc_id", "text")).select(
            "doc_id", "ttf", "tbf"
        )
        o = {r["doc_id"]: (r["ttf"], r["tbf"]) for r in old.collect()}
        n = {r["doc_id"]: (r["ttf"], r["tbf"]) for r in new.collect()}
        return o, n

    def test_corpus_bit_identical(self, spark, docs):
        o, n = self._both(spark, docs)
        assert o == n

    def test_edge_cases_bit_identical(self, spark):
        edge = spark.createDataFrame(
            [
                (1, None),
                (2, ""),
                (3, "   "),
                (4, "\t\n "),
                (5, "one"),
                (6, " one "),
                (7, "a a a b"),
                (8, "\tleading tab"),
                (9, "trailing space  "),
                (10, "x   y"),
                (11, "A a A"),
                (12, ("word " * 200).strip()),
                (13, "ab"),
                (14, "solo-bigram pair"),
                (15, "rep rep rep rep nonrep"),
            ],
            "doc_id long, text string",
        )
        o, n = self._both(spark, edge)
        assert o == n
        # the null semantics the composites rely on: no token -> NULL
        assert n[1] == (None, None)
        assert n[2] == (None, None)
        assert n[5] == (1.0, None)

    def test_quality_flags_has_no_python_node(self, spark, docs):
        from img2dataset_spark.operators.quality import quality_flags

        plan = quality_flags(docs)._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan and "BatchEval" not in plan


class TestRecallLedgerBatching:
    """r15: the recall ledgers answered q probes with q exact jobs per
    metric and q searcher jobs per family; both now collapse into ONE
    batch job each (exact_multi_topk; the parity-pinned
    *_multi_topk_versioned searchers).  The relation must be
    byte-identical to the per-probe loop's."""

    @pytest.fixture(scope="class")
    def emb(self, spark):
        return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    def test_exact_multi_topk_matches_per_probe(self, spark, emb):
        from img2dataset_spark.operators.recall import (
            exact_l2_topk,
            exact_multi_topk,
            sample_query_vectors,
        )
        from img2dataset_spark.operators.similarity import (
            cosine_topk,
            literal_multi_query_frame,
            literal_query_frame,
        )

        probes = sample_query_vectors(emb, 4)
        qs = literal_multi_query_frame(spark, [v for _, v in probes])
        for metric, single in (("l2", exact_l2_topk),
                               ("cosine", cosine_topk)):
            batch: dict[int, set] = {}
            for r in exact_multi_topk(emb, qs, k=5, metric=metric).collect():
                batch.setdefault(int(r[0]), set()).add(r[1])
            for i, (_, v) in enumerate(probes):
                want = {
                    r[0]
                    for r in single(
                        emb, literal_query_frame(spark, v), k=5
                    ).collect()
                }
                assert batch[i] == want, (metric, i)

    def test_recall_ledger_batched_matches_per_probe(self, spark, emb):
        """The SAME families dict, once as per-probe 2-tuples and once
        with the batch searcher in slot 3, must emit the identical
        relation (multi-vs-single membership is already pinned in
        test_maintain; this pins the ledger wiring end-to-end)."""
        from img2dataset_spark.operators.pq import (
            ivfpq_index,
            ivfpq_multi_topk_versioned,
            ivfpq_topk_versioned,
            pq_fit,
        )
        from img2dataset_spark.operators.recall import recall_ledger
        from img2dataset_spark.operators.similarity import ivf_fit

        ivf_cb = ivf_fit(emb, num_cells=8, iters=2)
        book = pq_fit(emb, num_subspaces=2, num_codes=4, iters=2, dim=64)
        idx = ivfpq_index(emb, ivf_cb, book).persist()
        empty_ovr = spark.createDataFrame(
            [], "cell long, subspace long, code long, centroid array<double>"
        )
        single = lambda q: ivfpq_topk_versioned(
            idx, ivf_cb, book, empty_ovr, q, k=10, nprobe=4)
        multi = lambda qs: ivfpq_multi_topk_versioned(
            idx, ivf_cb, book, empty_ovr, qs, k=10, nprobe=4)
        try:
            seq = recall_ledger(
                emb, {"fam": (single, "l2")}, k=10, num_queries=3
            ).collect()
            bat = recall_ledger(
                emb, {"fam": (single, "l2", multi)}, k=10, num_queries=3
            ).collect()
        finally:
            idx.unpersist()
        assert [tuple(r) for r in seq] == [tuple(r) for r in bat]

    def test_refit_ledger_accepts_presampled_probes(self, spark, emb):
        from img2dataset_spark.operators.recall import (
            exact_l2_topk,
            recall_ledger,
            sample_query_vectors,
        )

        probes = sample_query_vectors(emb, 3)
        fam = {
            "exact": (
                lambda q: exact_l2_topk(emb, q, k=10),
                "l2",
            )
        }
        a = recall_ledger(emb, fam, k=10, num_queries=3).collect()
        b = recall_ledger(emb, fam, k=10, num_queries=3,
                          probes=probes).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]


class TestEmptyOverridesFastPath:
    """r15: the version-0 "pre" side of every versioned search used to
    run a filter+collect Spark job against a driver-local EMPTY frame
    (~0.3 s per family search in the refit ledgers).  The canonical
    constructors memo-seed the empty payload at creation, so the
    searchers' bounded collect is job-free — same class as
    _literal_codebook's memo pre-seed (r14, judged real)."""

    def test_pq_empty_overrides_collect_free(self, spark, monkeypatch):
        from pyspark.sql import DataFrame

        from img2dataset_spark.operators.pq import (
            _collect_overrides,
            empty_overrides_frame,
        )

        ovr = empty_overrides_frame(spark)

        def boom(self, *a, **k):  # pragma: no cover - failure path
            raise AssertionError("collect ran despite memo-seeded empty")

        monkeypatch.setattr(DataFrame, "collect", boom)
        assert _collect_overrides(ovr) == {}
        assert _collect_overrides(ovr, cells=[1, 2]) == {}

    def test_sq_empty_bounds_collect_free(self, spark, monkeypatch):
        from pyspark.sql import DataFrame

        from img2dataset_spark.operators.sq import (
            _collect_cell_bounds,
            empty_cell_bounds_frame,
        )

        ovr = empty_cell_bounds_frame(spark)

        def boom(self, *a, **k):  # pragma: no cover - failure path
            raise AssertionError("collect ran despite memo-seeded empty")

        monkeypatch.setattr(DataFrame, "collect", boom)
        assert _collect_cell_bounds(ovr) == {}
        assert _collect_cell_bounds(ovr, cells=[3]) == {}

    def test_collect_overrides_full_hit_returns_copy(self, spark):
        """r14 advice: a memo full-hit must not alias the cached dict —
        caller-side mutation of the returned mapping cannot corrupt
        later searches."""
        from img2dataset_spark.operators.ivf_search import _OVERRIDES_MEMO
        from img2dataset_spark.operators.pq import _collect_overrides

        ovr = spark.createDataFrame(
            [(0, 0, 0, [0.5, 0.5])],
            "cell long, subspace long, code long, centroid array<double>",
        )
        full = _collect_overrides(ovr)  # miss -> collect + memoize
        full.clear()  # hostile caller
        again = _collect_overrides(ovr)  # hit
        assert 0 in again
        again.pop(0)
        assert 0 in _collect_overrides(ovr)
        del _OVERRIDES_MEMO[id(ovr)]


class TestLitArrayHelpers:
    """r15: literal arrays built via one F.expr gateway round trip
    must be VALUE-identical to the per-element F.lit form (a cProfile
    of one versioned search build showed 3,137 Py4J round trips
    ~1.05 s, mostly literal-table construction)."""

    def test_long_arrays_value_identical(self, spark):
        from img2dataset_spark.operators.similarity import (
            long_array_2d_sql,
            long_array_sql,
        )

        vals = [0, 1, -7, 2**62, -(2**62), 255, 9007199254740993]
        row = spark.range(1).select(
            F.expr(long_array_sql(vals)).alias("a"),
            F.array(*[F.lit(int(v)).cast("long") for v in vals]).alias("b"),
            F.expr(long_array_2d_sql([vals, [5, 6]])).alias("a2"),
        ).first()
        assert row["a"] == row["b"] == vals
        assert row["a2"] == [vals, [5, 6]]

    def test_double_arrays_bit_identical(self, spark):
        import math
        import struct

        from img2dataset_spark.operators.similarity import lit_double_array

        vals = [0.0, -0.0, 1.0 / 3, 1e-308, 1.7976931348623157e308,
                -2.2250738585072014e-308, 0.1, 297.1152, 1e16 + 2]
        row = spark.range(1).select(
            lit_double_array(vals).alias("a"),
            F.array(*[F.lit(float(v)) for v in vals]).alias("b"),
        ).first()
        bits = lambda xs: [struct.pack("<d", x) for x in xs]
        assert bits(row["a"]) == bits(row["b"]) == bits(vals)
        # non-finite falls back to the per-element form
        nf = [float("inf"), float("-inf"), float("nan")]
        row2 = spark.range(1).select(lit_double_array(nf).alias("a")).first()
        assert row2["a"][0] == math.inf and row2["a"][1] == -math.inf
        assert math.isnan(row2["a"][2])
