"""Build-counter guards for the near-duplicate family: the Spark jobs
and Py4J commands one WARM plan build costs (codebook and bloom filter
already built, the corpus index already persisted), counted with
``tests/counters.py``.

Each bound is the count the operator had before the dedup stages were
written once (batch and streaming composing one banding, cap, Jaccard
and screen each), or the lower count that change brought; a build may
cost less, never more.  ``streaming_multimodal_admission`` is pinned
with the full-vector semantic index: with a codes index the build also
runs the one-row width check, which is one job by design.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pytest
from pyspark.sql import functions as F

from tests.counters import count_build

N_DOCS, VOCAB, WORDS = 500, 300, 40

# (jobs, Py4J commands) per warm build; "was" is the count before the
# stages were written once
BOUNDS = {
    "minhash_lsh_pairs": (0, 426),  # was (0, 616)
    "minhash_lsh_pairs_vs": (0, 612),  # was (0, 742)
    "minhash_lsh_pairs_vs_index": (0, 452),  # was (0, 642)
    "streaming_multimodal_admission": (0, 4043),  # was (0, 4407)
    "streaming_wave_admission": (0, 2423),  # was (0, 2526)
}


class _Fixture:
    def __init__(self, spark, tmp):
        from img2dataset_spark.operators.bloom import build_bloom
        from img2dataset_spark.operators.dedup import build_minhash_index
        from img2dataset_spark.operators.similarity import ivf_fit
        from img2dataset_spark.streaming.dedup import semantic_static_index

        rng = random.Random(7)
        spark.createDataFrame(
            [
                (i, " ".join(f"w{rng.randrange(VOCAB)}" for _ in range(WORDS)))
                for i in range(N_DOCS)
            ],
            "doc_id long, text string",
        ).write.parquet(os.path.join(tmp, "docs"))
        docs = spark.read.parquet(os.path.join(tmp, "docs"))
        self.wave = docs.filter(F.col("doc_id") % 3 == 0)
        self.corpus = docs.filter(F.col("doc_id") % 3 != 0)
        self.bloom = build_bloom(
            docs.filter(F.col("doc_id") % 5 == 0), "doc_id", 1024, 7
        )
        self.index = build_minhash_index(self.corpus).persist()
        self.index.count()
        vec = F.array(
            *[F.sin(F.col("doc_id") + F.lit(float(j))) for j in range(64)]
        )
        t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
        src = os.path.join(tmp, "wave")
        self.wave.select(
            "doc_id",
            "text",
            F.concat(F.lit("http://synth.local/img/"),
                     F.col("doc_id").cast("string")).alias("url"),
            F.xxhash64("text").alias("phash"),
            vec.alias("embedding"),
            F.lit(t0).alias("ts"),
        ).coalesce(1).write.parquet(src)
        batch = spark.read.parquet(src)
        self.stream = spark.readStream.schema(batch.schema).parquet(src)
        vectors = self.corpus.select(
            "doc_id", F.xxhash64("text").alias("phash"), vec.alias("embedding")
        )
        self.phash_index = vectors.select("doc_id", "phash")
        self.codebook = ivf_fit(vectors, num_cells=4, iters=1, id_col="doc_id")
        self.sem_index = semantic_static_index(
            vectors, self.codebook, id_col="doc_id"
        ).persist()
        self.sem_index.count()

    def build(self, name):
        from img2dataset_spark.operators import dedup
        from img2dataset_spark.streaming import dedup as sdedup

        return {
            "minhash_lsh_pairs": lambda: dedup.minhash_lsh_pairs(self.wave),
            "minhash_lsh_pairs_vs": lambda: dedup.minhash_lsh_pairs_vs(
                self.wave, self.corpus),
            "minhash_lsh_pairs_vs_index":
                lambda: dedup.minhash_lsh_pairs_vs_index(self.wave, self.index),
            "streaming_wave_admission": lambda: sdedup.streaming_wave_admission(
                self.stream, self.index, self.bloom, 7),
            "streaming_multimodal_admission":
                lambda: sdedup.streaming_multimodal_admission(
                    self.stream, self.index, self.phash_index, self.sem_index,
                    self.codebook, bloom=self.bloom),
        }[name]


@pytest.fixture(scope="module")
def fx(spark, tmp_path_factory):
    f = _Fixture(spark, str(tmp_path_factory.mktemp("dedup_counters")))
    yield f
    f.index.unpersist()
    f.sem_index.unpersist()


@pytest.mark.parametrize("name", sorted(BOUNDS))
def test_warm_build_counters(spark, fx, name):
    build = fx.build(name)
    build()
    jobs, calls = count_build(spark, build, f"dedup_counters_{name}")
    max_jobs, max_calls = BOUNDS[name]
    assert jobs <= max_jobs, (name, jobs)
    assert calls <= max_calls, (name, calls)
