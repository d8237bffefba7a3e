"""streaming/dedup.py — stream-static near-dup screening agrees with
the batch band-collision semantics."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from img2dataset_spark.streaming.dedup import (
    static_band_index,
    streaming_neardup_flags,
)


def _corpus(spark):
    return spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog every day"),
            (101, "completely different reference material about spark plans"),
        ],
        "doc_id long, text string",
    )


def _stream_rows():
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    mk = lambda i, s, text: (i, t0 + dt.timedelta(seconds=s), text)
    return [
        # exact copy of ref 100 -> every band collides
        mk(1, 0, "the quick brown fox jumps over the lazy dog every day"),
        # perturbed copy -> most bands still collide
        mk(2, 10, "the quick brown fox jumps over the lazy dog every night"),
        # novel text -> no collision
        mk(3, 20, "unrelated streaming document with novel content entirely"),
        # too short to shingle -> zero bands, still emitted
        mk(4, 30, "hi"),
    ]


def test_stream_static_neardup_flags(spark, tmp_path):
    corpus = _corpus(spark)
    index = static_band_index(corpus).persist()
    index.count()

    src = os.path.join(str(tmp_path), "src")
    batch = spark.createDataFrame(
        _stream_rows(), "doc_id long, ts timestamp, text string"
    )
    batch.write.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)

    flagged = streaming_neardup_flags(stream, index)
    q = (
        flagged.writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_neardup")
        .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        r["doc_id"]: (r["n_band_hits"], r["is_neardup"])
        for r in spark.table("t_neardup").collect()
    }

    assert set(got) == {1, 2, 3, 4}  # every doc gets a verdict
    assert got[1][1] is True and got[1][0] >= 1
    assert got[2][1] is True  # near-dup still collides in >=1 band
    assert got[3] == (0, False)
    assert got[4] == (0, False)  # short doc: zero bands, emitted

    # batch twin: same band join must yield the same hit counts
    from img2dataset_spark.functions.text_fast import (
        make_minhash_bands_udf,
        make_shingle_h32_udf,
    )
    ss = make_shingle_h32_udf(3)
    bands = make_minhash_bands_udf(32, 8)
    b = (
        batch.select("doc_id", ss(F.col("text")).alias("_ss"))
        .withColumn(
            "band", F.explode_outer(F.when(F.size("_ss") > 0, bands(F.col("_ss"))))
        )
        .join(index, "band", "left")
        .groupBy("doc_id")
        .agg(F.count("ref_id").alias("n"))
    )
    want = {r["doc_id"]: r["n"] for r in b.collect()}
    assert {d: n for d, (n, _) in got.items()} == want
    index.unpersist()


def test_streaming_semantic_flags_matches_batch(spark, tmp_path):
    """Stream-static semantic screening agrees with the batch
    semantic_dedup_pairs_vs verdicts on the sf0.001 embeddings split:
    same codebook, same quantized assignment, same 6-dp cosine
    threshold — per-stream-row distinct-match counts must be equal."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    from img2dataset_spark.operators.similarity import (
        ivf_fit,
        semantic_dedup_pairs_vs,
    )
    from img2dataset_spark.streaming.dedup import (
        semantic_static_index,
        streaming_semantic_flags,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    wave = e.filter(F.col("vec_id") % 5 == 0)
    corpus = e.filter(F.col("vec_id") % 5 != 0)
    cb = ivf_fit(corpus, num_cells=4, iters=2)
    threshold = 0.3

    # batch ground truth: distinct corpus neighbors per wave vector
    bp = semantic_dedup_pairs_vs(
        wave, corpus, threshold=threshold, codebook=cb
    ).collect()
    want: dict[int, set] = {}
    for p in bp:
        want.setdefault(p["id_a"], set()).add(p["id_b"])

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    src = os.path.join(str(tmp_path), "semsrc")
    batch = wave.select(
        "vec_id", F.lit(t0).alias("ts"), "embedding"
    )
    batch.coalesce(1).write.parquet(src)
    flush = spark.createDataFrame(
        [(-1, t0 + dt.timedelta(hours=2), [0.5] * 64)],
        "vec_id long, ts timestamp, embedding array<float>",
    )
    flush.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    index = semantic_static_index(corpus, cb).persist()
    index.count()
    q = (
        streaming_semantic_flags(
            stream, index, cb, threshold=threshold, watermark="10 minutes"
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_sem_flags")
        .option("checkpointLocation", os.path.join(str(tmp_path), "semckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {r["vec_id"]: r for r in spark.table("t_sem_flags").collect()}
    wave_ids = {r["vec_id"] for r in wave.select("vec_id").collect()}
    assert set(got) == wave_ids  # every wave row got a verdict
    assert want, "threshold no longer exercises the matching path"
    for i in wave_ids:
        assert got[i]["n_matches"] == len(want.get(i, set())), i
        assert got[i]["is_semantic_dup"] == (i in want)
    index.unpersist()


def test_streaming_semantic_flags_zero_norm_stream_vector_not_flagged(
    spark, tmp_path
):
    """A zero-NORM stream vector joined to a REAL corpus neighbor gives
    cos=NaN, and Spark orders NaN above every number (NaN >= t is TRUE)
    — without the ~isnan guard the row would wrongly flag.  The batch
    twin's numpy compare reads NaN >= t as False; the stream must agree:
    zero-vector verdict is clean, a genuine near-dup still flags."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    from img2dataset_spark.operators.similarity import ivf_fit
    from img2dataset_spark.streaming.dedup import (
        semantic_static_index,
        streaming_semantic_flags,
    )

    corpus = spark.createDataFrame(
        [(i, [0.5 + 0.001 * i] * 64) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    cb = ivf_fit(corpus, num_cells=1, iters=1)  # one cell: co-assignment
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    src = os.path.join(str(tmp_path), "zsrc")
    spark.createDataFrame(
        [(100, t0, [0.0] * 64), (101, t0, [0.5] * 64)],
        "vec_id long, ts timestamp, embedding array<float>",
    ).coalesce(1).write.parquet(src)
    spark.createDataFrame(
        [(-1, t0 + dt.timedelta(hours=2), [0.5] * 64)],
        "vec_id long, ts timestamp, embedding array<float>",
    ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("vec_id long, ts timestamp, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    index = semantic_static_index(corpus, cb).persist()
    index.count()
    q = (
        streaming_semantic_flags(
            stream, index, cb, threshold=0.9, watermark="10 minutes"
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_sem_zero")
        .option("checkpointLocation", os.path.join(str(tmp_path), "zckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {r["vec_id"]: r for r in spark.table("t_sem_zero").collect()}
    index.unpersist()
    assert got[100]["n_matches"] == 0 and not got[100]["is_semantic_dup"]
    assert got[101]["n_matches"] > 0 and got[101]["is_semantic_dup"]


def test_streaming_semantic_flags_rejects_hierarchical_codebook(spark):
    import datetime as dt

    import pytest
    from pyspark.sql import functions as F

    from img2dataset_spark.operators.similarity import ivf_fit_hierarchical
    from img2dataset_spark.streaming.dedup import streaming_semantic_flags

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb = ivf_fit_hierarchical(e, num_cells=4, iters=1, coarse_cells=2)
    stream = e.select(
        "vec_id", F.lit(dt.datetime(2024, 1, 1)).alias("ts"), "embedding"
    )
    with pytest.raises(ValueError, match="FLAT codebook"):
        streaming_semantic_flags(stream, e, cb)


def test_streaming_multimodal_admission_restart_recovery(spark, tmp_path):
    """Checkpoint-restart mid-stream: stop the composed admission query
    after the first file, restart from the same checkpoint over the
    remaining files, and the union of emitted verdicts equals an
    UNINTERRUPTED run — including the URL-dedup state: a row in the
    post-restart file sharing a canonical URL with a pre-stop row must
    still be suppressed (the deterministic (id, ts) dedup-key argument
    is exactly what a replay exercises)."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    from img2dataset_spark.operators.bloom import build_bloom
    from img2dataset_spark.operators.dedup import build_minhash_index
    from img2dataset_spark.operators.similarity import ivf_fit
    from img2dataset_spark.streaming.dedup import (
        semantic_static_index,
        streaming_multimodal_admission,
    )

    def vec(i, eps=0.0):
        v = [0.0] * 64
        v[i % 64] = 1.0
        if eps:
            v[(i + 1) % 64] = eps
        return v

    base_text = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [
            (100, base_text, -4611686018427387904, vec(10)),
            (101, "completely different corpus words here entirely", 0x1234, vec(20)),
        ],
        "doc_id long, text string, phash long, embedding array<double>",
    )
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    schema = (
        "doc_id long, text string, phash long, embedding array<double>, "
        "url string, ts timestamp"
    )
    shared_url = "http://synth.local/img/shared.jpg"
    file1 = spark.createDataFrame(
        [
            (0, base_text.replace("dog", "cat"), 0x5555, vec(1),
             "http://synth.local/img/u0", t0),
            (4, "totally fresh words nothing shared four", 0x0F0F, vec(5),
             shared_url, t0),
        ],
        schema,
    )
    file2 = spark.createDataFrame(
        [
            (2, "totally fresh words nothing shared two", 0x2222,
             vec(20, eps=0.01), "http://synth.local/img/u2", t0),
            # same canonical URL as row 4 (PRE-restart) — state must
            # survive the checkpoint restart to suppress it
            (5, "totally fresh words nothing shared five", 0x3333, vec(6),
             shared_url, t0),
            (6, "totally fresh words nothing shared six", 0x6666, vec(7),
             "http://synth.local/img/u6", t0),
        ],
        schema,
    )
    flush = spark.createDataFrame(
        [(-1, "flush", 0, [0.0] * 64, "http://x/f", t0 + dt.timedelta(hours=2))],
        schema,
    )

    bloom = build_bloom(
        spark.createDataFrame([(999,)], "doc_id long"), "doc_id", 1024, 7
    )
    text_index = build_minhash_index(corpus)
    cb = ivf_fit(corpus, num_cells=1, iters=1, id_col="doc_id")
    sem_index = semantic_static_index(corpus, cb, id_col="doc_id").persist()
    sem_index.count()

    def run(src: str, ckpt: str, out: str):
        # parquet FILE sink, not memory: the memory sink does not
        # support recovering from a checkpoint, which is the point here
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            streaming_multimodal_admission(
                stream, text_index,
                phash_index=corpus.select("doc_id", "phash"),
                semantic_index=sem_index, codebook=cb, bloom=bloom,
                watermark="10 minutes", jaccard_threshold=0.3,
                max_hamming=4, cosine_threshold=0.9,
            )
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        import glob as _glob

        if not _glob.glob(os.path.join(out, "*.parquet")):
            return {}
        return {r["doc_id"]: r for r in spark.read.parquet(out).collect()}

    def as_tuple(r):
        return (
            r["n_text_matches"], r["n_image_matches"],
            r["n_semantic_matches"], r["admitted"],
        )

    # uninterrupted reference run: all three files up front
    src_a = os.path.join(str(tmp_path), "a")
    for i, f in enumerate((file1, file2, flush)):
        f.coalesce(1).write.mode("append").parquet(src_a)
    want = run(src_a, os.path.join(str(tmp_path), "ckpt_a"),
               os.path.join(str(tmp_path), "out_a"))

    # restart run: process file1, STOP, then append the rest and resume
    # from the same checkpoint INTO THE SAME SINK
    src_b = os.path.join(str(tmp_path), "b")
    file1.coalesce(1).write.mode("append").parquet(src_b)
    ckpt_b = os.path.join(str(tmp_path), "ckpt_b")
    out_b = os.path.join(str(tmp_path), "out_b")
    first = run(src_b, ckpt_b, out_b)
    assert first == {}  # watermark hasn't closed any group pre-stop
    file2.coalesce(1).write.mode("append").parquet(src_b)
    flush.coalesce(1).write.mode("append").parquet(src_b)
    got = run(src_b, ckpt_b, out_b)
    sem_index.unpersist()

    assert set(got) == set(want)
    for i in want:
        assert as_tuple(got[i]) == as_tuple(want[i]), i
    # the URL-dedup state crossed the restart: row 4 (pre-stop) emitted,
    # row 5 (post-restart, same canonical URL) suppressed
    assert 4 in got and 5 not in got


def test_streaming_multimodal_admission_matches_batch(spark, tmp_path):
    """The full multimodal admission: URL dedup, bloom, and all three
    corpus screens in ONE streaming query — per-modality match counts
    equal the batch twins (minhash_lsh_pairs_vs / hamming_pairs64 /
    semantic_dedup_pairs_vs) and the verdict composes them."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    from img2dataset_spark.operators.bloom import build_bloom
    from img2dataset_spark.operators.dedup import (
        build_minhash_index,
        hamming_pairs64,
        minhash_lsh_pairs_vs,
    )
    from img2dataset_spark.operators.similarity import (
        ivf_fit,
        semantic_dedup_pairs_vs,
    )
    from img2dataset_spark.streaming.dedup import (
        semantic_static_index,
        streaming_multimodal_admission,
    )

    def vec(i, eps=0.0):
        v = [0.0] * 64
        v[i % 64] = 1.0
        if eps:
            v[(i + 1) % 64] = eps
        return v

    base_text = "the quick brown fox jumps over the lazy dog again and again"
    corpus_rows = [
        (100, base_text, -4611686018427387904, vec(10)),
        (101, "completely different corpus words here entirely", 0x1234, vec(20)),
        (102, "another unrelated corpus document text body", 0x0F0F0F0F0F0F0F0F, vec(30)),
        (103, "yet more corpus filler words for banding", 0x7070707070707070, vec(40)),
    ]
    corpus = spark.createDataFrame(
        corpus_rows, "doc_id long, text string, phash long, embedding array<double>"
    )
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    stream_rows = [
        # 0: text near-dup of corpus 100
        (0, base_text.replace("dog", "cat"), 0x5555000000000000, vec(1), "u0"),
        # 1: phash within hamming 2 of corpus 101
        (1, "totally fresh words nothing shared one", 0x1234 ^ 3, vec(2), "u1"),
        # 2: semantic near-dup of corpus 102
        (2, "totally fresh words nothing shared two", 0x2222000000000000, vec(30, eps=0.01), "u2"),
        # 3: clean content but historical id (bloom)
        (3, "totally fresh words nothing shared three", 0x3333000000000000, vec(4), "u3"),
        # 4 + 5: same canonical url (url dedup), clean content
        (4, "totally fresh words nothing shared four", 0x0000FFFF00000000, vec(5), "SHARED"),
        (5, "totally fresh words nothing shared five", 0x0000FFFF00000001, vec(6), "SHARED"),
        # 6: clean everything
        (6, "totally fresh words nothing shared six", 0x6666000000000000, vec(7), "u6"),
    ]
    wave = spark.createDataFrame(
        stream_rows,
        "doc_id long, text string, phash long, embedding array<double>, u string",
    ).select(
        "doc_id", "text", "phash", "embedding",
        F.when(F.col("u") == "SHARED",
               F.lit("HTTP://Synth.LOCAL:80/img/shared.jpg#frag"))
         .otherwise(F.concat(F.lit("http://synth.local/img/"), F.col("u")))
         .alias("url"),
        F.lit(t0).alias("ts"),
    )

    bloom = build_bloom(
        spark.createDataFrame([(3,)], "doc_id long"), "doc_id", 1024, 7
    )
    text_index = build_minhash_index(corpus)
    cb = ivf_fit(corpus, num_cells=2, iters=1, id_col="doc_id")
    sem_index = semantic_static_index(corpus, cb, id_col="doc_id").persist()
    sem_index.count()

    # batch ground truths per modality
    tmatch = {}
    for p in minhash_lsh_pairs_vs(wave, corpus, jaccard_threshold=0.3).collect():
        tmatch.setdefault(p["id_a"], set()).add(p["id_b"])
    union = wave.select("doc_id", "phash").unionByName(
        corpus.select("doc_id", "phash")
    )
    imatch = {}
    for p in hamming_pairs64(union, "phash", max_hamming=4).collect():
        lo, hi = p["id_a"], p["id_b"]
        if lo < 100 and hi >= 100:
            imatch.setdefault(lo, set()).add(hi)
    smatch = {}
    for p in semantic_dedup_pairs_vs(
        wave, corpus, threshold=0.9, codebook=cb, id_col="doc_id"
    ).collect():
        smatch.setdefault(p["id_a"], set()).add(p["id_b"])
    assert tmatch.get(0) and imatch.get(1) and smatch.get(2), (
        tmatch, imatch, smatch
    )

    src = os.path.join(str(tmp_path), "mmsrc")
    wave.coalesce(1).write.parquet(src)
    flush = spark.createDataFrame(
        [(-1, "flush", 0, [0.0] * 64, "http://x/f", t0 + dt.timedelta(hours=2))],
        wave.schema,
    )
    flush.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(wave.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_multimodal_admission(
            stream, text_index, phash_index=corpus.select("doc_id", "phash"),
            semantic_index=sem_index, codebook=cb, bloom=bloom,
            watermark="10 minutes", jaccard_threshold=0.3,
            max_hamming=4, cosine_threshold=0.9,
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_mm_admission")
        .option("checkpointLocation", os.path.join(str(tmp_path), "mmckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {r["doc_id"]: r for r in spark.table("t_mm_admission").collect()}

    # url dedup: exactly one of {4, 5} emitted, and it is admitted
    shared = [i for i in (4, 5) if i in got]
    assert len(shared) == 1 and got[shared[0]]["admitted"]
    expected_ids = {0, 1, 2, 3, 6} | set(shared)
    assert set(got) == expected_ids
    for i in sorted(expected_ids):
        r = got[i]
        assert r["n_text_matches"] == len(tmatch.get(i, set())), i
        assert r["n_image_matches"] == len(imatch.get(i, set())), i
        assert r["n_semantic_matches"] == len(smatch.get(i, set())), i
    assert not got[0]["admitted"] and not got[1]["admitted"]
    assert not got[2]["admitted"] and not got[3]["admitted"]
    assert got[6]["admitted"]
    sem_index.unpersist()


def test_multimodal_admission_bq_prescreen_parity_and_state_size(
    spark, tmp_path
):
    """r10 (r9 verdict item 4): the BQ popcount pre-screen variant of
    the semantic screen must emit IDENTICAL verdicts to the unscreened
    full-vector query on the synthetic corpus, while its per-batch
    stream-static join side is an order of magnitude smaller on disk
    (8-byte codes vs d-dim vectors)."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    from img2dataset_spark.operators.dedup import build_minhash_index
    from img2dataset_spark.operators.similarity import ivf_fit
    from img2dataset_spark.streaming.dedup import (
        default_prescreen_hamming,
        semantic_static_codes_index,
        semantic_static_index,
        streaming_multimodal_admission,
    )

    def vec(i, eps=0.0):
        v = [0.0] * 64
        v[i % 64] = 1.0
        if eps:
            v[(i + 1) % 64] = eps
        return v

    corpus = spark.createDataFrame(
        [
            (100, "corpus alpha words one two three", 0x1234, vec(10)),
            (101, "corpus beta words four five six", 0x0F0F, vec(20)),
            (102, "corpus gamma words seven eight nine", 0x7070, vec(30)),
        ],
        "doc_id long, text string, phash long, embedding array<double>",
    )
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    wave = spark.createDataFrame(
        [
            (0, "fresh words nothing shared one", 0x5555, vec(30, eps=0.01), "u0"),
            (1, "fresh words nothing shared two", 0x6666, vec(20, eps=0.02), "u1"),
            (2, "fresh words nothing shared three", 0x2222, vec(5), "u2"),
        ],
        "doc_id long, text string, phash long, embedding array<double>, u string",
    ).select(
        "doc_id", "text", "phash", "embedding",
        F.concat(F.lit("http://synth.local/"), F.col("u")).alias("url"),
        F.lit(t0).alias("ts"),
    )

    text_index = build_minhash_index(corpus)
    cb = ivf_fit(corpus, num_cells=2, iters=1, id_col="doc_id")
    full_idx = semantic_static_index(corpus, cb, id_col="doc_id").persist()
    codes_idx = semantic_static_codes_index(
        corpus, cb, id_col="doc_id"
    ).persist()
    full_idx.count(), codes_idx.count()

    # state-size assertion on a corpus big enough that payload beats
    # parquet framing (sf0.001, 500 x 64-dim): the codes index — the
    # frame the stream re-reads EVERY micro-batch — is an order of
    # magnitude smaller than the full-vector index (16 B words vs
    # 512 B vectors per row; ~100x at 768-dim with 64 planes)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ecb = ivf_fit(emb, num_cells=4, iters=1)
    full_p = os.path.join(str(tmp_path), "full_idx")
    codes_p = os.path.join(str(tmp_path), "codes_idx")
    semantic_static_index(emb, ecb).coalesce(1).write.parquet(full_p)
    semantic_static_codes_index(emb, ecb).coalesce(1).write.parquet(codes_p)

    def psize(d):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(d) for f in fs if f.endswith(".parquet")
        )

    assert psize(full_p) > 10 * psize(codes_p), (psize(full_p), psize(codes_p))

    src = os.path.join(str(tmp_path), "ppsrc")
    wave.coalesce(1).write.parquet(src)
    flush = spark.createDataFrame(
        [(-1, "flush", 0, [0.0] * 64, "http://x/f", t0 + dt.timedelta(hours=2))],
        wave.schema,
    )
    flush.coalesce(1).write.mode("append").parquet(src)

    def run(name, **kw):
        stream = (
            spark.readStream.schema(wave.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            streaming_multimodal_admission(
                stream, text_index, phash_index=corpus.select("doc_id", "phash"),
                codebook=cb, watermark="10 minutes",
                jaccard_threshold=0.3, max_hamming=2, cosine_threshold=0.9,
                **kw,
            )
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", os.path.join(str(tmp_path), name))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return {
            r["doc_id"]: (
                r["n_text_matches"], r["n_image_matches"],
                r["n_semantic_matches"], r["admitted"],
            )
            for r in spark.table(name).collect()
        }

    plain = run("t_pp_plain", semantic_index=full_idx)
    screened = run(
        "t_pp_screened",
        semantic_index=None,
        semantic_codes_index=codes_idx,
        ref_vectors=corpus.select("doc_id", "embedding"),
    )
    assert screened == plain, (screened, plain)
    # the scenario actually exercises the semantic path: rows 0 and 1
    # are near-dups of corpus vectors, row 2 is clean
    assert plain[0][2] > 0 and plain[1][2] > 0 and plain[2][2] == 0
    assert not plain[0][3] and not plain[1][3] and plain[2][3]
    # the derived cutoff is a real screen: below half the planes
    assert default_prescreen_hamming(0.9, 64) < 32
    full_idx.unpersist(), codes_idx.unpersist()


def test_multimodal_admission_requires_a_semantic_shape(spark):
    import pytest as _pytest

    from img2dataset_spark.operators.similarity import ivf_fit
    from img2dataset_spark.streaming.dedup import (
        streaming_multimodal_admission,
    )

    corpus = spark.createDataFrame(
        [(1, "t", 0, [0.0] * 64)],
        "doc_id long, text string, phash long, embedding array<double>",
    )
    cb = ivf_fit(corpus, num_cells=1, iters=1, id_col="doc_id")
    with _pytest.raises(ValueError, match="semantic_codes_index"):
        streaming_multimodal_admission(
            corpus, corpus, corpus, semantic_index=None, codebook=cb
        )


def test_streaming_semantic_flags_prescreen_parity(spark, tmp_path):
    """The standalone semantic screen with the BQ codes index must emit
    the same (n_matches, is_semantic_dup) as the full-vector index on
    the sf0.001 split — the admission's state knob, surfaced on the
    flags API too."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    from img2dataset_spark.operators.similarity import ivf_fit
    from img2dataset_spark.streaming.dedup import (
        semantic_static_codes_index,
        semantic_static_index,
        streaming_semantic_flags,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    wave = e.filter(F.col("vec_id") % 5 == 0)
    corpus = e.filter(F.col("vec_id") % 5 != 0)
    cb = ivf_fit(corpus, num_cells=4, iters=2)

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    src = os.path.join(str(tmp_path), "ppfsrc")
    batch = wave.select("vec_id", F.lit(t0).alias("ts"), "embedding")
    batch.coalesce(1).write.parquet(src)
    flush = spark.createDataFrame(
        [(-1, t0 + dt.timedelta(hours=2), [0.5] * 64)],
        "vec_id long, ts timestamp, embedding array<float>",
    )
    flush.coalesce(1).write.mode("append").parquet(src)

    full_idx = semantic_static_index(corpus, cb).persist()
    codes_idx = semantic_static_codes_index(corpus, cb).persist()
    full_idx.count(), codes_idx.count()

    def run(name, **kw):
        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            streaming_semantic_flags(
                stream, codebook=cb, threshold=0.3,
                watermark="10 minutes", **kw,
            )
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", os.path.join(str(tmp_path), name))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return {r["vec_id"]: (r["n_matches"], r["is_semantic_dup"])
                for r in spark.table(name).collect()}

    plain = run("t_sf_plain", index=full_idx)
    screened = run(
        "t_sf_screened", index=None, codes_index=codes_idx,
        ref_vectors=corpus.select("vec_id", "embedding"),
    )
    assert screened == plain
    assert any(v[1] for v in plain.values())  # the path is exercised
    full_idx.unpersist(), codes_idx.unpersist()


def test_streaming_semantic_flags_rejects_prescreen_width_mismatch(spark):
    """A codes_index encoded with a different num_planes must fail at
    WIRING time: hamming_between returns NULL on a width mismatch, so
    the pre-screen would otherwise silently admit every duplicate
    (r10 ADVICE).  The multimodal admission's semantic screen carries
    the same check."""
    import pytest
    from pyspark.sql import functions as F

    from img2dataset_spark.operators.similarity import ivf_fit
    from img2dataset_spark.streaming.dedup import (
        semantic_static_codes_index,
        streaming_multimodal_admission,
        streaming_semantic_flags,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = e.filter(F.col("vec_id") % 5 != 0)
    cb = ivf_fit(corpus, num_cells=4, iters=1)
    # index minted at 32 planes (1 word), screen configured for 64 (2)
    narrow_idx = semantic_static_codes_index(corpus, cb, num_planes=32)
    stream = corpus.select(
        "vec_id", F.current_timestamp().alias("ts"), "embedding"
    )
    refs = corpus.select("vec_id", "embedding")
    with pytest.raises(ValueError, match="codes_index width"):
        streaming_semantic_flags(
            stream, index=None, codebook=cb,
            codes_index=narrow_idx,
            ref_vectors=refs,
            num_planes=64,
        )
    mm_stream = stream.select(
        "vec_id", "ts", "embedding",
        F.lit("http://synth.local/a.jpg").alias("url"),
        F.lit("some text").alias("text"),
        F.lit(0).cast("long").alias("phash"),
    )
    text_index = spark.createDataFrame(
        [], "vec_id long, shingle_set array<long>, bands array<string>"
    )
    phash_index = spark.createDataFrame([], "vec_id long, phash long")
    with pytest.raises(ValueError, match="codes_index width"):
        streaming_multimodal_admission(
            mm_stream, text_index, phash_index, semantic_index=None,
            codebook=cb, id_col="vec_id",
            semantic_codes_index=narrow_idx,
            ref_vectors=refs,
            num_planes=64,
        )


def _run_semantic_flags(spark, tmp_path, name, wave, cb, codes_index, refs):
    """availableNow semantic-flags run: (vec_id -> (n_matches, is_dup))."""
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    src = os.path.join(str(tmp_path), f"src_{name}")
    batch = wave.select("vec_id", F.lit(t0).alias("ts"), "embedding")
    batch.coalesce(1).write.parquet(src)
    flush = spark.createDataFrame(
        [(-1, t0 + dt.timedelta(hours=2), [0.5] * 64)],
        "vec_id long, ts timestamp, embedding array<float>",
    )
    flush.coalesce(1).write.mode("append").parquet(src)
    from img2dataset_spark.streaming.dedup import streaming_semantic_flags

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_semantic_flags(
            stream, index=None, codebook=cb, threshold=0.3,
            watermark="10 minutes", codes_index=codes_index,
            ref_vectors=refs.select("vec_id", "embedding"),
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(str(tmp_path), name))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return {
        r["vec_id"]: (r["n_matches"], r["is_semantic_dup"])
        for r in spark.table(name).collect()
        if r["vec_id"] >= 0
    }


def test_codes_index_append_between_waves(spark, tmp_path):
    """r10 verdict item 6 — the corpus-accumulation loop: wave-1
    admission survivors append their 8-byte codes to the persisted
    codes index (append_semantic_codes_index, one map-only pass over
    the wave), and wave-2 verdicts from the appended index match a
    from-scratch rebuild on the union corpus row-for-row."""
    from img2dataset_spark.operators.similarity import ivf_fit
    from img2dataset_spark.streaming.dedup import (
        append_semantic_codes_index,
        semantic_static_codes_index,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = e.filter(F.col("vec_id") % 5 > 1)
    wave1 = e.filter(F.col("vec_id") % 5 == 0)
    wave2 = e.filter(F.col("vec_id") % 5 == 1)
    cb = ivf_fit(corpus, num_cells=4, iters=1)
    path = os.path.join(str(tmp_path), "codes_idx")
    semantic_static_codes_index(corpus, cb).write.partitionBy(
        "cell"
    ).parquet(path)

    idx1 = spark.read.parquet(path)
    w1 = _run_semantic_flags(spark, tmp_path, "aw_w1", wave1, cb, idx1,
                             corpus)
    dup_ids = [i for i, v in w1.items() if v[1]]
    survivors = wave1.filter(~F.col("vec_id").isin(dup_ids))
    ledger = append_semantic_codes_index(survivors, cb, path)
    rows = ledger.collect()
    assert rows and all(r["appended"] for r in rows)

    refs2 = corpus.unionByName(survivors)
    idx2 = spark.read.parquet(path)
    got = _run_semantic_flags(spark, tmp_path, "aw_w2a", wave2, cb, idx2,
                              refs2)
    rebuilt = semantic_static_codes_index(
        corpus.unionByName(survivors), cb
    ).persist()
    rebuilt.count()
    want = _run_semantic_flags(spark, tmp_path, "aw_w2b", wave2, cb,
                               rebuilt, refs2)
    rebuilt.unpersist()
    assert got == want
    # the appended state is load-bearing: some wave-2 verdict changed
    # vs the pre-append index (a wave-2 row matching a wave-1 survivor)
    pre = _run_semantic_flags(spark, tmp_path, "aw_w2pre", wave2, cb,
                              idx1, corpus)
    assert got != pre


def test_codes_index_append_cap_ledger(spark, tmp_path):
    """Cells that would CROSS max_cell_size on append are skipped, the
    ledger says so, and the index gains exactly the appended cells'
    rows — never a silent over-fill."""
    from img2dataset_spark.operators.similarity import ivf_fit
    from img2dataset_spark.streaming.dedup import (
        append_semantic_codes_index,
        semantic_static_codes_index,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = e.filter(F.col("vec_id") % 5 > 1)
    wave = e.filter(F.col("vec_id") % 5 == 0)
    cb = ivf_fit(corpus, num_cells=4, iters=1)
    path = os.path.join(str(tmp_path), "codes_idx_cap")
    semantic_static_codes_index(corpus, cb).write.partitionBy(
        "cell"
    ).parquet(path)
    before = spark.read.parquet(path).count()

    # every corpus cell holds >1 rows, so a cap of 1 skips them all
    ledger = append_semantic_codes_index(wave, cb, path, max_cell_size=1)
    rows = ledger.collect()
    assert rows and not any(r["appended"] for r in rows)
    assert spark.read.parquet(path).count() == before

    # a generous cap appends the full wave; the returned ledger is the
    # PRE-append decision (materialized before the write — a lazy
    # re-read after refreshByPath would recount existing_n including
    # the rows just appended and flip near-cap flags)
    ledger2 = append_semantic_codes_index(wave, cb, path)
    rows2 = ledger2.collect()
    appended_n = sum(r["wave_n"] for r in rows2 if r["appended"])
    assert appended_n == wave.count()
    assert spark.read.parquet(path).count() == before + appended_n
    occ = {r["cell"]: r["count"] for r in
           spark.read.parquet(path).groupBy("cell").count().collect()}
    for r in rows2:
        # existing_n reflects the index BEFORE this append
        assert r["existing_n"] == occ[r["cell"]] - r["wave_n"], r


def test_codes_index_append_missing_index_named_error(spark, tmp_path):
    """A first-wave append against a path with no index raises a named
    ValueError telling the caller to build epoch 0 with
    semantic_static_codes_index, not a raw AnalysisException (r11
    advice)."""
    from img2dataset_spark.operators.similarity import ivf_fit
    from img2dataset_spark.streaming.dedup import (
        append_semantic_codes_index,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb = ivf_fit(e.filter(F.col("vec_id") % 5 > 1), num_cells=4, iters=1)
    with pytest.raises(ValueError, match="no existing index"):
        append_semantic_codes_index(
            e.filter(F.col("vec_id") % 5 == 0),
            cb,
            os.path.join(str(tmp_path), "never_written"),
        )


def test_codes_index_append_refit_epoch_contract(spark, tmp_path):
    """The accumulation loop's REBUILD CONTRACT (r13 verdict item 4):
    the persisted codes index is pinned to the coarse codebook that
    minted its cell assignments.  An append with the SAME codebook —
    even a recomputed DataFrame (deterministic Lloyd) — passes and
    stamps/validates the fingerprint sidecar; an append with a REFIT
    codebook (fit on the grown corpus — the exact post-escalation
    re-cluster) fails loudly naming the rebuild remedy instead of
    silently mixing assignment versions the pre-screen would then
    quietly miss."""
    from img2dataset_spark.operators.similarity import ivf_fit
    from img2dataset_spark.streaming.dedup import (
        append_semantic_codes_index,
        codebook_fingerprint,
        semantic_static_codes_index,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = e.filter(F.col("vec_id") % 5 > 1)
    wave1 = e.filter(F.col("vec_id") % 5 == 0)
    wave2 = e.filter(F.col("vec_id") % 5 == 1)
    cb = ivf_fit(corpus, num_cells=4, iters=1)
    path = os.path.join(str(tmp_path), "codes_idx_epoch")
    semantic_static_codes_index(corpus, cb).write.partitionBy(
        "cell"
    ).parquet(path)
    # first append stamps the fingerprint; the sidecar is invisible to
    # the index scan (underscore-prefixed)
    before_cols = set(spark.read.parquet(path).columns)
    ledger = append_semantic_codes_index(wave1, cb, path)
    assert ledger.count() > 0
    assert set(spark.read.parquet(path).columns) == before_cols
    # a RECOMPUTED identical codebook fingerprints identically
    cb_again = ivf_fit(corpus, num_cells=4, iters=1)
    assert codebook_fingerprint(cb_again) == codebook_fingerprint(cb)
    assert append_semantic_codes_index(wave2, cb_again, path).count() > 0
    # a refit codebook (fit on the grown corpus) is a different epoch
    cb_refit = ivf_fit(corpus.unionByName(wave1), num_cells=4, iters=1)
    assert codebook_fingerprint(cb_refit) != codebook_fingerprint(cb)
    with pytest.raises(ValueError, match="rebuild the codes index"):
        append_semantic_codes_index(wave2, cb_refit, path)
