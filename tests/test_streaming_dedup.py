"""streaming/dedup.py — streaming exact dedup twin agrees with batch."""

import datetime as dt
import os

from pyspark.sql import functions as F

from img2dataset_spark.operators.dedup import exact_dedup
from img2dataset_spark.streaming.dedup import streaming_exact_dedup, with_fingerprint


def _rows():
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    mk = lambda i, s, text: (i, t0 + dt.timedelta(seconds=s), text)
    return [
        mk(1, 0, "the quick brown fox"),
        mk(2, 10, "The  Quick   Brown Fox"),  # same normalized content
        mk(3, 20, "something else entirely"),
        mk(4, 30, "the quick brown fox"),     # duplicate again
        mk(5, 40, "third distinct document"),
    ]


def test_streaming_dedup_matches_batch_fingerprints(spark, tmp_path):
    src = os.path.join(str(tmp_path), "src")
    batch = spark.createDataFrame(_rows(), "doc_id long, ts timestamp, text string")
    batch.write.parquet(src)

    stream = spark.readStream.schema(batch.schema).parquet(src)
    deduped = streaming_exact_dedup(stream, watermark="10 minutes")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_stream_dedup")
        .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.table("t_stream_dedup").collect()

    # one surviving row per distinct fingerprint, same fingerprint set
    # as the batch operator computes
    want_fps = {
        r["fingerprint"]
        for r in exact_dedup(batch.select("doc_id", "text")).collect()
    }
    assert {r["fingerprint"] for r in got} == want_fps
    assert len(got) == len(want_fps) == 3
    # exactly one representative per fingerprint survives; WHICH member
    # of an in-batch duplicate group wins is partition-order-dependent
    # (dropDuplicatesWithinWatermark makes no first-by-event-time
    # promise), so assert membership, not identity
    winners = {r["doc_id"] for r in got}
    assert 3 in winners and 5 in winners
    assert len(winners & {1, 2, 4}) == 1


def test_stateful_operator_in_plan(spark, tmp_path):
    batch = spark.createDataFrame(_rows(), "doc_id long, ts timestamp, text string")
    src = os.path.join(str(tmp_path), "src2")
    batch.write.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    logical = streaming_exact_dedup(stream)._jdf.queryExecution().logical().toString()
    assert "DeduplicateWithinWatermark" in logical


def test_fingerprint_matches_batch_expression(spark):
    batch = spark.createDataFrame(_rows(), "doc_id long, ts timestamp, text string")
    a = with_fingerprint(batch).select("doc_id", "fingerprint")
    b = batch.select(
        "doc_id",
        F.md5(
            F.regexp_replace(F.trim(F.lower("text")), r"\s+", " ").cast("binary")
        ).alias("fingerprint"),
    )
    assert a.collect() == b.collect()


def test_streaming_url_dedup_matches_batch_canonicals(spark, tmp_path):
    """streaming_url_dedup keeps one row per canonical URL and agrees
    with the batch canonicalizer on the key set."""
    import datetime as dt

    from img2dataset_spark.functions.url import canonical_url
    from img2dataset_spark.streaming.dedup import streaming_url_dedup

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (1, t0, "HTTP://Img.Site:80/cat.jpg?utm_source=a#f"),
        (2, t0 + dt.timedelta(seconds=5), "http://img.site/cat.jpg"),
        (3, t0 + dt.timedelta(seconds=10), "http://img.site/dog.jpg?b=2&a=1"),
        (4, t0 + dt.timedelta(seconds=15), "http://img.site/dog.jpg?a=1&b=2"),
        (5, t0 + dt.timedelta(seconds=20), "http://other.site/bird.jpg"),
    ]
    src = os.path.join(str(tmp_path), "usrc")
    batch = spark.createDataFrame(rows, "doc_id long, ts timestamp, url string")
    batch.write.parquet(src)

    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (
        streaming_url_dedup(stream, watermark="10 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_stream_url_dedup")
        .option("checkpointLocation", os.path.join(str(tmp_path), "uckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.table("t_stream_url_dedup").collect()
    want = {
        r["c"]
        for r in batch.select(canonical_url(F.col("url")).alias("c")).collect()
    }
    assert {r["canonical_url"] for r in got} == want
    assert len(got) == len(want) == 3


def test_streaming_url_dedup_null_urls_exempt(spark, tmp_path):
    """NULL-url rows are exempt from streaming dedup (each gets a
    deterministic per-row state key from (id, ts)): ALL of them pass
    through with canonical_url NULL, matching batch dedup_by_url's
    null exemption.  The key is derived from row content — not uuid()
    — so replayed micro-batches recompute the same key and recovery
    cannot double-emit a null-url row."""
    import datetime as dt

    from img2dataset_spark.streaming.dedup import streaming_url_dedup

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (1, t0, None),
        (2, t0 + dt.timedelta(seconds=5), None),
        (3, t0 + dt.timedelta(seconds=10), "http://img.site/cat.jpg"),
        (4, t0 + dt.timedelta(seconds=15), "http://img.site/cat.jpg#frag"),
    ]
    src = os.path.join(str(tmp_path), "unullsrc")
    batch = spark.createDataFrame(rows, "doc_id long, ts timestamp, url string")
    batch.write.parquet(src)

    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (
        streaming_url_dedup(stream, watermark="10 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_stream_url_dedup_null")
        .option("checkpointLocation", os.path.join(str(tmp_path), "unullckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.table("t_stream_url_dedup_null").collect()
    null_ids = sorted(r["doc_id"] for r in got if r["canonical_url"] is None)
    assert null_ids == [1, 2]  # both NULL rows survive
    assert len([r for r in got if r["canonical_url"] is not None]) == 1


def test_streaming_wave_admission_matches_batch(spark, tmp_path):
    """streaming_wave_admission = the batch ingest composition at the
    watermark horizon: URL-dup rows collapse to one emission, bloom
    'seen' ids and verified corpus near-dups are rejected, everything
    else is admitted — verdicts AND per-doc match counts must equal
    the batch operators run with identical parameters, including the
    corpus-side hot-band cap (a deliberately small max_bucket_size
    here forces the cap to actually drop bands on both sides)."""
    import datetime as dt

    from img2dataset_spark.operators.bloom import build_bloom, probe_bloom
    from img2dataset_spark.operators.dedup import (
        build_minhash_index,
        minhash_lsh_pairs_vs,
    )
    from img2dataset_spark.streaming.dedup import streaming_wave_admission

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    wave = docs.filter(F.col("doc_id") % 3 == 0)
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    hist = docs.filter(F.col("doc_id") % 5 == 0)
    bloom = build_bloom(hist, "doc_id", 1024, 7)
    index = build_minhash_index(corpus)

    # unique url per wave doc, EXCEPT doc 0 and doc 90 which are two
    # spellings of one resource (the url-dedup case)
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    url = F.when(
        F.col("doc_id").isin(0, 90),
        F.lit("HTTP://Synth.LOCAL:80/img/shared.jpg#f"),
    ).otherwise(
        F.concat(F.lit("http://synth.local/img/u"),
                 F.col("doc_id").cast("string"), F.lit(".jpg"))
    )
    src = os.path.join(str(tmp_path), "wavesrc")
    batch_wave = wave.select(
        "doc_id", "text", url.alias("url"), F.lit(t0).alias("ts")
    )
    batch_wave.coalesce(1).write.parquet(src)
    # append mode emits aggregated groups only once the watermark passes
    # them: a LATE flush row (t0 + 2h, beyond the 10m watermark) in a
    # SECOND file + maxFilesPerTrigger=1 advances the watermark between
    # micro-batches so the wave's groups close; the flush row itself
    # stays pending and is never emitted
    flush = spark.createDataFrame(
        [(-1, "flush", None, t0 + dt.timedelta(hours=2))],
        batch_wave.schema,
    )
    flush.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(batch_wave.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_wave_admission(
            stream, index, bloom, 7, k=3, watermark="10 minutes",
            jaccard_threshold=0.3, max_bucket_size=1,
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_wave_admission")
        .option("checkpointLocation", os.path.join(str(tmp_path), "wackpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {r["doc_id"]: r for r in spark.table("t_wave_admission").collect()}

    # batch twins with identical parameters
    seen = {
        r["doc_id"]
        for r in probe_bloom(wave.select("doc_id"), "doc_id", bloom, 7)
        .filter("maybe_seen").collect()
    }
    batch_pairs = minhash_lsh_pairs_vs(
        wave, corpus, k=3, jaccard_threshold=0.3, max_bucket_size=1
    )
    n_matches_batch = {
        r["id_a"]: r["n"]
        for r in batch_pairs.groupBy("id_a")
        .agg(F.count_distinct("id_b").alias("n"))
        .collect()
    }
    matched = set(n_matches_batch)
    wave_ids = {r["doc_id"] for r in wave.select("doc_id").collect()}

    # the small cap must actually bite (otherwise this test proves
    # nothing about cap parity) — some corpus band bucket exceeds it
    hot = (
        index.select(F.explode("bands").alias("band"))
        .groupBy("band").count().filter("count > 1").count()
    )
    assert hot > 0, "test data no longer exercises the bucket cap"

    # exactly one of the url-dup pair emitted; all other wave docs emitted
    assert len({0, 90} & set(got)) == 1
    dup_dropped = ({0, 90} - set(got)).pop()
    assert set(got) == wave_ids - {dup_dropped}
    for doc_id, row in got.items():
        assert row["admitted"] == (
            doc_id not in seen and doc_id not in matched
        ), (doc_id, row)
        # n_matches counts DISTINCT verified corpus docs — exactly the
        # batch pair count for this doc (0 when the doc pairs with
        # nothing, including the url-dup survivor's group)
        assert row["n_matches"] == n_matches_batch.get(doc_id, 0), (doc_id, row)
    # non-degenerate: some of each verdict class
    assert any(r["admitted"] for r in got.values())
    assert any(not r["admitted"] for r in got.values())
