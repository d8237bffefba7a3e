"""Whole-engine e2e over REAL images, no mock anywhere: real photos are
served over a local HTTP server, fetched by the fetch UDF inside Spark
executors, decoded/resized/re-encoded by the dependency-free codecs,
and written as webdataset shards + metadata parquet.  This is the
reference's own end-to-end shape (tests/test_main.py) with zero
imaging-library dependence.

Each test runs over the six photos committed under perfbench/data/photos
(one grayscale and progressive) and, where that checkout exists, over
the reference repo's test photos (5 of 7 progressive JPEG, file name =
{w}_{h}.jpg)."""

from __future__ import annotations

import glob
import json
import os
import tarfile

import pytest
from conftest import PHOTOS, sof_dimensions

from img2dataset_spark import PipelineConfig, download
from pyspark.sql import functions as F
from img2dataset_spark.functions.jpeg import decode_jpeg

REF_IMAGES = sorted(glob.glob("/root/reference/tests/resize_test_image/*.jpg"))


@pytest.fixture(params=["photos"] + (["reference"] if REF_IMAGES else []))
def photo_set(request):
    """(paths, progressive path, its true (w, h)): the committed photos
    take dimensions from the SOF marker, the reference's from the file
    name."""
    if request.param == "reference":
        prog = REF_IMAGES[1]  # 208_495: progressive
        w, h = map(int, os.path.basename(prog)[:-4].split("_"))
        return REF_IMAGES, prog, (w, h)
    for p in PHOTOS:
        w, h, marker = sof_dimensions(open(p, "rb").read())
        if marker == 0xC2:
            return PHOTOS, p, (w, h)
    raise AssertionError("no progressive JPEG among the committed photos")


def test_download_real_jpegs_end_to_end(spark, http_fixture, tmp_path,
                                        photo_set):
    base, images = http_fixture
    paths = photo_set[0]
    # mount the photos on the session HTTP server
    names = []
    for p in paths:
        name = "real_" + os.path.basename(p)
        images[name] = open(p, "rb").read()
        names.append(name)

    inp = str(tmp_path / "urls.parquet")
    rows = [(f"{base}/allowed/{n}", f"photo {i}") for i, n in enumerate(names)]
    spark.createDataFrame(rows, "url string, caption string").write.parquet(inp)

    out = str(tmp_path / "out")
    cfg = PipelineConfig(
        url_list=inp,
        input_format="parquet",
        caption_col="caption",
        output_folder=out,
        output_format="webdataset",
        number_sample_per_shard=4,
        image_size=96,
        resize_mode="center_crop",
        encode_format="jpg",
        encode_quality=90,
        compute_hash="sha256",
        fetch_mode="http",
        thread_count=4,
    )
    stats = download(cfg, spark=spark)
    assert sum(s["successes"] for s in stats) == len(names)

    # every tar member must be a real JPEG at the requested geometry; a
    # grayscale source stays one channel
    gray_sources = sum(decode_jpeg(images[n]).ndim == 2 for n in names)
    decoded = gray = 0
    for tar_path in sorted(glob.glob(out + "/*.tar")):
        with tarfile.open(tar_path) as tf:
            for m in tf.getmembers():
                if not m.name.endswith(".jpg"):
                    continue
                data = tf.extractfile(m).read()
                arr = decode_jpeg(data)
                assert arr.shape in ((96, 96, 3), (96, 96)), m.name
                decoded += 1
                gray += arr.ndim == 2
    assert decoded == len(names)
    assert gray == gray_sources

    # stats sidecars agree with the tar contents
    total = 0
    for sp in sorted(glob.glob(out + "/*_stats.json")):
        total += json.load(open(sp))["successes"]
    assert total == len(names)


def test_original_dims_survive_to_metadata(spark, http_fixture, tmp_path,
                                           photo_set):
    """The metadata parquet must carry the entropy-decoded original
    dims (ground truth read apart from the codec), proving the
    progressive decode ran inside the pipeline, not just a header
    parse."""
    base, images = http_fixture
    _, prog, (w, h) = photo_set
    name = "real_" + os.path.basename(prog)
    images[name] = open(prog, "rb").read()

    inp = str(tmp_path / "urls.parquet")
    spark.createDataFrame(
        [(f"{base}/allowed/{name}", "x")], "url string, caption string"
    ).write.parquet(inp)
    out = str(tmp_path / "out")
    cfg = PipelineConfig(
        url_list=inp,
        input_format="parquet",
        caption_col="caption",
        output_folder=out,
        output_format="parquet",
        number_sample_per_shard=4,
        image_size=64,
        resize_mode="keep_ratio",
        encode_format="jpg",
        fetch_mode="http",
    )
    download(cfg, spark=spark)
    meta = spark.read.parquet(out + "/00000.parquet").collect()
    assert len(meta) == 1
    r = meta[0]
    assert r["status"] == "success"
    assert (r["original_width"], r["original_height"]) == (w, h)
    assert min(r["width"], r["height"]) == 64
    arr = decode_jpeg(bytes(r["jpg"]))
    assert arr.shape[:2] == (r["height"], r["width"])

def test_compute_phash_dedups_respellings(spark, http_fixture, tmp_path,
                                          photo_set):
    """compute_phash=True writes a perceptual hash of the STORED
    payload into the metadata; two spellings of the same photo (the
    original and a recompressed copy) land within a small Hamming
    distance and pair up via hamming_pairs64 over the metadata parquet
    — the pixel-level dedup byte hashes (sha256) cannot do."""
    from img2dataset_spark.functions.jpeg import decode_jpeg, encode_jpeg
    from img2dataset_spark.operators.dedup import hamming_pairs64

    base, images = http_fixture
    paths = photo_set[0]
    src = open(paths[0], "rb").read()
    # a re-encoded spelling: same pixels, different bytes
    respelled = encode_jpeg(decode_jpeg(src), quality=70)
    other = open(paths[-1], "rb").read()
    images["ph_a.jpg"] = src
    images["ph_b.jpg"] = respelled
    images["ph_c.jpg"] = other

    inp = str(tmp_path / "urls.parquet")
    spark.createDataFrame(
        [(f"{base}/allowed/ph_{k}.jpg", k) for k in ("a", "b", "c")],
        "url string, caption string",
    ).write.parquet(inp)
    out = str(tmp_path / "out")
    cfg = PipelineConfig(
        url_list=inp,
        input_format="parquet",
        caption_col="caption",
        output_folder=out,
        output_format="parquet",
        number_sample_per_shard=10,
        image_size=128,
        resize_mode="center_crop",
        encode_format="jpg",
        fetch_mode="http",
        compute_phash=True,
    )
    download(cfg, spark=spark)
    meta = spark.read.parquet(out + "/00000.parquet")
    rows = {r["caption"]: r for r in meta.collect()}
    assert all(rows[k]["phash"] is not None for k in ("a", "b", "c"))
    # sha256 sees three distinct byte strings; phash sees two scenes
    assert len({rows[k]["sha256"] for k in ("a", "b", "c")}) == 3
    keyed = meta.select(
        F.col("key").cast("long").alias("doc_id"), "phash"
    )
    pairs = hamming_pairs64(keyed, "phash", max_hamming=10).collect()
    key_of = {k: int(rows[k]["key"]) for k in ("a", "b", "c")}
    want = tuple(sorted((key_of["a"], key_of["b"])))
    assert {(p["id_a"], p["id_b"]) for p in pairs} == {want}
