"""Guards for the per-task fixed cost of the engine's Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task.  Importing the package makes that skip Spark's own archives
(``img2dataset_spark.spark_archives``); without it each call re-read the
central directory of 16 zip importers.  The guards count re-reads and
Spark jobs, never time, so machine load cannot flake them.
"""

from __future__ import annotations

import json
import zipfile
import zipimport

import pytest

from img2dataset_spark.spark_archives import is_spark_archive


def _count_reads(fn) -> list[str]:
    """The archives ``zipimport._read_directory`` reads while ``fn`` runs."""
    reads: list[str] = []
    orig = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return orig(archive)

    zipimport._read_directory = counting
    try:
        fn()
    finally:
        zipimport._read_directory = orig
    return reads


@pytest.mark.parametrize(
    "name,is_spark",
    [
        ("pyspark.zip", True),
        ("py4j-0.10.9.9-src.zip", True),
        ("spark-core_2.13-4.1.2.jar", True),
        ("user.zip", False),
        ("my-pyspark.zip", False),
        ("py4j.zip", False),
        ("spark-core.zip", False),
    ],
)
def test_is_spark_archive(name, is_spark):
    assert is_spark_archive(f"spark-home/python/lib/{name}") is is_spark


def test_driver_zipimporter_skips_only_spark_archives(tmp_path):
    importers = {}
    for name in ("pyspark.zip", "user.zip"):
        path = tmp_path / name
        with zipfile.ZipFile(path, "w") as zf:
            zf.writestr("probe_mod.py", "X = 1\n")
        importers[name] = zipimport.zipimporter(str(path))

    assert _count_reads(importers["pyspark.zip"].invalidate_caches) == []
    assert _count_reads(importers["user.zip"].invalidate_caches) == [
        str(tmp_path / "user.zip")
    ]


def test_worker_does_not_reread_spark_archives(spark):
    """Inside a UDF, after the package is imported, the call the worker
    makes before every task re-reads none of Spark's archives.  The
    probe is a closure, so cloudpickle ships it by value and it calls
    nothing from this module (not importable on the worker)."""
    from pyspark.sql import functions as F

    def probe(_):
        import importlib
        import sys
        import zipimport

        import img2dataset_spark  # noqa: F401
        from img2dataset_spark.spark_archives import is_spark_archive

        held = [
            f.archive for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
            and is_spark_archive(f.archive)
        ]
        reads = []
        orig = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return orig(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = orig
        return json.dumps(
            {"held": len(held), "reread": sum(map(is_spark_archive, reads))}
        )

    udf = F.udf(probe, "string")
    got = json.loads(
        spark.range(1, numPartitions=1).select(udf("id")).collect()[0][0]
    )
    if not got["held"]:
        pytest.skip("the Python workers import no module from a Spark archive")
    assert got["reread"] == 0, got


# Spark jobs one warm download() call launches over the HTTP fixture,
# measured at parallelism 2, 4 and 8 (8) and 1 (6, one range bucket);
# a call may launch fewer, never more
DOWNLOAD_JOBS = {1: 6}
DOWNLOAD_JOBS_PARALLEL = 8


def test_warm_download_jobs(spark, http_fixture, tmp_path):
    from img2dataset_spark import PipelineConfig, download

    base, _ = http_fixture
    names = [f"img{i}.png" for i in range(10)]  # the fixture's own PNGs
    inp = str(tmp_path / "urls.parquet")
    rows = [(f"{base}/allowed/{n}", n) for n in names]
    spark.createDataFrame(rows, "url string, caption string").write.parquet(inp)

    def call(out):
        return download(
            PipelineConfig(
                url_list=inp, input_format="parquet", caption_col="caption",
                output_folder=str(tmp_path / out), output_format="webdataset",
                number_sample_per_shard=4, image_size=32, encode_format="jpg",
                compute_hash="sha256", fetch_mode="http", thread_count=1,
            ),
            spark=spark,
        )

    call("warm")
    sc = spark.sparkContext
    sc.setJobGroup("warm_download", "warm download() call")
    try:
        stats = call("timed")
    finally:
        jobs = len(sc.statusTracker().getJobIdsForGroup("warm_download"))
        sc.setJobGroup("", "")
    assert sum(s["successes"] for s in stats) == len(names)
    bound = DOWNLOAD_JOBS.get(sc.defaultParallelism, DOWNLOAD_JOBS_PARALLEL)
    assert jobs <= bound, (jobs, sc.defaultParallelism)
