"""R1/T12 sharding tests: exact contiguity, shard sizes, key synthesis.
Mirrors /root/reference/tests/test_reader.py:32-102 (shard contents
equal exact input slices)."""

from __future__ import annotations

from pyspark.sql import functions as F

from img2dataset_spark.operators.sharding import (
    with_global_index,
    with_key,
    with_shard_id,
)


def test_global_index_is_contiguous_permutation(spark):
    df = spark.range(0, 1003).select((F.col("id") * 7919 % 1003).alias("k"))
    out = with_global_index(df, "k").collect()
    assert len(out) == 1003
    idxs = sorted(r["_row_idx"] for r in out)
    assert idxs == list(range(1003))
    # index order must follow k order
    by_idx = sorted(out, key=lambda r: r["_row_idx"])
    ks = [r["k"] for r in by_idx]
    assert ks == sorted(ks)


def test_shard_sizes_exact(spark):
    df = spark.range(0, 950).select(F.col("id").alias("k"))
    out = with_shard_id(df, 100, order_col="k")
    sizes = {r["shard_id"]: r["cnt"] for r in
             out.groupBy("shard_id").agg(F.count("*").alias("cnt")).collect()}
    assert sizes == {i: 100 for i in range(9)} | {9: 50}


def test_shard_contents_are_exact_slices(spark):
    df = spark.range(0, 300).select(F.col("id").alias("k"))
    out = with_shard_id(df, 100, order_col="k")
    rows = out.filter(F.col("shard_id") == 1).select("k").collect()
    assert sorted(r["k"] for r in rows) == list(range(100, 200))


def test_start_shard_id_offset(spark):
    df = spark.range(0, 150).select(F.col("id").alias("k"))
    out = with_shard_id(df, 100, order_col="k", start_shard_id=7)
    shards = sorted(
        r["shard_id"] for r in out.select("shard_id").distinct().collect()
    )
    assert shards == [7, 8]


def test_key_format(spark):
    df = spark.range(0, 250).select(F.col("id").alias("k"))
    out = with_key(
        with_shard_id(df, 100, order_col="k"), 100, oom_shard_count=5
    )
    rows = {r["k"]: r["key"] for r in out.collect()}
    assert rows[0] == "0000000"      # shard 00000, idx 00
    assert rows[105] == "0000105"    # shard 00001, idx 05
    assert rows[249] == "0000249"
    assert all(len(v) == 7 for v in rows.values())


def test_key_with_offset_uses_modulo(spark):
    # start_shard_id > 0 must not produce negative in-shard indices
    df = spark.range(0, 120).select(F.col("id").alias("k"))
    out = with_key(
        with_shard_id(df, 100, order_col="k", start_shard_id=3), 100
    )
    rows = {r["k"]: r["key"] for r in out.collect()}
    assert rows[0] == "0000300"
    assert rows[119] == "0000419"


def test_hash_sharding_no_order(spark):
    df = spark.range(0, 500).select(F.col("id").alias("k")).repartition(4)
    out = with_shard_id(df, 100)
    assert out.count() == 500
    n_shards = out.select("shard_id").distinct().count()
    assert n_shards == 4  # one shard per partition


def test_hash_mode_keys_unique_when_partition_exceeds_shard_size(spark):
    """A source partition holding > number_sample_per_shard rows must be
    sub-split into multiple shards so keys never wrap (pmod collision)."""
    from img2dataset_spark.config import PipelineConfig
    from img2dataset_spark.plans.pipeline import build_pipeline

    n_shard = 50
    inp = (
        spark.range(0, 2 * n_shard + 30)
        .select(
            F.concat(F.lit("http://x/"), F.col("id"), F.lit(".jpg")).alias("url"),
            F.concat(F.lit("cap "), F.col("id")).alias("caption"),
        )
        .coalesce(1)  # ONE partition of 130 rows (> 2N)
    )
    cfg = PipelineConfig(
        url_list="unused", input_format="parquet", caption_col="caption",
        fetch_mode="mock", number_sample_per_shard=n_shard,
        ordered_sharding=False, resize_mode="no",
    )
    out = build_pipeline(spark, cfg, input_df=inp)
    agg = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("key").alias("nk"),
        F.countDistinct("shard_id").alias("ns"),
    ).collect()[0]
    assert agg["n"] == 130
    assert agg["nk"] == 130  # no key collisions
    assert agg["ns"] == 3    # 130 rows / 50 per shard -> 3 sub-shards
    # no shard may exceed the configured shard size
    per_shard = out.groupBy("shard_id").count().collect()
    assert max(r["count"] for r in per_shard) <= n_shard


def test_global_index_strict_passes_on_healthy_frame(spark):
    df = spark.range(0, 500).select((F.col("id") * 31 % 500).alias("k"))
    out = with_global_index(df, "k", strict=True)
    assert out.count() == 500


def test_bucket_expr_matches_bisect(spark):
    """The unrolled binary search must equal bisect_right over the
    boundary list for every value, including exact-boundary hits."""
    import bisect

    boundaries = [3, 3 + 4, 20, 21, 50, 93]  # includes adjacent values
    df = spark.range(-5, 120).select(F.col("id").alias("k"))
    from img2dataset_spark.operators.sharding import _bucket_expr

    got = {
        r["k"]: r["b"]
        for r in df.select(
            "k", _bucket_expr("k", boundaries).alias("b")
        ).collect()
    }
    for v in range(-5, 120):
        assert got[v] == bisect.bisect_right(boundaries, v), v


def test_bucket_expr_null_goes_first(spark):
    from img2dataset_spark.operators.sharding import _bucket_expr

    df = spark.sql("SELECT CAST(NULL AS BIGINT) AS k")
    [r] = df.select(_bucket_expr("k", [10, 20]).alias("b")).collect()
    assert r["b"] == 0


def test_global_index_deterministic_under_recomputation(spark):
    """The round-3 VERDICT weak flag: the index must be a pure function
    of the data, not of cached scan order.  Evaluate the SAME unpersisted
    frame twice (two independent jobs, partitions recomputed from
    lineage both times) and require bit-identical (k -> idx) maps."""
    df = spark.range(0, 2003).select((F.col("id") * 5563 % 2003).alias("k"))
    out = with_global_index(df, "k", num_partitions=8)
    first = {r["k"]: r["_row_idx"] for r in out.collect()}
    second = {r["k"]: r["_row_idx"] for r in out.collect()}
    assert first == second
    assert sorted(first.values()) == list(range(2003))
    # and the index must equal the true rank
    assert all(first[k] == k for k in first)


def test_global_index_unique_with_duplicate_order_values(spark):
    """Ties in order_col must still yield a unique contiguous index
    (row_number within bucket), with ties grouped adjacently."""
    df = spark.range(0, 900).select((F.col("id") % 30).alias("k"))
    out = with_global_index(df, "k", num_partitions=6).collect()
    idxs = sorted(r["_row_idx"] for r in out)
    assert idxs == list(range(900))
    by_idx = sorted(out, key=lambda r: r["_row_idx"])
    ks = [r["k"] for r in by_idx]
    assert ks == sorted(ks)


def test_global_index_string_order_col(spark):
    df = spark.range(0, 500).select(
        F.concat(F.lit("url-"), F.lpad(F.col("id").cast("string"), 4, "0")).alias("u")
    )
    out = with_global_index(df, "u", num_partitions=5).collect()
    by_idx = sorted(out, key=lambda r: r["_row_idx"])
    assert [r["u"] for r in by_idx] == sorted(r["u"] for r in out)
    assert sorted(r["_row_idx"] for r in out) == list(range(500))


def test_global_index_plan_has_single_shuffle(spark):
    """Scale audit: exactly one full-data Exchange (the bucket
    repartition) — the window's required distribution is already
    satisfied, so Catalyst must not insert a second one."""
    df = spark.range(0, 1000).select(F.col("id").alias("k"))
    out = with_global_index(df, "k", num_partitions=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_strict_gate_raises_on_duplicate_index(spark):
    """Simulate the failure a recomputed cache would produce: a frame
    whose index column has collisions must fail loudly."""
    import pytest

    from img2dataset_spark.operators.sharding import _assert_unique_index

    corrupted = spark.range(0, 100).select(
        (F.col("id") % 60).alias("_row_idx")  # 40 duplicate indices
    )
    with pytest.raises(RuntimeError, match="global index is not unique"):
        _assert_unique_index(corrupted, "_row_idx")


def test_global_index_many_buckets_plans_linearly(spark):
    """The bucket expression must stay O(B) nodes: a balanced decision
    tree of scalar comparisons, not an iterative unrolled search whose
    tree grows ~4^log2(B) and whose plan text repeats the boundary
    array per node (that construction stalled the planner in the
    hundreds of buckets).  B=500 here: plans fast, and the index is
    exactly the rank."""
    df = spark.range(0, 20000).select(F.col("id").alias("k"))
    out = with_global_index(df, "k", num_partitions=500)
    mism = out.selectExpr(
        "sum(case when _row_idx != k then 1 else 0 end) as bad"
    ).first()["bad"]
    assert mism == 0


def _rows_by_partition(rows):
    parts: dict[int, list[int]] = {}
    for r in rows:
        parts.setdefault(r["p"], []).append(r["k"])
    return sorted(sorted(ks) for ks in parts.values())


def test_global_index_places_each_bucket_in_its_own_partition(spark):
    """Four range buckets of 3 rows must run as four tasks: a hash
    exchange on the bucket id put 9 of the 12 rows in one partition
    (largest share 0.75).  The indexes stay the exact rank."""
    df = spark.range(0, 12).select((F.col("id") * 7 % 12).alias("k"))
    out = with_global_index(df, "k", num_partitions=4)
    rows = out.select("k", "_row_idx", F.spark_partition_id().alias("p")).collect()
    assert {r["k"]: r["_row_idx"] for r in rows} == {k: k for k in range(12)}
    parts = _rows_by_partition(rows)
    assert parts == [[0, 1, 2], [3, 4, 5], [6, 7, 8], [9, 10, 11]]
    assert max(len(ks) for ks in parts) / len(rows) == 0.25


def test_global_cumsum_places_each_bucket_in_its_own_partition(spark):
    from img2dataset_spark.operators.packing import with_global_cumsum

    df = spark.range(0, 12).select(
        (F.col("id") * 7 % 12).alias("k"), (F.col("id") + 1).alias("v")
    )
    out = with_global_cumsum(df, "k", "v", num_partitions=4)
    rows = out.select("k", "v", "_cumsum", F.spark_partition_id().alias("p")).collect()
    by_k = sorted(rows, key=lambda r: r["k"])
    running = 0
    for r in by_k:
        running += r["v"]
        assert r["_cumsum"] == running
    parts = _rows_by_partition(rows)
    assert parts == [[0, 1, 2], [3, 4, 5], [6, 7, 8], [9, 10, 11]]
    assert max(len(ks) for ks in parts) / len(rows) == 0.25
