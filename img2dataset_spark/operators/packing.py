"""Sequence packing: concat-and-chunk token spans for LLM pretraining.

The reference pipeline stops at per-sample shards (writer.py); a
training-data engine also needs the step that turns a deduped, filtered
corpus into fixed-length training sequences.  The standard GPT-style
packing concatenates the (deterministically ordered) token stream and
slices it into fixed `block_size` windows, letting documents straddle
block boundaries.  That is a pure prefix-sum + interval-intersection
problem — fully declarative, no UDF:

  1. exclusive prefix sum of per-doc token counts over doc order, via
     the sharding.with_global_index machinery generalized from count to
     sum: driver-sampled literal range boundaries, balanced decision
     tree bucket assignment, per-bucket totals inlined as literal
     offsets, then a per-bucket window cumsum.  No single-partition
     window anywhere — the one full-data shuffle is the per-bucket
     range exchange of the sharding plan (`sharding.place_buckets`):
     keyed on the bucket id, so its sampled bounds only pick the
     partition that holds each bucket, one bucket per task, and the
     offsets stay plan literals; it costs one sampling job per
     execution over the bucketed input.
  2. a doc covering token interval [start, end) touches blocks
     floor(start/B) .. floor((end-1)/B): an explode of F.sequence()
     adds at most ceil(tok/B)+1 rows per doc.
  3. slice geometry per (doc, block) is interval intersection in
     integer arithmetic (`div`, not double floor — exact at any scale).

Output grain (block_id, doc_id) with offsets is exactly what a
downstream materializer needs to build block tensors with a local
per-block gather; blocks are independent, so materialization is a
groupBy(block_id) with no further global coordination.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.column import Column

from img2dataset_spark.operators.sharding import (
    _bucket_expr,
    _range_boundaries,
    place_buckets,
)

_BUCKET_COL = "__pack_bucket"


def with_global_cumsum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    cumsum_col: str = "_cumsum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Inclusive prefix sum of `value_col` in `order_col` order, without
    a single-partition global window.  `order_col` must be unique (same
    contract as sharding.with_global_index): the ROWS frame below is
    only deterministic when the ordering is total.

    Plan shape: literal range boundaries (fixed-seed driver sample) ->
    codegen'd bucket decision tree -> tiny per-bucket SUM agg collected
    to the driver and inlined as a literal offset map -> range exchange
    on the bucket id (the one full-data shuffle) -> per-bucket window
    cumsum.
    Deterministic under partition recomputation: every input to the
    formula is a plan literal or a deterministic window over a total
    order."""
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    boundaries = _range_boundaries(df, order_col, num_partitions)
    bucketed = df.withColumn(_BUCKET_COL, _bucket_expr(order_col, boundaries))
    totals = (
        bucketed.groupBy(_BUCKET_COL)
        .agg(F.sum(value_col).alias("_t"))
        .collect()
    )
    sums: dict[int, int] = {r[_BUCKET_COL]: int(r["_t"]) for r in totals}
    nbuckets = max(1, len(boundaries) + 1)
    # dense literal ARRAY indexed by bucket id (the ADC-table lesson:
    # Catalyst folds CreateArray of literals, never CreateMap — the
    # map was rebuilt per row); empty buckets keep offset 0, never read
    offsets = [0] * nbuckets
    acc = 0
    for b in sorted(sums):
        offsets[b] = acc
        acc += sums[b]
    offset_of_bucket = F.element_at(
        F.lit(offsets), F.col(_BUCKET_COL).cast("int") + F.lit(1)
    )
    part = place_buckets(bucketed, _BUCKET_COL, nbuckets)
    w = (
        Window.partitionBy(_BUCKET_COL)
        .orderBy(F.col(order_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return part.withColumn(
        cumsum_col, (offset_of_bucket + F.sum(value_col).over(w)).cast("long")
    ).drop(_BUCKET_COL)


def packed_spans(
    df: DataFrame,
    block_size: int,
    id_col: str = "doc_id",
    token_count: Column | None = None,
    text_col: str = "text",
    num_partitions: int | None = None,
) -> DataFrame:
    """GPT-style concat-and-chunk packing plan.

    Returns one row per (block, document) overlap:
      block_id     — 0-based fixed-size block in the global token stream
      <id_col>     — the document contributing tokens to the block
      doc_offset   — first contributed token's offset within the doc
      block_offset — where the slice starts inside the block
      slice_len    — number of tokens contributed

    `token_count` defaults to the BPE-ish estimator over `text_col`
    (functions.text.bpe_token_count); pass a precomputed column to pack
    by true tokenizer counts.  Zero-token documents are dropped (they
    contribute nothing to any block)."""
    if block_size <= 0:
        raise ValueError("block_size must be > 0")
    if token_count is None:
        from img2dataset_spark.functions.text import bpe_token_count

        token_count = bpe_token_count(F.col(text_col))
    t = df.select(
        F.col(id_col), token_count.cast("long").alias("_tok")
    ).filter(F.col("_tok") > 0)
    c = with_global_cumsum(t, id_col, "_tok", "_end", num_partitions)
    c = c.withColumn("_start", F.col("_end") - F.col("_tok"))
    # exact integer block arithmetic: `div` (no double-floor precision
    # cliff past 2^53 — a 100 TB corpus is ~2^45 tokens, but exact is
    # free here)
    bs = int(block_size)
    first = F.expr(f"_start div {bs}")
    last = F.expr(f"(_end - 1) div {bs}")
    spans = c.withColumn("block_id", F.explode(F.sequence(first, last)))
    blk0 = F.col("block_id") * F.lit(bs)
    seg_start = F.greatest(F.col("_start"), blk0)
    seg_end = F.least(F.col("_end"), blk0 + F.lit(bs))
    return spans.select(
        F.col("block_id").cast("long"),
        F.col(id_col),
        (seg_start - F.col("_start")).cast("long").alias("doc_offset"),
        (seg_start - blk0).cast("long").alias("block_offset"),
        (seg_end - seg_start).cast("long").alias("slice_len"),
    )


def materialize_blocks(
    df: DataFrame,
    block_size: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_partitions: int | None = None,
) -> DataFrame:
    """Gather each packed block's actual token content.

    Composes `packed_spans` with the gather step: re-tokenize each doc
    (same BPE pre-tokenizer the span geometry counted with), slice out
    each (block, doc) contribution with `F.slice`, and assemble blocks
    with an order-deterministic aggregation — `collect_list` of
    (block_offset, slice) structs sorted by offset, then flattened.
    Blocks are independent, so the gather is one shuffle on doc_id (the
    span↔token join) plus one on block_id (the assembly groupBy); no
    global coordination.

    Returns: block_id, n_docs, n_tokens, tokens (array<string>, exactly
    block_size entries except the final partial block)."""
    from img2dataset_spark.functions.text import BPE_TOKEN_RE

    toks_expr = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit(BPE_TOKEN_RE), F.lit(0)
    )
    spans = packed_spans(
        df,
        block_size,
        id_col=id_col,
        text_col=text_col,
        num_partitions=num_partitions,
    )
    docs = df.select(F.col(id_col), toks_expr.alias("_toks"))
    joined = spans.join(docs, id_col)
    sliced = joined.select(
        "block_id",
        "block_offset",
        "slice_len",
        F.slice(
            F.col("_toks"),
            (F.col("doc_offset") + 1).cast("int"),
            F.col("slice_len").cast("int"),
        ).alias("_slice"),
    )
    assembled = sliced.groupBy("block_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("slice_len").cast("long").alias("n_tokens"),
        F.flatten(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("block_offset", "_slice"))
                ),
                lambda s: s["_slice"],
            )
        ).alias("tokens"),
    )
    return assembled.select("block_id", "n_docs", "n_tokens", "tokens")
