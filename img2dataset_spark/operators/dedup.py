"""Deduplication operators for large-scale training-data pipelines.

Five dedup families, all DataFrame-native (SURVEY §7 M6):

  exact_dedup          — hash-groupBy on content fingerprint
  minhash_lsh_pairs    — shingle -> minhash -> band -> bucket self-join
  ngram_jaccard_pairs  — exact n-gram Jaccard over candidate pairs
  simhash_pairs        — 32-bit simhash + hamming-distance threshold
  embedding_dup_pairs  — cosine near-duplicate pairs (see similarity.py)

Scale design:
  - The exact-dedup fingerprint is a built-in expression (md5,
    whole-stage codegen).  Shingle sets, MinHash band keys and simhash
    are Arrow-vectorized pandas UDFs (functions/text_fast.py): one md5
    per shingle, numpy for the 32 hash functions.
  - Each stage is written once and shared by the batch operators and
    their streaming twins (streaming/dedup.py): the banding
    (_minhash_bands), the hot-bucket cap (_cap_buckets, next to the
    ledger capped_bucket_stats) and the exact Jaccard (_jaccard).
  - The only shuffles are (a) the band explode + repartition by band key
    and (b) the bucket self-join; both are keyed on high-cardinality
    hashes, so skew is bounded by design (a band bucket is a candidate
    cluster).  At 100 TB you additionally salt giant buckets (a bucket
    with >10k docs is a degenerate near-dup cluster; we cap via
    `max_bucket_size`).
  - The verify step (exact Jaccard) joins shingle SETS back per doc —
    the join is on doc ids, broadcastable when the candidate set is
    small relative to the corpus (it is, by construction).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark import StorageLevel

from img2dataset_spark.functions.text import fingerprint
from img2dataset_spark.functions.text_fast import (
    make_minhash_bands_udf,
    make_shingle_h32_udf,
    make_simhash_udf,
)
from img2dataset_spark.operators.similarity import quote_ident, round6

# Stack of active dedup_cache_scope() collectors; _persisted registers
# into the innermost one so the scope can unpersist on exit.  Stored
# thread-LOCALLY: driver code commonly builds plans from multiple
# threads (concurrent-job pattern), and a shared stack would let one
# thread's scope exit unpersist frames another thread still consumes.
import threading

_SCOPE_TL = threading.local()


def _scope_stack() -> list[list[DataFrame]]:
    stack = getattr(_SCOPE_TL, "stack", None)
    if stack is None:
        stack = _SCOPE_TL.stack = []
    return stack


def _persisted(df: DataFrame) -> DataFrame:
    """Mark a frame reused by multiple plan subtrees (self-join sides,
    bucket stats + join) as cached: without this, Spark re-executes the
    full upstream (tokenize -> shingle -> md5 — the expensive Arrow UDF
    stage) once per reference.

    Lifetime note: by default the cache entry lives until the session
    ends or ``spark.catalog.clearCache()``.  Spark's CacheManager
    deduplicates by logical plan, so REPEATED calls over the same input
    reuse one entry (the "already cached" warning) rather than
    accumulating; distinct inputs each hold one entry — callers looping
    over many corpora should wrap each corpus in
    :func:`dedup_cache_scope`, which unpersists everything registered
    inside it on exit.  The persist itself is deliberate (unlike
    similarity.embedding_dup_pairs_lsh, whose verify-side reuse is a
    plain parquet re-scan and persists nothing): dropping it would
    re-run the shingle UDF per subtree (measured 2.8x WORSE, see
    minhash_lsh_pairs)."""
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    stack = _scope_stack()
    if stack:
        stack[-1].append(out)
    return out


class dedup_cache_scope:
    """Context manager bounding the lifetime of the dedup family's
    deliberate persists.  Build the plan AND run its consuming action
    inside the scope::

        with dedup_cache_scope():
            pairs = minhash_lsh_pairs(corpus)
            pairs.write.parquet(out)   # action runs while caches live
        # <- all frames persisted by dedup operators are unpersisted

    Multi-corpus loops use one scope per corpus so cache entries never
    accumulate across iterations.  Scopes nest; each unpersists only
    the frames registered while it was innermost.  Scope state is
    per-thread (threading.local), so concurrent driver threads each
    see only their own scopes — enter and exit a scope on the SAME
    thread that builds the plan inside it."""

    def __enter__(self) -> "dedup_cache_scope":
        _scope_stack().append([])
        return self

    def __exit__(self, *exc) -> None:
        for df in _scope_stack().pop():
            df.unpersist()


def _parallel(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's default parallelism.

    Small dimension-style inputs often arrive as ONE partition (a single
    parquet row group), which would serialize the whole shingle/hash
    stage onto one core; at 100 TB the scan itself yields thousands of
    splits and this becomes a no-op-sized shuffle relative to the data."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep one representative (min id) per exact normalized-content
    fingerprint.  Single hash-aggregate: partial (map-side) combine makes
    this the cheapest possible dedup at any scale."""
    return (
        df.withColumn("_fp", fingerprint(F.col(text_col)))
        .groupBy("_fp")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select(id_col, F.col("_fp").alias("fingerprint"), "dup_count")
    )


def doc_shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(id, distinct 32-bit shingle-hash set) — shared prep for
    minhash/jaccard/simhash.  Arrow-vectorized UDF (see
    functions.text_fast header for why not a Catalyst
    higher-order-function expression).

    The set elements are the 32-bit md5 fold both engines already share
    for the minhash signature (text_fast._h32_one == text.hex_to_int32
    of md5), NOT the shingle strings: at corpus scale this frame is
    persisted and self-joined, and 8-byte longs keep it ~5-8x smaller
    than ~(5 + k·avg_token)-byte strings — the representation change
    that moved the sf10 wall of the whole dedup->CC->curation family
    (SCALE.md §5.3).  Exact Jaccard over h32 sets equals Jaccard over
    string sets up to 32-bit collisions (~|set|²/2³³ per doc); the SQL
    oracle applies the same fold, so both engines agree bit-for-bit
    even when a collision occurs."""
    shingle_h32 = make_shingle_h32_udf(k)
    return _parallel(df).select(
        F.col(id_col),
        shingle_h32(F.col(text_col)).alias("shingle_set"),
    )


def _nonempty_shingles(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """:func:`doc_shingles` without the documents too short to shingle,
    which can neither band nor verify."""
    return doc_shingles(df, text_col, id_col, k).filter(
        F.size("shingle_set") > 0
    )


def _minhash_bands(
    shingle_set: Column, num_hashes: int, num_bands: int
) -> Column:
    """LSH band keys (array<string>) of an h32 shingle set — the ONE
    banding every MinHash plan runs (batch self-join, wave probe,
    corpus index, streaming screens), so a stream-side band hit means
    exactly that the batch plan would have joined the pair."""
    return make_minhash_bands_udf(num_hashes, num_bands)(shingle_set)


def _jaccard(a: str, b: str) -> Column:
    """Exact Jaccard of the h32 shingle-set columns ``a`` and ``b``,
    floor-rounded to 6 dp (:func:`round6`, identical in the SQL
    oracles) — the value every batch and streaming verdict compares to
    its threshold, so the two can never disagree on a boundary pair.
    |A ∪ B| is |A| + |B| − |A ∩ B| (avoids engine-specific union dedup
    semantics in the oracle); both sets must not be empty.  One SQL
    string: the JVM parses it in one round trip."""
    a, b = quote_ident(a), quote_ident(b)
    inter = f"size(array_intersect({a}, {b}))"
    return round6(F.expr(f"{inter} / (size({a}) + size({b}) - {inter})"))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
    num_bands: int = 8,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding, verified with the
    exact Jaccard over distinct shingle sets.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded to
    6 dp (floor(x*1e6+0.5)/1e6 — identical in the SQL oracle).

    NOTE (measured, round 7): porting the embedding-LSH bucket-verify
    shape here — shingle sets riding through the band explode, Jaccard
    per co-banded OCCURRENCE, distinct on survivors only — is a 4-9x
    REGRESSION (sf3: 12.8 s -> 118.7 s isolated, spread 1.005).  The
    per-pair plan below is already the right one for SETS because the
    two verify joins broadcast the small ``docs`` frame (map-side, no
    pair-shaped shuffle of arrays), the distinct collapses each pair to
    ONE array_intersect evaluation, while true near-dups co-band in up
    to all num_bands buckets, so per-occurrence verification multiplies
    the expensive set-intersection ~num_bands-fold on exactly the pairs
    that matter.  The embedding case won the other way because its
    verify metric is a shared Gram matmul per bucket, amortizing across
    the bucket, and its vectors (fixed 64 floats) dwarf a thin pair
    row; h32 shingle sets have neither property.
    """
    docs = _persisted(_nonempty_shingles(df, text_col, id_col, k))
    bands = _minhash_bands(F.col("shingle_set"), num_hashes, num_bands)
    banded = _persisted(docs.select(id_col, F.explode(bands).alias("band")))
    # cap degenerate buckets (giant near-dup clusters) to bound the
    # self-join.  NOTE (measured, round 5): replacing this persist +
    # bucket-stats side-join with the band-partitioned window cap that
    # similarity.embedding_dup_pairs_lsh uses is a 2.8x REGRESSION here
    # (sf3: 19.4s -> 54.6s) — without the persist the EXPENSIVE minhash
    # UDF subtree re-executes per self-join side, which dwarfs the join
    # it saves.  The two operators differ in per-row banding cost, so
    # they get different cap plans on purpose.
    banded = _cap_buckets(banded, ["band"], max_bucket_size)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, "band")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    return _verified_jaccard(cand, docs, id_col, jaccard_threshold)


def minhash_lsh_pairs_vs(
    new: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
    num_bands: int = 8,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Cross-corpus near-duplicate pairs: every NEW document vs an
    EXISTING corpus — the batch twin of
    streaming.dedup.streaming_neardup_flags, with the exact-Jaccard
    verification the streaming flagger skips.  The incremental-crawl
    screening shape: wave N+1 is deduped against the accumulated
    corpus without re-pairing the corpus against itself.

    Same shingle/minhash/band formulas as :func:`minhash_lsh_pairs`,
    so a pair collides here exactly when the concatenated corpora's
    self-join would have banded them together.  Ids are assumed
    DISTINCT across the two frames (same-id rows would pair with
    themselves).  Returns (id_a = new id, id_b = corpus id, jaccard
    >= threshold), 6-dp floor-rounded.

    It is :func:`build_minhash_index` over the corpus, persisted once
    (it feeds the band probe AND the verify join, so the shingle and
    band UDFs run once per corpus row — the measured minhash trade-off,
    see minhash_lsh_pairs), probed by :func:`minhash_lsh_pairs_vs_index`.

    Plan shape at 100 TB: the wave's shingle frame persists once too;
    hot bands are capped on the CORPUS side only (a giant corpus bucket
    is a degenerate boilerplate cluster; the cap bounds join fan-out at
    max_bucket_size x new-side band rows, and capping the small wave
    side would cost recall without bounding anything the corpus cap
    has not); the band equi-join is a plain shuffle join AQE sizes —
    a small wave against a huge index broadcasts the WAVE, never the
    index.  Corpus-side banding cost is paid once per wave; amortize
    across waves by writing the index to parquet once and probing it
    with minhash_lsh_pairs_vs_index."""
    index = _persisted(
        build_minhash_index(corpus, text_col, id_col, k, num_hashes, num_bands)
    )
    return minhash_lsh_pairs_vs_index(
        new,
        index,
        text_col,
        id_col,
        k,
        num_hashes,
        num_bands,
        jaccard_threshold,
        max_bucket_size,
    )


def build_minhash_index(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
    num_bands: int = 8,
) -> DataFrame:
    """The wave-amortizable corpus side of :func:`minhash_lsh_pairs_vs`
    as ONE writeable frame: (id, shingle_set, bands).  Write it to
    parquet once when the accumulated corpus changes; every subsequent
    crawl wave probes the stored index instead of re-shingling and
    re-banding the whole corpus — at 100 TB the index build is the
    expensive pass, and this makes it once-per-corpus-version instead
    of once-per-wave.  Probe with :func:`minhash_lsh_pairs_vs_index`
    using the SAME (k, num_hashes, num_bands); the shingle_set column
    rides along because the probe's exact-Jaccard verification needs
    it (the streaming twin static_band_index stores bands only — its
    flagger never verifies)."""
    docs = _nonempty_shingles(corpus, text_col, id_col, k)
    bands = _minhash_bands(F.col("shingle_set"), num_hashes, num_bands)
    return docs.select(id_col, "shingle_set", bands.alias("bands"))


def minhash_lsh_pairs_vs_index(
    new: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
    num_bands: int = 8,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """:func:`minhash_lsh_pairs_vs` against a PREBUILT index frame
    (:func:`build_minhash_index`, typically read back from parquet).
    Output is identical to the direct two-frame call when the index was
    built with the same (k, num_hashes, num_bands) — test-pinned; the
    k/num_hashes/num_bands arguments here apply to the NEW side's
    shingling/banding and must match the build's.  Only the wave pays
    a shingle/band pass; the corpus cost is the parquet scan."""
    docs_new = _persisted(_nonempty_shingles(new, text_col, id_col, k))
    bands = _minhash_bands(F.col("shingle_set"), num_hashes, num_bands)
    banded_new = docs_new.select(id_col, F.explode(bands).alias("band"))
    banded_ref = _cap_buckets(
        _persisted(index.select(id_col, F.explode("bands").alias("band"))),
        ["band"],
        max_bucket_size,
    )
    a = banded_new.select(F.col(id_col).alias("id_a"), "band")
    b = banded_ref.select(F.col(id_col).alias("id_b"), "band")
    cand = a.join(b, "band").select("id_a", "id_b").distinct()
    return _verified_jaccard(
        cand,
        docs_new,
        id_col,
        jaccard_threshold,
        docs_b=index.select(id_col, "shingle_set"),
    )


def dedup_against_corpus(
    new: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
    num_bands: int = 8,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """The survivors of :func:`minhash_lsh_pairs_vs`: NEW-wave rows
    whose document near-duplicates nothing in the existing corpus.
    One AQE-decided left-anti join off the verified pairs — the
    cross-corpus twin of graph.dedup_representatives (no connected
    components needed: the corpus side always wins, so a new doc
    survives iff it has zero verified corpus matches)."""
    pairs = minhash_lsh_pairs_vs(
        new,
        corpus,
        text_col,
        id_col,
        k,
        num_hashes,
        num_bands,
        jaccard_threshold,
        max_bucket_size,
    )
    dropped = pairs.select(F.col("id_a").alias(id_col)).distinct()
    return new.join(dropped, id_col, "left_anti")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    jaccard_threshold: float = 0.5,
    block_col: str | None = None,
    allow_quadratic: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs.  With `block_col`, pairs are
    only formed within blocks (the scalable pattern); without, it is a
    full cross self-join — quadratic, so it must be opted into with
    ``allow_quadratic=True`` (verification/small-data only) and can
    never reach a production plan by accident."""
    if block_col is None and not allow_quadratic:
        raise ValueError(
            "ngram_jaccard_pairs without block_col is a quadratic cross "
            "self-join; pass block_col=... (the scalable path) or opt in "
            "explicitly with allow_quadratic=True for small verification runs"
        )
    docs = _persisted(_nonempty_shingles(df, text_col, id_col, k))
    if block_col is not None:
        blocked = docs.join(df.select(id_col, block_col), id_col)
        a, b = blocked.alias("a"), blocked.alias("b")
        cand = (
            a.join(b, block_col)
            .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        )
    else:
        a, b = docs.alias("a"), docs.alias("b")
        cand = (
            a.crossJoin(b)
            .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        )
    return _verified_jaccard(cand, docs, id_col, jaccard_threshold)


def _verified_jaccard(
    cand: DataFrame,
    docs: DataFrame,
    id_col: str,
    threshold: float,
    docs_b: DataFrame | None = None,
) -> DataFrame:
    """Join (h32) shingle sets back and keep the pairs whose
    :func:`_jaccard` reaches the threshold.

    ``docs_b`` supplies the id_b side's shingle sets when the candidate
    pairs span TWO corpora (minhash_lsh_pairs_vs); default is the
    self-join case (both sides from ``docs``).

    Size-ratio prefilter: J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so pairs
    whose set sizes differ by more than the threshold ratio can never
    pass — they skip the O(|A|*|B|) intersection entirely.  Pure pruning
    (never removes a qualifying pair), so the oracle is unchanged."""
    ident = quote_ident(id_col)
    sa = docs.selectExpr(f"{ident} AS id_a", "shingle_set AS sa")
    sb = (docs_b if docs_b is not None else docs).selectExpr(
        f"{ident} AS id_b", "shingle_set AS sb"
    )
    # threshold - 1e-6: the accept filter compares the 6-dp ROUNDED
    # jaccard, which can round up by half an ulp — keep that margin
    ratio = f"{float(threshold) - 1e-6!r}D"
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .where(
            f"least(size(sa), size(sb)) >= greatest(size(sa), size(sb)) * {ratio}"
        )
        .withColumn("jaccard", _jaccard("sa", "sb"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def hash64_words(hash_col: str, max_hamming: int) -> Column:
    """Array of (w, val) pigeonhole words of a 64-bit hash column: the
    bits split into ``max_hamming + 1`` words (the last absorbs the
    remainder), so two hashes within max_hamming MUST share a word.
    The ONE banding expression shared by hamming_pairs64 and the
    streaming phash screen, so batch and stream can never band
    differently.  Pure codegen (shiftrightunsigned + mask).

    ``max_hamming`` must be in [1, 63]: 0 would make the single word's
    mask (1<<64)-1, which overflows the int64 literal at plan time —
    exact-match dedup is a plain equality join on the hash column, not
    a banding problem (use dedup_exact / groupBy(hash))."""
    if not 1 <= max_hamming <= 63:
        raise ValueError(
            "max_hamming must be in [1, 63]; for max_hamming=0 use a plain "
            f"equality join on the hash column (got {max_hamming})"
        )
    num_words = max_hamming + 1
    width = 64 // num_words
    words = []
    for i in range(num_words):
        shift = i * width
        this_width = width if i < num_words - 1 else 64 - width * (num_words - 1)
        mask = (1 << this_width) - 1
        words.append(
            F.struct(
                F.lit(i).alias("w"),
                F.shiftrightunsigned(F.col(hash_col), shift)
                .bitwiseAND(F.lit(mask))
                .alias("val"),
            )
        )
    return F.array(*words)


def hamming_pairs64(
    df: DataFrame,
    hash_col: str = "phash",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Near-duplicate pairs over a 64-bit hash column (e.g.
    functions/phash.py perceptual hashes) by Hamming distance, with
    PIGEONHOLE banding: the 64 bits are split into ``max_hamming + 1``
    words; two hashes within ``max_hamming`` differing bits must agree
    on at least one whole word (k differences cannot touch k+1 words),
    so the per-(word index, word value) equi-self-join has FULL recall
    by construction — no probabilistic misses, unlike rotation-probe
    simhash blocking.  Candidate volume is linear in n at fixed
    occupancy; degenerate buckets (flat images all hashing alike) are
    capped by ``max_bucket_size`` exactly like the minhash plan.
    Returns distinct (id_a < id_b, hamming <= max_hamming).

    Scale shape: word extraction is codegen bit arithmetic
    (shiftrightunsigned + mask) on the map side; one shuffle keys the
    (word, value) blocks; hamming is a JVM bit_count(xor).  NULL
    hashes (undecodable payloads) are dropped before banding."""
    hashes = df.select(id_col, hash_col).filter(F.col(hash_col).isNotNull())
    banded = hashes.select(
        id_col, hash_col, F.explode(hash64_words(hash_col, max_hamming)).alias("blk")
    ).select(
        id_col, hash_col, F.col("blk.w").alias("w"), F.col("blk.val").alias("val")
    )
    # The banded subtree is referenced twice (sizes + join) — safe here,
    # unlike graph._symmetrize's lesson: it is pure codegen bit
    # arithmetic over an 8-byte hash (no UDF, no join), so the second
    # execution is a cheap re-scan, cheaper than persisting it.
    banded = _cap_buckets(banded, ["w", "val"], max_bucket_size)
    a, b = banded.alias("a"), banded.alias("b")
    xor = F.col(f"a.{hash_col}").bitwiseXOR(F.col(f"b.{hash_col}"))
    return (
        a.join(b, ["w", "val"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .withColumn("hamming", F.bit_count(xor))
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            "hamming",
        )
        .distinct()
    )


def _bucket_sizes(banded: DataFrame, key_cols: list[str]) -> DataFrame:
    return banded.groupBy(*key_cols).count()


def _cap_buckets(
    banded: DataFrame, key_cols: list[str], max_bucket_size: int
) -> DataFrame:
    """``banded`` without the rows of buckets (groups of ``key_cols``)
    holding more than ``max_bucket_size`` rows: a giant bucket is a
    degenerate near-dup cluster, and dropping it whole bounds the
    self-join's fan-out.  :func:`capped_bucket_stats` counts what this
    drops from the same grouping."""
    ok = (
        _bucket_sizes(banded, key_cols)
        .filter(F.col("count") <= max_bucket_size)
        .select(*key_cols)
    )
    return banded.join(ok, key_cols)


def capped_bucket_stats(
    banded: DataFrame, key_cols: list[str], max_bucket_size: int
) -> DataFrame:
    """Cap-observability core (SCALE.md "no silent caps"): one
    hash-aggregate over a banded/celled candidate frame returning a
    single row (n_buckets, n_capped_buckets, capped_row_mass) — how
    many candidate groups the ``max_bucket_size`` guard drops whole,
    and how many banded rows they carried.  The verifiers themselves
    return empty for over-cap groups with no trace (by design: the hot
    path stays output-only); callers that need the recall ledger run
    this one extra agg over the SAME banding expression, so the two
    can never disagree about what was dropped."""
    sizes = _bucket_sizes(banded, key_cols)
    over = F.col("count") > max_bucket_size
    return sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(over.cast("long")).alias("n_capped_buckets"),
        F.sum(F.when(over, F.col("count")).otherwise(F.lit(0))).alias(
            "capped_row_mass"
        ),
    )


def hamming_bucket_stats(
    df: DataFrame,
    hash_col: str = "phash",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Cap ledger for :func:`hamming_pairs64`: the SAME pigeonhole
    banding (:func:`hash64_words`), aggregated instead of joined —
    (n_buckets, n_capped_buckets, capped_row_mass).  A capped (word,
    value) bucket means every hamming-pair whose ONLY shared word was
    that bucket is lost; a nonzero counter here is the signal to raise
    ``max_bucket_size`` or pre-dedup the exact-duplicate hashes that
    typically cause it (flat images all hashing alike)."""
    hashes = df.select(id_col, hash_col).filter(F.col(hash_col).isNotNull())
    banded = hashes.select(
        F.explode(hash64_words(hash_col, max_hamming)).alias("blk")
    ).select(F.col("blk.w").alias("w"), F.col("blk.val").alias("val"))
    return capped_bucket_stats(banded, ["w", "val"], max_bucket_size)


def dedup_phash(
    df: DataFrame,
    id_col: str = "doc_id",
    phash_col: str = "phash",
    data_col: str | None = None,
    max_hamming: int = 4,
    max_bucket_size: int = 1000,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Perceptual dedup SURVIVORS — the composition the pHash family
    was missing (the minhash family's dedup_survivors twin): banded
    Hamming pairs (:func:`hamming_pairs64`, pigeonhole full recall) →
    connected components (transitive closure over a→b→c hash drift) →
    min-id representatives.  One row per perceptual cluster survives;
    rows never paired (including NULL hashes — undecodable payloads
    can't be perceptually compared, so they are kept) all survive.

    Consumes either a precomputed ``phash_col`` — the pipeline's
    ``PipelineConfig.compute_phash`` metadata column, so a crawl's
    parquet output dedups without re-decoding — or, with ``data_col``,
    hashes raw image bytes in-flight through the pure-Python codecs.

    Scale shape: pair generation is the codegen banded join (linear at
    fixed occupancy), CC is the round-budgeted hybrid
    (graph.connected_components_auto — near-dup graphs are shallow, so
    a few frontier-LP rounds close them; pass ``checkpoint_dir`` for
    preemptible fleets), survivors one AQE-decided left-anti join.
    Cost ≈ the pair pass + ε, same as the minhash curation chain."""
    from img2dataset_spark.operators.graph import (
        connected_components_auto,
        dedup_representatives,
    )

    if data_col is not None:
        from pyspark import StorageLevel

        from img2dataset_spark.functions.phash import make_phash_udf

        # Hash ONCE into a persisted (id, hash) projection (r14): the
        # previous withColumn embedded the decode+DCT UDF subtree into
        # every reference — the banded self-join alone references it on
        # both sides plus the bucket-size scan, and the survivors
        # anti-join re-decoded the corpus once more (~5 full decode
        # passes per run).  The persisted frame is 8 bytes + id per
        # row; the payload column is attached back by an id join (ids
        # are unique by the dedup family's contract), so the UDF runs
        # exactly once and the survivors scan prunes the payload UDF
        # away entirely when the caller only selects (id, hash).
        hashed = df.select(
            F.col(id_col),
            make_phash_udf()(F.col(data_col)).alias(phash_col),
        ).persist(StorageLevel.MEMORY_AND_DISK)
        df = df.join(hashed, id_col)
        pairs_src = hashed
    else:
        pairs_src = df
    pairs = hamming_pairs64(
        pairs_src,
        hash_col=phash_col,
        id_col=id_col,
        max_hamming=max_hamming,
        max_bucket_size=max_bucket_size,
    )
    comps = connected_components_auto(pairs, "id_a", "id_b", checkpoint_dir=checkpoint_dir)
    return dedup_representatives(df, comps, id_col)


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    max_hamming: int = 8,
    block_bits: int = 16,
    probes: int = 1,
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance.

    Scale path: block on the high `block_bits` bits of the simhash so
    the self-join is per-block.  With ``probes`` > 1, multi-probe
    ROTATIONS close the prefix blind spot: a pair whose differing bits
    all fall inside the block prefix is missed by single blocking, but
    rotating the 32-bit hash by i*32/probes moves the prefix window —
    the pair co-blocks under any rotation whose window lands on agreeing
    bits.  Each probe multiplies candidate volume by ~1x (same blocking
    selectivity), so cost is linear in probes, not quadratic.  Returns
    distinct (id_a, id_b, hamming).
    """
    simhash = make_simhash_udf()
    docs = _nonempty_shingles(df, text_col, id_col, k).select(
        F.col(id_col), simhash(F.col("shingle_set")).alias("simhash")
    )

    def rotated_block(r: int):
        # rot32(h, r) = ((h << r) | (h >> (32-r))) & 0xFFFFFFFF, as
        # overflow-free long arithmetic (mirrored in the SQL oracle)
        sim = F.col("simhash")
        rot = (
            F.pmod(sim * F.lit(2**r), F.lit(2**32))
            + F.floor(sim / F.lit(float(2 ** (32 - r)))).cast("long")
        )
        return F.floor(rot / F.lit(float(2 ** (32 - block_bits)))).cast("long")

    rotations = [i * 32 // probes for i in range(probes)]
    probe_entries = F.array(
        *[
            F.struct(F.lit(i).alias("p"), rotated_block(r).alias("block"))
            for i, r in enumerate(rotations)
        ]
    )
    blocked = _persisted(
        docs.select(id_col, "simhash", F.explode(probe_entries).alias("pb"))
        .select(id_col, "simhash", F.col("pb.p").alias("p"), F.col("pb.block").alias("block"))
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    return (
        a.join(b, ["p", "block"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .withColumn("hamming", F.bit_count(xor))
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            "hamming",
        )
        .distinct()
    )
