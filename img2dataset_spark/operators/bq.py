"""Binary quantization (BQ) — 1-bit hyperplane codes + Hamming search.

The third standard embedding-compression family, completing the
triptych with PQ (operators/pq.py, subspace codebooks) and SQ8
(operators/sq.py, per-dimension bytes): each vector becomes
``num_planes`` SIGN BITS against the repo's deterministic md5-seeded
integer hyperplanes (:func:`similarity.hyperplane_coeffs` — the same
planes, same fixed-point quantization, and same sign convention the
embedding-LSH banding already oracle-mirrors), packed 32 bits per
int64 word.  num_planes/8 bytes per vector — the most aggressive
compression of the three (64 planes = 8 bytes/vector), with the
coarsest distance: Hamming distance between codes estimates the angle
(Charikar 2002, the simhash bound: P[bit differs] = θ/π).

Spark-first shape:

- **encode** is ONE Arrow pass with the (num_planes × dim) integer
  coefficient matrix broadcast: a single (n × d) @ (d × p) int64
  matmul, sign bits packed little-endian, 32 bits per word (words stay
  positive — no sign-bit hazard anywhere).  No fit step at all: the
  planes are pure functions of (j, i), so encode is embarrassingly
  parallel and two corpora encoded independently are directly
  comparable (the cross-corpus screening property PQ/SQ8 lack).
- **search** is pure codegen: the query's words are literals and each
  row costs ceil(p/32) ``bit_count(codes[w] ^ qw)`` terms summed —
  JVM popcount over longs, the cheapest scan of the three families —
  ranked (hamming asc, id asc) via TakeOrdered.

Role in the menu (r9 verdict): 1-bit Hamming is the coarsest signal of
the three families — binary codes are a SCREEN, not a ranker.  The
shipped compositions reflect that: :func:`bq_refine_topk` (popcount
screen → broadcast semi-join → exact-cosine re-rank, the
IndexRefineFlat shape of pq.ivfpq_refine_topk) recovers exact ranking
while the corpus-sized pass stays 8 B/row, and
:func:`ivfbq_index` / :func:`ivfbq_topk` compose the coarse IVF probe
with the popcount scan (FAISS ``IndexBinaryIVF``) so the screen also
partition-prunes.  SQL twin: the hyperplane dot, sign, packing and
xor/bit_count are mirrored term-for-term (DuckDB has xor()/bit_count
on BIGINT; 32-bit words keep every value far from the sign bit in both
engines).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from img2dataset_spark.operators.ivf_search import Codec, search
from img2dataset_spark.operators.similarity import (
    _QUANT,
    _as_double,
    long_array_sql,
)


def _plane_matrix(num_planes: int, dim: int) -> np.ndarray:
    from img2dataset_spark.operators.similarity import hyperplane_coeffs

    return np.asarray(hyperplane_coeffs(num_planes, dim), dtype=np.int64).T


def _pack_bits(bits: np.ndarray) -> np.ndarray:
    """(n × p) {0,1} -> (n × ceil(p/32)) int64 words, little-endian
    32 bits per word (word values < 2^32: no sign-bit handling needed
    in either engine)."""
    n, p = bits.shape
    words = np.zeros((n, (p + 31) // 32), dtype=np.int64)
    for j in range(p):
        words[:, j // 32] |= bits[:, j].astype(np.int64) << (j % 32)
    return words


def make_bq_encode_udf(spark, num_planes: int = 64, dim: int = 64):
    """The sign-bit encode as a reusable Arrow UDF (factory — pandas
    UDFs need an active session): exact int64 dot over 2^-20
    fixed-point quantized vectors against the broadcast plane matrix,
    dot >= 0 -> 1, packed 32 bits per word.  Shared by the batch
    encode, the IVF+BQ index builder, and the streaming admission
    pre-screen so every surface mints bit-identical codes."""
    from pyspark.sql.functions import pandas_udf

    C = _plane_matrix(num_planes, dim)  # d x p
    bc = spark.sparkContext.broadcast(C)

    @pandas_udf("array<long>")
    def encode(vs: pd.Series) -> pd.Series:
        M = bc.value
        V = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        QV = np.floor(V * _QUANT + 0.5).astype(np.int64)
        bits = (QV @ M >= 0).astype(np.int64)
        return pd.Series(list(_pack_bits(bits)))

    return encode


def hamming_between(a, b):
    """codegen Hamming distance between two packed code COLUMNS:
    zip_with xor -> bit_count -> sum, all JVM-side.  NULL (not 0) when
    either side is null or the widths differ — callers guard on null,
    so a misconfigured pair can never read as distance 0."""
    return F.when(
        a.isNotNull() & b.isNotNull() & (F.size(a) == F.size(b)),
        F.aggregate(
            F.zip_with(
                a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long")
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )


def bq_encode(
    df: DataFrame,
    num_planes: int = 64,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, codes array<long>) — sign bit per hyperplane (exact int64
    dot over 2^-20 fixed-point quantized vectors; dot >= 0 -> 1, the
    embedding-LSH convention), packed 32 bits per word."""
    encode = make_bq_encode_udf(df.sparkSession, num_planes, dim)
    e = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("_v"))
    return e.select(id_col, encode(F.col("_v")).alias("codes"))


def encode_query_bits(
    query_vec: list[float], num_planes: int = 64, dim: int = 64
) -> np.ndarray:
    """The query's packed code words, driver-side — same integer dot,
    same sign rule, same packing as the distributed encode."""
    C = _plane_matrix(num_planes, dim)
    q = np.asarray(query_vec, dtype=np.float64)
    if q.shape[0] != dim:
        raise ValueError(f"query dim {q.shape[0]} != {dim}")
    qq = np.floor(q * _QUANT + 0.5).astype(np.int64)
    bits = (qq @ C >= 0).astype(np.int64)[None, :]
    return _pack_bits(bits)[0]


class _BQCodec(Codec):
    """The BQ codec of the IVF search core: the query's packed sign-bit
    words are plan literals and each row costs ceil(p/32) JVM
    ``bit_count(codes[w] ^ word)`` popcounts summed — the cheapest scan
    of the three families.  Hamming estimates the ANGLE, so the angle
    probe (``"cosine"``) is this family's assignment-consistent rule."""

    out_col = "hamming"
    probe_metric = "cosine"

    def __init__(self, num_planes: int, dim: int):
        self.num_planes, self.dim = num_planes, dim
        self.n_words = (num_planes + 31) // 32

    def dist_sql(self, book, qvecs, qid_sql):
        words = [encode_query_bits(qv, self.num_planes, self.dim)
                 for qv in qvecs]
        terms = []
        for w in range(self.n_words):
            if qid_sql is None:
                qw = f"{int(words[0][w])}L"
            else:
                qw = f"element_at({long_array_sql(q[w] for q in words)}, {qid_sql})"
            terms.append(f"CAST(bit_count((`codes`[{w}] ^ {qw})) AS BIGINT)")
        return "(" + " + ".join(terms) + ")"

    def literals(self, nq, n_tables):
        return nq * self.n_words, f"{nq} queries x {self.n_words} packed words"

    def width(self):
        return (
            self.n_words,
            f"{self.n_words} words (num_planes={self.num_planes})",
        )


def bq_topk(
    codes_df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    num_planes: int = 64,
    dim: int = 64,
    id_col: str = "vec_id",
) -> DataFrame:
    """Hamming top-k over packed binary codes: the query's words are
    plan literals and each row is ceil(p/32) JVM popcounts —
    whole-stage codegen, no UDF, no join, no vector read.  Returns
    (id, hamming), (hamming asc, id asc), limit k."""
    return search(_BQCodec(num_planes, dim), "bq_topk", codes_df, None,
                  query_df, k=k, id_col=id_col)


def bq_refine_topk(
    codes_df: DataFrame,
    vectors_df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    refine_factor: int | None = None,
    num_planes: int = 64,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    refine_target_occupancy: int = 1024,
) -> DataFrame:
    """Two-stage binary search — the role 1-bit codes are FOR (r9
    verdict: Hamming is a screen, not a ranker): stage 1 takes the top
    ``k·refine_factor`` candidates by popcount Hamming (the cheapest
    corpus scan of the three families, 8 B/row at 64 planes), stage 2
    re-ranks ONLY those candidates by exact cosine against their raw
    vectors via a BROADCAST semi-join into the vector table — never a
    full vector scan.  Output (id, cos_sim) follows cosine_topk's
    convention (round6 quantized cosine, desc, id-asc ties), directly
    comparable to the brute-force baseline and to ivfpq_refine_topk.

    ``refine_factor=None`` (the default since round 13) sizes the
    candidate pool from the CORPUS: a flat screen scans all n rows —
    one cell of occupancy n — so the tie-mass argument that sizes the
    IVF refine (recommended_refine_factor: Hamming at a fixed plane
    budget cannot separate more candidates than its code space, and
    the indistinguishable mass grows with the scanned row count)
    applies with num_cells = 1.  rf = 4·ceil(sqrt(n / 1024)) capped
    at 256; exact recall is monotone in rf (the re-rank is exact over
    a superset), so the auto size can only match or beat the old
    fixed 4.  Pass an int to pin the pre-r13 behavior."""
    return search(_BQCodec(num_planes, dim), "bq_refine_topk", codes_df,
                  None, query_df, k=k, id_col=id_col, vectors_df=vectors_df,
                  vec_col=vec_col, refine_factor=refine_factor,
                  refine_target_occupancy=refine_target_occupancy)


def ivfbq_index(
    df: DataFrame,
    ivf_codebook: DataFrame,
    num_planes: int = 64,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, cell, codes) — the FAISS ``IndexBinaryIVF`` index row:
    coarse IVF cell for partition pruning plus the packed sign-bit
    words for the popcount scan.  ONE pass over one scan: the coarse
    assignment and the BQ encode are two independent Arrow UDFs of the
    SAME select, so Spark fuses them into a single ArrowEvalPython
    stage — the corpus is read once and never shuffled (the delivery
    of bq.py's r9 composability claim).  Write partitioned by cell;
    a query then reads nprobe cells' 8-byte codes.  Flat and
    hierarchical coarse codebooks both work (ivf_assign dispatches)."""
    from img2dataset_spark.operators.similarity import ivf_assign

    encode = make_bq_encode_udf(df.sparkSession, num_planes, dim)
    tagged = ivf_assign(df, ivf_codebook, vec_col, id_col)
    return tagged.select(
        F.col(id_col), "cell", encode(F.col("v")).alias("codes")
    )


def ivfbq_topk(
    index_df: DataFrame,
    ivf_codebook: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    nprobe: int | None = None,
    num_planes: int = 64,
    dim: int = 64,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-pruned Hamming search (FAISS ``IndexBinaryIVF``): rank coarse
    cells by cosine(query, centroid) (the shared probe rule — 6-dp
    rounded, cell-ascending ties), keep the top ``nprobe``, and
    popcount-scan ONLY those cells' packed words (a static ``cell IN``
    prune).  Returns (id, hamming), (asc, id asc), top k.
    ``nprobe=None`` auto-sizes ceil(sqrt(num_cells))."""
    return search(_BQCodec(num_planes, dim), "ivfbq_topk", index_df,
                  ivf_codebook, query_df, k=k, nprobe=nprobe, id_col=id_col)


def ivfbq_refine_topk(
    index_df: DataFrame,
    ivf_codebook: DataFrame,
    vectors_df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    nprobe: int | None = None,
    refine_factor: int | None = None,
    num_planes: int = 64,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    refine_target_occupancy: int = 1024,
) -> DataFrame:
    """The full binary composition — coarse probe × popcount screen ×
    exact re-rank (FAISS IndexBinaryIVF + RefineFlat): the top
    ``k·refine_factor`` Hamming candidates of :func:`ivfbq_topk`,
    re-ranked by exact cosine.  Output (id, cos_sim)."""
    return search(_BQCodec(num_planes, dim), "ivfbq_refine_topk", index_df,
                  ivf_codebook, query_df, k=k, nprobe=nprobe, id_col=id_col,
                  vectors_df=vectors_df, vec_col=vec_col,
                  refine_factor=refine_factor,
                  refine_target_occupancy=refine_target_occupancy)


def ivfbq_multi_topk(
    index_df: DataFrame,
    ivf_codebook: DataFrame,
    queries_df: DataFrame,
    k: int = 10,
    nprobe: int | None = None,
    num_planes: int = 64,
    dim: int = 64,
    id_col: str = "vec_id",
    qid_col: str = "qid",
    probe_metric: str = "cosine",
) -> DataFrame:
    """Batch IVF+BQ search — every probe vector answered from ONE pass
    over the packed words: index ⋈ broadcast (qid, cell) probe pairs,
    distance = ceil(p/32) JVM popcounts of ``codes[w] XOR lit[qid][w]``
    (one literal array of q words per packed word), one row_number
    window per qid.  ``probe_metric`` defaults to ``"cosine"`` here,
    unlike the L2 families: Hamming estimates the ANGLE.
    ``queries_df`` is (qid, query_vec) with qid DENSE 0..q-1.  Returns
    (qid, id, hamming), per-qid (hamming asc, id asc) top-k."""
    return search(_BQCodec(num_planes, dim), "ivfbq_multi_topk", index_df,
                  ivf_codebook, queries_df, k=k, nprobe=nprobe, id_col=id_col,
                  qid_col=qid_col, probe_metric=probe_metric)
