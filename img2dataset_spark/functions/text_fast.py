"""Arrow-vectorized (pandas UDF) implementations of the dedup hot path.

Spark evaluates higher-order functions (transform/aggregate/zip_with)
in INTERPRETED mode — outside whole-stage codegen — and the optimizer
freely inlines big lambda trees into multiple consumers, so a Catalyst
expression form of tokenize -> shingle -> hash -> minhash/simhash
exploded the md5-per-shingle work by orders of magnitude on real plans
(measured: 5k docs x ~50 shingles took minutes instead of seconds).
These UDFs are the only implementation; they compute, batch-at-a-time
with hashlib (C md5) + numpy:

  token     = split(trim(lower(text)), '\\s+')
  shingle   = k consecutive tokens joined by ' ', distinct
  h32       = int(md5(shingle)[:8 hex], 16)            (32-bit fold)
  minhash_s = min over shingles of (a_s*(h32 mod P) + b_s) mod P,
              P = 2^31-1 (Carter–Wegman; < 2^62, exact in int64)
  band key  = '<b>:' || md5(sig[b*r:(b+1)*r] joined by ',')
  simhash   = bit b set iff sum over shingles of ((h>>b & 1)*2-1) > 0

Coefficients (a_s, b_s) come from `text.minhash_coeffs`.  The DuckDB
oracle (oracles.py) is the reference specification: it recomputes the
same formulas in SQL with the same coefficients, and the oracle tests
require bit-identical results.

Factories (not module-level UDFs): pandas_udf registration requires an
active SparkSession.
"""

from __future__ import annotations

import functools
import hashlib
import re

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf

from img2dataset_spark.functions.text import (
    MINHASH_PRIME,
    ROLLING_BASE,
    ROLLING_MOD,
    minhash_coeffs,
)

_WS = re.compile(r"\s+")


def _shingle_set(text: str | None, k: int) -> list[str]:
    if text is None:
        return []
    toks = _WS.split(text.strip().lower())
    if len(toks) < k:
        return []
    seen: dict[str, None] = {}
    for i in range(len(toks) - k + 1):
        seen[" ".join(toks[i : i + k])] = None
    return list(seen)


def _h32_one(shingle: str) -> int:
    """32-bit md5 fold of one shingle — int(hexdigest[:8], 16), identical
    to functions.text.hex_to_int32(md5(s)) and the SQL oracle's per-digit
    fold."""
    return int(hashlib.md5(shingle.encode("utf-8")).hexdigest()[:8], 16)


def _h32_set(text: str | None, k: int) -> list[int]:
    """Distinct 32-bit shingle hashes of a text (first-occurrence order;
    no consumer is order-sensitive).  A 32-bit collision merges two
    distinct shingles — the SQL oracle applies the SAME fold, so both
    engines agree bit-for-bit even when a collision occurs."""
    seen: dict[int, None] = {}
    for s in _shingle_set(text, k):
        seen[_h32_one(s)] = None
    return list(seen)


def make_shingle_h32_udf(k: int = 3):
    """text -> distinct 32-bit shingle hashes (array<long>) — the compact
    dedup-family representation.  One md5 per shingle HERE (at set-build
    time) instead of once per downstream consumer; minhash/simhash UDFs
    then run pure numpy arithmetic over the ints.  Jaccard over h32 sets
    equals Jaccard over string sets up to 32-bit collisions (~n²/2³³ per
    doc — negligible), and the SQL oracle hashes with the same fold so
    both engines move together even on a collision."""

    @pandas_udf("array<long>")
    def shingle_h32(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: _h32_set(t, k))

    return shingle_h32


@functools.lru_cache(maxsize=None)
def _coeff_columns(num_hashes: int) -> tuple[np.ndarray, np.ndarray]:
    coeffs = minhash_coeffs(num_hashes)
    A = np.array([a for a, _ in coeffs], dtype=np.int64)[:, None]
    B = np.array([b for _, b in coeffs], dtype=np.int64)[:, None]
    return A, B


def _permuted(h32, num_hashes: int) -> np.ndarray:
    """(num_hashes, n) matrix of every MinHash function applied to every
    shingle hash: (a*(h mod P) + b) mod P, exact in int64 (< 2^62)."""
    A, B = _coeff_columns(num_hashes)
    h = np.asarray(h32, dtype=np.int64)[None, :] % MINHASH_PRIME
    return (A * h + B) % MINHASH_PRIME


def _band_keys(h32, num_hashes: int, num_bands: int) -> list[str]:
    """LSH band keys of one h32 shingle set; [] for an empty set."""
    if h32 is None or len(h32) == 0:
        return []
    rows = num_hashes // num_bands
    sig = _permuted(h32, num_hashes).min(axis=1)
    return [
        f"{b}:" + hashlib.md5(
            ",".join(str(int(v)) for v in sig[b * rows : (b + 1) * rows]).encode()
        ).hexdigest()
        for b in range(num_bands)
    ]


def make_minhash_bands_udf(num_hashes: int = 32, num_bands: int = 8):
    """h32 shingle set (array<long>) -> LSH band keys (array<string>);
    [] for empty sets.  Input is the PRE-HASHED set from
    make_shingle_h32_udf — the md5-per-shingle work happens once at
    set-build time, not per consumer."""

    @pandas_udf("array<string>")
    def minhash_bands(sets: pd.Series) -> pd.Series:
        return sets.map(lambda h: _band_keys(h, num_hashes, num_bands))

    return minhash_bands


def make_rolling_fingerprint_udf():
    """NORMALIZED text -> Rabin-Karp rolling hash (long), identical to
    `text.rolling_fingerprint`'s Horner fold — but numpy-vectorized:
    acc-fold of codes equals sum(code_i * B^(n-1-i)) mod M, so each
    string is one codepoint decode (utf-32 view — matches F.ascii's
    codepoint semantics) + one elementwise multiply against a shared
    modular power table.  Caller passes `text.normalized_text(col)` so
    lowercase/trim stay JVM-side (Java and Python lowercasing can
    disagree on exotic codepoints; the fold itself is pure integers).

    The interpreted expression form walks a per-character lambda chain
    (~1000 interpreted steps per KB of text); this path is ~50x faster
    and bit-identical."""

    @pandas_udf("long")
    def roll(texts: pd.Series) -> pd.Series:
        arrs = [
            None
            if t is None
            else np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
            for t in texts
        ]
        maxlen = max((len(a) for a in arrs if a is not None), default=1)
        pows = np.ones(max(maxlen, 1), dtype=np.int64)
        for j in range(1, maxlen):
            pows[j] = (pows[j - 1] * ROLLING_BASE) % ROLLING_MOD
        out: list[int | None] = []
        for a in arrs:
            if a is None:
                out.append(None)
            elif len(a) == 0:
                out.append(0)
            else:
                # code < 2^21, pow < 2^30: products fit int64; reduce mod
                # M before summing so the sum stays exact
                n = len(a)
                out.append(int(((a * pows[n - 1 :: -1]) % ROLLING_MOD).sum() % ROLLING_MOD))
        return pd.Series(out, dtype="object")

    return roll


def make_simhash_udf():
    """h32 shingle set (array<long>) -> 32-bit simhash (long); null for
    empty sets.  Same pre-hashed input contract as
    make_minhash_bands_udf."""
    bit_idx = np.arange(32, dtype=np.int64)

    def simhash_of(h32_list):
        if h32_list is None or len(h32_list) == 0:
            return None
        h = np.asarray(h32_list, dtype=np.int64)
        votes = (((h[:, None] >> bit_idx[None, :]) & 1) * 2 - 1).sum(axis=0)
        return int(((votes > 0).astype(np.int64) << bit_idx).sum())

    @pandas_udf("long")
    def simhash(sets: pd.Series) -> pd.Series:
        return sets.map(simhash_of)

    return simhash
