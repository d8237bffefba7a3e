"""MinHash hashing properties, without Spark: the hash functions must
reorder the shingles (each picks its own minimum), and LSH banding must
catch a pair of Jaccard J with the S-curve probability
1 - (1 - J^r)^b (r = 4 rows per band, b = 8 bands).  A family whose
functions all increase with the shingle hash picks ONE minimum for all
32, and banding then catches a pair with probability J."""

from __future__ import annotations

import numpy as np
import pytest

from img2dataset_spark.functions.text_fast import _band_keys, _permuted

NUM_HASHES, NUM_BANDS = 32, 8


def _distinct_hashes(rng, n: int) -> np.ndarray:
    vals = np.unique(rng.integers(0, 2**32, 2 * n))
    return rng.permutation(vals)[:n]


def test_hash_functions_pick_different_minimum_shingles():
    rng = np.random.default_rng(0)
    distinct = []
    for _ in range(200):
        argmins = _permuted(_distinct_hashes(rng, 50), NUM_HASHES).argmin(axis=1)
        distinct.append(len(set(argmins.tolist())))
    # 32 independent minima over 50 shingles hit ~24 distinct shingles
    assert min(distinct) > 1
    assert np.mean(distinct) > 18


@pytest.mark.parametrize("jaccard", [0.5, 0.8])
def test_band_catch_rate_follows_s_curve(jaccard):
    rng = np.random.default_rng(int(jaccard * 100))
    union = 200
    common = round(jaccard * union)
    only = (union - common) // 2
    pairs = 600
    caught = 0
    for _ in range(pairs):
        vals = _distinct_hashes(rng, union)
        a = vals[: common + only]
        b = np.concatenate([vals[:common], vals[common + only :]])
        ka = set(_band_keys(a, NUM_HASHES, NUM_BANDS))
        kb = set(_band_keys(b, NUM_HASHES, NUM_BANDS))
        caught += bool(ka & kb)
    rows = NUM_HASHES // NUM_BANDS
    want = 1 - (1 - jaccard**rows) ** NUM_BANDS
    # 3 standard deviations of a binomial over 600 pairs is <= 0.06
    assert abs(caught / pairs - want) < 0.06, (caught / pairs, want)
