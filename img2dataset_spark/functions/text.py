"""Text-analysis column functions — all JVM-side built-ins (no UDFs).

Beyond-reference operators for LLM training-data pipelines (SURVEY §7
M6): tokenization, n-gram shingling, quality metrics, language-ID
heuristic, document fingerprinting, and cross-engine hashing helpers
(the MinHash coefficients; the signatures themselves are the Arrow
UDFs of functions/text_fast.py).

Every function here is built exclusively from `pyspark.sql.functions`
expressions so the hot path stays inside whole-stage codegen, and every
formula has an ANSI-SQL equivalent (used by the DuckDB oracle in
__spark_entry__.py).  Cross-engine determinism rules:

  - hashes are md5 hex STRINGS (avoids engine-specific 64-bit hash
    functions)
  - hex -> int uses an explicit per-hex-digit fold (both engines lack a
    common hex-parse builtin); 8 hex digits = 32 bits, overflow-safe
  - round-half behavior differs between engines, so derived floats are
    rounded via floor(x*10^n + 0.5)/10^n when exact parity is needed
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small public stopword/marker lists (standard function words).
EN_STOPWORDS = ["the", "a", "an", "of", "and", "to", "in", "is", "it", "that"]

LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
    "en": ["the", "a", "of", "and", "is", "to", "in", "it"],
    "es": ["el", "la", "de", "que", "y", "los", "es", "un"],
    "fr": ["le", "la", "de", "et", "est", "les", "des", "un"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "不"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization of lowercased trimmed text."""
    return F.split(F.trim(F.lower(text)), r"\s+")


def token_count(text: Column) -> Column:
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(tokens(text))
    )


def shingles(toks: Column, k: int = 3) -> Column:
    """Word k-gram shingles joined by single spaces; [] when fewer than
    k tokens (guarded: Spark's sequence(1, n) DESCENDS for n < 1)."""
    n = F.size(toks)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.array_join(F.slice(toks, i, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def normalized_text(text: Column) -> Column:
    """Normalization for fingerprinting: lowercase, collapse whitespace."""
    return F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of normalized text."""
    return F.md5(normalized_text(text).cast("binary"))


ROLLING_BASE = 257
ROLLING_MOD = 1_000_000_007  # acc*257 + 255 < 2.6e11, int64-safe


def rolling_fingerprint(text: Column) -> Column:
    """Polynomial (Rabin-Karp) rolling hash of the normalized text:
    Horner fold (acc*B + code) % M over character codes, B=257,
    M=1e9+7.  Left-to-right integer fold — bit-identical in any engine
    (DuckDB twin uses list_reduce over ascii codes, which equals this
    fold because init 0 makes the first step acc = code_1)."""
    codes = F.transform(
        F.split(normalized_text(text), ""), lambda c: F.ascii(c).cast("long")
    )
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * ROLLING_BASE + c) % ROLLING_MOD,
    )


# GPT-2-style pre-tokenizer classes, reduced to constructs with identical
# semantics in Java (Spark) and RE2-ish (DuckDB) regex engines:
# contractions, space-prefixed letter runs, digit runs, punctuation runs.
BPE_TOKEN_RE = r"'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^\sa-zA-Z0-9]+"


def bpe_token_count(text: Column) -> Column:
    """Sub-word-ish token count with a BPE pre-tokenizer regex — the
    standard cheap estimator of LLM token cost when a real BPE vocab
    isn't loaded."""
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(BPE_TOKEN_RE), F.lit(0)))


MINHASH_PRIME = 2147483647  # 2^31 - 1 (Mersenne): a*h'+b < 2^62 fits int64


def minhash_coeffs(num_hashes: int = 32, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic Carter–Wegman coefficients (a, b) of the MinHash
    family h -> (a*(h mod P) + b) mod P over P = MINHASH_PRIME, with
    a in [1, P) and b in [0, P): drawn over the whole field, so each
    function reorders the shingles instead of preserving their order.
    Shared verbatim by the band UDF (text_fast.make_minhash_bands_udf)
    and the SQL oracle."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, MINHASH_PRIME), rng.randrange(0, MINHASH_PRIME))
        for _ in range(num_hashes)
    ]


def _hex_digit_val(ch: Column) -> Column:
    a = F.ascii(ch)
    return F.when(a >= 97, a - 87).otherwise(a - 48)


def hex_to_int32(hex_str: Column) -> Column:
    """Fold the first 8 hex chars into a 32-bit int (engine-portable:
    the SQL oracle uses the same per-digit fold)."""
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(8)),
        F.lit(0).cast("long"),
        lambda acc, i: acc * 16 + _hex_digit_val(hex_str.substr(i, F.lit(1))).cast("long"),
    )


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    stripped = F.regexp_replace(text, r"[a-zA-Z0-9\s]", "")
    return F.when(F.length(text) > 0, F.length(stripped) / F.length(text)).otherwise(
        F.lit(0.0)
    )


def stopword_ratio(toks: Column, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are (English) stopwords."""
    words = stopwords or EN_STOPWORDS
    lit_arr = F.array([F.lit(w) for w in words])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(lit_arr, t)))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def lang_scores(toks: Column) -> dict[str, Column]:
    """Marker-word hit count per language (the lang-ID signal)."""
    out = {}
    for lang, words in LANG_MARKERS.items():
        lit_arr = F.array([F.lit(w) for w in words])
        out[lang] = F.size(F.filter(toks, lambda t: F.array_contains(lit_arr, t)))
    return out


def predicted_lang(toks: Column) -> Column:
    """Deterministic language-ID: argmax marker-hit count, ties broken by
    language code (alphabetical), 'und' when no marker hits at all."""
    scores = lang_scores(toks)
    # build a struct array (score DESC, lang ASC) and take the max
    entries = F.array(
        *[
            F.struct(scores[lang].alias("score"), F.lit(lang).alias("lang"))
            for lang in sorted(LANG_MARKERS)
        ]
    )
    best = F.aggregate(
        entries,
        F.struct(F.lit(-1).alias("score"), F.lit("zzz").alias("lang")),
        lambda acc, e: F.when(
            (e["score"] > acc["score"])
            | ((e["score"] == acc["score"]) & (e["lang"] < acc["lang"])),
            e,
        ).otherwise(acc),
    )
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))
