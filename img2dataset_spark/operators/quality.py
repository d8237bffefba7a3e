"""Gopher-style composite quality filter: the individual text-quality
signals (functions/text.py, and the repetition aggregation) combined
into one pass/fail verdict with machine-readable reasons — the form a
training-data pipeline actually runs (the rule set popularized by the
Gopher dataset paper: token-count bounds, mean-word-length band,
stopword floor, symbol ceiling, repetition ceilings).

Output is (id, passed, reasons) where ``reasons`` is a comma-joined
list in FIXED rule order, so downstream can both filter and audit
*why* documents died (per-reason drop rates are the standard pipeline
health dashboard).

Plan shape: every per-row signal — INCLUDING the repetition signals
(top token / top bigram fraction), which are higher-order-function
expressions over the token array since r15 — is a JVM expression over
the text column, so the whole filter is MAP-ONLY with **zero Python
boundary**: no explode, no shuffle, no join, no ArrowEvalPython.  (The
standalone text_repetition query keeps the relational explode→agg
formulation as the spec; per-document mode counting over the 30-90
token documents this filter targets is O(distinct·n) per row in
codegen, far below one JVM↔Python round trip — guide §4.1 "prefer
built-ins including higher-order functions".  The former Arrow UDF is
kept as `make_repetition_udf` and equivalence-pinned in
tests/test_r15_optimizations.py.)  All ratios round to 6 dp before
threshold comparison, so verdicts are bit-stable across engines (the
SQL oracle compares the identically rounded values).
"""

from __future__ import annotations

import math
import re
from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from img2dataset_spark.functions import text as X
from img2dataset_spark.operators.similarity import round6

_WS = re.compile(r"\s+")


def make_repetition_udf():
    """struct<ttf, tbf>: top-token and top-bigram fraction per text,
    6-dp floor-rounded, null when the document has no token / bigram.
    Tokenization mirrors functions.text.tokens (split of trimmed
    lowered text on whitespace) and bigrams mirror shingles(toks, 2),
    so the values are bit-identical to the relational text_repetition
    formulation and its DuckDB oracle."""

    def frac(counts: Counter):
        if not counts:
            return None
        n = sum(counts.values())
        return math.floor(max(counts.values()) / n * 1e6 + 0.5) / 1e6

    @pandas_udf("struct<ttf: double, tbf: double>")
    def repetition(texts: pd.Series) -> pd.DataFrame:
        ttfs, tbfs = [], []
        for t in texts:
            raw = _WS.split(t.strip().lower()) if t is not None else []
            toks = [w for w in raw if w != ""]
            bigrams = [
                f"{raw[i]} {raw[i + 1]}" for i in range(len(raw) - 1)
            ] if len(raw) >= 2 else []
            ttfs.append(frac(Counter(toks)))
            tbfs.append(frac(Counter(bigrams)))
        return pd.DataFrame({"ttf": ttfs, "tbf": tbfs})

    return repetition

# fixed rule order — reasons are emitted in this order
GOPHER_RULES: dict[str, float] = {
    "min_tokens": 30,
    "max_tokens": 90,
    "min_mean_tok_len": 3.0,
    "max_mean_tok_len": 10.0,
    "min_stopword_ratio": 0.02,
    "max_punct_ratio": 0.1,
    "max_top_token_frac": 0.1,
    "max_top_bigram_frac": 0.05,
}


def _gram_mode_fraction(arr):
    """round6(top gram count / total grams) over a token/bigram array;
    NULL when the array is empty (or null) — exactly the
    Counter-max/frac semantics of make_repetition_udf.  The top
    multiplicity is the longest equal run of the sorted array: one
    O(n log n) sort plus ONE O(n) fold per row, all JVM-side.

    SINGLE-REFERENCE by design (r15): the fold counts n in its own
    accumulator instead of a separate ``size(arr)``, so ``arr`` appears
    exactly once in the emitted tree.  Higher-order functions evaluate
    interpreted (CodegenFallback), and the optimizer legitimately
    re-inlines projection aliases when a filter pushes through
    (curation_e2e's ``quality_flags(d).filter("passed")`` shape
    measured 3× slower with the old two-reference form + shingles —
    every extra reference is another full split per row once inlined).
    Bit-equivalence with the UDF: counts are exact ints, int/int
    division and the floor-round are the same IEEE-754 double op
    sequence as Python's ``max/n * 1e6 + 0.5``."""
    step = lambda a, x: F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1))
    frac = F.aggregate(
        F.array_sort(arr),
        F.struct(
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("n"),
        ),
        lambda a, x: F.struct(
            step(a, x).alias("run"),
            F.greatest(a["best"], step(a, x)).alias("best"),
            x.alias("prev"),
            (a["n"] + 1).alias("n"),
        ),
        lambda a: F.when(a["n"] > 0, round6(a["best"] / a["n"])),
    )
    return frac


def _adjacent_bigrams(toks):
    """Adjacent token pairs joined by one space — shingles(toks, 2) by
    content and order, built with ``zip_with(slice, slice)`` instead of
    a per-position ``slice(toks, i, 2)`` transform (r15): zip_with
    evaluates each child array ONCE per row, while the transform form
    re-evaluates ``toks`` per output element under interpreted HOF
    evaluation — quadratic in tokens as soon as the optimizer inlines
    the split tree (the curation_e2e filter-pushdown shape)."""
    n = F.size(toks)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))


_REPETITION_COLS = ("ttf", "tbf", "__qf_tk", "__qf_bg")


def with_repetition_fractions(df: DataFrame, text_col: str = "text") -> DataFrame:
    """``df`` plus (ttf, tbf) — the JVM twin of make_repetition_udf:
    tokens are the non-empty pieces of a whitespace split of the
    lowered text (dropping empty boundary pieces is exactly Python
    ``str.strip()``+split for ASCII whitespace — and for the non-ASCII
    classes Java/RE2 ``\\s`` does not match, this form agrees with the
    SQL oracle and the relational text_repetition twin where the UDF
    did not), bigrams are the adjacent token pairs (shingles(toks, 2)
    by content; built per :func:`_adjacent_bigrams`).

    Staged projections so the arrays are named columns when the plan
    keeps them; every subtree is also safe to INLINE (single-reference
    fold, zip_with bigrams — see the helpers), because a pushed-down
    filter legitimately collapses these projections.

    An input column named like one the function adds (``ttf``, ``tbf``
    or the staging ``__qf_tk``/``__qf_bg``) would be overwritten or
    duplicated, so it raises ValueError instead (a schema check, no
    job); names compare case-insensitively, as Spark resolves them by
    default."""
    for name in df.columns:
        if name.lower() in _REPETITION_COLS:
            raise ValueError(
                f"with_repetition_fractions: input column {name!r} collides with "
                f"a column it adds ({', '.join(_REPETITION_COLS)}); rename it first"
            )
    toks = F.filter(X.tokens(F.col(text_col)), lambda x: x != F.lit(""))
    return (
        df.withColumn("__qf_tk", toks)
        .withColumn("__qf_bg", _adjacent_bigrams(F.col("__qf_tk")))
        .select(
            *df.columns,
            _gram_mode_fraction(F.col("__qf_tk")).alias("ttf"),
            _gram_mode_fraction(F.col("__qf_bg")).alias("tbf"),
        )
    )


def quality_flags(
    df: DataFrame,
    rules: dict[str, float] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, passed, reasons) per document.  Repetition rules are
    skipped (never fail) for documents too short to have the gram —
    absence of evidence passes, mirroring the null semantics of
    text_repetition."""
    r = {**GOPHER_RULES, **(rules or {})}
    toks = X.tokens(F.col(text_col))
    n_tokens = F.size(toks)
    # mean token length == non-whitespace chars / tokens (tokens are a
    # whitespace split, so their concatenated length is exactly the
    # trimmed text minus its whitespace)
    n_chars_no_ws = F.length(
        F.regexp_replace(F.trim(F.col(text_col)), r"\s+", "")
    )
    mean_len = round6(
        F.when(n_tokens > 0, n_chars_no_ws / n_tokens).otherwise(F.lit(0.0))
    )
    swr = round6(X.stopword_ratio(toks))
    pr = round6(X.punct_ratio(F.col(text_col)))

    j = with_repetition_fractions(
        df.select(F.col(id_col), F.col(text_col)), text_col
    ).select(
        F.col(id_col),
        n_tokens.alias("_nt"),
        mean_len.alias("_ml"),
        swr.alias("_swr"),
        pr.alias("_pr"),
        F.col("ttf").alias("_ttf"),
        F.col("tbf").alias("_tbf"),
    )

    checks = [
        ("too_few_tokens", F.col("_nt") < F.lit(int(r["min_tokens"]))),
        ("too_many_tokens", F.col("_nt") > F.lit(int(r["max_tokens"]))),
        (
            "mean_tok_len_out_of_range",
            (F.col("_ml") < F.lit(r["min_mean_tok_len"]))
            | (F.col("_ml") > F.lit(r["max_mean_tok_len"])),
        ),
        ("low_stopword_ratio", F.col("_swr") < F.lit(r["min_stopword_ratio"])),
        ("high_punct_ratio", F.col("_pr") > F.lit(r["max_punct_ratio"])),
        ("repeated_top_token", F.col("_ttf") > F.lit(r["max_top_token_frac"])),
        ("repeated_top_bigram", F.col("_tbf") > F.lit(r["max_top_bigram_frac"])),
    ]
    reasons = F.array_compact(
        F.array(*[F.when(cond, F.lit(name)) for name, cond in checks])
    )
    return j.select(
        id_col,
        (F.size(reasons) == 0).alias("passed"),
        F.array_join(reasons, ",").alias("reasons"),
    )


def gopher_filter(
    df: DataFrame,
    rules: dict[str, float] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Surviving rows of ``df`` under the rule set — the composition
    pipelines run after dedup and before mixing."""
    keep = quality_flags(df, rules, id_col, text_col).filter("passed").select(id_col)
    return df.join(keep, id_col, "left_semi")
