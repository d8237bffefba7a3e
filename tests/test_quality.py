"""operators/quality.py — composite Gopher-style filter."""

import pytest

from img2dataset_spark.operators.quality import gopher_filter, quality_flags

GOOD = (
    "the quick brown fox jumps over the lazy dog and then it runs far "
    "away to find a quiet place in the woods where it can rest for a "
    "while and think about all of the things that happened to it today"
)


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        [
            (1, GOOD),
            (2, "short text"),                              # too few tokens
            (3, ("spam " * 60).strip()),                    # repetition + no stopwords
            (4, GOOD.replace("the", "!!!???;;;")),          # punct-heavy, low stopwords
        ],
        "doc_id long, text string",
    )


def test_flags_and_reasons(spark, corpus):
    got = {r["doc_id"]: (r["passed"], r["reasons"])
           for r in quality_flags(corpus).collect()}
    assert got[1] == (True, "")
    assert got[2][0] is False and "too_few_tokens" in got[2][1]
    assert got[3][0] is False
    assert "repeated_top_token" in got[3][1]
    assert "low_stopword_ratio" in got[3][1]
    assert got[4][0] is False and "high_punct_ratio" in got[4][1]


def test_reason_order_is_fixed(spark, corpus):
    r3 = {r["doc_id"]: r["reasons"] for r in quality_flags(corpus).collect()}[3]
    names = r3.split(",")
    # rule order: low_stopword_ratio before repeated_top_token
    assert names.index("low_stopword_ratio") < names.index("repeated_top_token")


def test_gopher_filter_survivors(spark, corpus):
    kept = sorted(r["doc_id"] for r in gopher_filter(corpus).collect())
    assert kept == [1]
    assert gopher_filter(corpus).columns == corpus.columns


def test_rules_override(spark, corpus):
    # loosen everything -> only the punct doc still dies
    loose = dict(min_tokens=1, max_tokens=10_000, min_stopword_ratio=0.0,
                 max_top_token_frac=1.0, max_top_bigram_frac=1.0,
                 min_mean_tok_len=0.0, max_mean_tok_len=100.0)
    kept = sorted(r["doc_id"] for r in gopher_filter(corpus, loose).collect())
    assert kept == [1, 2, 3]


@pytest.mark.parametrize("name", ["ttf", "tbf", "__qf_tk", "__qf_bg", "TTF"])
def test_repetition_fractions_refuse_colliding_input_column(spark, name):
    """An input column named like an added one would be silently
    overwritten or duplicated; it must be refused when the frame is
    built, naming the column."""
    from img2dataset_spark.operators.quality import with_repetition_fractions

    df = spark.createDataFrame([("a b a", 0.5)], f"text string, `{name}` double")
    with pytest.raises(ValueError, match=f"input column '{name}' collides"):
        with_repetition_fractions(df)
