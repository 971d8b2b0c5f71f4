"""Tokenizer parity: our implementations vs the LIVE reference tokenizer
(src/models/tokenizer.py:41-72, imported read-only via tests/ref_oracle.py).

Three-way equality on adversarial inputs:
  reference.tokenize == tokenize_text (pure python) == tokenize_pandas_udf
and, for min_token_length >= 2, also == tokenize_col (native Column path).
"""

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from searchengine_spark.fixtures import STOP_WORDS_PATH
from searchengine_spark.tokenizer import (
    TokenizerConfig,
    tokenize_col,
    tokenize_pandas_udf,
    tokenize_text,
)
from ref_oracle import ref_tokenize

ADVERSARIAL = [
    "",
    "   ",
    "hello world",
    "Hello, World!  How's it going?",
    "!!!***(((%%%$$$###@@@",
    "tabs\there\tand\tmore",
    "line\nbreaks\nare\nfun",
    "mixed\t\npunct!?...and,words;here",
    "UPPER lower MiXeD CaSe",
    "unicode café naïve über straße ♛ 你好",
    "a b c single-char and two-ch ar",
    "hyphen-ated co-op re-mix 70's rock'n'roll",
    "trailing punct.",
    ".leading punct",
    "num83r5 and 123 456789",
    "\t",
    "\n",
    "x\ty\nz",
    "the and of a in to is",  # pure stop words
    "word  double   spaces",
]

CONFIGS = [
    dict(min_token_length=None, stop_words_path=None),
    dict(min_token_length=0, stop_words_path=None),
    dict(min_token_length=1, stop_words_path=None),
    dict(min_token_length=3, stop_words_path=None),
    dict(min_token_length=3, stop_words_path=STOP_WORDS_PATH),
    dict(min_token_length=2, stop_words_path=STOP_WORDS_PATH),
]


def _cfg(c) -> TokenizerConfig:
    sw = (
        TokenizerConfig.load_stop_words(c["stop_words_path"])
        if c["stop_words_path"]
        else None
    )
    return TokenizerConfig(min_token_length=c["min_token_length"], stop_words=sw)


@pytest.mark.parametrize("c", CONFIGS)
def test_python_matches_reference(c):
    cfg = _cfg(c)
    ref = ref_tokenize(ADVERSARIAL, c["min_token_length"], c["stop_words_path"], None)
    ours = [tokenize_text(t, cfg) for t in ADVERSARIAL]
    assert ours == ref


@given(st.lists(st.text(max_size=40), max_size=8))
@settings(max_examples=200, deadline=None)
def test_python_matches_reference_hypothesis(texts):
    cfg = TokenizerConfig(min_token_length=2, stop_words=None)
    ref = ref_tokenize(texts, 2, None, None)
    assert [tokenize_text(t, cfg) for t in texts] == ref


@pytest.mark.parametrize("c", CONFIGS)
def test_pandas_udf_matches_python(spark, c):
    cfg = _cfg(c)
    df = spark.createDataFrame([(t,) for t in ADVERSARIAL], "text string")
    got = [r["toks"] for r in df.select(tokenize_pandas_udf(cfg)("text").alias("toks")).collect()]
    assert got == [tokenize_text(t, cfg) for t in ADVERSARIAL]


@pytest.mark.parametrize(
    "c", [c for c in CONFIGS if (c["min_token_length"] or 0) >= 2]
)
def test_native_col_matches_python(spark, c):
    cfg = _cfg(c)
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(t,) for t in ADVERSARIAL], "text string")
    got = [r["toks"] for r in df.select(tokenize_col(F.col("text"), cfg).alias("toks")).collect()]
    assert got == [tokenize_text(t, cfg) for t in ADVERSARIAL]


def test_native_col_rejects_unsafe_configs():
    with pytest.raises(ValueError):
        tokenize_col(None, TokenizerConfig(min_token_length=1))
    with pytest.raises(ValueError):
        tokenize_col(None, TokenizerConfig(min_token_length=3, stem_lang="english"))


def test_native_split_matches_python_unicode_whitespace(spark):
    # Java \s is ASCII-only; the parity contract is the reference's Python
    # \S+ (tokenizer.py:50), whose whitespace set is Unicode White_Space
    # plus U+001C-001F. The native path uses (?U)[\s C0-seps]+ to match.
    from pyspark.sql import functions as F

    cfg = TokenizerConfig(min_token_length=2)
    ws = [0x00A0, 0x1680, 0x2000, 0x2009, 0x2028, 0x2029, 0x202F,
          0x205F, 0x3000, 0x0085, 0x001C, 0x001D, 0x001E, 0x001F]
    texts = ["plain text here", "tabs\tand\nnewlines"] + [
        f"aa{chr(c)}bb and{chr(c)}cc" for c in ws
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select(
        tokenize_col(F.col("text"), cfg).alias("t")
    ).collect()
    for t, r in zip(texts, rows):
        assert r["t"] == tokenize_text(t, cfg), t.encode()
