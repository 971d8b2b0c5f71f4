"""Seed-pure inputs for the benchmark: vocabulary, transcripts, queries.

Every function here is a pure function of its arguments. A conversation's
rows depend only on (conversation index, seed), so the corpus is the same
for any Spark partitioning, and the executors generate it without the
driver materializing anything.

Corpus shape (what the engine's behaviour depends on):
- a Zipf-skewed vocabulary of ``VOCAB_SIZE`` content words, so term df
  spans from a handful of turns to most of the corpus;
- stop words from ``stop_words.txt`` at ``STOP_RATE`` of the tokens, plus
  short tokens the ``min_token_length=3`` tokenizer drops;
- skewed conversation lengths with rare long outliers;
- the words of the engine's 15 ``REFERENCE_QUERIES`` placed in the
  vocabulary at head, torso and tail ranks.
"""

from __future__ import annotations

import datetime as dt
import functools
import hashlib
import os
from typing import Iterable, List

import numpy as np
import pandas as pd

from searchengine_spark.fixtures.transcripts import (
    REFERENCE_QUERIES,
    TRANSCRIPTS_SCHEMA,
)
from searchengine_spark.tokenizer import TokenizerConfig, tokenize_text

STOP_WORDS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "stop_words.txt")
VOCAB_SIZE = 60_000
VOCAB_SEED = 0x5EED
ZIPF_S = 1.05  # term-rank exponent of the content vocabulary
STOP_RATE = 0.35  # share of tokens drawn from the stop-word list
SHORT_RATE = 0.03  # share of 1-2 letter tokens (dropped by min_token_length)
_ROLES = ("user", "assistant", "tool")
_CONS = np.array(list("bcdfghklmnprstvz"))
_VOWS = np.array(list("aeiou"))
_ROLE_LEN = np.array([14.0, 60.0, 30.0])  # mean words per turn, by role
_EPOCH = pd.Timestamp(dt.datetime(2026, 1, 1))


def tokenizer_config() -> TokenizerConfig:
    return TokenizerConfig(
        min_token_length=3,
        stop_words=TokenizerConfig.load_stop_words(STOP_WORDS_PATH),
    )


def stop_word_list() -> np.ndarray:
    with open(STOP_WORDS_PATH) as fh:
        return np.array([w for w in fh.read().split("\n") if w])


def _reference_words() -> List[str]:
    cfg = tokenizer_config()
    return list(dict.fromkeys(t for q in REFERENCE_QUERIES for t in tokenize_text(q, cfg)))


def vocabulary() -> np.ndarray:
    """``VOCAB_SIZE`` distinct lowercase words, index = Zipf rank - 1.
    The same for every seed, so index size per text byte does not move
    with the seed.

    Generated words are consonant-vowel syllable strings of 2-4 syllables
    (4-8 letters, none a stop word). The reference-query words take
    spread-out ranks so the 15 queries mix head, torso and tail terms."""
    rng = np.random.default_rng(VOCAB_SEED)
    syl = np.char.add(_CONS[:, None], _VOWS[None, :]).ravel()  # 80 syllables
    n_syl = rng.choice([2, 3, 4], size=VOCAB_SIZE * 2, p=[0.2, 0.5, 0.3])
    parts = rng.integers(0, syl.size, size=(VOCAB_SIZE * 2, 4))
    words = syl[parts[:, 0]]
    for j in range(1, 4):
        words = np.where(n_syl > j, np.char.add(words, syl[parts[:, j]]), words)
    stop = set(stop_word_list())
    ref = _reference_words()
    uniq = [w for w in dict.fromkeys(words.tolist()) if w not in stop and w not in ref]
    vocab = uniq[: VOCAB_SIZE - len(ref)]
    # reference words at ranks spread log-uniformly over 10..20k (distinct)
    ranks = np.geomspace(10, 20_000, len(ref)).astype(int).tolist()
    for r, w in zip(ranks, ref):
        vocab.insert(r, w)
    return np.array(vocab[:VOCAB_SIZE])


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    c = np.cumsum(w)
    return c / c[-1]


def conversation_length(rng: np.random.Generator) -> int:
    """Skewed turn count: mostly 1-30, one conversation in 150 is a
    300-800-turn outlier."""
    if rng.random() < 1 / 150:
        return int(rng.integers(300, 801))
    return int(min(rng.zipf(1.7), 30))


def conversations_for(turns: int, seed: int, start: int = 0) -> int:
    """The end of the conversation range [start, end) that first holds at
    least ``turns`` turns, so corpus size barely varies with the seed."""
    total, conv = 0, start
    while total < turns:
        total += conversation_length(np.random.default_rng([seed, conv]))
        conv += 1
    return conv


def conversation_texts(conv: int, seed: int, words: list, cdfs: tuple) -> List[str]:
    """The turn texts of conversation ``conv`` (pure in (conv, seed)).

    ``words`` and ``cdfs`` come from :func:`_word_table`. Turn ``i`` has role ``_ROLES[i % 3]``."""
    content_cdf, stop_cdf = cdfs
    n_vocab, n_stop = content_cdf.size, stop_cdf.size
    rng = np.random.default_rng([seed, int(conv)])
    k = conversation_length(rng)
    # users write short turns, assistants long ones, tools in between
    mean_len = np.resize(_ROLE_LEN, k)
    lens = np.maximum(1, rng.lognormal(np.log(mean_len), 0.6)).astype(np.int64)
    n = int(lens.sum())
    kind = rng.random(n)
    content = np.minimum(np.searchsorted(content_cdf, rng.random(n)), n_vocab - 1)
    stop = n_vocab + np.minimum(np.searchsorted(stop_cdf, rng.random(n)), n_stop - 1)
    short = n_vocab + n_stop + content % _CONS.size
    ids = np.where(kind < STOP_RATE, stop, np.where(kind > 1.0 - SHORT_RATE, short, content))
    flat = [words[i] for i in ids.tolist()]
    offs = np.concatenate(([0], np.cumsum(lens))).tolist()
    return [" ".join(flat[offs[i]: offs[i + 1]]) for i in range(k)]


@functools.lru_cache(maxsize=1)
def _word_table():
    """(words, cdfs): content words, then stop words, then 1-letter
    tokens, as one list the generator indexes into. Built once per
    process: Spark reuses a Python worker across partitions."""
    vocab, stops = vocabulary(), stop_word_list()
    words = vocab.tolist() + stops.tolist() + [c + "." for c in _CONS.tolist()]
    return words, (_zipf_cdf(vocab.size, ZIPF_S), _zipf_cdf(stops.size, 1.0))


def rows(conv_ids: Iterable[int], seed: int, words=None, cdfs=None) -> pd.DataFrame:
    """The transcripts rows of ``conv_ids``, in (conv_id, turn_idx) order."""
    if words is None:
        words, cdfs = _word_table()
    convs, texts = [], []
    for conv in conv_ids:
        t = conversation_texts(int(conv), seed, words, cdfs)
        convs.append(np.full(len(t), int(conv), dtype=np.int64))
        texts.extend(t)
    conv = np.concatenate(convs) if convs else np.zeros(0, dtype=np.int64)
    starts = np.flatnonzero(np.r_[True, conv[1:] != conv[:-1]]) if conv.size else conv
    turn = (np.arange(conv.size) - np.repeat(starts, np.diff(np.r_[starts, conv.size]))).astype(np.int32)
    roles = np.array(_ROLES)[turn % 3]
    return pd.DataFrame(
        {
            "conv_id": np.char.add("c", np.char.zfill(conv.astype(str), 8)),
            "turn_idx": turn,
            "role": roles,
            "text": texts,
            "tool": pd.Series(
                np.where(roles == "tool", np.char.add("tool", (turn % 5).astype(str)), None),
                dtype=object,
            ),
            "ts": _EPOCH + pd.to_timedelta(conv * 1000 + turn, unit="s"),
        }
    )


def transcripts(spark, conv_lo: int, conv_hi: int, seed: int, n_partitions: int):
    """Executor-side transcripts DataFrame for conversations [lo, hi)."""

    def gen(batches):
        words, cdfs = _word_table()
        for pdf in batches:
            yield rows(pdf["id"].to_numpy(), seed, words, cdfs)

    return spark.range(conv_lo, conv_hi, 1, n_partitions).mapInPandas(
        gen, schema=TRANSCRIPTS_SCHEMA
    )


def corpus_hash(n_conv: int, seed: int) -> str:
    """sha256 over the generated rows of conversations [0, n_conv)."""
    pdf = rows(range(n_conv), seed)
    h = hashlib.sha256(pd.util.hash_pandas_object(pdf, index=False).to_numpy().tobytes())
    h.update("\x00".join(pdf["text"]).encode())
    return h.hexdigest()


# ---------------------------------------------------------------- queries

BANDS = {
    # rank ranges of the content vocabulary; df falls with rank
    "head": (0, 60),
    "torso": (300, 3_000),
    "tail": (8_000, 30_000),
}


BAND_SIZES = {"head": 60, "torso": 120, "tail": 120, "mixed": 60}


def query_pool(seed: int) -> List[str]:
    """Distinct queries drawn by df band, ``BAND_SIZES`` per band, in
    band order (the i-th query of a band has 1 + i % 4 terms; a mixed
    query takes one term from head, torso and tail in turn, at least 2),
    followed by the 15 reference queries."""
    rng = np.random.default_rng([seed, 0xA11])
    vocab = vocabulary()
    pool: List[str] = []

    def draw(band: str) -> str:
        lo, hi = BANDS[band]
        return str(vocab[rng.integers(lo, hi)])

    for band, size in BAND_SIZES.items():
        i = 0
        while i < size:
            n_terms = 1 + i % 4
            if band == "mixed":
                terms = [draw(("head", "torso", "tail")[j % 3]) for j in range(max(2, n_terms))]
            else:
                terms = [draw(band) for _ in range(n_terms)]
            q = " ".join(terms)
            if len(set(terms)) == len(terms) and q not in pool:
                pool.append(q)
                i += 1
    return pool + [q for q in REFERENCE_QUERIES if q not in pool]


def interleaved(pool: List[str]) -> List[str]:
    """The band queries in rounds of (head, torso, tail, mixed, torso,
    tail), then the reference queries. Any window of the result holds the
    bands and term counts in the same proportions, so any stretch of a
    stream drawn in this order serves the same mix of query kinds."""
    bands, at = {}, 0
    for band, size in BAND_SIZES.items():
        bands[band], at = iter(pool[at: at + size]), at + size
    cycle = ("head", "torso", "tail", "mixed", "torso", "tail")
    rounds = BAND_SIZES["head"]
    return [next(bands[band]) for _ in range(rounds) for band in cycle] + pool[at:]


def query_stream(seed: int, n: int, pool: List[str] | None = None) -> List[str]:
    """``n`` queries drawn from the pool with Zipf(0.6) popularity (repeats).

    Popularity ranks follow :func:`interleaved`. The draws are a golden-
    ratio sequence with a seed-drawn start instead of random numbers: every
    prefix of the stream then holds each query close to its Zipf share,
    so every seed and run length serves the same mix of (band, term
    count)."""
    ranked = interleaved(pool if pool is not None else query_pool(seed))
    start = np.random.default_rng([seed, 0x5A3]).random()
    u = (start + np.arange(n) * 0.6180339887498949) % 1.0
    picks = np.searchsorted(_zipf_cdf(len(ranked), 0.6), u)
    return [ranked[i] for i in picks]


def stream_hash(queries: List[str]) -> str:
    return hashlib.sha256("\n".join(queries).encode()).hexdigest()
