"""dis_max gates (ES dis_max): combined score = best sub + tie_breaker
x the rest, checked against a pandas brute over per-subquery exhaustive
rankings; tie_breaker edges (0 = pure best-of, 1 = bool-should sum);
duplicate subqueries collapse."""

from __future__ import annotations

import numpy as np
import pytest

from searchengine_spark.fixtures import STOP_WORDS_PATH
from searchengine_spark.fixtures.transcripts import transcripts_df
from searchengine_spark.indexing.build import Bm25Params
from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
from searchengine_spark.query.dismax import dismax_topk_packed
from searchengine_spark.query.wand import bm25_topk_packed_batch
from searchengine_spark.tokenizer import TokenizerConfig

PARAMS = Bm25Params(k=1.2, b=0.75)
GROUPS = [
    ["greatest rock album", "guitar solo"],
    ["drummer tour", "house party songs"],
]


@pytest.fixture(scope="module")
def cfg():
    # the committed stop-word list: none of these gates compares against
    # the live reference engine
    return TokenizerConfig(
        min_token_length=3,
        stop_words=TokenizerConfig.load_stop_words(STOP_WORDS_PATH))


@pytest.fixture(scope="module")
def packed(spark, cfg, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("dismaxpacked") / "idx")
    corpus = transcripts_df(spark, n_conv=50, n_partitions=8)
    build_packed_index(corpus, cfg, path, params=PARAMS, chunk_docs=256)
    return load_packed_index(spark, path)


def _sub_scores(packed, cfg, groups):
    """{(uq, doc): [sub scores]} via per-sub exhaustive WAND."""
    n = packed.manifest["n_docs"]
    flat = [(uq, s) for uq, subs in enumerate(groups) for s in subs]
    full = bm25_topk_packed_batch(packed, [s for _, s in flat], cfg, k=n,
                                  exhaustive=True).collect()
    out: dict = {}
    for r in full:
        uq = flat[r["query_id"]][0]
        out.setdefault((uq, r["doc_id"]), []).append(r["score"])
    return out

def _brute(packed, cfg, groups, tie, k):
    subs = _sub_scores(packed, cfg, groups)
    by_q: dict = {}
    for (uq, doc), ss in subs.items():
        s = max(ss) + tie * (sum(ss) - max(ss))
        by_q.setdefault(uq, []).append((-np.round(s, 6), doc))
    return sorted(
        (uq, rk, d, -ns)
        for uq, lst in by_q.items()
        for rk, (ns, d) in enumerate(sorted(lst)[:k], start=1)
    )


def _rows(df):
    return sorted((r["query_id"], r["rank"], r["doc_id"], r["score"])
                  for r in df.collect())


def test_dismax_matches_brute(packed, cfg):
    for tie in (0.0, 0.3, 1.0):
        got = _rows(dismax_topk_packed(packed, GROUPS, cfg, k=8,
                                       tie_breaker=tie, round_dp=6))
        assert got == _brute(packed, cfg, GROUPS, tie, 8), tie
        assert got


def test_dismax_single_sub_is_plain_bm25(packed, cfg):
    got = _rows(dismax_topk_packed(packed, [["greatest rock album"]], cfg,
                                   k=8, round_dp=6))
    plain = _rows(bm25_topk_packed_batch(packed, ["greatest rock album"],
                                         cfg, k=8, round_dp=6))
    assert got == plain


def test_dismax_duplicate_subs_collapse(packed, cfg):
    a = _rows(dismax_topk_packed(packed, [["guitar solo", "guitar solo"]],
                                 cfg, k=8, tie_breaker=0.5, round_dp=6))
    b = _rows(dismax_topk_packed(packed, [["guitar solo"]], cfg, k=8,
                                 tie_breaker=0.5, round_dp=6))
    assert a == b


def test_dismax_validation(packed, cfg):
    with pytest.raises(ValueError, match="tie_breaker"):
        dismax_topk_packed(packed, GROUPS, cfg, tie_breaker=1.5)
    with pytest.raises(ValueError, match="no subqueries"):
        dismax_topk_packed(packed, [[]], cfg)


def test_dismax_federated(spark, cfg, tmp_path_factory):
    """Federated dis_max against a brute over per-sub federated
    exhaustive rankings (the dfs_query_then_fetch score contract)."""
    from pyspark.sql import functions as F

    from searchengine_spark.query.dismax import dismax_topk_federated
    from searchengine_spark.query.federated import bm25_topk_federated

    corpus = transcripts_df(spark, n_conv=40, n_partitions=8)
    base = tmp_path_factory.mktemp("dismaxfed")
    shards = []
    for i, part in enumerate(
        [corpus.filter(F.col("turn_idx") % 2 == 0),
         corpus.filter(F.col("turn_idx") % 2 == 1)]
    ):
        p = str(base / f"s{i}")
        build_packed_index(part, cfg, p, params=PARAMS, chunk_docs=256)
        shards.append(load_packed_index(spark, p))
    n = sum(s.manifest["n_docs"] for s in shards)
    flat = [(uq, s) for uq, subs in enumerate(GROUPS) for s in subs]
    full = bm25_topk_federated(shards, [s for _, s in flat], cfg, k=n,
                               exhaustive=True).collect()
    subs: dict = {}
    for r in full:
        uq = flat[r["query_id"]][0]
        subs.setdefault((uq, r["doc_id"]), []).append(r["score"])
    tie = 0.3
    by_q: dict = {}
    for (uq, doc), ss in subs.items():
        s = max(ss) + tie * (sum(ss) - max(ss))
        by_q.setdefault(uq, []).append((-np.round(s, 6), doc))
    expect = sorted(
        (uq, rk, d, -ns)
        for uq, lst in by_q.items()
        for rk, (ns, d) in enumerate(sorted(lst)[:8], start=1)
    )
    got = _rows(dismax_topk_federated(shards, GROUPS, cfg, k=8,
                                      tie_breaker=tie, round_dp=6))
    assert got == expect and got


@pytest.mark.parametrize("tie", [0.0, 0.3, 1.0])
def test_dismax_prune_matches_score_all(packed, cfg, tie):
    """The block-max tier (prune=True, default) is bit-identical to the
    score-all composition (prune=False) — the WAND safety gate for the
    combined-score bound dismax(ub_1..ub_n)."""
    a = dismax_topk_packed(packed, GROUPS, cfg, k=15, tie_breaker=tie,
                           round_dp=6, prune=True)
    b = dismax_topk_packed(packed, GROUPS, cfg, k=15, tie_breaker=tie,
                           round_dp=6, prune=False)
    ra = sorted(tuple(r) for r in a.collect())
    rb = sorted(tuple(r) for r in b.collect())
    assert ra == rb and ra


def test_dismax_prune_oov_sub(packed, cfg):
    """A subquery that is entirely out-of-vocabulary contributes nothing
    on both tiers; a user query with ALL subs OOV returns no rows."""
    groups = [["greatest rock album", "zzzz qqqq"], ["xxxx yyyy"]]
    a = dismax_topk_packed(packed, groups, cfg, k=5, tie_breaker=0.4,
                           round_dp=6, prune=True)
    b = dismax_topk_packed(packed, groups, cfg, k=5, tie_breaker=0.4,
                           round_dp=6, prune=False)
    ra = sorted(tuple(r) for r in a.collect())
    rb = sorted(tuple(r) for r in b.collect())
    assert ra == rb
    assert {r[0] for r in ra} == {0}


def test_dismax_federated_prune_matches_score_all(spark, cfg,
                                                  tmp_path_factory):
    """The per-shard block-max + bounded merge (prune=True, default)
    equals the federated score-all composition bit-for-bit."""
    from pyspark.sql import functions as F

    from searchengine_spark.query.dismax import dismax_topk_federated

    corpus = transcripts_df(spark, n_conv=30, n_partitions=4)
    base = tmp_path_factory.mktemp("dismaxfedp")
    shards = []
    for i, part in enumerate(
        [corpus.filter(F.col("turn_idx") % 2 == 0),
         corpus.filter(F.col("turn_idx") % 2 == 1)]
    ):
        p = str(base / f"s{i}")
        build_packed_index(part, cfg, p, params=PARAMS, chunk_docs=256)
        shards.append(load_packed_index(spark, p))
    for tie in (0.0, 0.5):
        a = dismax_topk_federated(shards, GROUPS, cfg, k=12,
                                  tie_breaker=tie, round_dp=6, prune=True)
        b = dismax_topk_federated(shards, GROUPS, cfg, k=12,
                                  tie_breaker=tie, round_dp=6, prune=False)
        ra = sorted(tuple(r) for r in a.collect())
        rb = sorted(tuple(r) for r in b.collect())
        assert ra == rb and ra, tie
