"""ES rescore gates (query/rescore.py): window semantics (only the top
window_size primary hits are re-ranked), score_mode combine table,
non-matching window docs keep qw·p (secondary ABSENT, not zero — the
multiply mode must not zero them), weights, validation."""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import pytest

from searchengine_spark.fixtures.transcripts import transcripts_df
from searchengine_spark.indexing.build import Bm25Params
from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
from searchengine_spark.query.rescore import rescore_topk
from searchengine_spark.query.wand import bm25_topk_packed_batch
from searchengine_spark.tokenizer import TokenizerConfig

PARAMS = Bm25Params(k=1.2, b=0.75)
QUERIES = ["greatest rock album", "house party songs"]
RESCORES = ["guitar solo", "drum"]


@pytest.fixture(scope="module")
def cfg(stop_words):
    return TokenizerConfig(min_token_length=3, stop_words=stop_words)


@pytest.fixture(scope="module")
def packed(spark, cfg, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("rescore") / "idx")
    corpus = transcripts_df(spark, n_conv=50, n_partitions=8)
    build_packed_index(corpus, cfg, path, params=PARAMS, chunk_docs=256)
    return load_packed_index(spark, path)


def _full(packed, cfg, queries):
    """{qid: {doc: rounded score}} via exhaustive ranking."""
    n = packed.manifest["n_docs"]
    rows = bm25_topk_packed_batch(packed, queries, cfg, k=n,
                                  exhaustive=True, round_dp=6).collect()
    out: dict = {}
    for r in rows:
        out.setdefault(r["query_id"], {})[r["doc_id"]] = r["score"]
    return out


def _round_half_up(x: float, dp: int) -> float:
    """Python twin of Spark's F.round(double, dp): HALF_UP on the shortest
    decimal repr (serve._round3_up at any dp). np.round rounds the binary
    value instead and differs on decimal ties such as 0.7 * 2.950835."""
    q = Decimal(1).scaleb(-dp)
    return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))


def _brute(packed, cfg, queries, rescores, k, window, qw, rqw, mode):
    prim = _full(packed, cfg, queries)
    sec = _full(packed, cfg, rescores)
    expect = []
    for qid in prim:
        ranked = sorted(prim[qid].items(), key=lambda kv: (-kv[1], kv[0]))
        win = ranked[:window]
        combined = []
        for doc, p in win:
            s = sec.get(qid, {}).get(doc)
            if s is None:
                c = qw * p
            else:
                a, b = qw * p, rqw * s
                c = {"total": a + b, "multiply": a * b,
                     "avg": (a + b) / 2.0, "max": max(a, b),
                     "min": min(a, b)}[mode]
            combined.append((doc, p, s, _round_half_up(c, 6)))
        combined.sort(key=lambda t: (-t[3], t[0]))
        for rk, (doc, p, s, c) in enumerate(combined[:k], start=1):
            expect.append((qid, doc, p, s, c, rk))
    return sorted(expect)


@pytest.mark.parametrize("mode", ["total", "multiply", "avg", "max", "min"])
def test_rescore_matches_brute(packed, cfg, mode):
    got = sorted(
        tuple(r) for r in rescore_topk(
            packed, QUERIES, RESCORES, cfg, k=10, window_size=25,
            query_weight=0.7, rescore_query_weight=1.5,
            score_mode=mode, round_dp=6).collect()
    )
    want = _brute(packed, cfg, QUERIES, RESCORES, 10, 25, 0.7, 1.5, mode)
    assert got == want and got, mode


def test_rescore_window_limits_effect(packed, cfg):
    """A doc ranked below the window must NOT enter the page even if
    the rescore query loves it: compare window=5 vs window=big."""
    small = _brute(packed, cfg, QUERIES, RESCORES, 5, 5, 1.0, 10.0, "total")
    docs_small = {(q, d) for q, d, *_ in small}
    prim = _full(packed, cfg, QUERIES)
    for q, d in docs_small:
        ranked = sorted(prim[q].items(), key=lambda kv: (-kv[1], kv[0]))[:5]
        assert d in {doc for doc, _ in ranked}
    got = sorted(
        tuple(r) for r in rescore_topk(
            packed, QUERIES, RESCORES, cfg, k=5, window_size=5,
            rescore_query_weight=10.0, round_dp=6).collect())
    assert got == small


def test_rescore_empty_rescore_query_keeps_primary_order(packed, cfg):
    got = rescore_topk(packed, QUERIES, ["", ""], cfg, k=8,
                       window_size=20, round_dp=6).collect()
    prim = {
        (r["query_id"], r["rank"]): r["doc_id"]
        for r in bm25_topk_packed_batch(packed, QUERIES, cfg, k=8,
                                        round_dp=6).collect()
    }
    assert {(r["query_id"], r["rank"]): r["doc_id"] for r in got} == prim
    assert all(r["secondary"] is None for r in got)


def test_rescore_validation(packed, cfg):
    with pytest.raises(ValueError, match="score_mode"):
        rescore_topk(packed, QUERIES, RESCORES, cfg, score_mode="sum")
    with pytest.raises(ValueError, match="window"):
        rescore_topk(packed, QUERIES, RESCORES, cfg, k=20, window_size=10)
    with pytest.raises(ValueError, match="align"):
        rescore_topk(packed, QUERIES, ["one"], cfg)
    with pytest.raises(ValueError, match="non-negative"):
        rescore_topk(packed, QUERIES, RESCORES, cfg, query_weight=-1.0)


def test_rescore_federated_matches_brute(spark, cfg, tmp_path_factory):
    """Federated rescore vs a brute over federated exhaustive primary +
    secondary rankings (dfs_query_then_fetch statistics; federation
    namespace ids)."""
    from pyspark.sql import functions as F

    from searchengine_spark.query.federated import bm25_topk_federated
    from searchengine_spark.query.rescore import rescore_topk_federated

    corpus = transcripts_df(spark, n_conv=30, n_partitions=4)
    base = tmp_path_factory.mktemp("rescfed")
    shards = []
    for i, part in enumerate(
        [corpus.filter(F.col("turn_idx") % 2 == 0),
         corpus.filter(F.col("turn_idx") % 2 == 1)]
    ):
        p = str(base / f"s{i}")
        build_packed_index(part, cfg, p, params=PARAMS, chunk_docs=256)
        shards.append(load_packed_index(spark, p))
    n = sum(s.manifest["n_docs"] for s in shards)

    def full(queries):
        rows = bm25_topk_federated(shards, queries, cfg, k=n,
                                   exhaustive=True, round_dp=6).collect()
        out: dict = {}
        for r in rows:
            out.setdefault(r["query_id"], {})[r["doc_id"]] = r["score"]
        return out

    prim, sec = full(QUERIES), full(RESCORES)
    window, k, qw, rqw = 15, 8, 1.0, 2.0
    expect = []
    for qid in prim:
        ranked = sorted(prim[qid].items(), key=lambda kv: (-kv[1], kv[0]))
        comb = []
        for doc, p in ranked[:window]:
            s = sec.get(qid, {}).get(doc)
            c = qw * p if s is None else qw * p + rqw * s
            comb.append((doc, p, s, _round_half_up(c, 6)))
        comb.sort(key=lambda t: (-t[3], t[0]))
        for rk, (doc, p, s, c) in enumerate(comb[:k], start=1):
            expect.append((qid, doc, p, s, c, rk))
    got = sorted(
        tuple(r) for r in rescore_topk_federated(
            shards, QUERIES, RESCORES, cfg, k=k, window_size=window,
            query_weight=qw, rescore_query_weight=rqw,
            round_dp=6).collect())
    assert got == sorted(expect) and got
