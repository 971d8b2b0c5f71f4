"""LocalSearcher gates: in-process serving ≡ the distributed packed paths
for all six rankers; lazy ≡ preload; zero Spark jobs on the preloaded hot
path."""

from __future__ import annotations

import pytest

from searchengine_spark.fixtures import STOP_WORDS_PATH
from searchengine_spark.fixtures.transcripts import REFERENCE_QUERIES, transcripts_df
from searchengine_spark.indexing.build import Bm25Params
from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
from searchengine_spark.query.proximity import (
    proximity_topk_packed_batch,
    tfidf_topk_packed_batch,
)
from searchengine_spark.query.serve import LocalSearcher
from searchengine_spark.query.wand import bm25_topk_packed_batch, boolean_search_packed
from searchengine_spark.tokenizer import TokenizerConfig

PARAMS = Bm25Params(1.2, 0.75)
N_CONV = 60
QUERIES = list(REFERENCE_QUERIES[:8])


@pytest.fixture(scope="module")
def cfg():
    # the committed stop-word list: none of these gates compares against
    # the live reference engine
    return TokenizerConfig(
        min_token_length=3,
        stop_words=TokenizerConfig.load_stop_words(STOP_WORDS_PATH))


@pytest.fixture(scope="module")
def pidx(spark, cfg, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("serve") / "idx")
    build_packed_index(
        transcripts_df(spark, n_conv=N_CONV, n_partitions=4), cfg, path,
        params=PARAMS, chunk_docs=256, positional=True, tfidf_sidecar=True,
    )
    return load_packed_index(spark, path)


@pytest.fixture(scope="module")
def local(pidx, cfg):
    return LocalSearcher(pidx, preload=True, cfg=cfg)


def _dist(df):
    by_q = {}
    for r in df.collect():
        by_q.setdefault(r["query_id"], {})[r["rank"]] = (
            r["doc_id"], round(r["score"], 9)
        )
    return by_q


def _loc(res):
    return {r["rank"]: (r["doc_id"], round(r["score"], 9)) for r in res}


def test_bm25_parity(pidx, local, cfg):
    want = _dist(bm25_topk_packed_batch(pidx, QUERIES, cfg, k=10, params=PARAMS))
    for qid, q in enumerate(QUERIES):
        got = _loc(local.search(q, k=10, ranker="bm25", resolve=False))
        assert got == want.get(qid, {}), q


def test_bm25_optimized_parity(pidx, local, cfg):
    want = _dist(proximity_topk_packed_batch(pidx, QUERIES, cfg, k=10, params=PARAMS))
    for qid, q in enumerate(QUERIES):
        got = _loc(local.search(q, k=10, ranker="bm25_optimized", resolve=False))
        assert got == want.get(qid, {}), q


def test_tfidf_parity(pidx, local, cfg):
    want = _dist(tfidf_topk_packed_batch(pidx, QUERIES, cfg, k=10))
    for qid, q in enumerate(QUERIES):
        got = _loc(local.search(q, k=10, ranker="tfidf", resolve=False))
        assert got == want.get(qid, {}), q


def test_tfidf_optimized_parity(pidx, local, cfg):
    want = _dist(
        proximity_topk_packed_batch(pidx, QUERIES, cfg, k=10, mode="tfidf")
    )
    for qid, q in enumerate(QUERIES):
        got = _loc(local.search(q, k=10, ranker="tfidf_optimized", resolve=False))
        assert got == want.get(qid, {}), q


def test_boolean_parity(pidx, local, cfg):
    for op in ("and", "or"):
        df = boolean_search_packed(pidx, QUERIES, cfg, op=op)
        want = {}
        for r in df.collect():
            want.setdefault(r["query_id"], set()).add(r["doc_id"])
        for qid, q in enumerate(QUERIES):
            got = {r["doc_id"] for r in local.search(q, ranker=f"boolean_{op}",
                                                     resolve=False)}
            assert got == want.get(qid, set()), (op, q)


def test_boolean_or_score_is_match_count(pidx, local, cfg):
    # the serving tiers agree on the OR score: matched-term count, the
    # n_terms column boolean_search_packed emits (jobs/search.py forwards
    # it as the spark-tier score)
    df = boolean_search_packed(pidx, QUERIES, cfg, op="or")
    want = {}
    for r in df.collect():
        want.setdefault(r["query_id"], {})[r["doc_id"]] = float(r["n_terms"])
    from searchengine_spark.tokenizer import tokenize_text

    for qid, q in enumerate(QUERIES):
        res = local.search(q, ranker="boolean_or", resolve=False)
        got = {r["doc_id"]: r["score"] for r in res}
        assert got == want.get(qid, {}), q
        # AND hits score the per-query constant: unique query-term count
        n_uniq = float(len(dict.fromkeys(tokenize_text(q, cfg))))
        for r in local.search(q, ranker="boolean_and", resolve=False):
            assert r["score"] == n_uniq, q


def test_resolve_ext_cols(pidx, local, cfg):
    res = local.search(QUERIES[0], k=3, ranker="bm25")
    assert res and all("conv_id" in r and "turn_idx" in r for r in res)


def test_preload_hot_path_runs_zero_spark_jobs(spark, pidx, local, cfg):
    sc = spark.sparkContext
    sc.setJobGroup("serve_probe", "local-serve hot path")
    try:
        for q in QUERIES[:4]:
            local.search(q, k=10, ranker="bm25")
            local.search(q, k=10, ranker="bm25_optimized")
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("serve_probe")
    assert list(jobs) == []


def test_lazy_equals_preload(pidx, local, cfg):
    lazy = LocalSearcher(pidx, preload=False, cfg=cfg)
    for q in QUERIES[:4]:
        for ranker in ("bm25", "bm25_optimized", "tfidf", "tfidf_optimized"):
            assert _loc(lazy.search(q, k=10, ranker=ranker, resolve=False)) == _loc(
                local.search(q, k=10, ranker=ranker, resolve=False)
            ), (q, ranker)
    # cached second pass: identical, and no new term fetches (slices cached)
    n_slices = len(lazy._slices)
    assert _loc(lazy.search(QUERIES[0], k=10, ranker="bm25", resolve=False))
    assert len(lazy._slices) == n_slices


def test_last_profile_counts_match_decode_hook(pidx, cfg, monkeypatch):
    """search() keeps the scorer counters of its call in last_profile:
    rows decoded == calls to the searcher's decode hook, every matched
    chunk is visited or skipped, and a fresh dict each call."""
    from searchengine_spark.query.wand import STAT_FIELDS
    from searchengine_spark.tokenizer import tokenize_text

    ls = LocalSearcher(pidx, preload=True, cfg=cfg)
    hook, calls = ls._dec, []

    def counting(buf):
        calls.append(id(buf))
        return hook(buf)

    monkeypatch.setattr(ls, "_dec", counting)
    seen = []
    for k in (1, 10):
        for q in QUERIES:
            del calls[:]
            ls.search(q, k=k, resolve=False)
            prof = ls.last_profile
            assert set(prof) == set(STAT_FIELDS)
            assert prof["rows_decoded"] == len(calls) == len(set(calls))
            pdf = ls._matched(list(dict.fromkeys(tokenize_text(q, cfg))))
            assert (prof["chunks_visited"] + prof["chunks_skipped"]
                    == pdf["chunk"].nunique())
            # a visited chunk decodes all its rows: the decoded buffers
            # are exactly the rows of the visited chunks
            by_id = {id(b): c for b, c in zip(pdf["postings"], pdf["chunk"])}
            visited = {by_id[i] for i in calls}
            assert len(visited) == prof["chunks_visited"]
            assert len(calls) == pdf["chunk"].isin(visited).sum()
            assert prof["heap_pushes"] <= prof["candidates"]
            assert prof["candidates"] <= k * prof["chunks_visited"]
            assert all(prof is not p for p in seen)
            seen.append(prof)
    assert sum(p["chunks_skipped"] for p in seen) > 0  # pruning exercised
    ls.search("the and of")
    assert ls.last_profile == {}  # no scorer ran


def test_unknown_and_empty_queries(local):
    assert local.search("zzzqqqxxx unknownterm") == []
    assert local.search("") == []
    assert local.search("the and of") == []  # stop words only


def test_decoded_cache_repeat_identical_and_bounded(pidx, cfg):
    """Repeat queries hit the decoded-postings LRU (no re-decode) with
    identical results; the cache honors its postings cap."""
    ls = LocalSearcher(pidx, preload=True, cfg=cfg)
    first = {q: _loc(ls.search(q, k=10, resolve=False)) for q in QUERIES}
    assert ls._dec_postings > 0 and len(ls._decoded) > 0
    n_entries = len(ls._decoded)
    again = {q: _loc(ls.search(q, k=10, resolve=False)) for q in QUERIES}
    assert again == first
    assert len(ls._decoded) == n_entries  # pure hits, no growth
    # tiny cap: eviction keeps Σ postings bounded, results unchanged
    small = LocalSearcher(pidx, preload=True, cfg=cfg, decoded_cache_postings=64)
    capped = {q: _loc(small.search(q, k=10, resolve=False)) for q in QUERIES}
    assert capped == first
    assert len(small._decoded) <= 2  # evicts down to the cap (+1 oversize)


def test_decoded_cache_all_rankers_repeat(pidx, cfg):
    ls = LocalSearcher(pidx, preload=True, cfg=cfg)
    for ranker in ("bm25", "bm25_optimized", "tfidf", "tfidf_optimized",
                   "boolean_and", "boolean_or"):
        a = ls.search(QUERIES[1], k=10, ranker=ranker, resolve=False)
        b = ls.search(QUERIES[1], k=10, ranker=ranker, resolve=False)
        assert a == b and (a or ranker.startswith("boolean"))


def test_optimized_rankers_refuse_non_positional(spark, cfg, tmp_path_factory):
    # without stored positions the local tier must refuse (the distributed
    # twin raises) — not silently serve unboosted scores under the
    # *_optimized label
    path = str(tmp_path_factory.mktemp("serve_nopos") / "idx")
    build_packed_index(
        transcripts_df(spark, n_conv=6, n_partitions=2), cfg, path,
        params=PARAMS, chunk_docs=256, positional=False, tfidf_sidecar=True,
    )
    ls = LocalSearcher(load_packed_index(spark, path), preload=True, cfg=cfg)
    for ranker in ("bm25_optimized", "tfidf_optimized"):
        with pytest.raises(ValueError, match="positional=True"):
            ls.search(QUERIES[0], ranker=ranker, resolve=False)


def test_resolve_returns_native_python_types(local):
    # preload-tier resolve must emit plain Python scalars (json-identical
    # to the distributed tier's Row.collect()), not numpy scalars
    res = local.search(QUERIES[0], k=3, ranker="bm25")
    assert res
    for r in res:
        assert type(r["doc_id"]) is int
        assert type(r["turn_idx"]) is int
        assert type(r["conv_id"]) is str


def test_tfidf_refuses_boolean_payload(spark, cfg, tmp_path_factory):
    # gap-only postings carry no tf — decoding them as (gap, tf, dlq)
    # triples yields garbage, so the tfidf local path must refuse like
    # the bm25/more_like paths do
    path = str(tmp_path_factory.mktemp("serve_bool") / "idx")
    build_packed_index(
        transcripts_df(spark, n_conv=6, n_partitions=2), cfg, path,
        params=PARAMS, chunk_docs=256, payload="boolean",
    )
    ls = LocalSearcher(load_packed_index(spark, path), preload=True, cfg=cfg)
    with pytest.raises(ValueError, match="payload"):
        ls.search(QUERIES[0], ranker="tfidf", schema="lnn.ltc", resolve=False)


def test_auto_preload_is_byte_budgeted(pidx, cfg, monkeypatch):
    """preload="auto" gates on estimated stored BYTES (exact from the
    lineage_index sidecar), so a wide positional payload above budget
    stays lazy — and the same index preloads when it fits."""
    import searchengine_spark.query.serve as serve_mod
    from searchengine_spark.query.serve import estimate_postings_bytes

    est = estimate_postings_bytes(pidx)
    assert est > 0
    monkeypatch.setattr(serve_mod, "AUTO_PRELOAD_BYTES", est - 1)
    lazy = LocalSearcher(pidx, preload="auto", cfg=cfg)
    assert not lazy._preloaded
    monkeypatch.setattr(serve_mod, "AUTO_PRELOAD_BYTES", est)
    hot = LocalSearcher(pidx, preload="auto", cfg=cfg)
    assert hot._preloaded
    # both tiers still answer identically
    a = lazy.search(QUERIES[0], k=5, ranker="bm25", resolve=False)
    b = hot.search(QUERIES[0], k=5, ranker="bm25", resolve=False)
    assert a == b and a


def test_estimate_prefers_exact_lineage_bytes(pidx, spark):
    """The estimate equals the true stored postings bytes when the
    lineage_index sidecar exists (never the count heuristic)."""
    from pyspark.sql import functions as F

    from searchengine_spark.query.serve import estimate_postings_bytes

    true_bytes = int(
        pidx.index.agg(F.sum(F.length("postings"))).collect()[0][0])
    assert estimate_postings_bytes(pidx) == true_bytes
