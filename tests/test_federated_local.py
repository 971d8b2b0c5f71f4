"""FederatedLocalSearcher gates (query/serve.py): the in-process federated
serving tier must be bit-identical to the distributed federated paths —
same global-idf contract (the _round3_up Python twin of the Spark
F.round(ln(N/df),3) expression is load-bearing here), same shard-local
dl_norm, same federation tie order — and, on a single shard, identical to
the plain LocalSearcher (the seams must not distort the degenerate case).
"""

import pyspark.sql.functions as F
import pytest

from searchengine_spark.fixtures import STOP_WORDS_PATH, transcripts_df
from searchengine_spark.indexing.deletes import delete_docs
from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
from searchengine_spark.query.federated import (
    bm25_topk_federated,
    boolean_search_federated,
    proximity_topk_federated,
    suggest_terms_federated,
    tfidf_topk_federated,
)
from searchengine_spark.query.serve import FederatedLocalSearcher, LocalSearcher
from searchengine_spark.tokenizer import TokenizerConfig

QUERIES = ["greatest rock album", "guitar solo legendary", "drummer tour"]


@pytest.fixture(scope="module")
def cfg():
    # the committed stop-word list: none of these gates compares against
    # the live reference engine
    return TokenizerConfig(
        min_token_length=3,
        stop_words=TokenizerConfig.load_stop_words(STOP_WORDS_PATH))


@pytest.fixture(scope="module")
def shards(spark, cfg, tmp_path_factory):
    """Two turn-parity shards of the (non-uniform) fixture corpus,
    positional + tfidf sidecar so every ranker family serves, with
    tombstones in shard a."""
    corpus = transcripts_df(spark, n_conv=10)
    base = tmp_path_factory.mktemp("fedlocal")
    pa, pb = str(base / "a"), str(base / "b")
    build_packed_index(corpus.filter(F.col("turn_idx") % 2 == 0), cfg, pa,
                       chunk_docs=32, positional=True, tfidf_sidecar=True)
    build_packed_index(corpus.filter(F.col("turn_idx") % 2 == 1), cfg, pb,
                       chunk_docs=32, positional=True, tfidf_sidecar=True)
    delete_docs(spark, pa, doc_ids=[1, 4, 6])
    return [load_packed_index(spark, p) for p in (pa, pb)]


@pytest.fixture(scope="module")
def fed_local(shards, cfg):
    return FederatedLocalSearcher(shards, preload=True, cfg=cfg)


def _dist_rows(df):
    return [
        (int(r["doc_id"]), float(r["score"]), int(r["rank"]))
        for r in df.orderBy("rank", "doc_id").collect()
    ]


def _local_rows(rows):
    return [(int(r["doc_id"]), float(r["score"]), int(r["rank"])) for r in rows]


@pytest.mark.parametrize("ranker", ["bm25", "tfidf", "bm25_optimized",
                                    "tfidf_optimized"])
def test_ranked_equals_distributed(spark, shards, cfg, fed_local, ranker):
    """Every ranked family: in-process federated == distributed federated,
    bit for bit (scores, global doc ids, ranks), tombstones included."""
    for q in QUERIES:
        if ranker == "bm25":
            dist = bm25_topk_federated(shards, [q], cfg, k=7, round_dp=6)
        elif ranker == "tfidf":
            dist = tfidf_topk_federated(shards, [q], cfg, k=7, round_dp=6)
        else:
            dist = proximity_topk_federated(
                shards, [q], cfg, k=7, mode=ranker.split("_")[0], round_dp=6)
        got = _local_rows(fed_local.search(q, k=7, ranker=ranker,
                                           round_dp=6, resolve=False))
        assert got == _dist_rows(dist), (ranker, q)
    assert len(got) > 0


def test_boolean_equals_distributed(spark, shards, cfg, fed_local):
    for op in ("and", "or"):
        for q in QUERIES:
            dist = sorted(
                int(r["doc_id"])
                for r in boolean_search_federated(shards, [q], cfg, op=op).collect()
            )
            got = [int(r["doc_id"])
                   for r in fed_local.search(q, ranker=f"boolean_{op}",
                                             resolve=False)]
            assert got == dist, (op, q)
    assert len(got) > 0


def test_single_shard_equals_plain_local(shards, cfg):
    """One-shard federation == plain LocalSearcher for every ranker: the
    global-idf recompute (_round3_up twin of the stored F.round idf), the
    dl-bounds envelope and the namespace shift must all degenerate to
    identity."""
    solo = FederatedLocalSearcher([shards[0]], preload=True, cfg=cfg)
    plain = LocalSearcher(shards[0], preload=True, cfg=cfg)
    for ranker in ("bm25", "bm25_and", "tfidf", "bm25_optimized",
                   "tfidf_optimized", "boolean_and", "boolean_or"):
        for q in QUERIES:
            got = solo.search(q, k=7, ranker=ranker, round_dp=6)
            want = plain.search(q, k=7, ranker=ranker, round_dp=6)
            assert got == want, (ranker, q)


def test_resolve_suggest_fuzzy(spark, shards, cfg, fed_local):
    """External-id resolution routes each winner to its owning shard's
    docmap; suggest == the distributed federated suggest; fuzzy corrects
    against the federation dictionary and equals the corrected query."""
    rows = fed_local.search(QUERIES[0], k=5, ranker="bm25", round_dp=6)
    assert rows and all("conv_id" in r and "turn_idx" in r for r in rows)

    for prefix in ("al", "ro"):
        got = fed_local.suggest(prefix, k=6)
        want = [{"term": r["term"], "df": int(r["df"])}
                for r in suggest_terms_federated(shards, prefix, k=6).collect()]
        assert got == want, prefix
    with pytest.raises(ValueError, match="prefix"):
        fed_local.suggest("")

    fz = fed_local.search("greatest rock albom", k=7, ranker="bm25",
                          round_dp=6, fuzzy=True)
    want = fed_local.search("greatest rock album", k=7, ranker="bm25",
                            round_dp=6)
    assert fz == want and len(fz) > 0


def test_phrase_minspan_equal_distributed(spark, shards, cfg, fed_local):
    """In-process federated phrase/minspan == the distributed federated
    twins (integer payloads, global namespace, same tie order)."""
    from searchengine_spark.query.federated import (
        minspan_topk_federated,
        phrase_topk_federated,
    )

    for q in QUERIES:
        dist = [
            (int(r["doc_id"]), int(r["n_occurrences"]), int(r["rank"]))
            for r in phrase_topk_federated(shards, [q], cfg, k=5)
            .orderBy("rank").collect()
        ]
        got = [(r["doc_id"], r["n_occurrences"], r["rank"])
               for r in fed_local.phrase(q, k=5, resolve=False)]
        assert got == dist, ("phrase", q)

        dist = [
            (int(r["doc_id"]), int(r["span_len"]), int(r["lo"]),
             int(r["hi"]), int(r["rank"]))
            for r in minspan_topk_federated(shards, [q], cfg, k=5)
            .orderBy("rank").collect()
        ]
        got = [(r["doc_id"], r["span_len"], r["lo"], r["hi"], r["rank"])
               for r in fed_local.minspan(q, k=5, resolve=False)]
        assert got == dist, ("minspan", q)
    resolved = fed_local.phrase(QUERIES[0], k=5)
    assert resolved and all("conv_id" in r for r in resolved)


def test_filter_boost_global_ids(spark, shards, cfg, fed_local):
    """filter_docs / boost_docs take federation-global ids and equal the
    distributed doc_filters / doc_boosts built from the same per-shard
    doc sets."""
    from searchengine_spark.query.federated import _doc_bases

    bases = _doc_bases(shards)
    # every third live doc of each shard, in the global namespace
    per_shard_local = [
        [int(r["doc_id"]) for r in s.docmap.collect() if r["doc_id"] % 3 == 0]
        for s in shards
    ]
    global_ids = [d + b for ids, b in zip(per_shard_local, bases) for d in ids]
    frames = [
        s.spark.createDataFrame([(d,) for d in ids], "doc_id long")
        for s, ids in zip(shards, per_shard_local)
    ]
    q = QUERIES[0]
    dist = bm25_topk_federated(shards, [q], cfg, k=7, round_dp=6,
                               doc_filters=frames)
    got = fed_local.search(q, k=7, ranker="bm25", round_dp=6,
                           filter_docs=global_ids, resolve=False)
    assert _local_rows(got) == _dist_rows(dist)
    assert len(got) > 0

    boosts = {d: 1.6 for d in global_ids}
    bframes = [
        s.spark.createDataFrame([(d, 1.6) for d in ids], "doc_id long, boost double")
        for s, ids in zip(shards, per_shard_local)
    ]
    distb = bm25_topk_federated(shards, [q], cfg, k=7, round_dp=6,
                                doc_boosts=bframes)
    gotb = fed_local.search(q, k=7, ranker="bm25", round_dp=6,
                            boost_docs=boosts, resolve=False)
    assert _local_rows(gotb) == _dist_rows(distb)
    assert gotb != got
