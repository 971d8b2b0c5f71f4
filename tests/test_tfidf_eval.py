"""TF-IDF lnc.ltc parity gates (golden micro + live reference) and eval
metrics quirk-compat checks."""

from __future__ import annotations

import datetime as dt
import math
import os

import pytest

from searchengine_spark.fixtures.transcripts import (
    REFERENCE_QUERIES,
    TRANSCRIPTS_SCHEMA,
    transcripts_df,
)
from searchengine_spark.indexing.build import build_index
from searchengine_spark.query.eval import EvalStats, parse_relevance_file
from searchengine_spark.query.tfidf import tfidf_topk_batch, tfidf_weights
from searchengine_spark.tokenizer import TokenizerConfig, tokenize_text

from ref_oracle import REF_SRC, ref_build_and_search

MICRO_DOCS = [
    "good games for kids",
    "good old games games",
    "haha lols are funny",
    "old games are good for kids kids kids",
]
MICRO_QUERY = "good old games games"
# pinned from the executed reference (SURVEY.md §2.7)
GOLDEN_TFIDF = [
    (1, 0.9144461042545081),
    (3, 0.5349585414316257),
    (0, 0.43332503335036365),
]

CFG_NONE = TokenizerConfig(min_token_length=None, stop_words=None, stem_lang=None)


def _micro_df(spark):
    rows = [
        ("c000", i, "user", text, None, dt.datetime(2026, 1, 1, 0, 0, i))
        for i, text in enumerate(MICRO_DOCS)
    ]
    return spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)


def test_tfidf_golden_micro(spark, tmp_path):
    it = build_index(_micro_df(spark), CFG_NONE, n_partitions=2).cache()
    got = [
        (r["doc_id"], r["score"])
        for r in tfidf_topk_batch(it, [MICRO_QUERY], CFG_NONE, k=10)
        .orderBy("rank")
        .collect()
    ]
    # live reference run on the same corpus
    ref, _ = ref_build_and_search(
        str(tmp_path),
        [d.split(" ") for d in MICRO_DOCS],
        [MICRO_QUERY.split(" ")],
        n=10,
        ranking_method="TF_IDF",
        schema="lnc.ltc",
    )
    assert [d for d, _ in got] == [d for d, _ in ref[0]]
    for (_, gs), (_, rs) in zip(got, ref[0]):
        assert gs == pytest.approx(rs, rel=1e-9)
    # and the pinned SURVEY §2.7 values
    assert [d for d, _ in got] == [d for d, _ in GOLDEN_TFIDF]
    for (_, gs), (_, ps) in zip(got, GOLDEN_TFIDF):
        assert gs == pytest.approx(ps, rel=1e-6)


N_CONV = 80


def test_tfidf_fixture_parity(spark, stop_words, tmp_path):
    """Rank-identical TF-IDF lnc.ltc vs the live reference on the synthetic
    transcripts corpus, 15 reference queries."""
    from searchengine_spark.fixtures.transcripts import generate_transcripts_pdf

    cfg = TokenizerConfig(min_token_length=3, stop_words=stop_words)
    pdf = generate_transcripts_pdf(n_conv=N_CONV)
    it = build_index(transcripts_df(spark, n_conv=N_CONV), cfg, n_partitions=4).cache()
    weights = tfidf_weights(it).cache()

    doc_tokens = [tokenize_text(t, cfg) for t in pdf["text"]]
    qtoks = [tokenize_text(q, cfg) for q in REFERENCE_QUERIES]
    ref, _ = ref_build_and_search(
        str(tmp_path), doc_tokens, qtoks, n=10, ranking_method="TF_IDF", schema="lnc.ltc"
    )

    got = tfidf_topk_batch(it, list(REFERENCE_QUERIES), cfg, k=10, weights=weights)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, ref_rows in enumerate(ref):
        want = sorted(((round(-s, 9), d) for d, s in ref_rows))[:10]
        mine = sorted(
            ((round(-s, 9), d) for _, d, s in sorted(by_q.get(qid, [])))
        )[:10]
        assert mine == want, f"query {qid}: {REFERENCE_QUERIES[qid]}"


def test_eval_metrics_quirks(tmp_path):
    rel = tmp_path / "rel.txt"
    rel.write_text("Q:some query\n10\t3\n11\t2\n12\t1\n")
    stats = EvalStats(parse_relevance_file(str(rel)))
    results = [(10, 2.0), (99, 1.0)]
    stats.add("some query", results, search_time=0.5)
    # precision 1/2, recall 1/3
    assert stats.precisions["some query"] == pytest.approx(0.5)
    assert stats.recalls["some query"] == pytest.approx(1 / 3)
    f = 2 * (0.5 * (1 / 3)) / (0.5 + 1 / 3)
    assert stats.fscores["some query"] == pytest.approx(f)
    # reference-quirk NDCG: DCG over engine scores, iDCG over grades in
    # file order (efficiency.py:66-78)
    dcg = (2**2.0 - 1) / math.log2(2) + (2**1.0 - 1) / math.log2(3)
    idcg = (2**3.0 - 1) / math.log2(2) + (2**2.0 - 1) / math.log2(3) + (2**1.0 - 1) / math.log2(4)
    assert stats.ndcg["some query"] == pytest.approx(dcg / idcg)
    # quirky throughput: counter sums len(results) (efficiency.py:45)
    assert stats.query_throughput() == pytest.approx(2 / 0.5)


def test_eval_on_relevance_file():
    path = os.path.join(os.path.dirname(REF_SRC), "queries.relevance.txt")
    if not os.path.exists(path):
        pytest.skip(f"reference relevance file absent: {path} does not exist")
    rels = parse_relevance_file(path)
    assert len(rels) == 15
    assert "greatest rock album" in rels
    grades = {g for rows in rels.values() for _, g in rows}
    assert grades <= {1, 2, 3}


def test_eval_add_empty_relevance_entry_no_crash():
    # a 'Q:' header with no doc lines parses to an empty list — add() must
    # treat it like a missing entry, not divide recall by zero
    from searchengine_spark.query.eval import EvalStats

    st = EvalStats({"ghost query": []})
    st.add("ghost query", [(1, 2.0), (2, 1.0)])
    assert "ghost query" not in st.recalls


def test_rank_eval_exact_numerators(spark):
    """ES _rank_eval analog (query/eval.py rank_eval): exact count
    numerators over a rated top-k window; floats derive client-side."""
    import pytest as _pytest

    from searchengine_spark.query.eval import rank_eval

    results = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3), (0, 13, 4),
         (1, 20, 1), (1, 21, 2)],
        "query_id int, doc_id long, rank int")
    ratings = spark.createDataFrame(
        [(0, 11, 2), (0, 13, 1), (0, 99, 3), (0, 12, 0),
         (1, 50, 1)],
        "query_id int, doc_id long, grade int")
    got = {r["query_id"]: (r["n_returned"], r["n_rel_ret"],
                           r["n_rel_total"], r["first_rel_rank"])
           for r in rank_eval(results, ratings, ["doc_id"],
                              k=3).collect()}
    # q0 top-3 = docs 10,11,12; relevant (grade>=1) returned: doc 11
    # only (doc 12 is rated 0, doc 13 is rank 4 > k); rated-relevant
    # total = {11, 13, 99} = 3; first relevant at rank 2
    assert got[0] == (3, 1, 3, 2)
    # q1: nothing returned is rated; total relevant = 1; MRR -> NULL
    assert got[1] == (2, 0, 1, None)
    # precision@3 = 1/3, recall = 1/3, MRR = 1/2 — all client-side
    n_ret, n_rel, n_tot, frr = got[0]
    assert (n_rel / n_ret, n_rel / n_tot, 1 / frr) == \
        (_pytest.approx(1 / 3), _pytest.approx(1 / 3), 0.5)
    with _pytest.raises(ValueError, match="lacks columns"):
        rank_eval(results, ratings.drop("grade"), ["doc_id"], k=3)
    with _pytest.raises(ValueError, match="rank"):
        rank_eval(results.drop("rank"), ratings, ["doc_id"], k=3)
    # relevant_rating_threshold: grade >= 2 shrinks both numerators
    strict = {r["query_id"]: (r["n_rel_ret"], r["n_rel_total"])
              for r in rank_eval(results, ratings, ["doc_id"], k=3,
                                 relevant_grade=2).collect()}
    assert strict[0] == (1, 2)   # doc 11 (grade 2) + unreturned doc 99
