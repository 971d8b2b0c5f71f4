"""M2/M3 gates: packed index ≡ exact index; WAND == exhaustive; resume."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from searchengine_spark.fixtures import STOP_WORDS_PATH
from searchengine_spark.fixtures.transcripts import REFERENCE_QUERIES, transcripts_df
from searchengine_spark.indexing.build import Bm25Params, build_index
from searchengine_spark.indexing.packed import (
    build_packed_index,
    exploded_view,
    load_packed_index,
)
from searchengine_spark.query.bm25 import bm25_topk_batch
from searchengine_spark.query.wand import bm25_topk_packed_batch, resolve_docs
from searchengine_spark.tokenizer import TokenizerConfig

PARAMS = Bm25Params(k=1.2, b=0.75)


@pytest.fixture(scope="module")
def cfg():
    # the committed stop-word list: none of these gates compares against
    # the live reference engine
    return TokenizerConfig(
        min_token_length=3,
        stop_words=TokenizerConfig.load_stop_words(STOP_WORDS_PATH))


@pytest.fixture(scope="module")
def corpus(spark):
    return transcripts_df(spark, n_conv=200, n_partitions=8)


@pytest.fixture(scope="module")
def packed(spark, corpus, cfg, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("packed") / "idx")
    # small chunk size so the fixture corpus spans many chunks -> pruning
    # paths actually exercised
    build_packed_index(corpus, cfg, path, params=PARAMS, chunk_docs=256)
    return load_packed_index(spark, path)


@pytest.fixture(scope="module")
def exact(corpus, cfg):
    return build_index(corpus, cfg).cache()


def test_manifest(packed):
    m = packed.manifest
    assert m["n_docs"] > 2000
    assert m["n_terms"] > 100
    assert m["n_postings"] > m["n_terms"]
    assert m["metrics"]["build_seconds"] > 0
    # docmap is no longer a stage: resolve reads a pruned view of docs/
    assert set(m["metrics"]["stage_seconds"]) == {
        "docs", "lineage", "index", "lineage_index", "term_stats"
    }


def test_packed_equals_exact_index(packed, exact):
    """Decoded packed postings == M1 exploded index (term, doc_id, tf, dl_norm)."""
    dec = exploded_view(packed)
    dln = exact.doc_lengths.select(
        F.col("doc_id").alias("_did"), F.col("dl_norm").alias("_dln")
    )
    ref = exact.index.join(dln, F.col("doc_id") == F.col("_did")).select(
        "term", "doc_id", F.col("tf").cast("long").alias("tf"),
        F.col("_dln").alias("dl_norm"),
    )
    diff = dec.exceptAll(ref).union(ref.exceptAll(dec))
    assert diff.count() == 0
    assert packed.manifest["n_docs"] == exact.n_docs
    assert abs(packed.manifest["avgdl"] - exact.avgdl) < 1e-9


def test_term_stats_match(packed, exact):
    got = {r["term"]: (r["df"], r["idf"]) for r in packed.term_stats.collect()}
    want = {r["term"]: (r["df"], r["idf"]) for r in exact.term_stats.collect()}
    assert got == want


def _topk_map(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    return {q: sorted(v) for q, v in out.items()}


def test_wand_equals_exhaustive(packed, cfg):
    wand = _topk_map(
        bm25_topk_packed_batch(packed, REFERENCE_QUERIES, cfg, k=10, params=PARAMS)
    )
    full = _topk_map(
        bm25_topk_packed_batch(
            packed, REFERENCE_QUERIES, cfg, k=10, params=PARAMS, exhaustive=True
        )
    )
    assert set(wand) == set(full)
    for q in full:
        assert [(r, d) for r, d, _ in wand[q]] == [(r, d) for r, d, _ in full[q]], q
        ws = np.array([s for _, _, s in wand[q]])
        fs = np.array([s for _, _, s in full[q]])
        np.testing.assert_allclose(ws, fs, rtol=0, atol=0)  # identical code path


def test_wand_rounded_rank_equals_exhaustive(packed, cfg):
    """round_dp mode (the oracle serving contract): pruning with the
    epsilon-slack threshold must still pick the same rounded-ranked top-k
    as an exhaustive rounded scan."""
    wand = _topk_map(
        bm25_topk_packed_batch(
            packed, REFERENCE_QUERIES, cfg, k=10, params=PARAMS, round_dp=6
        )
    )
    full = _topk_map(
        bm25_topk_packed_batch(
            packed, REFERENCE_QUERIES, cfg, k=10, params=PARAMS,
            round_dp=6, exhaustive=True,
        )
    )
    assert wand == full


def test_wand_equals_m1_exact(packed, exact, cfg):
    """Packed+WAND serving == M1 DataFrame join-agg scorer (rank identical,
    scores to 1e-9 — different float summation orders)."""
    wand = _topk_map(
        bm25_topk_packed_batch(packed, REFERENCE_QUERIES, cfg, k=10, params=PARAMS)
    )
    m1 = _topk_map(bm25_topk_batch(exact, list(REFERENCE_QUERIES), cfg, k=10, params=PARAMS))
    assert set(wand) == set(m1)
    for q in m1:
        assert [(r, d) for r, d, _ in wand[q]] == [(r, d) for r, d, _ in m1[q]], q
        ws = np.array([s for _, _, s in wand[q]])
        ms = np.array([s for _, _, s in m1[q]])
        np.testing.assert_allclose(ws, ms, rtol=1e-9)


def test_resolve_docs(packed, cfg):
    topk = bm25_topk_packed_batch(packed, ["greatest rock album"], cfg, k=5, params=PARAMS)
    res = resolve_docs(packed, topk)
    rows = res.collect()
    assert len(rows) == 5
    assert all(r["conv_id"].startswith("conv") for r in rows)


def test_boolean_payload_index(spark, corpus, cfg, packed, tmp_path):
    """payload='boolean' (BooleanPostingList analog): same boolean query
    answers as the freq index, materially smaller postings, BM25 refused."""
    from searchengine_spark.query.wand import boolean_search_packed

    path = str(tmp_path / "bool_idx")
    build_packed_index(
        corpus, cfg, path, params=PARAMS, chunk_docs=256, payload="boolean"
    )
    bidx = load_packed_index(spark, path)
    queries = ["greatest rock album", "house party songs"]
    for op in ("and", "or"):
        got = {
            (r["query_id"], r["doc_id"])
            for r in boolean_search_packed(bidx, queries, cfg, op=op).collect()
        }
        want = {
            (r["query_id"], r["doc_id"])
            for r in boolean_search_packed(packed, queries, cfg, op=op).collect()
        }
        assert got == want and got, op
    # size: boolean postings must be well under the freq payload's
    import pyspark.sql.functions as _F

    def bytes_of(p):
        return (
            spark.read.parquet(os.path.join(p, "lineage_index"))
            .agg(_F.sum("postings_bytes")).collect()[0][0]
        )

    assert bytes_of(path) < 0.6 * bytes_of(packed.path)
    with pytest.raises(ValueError, match="boolean"):
        bm25_topk_packed_batch(bidx, ["rock"], cfg, k=5)


def test_resume_skips_completed_stages(spark, corpus, cfg, tmp_path):
    path = str(tmp_path / "idx")
    m1 = build_packed_index(corpus, cfg, path, params=PARAMS, chunk_docs=256)
    docs_mtime = os.path.getmtime(os.path.join(path, "docs", "_SUCCESS"))
    idx_mtime = os.path.getmtime(os.path.join(path, "index", "_SUCCESS"))
    # simulate a crash after the index stage: stats + manifest lost
    os.remove(os.path.join(path, "manifest.json"))
    import shutil

    shutil.rmtree(os.path.join(path, "term_stats"))
    m2 = build_packed_index(corpus, cfg, path, params=PARAMS, chunk_docs=256, resume=True)
    assert os.path.getmtime(os.path.join(path, "docs", "_SUCCESS")) == docs_mtime
    assert os.path.getmtime(os.path.join(path, "index", "_SUCCESS")) == idx_mtime
    assert m2["n_docs"] == m1["n_docs"]
    assert m2["n_postings"] == m1["n_postings"]
    assert json.load(open(os.path.join(path, "manifest.json")))["n_terms"] == m1["n_terms"]


def test_lineage_covers_corpus(spark, packed):
    lin = spark.read.parquet(os.path.join(packed.path, "lineage"))
    total = lin.agg(F.sum("n_rows")).collect()[0][0]
    assert total == packed.manifest["n_docs"]


def test_index_lineage_accounts_all_postings(spark, packed):
    lin = spark.read.parquet(os.path.join(packed.path, "lineage_index"))
    row = lin.agg(
        F.sum("n_postings"), F.sum("n_chunks"), F.sum("postings_bytes")
    ).collect()[0]
    assert row[0] == packed.manifest["n_postings"]
    assert row[1] == packed.manifest["n_chunks"]
    assert row[2] > 0


def test_prefix_search_matches_exact(packed, exact):
    """prefix_search_packed == brute aggregation over the exact index for
    several prefixes (incl. one matching nothing)."""
    from searchengine_spark.query.wand import prefix_search_packed

    for prefix in ("ro", "albu", "zzzznope"):
        want = {
            (r["doc_id"], r["n_terms"], r["total_tf"])
            for r in exact.index.filter(F.col("term").startswith(prefix))
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_terms"),
                F.sum("tf").cast("long").alias("total_tf"),
            )
            .collect()
        }
        got = {
            (r["doc_id"], r["n_terms"], r["total_tf"])
            for r in prefix_search_packed(packed, prefix).collect()
        }
        assert got == want, prefix
    assert prefix_search_packed(packed, "ro").count() > 0


def test_prefix_search_plan_pushes_startswith(packed):
    from contextlib import redirect_stdout
    import io

    from searchengine_spark.query.wand import prefix_search_packed

    buf = io.StringIO()
    with redirect_stdout(buf):
        prefix_search_packed(packed, "ro").explain("formatted")
    plan = buf.getvalue()
    assert "StringStartsWith" in plan  # pushed to the term-sorted scan
    assert plan.count("Arguments: hashpartitioning") == 1, plan


def test_prefix_search_refuses_boolean_payload(spark, corpus, cfg, tmp_path_factory):
    from searchengine_spark.query.wand import prefix_search_packed

    path = str(tmp_path_factory.mktemp("prefbool") / "idx")
    build_packed_index(
        corpus, cfg, path, params=PARAMS, chunk_docs=512, payload="boolean"
    )
    with pytest.raises(ValueError, match="freq"):
        prefix_search_packed(load_packed_index(spark, path), "ro")
    with pytest.raises(ValueError, match="prefix"):
        prefix_search_packed(load_packed_index(spark, path), "")


def test_negative_term_weights_refused(packed, cfg):
    # a negative query-term weight inverts that term's chunk-bound
    # contribution (max becomes min) — pruning would silently skip true
    # top-k chunks, so the scorer refuses up front like negative boosts
    import pytest

    with pytest.raises(Exception, match="non-negative"):
        bm25_topk_packed_batch(
            packed, REFERENCE_QUERIES[:1], cfg, k=5, params=PARAMS,
            term_weights={0: {"music": -0.5}},
        ).collect()


def test_boolean_empty_query_batch_early_return(packed, cfg):
    # all-stop-word/empty queries must return an empty frame without
    # touching the index (the BM25 path's early return, mirrored)
    from searchengine_spark.query.wand import boolean_search_packed

    for op in ("and", "or"):
        out = boolean_search_packed(packed, ["", "the and of"], cfg, op=op)
        # a LocalTableScan (empty literal frame), not an index scan
        assert "parquet" not in out._jdf.queryExecution().executedPlan().toString().lower()
        assert out.count() == 0


def test_match_counts(packed, cfg):
    """_count analog: per-query matched-doc counts == the score-all
    surface's row counts; zero-match queries answer 0, never vanish."""
    from searchengine_spark.query.wand import (
        bm25_scores_packed_batch,
        match_counts_packed,
    )

    qs = ["greatest rock album", "zzz unknown only", "guitar"]
    got = {r["query_id"]: r["n_matched"]
           for r in match_counts_packed(packed, qs, cfg).collect()}
    want = {
        r["query_id"]: r["n"]
        for r in bm25_scores_packed_batch(packed, qs, cfg)
        .groupBy("query_id").count().withColumnRenamed("count", "n")
        .collect()
    }
    assert got[1] == 0 and 1 not in want       # zero-match answers 0
    assert {k: v for k, v in got.items() if v} == want
    assert set(got) == {0, 1, 2}
    # conjunctive counts never exceed OR counts
    andc = {r["query_id"]: r["n_matched"]
            for r in match_counts_packed(packed, qs, cfg,
                                         conjunctive=True).collect()}
    assert all(andc[q] <= got[q] for q in got)
