"""Golden stdout of jobs/search.py's result-set post-processing.

Every aggregation flag runs at once over the same 8-conversation corpus,
once on ``--index`` and once on a 2-shard ``--shards`` federation, and
the whole stdout stream (aggregation lines, then the results lines) must
equal the committed golden file byte for byte. A third invocation covers
the sampler / diversified / facet-approx / composite-after variants.
The golden files hold the stdout these invocations printed before the
two tiers shared one post-processor; an intended output change rewrites
them from the same invocations.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys

import pytest
from pyspark.sql import functions as F

from searchengine_spark.fixtures import STOP_WORDS_PATH, transcripts_df
from searchengine_spark.indexing.packed import build_packed_index
from searchengine_spark.indexing.shards import build_shard_indexes
from searchengine_spark.tokenizer import TokenizerConfig

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDEN = os.path.join(REPO, "tests", "golden", "search_cli")
QUERIES = ["greatest rock album", "guitar solo", "zzqx vvkw"]


def _search_cli():
    spec = importlib.util.spec_from_file_location(
        "search_cli", os.path.join(REPO, "jobs", "search.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("golden")
    cfg = TokenizerConfig(
        min_token_length=3,
        stop_words=TokenizerConfig.load_stop_words(STOP_WORDS_PATH))
    corpus = transcripts_df(spark, n_conv=8)
    index = str(base / "idx")
    build_packed_index(corpus, cfg, index, chunk_docs=256)
    fed = build_shard_indexes(corpus, cfg, str(base / "fed"), 2,
                              chunk_docs=256)
    source = str(base / "source")
    corpus.write.parquet(source)
    attrs = str(base / "attrs")
    corpus.select(
        "conv_id", "turn_idx", "role", "tool", "ts",
        F.length("text").alias("n_chars"),
        ((F.col("turn_idx") * 37) % 101 - 50).alias("delta"),
        ((F.col("turn_idx") * 7919) % 180_000_000 - 90_000_000)
        .cast("long").alias("lat"),
        ((F.col("turn_idx") * 104_729) % 360_000_000 - 180_000_000)
        .cast("long").alias("lon"),
    ).write.parquet(attrs)
    ratings = str(base / "ratings")
    rated = None
    for q, phrase in (("greatest rock album", "%rock album%"),
                      ("guitar solo", "%guitar solo%")):
        part = corpus.filter(F.col("text").like(phrase)).select(
            F.lit(q).alias("query"), "conv_id", "turn_idx",
            F.when(F.col("turn_idx") % 2 == 0, 2).otherwise(1)
            .alias("grade"))
        rated = part if rated is None else rated.unionByName(part)
    rated.write.parquet(ratings)
    return {"index": index, "shards": fed["spec"], "source": source,
            "attrs": attrs, "ratings": ratings}


def _every_aggregation(env):
    return [
        "--attrs", env["attrs"],
        "--snippet-source", env["source"], "--highlight",
        "--facets", "role,tool", "--top-hits", "2",
        "--histogram", "n_chars:50",
        "--geohash-grid", "lat,lon:3",
        "--range", "n_chars:20|60",
        "--date-histogram", "ts:minute", "--pipeline", "cumsum",
        "--percentiles", "n_chars:50|90",
        "--cardinality", "role,tool",
        "--composite", "role,tool:3",
        "--extended-stats", "n_chars,delta",
        "--matrix-stats", "n_chars,delta",
        "--weighted-avg", "delta:n_chars",
        "--top-metrics", "n_chars:delta,role:2:desc",
        "--percentile-ranks", "n_chars:30|100",
        "--boxplot", "n_chars",
        "--mad", "n_chars,delta",
        "--multi-terms", "role,tool:4",
        "--rank-eval", env["ratings"] + ":5:1",
        "--t-test", "n_chars:role = 'user'|role = 'assistant'",
        "--string-stats", "role,tool",
        "--auto-date-histogram", "ts:5",
        "--filters-agg", "u=role = 'user'|a=role = 'assistant'",
        "--missing", "tool,delta",
        "--rare-terms", "role,tool", "--rare-max-doc-count", "2",
        "--adjacency", "u=role = 'user'|t=tool IS NOT NULL",
        "--significant-attrs", "role,tool", "--sig-min-fg", "1",
        "--significant", "3",
    ]


def _sampled(env):
    return [
        "--attrs", env["attrs"],
        "--sampler", "3", "--diversified", "role:1",
        "--facets", "role,tool", "--facet-approx", "2:1",
        "--composite", "n_chars:3", "--composite-after", "40",
        "--histogram", "n_chars:50",
    ]


def _run(monkeypatch, capsys, argv):
    cli = _search_cli()
    qs = [a for q in QUERIES for a in ("--query", q)]
    monkeypatch.setattr(sys, "argv", ["search.py", *argv, *qs, "-n", "5"])
    capsys.readouterr()
    cli.main()
    return capsys.readouterr().out


def _check_golden(name, out):
    with open(os.path.join(GOLDEN, name)) as fh:
        assert out == fh.read()


def test_golden_index_every_aggregation(env, monkeypatch, capsys):
    out = _run(monkeypatch, capsys, [
        "--index", env["index"], "--context", "1,1",
        *_every_aggregation(env)])
    _check_golden("index_every_aggregation.stdout", out)


def test_golden_shards_every_aggregation(env, monkeypatch, capsys):
    out = _run(monkeypatch, capsys, [
        "--shards", env["shards"], *_every_aggregation(env)])
    _check_golden("shards_every_aggregation.stdout", out)


def test_golden_index_sampled(env, monkeypatch, capsys):
    out = _run(monkeypatch, capsys, ["--index", env["index"],
                                     *_sampled(env)])
    _check_golden("index_sampled.stdout", out)


def test_context_on_shards(env, monkeypatch, capsys):
    """--context is honoured on --shards: one context line per query,
    printed before the results lines, and every context row belongs to
    the conversation of the hit whose rank it carries."""
    out = _run(monkeypatch, capsys, [
        "--shards", env["shards"], "--snippet-source", env["source"],
        "--context", "1,1"])
    lines = [json.loads(ln) for ln in out.splitlines()]
    ctx = [d for d in lines if "context" in d]
    res = {d["query"]: d["results"] for d in lines if "results" in d}
    assert [d["query"] for d in ctx] == QUERIES
    assert len(res) == len(QUERIES)
    n_rows = 0
    for d in ctx:
        hits = {r["rank"]: r for r in res[d["query"]]}
        for row in d["context"]:
            hit = hits[row["rank"]]
            assert row["conv_id"] == hit["conv_id"]
            assert row["turn_idx"] == hit["turn_idx"]
            assert abs(row["ctx_turn_idx"] - hit["turn_idx"]) <= 1
            n_rows += 1
    assert n_rows > 0
