"""jobs/search.py flag refusals: a flag the chosen branch cannot honour
must fail loudly, never be silently dropped (a wrong answer is worse
than a refusal)."""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest

from searchengine_spark.fixtures import STOP_WORDS_PATH, transcripts_df
from searchengine_spark.indexing.packed import build_packed_index
from searchengine_spark.tokenizer import TokenizerConfig

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _search_cli():
    spec = importlib.util.spec_from_file_location(
        "search_cli", os.path.join(REPO, "jobs", "search.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def index_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("cli") / "idx")
    cfg = TokenizerConfig(
        min_token_length=3,
        stop_words=TokenizerConfig.load_stop_words(STOP_WORDS_PATH))
    build_packed_index(transcripts_df(spark, n_conv=8), cfg, path,
                       chunk_docs=256)
    return path


@pytest.mark.parametrize("extra, flag", [
    (["--pin", "conv000001|0"], "--pin"),
    (["--random-score", "7"], "--random-score"),
    (["--collapse", "conv_id", "--collapse-inner-hits", "2"],
     "--collapse-inner-hits"),
    (["--ranker", "boolean_or", "--constant-score", "1.5"],
     "--constant-score"),
    (["--max-query-cost", "1000000000"], "--max-query-cost"),
])
def test_rescore_refuses_flags_it_would_drop(spark, index_path, monkeypatch,
                                             extra, flag):
    """--rescore returns before the other branches (and its secondary
    query escapes the cost check), so each combination must exit non-zero
    with a message naming the flag."""
    cli = _search_cli()
    monkeypatch.setattr(sys, "argv", [
        "search.py", "--index", index_path, "--query", "rock album",
        "--rescore", "guitar solo", *extra,
    ])
    with pytest.raises(SystemExit) as exc:
        cli.main()
    # a string payload: the interpreter prints it and exits with status 1
    assert isinstance(exc.value.code, str)
    assert "--rescore" in exc.value.code and flag in exc.value.code


class _NoSpark:
    """Stands in for SparkSession.builder: any use means Spark work
    started before the refusal."""

    def __getattr__(self, name):
        raise AssertionError(f"SparkSession.builder.{name} reached")


@pytest.mark.parametrize("extra, message", [
    (["--histogram", "nocolon"], "--histogram expects COL:INTERVAL"),
    (["--range", "c:3|1"], "--range edges must be strictly increasing"),
    (["--top-metrics", "x"], "--top-metrics wants SORT:M1"),
    (["--date-histogram", "ts:day,ts:hour", "--pipeline", "cumsum"],
     "--pipeline needs a single-column --date-histogram"),
    (["--date-histogram", "ts:day", "--pipeline", "bogus"],
     "unknown --pipeline op"),
    (["--geohash-grid", "lat:3"], "--geohash-grid wants LAT,LON"),
    (["--composite", "role:many"], "--composite SIZE must be an integer"),
    (["--percentiles", "n_chars:a|b"], "--percentiles wants integer"),
    (["--facets", "role", "--facet-approx", "2"],
     "--facet-approx wants N_SHARDS:SHARD_SIZE"),
    (["--facet-approx", "2:1"], "--facet-approx rides --facets"),
    (["--diversified", "role:many"], "--diversified 'role:many'"),
    (["--context", "1", "--snippet-source", "S"],
     "--context wants N_BEFORE,N_AFTER"),
    (["--context", "1,1"], "--context needs --snippet-source"),
])
@pytest.mark.parametrize("target", [
    ["--index", "/nonexistent"],
    ["--shards", "/nonexistent_a,/nonexistent_b"],
])
def test_malformed_specs_refused_before_spark(monkeypatch, target, extra,
                                              message):
    """Every post-processing spec is parsed right after argparse: a
    malformed one exits non-zero with its own flag's message before any
    Spark work (the index path does not even exist)."""
    from pyspark.sql import SparkSession

    cli = _search_cli()
    monkeypatch.setattr(SparkSession, "builder", _NoSpark())
    monkeypatch.setattr(sys, "argv", [
        "search.py", *target, "--query", "rock album",
        "--attrs", "/nonexistent_attrs", *extra,
    ])
    with pytest.raises(SystemExit) as exc:
        cli.main()
    assert isinstance(exc.value.code, str)
    assert message in exc.value.code
