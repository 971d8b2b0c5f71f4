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
])
def test_rescore_refuses_flags_it_would_drop(spark, index_path, monkeypatch,
                                             extra, flag):
    """--rescore returns before the --pin and --random-score branches, so
    each combination must exit non-zero with a message naming the flag."""
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
