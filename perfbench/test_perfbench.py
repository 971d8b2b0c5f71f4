"""Tests of the benchmark itself (no Spark): python3 -m pytest perfbench -q"""

import os
import re
import shutil
import subprocess
import sys

import pytest

from perfbench import corpus
from perfbench.checks import leaked, same_topk
from perfbench.spans import SparkCounter
from perfbench.workloads import SPEC, Bench, Result, _blocks, _throughput

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_same_seed_same_inputs_other_seed_other_inputs():
    assert corpus.corpus_hash(40, 7) == corpus.corpus_hash(40, 7)
    assert corpus.corpus_hash(40, 7) != corpus.corpus_hash(40, 8)
    s7 = corpus.stream_hash(corpus.query_stream(7, 500))
    assert s7 == corpus.stream_hash(corpus.query_stream(7, 500))
    assert s7 != corpus.stream_hash(corpus.query_stream(8, 500))


def test_conversation_rows_do_not_depend_on_batching():
    whole = corpus.rows(range(30), 3)
    parts = [corpus.rows(range(lo, lo + 10), 3) for lo in (0, 10, 20)]
    import pandas as pd

    pd.testing.assert_frame_equal(whole, pd.concat(parts, ignore_index=True))


def test_corpus_has_the_promised_shape():
    cfg = corpus.tokenizer_config()
    vocab = set(corpus.vocabulary().tolist())
    assert len(vocab) == corpus.VOCAB_SIZE
    from searchengine_spark.fixtures.transcripts import REFERENCE_QUERIES
    from searchengine_spark.tokenizer import tokenize_text

    for q in REFERENCE_QUERIES:
        assert set(tokenize_text(q, cfg)) <= vocab
    pool = corpus.query_pool(5)
    assert len(pool) == len(set(pool)) > 300
    assert all(1 <= len(q.split()) <= 4 for q in pool)
    stream = corpus.query_stream(5, 2000)
    assert len(set(stream)) < len(stream)  # popular queries repeat


def test_check_accepts_equal_and_tied_reorders():
    want = [(5, 3.0), (2, 2.5), (9, 2.5), (1, 1.0)]
    assert same_topk(want, list(want))
    assert same_topk([(5, 3.0), (9, 2.5), (2, 2.5 + 1e-12), (1, 1.0)], want)


def test_check_rejects_swapped_ranks():
    want = [(5, 3.0), (2, 2.5), (9, 2.0), (1, 1.0)]
    assert not same_topk([(5, 3.0), (9, 2.0), (2, 2.5), (1, 1.0)], want)


def test_check_rejects_wrong_doc_score_or_length():
    want = [(5, 3.0), (2, 2.5)]
    assert not same_topk([(5, 3.0), (7, 2.5)], want)
    assert not same_topk([(5, 3.0), (2, 2.4)], want)
    assert not same_topk([(5, 3.0)], want)


def test_check_rejects_a_tombstoned_doc():
    assert leaked([4, 8, 15], {15, 16}) == [15]
    assert leaked([4, 8], {15, 16}) == []


def test_block_median_ignores_a_slow_block():
    steady = [0.02] * 300
    slow = steady[:100] + [0.06] * 100 + steady[200:]
    assert _throughput(slow, 1, 100) == _throughput(steady, 1, 100) == pytest.approx(50.0)
    assert _blocks(list(range(7)), 3) == [[0, 1, 2], [3, 4, 5]]
    assert _blocks([1, 2], 3) == [[1, 2]]


def test_a_failing_spark_block_raises():
    class Context:  # records job groups like a SparkContext
        def setJobGroup(self, gid, desc):
            self.group = gid

    counter = SparkCounter.__new__(SparkCounter)
    counter.sc, counter.drain = Context(), False
    with pytest.raises(ValueError):
        with counter.group("corpus"):
            raise ValueError("job failed")
    assert counter.sc.group == "perfbench.idle"


def test_metric_names_are_well_formed():
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", m["name"])
    assert {w["name"] for w in SPEC["workloads"]} == {"serve", "batch"}


def _bench(trace):
    b = Bench.__new__(Bench)
    b.trace = trace
    b.layer = {m["name"]: 1.0 for m in SPEC["per_layer"]}
    b.e2e = {m["name"]: 1.0 for m in SPEC["end_to_end"]}
    b.res = Result(attempted=1)
    return b


@pytest.mark.parametrize("trace", [False, True])
def test_printed_metrics_are_declared(trace):
    out = _bench(trace).finish().summary()
    kind = "per_layer" if trace else "end_to_end"
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in SPEC[kind]
    }
    assert set(out) == {"correct", "attempted", "failed", "metrics"}


@pytest.mark.parametrize("trace", [False, True])
def test_an_undeclared_or_missing_metric_is_refused(trace):
    b = _bench(trace)
    values = b.layer if trace else b.e2e
    values["undeclared_s"] = 1.0
    with pytest.raises(RuntimeError):
        b.finish()
    del values["undeclared_s"]
    values.pop(next(iter(values)))
    with pytest.raises(RuntimeError):
        b.finish()


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
