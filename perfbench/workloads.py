"""The workloads: serve (in-process tier) and batch (distributed tier).

Each workload sets up its inputs, measures for ``seconds``, checks every
answer, and returns a :class:`Result` holding the end-to-end metrics
(untraced run) or the per-layer metrics (traced run). Both set-ups build
a single index from a generated corpus; that build gives the build
metrics. Per-layer seconds are per traced operation of the workload (a
query on serve, a batch round on batch) or per call for set-up steps;
per-layer counts are totals, with ``trace.ops`` traced operations as
their base. A layer a workload does not touch reports 0.

Latencies are closed-loop: one client, each call waits for its reply.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from time import perf_counter as _now
from typing import Dict, List

import numpy as np
from pyspark.sql import functions as F

from searchengine_spark.fixtures.transcripts import REFERENCE_QUERIES
from searchengine_spark.indexing import codec
from searchengine_spark.indexing.compact import compact_index
from searchengine_spark.indexing.deletes import delete_docs
from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
from searchengine_spark.indexing.shards import build_shard_indexes, shard_paths
from searchengine_spark.query import serve as serve_mod
from searchengine_spark.query.federated import _doc_bases, bm25_topk_federated
from searchengine_spark.query.serve import LocalSearcher
from searchengine_spark.query.wand import bm25_topk_packed_batch
from searchengine_spark.streaming.incremental import append_batch
from searchengine_spark.tokenizer import tokenize_text

from . import corpus
from .checks import leaked, rows_by_query, same_topk
from .spans import SparkCounter, Trace, patched

# the declared metrics (names and units) the workloads must report
SPEC_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")
with open(SPEC_PATH) as _fh:
    SPEC = json.load(_fh)

K = 10
SERVE_TURNS = 10_000  # corpus sizes, in turns (documents)
BATCH_TURNS = 6_000
# Block-max pruning skips whole chunks (doc_id // chunk_docs). At the
# engine's default of 65,536 docs every term of these corpora would have
# one chunk and nothing could be skipped, so the benchmark's indexes use
# 1,024-doc chunks: ~10 per head term on serve, 6 on batch, 3 per shard.
CHUNK_DOCS = 1024
# Batch rounds run 2x slower in a fresh JVM than a minute later (JIT,
# Python workers): the exhaustive twins of the first batch and
# WARMUP_ROUNDS untimed rounds run before the measured ones.
WARMUP_ROUNDS = 3
SERVE_BLOCK = 100  # queries per block of serve's block medians
BATCH_BLOCK = 2  # rounds per block of batch's throughput median
APPEND_TURNS = 150  # appended to shard 0 in traced batch runs
N_SHARDS = 2
BATCH_SIZE = 32
EXHAUSTIVE_SAMPLE = 16
STREAM_LEN = 100_000
# The serving client moves to the next core every ROTATE_EVERY queries:
# single-core speed on a shared host drifts by up to ~40% per core,
# independently across cores, and rotating averages it out of a run.
ROTATE_EVERY = 20


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    metrics: Dict[str, dict] = field(default_factory=dict)
    notes: List[str] = field(default_factory=list)

    def summary(self) -> dict:
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": self.metrics,
        }


def _p95(values) -> float:
    return float(np.percentile(values, 95))


def _blocks(values: List[float], size: int) -> List[List[float]]:
    """``values`` in consecutive blocks of ``size``; a partial last block
    is dropped, unless there is no full one."""
    n = len(values) // size
    return [values[i * size: (i + 1) * size] for i in range(n)] if n else [values]


def _throughput(lat: List[float], per_op: int, block: int) -> float:
    """Median over blocks of ``block`` operations of queries per second.
    A slow spell of the host moves only the blocks it hits."""
    return statistics.median(per_op * len(x) / sum(x) for x in _blocks(lat, block))


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class Bench:
    """State of one run: Spark, scratch dir, seed, tracer and counters."""

    def __init__(self, spark, work: str, seed: int, trace: bool):
        self.spark, self.work, self.seed, self.trace = spark, work, seed, trace
        self.cores = spark.sparkContext.defaultParallelism
        self.cfg = corpus.tokenizer_config()
        self.tr = Trace()
        self.jobs = SparkCounter(spark, drain=trace)
        self.res = Result()
        self.layer: Dict[str, float] = {m["name"]: 0.0 for m in SPEC["per_layer"]}
        self.e2e: Dict[str, float] = {}

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def corpus_table(self, name: str, turns: int, lo: int = 0):
        """Write the conversations from ``lo`` on that hold ``turns`` turns
        as parquet -> (path, rows, text bytes, end of the range)."""
        out = self.path(name)
        hi = corpus.conversations_for(turns, self.seed, lo)
        with self.jobs.group("corpus"):
            corpus.transcripts(self.spark, lo, hi, self.seed, self.cores).write.mode(
                "overwrite"
            ).parquet(out)
            row = (
                self.spark.read.parquet(out)
                .agg(F.count(F.lit(1)), F.sum(F.octet_length("text")))
                .collect()[0]
            )
        return out, int(row[0]), int(row[1]), hi

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.res.failed += 1
            self.res.notes.append(f"# CHECK FAILED: {what}")
        return ok

    def traced_op(self, i: int) -> bool:
        """Traced runs alternate traced and untraced operations, so the
        difference of their mean latencies is the tracing overhead."""
        self.tr.active = self.trace and i % 2 == 1
        return self.tr.active

    def overhead(self, traced: List[float], untraced: List[float]) -> None:
        if traced and untraced:
            self.layer["trace.ops"] = len(traced)
            self.layer["trace.traced_ms"] = 1e3 * statistics.fmean(traced)
            self.layer["trace.untraced_ms"] = 1e3 * statistics.fmean(untraced)
            self.layer["trace.overhead_ms"] = (
                self.layer["trace.traced_ms"] - self.layer["trace.untraced_ms"]
            )

    def per_op(self, span: str, self_time: bool = False) -> float:
        n = max(1, self.layer["trace.ops"])
        return (self.tr.self_s if self_time else self.tr.total_s)[span] / n

    def finish(self) -> Result:
        """The metrics of this run's kind, exactly as BENCHMARK.json
        declares them; a metric set or left unset by mistake raises."""
        kind, values = ("per_layer", self.layer) if self.trace else ("end_to_end", self.e2e)
        units = {m["name"]: m["unit"] for m in SPEC[kind]}
        if set(values) != set(units):
            raise RuntimeError(
                f"{kind} metrics {sorted(values)} differ from BENCHMARK.json {sorted(units)}"
            )
        self.res.metrics = {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}
        return self.res


# ------------------------------------------------------------------ build


def build_index(b: Bench, src: str, n_rows: int, out: str) -> dict:
    """The set-up build of a workload's single index, measured and checked.

    Its wall time gives ``build_turns_per_s``; its manifest gives the
    ``packed.*`` layers."""
    with b.jobs.group("build"):
        t0 = _now()
        m = build_packed_index(
            b.spark.read.parquet(src), b.cfg, out, n_partitions=b.cores, chunk_docs=CHUNK_DOCS
        )
        wall = _now() - t0
    df_sum = load_packed_index(b.spark, out).term_stats.agg(F.sum("df")).collect()[0][0]
    b.res.attempted += 1
    b.check(m["n_docs"] == n_rows, f"build n_docs {m['n_docs']} != generated rows {n_rows}")
    b.check(df_sum == m["n_postings"], f"build sum(df) {df_sum} != n_postings {m['n_postings']}")
    st = m["metrics"]["stage_seconds"]
    b.layer.update(
        {
            "build_turns_per_s": n_rows / wall,
            "packed.docs_s": st["docs"],
            "packed.index_s": st["index"],
            "packed.fixed_s": wall - st["docs"] - st["index"],
            "spark.build_jobs": b.jobs.jobs["build"],
            "spark.build_tasks": b.jobs.tasks["build"],
            "packed.postings": m["n_postings"],
            "packed.chunks": m["n_chunks"],
            "packed.terms": m["n_terms"],
            "packed.index_bytes": _dir_bytes(os.path.join(out, "index")),
        }
    )
    b.res.notes.append(
        f"# build: {n_rows} turns, {m['n_terms']} terms, {m['n_postings']} postings, "
        f"{m['n_chunks']} chunks, {_dir_bytes(out)} index bytes, build {wall:.1f}s"
    )
    return m


# ------------------------------------------------------------------ serve


@contextlib.contextmanager
def serve_spans(b: Bench):
    """Wrap the serving layers where LocalSearcher looks them up per call.

    ``serve.py`` binds ``tokenize_text`` and ``_wand_scorer`` by name at
    import, so the wrappers go on ``query.serve``. ``_decode_cached`` binds
    ``decode_postings`` as a default argument, so decode is counted one
    level down, at ``indexing.codec.varbyte_decode`` (one call per LRU
    miss; a posting is three varbyte values)."""
    tr = b.tr
    orig_decode = codec.varbyte_decode
    orig_lookup = LocalSearcher._decode_cached

    def varbyte_decode(buf):
        with tr.span("codec.decode"):
            vals = orig_decode(buf)
        if tr.active:
            tr.counts["codec.decoded_postings"] += len(vals) // 3
        return vals

    def lookup(self, buf, fn=codec.decode_postings):
        if tr.active:
            tr.counts["serve.lru_lookups"] += 1
        return orig_lookup(self, buf, fn)

    orig_factory = serve_mod._wand_scorer

    def wand_scorer(*args, **kwargs):
        return tr.wrap("wand.score", orig_factory(*args, **kwargs))

    with contextlib.ExitStack() as stack:
        for target, attr, new in (
            (codec, "varbyte_decode", varbyte_decode),
            (LocalSearcher, "_decode_cached", lookup),
            (serve_mod, "_wand_scorer", wand_scorer),
            (serve_mod, "tokenize_text", tr.wrap("tokenizer", serve_mod.tokenize_text)),
            (LocalSearcher, "_matched", tr.wrap("serve.fetch", LocalSearcher._matched)),
            (LocalSearcher, "_resolve", tr.wrap("serve.resolve", LocalSearcher._resolve)),
            (LocalSearcher, "search", tr.wrap("serve.search", LocalSearcher.search)),
        ):
            stack.enter_context(patched(target, attr, new))
        yield


def serve_layers(b: Bench) -> None:
    tr = b.tr
    n = max(1, b.layer["trace.ops"])
    decodes = tr.counts["codec.decode.calls"]
    lookups = tr.counts["serve.lru_lookups"]
    b.layer.update(
        {
            "tokenizer.calls": tr.counts["tokenizer.calls"],
            "tokenizer.s": b.per_op("tokenizer"),
            "serve.fetch_s": b.per_op("serve.fetch", self_time=True),
            "serve.resolve_s": b.per_op("serve.resolve", self_time=True),
            "serve.self_s": b.per_op("serve.search", self_time=True),
            "serve.lru_lookups": lookups,
            "serve.lru_hit_ratio": 1.0 - decodes / lookups if lookups else 0.0,
            "codec.decode_calls": decodes,
            "codec.decoded_postings": tr.counts["codec.decoded_postings"],
            "codec.decoded_postings_per_query": tr.counts["codec.decoded_postings"] / n,
            "codec.decode_s": b.per_op("codec.decode"),
            "wand.score_s": b.per_op("wand.score", self_time=True),
        }
    )


def batch_answers(b: Bench, pidx, queries: List[str], **kw):
    """``bm25_topk_packed_batch`` top-k of ``queries``. The scorer runs a
    batch as one task, so the queries go as one batch per core, side by
    side from driver threads."""
    size = -(-len(queries) // b.cores)
    parts = [queries[i: i + size] for i in range(0, len(queries), size)]

    def answer(qs):
        return rows_by_query(bm25_topk_packed_batch(pidx, qs, b.cfg, k=K, **kw).collect(), len(qs))

    with ThreadPoolExecutor(len(parts)) as pool:
        return [hits for part in pool.map(answer, parts) for hits in part]


def serve_loop(b: Bench, searcher: LocalSearcher, stream, seconds: float, served: dict):
    """Serve ``stream`` one query at a time for ``seconds``.

    -> (traced, untraced) latency lists; ``served`` maps each query to its
    first answer, and a repeat that answers differently fails the check."""
    traced, untraced = [], []
    cores = sorted(os.sched_getaffinity(0))
    t_end = _now() + seconds
    try:
        for i, q in enumerate(stream):
            if _now() >= t_end:
                break
            if i % ROTATE_EVERY == 0:
                os.sched_setaffinity(0, {cores[i // ROTATE_EVERY % len(cores)]})
            b.traced_op(i)
            t0 = _now()
            hits = searcher.search(q, k=K)
            (traced if b.tr.active else untraced).append(_now() - t0)
            got = [(h["doc_id"], h["score"]) for h in hits]
            b.res.attempted += 1
            b.check(served.setdefault(q, got) == got, f"repeat of {q!r} answered differently")
    finally:
        os.sched_setaffinity(0, cores)
        b.tr.active = False
    return traced, untraced


def check_pruning(b: Bench, searcher: LocalSearcher, queries) -> None:
    """The scorer must skip some term-chunk rows on ``queries``, or the
    checks against the exhaustive twin could not catch a wrong skip.

    Counted by scoring ``queries`` again on ``searcher``: the scorer
    decodes each row it does not skip once, through the searcher's decode
    hook, so skipped rows = matched rows - hook calls. The counts are
    also the ``wand.chunk_rows`` and ``wand.skip_ratio`` layers."""
    hook, calls, rows = searcher._dec, [0], 0

    def counting(buf):
        calls[0] += 1
        return hook(buf)

    with patched(searcher, "_dec", counting):
        for q in queries:
            pdf = searcher._matched(list(dict.fromkeys(tokenize_text(q, b.cfg))))
            rows += 0 if pdf is None else len(pdf)
            searcher.search(q, k=K, resolve=False)
    skipped = rows - calls[0]
    b.res.attempted += 1
    b.check(skipped > 0, f"pruning skipped none of {rows} term-chunk rows of the sample")
    b.res.notes.append(f"# pruning: {skipped} of {rows} term-chunk rows of the sample skipped")
    b.layer["wand.chunk_rows"] = rows
    b.layer["wand.skip_ratio"] = skipped / rows if rows else 0.0


def check_against_batch(b: Bench, searcher: LocalSearcher, pidx, served: dict) -> None:
    """Every distinct served query must equal the distributed tier's
    top-k, and a fixed sample must equal the exhaustive (no pruning) twin."""
    queries = list(served)
    sample = queries[:EXHAUSTIVE_SAMPLE]
    with b.jobs.group("check"):
        batch = batch_answers(b, pidx, queries)
        exact = batch_answers(b, pidx, sample, exhaustive=True)
    for q, want in zip(queries, batch):
        b.check(same_topk(served[q], want), f"LocalSearcher {q!r} != bm25_topk_packed_batch")
    for q, want in zip(sample, exact):
        b.check(same_topk(served[q], want), f"LocalSearcher {q!r} != exhaustive twin")
    check_pruning(b, searcher, sample)


def run_serve(b: Bench, seconds: float) -> None:
    """One LocalSearcher(preload=True) serving a Zipf query stream."""
    with serve_spans(b) if b.trace else contextlib.nullcontext():
        t0 = _now()
        src, n_rows, text_bytes, _ = b.corpus_table("corpus", SERVE_TURNS)
        out = b.path("index")
        build_index(b, src, n_rows, out)
        pidx = load_packed_index(b.spark, out)
        t1 = _now()
        searcher = LocalSearcher(pidx, preload=True, cfg=b.cfg)
        b.layer["serve.open_s"] = _now() - t1
        setup_s = _now() - t0
        b.res.notes.append(f"# set-up {setup_s:.1f}s: searcher open {b.layer['serve.open_s']:.1f}s")
        served: dict = {}
        traced, untraced = serve_loop(
            b, searcher, corpus.query_stream(b.seed, STREAM_LEN), seconds, served
        )
    check_against_batch(b, searcher, pidx, served)
    lat = untraced
    b.e2e.update(
        {
            "setup_s": setup_s,
            "queries_per_s": _throughput(lat, 1, SERVE_BLOCK),
            "p50_ms": 1e3 * statistics.median(lat),
            "p95_ms": 1e3 * statistics.median(_p95(x) for x in _blocks(lat, SERVE_BLOCK)),
            "index_bytes_per_text_byte": _dir_bytes(out) / text_bytes,
        }
    )
    b.overhead(traced, untraced)
    serve_layers(b)
    b.res.notes.append(
        f"# serve: {n_rows} turns, {len(traced + untraced)} queries "
        f"({len(served)} distinct), latency samples n={len(lat)}"
    )


# ------------------------------------------------------------------ batch


def churn_shard(b: Bench, shard: str, lo: int):
    """Append one batch to ``shard`` and tombstone ~1% of its docs.

    -> (tombstoned shard-local doc ids as the benchmark computes them from
    the predicate, probe queries made of each of up to 8 tombstoned docs'
    two rarest terms, which would rank those docs first if they leaked)."""
    src, rows, _, _ = b.corpus_table("append", APPEND_TURNS, lo)
    with b.jobs.group("append"):
        t0 = _now()
        append_batch(b.spark.read.parquet(src), shard, b.cfg, batch_id=0)
        b.layer["incremental.append_s"] = _now() - t0
    where = f"pmod(hash(conv_id, turn_idx, {b.seed}), 100) = 0"
    with b.jobs.group("check"):
        pidx = load_packed_index(b.spark, shard)
        docs = pidx.docs_stage().filter(where).select("doc_id", "tokens").collect()
        terms = sorted({t for r in docs[:8] for t in r[1]})
        df = dict(
            pidx.term_stats.filter(F.col("term").isin(terms)).select("term", "df").collect()
        )
    probes = [
        " ".join(sorted(set(r[1]), key=lambda t: (df[t], t))[:2]) for r in docs[:8] if r[1]
    ]
    with b.jobs.group("delete"):
        t0 = _now()
        delete_docs(b.spark, shard, where=where)
        b.layer["deletes.delete_s"] = _now() - t0
    b.layer["spark.append_jobs"] = b.jobs.jobs["append"]
    b.layer["deletes.tombstoned"] = len(docs)
    b.res.notes.append(f"# churn on shard 0: appended {rows} turns, tombstoned {len(docs)}")
    return {r[0] for r in docs}, probes


def batch_round(b: Bench, pidx, shards, qs, traced_op: bool):
    """One 32-query batch on the single index, then on the federation.
    -> (seconds, single answers, federated answers)"""
    tr = b.tr
    with b.jobs.group("batch" if traced_op else "batch.untraced"):
        t0 = _now()
        with tr.span("wand.batch_plan"):
            plan = bm25_topk_packed_batch(pidx, qs, b.cfg, k=K)
        with tr.span("wand.batch_exec"):
            single = rows_by_query(plan.collect(), len(qs))
        t_single = _now() - t0
    with b.jobs.group("fed" if traced_op else "fed.untraced"):
        t0 = _now()
        with tr.span("federated.plan"):
            plan = bm25_topk_federated(shards, qs, b.cfg, k=K)
        with tr.span("federated.exec"):
            fed = rows_by_query(plan.collect(), len(qs))
        t_fed = _now() - t0
    return t_single + t_fed, single, fed


def run_batch(b: Bench, seconds: float) -> None:
    """32-query batches through the distributed tier: a single index, then
    a 2-shard federation of the same corpus. After the measured rounds,
    traced runs append to shard 0, tombstone ~1% of its docs and compact
    it. Only traced runs pay for the write path (20-60 s), and doing it
    last keeps their measured rounds on the same clean federation as
    untraced runs."""
    t0 = _now()
    src, n_rows, text_bytes, end = b.corpus_table("corpus", BATCH_TURNS)
    t1 = _now()
    fed_out = b.path("shards")
    with b.jobs.group("shards"):
        build_shard_indexes(
            b.spark.read.parquet(src), b.cfg, fed_out, N_SHARDS, staging=False,
            n_partitions=b.cores, chunk_docs=CHUNK_DOCS,
        )
    paths = shard_paths(fed_out, N_SHARDS)
    t2 = _now()
    out = b.path("index")
    build_index(b, src, n_rows, out)
    pidx = load_packed_index(b.spark, out)
    shards = [load_packed_index(b.spark, p) for p in paths]
    setup_s = _now() - t0
    b.res.notes.append(f"# set-up {setup_s:.1f}s: {N_SHARDS} shard builds {t2 - t1:.1f}s")

    pool = corpus.interleaved(corpus.query_pool(b.seed))
    # the reference queries lead, so every run's first round, the one
    # checked against the exhaustive twins, carries them; the last batch
    # wraps to the start, so every pool query is in a batch
    order = sorted(pool, key=lambda q: q not in REFERENCE_QUERIES)
    cyc = order + order[:BATCH_SIZE]
    batches = [cyc[i: i + BATCH_SIZE] for i in range(0, len(order), BATCH_SIZE)]
    traced, untraced, answers = [], [], {}
    # the exhaustive twins are the first batch's check; they and the
    # untimed rounds warm both tiers up
    exact = exhaustive_answers(b, pidx, shards, batches[0])
    t_end = None
    for i in itertools.count(-WARMUP_ROUNDS):
        if i == 0:
            t_end = _now() + seconds
        elif i >= 2 and _now() >= t_end:
            break
        key = i % len(batches)
        took, single, fed = batch_round(b, pidx, shards, batches[key], b.traced_op(max(i, 0)))
        if i >= 0:
            (traced if b.tr.active else untraced).append(took)
        b.res.attempted += 1
        b.check(answers.setdefault(key, (single, fed)) == (single, fed),
                f"batch {key} answered differently on a repeat")
    b.tr.active = False
    for q, got, want in zip(batches[0], zip(*answers[0]), zip(*exact)):
        b.check(same_topk(got[0], want[0]), f"single-index {q!r} != exhaustive twin")
        b.check(same_topk(got[1], want[1]), f"federated {q!r} != exhaustive twin")
    with b.jobs.group("check"):
        searcher = LocalSearcher(pidx, preload=False, cfg=b.cfg)
        searcher._ensure_terms(sorted({t for q in batches[0] for t in tokenize_text(q, b.cfg)}))
    check_pruning(b, searcher, batches[0])
    if b.trace:
        dead, probes = churn_shard(b, paths[0], end)
        check_churn(b, [load_packed_index(b.spark, p) for p in paths], dead, probes)

    rounds = traced + untraced
    b.e2e.update(
        {
            "setup_s": setup_s,
            "queries_per_s": _throughput(untraced, BATCH_SIZE, BATCH_BLOCK),
            "p50_ms": 1e3 * statistics.median(untraced),
            "p95_ms": 1e3 * _p95(untraced),
            "index_bytes_per_text_byte": _dir_bytes(out) / text_bytes,
        }
    )
    b.overhead(traced, untraced)
    n = max(1, len(traced))
    b.layer.update(
        {
            "wand.batch_plan_s": b.per_op("wand.batch_plan"),
            "wand.batch_exec_s": b.per_op("wand.batch_exec"),
            "spark.batch_jobs": b.jobs.jobs["batch"] / n,
            "spark.batch_tasks": b.jobs.tasks["batch"] / n,
            "federated.plan_s": b.per_op("federated.plan"),
            "federated.exec_s": b.per_op("federated.exec"),
            "spark.fed_jobs": b.jobs.jobs["fed"] / n,
            "spark.fed_tasks": b.jobs.tasks["fed"] / n,
        }
    )
    b.res.notes.append(
        f"# batch: {n_rows} turns, {N_SHARDS} shards, {len(rounds)} rounds of "
        f"{BATCH_SIZE} queries on both tiers, latency samples n={len(untraced)}"
    )


def exhaustive_answers(b: Bench, pidx, shards, qs):
    """-> (single-index, federated) top-k of ``qs`` without pruning."""
    with b.jobs.group("check"):
        return (
            rows_by_query(
                bm25_topk_packed_batch(pidx, qs, b.cfg, k=K, exhaustive=True).collect(), len(qs)
            ),
            rows_by_query(
                bm25_topk_federated(shards, qs, b.cfg, k=K, exhaustive=True).collect(), len(qs)
            ),
        )


def check_churn(b: Bench, shards, dead: set, probes) -> None:
    """The federation never returns a tombstoned doc of shard 0, and
    answers the same before and after shard 0 is compacted."""
    dead_global = {_doc_bases(shards)[0] + d for d in dead}

    def answer(shards):
        with b.jobs.group("check"):
            return rows_by_query(
                bm25_topk_federated(shards, probes, b.cfg, k=K).collect(), len(probes))

    before = answer(shards)
    shard0 = shards[0].path
    listed = set(os.listdir(shard0))
    with b.jobs.group("compact"):
        t0 = _now()
        compact_index(b.spark, shard0)
        b.layer["compact.compact_s"] = _now() - t0
    b.layer["compact.bytes_rewritten"] = sum(
        _dir_bytes(os.path.join(shard0, d)) for d in set(os.listdir(shard0)) - listed
    )
    after = answer([load_packed_index(b.spark, s.path) for s in shards])
    for q, got, want in zip(probes, after, before):
        b.res.attempted += 2
        bad = leaked((d for d, _ in got + want), dead_global)
        b.check(not bad, f"federated {q!r} returned tombstoned docs {bad}")
        b.check(same_topk(got, want), f"federated {q!r} changed across compaction")


WORKLOADS = {
    "serve": run_serve,
    "batch": run_batch,
}


def run(name: str, spark, work: str, seed: int, seconds: float, trace: bool) -> Result:
    b = Bench(spark, work, seed, trace)
    WORKLOADS[name](b, seconds)
    return b.finish()
