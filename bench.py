"""Benchmark harness. Prints ONE JSON line the driver records as BENCH_r{N}.json.

Headline metric: end-to-end index build + BM25 query suite time (sec) over a
deterministic synthetic transcripts corpus scaled to $SPARK_GRAFT_SF_DIR,
plus per-query timings. Extra keys report index-build throughput in
turns/sec (the BASELINE.json metric) and corpus size.

  python bench.py                  # one run at local[$SPARK_GRAFT_CPUS]
  python bench.py --scaling        # same job at N and 4N taskset-pinned
                                   # cores -> scaling efficiency (BENCH.md)

Everything is deterministic: generation is executor-side and a pure function
of (conv index, seed) — identical corpus at any parallelism.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
OUT = os.path.join(REPO, ".bench_out")


def _sf() -> float:
    tail = os.path.basename(SF_DIR.rstrip("/"))
    try:
        return float(tail.replace("sf", ""))
    except ValueError:
        return 0.1


def make_spark(cpus: int):
    from pyspark.sql import SparkSession

    # shuffle/spill on tmpfs: this VM has ONE virtio disk, which collapses
    # under 16-32 concurrent shuffle writers (4 cores measurably beat 16 on
    # wall-clock with disk shuffle). Real clusters give each executor its
    # own local NVMe, so RAM-backed shuffle is the faithful stand-in here.
    local_dir = "/dev/shm/se_spark_tmp"
    os.makedirs(local_dir, exist_ok=True)
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.local.dir", local_dir)
        # zstd shuffle/spill compression: fewer bytes through the memory
        # system per row at slightly more CPU — on this VM memory bandwidth
        # scales at ~0.73 from 1->4 pinned cores while pure CPU scales at
        # ~0.92 (BENCH.md host probes), so trading bytes for cycles helps
        # both absolute throughput and the N-vs-4N ratio
        .config("spark.io.compression.codec",
                os.environ.get("SPARK_GRAFT_CODEC", "zstd"))
        .config("spark.sql.parquet.compression.codec",
                os.environ.get("SPARK_GRAFT_PARQUET_CODEC", "zstd"))
        .appName(f"searchengine_spark_bench_{cpus}")
        .config("spark.sql.shuffle.partitions", str(max(cpus * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def run_suite(spark, sf: float, cpus: int) -> dict:
    """Build the packed index over the synthetic transcripts corpus, then
    serve the 15 reference queries from the on-disk index. Returns timings."""
    from searchengine_spark.fixtures.transcripts import (
        REFERENCE_QUERIES,
        transcripts_distributed,
    )
    from searchengine_spark.indexing.build import Bm25Params
    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.wand import bm25_topk_packed_batch
    from searchengine_spark.fixtures import STOP_WORDS_PATH
    from searchengine_spark.tokenizer import TokenizerConfig

    cfg = TokenizerConfig(min_token_length=3,
                          stop_words=TokenizerConfig.load_stop_words(
                              STOP_WORDS_PATH))
    params = Bm25Params(k=1.2, b=0.75)
    n_conv = int(os.environ.get("SPARK_GRAFT_N_CONV", 0)) or max(200, int(500_000 * sf))
    idx_path = os.path.join(OUT, f"index_sf{sf}_c{cpus}")
    shutil.rmtree(idx_path, ignore_errors=True)

    timings: dict = {}
    # corpus materialized once per sf (untimed): the benchmark measures the
    # ENGINE reading a table, not the synthetic generator's Python cost;
    # identical files also make the N-vs-4N-cores comparison input-exact
    corpus_path = os.path.join(OUT, f"corpus_{n_conv}.parquet")
    if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
        transcripts_distributed(spark, n_conv=n_conv, n_partitions=64).write.mode(
            "overwrite"
        ).parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)

    t0 = time.perf_counter()
    manifest = build_packed_index(corpus, cfg, idx_path, params=params,
                                  n_partitions=cpus * 2)
    timings["index_build"] = time.perf_counter() - t0
    n_turns = manifest["n_docs"]
    timings["_stages"] = manifest["metrics"]["stage_seconds"]

    t0 = time.perf_counter()
    pidx = load_packed_index(spark, idx_path)
    topk = bm25_topk_packed_batch(pidx, REFERENCE_QUERIES, cfg, k=10, params=params)
    n_results = topk.count()
    timings["bm25_15q_cold"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    topk = bm25_topk_packed_batch(pidx, REFERENCE_QUERIES, cfg, k=10, params=params)
    topk.count()
    timings["bm25_15q_warm"] = time.perf_counter() - t0

    # per-query warm latency. The INTERACTIVE serving unit is the
    # in-process LocalSearcher (reference src/searcher.py REPL analog,
    # README.md:279: ~446 ms/query single-node) — measured incl. docmap
    # resolve, after a one-time snapshot (reported separately). The
    # one-Spark-job-per-query path is kept as *_sparkjob_* for the
    # distributed-tier number. Skipped inside the pinned scaling trials:
    # there the metric is build throughput and extra serial jobs would
    # just stretch the trial's host-noise window.
    if not os.environ.get("SPARK_GRAFT_SKIP_LAT"):
        from searchengine_spark.query.serve import LocalSearcher

        def _pcts(lat: list) -> tuple:
            lat = sorted(lat)
            # ceil-rank p95: for n=15 this is lat[14] (int(n*.95)-1 was
            # the 93.3rd percentile — systematic under-report, ADVICE r02)
            return (lat[len(lat) // 2],
                    lat[min(len(lat) - 1, math.ceil(0.95 * len(lat)) - 1)])

        t0 = time.perf_counter()
        local = LocalSearcher(pidx, preload=True, cfg=cfg)
        timings["_local_open_ms"] = (time.perf_counter() - t0) * 1000.0
        local.search(REFERENCE_QUERIES[0], k=10)  # warm the codec path
        lat = []
        for q in REFERENCE_QUERIES:
            t0 = time.perf_counter()
            local.search(q, k=10)
            lat.append((time.perf_counter() - t0) * 1000.0)
        timings["_lat_p50_ms"], timings["_lat_p95_ms"] = _pcts(lat)

        # second pass over the same queries: the serving tier's
        # decoded-postings LRU makes repeat terms decode-free — the
        # steady-state number for a REPL/serving replica
        lat = []
        for q in REFERENCE_QUERIES:
            t0 = time.perf_counter()
            local.search(q, k=10)
            lat.append((time.perf_counter() - t0) * 1000.0)
        timings["_lat_rep_p50_ms"], timings["_lat_rep_p95_ms"] = _pcts(lat)

        lat = []
        for q in REFERENCE_QUERIES:
            t0 = time.perf_counter()
            bm25_topk_packed_batch(pidx, [q], cfg, k=10, params=params).count()
            lat.append((time.perf_counter() - t0) * 1000.0)
        timings["_lat_sparkjob_p50_ms"], timings["_lat_sparkjob_p95_ms"] = _pcts(lat)

    timings["_n_turns"] = n_turns
    timings["_n_results"] = n_results
    return timings


def one_run(cpus: int) -> dict:
    spark = make_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        # untimed warmup at a small scale: JIT + Arrow + codegen paths warm
        # so the timed run measures steady-state engine throughput
        n_conv_env = os.environ.pop("SPARK_GRAFT_N_CONV", None)
        run_suite(spark, 0.001, cpus)
        if n_conv_env is not None:
            os.environ["SPARK_GRAFT_N_CONV"] = n_conv_env
        return run_suite(spark, _sf(), cpus)
    finally:
        spark.stop()


def _single(cpus: int) -> dict:
    t = one_run(cpus)
    n_turns = t.pop("_n_turns")
    t.pop("_n_results", None)
    p50 = t.pop("_lat_p50_ms", None)
    p95 = t.pop("_lat_p95_ms", None)
    rp50 = t.pop("_lat_rep_p50_ms", None)
    rp95 = t.pop("_lat_rep_p95_ms", None)
    sj50 = t.pop("_lat_sparkjob_p50_ms", None)
    sj95 = t.pop("_lat_sparkjob_p95_ms", None)
    open_ms = t.pop("_local_open_ms", None)
    stages = t.pop("_stages", None)
    total = sum(t.values())
    out = {
        "metric": "index_build_plus_bm25_suite",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in t.items()},
        "sf": _sf(),
        "n_turns": n_turns,
        "turns_per_sec": round(n_turns / t["index_build"], 1),
        "query_latency_p50_ms": round(p50, 1) if p50 is not None else None,
        "query_latency_p95_ms": round(p95, 1) if p95 is not None else None,
        "query_latency_repeat_p50_ms": round(rp50, 1) if rp50 is not None else None,
        "query_latency_repeat_p95_ms": round(rp95, 1) if rp95 is not None else None,
        "query_latency_sparkjob_p50_ms": round(sj50, 1) if sj50 is not None else None,
        "query_latency_sparkjob_p95_ms": round(sj95, 1) if sj95 is not None else None,
        "local_serve_open_ms": round(open_ms, 1) if open_ms is not None else None,
        "build_stage_seconds": stages,
        "cpus": cpus,
    }
    # attach the committed pinned N-vs-4N scaling record (produced by
    # `python bench.py --scaling`, protocol in BENCH.md) so the per-round
    # JSON carries the north-rule scaling evidence without re-running the
    # ~hour-long pinned protocol on every driver bench
    rec = os.path.join(REPO, "BENCH_scaling.json")
    if os.path.exists(rec):
        try:
            with open(rec) as fh:
                out["scaling"] = json.load(fh)
        except (OSError, ValueError):
            pass
    # likewise attach the committed sf1.0 scale point (one full bench run at
    # 500k conversations / ~8.4M turns, produced by
    # `SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench.py` and saved as
    # BENCH_sf1.json) — order-of-magnitude evidence for the per-round JSON
    if _sf() != 1.0:
        rec = os.path.join(REPO, "BENCH_sf1.json")
        if os.path.exists(rec):
            try:
                with open(rec) as fh:
                    out["sf1_record"] = json.load(fh)
            except (OSError, ValueError):
                pass
        # and the sf1.0 esops cost-class point (score-all / collapse /
        # sort / decay at 8.4M turns — `SPARK_GRAFT_SF_DIR=.../sf1.0
        # python bench.py --esops`, saved as BENCH_esops_sf1.json)
        rec = os.path.join(REPO, "BENCH_esops_sf1.json")
        if os.path.exists(rec):
            try:
                with open(rec) as fh:
                    out["esops_sf1_record"] = json.load(fh)
            except (OSError, ValueError):
                pass
    return out


def _subprocess_run(cpus: int) -> dict:
    """One trial of one parallelism level in a FRESH process (separate JVM:
    no JIT/page-cache leakage between levels), HARD-PINNED to exactly
    ``cpus`` CPUs with taskset — otherwise local[N]'s Python workers and
    JVM GC/IO threads spill onto the other 32-N host cores and the low
    level is not actually an N-core machine."""
    import shutil as _sh
    import subprocess

    cmd = [sys.executable, os.path.abspath(__file__)]
    if _sh.which("taskset"):
        cmd = ["taskset", "-c", f"0-{cpus - 1}" if cpus > 1 else "0"] + cmd
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_GRAFT_SKIP_LAT="1")
    out = subprocess.run(cmd, env=env, capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def run_textops(spark, sf: float) -> dict:
    """LLM-pipeline family throughput over the testdata documents table:
    each stage timed end-to-end (docs/sec), plus the composed cleaning
    pipeline. Opt-in (``--textops``) — the driver's plain run keeps the
    index+query contract line."""
    import time

    from pyspark.sql import functions as F

    # the sf0.1 table is ONE parquet file = ONE input split: without this,
    # every stage's tokenize/shingle work runs on a single core and the
    # numbers measure the file layout, not the operators (at cluster scale
    # the input arrives as many splits; maxPartitionBytes does the same)
    docs = (
        spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        .repartition(CPUS)
        .persist()
    )
    n_docs = docs.count()
    out: dict = {"metric": "textops_throughput", "unit": "docs_per_sec",
                 "sf": sf, "n_docs": n_docs, "stages": {}}

    def timed(name, fn):
        t0 = time.perf_counter()
        res = fn()
        dt = time.perf_counter() - t0
        out["stages"][name] = {
            "sec": round(dt, 3),
            "docs_per_sec": round(n_docs / dt, 1),
            "rows_out": res,
        }

    from searchengine_spark.textops.clean import c4_doc_filter
    from searchengine_spark.textops.collocations import bigram_collocations
    from searchengine_spark.textops.dedup import (
        exact_duplicates,
        minhash_lsh_candidates,
    )
    from searchengine_spark.textops.quality import (
        LANG_PROFILES,
        lang_id,
        quality_score,
        repetition_stats,
    )
    from searchengine_spark.textops.scrub import redact_pii
    from searchengine_spark.tokenizer import TokenizerConfig, tokens_column

    cfg = TokenizerConfig(min_token_length=2)
    toks = tokens_column(F.col("text"), cfg)
    # untimed warmup (same discipline as the main suite): pay codegen/JIT/
    # Arrow startup here, not inside the first timed stage's number
    exact_duplicates(docs.limit(512)).count()
    quality_score(docs.limit(512), toks, stop_words=LANG_PROFILES["en"]).count()
    timed("exact_dedup", lambda: exact_duplicates(docs).count())
    timed("minhash_lsh", lambda: minhash_lsh_candidates(docs, toks).count())
    timed("quality", lambda: quality_score(
        docs, toks, stop_words=LANG_PROFILES["en"]).count())
    timed("repetition", lambda: repetition_stats(docs, toks).count())
    timed("lang_id", lambda: lang_id(docs, toks).count())
    timed("pii_redact", lambda: redact_pii(docs).count())
    timed("c4_doc_filter", lambda: c4_doc_filter(docs).count())
    timed(
        "collocations",
        lambda: bigram_collocations(
            docs.select(toks.alias("tokens")), min_count=5, k=100,
        ).count(),
    )
    from searchengine_spark.textops.quality import doc_fingerprints, token_stats

    timed("fingerprints", lambda: doc_fingerprints(docs).count())
    timed("token_stats", lambda: token_stats(docs).count())
    from searchengine_spark.textops.chunking import sliding_chunks
    from searchengine_spark.textops.dataset import temperature_sample

    timed("sliding_chunks", lambda: sliding_chunks(
        docs, cfg, 64, 48).count())
    timed("temperature_mix", lambda: temperature_sample(
        docs.select("doc_id", "lang"), "lang", 0.5,
        max(1, n_docs // 2)).count())

    # round-4 additions: DSIR importance weights (hashed-bigram models)
    # and SemDeDup over the embeddings table (cells -> pairs -> comps)
    from searchengine_spark.textops import (
        dsir_weights,
        hashed_feature_counts,
        semantic_dedup,
    )
    from searchengine_spark.tokenizer import TokenizerConfig as _TC

    _dcfg = _TC(min_token_length=3)
    _target = docs.filter(F.col("source").isin("src1", "src2"))

    def _dsir():
        tc = hashed_feature_counts(_target, _dcfg, 4096)
        rc = hashed_feature_counts(docs, _dcfg, 4096)
        return dsir_weights(docs, tc, rc, _dcfg, n_buckets=4096).count()

    timed("dsir_weights", _dsir)
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    timed("semantic_dedup", lambda: semantic_dedup(
        emb, threshold=0.3, n_centroids=8).count())

    total = sum(s["sec"] for s in out["stages"].values())
    out["value"] = round(total, 3)
    out["docs_per_sec_all_stages"] = round(n_docs * len(out["stages"]) / total, 1)
    return out


def run_esops(spark, sf: float) -> dict:
    """ES-analog query-surface family (opt-in ``--esops``): build the
    bench index once, then time the round-3 operators — score-all,
    field collapse, dis_max, minimum_should_match, demotion, cursor vs
    offset paging — as 15-query batches. Plain runs keep the driver
    contract line; these are the operators whose cost class DIFFERS
    from plain WAND top-k (see BENCH.md "Collapse / score-all / cursor
    paging")."""
    from searchengine_spark.fixtures.transcripts import (
        REFERENCE_QUERIES,
        transcripts_distributed,
    )
    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.collapse import collapse_topk_packed
    from searchengine_spark.query.dismax import dismax_topk_packed
    from searchengine_spark.query.wand import (
        bm25_scores_packed_batch,
        bm25_topk_packed_batch,
    )
    from searchengine_spark.fixtures import STOP_WORDS_PATH
    from searchengine_spark.tokenizer import TokenizerConfig

    cfg = TokenizerConfig(min_token_length=3,
                          stop_words=TokenizerConfig.load_stop_words(
                              STOP_WORDS_PATH))
    n_conv = int(os.environ.get("SPARK_GRAFT_N_CONV", 0)) or max(200, int(500_000 * sf))
    corpus_path = os.path.join(OUT, f"corpus_{n_conv}.parquet")
    if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
        transcripts_distributed(spark, n_conv=n_conv, n_partitions=64).write.mode(
            "overwrite"
        ).parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)
    idx_path = os.path.join(OUT, f"esops_idx_sf{sf}")
    out: dict = {"metric": "esops_serving", "unit": "sec", "sf": sf,
                 "stages": {}}
    t0 = time.perf_counter()
    if not os.path.exists(os.path.join(idx_path, "manifest.json")):
        shutil.rmtree(idx_path, ignore_errors=True)
        build_packed_index(corpus, cfg, idx_path)
    out["stages"]["index_build_or_reuse"] = round(time.perf_counter() - t0, 3)
    pidx = load_packed_index(spark, idx_path)
    QS = REFERENCE_QUERIES

    def t(name, f):
        t1 = time.perf_counter()
        f().count()
        out["stages"][name] = round(time.perf_counter() - t1, 3)

    t("percolate_15q_20kdocs", lambda: __import__(
        "searchengine_spark.query.percolate", fromlist=["percolate"]
    ).percolate(
        corpus.limit(20000),
        __import__("searchengine_spark.query.percolate",
                   fromlist=["register_queries"]).register_queries(
            QS, cfg, min_should_match=1),
        cfg, id_cols=("conv_id", "turn_idx")))
    t("wand_top10", lambda: bm25_topk_packed_batch(
        pidx, QS, cfg, k=10, round_dp=6))
    t("score_all", lambda: bm25_scores_packed_batch(pidx, QS, cfg,
                                                    round_dp=6))
    t("collapse_top10", lambda: collapse_topk_packed(pidx, QS, cfg, k=10,
                                                     round_dp=6))
    t("dismax_top10", lambda: dismax_topk_packed(
        pidx, [[a, b] for a, b in zip(QS, QS[1:] + QS[:1])], cfg, k=10,
        tie_breaker=0.3, round_dp=6))
    # the pre-round-5 score-all composition (prune=False) — kept as the
    # cost-class continuity cell for the block-max tier above
    t("dismax_top10_scoreall", lambda: dismax_topk_packed(
        pidx, [[a, b] for a, b in zip(QS, QS[1:] + QS[:1])], cfg, k=10,
        tie_breaker=0.3, round_dp=6, prune=False))
    from searchengine_spark.query.rescore import rescore_topk

    # ES rescore: WAND top-window primary + candidate-restricted
    # score-all secondary (window 50, qw=1, rqw=2, total)
    t("rescore_top10", lambda: rescore_topk(
        pidx, QS, QS[1:] + QS[:1], cfg, k=10, window_size=50,
        rescore_query_weight=2.0, round_dp=6))
    t("min_should_match2", lambda: bm25_topk_packed_batch(
        pidx, QS, cfg, k=10, round_dp=6, min_should_match=2))
    t("demote_half", lambda: bm25_topk_packed_batch(
        pidx, QS, cfg, k=10, round_dp=6,
        demote_terms={i: {"music"} for i in range(len(QS))}))
    p1 = bm25_topk_packed_batch(pidx, QS, cfg, k=10, round_dp=6)
    cur: dict = {}
    for r in p1.collect():
        c = cur.get(r["query_id"])
        if c is None or (-r["score"], r["doc_id"]) > (-c[0], c[1]):
            cur[r["query_id"]] = (r["score"], r["doc_id"])
    t("search_after_page2", lambda: bm25_topk_packed_batch(
        pidx, QS, cfg, k=10, round_dp=6, search_after=cur))
    t("offset_page2", lambda: bm25_topk_packed_batch(
        pidx, QS, cfg, k=10, round_dp=6, offset=10))
    from searchengine_spark.query.boolquery import bool_query_topk

    # one compound per call (the ES request shape) — time the suite as
    # sequential calls, the cost class is AND-pass + filtered WAND
    t1 = time.perf_counter()
    for q in QS[:5]:
        w = q.split()
        bool_query_topk(pidx, cfg, must=w[0],
                        should=" ".join(w[1:]) or "music",
                        k=10, round_dp=6).count()
    out["stages"]["bool_compound_5q"] = round(time.perf_counter() - t1, 3)

    # late-round-3 surfaces: attribute sort + decay rescoring (score-all
    # cost class), regexp expansion (dictionary scan + WAND), and
    # multi_match over per-field indexes (N score-alls + one combine)
    from searchengine_spark.query.decay import decay_score_packed
    from searchengine_spark.query.regexp import bm25_regexp_packed_batch
    from searchengine_spark.query.sortby import sort_by_attr_packed

    attrs = corpus.selectExpr(
        "conv_id", "turn_idx", "turn_idx AS age")
    t("sort_by_attr", lambda: sort_by_attr_packed(
        pidx, QS, cfg, attrs, "age", k=10, round_dp=6))
    t("decay_gauss", lambda: decay_score_packed(
        pidx, QS, cfg, attrs, "age", origin=50.0, scale=40.0, fn="gauss",
        k=10, round_dp=6))
    # doc_attrs sidecar tier (indexing/attrs.py): zero-exchange attrs
    # side + post-cut docmap resolve — gated bit-identical to the
    # lakehouse-join cells above; the cost-class fix for this family
    from searchengine_spark.indexing.attrs import (
        load_attrs_manifest,
        write_attrs_sidecar,
    )

    t4 = time.perf_counter()
    aman = load_attrs_manifest(pidx)
    if not (aman and "age" in aman["cols"]
            and int(aman["n_docs"]) == int(pidx.manifest["n_docs"])):
        write_attrs_sidecar(pidx, attrs, ["age"])
    out["stages"]["attrs_sidecar_build_or_reuse"] = round(
        time.perf_counter() - t4, 3)
    t("sort_by_attr_sidecar", lambda: sort_by_attr_packed(
        pidx, QS, cfg, None, "age", k=10, round_dp=6))
    t("decay_gauss_sidecar", lambda: decay_score_packed(
        pidx, QS, cfg, None, "age", origin=50.0, scale=40.0, fn="gauss",
        k=10, round_dp=6))
    t("regexp_top10", lambda: bm25_regexp_packed_batch(
        pidx, [q + " /mus[a-z]+/" for q in QS], cfg, k=10, round_dp=6))

    from searchengine_spark.query.multimatch import (
        build_field_indexes,
        load_field_indexes,
        multi_match_topk,
    )

    mm_root = os.path.join(OUT, f"esops_mm_sf{sf}")
    t2 = time.perf_counter()
    if not os.path.exists(os.path.join(mm_root, "fields.json")):
        shutil.rmtree(mm_root, ignore_errors=True)
        build_field_indexes(corpus, cfg, mm_root, ["text", "role"])
    out["stages"]["mm_fields_build_or_reuse"] = round(
        time.perf_counter() - t2, 3)
    fidx = load_field_indexes(spark, mm_root)
    t("multi_match_best_fields", lambda: multi_match_topk(
        fidx, QS, cfg, k=10, tie_breaker=0.3, round_dp=6))
    from searchengine_spark.query.multimatch import cross_fields_topk

    t("multi_match_cross_fields", lambda: cross_fields_topk(
        fidx, QS, cfg, k=10, tie_breaker=0.3, round_dp=6))

    # this stint's additions: terms_set (OR coverage ⋈ score-all — the
    # per-doc-floor cost class), highlight (bounded post-retrieval
    # Arrow pass), span queries (positional build — skipped here: the
    # esops index is non-positional by design, their cost class is the
    # minspan family's, measured via the phrase rows in BENCH.md)
    from searchengine_spark.query.termsset import terms_set_topk_packed_batch

    req = corpus.selectExpr("conv_id", "turn_idx").join(
        pidx.docmap, ["conv_id", "turn_idx"]).selectExpr(
        "doc_id", "doc_id % 3 + 1 AS required")
    t("terms_set_top10", lambda: terms_set_topk_packed_batch(
        pidx, QS, req, cfg, k=10, round_dp=6))

    from searchengine_spark.query.highlight import highlight_results

    hits = bm25_topk_packed_batch(pidx, QS, cfg, k=10, round_dp=6)
    docs_txt = corpus.join(pidx.docmap, ["conv_id", "turn_idx"]).select(
        "doc_id", "text")
    t("highlight_top10", lambda: highlight_results(
        hits, docs_txt, QS, cfg))

    # extended-continuation additions: constant_score (filter context —
    # boolean pass + rank window, NO statistics), bool_prefix (score-all
    # + expansion OR), shard-approximate terms agg (bounded coordinator
    # gather), geohash grid over hits (native bit arithmetic), and
    # sparse_vector retrieval (weighted-table pruned scan + literal-map
    # dot products). intervals is positional-build-only like the span
    # family (cost class = minspan's, see the phrase rows in BENCH.md).
    from pyspark.sql import functions as F

    from searchengine_spark.query.boolprefix import match_bool_prefix_topk
    from searchengine_spark.query.boolquery import constant_score_topk

    t("constant_score_and", lambda: constant_score_topk(
        pidx, QS, cfg, boost=1.0, op="and", k=10))
    t("bool_prefix_top10", lambda: match_bool_prefix_topk(
        pidx, [q.rsplit(" ", 1)[0] + " " + q.rsplit(" ", 1)[-1][:3]
               if " " in q else q[:3] for q in QS], cfg, k=10, round_dp=6))

    from searchengine_spark.query.facets import approx_facet_counts

    role_attrs = corpus.select("conv_id", "turn_idx", "role")
    hits_res = hits.join(pidx.docmap, "doc_id").select(
        "query_id", "conv_id", "turn_idx")
    t("facet_approx_4x8", lambda: approx_facet_counts(
        hits_res, role_attrs, ["role"], ["conv_id", "turn_idx"],
        n_shards=4, shard_size=8))

    from searchengine_spark.query.geo import geohash_grid_agg

    def _h60(salt):
        return F.conv(F.substring(F.md5(F.concat(
            F.lit(salt), F.col("conv_id"), F.lit("|"),
            F.col("turn_idx").cast("string"))), 1, 15), 16, 10).cast("long")

    geo_attrs = corpus.select(
        "conv_id", "turn_idx",
        (_h60("a") % F.lit(180_000_001) - F.lit(90_000_000)).alias("lat"),
        (_h60("b") % F.lit(360_000_001) - F.lit(180_000_000)).alias("lon"))
    t("geohash_grid_p5", lambda: geohash_grid_agg(
        hits_res, geo_attrs, "lat", "lon", ["conv_id", "turn_idx"],
        precision=5))

    from searchengine_spark.query.sparse import (
        build_sparse_index,
        expand_text_deterministic,
        sparse_topk_batch,
    )
    from searchengine_spark.tokenizer import tokenize_text, tokens_column

    sp_path = os.path.join(OUT, f"esops_sparse_sf{sf}")
    t3 = time.perf_counter()
    if not (os.path.exists(os.path.join(sp_path, "manifest.json"))
            and os.path.exists(os.path.join(sp_path, "chunk_stats"))):
        # (pre-chunk_stats layouts rebuild so the block-max cell serves)
        shutil.rmtree(sp_path, ignore_errors=True)
        toks = corpus.join(pidx.docmap, ["conv_id", "turn_idx"]).select(
            "doc_id", tokens_column(F.col("text"), cfg).alias("_toks"))
        pairs = toks.select(
            "doc_id", F.explode("_toks").alias("term")
        ).groupBy("term", "doc_id").count().select(
            "term", "doc_id",
            (F.col("count") * 1_000_000).alias("weight_micro"))
        build_sparse_index(pairs, sp_path)
    out["stages"]["sparse_build_or_reuse"] = round(
        time.perf_counter() - t3, 3)
    sp_queries = [expand_text_deterministic(tokenize_text(q, cfg))
                  for q in QS]
    t("sparse_top10", lambda: sparse_topk_batch(
        spark, sp_path, sp_queries, k=10))
    # the block-max tier (chunk_stats ub pruning) — same results,
    # gated bit-identical in tests/test_sparse.py; cost-class twin cell
    from searchengine_spark.query.sparse import sparse_topk_blockmax_batch

    t("sparse_top10_blockmax", lambda: sparse_topk_blockmax_batch(
        spark, sp_path, sp_queries, k=10))

    out["value"] = round(sum(v for k_, v in out["stages"].items()
                             if not k_.endswith("build_or_reuse")), 3)
    return out


def run_federated(spark, sf: float) -> dict:
    """Federated-serving family (opt-in ``--federated``): build N shard
    indexes over turn-stripes of the bench corpus, then time the 15-query
    suite through the scatter-gather paths — two_phase vs single gather
    (bit-identical results, different topology) — and the in-process
    FederatedLocalSearcher per-query latency. The driver's plain run keeps
    the single-index contract line."""
    from searchengine_spark.fixtures.transcripts import (
        REFERENCE_QUERIES,
        transcripts_distributed,
    )
    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.federated import bm25_topk_federated
    from searchengine_spark.query.serve import FederatedLocalSearcher
    from searchengine_spark.fixtures import STOP_WORDS_PATH
    from searchengine_spark.tokenizer import TokenizerConfig

    cfg = TokenizerConfig(min_token_length=3,
                          stop_words=TokenizerConfig.load_stop_words(
                              STOP_WORDS_PATH))
    n_conv = int(os.environ.get("SPARK_GRAFT_N_CONV", 0)) or max(200, int(500_000 * sf))
    n_shards = int(os.environ.get("SPARK_GRAFT_FED_SHARDS", 4))
    corpus_path = os.path.join(OUT, f"corpus_{n_conv}.parquet")
    if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
        transcripts_distributed(spark, n_conv=n_conv, n_partitions=64).write.mode(
            "overwrite"
        ).parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)

    out: dict = {"metric": "federated_serving", "unit": "sec", "sf": sf,
                 "n_shards": n_shards, "stages": {}}
    from pyspark.sql import functions as F

    paths = []
    t0 = time.perf_counter()
    for i in range(n_shards):
        p = os.path.join(OUT, f"fed_shard_{i}_sf{sf}")
        shutil.rmtree(p, ignore_errors=True)
        build_packed_index(
            corpus.filter(F.col("turn_idx") % n_shards == i), cfg, p,
            n_partitions=max(2, CPUS * 2 // n_shards),
        )
        paths.append(p)
    out["stages"]["shard_builds_total"] = round(time.perf_counter() - t0, 3)
    shards = [load_packed_index(spark, p) for p in paths]
    out["n_turns"] = sum(s.manifest["n_docs"] for s in shards)

    for name, kw in (
        ("fed_15q_cold_two_phase", {}),
        ("fed_15q_warm_two_phase", {}),
        ("fed_15q_warm_single", {"gather": "single"}),
    ):
        t0 = time.perf_counter()
        n = bm25_topk_federated(shards, REFERENCE_QUERIES, cfg, k=10, **kw).count()
        out["stages"][name] = round(time.perf_counter() - t0, 3)
    out["n_results"] = n

    t0 = time.perf_counter()
    local = FederatedLocalSearcher(shards, preload=True, cfg=cfg)
    out["stages"]["local_open"] = round(time.perf_counter() - t0, 3)
    local.search(REFERENCE_QUERIES[0], k=10)
    lat = []
    for q in REFERENCE_QUERIES:
        t0 = time.perf_counter()
        local.search(q, k=10)
        lat.append((time.perf_counter() - t0) * 1000.0)
    lat.sort()
    out["local_lat_p50_ms"] = round(lat[len(lat) // 2], 2)
    out["local_lat_p95_ms"] = round(
        lat[min(len(lat) - 1, math.ceil(0.95 * len(lat)) - 1)], 2)
    return out


def main() -> None:
    scaling = "--scaling" in sys.argv
    os.makedirs(OUT, exist_ok=True)

    if "--esops" in sys.argv:
        spark = make_spark(CPUS)
        spark.sparkContext.setLogLevel("ERROR")
        print(json.dumps(run_esops(spark, _sf())))
        spark.stop()
        return

    if "--federated" in sys.argv:
        spark = make_spark(CPUS)
        spark.sparkContext.setLogLevel("ERROR")
        print(json.dumps(run_federated(spark, _sf())))
        spark.stop()
        return

    if "--textops" in sys.argv:
        spark = make_spark(CPUS)
        spark.sparkContext.setLogLevel("ERROR")
        print(json.dumps(run_textops(spark, _sf())))
        spark.stop()
        return

    if not scaling:
        print(json.dumps(_single(CPUS)))
        return

    # N vs 4N scaling pair, default 1 vs 4 cores over a 4x corpus:
    # - beyond ~8 threads this box saturates its shared memory bus and
    #   single virtio disk (32 hyperthreads give only 3.22x the pure-CPU
    #   throughput of 8, measured), which multi-machine clusters do not
    #   share — so high-thread pairs under-measure the ENGINE's scaling;
    # - the larger corpus amortizes the ~30s fixed cost per build (stage
    #   scheduling, parquet commits, driver collects) that is independent
    #   of both corpus size and parallelism.
    hi_cpus = int(os.environ.get("SPARK_GRAFT_SCALE_HI", 4))
    lo_cpus = max(1, hi_cpus // 4)
    # 50k conversations = 840k turns: the stage-folded build's fixed cost
    # (~4-6 s of micro-jobs + scheduling) is ~3% of the 1-core build here,
    # so W dominates F — while trials stay short enough that interleaved
    # best-of-N samples several multi-tenant host windows per level
    # (long single trials were repeatedly hit by 40%+ host drift; BENCH.md)
    n_conv_scale = int(os.environ.get("SPARK_GRAFT_SCALE_N_CONV", 50_000))
    os.environ["SPARK_GRAFT_N_CONV"] = str(n_conv_scale)
    # materialize the scaling corpus once, full parallelism, untimed
    spark = make_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    corpus_path = os.path.join(OUT, f"corpus_{n_conv_scale}.parquet")
    if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
        from searchengine_spark.fixtures.transcripts import transcripts_distributed

        transcripts_distributed(spark, n_conv=n_conv_scale, n_partitions=64).write.mode(
            "overwrite"
        ).parquet(corpus_path)
    spark.stop()
    # interleaved trials (hi, lo, hi, lo): temporal host drift hits both
    # levels equally; best-of-N per level damps residual noise
    n_trials = int(os.environ.get("SPARK_GRAFT_SCALE_TRIALS", "1"))
    runs = {hi_cpus: [], lo_cpus: []}
    for _ in range(n_trials):
        runs[hi_cpus].append(_subprocess_run(hi_cpus))
        runs[lo_cpus].append(_subprocess_run(lo_cpus))
    hi = min(runs[hi_cpus], key=lambda r: r["queries"]["index_build"])
    lo = min(runs[lo_cpus], key=lambda r: r["queries"]["index_build"])
    thr_hi = hi["turns_per_sec"]
    thr_lo = lo["turns_per_sec"]
    # Three estimators of the same ratio. Best-of pairing is biased by
    # ASYMMETRIC window luck (a lucky 1-core window lowers it, a lucky
    # 4-core window raises it — the host's 40%+ drift makes both
    # common); the MEDIAN pairing is the robust headline, best/mean are
    # reported alongside (BENCH.md "Scaling evidence").
    import statistics as _st

    lo_times = [r["queries"]["index_build"] for r in runs[lo_cpus]]
    hi_times = [r["queries"]["index_build"] for r in runs[hi_cpus]]
    factor = hi_cpus / lo_cpus

    def _eff(lo_s, hi_s):
        return round((lo_s / hi_s) / factor, 3)

    hi["scaling"] = {
        "cpus_lo": lo_cpus,
        "cpus_hi": hi_cpus,
        "turns_per_sec_lo": thr_lo,
        "turns_per_sec_hi": thr_hi,
        "index_build_lo_sec": lo["queries"]["index_build"],
        "index_build_hi_sec": hi["queries"]["index_build"],
        "all_trials": {
            str(c): [r["queries"]["index_build"] for r in rs]
            for c, rs in runs.items()
        },
        "speedup": round(_st.median(lo_times) / _st.median(hi_times), 3),
        "efficiency": _eff(_st.median(lo_times), _st.median(hi_times)),
        "efficiency_estimator": "median-of-trials pairing (BENCH.md)",
        "efficiency_best": _eff(min(lo_times), min(hi_times)),
        "efficiency_mean": _eff(_st.fmean(lo_times), _st.fmean(hi_times)),
    }
    hi["scaling"]["n_turns"] = hi["n_turns"]
    hi["scaling"]["protocol"] = (
        "taskset-pinned cores, fresh JVM per level, untimed sf0.001 warmup "
        "suite per process, interleaved trials, best-of-N by build time "
        "(BENCH.md)"
    )
    hi["scaling"]["recorded_unix"] = int(time.time())
    # persist as the committed scaling record that plain bench.py runs attach
    with open(os.path.join(REPO, "BENCH_scaling.json"), "w") as fh:
        json.dump(hi["scaling"], fh, indent=1)
    print(json.dumps(hi))


if __name__ == "__main__":
    main()
