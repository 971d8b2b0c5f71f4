"""Multi-field search — the ES ``multi_match`` query: one query string
scored across SEVERAL indexed fields of the same document, combined per
doc.

Multi-field layout (``build_field_indexes``): one ordinary packed index
PER FIELD under ``<root>/fields/<name>/``, plus a tiny ``fields.json``
manifest at the root. Every field index is built over the SAME document
frame with the SAME ``order_cols``, and dense docID assignment is a
deterministic function of (frame rows, order_cols) — docIDs therefore
align across fields BY CONSTRUCTION (every row gets an id, zero-token
fields included; gated in tests/test_multimatch.py). This is the
Lucene/ES model exactly: per-field postings, per-field statistics
(df/idf/avgdl are per field — a term common in ``role`` but rare in
``text`` is rare where it matters), per-field length normalization.

Scoring modes (ES ``type`` contract):

- ``best_fields`` (the ES default): a doc scores its best field plus
  ``tie_breaker`` times each other field — dis_max over the per-field
  scores (``query/dismax.py`` is the same combine over subQUERIES; this
  is it over subFIELDS).
- ``most_fields``: the per-field scores SUM (the bool-should
  equivalent).

Per-field ``boosts`` (the ES ``fields: ["role^2"]`` caret) multiply
that field's scores before the combine. Rounding applies to the
COMBINED score — the ranking contract every surface here uses.

Plan shape: per field ONE pushed ``In(term,…)`` scan + join-free
score-all (``bm25_scores_packed_batch`` — no heap: a doc's combined
score needs every field's score for it, the same no-early-termination
argument as dis_max/collapse), a plan-level union, ONE
partial-aggregable (query, doc) groupBy, and a top-k window. Fields are
a handful; corpus size appears only inside the per-field scorers, which
are the standard single-exchange batch.

No reference counterpart (the reference indexes exactly one text
column); semantics follow the ES multi_match contract.
"""

from __future__ import annotations

import json
from typing import Dict, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..indexing import fsio
from ..indexing.build import idf_col
from ..indexing.packed import PackedIndex, build_packed_index, load_packed_index
from .bm25 import Bm25Params
from ..tokenizer import TokenizerConfig

MODES = ("best_fields", "most_fields")
# cross_fields is term-centric (blended statistics) and served by
# cross_fields_topk below, not the per-field-score combine of
# multi_match_topk — the ES type distinction exactly

_FIELDS_MANIFEST = "fields.json"


def build_field_indexes(
    docs: DataFrame,
    cfg: TokenizerConfig,
    root: str,
    fields: Sequence[str],
    params: Bm25Params = Bm25Params(),
    order_cols=("conv_id", "turn_idx"),
    chunk_docs: int = 4096,
    n_partitions=None,
) -> None:
    """Build one packed index per field under ``<root>/fields/<name>/``
    over the SAME document frame (docIDs align across fields — module
    docstring) and commit ``fields.json`` last (the manifest-as-commit-
    point pattern every sink here uses). NULL field values index as
    empty documents (coalesced — a NULL text column must not poison the
    doc-length stage)."""
    fs = list(dict.fromkeys(fields))
    if not fs:
        raise ValueError("fields must name at least one column")
    missing = [f for f in fs if f not in docs.columns]
    if missing:
        raise ValueError(f"document frame lacks field columns {missing}")
    spark = docs.sparkSession
    base = docs.select(
        *order_cols,
        *[F.coalesce(F.col(f).cast("string"), F.lit("")).alias(f)
          for f in fs],
    )
    for f in fs:
        build_packed_index(
            base.select(*order_cols, f), cfg,
            fsio.join(root, "fields", f),
            params=params, text_col=f, order_cols=tuple(order_cols),
            chunk_docs=chunk_docs, n_partitions=n_partitions,
        )
    fsio.write_text(
        spark, fsio.join(root, _FIELDS_MANIFEST),
        json.dumps({"fields": fs, "order_cols": list(order_cols)}),
    )


def load_field_indexes(
    spark: SparkSession, root: str
) -> Dict[str, PackedIndex]:
    """{field: PackedIndex} from a ``build_field_indexes`` root (insertion
    order = the manifest's field order)."""
    man = json.loads(fsio.read_text(spark, fsio.join(root, _FIELDS_MANIFEST)))
    return {
        f: load_packed_index(spark, fsio.join(root, "fields", f))
        for f in man["fields"]
    }


def _check_aligned(fidx: Mapping[str, PackedIndex]) -> None:
    """Field indexes must share the docID namespace and BM25 params —
    anything else is two different corpora wearing one root."""
    if not fidx:
        raise ValueError("no field indexes given")
    vals = {
        f: (p.manifest["n_docs"], tuple(p.manifest["order_cols"]),
            p.manifest["k"], p.manifest["b"])
        for f, p in fidx.items()
    }
    if len(set(vals.values())) != 1:
        raise ValueError(
            f"field indexes disagree on (n_docs, order_cols, k1, b): {vals}"
            " — multi_match needs indexes built together over one frame")


def multi_match_topk(
    fidx: Mapping[str, PackedIndex],
    queries: Sequence[str],
    cfg: TokenizerConfig,
    k: int = 10,
    mode: str = "best_fields",
    tie_breaker: float = 0.0,
    boosts: Mapping[str, float] | None = None,
    round_dp: int | None = None,
    prune: bool = True,
) -> DataFrame:
    """Top-k per query -> (query_id, doc_id, score, rank) with doc_id in
    the shared field namespace (resolve with ANY field's docmap).

    ``mode='best_fields'``: best field + ``tie_breaker`` x the rest
    (tie_breaker only meaningful here — refused under most_fields,
    where it has no ES meaning). ``mode='most_fields'``: the sum.
    ``boosts``: {field: non-negative multiplier}, default 1.0 — unknown
    field names refuse (a typo must not silently un-boost).

    ``prune=True`` (default) runs the BLOCK-MAX tier when the field
    indexes share one chunk grid (same chunk_docs — build_field_indexes
    always does; aligned docIDs put a doc's every per-field score in
    ONE shared chunk id): both combines are monotone in the per-field
    scores, so combine(ub_field…) per chunk bounds the combined score —
    the dis_max WAND argument with sub = field
    (query/dismax.combined_wand_scorer; per-field tombstone decoders
    ride the sub_id). One union of pushed per-field scans, ONE
    exchange, join-free. Gated bit-identical to the score-all
    composition (prune=False) in tests/test_multimatch.py."""
    if mode not in MODES:
        raise ValueError(f"mode must be one of {MODES}, got {mode!r}")
    if mode == "most_fields" and tie_breaker:
        raise ValueError(
            "tie_breaker applies to best_fields only (most_fields sums)")
    if not 0.0 <= float(tie_breaker) <= 1.0:
        raise ValueError(f"tie_breaker must be in [0, 1], got {tie_breaker}")
    _check_aligned(fidx)
    bs = dict(boosts or {})
    unknown = [f for f in bs if f not in fidx]
    if unknown:
        raise ValueError(
            f"boosts name unknown fields {unknown} (have {list(fidx)})")
    if any(float(v) < 0 for v in bs.values()):
        raise ValueError(f"boosts must be non-negative, got {bs}")
    if prune and len({
        int(p.manifest["chunk_docs"]) for p in fidx.values()
    }) == 1:
        return _multi_match_wand(
            fidx, queries, cfg, k, mode, float(tie_breaker), bs, round_dp)

    from .wand import bm25_scores_packed_batch

    parts = []
    for f, pidx in fidx.items():
        s = bm25_scores_packed_batch(pidx, list(queries), cfg)
        b = float(bs.get(f, 1.0))
        if b != 1.0:
            s = s.withColumn("score", F.col("score") * F.lit(b))
        parts.append(s)
    uni = parts[0]
    for p in parts[1:]:
        uni = uni.unionByName(p)
    agg = uni.groupBy("query_id", "doc_id").agg(
        F.max("score").alias("smax"), F.sum("score").alias("ssum"))
    if mode == "best_fields":
        combined = agg.select(
            "query_id", "doc_id",
            (F.col("smax") + F.lit(float(tie_breaker))
             * (F.col("ssum") - F.col("smax"))).alias("score"),
        )
    else:
        combined = agg.select(
            "query_id", "doc_id", F.col("ssum").alias("score"))
    if round_dp is not None:
        combined = combined.withColumn("score", F.round("score", round_dp))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc())
    return (
        combined.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def _multi_match_wand(
    fidx: Mapping[str, PackedIndex],
    queries: Sequence[str],
    cfg: TokenizerConfig,
    k: int,
    mode: str,
    tie: float,
    boosts: Mapping[str, float],
    round_dp: int | None,
) -> DataFrame:
    """Block-max multi_match: per field, a pushed In(term) scan with the
    field's own idf × boost attached as a literal-map column and the
    field ordinal as sub_id; one union, ONE groupBy(query) exchange
    into the shared combined-WAND scorer. Per-field boosts fold into
    idf BEFORE the chunk bounds, so pruning stays exact for the boosted
    scores (the wand.py qweights rule)."""
    from ..tokenizer import tokenize_text
    from .dismax import _topk_schema, combined_wand_scorer

    any_p = next(iter(fidx.values()))
    spark = any_p.spark
    schema = _topk_schema()
    rows: list = []
    for qid, q in enumerate(queries):
        for t in dict.fromkeys(tokenize_text(q, cfg)):
            rows.append((qid, t))
    if not rows:
        return spark.createDataFrame([], schema)
    all_terms = sorted({t for _, t in rows})
    qids_by_term: dict[str, list[int]] = {}
    for qid, t in rows:
        qids_by_term.setdefault(t, []).append(qid)

    parts = []
    decoders: dict = {}
    for fi, (f, pidx) in enumerate(fidx.items()):
        stats = pidx.term_stats.select("term", "idf").filter(
            F.col("term").isin(all_terms))
        b = float(boosts.get(f, 1.0))
        idf_f = {r["term"]: float(r["idf"]) * b for r in stats.collect()}
        live = sorted(t for t in idf_f if t in qids_by_term)
        if not live:
            continue
        map_entries = [
            x
            for t in live
            for x in (F.lit(t),
                      F.array(*[F.lit(q) for q in qids_by_term[t]]))
        ]
        idf_entries = [
            x for t in live for x in (F.lit(t), F.lit(idf_f[t]))
        ]
        parts.append(
            pidx.index.filter(F.col("term").isin(live))
            .withColumn(
                "query_id",
                F.explode(F.create_map(*map_entries)[F.col("term")]),
            )
            .withColumn("sub_id", F.lit(fi))
            .withColumn("idf", F.create_map(*idf_entries)[F.col("term")])
            .select("query_id", "sub_id", "chunk", "idf", "postings",
                    "max_tfsat")
        )
        mask = pidx.delete_mask()
        if mask is not None:
            decoders[fi] = mask.wrap_decoders()[0]
    if not parts:
        return spark.createDataFrame([], schema)
    uni = parts[0]
    for p in parts[1:]:
        uni = uni.unionByName(p)
    scorer = combined_wand_scorer(
        int(k), tie, round_dp, any_p.params,
        decoders=decoders or None,
        combine="sum" if mode == "most_fields" else "dismax")
    return uni.groupBy("query_id").applyInPandas(scorer, schema=schema)


def combined_fields_topk(
    field_its: Mapping[str, "object"],
    queries: Sequence[str],
    cfg: TokenizerConfig,
    k: int = 10,
    weights: Mapping[str, float] | None = None,
    params: Bm25Params = Bm25Params(),
    round_dp: int | None = None,
) -> DataFrame:
    """ES ``combined_fields`` query — the fourth multi-field mode
    (Lucene CombinedFieldQuery, the simplified BM25F: term-centric like
    cross_fields, but instead of a per-term dismax the fields MERGE
    into one synthetic field):

    - per (term, doc): tf' = Σ_f w_f · tf_f (weighted term freq sum);
    - per doc: dl' = Σ_f w_f · dl_f, avgdl' = mean over docs of dl',
      dl_norm' = round(dl'/avgdl', 3) (the engine-wide 3dp contract);
    - per term: df' = max_f df_f (the Lucene merged-statistics
      approximation, same blend as cross_fields), idf' =
      round(ln(N/df'), 3);
    - score = Σ_t idf' · sat(tf', dl_norm') — ONE BM25 saturation over
      the merged field, which is what distinguishes combined_fields
      from cross_fields (saturation-then-combine vs combine-then-
      saturate: a term spread across fields saturates once here).

    ``field_its``: {field: IndexTables} built over the SAME frame
    (build_index per field — dense docID assignment is deterministic in
    (rows, order_cols), so ids align; the multi_match invariant).
    ``weights``: {field: w >= 0}, default 1.0 (the ES per-field boost).
    Serves the exact tier (the analysis surface); all-native — unions,
    broadcast joins, two partial-aggregable groupBys, a top-k window.
    """
    if not field_its:
        raise ValueError("no field indexes given")
    ws = {f: float((weights or {}).get(f, 1.0)) for f in field_its}
    unknown = [f for f in (weights or {}) if f not in field_its]
    if unknown:
        raise ValueError(
            f"weights name unknown fields {unknown} (have {list(field_its)})")
    if any(w < 0 for w in ws.values()):
        raise ValueError(f"weights must be non-negative, got {ws}")

    from ..tokenizer import tokenize_text

    any_it = next(iter(field_its.values()))
    spark = any_it.index.sparkSession
    rows = []
    for qid, q in enumerate(queries):
        for t in dict.fromkeys(tokenize_text(q, cfg)):
            rows.append((qid, t))
    out_schema = "query_id int, doc_id long, score double, rank int"
    if not rows:
        return spark.createDataFrame([], out_schema)
    qdf = spark.createDataFrame(rows, "query_id int, term string")

    # merged per-doc length: dl' = sum_f w_f * dl_f (aligned doc ids)
    dl_parts = [
        it.doc_lengths.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            (F.col("dl").cast("double") * F.lit(ws[f])).alias("wdl"),
        )
        for f, it in field_its.items()
    ]
    dlu = dl_parts[0]
    for p in dl_parts[1:]:
        dlu = dlu.unionByName(p)
    dlc = dlu.groupBy("doc_id").agg(F.sum("wdl").alias("dlc"))
    avg_row = dlc.agg(
        F.avg("dlc").alias("avgdl"), F.count("*").alias("n")).collect()[0]
    avgdl, n_docs = float(avg_row["avgdl"]), int(avg_row["n"])
    dln = dlc.select(
        "doc_id", F.round(F.col("dlc") / F.lit(avgdl), 3).alias("dl_norm"))

    # merged df: max over fields, idf at the 3dp contract
    df_parts = [
        it.term_stats.select("term", F.col("df").cast("long").alias("df"))
        for it in field_its.values()
    ]
    dfu = df_parts[0]
    for p in df_parts[1:]:
        dfu = dfu.unionByName(p)
    idfc = (
        dfu.groupBy("term").agg(F.max("df").alias("dfm"))
        .select("term", idf_col(n_docs, "dfm").alias("idf"))
    )

    # merged tf': sum_f w_f * tf_f per (term, doc)
    tf_parts = [
        it.index.select(
            "term",
            F.col("doc_id").cast("long").alias("doc_id"),
            (F.col("tf").cast("double") * F.lit(ws[f])).alias("wtf"),
        )
        for f, it in field_its.items()
    ]
    tfu = tf_parts[0]
    for p in tf_parts[1:]:
        tfu = tfu.unionByName(p)
    matched = tfu.join(F.broadcast(qdf), "term")
    tfc = matched.groupBy("query_id", "term", "doc_id").agg(
        F.sum("wtf").alias("tfc"))
    scored = (
        tfc.filter(F.col("tfc") > 0)
        .join(F.broadcast(idfc), "term")
        .join(dln, "doc_id")
    )
    contrib = F.col("idf") * _tf_saturation_col(
        F.col("tfc"), F.col("dl_norm"), params)
    agg = scored.groupBy("query_id", "doc_id").agg(
        F.sum(contrib).alias("score"))
    if round_dp is not None:
        agg = agg.withColumn("score", F.round("score", round_dp))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc())
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def _cross_fields_wand(
    fidx: Mapping[str, PackedIndex],
    sub: Sequence,
    blended: Dict[str, float],
    tie: float,
    boosts: Mapping[str, float],
    round_dp: int | None,
    k: int,
) -> DataFrame:
    """Block-max cross_fields: the combined score
    Σ_t [max_f s_{t,f} + tie·(Σ_f s_{t,f} − max)] is monotone
    non-decreasing in EVERY (term, field) contribution, so
    Σ_t dismax_f(ub_{t,f}) per chunk — with ub_{t,f} =
    blended_idf_t · boost_f · max_tfsat_{t,f}(chunk) — bounds it; the
    WAND heap walks chunks in descending bound order on the shared
    chunk grid (aligned docIDs put a doc's every per-field per-term
    contribution inside one chunk id). One union of pushed per-field
    scans with the blended idf × boost as a literal-map column, ONE
    groupBy(query) exchange. Gated bit-identical to the score-all
    composition in tests/test_multimatch.py."""
    import heapq

    import numpy as np
    import pandas as pd

    from ..indexing.codec import decode_postings, tf_saturation
    from .dismax import _topk_schema

    any_p = next(iter(fidx.values()))
    spark = any_p.spark
    schema = _topk_schema()
    qids_by_term: dict[str, list[int]] = {}
    for qid, t in sub:
        if t in blended:
            qids_by_term.setdefault(t, []).append(qid)
    if not qids_by_term:
        return spark.createDataFrame([], schema)
    live = sorted(qids_by_term)
    parts = []
    decoders: dict = {}
    for fi, (f, pidx) in enumerate(fidx.items()):
        b = float(boosts.get(f, 1.0))
        map_entries = [
            x
            for t in live
            for x in (F.lit(t),
                      F.array(*[F.lit(q) for q in qids_by_term[t]]))
        ]
        idf_entries = [
            x for t in live for x in (F.lit(t), F.lit(blended[t] * b))
        ]
        parts.append(
            pidx.index.filter(F.col("term").isin(live))
            .withColumn(
                "query_id",
                F.explode(F.create_map(*map_entries)[F.col("term")]),
            )
            .withColumn("sub_id", F.lit(fi))
            .withColumn("idf", F.create_map(*idf_entries)[F.col("term")])
            .select("query_id", "sub_id", "term", "chunk", "idf",
                    "postings", "max_tfsat")
        )
        mask = pidx.delete_mask()
        if mask is not None:
            decoders[fi] = mask.wrap_decoders()[0]
    uni = parts[0]
    for p in parts[1:]:
        uni = uni.unionByName(p)
    dec_default = lambda buf: decode_postings(bytes(buf))  # noqa: E731
    params = any_p.params
    kk, bb = float(params.k), float(params.b)
    eps = (10.0 ** -round_dp) if round_dp is not None else 0.0
    k_top, tie_l = int(k), float(tie)

    def score_query(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        # ub per (chunk, term, field) -> per-term dismax -> per-chunk sum
        ub = (
            (pdf["idf"] * pdf["max_tfsat"])
            .groupby([pdf["chunk"], pdf["term"], pdf["sub_id"]])
            .sum()
        )
        t_max = ub.groupby(level=[0, 1]).max()
        t_sum = ub.groupby(level=[0, 1]).sum()
        t_dismax = t_max + tie_l * (t_sum - t_max)
        bounds = t_dismax.groupby(level=0).sum().sort_values(
            ascending=False)
        by_chunk = dict(tuple(pdf.groupby("chunk")))
        heap: list = []
        for chunk, bound in bounds.items():
            if len(heap) >= k_top and bound < heap[0][0] - eps:
                continue
            rows = by_chunk[chunk]
            term_docs: list = []
            term_scores: list = []
            for _t, trows in rows.groupby("term"):
                f_docs: list = []
                f_scores: list = []
                for sub_id, frows in trows.groupby("sub_id"):
                    d = decoders.get(int(sub_id), dec_default)
                    docs_all: list = []
                    contrib_all: list = []
                    for idf, buf in zip(frows["idf"].to_numpy(),
                                        frows["postings"]):
                        doc_ids, tfs, dl_norm = d(buf)
                        contrib_all.append(
                            idf * tf_saturation(tfs, dl_norm, kk, bb))
                        docs_all.append(doc_ids)
                    docs = np.concatenate(docs_all)
                    if docs.size == 0:
                        continue
                    contribs = np.concatenate(contrib_all)
                    uniq, inv = np.unique(docs, return_inverse=True)
                    s = np.zeros(len(uniq))
                    np.add.at(s, inv, contribs)
                    f_docs.append(uniq)
                    f_scores.append(s)
                if not f_docs:
                    continue
                docs = np.concatenate(f_docs)
                sc = np.concatenate(f_scores)
                order = np.argsort(docs, kind="stable")
                docs, sc = docs[order], sc[order]
                uniq, start = np.unique(docs, return_index=True)
                s_sum = np.add.reduceat(sc, start)
                s_max = np.maximum.reduceat(sc, start)
                term_docs.append(uniq)
                term_scores.append(s_max + tie_l * (s_sum - s_max))
            if not term_docs:
                continue
            docs = np.concatenate(term_docs)
            sc = np.concatenate(term_scores)
            order = np.argsort(docs, kind="stable")
            docs, sc = docs[order], sc[order]
            uniq, start = np.unique(docs, return_index=True)
            scores = np.add.reduceat(sc, start)
            if round_dp is not None:
                scores = np.round(scores, round_dp)
            n = len(uniq)
            if n > k_top:
                thresh = np.partition(scores, n - k_top)[n - k_top]
                keep = scores >= thresh
                uniq, scores = uniq[keep], scores[keep]
            order = np.lexsort((uniq, -scores))[:k_top]
            for i in order:
                item = (float(scores[i]), -int(uniq[i]))
                if len(heap) < k_top:
                    heapq.heappush(heap, item)
                elif item > heap[0]:
                    heapq.heapreplace(heap, item)
                else:
                    break
        out = sorted(heap, key=lambda x: (-x[0], -x[1]))
        return pd.DataFrame(
            {
                "query_id": np.full(len(out), qid, dtype=np.int32),
                "doc_id": np.array([-d for _, d in out], dtype=np.int64),
                "score": np.array([s for s, _ in out], dtype=np.float64),
                "rank": np.arange(1, len(out) + 1, dtype=np.int32),
            }
        )

    return uni.groupBy("query_id").applyInPandas(score_query, schema=schema)


def _tf_saturation_col(tf, dl_norm, params: Bm25Params):
    k, b = float(params.k), float(params.b)
    return (tf * (k + 1.0)) / (tf + k * (1.0 - b + b * dl_norm))


def cross_fields_topk(
    fidx: Mapping[str, PackedIndex],
    queries: Sequence[str],
    cfg: TokenizerConfig,
    k: int = 10,
    tie_breaker: float = 0.0,
    boosts: Mapping[str, float] | None = None,
    round_dp: int | None = None,
    prune: bool = True,
) -> DataFrame:
    """ES ``multi_match`` type ``cross_fields`` — TERM-centric blended
    statistics (Lucene BlendedTermQuery): the fields act as one big
    field per TERM rather than per QUERY.

    Per term t: blended df = max over fields of df_f(t) (the Lucene
    blend; N is shared — field indexes align by construction) and
    blended idf = round(ln(N / df_blended), 3), the engine-wide 3dp idf
    contract via the exact Python twin of Spark round. Per (term, doc):
    each field contributes blended_idf x tf_saturation(tf_f, dl_norm_f)
    x boost_f, combined dis_max-style (best field + ``tie_breaker`` x
    the rest — the BlendedTermQuery dismax rewrite, tie configurable
    like ES). Per doc: the term scores SUM. With a single field this
    provably equals best_fields equals the plain OR ranker (blended df
    == the field's df; gated in tests).

    Plan shape: each query term becomes its own sub-query through the
    existing score-all surface with the blended idf supplied via
    ``idf_override`` (the per-field scan/prune/fan-out machinery is
    unchanged — same row volume as most_fields, the groups are just
    per-term), one union, TWO bounded partial-aggregable groupBys
    (per-term dismax, per-doc sum), one top-k window."""
    import math

    if not 0.0 <= float(tie_breaker) <= 1.0:
        raise ValueError(f"tie_breaker must be in [0, 1], got {tie_breaker}")
    _check_aligned(fidx)
    bs = dict(boosts or {})
    unknown = [f for f in bs if f not in fidx]
    if unknown:
        raise ValueError(
            f"boosts name unknown fields {unknown} (have {list(fidx)})")
    if any(float(v) < 0 for v in bs.values()):
        raise ValueError(f"boosts must be non-negative, got {bs}")

    from .serve import _round3_up
    from .wand import bm25_scores_packed_batch
    from ..tokenizer import tokenize_text

    any_p = next(iter(fidx.values()))
    spark = any_p.spark
    sub: list[tuple[int, str]] = []
    for qid, q in enumerate(queries):
        for t in dict.fromkeys(tokenize_text(q, cfg)):
            sub.append((qid, t))
    out_schema = "query_id int, doc_id long, score double, rank int"
    if not sub:
        return spark.createDataFrame([], out_schema)
    all_terms = sorted({t for _, t in sub})
    # blended df in ONE Spark job: union the fields' pruned term_stats
    # scans and take the max server-side (n_fields separate collect jobs
    # would pay scheduling latency per field for dictionary-sized data)
    dfu = None
    for pidx in fidx.values():
        part = pidx.term_stats.select("term", "df").filter(
            F.col("term").isin(all_terms))
        dfu = part if dfu is None else dfu.unionByName(part)
    df_max: Dict[str, int] = {
        r["term"]: int(r["df"])
        for r in dfu.groupBy("term").agg(
            F.max("df").alias("df")).collect()
    }
    n = int(any_p.manifest.get("n_docs_live", any_p.manifest["n_docs"]))
    blended = {
        t: _round3_up(math.log(n / d)) for t, d in df_max.items() if d > 0
    }
    if not blended:
        return spark.createDataFrame([], out_schema)
    if prune and len({
        int(p.manifest["chunk_docs"]) for p in fidx.values()
    }) == 1:
        return _cross_fields_wand(
            fidx, sub, blended, float(tie_breaker), bs, round_dp, k)
    sub_terms = [[t] for _, t in sub]
    parts = []
    for f, pidx in fidx.items():
        s = bm25_scores_packed_batch(
            pidx, [""] * len(sub_terms), cfg,
            query_terms=sub_terms, idf_override=blended,
        )
        b = float(bs.get(f, 1.0))
        if b != 1.0:
            s = s.withColumn("score", F.col("score") * F.lit(b))
        parts.append(s)
    uni = parts[0]
    for p in parts[1:]:
        uni = uni.unionByName(p)
    # per (sub-query == term occurrence, doc): dis_max over fields
    td = uni.groupBy("query_id", "doc_id").agg(
        F.max("score").alias("smax"), F.sum("score").alias("ssum"))
    term_score = (
        F.col("smax")
        + F.lit(float(tie_breaker)) * (F.col("ssum") - F.col("smax"))
    )
    qid_arr = F.array(*[F.lit(q) for q, _ in sub])
    mapped = td.select(
        F.element_at(qid_arr, F.col("query_id") + 1).alias("query_id"),
        "doc_id",
        term_score.alias("score"),
    )
    final = mapped.groupBy("query_id", "doc_id").agg(
        F.sum("score").alias("score"))
    if round_dp is not None:
        final = final.withColumn("score", F.round("score", round_dp))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc())
    return (
        final.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )
