"""dis_max — the ES ``dis_max`` compound query: a doc matching several
subqueries scores its BEST subquery, plus ``tie_breaker`` times each of
the others (tie_breaker=0 is pure best-of, 1.0 degenerates to the
bool-should sum).

    score(doc) = max_i s_i(doc) + tie_breaker * (sum_i s_i(doc) - max)

Implementation is a composition over the score-all surface
(query/wand.py ``bm25_scores_packed_batch``): every (user query,
subquery) pair becomes one synthetic query id in a single flat-scorer
batch (ONE pushed scan + ONE exchange for the whole dis_max batch, not
one per subquery), then a map-side-combinable groupBy over
(user query, doc) computes max and sum as native aggregates, and the
row_number window cuts top-k. Score-all rather than WAND because a
doc's dis_max score needs EVERY subquery's score for it — a per-sub
top-k cut would mis-score docs ranking high in one sub and mid in
another (the same no-early-termination argument as field collapse).

No reference counterpart; semantics follow the ES dis_max contract.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..indexing.packed import PackedIndex
from ..tokenizer import TokenizerConfig, tokenize_text


def dismax_topk_packed(
    pidx: PackedIndex,
    query_groups: Sequence[Sequence[str]],
    cfg: TokenizerConfig,
    k: int = 10,
    tie_breaker: float = 0.0,
    round_dp: int | None = None,
    prune: bool = True,
) -> DataFrame:
    """Top-k per user query -> (query_id, doc_id, score, rank).

    ``query_groups``: one list of subquery STRINGS per user query (each
    subquery is an ordinary BM25 OR query over its tokens). A doc's
    score is its best subquery score plus ``tie_breaker`` in [0, 1]
    times each other subquery's score; rounding (``round_dp``) applies
    to the COMBINED score — the ranking contract every surface here
    uses. Duplicate subqueries within a group are collapsed (scoring
    one twice would double its tie_breaker contribution).

    ``prune=True`` (default) runs the BLOCK-MAX tier: dis_max is
    monotone non-decreasing in every sub score (∂/∂s_max = 1,
    ∂/∂s_other = tie ∈ [0, 1]), so per chunk
    ``dismax(ub_1..ub_n) = max_i ub_i + tie·(Σ ub − max)`` with
    ``ub_i = Σ_{t∈sub_i} idf_t · max_tfsat_t(chunk)`` upper-bounds
    every doc's combined score in the chunk — the WAND skip rule
    applies to the COMBINED score directly (score-all was never
    semantically required, only a safe default: a doc's every sub
    score lives inside its one chunk, so the combine is chunk-local).
    Gated bit-identical to ``prune=False`` (the score-all composition)
    in tests/test_dismax.py."""
    if not 0.0 <= float(tie_breaker) <= 1.0:
        raise ValueError(
            f"tie_breaker must be in [0, 1], got {tie_breaker}"
        )
    flat, terms = _tokenize_groups(query_groups, cfg)
    spark = pidx.spark
    out_schema = ("query_id int, doc_id long, score double, rank int")
    if not flat:
        return spark.createDataFrame([], out_schema)
    if prune:
        return _dismax_wand(pidx, flat, terms, float(tie_breaker),
                            round_dp, k)

    from .wand import bm25_scores_packed_batch

    # one flat-scorer batch over ALL (user query, sub) pairs — raw
    # (unrounded) sub scores; rounding belongs to the combined score
    scores = bm25_scores_packed_batch(
        pidx, [""] * len(flat), cfg, query_terms=terms
    )
    return _combine(scores, flat, float(tie_breaker), round_dp, k)


#: output schema of the combined-WAND scorers (dis_max, multi_match)
def _topk_schema():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("query_id", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
        T.StructField("rank", T.IntegerType(), False),
    ])


def combined_wand_scorer(
    k_top: int,
    tie: float,
    round_dp: int | None,
    params,
    decode=None,
    decoders: dict | None = None,
    combine: str = "dismax",
):
    """Per-(user query) group scorer for MONOTONE combines of per-sub
    BM25 scores over a SHARED chunk grid. Expects columns (query_id,
    sub_id, idf, chunk, postings, max_tfsat) — idf pre-attached (the
    caller folds per-sub weights/boosts in, so the chunk bounds are
    exact for the weighted scores too).

    ``combine='dismax'``: score = max_i s_i + tie·(Σ s_i − max); the
    chunk bound is dismax(ub_1..ub_n) — valid because dis_max is
    monotone non-decreasing in every sub score (∂/∂s_max = 1, others
    tie ∈ [0, 1]). ``combine='sum'``: score = Σ s_i (multi_match
    most_fields; tie ignored), bound = Σ ub_i — same argument.

    ``decoders``: {sub_id: decode hook} — the multi-field seam (each
    field index carries its own tombstone mask); ``decode`` is the
    single-index default."""

    import numpy as np
    import pandas as pd

    from ..indexing.codec import decode_postings, tf_saturation
    from .wand import _heap_frame, _offer_topk, _rows_by_chunk

    if combine not in ("dismax", "sum"):
        raise ValueError(f"unknown combine {combine!r}")
    dec_default = decode or (lambda buf: decode_postings(bytes(buf)))
    kk, bb = float(params.k), float(params.b)
    eps = (10.0 ** -round_dp) if round_dp is not None else 0.0
    tie_l = float(tie)
    is_sum = combine == "sum"

    def score_query(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        # per-(chunk, sub) upper bound, then the chunk's COMBINED bound
        ub_sub = (
            (pdf["idf"] * pdf["max_tfsat"])
            .groupby([pdf["chunk"], pdf["sub_id"]])
            .sum()
        )
        ssum = ub_sub.groupby(level=0).sum()
        if is_sum:
            bounds = ssum.sort_values(ascending=False)
        else:
            smax = ub_sub.groupby(level=0).max()
            bounds = (smax + tie_l * (ssum - smax)).sort_values(
                ascending=False)
        by_chunk = _rows_by_chunk(pdf["chunk"].to_numpy())
        heap: list = []  # min-heap of (score, -doc_id)
        for chunk, bound in bounds.items():
            if len(heap) >= k_top and bound < heap[0][0] - eps:
                continue  # safe skip: combined score <= combined bound
            rows = pdf.iloc[by_chunk[chunk]]
            sub_docs: list = []
            sub_scores: list = []
            for sub, srows in rows.groupby("sub_id"):
                d = (decoders.get(int(sub), dec_default)
                     if decoders is not None else dec_default)
                docs_all: list = []
                contrib_all: list = []
                for idf, buf in zip(srows["idf"].to_numpy(),
                                    srows["postings"]):
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
                sub_docs.append(uniq)
                sub_scores.append(s)
            if not sub_docs:
                continue
            docs = np.concatenate(sub_docs)
            sc = np.concatenate(sub_scores)
            order = np.argsort(docs, kind="stable")
            docs, sc = docs[order], sc[order]
            uniq, start = np.unique(docs, return_index=True)
            s_sum = np.add.reduceat(sc, start)
            if is_sum:
                scores = s_sum
            else:
                s_max = np.maximum.reduceat(sc, start)
                scores = s_max + tie_l * (s_sum - s_max)
            if round_dp is not None:
                scores = np.round(scores, round_dp)
            _offer_topk(heap, uniq, scores, k_top)
        return _heap_frame(qid, heap)

    return score_query


def _dismax_wand(
    pidx: PackedIndex,
    flat: Sequence[int],
    terms: Sequence[Sequence[str]],
    tie: float,
    round_dp: int | None,
    k: int,
    idf_override: dict | None = None,
) -> DataFrame:
    """Block-max dis_max: one pushed In(term) scan, a (term -> sub ids)
    literal-map fan-out, ONE groupBy(user query) exchange, and a WAND
    heap over chunks in descending combined-upper-bound order — the
    same join-free plan shape and cost class as bm25_topk_packed_batch
    (plan-gated in tests/test_plan_shapes.py). ``idf_override``: the
    federated seam — federation-global idf supplied by the caller
    (terms absent from the map score nothing)."""
    from ..indexing.codec import decode_postings

    spark = pidx.spark
    schema = _topk_schema()
    all_terms = sorted({t for ts in terms for t in ts})
    if idf_override is not None:
        idf_map = {t: float(v) for t, v in idf_override.items()}
    else:
        stats = pidx.term_stats.select("term", "idf").filter(
            F.col("term").isin(all_terms))
        idf_map = {r["term"]: float(r["idf"]) for r in stats.collect()}
    subs_by_term: dict[str, list[int]] = {}
    for sub, ts in enumerate(terms):
        for t in ts:
            if t in idf_map:
                subs_by_term.setdefault(t, []).append(sub)
    if not subs_by_term:
        return spark.createDataFrame([], schema)
    sub_user = {sub: int(uq) for sub, uq in enumerate(flat)}
    map_entries = [
        x
        for t, ss in subs_by_term.items()
        for x in (F.lit(t), F.array(*[F.lit(s) for s in ss]))
    ]
    user_entries = [
        x for s, u in sub_user.items() for x in (F.lit(s), F.lit(u))
    ]
    idf_entries = [
        x for t, v in sorted(idf_map.items()) for x in (F.lit(t), F.lit(v))
    ]
    matched = (
        pidx.index.filter(F.col("term").isin(sorted(subs_by_term)))
        .withColumn(
            "sub_id", F.explode(F.create_map(*map_entries)[F.col("term")])
        )
        .withColumn(
            "query_id", F.create_map(*user_entries)[F.col("sub_id")]
        )
        .withColumn("idf", F.create_map(*idf_entries)[F.col("term")])
    )
    mask = pidx.delete_mask()
    dec = (mask.wrap_decoders()[0] if mask is not None
           else (lambda buf: decode_postings(bytes(buf))))
    scorer = combined_wand_scorer(
        int(k), float(tie), round_dp, pidx.params, decode=dec,
        combine="dismax")
    return matched.groupBy("query_id").applyInPandas(scorer, schema=schema)


def _tokenize_groups(query_groups, cfg):
    """-> (flat user-qids, per-synthetic-qid token lists) with per-group
    dedup — shared by both tiers."""
    flat: list = []
    terms: list = []
    for uq, subs in enumerate(query_groups):
        if not subs:
            raise ValueError(f"query group {uq} has no subqueries")
        seen: set = set()
        for sub in subs:
            toks = tuple(dict.fromkeys(tokenize_text(sub, cfg)))
            if not toks or toks in seen:
                continue
            seen.add(toks)
            flat.append(uq)
            terms.append(list(toks))
    return flat, terms


def dismax_topk_federated(
    shards,
    query_groups: Sequence[Sequence[str]],
    cfg: TokenizerConfig,
    k: int = 10,
    tie_breaker: float = 0.0,
    round_dp: int | None = None,
    prune: bool = True,
) -> DataFrame:
    """Federated dis_max -> (query_id, doc_id, score, rank) with doc_id
    in the federation namespace. EXACT either way: a doc lives in one
    shard and scores ride the dfs_query_then_fetch contract
    (federation-global idf, shard-local dl_norm).

    ``prune=True`` (default): per-shard BLOCK-MAX dis_max with the
    federation-global idf supplied via ``idf_override``, each shard's
    top-k base-shifted into the federation namespace, then one bounded
    global (score desc, doc_id asc) rank window — the has_child
    bounded-merge shape: a global top-k doc has < k docs above it
    IN ITS OWN SHARD, so per-shard k rows suffice (ties inside a shard
    are already resolved by its own doc_id order, which base-shifting
    preserves). ``prune=False``: the score-all composition (one
    federated flat-scorer batch + native combine). Gated identical in
    tests/test_dismax.py."""
    if not 0.0 <= float(tie_breaker) <= 1.0:
        raise ValueError(
            f"tie_breaker must be in [0, 1], got {tie_breaker}"
        )
    flat, terms = _tokenize_groups(query_groups, cfg)
    spark = shards[0].spark
    if not flat:
        return spark.createDataFrame(
            [], "query_id int, doc_id long, score double, rank int")
    if prune:
        from functools import reduce

        from pyspark.sql import Window

        from .federated import _check_compat, _doc_bases, _global_idf

        _check_compat(shards)
        all_terms = sorted({t for ts in terms for t in ts})
        idf_map = _global_idf(shards, all_terms)
        parts = [
            _dismax_wand(s, flat, terms, float(tie_breaker), round_dp,
                         k, idf_override=idf_map)
            .withColumn(
                "doc_id", (F.col("doc_id") + F.lit(int(base))).alias(
                    "doc_id"))
            .drop("rank")
            for s, base in zip(shards, _doc_bases(shards))
        ]
        cand = reduce(DataFrame.unionByName, parts)
        w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("doc_id").asc())
        return (
            cand.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k)
        )
    from .federated import bm25_scores_federated

    scores = bm25_scores_federated(
        shards, [""] * len(flat), cfg, query_terms=terms
    )
    return _combine(scores, flat, float(tie_breaker), round_dp, k)


def _combine(scores: DataFrame, flat, tie: float, round_dp, k) -> DataFrame:
    sub_to_user = F.create_map(
        *[x for i, uq in enumerate(flat) for x in (F.lit(i), F.lit(uq))]
    )
    per_sub = scores.select(
        sub_to_user[F.col("query_id")].alias("query_id"),
        "doc_id",
        "score",
    )
    combined = (
        per_sub.groupBy("query_id", "doc_id")
        .agg(F.max("score").alias("smax"), F.sum("score").alias("ssum"))
        .select(
            "query_id",
            "doc_id",
            (F.col("smax")
             + F.lit(tie) * (F.col("ssum") - F.col("smax"))).alias("score"),
        )
    )
    if round_dp is not None:
        combined = combined.withColumn("score", F.round("score", round_dp))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        combined.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )
