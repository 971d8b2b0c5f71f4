"""Block-max top-k BM25 over the packed index (M3 serving path).

Reference scoring semantics (src/models/rankers/bm25.py:34-57 — OR over
unique query terms, stored 3-dp idf / dl_norm inputs) but with safe
block-max pruning (Broder et al. 2003 WAND; Ding & Suel 2011 block-max):

- a *chunk* (doc-range slice of a term's postings, indexing/packed.py) is
  the pruning block; because chunk boundaries are shared across terms
  (chunk = doc_id // chunk_docs), every doc's full score lives inside one
  chunk id — so "skip chunk if Σ_t idf_t·max_tfsat_t(chunk) < θ" is exact.
- per query: chunks are processed in descending upper-bound order with a
  running top-k threshold θ — classic WAND, vectorized in numpy per chunk.
- across queries: applyInPandas(groupBy query_id) — queries score in
  parallel, the natural unit of serving concurrency.

Plan shape (join-free): pushed-down In(term, …) scan of the
term-range-partitioned index (parquet min/max stats prune non-matching
files — the reference's sorted-file binary search, index.py:93-131, for
free), a literal term->query_ids map projection for the fan-out, idf
shipped in the scorer closure, then one applyInPandas. The only shuffle is
the groupBy(query_id) hash exchange of matched chunks; a query batch is
ONE job (plus the tiny pruned idf collect).

A single index is served as a one-shard federation: bm25_topk_packed_batch
and bm25_scores_packed_batch build the plan above through
query/federated.py on ``[pidx]`` (doc base 0, the stored idf read as is),
so there is one distributed BM25 plan. This module keeps the scorers it
runs, the per-chunk filter/boost arrays and the single-index helpers.

Safety is gated by tests/test_packed_wand.py: WAND top-k == exhaustive
top-k (same docs, same scores) on every fixture query.
"""

from __future__ import annotations

import heapq
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..indexing.build import Bm25Params
from ..indexing.codec import decode_postings, tf_saturation
from ..indexing.packed import PackedIndex
from ..tokenizer import TokenizerConfig, tokenize_text

_TOPK_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
        T.StructField("rank", T.IntegerType(), False),
    ]
)


def _member_mask(doc_ids: np.ndarray, allowed: np.ndarray) -> np.ndarray:
    """Bool mask: which ``doc_ids`` (any order) are members of the SORTED
    unique ``allowed`` array — the attribute-filter twin of
    DeleteMask.keep_mask (indexing/deletes.py), inverted sense."""
    if allowed.size == 0:
        return np.zeros(len(doc_ids), dtype=bool)
    idx = np.searchsorted(allowed, doc_ids)
    idx[idx == allowed.size] = 0
    return allowed[idx] == doc_ids


def _wand_scorer(
    k_top: int,
    params: Bm25Params,
    round_dp: int | None = None,
    idf_map: dict | None = None,
    decode=None,
    allowed: np.ndarray | None = None,
    qweights: dict | None = None,
    require_all: dict | None = None,
    min_match: dict | None = None,
    boosts: tuple | None = None,
    decoders: dict | None = None,
    exclude_terms: dict | None = None,
    search_after: dict | None = None,
    demote_terms: dict | None = None,
    demote_keep: dict | None = None,
    demote_factor: float = 0.5,
):
    """``round_dp``: round per-doc scores to this many decimals and rank by
    the ROUNDED value (doc_id asc tie-break) — the cross-engine-stable
    ordering the DuckDB oracle uses. Pruning stays safe under rounding via
    an epsilon slack on the threshold (a chunk is skipped only when no doc
    in it could even TIE the rounded heap minimum).

    ``idf_map``: {term: stored 3dp idf} captured in the closure — the
    join-free serving path ships idf with the task instead of broadcast-
    joining the stats table (one Spark job per query batch instead of
    three; the map is bounded by the query's term count).

    ``allowed``: optional SORTED unique doc_id array — attribute-filtered
    retrieval (Lucene filtered-search analog). Docs outside it are dropped
    BEFORE the heap, so the result is the true filtered top-k (post-hoc
    filtering of an unfiltered top-k would be wrong). Pruning stays safe:
    a chunk's stored upper bound holds for any doc subset — the same
    argument that keeps tombstone masking safe. The distributed path ships
    the filter per-chunk instead (an ``allowed`` array column joined on
    chunk, see bm25_topk_packed_batch) so the set never rides the closure;
    the closure form serves the in-process LocalSearcher tier.

    ``require_all``: {query_id: n} — conjunctive (AND) ranked retrieval:
    only docs matched by exactly ``n`` of the query's terms score (every
    doc appears at most once per term per chunk, and a doc's whole score
    lives in one chunk, so the per-chunk coverage count IS the global
    one). Chunk bounds still upper-bound the conjunctive subset's scores,
    so pruning stays safe (looser, never wrong).

    ``min_match``: {query_id: m} — ES ``minimum_should_match``: only
    docs matched by AT LEAST m of the query's terms score (m=1 is plain
    OR, m=n is the conjunctive contract; the same chunk-locality
    argument makes the per-chunk coverage count exact, and filtering to
    a subset keeps the pruning bounds safe). Mutually exclusive with
    ``require_all`` at the call sites.

    ``boosts``: (sorted doc_id array, aligned multiplier array) — doc
    boosting (the SOFT twin of ``allowed``; Lucene function-query /
    recency-boost analog): final per-doc scores multiply by the doc's
    boost (absent docs boost 1.0). Pruning stays safe by scaling each
    chunk's upper bound by max(1, max boost) — the distributed path
    computes that per chunk from the joined arrays, the closure form
    scales by the global max.

    ``decoders``: {doc_base: decode hook} for FEDERATED scatter-gather
    (query/federated.py): matched chunk rows carry a ``doc_base`` column
    (the shard's global docID offset, constant within a chunk group), the
    shard's own decode hook (tombstone-masked) decodes its buffers, and
    decoded doc_ids shift by the base into the federation-global namespace
    BEFORE the shared heap — N shards, one heap, no doc_id collisions.

    ``exclude_terms``: {query_id: set of negated terms} (query/negation.py
    ``must_not`` semantics). The negated terms' chunk rows ride the SAME
    fan-out as scoring rows; here they are split off before the bounds,
    decoded per chunk, and their doc ids mask the chunk's candidates
    BEFORE the heap. Exclusion is chunk-local (every term's postings for
    a doc share the doc's chunk id) so this is exact, and it only lowers
    achievable scores, so the pruning bounds stay safe unchanged.

    ``search_after``: {query_id: (score, doc_id)} cursor — ES
    ``search_after`` deep pagination: only docs STRICTLY AFTER the cursor
    in the (score desc, doc_id asc) total order enter the heap, so the
    heap stays size k at ANY depth (from/size pays k+offset). The cursor
    is the LAST hit of the previous page, in the same score space the
    scorer ranks by (pass the ROUNDED score when round_dp is set — pages
    produced by this scorer hand back exactly that value, so the float
    equality on ties is exact). Dropping docs before the heap only lowers
    achievable scores; pruning bounds stay safe unchanged. Emitted ranks
    are PAGE-RELATIVE 1..k (ES search_after has no absolute rank — an
    absolute rank would cost the offset count the cursor exists to
    avoid).

    ``demote_terms`` / ``demote_keep`` / ``demote_factor``: the ES
    *boosting query* — docs matching any of a query's demote terms keep
    ranking but their final score multiplies by ``demote_factor`` in
    [0, 1) (the soft must_not: exclusion removes, demotion sinks).
    Demote rows ride the same fan-out as scoring rows; ``demote_keep``
    lists the demote terms that are ALSO positive for the query (their
    rows must stay in the scoring frame — a term can contribute score
    AND trigger demotion, the ES semantics). Demotion is chunk-local
    exact (same argument as exclusion) and only LOWERS scores, so the
    pruning upper bounds stay safe unchanged; it applies BEFORE
    rounding, so the rounded-rank contract sees the demoted value."""
    kk, bb = float(params.k), float(params.b)
    if qweights:
        # same safety rule as doc boosts: a negative coefficient makes
        # idf_w * max_tfsat the chunk MINIMUM, not maximum — the pruning
        # upper bound would silently under-estimate and skip true top-k
        for _q, _wm in qweights.items():
            for _t, _w in (_wm or {}).items():
                if _w < 0.0:
                    raise ValueError(
                        "term weights must be non-negative (a negative "
                        "weight would break the pruning upper bound); "
                        f"got {_w} for {_t!r}"
                    )
    eps = (10.0 ** -round_dp) if round_dp is not None else 0.0
    # ``decode``: optional (buf) -> (doc_ids, tfs, dl_norm) hook so a
    # long-lived serving tier (LocalSearcher) can memoize decoded postings
    # across queries; the distributed batch path keeps the default
    dec = decode or (lambda buf: decode_postings(bytes(buf)))

    def score_query(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        dem_by_chunk = None
        if demote_terms:
            dem = demote_terms.get(qid)
            if dem:
                is_dem = pdf["term"].isin(dem)
                if is_dem.any():
                    # demote rows build the demoted-doc sets; rows whose
                    # term is NOT also positive leave the scoring frame
                    dem_by_chunk = dict(tuple(pdf[is_dem].groupby("chunk")))
                    keep = (demote_keep or {}).get(qid) or set()
                    drop = is_dem & ~pdf["term"].isin(keep)
                    pdf = pdf[~drop]
                    if not len(pdf):
                        return pd.DataFrame(
                            {
                                "query_id": np.array([], dtype=np.int32),
                                "doc_id": np.array([], dtype=np.int64),
                                "score": np.array([], dtype=np.float64),
                                "rank": np.array([], dtype=np.int32),
                            }
                        )
        ex_by_chunk = None
        if exclude_terms:
            ex = exclude_terms.get(qid)
            if ex:
                is_ex = pdf["term"].isin(ex)
                if is_ex.any():
                    # negated rows leave the scoring frame BEFORE idf/
                    # bounds: they contribute exclusion sets, never score
                    ex_by_chunk = dict(tuple(pdf[is_ex].groupby("chunk")))
                    pdf = pdf[~is_ex]
                    if not len(pdf):
                        return pd.DataFrame(
                            {
                                "query_id": np.array([], dtype=np.int32),
                                "doc_id": np.array([], dtype=np.int64),
                                "score": np.array([], dtype=np.float64),
                                "rank": np.array([], dtype=np.int32),
                            }
                        )
        if idf_map is not None:
            pdf = pdf.assign(idf=pdf["term"].map(idf_map))
        if qweights:
            # per-(query, term) multiplicative weight (weighted-query /
            # PRF-expanded retrieval) folded into idf BEFORE the chunk
            # bounds are computed, so pruning stays exact for the
            # weighted scores too
            wmap = qweights.get(qid)
            if wmap:
                pdf = pdf.assign(
                    idf=pdf["idf"] * pdf["term"].map(wmap).fillna(1.0)
                )
        # per-chunk upper bound Σ_t idf_t * max_tfsat_t(chunk)
        ub = (
            (pdf["idf"] * pdf["max_tfsat"])
            .groupby(pdf["chunk"])
            .sum()
            .sort_values(ascending=False)
        )
        by_chunk = dict(tuple(pdf.groupby("chunk")))
        has_allowed_col = "allowed" in pdf.columns
        has_boost_col = "bids" in pdf.columns
        has_base = "doc_base" in pdf.columns
        gb_ids, gb_vals = boosts if boosts is not None else (None, None)
        heap: list = []  # min-heap of (score, -doc_id) — worst kept on top
        for chunk, bound in ub.items():
            rows = by_chunk[chunk]
            b_ids, b_vals = gb_ids, gb_vals
            if b_ids is None and has_boost_col:
                first = rows["bids"].iloc[0]
                if first is not None:
                    b_ids = np.asarray(first, dtype=np.int64)
                    b_vals = np.asarray(rows["bvals"].iloc[0], dtype=np.float64)
            scale = 1.0
            if b_vals is not None and len(b_vals):
                if float(np.min(b_vals)) < 0.0:
                    raise ValueError(
                        "doc boosts must be non-negative (a negative "
                        "multiplier would break the pruning upper bound)"
                    )
                scale = max(1.0, float(np.max(b_vals)))
            if len(heap) >= k_top and bound * scale < heap[0][0] - eps:
                continue  # safe skip: every doc in chunk scores <= bound*scale
            base = int(rows["doc_base"].iloc[0]) if has_base else 0
            d = decoders.get(base, dec) if decoders is not None else dec
            docs_all: list = []
            contrib_all: list = []
            for idf, buf in zip(rows["idf"].to_numpy(), rows["postings"]):
                doc_ids, tfs, dl_norm = d(buf)
                contrib_all.append(idf * tf_saturation(tfs, dl_norm, kk, bb))
                docs_all.append(doc_ids)
            docs = np.concatenate(docs_all)
            contribs = np.concatenate(contrib_all)
            if base:
                # shift into the federation-global docID namespace (order-
                # preserving, so downstream unique/tie-break logic is as-is)
                docs = docs + base
            if ex_by_chunk is not None:
                exrows = ex_by_chunk.get(chunk)
                if exrows is not None:
                    # same decoder as the chunk's scoring rows (tombstone-
                    # masked where applicable), same base shift — exclusion
                    # lands in the same docID namespace as the candidates
                    banned = np.concatenate(
                        [d(buf)[0] for buf in exrows["postings"]]
                    )
                    if banned.size:
                        if base:
                            banned = banned + base
                        m = ~_member_mask(docs, np.unique(banned))
                        docs, contribs = docs[m], contribs[m]
                        if docs.size == 0:
                            continue
            allow = allowed
            if allow is None and has_allowed_col:
                # per-chunk filter column (joined on chunk): same array on
                # every row of the chunk group — Spark's sort_array already
                # sorted + deduped it
                allow = np.asarray(rows["allowed"].iloc[0], dtype=np.int64)
            if allow is not None:
                m = _member_mask(docs, allow)
                docs, contribs = docs[m], contribs[m]
                if docs.size == 0:
                    continue
            uniq, inv, cov = np.unique(
                docs, return_inverse=True, return_counts=True
            )
            scores = np.zeros(len(uniq))
            np.add.at(scores, inv, contribs)
            if require_all is not None:
                need = require_all.get(qid)
                if need is not None:
                    hit = cov == need
                    if not hit.any():
                        continue
                    uniq, scores = uniq[hit], scores[hit]
            if min_match is not None:
                need = min_match.get(qid)
                if need is not None and need > 1:
                    hit = cov >= need
                    if not hit.any():
                        continue
                    uniq, scores = uniq[hit], scores[hit]
            if b_ids is not None and b_ids.size:
                bidx = np.searchsorted(b_ids, uniq)
                bidx[bidx == b_ids.size] = 0
                hitb = b_ids[bidx] == uniq
                if hitb.any():
                    mult = np.ones(len(uniq))
                    mult[hitb] = b_vals[bidx[hitb]]
                    scores = scores * mult
            if dem_by_chunk is not None:
                demrows = dem_by_chunk.get(chunk)
                if demrows is not None:
                    sunk = np.concatenate(
                        [d(buf)[0] for buf in demrows["postings"]]
                    )
                    if sunk.size:
                        if base:
                            sunk = sunk + base
                        hitd = _member_mask(uniq, np.unique(sunk))
                        if hitd.any():
                            scores = scores.copy()
                            scores[hitd] *= demote_factor
            if round_dp is not None:
                scores = np.round(scores, round_dp)
            if search_after is not None:
                cur = search_after.get(qid)
                if cur is not None:
                    # strictly after the cursor in (score desc, doc_id asc)
                    # order; a doc's whole score lives in one chunk, so the
                    # per-chunk cut is the global one
                    cs, cd = float(cur[0]), int(cur[1])
                    m = (scores < cs) | ((scores == cs) & (uniq > cd))
                    uniq, scores = uniq[m], scores[m]
                    if uniq.size == 0:
                        continue
            # vectorized candidate cut: only the chunk's top-k by
            # (score desc, doc_id asc) can enter the heap — a hot chunk at
            # chunk_docs=65536 would otherwise cost ~1e5 Python heap
            # iterations; now it's one partition + <=k pushes
            n = len(uniq)
            if n > k_top:
                thresh = np.partition(scores, n - k_top)[n - k_top]
                keep = scores >= thresh  # ties kept; lexsort settles them
                uniq, scores = uniq[keep], scores[keep]
            order = np.lexsort((uniq, -scores))[:k_top]
            for i in order:
                item = (float(scores[i]), -int(uniq[i]))
                if len(heap) < k_top:
                    heapq.heappush(heap, item)
                elif item > heap[0]:
                    heapq.heapreplace(heap, item)
                else:
                    break  # candidates are sorted: the rest can't enter
        out = sorted(heap, key=lambda x: (-x[0], -x[1]))
        return pd.DataFrame(
            {
                "query_id": qid,
                "doc_id": [-d for _, d in out],
                "score": [s for s, _ in out],
                "rank": np.arange(1, len(out) + 1, dtype=np.int32),
            }
        )

    return score_query


_SCORES_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


def _flat_scorer(
    params: Bm25Params,
    round_dp: int | None = None,
    idf_map: dict | None = None,
    require_all: dict | None = None,
    min_match: dict | None = None,
    exclude_terms: dict | None = None,
    decoders: dict | None = None,
):
    """Per-(query, CHUNK) group scorer emitting EVERY matched doc's full
    BM25 score — no heap, no rank, no pruning. Exact per group because a
    doc's whole score (and its conjunctive coverage count, and its
    negated postings) live inside its one chunk. This is the score-ALL
    surface group-aware operators (field collapse) build on: the output
    volume is the matched-doc count, the cost class ES pays for the same
    features (collapse disables top-k pruning there too). Group by
    ("query_id", "chunk") so each task's pandas frame is bounded by
    chunk_docs, never the corpus.

    ``decoders``: {doc_base: decode hook} — the FEDERATED seam (wand
    scorer twin): rows carry a ``doc_base`` column (constant within a
    chunk group — federation chunk ids are disjoint per shard), the
    shard's own tombstone-masked decoder decodes, and decoded ids shift
    by the base into the federation namespace."""
    kk, bb = float(params.k), float(params.b)

    def dec(buf):
        return decode_postings(bytes(buf))

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "query_id": np.array([], dtype=np.int32),
                "doc_id": np.array([], dtype=np.int64),
                "score": np.array([], dtype=np.float64),
            }
        )
        qid = int(pdf["query_id"].iloc[0])
        base = int(pdf["doc_base"].iloc[0]) if "doc_base" in pdf.columns else 0
        d = decoders.get(base, dec) if decoders is not None else dec
        banned = None
        if exclude_terms:
            ex = exclude_terms.get(qid)
            if ex:
                is_ex = pdf["term"].isin(ex)
                if is_ex.any():
                    banned = np.unique(
                        np.concatenate(
                            [d(buf)[0] for buf in pdf.loc[is_ex, "postings"]]
                        )
                    )
                    if base:
                        banned = banned + base  # same namespace as docs
                    pdf = pdf[~is_ex]
                    if not len(pdf):
                        return empty
        idfs = pdf["term"].map(idf_map)
        docs_all: list = []
        contrib_all: list = []
        for idf, buf in zip(idfs.to_numpy(), pdf["postings"]):
            doc_ids, tfs, dl_norm = d(buf)
            contrib_all.append(idf * tf_saturation(tfs, dl_norm, kk, bb))
            docs_all.append(doc_ids)
        docs = np.concatenate(docs_all)
        contribs = np.concatenate(contrib_all)
        if base:
            # shift into the federation docID namespace (order-preserving)
            docs = docs + base
        if banned is not None and banned.size:
            m = ~_member_mask(docs, banned)
            docs, contribs = docs[m], contribs[m]
            if docs.size == 0:
                return empty
        uniq, inv, cov = np.unique(docs, return_inverse=True, return_counts=True)
        scores = np.zeros(len(uniq))
        np.add.at(scores, inv, contribs)
        if require_all is not None:
            need = require_all.get(qid)
            if need is not None:
                hit = cov == need
                if not hit.any():
                    return empty
                uniq, scores = uniq[hit], scores[hit]
        if min_match is not None:
            need = min_match.get(qid)
            if need is not None and need > 1:
                hit = cov >= need
                if not hit.any():
                    return empty
                uniq, scores = uniq[hit], scores[hit]
        if round_dp is not None:
            scores = np.round(scores, round_dp)
        return pd.DataFrame(
            {
                "query_id": np.full(len(uniq), qid, dtype=np.int32),
                "doc_id": uniq.astype(np.int64),
                "score": scores,
            }
        )

    return score_group


def bm25_scores_packed_batch(
    pidx: PackedIndex,
    queries: Sequence[str],
    cfg: TokenizerConfig,
    round_dp: int | None = None,
    conjunctive: bool = False,
    exclude_terms: dict | None = None,
    query_terms: Sequence[Sequence[str]] | None = None,
    min_should_match: int | None = None,
    idf_override: dict | None = None,
) -> DataFrame:
    """EVERY matched doc's BM25 score per query -> (query_id, doc_id,
    score) — the score-all companion to :func:`bm25_topk_packed_batch`
    (same OR/AND/must_not semantics, same pushed-down ``In(term,…)``
    scan + literal-map fan-out + join-free idf closure; no heap, no
    pruning, ONE hash exchange on (query_id, chunk) so each scorer task
    is bounded by chunk_docs). Feed it to group-aware consumers like
    field collapse (query/collapse.py) that need per-group maxima an
    early top-k cut would break."""
    if pidx.manifest.get("payload", "freq") != "freq":
        raise ValueError(
            f"payload={pidx.manifest.get('payload')!r} index stores no dlq — "
            "BM25 needs a payload='freq' build"
        )
    from .federated import _bm25_scores

    return _bm25_scores(
        [pidx], queries, cfg, round_dp=round_dp, conjunctive=conjunctive,
        exclude_terms=exclude_terms, query_terms=query_terms,
        min_should_match=min_should_match, idf_override=idf_override,
    )



def filter_doc_ids(pidx: PackedIndex, attrs: DataFrame, predicate) -> DataFrame:
    """Resolve an attribute predicate to a one-column (doc_id) DataFrame.

    ``attrs`` is any table carrying the index's external-id columns
    (``order_cols``, e.g. conv_id/turn_idx for transcripts) plus whatever
    attribute columns the predicate needs (role, tool, ts, …). The
    predicate (SQL string or Column) evaluates ON THE ATTRS SCAN — filters
    push down to parquet/Iceberg — and the surviving keys join the docmap
    to become doc_ids. Attributes are deliberately NOT duplicated into the
    index (the source table stays the attribute store, the Iceberg way);
    the join is one exchange on the external key, sized by the filter's
    selectivity, and AQE broadcasts it when small."""
    ext = [c for c in pidx.manifest["order_cols"] if c != "doc_id"]
    missing = [c for c in ext if c not in attrs.columns]
    if missing:
        raise ValueError(
            f"attrs table lacks the index's external-id columns {missing} "
            f"(order_cols={pidx.manifest['order_cols']})"
        )
    return (
        attrs.filter(predicate)
        .select(*ext)
        .join(pidx.docmap, ext)
        .select("doc_id")
    )


def _allowed_by_chunk(pidx: PackedIndex, allowed_docs: DataFrame) -> DataFrame:
    """(doc_id) -> (chunk, allowed sorted-array) — the filter set grouped
    to the index's pruning blocks so it joins matched chunk rows instead of
    riding a closure/broadcast (O(selected docs) stays distributed)."""
    chunk_docs = int(pidx.manifest["chunk_docs"])
    return (
        allowed_docs.select(
            (F.col("doc_id").cast("long") / F.lit(chunk_docs)).cast("long").alias("chunk"),
            F.col("doc_id").cast("long").alias("doc_id"),
        )
        .groupBy("chunk")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("allowed"))
    )


def boost_doc_ids(pidx: PackedIndex, attrs: DataFrame, boost_expr) -> DataFrame:
    """Resolve an attribute boost expression to a (doc_id, boost)
    DataFrame (the soft twin of filter_doc_ids). ``boost_expr`` is a SQL
    expression string (or Column) over the attrs columns producing a
    non-negative multiplier — e.g. a role weighting
    ``\"CASE WHEN role = 'user' THEN 1.5 ELSE 1.0 END\"`` or a recency
    decay over ts. No-op boosts (== 1.0) are dropped so the shipped set
    is sized by the boosted fraction, not the corpus."""
    ext = [c for c in pidx.manifest["order_cols"] if c != "doc_id"]
    missing = [c for c in ext if c not in attrs.columns]
    if missing:
        raise ValueError(
            f"attrs table lacks the index's external-id columns {missing} "
            f"(order_cols={pidx.manifest['order_cols']})"
        )
    col = F.expr(boost_expr) if isinstance(boost_expr, str) else boost_expr
    return (
        attrs.select(*ext, col.cast("double").alias("boost"))
        .filter(F.col("boost") != 1.0)
        .join(pidx.docmap, ext)
        .select("doc_id", "boost")
    )


def _boost_by_chunk(pidx: PackedIndex, doc_boost: DataFrame) -> DataFrame:
    """(doc_id, boost) -> (chunk, bids sorted-ids array, bvals aligned
    multipliers) — the soft twin of _allowed_by_chunk; same join-the-
    matched-chunk-rows distribution (nothing collected/closure-shipped)."""
    chunk_docs = int(pidx.manifest["chunk_docs"])
    sortd = (
        doc_boost.select(
            (F.col("doc_id").cast("long") / F.lit(chunk_docs)).cast("long").alias("chunk"),
            F.struct(
                F.col("doc_id").cast("long").alias("doc_id"),
                F.col("boost").cast("double").alias("boost"),
            ).alias("db"),
        )
        .groupBy("chunk")
        .agg(F.array_sort(F.collect_list("db")).alias("arr"))
    )
    return sortd.select(
        "chunk",
        F.expr("transform(arr, x -> x.doc_id)").alias("bids"),
        F.expr("transform(arr, x -> x.boost)").alias("bvals"),
    )


def bm25_topk_packed_batch(
    pidx: PackedIndex,
    queries: Sequence[str],
    cfg: TokenizerConfig,
    k: int = 10,
    params: Bm25Params | None = None,
    exhaustive: bool = False,
    round_dp: int | None = None,
    fuzzy: bool = False,
    doc_filter: DataFrame | None = None,
    query_terms: Sequence[Sequence[str]] | None = None,
    term_weights: dict | None = None,
    conjunctive: bool = False,
    doc_boost: DataFrame | None = None,
    exclude_terms: dict | None = None,
    offset: int = 0,
    search_after: dict | None = None,
    min_should_match: int | None = None,
    demote_terms: dict | None = None,
    negative_boost: float = 0.5,
) -> DataFrame:
    """Top-k per query over the packed index -> (query_id, doc_id, score, rank).

    ``exhaustive=True`` disables block-max pruning (used by the safety gate
    and as the reference-exact fallback; SURVEY.md §4).

    ``fuzzy=True`` rewrites out-of-vocabulary query terms to their best
    Levenshtein distance-1 dictionary neighbor (query/fuzzy.py, SymSpell
    symmetric-delete) before scoring — ONE extra bounded job over the
    term_stats sidecar, only when requested. Terms with no neighbor keep
    OR semantics (match nothing); corrections are applied on the FINAL
    token space (post stop-word/stem), so build/query tokenizer parity
    is untouched.

    ``params`` other than the build-time (k, b) require ``exhaustive=True``:
    the stored ``max_tfsat`` block bounds were computed at build params, so
    pruning with different params is unsafe (could silently drop true top-k
    docs) — we refuse rather than mis-serve.

    ``doc_filter``: optional one-column (doc_id) DataFrame — attribute-
    filtered retrieval (build it with ``filter_doc_ids``). The top-k is
    computed over ONLY those docs (the filter applies before the heap —
    post-filtering a top-k would silently return < k or wrong docs). The
    filter set is grouped per chunk and JOINED to the matched chunk rows
    (one extra exchange sized by selectivity; never collected or shipped
    in a closure), and chunks with no allowed docs drop out of the scan
    entirely. Pruning stays safe: chunk bounds hold for any doc subset.

    ``query_terms``: pre-tokenized unique term lists, one per query —
    bypasses tokenization (``queries`` is then only used for count/ids).
    ``term_weights``: {query_id: {term: w}} multiplicative weight on a
    term's score contribution (default 1.0) — the weighted-query API that
    PRF-expanded retrieval (query/feedback.py) rides; weights fold into
    idf before the chunk bounds, so block-max pruning stays exact.

    ``conjunctive=True``: ranked AND retrieval — only docs containing
    EVERY query term score (BM25 ranking over the boolean-AND set; the
    reference's AND mode is unranked). A query with any out-of-vocabulary
    term returns nothing, the AND contract.

    ``doc_boost``: optional (doc_id, boost) DataFrame — final scores
    multiply by the doc's NON-NEGATIVE boost (absent docs boost 1.0): the
    soft twin of ``doc_filter`` (Lucene function-query / recency-boost
    analog; build it with any attribute expression over the source table
    + the docmap, like filter_doc_ids). Shipped per chunk like the
    filter; each chunk's pruning bound scales by its own max boost, so
    block-max skipping stays exact.

    ``exclude_terms``: {query_id: iterable of NORMALIZED negated terms}
    (parse ``-term`` query syntax with ``negation.parse_negated_queries``)
    — ES bool ``must_not``: docs containing ANY of a query's negated
    terms are dropped before the heap, so the result is the true top-k of
    the excluded corpus. The negated terms' chunk rows ride the same
    pushed-down scan + literal-map fan-out (no extra exchange; exclusion
    is chunk-local, see query/negation.py); terms absent from the index
    exclude nothing; a term both positive and negated is excluded (the
    negation wins). Negated terms are never fuzzy-rewritten.

    ``offset``: result paging (ES from/size): return page
    [offset, offset+k) of the ranking with ABSOLUTE ranks — the heap is
    simply sized k+offset, so page 2 costs what top-2k costs (the
    deep-paging cost model every search engine has; keep offsets
    shallow). Page boundaries are exact under the rounded-score +
    doc_id-asc total order: pages concatenate to the full prefix.

    ``search_after``: {query_id: (score, doc_id)} cursor — ES
    ``search_after``, the scale-correct deep-pagination contract: the
    heap stays size k at ANY depth (vs k+offset for from/size — at page
    10,000 from/size heaps 100k entries per query, the cursor still
    heaps k). The cursor is the previous page's LAST (score, doc_id) in
    the scorer's own score space (rounded when round_dp is set); ranks
    come back PAGE-RELATIVE 1..k. Pages concatenate to the full ranking
    prefix exactly (same total order). Mutually exclusive with
    ``offset`` (ES rejects from+search_after too).

    ``demote_terms``: {query_id: iterable of NORMALIZED demote terms} +
    ``negative_boost`` in [0, 1) — the ES *boosting query*: docs
    matching ANY of a query's demote terms still rank, but their score
    multiplies by negative_boost (the soft must_not — exclusion removes,
    demotion sinks; ES's boosting query contract). A term both positive
    and demoted contributes score AND sinks (ES semantics); a term both
    demoted and excluded is refused (ambiguous). Demote terms ride the
    pushed scan + fan-out like negation; absent-from-index terms demote
    nothing. Demotion only lowers scores, so block-max pruning stays
    exact, and it applies BEFORE rounding.

    ``min_should_match``: ES minimum_should_match — only docs matching
    AT LEAST m of the query's terms score (m=1 is plain OR — the
    default semantics; m = the query's term count is exactly
    ``conjunctive``, which it therefore refuses to combine with). A
    query with fewer in-vocabulary terms than m matches nothing (no doc
    can reach the coverage floor). The per-chunk coverage count is
    exact (chunk locality) and subset filtering keeps pruning safe."""
    if pidx.manifest.get("payload", "freq") != "freq":
        raise ValueError(
            f"payload={pidx.manifest.get('payload')!r} index stores no dlq — "
            "BM25 needs a payload='freq' build (boolean: use "
            "boolean_search_packed; tfidf: use tfidf_topk_packed_batch)"
        )
    from .federated import _bm25_topk

    return _bm25_topk(
        [pidx], queries, cfg, k=k, params=params, exhaustive=exhaustive,
        round_dp=round_dp, fuzzy=fuzzy, conjunctive=conjunctive,
        doc_filters=None if doc_filter is None else [doc_filter],
        doc_boosts=None if doc_boost is None else [doc_boost],
        query_terms=query_terms, term_weights=term_weights,
        exclude_terms=exclude_terms, offset=offset, search_after=search_after,
        min_should_match=min_should_match, demote_terms=demote_terms,
        negative_boost=negative_boost,
    )



def boolean_search_packed(
    pidx: PackedIndex,
    queries: Sequence[str],
    cfg: TokenizerConfig,
    op: str = "and",
    exclude_terms: dict | None = None,
    query_terms: "Sequence[Sequence[str]] | None" = None,
) -> DataFrame:
    """Boolean retrieval from the packed index -> (query_id, doc_id
    [, n_terms for OR]). Works on BOTH payloads: 'boolean' (doc gaps only,
    the small index) and 'freq' (postings carry tf/dlq; ignored here).
    Reference: BooleanPostingList merge semantics
    (src/models/posting_lists/boolean_posting_list.py:30-36).

    ``exclude_terms``: {query_id: normalized negated terms} — set
    difference after the AND/OR combine (query/negation.py semantics),
    applied chunk-locally in the kernel (every posting of a doc lives in
    the doc's own chunk, so per-chunk exclusion IS the global one). A
    query whose every term is negated returns nothing: pure-negation
    retrieval would be an unbounded corpus scan.

    ``query_terms``: pre-normalized term lists (parallel to ``queries``)
    that BYPASS tokenization — the same override bm25_scores_packed_batch
    has, for callers holding already-analyzed terms (dictionary
    expansions) that must not be re-stemmed."""
    if op not in ("and", "or"):
        raise ValueError(f"op must be 'and' or 'or', got {op!r}")
    spark = pidx.spark
    boolean = pidx.manifest.get("payload", "freq") == "boolean"
    rows = []
    if query_terms is not None:
        if len(query_terms) != len(queries):
            raise ValueError("query_terms must parallel queries")
        for qid, ts in enumerate(query_terms):
            for t in dict.fromkeys(ts):
                rows.append((qid, t))
    else:
        for qid, q in enumerate(queries):
            for t in dict.fromkeys(tokenize_text(q, cfg)):
                rows.append((qid, t))
    ex_rows = []
    if exclude_terms:
        live = {qid for qid, _ in rows}
        for qid, ts in sorted(exclude_terms.items()):
            if int(qid) in live:
                for t in dict.fromkeys(ts):
                    ex_rows.append((int(qid), t))
    if not rows:
        # all queries tokenized to nothing: same early return as the BM25
        # path — never fall through to an unpruned full-index scan
        return spark.createDataFrame(
            [], "query_id int, doc_id long, n_terms long"
        ).select("query_id", "doc_id", *([] if op == "and" else ["n_terms"]))
    # Execution shape = the WAND plumbing, not a posting explode: the
    # shuffle moves CHUNK BUFFERS to (query_id, chunk) groups — sized by
    # matched chunk rows, not Σ df — and a numpy kernel does the per-chunk
    # set algebra. Chunk locality makes it exact: every posting of a doc
    # (positive or negated term) lives in the doc's own chunk, so per-chunk
    # coverage counts, AND floors and exclusions ARE the global ones.
    qdf = spark.createDataFrame(
        [(q, t, False) for q, t in rows] + [(q, t, True) for q, t in ex_rows],
        "query_id int, term string, neg boolean",
    )
    all_terms = sorted({t for _, t in rows} | {t for _, t in ex_rows})
    pruned = pidx.index.filter(F.col("term").isin(all_terms))
    matched = pruned.select("term", "chunk", "postings").join(
        F.broadcast(qdf), "term")
    mask = pidx.delete_mask()
    n_by_q = {qid: len({t for i, t in rows if i == qid})
              for qid in {i for i, _ in rows}}

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.IntegerType(), False),
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("n_terms", T.LongType(), False),
        ]
    )

    def combine_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
        from ..indexing.codec import decode_docs, decode_postings

        empty = pd.DataFrame(
            {
                "query_id": pd.Series([], dtype="int32"),
                "doc_id": pd.Series([], dtype="int64"),
                "n_terms": pd.Series([], dtype="int64"),
            }
        )
        if not len(pdf):
            return empty
        qid = int(pdf["query_id"].iloc[0])
        pos_by_term: dict = {}
        ex_parts = []
        for row in pdf.itertuples(index=False):
            docs = (
                decode_docs(bytes(row.postings))
                if boolean
                else decode_postings(bytes(row.postings))[0]
            )
            if mask is not None:
                docs = mask.mask_docs(docs)
            if row.neg:
                ex_parts.append(np.asarray(docs, dtype=np.int64))
            else:
                pos_by_term.setdefault(row.term, []).append(
                    np.asarray(docs, dtype=np.int64))
        if not pos_by_term:
            return empty
        if op == "and" and len(pos_by_term) < n_by_q[qid]:
            return empty  # a query term absent from this chunk: no AND doc
        allpos = np.concatenate(
            [np.concatenate(a) for a in pos_by_term.values()])
        docs_u, counts = np.unique(allpos, return_counts=True)
        if op == "and":
            keep = counts == n_by_q[qid]
            docs_u, counts = docs_u[keep], counts[keep]
        if ex_parts and len(docs_u):
            ex = np.unique(np.concatenate(ex_parts))
            member = _member_mask(docs_u, ex)
            docs_u, counts = docs_u[~member], counts[~member]
        if not len(docs_u):
            return empty
        return pd.DataFrame(
            {"query_id": qid, "doc_id": docs_u,
             "n_terms": counts.astype(np.int64)}
        )

    agg = matched.groupBy("query_id", "chunk").applyInPandas(
        combine_chunk, schema=out_schema)
    if op == "or":
        return agg.select("query_id", "doc_id", "n_terms")
    return agg.select("query_id", "doc_id")


def prefix_search_packed(pidx: PackedIndex, prefix: str) -> DataFrame:
    """Wildcard (``prefix*``) term retrieval from the packed index ->
    (doc_id, n_terms, total_tf): docs containing ANY term with the prefix,
    with how many distinct expansions matched and their summed tf.

    The expansion is free at the storage layer: the index is term-sorted
    parquet, so ``startswith(term, prefix)`` pushes down as a
    StringStartsWith range filter and only the matching terms' chunk rows
    are read (plan-gated) — the classic sorted-dictionary prefix scan,
    done by the scan instead of a B-tree. Freq payload only ('boolean'
    stores no tf; use boolean_search_packed with explicit expansions)."""
    if not prefix:
        raise ValueError("prefix must be non-empty")
    if pidx.manifest.get("payload", "freq") != "freq":
        raise ValueError("prefix_search_packed needs a payload='freq' build")
    matched = pidx.index.filter(F.col("term").startswith(prefix)).select(
        "term", "postings"
    )
    mask = pidx.delete_mask()

    out_schema = T.StructType(
        [
            T.StructField("term", T.StringType(), False),
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("tf", T.LongType(), False),
        ]
    )

    def explode_postings(batches):
        from ..indexing.codec import decode_postings

        for pdf in batches:
            outs = []
            for row in pdf.itertuples(index=False):
                doc_ids, tfs, _ = decode_postings(bytes(row.postings))
                if mask is not None:
                    keep = mask.keep_mask(doc_ids)
                    if keep is not None:
                        doc_ids, tfs = doc_ids[keep], tfs[keep]
                outs.append(
                    pd.DataFrame(
                        {"term": row.term, "doc_id": doc_ids, "tf": tfs}
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    hits = matched.mapInPandas(explode_postings, schema=out_schema)
    # (term, doc) pairs are unique across chunk rows -> count(*) == distinct
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_terms"), F.sum("tf").alias("total_tf")
    )


def suggest_terms(pidx: PackedIndex, prefix: str, k: int = 10) -> DataFrame:
    """Dictionary auto-complete -> (term, df): terms with the prefix
    ranked by live collection df (desc, term-asc ties) — the classic
    suggest-as-you-type over the sorted dictionary (MRS Ch. 3.1 prefix
    lookup). Touches ONLY the tiny term_stats sidecar (pushed
    StringStartsWith scan; no postings are read), and df is the
    delete-exact live count (indexing/deletes.py maintains it), so
    suggestions never surface fully-tombstoned terms."""
    if not prefix:
        raise ValueError("prefix must be non-empty")
    return (
        pidx.term_stats.filter(F.col("term").startswith(prefix))
        .filter(F.col("df") > 0)
        .select("term", F.col("df").cast("long").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(k)
    )


def resolve_docs(pidx: PackedIndex, topk: DataFrame) -> DataFrame:
    """docID -> external id resolve (Q8; searcher.py:50-58 analog): join the
    docmap instead of a binary search over a mapping file. External-id
    columns come from the index's ``order_cols`` (transcripts:
    conv_id/turn_idx; TSV: ext_id; any corpus: whatever keyed the build)."""
    ext_cols = [c for c in pidx.manifest["order_cols"] if c != "doc_id"]
    return topk.join(pidx.docmap, "doc_id").select(
        "query_id", "doc_id", *ext_cols, "score", "rank"
    )


def match_counts_packed(
    pidx: PackedIndex,
    queries: Sequence[str],
    cfg: TokenizerConfig,
    conjunctive: bool = False,
    exclude_terms: dict | None = None,
    min_should_match: int | None = None,
) -> DataFrame:
    """The ES ``_count`` API analog -> (query_id, n_matched): how many
    docs match each query (OR by default; ``conjunctive``/
    ``exclude_terms``/``min_should_match`` carry their usual
    contracts), WITHOUT ranking or materializing hits to the driver.
    Rides the score-all surface (counting needs the full matched set —
    a WAND cut undercounts by construction) folded to one count per
    query; ZERO-match queries emit n_matched = 0 (the _count contract:
    every asked query answers)."""
    spark = pidx.spark
    scores = bm25_scores_packed_batch(
        pidx, list(queries), cfg, conjunctive=conjunctive,
        exclude_terms=exclude_terms, min_should_match=min_should_match,
    )
    counts = scores.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_matched"))
    qids = spark.createDataFrame(
        [(i,) for i in range(len(queries))], "query_id int")
    return (
        qids.join(counts, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_matched", F.lit(0)).cast("long")
            .alias("n_matched"),
        )
        .orderBy("query_id")
    )
