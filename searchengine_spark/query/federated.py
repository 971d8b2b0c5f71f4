"""Federated scatter-gather BM25 over N shard indexes — no merge.

At 10^12 turns a deployment never folds everything into one index: the
corpus lives as independently-built shard indexes (indexing/merge.py
builds/folds them; this module SERVES them directly). The reference has
no sharding notion at all (its whole index is one process's files,
src/models/index.py) — this is the distributed-serving capability its
design cannot express.

Statistics contract (the Elasticsearch ``dfs_query_then_fetch`` analog):

- **idf is federation-global and exact**: per-term df and the live corpus
  size N sum across shards (disjoint corpora), and idf = round(ln(N/df), 3)
  — the one expression every term_stats writer uses
  (indexing/build.idf_col). At N=1 that IS the stored idf, so a
  one-shard federation reads it as is, and plain packed serving
  (query/wand.py) is exactly this module's plan over ``[pidx]``. Naive
  federation (each shard ranking by its LOCAL idf) is how cross-shard
  rankings drift — we never blend per-shard idf.
- **dl_norm is shard-local**: postings store dl_norm quantized against the
  shard's own avgdl at build time (the reference's 3-dp footer contract,
  bm25.py:76-81), and 3-dp rounding is not invertible, so a federated
  query scores each doc with its shard's dl_norm. This is the documented
  epoch contract streaming appends already have (frozen-avgdl dl_norm,
  final-live-set idf — streaming/incremental.py); a federation is the same
  thing with shards as epochs. When every shard's avgdl coincides (e.g.
  uniform doc lengths) federated results are bit-identical to a merged
  index (gated in tests/test_federated.py); when avgdls differ, rankings
  agree with a per-shard-avgdl oracle exactly (driver entry
  ``federated_search``). Want merged-exact dl_norm? Fold the shards with
  ``merge_packed_indexes`` — that is the rebuild path by design.

Plan shape (the whole batch is still ONE job + two bounded collects):
per-shard pushed ``In(term, …)`` scans of the term-sorted layouts, a
plan-level UNION (no exchange), the literal term->query_ids fan-out, and
one hash exchange into the shared per-query scorer. Global df/N come from
one union-scan of the tiny term_stats sidecars (vocabulary-pruned). Doc
ids shift per shard by a chunk-aligned base offset so chunk ids stay the
pruning blocks and one heap serves all shards; block-max bounds are
unchanged (stored per shard, valid because scoring uses the shard's own
dl_norm and the common build params). Tombstones mask per shard through
the same decode hooks plain serving uses.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass
from functools import reduce
from typing import List, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..indexing.build import Bm25Params, idf_col
from ..indexing.packed import PackedIndex
from ..tokenizer import TokenizerConfig, tokenize_text
from .wand import (
    _SCORES_SCHEMA,
    _TOPK_SCHEMA,
    _allowed_by_chunk,
    _boost_by_chunk,
    _flat_scorer,
    _wand_scorer,
)

# shards must have been built under one contract for their stored blocks
# to be mutually rankable (same bar the shard merge sets, indexing/merge.py).
# BM25 additionally pins (k, b): the stored dlq/max_tfsat bake them in.
_COMPAT_KEYS = (
    ("tokenizer", None),
    ("k", None),
    ("b", None),
    ("chunk_docs", None),
    ("payload", "freq"),
    ("order_cols", None),
)
# boolean retrieval reads only decoded doc ids — payload may even DIFFER
# per shard (boolean_search_packed handles both); tokenizer parity keeps
# query terms meaningful, chunk_docs parity keeps one docID namespace,
# order_cols parity keeps resolve_docs_federated well-typed
_BOOL_COMPAT_KEYS = (
    ("tokenizer", None),
    ("chunk_docs", None),
    ("order_cols", None),
)
# TF-IDF scoring has no (k, b) dependence; payload/doc-schema parity keeps
# the stored-3dp doc weights mutually comparable
_TFIDF_COMPAT_KEYS = _BOOL_COMPAT_KEYS + (
    ("payload", "freq"),
    ("tfidf_doc_schema", None),
)

# gather="auto" threshold: below this shard count the single-exchange
# topology wins on one JVM (~20% at 4 shards, BENCH.md); above it the
# per-shard phase's straggler isolation dominates
AUTO_GATHER_SINGLE_MAX = 8


def resolve_shards_arg(spark, spec: str) -> str:
    """A ``--shards`` value that is ONE bare path holding a
    ``federation.json`` (the jobs/build_shards.py sidecar) expands to
    its recorded shard spec; anything else passes through untouched."""
    if "," in spec or "@" in spec:
        return spec
    from ..indexing import fsio
    from ..indexing.shards import FEDERATION_MANIFEST

    cand = fsio.join(spec.strip(), FEDERATION_MANIFEST)
    if fsio.exists(spark, cand):
        import json

        return json.loads(fsio.read_text(spark, cand))["spec"]
    return spec


def parse_shard_specs(
    specs: str, default_snapshot: int | None = None
) -> List[tuple]:
    """``--shards`` spec syntax -> [(path, snapshot_or_None), ...].

    Each comma-separated entry is ``path[@seq]``: a trailing ``@<int>``
    pins that shard to a historical snapshot (indexing/snapshots.py time
    travel — e.g. ``a@3,b,c@1``). Bare paths take ``default_snapshot``
    when given (the ``--snapshot N`` lockstep-maintenance case: every
    shard pinned to the same seq), else serve live. A shard pinned this
    way serves through the identical :class:`PackedIndex` machinery, so
    every federated surface (all rankers, suggest/fuzzy, PRF/MLT, the
    local tier) time-travels for free. ``@`` inside a path is preserved
    unless the final segment is all ASCII digits — snapshot seqs are
    small integers, path components practically never are; a
    date-stamped dir like ``idx@20250101`` needs the explicit escape. An
    ``@live`` suffix forces the preceding path literal AND live (it
    ignores ``default_snapshot`` — mix pinned and live shards under
    ``--snapshot N`` with ``a,b@live``)."""
    out = []
    for raw in specs.split(","):
        raw = raw.strip()
        if not raw:
            continue
        path, sep, suffix = raw.rpartition("@")
        if sep and path and suffix == "live":
            out.append((path, None))
        elif sep and path and suffix.isascii() and suffix.isdigit():
            out.append((path, int(suffix)))
        else:
            out.append((raw, default_snapshot))
    if not out:
        raise ValueError(f"no shard paths in --shards spec {specs!r}")
    return out


def _check_compat(
    shards: Sequence[PackedIndex], keys=_COMPAT_KEYS, payload_freq: bool = True
) -> None:
    if len(shards) < 1:
        raise ValueError("federated search needs at least one shard index")
    views = [{k: s.manifest.get(k, d) for k, d in keys} for s in shards]
    for i, v in enumerate(views[1:], start=1):
        if v != views[0]:
            diff = {k: (views[0][k], v[k]) for k in v if v[k] != views[0][k]}
            raise ValueError(
                f"shard #{i} ({shards[i].path!r}) was built under a "
                f"different contract than shard #0 ({shards[0].path!r}); "
                f"differing keys (first, this): {diff}"
            )
    if payload_freq and views[0].get("payload") != "freq":
        raise ValueError(
            f"payload={views[0]['payload']!r} shards store no dlq — "
            "federated BM25 needs payload='freq' builds"
        )


def _doc_bases(shards: Sequence[PackedIndex]) -> List[int]:
    """Chunk-ALIGNED global docID offset per shard: bases are multiples of
    chunk_docs, so global_chunk = local_chunk + base//chunk_docs and a
    doc's whole score still lives inside one (global) chunk id — the
    block-max safety invariant survives federation unchanged. Offsets use
    the docID HIGH-WATER mark (n_docs), never n_docs_live: tombstoned ids
    still occupy their slots (CLAUDE.md high-water rule)."""
    chunk_docs = int(shards[0].manifest["chunk_docs"])
    bases, base = [], 0
    for s in shards:
        bases.append(base)
        hw = int(s.manifest["n_docs"])
        base += ((hw + chunk_docs - 1) // chunk_docs) * chunk_docs
    return bases


def _shift(base: int):
    """Shard-local doc_id -> federation-global doc_id (order-preserving)."""
    return (F.col("doc_id").cast("long") + F.lit(base)).alias("doc_id")


def _shifted_union(shards: Sequence[PackedIndex], local_fn, cols) -> DataFrame:
    """Run ``local_fn`` on every shard, shift its doc ids into the
    federation namespace and union the results (plan-level, no exchange):
    (query_id, doc_id, *cols)."""
    return reduce(DataFrame.unionByName, [
        local_fn(s).select("query_id", _shift(base), *cols)
        for s, base in zip(shards, _doc_bases(shards))
    ])


def _global_idf(shards: Sequence[PackedIndex], terms: List[str]) -> dict:
    """Federation-exact idf for the (bounded) query-term set; the term
    filter pushes into every sidecar scan. One shard reads its stored idf:
    the same expression over the same df and N_live wrote it
    (indexing/build.idf_col), and reading it costs no aggregation job."""
    if not terms:
        return {}
    stats = (shards[0].term_stats.select("term", "idf") if len(shards) == 1
             else _global_term_stats(shards))
    return {
        r["term"]: float(r["idf"])
        for r in stats.filter(F.col("term").isin(terms)).collect()
    }


def _global_dictionary(shards: Sequence[PackedIndex]) -> DataFrame:
    """The federation's live (term, df) dictionary: df sums over the
    disjoint shard corpora — EXACTLY the merged index's term_stats, from
    one plan-level union of the vocabulary-sized sidecars (one shard's
    sidecar is read as is: it holds live terms only, deletes drop df=0
    rows). Feeds the federated suggest / fuzzy surfaces."""
    parts = [
        s.term_stats.select("term", F.col("df").cast("long").alias("df"))
        for s in shards
    ]
    if len(parts) == 1:
        return parts[0]
    return (
        reduce(DataFrame.unionByName, parts)
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
        .filter(F.col("df") > 0)
    )


def _global_term_stats(shards: Sequence[PackedIndex]) -> DataFrame:
    """(term, idf) over the federation, recomputed: df and the live
    corpus size N summed across disjoint shards, then the build's own idf
    expression. Vocabulary-sized (one union-scan of the sidecars); a term
    filter on it pushes into every sidecar scan."""
    n_live = sum(
        int(s.manifest.get("n_docs_live", s.manifest["n_docs"])) for s in shards
    )
    return _global_dictionary(shards).select(
        "term", idf_col(n_live).alias("idf")
    )


def suggest_terms_federated(
    shards: Sequence[PackedIndex], prefix: str, k: int = 10
) -> DataFrame:
    """Federated dictionary auto-complete -> (term, df): terms with the
    prefix ranked by the federation-wide live df (desc, term-asc ties) —
    bit-identical to suggest over a merged index because shard corpora
    are disjoint (df adds). The prefix filter pushes into EACH shard's
    term_stats scan before the union, so cost stays vocabulary-sized per
    shard; no postings are read. NOTE: per-shard top-k pre-cuts would be
    WRONG here (a term just below every shard's local top-k can win on
    summed df), so the cut happens only after the global sum — the
    per-shard candidate sets are prefix-pruned sidecar slices, already
    tiny."""
    _check_compat(shards, keys=_BOOL_COMPAT_KEYS, payload_freq=False)
    if not prefix:
        raise ValueError("prefix must be non-empty")
    parts = [
        s.term_stats.filter(F.col("term").startswith(prefix)).select(
            "term", F.col("df").cast("long").alias("df")
        )
        for s in shards
    ]
    return (
        reduce(DataFrame.unionByName, parts)
        .groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"))
        .filter(F.col("df") > 0)
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(k)
    )


def bm25_topk_federated(
    shards: Sequence[PackedIndex],
    queries: Sequence[str],
    cfg: TokenizerConfig,
    k: int = 10,
    exhaustive: bool = False,
    round_dp: int | None = None,
    gather: str = "auto",
    fuzzy: bool = False,
    conjunctive: bool = False,
    doc_filters: Sequence[DataFrame] | None = None,
    doc_boosts: Sequence[DataFrame] | None = None,
    query_terms: Sequence[Sequence[str]] | None = None,
    term_weights: dict | None = None,
    exclude_terms: dict | None = None,
    offset: int = 0,
    search_after: dict | None = None,
    min_should_match: int | None = None,
    demote_terms: dict | None = None,
    negative_boost: float = 0.5,
) -> DataFrame:
    """Top-k per query across ALL shards -> (query_id, doc_id, score, rank)
    with doc_id in the federation-global namespace (resolve external ids
    with :func:`resolve_docs_federated`). ``exhaustive=True`` disables
    block-max pruning (the safety-gate twin, like bm25_topk_packed_batch).

    ``gather`` picks the scatter-gather topology, bit-identical results
    (gated in tests/test_federated.py). ``"auto"`` (default) picks
    ``single`` for federations of <= AUTO_GATHER_SINGLE_MAX shards and
    ``two_phase`` above — measured at sf0.1/4 shards on one JVM, single
    is ~20% faster (the merge exchange isn't free and one box has no
    stragglers to hide), while at high shard counts one scorer task per
    query serializes on the slowest shard (BENCH.md "Federated serving"):

    - ``"two_phase"`` (the ES query-then-fetch shape): scorers
      group by (query_id, doc_base) — |queries|x|shards| parallel tasks,
      each scoring ONE shard's matched chunks to a shard-local top-k —
      then a second tiny exchange merges the k-per-shard candidates per
      query. EXACT because every doc's whole score lives inside one shard:
      any doc outside its shard's top-k is dominated by k same-shard docs
      under the global (score desc, doc_id asc) order and cannot enter the
      global top-k. At 1000 shards this is the difference between one
      straggler task per query and shard-wide parallelism.
    - ``"single"``: one scorer per query over all shards' chunks (one
      exchange total) — fewer jobs for small federations; the verification
      twin for the equality gate.

    ``doc_filters`` / ``doc_boosts``: per-shard (doc_id[, boost]) frames
    aligned with ``shards`` (build them with the shard's own
    ``filter_doc_ids`` / ``boost_doc_ids`` — resolution is inherently
    per-shard, each docmap owns its namespace). Shard-local ids shift by
    the base offset into the federation namespace, group to GLOBAL chunk
    ids (bases are chunk-aligned, so local-chunk + base//chunk_docs is
    exact), and join the matched rows — the same one-exchange-per-
    selectivity shape as single-index filtered/boosted retrieval; the
    scorer applies them after its own base shift, so masks and
    multipliers land on the same global ids.

    ``exclude_terms``: {query_id: normalized negated terms} — the
    ``must_not`` contract (query/negation.py; wand.py twin). Negated
    terms' chunk rows fan out per shard exactly like scoring rows; a
    doc's positive and negated postings share its (shard, chunk), so the
    scorer's chunk-local masking is exact under BOTH gather topologies.

    ``search_after``: {query_id: (score, doc_id)} cursor in the
    FEDERATION docID namespace — ES search_after deep pagination (wand.py
    twin; mutually exclusive with ``offset``). The scorer masks
    candidates AFTER its base shift, so the cursor compares in the same
    global (score desc, doc_id asc) order the federation ranks by —
    exact under BOTH gather topologies (two-phase: each shard emits its
    post-cursor top-k, and any post-cursor doc outside its shard's
    page-k is dominated by k same-shard post-cursor docs). Heaps stay
    size k at any depth; ranks come back PAGE-RELATIVE 1..k.

    ``min_should_match``: ES minimum_should_match (wand.py twin) — a
    doc lives in one shard and its matched-term coverage is decided
    inside that shard's scorer group under BOTH gather topologies, so
    the coverage floor is exact federation-wide.

    ``demote_terms`` / ``negative_boost``: the ES boosting query
    (wand.py twin) — a doc's positive and demote postings share its
    (shard, chunk), so the chunk-local demotion is exact under both
    gathers; demotion only lowers scores, so the merge and pruning
    arguments hold unchanged."""
    return _bm25_topk(
        shards, queries, cfg, k=k, exhaustive=exhaustive, round_dp=round_dp,
        gather=gather, fuzzy=fuzzy, conjunctive=conjunctive,
        doc_filters=doc_filters, doc_boosts=doc_boosts,
        query_terms=query_terms, term_weights=term_weights,
        exclude_terms=exclude_terms, offset=offset, search_after=search_after,
        min_should_match=min_should_match, demote_terms=demote_terms,
        negative_boost=negative_boost,
    )


def bm25_scores_federated(
    shards: Sequence[PackedIndex],
    queries: Sequence[str],
    cfg: TokenizerConfig,
    round_dp: int | None = None,
    conjunctive: bool = False,
    exclude_terms: dict | None = None,
    min_should_match: int | None = None,
    query_terms: Sequence[Sequence[str]] | None = None,
) -> DataFrame:
    """EVERY matched doc's BM25 score across ALL shards -> (query_id,
    doc_id, score) in the federation docID namespace — the score-all
    companion to :func:`bm25_topk_federated` (same dfs_query_then_fetch
    contract: idf federation-global, dl_norm shard-local; same
    OR/AND/must_not semantics; per-shard tombstone masks ride per-base
    decoders). No heap, no pruning: ONE (query_id, global-chunk)
    exchange, each scorer task bounded by chunk_docs and owned by one
    shard (federation chunk ids are disjoint per shard, so the group's
    doc_base is constant). Feeds group-aware consumers — federated
    field collapse (query/collapse.py)."""
    return _bm25_scores(
        shards, queries, cfg, round_dp=round_dp, conjunctive=conjunctive,
        exclude_terms=exclude_terms, min_should_match=min_should_match,
        query_terms=query_terms,
    )


@dataclass
class _Bm25Plan:
    """A prepared BM25 request: the matched chunk rows fanned out to
    their query ids, plus the per-query maps the scorers read."""

    matched: DataFrame
    idf_map: dict
    require_all: dict | None
    min_match: dict | None
    exclude_terms: dict | None
    demote_terms: dict | None
    demote_keep: dict | None
    decoders: dict | None


def _bm25_plan(
    shards: Sequence[PackedIndex],
    queries: Sequence[str],
    cfg: TokenizerConfig,
    query_terms=None,
    fuzzy: bool = False,
    conjunctive: bool = False,
    exclude_terms: dict | None = None,
    min_should_match=None,
    demote_terms: dict | None = None,
    idf_override: dict | None = None,
    doc_filters=None,
    doc_boosts=None,
) -> _Bm25Plan | None:
    """Request preparation shared by the top-k and score-all BM25 plans;
    None when no query can match anything.

    Plan shape (join-free): idf for the bounded query-term set is
    collected once and shipped in the scorer closure; each shard's index
    is scanned with a pushed-down ``In(term, …)`` (the term-sorted
    layout prunes row groups by min/max stats — the reference's
    sorted-file binary search, index.py:93-131, done by the scan), the
    scans UNION at plan level, and a literal term -> query_ids map
    projection fans the chunk rows out. The caller's groupBy into its
    scorer is then the only exchange."""
    if min_should_match is not None:
        if conjunctive:
            raise ValueError(
                "min_should_match and conjunctive are mutually exclusive "
                "(conjunctive IS min_should_match = the term count)"
            )
        mm_vals = (min_should_match.values()
                   if isinstance(min_should_match, dict)
                   else [min_should_match])
        if any(int(v) < 1 for v in mm_vals):
            raise ValueError(
                f"min_should_match must be >= 1, got {min_should_match}"
            )
    for name, frames in (("doc_filters", doc_filters), ("doc_boosts", doc_boosts)):
        if frames is not None and len(frames) != len(shards):
            raise ValueError(
                f"{name} has {len(frames)} frames for {len(shards)} shards "
                "— build one per shard"
            )
    # unique terms per query: multiplicity ignored (bm25.py:44-53 quirk);
    # ``query_terms`` is the pre-tokenized PRF/MLT/dis_max seam
    term_lists = (query_terms if query_terms is not None
                  else [tokenize_text(q, cfg) for q in queries])
    rows = [(qid, t) for qid, ts in enumerate(term_lists)
            for t in dict.fromkeys(ts)]
    if not rows:
        return None
    if idf_override is not None:
        # caller-supplied statistics (the cross_fields blended-idf seam,
        # query/multimatch.py): terms absent from the map score nothing
        idf_map = {t: float(v) for t, v in idf_override.items()}
    else:
        idf_map = _global_idf(shards, sorted({t for _, t in rows}))

    # the idf collect doubles as the vocabulary probe: correct ONLY the
    # missing terms (a fully in-vocab batch pays no correction job at all
    # — exact hits map to themselves by the exact-first ranking anyway)
    oov = sorted({t for _, t in rows if t not in idf_map})
    if fuzzy and oov:
        from .fuzzy import correct_terms

        corr = correct_terms(_global_dictionary(shards), oov)
        if corr:
            # re-dedupe per query: two typos may correct to the same term,
            # and a duplicate (qid, term) would double-score via the fan-out
            rows = list(dict.fromkeys((qid, corr.get(t, t)) for qid, t in rows))
            idf_map.update(
                _global_idf(shards, sorted(set(corr.values()) - set(idf_map))))

    require_all = None
    if conjunctive:
        # per-query unique-term requirement; a query with a term absent
        # from every shard matches nothing -> drop its rows (and so its map
        # entries). A doc lives in one shard and one chunk, so the
        # scorer's per-group coverage count is the global one.
        n_req = Counter(qid for qid, _ in rows)
        dead = {qid for qid, t in rows if t not in idf_map}
        rows = [(qid, t) for qid, t in rows if qid not in dead]
        if not rows:
            return None
        require_all = {q: n for q, n in n_req.items() if q not in dead}
    live = {qid for qid, _ in rows}

    min_match = None
    if min_should_match is not None:
        if isinstance(min_should_match, dict):
            min_match = {q: int(min_should_match[q]) for q in live
                         if q in min_should_match}
        else:
            min_match = {q: int(min_should_match) for q in live}

    def side_terms(by_q):
        """Negated or demote terms of the live queries, and their fan-out
        rows; absent-from-index terms exclude or demote nothing, so their
        idf probe doubles as a presence probe."""
        side = {int(q): set(ts) for q, ts in (by_q or {}).items()
                if ts and int(q) in live}
        if not side:
            return None, []
        idf_map.update(_global_idf(
            shards, sorted({t for ts in side.values() for t in ts} - set(idf_map))))
        return side, [(q, t) for q, ts in sorted(side.items())
                      for t in sorted(ts) if t in idf_map]

    ex_map, ex_rows = side_terms(exclude_terms)
    dem_map, dem_rows = side_terms(demote_terms)
    dem_keep = None
    if dem_map:
        # demote terms that are ALSO positive keep their rows in the
        # scoring frame: one row, both roles (the ES boosting semantics)
        pos_by_q: dict[int, set] = {}
        for qid, t in rows:
            pos_by_q.setdefault(qid, set()).add(t)
        dem_keep = {q: ts & pos_by_q.get(q, set()) for q, ts in dem_map.items()}

    qids_by_term: dict[str, list[int]] = {}
    for qid, t in rows + ex_rows + dem_rows:
        # negated and demote rows ride the same fan-out; a term both
        # positive and negated/demoted for one query keeps ONE row, which
        # the scorer's term-set split routes to each of its roles
        qs = qids_by_term.setdefault(t, [])
        if qid not in qs:
            qs.append(qid)
    map_entries = [
        x
        for t, qs in qids_by_term.items()
        if t in idf_map  # terms absent from every shard match nothing (OR)
        for x in (F.lit(t), F.array(*[F.lit(q) for q in qs]))
    ]
    if not map_entries:
        return None

    all_terms = sorted(qids_by_term)
    chunk_docs = int(shards[0].manifest["chunk_docs"])
    bases = _doc_bases(shards)
    pruned = reduce(DataFrame.unionByName, [
        s.index.filter(F.col("term").isin(all_terms)).select(
            "term",
            (F.col("chunk") + F.lit(base // chunk_docs)).alias("chunk"),
            "max_tfsat",
            "postings",
            F.lit(base).cast("long").alias("doc_base"),
        )
        for s, base in zip(shards, bases)
    ])
    matched = pruned.withColumn(
        "query_id", F.explode(F.create_map(*map_entries)[F.col("term")])
    )
    if doc_filters is not None:
        allowed = reduce(DataFrame.unionByName, [
            _allowed_by_chunk(shards[0], f.select(_shift(base)))
            for f, base in zip(doc_filters, bases)
        ])
        # inner join: chunks whose allowed-set is empty vanish before decode
        matched = matched.join(allowed, "chunk")
    if doc_boosts is not None:
        boosts = reduce(DataFrame.unionByName, [
            _boost_by_chunk(shards[0], f.select(_shift(base), "boost"))
            for f, base in zip(doc_boosts, bases)
        ])
        # LEFT join: chunks without boosted docs keep default 1.0 boosts
        matched = matched.join(boosts, "chunk", "left")

    # tombstones mask at decode (indexing/deletes.py) through per-base
    # decode hooks; chunk upper bounds stay valid over any doc subset
    decoders = {
        base: s.delete_mask().wrap_decoders()[0]
        for s, base in zip(shards, bases)
        if s.delete_mask() is not None
    }
    return _Bm25Plan(matched, idf_map, require_all, min_match, ex_map,
                     dem_map, dem_keep, decoders or None)


def _bm25_topk(
    shards: Sequence[PackedIndex],
    queries: Sequence[str],
    cfg: TokenizerConfig,
    k: int = 10,
    params: Bm25Params | None = None,
    exhaustive: bool = False,
    round_dp: int | None = None,
    gather: str = "auto",
    fuzzy: bool = False,
    conjunctive: bool = False,
    doc_filters=None,
    doc_boosts=None,
    query_terms=None,
    term_weights: dict | None = None,
    exclude_terms: dict | None = None,
    offset: int = 0,
    search_after: dict | None = None,
    min_should_match=None,
    demote_terms: dict | None = None,
    negative_boost: float = 0.5,
) -> DataFrame:
    """The one distributed BM25 top-k plan: :func:`bm25_topk_federated`
    over N shards and ``bm25_topk_packed_batch`` over one."""
    if offset < 0:
        raise ValueError(f"offset must be >= 0, got {offset}")
    if search_after is not None and offset:
        raise ValueError(
            "offset and search_after are mutually exclusive (the cursor "
            "IS the page position — ES rejects from + search_after too)"
        )
    if demote_terms is not None:
        if not 0.0 <= float(negative_boost) < 1.0:
            raise ValueError(
                f"negative_boost must be in [0, 1), got {negative_boost} "
                "(1.0 is a no-op; >1 would promote and break pruning)"
            )
        if exclude_terms:
            for qid, ts in demote_terms.items():
                both = set(ts or ()) & set(exclude_terms.get(qid, ()) or ())
                if both:
                    raise ValueError(
                        f"terms {sorted(both)} are both demoted and "
                        f"excluded for query {qid} — pick one (exclusion "
                        "removes, demotion sinks)"
                    )
    if fuzzy and term_weights:
        raise ValueError(
            "fuzzy OOV rewriting would orphan term_weights keys — "
            "correct the terms first, then pass weights on the final terms"
        )
    if gather == "auto":
        gather = "single" if len(shards) <= AUTO_GATHER_SINGLE_MAX else "two_phase"
    if gather not in ("two_phase", "single"):
        raise ValueError(
            f"gather must be 'auto', 'two_phase' or 'single', got {gather!r}"
        )
    _check_compat(shards)
    built = shards[0].params
    params = params or built
    if (float(params.k), float(params.b)) != (float(built.k), float(built.b)) and not exhaustive:
        raise ValueError(
            f"query params k={params.k} b={params.b} differ from build-time "
            f"k={built.k} b={built.b}: stored block-max bounds are invalid for "
            "them — pass exhaustive=True (no pruning) or rebuild the index"
        )
    plan = _bm25_plan(
        shards, queries, cfg, query_terms=query_terms, fuzzy=fuzzy,
        conjunctive=conjunctive, exclude_terms=exclude_terms,
        min_should_match=min_should_match, demote_terms=demote_terms,
        doc_filters=doc_filters, doc_boosts=doc_boosts,
    )
    if plan is None:
        return shards[0].spark.createDataFrame([], _TOPK_SCHEMA)
    sa_map = None
    if search_after is not None:
        sa_map = {int(q): (float(s), int(d))
                  for q, (s, d) in search_after.items()}
    n_docs_total = sum(int(s.manifest["n_docs"]) for s in shards)
    k_top = (k + offset) if not exhaustive else max(k + offset, n_docs_total)
    scorer = _wand_scorer(
        k_top,
        params,
        round_dp,
        plan.idf_map,
        decoders=plan.decoders,
        qweights=term_weights,
        require_all=plan.require_all,
        min_match=plan.min_match,
        exclude_terms=plan.exclude_terms,
        search_after=sa_map,
        demote_terms=plan.demote_terms,
        demote_keep=plan.demote_keep,
        demote_factor=float(negative_boost),
    )
    if gather == "single":
        out = plan.matched.groupBy("query_id").applyInPandas(
            scorer, schema=_TOPK_SCHEMA)
    else:
        # two-phase: shard-local top-k in parallel (a (query_id, doc_base)
        # group holds exactly one shard's chunks, and decoded ids are
        # already federation-global), then a per-query merge of the
        # <= k_top-per-shard candidates (bounded input: k x |shards|)
        shard_topk = plan.matched.groupBy("query_id", "doc_base").applyInPandas(
            scorer, schema=_TOPK_SCHEMA)
        out = _merge_shard_topk(shard_topk, k_top if exhaustive else k + offset)
    if exhaustive:
        out = out.filter(F.col("rank") <= k + offset)
    if offset:
        # page [offset, offset+k): ranks stay ABSOLUTE (ES from/size)
        out = out.filter(F.col("rank") > offset)
    return out


def _bm25_scores(
    shards: Sequence[PackedIndex],
    queries: Sequence[str],
    cfg: TokenizerConfig,
    round_dp: int | None = None,
    conjunctive: bool = False,
    exclude_terms: dict | None = None,
    query_terms=None,
    min_should_match=None,
    idf_override: dict | None = None,
) -> DataFrame:
    """The one distributed BM25 score-all plan: :func:`bm25_scores_federated`
    over N shards and ``bm25_scores_packed_batch`` over one."""
    _check_compat(shards)
    plan = _bm25_plan(
        shards, queries, cfg, query_terms=query_terms,
        conjunctive=conjunctive, exclude_terms=exclude_terms,
        min_should_match=min_should_match, idf_override=idf_override,
    )
    if plan is None:
        return shards[0].spark.createDataFrame([], _SCORES_SCHEMA)
    scorer = _flat_scorer(shards[0].params, round_dp, plan.idf_map,
                          require_all=plan.require_all,
                          min_match=plan.min_match,
                          exclude_terms=plan.exclude_terms,
                          decoders=plan.decoders)
    return plan.matched.groupBy("query_id", "chunk").applyInPandas(
        scorer, schema=_SCORES_SCHEMA
    )


def _merge_shard_topk(shard_topk: DataFrame, keep: int) -> DataFrame:
    """Gather phase shared by every federated ranker: per-query merge of
    the k-per-shard candidate rows under the scorers' own tie order
    (score desc, federation doc_id asc) — exact because docs are disjoint
    across shards, so any doc outside its shard's top-``keep`` is
    dominated by ``keep`` same-shard docs. Input is bounded:
    ``keep`` x |shards| rows per query."""

    def merge_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["score", "doc_id"], ascending=[False, True]
        ).head(keep)
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].to_numpy(),
                "doc_id": pdf["doc_id"].to_numpy(),
                "score": pdf["score"].to_numpy(),
                "rank": np.arange(1, len(pdf) + 1, dtype=np.int32),
            }
        )

    return shard_topk.groupBy("query_id").applyInPandas(
        merge_topk, schema=_TOPK_SCHEMA
    )


def tfidf_topk_federated(
    shards: Sequence[PackedIndex],
    queries: Sequence[str],
    cfg: TokenizerConfig,
    k: int = 10,
    schema: str = "lnc.ltc",
    round_dp: int | None = None,
) -> DataFrame:
    """Federated TF-IDF top-k -> (query_id, doc_id, score, rank) in the
    federation-global docID namespace.

    STRONGER contract than federated BM25: TF-IDF doc-side weights depend
    only on the doc itself (tf + its own cosine norm — no avgdl), and the
    query-side ltc is pinned to the federation-global idf
    (:func:`_global_idf`, the build's own rounding), so federated TF-IDF
    is bit-identical to serving a MERGED index on ANY corpus — not just
    uniform-dl ones (gated in tests/test_federated.py on the skewed
    fixture corpus).

    Topology is always two-phase: each shard runs the existing packed
    TF-IDF pipeline (its own sidecar join, its own tombstone mask) with
    ``idf_override`` pinning the global query vector, cut to its local
    top-k (exact — docs are disjoint), and the k x |shards| candidates
    merge per query in :func:`_merge_shard_topk`."""
    from .proximity import tfidf_topk_packed_batch

    _check_compat(shards, keys=_TFIDF_COMPAT_KEYS, payload_freq=False)
    rows = []
    for qid, q in enumerate(queries):
        for t in dict.fromkeys(tokenize_text(q, cfg)):
            rows.append((qid, t))
    spark = shards[0].spark
    if not rows:
        return spark.createDataFrame([], _TOPK_SCHEMA)
    idf_map = _global_idf(shards, sorted({t for _, t in rows}))

    cand = _shifted_union(
        shards,
        lambda s: tfidf_topk_packed_batch(
            s, queries, cfg, k=k, schema=schema, round_dp=round_dp,
            idf_override=idf_map,
        ),
        ["score", "rank"],
    )
    return _merge_shard_topk(cand, k)


def proximity_topk_federated(
    shards: Sequence[PackedIndex],
    queries: Sequence[str],
    cfg: TokenizerConfig,
    k: int = 10,
    mode: str = "bm25",
    schema: str = "lnc.ltc",
    round_dp: int | None = None,
    rerank_n: int | None = None,
) -> DataFrame:
    """Federated proximity-boost serving (BM25_OPTIMIZED / TF_IDF_OPTIMIZED)
    over POSITIONAL shard indexes -> federation-global (query_id, doc_id,
    score, rank) — the last reference ranker family to federate.

    Statistics contract per mode:

    - ``mode="bm25"``: the base score is federated BM25's contract (global
      idf, shard-local dl_norm), and the boost normalization's corpus
      (dl_min, dl_max) pins to the federation-global envelope — min/max of
      the shards' stored manifest bounds, exactly the bounds a single
      index over the shards' STORED dl_norm values would have. Merged-
      index-exact on uniform-dl corpora (same regime as plain BM25).
    - ``mode="tfidf"``: base is federated TF-IDF (global idf, corpus-stat-
      free doc weights) and the positional boost is a flat ``0.1 * boost``
      with NO corpus statistic at all — merged-index-exact on ANY corpus,
      like :func:`tfidf_topk_federated`.

    ``rerank_n`` applies PER SHARD (each shard boosts its base-score top-N
    before its local cut) — a superset of a global top-N cut, so accuracy
    only improves vs single-index rerank semantics."""
    from .proximity import proximity_topk_packed_batch

    if mode == "bm25":
        _check_compat(shards)
    elif mode == "tfidf":
        _check_compat(shards, keys=_TFIDF_COMPAT_KEYS, payload_freq=False)
    else:
        raise ValueError(f"mode must be 'bm25' or 'tfidf', got {mode!r}")
    rows = []
    for qid, q in enumerate(queries):
        for t in dict.fromkeys(tokenize_text(q, cfg)):
            rows.append((qid, t))
    spark = shards[0].spark
    if not rows:
        return spark.createDataFrame([], _TOPK_SCHEMA)
    idf_map = _global_idf(shards, sorted({t for _, t in rows}))
    dl_bounds = None
    if mode == "bm25":
        dl_bounds = (
            min(float(s.manifest["dl_norm_min"]) for s in shards),
            max(float(s.manifest["dl_norm_max"]) for s in shards),
        )

    cand = _shifted_union(
        shards,
        lambda s: proximity_topk_packed_batch(
            s, queries, cfg, k=k, mode=mode, schema=schema,
            round_dp=round_dp, rerank_n=rerank_n,
            idf_override=idf_map, dl_bounds=dl_bounds,
        ),
        ["score", "rank"],
    )
    return _merge_shard_topk(cand, k)


def boolean_search_federated(
    shards: Sequence[PackedIndex],
    queries: Sequence[str],
    cfg: TokenizerConfig,
    op: str = "and",
    exclude_terms: dict | None = None,
    query_terms: "Sequence[Sequence[str]] | None" = None,
) -> DataFrame:
    """Federated boolean retrieval -> (query_id, doc_id[, n_terms for OR])
    in the federation-global docID namespace. ``query_terms`` is the
    pre-analyzed bypass boolean_search_packed has (expansion callers).

    The simplest scatter-gather of all: a doc's membership (and its OR
    n_terms count) is decided entirely inside its own shard, and shard
    corpora are disjoint, so per-shard :func:`boolean_search_packed`
    results shifted by the base offset UNION (plan-level, no merge
    exchange at all) into exactly what a merged index would return.
    Payload may differ per shard ('boolean' gap-only next to 'freq' —
    the per-shard path decodes each correctly); tokenizer / chunk grid /
    order_cols parity is still required (one namespace, one query
    token space).

    ``exclude_terms``: {query_id: normalized negated terms} — exclusion
    is per-doc and shard corpora are disjoint, so passing it through to
    every per-shard call is exact (query/negation.py semantics)."""
    from .wand import boolean_search_packed

    _check_compat(shards, keys=_BOOL_COMPAT_KEYS, payload_freq=False)
    return _shifted_union(
        shards,
        lambda s: boolean_search_packed(s, queries, cfg, op=op,
                                        exclude_terms=exclude_terms,
                                        query_terms=query_terms),
        ["n_terms"] if op == "or" else [],
    )


def _expansion_weights_federated(
    shards: Sequence[PackedIndex], fb: DataFrame, exclude: DataFrame
) -> DataFrame:
    """Federated twin of feedback._expansion_weights: ``fb`` carries
    (query_id, doc_id) with FEDERATION-GLOBAL ids — each shard fetches its
    own members' STORED tokens (doc identity is shard-local, so the
    per-doc tf never crosses shards), the per-(query, term) Rocchio mass
    sums across shards, and the idf factor is the federation-global
    stats. Bit-identical to the single-index weights over a merged corpus
    on ANY corpus (tf is doc-local; idf is the same global expression)."""
    bases = _doc_bases(shards)
    parts = []
    for s, base in zip(shards, bases):
        chunk_docs = int(s.manifest["chunk_docs"])
        hw = int(s.manifest["n_docs"])
        end = base + ((hw + chunk_docs - 1) // chunk_docs) * chunk_docs
        local_fb = fb.filter(
            (F.col("doc_id") >= base) & (F.col("doc_id") < end)
        ).select(
            "query_id",
            (F.col("doc_id") - F.lit(base)).cast("long").alias("doc_id"),
        )
        toks = s.doc_tokens().join(F.broadcast(local_fb), "doc_id")
        parts.append(
            toks.select("query_id", "doc_id", F.explode("tokens").alias("term"))
            .groupBy("query_id", "doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
            .select(
                "query_id", "term",
                (F.lit(1.0) + F.log(F.col("tf").cast("double"))).alias("tf_w"),
            )
        )
    w = (
        reduce(DataFrame.unionByName, parts)
        .groupBy("query_id", "term")
        .agg(F.sum("tf_w").alias("tf_mass"))
        .join(_global_term_stats(shards), "term")
        .select(
            "query_id", "term",
            (F.col("tf_mass") * F.col("idf")).alias("weight"),
        )
    )
    return w.join(exclude, ["query_id", "term"], "left_anti")


def prf_bm25_topk_federated(
    shards: Sequence[PackedIndex],
    queries: Sequence[str],
    cfg: TokenizerConfig,
    k: int = 10,
    r: int = 5,
    m: int = 5,
    beta: float = 0.5,
    round_dp: int | None = None,
    exhaustive: bool = False,
) -> DataFrame:
    """Federated Rocchio PRF (query/feedback.py twin): feedback ranking
    via federated BM25 (rounded-rank top-``r``), expansion weights from
    the owning shards' stored tokens x federation-global idf, then the
    weighted-term federated retrieval. Same two-retrieval-pass minimum as
    the single-index path; everything between is bounded by
    r·|queries|·avgdl rows."""
    from .feedback import _top_m_terms

    base = bm25_topk_federated(shards, queries, cfg, k=r, round_dp=6)
    spark = shards[0].spark
    orig = spark.createDataFrame(
        [(qid, t) for qid, q in enumerate(queries)
         for t in dict.fromkeys(tokenize_text(q, cfg))] or [(0, "")],
        "query_id int, term string",
    )
    exp = _top_m_terms(
        _expansion_weights_federated(shards, base, orig), m
    ).collect()
    orig_terms = [list(dict.fromkeys(tokenize_text(q, cfg))) for q in queries]
    terms = [list(t) for t in orig_terms]
    weights: dict[int, dict[str, float]] = {}
    for row in exp:
        qid = int(row["query_id"])
        terms[qid].append(row["term"])
        weights.setdefault(qid, {})[row["term"]] = float(beta)
    return bm25_topk_federated(
        shards, queries, cfg, k=k, round_dp=round_dp, exhaustive=exhaustive,
        query_terms=terms, term_weights=weights or None,
    )


def more_like_this_federated(
    shards: Sequence[PackedIndex],
    doc_ids: Sequence[int],
    k: int = 10,
    m: int = 10,
    round_dp: int | None = None,
    exhaustive: bool = False,
) -> DataFrame:
    """Federated more-like-this (query/feedback.py twin): ``doc_ids`` are
    FEDERATION-GLOBAL ids; each source doc's top-``m`` terms by
    (1 + ln tf)·global-idf become an unweighted federated BM25 query, the
    source excluded and ranks renumbered."""
    from pyspark.sql import Window as _W

    from .feedback import _top_m_terms

    spark = shards[0].spark
    if not doc_ids:
        return spark.createDataFrame(
            [], "query_id int, doc_id long, score double, rank int"
        )
    fb = spark.createDataFrame(
        [(i, int(d)) for i, d in enumerate(doc_ids)],
        "query_id int, doc_id long",
    )
    empty = spark.createDataFrame([], "query_id int, term string")
    top = _top_m_terms(_expansion_weights_federated(shards, fb, empty), m).collect()
    terms: list[list[str]] = [[] for _ in doc_ids]
    for row in top:
        terms[int(row["query_id"])].append(row["term"])
    out = bm25_topk_federated(
        shards, ["" for _ in doc_ids], TokenizerConfig(), k=k + 1,
        round_dp=round_dp, exhaustive=exhaustive, query_terms=terms,
    )
    src = F.create_map(
        *[x for i, d in enumerate(doc_ids) for x in (F.lit(i), F.lit(int(d)))]
    )
    kept = out.filter(F.col("doc_id") != src[F.col("query_id")])
    win = _W.partitionBy("query_id").orderBy(F.col("rank").asc())
    return (
        kept.withColumn("rank", F.row_number().over(win).cast("int"))
        .filter(F.col("rank") <= k)
    )


def _doc_local_cfg(shards: Sequence[PackedIndex], cfg):
    """Compat check + tokenizer default for the doc-local rankers."""
    _check_compat(shards, keys=_BOOL_COMPAT_KEYS, payload_freq=False)
    return cfg or TokenizerConfig.from_manifest(
        shards[0].manifest.get("tokenizer", {})
    )


def _doc_local_topk(shards, local_fn, cols, order, k) -> DataFrame:
    """Shared merge for the doc-local rankers (phrase, spans, intervals):
    positions are doc-local and every ranking metric is an integer
    computed inside one doc, so per-shard results are exact on ANY corpus,
    and a per-shard top-k cut is loss-free under (``order``, doc_id asc) —
    the base shift is monotone, so shard-local order is the global order
    restricted to the shard (the two-phase BM25 dominance argument). One
    window over the k x |shards| candidates re-ranks."""
    from pyspark.sql import Window

    cand = _shifted_union(shards, local_fn, cols)
    w = Window.partitionBy("query_id").orderBy(order, F.asc("doc_id"))
    ranked = cand.withColumn("rank", F.row_number().over(w).cast("long"))
    if k is not None:
        ranked = ranked.filter(F.col("rank") <= k)
    return ranked


def phrase_topk_federated(
    shards: Sequence[PackedIndex],
    phrases: Sequence[str],
    cfg: TokenizerConfig | None = None,
    k: int | None = 10,
    slop: int = 0,
) -> DataFrame:
    """Federated exact-phrase retrieval -> federation-global (query_id,
    doc_id, n_occurrences, first_pos, rank). Phrase matching is purely
    doc-local (positions within one doc, integer outputs, no corpus
    statistics), so per-shard :func:`phrase_topk_packed_batch` results
    merge exactly under (n_occurrences desc, doc_id asc)."""
    from .phrase import phrase_topk_packed_batch

    cfg = _doc_local_cfg(shards, cfg)
    return _doc_local_topk(
        shards, lambda s: phrase_topk_packed_batch(s, phrases, cfg, k=k, slop=slop),
        ["n_occurrences", "first_pos"], F.desc("n_occurrences"), k)


def minspan_topk_federated(
    shards: Sequence[PackedIndex],
    queries: Sequence[str],
    cfg: TokenizerConfig | None = None,
    k: int | None = 10,
) -> DataFrame:
    """Federated minimal-window span retrieval -> federation-global
    (query_id, doc_id, span_len, lo, hi, rank). Like phrase search the
    span is doc-local and integer-exact, so federation is exact on ANY
    corpus; per-shard cuts are safe under (span_len asc, doc_id asc)."""
    from .spans import minspan_topk_packed_batch

    cfg = _doc_local_cfg(shards, cfg)
    return _doc_local_topk(
        shards, lambda s: minspan_topk_packed_batch(s, queries, cfg, k=k),
        ["span_len", "lo", "hi"], F.asc("span_len"), k)


def span_first_topk_federated(
    shards: Sequence[PackedIndex],
    queries: Sequence,
    cfg: TokenizerConfig | None = None,
    k: int | None = 10,
) -> DataFrame:
    """Federated span_first -> federation-global (query_id, doc_id,
    n_within, first_pos, rank). Positions are doc-local and the ranking
    integer-exact, so federation is exact on ANY corpus (the
    phrase/minspan argument); per-shard cuts are safe under
    (first_pos asc, doc_id asc)."""
    from .spanqueries import span_first_topk_packed_batch

    cfg = _doc_local_cfg(shards, cfg)
    return _doc_local_topk(
        shards, lambda s: span_first_topk_packed_batch(s, queries, cfg, k=k),
        ["n_within", "first_pos"], F.asc("first_pos"), k)


def span_not_topk_federated(
    shards: Sequence[PackedIndex],
    queries: Sequence,
    cfg: TokenizerConfig | None = None,
    pre: int = 0,
    post: int = 0,
    k: int | None = 10,
) -> DataFrame:
    """Federated span_not -> federation-global (query_id, doc_id,
    n_clear, first_clear, rank); per-shard cuts safe under
    (n_clear desc, doc_id asc) — same doc-local argument."""
    from .spanqueries import span_not_topk_packed_batch

    cfg = _doc_local_cfg(shards, cfg)
    return _doc_local_topk(
        shards,
        lambda s: span_not_topk_packed_batch(
            s, queries, cfg, pre=pre, post=post, k=k),
        ["n_clear", "first_clear"], F.desc("n_clear"), k)


def span_within_topk_federated(
    shards: Sequence[PackedIndex],
    queries: Sequence,
    cfg: TokenizerConfig | None = None,
    k: int | None = 10,
) -> DataFrame:
    """Federated span_within -> federation-global (query_id, doc_id,
    n_within, first_within, rank) — the span-family exact-federation
    argument (doc-local positions, integer ranking)."""
    from .spanqueries import span_within_topk_packed_batch

    cfg = _doc_local_cfg(shards, cfg)
    return _doc_local_topk(
        shards, lambda s: span_within_topk_packed_batch(s, queries, cfg, k=k),
        ["n_within", "first_within"], F.desc("n_within"), k)


def span_containing_topk_federated(
    shards: Sequence[PackedIndex],
    queries: Sequence,
    cfg: TokenizerConfig | None = None,
    k: int | None = 10,
) -> DataFrame:
    """Federated span_containing -> federation-global (query_id,
    doc_id, n_containing, first_pos, rank)."""
    from .spanqueries import span_containing_topk_packed_batch

    cfg = _doc_local_cfg(shards, cfg)
    return _doc_local_topk(
        shards, lambda s: span_containing_topk_packed_batch(s, queries, cfg, k=k),
        ["n_containing", "first_pos"], F.desc("n_containing"), k)


def resolve_docs_federated(
    shards: Sequence[PackedIndex], topk: DataFrame
) -> DataFrame:
    """Federation-global docID -> external id resolve: each shard's docmap
    shifts by its base offset (same arithmetic the scorer applied), unions
    (plan-level, no exchange), and joins the top-k — the multi-shard twin
    of :func:`~searchengine_spark.query.wand.resolve_docs`."""
    ext_cols = [c for c in shards[0].manifest["order_cols"] if c != "doc_id"]
    docmap = reduce(DataFrame.unionByName, [
        s.docmap.select(_shift(base), *ext_cols)
        for s, base in zip(shards, _doc_bases(shards))
    ])
    return topk.join(docmap, "doc_id").select(
        "query_id", "doc_id", *ext_cols, "score", "rank"
    )


def phrase_prefix_topk_federated(
    shards: Sequence[PackedIndex],
    phrases: Sequence[str],
    cfg: TokenizerConfig | None = None,
    k: int | None = 10,
    max_expansions: int = 50,
    slop: int = 0,
) -> DataFrame:
    """Federated match_phrase_prefix: the prefix expands ONCE against the
    federation-global dictionary (df summed over the disjoint shard
    corpora — exactly the merged index's selection, so per-shard
    expansions can never diverge), then every shard runs the identical
    multi-term-slot phrase and the candidates merge like
    :func:`phrase_topk_federated` (doc-local integer semantics, safe
    per-shard top-k cut)."""
    from .phrase import _packed_slots_topk, _prefix_patterns, phrase_prefix_slots
    from .wildcard import expand_patterns

    cfg = _doc_local_cfg(shards, cfg)
    exp = expand_patterns(
        _global_dictionary(shards), _prefix_patterns(phrases),
        max_expansions=max_expansions,
    )
    slots = phrase_prefix_slots(phrases, cfg, exp)
    return _doc_local_topk(
        shards, lambda s: _packed_slots_topk(s, slots, k, slop=slop),
        ["n_occurrences", "first_pos"], F.desc("n_occurrences"), k)


def intervals_topk_federated(
    shards: Sequence[PackedIndex],
    queries: Sequence,
    cfg: TokenizerConfig | None = None,
    ordered: bool = False,
    max_gaps: int = 0,
    k: int | None = 10,
) -> DataFrame:
    """Federated ES intervals -> federation-global (query_id, doc_id,
    n_intervals, rank). Positions are doc-local and the ranking is the
    integer minimal-interval count, so scatter-gather is EXACT on any
    corpus (the span-family argument: a doc lives in exactly one
    shard); per-shard k-cuts are safe under (count desc, doc_id asc)."""
    from .intervals import intervals_topk_packed_batch

    cfg = _doc_local_cfg(shards, cfg)
    return _doc_local_topk(
        shards,
        lambda s: intervals_topk_packed_batch(
            s, queries, cfg, ordered=ordered, max_gaps=max_gaps, k=k),
        ["n_intervals"], F.desc("n_intervals"), k)


def constant_score_topk_federated(
    shards: Sequence[PackedIndex],
    queries: Sequence[str],
    cfg: TokenizerConfig | None = None,
    boost: float = 1.0,
    op: str = "and",
    k: int = 10,
) -> DataFrame:
    """Federated ES constant_score -> (query_id, doc_id, score, rank)
    in the federation docID namespace: membership is shard-local and
    exact (the boolean argument), ranks are doc_id ASC — which IS the
    federation tie order (shard asc then shard-local order), so the
    page equals the merged index's page. Still statistics-free."""
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    cfg = cfg or TokenizerConfig.from_manifest(
        shards[0].manifest.get("tokenizer", {}))
    matched = boolean_search_federated(shards, list(queries), cfg, op=op)
    w = Window.partitionBy("query_id").orderBy(F.asc("doc_id"))
    return (
        matched.select("query_id", "doc_id")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .withColumn("score", F.lit(float(boost)))
        .select("query_id", "doc_id", "score", "rank")
    )


def match_bool_prefix_topk_federated(
    shards: Sequence[PackedIndex],
    queries: Sequence[str],
    cfg: TokenizerConfig | None = None,
    k: int = 10,
    max_expansions: int = 50,
) -> DataFrame:
    """Federated ES match_bool_prefix -> (query_id, doc_id, score,
    rank). The statistics contract stacks two existing federation
    rules: full terms score dfs_query_then_fetch (idf federation-
    global, dl_norm shard-local — bm25_scores_federated), and the
    prefix expands against the FEDERATION-GLOBAL dictionary with the
    global df-desc cap (the phrase_prefix / suggest rule: per-shard
    expansion caps would be WRONG — a term just under every local cap
    can win on summed df). The constant prefix clause is membership
    (shard-local exact); ties rank in the federation docID namespace."""
    from pyspark.sql import Window

    from .boolprefix import split_bool_prefix

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    _check_compat(shards)
    cfg = cfg or TokenizerConfig.from_manifest(
        shards[0].manifest.get("tokenizer", {}))
    split = [split_bool_prefix(q, cfg) for q in queries]
    prefixes = list(dict.fromkeys(p for _, p in split if p))
    exp_of: dict = {}
    if prefixes:
        gdict = _global_dictionary(shards)
        for p in prefixes:
            rows = (
                gdict.filter(F.col("term").startswith(p))
                .orderBy(F.desc("df"), F.asc("term"))
                .limit(max_expansions).collect()
            )
            exp_of[p] = [r["term"] for r in rows]
    term_lists = [full for full, _ in split]
    scores = bm25_scores_federated(
        shards, list(queries), cfg, round_dp=None, query_terms=term_lists)
    exp_lists = [exp_of.get(p, []) if p else [] for _, p in split]
    pref = boolean_search_federated(
        shards, list(queries), cfg, op="or", query_terms=exp_lists,
    ).select("query_id", "doc_id", F.lit(1.0).alias("pref"))
    combined = (
        scores.select("query_id", "doc_id", "score")
        .join(pref, ["query_id", "doc_id"], "full_outer")
        .select(
            "query_id", "doc_id",
            F.round(
                F.coalesce(F.col("score"), F.lit(0.0))
                + F.coalesce(F.col("pref"), F.lit(0.0)), 6).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id"))
    return (
        combined.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def has_child_topk_federated(
    shards: Sequence[PackedIndex],
    queries: Sequence,
    cfg: TokenizerConfig | None = None,
    score_mode: str = "max",
    min_children: int = 1,
    max_children: "int | None" = None,
    k: int = 10,
    round_dp: int = 6,
    parent_col: str = "conv_id",
    assume_coherent: bool = False,
) -> DataFrame:
    """Federated ES has_child -> (query_id, conv_id, score, n_matching,
    rank). With the conversation-coherent shard rule (indexing/shards.py:
    md5(conv_id) mod N — a conversation lives ENTIRELY in one shard),
    the parent combine is shard-local and exact. Scores follow the
    federation's dfs_query_then_fetch contract (per-turn dl_norm
    shard-local), like every federated BM25 surface.

    Shard emissions are BOUNDED, tie-safely: each shard emits its
    qualifying parents with per-shard ``rank() <= k`` ordered by score
    alone — top-k PLUS every row tied with the kth score. Any parent in
    the global top-k has < k parents strictly above it by score, hence
    per-shard rank() <= k: no global winner can be cut, and a shard
    ships at most k + (kth-score tie width) rows into the global
    (score desc, conv asc) rank window instead of its full qualifying
    set (which at scale is every conversation matching a common term).
    Both windows are rank-filters <= k, so they compile to
    WindowGroupLimit per-partition heaps.

    Coherence is VALIDATED, not assumed: each shard manifest must carry
    ``shard_coherent_by == parent_col`` (stamped by
    indexing/shards.build_shard_indexes). Federating arbitrary shard
    sets where a conversation spans shards would silently emit
    duplicate conv_id rows with partial per-shard scores; pass
    ``assume_coherent=True`` only when the caller guarantees the
    partitioning out-of-band (e.g. hand-split corpora)."""
    from pyspark.sql import Window

    from .parentchild import has_child_grouped

    _check_compat(shards)
    if not assume_coherent:
        for i, s in enumerate(shards):
            got = s.manifest.get("shard_coherent_by")
            if got != parent_col:
                raise ValueError(
                    f"shard #{i} ({s.path!r}) does not attest "
                    f"{parent_col!r}-coherent sharding (manifest "
                    f"shard_coherent_by={got!r}); a conversation spanning "
                    f"shards would emit duplicate parents with partial "
                    f"scores — build shards with indexing/shards.py "
                    f"(build_shard_indexes stamps the flag) or pass "
                    f"assume_coherent=True if coherence is guaranteed "
                    f"out-of-band")
    cfg = cfg or TokenizerConfig.from_manifest(
        shards[0].manifest.get("tokenizer", {}))
    wk = Window.partitionBy("query_id").orderBy(F.desc("score"))
    parts = [
        has_child_grouped(
            s, queries, cfg, score_mode=score_mode,
            min_children=min_children, max_children=max_children,
            round_dp=round_dp, parent_col=parent_col,
        )
        .withColumn("_r", F.rank().over(wk))
        .filter(F.col("_r") <= k)
        .drop("_r")
        for s in shards
    ]
    cand = reduce(DataFrame.unionByName, parts)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc(parent_col))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", parent_col, "score", "n_matching", "rank")
    )
