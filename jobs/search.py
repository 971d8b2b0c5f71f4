#!/usr/bin/env python3
"""spark-submit entrypoint: serve queries from a packed index.

Batch:

    spark-submit --py-files searchengine_spark.zip jobs/search.py \\
        --index <index path> --query "greatest rock album" [-n 10] \\
        [--ranker bm25|bm25_optimized|tfidf|tfidf_optimized|boolean_and|boolean_or|phrase|minspan] \\
        [--exhaustive] [--relevance queries.relevance.txt]

Interactive (reference src/searcher.py:73-84 REPL analog) — omit --query
(run via ``python jobs/search.py`` or a spark-submit with a TTY: some
spark-submit setups do not forward stdin):

    python jobs/search.py --index <path>
    Search (exit interactive search with 'q'): greatest rock album
    ... results + per-query timing + Efficiency stats ...

REPL extras: a single token ending in '*' prints dictionary completions
(suggest-as-you-type; wildcard OR-retrieval stays on the
prefix_search_packed API); '~<doc_id>' runs more-like-this on the local
tier.

Tokenizer config defaults to the one STORED IN THE INDEX MANIFEST; pass
flags only to deliberately override the build config. ``--relevance``
evaluates precision/recall/F1/NDCG + throughput against a reference
relevance file (reference src/efficiency.py semantics).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import sys
import time
from typing import Callable, NamedTuple

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RANKERS = (
    "bm25", "bm25_and", "bm25_optimized", "tfidf", "tfidf_optimized",
    "boolean_and", "boolean_or", "phrase", "phrase_prefix", "bool_prefix",
    "minspan",
)


def _parse_negations(queries, cfg, ranker, prf, parser):
    """Strip ``-term`` negations (query/negation.py) from a query batch
    and gate them to the rankers that honor must_not. Queries WITHOUT
    negations pass through untouched (phrase/minspan/etc. keep their
    exact strings)."""
    pos, excludes = parser(queries, cfg)
    if not excludes:
        return queries, None
    if ranker not in ("bm25", "bm25_and", "boolean_and", "boolean_or"):
        raise SystemExit("'-term' negation is wired to the bm25*/boolean "
                         "rankers (must_not, query/negation.py)")
    if prf:
        raise SystemExit("'-term' negation does not combine with --prf "
                         "(expansion would re-introduce excluded terms)")
    return pos, excludes


def _expand_pattern_batch(term_stats, batch, cfg, wildcard, regexp):
    """Shared --wildcard/--regexp expansion: (stripped batch, q_terms or
    None). Each syntax parses its own words off the RAW queries; both
    expansions merge into one query_terms list per query (duplicate-free
    through wildcard_query_terms). ``term_stats`` is the dictionary to
    expand against (single index's sidecar or the federation-global
    union). The same pattern TEXT under both syntaxes is ambiguous —
    refused."""
    if wildcard is None and regexp is None:
        return batch, None
    from searchengine_spark.query.wildcard import wildcard_query_terms

    per_w = [[] for _ in batch]
    per_r = [[] for _ in batch]
    exp = {}
    if regexp is not None:
        from searchengine_spark.query.regexp import (
            expand_regexps,
            parse_regexp_batch,
        )

        max_exp, allow_lead = regexp
        batch, per_r, runiq = parse_regexp_batch(batch, cfg)
        exp.update(expand_regexps(
            term_stats, runiq, max_expansions=max_exp,
            allow_leading_wildcard=allow_lead))
    if wildcard is not None:
        from searchengine_spark.query.wildcard import (
            expand_patterns,
            parse_wildcard_batch,
        )

        max_exp, allow_lead = wildcard
        batch, per_w, uniq = parse_wildcard_batch(batch, cfg)
        wexp = expand_patterns(
            term_stats, uniq, max_expansions=max_exp,
            allow_leading_wildcard=allow_lead)
        clash = set(wexp) & set(exp)
        if clash:
            raise SystemExit(
                f"pattern text {sorted(clash)} appears as BOTH a wildcard "
                "and a regexp — the two syntaxes expand differently; "
                "drop one")
        exp.update(wexp)
    q_terms = wildcard_query_terms(
        batch, cfg, exp, [w + r for w, r in zip(per_w, per_r)])
    return batch, q_terms


def _rescore_spec(args):
    """-> (subqueries, window, qw, rqw, mode) from the --rescore flags,
    or None."""
    if args.rescore is None:
        return None
    rqs = [p.strip() for p in args.rescore.split("|")]
    try:
        qw, rqw = (float(x) for x in args.rescore_weights.split(","))
    except ValueError:
        raise SystemExit(
            f"--rescore-weights wants QW,RQW floats, got "
            f"{args.rescore_weights!r}")
    if args.rescore_window < 1:
        raise SystemExit("--rescore-window must be >= 1")
    return (rqs, args.rescore_window, qw, rqw, args.rescore_mode)


def _topk_frame(spark, pidx, cfg, queries, ranker, n, exhaustive,
                schema="lnc.ltc", fuzzy=False, doc_filter=None, prf=None,
                doc_boost=None, synonyms=None, offset=0, wildcard=None,
                search_after=None, collapse=None, min_match=None,
                demote=None, negative_boost=0.5, dismax=None, slop=0,
                regexp=None, sort_spec=None, attrs_path=None,
                decay_spec=None, boost_mode="multiply", fvf_spec=None,
                random_seed=None, inner_hits=None, pins=None,
                constant_score=None, max_cost=None, rescore_spec=None):
    """-> the resolved results DataFrame (query_id, doc_id, *ext, score,
    rank) — NOT collected, so huge query batches can stream straight to a
    parquet sink (--queries-file/--output) instead of the driver."""
    from pyspark.sql import functions as F

    if rescore_spec is not None:
        # the --rescore branch returns before every other branch: refuse
        # (naming each flag) what it would otherwise silently drop
        dropped = [flag for flag, given in (
            (f"--ranker {ranker}", ranker != "bm25"), ("--prf", prf),
            ("--fuzzy", fuzzy), ("--wildcard", wildcard is not None),
            ("--regexp", regexp is not None),
            ("--synonyms", synonyms is not None),
            ("--filter", doc_filter is not None),
            ("--boost", doc_boost is not None), ("--offset", offset),
            ("--search-after", search_after is not None),
            ("--collapse", collapse is not None),
            ("--collapse-inner-hits", inner_hits is not None),
            ("--demote", demote is not None),
            ("--min-should-match", min_match is not None),
            ("--dismax", dismax is not None), ("--sort", sort_spec is not None),
            ("--decay", decay_spec is not None), ("--fvf", fvf_spec is not None),
            ("--pin", pins is not None),
            ("--random-score", random_seed is not None),
            ("--constant-score", constant_score is not None),
            ("--max-query-cost", max_cost is not None),
        ) if given]
        if dropped:
            raise SystemExit("--rescore combines only with plain bm25 "
                             f"retrieval, not {', '.join(dropped)}")
    if isinstance(min_match, str):
        # ES/Lucene minimum_should_match value grammar (query/msm.py):
        # one spec, per-query resolved floors
        from searchengine_spark.query.msm import msm_map

        min_match = msm_map(min_match, queries, cfg)
    if max_cost is not None:
        # ES circuit-breaker analog (query/cost.py): refuse the request
        # before decoding a single posting
        from searchengine_spark.query.cost import (
            CostBudgetExceeded,
            check_cost_budget,
        )

        try:
            check_cost_budget(pidx, queries, cfg, max_cost)
        except CostBudgetExceeded as e:
            raise SystemExit(str(e))

    from searchengine_spark.query.proximity import (
        proximity_topk_packed_batch,
        tfidf_topk_packed_batch,
    )
    from searchengine_spark.query.wand import (
        bm25_topk_packed_batch,
        boolean_search_packed,
        resolve_docs,
    )

    if fuzzy and ranker != "bm25":
        raise SystemExit("--fuzzy is wired to --ranker bm25 (OOV query-term "
                         "correction happens in the WAND batch entry point)")
    if doc_filter is not None and ranker not in ("bm25", "bm25_and",
                                                 "boolean_and", "boolean_or"):
        raise SystemExit("--filter is wired to the bm25/boolean rankers on "
                         "the distributed path")
    from searchengine_spark.query.negation import parse_negated_queries

    queries, excludes = _parse_negations(queries, cfg, ranker, prf,
                                         parse_negated_queries)
    if offset and ranker not in ("bm25", "bm25_and"):
        raise SystemExit("--offset is wired to the bm25* rankers")
    if offset and prf:
        raise SystemExit("--offset does not combine with --prf")
    if search_after is not None and (ranker not in ("bm25", "bm25_and")
                                     or prf):
        raise SystemExit("--search-after is wired to the bm25* rankers "
                         "(and does not combine with --prf)")
    if min_match is not None and (ranker != "bm25" or prf):
        raise SystemExit("--min-should-match is wired to --ranker bm25 "
                         "(bm25_and IS min-should-match = the term count; "
                         "does not combine with --prf)")
    if demote is not None and (ranker not in ("bm25", "bm25_and") or prf):
        raise SystemExit("--demote is wired to the bm25* rankers "
                         "(does not combine with --prf)")
    if rescore_spec is not None:
        from searchengine_spark.query.rescore import rescore_topk
        from searchengine_spark.query.wand import resolve_docs as _resolve

        rqs, window, qw, rqw, mode = rescore_spec
        if len(rqs) == 1 and len(queries) > 1:
            rqs = rqs * len(queries)
        if len(rqs) != len(queries):
            raise SystemExit(
                f"--rescore gave {len(rqs)} subqueries for "
                f"{len(queries)} queries (one per query, |-separated, "
                "or a single one applied to all)")
        out = rescore_topk(
            pidx, queries, rqs, cfg, k=n, window_size=window,
            query_weight=qw, rescore_query_weight=rqw,
            score_mode=mode, round_dp=6)
        return out.join(pidx.docmap, "doc_id").select(
            "query_id", "doc_id",
            *[c for c in pidx.manifest["order_cols"] if c != "doc_id"],
            "primary", "secondary", "score", "rank")
    if dismax is not None:
        if (ranker != "bm25" or prf or fuzzy or wildcard is not None
                or regexp is not None
                or synonyms is not None or doc_filter is not None
                or doc_boost is not None or offset
                or search_after is not None or collapse is not None
                or demote is not None or min_match is not None):
            raise SystemExit("--dismax combines only with plain bm25 "
                             "retrieval")
        from searchengine_spark.query.dismax import dismax_topk_packed
        from searchengine_spark.query.wand import resolve_docs as _resolve

        groups = [[p for p in q.split("|") if p.strip()] for q in queries]
        return _resolve(pidx, dismax_topk_packed(
            pidx, groups, cfg, k=n, tie_breaker=dismax))
    if pins is not None:
        if (ranker not in ("bm25", "bm25_and") or prf or fuzzy
                or wildcard is not None or regexp is not None
                or synonyms is not None or doc_filter is not None
                or doc_boost is not None or offset
                or search_after is not None or demote is not None
                or collapse is not None or dismax is not None
                or sort_spec is not None or decay_spec is not None
                or fvf_spec is not None or random_seed is not None):
            raise SystemExit("--pin combines only with plain "
                             "bm25/bm25_and retrieval (+ '-term' negation)")
        from searchengine_spark.query.pinned import pinned_topk_packed

        ext_n = len([c for c in pidx.manifest["order_cols"]
                     if c != "doc_id"])
        parsed = []
        for p in pins:
            vals = p.split("|")
            if len(vals) != ext_n:
                raise SystemExit(
                    f"--pin id {p!r} wants {ext_n} '|'-joined values "
                    "(the index's external-id columns)")
            parsed.append(tuple(vals) if ext_n > 1 else vals[0])
        return pinned_topk_packed(
            pidx, queries, cfg, parsed, k=n, round_dp=6,
            conjunctive=ranker == "bm25_and", exclude_terms=excludes)
    if random_seed is not None:
        if (ranker not in ("bm25", "bm25_and") or prf or fuzzy
                or wildcard is not None or regexp is not None
                or synonyms is not None or doc_filter is not None
                or doc_boost is not None or offset
                or search_after is not None or demote is not None
                or collapse is not None or dismax is not None
                or sort_spec is not None or decay_spec is not None
                or fvf_spec is not None):
            raise SystemExit("--random-score combines only with plain "
                             "bm25/bm25_and retrieval (+ '-term' negation)")
        from searchengine_spark.query.decay import random_score_packed

        return random_score_packed(
            pidx, queries, cfg, seed=random_seed, boost_mode=boost_mode,
            k=n, conjunctive=ranker == "bm25_and", round_dp=6,
            exclude_terms=excludes)
    if fvf_spec is not None:
        if (ranker not in ("bm25", "bm25_and") or prf or fuzzy
                or wildcard is not None or regexp is not None
                or synonyms is not None or doc_filter is not None
                or doc_boost is not None or offset
                or search_after is not None or demote is not None
                or collapse is not None or dismax is not None
                or sort_spec is not None or decay_spec is not None):
            raise SystemExit("--fvf combines only with plain "
                             "bm25/bm25_and retrieval (+ '-term' negation)")
        from searchengine_spark.query.decay import field_value_factor_packed

        field, mod, factor, missing_v = fvf_spec
        attrs = spark.read.parquet(attrs_path) if attrs_path else None
        return field_value_factor_packed(
            pidx, queries, cfg, attrs, field, factor=factor, modifier=mod,
            missing=missing_v, boost_mode=boost_mode, k=n,
            conjunctive=ranker == "bm25_and", round_dp=6,
            exclude_terms=excludes)
    if decay_spec is not None:
        if (ranker not in ("bm25", "bm25_and") or prf or fuzzy
                or wildcard is not None or regexp is not None
                or synonyms is not None or doc_filter is not None
                or doc_boost is not None or offset
                or search_after is not None or demote is not None
                or collapse is not None or dismax is not None
                or sort_spec is not None):
            raise SystemExit("--decay combines only with plain "
                             "bm25/bm25_and retrieval (+ '-term' negation)")
        from searchengine_spark.query.decay import decay_score_packed

        field, fn, origin, scale, dcy, off = decay_spec
        attrs = spark.read.parquet(attrs_path) if attrs_path else None
        return decay_score_packed(
            pidx, queries, cfg, attrs, field, origin, scale, decay=dcy,
            offset=off, fn=fn, boost_mode=boost_mode, k=n,
            conjunctive=ranker == "bm25_and", round_dp=6,
            exclude_terms=excludes)
    if sort_spec is not None:
        if (ranker not in ("bm25", "bm25_and") or prf or fuzzy
                or wildcard is not None or regexp is not None
                or synonyms is not None or doc_filter is not None
                or doc_boost is not None or offset
                or search_after is not None or demote is not None
                or collapse is not None or dismax is not None):
            raise SystemExit("--sort combines only with plain "
                             "bm25/bm25_and retrieval (+ '-term' negation)")
        from searchengine_spark.query.sortby import sort_by_attr_packed

        col, asc, miss = sort_spec
        attrs = spark.read.parquet(attrs_path) if attrs_path else None
        # (query_id, doc_id, *ext, sort_value, score, rank) — already
        # resolved; the matched set is score-all, ordered by the attr
        return sort_by_attr_packed(
            pidx, queries, cfg, attrs, col, k=n, ascending=asc,
            missing=miss, conjunctive=ranker == "bm25_and",
            round_dp=6, exclude_terms=excludes)
    if collapse is not None:
        if (ranker not in ("bm25", "bm25_and") or prf or fuzzy
                or wildcard is not None or regexp is not None
                or synonyms is not None
                or doc_filter is not None or doc_boost is not None
                or offset or search_after is not None
                or demote is not None):
            raise SystemExit("--collapse combines only with plain "
                             "bm25/bm25_and retrieval (+ '-term' negation)")
        if inner_hits is not None:
            from searchengine_spark.query.collapse import (
                collapse_inner_hits_packed,
            )

            return collapse_inner_hits_packed(
                pidx, queries, cfg, k=n, n_inner=inner_hits,
                group_col=collapse, round_dp=6,
                conjunctive=ranker == "bm25_and", exclude_terms=excludes,
                min_should_match=min_match)
        from searchengine_spark.query.collapse import collapse_topk_packed

        # returns (query_id, <group_col>, doc_id, score, rank) — the
        # group col IS the external id, no docmap resolve needed
        return collapse_topk_packed(
            pidx, queries, cfg, k=n, group_col=collapse,
            conjunctive=ranker == "bm25_and", exclude_terms=excludes,
            min_should_match=min_match)
    if ranker == "bm25" and prf:
        from searchengine_spark.query.feedback import prf_bm25_topk_packed_batch

        if fuzzy or doc_filter is not None:
            raise SystemExit("--prf does not combine with --fuzzy/--filter")
        r, m, beta = prf
        topk = prf_bm25_topk_packed_batch(
            pidx, queries, cfg, k=n, r=r, m=m, beta=beta,
            exhaustive=exhaustive)
    elif ranker in ("bm25", "bm25_and"):
        q_terms = t_weights = None
        if any("^" in q for q in queries):
            # ES query_string term^W boosts (query/termboost.py) — parsed
            # after negation strip, riding the weighted-term seam
            from searchengine_spark.query.termboost import parse_boosted_queries

            if synonyms is not None:
                raise SystemExit("term^W boosts do not combine with "
                                 "--synonyms (both drive term weights)")
            queries, t_weights = parse_boosted_queries(queries, cfg)
            t_weights = t_weights or None
        if synonyms is not None:
            from searchengine_spark.query.synonyms import expand_query_terms

            rules, weight = synonyms
            q_terms, t_weights = expand_query_terms(
                queries, cfg, rules, weight=weight)
        if wildcard is not None or regexp is not None:
            # (max_expansions, allow_leading) pairs — parse AFTER negation
            # strip, expand once per batch, ride the query_terms seam
            queries, q_terms = _expand_pattern_batch(
                pidx.term_stats, queries, cfg, wildcard, regexp)
        sa = None
        if search_after is not None:
            # one interactive cursor applies to every query in the batch
            # (REPL paging is single-query; batch files page per-run)
            sa = {i: search_after for i in range(len(queries))}
        dem = None
        if demote is not None:
            from searchengine_spark.query.negation import negated_terms

            dts = set(negated_terms(demote.split(), cfg))
            dem = {i: dts for i in range(len(queries))} if dts else None
        topk = bm25_topk_packed_batch(
            pidx, queries, cfg, k=n, exhaustive=exhaustive, fuzzy=fuzzy,
            doc_filter=doc_filter, conjunctive=ranker == "bm25_and",
            doc_boost=doc_boost, query_terms=q_terms,
            term_weights=t_weights or None, exclude_terms=excludes,
            offset=offset, search_after=sa, min_should_match=min_match,
            demote_terms=dem, negative_boost=negative_boost)
    elif ranker == "bm25_optimized":
        topk = proximity_topk_packed_batch(pidx, queries, cfg, k=n, mode="bm25")
    elif ranker == "tfidf_optimized":
        topk = proximity_topk_packed_batch(
            pidx, queries, cfg, k=n, mode="tfidf", schema=schema)
    elif ranker == "tfidf":
        topk = tfidf_topk_packed_batch(pidx, queries, cfg, k=n, schema=schema)
    elif ranker == "phrase":  # exact-phrase retrieval (positional build)
        from searchengine_spark.query.phrase import phrase_topk_packed_batch

        ph = phrase_topk_packed_batch(pidx, queries, cfg, k=n, slop=slop)
        topk = ph.select(
            "query_id", "doc_id",
            F.col("n_occurrences").cast("double").alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
    elif ranker == "phrase_prefix":  # ES match_phrase_prefix
        from searchengine_spark.query.phrase import (
            phrase_prefix_topk_packed_batch,
        )

        ph = phrase_prefix_topk_packed_batch(pidx, queries, cfg, k=n,
                                             slop=slop)
        topk = ph.select(
            "query_id", "doc_id",
            F.col("n_occurrences").cast("double").alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
    elif ranker == "bool_prefix":  # ES match_bool_prefix
        from searchengine_spark.query.boolprefix import match_bool_prefix_topk

        topk = match_bool_prefix_topk(pidx, queries, cfg, k=n, round_dp=6)
        topk = topk.select(
            "query_id", "doc_id", "score",
            F.col("rank").cast("int").alias("rank"),
        )
    elif ranker == "minspan":  # tightest all-terms window (positional build)
        from searchengine_spark.query.spans import minspan_topk_packed_batch

        ms = minspan_topk_packed_batch(pidx, queries, cfg, k=n)
        topk = ms.select(
            "query_id", "doc_id",
            F.col("span_len").cast("double").alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
    else:  # boolean_and / boolean_or — set retrieval, score = match count
        from searchengine_spark.tokenizer import tokenize_text

        op = ranker.split("_")[1]
        if constant_score is not None:
            # ES constant_score: filter-context page — boost literal,
            # doc_id-ASC ranks, top-n cut (query/boolquery.py)
            from searchengine_spark.query.boolquery import constant_score_topk

            if doc_filter is not None or excludes:
                raise SystemExit("--constant-score does not combine with "
                                 "--filter or '-term' negation")
            topk = constant_score_topk(
                pidx, queries, cfg, boost=constant_score, op=op, k=n)
            return resolve_docs(pidx, topk)
        hits = boolean_search_packed(pidx, queries, cfg, op=op,
                                     exclude_terms=excludes)
        if doc_filter is not None:
            # no top-k in boolean retrieval -> a post semi-join is exact
            hits = hits.join(doc_filter.select("doc_id"), "doc_id")
        if op == "or":
            # same score the local tier emits: matched-term count
            topk = hits.select(
                "query_id", "doc_id",
                F.col("n_terms").cast("double").alias("score"),
                F.lit(0).alias("rank"),
            )
        else:
            # AND hits all match every term -> per-query constant score
            nq = spark.createDataFrame(
                [(i, float(len(dict.fromkeys(tokenize_text(q, cfg)))))
                 for i, q in enumerate(queries)],
                "query_id int, score double",
            )
            topk = hits.join(F.broadcast(nq), "query_id").select(
                "query_id", "doc_id", "score", F.lit(0).alias("rank"),
            )
    return resolve_docs(pidx, topk)


def _run_queries(spark, pidx, cfg, queries, ranker, n, exhaustive,
                 schema="lnc.ltc", fuzzy=False, doc_filter=None, prf=None,
                 doc_boost=None, synonyms=None, offset=0, wildcard=None,
                 search_after=None, collapse=None, min_match=None,
                 demote=None, negative_boost=0.5, dismax=None, slop=0,
                 regexp=None, sort_spec=None, attrs_path=None,
                 decay_spec=None, boost_mode="multiply", fvf_spec=None,
                random_seed=None, inner_hits=None, pins=None,
                constant_score=None, max_cost=None, rescore_spec=None):
    """-> list per query of result-row dicts (rank-ordered)."""
    rows = _topk_frame(spark, pidx, cfg, queries, ranker, n, exhaustive,
                       schema, fuzzy, doc_filter, prf, doc_boost,
                       synonyms, offset=offset, wildcard=wildcard,
                       search_after=search_after, collapse=collapse,
                       min_match=min_match, demote=demote,
                       negative_boost=negative_boost,
                       dismax=dismax, slop=slop, regexp=regexp,
                       sort_spec=sort_spec, attrs_path=attrs_path,
                       decay_spec=decay_spec, boost_mode=boost_mode,
                       fvf_spec=fvf_spec, random_seed=random_seed,
                       inner_hits=inner_hits, pins=pins,
                       constant_score=constant_score,
                       max_cost=max_cost,
                       rescore_spec=rescore_spec).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r.asDict())
    def _order(r: dict):
        # collapse inner-hits rows carry (group_rank, hit_rank), every
        # other surface carries rank
        if "rank" in r:
            return (r["rank"], r["doc_id"])
        return (r["group_rank"], r["hit_rank"], r["doc_id"])

    return [sorted(by_q.get(i, []), key=_order)
            for i in range(len(queries))]


def _fuzziness(args):
    f = args.fuzziness
    return f if f == "auto" else int(f)


def _parse_synonyms_args(args):
    """--synonyms/--synonym-weight -> (rules, weight) or None, with the
    shared guards (bm25 ranker, distributed tier, no --fuzzy/--prf —
    fuzzy OOV rewriting would orphan the expansion weights and PRF
    already owns the weighted-term seam)."""
    if not args.synonyms:
        return None
    if args.ranker != "bm25":
        raise SystemExit("--synonyms is wired to --ranker bm25 (the "
                         "weighted-term WAND seam)")
    if args.fuzzy or args.prf:
        raise SystemExit("--synonyms does not combine with --fuzzy/--prf")
    from searchengine_spark.query.synonyms import load_synonyms

    return (load_synonyms(args.synonyms), args.synonym_weight)


def _wc(args):
    """--wildcard CLI triple -> the (max_expansions, allow_leading) pair
    the batch entry points take, or None when wildcards are off."""
    if not args.wildcard:
        return None
    return (args.max_expansions, args.allow_leading_wildcard)


def _resolve_msm(spec, queries, cfg):
    """--min-should-match value spec -> per-query {qid: floor} (ES/Lucene
    grammar incl. negatives and percentages — query/msm.py), or None."""
    if spec is None:
        return None
    from searchengine_spark.query.msm import msm_map

    return msm_map(spec, queries, cfg)


def _resolve_msm_one(spec, query, cfg):
    if spec is None:
        return None
    from searchengine_spark.query.msm import resolve_min_should_match
    from searchengine_spark.tokenizer import tokenize_text

    n = len(dict.fromkeys(tokenize_text(query, cfg)))
    return resolve_min_should_match(spec, max(n, 1))


def _decay(args):
    """--decay FIELD:FN:ORIGIN:SCALE[:DECAY[:OFFSET]] ->
    (field, fn, origin, scale, decay, offset) or None."""
    if not args.decay:
        return None
    parts = args.decay.split(":")
    if len(parts) < 4 or len(parts) > 6:
        raise SystemExit("--decay expects FIELD:FN:ORIGIN:SCALE"
                         f"[:DECAY[:OFFSET]], got {args.decay!r}")
    field, fn = parts[0].strip(), parts[1].strip()
    try:
        nums = [float(p) for p in parts[2:]]
    except ValueError:
        raise SystemExit(f"--decay wants numeric origin/scale/decay/offset "
                         f"in {args.decay!r}")
    origin, scale = nums[0], nums[1]
    decay = nums[2] if len(nums) > 2 else 0.5
    offset = nums[3] if len(nums) > 3 else 0.0
    return (field, fn, origin, scale, decay, offset)


def _fvf(args):
    """--fvf FIELD:MODIFIER[:FACTOR[:MISSING]] -> (field, modifier,
    factor, missing) or None."""
    if not args.fvf:
        return None
    parts = args.fvf.split(":")
    if len(parts) < 2 or len(parts) > 4:
        raise SystemExit("--fvf expects FIELD:MODIFIER[:FACTOR[:MISSING]], "
                         f"got {args.fvf!r}")
    field, mod = parts[0].strip(), parts[1].strip()
    try:
        factor = float(parts[2]) if len(parts) > 2 else 1.0
        missing = float(parts[3]) if len(parts) > 3 else 1.0
    except ValueError:
        raise SystemExit(f"--fvf wants numeric factor/missing in {args.fvf!r}")
    return (field, mod, factor, missing)


def _sort(args):
    """--sort COL:asc|desc + --sort-missing -> (col, ascending, missing)
    or None."""
    if not args.sort:
        return None
    part = args.sort
    if ":" in part:
        col, d = part.rsplit(":", 1)
        d = d.strip().lower()
        if d not in ("asc", "desc"):
            raise SystemExit(f"--sort expects COL:asc|desc, got {part!r}")
    else:
        col, d = part, "desc"
    return (col.strip(), d == "asc", args.sort_missing)


def _rx(args):
    """--regexp twin of _wc (shares --max-expansions and
    --allow-leading-wildcard — the latter guards empty literal
    prefixes, the regexp full-dictionary-scan case)."""
    if not args.regexp:
        return None
    return (args.max_expansions, args.allow_leading_wildcard)


# ---- result-set post-processing, shared by --index and --shards ------
#
# Everything below consumes the resolved per-query result dicts, so one
# implementation serves both tiers: source texts (--snippet-source,
# --highlight), --context, the --sampler/--diversified cut, the
# attribute aggregations and --significant. Every spec is parsed once,
# right after argparse and before the SparkSession exists
# (_parse_post_specs); the parsed value is what the printers receive.


def _cols(spec: str) -> list:
    return [c.strip() for c in spec.split(",") if c.strip()]


def _col_specs(spec: str, flag: str, shape: str, conv) -> list:
    """``COL:ARG[,COL:ARG...]`` -> [(col, conv(ARG)), ...]."""
    out = []
    for part in spec.split(","):
        if ":" not in part:
            raise SystemExit(f"{flag} expects COL:{shape}, got {part!r}")
        c, arg = part.rsplit(":", 1)
        out.append((c.strip(), conv(arg, part)))
    return out


def _hits_frame(spark, ext_cols, per_q, extra=()):
    """(query_id, *ext_cols, *extra names) over every result row, or
    None when no query has a hit. ``extra`` = ((name, row -> value),)."""
    rows = [
        tuple([i] + [r[c] for c in ext_cols] + [get(r) for _, get in extra])
        for i, res in enumerate(per_q)
        for r in res
    ]
    if not rows:
        return None
    return spark.createDataFrame(
        rows, ["query_id", *ext_cols, *(name for name, _ in extra)])


_RANK = (("rank", lambda r: r["rank"]),)
_SCORE_RANK = (("score", lambda r: float(r.get("score", 0.0))),
               ("rank", lambda r: int(r.get("rank", 0))))


def _attach_texts(spark, source, ext_cols, cfg, queries, per_q,
                  highlight) -> None:
    """--snippet-source: one bounded read of the result rows' source
    texts, then (with --highlight) the whole field with <em> tags around
    every analyzed query-term occurrence (query/highlight.py) and a
    best-window snippet (query/snippet.py) on every row."""
    from pyspark.sql import functions as F

    from searchengine_spark.query.highlight import highlight_text
    from searchengine_spark.query.snippet import extract_snippet
    from searchengine_spark.tokenizer import tokenize_text

    keys = {
        tuple(r[c] for c in ext_cols) for res in per_q for r in res if ext_cols
    }
    if not keys:
        return
    src = spark.read.parquet(source)
    # bounded-set fetch as a broadcast semi-join (a literal OR-of-AND
    # predicate tree grows with the result set and doesn't push down)
    kdf = spark.createDataFrame(sorted(keys),
                                schema=src.select(*ext_cols).schema)
    texts = {
        tuple(r[c] for c in ext_cols): r["text"]
        for r in src.join(F.broadcast(kdf), on=ext_cols)
        .select(*ext_cols, "text").collect()
    }

    def hit_texts(res):
        for r in res:
            text = texts.get(tuple(r.get(c) for c in ext_cols))
            if text is not None:
                yield r, text

    if highlight:
        memo: dict = {}
        for q, res in zip(queries, per_q):
            terms = list(dict.fromkeys(tokenize_text(q, cfg)))
            for r, text in hit_texts(res):
                hl, n = highlight_text(text, terms, cfg, _memo=memo)
                if hl is not None:
                    r["highlighted"], r["n_matches"] = hl, n
    memo = {}
    for q, res in zip(queries, per_q):
        for r, text in hit_texts(res):
            sn = extract_snippet(text, q, cfg, _memo=memo)
            if sn is not None:
                r["snippet"] = sn["snippet"]


def _parse_context(spec, args):
    if not args.snippet_source:
        raise SystemExit("--context needs --snippet-source (the table "
                         "carrying the surrounding turns)")
    try:
        nb, na = (int(v) for v in spec.split(","))
    except ValueError:
        raise SystemExit("--context wants N_BEFORE,N_AFTER")
    if nb < 0 or na < 0:
        raise SystemExit("--context wants N_BEFORE,N_AFTER >= 0")
    return nb, na


def _print_context(spark, source_path, ext_cols, queries, per_q,
                   spec) -> None:
    """--context B,A (with --snippet-source): context-window expansion
    (query/context.py) — for every hit, the ±window turns of the same
    conversation from the source table, one JSON line per query:
    {"query", "context": [{rank, conv_id, turn_idx, ctx_turn_idx,
    offset, role, text}, ...]}."""
    from searchengine_spark.query.context import with_context_turns

    if ext_cols != ["conv_id", "turn_idx"]:
        raise SystemExit("--context expects a (conv_id, turn_idx) index")
    rows = [
        (i, r["rank"], r["conv_id"], r["turn_idx"])
        for i, res in enumerate(per_q) for r in res if "rank" in r
    ]
    by_q: dict[int, list] = {i: [] for i in range(len(queries))}
    if rows:
        hits = spark.createDataFrame(
            rows, ["query_id", "rank", "conv_id", "turn_idx"])
        corpus = spark.read.parquet(source_path)
        got = with_context_turns(hits, corpus, *spec).collect()
        for r in sorted(got, key=lambda r: (r["query_id"], r["rank"],
                                            r["ctx_turn_idx"])):
            d = r.asDict()
            d.pop("query_id")
            by_q[r["query_id"]].append(d)
    for i, q in enumerate(queries):
        print(json.dumps({"query": q, "context": by_q[i]}, default=str))


def _parse_sampler(spec, args):
    """--sampler N: ES sampler aggregation — each query's AGGREGATION
    input cut to its N best-ranked hits (per_q lists are already
    retrieval-ordered); composes BEFORE --diversified, exactly ES's
    sampler > diversified_sampler nesting."""
    if spec < 1:
        raise SystemExit("--sampler wants a positive size")
    return spec


def _parse_diversified(spec, args):
    parts = spec.split(":")
    if len(parts) > 2 or not parts[0].strip():
        raise SystemExit("--diversified wants FIELD[:MAX]")
    return parts[0].strip(), int(parts[1]) if len(parts) > 1 else 1


def _apply_diversified(spark, attrs_path, ext_cols, per_q, spec):
    """--diversified FIELD[:MAX]: ES diversified_sampler — cap each
    query's result set at MAX hits per FIELD value (best-ranked survive,
    ext-id tiebreak, NULL-field hits always pass) BEFORE the aggregation
    printers run, so they aggregate over the SAMPLE — exactly ES's
    sampler>sub-agg nesting. Returns the filtered per_q lists; the
    printed results are untouched."""
    from searchengine_spark.query.aggregations import diversified_sample

    hits = _hits_frame(spark, ext_cols, per_q, _RANK)
    if hits is None:
        return per_q
    field, maxv = spec
    kept = diversified_sample(hits, spark.read.parquet(attrs_path), field,
                              ext_cols, max_per_value=maxv)
    keep = {(r["query_id"], tuple(r[c] for c in ext_cols))
            for r in kept.collect()}
    return [
        [r for r in res
         if (i, tuple(r[c] for c in ext_cols)) in keep]
        for i, res in enumerate(per_q)
    ]


class _AggInput(NamedTuple):
    """What an aggregation's ``run`` sees: the hits frame (query_id,
    *ext cols, *extra), the ext cols, the batch's query texts and the
    --attrs table."""

    hits: object
    ext: list
    queries: list
    attrs_path: str | None

    @property
    def attrs(self):
        return self.hits.sparkSession.read.parquet(self.attrs_path)


class _Agg(NamedTuple):
    """One result-set aggregation flag (ES analog over each query's
    hits), printed as {"query", KEY: value} with KEY = ``key`` or the
    flag's dest. ``parse(spec, args)`` -> the value ``run`` receives
    (runs before Spark starts; a malformed spec exits naming the flag);
    ``run(inp, parsed, by_q)`` fills ``by_q`` (query_id -> the JSON
    value); ``finish(value, parsed)`` shapes a query's value for
    printing. ``page``: aggregates the full ranked page (no sampler, no
    --attrs)."""

    dest: str
    parse: Callable
    run: Callable
    empty: type = dict
    extra: tuple = ()
    str_default: bool = False
    page: bool = False
    finish: Callable | None = None
    key: str | None = None


def _print_agg(spark, agg, spec, attrs_path, ext_cols, queries,
               per_q) -> None:
    """The shared printer: hits frame -> ``agg.run`` -> one JSON line
    per query, {"query", KEY: value}."""
    by_q = {i: agg.empty() for i in range(len(queries))}
    hits = _hits_frame(spark, ext_cols, per_q, agg.extra)
    if hits is not None:
        agg.run(_AggInput(hits, ext_cols, queries, attrs_path), spec, by_q)
    for i, q in enumerate(queries):
        val = agg.finish(by_q[i], spec) if agg.finish else by_q[i]
        print(json.dumps({"query": q, agg.key or agg.dest: val},
                         default=str if agg.str_default else None))


def _by_col(fn_name, shape):
    """run for the aggregations emitting one (query_id, col, ...) row per
    column: by_q[qid][col] = shape(row)."""
    def run(inp, cols, by_q):
        from searchengine_spark.query import aggregations

        fn = getattr(aggregations, fn_name)
        for r in fn(inp.hits, inp.attrs, cols, inp.ext).collect():
            by_q[r["query_id"]][r["col"]] = shape(r)
    return run


def _per_spec(fn_name, shape, utc=False):
    """run for the COL:ARG aggregations: one library call per column,
    by_q[qid][col] = [shape(row), ...]; ``utc`` computes under
    _utc_session."""
    def run(inp, specs, by_q):
        from searchengine_spark.query import aggregations

        fn = getattr(aggregations, fn_name)
        attrs = inp.attrs
        with (_utc_session(inp.hits.sparkSession) if utc
              else contextlib.nullcontext()):
            for col, arg in specs:
                for r in fn(inp.hits, attrs, [col], inp.ext, arg).collect():
                    by_q[r["query_id"]].setdefault(col, []).append(shape(r))
    return run


@contextlib.contextmanager
def _utc_session(spark):
    """Calendar intervals truncate in the SESSION time zone: pin UTC for
    the compute (restored after the collects) so date buckets are the
    documented exact UTC civil-calendar boundaries on any host."""
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def _parse_facets(spec, args):
    """--facets COLS [--facet-approx N_SHARDS:SHARD_SIZE]: ES terms
    aggregation (query/facets.py); the approximation routes through
    approx_facet_counts and each bucket also carries "err", its
    doc_count_error_upper_bound."""
    approx = None
    if args.facet_approx:
        try:
            ns, ss = (int(v) for v in args.facet_approx.split(":"))
        except ValueError:
            raise SystemExit("--facet-approx wants N_SHARDS:SHARD_SIZE")
        if ns < 1 or ss < 1:
            raise SystemExit("--facet-approx values must be >= 1")
        approx = (ns, ss)
    return _cols(spec), args.n, approx


def _run_facets(inp, spec, by_q):
    from searchengine_spark.query.facets import (
        approx_facet_counts,
        facet_counts,
    )

    cols, k, approx = spec
    if approx is not None:
        got = approx_facet_counts(inp.hits, inp.attrs, cols, inp.ext,
                                  n_shards=approx[0], shard_size=approx[1],
                                  k=k)
    else:
        got = facet_counts(inp.hits, inp.attrs, cols, inp.ext, k=k)
    for r in sorted(got.collect(),
                    key=lambda r: (r["query_id"], r["facet"], r["rank"])):
        bucket = {"value": r["value"], "n": int(r["n"])}
        if approx is not None:
            bucket["err"] = int(r["err"])
        by_q[r["query_id"]].setdefault(r["facet"], []).append(bucket)


def _run_top_hits(inp, spec, by_q):
    """--top-hits N (with --facets): ES top_hits sub-aggregation — under
    each (facet, value) bucket, the best N hits in retrieval order."""
    from searchengine_spark.query.facets import top_hits

    cols, n = spec
    for r in top_hits(inp.hits, inp.attrs, cols, inp.ext, n=n).collect():
        by_q[r["query_id"]].setdefault(f"{r['facet']}={r['value']}", []).append(
            {c: r[c] for c in inp.ext} | {"score": r["score"]})


def _parse_geohash(spec, args):
    """LAT,LON:PRECISION[:TOP,LEFT,BOTTOM,RIGHT] (micro-degree ints)."""
    parts = spec.split(":")
    if len(parts) not in (2, 3) or "," not in parts[0]:
        raise SystemExit("--geohash-grid wants LAT,LON:PRECISION"
                         "[:TOP,LEFT,BOTTOM,RIGHT]")
    lat_col, lon_col = (c.strip() for c in parts[0].split(",", 1))
    bbox = None
    if len(parts) == 3:
        try:
            top, left, bottom, right = (int(v) for v in parts[2].split(","))
        except ValueError:
            raise SystemExit("--geohash-grid bbox wants four micro-degree "
                             "ints TOP,LEFT,BOTTOM,RIGHT")
        bbox = (top, left, bottom, right)
    return lat_col, lon_col, int(parts[1]), bbox


def _run_geohash(inp, spec, by_q):
    from searchengine_spark.query.geo import geohash_grid_agg

    lat_col, lon_col, precision, bbox = spec
    got = geohash_grid_agg(inp.hits, inp.attrs, lat_col, lon_col, inp.ext,
                           precision=precision, bbox=bbox).collect()
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q[r["query_id"]].append({"geohash": r["geohash"], "n": int(r["n"])})


def _range_edges(es, part):
    """E1|E2|... -> the contiguous buckets (*,E1), [E1,E2), ..., [En,*)."""
    try:
        edges = [float(x) for x in es.split("|") if x.strip()]
    except ValueError:
        raise SystemExit(f"--range wants numeric edges in {part!r}")
    if not edges or sorted(edges) != edges or len(set(edges)) != len(edges):
        raise SystemExit(f"--range edges must be strictly increasing "
                         f"in {part!r}")
    bounds = [None, *edges, None]
    return list(zip(bounds[:-1], bounds[1:]))


def _num_list(flag, what, conv=int):
    def parse(vs, part):
        try:
            return [conv(x) for x in vs.split("|")]
        except ValueError:
            raise SystemExit(f"{flag} wants {what} in {part!r}")
    return parse


_DENSIFIED_OPS = ("cumsum", "derivative", "moving_sum", "serial_diff")


def _pipeline_fn(op, rest):
    """--pipeline OP[:ARGS] -> buckets frame -> pipeline frame
    (query/pipeline_aggs.py)."""
    from searchengine_spark.query import pipeline_aggs as P

    if op == "cumsum":
        return P.cumulative_sum
    if op == "derivative":
        return P.derivative
    if op == "moving_sum":
        w, _, sh = rest.partition(":")
        w, sh = int(w or 3), int(sh or 0)
        return lambda b: P.moving_sum(b, w, shift=sh)
    if op == "serial_diff":
        lag = int(rest or 1)
        return lambda b: P.serial_diff(b, lag)
    if op == "bucket_sort":
        sz, _, fr = rest.partition(":")
        sz, fr = int(sz or 5), int(fr or 0)
        return lambda b: P.bucket_sort(b, sz, from_=fr)
    if op in ("bucket_selector", "bucket_script"):
        if not rest:
            raise SystemExit(
                "--pipeline bucket_selector:PRED needs a SQL predicate "
                "over (n, bucket_epoch)" if op == "bucket_selector" else
                "--pipeline bucket_script:EXPR needs a SQL integer "
                "expression over (n, bucket_epoch)")
        fn = getattr(P, op)
        return lambda b: fn(b, rest)
    if op == "stats_bucket":
        return P.stats_bucket
    if op == "percentiles_bucket":
        pcts = [int(x) for x in rest.split("|")] if rest else (25, 50, 75,
                                                               100)
        return lambda b: P.percentiles_bucket(b, pcts)
    if op == "extreme_buckets":
        return P.extreme_bucket_keys
    if op == "normalize":
        return lambda b: P.normalize_buckets(b, rest or "rescale_0_1")
    raise SystemExit(f"unknown --pipeline op {op!r}")


def _parse_pipeline(spec, args):
    """--pipeline OP over the --date-histogram buckets: ES pipeline
    aggregations (query/pipeline_aggs.py). Positional members
    (cumsum/derivative/moving_sum/serial_diff) run on the DENSIFIED
    series (zero-filled gaps — the ES min_doc_count=0 requirement);
    order-statistic members run on the raw buckets. Needs a
    single-column --date-histogram spec."""
    from searchengine_spark.query.aggregations import (
        _CALENDAR_SECONDS,
        _CALENDAR_TRUNC,
    )

    dh_spec = args.date_histogram
    if "," in dh_spec or ":" not in dh_spec:
        raise SystemExit("--pipeline needs a single-column "
                         "--date-histogram COL:INTERVAL spec")
    col, iv = dh_spec.rsplit(":", 1)
    op, _, rest = spec.partition(":")
    ival = int(iv) if iv.isdigit() else _CALENDAR_SECONDS.get(iv)
    if ival:
        interval = ival
    elif iv in _CALENDAR_TRUNC:
        # calendar buckets are fine for every op EXCEPT the densified
        # positional family (zero-fill needs equally spaced keys)
        if op in _DENSIFIED_OPS:
            raise SystemExit(
                f"--pipeline {op} needs a fixed-span --date-histogram "
                f"interval (calendar {iv!r} buckets are not equally "
                f"spaced — densify is undefined)")
        interval = iv
    else:
        raise SystemExit(f"--pipeline cannot resolve interval {iv!r}")
    return col.strip(), interval, ival, op, _pipeline_fn(op, rest)


def _run_pipeline(inp, spec, by_q):
    from searchengine_spark.query import pipeline_aggs as P
    from searchengine_spark.query.aggregations import date_histogram_counts

    col, interval, ival, op, fn = spec
    with _utc_session(inp.hits.sparkSession):
        buckets = date_histogram_counts(inp.hits, inp.attrs, [col], inp.ext,
                                        interval=interval)
        if op in _DENSIFIED_OPS:
            buckets = P.densify_buckets(buckets, ival)
        out = fn(buckets)
        val_cols = [c for c in out.columns if c != "query_id"]
        for r in out.collect():
            by_q[r["query_id"]].append(
                {c: (list(r[c]) if isinstance(r[c], list) else r[c])
                 for c in val_cols})


def _parse_composite(spec, args):
    """--composite COLS:SIZE [--composite-after V1|V2]: ES composite —
    the paginated bucket enumerator; after_key feeds back through
    --composite-after for the next page."""
    if ":" not in spec:
        raise SystemExit(f"--composite expects COLS:SIZE, got {spec!r}")
    cols_part, size_part = spec.rsplit(":", 1)
    cols = _cols(cols_part)
    try:
        size = int(size_part)
    except ValueError:
        raise SystemExit(f"--composite SIZE must be an integer, "
                         f"got {size_part!r}")
    after = None
    if args.composite_after is not None:
        after = args.composite_after.split("|")
        if len(after) != len(cols):
            raise SystemExit(f"--composite-after wants one value per "
                             f"column ({len(cols)}), got {len(after)}")
    return cols, size, after


def _run_composite(inp, spec, by_q):
    from searchengine_spark.query.aggregations import composite_agg

    cols, size, after = spec
    attrs = inp.attrs
    if after is not None:
        # cursor values compare in the attrs column's NATIVE type
        dtypes = dict(attrs.dtypes)
        typed = []
        for c, v in zip(cols, after):
            t = dtypes.get(c, "string")
            if t in ("tinyint", "smallint", "int", "bigint"):
                typed.append(int(v))
            elif t in ("float", "double", "decimal"):
                typed.append(float(v))
            else:
                typed.append(v)
        after = typed
    for r in composite_agg(inp.hits, attrs, cols, inp.ext, size=size,
                           after=after).collect():
        by_q[r["query_id"]].append(
            {"key": {c: r[c] for c in cols}, "n": int(r["n"])})


def _composite_page(buckets, spec):
    return {"buckets": buckets,
            "after_key": buckets[-1]["key"] if len(buckets) == spec[1]
            else None}


def _run_matrix_stats(inp, cols, by_q):
    from searchengine_spark.query.aggregations import matrix_stats_agg

    for r in matrix_stats_agg(inp.hits, inp.attrs, cols, inp.ext).collect():
        n = int(r["n"])
        by_q[r["query_id"]].append({
            "col_a": r["col_a"], "col_b": r["col_b"], "n": n,
            "cov_num": int(r["cov_num"]),
            "covariance": (int(r["cov_num"]) / (n * n)) if n else None,
        })


def _parse_weighted_avg(spec, args):
    parts = spec.split(":")
    if len(parts) != 2 or not all(p.strip() for p in parts):
        raise SystemExit("--weighted-avg wants VALUE:WEIGHT")
    return tuple(p.strip() for p in parts)


def _run_weighted_avg(inp, spec, by_q):
    from searchengine_spark.query.aggregations import weighted_avg_agg

    for r in weighted_avg_agg(inp.hits, inp.attrs, *spec, inp.ext).collect():
        n, wsum, wtot = int(r["n"]), r["wsum"], r["wtot"]
        by_q[r["query_id"]] = {
            "n": n, "wsum": wsum, "wtot": wtot,
            "value": (wsum / wtot) if wtot else None,
        }


def _parse_top_metrics(spec, args):
    parts = spec.split(":")
    if len(parts) < 2 or len(parts) > 4:
        raise SystemExit("--top-metrics wants SORT:M1[,M2...][:SIZE"
                         "[:asc|desc]]")
    order = parts[3].strip().lower() if len(parts) > 3 else "desc"
    if order not in ("asc", "desc"):
        raise SystemExit("--top-metrics order must be asc or desc")
    return (parts[0].strip(), _cols(parts[1]),
            int(parts[2]) if len(parts) > 2 else 1, order == "asc")


def _run_top_metrics(inp, spec, by_q):
    from searchengine_spark.query.aggregations import top_metrics_agg

    sort_col, metrics, size, ascending = spec
    out = top_metrics_agg(inp.hits, inp.attrs, sort_col, metrics, inp.ext,
                          size=size, ascending=ascending)
    for r in out.collect():
        by_q[r["query_id"]].append({
            "pos": int(r["pos"]), "sort": r[sort_col],
            "metrics": {m: r[m] for m in metrics if m != sort_col},
        })


def _parse_multi_terms(spec, args):
    parts = spec.split(":")
    if len(parts) > 2:
        raise SystemExit("--multi-terms wants COLA,COLB[:SIZE]")
    return _cols(parts[0]), int(parts[1]) if len(parts) > 1 else 10


def _run_multi_terms(inp, spec, by_q):
    from searchengine_spark.query.aggregations import multi_terms_agg

    cols, size = spec
    for r in multi_terms_agg(inp.hits, inp.attrs, cols, inp.ext,
                             size=size).collect():
        by_q[r["query_id"]].append({
            "rank": int(r["rank"]), "key": [r[c] for c in cols],
            "n": int(r["n"]),
        })


def _parse_rank_eval(spec, args):
    """RATINGS.parquet[:K[:GRADE]] (ratings columns: query, <ext
    cols...>, grade)."""
    parts = spec.split(":")
    if len(parts) > 3 or not parts[0].strip():
        raise SystemExit("--rank-eval wants RATINGS.parquet[:K[:GRADE]]")
    return (parts[0].strip(), int(parts[1]) if len(parts) > 1 else 10,
            int(parts[2]) if len(parts) > 2 else 1)


def _run_rank_eval(inp, spec, by_q):
    """ES _rank_eval (query/eval.py rank_eval): exact count numerators
    per query; precision@k / recall@k / MRR derive client-side."""
    from pyspark.sql import functions as F

    from searchengine_spark.query.eval import rank_eval

    path, k, grade = spec
    spark = inp.hits.sparkSession
    raw = spark.read.parquet(path)
    missing = [c for c in ["query", *inp.ext, "grade"]
               if c not in raw.columns]
    if missing:
        raise SystemExit(f"--rank-eval ratings table lacks {missing}")
    # query text -> this batch's query_id (unrated queries drop)
    qmap = spark.createDataFrame(
        list(enumerate(inp.queries)), ["query_id", "query"])
    ratings = raw.join(F.broadcast(qmap), "query").select(
        "query_id", *inp.ext, "grade")
    for r in rank_eval(inp.hits, ratings, inp.ext, k=k,
                       relevant_grade=grade).collect():
        n_ret, n_rel = int(r["n_returned"]), int(r["n_rel_ret"])
        n_tot = int(r["n_rel_total"])
        frr = r["first_rel_rank"]
        by_q[r["query_id"]] = {
            "k": k, "n_returned": n_ret, "n_rel_ret": n_rel,
            "n_rel_total": n_tot,
            "precision": (n_rel / n_ret) if n_ret else None,
            "recall": (n_rel / n_tot) if n_tot else None,
            "mrr": (1.0 / int(frr)) if frr is not None else 0.0,
        }


def _parse_t_test(spec, args):
    if ":" not in spec or "|" not in spec.split(":", 1)[1]:
        raise SystemExit("--t-test wants VALUE:PRED_A|PRED_B")
    value_col, preds = spec.split(":", 1)
    pred_a, pred_b = preds.split("|", 1)
    return value_col.strip(), pred_a.strip(), pred_b.strip()


def _run_t_test(inp, spec, by_q):
    """ES t_test, unpaired: exact BIGINT moments per population, Welch's
    t derived here."""
    from searchengine_spark.query.aggregations import t_test_agg

    for r in t_test_agg(inp.hits, inp.attrs, *spec, inp.ext).collect():
        d = {k: int(r[k]) for k in ("n_a", "sum_a", "sum_sq_a",
                                    "n_b", "sum_b", "sum_sq_b")}
        t = None
        if d["n_a"] > 1 and d["n_b"] > 1:
            ma, mb = d["sum_a"] / d["n_a"], d["sum_b"] / d["n_b"]
            va = (d["n_a"] * d["sum_sq_a"] - d["sum_a"] ** 2) / d["n_a"] ** 2
            vb = (d["n_b"] * d["sum_sq_b"] - d["sum_b"] ** 2) / d["n_b"] ** 2
            den = math.sqrt(va / d["n_a"] + vb / d["n_b"])
            t = (ma - mb) / den if den else None
        d["t"] = t
        by_q[r["query_id"]] = d


def _string_stats(r):
    n, len_sum = int(r["n"]), int(r["len_sum"])
    return {
        "n": n, "len_min": int(r["len_min"]), "len_max": int(r["len_max"]),
        "len_sum": len_sum, "avg_length": (len_sum / n) if n else None,
        "entropy_num": int(r["entropy_num"]),
        # ES emits base-2 Shannon entropy; derive it from the exact
        # numerator (micro-nats): H = (ln T - num/(1e6 T))/ln 2
        "entropy": (
            (math.log(len_sum) - int(r["entropy_num"]) / (1e6 * len_sum))
            / math.log(2)
        ) if len_sum else 0.0,
    }


def _extended_stats(r):
    n = int(r["n"])
    var = (int(r["var_num"]) / (n * n)) if n else None
    return {
        "n": n, "sum": int(r["sum"]), "sum_sq": int(r["sum_sq"]),
        "var_num": int(r["var_num"]), "variance": var,
        "std_deviation": (var ** 0.5) if var is not None else None,
    }


def _percentile_rank(r):
    n_le, n = int(r["n_le"]), int(r["n"])
    return {"value": r["value"], "n_le": n_le, "n": n,
            "rank_pct": (100.0 * n_le / n) if n else None}


def _parse_auto_date_histogram(spec, args):
    parts = spec.split(":")
    if len(parts) > 2:
        raise SystemExit("--auto-date-histogram wants COL[:TARGET]")
    return parts[0].strip(), int(parts[1]) if len(parts) > 1 else 10


def _run_auto_date_histogram(inp, spec, by_q):
    from searchengine_spark.query.aggregations import (
        auto_date_histogram_counts,
    )

    col, target = spec
    for r in auto_date_histogram_counts(inp.hits, inp.attrs, [col], inp.ext,
                                        target_buckets=target).collect():
        d = by_q[r["query_id"]].setdefault(
            r["col"], {"interval_sec": int(r["interval_sec"]),
                       "buckets": []})
        d["buckets"].append({"epoch": int(r["bucket_epoch"]),
                             "n": int(r["n"])})


def _parse_named_filters(spec: str, flag: str) -> list:
    """``NAME=PRED|NAME=PRED`` -> ordered (name, predicate) pairs (the
    filters_agg/adjacency_matrix_agg input; '=' inside the predicate is
    fine — only the FIRST one names the bucket)."""
    out = []
    for part in spec.split("|"):
        if "=" not in part:
            raise SystemExit(f"{flag} expects NAME=PRED|..., got {part!r}")
        name, pred = part.split("=", 1)
        out.append((name.strip(), pred.strip()))
    return out


def _run_filters(inp, filters, by_q):
    from searchengine_spark.query.aggregations import filters_agg

    for r in filters_agg(inp.hits, inp.attrs, filters, inp.ext).collect():
        by_q[r["query_id"]][r["filter_name"]] = int(r["n"])


def _run_rare_terms(inp, spec, by_q):
    from searchengine_spark.query.aggregations import rare_terms_agg

    cols, max_doc_count = spec
    for r in rare_terms_agg(inp.hits, inp.attrs, cols, inp.ext,
                            max_doc_count=max_doc_count).collect():
        by_q[r["query_id"]].setdefault(r["facet"], []).append(
            {"value": r["value"], "n": int(r["n"])})


def _run_adjacency(inp, filters, by_q):
    """ES adjacency_matrix: singleton + pairwise-intersection counts,
    'a&b' composite keys (the ES convention)."""
    from searchengine_spark.query.aggregations import adjacency_matrix_agg

    for r in adjacency_matrix_agg(inp.hits, inp.attrs, filters,
                                  inp.ext).collect():
        key = (r["key_a"] if r["key_a"] == r["key_b"]
               else f"{r['key_a']}&{r['key_b']}")
        by_q[r["query_id"]][key] = int(r["n"])


def _run_significant_attrs(inp, spec, by_q):
    from searchengine_spark.query.significant import significant_attr_values

    cols, k, min_fg = spec
    got = significant_attr_values(inp.hits, inp.attrs, cols, inp.ext,
                                  k=k, min_fg=min_fg).collect()
    for r in sorted(got, key=lambda r: (r["query_id"], r["facet"],
                                        r["rank"])):
        by_q[r["query_id"]].setdefault(r["facet"], []).append(
            {"value": r["value"], "fg": int(r["fg_count"]),
             "bg": int(r["bg_count"]), "score": float(r["score"])})


def _cols_arg(spec, args):
    return _cols(spec)


#: The result-set aggregations in print order. Every entry but rank_eval
#: aggregates --attrs columns over the (sampled) hits, so they are also
#: the flags that need --attrs.
_AGGS = (
    _Agg("facets", _parse_facets, _run_facets),
    _Agg("top_hits", lambda n, args: (_cols(args.facets), n),
         _run_top_hits, extra=_SCORE_RANK, str_default=True),
    _Agg("histogram",
         lambda spec, args: _col_specs(spec, "--histogram", "INTERVAL",
                                       lambda iv, part: float(iv)),
         _per_spec("histogram_counts",
                   lambda r: {"bucket": r["bucket"], "n": int(r["n"])})),
    _Agg("geohash_grid", _parse_geohash, _run_geohash, empty=list),
    _Agg("range",
         lambda spec, args: _col_specs(spec, "--range", "E1|E2|...",
                                       _range_edges),
         _per_spec("range_agg",
                   lambda r: {"from": r["range_from"], "to": r["range_to"],
                              "n": int(r["n"])})),
    _Agg("date_histogram",
         lambda spec, args: _col_specs(
             spec, "--date-histogram", "INTERVAL",
             lambda iv, part: int(iv) if iv.isdigit() else iv),
         _per_spec("date_histogram_counts",
                   lambda r: {"bucket_epoch": int(r["bucket_epoch"]),
                              "n": int(r["n"])}, utc=True)),
    _Agg("pipeline", _parse_pipeline, _run_pipeline, empty=list,
         str_default=True, finish=lambda v, spec: {spec[3]: v}),
    _Agg("percentiles",
         lambda spec, args: _col_specs(
             spec, "--percentiles", "P1|P2|...",
             _num_list("--percentiles", "integer percents")),
         _per_spec("percentiles_agg",
                   lambda r: {"pct": int(r["pct"]), "value": r["value"]})),
    _Agg("cardinality", _cols_arg,
         _by_col("cardinality_agg", lambda r: int(r["n_distinct"]))),
    _Agg("composite", _parse_composite, _run_composite,
         empty=list, str_default=True, finish=_composite_page),
    _Agg("extended_stats", _cols_arg,
         _by_col("extended_stats_agg", _extended_stats)),
    _Agg("matrix_stats", _cols_arg, _run_matrix_stats, empty=list),
    _Agg("weighted_avg", _parse_weighted_avg, _run_weighted_avg),
    _Agg("top_metrics", _parse_top_metrics, _run_top_metrics,
         empty=list, str_default=True),
    _Agg("percentile_ranks",
         lambda spec, args: _col_specs(
             spec, "--percentile-ranks", "V1|V2|...",
             _num_list("--percentile-ranks", "numeric values", float)),
         _per_spec("percentile_ranks_agg", _percentile_rank)),
    _Agg("boxplot", _cols_arg,
         _by_col("boxplot_agg", lambda r: {
             "min": r["min"], "q1": r["q1"], "q2": r["q2"], "q3": r["q3"],
             "max": r["max"]})),
    _Agg("mad", _cols_arg,
         _by_col("median_absolute_deviation_agg",
                 lambda r: {"median": r["median"], "mad": r["mad"]})),
    _Agg("multi_terms", _parse_multi_terms, _run_multi_terms,
         empty=list, str_default=True),
    _Agg("rank_eval", _parse_rank_eval, _run_rank_eval, extra=_RANK,
         page=True),
    _Agg("t_test", _parse_t_test, _run_t_test),
    _Agg("string_stats", _cols_arg,
         _by_col("string_stats_agg", _string_stats)),
    _Agg("auto_date_histogram",
         _parse_auto_date_histogram, _run_auto_date_histogram),
    _Agg("filters_agg",
         lambda spec, args: _parse_named_filters(spec, "--filters-agg"),
         _run_filters, key="filters"),
    _Agg("missing", _cols_arg,
         _by_col("missing_agg", lambda r: int(r["n"]))),
    _Agg("rare_terms",
         lambda spec, args: (_cols(spec), args.rare_max_doc_count),
         _run_rare_terms),
    _Agg("adjacency",
         lambda spec, args: _parse_named_filters(spec, "--adjacency"),
         _run_adjacency),
    _Agg("significant_attrs",
         lambda spec, args: (_cols(spec), args.n, args.sig_min_fg),
         _run_significant_attrs),
)

#: every flag that reads --attrs in the post-processor
_ATTRS_AGG_FLAGS = tuple(a.dest for a in _AGGS if not a.page) + (
    "diversified",)

#: post-processing flags parsed before aggregations run, in order
_PRE_AGG = (("context", _parse_context), ("sampler", _parse_sampler),
            ("diversified", _parse_diversified))


def _parse_post_specs(args) -> dict:
    """Parse every post-processing flag that is set, before any Spark
    work: {dest: parsed value}. A malformed spec exits non-zero with a
    message naming its flag."""
    parsers = [*_PRE_AGG, *((a.dest, a.parse) for a in _AGGS)]
    post = {}
    for dest, parse in parsers:
        spec = getattr(args, dest)
        if not spec:
            continue
        try:
            post[dest] = parse(spec, args)
        except ValueError as e:
            raise SystemExit(f"--{dest.replace('_', '-')} {spec!r}: {e}")
    return post


def _post_process(spark, args, post, cfg, ext_cols, queries, per_q,
                  pidx=None, shards=None) -> None:
    """Everything that runs on a batch's resolved result rows, on either
    tier: texts attach to the rows, then --context and every
    aggregation print their lines (before the caller prints the results
    lines). --sampler/--diversified shape AGGREGATION input only —
    snippets, the ranked page, --rank-eval and relevance stats stay
    full (ES sampler semantics)."""
    if args.snippet_source:
        _attach_texts(spark, args.snippet_source, ext_cols, cfg, queries,
                      per_q, args.highlight)
    if "context" in post:
        _print_context(spark, args.snippet_source, ext_cols, queries, per_q,
                       post["context"])
    agg_q = per_q
    if "sampler" in post:
        agg_q = [res[:post["sampler"]] for res in agg_q]
    if "diversified" in post:
        agg_q = _apply_diversified(spark, args.attrs, ext_cols, agg_q,
                                   post["diversified"])
    for agg in _AGGS:
        if agg.dest in post:
            _print_agg(spark, agg, post[agg.dest], args.attrs, ext_cols,
                       queries, per_q if agg.page else agg_q)
    if args.significant:
        _print_significant(spark, cfg, queries, agg_q, args.significant,
                           pidx=pidx, shards=shards)


def _add_stats(stats, ext_cols, queries, per_q, dt) -> None:
    """--relevance: feed each query's ranked ids to EvalStats."""
    if stats is None:
        return
    for q, res in zip(queries, per_q):
        stats.add(
            q,
            [(r[ext_cols[0]] if ext_cols else r["doc_id"],
              r.get("score", 0.0)) for r in res],
            search_time=dt / max(len(queries), 1),
        )


def _print_significant(spark, cfg, queries, per_q, k_terms,
                       pidx=None, shards=None) -> None:
    """--significant: ES significant_terms analog (query/significant.py)
    over each query's result set — JLH-lifted vocabulary mined from the
    index's STORED tokens (no --attrs needed), the query's own terms
    excluded. Serving-tier-agnostic: computed from the already-resolved
    result rows (doc ids are index-internal on --index, federation-global
    on --shards). One JSON line per query."""
    from searchengine_spark.query.significant import (
        significant_terms,
        significant_terms_federated,
    )
    from searchengine_spark.tokenizer import tokenize_text

    by_q: dict[int, list] = {i: [] for i in range(len(queries))}
    rows = [(i, int(r["doc_id"])) for i, res in enumerate(per_q) for r in res]
    if rows:
        hits = spark.createDataFrame(rows, "query_id int, doc_id long")
        ex_rows = [(i, t) for i, q in enumerate(queries)
                   for t in dict.fromkeys(tokenize_text(q, cfg))]
        excl = (spark.createDataFrame(ex_rows, "query_id int, term string")
                if ex_rows else None)
        out = (significant_terms_federated(shards, hits, k_terms=k_terms,
                                           exclude=excl)
               if shards is not None
               else significant_terms(pidx, hits, k_terms=k_terms,
                                      exclude=excl))
        for r in sorted(out.collect(), key=lambda r: (r["query_id"], r["rank"])):
            by_q[r["query_id"]].append(
                {"term": r["term"], "fg": int(r["fg_count"]),
                 "df": int(r["df"]), "score": r["score"]})
    for i, q in enumerate(queries):
        print(json.dumps({"query": q, "significant": by_q[i]}))


def _parse_cursor(args):
    """--search-after 'SCORE,DOC_ID' -> (score, doc_id) | None, validated
    against the flags it cannot combine with (shared by both tiers)."""
    if args.search_after is None:
        return None
    try:
        s_str, d_str = args.search_after.split(",", 1)
        cur = (float(s_str), int(d_str))
    except ValueError:
        raise SystemExit("--search-after wants 'SCORE,DOC_ID' (the "
                         "previous page's last hit)")
    if args.offset:
        raise SystemExit("--offset and --search-after are mutually "
                         "exclusive (the cursor IS the page position)")
    if args.ranker not in ("bm25", "bm25_and"):
        raise SystemExit("--search-after is wired to the bm25* rankers")
    return cur


def _print_termvectors(ids, rows) -> None:
    """One JSON line per requested doc id (ES _termvectors response
    shape): found=false for tombstoned/absent docs, else the stored
    (term, tf, df, positions) vector (shared by both tiers — federated
    rows carry federation-namespace ids)."""
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(int(r["doc_id"]), []).append({
            "term": r["term"], "tf": int(r["tf"]), "df": int(r["df"]),
            "positions": [int(p) for p in r["positions"]],
        })
    for d in dict.fromkeys(int(x) for x in ids):
        terms = sorted(by_doc.get(d, []), key=lambda t: t["term"])
        print(json.dumps({"doc_id": d, "found": bool(terms),
                          "terms": terms}))


def _parse_field_boosts(spec: str | None) -> tuple:
    """--fields "text,source^2" -> ([field, ...], {field: boost}) — the
    ES ``fields: ["source^2"]`` caret syntax. None -> (None, {}) (serve
    every field in the root manifest at boost 1)."""
    if not spec:
        return None, {}
    fields, boosts = [], {}
    for part in spec.split(","):
        part = part.strip()
        if not part:
            continue
        if "^" in part:
            name, w = part.rsplit("^", 1)
            try:
                boosts[name.strip()] = float(w)
            except ValueError:
                raise SystemExit(
                    f"--fields boost must be numeric, got {part!r}")
            fields.append(name.strip())
        else:
            fields.append(part)
    return fields, boosts


def _serve_multi_match(spark, args) -> None:
    """--multi-match best_fields|most_fields|cross_fields: ES multi_match over a
    --fields multi-field root (jobs/build_index.py --fields) — one
    query string scored across per-field indexes (aligned docIDs,
    per-field statistics), combined per doc (best + --mm-tie x rest,
    or the sum), distributed tier. One JSON result line per query."""
    from searchengine_spark.query.multimatch import (
        load_field_indexes,
        multi_match_topk,
    )
    from searchengine_spark.query.wand import resolve_docs
    from searchengine_spark.tokenizer import TokenizerConfig

    if not args.index:
        raise SystemExit("--multi-match serves from a --fields build root "
                         "(--index <root>; federation not wired)")
    for flag in ("wildcard", "regexp", "fuzzy", "synonyms", "prf",
                 "filter", "boost", "collapse", "demote", "offset"):
        if getattr(args, flag):
            raise SystemExit(f"--multi-match does not combine with --{flag}")
    t0 = time.perf_counter()
    fidx = load_field_indexes(spark, args.index)
    fields, boosts = _parse_field_boosts(args.fields)
    if fields:
        missing = [f for f in fields if f not in fidx]
        if missing:
            raise SystemExit(
                f"--fields names {missing} not in the root's field set "
                f"{list(fidx)}")
        fidx = {f: fidx[f] for f in fields}
    first = next(iter(fidx.values()))
    cfg = TokenizerConfig.from_manifest(first.manifest.get("tokenizer", {}))
    print(f"{len(fidx)} field indexes loaded in "
          f"{(time.perf_counter() - t0) * 1000:.1f}ms "
          f"({first.manifest['n_docs']} docs)", file=sys.stderr)
    queries = list(args.query or [])
    if args.queries_file:
        with open(args.queries_file) as fh:
            queries.extend(ln.strip() for ln in fh if ln.strip())
    if not queries:
        raise SystemExit("--multi-match wants --query/--queries-file "
                         "(no REPL tier yet)")
    t1 = time.perf_counter()
    if args.multi_match == "cross_fields":
        from searchengine_spark.query.multimatch import cross_fields_topk

        topk = cross_fields_topk(
            fidx, queries, cfg, k=args.n, tie_breaker=args.mm_tie,
            boosts=boosts or None, round_dp=6)
    else:
        topk = multi_match_topk(
            fidx, queries, cfg, k=args.n, mode=args.multi_match,
            tie_breaker=args.mm_tie, boosts=boosts or None, round_dp=6)
    rows = resolve_docs(first, topk).collect()
    by_q: dict[int, list] = {i: [] for i in range(len(queries))}
    for r in rows:
        by_q[r["query_id"]].append(r.asDict())
    for i, q in enumerate(queries):
        res = sorted(by_q[i], key=lambda r: (r["rank"], r["doc_id"]))
        print(json.dumps({"query": q, "mode": args.multi_match,
                          "results": res}, default=str))
    print(f"multi_match batch in {(time.perf_counter() - t1) * 1000:.1f}ms "
          f"({len(queries)} queries x {len(fidx)} fields)", file=sys.stderr)


def _gather_queries(args) -> list:
    """--query plus --queries-file lines (the same merge the batch path
    does) — for branches that dispatch before the main merge point."""
    qs = list(args.query or [])
    if args.queries_file:
        with open(args.queries_file) as fh:
            qs += [ln.strip() for ln in fh if ln.strip()]
    return qs


def _parse_span_abc(spec: str):
    """A,B,C[:W] -> (a, b, c, width) for span_within/containing."""
    body, _, w = spec.partition(":")
    parts = [x.strip() for x in body.split(",")]
    if len(parts) != 3 or not all(parts):
        raise SystemExit("--span-within/--span-containing want A,B,C[:W]")
    return parts[0], parts[1], parts[2], int(w) if w else 8


def _serve_federated(spark, args, post) -> None:
    """--shards: scatter-gather across N shard indexes, no merge — every
    ranker family federates (bm25/tfidf/*_optimized/boolean/phrase/
    minspan), plus suggest/fuzzy (federation-global dictionary),
    filter/boost (per-shard resolved doc sets), prf/mlt and the
    in-process local tier. Snapshot time travel pins per shard
    (``path@seq`` in the spec) or federation-wide (--snapshot N).
    Batch (--query/--queries-file [--output]) and the interactive loop."""
    cursor = _parse_cursor(args)
    from pyspark.sql import functions as F

    from searchengine_spark.indexing.packed import load_packed_index
    from searchengine_spark.query.federated import (
        bm25_topk_federated,
        boolean_search_federated,
        parse_shard_specs,
        proximity_topk_federated,
        resolve_docs_federated,
        resolve_shards_arg,
        tfidf_topk_federated,
    )
    from searchengine_spark.tokenizer import TokenizerConfig

    if args.ranker not in RANKERS:
        raise SystemExit(f"--shards serves {'/'.join(RANKERS)} "
                         f"(federated scatter-gather), not {args.ranker}")
    # the single-index flag surface, narrowed to what BOTH federated
    # tiers (distributed scatter-gather AND the local REPL) serve
    for flag in ("fuzzy", "boost"):
        if getattr(args, flag) and args.ranker not in ("bm25", "bm25_and"):
            raise SystemExit(f"--{flag} federates on the bm25* rankers only")
    if args.filter and args.ranker not in ("bm25", "bm25_and"):
        raise SystemExit("--filter federates on the bm25* rankers only")
    if args.prf and args.ranker != "bm25":
        raise SystemExit("--prf federates on the bm25 ranker only")
    if args.prf and (args.fuzzy or args.filter or args.boost):
        raise SystemExit("--prf does not combine with --fuzzy/--filter/--boost")
    if args.decay or args.fvf or args.random_score or args.pin:
        raise SystemExit("--decay/--fvf/--random-score/--pin serve "
                         "from a single index (--index; federation not "
                         "wired)")
    if args.sort and args.serve_mode == "local":
        raise SystemExit("--sort runs on the distributed tier "
                         "(serve-mode auto/spark)")
    if (args.filter or args.boost) and not args.attrs:
        raise SystemExit("--filter/--boost need --attrs")
    t0 = time.perf_counter()
    shards = [load_packed_index(spark, p, snapshot=seq)
              for p, seq in parse_shard_specs(
                  resolve_shards_arg(spark, args.shards), args.snapshot)]
    cfg = TokenizerConfig.from_manifest(shards[0].manifest.get("tokenizer", {}))
    n_docs = sum(s.manifest["n_docs"] for s in shards)
    stats = None
    if args.relevance:
        from searchengine_spark.query.eval import EvalStats, parse_relevance_file

        stats = EvalStats(parse_relevance_file(args.relevance))
    ext_cols = [c for c in shards[0].manifest["order_cols"] if c != "doc_id"]

    if args.has_child:
        # federated ES has_child: bounded per-shard top-k + kth-score
        # ties merge; refuses shard sets without the conversation-
        # coherence attestation (query/federated.py)
        from searchengine_spark.query.federated import (
            has_child_topk_federated,
        )

        hc = args.has_child.split(":")
        hc_queries = _gather_queries(args)
        if not hc_queries:
            raise SystemExit("--has-child wants --query/--queries-file")
        if args.has_child_inner or args.children_agg:
            raise SystemExit("--has-child-inner/--children-agg serve from "
                             "a single index (--index)")
        out = has_child_topk_federated(
            shards, hc_queries, cfg, score_mode=hc[0],
            min_children=int(hc[1]) if len(hc) > 1 else 1,
            max_children=int(hc[2]) if len(hc) > 2 else None,
            k=args.n, round_dp=6,
            assume_coherent=args.assume_coherent)
        print(json.dumps({"hits": [r.asDict() for r in out.collect()]},
                         default=str))
        return

    print(f"{len(shards)} shards loaded in "
          f"{(time.perf_counter() - t0) * 1000:.1f}ms ({n_docs} docs)",
          file=sys.stderr)

    if args.analyze is not None:
        from searchengine_spark.query.analyze import analyze_text

        print(json.dumps({"text": args.analyze,
                          "tokens": analyze_text(args.analyze, cfg)}))
        return
    if (args.span_first or args.span_not or args.span_within
            or args.span_containing):
        from searchengine_spark.query.federated import (
            span_containing_topk_federated,
            span_first_topk_federated,
            span_not_topk_federated,
            span_within_topk_federated,
        )

        pidxs = list(shards)
        if args.span_first:
            term, _, end = args.span_first.rpartition(":")
            if not term:
                raise SystemExit("--span-first wants TERM:END")
            res = span_first_topk_federated(
                pidxs, [(term, int(end))], cfg, k=args.n)
        elif args.span_not:
            inc, _, exc = args.span_not.partition(",")
            if not exc:
                raise SystemExit("--span-not wants INC,EXC")
            res = span_not_topk_federated(
                pidxs, [(inc, exc)], cfg, pre=args.span_pre,
                post=args.span_post, k=args.n)
        else:
            spec = args.span_within or args.span_containing
            a, b, c, w = _parse_span_abc(spec)
            fn = (span_within_topk_federated if args.span_within
                  else span_containing_topk_federated)
            res = fn(pidxs, [(a, b, c, w)], cfg, k=args.n)
        print(json.dumps({"hits": [r.asDict() for r in res.collect()]},
                         default=str))
        return
    if args.terms_set:
        raise SystemExit("--terms-set serves --index only")
    if args.intervals:
        from searchengine_spark.query.federated import (
            intervals_topk_federated,
            resolve_docs_federated,
        )

        mode, _, gaps = args.intervals.partition(":")
        if mode not in ("ordered", "unordered"):
            raise SystemExit("--intervals wants ordered|unordered[:MAX_GAPS]")
        if not args.query:
            raise SystemExit("--intervals wants --query/--queries-file")
        fed = intervals_topk_federated(
            list(shards), args.query, cfg, ordered=mode == "ordered",
            max_gaps=int(gaps) if gaps else 0, k=args.n)
        res = resolve_docs_federated(
            list(shards), fed.withColumnRenamed("n_intervals", "score"))
        print(json.dumps({"hits": [r.asDict() for r in res.collect()]},
                         default=str))
        return
    if args.term_suggest:
        from searchengine_spark.query.federated import _global_dictionary
        from searchengine_spark.query.fuzzy import term_suggestions
        from searchengine_spark.tokenizer import tokenize_text as _tok

        words = list(dict.fromkeys(_tok(args.term_suggest, cfg)))
        rows = term_suggestions(_global_dictionary(shards), words,
                                k=args.n, mode=args.suggest_mode,
                                fuzziness=_fuzziness(args)).collect()
        by_w: dict[str, list] = {w: [] for w in words}
        for r in sorted(rows, key=lambda r: (r["qterm"], r["rank"])):
            by_w[r["qterm"]].append(
                {"suggestion": r["suggestion"], "df": int(r["df"])})
        print(json.dumps({"mode": args.suggest_mode, "suggest": by_w}))
        return
    if args.phrase_suggest:
        from searchengine_spark.query.federated import _global_dictionary
        from searchengine_spark.query.fuzzy import phrase_suggestions
        from searchengine_spark.tokenizer import tokenize_text as _tok

        words = _tok(args.phrase_suggest, cfg)
        got = phrase_suggestions(_global_dictionary(shards), words, k=args.n)
        print(json.dumps({"input": " ".join(words), "suggestions": [
            {"phrase": p, "score": int(s), "n_edits": int(e)}
            for p, s, e in got]}))
        return
    if args.suggest:
        from searchengine_spark.query.federated import suggest_terms_federated

        rows = suggest_terms_federated(shards, args.suggest, k=args.n).collect()
        print(json.dumps({
            "prefix": args.suggest,
            "suggestions": [{"term": r["term"], "df": int(r["df"])}
                            for r in rows],
        }))
        return

    if args.must or args.should:
        t1 = time.perf_counter()
        if args.serve_mode in ("auto", "local"):
            from searchengine_spark.query.boolquery import bool_query_local
            from searchengine_spark.query.serve import FederatedLocalSearcher

            res = bool_query_local(
                FederatedLocalSearcher(shards, cfg=cfg), must=args.must,
                should=args.should, must_not=args.bool_must_not,
                filter_terms=args.bool_filter,
                min_should_match=args.bool_msm, k=args.n, round_dp=6)
        else:
            from searchengine_spark.query.boolquery import (
                bool_query_topk_federated,
            )

            out = resolve_docs_federated(shards, bool_query_topk_federated(
                shards, cfg, must=args.must, should=args.should,
                must_not=args.bool_must_not, filter_terms=args.bool_filter,
                min_should_match=args.bool_msm, k=args.n, round_dp=6))
            res = sorted((r.asDict() for r in out.collect()),
                         key=lambda r: r["rank"])
        print(json.dumps({"bool": {
            "must": args.must, "should": args.should,
            "must_not": args.bool_must_not, "filter": args.bool_filter,
            "msm": args.bool_msm}, "results": res}, default=str))
        print(f"federated bool query in "
              f"{(time.perf_counter() - t1) * 1000:.1f}ms "
              f"({len(shards)} shards)", file=sys.stderr)
        return

    if args.termvectors:
        from searchengine_spark.query.termvectors import term_vectors_federated

        ids = [int(x) for x in args.termvectors.split(",")]
        rows = term_vectors_federated(shards, ids, positions=True).collect()
        _print_termvectors(ids, rows)
        return

    if args.mlt:
        from searchengine_spark.query.federated import more_like_this_federated

        ids = [int(x) for x in args.mlt.split(",")]  # federation-global ids
        t1 = time.perf_counter()
        rows = resolve_docs_federated(
            shards, more_like_this_federated(shards, ids, k=args.n)
        ).collect()
        by_src: dict[int, list] = {}
        for r in rows:
            by_src.setdefault(r["query_id"], []).append(r.asDict())
        for i, d in enumerate(ids):
            res = sorted(by_src.get(i, []), key=lambda r: r["rank"])
            print(json.dumps({"more_like": d, "results": res}, default=str))
        print(f"federated more-like-this in "
              f"{(time.perf_counter() - t1) * 1000:.1f}ms", file=sys.stderr)
        return

    prf = None
    if args.prf:
        r_s, m_s, beta_s = args.prf.split(",")
        prf = (int(r_s), int(m_s), float(beta_s))
    synonyms = _parse_synonyms_args(args)

    queries = list(args.query or [])
    if args.queries_file:
        with open(args.queries_file) as fh:
            queries += [ln.strip() for ln in fh if ln.strip()]

    doc_filters = doc_boosts = None
    if args.filter or args.boost:
        from searchengine_spark.query.wand import boost_doc_ids, filter_doc_ids

        attrs = spark.read.parquet(args.attrs)
        if args.filter:
            doc_filters = [filter_doc_ids(s, attrs, args.filter) for s in shards]
        if args.boost:
            doc_boosts = [boost_doc_ids(s, attrs, args.boost) for s in shards]

    # in-process federated tier (zero Spark jobs per query once warm):
    # the REPL default, or any batch without --output under an explicit
    # --serve-mode local — the same tier selection the --index path makes
    if (prf or synonyms) and args.serve_mode == "local":
        raise SystemExit("--prf/--synonyms run on the distributed tier "
                         "(serve-mode auto/spark)")
    if args.collapse and args.serve_mode == "local":
        raise SystemExit("--collapse runs on the distributed tier "
                         "(serve-mode auto/spark)")
    local = None
    if args.dismax is not None and args.serve_mode == "local":
        raise SystemExit("--dismax runs on the distributed tier "
                         "(serve-mode auto/spark)")
    use_local = (not prf and not synonyms and not args.output
                 and not args.collapse and args.dismax is None
                 and args.rescore is None
                 and args.ranker != "bool_prefix" and (
        args.serve_mode == "local"
        or (args.serve_mode == "auto" and not queries)
    ))
    if args.explain and not use_local:
        raise SystemExit("--explain serves from the local tier — use the "
                         "REPL or add --serve-mode local")
    if use_local:
        from searchengine_spark.query.federated import _doc_bases
        from searchengine_spark.query.serve import FederatedLocalSearcher

        t1 = time.perf_counter()
        local = FederatedLocalSearcher(shards, cfg=cfg)
        filter_ids = boost_map = None
        if doc_filters is not None:
            filter_ids = [
                int(r["doc_id"]) + base
                for f, base in zip(doc_filters, _doc_bases(shards))
                for r in f.collect()
            ]
        if doc_boosts is not None:
            boost_map = {
                int(r["doc_id"]) + base: float(r["boost"])
                for f, base in zip(doc_boosts, _doc_bases(shards))
                for r in f.collect()
            } or None
        print(f"federated local snapshot ({len(shards)} shards) in "
              f"{(time.perf_counter() - t1) * 1000:.0f}ms", file=sys.stderr)

    def run_local(q: str) -> None:
        t1 = time.perf_counter()
        if args.explain:
            res = local.explain(q, k=args.n, fuzzy=args.fuzzy)
        elif args.ranker == "phrase":
            res = local.phrase(q, k=args.n, slop=args.slop)
        elif args.ranker == "phrase_prefix":
            res = local.phrase_prefix(q, k=args.n, slop=args.slop)
        elif args.ranker == "minspan":
            res = local.minspan(q, k=args.n)
        else:
            from searchengine_spark.query.negation import split_negations
            from searchengine_spark.query.termboost import split_boosts

            if split_boosts(q)[1]:
                raise SystemExit("term^W boosts serve from the distributed "
                                 "tier (--serve-mode spark / batch mode)")
            pos, neg = split_negations(q)
            res = local.search(
                pos, k=args.n, ranker=args.ranker, schema=args.schema,
                fuzzy=args.fuzzy, filter_docs=filter_ids, boost_docs=boost_map,
                exclude=neg or None, offset=args.offset,
                search_after=cursor,
                min_should_match=_resolve_msm_one(args.min_should_match,
                                                  pos, cfg),
                demote=(args.demote.split() if args.demote else None),
                negative_boost=args.negative_boost,
                wildcard=args.wildcard, max_expansions=args.max_expansions,
                allow_leading_wildcard=args.allow_leading_wildcard,
                regexp=args.regexp,
            )
        dt = time.perf_counter() - t1
        _post_process(spark, args, post, cfg, ext_cols, [q], [res],
                      shards=shards)
        _add_stats(stats, ext_cols, [q], [res], dt)
        print(json.dumps({"query": q, "results": res}, default=str))
        print(f"federated local search in {dt * 1000:.1f}ms "
              f"({len(shards)} shards)", file=sys.stderr)

    def run(batch: list[str]) -> None:
        t1 = time.perf_counter()
        from searchengine_spark.query.negation import parse_negated_queries

        batch, excludes = _parse_negations(batch, cfg, args.ranker, prf,
                                           parse_negated_queries)
        if args.offset and args.ranker not in ("bm25", "bm25_and"):
            raise SystemExit("--offset is wired to the bm25* rankers")
        if args.offset and prf:
            raise SystemExit("--offset does not combine with --prf")
        if cursor is not None and prf:
            raise SystemExit("--search-after does not combine with --prf")
        if args.min_should_match is not None and (args.ranker != "bm25"
                                                  or prf):
            raise SystemExit("--min-should-match is wired to --ranker bm25 "
                             "(does not combine with --prf)")
        if args.dismax is not None:
            if (args.ranker != "bm25" or prf or args.fuzzy or args.wildcard
                    or args.regexp
                    or synonyms is not None or doc_filters is not None
                    or doc_boosts is not None or args.offset
                    or cursor is not None or args.collapse or args.demote
                    or args.min_should_match is not None):
                raise SystemExit("--dismax combines only with plain bm25 "
                                 "retrieval")
            from searchengine_spark.query.dismax import dismax_topk_federated

            groups = [[p_ for p_ in q.split("|") if p_.strip()]
                      for q in batch]
            frame = resolve_docs_federated(shards, dismax_topk_federated(
                shards, groups, cfg, k=args.n, tie_breaker=args.dismax))
        if args.rescore is not None:
            if (args.ranker != "bm25" or prf or args.fuzzy or args.wildcard
                    or args.regexp
                    or synonyms is not None or doc_filters is not None
                    or doc_boosts is not None or args.offset
                    or cursor is not None or args.collapse or args.demote
                    or args.min_should_match is not None
                    or args.dismax is not None):
                raise SystemExit("--rescore combines only with plain bm25 "
                                 "retrieval")
            from searchengine_spark.query.rescore import (
                rescore_topk_federated,
            )

            rqs, window, qw, rqw, mode = _rescore_spec(args)
            if len(rqs) == 1 and len(batch) > 1:
                rqs = rqs * len(batch)
            if len(rqs) != len(batch):
                raise SystemExit(
                    f"--rescore gave {len(rqs)} subqueries for "
                    f"{len(batch)} queries")
            from functools import reduce as _red

            from pyspark.sql import DataFrame as _DF
            from pyspark.sql import functions as _F

            from searchengine_spark.query.federated import _doc_bases

            out = rescore_topk_federated(
                shards, batch, rqs, cfg, k=args.n,
                window_size=window, query_weight=qw,
                rescore_query_weight=rqw, score_mode=mode,
                round_dp=6)
            ext = [c for c in shards[0].manifest["order_cols"]
                   if c != "doc_id"]
            dm = _red(_DF.unionByName, [
                sh.docmap.select(
                    (_F.col("doc_id") + _F.lit(b)).cast("long")
                    .alias("doc_id"), *ext)
                for sh, b in zip(shards, _doc_bases(shards))
            ])
            # manual resolve keeps the primary/secondary columns the
            # generic resolve_docs_federated would drop
            frame = out.join(dm, "doc_id").select(
                "query_id", "doc_id", *ext,
                "primary", "secondary", "score", "rank")
        dem_fed = None
        if args.demote:
            from searchengine_spark.query.negation import negated_terms

            dts = set(negated_terms(args.demote.split(), cfg))
            dem_fed = ({i: dts for i in range(len(batch))}
                       if dts else None)
        if args.dismax is not None or args.rescore is not None:
            pass  # frame already computed above
        elif args.sort:
            if (args.ranker not in ("bm25", "bm25_and") or prf
                    or args.fuzzy or args.wildcard or args.regexp
                    or synonyms is not None
                    or doc_filters is not None or doc_boosts is not None
                    or args.offset or cursor is not None
                    or args.demote or args.collapse):
                raise SystemExit("--sort combines only with plain "
                                 "bm25/bm25_and retrieval (+ '-term' "
                                 "negation)")
            from searchengine_spark.query.sortby import (
                sort_by_attr_federated,
            )

            col_, asc_, miss_ = _sort(args)
            # (query_id, doc_id, *ext, sort_value, score, rank) —
            # already resolved; doc_id is federation-global
            frame = sort_by_attr_federated(
                shards, batch, cfg, spark.read.parquet(args.attrs),
                col_, k=args.n, ascending=asc_, missing=miss_,
                conjunctive=args.ranker == "bm25_and", round_dp=6,
                exclude_terms=excludes)
        elif args.collapse:
            if (args.ranker not in ("bm25", "bm25_and") or prf
                    or args.fuzzy or args.wildcard or args.regexp
                    or synonyms is not None
                    or doc_filters is not None or doc_boosts is not None
                    or args.offset or cursor is not None
                    or args.demote):
                raise SystemExit("--collapse combines only with plain "
                                 "bm25/bm25_and retrieval (+ '-term' "
                                 "negation)")
            from searchengine_spark.query.collapse import (
                collapse_topk_federated,
            )

            # (query_id, <group_col>, doc_id, score, rank) — the group
            # col IS the external id; doc_id is federation-global
            frame = collapse_topk_federated(
                shards, batch, cfg, k=args.n,
                group_col=args.collapse,
                conjunctive=args.ranker == "bm25_and",
                exclude_terms=excludes,
                min_should_match=_resolve_msm(args.min_should_match,
                                              batch, cfg))
        elif args.ranker == "bm25" and prf:
            from searchengine_spark.query.federated import (
                prf_bm25_topk_federated,
            )

            r, m, beta = prf
            topk = prf_bm25_topk_federated(
                shards, batch, cfg, k=args.n, r=r, m=m, beta=beta,
                exhaustive=args.exhaustive)
        elif args.ranker in ("bm25", "bm25_and"):
            q_terms = t_weights = None
            if any("^" in q for q in batch):
                from searchengine_spark.query.termboost import (
                    parse_boosted_queries,
                )

                if synonyms is not None:
                    raise SystemExit("term^W boosts do not combine with "
                                     "--synonyms (both drive term weights)")
                batch, t_weights = parse_boosted_queries(batch, cfg)
                t_weights = t_weights or None
            if synonyms is not None:
                from searchengine_spark.query.synonyms import (
                    expand_query_terms,
                )

                q_terms, t_weights = expand_query_terms(
                    batch, cfg, synonyms[0], weight=synonyms[1])
            if args.wildcard or args.regexp:
                from searchengine_spark.query.federated import (
                    _global_dictionary,
                )

                # patterns expand ONCE against the federation-global
                # dictionary, so every shard scores the identical query
                batch, q_terms = _expand_pattern_batch(
                    _global_dictionary(shards), batch, cfg,
                    _wc(args), _rx(args))
            topk = bm25_topk_federated(
                shards, batch, cfg, k=args.n, exhaustive=args.exhaustive,
                fuzzy=args.fuzzy, conjunctive=args.ranker == "bm25_and",
                doc_filters=doc_filters, doc_boosts=doc_boosts,
                query_terms=q_terms, term_weights=t_weights or None,
                exclude_terms=excludes, offset=args.offset,
                search_after=({i: cursor for i in range(len(batch))}
                              if cursor is not None else None),
                min_should_match=_resolve_msm(args.min_should_match,
                                              batch, cfg),
                demote_terms=dem_fed,
                negative_boost=args.negative_boost)
        elif args.ranker == "tfidf":
            topk = tfidf_topk_federated(
                shards, batch, cfg, k=args.n, schema=args.schema)
        elif args.ranker in ("bm25_optimized", "tfidf_optimized"):
            topk = proximity_topk_federated(
                shards, batch, cfg, k=args.n,
                mode=args.ranker.split("_")[0], schema=args.schema)
        elif args.ranker == "bool_prefix":
            from searchengine_spark.query.federated import (
                match_bool_prefix_topk_federated,
            )

            topk = match_bool_prefix_topk_federated(
                shards, batch, cfg, k=args.n).select(
                "query_id", "doc_id", "score",
                F.col("rank").cast("int").alias("rank"))
        elif args.ranker in ("phrase", "phrase_prefix"):
            from searchengine_spark.query.federated import (
                phrase_prefix_topk_federated,
                phrase_topk_federated,
            )

            fed_fn = (phrase_topk_federated if args.ranker == "phrase"
                      else phrase_prefix_topk_federated)
            ph = fed_fn(shards, batch, cfg, k=args.n, slop=args.slop)
            topk = ph.select(
                "query_id", "doc_id",
                F.col("n_occurrences").cast("double").alias("score"),
                F.col("rank").cast("int").alias("rank"),
            )
        elif args.ranker == "minspan":
            from searchengine_spark.query.federated import minspan_topk_federated

            ms = minspan_topk_federated(shards, batch, cfg, k=args.n)
            topk = ms.select(
                "query_id", "doc_id",
                F.col("span_len").cast("double").alias("score"),
                F.col("rank").cast("int").alias("rank"),
            )
        else:  # boolean_and / boolean_or — the single-index set contract:
            # score = matched-term count (OR) / per-query constant (AND),
            # rank 0, NO top-k cut ("no top-k in boolean retrieval")
            from searchengine_spark.tokenizer import tokenize_text

            op = args.ranker.split("_")[1]
            if args.constant_score is not None:
                # ES constant_score, federated: membership shard-exact,
                # doc_id-ASC ranks = the federation tie order
                from searchengine_spark.query.federated import (
                    constant_score_topk_federated,
                )

                if excludes:
                    raise SystemExit("--constant-score does not combine "
                                     "with '-term' negation")
                topk = constant_score_topk_federated(
                    shards, batch, cfg, boost=args.constant_score,
                    op=op, k=args.n).select(
                    "query_id", "doc_id", "score",
                    F.col("rank").cast("int").alias("rank"))
                hits = None
            else:
                hits = boolean_search_federated(shards, batch, cfg, op=op,
                                                exclude_terms=excludes)
            if hits is None:
                pass
            elif op == "or":
                topk = hits.select(
                    "query_id", "doc_id",
                    F.col("n_terms").cast("double").alias("score"),
                    F.lit(0).alias("rank"),
                )
            else:
                nq = spark.createDataFrame(
                    [(i, float(len(dict.fromkeys(tokenize_text(q, cfg)))))
                     for i, q in enumerate(batch)],
                    "query_id int, score double",
                )
                topk = hits.join(F.broadcast(nq), "query_id").select(
                    "query_id", "doc_id", "score", F.lit(0).alias("rank"),
                )
        if (not args.collapse and args.dismax is None and not args.sort
                and args.rescore is None):
            frame = resolve_docs_federated(shards, topk)
        if args.output:
            qdf = spark.createDataFrame(
                list(enumerate(batch)), "query_id int, query string")
            frame.join(F.broadcast(qdf), "query_id").write.mode(
                "overwrite").parquet(args.output)
            dt = time.perf_counter() - t1
            print(json.dumps({
                "queries": len(batch), "shards": len(shards),
                "output": args.output, "seconds": round(dt, 3),
                "queries_per_sec": round(len(batch) / dt, 2),
            }))
            return
        rows = frame.collect()
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r.asDict())
        dt = time.perf_counter() - t1
        per_q = [
            sorted(by_q.get(i, []), key=lambda r: (r["rank"], r["doc_id"]))
            for i in range(len(batch))
        ]
        _post_process(spark, args, post, cfg, ext_cols, batch, per_q,
                      shards=shards)
        _add_stats(stats, ext_cols, batch, per_q, dt)
        for q, res in zip(batch, per_q):
            print(json.dumps({"query": q, "results": res}, default=str))
        print(f"federated search in {dt * 1000:.1f}ms "
              f"({len(batch)} queries, {len(shards)} shards)", file=sys.stderr)

    if queries:
        if local is not None:  # explicit --serve-mode local batch
            for q in queries:
                run_local(q)
        else:
            run(queries)
        if stats is not None and stats.search_times:
            print(stats.summary(), file=sys.stderr)
        return
    while True:
        try:
            line = input("Search (exit interactive search with 'q'): ")
        except EOFError:
            break
        if line.strip().lower() == "q":
            break
        if line.strip():
            if local is not None:
                run_local(line.strip())
            else:
                run([line.strip()])
    if stats is not None and stats.search_times:
        print(stats.summary(), file=sys.stderr)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", default=None,
                    help="index dir, or alias:NAME resolved through "
                         "--aliases (indexing/aliases.py)")
    ap.add_argument("--aliases", default="aliases.json",
                    help="alias registry file for alias:NAME --index "
                         "values (default ./aliases.json)")
    ap.add_argument("--shards", default=None, metavar="A[@SEQ],B,...",
                    help="comma-separated shard index paths: FEDERATED "
                         "scatter-gather serving across all of them with no "
                         "merge (query/federated.py; all rankers) — idf is "
                         "federation-global and exact, dl_norm shard-local "
                         "(the ES dfs_query_then_fetch contract); a "
                         "path@SEQ suffix pins that shard to a historical "
                         "snapshot")
    ap.add_argument("--query", action="append",
                    help="repeatable; omit entirely for the interactive REPL")
    ap.add_argument("-n", type=int, default=10)
    ap.add_argument("--ranker", choices=RANKERS, default="bm25")
    ap.add_argument("--min-token-length", type=int, default=None)
    ap.add_argument("--stop-words", default=None,
                    help="stop-word file; 'none' disables the manifest list")
    ap.add_argument("--schema", default="lnc.ltc",
                    help="SMART ddd.qqq schema for the tfidf rankers "
                         "(any doc-side l|b|n x c|b|n serves from the "
                         "packed index)")
    ap.add_argument("--exhaustive", action="store_true",
                    help="disable block-max pruning (exact fallback path)")
    ap.add_argument("--fuzzy", action="store_true",
                    help="correct out-of-vocabulary query terms to their "
                         "best Levenshtein distance-1 dictionary neighbor "
                         "(SymSpell symmetric-delete, query/fuzzy.py); any "
                         "non-positional local-tier ranker, bm25 on the "
                         "distributed path")
    ap.add_argument("--serve-mode", choices=("auto", "local", "spark"),
                    default="auto",
                    help="'local': in-process LocalSearcher (no Spark job "
                         "per query — the interactive tier); 'spark': "
                         "distributed batch paths; 'auto' (default): local "
                         "for the interactive REPL, spark for --query batch")
    ap.add_argument("--relevance", default=None,
                    help="queries.relevance.txt for precision/recall/NDCG stats")
    ap.add_argument("--snapshot", type=int, default=None,
                    help="pin a historical index state (snapshot seq; "
                         "indexing/snapshots.py — time travel to e.g. the "
                         "pre-delete or pre-compaction state); with "
                         "--shards it pins every shard without an explicit "
                         "@SEQ suffix to this seq")
    ap.add_argument("--context", default=None, metavar="N_BEFORE,N_AFTER",
                    help="context-window expansion (query/context.py): "
                         "attach the ±window turns of each hit's "
                         "conversation from --snippet-source — the "
                         "transcript-RAG context-assembly step; "
                         "--index only")
    ap.add_argument("--snippet-source", default=None,
                    help="parquet dir of the source table keyed by the "
                         "index's order_cols; attaches a best-window text "
                         "snippet to every result row")
    ap.add_argument("--highlight", action="store_true",
                    help="ES highlight analog (query/highlight.py): with "
                         "--snippet-source, also attach the WHOLE field "
                         "with <em> tags around every analyzed "
                         "query-term occurrence (number_of_fragments=0 "
                         "mode; stemming/stop words respected)")
    ap.add_argument("--queries-file", default=None,
                    help="text file, one query per line: batch mode at "
                         "scale — pairs with --output to stream results "
                         "to parquet without a driver collect")
    ap.add_argument("--output", default=None,
                    help="parquet dir for batch results (query_id, query, "
                         "doc_id, *external ids, score, rank); one Spark "
                         "job for the whole file")
    ap.add_argument("--analyze", default=None, metavar="TEXT",
                    help="ES _analyze analog (query/analyze.py): print "
                         "how the INDEX'S tokenizer chain analyzes TEXT "
                         "— token/position/offsets JSON; --index or "
                         "--shards")
    ap.add_argument("--has-child", default=None,
                    metavar="max|sum|min|avg[:MIN[:MAX]]",
                    help="ES has_child analog (query/parentchild.py): "
                         "rank CONVERSATIONS by their matching turns' "
                         "combined BM25 (score_mode + ES min/max_children"
                         " bounds); score-all surface; --index only")
    ap.add_argument("--has-child-inner", type=int, default=None,
                    metavar="N",
                    help="with --has-child: ES inner_hits — each top-k "
                         "conversation carries its best N matching turns "
                         "from the same score-all pass")
    ap.add_argument("--assume-coherent", action="store_true",
                    help="with --shards --has-child: attest out-of-band "
                         "that every conversation lives in ONE shard "
                         "(skips the manifest shard_coherent_by check — "
                         "needed for shard sets built before the "
                         "attestation existed, or hand-split corpora)")
    ap.add_argument("--children-agg", default=None, metavar="COL",
                    help="ES children aggregation "
                         "(query/parentchild.py children_terms_agg): "
                         "step from the --has-child qualifying "
                         "conversations down to ALL their turns and "
                         "bucket this child attribute column from "
                         "--attrs (top-n by count desc, value asc; "
                         "NULLs skip)")
    ap.add_argument("--intervals", default=None,
                    metavar="ordered|unordered[:MAX_GAPS]",
                    help="ES intervals query (query/intervals.py): "
                         "minimal-interval matching over the positional "
                         "index — count of minimal (in-order / any-"
                         "order) covering windows with gap count <= "
                         "MAX_GAPS per doc, integer ranking; runs the "
                         "--query batch; positional builds, --index or "
                         "--shards (exact federation)")
    ap.add_argument("--span-first", default=None, metavar="TERM:END",
                    help="ES span_first (query/spanqueries.py): docs "
                         "where TERM occurs at an analyzed position < "
                         "END, ranked first_pos asc; positional build, "
                         "--index only, in-process local tier")
    ap.add_argument("--span-not", default=None, metavar="INC,EXC",
                    help="ES span_not (query/spanqueries.py): INC "
                         "occurrences with no EXC occurrence within "
                         "[pos - span-pre, pos + span-post], ranked "
                         "n_clear desc; positional build, --index only")
    ap.add_argument("--span-within", default=None, metavar="A,B,C[:W]",
                    help="ES span_within (query/spanqueries.py): "
                         "occurrences of little term C inside some big "
                         "ordered window [posA, posB], posA < posB <= "
                         "posA + W (default 8), ranked n_within desc; "
                         "positional build, --index or --shards")
    ap.add_argument("--span-containing", default=None, metavar="A,B,C[:W]",
                    help="ES span_containing (query/spanqueries.py): "
                         "big (A..B) windows containing a C occurrence, "
                         "counted per doc, ranked n_containing desc; "
                         "positional build, --index or --shards")
    ap.add_argument("--span-pre", type=int, default=0,
                    help="span_not window before the include position")
    ap.add_argument("--span-post", type=int, default=0,
                    help="span_not window after the include position")
    ap.add_argument("--fuzzy-terms", action="store_true",
                    help="ES fuzzy QUERY (query/fuzzyquery.py): word~ / "
                         "word~1 / word~2 in --query expand against the "
                         "dictionary within the edit budget (AUTO "
                         "ladder for bare ~; distance asc, df desc, "
                         "--max-expansions cap) and score BM25 OR; "
                         "distinct from --fuzzy top-1 correction; "
                         "--index only")
    ap.add_argument("--sampler", type=int, default=None, metavar="N",
                    help="ES sampler aggregation: cut every other agg "
                         "flag's input to each query's N best-ranked "
                         "hits (ranked page stays full); composes "
                         "before --diversified")
    ap.add_argument("--terms-set", default=None, metavar="EXPR",
                    help="ES terms_set (query/termsset.py): per-DOC "
                         "minimum_should_match — EXPR over the --attrs "
                         "columns yields each doc's coverage floor; "
                         "eligible docs score as plain bool/should "
                         "BM25; --index only, single --query")
    ap.add_argument("--fuzziness", default="1",
                    choices=("1", "2", "auto"),
                    help="--term-suggest edit budget (ES fuzziness): 1, "
                         "2, or the AUTO ladder (0/<3 chars, 1/3-5, "
                         "2/>5); distance ranks before frequency")
    ap.add_argument("--term-suggest", default=None, metavar="WORDS",
                    help="ES term suggester / did-you-mean "
                         "(query/fuzzy.py term_suggestions): per word, "
                         "top dictionary neighbors at Levenshtein<=1, "
                         "df-ranked, the word itself never suggested; "
                         "gate with --suggest-mode; --index or --shards")
    ap.add_argument("--phrase-suggest", default=None, metavar="WORDS",
                    help="ES phrase suggester / whole-query did-you-mean "
                         "(query/fuzzy.py phrase_suggestions): per "
                         "position self + df-top distance-1 neighbors, "
                         "2-edit budget, ranked by the exact df product; "
                         "--index or --shards")
    ap.add_argument("--suggest-mode", default="missing",
                    choices=("missing", "popular", "always"),
                    help="--term-suggest gate (ES suggest_mode): missing "
                         "= only OOV words (default), popular = only "
                         "more-frequent neighbors, always = every word")
    ap.add_argument("--suggest", default=None, metavar="PREFIX",
                    help="dictionary auto-complete: print terms with the "
                         "prefix ranked by live df and exit")
    ap.add_argument("--mlt", default=None, metavar="DOC_IDS",
                    help="comma-separated source doc ids: more-like-this "
                         "retrieval (the doc's top terms become the "
                         "query; --query is ignored)")
    ap.add_argument("--termvectors", default=None, metavar="DOC_IDS",
                    help="comma-separated doc ids: ES _termvectors analog "
                         "(query/termvectors.py) — print each live doc's "
                         "stored (term, tf, df, positions) vector and exit; "
                         "df is the stored sidecar value (includes "
                         "tombstones until compaction — the ES contract); "
                         "--index or --shards (federation-namespace ids)")
    ap.add_argument("--prf", default=None, metavar="R,M,BETA",
                    help="Rocchio pseudo-relevance feedback on the bm25 "
                         "ranker: top-R feedback docs contribute the M "
                         "highest-weight expansion terms at weight BETA "
                         "(e.g. '5,5,0.5'); runs on the distributed tier "
                         "(two retrieval passes)")
    ap.add_argument("--filter", default=None,
                    help="SQL predicate over --attrs columns (e.g. "
                         "\"role = 'user'\"): attribute-filtered retrieval "
                         "— the top-k is computed over only matching docs "
                         "(bm25/boolean rankers)")
    ap.add_argument("--boost", default=None, metavar="EXPR",
                    help="SQL expression over --attrs columns producing a "
                         "non-negative score multiplier (e.g. \"CASE WHEN "
                         "role='user' THEN 1.5 ELSE 1.0 END\"): doc-boosted "
                         "retrieval on the bm25 rankers")
    ap.add_argument("--attrs", default=None,
                    help="parquet dir of the attribute table carrying the "
                         "index's order_cols plus the --filter columns "
                         "(typically the source corpus); required with "
                         "--filter")
    ap.add_argument("--explain", action="store_true",
                    help="Lucene/ES explain analog (serve.py explain): "
                         "each result carries a per-term BM25 score "
                         "breakdown (term, tf, idf, dl_norm, "
                         "contribution); local serving tier, bm25, "
                         "--index or --shards")
    ap.add_argument("--synonyms", default=None, metavar="FILE",
                    help="query-time synonym expansion (query/synonyms.py; "
                         "ES synonym-filter analog): rules 'term => a, b' "
                         "normalize through the query tokenize chain and "
                         "expand bm25 queries on --index and --shards; "
                         "the index never needs rebuilding")
    ap.add_argument("--synonym-weight", type=float, default=1.0,
                    help="score weight for ADDED synonym terms (default "
                         "1.0 = ES equal footing; <1.0 for soft related-"
                         "term expansion; explicit query terms always "
                         "score at 1.0)")
    ap.add_argument("--wildcard", action="store_true",
                    help="expand te*t / te?t query words against the "
                         "dictionary (query/wildcard.py; df-ranked, capped "
                         "at --max-expansions) and score the expansion as "
                         "ordinary BM25 OR — ES wildcard / Lucene "
                         "scoring_boolean rewrite; --ranker bm25 only")
    ap.add_argument("--decay", default=None,
                    metavar="FIELD:FN:ORIGIN:SCALE[:DECAY[:OFFSET]]",
                    help="ES function_score decay (query/decay.py): "
                         "rescale every matched doc's BM25 by "
                         "gauss/exp/linear distance decay on a numeric "
                         "attribute (docs missing the field decay to "
                         "1.0); combine via --boost-mode; needs --attrs; "
                         "bm25/bm25_and, distributed tier, --index only")
    ap.add_argument("--fvf", default=None,
                    metavar="FIELD:MODIFIER[:FACTOR[:MISSING]]",
                    help="ES function_score field_value_factor "
                         "(query/decay.py): score combines with "
                         "modifier(factor x attribute) — modifiers "
                         "none/log/log1p/log2p/ln/ln1p/ln2p/square/sqrt/"
                         "reciprocal; NULL or undefined values use "
                         "MISSING (default 1.0); combine via "
                         "--boost-mode; needs --attrs; bm25/bm25_and, "
                         "distributed tier, --index only")
    ap.add_argument("--max-query-cost", type=int, default=None,
                    metavar="POSTINGS",
                    help="ES circuit-breaker analog (query/cost.py): "
                         "estimate each query's postings cost (exact "
                         "sum-of-df from term_stats, one bounded point "
                         "scan) and refuse the whole request when any "
                         "query exceeds the budget; distributed tier, "
                         "--index only")
    ap.add_argument("--constant-score", type=float, default=None,
                    metavar="BOOST",
                    help="ES constant_score query (query/boolquery.py "
                         "constant_score_topk): filter-context retrieval "
                         "— every match scores exactly BOOST, ranks are "
                         "doc_id ASC, page cut at -n; wraps the boolean "
                         "rankers (--ranker boolean_and|boolean_or), "
                         "never reads scoring statistics; --index only")
    ap.add_argument("--count-only", action="store_true",
                    help="ES _count analog (query/wand.py "
                         "match_counts_packed): print per-query "
                         "matched-doc counts instead of hits — no "
                         "ranking, no driver-side results; honors "
                         "--ranker bm25_and (conjunctive) and '-term' "
                         "negation; --index only, batch mode")
    ap.add_argument("--pin", default=None, metavar="ID[,ID...]",
                    help="ES pinned query (query/pinned.py): promote the "
                         "listed external ids to the TOP in the given "
                         "order, organic bm25 below excluding them; "
                         "multi-column ids join values with '|' "
                         "(conv01|3); unknown ids skip; bm25/bm25_and, "
                         "distributed tier, --index only")
    ap.add_argument("--random-score", default=None, metavar="SEED",
                    help="ES function_score random_score "
                         "(query/decay.py): deterministic md5-seeded "
                         "[0,1) per matched doc — '--boost-mode replace' "
                         "= a reproducible random sample of the matches; "
                         "multiply/sum jitter relevance; bm25/bm25_and, "
                         "distributed tier, --index only")
    ap.add_argument("--boost-mode", default="multiply",
                    choices=("multiply", "sum", "replace"),
                    help="--decay combine with the query score "
                         "(ES boost_mode; default multiply)")
    ap.add_argument("--sort", default=None, metavar="COL:asc|desc",
                    help="ES sort clause (query/sortby.py): order the "
                         "query's MATCHED set by an attribute (score-all "
                         "surface, never a top-k-by-score cut), rounded "
                         "score desc then doc_id asc as tiebreaks; "
                         "missing-attr matches still appear (see "
                         "--sort-missing); needs --attrs; bm25/bm25_and, "
                         "distributed tier, --index only")
    ap.add_argument("--sort-missing", default="last",
                    choices=("last", "first"),
                    help="--sort placement of matches with no attribute "
                         "value (ES _last default)")
    ap.add_argument("--multi-match", default=None,
                    choices=("best_fields", "most_fields",
                             "cross_fields"),
                    help="ES multi_match over a --fields build root "
                         "(query/multimatch.py): per-field packed "
                         "indexes — best_fields = best + --mm-tie x "
                         "rest (per-field statistics), most_fields = "
                         "the sum, cross_fields = term-centric blended "
                         "statistics (max-df idf shared across fields, "
                         "per-term dismax with --mm-tie); --index "
                         "<root>, batch mode (--query/--queries-file)")
    ap.add_argument("--fields", default=None, metavar="F[^W][,F...]",
                    help="--multi-match field subset with ES caret "
                         "boosts (default: every field in the root)")
    ap.add_argument("--mm-tie", type=float, default=0.0, metavar="TIE",
                    help="--multi-match best_fields tie breaker in [0,1]")
    ap.add_argument("--regexp", action="store_true",
                    help="/pat/ query words expand against the dictionary "
                         "(query/regexp.py; ES regexp query — WHOLE-term "
                         "match, Java∩Python∩RE2 subset only, df-ranked "
                         "--max-expansions cap, empty literal prefixes "
                         "need --allow-leading-wildcard); combines with "
                         "--wildcard, each syntax parses its own words; "
                         "bm25, every tier, --index or --shards")
    ap.add_argument("--max-expansions", type=int, default=50, metavar="N",
                    help="per-pattern wildcard expansion cap (default 50)")
    ap.add_argument("--allow-leading-wildcard", action="store_true",
                    help="permit *ism-style patterns (a full dictionary "
                         "scan; default refused, the ES query_string guard)")
    ap.add_argument("--offset", type=int, default=0, metavar="N",
                    help="result paging (ES from/size): return page "
                         "[offset, offset+n) with ABSOLUTE ranks — the "
                         "bm25* rankers on every tier (heap sized "
                         "n+offset: deep pages cost like a deeper top-k)")
    ap.add_argument("--search-after", default=None, metavar="SCORE,DOC_ID",
                    help="cursor deep pagination (ES search_after): return "
                         "the n hits STRICTLY AFTER the given (score, "
                         "doc_id) cursor in (score desc, doc_id asc) order "
                         "— pass the previous page's last hit; ranks come "
                         "back page-relative 1..n and the heap stays size "
                         "n at any depth (the scale-correct alternative "
                         "to --offset; bm25* rankers, every tier, "
                         "--index or --shards with a federation-namespace "
                         "doc_id)")
    ap.add_argument("--top-hits", type=int, default=None, metavar="N",
                    help="with --facets: ES top_hits sub-aggregation — "
                         "print the best N hits under each (facet, value) "
                         "bucket of the result set (query/facets.py "
                         "top_hits); needs --attrs; every ranker, --index "
                         "or --shards")
    ap.add_argument("--dismax", type=float, default=None, metavar="TIE",
                    help="ES dis_max: treat each query as |-separated "
                         "subqueries; a doc scores its best subquery plus "
                         "TIE in [0,1] times each other subquery's score "
                         "(0 = pure best-of); --ranker bm25, distributed "
                         "tier, --index")
    ap.add_argument("--rescore", default=None, metavar="RQ1|RQ2|...",
                    help="ES rescore: re-rank the top --rescore-window "
                         "primary hits with secondary |-separated queries "
                         "(one per --query/batch line, or one for all); "
                         "combined per --rescore-mode with "
                         "--rescore-weights; window docs the secondary "
                         "misses keep qw*primary; --ranker bm25, "
                         "distributed tier, --index")
    ap.add_argument("--rescore-window", type=int, default=50, metavar="N",
                    help="primary hits entering the rescore (default 50)")
    ap.add_argument("--rescore-weights", default="1,1", metavar="QW,RQW",
                    help="query_weight,rescore_query_weight (default 1,1)")
    ap.add_argument("--rescore-mode", default="total",
                    choices=["total", "multiply", "avg", "max", "min"],
                    help="score combine for matched window docs "
                         "(ES score_mode; default total)")
    ap.add_argument("--demote", default=None, metavar="\"W1 W2\"",
                    help="ES boosting query: docs matching ANY of these "
                         "words still rank but their score multiplies by "
                         "--negative-boost (the soft '-term' — exclusion "
                         "removes, demotion sinks); words normalize "
                         "through the query tokenizer; bm25* rankers, "
                         "every tier, --index or --shards")
    ap.add_argument("--negative-boost", type=float, default=0.5,
                    metavar="X", help="demotion multiplier in [0,1) "
                                      "(default 0.5)")
    ap.add_argument("--min-should-match", type=str, default=None,
                    metavar="M",
                    help="ES minimum_should_match: only docs matching at "
                         "least M of the query's terms rank (M=1 is plain "
                         "OR; the term count is --ranker bm25_and); "
                         "--ranker bm25, every tier, --index or --shards")
    ap.add_argument("--collapse-inner-hits", type=int, default=None,
                    metavar="N",
                    help="with --collapse: ES collapse.inner_hits — each "
                         "top-k group carries its best N hits from the "
                         "same score-all pass (query/collapse.py "
                         "collapse_inner_hits_packed; --index only)")
    ap.add_argument("--collapse", default=None, metavar="COL",
                    help="field collapse (ES collapse, query/collapse.py): "
                         "one result per group — top-n GROUPS by their "
                         "best hit's BM25 score, grouped on the named "
                         "external-id column (e.g. conv_id: one row per "
                         "conversation, its best turn as representative); "
                         "bm25/bm25_and, distributed tier, --index or "
                         "--shards (federation-exact even for groups "
                         "spanning shards)")
    ap.add_argument("--significant", type=int, default=None, metavar="N",
                    help="ES significant_terms analog "
                         "(query/significant.py): per query, print the "
                         "top-N JLH-lifted terms of the result set vs the "
                         "corpus, mined from the index's stored tokens "
                         "(query terms excluded; no --attrs needed); any "
                         "ranker, --index or --shards")
    ap.add_argument("--facets", default=None, metavar="COL[,COL...]",
                    help="ES terms-aggregation analog (query/facets.py): "
                         "per query, print the top-n attribute-value "
                         "counts over the result set for each named "
                         "column — needs --attrs; works with every "
                         "ranker and with --shards")
    ap.add_argument("--facet-approx", default=None,
                    metavar="N_SHARDS:SHARD_SIZE",
                    help="route --facets through the ES distributed "
                         "terms-agg approximation (query/facets.py "
                         "approx_facet_counts): deterministic md5-mod "
                         "shards each report their local top-SHARD_SIZE "
                         "buckets; every merged bucket gains \"err\" = "
                         "its exact doc_count_error_upper_bound")
    ap.add_argument("--geohash-grid", default=None,
                    metavar="LAT,LON:PRECISION[:T,L,B,R]",
                    help="ES geohash_grid aggregation over each query's "
                         "result set (query/geo.py; micro-degree integer "
                         "attr columns, exact-integer encoding; optional "
                         "geo_bounding_box clip TOP,LEFT,BOTTOM,RIGHT) — "
                         "needs --attrs")
    ap.add_argument("--date-histogram", default=None,
                    metavar="COL:IVAL[,...]",
                    help="ES date_histogram analog "
                         "(query/aggregations.py): per query, bucket a "
                         "timestamp attribute by a fixed UTC span "
                         "(day|hour|minute or seconds) or a calendar "
                         "interval (week|month|quarter|year via "
                         "date_trunc), BIGINT epoch "
                         "buckets — needs --attrs; every ranker, "
                         "--index or --shards")
    ap.add_argument("--pipeline", default=None,
                    metavar="OP[:ARGS]",
                    help="ES pipeline aggregation over the "
                         "--date-histogram buckets "
                         "(query/pipeline_aggs.py): cumsum | derivative "
                         "| moving_sum:W[:SHIFT] | serial_diff:L | "
                         "bucket_sort:SIZE[:FROM] | bucket_selector:PRED "
                         "| stats_bucket | bucket_script:EXPR | "
                         "percentiles_bucket[:P1|P2] | extreme_buckets | "
                         "normalize[:METHOD] (exact num/den pairs; "
                         "rescale_0_1|rescale_0_100|percent_of_sum|mean). "
                         "Positional ops run on the "
                         "densified (zero-filled) series; needs a "
                         "single-column --date-histogram spec + --attrs; "
                         "every ranker, --index or --shards")
    ap.add_argument("--percentiles", default=None,
                    metavar="COL:P1|P2[,...]",
                    help="ES percentiles-aggregation analog "
                         "(query/aggregations.py; EXACT nearest-rank, "
                         "never interpolated): per query, the named "
                         "percentiles of a numeric attribute over the "
                         "result set — needs --attrs; every ranker, "
                         "--index or --shards")
    ap.add_argument("--cardinality", default=None, metavar="COL[,COL...]",
                    help="ES cardinality-aggregation analog "
                         "(query/aggregations.py; exact distinct counts, "
                         "NULLs skipped): per query, distinct attribute "
                         "values over the result set — needs --attrs; "
                         "every ranker, --index or --shards")
    ap.add_argument("--significant-attrs", default=None,
                    metavar="COL[,COL...]",
                    help="ES significant_terms over ATTRIBUTE fields "
                         "(query/significant.py significant_attr_values): "
                         "JLH-over-represented attr values of each "
                         "query's result set vs the corpus background "
                         "(positive lift only, --sig-min-fg floor); "
                         "needs --attrs; every ranker, --index or --shards")
    ap.add_argument("--sig-min-fg", type=int, default=2, metavar="N",
                    help="--significant-attrs foreground floor (default 2)")
    ap.add_argument("--filters-agg", default=None,
                    metavar="\"NAME=PRED|NAME=PRED\"",
                    help="ES filters-aggregation analog "
                         "(query/aggregations.py filters_agg): named SQL "
                         "predicate buckets counted over each query's "
                         "result set, ALL buckets emit incl. n=0 — needs "
                         "--attrs; every ranker, --index or --shards")
    ap.add_argument("--missing", default=None, metavar="COL[,COL...]",
                    help="ES missing-aggregation analog "
                         "(query/aggregations.py missing_agg): per column, "
                         "hits with NO value (NULL or absent from --attrs); "
                         "every ranker, --index or --shards")
    ap.add_argument("--rare-terms", default=None, metavar="COL[,COL...]",
                    help="ES rare_terms-aggregation analog "
                         "(query/aggregations.py rare_terms_agg): the "
                         "long-tail mirror of --facets — values matched by "
                         "<= --rare-max-doc-count hits, rarest first; "
                         "needs --attrs; every ranker, --index or --shards")
    ap.add_argument("--rare-max-doc-count", type=int, default=1, metavar="N",
                    help="--rare-terms bucket ceiling (default 1)")
    ap.add_argument("--adjacency", default=None,
                    metavar="\"NAME=PRED|NAME=PRED\"",
                    help="ES adjacency_matrix-aggregation analog "
                         "(query/aggregations.py adjacency_matrix_agg): "
                         "singleton + pairwise-intersection counts of the "
                         "named predicate sets, non-empty buckets only "
                         "('a&b' composite keys) — needs --attrs; every "
                         "ranker, --index or --shards")
    ap.add_argument("--must", default=None, metavar="WORDS",
                    help="ES bool query, must clause (required + scoring); "
                         "any of --must/--should triggers bool mode — one "
                         "compound query per run, --query is ignored "
                         "(query/boolquery.py; --index, bm25)")
    ap.add_argument("--should", default=None, metavar="WORDS",
                    help="bool query should clause (optional + scoring; "
                         "--bool-msm sets minimum_should_match, default 0 "
                         "with a must/filter clause, 1 without)")
    ap.add_argument("--bool-filter", default=None, metavar="WORDS",
                    help="bool query filter clause: required terms that "
                         "NEVER score (the ES filter context)")
    ap.add_argument("--bool-must-not", default=None, metavar="WORDS",
                    help="bool query must_not clause (veto terms)")
    ap.add_argument("--bool-msm", type=int, default=None,
                    help="minimum_should_match for --should")
    ap.add_argument("--slop", type=int, default=0,
                    help="ordered position slack for the phrase rankers "
                         "(ES match_phrase slop restricted to in-order "
                         "matches — Lucene span_near in_order=true): a "
                         "doc matches when its minimal ordered span "
                         "stretches at most SLOP positions beyond the "
                         "phrase length; 0 = exact phrase; --ranker "
                         "phrase/phrase_prefix, every tier, --index or "
                         "--shards")
    ap.add_argument("--composite", default=None, metavar="COLS:SIZE",
                    help="ES composite-aggregation analog "
                         "(query/aggregations.py composite_agg): per "
                         "query, the first SIZE distinct attribute-tuple "
                         "buckets in lexicographic order with doc counts "
                         "— the PAGINATED bucket enumerator (prints "
                         "after_key when a full page returns; feed it "
                         "back via --composite-after for the next page); "
                         "needs --attrs; every ranker, --index or "
                         "--shards")
    ap.add_argument("--composite-after", default=None, metavar="V1|V2",
                    help="composite cursor: the previous page's "
                         "after_key values, |-separated, one per "
                         "--composite column (compared in the attrs "
                         "column's native type)")
    ap.add_argument("--extended-stats", default=None,
                    metavar="COL[,COL...]",
                    help="ES extended_stats analog (query/aggregations.py; "
                         "BIGINT moments + integer variance numerator — "
                         "variance/std derive as var_num/n^2): per query "
                         "over the result set; needs --attrs; every "
                         "ranker, --index or --shards")
    ap.add_argument("--matrix-stats", default=None, metavar="COLA,COLB",
                    help="ES matrix_stats covariance analog "
                         "(query/aggregations.py; pairwise-complete "
                         "integer covariance numerator per column pair); "
                         "needs --attrs; every ranker, --index or "
                         "--shards")
    ap.add_argument("--weighted-avg", default=None, metavar="VALUE:WEIGHT",
                    help="ES weighted_avg analog (query/aggregations.py; "
                         "exact wsum/wtot numerator pair, average derives "
                         "as wsum/wtot; NULL value OR weight skips the "
                         "pair): per query over the result set; needs "
                         "--attrs; every ranker, --index or --shards")
    ap.add_argument("--top-metrics", default=None,
                    metavar="SORT:M1[,M2...][:SIZE[:asc|desc]]",
                    help="ES top_metrics analog (query/aggregations.py; "
                         "metric values carried by the hits with the "
                         "largest/smallest SORT value, ext-id tiebreak, "
                         "NULL sort skips the hit): per query over the "
                         "result set; needs --attrs; every ranker, "
                         "--index or --shards")
    ap.add_argument("--percentile-ranks", default=None,
                    metavar="COL:V1|V2[,COL:...]",
                    help="ES percentile_ranks analog "
                         "(query/aggregations.py; the inverse of "
                         "--percentiles — exact n_le/n count pairs per "
                         "probe value, rank percent derives as "
                         "100*n_le/n): per query over the result set; "
                         "needs --attrs; every ranker, --index or "
                         "--shards")
    ap.add_argument("--boxplot", default=None, metavar="COL[,COL...]",
                    help="ES boxplot analog (query/aggregations.py; "
                         "five-number summary, EXACT nearest-rank "
                         "quartiles — never interpolated): per query "
                         "over the result set; needs --attrs; every "
                         "ranker, --index or --shards")
    ap.add_argument("--mad", default=None, metavar="COL[,COL...]",
                    help="ES median_absolute_deviation analog "
                         "(query/aggregations.py; nearest-rank median "
                         "of |x - median|, both medians exact): per "
                         "query over the result set; needs --attrs; "
                         "every ranker, --index or --shards")
    ap.add_argument("--multi-terms", default=None,
                    metavar="COLA,COLB[:SIZE]",
                    help="ES multi_terms analog (query/aggregations.py; "
                         "value-TUPLE buckets count-desc with top-SIZE "
                         "cut, value-asc tiebreak, NULL in any source "
                         "column drops the doc): per query over the "
                         "result set; needs --attrs; every ranker, "
                         "--index or --shards")
    ap.add_argument("--diversified", default=None,
                    metavar="FIELD[:MAX]",
                    help="ES diversified_sampler: cap the result set at "
                         "MAX hits per FIELD value (best-ranked survive, "
                         "NULL-field hits always pass) BEFORE the other "
                         "aggregation flags run — they aggregate over "
                         "the sample, the printed ranked page is "
                         "untouched; needs --attrs; every ranker, "
                         "--index or --shards")
    ap.add_argument("--rank-eval", default=None,
                    metavar="RATINGS[:K[:GRADE]]",
                    help="ES _rank_eval analog (query/eval.py rank_eval; "
                         "RATINGS = parquet with query, <ext cols>, "
                         "grade): exact precision@k/recall@k/MRR "
                         "numerators per query over the rated top-K "
                         "(relevant = grade >= GRADE); every ranker, "
                         "--index or --shards")
    ap.add_argument("--t-test", default=None,
                    metavar="VALUE:PRED_A|PRED_B",
                    help="ES t_test analog, unpaired "
                         "(query/aggregations.py; exact BIGINT moments "
                         "per predicate population, Welch's t derives "
                         "client-side; predicates in the Spark-and-"
                         "DuckDB dialect): per query over the result "
                         "set; needs --attrs; every ranker, --index or "
                         "--shards")
    ap.add_argument("--string-stats", default=None,
                    metavar="COL[,COL...]",
                    help="ES string_stats analog (query/aggregations.py; "
                         "exact code-point length stats, avg_length = "
                         "len_sum/n client-side, entropy omitted by "
                         "design): per query over the result set; needs "
                         "--attrs; every ranker, --index or --shards")
    ap.add_argument("--auto-date-histogram", default=None,
                    metavar="COL[:TARGET]",
                    help="ES auto_date_histogram analog "
                         "(query/aggregations.py; smallest FIXED-span "
                         "ladder rung fitting TARGET buckets — rung can "
                         "differ per query; calendar rungs stand in as "
                         "30/90/365-day fixed spans): per query over "
                         "the result set; needs --attrs; every ranker, "
                         "--index or --shards")
    ap.add_argument("--histogram", default=None, metavar="COL:IVAL[,...]",
                    help="ES histogram-aggregation analog "
                         "(query/aggregations.py): per query, bucket the "
                         "result set's numeric attribute by "
                         "floor(value/interval)*interval and print "
                         "per-bucket doc counts — needs --attrs; every "
                         "ranker, --index or --shards")
    ap.add_argument("--range", default=None, metavar="COL:E1|E2[,...]",
                    help="ES range-aggregation analog "
                         "(query/aggregations.py range_agg): per query, "
                         "count the result set's numeric attribute into "
                         "the contiguous buckets the edges make — "
                         "(*,E1), [E1,E2), ..., [En,*), from inclusive / "
                         "to exclusive, every bucket printed incl. n=0 "
                         "— needs --attrs; every ranker, --index or "
                         "--shards")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from searchengine_spark.indexing.packed import load_packed_index
    from searchengine_spark.query.eval import EvalStats, parse_relevance_file
    from searchengine_spark.tokenizer import TokenizerConfig

    if bool(args.index) == bool(args.shards):
        raise SystemExit("pass exactly one of --index or --shards")
    if args.slop:
        if args.slop < 0:
            raise SystemExit("--slop must be >= 0")
        if args.ranker not in ("phrase", "phrase_prefix"):
            raise SystemExit("--slop is wired to the phrase rankers "
                             "(--ranker phrase/phrase_prefix)")
    cursor = _parse_cursor(args)
    if args.wildcard or args.regexp:
        flag = "--wildcard" if args.wildcard else "--regexp"
        if args.ranker != "bm25":
            raise SystemExit(f"{flag} is wired to --ranker bm25")
        if args.synonyms or args.prf or args.fuzzy:
            raise SystemExit(f"{flag} does not combine with "
                             "--synonyms/--prf/--fuzzy (all rewrite the "
                             "query-term seam)")
    if args.collapse_inner_hits is not None and not args.collapse:
        raise SystemExit("--collapse-inner-hits rides --collapse")
    if args.collapse_inner_hits is not None and args.shards:
        raise SystemExit("--collapse-inner-hits serves from a single "
                         "index (--index; federation not wired)")
    if args.top_hits and not args.facets:
        raise SystemExit("--top-hits rides --facets (name the bucket "
                         "columns there)")
    if args.pipeline and not args.date_histogram:
        raise SystemExit("--pipeline rides --date-histogram (name the "
                         "bucketing there)")
    if args.facet_approx and not args.facets:
        raise SystemExit("--facet-approx rides --facets (name the bucket "
                         "columns there)")
    post = _parse_post_specs(args)
    if any(getattr(args, f) for f in _ATTRS_AGG_FLAGS) and not args.attrs:
        raise SystemExit("--facets/--histogram need --attrs (the table "
                         "carrying the index's order_cols + the "
                         "aggregated columns)")
    if (args.sort or args.decay or args.fvf) and not args.attrs and args.shards:
        # single-index sort/decay/fvf may serve the field from the
        # index's doc_attrs sidecar (indexing/attrs.py; attach_attr
        # raises its own guidance when the sidecar/column is absent);
        # federation keeps the lakehouse join
        raise SystemExit("--sort/--decay/--fvf over --shards need --attrs "
                         "(the doc_attrs sidecar is per-index)")
    if args.explain:
        if args.ranker != "bm25":
            raise SystemExit("--explain is wired to --ranker bm25")
        if args.filter or args.boost or args.prf or args.synonyms:
            raise SystemExit("--explain does not combine with "
                             "--filter/--boost/--prf/--synonyms (the "
                             "breakdown explains the base formula)")

    spark = SparkSession.builder.appName("searchengine_spark.search").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if args.shards:
        _serve_federated(spark, args, post)
        return

    if args.multi_match:
        _serve_multi_match(spark, args)
        return

    t0 = time.perf_counter()
    index_path = args.index
    if index_path and index_path.startswith("alias:"):
        # ES aliases API analog (indexing/aliases.py): resolve the named
        # pointer; a filtered alias composes its predicate into --filter
        # (AND), riding the ordinary attribute-filtered retrieval seam
        from searchengine_spark.indexing.aliases import (
            alias_resolve,
            split_alias_arg,
        )

        name, _ = split_alias_arg(index_path)
        try:
            index_path, alias_pred = alias_resolve(spark, args.aliases, name)
        except KeyError as e:
            raise SystemExit(str(e))
        if alias_pred:
            args.filter = (f"({alias_pred}) AND ({args.filter})"
                           if args.filter else alias_pred)
            print(f"alias {name} -> {index_path} "
                  f"[filter: {alias_pred}]", file=sys.stderr)
        else:
            print(f"alias {name} -> {index_path}", file=sys.stderr)
    pidx = load_packed_index(spark, index_path, snapshot=args.snapshot)
    cfg = TokenizerConfig.from_manifest(pidx.manifest.get("tokenizer", {}))
    if args.min_token_length is not None:
        cfg = TokenizerConfig(args.min_token_length, cfg.stop_words, cfg.stem_lang)
    if args.stop_words is not None:
        sw = (None if args.stop_words.lower() == "none"
              else TokenizerConfig.load_stop_words(args.stop_words))
        cfg = TokenizerConfig(cfg.min_token_length, sw, cfg.stem_lang)
    print(f"index loaded in {(time.perf_counter() - t0) * 1000:.1f}ms "
          f"({pidx.manifest['n_docs']} docs, {pidx.manifest['n_terms']} terms)",
          file=sys.stderr)

    stats = None
    if args.relevance:
        stats = EvalStats(parse_relevance_file(args.relevance))

    if args.fuzzy and args.ranker in ("phrase", "minspan"):
        raise SystemExit("--fuzzy is not wired to the positional phrase/"
                         "minspan rankers")
    if args.analyze is not None:
        from searchengine_spark.query.analyze import analyze_text

        print(json.dumps({"text": args.analyze,
                          "tokens": analyze_text(args.analyze, cfg)}))
        return
    if args.term_suggest:
        from searchengine_spark.query.fuzzy import term_suggestions
        from searchengine_spark.tokenizer import tokenize_text as _tok

        words = list(dict.fromkeys(_tok(args.term_suggest, cfg)))
        rows = term_suggestions(pidx.term_stats, words, k=args.n,
                                mode=args.suggest_mode,
                                fuzziness=_fuzziness(args)).collect()
        by_w: dict[str, list] = {w: [] for w in words}
        for r in sorted(rows, key=lambda r: (r["qterm"], r["rank"])):
            by_w[r["qterm"]].append(
                {"suggestion": r["suggestion"], "df": int(r["df"])})
        print(json.dumps({"mode": args.suggest_mode, "suggest": by_w}))
        return
    if args.phrase_suggest:
        from searchengine_spark.query.fuzzy import phrase_suggestions
        from searchengine_spark.tokenizer import tokenize_text as _tok

        words = _tok(args.phrase_suggest, cfg)
        got = phrase_suggestions(pidx.term_stats, words, k=args.n)
        print(json.dumps({"input": " ".join(words), "suggestions": [
            {"phrase": p, "score": int(s), "n_edits": int(e)}
            for p, s, e in got]}))
        return
    if args.suggest:
        from searchengine_spark.query.wand import suggest_terms

        rows = suggest_terms(pidx, args.suggest, k=args.n).collect()
        print(json.dumps({
            "prefix": args.suggest,
            "suggestions": [{"term": r["term"], "df": int(r["df"])}
                            for r in rows],
        }))
        return
    if args.terms_set:
        if not args.attrs:
            raise SystemExit("--terms-set needs --attrs (the table "
                             "carrying order_cols + the floor column)")
        if not args.query:
            raise SystemExit("--terms-set wants a single --query")
        from searchengine_spark.query.termsset import (
            required_from_attrs,
            terms_set_topk_packed_batch,
        )

        req = required_from_attrs(
            pidx, spark.read.parquet(args.attrs), args.terms_set)
        ts_queries = list(args.query)
        res = terms_set_topk_packed_batch(
            pidx, ts_queries, req, cfg, k=args.n)
        from searchengine_spark.query.wand import resolve_docs

        rows = [r.asDict() for r in resolve_docs(pidx, res).collect()]
        print(json.dumps({"queries": ts_queries, "hits": rows}, default=str))
        return
    if args.fuzzy_terms:
        if not args.query:
            raise SystemExit("--fuzzy-terms wants --query (word~ / "
                             "word~N tilde syntax)")
        from searchengine_spark.query.fuzzyquery import (
            bm25_fuzzyq_packed_batch,
        )
        from searchengine_spark.query.wand import resolve_docs

        res = bm25_fuzzyq_packed_batch(
            pidx, list(args.query), cfg, k=args.n,
            max_expansions=args.max_expansions, round_dp=6)
        rows = [r.asDict() for r in resolve_docs(pidx, res).collect()]
        print(json.dumps({"queries": list(args.query), "hits": rows},
                         default=str))
        return
    if (args.span_first or args.span_not or args.span_within
            or args.span_containing):
        from searchengine_spark.query.serve import LocalSearcher
        from searchengine_spark.query.spanqueries import (
            local_span_containing,
            local_span_first,
            local_span_not,
            local_span_within,
        )

        searcher = LocalSearcher(pidx, preload=False, cfg=cfg)
        if args.span_first:
            term, _, end = args.span_first.rpartition(":")
            if not term:
                raise SystemExit("--span-first wants TERM:END")
            rows = local_span_first(searcher, term, int(end), k=args.n)
        elif args.span_not:
            inc, _, exc = args.span_not.partition(",")
            if not exc:
                raise SystemExit("--span-not wants INC,EXC")
            rows = local_span_not(searcher, inc, exc, pre=args.span_pre,
                                  post=args.span_post, k=args.n)
        else:
            spec = args.span_within or args.span_containing
            a, b, c, w = _parse_span_abc(spec)
            fn = (local_span_within if args.span_within
                  else local_span_containing)
            rows = fn(searcher, a, b, c, width=w, k=args.n)
        print(json.dumps({"hits": rows}, default=str))
        return

    if args.has_child:
        from searchengine_spark.query.parentchild import has_child_topk

        parts = args.has_child.split(":")
        mode = parts[0]
        min_c = int(parts[1]) if len(parts) > 1 else 1
        max_c = int(parts[2]) if len(parts) > 2 else None
        hc_queries = _gather_queries(args)
        if not hc_queries:
            raise SystemExit("--has-child wants --query/--queries-file")
        if args.children_agg:
            from searchengine_spark.query.parentchild import (
                children_terms_agg,
            )

            if not args.attrs:
                raise SystemExit("--children-agg wants --attrs")
            out = children_terms_agg(
                pidx, hc_queries, cfg, spark.read.parquet(args.attrs),
                args.children_agg, score_mode=mode, min_children=min_c,
                max_children=max_c, size=args.n, round_dp=6)
            print(json.dumps({"hits": [r.asDict() for r in out.collect()]},
                             default=str))
            return
        if args.has_child_inner:
            from searchengine_spark.query.parentchild import (
                has_child_inner_hits,
            )

            out = has_child_inner_hits(
                pidx, hc_queries, cfg, score_mode=mode,
                min_children=min_c, max_children=max_c, k=args.n,
                n_inner=args.has_child_inner, round_dp=6)
        else:
            out = has_child_topk(
                pidx, hc_queries, cfg, score_mode=mode, min_children=min_c,
                max_children=max_c, k=args.n, round_dp=6)
        print(json.dumps({"hits": [r.asDict() for r in out.collect()]},
                         default=str))
        return

    if args.intervals:
        from searchengine_spark.query.intervals import (
            intervals_topk_packed_batch,
            local_intervals,
        )

        mode, _, gaps = args.intervals.partition(":")
        if mode not in ("ordered", "unordered"):
            raise SystemExit("--intervals wants ordered|unordered[:MAX_GAPS]")
        if not args.query:
            raise SystemExit("--intervals wants --query/--queries-file")
        if args.serve_mode == "local":
            # in-process tier: same scorer kernels, zero Spark jobs warm
            from searchengine_spark.query.serve import LocalSearcher

            searcher = LocalSearcher(pidx, preload=False, cfg=cfg)
            hits = []
            for qid, q in enumerate(args.query):
                for r in local_intervals(
                        searcher, q, ordered=mode == "ordered",
                        max_gaps=int(gaps) if gaps else 0, k=args.n):
                    r["query_id"] = qid
                    hits.append(r)
            print(json.dumps({"hits": hits}, default=str))
            return
        res = intervals_topk_packed_batch(
            pidx, args.query, cfg, ordered=mode == "ordered",
            max_gaps=int(gaps) if gaps else 0, k=args.n)
        out = res.join(pidx.docmap, "doc_id").select(
            "query_id", *[c for c in pidx.manifest["order_cols"]
                          if c != "doc_id"], "n_intervals", "rank")
        print(json.dumps({"hits": [r.asDict() for r in out.collect()]},
                         default=str))
        return

    if args.must or args.should:
        t1 = time.perf_counter()
        if args.serve_mode in ("auto", "local"):
            from searchengine_spark.query.boolquery import bool_query_local
            from searchengine_spark.query.serve import FederatedLocalSearcher

            res = bool_query_local(
                FederatedLocalSearcher([pidx], cfg=cfg), must=args.must,
                should=args.should, must_not=args.bool_must_not,
                filter_terms=args.bool_filter,
                min_should_match=args.bool_msm, k=args.n, round_dp=6)
        else:
            from searchengine_spark.query.boolquery import bool_query_topk
            from searchengine_spark.query.wand import resolve_docs

            out = resolve_docs(pidx, bool_query_topk(
                pidx, cfg, must=args.must, should=args.should,
                must_not=args.bool_must_not, filter_terms=args.bool_filter,
                min_should_match=args.bool_msm, k=args.n, round_dp=6))
            res = sorted((r.asDict() for r in out.collect()),
                         key=lambda r: r["rank"])
        print(json.dumps({"bool": {
            "must": args.must, "should": args.should,
            "must_not": args.bool_must_not, "filter": args.bool_filter,
            "msm": args.bool_msm}, "results": res}, default=str))
        print(f"bool query in {(time.perf_counter() - t1) * 1000:.1f}ms",
              file=sys.stderr)
        return

    if args.termvectors:
        from searchengine_spark.query.termvectors import term_vectors

        ids = [int(x) for x in args.termvectors.split(",")]
        rows = term_vectors(pidx, ids, positions=True).collect()
        _print_termvectors(ids, rows)
        return

    if args.mlt:
        from searchengine_spark.query.feedback import more_like_this_packed
        from searchengine_spark.query.wand import resolve_docs

        ids = [int(x) for x in args.mlt.split(",")]
        t1 = time.perf_counter()
        rows = resolve_docs(
            pidx, more_like_this_packed(pidx, ids, k=args.n)
        ).collect()
        by_src: dict[int, list] = {}
        for r in rows:
            by_src.setdefault(r["query_id"], []).append(r.asDict())
        for i, d in enumerate(ids):
            res = sorted(by_src.get(i, []), key=lambda r: r["rank"])
            print(json.dumps({"more_like": d, "results": res}, default=str))
        print(f"more-like-this in {(time.perf_counter() - t1) * 1000:.1f}ms "
              f"({len(ids)} sources)", file=sys.stderr)
        return

    prf = None
    if args.prf:
        if args.ranker != "bm25":
            raise SystemExit("--prf is wired to --ranker bm25")
        try:
            r_s, m_s, beta_s = args.prf.split(",")
            prf = (int(r_s), int(m_s), float(beta_s))
        except ValueError:
            raise SystemExit("--prf expects 'R,M,BETA' (e.g. '5,5,0.5')")
    synonyms = _parse_synonyms_args(args)
    doc_boost = None
    if args.boost:
        if not args.attrs:
            raise SystemExit("--boost needs --attrs")
        if args.ranker not in ("bm25", "bm25_and"):
            raise SystemExit("--boost is wired to the bm25* rankers")
        from searchengine_spark.query.wand import boost_doc_ids

        doc_boost = boost_doc_ids(
            pidx, spark.read.parquet(args.attrs), args.boost
        )
    doc_filter = None
    filter_ids = None
    if args.filter:
        if not args.attrs:
            raise SystemExit("--filter needs --attrs (the table carrying "
                             "the index's order_cols + filter columns)")
        if args.ranker not in ("bm25", "bm25_and", "boolean_and",
                               "boolean_or"):
            raise SystemExit("--filter is wired to the bm25*/boolean rankers")
        from searchengine_spark.query.wand import filter_doc_ids

        doc_filter = filter_doc_ids(
            pidx, spark.read.parquet(args.attrs), args.filter
        )
    if args.queries_file:
        with open(args.queries_file) as fh:
            file_queries = [ln.strip() for ln in fh if ln.strip()]
        if not file_queries:
            raise SystemExit(f"no queries in {args.queries_file}")
        if args.output:
            # cluster batch mode: ONE Spark job for the whole file, results
            # stream to parquet — the driver never materializes them
            from pyspark.sql import functions as F

            t1 = time.perf_counter()
            frame = _topk_frame(
                spark, pidx, cfg, file_queries, args.ranker, args.n,
                args.exhaustive, args.schema, fuzzy=args.fuzzy,
                doc_filter=doc_filter, prf=prf, doc_boost=doc_boost,
                synonyms=synonyms, offset=args.offset, wildcard=_wc(args),
                search_after=cursor, collapse=args.collapse,
                min_match=args.min_should_match,
                demote=args.demote, negative_boost=args.negative_boost,
                dismax=args.dismax, slop=args.slop, regexp=_rx(args),
                sort_spec=_sort(args), attrs_path=args.attrs,
                decay_spec=_decay(args), boost_mode=args.boost_mode,
                fvf_spec=_fvf(args), random_seed=args.random_score,
                inner_hits=args.collapse_inner_hits,
                pins=(args.pin.split(",") if args.pin else None),
                constant_score=args.constant_score,
                max_cost=args.max_query_cost,
                rescore_spec=_rescore_spec(args),
            )
            qdf = spark.createDataFrame(
                list(enumerate(file_queries)), "query_id int, query string"
            )
            frame.join(F.broadcast(qdf), "query_id").write.mode(
                "overwrite"
            ).parquet(args.output)
            dt = time.perf_counter() - t1
            print(json.dumps({
                "queries": len(file_queries), "output": args.output,
                "seconds": round(dt, 3),
                "queries_per_sec": round(len(file_queries) / dt, 2),
            }))
            return
        args.query = (args.query or []) + file_queries

    if (prf or synonyms) and args.serve_mode == "local":
        raise SystemExit("--prf/--synonyms run on the distributed tier "
                         "(serve-mode auto/spark)")
    if args.collapse and args.serve_mode == "local":
        raise SystemExit("--collapse runs on the distributed tier "
                         "(serve-mode auto/spark)")
    if args.dismax is not None and args.serve_mode == "local":
        raise SystemExit("--dismax runs on the distributed tier "
                         "(serve-mode auto/spark)")
    if args.rescore is not None and args.serve_mode == "local":
        raise SystemExit("--rescore runs on the distributed tier "
                         "(serve-mode auto/spark)")
    if (args.sort or args.decay or args.fvf
            or args.random_score) and args.serve_mode == "local":
        raise SystemExit("--sort/--decay/--fvf/--random-score run on the "
                         "distributed tier (serve-mode auto/spark)")
    if args.constant_score is not None:
        if args.ranker not in ("boolean_and", "boolean_or"):
            raise SystemExit("--constant-score wraps the boolean rankers "
                             "(--ranker boolean_and|boolean_or)")
    if args.count_only:
        if args.shards:
            raise SystemExit("--count-only serves from a single index")
        if not args.query:
            raise SystemExit("--count-only wants --query/--queries-file "
                             "batch mode")
        from searchengine_spark.query.negation import parse_negated_queries
        from searchengine_spark.query.wand import match_counts_packed

        cqs, cex = _parse_negations(list(args.query), cfg, args.ranker,
                                    prf, parse_negated_queries)
        if args.ranker not in ("bm25", "bm25_and"):
            raise SystemExit("--count-only is wired to the bm25* rankers")
        rows = match_counts_packed(
            pidx, cqs, cfg, conjunctive=args.ranker == "bm25_and",
            exclude_terms=cex,
            min_should_match=_resolve_msm(args.min_should_match,
                                          cqs, cfg)).collect()
        for r in sorted(rows, key=lambda r: r["query_id"]):
            print(json.dumps({"query": args.query[r["query_id"]],
                              "count": int(r["n_matched"])}))
        return

    use_local = (not prf and not synonyms and not args.collapse
                 and args.dismax is None and args.sort is None
                 and args.decay is None and args.fvf is None
                 and args.random_score is None and args.pin is None
                 and args.ranker != "bool_prefix" and (
        args.serve_mode == "local"
        or (args.serve_mode == "auto" and not args.query)
    ))
    if args.explain and not use_local:
        raise SystemExit("--explain serves from the local tier — use the "
                         "REPL or add --serve-mode local")
    if use_local and doc_filter is not None:
        # the local tier takes the resolved id set directly (one bounded
        # job here, zero per query after that)
        filter_ids = [int(r["doc_id"]) for r in doc_filter.collect()]
    boost_map = None
    if use_local and doc_boost is not None:
        # bounded: boost_doc_ids drops no-op (==1.0) boosts, so this is
        # sized by the boosted fraction — one job here, zero per query
        boost_map = {
            int(r["doc_id"]): float(r["boost"]) for r in doc_boost.collect()
        } or None
    local = None
    if use_local:
        from searchengine_spark.query.serve import LocalSearcher

        t1 = time.perf_counter()
        local = LocalSearcher(pidx, cfg=cfg)
        print(f"local serving snapshot in {(time.perf_counter() - t1) * 1000:.0f}ms",
              file=sys.stderr)

    ext_cols = [c for c in pidx.manifest["order_cols"] if c != "doc_id"]

    def serve(queries: list[str]) -> None:
        t1 = time.perf_counter()
        if local is not None:
            if args.explain:
                per_q = [local.explain(q, k=args.n, fuzzy=args.fuzzy)
                         for q in queries]
            elif args.ranker == "phrase":
                from searchengine_spark.query.phrase import local_phrase

                per_q = [local_phrase(local, q, k=args.n,
                                      slop=args.slop) for q in queries]
            elif args.ranker == "phrase_prefix":
                from searchengine_spark.query.phrase import local_phrase_prefix

                per_q = [local_phrase_prefix(local, q, k=args.n,
                                             slop=args.slop)
                         for q in queries]
            elif args.ranker == "minspan":
                from searchengine_spark.query.spans import local_minspan

                per_q = [local_minspan(local, q, k=args.n) for q in queries]
            else:
                from searchengine_spark.query.negation import split_negations
                from searchengine_spark.query.termboost import split_boosts

                per_q = []
                for q in queries:
                    if split_boosts(q)[1]:
                        raise SystemExit(
                            "term^W boosts serve from the distributed tier "
                            "(--serve-mode spark / batch mode)")
                    pos, neg = split_negations(q)
                    per_q.append(
                        sorted(local.search(pos, k=args.n, ranker=args.ranker,
                                            schema=args.schema,
                                            fuzzy=args.fuzzy,
                                            filter_docs=filter_ids,
                                            boost_docs=boost_map,
                                            exclude=neg or None,
                                            offset=args.offset,
                                            search_after=cursor,
                                            min_should_match=_resolve_msm_one(
                                                args.min_should_match, pos, cfg),
                                            demote=(args.demote.split()
                                                    if args.demote else None),
                                            negative_boost=args.negative_boost,
                                            wildcard=args.wildcard,
                                            max_expansions=args.max_expansions,
                                            allow_leading_wildcard=args.allow_leading_wildcard,
                                            regexp=args.regexp),
                               key=lambda r: (r["rank"], r["doc_id"])))
        else:
            per_q = _run_queries(spark, pidx, cfg, queries, args.ranker,
                                 args.n, args.exhaustive, args.schema,
                                 fuzzy=args.fuzzy, doc_filter=doc_filter,
                                 prf=prf, doc_boost=doc_boost,
                                 synonyms=synonyms, offset=args.offset,
                                 wildcard=_wc(args), search_after=cursor,
                                 collapse=args.collapse,
                                 min_match=args.min_should_match,
                                 demote=args.demote,
                                 negative_boost=args.negative_boost,
                                 dismax=args.dismax, slop=args.slop,
                                 regexp=_rx(args), sort_spec=_sort(args),
                                 attrs_path=args.attrs,
                                 decay_spec=_decay(args),
                                 boost_mode=args.boost_mode,
                                 fvf_spec=_fvf(args),
                                 random_seed=args.random_score,
                                 inner_hits=args.collapse_inner_hits,
                                 pins=(args.pin.split(",")
                                       if args.pin else None),
                                 constant_score=args.constant_score,
                                 max_cost=args.max_query_cost,
                                 rescore_spec=_rescore_spec(args))
        _post_process(spark, args, post, cfg, ext_cols, queries, per_q,
                      pidx=pidx)
        dt = time.perf_counter() - t1
        for q, res in zip(queries, per_q):
            print(json.dumps({"query": q, "results": res}, default=str))
        print(f"search in {dt * 1000:.1f}ms ({len(queries)} queries)",
              file=sys.stderr)
        _add_stats(stats, ext_cols, queries, per_q, dt)

    if args.query:
        serve(args.query)
    else:
        # interactive loop (reference searcher.py:73-84)
        while True:
            try:
                line = input("Search (exit interactive search with 'q'): ")
            except EOFError:
                break
            if line.strip().lower() == "q":
                break
            if not line.strip():
                continue
            if line.strip().endswith("*") and " " not in line.strip():
                # single trailing-star token -> dictionary auto-complete
                # (suggest-as-you-type; zero Spark jobs on the preload tier)
                prefix = line.strip()[:-1]
                if not prefix:
                    continue
                sug = (local.suggest(prefix, k=args.n) if local is not None
                       else None)
                if sug is None:
                    from searchengine_spark.query.wand import suggest_terms

                    sug = [{"term": r["term"], "df": int(r["df"])}
                           for r in suggest_terms(pidx, prefix, k=args.n).collect()]
                print(json.dumps({"prefix": prefix, "suggestions": sug}))
                continue
            if line.strip().startswith("~"):
                # ~<doc_id> -> interactive more-like-this on the local tier
                ref = line.strip()[1:]
                if local is not None and ref.isdigit():
                    t1 = time.perf_counter()
                    res = local.more_like(int(ref), k=args.n)
                    print(json.dumps({"more_like": int(ref), "results": res},
                                     default=str))
                    print(f"more-like in {(time.perf_counter() - t1) * 1000:.1f}ms",
                          file=sys.stderr)
                else:
                    print("~<doc_id> needs the local tier and a numeric id",
                          file=sys.stderr)
                continue
            serve([line.strip()])
            if stats is not None:
                print(stats.summary(), file=sys.stderr)

    if stats is not None and stats.search_times:
        print(stats.summary(), file=sys.stderr)


if __name__ == "__main__":
    main()
