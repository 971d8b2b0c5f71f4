"""The array-native block-max scorer (query/wand.py ``_wand_scorer``) on
hand-built term-chunk frames, against a brute-force oracle: decode every
row, score every doc, sort by (score desc, doc_id asc). Scores must match
bit for bit (the oracle adds each doc's contributions in frame order, as
the scorer does). No Spark: the frames are the scorer's input schema.

Also pins the scorer's per-call counters (``stats``) to brute counts."""

from __future__ import annotations

import heapq

import numpy as np
import pandas as pd
import pytest

from searchengine_spark.indexing.build import Bm25Params
from searchengine_spark.indexing.codec import (
    decode_postings,
    encode_postings,
    tf_saturation,
)
from searchengine_spark.query.wand import STAT_FIELDS, _wand_scorer

PARAMS = Bm25Params(1.2, 0.75)
KK, BB = 1.2, 0.75
CD = 8  # docs per chunk
N_DOCS = 64
TERMS = ("alpha", "beta", "gamma", "delta")
IDF = {"alpha": 1.25, "beta": 0.7, "gamma": 2.1, "delta": 0.35}


def _default_decode(buf):
    return decode_postings(bytes(buf))


def _postings(seed: int, n_docs: int = N_DOCS, terms=TERMS, p: float = 0.45):
    """{term: [(doc_id, tf, dl quantized), ...]} — a seeded random corpus."""
    rng = np.random.default_rng(seed)
    dlq = rng.integers(300, 2500, n_docs)
    out = {}
    for t in terms:
        docs = np.flatnonzero(rng.random(n_docs) < p)
        out[t] = [(int(d), int(rng.integers(1, 6)), int(dlq[d])) for d in docs]
    return out


def _frame(postings, base: int | None = None, qid: int = 0) -> pd.DataFrame:
    """One row per (term, chunk), term-major — the order LocalSearcher
    concatenates its term slices in. ``base``: the shard's doc base (rows
    then carry a ``doc_base`` column and federation chunk ids)."""
    recs = []
    for term, plist in postings.items():
        by_chunk: dict = {}
        for d, tf, q in sorted(plist):
            by_chunk.setdefault(d // CD, []).append((d, tf, q))
        for chunk, ps in sorted(by_chunk.items()):
            ids, tfs, dlqs = (np.array(x, dtype=np.int64) for x in zip(*ps))
            sat = tf_saturation(tfs, dlqs / 1000.0, KK, BB)
            rec = {
                "query_id": qid,
                "term": term,
                "chunk": chunk + (base or 0) // CD,
                "max_tfsat": float(sat.max()),
                "postings": encode_postings(ids, tfs, dlqs),
            }
            if base is not None:
                rec["doc_base"] = base
            recs.append(rec)
    return pd.DataFrame(recs)


def _oracle(pdf, k, idf=IDF, *, qweights=None, decoders=None, exclude=(),
            demote=(), keep=(), factor=0.5, allowed=None, boosts=None,
            require_all=None, min_match=None, round_dp=None,
            search_after=None):
    """Brute force: decode every row, score every doc, filter, sort."""
    scores: dict = {}
    cov: dict = {}
    banned: set = set()
    sunk: set = set()
    for r in pdf.to_dict("records"):
        base = int(r.get("doc_base", 0))
        dec = (decoders or {}).get(base, _default_decode)
        ids, tfs, dln = dec(r["postings"])
        ids = (ids + base).tolist()
        if r["term"] in demote:
            sunk.update(ids)
        if r["term"] in exclude:
            banned.update(ids)
            continue
        if r["term"] in demote and r["term"] not in keep:
            continue
        w = np.float64(idf[r["term"]]) * (qweights or {}).get(r["term"], 1.0)
        for d, c in zip(ids, (w * tf_saturation(tfs, dln, KK, BB)).tolist()):
            scores[d] = scores.get(d, 0.0) + c
            cov[d] = cov.get(d, 0) + 1
    docs = sorted(d for d in scores if d not in banned
                  and (allowed is None or d in allowed))
    if require_all is not None:
        docs = [d for d in docs if cov[d] == require_all]
    if min_match is not None:
        docs = [d for d in docs if cov[d] >= min_match]
    s = np.array([scores[d] for d in docs])
    s = s * np.array([(boosts or {}).get(d, 1.0) for d in docs])
    s = np.where([d in sunk for d in docs], s * factor, s) if docs else s
    if round_dp is not None:
        s = np.round(s, round_dp)
    hits = list(zip(docs, s.tolist()))
    if search_after is not None:
        cs, cd = search_after
        hits = [(d, x) for d, x in hits if x < cs or (x == cs and d > cd)]
    return sorted(hits, key=lambda h: (-h[1], h[0]))[:k]


def _run(pdf, k, idf=IDF, **kw):
    out = _wand_scorer(k, PARAMS, idf_map=idf, **kw)(pdf)
    assert out["rank"].tolist() == list(range(1, len(out) + 1))
    return list(zip(out["doc_id"].tolist(), out["score"].tolist()))


@pytest.mark.parametrize("seed", [1, 2, 3])
@pytest.mark.parametrize("k", [1, 3, 10, 1000])
def test_plain_or_matches_oracle(seed, k):
    pdf = _frame(_postings(seed))
    assert _run(pdf, k) == _oracle(pdf, k)


def test_tied_chunk_bounds():
    """Chunk 1 repeats chunk 0 (same tf/dl at doc + CD): equal bounds and
    equal scores, settled by doc_id asc at every k."""
    base = {t: [p for p in ps if p[0] < CD] for t, ps in _postings(4).items()}
    post = {t: ps + [(d + CD, tf, q) for d, tf, q in ps] for t, ps in base.items()}
    pdf = _frame(post)
    ub = (pdf["max_tfsat"] * pdf["term"].map(IDF)).groupby(pdf["chunk"]).sum()
    assert ub[0] == ub[1]
    for k in (1, 2, 3, 5, 16):
        assert _run(pdf, k) == _oracle(pdf, k)


def test_qweights_omitted_term_weighs_one():
    pdf = _frame(_postings(5))
    qw = {"alpha": 2.5, "gamma": 0.25}  # beta, delta omitted -> 1.0
    for k in (2, 7):
        got = _run(pdf, k, qweights={0: qw})
        assert got == _oracle(pdf, k, qweights=qw)
        assert got != _run(pdf, k)


def test_demote_and_exclude_in_one_chunk():
    """beta is demoted AND positive (kept in scoring), delta is demoted
    only, gamma is negated — all three share chunks with alpha."""
    post = _postings(6)
    pdf = _frame(post)
    shared = {p[0] // CD for p in post["gamma"]} & {p[0] // CD for p in post["delta"]}
    assert shared  # exclusion and demotion rows meet in one chunk
    kw = dict(exclude_terms={0: {"gamma"}}, demote_terms={0: {"beta", "delta"}},
              demote_keep={0: {"beta"}}, demote_factor=0.3)
    for k in (3, 40):
        assert _run(pdf, k, **kw) == _oracle(
            pdf, k, exclude={"gamma"}, demote={"beta", "delta"},
            keep={"beta"}, factor=0.3)


def test_search_after_rounded_pages():
    pdf = _frame(_postings(7))
    full = _oracle(pdf, 1000, round_dp=6)
    pages, cursor = [], None
    while True:
        sa = None if cursor is None else {0: cursor}
        page = _run(pdf, 4, round_dp=6, search_after=sa)
        assert page == _oracle(pdf, 4, round_dp=6, search_after=cursor)
        if not page:
            break
        pages += page
        cursor = page[-1][1], page[-1][0]
    assert pages == full


def test_closure_boosts():
    pdf = _frame(_postings(8))
    boost = {3: 4.0, 17: 0.0, 40: 2.5, 41: 1.5, 63: 7.0}
    ids = np.array(sorted(boost), dtype=np.int64)
    vals = np.array([boost[d] for d in ids])
    for k in (1, 5, 100):
        assert _run(pdf, k, boosts=(ids, vals)) == _oracle(pdf, k, boosts=boost)


def test_per_chunk_boost_columns():
    pdf = _frame(_postings(9))
    boost = {5: 3.0, 12: 0.5, 13: 6.0, 50: 2.0}
    by_chunk: dict = {}
    for d in sorted(boost):
        by_chunk.setdefault(d // CD, []).append(d)
    pdf["bids"] = [by_chunk.get(c) for c in pdf["chunk"]]
    pdf["bvals"] = [None if by_chunk.get(c) is None
                    else [boost[d] for d in by_chunk[c]] for c in pdf["chunk"]]
    for k in (1, 4, 100):
        assert _run(pdf, k) == _oracle(pdf, k, boosts=boost)


@pytest.mark.parametrize("per_chunk", [False, True])
def test_allowed_filter(per_chunk):
    pdf = _frame(_postings(10))
    allowed = np.array([1, 2, 9, 20, 21, 33, 47, 60], dtype=np.int64)
    kw = {"allowed": allowed}
    if per_chunk:
        kw = {}
        pdf["allowed"] = [allowed[allowed // CD == c] for c in pdf["chunk"]]
    for k in (2, 100):
        assert _run(pdf, k, **kw) == _oracle(pdf, k, allowed=set(allowed.tolist()))


def test_two_shard_frame_with_doc_base_and_decoders():
    """Shard 1 (doc base 64) decodes through its own hook, which drops
    two tombstoned docs; shard 0 uses the default decode."""
    base1 = N_DOCS
    pdf = pd.concat([_frame(_postings(11), base=0),
                     _frame(_postings(12), base=base1)], ignore_index=True)
    dead = np.array([2, 9], dtype=np.int64)  # shard-local ids

    def masked(buf):
        ids, tfs, dln = _default_decode(buf)
        keep = ~np.isin(ids, dead)
        return ids[keep], tfs[keep], dln[keep]

    decoders = {base1: masked}
    for k in (1, 6, 1000):
        got = _run(pdf, k, decoders=decoders)
        assert got == _oracle(pdf, k, decoders=decoders)
    assert not {base1 + 2, base1 + 9} & {d for d, _ in _run(pdf, 1000, decoders=decoders)}
    assert max(d for d, _ in _run(pdf, 1000, decoders=decoders)) >= base1


def test_require_all_and_min_match():
    pdf = _frame(_postings(13, p=0.7))
    for k in (1, 5, 100):
        assert _run(pdf, k, require_all={0: 4}) == _oracle(pdf, k, require_all=4)
        for m in (1, 2, 3):
            assert _run(pdf, k, min_match={0: m}) == _oracle(pdf, k, min_match=m)


def test_all_rows_excluded():
    pdf = _frame(_postings(14))
    stats: dict = {}
    out = _wand_scorer(5, PARAMS, idf_map=IDF, stats=stats,
                       exclude_terms={0: set(TERMS)})(pdf)
    assert len(out) == 0
    assert list(out.columns) == ["query_id", "doc_id", "score", "rank"]
    assert stats == dict.fromkeys(STAT_FIELDS, 0)


def _brute_counts(pdf, k, decoded_bufs):
    """Counters from first principles: a plain heap over every chunk's
    candidates, in (bound desc, chunk asc) order, skipping a chunk only
    when its bound cannot beat a full heap's minimum."""
    ub = (pdf["max_tfsat"] * pdf["term"].map(IDF)).groupby(pdf["chunk"]).sum()
    visit = sorted(ub.index, key=lambda c: (-ub[c], c))
    heap: list = []
    counts = dict.fromkeys(STAT_FIELDS, 0)
    for c in visit:
        rows = pdf[pdf["chunk"] == c]
        if len(heap) >= k and ub[c] < heap[0][0]:
            counts["chunks_skipped"] += 1
            continue
        counts["chunks_visited"] += 1
        counts["rows_decoded"] += len(rows)
        hits = _oracle(rows, k)
        counts["candidates"] += len(hits)
        for d, s in hits:
            item = (s, -d)
            if len(heap) < k:
                heapq.heappush(heap, item)
                counts["heap_pushes"] += 1
            elif item > heap[0]:
                heapq.heapreplace(heap, item)
                counts["heap_pushes"] += 1
        # every row of a visited chunk is decoded exactly once
        for b in rows["postings"]:
            assert decoded_bufs.count(id(b)) == 1
    return counts


@pytest.mark.parametrize("k", [1, 2, 5, 1000])
def test_stats_equal_brute_counts(k):
    pdf = _frame(_postings(15, n_docs=160, p=0.3))  # 20 chunks
    calls: list = []

    def counting(buf):
        calls.append(id(buf))
        return _default_decode(buf)

    stats: dict = {}
    scorer = _wand_scorer(k, PARAMS, idf_map=IDF, decode=counting, stats=stats)
    out = scorer(pdf)
    assert list(zip(out["doc_id"], out["score"])) == _oracle(pdf, k)
    assert set(stats) == set(STAT_FIELDS)
    assert stats["rows_decoded"] == len(calls)
    assert stats == _brute_counts(pdf, k, calls)
    assert stats["chunks_visited"] + stats["chunks_skipped"] == pdf["chunk"].nunique()
    if k == 1:
        assert stats["chunks_skipped"] > 0  # the fixture exercises pruning
    # filled afresh on every call, not accumulated
    scorer(pdf)
    assert stats == _brute_counts(pdf, k, calls[len(calls) // 2:])


def test_stats_count_exclusion_rows_decoded():
    pdf = _frame(_postings(16))
    calls: list = []

    def counting(buf):
        calls.append(id(buf))
        return _default_decode(buf)

    stats: dict = {}
    _wand_scorer(1000, PARAMS, idf_map=IDF, decode=counting, stats=stats,
                 exclude_terms={0: {"beta"}})(pdf)
    # no pruning at this k: every row of a chunk that has scoring rows is
    # decoded once, its exclusion rows included
    scored = set(pdf.loc[pdf["term"] != "beta", "chunk"])
    assert stats["rows_decoded"] == len(calls) == pdf["chunk"].isin(scored).sum()
    assert len(calls) == len(set(calls))
