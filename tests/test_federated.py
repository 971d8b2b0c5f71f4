"""Federated scatter-gather serving gates (query/federated.py).

Contract under test — ES ``dfs_query_then_fetch`` analog:

- idf is federation-global and EXACT (df/N summed across shards, the
  build's own round(ln(N/df),3) expression), so a single-shard federation
  is bit-identical to plain packed serving;
- dl_norm is shard-local (stored 3-dp against the shard's avgdl). On a
  UNIFORM-dl corpus every shard's avgdl coincides, so federated results
  must be bit-identical to serving a MERGED index over the same corpora —
  including after per-shard deletes (uniform dl keeps avgdl invariant
  under deletion, while idf shifts with the live stats on both sides);
- block-max pruning stays safe across the federation (WAND == exhaustive);
- contract mismatches between shards refuse loudly.
"""

import pyspark.sql.functions as F
import pytest

from searchengine_spark.fixtures import transcripts_df
from searchengine_spark.indexing.build import Bm25Params
from searchengine_spark.indexing.deletes import delete_docs
from searchengine_spark.indexing.merge import merge_packed_indexes
from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
from searchengine_spark.query.federated import (
    _doc_bases,
    bm25_topk_federated,
    boolean_search_federated,
    resolve_docs_federated,
    tfidf_topk_federated,
)
from searchengine_spark.query.federated import proximity_topk_federated
from searchengine_spark.query.proximity import (
    proximity_topk_packed_batch,
    tfidf_topk_packed_batch,
)
from searchengine_spark.query.wand import (
    bm25_topk_packed_batch,
    boolean_search_packed,
    resolve_docs,
)
from searchengine_spark.tokenizer import TokenizerConfig

QUERIES = ["greatest rock album", "guitar solo legendary", "drummer tour"]

# 30 tokenizer-proof words (>=3 chars, none in the reference stop list)
_VOCAB = [
    "album", "guitar", "drummer", "chorus", "melody", "vinyl", "bass",
    "rhythm", "anthem", "ballad", "encore", "lyric", "riff", "solo",
    "stage", "tour", "amplifier", "record", "studio", "tempo", "vocal",
    "harmony", "acoustic", "electric", "festival", "jazz", "blues",
    "rock", "legendary", "greatest",
]


@pytest.fixture(scope="module")
def cfg(stop_words):
    return TokenizerConfig(min_token_length=3, stop_words=stop_words)


@pytest.fixture(scope="module")
def corpus(spark):
    return transcripts_df(spark, n_conv=10).persist()


def uniform_corpus(spark, n_conv=4, n_turns=12, dl=6):
    """Every turn tokenizes to exactly ``dl`` terms -> every shard split
    has the same avgdl (1.0 dl_norm everywhere), the regime where the
    federated shard-local-dl_norm contract coincides with a merged index
    bit for bit."""
    rows = [
        (
            f"c{c:03d}",
            t,
            "user",
            " ".join(_VOCAB[(c * 7 + t * 3 + j * 5) % len(_VOCAB)] for j in range(dl)),
            "",
        )
        for c in range(n_conv)
        for t in range(n_turns)
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    )


def _split(corpus):
    a = corpus.filter(F.col("turn_idx") % 2 == 0)
    b = corpus.filter(F.col("turn_idx") % 2 == 1)
    return a, b


def _rows(df, cols=("query_id", "doc_id", "score", "rank")):
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def _ext_rows(df):
    cols = ("query_id", "conv_id", "turn_idx", "score", "rank")
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def _expected_under_fed_order(merged, merged_full_ext, k=10):
    """Re-rank the merged index's FULL (exhaustive) per-query scores under
    the federation's docID tie order — shard asc (turn parity here), then
    (conv_id, turn_idx) — and cut to k. Scores must be bit-identical
    between the two servings; rank order within rounded-score TIES is a
    docID-namespace artifact (merged re-sorts globally, the federation
    offsets per shard), so the expectation applies the federation's order
    to the merged scores rather than weakening to a set compare."""
    pdf = merged_full_ext.toPandas()
    pdf["shard"] = pdf["turn_idx"] % 2
    pdf = pdf.sort_values(
        ["query_id", "score", "shard", "conv_id", "turn_idx"],
        ascending=[True, False, True, True, True],
    )
    pdf["rank"] = pdf.groupby("query_id").cumcount() + 1
    pdf = pdf[pdf["rank"] <= k]
    return sorted(
        (int(r.query_id), r.conv_id, int(r.turn_idx), float(r.score), int(r.rank))
        for r in pdf.itertuples(index=False)
    )


def test_single_shard_identity(spark, corpus, cfg, tmp_path):
    """One-shard federation == plain packed serving, bit for bit (global
    stats degenerate to the shard's own; base offset is 0)."""
    path = str(tmp_path / "solo")
    build_packed_index(corpus, cfg, path, chunk_docs=32)
    pidx = load_packed_index(spark, path)
    plain = bm25_topk_packed_batch(pidx, QUERIES, cfg, k=10, round_dp=6)
    fed = bm25_topk_federated([pidx], QUERIES, cfg, k=10, round_dp=6)
    assert _rows(fed) == _rows(plain)


def test_stored_idf_is_the_federation_idf(spark, corpus, tmp_path):
    """A one-shard federation reads the stored idf instead of recomputing
    it from df and N_live — exact only if every term_stats writer stores
    the recomputed value. Checked for every term on a clean build, after
    delete_docs, after append_batch and after compaction."""
    from searchengine_spark.fixtures import STOP_WORDS_PATH
    from searchengine_spark.indexing.compact import compact_index
    from searchengine_spark.query.federated import _global_term_stats
    from searchengine_spark.streaming.incremental import append_batch

    cfg = TokenizerConfig(
        min_token_length=3,
        stop_words=TokenizerConfig.load_stop_words(STOP_WORDS_PATH))
    path = str(tmp_path / "grown")

    def check(stage):
        pidx = load_packed_index(spark, path)
        stored = pidx.term_stats.select("term", F.col("idf").alias("stored"))
        fed = _global_term_stats([pidx])
        both = stored.join(fed, "term", "full_outer")
        n_terms = both.count()
        same = both.filter(F.col("stored") == F.col("idf")).count()
        assert n_terms > 0 and same == n_terms, stage

    build_packed_index(corpus, cfg, path, chunk_docs=32)
    check("clean")
    delete_docs(spark, path, where="doc_id % 5 = 2")
    check("delete_docs")
    append_batch(
        transcripts_df(spark, n_conv=4).withColumn(
            "conv_id", F.concat(F.lit("e1_"), F.col("conv_id"))),
        path, cfg, batch_id=1)
    check("append_batch")
    compact_index(spark, path)
    check("compacted")


def test_wand_equals_exhaustive(spark, corpus, cfg, tmp_path):
    """Block-max pruning across shards is SAFE: federated WAND == federated
    exhaustive on every query (same docs, same scores, same ranks)."""
    a, b = _split(corpus)
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    build_packed_index(a, cfg, pa, chunk_docs=32)
    build_packed_index(b, cfg, pb, chunk_docs=32)
    shards = [load_packed_index(spark, p) for p in (pa, pb)]
    pruned = bm25_topk_federated(shards, QUERIES, cfg, k=10, round_dp=6)
    full = bm25_topk_federated(shards, QUERIES, cfg, k=10, round_dp=6, exhaustive=True)
    got = _rows(pruned)
    assert got == _rows(full)
    assert len(got) > 0


def test_uniform_dl_equals_merged(spark, cfg, tmp_path):
    """On a uniform-dl corpus (all shard avgdls coincide) federated serving
    is SCORE-bit-identical to a MERGED index over the same corpora, and its
    ranking equals the merged scores re-ranked under the federation's own
    tie order (see _expected_under_fed_order) — compared on external ids
    because the two docID namespaces legitimately differ."""
    corpus = uniform_corpus(spark)
    a, b = _split(corpus)
    pa, pb, pm = (str(tmp_path / d) for d in ("a", "b", "m"))
    build_packed_index(a, cfg, pa, chunk_docs=16)
    build_packed_index(b, cfg, pb, chunk_docs=16)
    merge_packed_indexes(spark, [pa, pb], pm, check_disjoint=True)
    shards = [load_packed_index(spark, p) for p in (pa, pb)]
    merged = load_packed_index(spark, pm)

    fed = bm25_topk_federated(shards, QUERIES, cfg, k=10, round_dp=6)
    fed_ext = resolve_docs_federated(shards, fed)
    n = merged.manifest["n_docs"]
    full = bm25_topk_packed_batch(merged, QUERIES, cfg, k=n, round_dp=6, exhaustive=True)
    got = _ext_rows(fed_ext)
    assert got == _expected_under_fed_order(merged, resolve_docs(merged, full))
    assert len(got) > 0


def test_deletes_fold_with_live_idf(spark, cfg, tmp_path):
    """Per-shard tombstones mask federated results AND shift global idf to
    the live statistics: still bit-identical to a merged index (the merge
    folds tombstones) on the uniform-dl corpus, where deletion cannot move
    avgdl. A federation serving stale df/N or leaking tombstoned docs
    fails this equality."""
    corpus = uniform_corpus(spark)
    a, b = _split(corpus)
    pa, pb, pm = (str(tmp_path / d) for d in ("a", "b", "m"))
    build_packed_index(a, cfg, pa, chunk_docs=16)
    build_packed_index(b, cfg, pb, chunk_docs=16)
    # tombstone some of shard a's docs (doc_ids are dense within the shard)
    delete_docs(spark, pa, doc_ids=[0, 3, 5, 8])
    merge_packed_indexes(spark, [pa, pb], pm, check_disjoint=True)
    shards = [load_packed_index(spark, p) for p in (pa, pb)]
    merged = load_packed_index(spark, pm)

    fed = bm25_topk_federated(shards, QUERIES, cfg, k=10, round_dp=6)
    fed_ext = resolve_docs_federated(shards, fed)
    n = merged.manifest["n_docs"]
    full = bm25_topk_packed_batch(merged, QUERIES, cfg, k=n, round_dp=6, exhaustive=True)
    got = _ext_rows(fed_ext)
    assert got == _expected_under_fed_order(merged, resolve_docs(merged, full))
    assert len(got) > 0
    # the tombstoned external keys really are gone from the federation
    dead = {r["conv_id"] + ":" + str(r["turn_idx"])
            for r in shards[0].docmap.filter(F.col("doc_id").isin([0, 3, 5, 8])).collect()}
    alive = {r["conv_id"] + ":" + str(r["turn_idx"])
             for r in fed_ext.select("conv_id", "turn_idx").collect()}
    assert not (dead & alive)


def test_two_phase_equals_single_gather(spark, corpus, cfg, tmp_path):
    """The two gather topologies are bit-identical — including under
    per-shard tombstones and in exhaustive mode. two_phase is exact
    because a doc's whole score lives inside one shard: any doc outside
    its shard's top-k is dominated by k same-shard docs under the global
    (score desc, doc_id asc) order, so the shard-local cut loses nothing
    (the docstring's exactness argument, pinned here)."""
    a, b = _split(corpus)
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    build_packed_index(a, cfg, pa, chunk_docs=32)
    build_packed_index(b, cfg, pb, chunk_docs=32)
    delete_docs(spark, pa, doc_ids=[1, 4])
    shards = [load_packed_index(spark, p) for p in (pa, pb)]
    for exhaustive in (False, True):
        two = bm25_topk_federated(
            shards, QUERIES, cfg, k=7, round_dp=6,
            exhaustive=exhaustive, gather="two_phase",
        )
        one = bm25_topk_federated(
            shards, QUERIES, cfg, k=7, round_dp=6,
            exhaustive=exhaustive, gather="single",
        )
        got = _rows(two)
        assert got == _rows(one)
        assert len(got) > 0
        # "auto" resolves to one of the two gated topologies -> same rows
        auto = bm25_topk_federated(
            shards, QUERIES, cfg, k=7, round_dp=6,
            exhaustive=exhaustive, gather="auto",
        )
        assert _rows(auto) == got
    with pytest.raises(ValueError, match="gather"):
        bm25_topk_federated(shards, QUERIES, cfg, gather="broadcast")


def _ext_keys(shards, hits, extra=()):
    """(query_id, conv_id, turn_idx[, extra...]) rows for a federated
    boolean result — docmaps shifted by the same base offsets the search
    applied (resolve_docs_federated needs score/rank columns; boolean
    results have none)."""
    import functools

    from pyspark.sql import DataFrame as DF

    parts = [
        s.docmap.select(
            (F.col("doc_id") + F.lit(base)).cast("long").alias("doc_id"),
            "conv_id", "turn_idx",
        )
        for s, base in zip(shards, _doc_bases(shards))
    ]
    dm = functools.reduce(DF.unionByName, parts)
    cols = ("query_id", "conv_id", "turn_idx", *extra)
    return sorted(
        tuple(r[c] for c in cols)
        for r in hits.join(dm, "doc_id").select(*cols).collect()
    )


def test_tfidf_federated_equals_merged_any_corpus(spark, corpus, cfg, tmp_path):
    """Federated TF-IDF == a merged index on the NON-uniform fixture corpus
    (doc weights are corpus-stat-free; the query ltc pins federation-global
    idf), including per-shard deletes — a STRONGER contract than BM25's
    uniform-dl-only equality. Compared on external ids under the
    federation tie order."""
    a, b = _split(corpus)
    pa, pb, pm = (str(tmp_path / d) for d in ("a", "b", "m"))
    build_packed_index(a, cfg, pa, chunk_docs=32, tfidf_sidecar=True)
    build_packed_index(b, cfg, pb, chunk_docs=32, tfidf_sidecar=True)
    delete_docs(spark, pa, doc_ids=[0, 2, 7])
    merge_packed_indexes(spark, [pa, pb], pm, check_disjoint=True)
    shards = [load_packed_index(spark, p) for p in (pa, pb)]
    merged = load_packed_index(spark, pm)

    fed = tfidf_topk_federated(shards, QUERIES, cfg, k=10, round_dp=6)
    fed_ext = resolve_docs_federated(shards, fed)
    n = merged.manifest["n_docs"]
    full = tfidf_topk_packed_batch(merged, QUERIES, cfg, k=n, round_dp=6)
    got = _ext_rows(fed_ext)
    assert got == _expected_under_fed_order(merged, resolve_docs(merged, full))
    assert len(got) > 0

    # single-shard federation degenerates to plain packed tfidf, bit for bit
    solo = tfidf_topk_federated([shards[1]], QUERIES, cfg, k=10, round_dp=6)
    plain = tfidf_topk_packed_batch(shards[1], QUERIES, cfg, k=10, round_dp=6)
    assert _rows(solo) == _rows(plain)


def test_boolean_federated_equals_merged(spark, corpus, cfg, tmp_path):
    """Federated boolean AND/OR == merged-index boolean on external ids
    (zero merge exchange: disjoint shards make the per-shard union exact),
    and the result is payload-independent — a 'boolean' gap-only shard
    next to a 'freq' shard returns the identical sets."""
    a, b = _split(corpus)
    pa, pb, pb2, pm = (str(tmp_path / d) for d in ("a", "b", "b2", "m"))
    build_packed_index(a, cfg, pa, chunk_docs=32)
    build_packed_index(b, cfg, pb, chunk_docs=32)
    build_packed_index(b, cfg, pb2, chunk_docs=32, payload="boolean")
    merge_packed_indexes(spark, [pa, pb], pm, check_disjoint=True)
    shards = [load_packed_index(spark, p) for p in (pa, pb)]
    mixed = [shards[0], load_packed_index(spark, pb2)]
    merged = load_packed_index(spark, pm)

    for op, extra in (("and", ()), ("or", ("n_terms",))):
        fed = boolean_search_federated(shards, QUERIES, cfg, op=op)
        want = boolean_search_packed(merged, QUERIES, cfg, op=op)
        got = _ext_keys(shards, fed, extra=extra)
        assert got == _ext_keys([merged], want, extra=extra), op
        assert len(got) > 0, op
        assert got == _ext_keys(mixed, boolean_search_federated(
            mixed, QUERIES, cfg, op=op), extra=extra), op
    with pytest.raises(ValueError, match="op"):
        boolean_search_federated(shards, QUERIES, cfg, op="xor")


def test_proximity_federated_tfidf_any_corpus(spark, corpus, cfg, tmp_path):
    """TFIDF_OPTIMIZED federates merged-exact on the NON-uniform fixture
    corpus: base weights are corpus-stat-free, the query ltc pins global
    idf, and the positional boost is a flat 0.1*boost with no corpus
    statistic — so like plain federated TF-IDF the equality holds on ANY
    corpus. Single-shard federation degenerates bit-for-bit."""
    a, b = _split(corpus)
    pa, pb, pm = (str(tmp_path / d) for d in ("a", "b", "m"))
    build_packed_index(a, cfg, pa, chunk_docs=32, positional=True,
                       tfidf_sidecar=True)
    build_packed_index(b, cfg, pb, chunk_docs=32, positional=True,
                       tfidf_sidecar=True)
    merge_packed_indexes(spark, [pa, pb], pm, check_disjoint=True)
    shards = [load_packed_index(spark, p) for p in (pa, pb)]
    merged = load_packed_index(spark, pm)

    fed = proximity_topk_federated(shards, QUERIES, cfg, k=10, mode="tfidf",
                                   round_dp=6)
    fed_ext = resolve_docs_federated(shards, fed)
    n = merged.manifest["n_docs"]
    full = proximity_topk_packed_batch(merged, QUERIES, cfg, k=n,
                                       mode="tfidf", round_dp=6)
    got = _ext_rows(fed_ext)
    assert got == _expected_under_fed_order(merged, resolve_docs(merged, full))
    assert len(got) > 0

    solo = proximity_topk_federated([shards[0]], QUERIES, cfg, k=10,
                                    mode="tfidf", round_dp=6)
    plain = proximity_topk_packed_batch(shards[0], QUERIES, cfg, k=10,
                                        mode="tfidf", round_dp=6)
    assert _rows(solo) == _rows(plain)
    with pytest.raises(ValueError, match="mode"):
        proximity_topk_federated(shards, QUERIES, cfg, mode="cosine")


def test_proximity_federated_bm25_uniform_dl(spark, cfg, tmp_path):
    """BM25_OPTIMIZED federates merged-exact on the uniform-dl corpus (the
    same regime as plain federated BM25): shard avgdls coincide, and the
    boost's (dl_min, dl_max) envelope — min/max of the shards' stored
    bounds — equals the merged index's own corpus bounds."""
    corpus = uniform_corpus(spark)
    a, b = _split(corpus)
    pa, pb, pm = (str(tmp_path / d) for d in ("a", "b", "m"))
    build_packed_index(a, cfg, pa, chunk_docs=16, positional=True)
    build_packed_index(b, cfg, pb, chunk_docs=16, positional=True)
    merge_packed_indexes(spark, [pa, pb], pm, check_disjoint=True)
    shards = [load_packed_index(spark, p) for p in (pa, pb)]
    merged = load_packed_index(spark, pm)

    fed = proximity_topk_federated(shards, QUERIES, cfg, k=10, mode="bm25",
                                   round_dp=6)
    fed_ext = resolve_docs_federated(shards, fed)
    n = merged.manifest["n_docs"]
    full = proximity_topk_packed_batch(merged, QUERIES, cfg, k=n,
                                       mode="bm25", round_dp=6)
    got = _ext_rows(fed_ext)
    assert got == _expected_under_fed_order(merged, resolve_docs(merged, full))
    assert len(got) > 0


def test_phrase_minspan_federated_equals_merged(spark, corpus, cfg, tmp_path):
    """Phrase and minimal-span retrieval federate EXACTLY on any corpus:
    both are doc-local integer-valued operators (no corpus statistics at
    all), so the full per-shard result sets equal the merged index's bit
    for bit on external ids, and the ranked cut matches the merged scores
    re-ranked under the federation tie order."""
    from searchengine_spark.query.federated import (
        minspan_topk_federated,
        phrase_topk_federated,
    )
    from searchengine_spark.query.phrase import phrase_topk_packed_batch
    from searchengine_spark.query.spans import minspan_topk_packed_batch

    a, b = _split(corpus)
    pa, pb, pm = (str(tmp_path / d) for d in ("a", "b", "m"))
    build_packed_index(a, cfg, pa, chunk_docs=32, positional=True)
    build_packed_index(b, cfg, pb, chunk_docs=32, positional=True)
    merge_packed_indexes(spark, [pa, pb], pm, check_disjoint=True)
    shards = [load_packed_index(spark, p) for p in (pa, pb)]
    merged = load_packed_index(spark, pm)

    cases = [
        (
            phrase_topk_federated(shards, QUERIES, cfg, k=None),
            phrase_topk_packed_batch(merged, QUERIES, cfg, k=None),
            ("n_occurrences", "first_pos"),
        ),
        (
            minspan_topk_federated(shards, QUERIES, cfg, k=None),
            minspan_topk_packed_batch(merged, QUERIES, cfg, k=None),
            ("span_len", "lo", "hi"),
        ),
    ]
    for fed, want, payload in cases:
        got = _ext_keys(shards, fed.drop("rank"), extra=payload)
        assert got == _ext_keys([merged], want.drop("rank"), extra=payload)
        assert len(got) > 0
    # ranked cut: per-shard k is exact under the global order — the
    # federated k=3 set equals the head of the federation-ordered full set
    fed3 = _ext_keys(shards, phrase_topk_federated(shards, QUERIES, cfg, k=3),
                     extra=("n_occurrences", "rank"))
    full = _ext_keys(shards, phrase_topk_federated(shards, QUERIES, cfg, k=None),
                     extra=("n_occurrences", "rank"))
    want3 = [r for r in full if r[-1] <= 3]
    assert fed3 == want3 and len(fed3) > 0


def test_tfidf_federated_refusals(spark, corpus, cfg, tmp_path):
    """TF-IDF federation refuses shards with mismatched payload /
    baked doc schema; a sidecar-less freq shard fails in the per-shard
    pipeline with the single-index error."""
    a, b = _split(corpus)
    pa, pb, pc = (str(tmp_path / d) for d in ("a", "b", "c"))
    build_packed_index(a, cfg, pa, chunk_docs=32, tfidf_sidecar=True)
    build_packed_index(b, cfg, pb, chunk_docs=32, payload="tfidf")
    build_packed_index(b, cfg, pc, chunk_docs=32)  # freq, no sidecar
    sa, sb, sc = (load_packed_index(spark, p) for p in (pa, pb, pc))
    with pytest.raises(ValueError, match="different contract"):
        tfidf_topk_federated([sa, sb], QUERIES, cfg)
    with pytest.raises(ValueError, match="tfidf_sidecar"):
        tfidf_topk_federated([sa, sc], QUERIES, cfg, k=5).collect()


def test_filtered_and_boosted_federated(spark, cfg, tmp_path):
    """Attribute-filtered and doc-boosted retrieval federate: per-shard
    resolved doc sets shift into the global namespace and join the
    matched chunks per GLOBAL chunk id. On the uniform-dl corpus both are
    bit-identical to the same operation on a merged index (the filter
    constrains candidates, not statistics; boosts multiply after
    scoring); mismatched per-shard frame counts refuse."""
    from searchengine_spark.query.wand import boost_doc_ids, filter_doc_ids

    corpus = uniform_corpus(spark)
    a, b = _split(corpus)
    pa, pb, pm = (str(tmp_path / d) for d in ("a", "b", "m"))
    build_packed_index(a, cfg, pa, chunk_docs=16)
    build_packed_index(b, cfg, pb, chunk_docs=16)
    merge_packed_indexes(spark, [pa, pb], pm, check_disjoint=True)
    shards = [load_packed_index(spark, p) for p in (pa, pb)]
    merged = load_packed_index(spark, pm)
    n = merged.manifest["n_docs"]
    pred = "turn_idx % 3 = 0"
    bexpr = "CASE WHEN turn_idx % 4 = 0 THEN 1.7 ELSE 1.0 END"

    # filtered: only turn_idx % 3 == 0 docs may rank
    fed = bm25_topk_federated(
        shards, QUERIES, cfg, k=10, round_dp=6,
        doc_filters=[filter_doc_ids(s, corpus, pred) for s in shards],
    )
    full = bm25_topk_packed_batch(
        merged, QUERIES, cfg, k=n, round_dp=6, exhaustive=True,
        doc_filter=filter_doc_ids(merged, corpus, pred),
    )
    got = _ext_rows(resolve_docs_federated(shards, fed))
    assert got == _expected_under_fed_order(merged, resolve_docs(merged, full))
    assert len(got) > 0
    assert all(t % 3 == 0 for _, _, t, _, _ in got)

    # boosted: multipliers land on the same global ids the scorer shifts to
    fedb = bm25_topk_federated(
        shards, QUERIES, cfg, k=10, round_dp=6,
        doc_boosts=[boost_doc_ids(s, corpus, bexpr) for s in shards],
    )
    fullb = bm25_topk_packed_batch(
        merged, QUERIES, cfg, k=n, round_dp=6, exhaustive=True,
        doc_boost=boost_doc_ids(merged, corpus, bexpr),
    )
    gotb = _ext_rows(resolve_docs_federated(shards, fedb))
    assert gotb == _expected_under_fed_order(merged, resolve_docs(merged, fullb))
    assert len(gotb) > 0
    assert gotb != got

    with pytest.raises(ValueError, match="doc_filters"):
        bm25_topk_federated(shards, QUERIES, cfg,
                            doc_filters=[filter_doc_ids(shards[0], corpus, pred)])


def test_prf_and_mlt_federated(spark, corpus, cfg, tmp_path):
    """Rocchio PRF and more-like-this federate. Single-shard federation is
    bit-identical to the single-index path on the skewed corpus (the
    global-idf recompute must reproduce every stored idf). Two-shard
    federation equals a merged index on the uniform-dl corpus with
    r >= corpus (the feedback SET is then tie-order independent, so the
    only remaining divergence sources — expansion weights and the
    weighted retrieval — are what the gate exercises)."""
    from searchengine_spark.query.federated import (
        more_like_this_federated,
        prf_bm25_topk_federated,
    )
    from searchengine_spark.query.feedback import (
        more_like_this_packed,
        prf_bm25_topk_packed_batch,
    )

    # --- single-shard identity on the non-uniform fixture corpus
    ps = str(tmp_path / "solo")
    build_packed_index(corpus, cfg, ps, chunk_docs=32)
    solo = load_packed_index(spark, ps)
    got = _rows(prf_bm25_topk_federated([solo], QUERIES, cfg, k=10, r=5,
                                        m=3, round_dp=6))
    want = _rows(prf_bm25_topk_packed_batch(solo, QUERIES, cfg, k=10, r=5,
                                            m=3, round_dp=6))
    assert got == want and len(got) > 0
    gid = int(solo.docmap.limit(1).collect()[0]["doc_id"])
    gotm = _rows(more_like_this_federated([solo], [gid], k=10, round_dp=6))
    wantm = _rows(more_like_this_packed(solo, [gid], k=10, round_dp=6))
    assert gotm == wantm and len(gotm) > 0

    # --- two shards vs merged, uniform corpus, tie-independent feedback
    ucorpus = uniform_corpus(spark)
    a, b = _split(ucorpus)
    pa, pb, pm = (str(tmp_path / d) for d in ("a", "b", "m"))
    build_packed_index(a, cfg, pa, chunk_docs=16)
    build_packed_index(b, cfg, pb, chunk_docs=16)
    merge_packed_indexes(spark, [pa, pb], pm, check_disjoint=True)
    shards = [load_packed_index(spark, p) for p in (pa, pb)]
    merged = load_packed_index(spark, pm)
    n = merged.manifest["n_docs"]

    fed = prf_bm25_topk_federated(shards, QUERIES, cfg, k=10, r=n, m=3,
                                  round_dp=6)
    full = prf_bm25_topk_packed_batch(merged, QUERIES, cfg, k=n, r=n, m=3,
                                      round_dp=6, exhaustive=True)
    got = _ext_rows(resolve_docs_federated(shards, fed))
    assert got == _expected_under_fed_order(merged, resolve_docs(merged, full))
    assert len(got) > 0

    # MLT source chosen by external id so both namespaces agree on the doc
    ext = shards[0].docmap.limit(1).collect()[0]
    gsrc = int(ext["doc_id"])  # shard 0 -> base 0 -> already global
    msrc = int(
        merged.docmap.filter(
            (F.col("conv_id") == ext["conv_id"])
            & (F.col("turn_idx") == ext["turn_idx"])
        ).collect()[0]["doc_id"]
    )
    fedm = more_like_this_federated(shards, [gsrc], k=n, round_dp=6,
                                    exhaustive=True)
    fullm = more_like_this_packed(merged, [msrc], k=n, round_dp=6,
                                  exhaustive=True)
    gotm = _ext_rows(resolve_docs_federated(shards, fedm))
    assert gotm == _expected_under_fed_order(
        merged, resolve_docs(merged, fullm), k=n)
    assert len(gotm) > 0


def test_suggest_and_fuzzy_federated(spark, corpus, cfg, tmp_path):
    """Federated suggest == merged-index suggest bit-for-bit (live df sums
    across disjoint shards), including after per-shard deletes; federated
    fuzzy corrects OOV typos against the FEDERATION dictionary and then
    matches the explicitly-corrected query exactly."""
    from searchengine_spark.query.federated import suggest_terms_federated
    from searchengine_spark.query.wand import suggest_terms

    a, b = _split(corpus)
    pa, pb, pm = (str(tmp_path / d) for d in ("a", "b", "m"))
    build_packed_index(a, cfg, pa, chunk_docs=32)
    build_packed_index(b, cfg, pb, chunk_docs=32)
    delete_docs(spark, pa, doc_ids=[0, 1, 2])
    merge_packed_indexes(spark, [pa, pb], pm, check_disjoint=True)
    shards = [load_packed_index(spark, p) for p in (pa, pb)]
    merged = load_packed_index(spark, pm)

    for prefix in ("al", "ro", "t"):
        got = [(r["term"], r["df"]) for r in
               suggest_terms_federated(shards, prefix, k=8).collect()]
        want = [(r["term"], int(r["df"])) for r in
                suggest_terms(merged, prefix, k=8).collect()]
        assert got == want, prefix
    assert len(suggest_terms_federated(shards, "al", k=8).collect()) > 0
    with pytest.raises(ValueError, match="prefix"):
        suggest_terms_federated(shards, "", k=8)

    # fuzzy: 'albom' is OOV everywhere, distance 1 from 'album' — the
    # corrected federated batch must equal the explicit one bit-for-bit
    fz = bm25_topk_federated(
        shards, ["greatest rock albom"], cfg, k=10, round_dp=6, fuzzy=True)
    want = bm25_topk_federated(
        shards, ["greatest rock album"], cfg, k=10, round_dp=6)
    got = _rows(fz)
    assert got == _rows(want)
    assert len(got) > 0


def test_compat_refusals(spark, corpus, cfg, tmp_path):
    """Shards built under different contracts refuse loudly; boolean
    payloads (no dlq) refuse too."""
    a, b = _split(corpus)
    pa, pb, pc = (str(tmp_path / d) for d in ("a", "b", "c"))
    build_packed_index(a, cfg, pa, chunk_docs=32)
    build_packed_index(b, cfg, pb, chunk_docs=16)  # different chunk grid
    build_packed_index(b, cfg, pc, chunk_docs=32, payload="boolean")
    sa, sb, sc = (load_packed_index(spark, p) for p in (pa, pb, pc))
    with pytest.raises(ValueError, match="different contract"):
        bm25_topk_federated([sa, sb], QUERIES, cfg)
    with pytest.raises(ValueError, match="payload"):
        bm25_topk_federated([sc], QUERIES, cfg)
    with pytest.raises(ValueError, match="at least one"):
        bm25_topk_federated([], QUERIES, cfg)


def test_three_shards_and_empty_query(spark, corpus, cfg, tmp_path):
    """Three-way federation ranks (smoke at N>2: offsets stay chunk-
    aligned, heap merges three scans); an all-stop-word query batch
    returns the empty frame instead of scanning anything."""
    parts = [corpus.filter(F.col("turn_idx") % 3 == i) for i in range(3)]
    paths = [str(tmp_path / f"s{i}") for i in range(3)]
    for p, df in zip(paths, parts):
        build_packed_index(df, cfg, p, chunk_docs=32)
    shards = [load_packed_index(spark, p) for p in paths]
    fed = bm25_topk_federated(shards, QUERIES, cfg, k=5, round_dp=6)
    pdf = fed.toPandas()
    assert len(pdf) > 0
    assert (pdf.groupby("query_id")["rank"].max() <= 5).all()
    # doc ids live in the global namespace and resolve uniquely
    ext = resolve_docs_federated(shards, fed).toPandas()
    assert len(ext) == len(pdf)
    empty = bm25_topk_federated(shards, ["the of and"], cfg, k=5)
    assert empty.count() == 0

def test_parse_shard_specs():
    """--shards spec syntax: path[@seq] per shard, --snapshot as the
    default for bare paths, @ preserved when the suffix isn't an int."""
    from searchengine_spark.query.federated import parse_shard_specs

    assert parse_shard_specs("a,b") == [("a", None), ("b", None)]
    assert parse_shard_specs("a@3, b ,c@0") == [
        ("a", 3), ("b", None), ("c", 0)]
    assert parse_shard_specs("a@3,b", default_snapshot=1) == [
        ("a", 3), ("b", 1)]
    # @ inside a path survives when the tail isn't all digits
    assert parse_shard_specs("s3a://bkt/u@host/idx,x@12e") == [
        ("s3a://bkt/u@host/idx", None), ("x@12e", None)]
    # non-ASCII "digits" are literal path chars, never int() food
    assert parse_shard_specs("idx@\u00b2,idx@\u0663") == [
        ("idx@\u00b2", None), ("idx@\u0663", None)]
    # @live: explicit escape — literal path AND live even under --snapshot
    assert parse_shard_specs("a,b@live,idx@20250101@live",
                             default_snapshot=2) == [
        ("a", 2), ("b", None), ("idx@20250101", None)]
    with pytest.raises(ValueError, match="no shard paths"):
        parse_shard_specs(" , ")


def test_snapshot_pinned_federation(spark, corpus, cfg, tmp_path):
    """Federation-wide time travel: pinning a maintained shard to its
    pre-append snapshot reproduces the pre-append federated results bit
    for bit — including the doc-base offsets (the pinned shard goes
    FIRST so its high-water mark shifts every later shard's base), while
    the live federation sees the appended docs."""
    from searchengine_spark.streaming.incremental import append_batch

    a, b = _split(corpus)
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    build_packed_index(a, cfg, pa, chunk_docs=32)
    build_packed_index(b, cfg, pb, chunk_docs=32)
    before = _ext_rows(
        resolve_docs_federated(
            [load_packed_index(spark, p) for p in (pa, pb)],
            bm25_topk_federated(
                [load_packed_index(spark, p) for p in (pa, pb)],
                QUERIES, cfg, k=10, round_dp=6,
            ),
        )
    )

    # append enough NEW docs to shard a to cross a chunk boundary (the
    # doc-base of shard b moves on the live view, stays put pinned @0)
    extra = transcripts_df(spark, n_conv=6).withColumn(
        "conv_id", F.concat(F.lit("zz_"), F.col("conv_id"))
    )
    append_batch(extra, pa, cfg, batch_id=1)

    live = [load_packed_index(spark, pa), load_packed_index(spark, pb)]
    pinned = [
        load_packed_index(spark, pa, snapshot=0),
        load_packed_index(spark, pb),
    ]
    assert live[0].manifest["n_docs"] > pinned[0].manifest["n_docs"]

    got = _ext_rows(
        resolve_docs_federated(
            pinned, bm25_topk_federated(pinned, QUERIES, cfg, k=10, round_dp=6)
        )
    )
    assert got == before
    assert len(got) > 0


def test_conjunctive_bm25_federated(spark, cfg, tmp_path):
    """Federated conjunctive BM25 (the bm25_and ranker): on a uniform-dl
    corpus it is score-bit-identical to merged-index conjunctive WAND
    under the federation tie order; the full conjunctive doc set equals
    federated boolean AND; a query with a federation-wide OOV term
    matches nothing; pruning stays safe (WAND == exhaustive).

    uniform_corpus docs hold one residue class mod 5 of _VOCAB (indices
    step by 5), so conjunctive queries must draw all terms from one
    class to match; the default QUERIES mix classes and match zero
    docs under AND — itself asserted at the end."""
    conj_queries = ["album vinyl encore", "guitar bass lyric",
                    "drummer rhythm rock"]
    corpus = uniform_corpus(spark)
    a, b = _split(corpus)
    pa, pb, pm = (str(tmp_path / d) for d in ("a", "b", "m"))
    build_packed_index(a, cfg, pa, chunk_docs=16)
    build_packed_index(b, cfg, pb, chunk_docs=16)
    merge_packed_indexes(spark, [pa, pb], pm, check_disjoint=True)
    shards = [load_packed_index(spark, p) for p in (pa, pb)]
    merged = load_packed_index(spark, pm)
    n = merged.manifest["n_docs"]

    fed = bm25_topk_federated(
        shards, conj_queries, cfg, k=10, round_dp=6, conjunctive=True)
    full_merged = bm25_topk_packed_batch(
        merged, conj_queries, cfg, k=n, round_dp=6, exhaustive=True,
        conjunctive=True)
    got = _ext_rows(resolve_docs_federated(shards, fed))
    assert got == _expected_under_fed_order(
        merged, resolve_docs(merged, full_merged))
    assert len(got) > 0

    # the FULL conjunctive candidate set is exactly federated boolean AND
    fed_full = bm25_topk_federated(
        shards, conj_queries, cfg, k=n, round_dp=6, conjunctive=True)
    conj_sets = {}
    for r in fed_full.select("query_id", "doc_id").collect():
        conj_sets.setdefault(r["query_id"], set()).add(r["doc_id"])
    bool_sets = {}
    for r in (boolean_search_federated(shards, conj_queries, cfg, op="and")
              .select("query_id", "doc_id").collect()):
        bool_sets.setdefault(r["query_id"], set()).add(r["doc_id"])
    assert conj_sets == {q: s for q, s in bool_sets.items() if s}

    # pruning safety: block-max WAND == exhaustive under require_all
    exh = bm25_topk_federated(
        shards, conj_queries, cfg, k=10, round_dp=6, conjunctive=True,
        exhaustive=True)
    assert _rows(exh) == _rows(fed)
    # AND semantics: a federation-wide OOV term, or terms scattered
    # across residue classes (no single doc holds them all), match NOTHING
    empty = bm25_topk_federated(
        shards, ["album zzzunknownzzz"], cfg, k=5, conjunctive=True)
    assert empty.count() == 0
    mixed = bm25_topk_federated(
        shards, QUERIES, cfg, k=5, conjunctive=True)
    assert mixed.count() == 0


def test_span_queries_federated_equal_merged(spark, corpus, cfg, tmp_path):
    """span_first / span_not federate EXACTLY (doc-local positions,
    integer ranking — the phrase/minspan argument): full per-shard sets
    equal the merged index's bit for bit on external ids."""
    from searchengine_spark.query.federated import (
        span_first_topk_federated,
        span_not_topk_federated,
    )
    from searchengine_spark.query.spanqueries import (
        span_first_topk_packed_batch,
        span_not_topk_packed_batch,
    )

    a, b = _split(corpus)
    pa, pb, pm = (str(tmp_path / d) for d in ("sa", "sb", "sm"))
    build_packed_index(a, cfg, pa, chunk_docs=32, positional=True)
    build_packed_index(b, cfg, pb, chunk_docs=32, positional=True)
    merge_packed_indexes(spark, [pa, pb], pm, check_disjoint=True)
    shards = [load_packed_index(spark, p) for p in (pa, pb)]
    merged = load_packed_index(spark, pm)

    sf_q = [("album", 4), ("rock", 2)]
    sn_q = [("album", "rock"), ("music", "album")]
    cases = [
        (
            span_first_topk_federated(shards, sf_q, cfg, k=None),
            span_first_topk_packed_batch(merged, sf_q, cfg, k=None),
            ("n_within", "first_pos"),
        ),
        (
            span_not_topk_federated(shards, sn_q, cfg, pre=2, post=2,
                                    k=None),
            span_not_topk_packed_batch(merged, sn_q, cfg, pre=2, post=2,
                                       k=None),
            ("n_clear", "first_clear"),
        ),
    ]
    for fed, want, payload in cases:
        got = _ext_keys(shards, fed.drop("rank"), extra=payload)
        assert got == _ext_keys([merged], want.drop("rank"), extra=payload)
        assert len(got) > 0
    # ranked cut safety under the global integer order
    fed3 = _ext_keys(shards,
                     span_first_topk_federated(shards, sf_q, cfg, k=3),
                     extra=("first_pos", "rank"))
    full = _ext_keys(shards,
                     span_first_topk_federated(shards, sf_q, cfg, k=None),
                     extra=("first_pos", "rank"))
    want3 = [r for r in full if r[-1] <= 3]
    assert fed3 == want3 and len(fed3) > 0
