"""Driver contract for the searchengine_spark engine.

``entry(spark)``   — flagship: BM25 top-10 over sf0.001 documents.
``queries()``      — one entry per implemented operator (SURVEY.md §2),
                     each (spark, sf_dir) -> DataFrame.
``oracle_sql()``   — DuckDB-runnable SQL producing identical rows/columns
                     (column names aliased identically on both sides).

Tokenization parity between engines: both sides lower-case, map every
``string.punctuation`` char to a space, split on whitespace and keep tokens
of length >= MIN_LEN — the reference tokenizer semantics
(/root/reference/src/models/tokenizer.py:41-72) restricted to min_len>=2
where the tab/newline standalone-token quirk is unobservable
(searchengine_spark/tokenizer.py module docstring).

Floating-point policy: scores are rounded to 6dp on BOTH sides and top-k
ordering uses the rounded score with doc_id tie-break, so the order-
insensitive value-hash comparison is robust to last-ulp summation-order
differences between Spark and DuckDB.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.fixtures import STOP_WORDS_PATH
from searchengine_spark.indexing.build import Bm25Params, build_index
from searchengine_spark.indexing.docids import with_doc_ids
from searchengine_spark.query.bm25 import bm25_topk_batch
from searchengine_spark.tokenizer import PUNCT_CLASS, TokenizerConfig, tokenize_text

# ---------------------------------------------------------------- config

MIN_LEN = 2
CFG = TokenizerConfig(min_token_length=MIN_LEN)
K, B = 1.2, 0.75  # reference test-entry defaults (src/test.py:45-46)

# Fixed benchmark queries over the testdata `documents` table (its vocab is
# OLAP-ish words; see TESTDATA.md). Tokenized once here so both engines see
# the same unique term lists (query-term multiplicity ignored — reference
# quirk, src/models/rankers/bm25.py:44-53).
QUERY_STRINGS = {
    0: "spark merge window vector",
    1: "fast hash join, big table scan!",
    2: "slow stream batch",
}


def _qterms(qid: int) -> list[str]:
    return list(dict.fromkeys(tokenize_text(QUERY_STRINGS[qid], CFG)))


# ---------------------------------------------------------------- helpers

def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _doc_index(spark: SparkSession, sf_dir: str, positional: bool = False):
    return build_index(
        _documents(spark, sf_dir), CFG, text_col="text", id_col="doc_id",
        positional=positional,
    )


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _sql_term_list(terms: list[str]) -> str:
    return "[" + ", ".join(_sql_quote(t) for t in terms) + "]"


# DuckDB tokenizer fragment == reference tokenizer at min_len>=2.
_PUNCT_SQL = _sql_quote(PUNCT_CLASS)
_TOK_SQL = (
    "list_filter(regexp_split_to_array(lower(regexp_replace(text, "
    f"{_PUNCT_SQL}, ' ', 'g')), '\\s+'), t -> length(t) >= {MIN_LEN})"
)

# Shared oracle CTE prefix: tokenized docs -> doc lengths -> exploded
# (term, doc_id, tf) index -> per-term df/idf. Mirrors IndexTables
# (searchengine_spark/indexing/build.py).
_INDEX_CTES = f"""
tok AS (
  SELECT doc_id, {_TOK_SQL} AS tokens FROM documents
),
dl AS (
  SELECT doc_id, len(tokens)::BIGINT AS dl FROM tok
),
corpus AS (
  SELECT count(*)::BIGINT AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl
),
dln AS (
  SELECT doc_id, dl, round(dl / (SELECT avgdl FROM corpus), 3) AS dl_norm FROM dl
),
exploded AS (
  SELECT doc_id, unnest(tokens) AS term FROM tok
),
idx AS (
  SELECT term, doc_id, count(*)::BIGINT AS tf FROM exploded GROUP BY term, doc_id
),
term_stats AS (
  SELECT term, count(*)::BIGINT AS df,
         round(ln((SELECT n FROM corpus)::DOUBLE / count(*)), 3) AS idf
  FROM idx GROUP BY term
)
"""


def _tok_sql_for(col: str) -> str:
    """The _TOK_SQL tokenize chain over another string column."""
    return (
        f"list_filter(regexp_split_to_array(lower(regexp_replace({col}, "
        f"{_PUNCT_SQL}, ' ', 'g')), '\\s+'), t -> length(t) >= {MIN_LEN})"
    )


def _field_index_ctes(sfx: str, col: str) -> str:
    """Per-FIELD twin of _INDEX_CTES (multi_match: every field carries
    its own df/idf/avgdl/dl_norm — the Lucene per-field-statistics
    model), suffixed so several fields coexist in one WITH chain."""
    return f"""
tok{sfx} AS (SELECT doc_id, {_tok_sql_for(col)} AS tokens FROM documents),
dl{sfx} AS (SELECT doc_id, len(tokens)::BIGINT AS dl FROM tok{sfx}),
corpus{sfx} AS (
  SELECT count(*)::BIGINT AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl{sfx}
),
dln{sfx} AS (
  SELECT doc_id, dl, round(dl / (SELECT avgdl FROM corpus{sfx}), 3) AS dl_norm
  FROM dl{sfx}
),
exploded{sfx} AS (SELECT doc_id, unnest(tokens) AS term FROM tok{sfx}),
idx{sfx} AS (
  SELECT term, doc_id, count(*)::BIGINT AS tf FROM exploded{sfx}
  GROUP BY term, doc_id
),
stats{sfx} AS (
  SELECT term, count(*)::BIGINT AS df,
         round(ln((SELECT n FROM corpus{sfx})::DOUBLE / count(*)), 3) AS idf
  FROM idx{sfx} GROUP BY term
)"""


def _field_contrib_sql(sfx: str) -> str:
    return (
        f"stats{sfx}.idf * (idx{sfx}.tf * ({K} + 1.0)) / "
        f"(idx{sfx}.tf + {K} * (1.0 - {B} + {B} * dln{sfx}.dl_norm))"
    )


def _bm25_contrib_sql() -> str:
    return (
        f"term_stats.idf * (idx.tf * ({K} + 1.0)) / "
        f"(idx.tf + {K} * (1.0 - {B} + {B} * dln.dl_norm))"
    )


def _bm25_scored_cte(qid: int) -> str:
    terms = _sql_term_list(_qterms(qid))
    return f"""
q AS (SELECT unnest({terms}) AS term),
scored AS (
  SELECT idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx
  JOIN q USING (term)
  JOIN term_stats USING (term)
  JOIN dln USING (doc_id)
  GROUP BY idx.doc_id
)
"""


# ---------------------------------------------------------------- queries

def q_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I3+I10: posting accumulation + df/idf (SURVEY.md §2.2)."""
    it = _doc_index(spark, sf_dir)
    tstats = it.index.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("tf").alias("total_tf")
    )
    tstats = tstats.withColumn(
        "idf", F.round(F.log(F.lit(float(it.n_docs)) / F.col("df")), 3)
    )
    return tstats.orderBy(F.desc("df"), F.asc("term")).limit(200)


def q_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I4+I11: doc-length capture + avgdl normalization (3dp contract)."""
    it = _doc_index(spark, sf_dir)
    return it.doc_lengths.select(
        "doc_id", F.col("dl").cast("long").alias("dl"), "dl_norm"
    )


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2+Q4+Q7: term-lookup join -> BM25 OR scoring -> top-10."""
    it = _doc_index(spark, sf_dir)
    qdf = spark.createDataFrame([(t,) for t in _qterms(0)], "term string")
    matched = (
        it.index.join(F.broadcast(qdf), "term")
        .join(F.broadcast(it.term_stats.select("term", "idf")), "term")
        .join(it.doc_lengths.select("doc_id", "dl_norm"), "doc_id")
    )
    tf = F.col("tf").cast("double")
    contrib = F.col("idf") * (tf * (K + 1.0)) / (tf + K * (1.0 - B + B * F.col("dl_norm")))
    scored = matched.groupBy("doc_id").agg(F.round(F.sum(contrib), 6).alias("score"))
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)


def q_bm25_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4+Q7 batched: all queries in one plan, per-query rank<=5 window."""
    from pyspark.sql import Window

    it = _doc_index(spark, sf_dir)
    rows = [(qid, t) for qid in sorted(QUERY_STRINGS) for t in _qterms(qid)]
    qdf = spark.createDataFrame(rows, "query_id int, term string")
    matched = (
        it.index.join(F.broadcast(qdf), "term")
        .join(F.broadcast(it.term_stats.select("term", "idf")), "term")
        .join(it.doc_lengths.select("doc_id", "dl_norm"), "doc_id")
    )
    tf = F.col("tf").cast("double")
    contrib = F.col("idf") * (tf * (K + 1.0)) / (tf + K * (1.0 - B + B * F.col("dl_norm")))
    agg = matched.groupBy("query_id", "doc_id").agg(
        F.round(F.sum(contrib), 6).alias("score")
    )
    # rank over the ROUNDED score on both sides -> robust to last-ulp
    # summation-order differences (module docstring policy)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "doc_id", "score", "rank")
    )


def q_boolean_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean AND mode: posting-list intersection (north_star; SURVEY §2.5)."""
    it = _doc_index(spark, sf_dir)
    terms = _qterms(1)
    qdf = spark.createDataFrame([(t,) for t in terms], "term string")
    hits = it.index.join(F.broadcast(qdf), "term")
    return (
        hits.groupBy("doc_id")
        .agg(F.countDistinct("term").alias("nt"))
        .filter(F.col("nt") == len(terms))
        .select("doc_id")
    )


def q_boolean_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean OR mode: posting-list set union (BooleanPostingList.merge,
    src/models/posting_lists/boolean_posting_list.py:30-36) — presence-only
    payload, plus how many query terms matched."""
    it = _doc_index(spark, sf_dir)
    terms = _qterms(1)
    qdf = spark.createDataFrame([(t,) for t in terms], "term string")
    hits = it.index.join(F.broadcast(qdf), "term")
    return hits.groupBy("doc_id").agg(F.countDistinct("term").alias("n_terms"))


def q_docid_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I2: scale-safe dense docID assignment (two-pass offsets, no global
    window) — checked against the SQL row_number() oracle."""
    docs = _documents(spark, sf_dir).select(
        F.col("doc_id").alias("orig_id"), "source"
    )
    out = with_doc_ids(docs, order_cols=("source", "orig_id"), n_partitions=8)
    return out.select(F.col("doc_id").alias("new_id"), "orig_id")


def q_positional_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I3 positional payloads: token positions per (term, doc), as the
    comma-joined string form (reference line format 'doc:pos1,pos2,…',
    src/models/posting_lists/positional_posting_list.py:50-51)."""
    it = _doc_index(spark, sf_dir, positional=True)
    sel = it.index.filter(F.col("term").isin("vector", "merge"))
    return sel.select(
        "term",
        "doc_id",
        "tf",
        F.array_join(F.col("positions").cast("array<string>"), ",").alias("positions"),
    )


# Phrase retrieval over the positional index (query/phrase.py): corpus
# phrases chosen so both a dense bigram (47 docs) and a multi-occurrence
# trigram (9 occurrences across 6 docs) are exercised.
PHRASES = ["table hash", "slow hash batch"]


def q_phrase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval (positional postings, MRS Ch. 2.4): docs where
    every phrase slot matches consecutively post-tokenization; ranked by
    occurrence count. All-integer output — no float policy needed."""
    from searchengine_spark.query.phrase import phrase_topk_batch

    it = _doc_index(spark, sf_dir, positional=True)
    return phrase_topk_batch(it, PHRASES, CFG, k=10)


# match_phrase_prefix fixture: q0 = lead word + prefix, q1 exercises the
# df-ranked expansion cap (s* matches 6 dictionary terms, cap 2), q2 is
# a matchless prefix (matches nothing)
PHRASE_PREFIX_QUERIES = ["table ha", "slow s", "zzqq"]
PHRASE_PREFIX_MAX_EXP = 2


def q_phrase_prefix_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES match_phrase_prefix (search-as-you-type; query/phrase.py prefix
    functions): exact phrase on the leading tokens, the raw phrase's last
    word a dictionary PREFIX whose df-top PHRASE_PREFIX_MAX_EXP
    expansions all match at the final slot (multi-term slots on the
    plain-phrase engine; two variants can never share a start, so
    occurrence counts are the variant sum). The oracle replicates the
    expansion (LIKE + df-ranked LIMIT) AND the multi-slot positional
    intersection; a matchless prefix matches nothing. All-integer
    output."""
    from searchengine_spark.query.phrase import phrase_prefix_topk_batch

    it = _doc_index(spark, sf_dir, positional=True)
    return phrase_prefix_topk_batch(
        it, PHRASE_PREFIX_QUERIES, CFG, k=10,
        max_expansions=PHRASE_PREFIX_MAX_EXP,
    )


# Minimal-window span retrieval (query/spans.py): q0 = a 2-term AND, q1 =
# a single term (span_len 1, lo = first occurrence).
MINSPAN_QUERIES = ["table hash", "vector"]


def q_minspan_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tightest window covering all query terms per doc (MRS Ch. 2.4.2
    positional intersection / minimal cover) — ranked by span length,
    integer-only output."""
    from searchengine_spark.query.spans import minspan_topk_batch

    it = _doc_index(spark, sf_dir, positional=True)
    return minspan_topk_batch(it, MINSPAN_QUERIES, CFG, k=10)


# ES span queries (query/spanqueries.py): span_first = term occurs at an
# analyzed position < end; span_not = include occurrences surviving an
# exclude window [pos-pre, pos+post]. Integer-only ranking contracts.
SPAN_FIRST_QUERIES = [("table", 3), ("vector", 1), ("hash", 12)]
SPAN_NOT_QUERIES = [("table", "hash"), ("vector", "merge")]
SPAN_NOT_PRE, SPAN_NOT_POST = 2, 2
#: (big_a, big_b, little, width) — big = enumerable ordered windows
#: [pa, pb], pa < pb <= pa + width
SPAN_WITHIN_QUERIES = [
    ("hash", "scan", "join", 6),
    ("spark", "vector", "merge", 8),
    ("slow", "batch", "stream", 4),
]


def q_span_first_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES/Lucene span_first: docs where the term appears before analyzed
    position `end`, ranked (first_pos ASC, doc_id ASC) — all-native
    higher-order-function plan over the positional index."""
    from searchengine_spark.query.spanqueries import span_first_topk_batch

    it = _doc_index(spark, sf_dir, positional=True)
    return span_first_topk_batch(it, SPAN_FIRST_QUERIES, CFG, k=10)


def q_span_not_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES/Lucene span_not: include-term occurrences with no exclude-term
    occurrence within [pos-pre, pos+post], ranked (n_clear DESC,
    doc_id ASC) — broadcast joins + exists() probes, zero Python."""
    from searchengine_spark.query.spanqueries import span_not_topk_batch

    it = _doc_index(spark, sf_dir, positional=True)
    return span_not_topk_batch(
        it, SPAN_NOT_QUERIES, CFG, pre=SPAN_NOT_PRE, post=SPAN_NOT_POST, k=10
    )


def q_span_within_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES/Lucene span_within (query/spanqueries.py): occurrences of the
    little term inside some big (a..b) ordered window (pa < pb <= pa +
    width, analyzed positions — the deterministic enumerable-window
    contract the oracle replays as EXISTS bounds), ranked (n_within
    DESC, doc_id ASC) — span-family integer ranking, all-native HOF
    plan."""
    from searchengine_spark.query.spanqueries import span_within_topk_batch

    it = _doc_index(spark, sf_dir, positional=True)
    return span_within_topk_batch(it, SPAN_WITHIN_QUERIES, CFG, k=10)


def q_span_containing_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES/Lucene span_containing (query/spanqueries.py): big (a..b)
    windows that contain at least one little-term occurrence, counted
    per doc, ranked (n_containing DESC, doc_id ASC)."""
    from searchengine_spark.query.spanqueries import (
        span_containing_topk_batch,
    )

    it = _doc_index(spark, sf_dir, positional=True)
    return span_containing_topk_batch(it, SPAN_WITHIN_QUERIES, CFG, k=10)


def q_highlight_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES highlight analog (query/highlight.py): whole-field <em> tags
    around every ANALYZED query-term occurrence in the top-5 BM25 hits
    (number_of_fragments=0 mode). On the asserted-clean testdata text
    this equals the word-boundary regex replace the oracle runs
    (property-gated equivalence, module docstring)."""
    from searchengine_spark.query.highlight import highlight_results

    hits = q_bm25_topk_batch(spark, sf_dir).select(
        "query_id", "doc_id", "rank")
    docs = _documents(spark, sf_dir).select("doc_id", "text")
    qs = [QUERY_STRINGS[q] for q in sorted(QUERY_STRINGS)]
    out = highlight_results(hits, docs, qs, CFG)
    return out.select(
        "query_id", "doc_id", F.col("rank").cast("long").alias("rank"),
        "n_matches", "highlighted",
    )


def q_terms_set_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES terms_set: per-DOC minimum_should_match — a doc is eligible
    when its distinct matched-term count reaches its own floor (here
    doc_id % 3 + 1, a synthesized attribute); score = the bool/should
    BM25 sum (query/termsset.py)."""
    from searchengine_spark.query.termsset import terms_set_topk_batch

    it = _doc_index(spark, sf_dir)
    req = _documents(spark, sf_dir).select(
        "doc_id", (F.col("doc_id") % 3 + 1).alias("required")
    )
    qs = [QUERY_STRINGS[q] for q in sorted(QUERY_STRINGS)]
    return terms_set_topk_batch(it, qs, req, CFG, k=10, round_dp=6)


# ------------------------------------------------- training-data pipeline ops

def _docs_with_copies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ re-crawl sample (every 5th doc duplicated at id+100000) —
    gives the dedup operators non-trivial positives on dedup-free testdata."""
    d = _documents(spark, sf_dir).select("doc_id", "text")
    copies = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return d.unionByName(copies)


_CORPUS2_CTE = """
corpus2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
)
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.textops import exact_duplicates

    return exact_duplicates(_docs_with_copies(spark, sf_dir))


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.textops import minhash_lsh_candidates
    from searchengine_spark.tokenizer import tokens_column

    docs = _docs_with_copies(spark, sf_dir)
    return minhash_lsh_candidates(docs, tokens_column(F.col("text"), CFG))


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.textops import ngram_jaccard_pairs
    from searchengine_spark.tokenizer import tokens_column

    docs = _docs_with_copies(spark, sf_dir)
    return ngram_jaccard_pairs(docs, tokens_column(F.col("text"), CFG), threshold=0.5)


def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination (textops/contamination.py): per training
    doc, distinct token 3-grams and how many collide with the 'eval set'
    (every 7th doc). Eval docs come out fully contaminated; others show
    partial overlap through the corpus's shared phrasing."""
    from searchengine_spark.textops import ngram_contamination, reference_shingles
    from searchengine_spark.tokenizer import tokens_column

    d = _documents(spark, sf_dir).select("doc_id", "text")
    toks = tokens_column(F.col("text"), CFG)
    refs = reference_shingles(d.filter(F.col("doc_id") % 7 == 0), toks, n=3)
    return ngram_contamination(d, refs, toks, n=3).select(
        F.col("id").alias("doc_id"), "n_ngrams", "n_contaminated"
    )


def _pii_injected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with deterministic PII planted (emails on every 3rd doc,
    IPs on every 5th, phone numbers on every 7th) — gives the scrubber
    real positives on PII-free testdata, reproducibly in both engines."""
    d = _documents(spark, sf_dir).select("doc_id", "text")
    did = F.col("doc_id").cast("string")
    return d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit(" contact user"), did, F.lit("@example.com now")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".7")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.lit(" call +1 555 0100 "), did),
            ).otherwise(F.lit("")),
        ),
    )


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (textops/scrub.py): per-doc span counts + md5 of the
    redacted text (the md5 keeps the full redaction output hash-gated
    without shipping long strings)."""
    from searchengine_spark.textops import pii_stats, redact_pii

    injected = _pii_injected(spark, sf_dir)
    stats = pii_stats(injected)
    red = redact_pii(injected).select(
        F.col("doc_id").alias("_rid"), F.md5("text").alias("redacted_md5")
    )
    return stats.join(red, stats["id"] == red["_rid"]).select(
        F.col("id").alias("doc_id"), "n_email", "n_ip", "n_phone", "redacted_md5"
    )


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (textops/dataset.py): pure
    md5 arithmetic over (salt, doc_id) — stable across corpus growth,
    retries and engines."""
    from searchengine_spark.textops import hash_split

    d = _documents(spark, sf_dir).select("doc_id")
    return hash_split(
        d, {"train": 8, "val": 1, "test": 1}, salt="r3"
    ).select("doc_id", "split")


# training-mixture rates per language (num, den) + the unlisted-stratum
# default — exercises full-keep, fractional, zero, and default paths
MIX_RATES = {"en": (1, 1), "de": (1, 4), "zh": (0, 1)}
MIX_DEFAULT = (1, 2)  # es / fr


def q_dataset_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified mixture sampling (textops/dataset.py): per-language keep
    rates over ONE shared doc hash (nested samples under rate growth) —
    the corpus-mixing operator of a pretraining pipeline. Pure md5
    arithmetic, cross-engine exact."""
    from searchengine_spark.textops import stratified_sample

    d = _documents(spark, sf_dir).select("doc_id", "lang")
    return stratified_sample(d, "lang", MIX_RATES, salt="r3",
                             default=MIX_DEFAULT).select("doc_id", "lang")


def q_dataset_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training order (textops/dataset.py): rank in
    (md5(salt|id), id) order via the docID stage's two-pass dense rank —
    reproducible at any parallelism, no RNG, no global window."""
    from searchengine_spark.textops import deterministic_shuffle

    d = _documents(spark, sf_dir).select("doc_id")
    out = deterministic_shuffle(d, salt="r3", n_partitions=8)
    return out.select("doc_id", "shuffle_rank")


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy contiguous packing of docs into 128-token bins per md5
    bucket (pretraining context-window assembly)."""
    from searchengine_spark.textops import pack_sequences
    from searchengine_spark.tokenizer import tokens_column

    d = _documents(spark, sf_dir).select(
        "doc_id", F.size(tokens_column(F.col("text"), CFG)).alias("dl")
    )
    out = pack_sequences(d, "dl", budget=128, n_buckets=8, salt="r3")
    return out.select(
        F.col("id").alias("doc_id"), "bucket", "bin_idx", "offset"
    )


def _c4_injected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents restructured into deterministic web-page-like text (lines,
    terminal punctuation, javascript/brace/lorem/bad-word plants, a shared
    3-sentence block on every doc_id % 10 < 2) — gives the C4 filters real
    positives on the punctuation-free testdata, reproducibly in both
    engines (pure doc_id arithmetic + substr, the _pii_injected pattern)."""
    d = _documents(spark, sf_dir).select("doc_id", "text")
    did = F.col("doc_id")
    nl = F.lit("\n")

    def when_mod(m: int, s: str) -> F.Column:
        return F.when(did % m == 0, F.concat(F.lit(s), nl)).otherwise(F.lit(""))

    t = F.concat(
        F.substring(F.col("text"), 1, 40), F.lit("."), nl,
        F.lit("Click here"), nl,
        when_mod(4, "Please enable javascript to continue."),
        when_mod(17, "body { color: red }"),
        when_mod(19, "Lorem ipsum dolor sit amet."),
        when_mod(23, "This page contains badword content."),
        F.repeat(
            F.concat(
                F.lit("Filler sentence number "),
                (did % 7).cast("string"),
                F.lit(" here. "),
            ),
            (did % 5).cast("int"),
        ),
        nl,
        F.when(
            did % 10 < 2,
            F.lit("Alpha beta gamma. Delta epsilon zeta. Eta theta iota."),
        ).otherwise(
            F.concat(F.lit("Distinct tail "), did.cast("string"), F.lit(" closes the page."))
        ),
    )
    return d.select("doc_id", t.alias("text"))


def q_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line rules (Raffel et al. 2020 §2.2, textops/clean.py): terminal
    punctuation + min-words + no-javascript, zero-exchange map; md5 of the
    cleaned text keeps the full output hash-gated without long strings."""
    from searchengine_spark.textops import c4_line_filter

    lf = c4_line_filter(_c4_injected(spark, sf_dir))
    return lf.select(
        F.col("id").alias("doc_id"),
        "n_lines",
        "n_lines_kept",
        F.md5("clean_text").alias("clean_md5"),
    )


def q_c4_doc_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 page rules: brace / lorem-ipsum / bad-word / few-sentences with
    fixed first-failure precedence (reason is part of the contract)."""
    from searchengine_spark.textops import c4_doc_filter

    out = c4_doc_filter(_c4_injected(spark, sf_dir), bad_words=("badword",))
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("keep").cast("long").alias("keep"),
        "reason",
    )


def q_c4_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4's dedup unit: non-canonical occurrences of any 3-sentence span
    occurring more than once corpus-wide — ONE hash exchange (row_number
    over the span digest), no join back."""
    from searchengine_spark.textops import span_dedup

    return span_dedup(_c4_injected(spark, sf_dir)).select(
        F.col("id").alias("doc_id"), "span_idx", "span_md5"
    )


def _pipe_injected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Injection for the clean_pipeline entry, designed so each composed
    stage FIRES: doc_id % 3 == 0 pages share an intro line (after the
    line filter their cleaned texts collide -> exact dedup), doc_id % 11
    pages get a 2-sentence filler (page rule drops them), the rest carry
    a distinct 40-char substr lead line."""
    d = _documents(spark, sf_dir).select("doc_id", "text")
    did = F.col("doc_id")
    nl = F.lit("\n")
    t = F.concat(
        F.when(
            did % 3 == 0, F.lit("Shared intro sentence for this page.")
        ).otherwise(F.concat(F.substring(F.col("text"), 1, 40), F.lit("."))),
        nl,
        F.when(
            did % 11 == 0,
            F.lit("Filler one is here. Filler two is here."),
        ).otherwise(
            F.lit("Filler one is here. Filler two is here. "
                  "Filler three is here. Filler four is here.")
        ),
        nl,
        F.when(
            did % 5 == 0,
            F.concat(F.lit("Extra sentence number "),
                     (did % 2).cast("string"), F.lit(" closes.")),
        ).otherwise(F.lit("")),
    )
    return d.select("doc_id", t.alias("text"))


def q_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleaning-pipeline COMPOSITION (textops/pipeline.py): C4 rules ->
    exact keep-first dedup -> split assignment, end-to-end engine-exact.
    Each operator's depth is gated by its own entry; this one gates the
    plumbing between them (stage order, cleaned-text dedup interplay,
    split stability)."""
    from searchengine_spark.textops.pipeline import CleanConfig, clean_corpus

    out, _stats = clean_corpus(
        _pipe_injected(spark, sf_dir),
        CleanConfig(
            c4=True,
            dedup="exact",
            split={"train": 8, "val": 1, "test": 1},
            split_salt="r3",
        ),
    )
    return out.select("doc_id", "split", F.md5("text").alias("clean_md5"))


def q_fuzzy_correct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SymSpell-style fuzzy term correction (query/fuzzy.py): top-3
    Levenshtein<=1 dictionary neighbors for a fixed typo set, exact-first
    then df desc then term asc. The oracle brute-forces levenshtein() over
    the whole dictionary — independently validating that symmetric-delete
    generation + verification equals plain distance semantics."""
    from searchengine_spark.query.fuzzy import fuzzy_candidates
    from searchengine_spark.tokenizer import tokens_column

    d = _documents(spark, sf_dir)
    dictionary = (
        d.select(
            F.explode(
                F.array_distinct(tokens_column(F.col("text"), CFG))
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("df"))
    )
    qterms = ["tble", "scann", "windoww", "vlue", "spark", "qzqzqz"]
    return fuzzy_candidates(dictionary, qterms, k=3).select(
        "qterm", "term", "df", F.col("rank").cast("long").alias("rank")
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.textops import simhash_table
    from searchengine_spark.tokenizer import tokens_column

    docs = _documents(spark, sf_dir).filter(F.col("doc_id") < 50)
    return simhash_table(docs, tokens_column(F.col("text"), CFG))


def q_dedup_jaccard_on_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale composition: MinHash-LSH candidate pairs (hot-bucket
    capped) verified by exact n-gram Jaccard — intersections computed only
    for candidates, never all-pairs."""
    from searchengine_spark.textops import minhash_lsh_candidates, ngram_jaccard_pairs
    from searchengine_spark.tokenizer import tokens_column

    docs = _docs_with_copies(spark, sf_dir)
    toks = tokens_column(F.col("text"), CFG)
    cands = minhash_lsh_candidates(docs, toks)
    return ngram_jaccard_pairs(docs, toks, threshold=0.5, candidates=cands)


def q_dedup_simhash_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 4x16-bit band join + exact hamming<=3 filter over
    the re-crawl corpus (copies give hamming-0 positives)."""
    from searchengine_spark.textops import simhash_near_pairs, simhash_table
    from searchengine_spark.tokenizer import tokens_column

    docs = _docs_with_copies(spark, sf_dir).filter((F.col("doc_id") % 100000) < 50)
    sigs = simhash_table(docs, tokens_column(F.col("text"), CFG), id_col="doc_id")
    return simhash_near_pairs(sigs, max_hamming=3)


def q_dedup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level duplicated-span masking (textops/dedup.py
    duplicated_ngram_spans; the n-gram approximation of Lee et al. 2022
    exact-substring dedup): maximal merged intervals over non-canonical
    duplicated-5-gram starts on the re-crawl corpus — injected copies
    surface as full-document spans, the canonical (first) occurrence is
    never masked. The oracle re-derives spans with an independent
    gaps-and-islands window formulation (running-max end + island
    sums) against the engine's native aggregate() interval merge."""
    from searchengine_spark.textops.dedup import duplicated_ngram_spans
    from searchengine_spark.tokenizer import tokens_column

    docs = _docs_with_copies(spark, sf_dir)
    return duplicated_ngram_spans(
        docs, tokens_column(F.col("text"), CFG), n=5)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair->cluster resolution: exact ∪ LSH+Jaccard-verified ∪ SimHash
    near-dup pairs -> connected components (iterative min-label + pointer
    jump) -> (id, canonical_id) keep-list; keep iff id == canonical_id.
    The oracle resolves the same pair graph with a recursive CTE
    (reachability min)."""
    from searchengine_spark.textops import dedup_keeplist
    from searchengine_spark.tokenizer import tokens_column

    docs = _docs_with_copies(spark, sf_dir).filter((F.col("doc_id") % 100000) < 200)
    return dedup_keeplist(docs, tokens_column(F.col("text"), CFG))


def _query_vec(spark: SparkSession, sf_dir: str) -> list:
    row = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .collect()[0]
    )
    return [float(x) for x in row["embedding"]]


def q_emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.textops import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_topk(emb, _query_vec(spark, sf_dir), k=10, exclude_ids=(0,))


KNN_MIN_SIM = 0.25


def q_emb_threshold_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES knn `similarity` cutoff (textops/similarity.py
    min_similarity=): results below the rounded-cosine threshold drop
    even when the page under-fills — the oracle's WHERE on the same
    rounded value pins both the cut and the possibly-short page."""
    from searchengine_spark.textops import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_topk(emb, _query_vec(spark, sf_dir), k=10,
                       exclude_ids=(0,), min_similarity=KNN_MIN_SIM)


FILTERED_KNN_LABEL = 1


def q_emb_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRE-filtered kNN (the ES knn `filter` contract,
    textops/similarity.py cosine_topk allowed=): the k nearest among
    vectors PASSING the attribute filter (label = 1) — never
    top-k-then-filter, which under-fills the page and biases it toward
    the unfiltered neighborhood. The semi-join applies before the dot
    product. Oracle = the brute cosine with the same WHERE; an engine
    that post-filtered would rank a strict subset and hash-mismatch
    whenever the unfiltered top-10 isn't all label-1."""
    from searchengine_spark.textops import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    allowed = emb.filter(F.col("label") == FILTERED_KNN_LABEL).select("vec_id")
    return cosine_topk(emb, _query_vec(spark, sf_dir), k=10,
                       exclude_ids=(0,), allowed=allowed)


def q_emb_ivf_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ANN over the persisted IVF layout (ivf_topk_indexed
    allowed=): the attribute filter applies INSIDE the probed cells
    (pre-filter), so every hit passes AND the probe pruning is
    unchanged. The oracle replicates train -> bucket -> probe -> filter
    -> rank in SQL (the integer micro-unit k-means is bit-identical
    cross-engine)."""
    from searchengine_spark.textops import ivf_topk_indexed

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    allowed = emb.filter(F.col("label") == FILTERED_KNN_LABEL).select("vec_id")
    path = _ivf_index(spark, sf_dir)
    return ivf_topk_indexed(
        spark, path, _query_vec(spark, sf_dir), k=5, n_probe=IVF_PROBE,
        exclude_ids=(0,), allowed=allowed,
    )


SQ8_QUERY_ID = 7
SQ8_RESCORE_M = 60


def q_emb_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 quantized ANN (textops/quantize.py — FAISS SQ8 / Lucene
    int8_hnsw analog): int8-range quantization (floor(127·micro/max|·|),
    IEEE-exact cross-engine), EXACT-integer dot-product candidate cut at
    SQ8_RESCORE_M, then full-precision 6dp cosine rescore to top-10. The
    oracle replicates quantization, the integer candidate ranking AND
    the rescore — a quantizer that rounded instead of flooring, ranked
    by approximate cosine, or rescored outside the candidate window
    hash-mismatches."""
    from searchengine_spark.textops.quantize import sq8_quantize, sq8_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == SQ8_QUERY_ID)
        .select("embedding").collect()[0]["embedding"]
    ]
    q = sq8_quantize(emb)
    out = sq8_topk(emb, q, qvec, k=10, rescore_m=SQ8_RESCORE_M)
    return out.select("vec_id", "cosine",
                      F.col("rank").cast("long").alias("rank"))


N_CENTROIDS = 8
IVF_ITERS = 2
IVF_PROBE = 2

# k-means training is deterministic in (corpus, params) — memoize per
# sf_dir so the four IVF-family entries don't retrain in one driver run
# packed builds are deterministic in (corpus, config); the six entries
# sharing se_entry_packed_<tag> (and the filtered/boosted pair) pay ONE
# build per driver run — and never resume across runs (a stale dir left
# by an older fixture/code version must be rebuilt). The delete/compact
# entries stay UN-memoized: they mutate their index after building, so
# they need a fresh base every call.
_PACKED_BUILT: set = set()


def _build_packed_once(path: str, builder) -> None:
    if path not in _PACKED_BUILT:
        builder()
        _PACKED_BUILT.add(path)


_IVF_STATE: dict[str, tuple[str, list]] = {}


def _ivf_index(spark: SparkSession, sf_dir: str) -> str:
    return _ivf_state(spark, sf_dir)[0]


def _ivf_centroids(spark: SparkSession, sf_dir: str) -> list:
    return _ivf_state(spark, sf_dir)[1]


def _ivf_state(spark: SparkSession, sf_dir: str) -> tuple[str, list]:
    import os
    import tempfile

    if sf_dir not in _IVF_STATE:
        from searchengine_spark.textops import build_ivf_index

        tag = os.path.basename(sf_dir.rstrip("/"))
        path = os.path.join(tempfile.gettempdir(), f"se_entry_ivf_{tag}")
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        man = build_ivf_index(
            emb, path, n_centroids=N_CENTROIDS, dim=64, n_iters=IVF_ITERS
        )
        _IVF_STATE[sf_dir] = (path, man["centroids_micro"])
    return _IVF_STATE[sf_dir]


def q_emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Servable IVF: integer-exact k-means train -> bucketed parquet layout
    (partitionBy centroid) -> multi-probe partition-pruned query. The
    DuckDB oracle replicates the ENTIRE pipeline (train included) — the
    integer micro-unit arithmetic makes k-means bit-identical cross-engine
    (similarity.py module docstring)."""
    from searchengine_spark.textops import ivf_topk_indexed

    path = _ivf_index(spark, sf_dir)
    return ivf_topk_indexed(
        spark, path, _query_vec(spark, sf_dir), k=5, n_probe=IVF_PROBE,
        exclude_ids=(0,),
    )


IVF_SQ8_RESCORE = 40


def q_emb_ivf_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level FAISS layout (textops/quantize.ivf_sq8_topk): the IVF
    coarse cells prune the scan, the int8-range q_sq8 column generates
    candidates by EXACT integer dot, the full-precision column rescores
    only the IVF_SQ8_RESCORE window. The oracle replicates k-means
    training, the probe, the quantizer, the integer candidate ranking
    AND the rescore — the complete composed pipeline in SQL."""
    import os
    import tempfile

    from searchengine_spark.textops import build_ivf_index
    from searchengine_spark.textops.quantize import ivf_sq8_topk

    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_ivfsq8_{tag}")
    if path not in _PACKED_BUILT:
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        build_ivf_index(emb, path, n_centroids=N_CENTROIDS, dim=64,
                        n_iters=IVF_ITERS, sq8=True)
        _PACKED_BUILT.add(path)
    out = ivf_sq8_topk(spark, path, _query_vec(spark, sf_dir), k=5,
                       n_probe=IVF_PROBE, rescore_m=IVF_SQ8_RESCORE)
    return out.select("vec_id", "centroid_id", "cosine",
                      F.col("rank").cast("long").alias("rank"))


PQ_M, PQ_KSUB, PQ_RESCORE = 4, 8, 40


def q_emb_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ — the complete FAISS layout (textops/pq.ivf_pq_topk over a
    build_ivf_index(..., pq=) directory): coarse cells prune the scan,
    the codes_pq column (m small ints per row) generates candidates by
    BIGINT ADC table lookups, full precision rescores only the window.
    The oracle replicates coarse k-means + four subspace k-means chains
    + probe + in-cell ADC + rescore in one statement."""
    import os
    import tempfile

    from searchengine_spark.textops import build_ivf_index
    from searchengine_spark.textops.pq import ivf_pq_topk

    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_ivfpq_{tag}")
    if path not in _PACKED_BUILT:
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        build_ivf_index(emb, path, n_centroids=N_CENTROIDS, dim=64,
                        n_iters=IVF_ITERS, pq=(PQ_M, PQ_KSUB))
        _PACKED_BUILT.add(path)
    out = ivf_pq_topk(spark, path, _query_vec(spark, sf_dir), k=5,
                      n_probe=IVF_PROBE, rescore_m=PQ_RESCORE)
    return out.select("vec_id", "centroid_id", "cosine",
                      F.col("rank").cast("long").alias("rank"))


def q_emb_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization with ADC + exact rescore (textops/pq.py —
    FAISS PQ / Jégou et al. 2011): 4 subspaces x 8-centroid codebooks
    trained by the integer-micro k-means (seed offset per subspace),
    codes = per-subspace argmin-L2, candidates ranked by summed BIGINT
    ADC table lookups, top-PQ_RESCORE rescored with the exact 6dp
    cosine. The oracle replicates ALL of it — four k-means chains over
    the sliced micro vectors, the encode argmin, the ADC tables and the
    rescore — in one SQL statement."""
    from searchengine_spark.textops.pq import pq_encode, pq_topk, pq_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = pq_train(emb, m=PQ_M, ksub=PQ_KSUB, dim=64, n_iters=IVF_ITERS)
    codes = pq_encode(emb, books).filter(F.col("vec_id") != 0)
    out = pq_topk(
        emb.filter(F.col("vec_id") != 0), codes, books,
        _query_vec(spark, sf_dir), k=5, rescore_m=PQ_RESCORE,
    )
    return out.select("vec_id", "cosine",
                      F.col("rank").cast("long").alias("rank"))


def q_emb_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall@10 vs brute-force cosine ground truth, both computed by
    the engine (and both replicated in the oracle). NOTE the testdata
    embeddings are uniform random — the degenerate worst case for ANY
    partitioning ANN (neighbor mass spreads ~evenly over buckets, so
    recall ~= probed mass fraction). tests/test_ivf.py proves >=0.9 recall
    at n_probe=2 on clusterable data; this entry records the honest
    fixture number."""
    from searchengine_spark.textops import cosine_topk, ivf_topk_indexed

    path = _ivf_index(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = []
    for qid in (0, 1, 2):
        qv = [
            float(x)
            for x in emb.filter(F.col("vec_id") == qid).first()["embedding"]
        ]
        ivf = {
            r["vec_id"]
            for r in ivf_topk_indexed(
                spark, path, qv, k=10, n_probe=IVF_PROBE, exclude_ids=(qid,)
            ).collect()
        }
        true = {
            r["vec_id"]
            for r in cosine_topk(emb, qv, k=10, exclude_ids=(qid,)).collect()
        }
        n_hit = len(ivf & true)
        rows.append((qid, n_hit, n_hit / 10.0))
    return spark.createDataFrame(
        rows, "query_vec_id int, n_hit long, recall double"
    )


def q_emb_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup PAIRS, brute all-pairs on a subset (the
    verification-scale mode of textops.cosine_near_pairs)."""
    from searchengine_spark.textops import cosine_near_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 150
    )
    return cosine_near_pairs(emb, threshold=0.35)


def q_emb_near_pairs_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs at scale: candidates restricted to
    SAME-IVF-BUCKET pairs (quadratic term bounded by bucket sizes — the
    LSH->verify composition for embeddings). Buckets come from the same
    integer-exact k-means as the IVF index, so the DuckDB oracle replicates
    training + bucketing + pair scoring end-to-end."""
    from searchengine_spark.textops import cosine_near_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = _ivf_centroids(spark, sf_dir)  # same training as the IVF index
    return cosine_near_pairs(emb, threshold=0.3, bucket_by=cents)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (textops/similarity.py semantic_dedup; Abbas et al.
    2023): embedding-space near-duplicate removal — integer-micro
    k-means clusters (reusing the IVF training), within-cluster rounded
    cosine >= 0.3 pairs, connected components, keep = min-id
    representative per semantic group. The oracle replicates training +
    bucketing + pair scoring (the emb_near_pairs_bucketed chain) AND the
    component resolution as a recursive min-label walk."""
    from searchengine_spark.textops import semantic_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = _ivf_centroids(spark, sf_dir)
    out = semantic_dedup(emb, threshold=0.3, centroids=cents)
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("canonical_id").cast("long").alias("canonical_id"),
        "keep",
    )


N_CLUSTERED = 320


def _clustered_embeddings(spark: SparkSession) -> DataFrame:
    """Deterministic CLUSTERED vectors both engines derive bit-identically
    (md5-hex-digit arithmetic — no RNG): 8 well-separated centers, small
    per-vector noise. e[i][d] = (digit(md5('c{i%8}_{d}')) - 7.5)*2
    + (digit(md5('v{i}_{d}')) - 7.5)*0.1."""
    ids = spark.range(N_CLUSTERED).select(F.col("id").cast("long").alias("vec_id"))

    def dig(s):
        return F.conv(F.substring(F.md5(s), 1, 1), 16, 10).cast("double")

    vec = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda d: (
            dig(F.concat(F.lit("c"), (F.col("vec_id") % 8).cast("string"),
                         F.lit("_"), d.cast("string"))) - 7.5
        ) * 2.0
        + (
            dig(F.concat(F.lit("v"), F.col("vec_id").cast("string"),
                         F.lit("_"), d.cast("string"))) - 7.5
        ) * 0.1,
    )
    return ids.withColumn("embedding", vec)


def q_emb_ivf_recall_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall@10 @ n_probe=2 on CLUSTERABLE data — the regime IVF
    targets (the sf fixture is uniform random, ANN's degenerate case). The
    corpus is derived from md5 digits, so the DuckDB oracle replicates
    generation + k-means training + bucketing + scoring end-to-end and
    hash-verifies the recall numbers, which clear the >=0.9 bar
    (tests/test_ivf.py::test_clustered_recall_entry asserts it)."""
    import os
    import tempfile

    from searchengine_spark.textops import (
        build_ivf_index,
        cosine_topk,
        ivf_topk_indexed,
    )

    emb = _clustered_embeddings(spark)
    path = os.path.join(tempfile.gettempdir(), "se_entry_ivf_clustered")
    build_ivf_index(emb, path, n_centroids=N_CENTROIDS, dim=64, n_iters=IVF_ITERS)
    rows = []
    for qid in (0, 1, 2):
        qv = [float(x) for x in
              emb.filter(F.col("vec_id") == qid).first()["embedding"]]
        ivf = {
            r["vec_id"]
            for r in ivf_topk_indexed(
                spark, path, qv, k=10, n_probe=IVF_PROBE, exclude_ids=(qid,)
            ).collect()
        }
        true = {
            r["vec_id"]
            for r in cosine_topk(emb, qv, k=10, exclude_ids=(qid,)).collect()
        }
        n_hit = len(ivf & true)
        rows.append((qid, n_hit, n_hit / 10.0))
    return spark.createDataFrame(
        rows, "query_vec_id int, n_hit long, recall double"
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.textops.quality import lang_id
    from searchengine_spark.tokenizer import tokens_column

    return lang_id(_documents(spark, sf_dir), tokens_column(F.col("text"), CFG))


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.textops.quality import LANG_PROFILES, quality_score
    from searchengine_spark.tokenizer import tokens_column

    return quality_score(
        _documents(spark, sf_dir),
        tokens_column(F.col("text"), CFG),
        stop_words=LANG_PROFILES["en"],
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (dup-line fractions, top-2-gram and
    duplicated-5-gram char mass) — the boilerplate/spam signals of a
    pretraining pipeline, exact definitions in textops/quality.py."""
    from searchengine_spark.textops.quality import repetition_stats
    from searchengine_spark.tokenizer import tokens_column

    return repetition_stats(_documents(spark, sf_dir), tokens_column(F.col("text"), CFG))


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.textops.quality import token_stats

    return token_stats(_documents(spark, sf_dir))


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.textops.quality import doc_fingerprints

    return doc_fingerprints(_documents(spark, sf_dir))


PACK_BUDGET, PACK_BUCKETS = 256, 8  # training-sequence packing params


def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk training-sequence packing plan
    (textops/packing.py pack_concat_chunks): documents hash into 8
    independent token streams (md5-hex15-mod — the shards rule, exact
    cross-engine), lay head-to-tail in id order, and the stream cuts
    into 256-token windows; tok_start/tok_end are [start, end) stream
    offsets and chunk_first..chunk_last the windows the doc occupies
    (straddlers span several — the concat semantics). One window cumsum
    per bucket, integer arithmetic end-to-end. The oracle replicates
    the hash, the cumsum, AND the integer-div window math."""
    from searchengine_spark.textops.packing import pack_concat_chunks

    return pack_concat_chunks(
        _documents(spark, sf_dir), max_tokens=PACK_BUDGET,
        n_buckets=PACK_BUCKETS,
    )


def q_pack_greedy_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-DECREASING packing (textops/packing.py pack_greedy
    order='length_desc' — the decreasing variant of the classic
    bin-packing heuristics): the same no-split state machine fed
    (n_tokens DESC, id) per bucket; the oracle is the same recursive
    CTE with that one ORDER BY changed."""
    from searchengine_spark.textops.packing import pack_greedy

    out = pack_greedy(
        _documents(spark, sf_dir), max_tokens=PACK_BUDGET,
        n_buckets=PACK_BUCKETS, order="length_desc",
    )
    return out.select(
        "id", "bucket", "seq", "seq_offset", "n_tokens",
        F.col("truncated").cast("long").alias("truncated"),
    )


def q_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-split first-fit training-sequence packing
    (textops/packing.py pack_greedy): whole documents fill bucket-local
    sequences in id order; a new sequence opens when the current one
    cannot hold the next doc, overlong docs take a sequence ALONE and
    close it (truncated=1 only when strictly over budget). The scan is
    sequential per bucket — one Arrow batch over (id, n_tokens)
    metadata. The oracle replicates the whole state machine with a
    recursive CTE, so any drift in the open-sequence/fill transitions
    hash-mismatches. truncated emits as BIGINT 0/1 (the repo's
    counts-are-BIGINT rule)."""
    from searchengine_spark.textops.packing import pack_greedy

    out = pack_greedy(
        _documents(spark, sf_dir), max_tokens=PACK_BUDGET,
        n_buckets=PACK_BUCKETS,
    )
    return out.select(
        "id", "bucket", "seq", "seq_offset", "n_tokens",
        F.col("truncated").cast("long").alias("truncated"),
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.textops import extract_features, with_binary_payload

    feats = extract_features(with_binary_payload(_documents(spark, sf_dir)))
    return feats.select("doc_id", "n_bytes", "checksum")


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing: nearest-neighbor byte resampling of the fake
    payloads through the same mapInPandas shape a Pillow kernel would use."""
    from searchengine_spark.textops import resize_images, with_binary_payload

    out = resize_images(with_binary_payload(_documents(spark, sf_dir)), out_len=4)
    return out.select("doc_id", "out_bytes", "checksum")


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: every-2nd-frame slices of the fake
    multi-frame payloads, metadata-driven (meta.n_frames)."""
    from searchengine_spark.textops import sample_frames, with_video_payload

    docs = _documents(spark, sf_dir).filter(F.col("doc_id") < 200)
    return sample_frames(with_video_payload(docs), every_k=2)


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5: TF-IDF lnc.ltc ranking (stored 3dp doc weights, query-side
    multiplicity + present-term normalization — reference semantics)."""
    from searchengine_spark.query.tfidf import tfidf_topk_batch

    it = _doc_index(spark, sf_dir)
    # rank_dp=6: rank by the ROUNDED score inside the window (cross-engine
    # policy) so the cut happens at k=10, not over all matched docs
    scored = tfidf_topk_batch(it, [QUERY_STRINGS[0]], CFG, k=10, rank_dp=6)
    return scored.select("doc_id", "score").orderBy(F.desc("score"), F.asc("doc_id"))


def q_packed_wand_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION serving path, oracle-gated end-to-end: packed on-disk
    index build (chunked varbyte postings + block-max metadata) -> WAND
    top-k with pruning ON -> docmap resolve. round_dp=6 ranks by the
    6dp-rounded score (doc_id tie-break) with an epsilon-slack threshold so
    pruning stays exact under the cross-engine rounding policy."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.wand import bm25_topk_packed_batch, resolve_docs

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_packed_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    ))
    pidx = load_packed_index(spark, path)
    qs = [QUERY_STRINGS[q] for q in sorted(QUERY_STRINGS)]
    topk = bm25_topk_packed_batch(pidx, qs, CFG, k=10, round_dp=6)
    out = resolve_docs(pidx, topk)
    return out.select(
        "query_id",
        F.col("ext_id").alias("doc_id"),
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


# negated words per query (query/negation.py must_not contract); drawn
# from the same fixture vocabulary so every negation actually excludes
NEG_WORDS = {0: ["hash"], 1: ["window"], 2: ["merge", "vector"]}


def _neg_terms(qid: int) -> list[str]:
    from searchengine_spark.query.negation import negated_terms

    return negated_terms(NEG_WORDS[qid], CFG)


def q_bm25_must_not(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negated query terms on the packed WAND path (query/negation.py; ES
    bool must_not / '-term'): docs containing any negated term are masked
    chunk-locally BEFORE the heap, so the result is the true top-k of the
    excluded corpus — pruning stays exact (exclusion only lowers scores).
    The oracle replicates with NOT EXISTS over the postings CTE."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.wand import bm25_topk_packed_batch, resolve_docs

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    # same build config as q_packed_wand_topk -> share its index dir
    path = os.path.join(tempfile.gettempdir(), f"se_entry_packed_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    ))
    pidx = load_packed_index(spark, path)
    qs = [QUERY_STRINGS[q] for q in sorted(QUERY_STRINGS)]
    ex = {qid: _neg_terms(qid) for qid in sorted(NEG_WORDS)}
    topk = bm25_topk_packed_batch(pidx, qs, CFG, k=10, round_dp=6,
                                  exclude_terms=ex)
    out = resolve_docs(pidx, topk)
    return out.select(
        "query_id",
        F.col("ext_id").alias("doc_id"),
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


def q_boolean_must_not(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean OR retrieval with negations from the packed index: set
    difference after the union, n_terms counting POSITIVE matches only
    (query/negation.py; exercises the neg-flagged decode fan-out +
    left_anti plan in boolean_search_packed)."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.wand import boolean_search_packed

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_packed_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    ))
    pidx = load_packed_index(spark, path)
    hits = boolean_search_packed(
        pidx, [QUERY_STRINGS[1]], CFG, op="or",
        exclude_terms={0: _neg_terms(1)},
    )
    return hits.join(pidx.docmap, "doc_id").select(
        F.col("ext_id").alias("doc_id"),
        F.col("n_terms").cast("long").alias("n_terms"),
    )


def q_bm25_page2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Result paging (ES from/size): page [10, 20) of the packed WAND
    ranking with ABSOLUTE ranks — the heap is sized k+offset, so page
    boundaries are exact under the rounded-score total order."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.wand import bm25_topk_packed_batch, resolve_docs

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_packed_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    ))
    pidx = load_packed_index(spark, path)
    qs = [QUERY_STRINGS[q] for q in sorted(QUERY_STRINGS)]
    topk = bm25_topk_packed_batch(pidx, qs, CFG, k=10, round_dp=6, offset=10)
    out = resolve_docs(pidx, topk)
    return out.select(
        "query_id",
        F.col("ext_id").alias("doc_id"),
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


def q_search_after_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cursor deep pagination (ES search_after, query/wand.py): page 2 of
    the packed WAND ranking reached via the previous page's last
    (score, doc_id) cursor — docs STRICTLY AFTER the cursor in the
    (rounded-score desc, doc_id asc) total order, heap sized k at any
    depth (the scale-correct alternative to from/size), ranks
    PAGE-RELATIVE 1..k. The oracle replicates the cursor page as ranks
    (10, 20] of the full ranking re-based to 1..10 — exact because cursor
    pages partition the ranking prefix (gated in
    tests/test_search_after.py)."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.wand import bm25_topk_packed_batch, resolve_docs

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_packed_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    ))
    pidx = load_packed_index(spark, path)
    qs = [QUERY_STRINGS[q] for q in sorted(QUERY_STRINGS)]
    p1 = bm25_topk_packed_batch(pidx, qs, CFG, k=10, round_dp=6)
    cursors: dict[int, tuple] = {}
    for r in p1.collect():  # bounded: <= |queries| x 10 rows
        cur = cursors.get(r["query_id"])
        if cur is None or (-r["score"], r["doc_id"]) > (-cur[0], cur[1]):
            cursors[r["query_id"]] = (float(r["score"]), int(r["doc_id"]))
    topk = bm25_topk_packed_batch(pidx, qs, CFG, k=10, round_dp=6,
                                  search_after=cursors)
    out = resolve_docs(pidx, topk)
    return out.select(
        "query_id",
        F.col("ext_id").alias("doc_id"),
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


def q_min_should_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES minimum_should_match (query/wand.py): the packed WAND ranking
    restricted to docs matching AT LEAST 2 of the query's terms — the
    coverage floor interpolating OR (m=1) and AND (m=n). Coverage is
    chunk-local exact; pruning stays safe on the subset. Oracle: the
    same BM25 chain with HAVING count(*) >= 2 (idx is unique per
    (term, doc), so the row count IS the matched-term count)."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.wand import bm25_topk_packed_batch, resolve_docs

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_packed_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    ))
    pidx = load_packed_index(spark, path)
    qs = [QUERY_STRINGS[q] for q in sorted(QUERY_STRINGS)]
    topk = bm25_topk_packed_batch(pidx, qs, CFG, k=10, round_dp=6,
                                  min_should_match=2)
    out = resolve_docs(pidx, topk)
    return out.select(
        "query_id",
        F.col("ext_id").alias("doc_id"),
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


def q_boosting_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES boosting query (query/wand.py demote_terms): the packed WAND
    ranking with each query demoting the FIRST token of the next query
    (cross-demotion, deterministic both engines) at negative_boost 0.5 —
    demoted docs sink (score x 0.5 BEFORE the 6dp rounding) but stay,
    the soft must_not. Demotion only lowers scores so pruning stays
    exact; the oracle replicates it as a LEFT-JOIN CASE multiply."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.wand import bm25_topk_packed_batch, resolve_docs

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_packed_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    ))
    pidx = load_packed_index(spark, path)
    qids = sorted(QUERY_STRINGS)
    qs = [QUERY_STRINGS[q] for q in qids]
    dem = {
        i: {_qterms(qids[(i + 1) % len(qids)])[0]}
        for i in range(len(qids))
    }
    topk = bm25_topk_packed_batch(pidx, qs, CFG, k=10, round_dp=6,
                                  demote_terms=dem, negative_boost=0.5)
    out = resolve_docs(pidx, topk)
    return out.select(
        "query_id",
        F.col("ext_id").alias("doc_id"),
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


def q_dismax_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES dis_max (query/dismax.py): two user queries of two subqueries
    each — per doc, best subquery score + 0.3 x the other (tie_breaker),
    rounded AFTER combination, ranked (score desc, doc asc). One
    flat-scorer batch covers every (user, sub) pair; the combine is a
    native max/sum groupBy. Oracle: per-(user, sub, doc) scored CTE,
    then max + 0.3*(sum-max)."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.dismax import dismax_topk_packed
    from searchengine_spark.query.wand import resolve_docs

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_packed_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    ))
    pidx = load_packed_index(spark, path)
    qids = sorted(QUERY_STRINGS)
    n = len(qids)
    groups = [
        [QUERY_STRINGS[qids[0]], QUERY_STRINGS[qids[1 % n]]],
        [QUERY_STRINGS[qids[2 % n]], QUERY_STRINGS[qids[3 % n]]],
    ]
    topk = dismax_topk_packed(pidx, groups, CFG, k=10, tie_breaker=0.3,
                              round_dp=6)
    out = resolve_docs(pidx, topk)
    return out.select(
        "query_id",
        F.col("ext_id").alias("doc_id"),
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


def q_significant_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES significant_terms analog (query/significant.py): JLH-scored
    terms overrepresented in each query's top-10 result set vs the
    corpus, the query's own terms excluded, min_doc_count=2, ranked
    (round(score,6) desc, term asc). Oracle replicates retrieval AND the
    lift arithmetic over the postings CTE."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.significant import significant_terms_for_queries

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_packed_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    ))
    pidx = load_packed_index(spark, path)
    qs = [QUERY_STRINGS[q] for q in sorted(QUERY_STRINGS)]
    out = significant_terms_for_queries(pidx, qs, CFG, k=10, k_terms=10,
                                        min_fg=2)
    # internal docIDs are dense in ext order here, and the output carries
    # no doc ids anyway — only (query, term) aggregates
    return out.select("query_id", "term", "fg_count", "df", "score",
                      F.col("rank").cast("long").alias("rank"))


PRF_R, PRF_M, PRF_BETA = 3, 3, 0.5  # feedback depth / expansion width / weight
MLT_SOURCES = [0, 7, 42]  # more-like-this source docs (ext ids == doc ids)
# query-time synonym rules over the documents vocab (surface forms — they
# normalize through the query tokenize chain) + the soft-expansion weight
SYNONYM_RULES = {
    "merge": ["join", "union"],
    "scan": ["read"],
    "stream": ["pipeline", "batch"],
}
SYNONYM_WEIGHT = 0.5
MLT_M = 5
# wildcard retrieval fixture: query 0 exercises the max_expansions cap
# (s* matches 6 dictionary terms, cap 3 keeps the df-top-3), query 1 a
# ?-pattern plus a matchless pattern (contributes nothing), query 2 has
# no pattern at all (pure passthrough)
WILDCARD_QUERIES = {0: "window s*", 1: "qu?ry join zz*", 2: "merge"}
WILDCARD_MAX_EXP = 3
# regexp retrieval fixture (query/regexp.py): query 0 exercises the cap
# on a class+quantifier pattern, query 1 a grouped alternation plus a
# matchless pattern, query 2 pure passthrough; patterns stay inside the
# Java∩Python∩RE2 subset so regexp_full_match replicates them verbatim
REGEXP_QUERIES = {0: "window /s[a-z]+/", 1: "/quer(y|ies)/ join /zzz[0-9]+/",
                  2: "merge"}
REGEXP_MAX_EXP = 3
# hybrid retrieval fixture: QUERY_STRINGS text queries paired with these
# embedding rows as query vectors (vec_id == doc_id namespace contract)
HYBRID_VEC_IDS = [0, 7, 42]
HYBRID_N_CAND = 15


def q_prf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio pseudo-relevance feedback (query/feedback.py): rounded-rank
    top-r feedback docs -> top-m expansion terms by Σ(1+ln tf)·idf (6dp,
    term-asc ties) -> re-rank with original terms at weight 1 and
    expansion terms at beta=0.5, riding the weighted-term WAND path. The
    oracle replicates both passes and the selection in SQL."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.feedback import prf_bm25_topk_packed_batch
    from searchengine_spark.query.wand import resolve_docs

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    # same build config as q_packed_wand_topk -> share its index dir
    path = os.path.join(tempfile.gettempdir(), f"se_entry_packed_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    ))
    pidx = load_packed_index(spark, path)
    qs = [QUERY_STRINGS[q] for q in sorted(QUERY_STRINGS)]
    topk = prf_bm25_topk_packed_batch(
        pidx, qs, CFG, k=10, r=PRF_R, m=PRF_M, beta=PRF_BETA, round_dp=6
    )
    out = resolve_docs(pidx, topk)
    return out.select(
        "query_id",
        F.col("ext_id").alias("doc_id"),
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


def q_explain_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score explain (query/serve.py LocalSearcher.explain — the
    Lucene/ES explain analog): one row per (query, top-5 doc, matched
    term) with the term's BM25 contribution
    idf·tf(k+1)/(tf+k(1−b+b·dl_norm)), plus the doc's total score and
    rank. This is the serving tier's own arithmetic surfaced row by row
    — and the in-process LocalSearcher's only direct DuckDB gate (its
    other gates are pytest bit-identity vs the distributed paths). The
    oracle recomputes every contribution from the index CTEs restricted
    to the rounded-rank top-5; a tier that served stale idf, lossy
    dl_norm, or missed a matched term hash-mismatches."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.serve import LocalSearcher

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_packed_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    ))
    pidx = load_packed_index(spark, path)
    ls = LocalSearcher(pidx, cfg=CFG)
    rows = []
    for qid in sorted(QUERY_STRINGS):
        for r in ls.explain(QUERY_STRINGS[qid], k=5, round_dp=6,
                            resolve=False):
            for b in r["breakdown"]:
                rows.append((qid, int(r["doc_id"]), b["term"],
                             float(b["contribution"]), float(r["score"]),
                             int(r["rank"])))
    df = spark.createDataFrame(
        rows, "query_id int, doc_id bigint, term string, "
              "contribution double, score double, rank bigint")
    return df.select(
        "query_id", "doc_id", "term",
        F.round("contribution", 6).alias("contribution"), "score", "rank")


def q_synonym_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-time synonym expansion (query/synonyms.py — the ES
    synonym-token-filter analog, applied query-side so the index never
    rebuilds when the dictionary changes): each query term additionally
    retrieves its SYNONYM_RULES synonyms at weight 0.5 (soft
    related-term expansion), riding the weighted-term WAND seam
    (weights fold into idf BEFORE the chunk bounds, so block-max
    pruning stays exact). Contract points: rules normalize through the
    query tokenize chain, an expansion term that is already an explicit
    query term keeps weight 1.0 ('batch' in query 2), OOV synonyms
    match nothing. The oracle inlines the expanded (term, weight) rows
    and weights each BM25 contribution — a scorer that ignored weights,
    applied them after the bounds, or double-counted duplicate
    expansions hash-mismatches."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.synonyms import expand_query_terms
    from searchengine_spark.query.wand import bm25_topk_packed_batch, resolve_docs

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_packed_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    ))
    pidx = load_packed_index(spark, path)
    qs = [QUERY_STRINGS[q] for q in sorted(QUERY_STRINGS)]
    terms, weights = expand_query_terms(qs, CFG, SYNONYM_RULES,
                                        weight=SYNONYM_WEIGHT)
    topk = bm25_topk_packed_batch(
        pidx, qs, CFG, k=10, round_dp=6,
        query_terms=terms, term_weights=weights or None,
    )
    out = resolve_docs(pidx, topk)
    return out.select(
        "query_id",
        F.col("ext_id").alias("doc_id"),
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


def q_wildcard_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wildcard term retrieval (query/wildcard.py — the ES ``wildcard`` /
    Lucene ``scoring_boolean`` rewrite): ``te*t``/``te?t`` query words
    expand against the index dictionary (live-df desc, term asc, capped
    at WILDCARD_MAX_EXP per pattern) and the expansion scores ordinary
    BM25 OR. Contract points the oracle pins: the cap keeps the df-TOP
    matches (query 0's ``s*`` matches 6 terms, only the top 3 score), a
    ``?`` is exactly one character, a matchless pattern contributes
    nothing, expansions dedup against explicit terms (set semantics),
    and a pattern-free query is untouched. The oracle replicates the
    expansion itself (LIKE + df-ranked LIMIT over the term_stats CTE) —
    a scorer whose cap ranked differently, whose translation mis-anchored,
    or whose expansion double-counted hash-mismatches."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.wand import resolve_docs
    from searchengine_spark.query.wildcard import bm25_wildcard_packed_batch

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_packed_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    ))
    pidx = load_packed_index(spark, path)
    qs = [WILDCARD_QUERIES[q] for q in sorted(WILDCARD_QUERIES)]
    topk = bm25_wildcard_packed_batch(
        pidx, qs, CFG, k=10, round_dp=6, max_expansions=WILDCARD_MAX_EXP,
    )
    out = resolve_docs(pidx, topk)
    return out.select(
        "query_id",
        F.col("ext_id").alias("doc_id"),
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


#: URL-filter fixture: URLs synthesized DETERMINISTICALLY from existing
#: columns with identical SQL text on both engines — doc_id%4 routes
#: each doc to keep / two-level-suffix domain block / bad scheme /
#: substring block, so every reason branch and the suffix rule bite
URL_SYNTH_SQL = (
    "CASE CAST(doc_id % 4 AS INT) "
    "WHEN 0 THEN 'https://news.' || source || '.example.com/p/' || CAST(doc_id AS STRING) "
    "WHEN 1 THEN 'http://ads.' || source || '.co.uk:8080/x' "
    "WHEN 2 THEN 'ftp://mirror.' || source || '.net/pub' "
    "ELSE 'https://' || source || '.shop.org/casino/' || CAST(doc_id AS STRING) END"
)
URL_BLOCKED_DOMAINS = ("src3.co.uk",)
URL_BLOCKED_SUBSTRINGS = ("casino",)


def q_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/domain gate (textops/urlfilter.py — the C4/RefinedWeb web-
    pipeline stage 0): native scheme/host/registered-domain parse (port
    stripped, two-level public-suffix rule: ads.<src>.co.uk registers
    as <src>.co.uk, so blocking src3.co.uk blocks every subdomain of
    exactly that registrant), fixed reason precedence bad_scheme >
    blocked_domain > blocked_substring, one row per doc. URLs are
    synthesized from (doc_id, source) with the SAME SQL text on both
    engines; the oracle replicates the parse regexes VERBATIM (the
    Java∩RE2 discipline) — a parser that keeps ports, misses the suffix
    rule, or reorders reasons hash-mismatches."""
    from searchengine_spark.textops.urlfilter import url_filter

    docs = _documents(spark, sf_dir).withColumn("url", F.expr(URL_SYNTH_SQL))
    out = url_filter(
        docs, url_col="url", id_col="doc_id",
        blocked_domains=URL_BLOCKED_DOMAINS,
        blocked_substrings=URL_BLOCKED_SUBSTRINGS,
    )
    return out.select("doc_id", "scheme", "host", "registered_domain",
                      "keep", "reason")


#: term-suggester inputs: an OOV typo with neighbors, an in-vocab term
#: (self-exclusion bites), and a no-neighbor string (emits nothing)
TS_TERMS = ("windov", "merge", "qzqzqz")


def q_term_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES TERM SUGGESTER (query/fuzzy.py term_suggestions — "did you
    mean"): per input term, up to 3 dictionary neighbors at Levenshtein
    distance 1, df desc then term asc (distance ties at max_edits=1 —
    frequency IS the tiebreak), the input term itself NEVER suggested;
    mode='always' here so the oracle pins exclusion + ranking (the
    missing/popular suggest_mode gates are pytest-gated). The oracle
    runs DuckDB's own levenshtein() over the dictionary — a generator
    that lost a true neighbor (SymSpell completeness) or an OSA-style
    transposition matcher hash-mismatches."""
    from searchengine_spark.query.fuzzy import term_suggestions

    it = _doc_index(spark, sf_dir)
    out = term_suggestions(it.term_stats, list(TS_TERMS), k=3,
                           mode="always")
    return out.select(
        "qterm", "suggestion",
        F.col("df").cast("long").alias("df"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_term_suggest_fuzz2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES TERM SUGGESTER at fuzziness 2 (the full ES fuzziness range —
    the AUTO ladder's >5-char budget): distance-<=2 neighbors ranked
    distance ASC (the ES score-first sort) then df desc then term asc.
    The oracle runs DuckDB's levenshtein() verbatim — a depth-2
    symmetric-delete generator that loses a true distance-2 neighbor,
    or a ranking that ignores distance, hash-mismatches."""
    from searchengine_spark.query.fuzzy import term_suggestions

    it = _doc_index(spark, sf_dir)
    out = term_suggestions(it.term_stats, list(TS_TERMS), k=5,
                           mode="always", fuzziness=2)
    return out.select(
        "qterm", "suggestion",
        F.col("df").cast("long").alias("df"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked windowed aggregation (streaming/windowed.py — the
    Structured-Streaming late-data contract): two availableNow rounds
    over a growing events dir. Round 1 drains the events table
    (1-day tumbling windows, 1-hour watermark); round 2 appends a
    far-future probe (advances the watermark past every real window,
    finalizing them all) and a LATE duplicate of the earliest event
    (behind the round-1 watermark — DROPPED). The finalized table must
    therefore equal plain day-window counts over the ORIGINAL events:
    no late_probe rows anywhere (the late one dropped; the future
    one's window never finalized), every original window exactly once.
    An engine that double-emits, mutates finalized windows, or admits
    late events hash-mismatches."""
    import os
    import shutil
    import tempfile
    from datetime import timedelta

    from searchengine_spark.streaming.windowed import stream_windowed_counts

    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(tempfile.gettempdir(), f"se_entry_wstream_{tag}")
    # watermarks want INSTANT timestamps; the testdata ts is NTZ. Pin
    # the session to UTC for the whole entry so NTZ->instant keeps the
    # wall values and window_start epochs match the oracle's naive
    # date_trunc regardless of the harness's timezone.
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        if root not in _PACKED_BUILT:
            shutil.rmtree(root, ignore_errors=True)
            events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
                F.col("ts").cast("timestamp").alias("ts"), "event_type")
            # ONE file -> ONE availableNow batch: a multi-batch drain in
            # arbitrary file order could advance the watermark mid-drain
            # and drop same-round events as late
            events.coalesce(1).write.mode("overwrite").parquet(f"{root}/in")
            kw = dict(ts_col="ts", group_col="event_type", window="1 day",
                      watermark="1 hour")
            stream_windowed_counts(spark, f"{root}/in", f"{root}/out", **kw)
            mx, mn = events.agg(F.max("ts"), F.min("ts")).first()
            probe = spark.createDataFrame(
                [(mx + timedelta(days=2), "late_probe"),
                 (mn, "late_probe")],
                "ts timestamp, event_type string")
            probe.write.mode("append").parquet(f"{root}/in")
            stream_windowed_counts(spark, f"{root}/in", f"{root}/out", **kw)
            _PACKED_BUILT.add(root)
        out = spark.read.parquet(f"{root}/out/windows")
        return out.select(
            F.col("window_start").cast("long").alias("w_start"),
            "event_type",
            F.col("n").cast("long").alias("n"),
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


SESSION_GAP_S = 7200  # 2 hours


def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization (streaming/sessions.py — the
    applyInPandasWithState CUSTOM stateful operator): the events table
    drained as ONE batch (single input file), sessions split on
    >2-hour gaps per user; a far-future probe in round 2 advances the
    watermark past every real session's timeout, so the CLOSED set
    equals the classic islands-and-gaps SQL over the original events —
    each user's non-final sessions closed by 'gap' (split in-function),
    the final one by 'timeout', the probe's own session still open and
    absent. Exactly-once emission and state-across-runs are what the
    equality proves."""
    import os
    import shutil
    import tempfile
    from datetime import timedelta

    from searchengine_spark.streaming.sessions import stream_sessionize

    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(tempfile.gettempdir(), f"se_entry_sess_{tag}")
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        if root not in _PACKED_BUILT:
            shutil.rmtree(root, ignore_errors=True)
            ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
                F.col("user_id").cast("string").alias("conv_id"),
                F.col("ts").cast("timestamp").alias("ts"))
            ev.coalesce(1).write.mode("overwrite").parquet(f"{root}/in")
            kw = dict(key_col="conv_id", ts_col="ts", gap="120 minutes",
                      watermark="60 minutes")
            stream_sessionize(spark, f"{root}/in", f"{root}/out", **kw)
            mx = ev.agg(F.max("ts")).first()[0]
            probe = spark.createDataFrame(
                [("late_probe_user", mx + timedelta(days=30))],
                "conv_id string, ts timestamp")
            probe.coalesce(1).write.mode("append").parquet(f"{root}/in")
            stream_sessionize(spark, f"{root}/in", f"{root}/out", **kw)
            _PACKED_BUILT.add(root)
        out = spark.read.parquet(f"{root}/out/sessions")
        return out.select(
            "key",
            F.col("session_start").cast("long").alias("session_start"),
            F.col("session_end").cast("long").alias("session_end"),
            F.col("n_events").cast("long").alias("n_events"),
            "closed_by",
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


BLOOM_ENTRY_M, BLOOM_ENTRY_K = 1 << 16, 3


def q_bloom_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom membership sketch (textops/sketches.py bloom_bits — the
    streaming-dedup 'have we seen this doc?' gate): the sparse set of
    set bits over the documents ids — bit_i = first-12-md5-nibbles of
    'bf<i>|<id>' as a 48-bit int, mod m (power of two), k salted
    hashes, distinct. Pure integer arithmetic — the oracle decodes the
    SAME nibbles via strpos; a different salt shape, nibble count, or
    a signed/float modulo hash-mismatches."""
    from searchengine_spark.textops.sketches import bloom_bits

    docs = _documents(spark, sf_dir)
    out = bloom_bits(docs, "doc_id", m=BLOOM_ENTRY_M, k=BLOOM_ENTRY_K)
    return out.select(F.col("bit").cast("long").alias("bit"))


#: phrase-suggester input: an OOV typo + an in-vocab word — the
#: whole-phrase enumeration must mix edit-0 and edit-1 positions
PS_TERMS = ("windov", "merge")


def q_phrase_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES PHRASE SUGGESTER analog (query/fuzzy.py phrase_suggestions —
    whole-query did-you-mean): per position the token itself (edit 0)
    plus its df-top-5 distance-1 neighbors (edit 1), combinations
    within a 2-edit budget, ranked by the EXACT integer df product
    (the naive unigram-LM analog — arbitrary-precision, no float
    product), ties phrase-asc, the input phrase never suggested. The
    oracle enumerates the same slots with DuckDB's levenshtein and a
    HUGEINT product — a float-product ranker, a self-including slot,
    or a budget off-by-one hash-mismatches."""
    from searchengine_spark.query.fuzzy import phrase_suggestions

    it = _doc_index(spark, sf_dir)
    out = phrase_suggestions(it.term_stats, list(PS_TERMS), k=3,
                             max_per_term=5, max_edits=2)
    return spark.createDataFrame(
        [(p, int(s), int(e)) for p, s, e in out],
        "phrase string, score long, n_edits long",
    )


def q_analyze_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ES ``_analyze`` analog (query/analyze.py): one row per indexed
    token of every 25th document — (doc_id, position, token), position =
    index in the FILTERED sequence (the positional payload's own
    semantics). The oracle replicates the tokenize chain + ordinal
    positions (generate_subscripts); offsets are pytest-gated (a char-
    span slice isn't SQL-cheap). A chain that filtered before/after
    differently shifts every position and hash-mismatches."""
    from searchengine_spark.query.analyze import analyze_table

    docs = _documents(spark, sf_dir).filter(F.col("doc_id") % 25 == 0)
    out = analyze_table(docs, CFG, text_col="text", id_cols=("doc_id",))
    return out.select(
        "doc_id",
        F.col("position").cast("long").alias("position"),
        "token",
    )


# decay-scoring fixture (query/decay.py): LINEAR decay over n_chars —
# rational arithmetic, identical in any IEEE engine (gauss/exp go
# through libm exp() and are pytest-gated instead, the documented
# cross-engine discipline); scale/(1-decay)=200 so far docs hit EXACT 0
DECAY_ORIGIN, DECAY_SCALE, DECAY_DECAY, DECAY_OFFSET = 300.0, 100.0, 0.5, 10.0


def q_decay_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decay-function scoring (query/decay.py — the ES ``function_score``
    decay family, here ``linear`` x ``multiply``): every matched doc's
    BM25 score multiplies by max(0, (s - d)/s) with
    d = max(0, |n_chars - origin| - offset) and s = scale/(1-decay) —
    docs at origin keep their score, docs past s zero out (they stay
    MATCHES at score 0 — the all-matches contract), missing values
    decay to 1.0. Matched set is score-all (a relevance top-k cut
    mismatches whenever decay reorders)."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.decay import decay_score_packed

    docs = _documents(spark, sf_dir)
    idx_in = docs.select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_packed_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        idx_in, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    ))
    pidx = load_packed_index(spark, path)
    attrs = docs.select(F.col("doc_id").alias("ext_id"), "n_chars")
    qs = [QUERY_STRINGS[q] for q in sorted(QUERY_STRINGS)]
    out = decay_score_packed(
        pidx, qs, CFG, attrs, "n_chars", DECAY_ORIGIN, DECAY_SCALE,
        decay=DECAY_DECAY, offset=DECAY_OFFSET, fn="linear",
        boost_mode="multiply", k=10, round_dp=6,
    )
    return out.select(
        "query_id",
        F.col("ext_id").alias("doc_id"),
        F.col("value").cast("long").alias("value"),
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


_SIDECAR_WRITTEN: set = set()


def _entry_packed_with_sidecar(spark: SparkSession, sf_dir: str):
    """The shared packed documents index with an n_chars doc_attrs
    sidecar written once per process (indexing/attrs.py)."""
    import os
    import tempfile

    from searchengine_spark.indexing.attrs import write_attrs_sidecar
    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index

    docs = _documents(spark, sf_dir)
    idx_in = docs.select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_packed_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        idx_in, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    ))
    pidx = load_packed_index(spark, path)
    if path not in _SIDECAR_WRITTEN:
        attrs = docs.select(F.col("doc_id").alias("ext_id"), "n_chars")
        write_attrs_sidecar(pidx, attrs, ["n_chars"])
        _SIDECAR_WRITTEN.add(path)
    return pidx


def q_sorted_sidecar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sorted_search served from the doc_attrs SIDECAR (attrs=None —
    indexing/attrs.py attach_attr: broadcast chunk join, zero
    attrs-side exchange, docmap resolve after the cut). Same oracle as
    sorted_search — the two serving paths must hash-match, which is
    exactly the sidecar's bit-identical contract."""
    from searchengine_spark.query.sortby import sort_by_attr_packed

    pidx = _entry_packed_with_sidecar(spark, sf_dir)
    qs = [QUERY_STRINGS[q] for q in sorted(QUERY_STRINGS)]
    out = sort_by_attr_packed(
        pidx, qs, CFG, None, "n_chars", k=10, ascending=False,
        missing="last", round_dp=6,
    )
    return out.select(
        "query_id",
        F.col("ext_id").alias("doc_id"),
        F.col("sort_value").cast("long").alias("sort_value"),
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


def q_decay_sidecar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decay_search (linear x multiply) served from the doc_attrs
    SIDECAR (attrs=None). Same oracle as decay_search — serving-path
    bit-identity is the claim under test."""
    from searchengine_spark.query.decay import decay_score_packed

    pidx = _entry_packed_with_sidecar(spark, sf_dir)
    qs = [QUERY_STRINGS[q] for q in sorted(QUERY_STRINGS)]
    out = decay_score_packed(
        pidx, qs, CFG, None, "n_chars", DECAY_ORIGIN, DECAY_SCALE,
        decay=DECAY_DECAY, offset=DECAY_OFFSET, fn="linear",
        boost_mode="multiply", k=10, round_dp=6,
    )
    return out.select(
        "query_id",
        F.col("ext_id").alias("doc_id"),
        F.col("value").cast("long").alias("value"),
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


def q_sparse_blockmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sparse_expansion served by the BLOCK-MAX tier (query/sparse.py
    sparse_topk_blockmax_batch: chunk_stats upper bounds, seed-θ chunk
    pruning, exact BIGINT arithmetic). Same oracle as sparse_expansion
    — pruning must be invisible in the results."""
    from searchengine_spark.query.sparse import sparse_topk_blockmax_batch

    path = _sparse_index_path(spark, sf_dir)
    return sparse_topk_blockmax_batch(
        spark, path, _sparse_query_weights(), k=10)


def q_match_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ES _count API analog (query/wand.py match_counts_packed):
    per-query matched-doc counts over the packed index WITHOUT ranking
    or driver-side hits — the score-all surface folded to one count per
    query; a matchless query (appended here on purpose) answers 0
    instead of vanishing. The oracle counts DISTINCT matched docs per
    term list — a WAND-cut counter or a per-term (non-distinct) counter
    hash-mismatches."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.wand import match_counts_packed

    docs = _documents(spark, sf_dir).select(
        F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_packed_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    ))
    pidx = load_packed_index(spark, path)
    qs = [QUERY_STRINGS[q] for q in sorted(QUERY_STRINGS)]
    qs.append("zzzqqq nonexistent")  # the zero-answer contract
    return match_counts_packed(pidx, qs, CFG)


#: pinned-query fixture: a real doc likely to also MATCH (keeps its
#: organic score), a real doc unlikely to match (score NULL), and an
#: impossible id (skipped — doc_ids are non-negative at every sf)
PIN_IDS = (42, 7, -1)


def q_pinned_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES pinned query (query/pinned.py): PIN_IDS occupy the top ranks
    in the GIVEN order regardless of relevance (the editorial
    contract), organic BM25 follows excluding them, unknown ids skip
    silently, pinned-and-matched docs keep their organic score while
    unmatched pins carry NULL. The oracle replicates the organic
    ranking, the exclusion, the existence filter, and the two-tier
    renumber — a version that re-scores pins, duplicates a
    pinned-and-matched doc, or drops zero-score pins hash-mismatches."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.pinned import pinned_topk_packed

    docs = _documents(spark, sf_dir).select(
        F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_packed_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    ))
    pidx = load_packed_index(spark, path)
    qs = [QUERY_STRINGS[q] for q in sorted(QUERY_STRINGS)]
    out = pinned_topk_packed(pidx, qs, CFG, list(PIN_IDS), k=10,
                             round_dp=6)
    return out.select(
        "query_id",
        F.col("ext_id").alias("doc_id"),
        "score",
        "pinned",
        F.col("rank").cast("long").alias("rank"),
    )


RANDOM_SEED = "entry-r3"


def q_random_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES random_score (query/decay.py random_score_packed, replace
    mode): per matched doc a DETERMINISTIC pseudo-random [0,1) — the
    first 12 md5 nibbles of 'seed|ext_id' over 2^48 (exact in a double;
    the repo's md5 integer discipline) — ranked desc: 'a random sample
    of the matches', reproducible on any engine. The oracle decodes the
    SAME nibbles via strpos arithmetic; a different hash input shape,
    nibble count, or rounding policy hash-mismatches."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.decay import random_score_packed

    docs = _documents(spark, sf_dir).select(
        F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_packed_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    ))
    pidx = load_packed_index(spark, path)
    qs = [QUERY_STRINGS[q] for q in sorted(QUERY_STRINGS)]
    out = random_score_packed(
        pidx, qs, CFG, seed=RANDOM_SEED, boost_mode="replace", k=10,
        round_dp=6,
    )
    return out.select(
        "query_id",
        F.col("ext_id").alias("doc_id"),
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


def q_field_value_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES field_value_factor (query/decay.py field_value_factor_packed —
    the third function_score member): score = BM25 x sqrt(n_chars) over
    the FULL matched set (sqrt is IEEE-754 correctly rounded — the one
    transcendental-looking modifier that IS oracle-safe; the log family
    is pytest-gated like gauss). Missing values fall back to
    missing=1.0; rounding on the combined score."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.decay import field_value_factor_packed

    docs = _documents(spark, sf_dir)
    idx_in = docs.select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_packed_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        idx_in, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    ))
    pidx = load_packed_index(spark, path)
    attrs = docs.select(F.col("doc_id").alias("ext_id"), "n_chars")
    qs = [QUERY_STRINGS[q] for q in sorted(QUERY_STRINGS)]
    out = field_value_factor_packed(
        pidx, qs, CFG, attrs, "n_chars", factor=1.0, modifier="sqrt",
        missing=1.0, boost_mode="multiply", k=10, round_dp=6,
    )
    return out.select(
        "query_id",
        F.col("ext_id").alias("doc_id"),
        F.col("value").cast("long").alias("value"),
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


RANK_FEATURE_PIVOT = 800.0  # median-ish n_chars: saturation bites both ways


def q_rank_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES rank_feature query (query/decay.py fvf 'saturation' modifier —
    rank_feature IS function-score-by-a-feature-field, grafted onto the
    field_value_factor seam): score = BM25 x n_chars/(n_chars+pivot),
    the ES default saturation function. One exactly-computed division
    per doc — correctly rounded on every engine, so the oracle runs it
    verbatim (the general sigmoid exponent rides libm pow and is
    refused; the exponent-2 member ships as 'sigmoid2', pytest-gated
    alongside in tests/test_decay.py)."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.decay import field_value_factor_packed

    docs = _documents(spark, sf_dir)
    idx_in = docs.select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_packed_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        idx_in, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    ))
    pidx = load_packed_index(spark, path)
    attrs = docs.select(F.col("doc_id").alias("ext_id"), "n_chars")
    qs = [QUERY_STRINGS[q] for q in sorted(QUERY_STRINGS)]
    out = field_value_factor_packed(
        pidx, qs, CFG, attrs, "n_chars", factor=RANK_FEATURE_PIVOT,
        modifier="saturation", missing=1.0, boost_mode="multiply",
        k=10, round_dp=6,
    )
    return out.select(
        "query_id",
        F.col("ext_id").alias("doc_id"),
        F.col("value").cast("long").alias("value"),
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


def q_sorted_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute-sorted retrieval (query/sortby.py — the ES ``sort``
    clause): the query decides WHICH docs match (BM25 OR over the
    score-all surface — NEVER a top-k-by-score cut: the attribute-best
    doc may rank thousandth by score, so a WAND-cut replica
    hash-mismatches on the matched set itself), n_chars decides the
    ORDER (desc, then rounded score desc, then doc_id asc). k=10 per
    query over the shared packed documents index."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.sortby import sort_by_attr_packed

    docs = _documents(spark, sf_dir)
    idx_in = docs.select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_packed_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        idx_in, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    ))
    pidx = load_packed_index(spark, path)
    attrs = docs.select(F.col("doc_id").alias("ext_id"), "n_chars")
    qs = [QUERY_STRINGS[q] for q in sorted(QUERY_STRINGS)]
    out = sort_by_attr_packed(
        pidx, qs, CFG, attrs, "n_chars", k=10, ascending=False,
        missing="last", round_dp=6,
    )
    return out.select(
        "query_id",
        F.col("ext_id").alias("doc_id"),
        F.col("sort_value").cast("long").alias("sort_value"),
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


# multi_match fixture (query/multimatch.py): per-field packed indexes
# over text + source; "srcN" terms live ONLY in the source field and the
# OLAP words only in text, so the per-field statistics routing is
# load-bearing; best_fields with a tie breaker + a source boost
MM_QUERIES = {0: "window src3", 1: "merge src17 fast"}
MM_TIE = 0.3
MM_BOOSTS = {"source": 2.0}


def q_multi_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-field search (query/multimatch.py — the ES ``multi_match``
    query, best_fields type): one packed index PER FIELD (text, source)
    over the same frame — docIDs align by construction, statistics are
    per field (df/idf/avgdl — the Lucene model) — then per doc
    best-field + MM_TIE x the rest, source scores boosted 2x BEFORE the
    combine. The oracle replicates BOTH field index chains (suffixed
    CTE twins), the boost, and the dis_max-style combine — a version
    sharing statistics across fields (cross_fields-ish), boosting after
    the max, or summing (most_fields) all hash-mismatch."""
    import os
    import tempfile

    from searchengine_spark.query.multimatch import (
        build_field_indexes,
        load_field_indexes,
        multi_match_topk,
    )
    from searchengine_spark.query.wand import resolve_docs

    docs = _documents(spark, sf_dir).select(
        F.col("doc_id").alias("ext_id"), "text", "source")
    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(tempfile.gettempdir(), f"se_entry_mm_{tag}")
    _build_packed_once(root, lambda: build_field_indexes(
        docs, CFG, root, ["text", "source"], params=Bm25Params(K, B),
        order_cols=("ext_id",), chunk_docs=256,
    ))
    fidx = load_field_indexes(spark, root)
    qs = [MM_QUERIES[q] for q in sorted(MM_QUERIES)]
    topk = multi_match_topk(
        fidx, qs, CFG, k=10, mode="best_fields", tie_breaker=MM_TIE,
        boosts=MM_BOOSTS, round_dp=6,
    )
    out = resolve_docs(fidx["text"], topk)
    return out.select(
        "query_id",
        F.col("ext_id").alias("doc_id"),
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


CF_TIE = 0.2


def q_cross_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multi_match type cross_fields (query/multimatch.py
    cross_fields_topk — Lucene BlendedTermQuery): TERM-centric blended
    statistics — per term the fields share one idf built from the MAX
    per-field df, each field contributes its own tf/dl_norm saturation
    (source boosted 2x), fields combine dis_max per TERM (tie 0.2) and
    the term scores sum per doc. The oracle replicates the blend (FULL
    OUTER df max), the per-term dismax and the sum — per-field idf, a
    per-QUERY combine, or boosting after the max all hash-mismatch."""
    import os
    import tempfile

    from searchengine_spark.query.multimatch import (
        build_field_indexes,
        cross_fields_topk,
        load_field_indexes,
    )
    from searchengine_spark.query.wand import resolve_docs

    docs = _documents(spark, sf_dir).select(
        F.col("doc_id").alias("ext_id"), "text", "source")
    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(tempfile.gettempdir(), f"se_entry_mm_{tag}")
    _build_packed_once(root, lambda: build_field_indexes(
        docs, CFG, root, ["text", "source"], params=Bm25Params(K, B),
        order_cols=("ext_id",), chunk_docs=256,
    ))
    fidx = load_field_indexes(spark, root)
    qs = [MM_QUERIES[q] for q in sorted(MM_QUERIES)]
    topk = cross_fields_topk(
        fidx, qs, CFG, k=10, tie_breaker=CF_TIE, boosts=MM_BOOSTS,
        round_dp=6,
    )
    out = resolve_docs(fidx["text"], topk)
    return out.select(
        "query_id",
        F.col("ext_id").alias("doc_id"),
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


CF_WEIGHTS = {"text": 1.0, "source": 2.0}  # integral -> exact double sums


def q_combined_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multi_match's fourth mode: ES combined_fields (Lucene
    CombinedFieldQuery, simplified BM25F — query/multimatch.py
    combined_fields_topk): weighted term freqs MERGE into one synthetic
    field (tf' = Σ w_f·tf_f, dl' = Σ w_f·dl_f, dl_norm' 3dp), df' =
    max-field df with the 3dp idf, ONE saturation over the merged
    field (saturate-then-combine vs cross_fields' combine-then-
    saturate). Integral weights keep every double sum exact cross-
    engine. The oracle replicates the merge end to end."""
    from searchengine_spark.query.multimatch import combined_fields_topk

    docs = _documents(spark, sf_dir).select("doc_id", "text", "source")
    its = {
        f: build_index(docs.select("doc_id", f), CFG, text_col=f,
                       id_col="doc_id")
        for f in ("text", "source")
    }
    qs = [MM_QUERIES[q] for q in sorted(MM_QUERIES)]
    return combined_fields_topk(
        its, qs, CFG, k=10, weights=CF_WEIGHTS,
        params=Bm25Params(K, B), round_dp=6,
    ).select("query_id", "doc_id", "score",
             F.col("rank").cast("long").alias("rank"))


FUZZYQ_QUERIES = {0: "spark merge~ windoww~1 vector", 1: "scann~2 table"}
FUZZYQ_MAX_EXP = 50


def q_fuzzy_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES fuzzy QUERY (query/fuzzyquery.py — Lucene FuzzyQuery / the
    query_string tilde): word~ / word~N expands against the dictionary
    to every term within the edit budget (distance asc / df desc / term
    asc, capped), AUTO resolving per analyzed term, then scores plain
    BM25 OR through the wildcard seam. The oracle replicates the
    expansion with DuckDB levenshtein() verbatim and the same cap —
    a correction-style top-1 rewrite, an uncapped expansion, or a
    frequency-first selection all hash-mismatch."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.fuzzyquery import bm25_fuzzyq_packed_batch
    from searchengine_spark.query.wand import resolve_docs

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_fq_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256))
    pidx = load_packed_index(spark, path)
    qs = [FUZZYQ_QUERIES[i] for i in sorted(FUZZYQ_QUERIES)]
    topk = bm25_fuzzyq_packed_batch(
        pidx, qs, CFG, k=10, max_expansions=FUZZYQ_MAX_EXP, round_dp=6)
    out = resolve_docs(pidx, topk)
    return out.select(
        "query_id", F.col("ext_id").alias("doc_id"), "score",
        F.col("rank").cast("long").alias("rank"),
    )


def q_regexp_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp term retrieval (query/regexp.py — the ES ``regexp`` /
    Lucene ``/pattern/`` query_string analog): slash-wrapped query words
    match the ENTIRE dictionary term (implicit anchoring), expand
    live-df desc / term asc capped at REGEXP_MAX_EXP, and score ordinary
    BM25 OR through the wildcard seam. Contract points the oracle pins:
    whole-term match (``regexp_full_match`` — a substring matcher
    over-expands), the df-TOP cap selection, grouped alternation, a
    matchless pattern contributing nothing, and pattern-free
    passthrough. Patterns stay inside the documented Java∩Python∩RE2
    subset, so the oracle runs the SAME pattern text verbatim."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.regexp import bm25_regexp_packed_batch
    from searchengine_spark.query.wand import resolve_docs

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_packed_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    ))
    pidx = load_packed_index(spark, path)
    qs = [REGEXP_QUERIES[q] for q in sorted(REGEXP_QUERIES)]
    topk = bm25_regexp_packed_batch(
        pidx, qs, CFG, k=10, round_dp=6, max_expansions=REGEXP_MAX_EXP,
    )
    out = resolve_docs(pidx, topk)
    return out.select(
        "query_id",
        F.col("ext_id").alias("doc_id"),
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid BM25 + cosine retrieval with reciprocal-rank fusion
    (query/hybrid.py — the ES 8.x ``rrf`` retriever analog, Cormack et
    al. 2009): each (text query, query vector) pair runs BOTH systems to
    their top-HYBRID_N_CAND candidates (text: the packed WAND batch;
    vector: brute cosine over the embeddings table, vec_id == doc_id),
    then fuses by SUM(1_000_000 // (60 + rank)) in EXACT BIGINT
    arithmetic (the repo's cross-engine integer micro-unit protocol —
    float 1/(k+r) sums are summation-order-dependent; integer division
    is bit-identical in Spark, DuckDB and Python). The oracle replicates
    both candidate windows AND the fusion — a fuser with float scores,
    corpus-not-window semantics, or a different tie-break mismatches."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.hybrid import hybrid_topk

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_packed_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    ))
    pidx = load_packed_index(spark, path)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    by_id = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id").isin(HYBRID_VEC_IDS)).collect()
    }
    qs = [QUERY_STRINGS[q] for q in sorted(QUERY_STRINGS)]
    qvecs = [by_id[i] for i in HYBRID_VEC_IDS]
    out = hybrid_topk(pidx, emb, qs, qvecs, CFG, k=10,
                      n_candidates=HYBRID_N_CAND)
    return out.select(
        "query_id", "doc_id",
        F.col("rrf_score").cast("long").alias("rrf_score"),
        F.col("rank").cast("long").alias("rank"),
    )


HYBRID_LINEAR_W = (0.7, 0.3)


def q_hybrid_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES 8.16 linear retriever with minmax normalizer (query/hybrid.py
    linear_fuse): the same two candidate windows as hybrid_search (BM25
    WAND top-15, brute cosine top-15), fused by weighted sum of
    per-system minmax-normalized scores — all in exact BIGINT micro
    arithmetic ((s-min)*1e6 div (max-min), w_micro*norm div 1e6,
    degenerate max==min system -> 1e6). Weights 0.7 text / 0.3 vector.
    The oracle replicates both windows AND the integer normalize-fuse
    chain."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.hybrid import cosine_candidates, linear_fuse
    from searchengine_spark.query.wand import bm25_topk_packed_batch, resolve_docs

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_packed_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    ))
    pidx = load_packed_index(spark, path)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    by_id = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id").isin(HYBRID_VEC_IDS)).collect()
    }
    qs = [QUERY_STRINGS[q] for q in sorted(QUERY_STRINGS)]
    qvecs = [by_id[i] for i in HYBRID_VEC_IDS]
    text = resolve_docs(pidx, bm25_topk_packed_batch(
        pidx, qs, CFG, k=HYBRID_N_CAND, round_dp=6)).select(
        "query_id", F.col("ext_id").cast("long").alias("doc_id"), "score")
    vec = cosine_candidates(emb, qvecs, n_candidates=HYBRID_N_CAND).filter(
        F.col("rank") <= HYBRID_N_CAND).select(
        "query_id", "doc_id", F.col("cosine").alias("score"))
    out = linear_fuse([text, vec], weights=HYBRID_LINEAR_W, k=10)
    return out.select("query_id", "doc_id", "linear_score", "rank")


HIST_INTERVAL = 40.0
RERANK_N_CAND = 15
#: ES range-agg buckets over n_chars: unbounded low, two OVERLAPPING
#: mid ranges (a value must count in BOTH — the ES overlap contract),
#: and an unbounded-high bucket far enough out to stay empty (the
#: all-buckets-emit contract needs an n=0 row to bite)
RANGE_BUCKETS = ((None, 200.0), (100.0, 300.0), (200.0, 400.0),
                 (50000.0, None))
#: ES filters/adjacency_matrix named predicate buckets — SQL boolean
#: expressions in the Spark∩DuckDB dialect (comparisons + equality only)
#: so the oracle replicates them VERBATIM; 'impossible' stays empty so
#: the always-emit (filters) vs non-empty-only (adjacency) contracts
#: diverge visibly on the same spec
FILTER_BUCKETS = (("english", "lang = 'en'"),
                  ("longdoc", "n_chars >= 306"),
                  ("impossible", "n_chars < 0"))


#: ES rescore fixture: one rescore query per primary query; weights
#: integer-valued so every combined score stays an exact 6dp multiple
#: (a fractional weight like 0.5 would manufacture exact .5-ulp rounding
#: ties where Spark HALF_UP and DuckDB round diverge — CLAUDE.md)
RESCORE_QUERIES = {0: "hash table", 1: "vector stream", 2: "merge join"}
RESCORE_WINDOW, RESCORE_QW, RESCORE_RQW = 20, 1.0, 2.0


def q_rescore_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES rescore (query/rescore.py): the top RESCORE_WINDOW primary
    hits re-ranked by a secondary query — combined = qw·p + rqw·s for
    window docs the rescore query matches, qw·p for the rest (the
    secondary term is ABSENT, not zero — Lucene QueryRescorer), docs
    below the window can never enter the page. The oracle replicates
    the window cut, the LEFT join and the combine; a score-all primary,
    a zero-for-missing secondary, or a window-free rescore all
    hash-mismatch."""
    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.rescore import rescore_topk
    import os
    import tempfile

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_packed_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    ))
    pidx = load_packed_index(spark, path)
    qs = [QUERY_STRINGS[q] for q in sorted(QUERY_STRINGS)]
    rqs = [RESCORE_QUERIES[q] for q in sorted(RESCORE_QUERIES)]
    out = rescore_topk(
        pidx, qs, rqs, CFG, k=10, window_size=RESCORE_WINDOW,
        query_weight=RESCORE_QW, rescore_query_weight=RESCORE_RQW,
        score_mode="total", round_dp=6)
    return out.join(pidx.docmap, "doc_id").select(
        "query_id",
        F.col("ext_id").alias("doc_id"),
        "primary", "secondary", "score",
        F.col("rank").cast("long").alias("rank"))


def q_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieve-then-rerank (query/rerank.py — the two-stage ranking
    stack): BM25 top-RERANK_N_CAND window, texts via one pruned join,
    re-scored by the default exact-integer Jaccard scorer
    (floor(1e6·|q∩d|/|q∪d|) over distinct token sets) in Arrow batches,
    top-5 by (rr_score desc, doc_id asc). The pluggable scorer seam is
    where a cross-encoder goes; the oracle replicates the candidate
    window AND the integer Jaccard — window-not-corpus semantics and the
    floor arithmetic both hash-gate."""
    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.rerank import rerank_topk
    import os
    import tempfile

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_packed_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    ))
    pidx = load_packed_index(spark, path)
    qs = [QUERY_STRINGS[q] for q in sorted(QUERY_STRINGS)]
    out = rerank_topk(pidx, docs, qs, CFG, k=5, n_candidates=RERANK_N_CAND)
    return out.select("query_id", "doc_id",
                      F.col("rr_score").cast("long").alias("rr_score"),
                      F.col("rank").cast("long").alias("rank"))


def _hybrid_hits(spark: SparkSession, sf_dir: str) -> tuple:
    """(resolved top-10 hit frame over the shared packed documents index,
    documents attrs) — the per-query result set the facet/histogram/stats
    composition entries aggregate over."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.wand import bm25_topk_packed_batch, resolve_docs

    docs = _documents(spark, sf_dir)
    idx_in = docs.select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_packed_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        idx_in, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    ))
    pidx = load_packed_index(spark, path)
    qs = [QUERY_STRINGS[q] for q in sorted(QUERY_STRINGS)]
    topk = bm25_topk_packed_batch(pidx, qs, CFG, k=10, round_dp=6)
    return resolve_docs(pidx, topk), docs


def q_result_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES histogram aggregation over each query's result set
    (query/aggregations.py): top-10 BM25 hits bucketed by
    floor(n_chars / HIST_INTERVAL) * HIST_INTERVAL — the ES bucket_key
    formula (FLOOR, doc counts once per query, empty buckets unemitted).
    The oracle replicates retrieval AND the bucket arithmetic — a
    truncating (not flooring) bucketer or corpus-not-window aggregation
    mismatches."""
    from searchengine_spark.query.aggregations import histogram_counts

    hits, docs = _hybrid_hits(spark, sf_dir)
    out = histogram_counts(
        hits.select("query_id", F.col("ext_id").alias("doc_id")),
        docs, ["n_chars"], ["doc_id"], interval=HIST_INTERVAL,
    )
    return out.select("query_id", "col", "bucket",
                      F.col("n").cast("long").alias("n"))


def q_result_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES stats aggregation (minus avg — the exact-arithmetic discipline)
    over each query's result set: count/min/max/sum of n_chars across the
    top-10 BM25 hits, integer-exact through the DOUBLE melt."""
    from searchengine_spark.query.aggregations import stats_agg

    hits, docs = _hybrid_hits(spark, sf_dir)
    out = stats_agg(
        hits.select("query_id", F.col("ext_id").alias("doc_id")),
        docs, ["n_chars"], ["doc_id"],
    )
    return out.select("query_id", "col",
                      F.col("n").cast("long").alias("n"),
                      "min", "max", "sum")


def q_result_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES percentiles aggregation over each query's result set
    (query/aggregations.py): EXACT nearest-rank n_chars percentiles of
    the top-10 BM25 hits — the value at 1-based sorted index
    (pct*n + 99) div 100 (pure integer rank arithmetic; never
    interpolated, so Spark and DuckDB land on the same element). The
    oracle replicates retrieval AND the rank arithmetic via
    row_number-vs-computed-index join."""
    from searchengine_spark.query.aggregations import percentiles_agg

    hits, docs = _hybrid_hits(spark, sf_dir)
    out = percentiles_agg(
        hits.select("query_id", F.col("ext_id").alias("doc_id")),
        docs, ["n_chars"], ["doc_id"], percents=(25, 50, 75, 100),
    )
    return out.select("query_id", "col", "pct", "value")


def q_result_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES cardinality aggregation over each query's result set
    (query/aggregations.py): exact distinct lang/source counts across
    the top-10 BM25 hits (NULLs skipped, one partial-aggregable
    exchange — sketching buys nothing on a k-bounded hit window)."""
    from searchengine_spark.query.aggregations import cardinality_agg

    hits, docs = _hybrid_hits(spark, sf_dir)
    out = cardinality_agg(
        hits.select("query_id", F.col("ext_id").alias("doc_id")),
        docs, ["lang", "source"], ["doc_id"],
    )
    return out.select("query_id", "col", "n_distinct")


def q_result_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES range aggregation over each query's result set
    (query/aggregations.py range_agg): top-10 BM25 hits counted into
    EXPLICIT [from, to) n_chars buckets — from inclusive / to exclusive,
    None unbounded, overlapping ranges BOTH count, and every specified
    bucket emits for every query (n=0 rows included; the ES range agg
    always returns all its buckets, unlike histogram's min_doc_count=1).
    Comparisons only — nothing to drift cross-engine. The oracle
    replicates retrieval, the theta containment join, AND the
    empty-bucket restore via a NULL-safe left join."""
    from searchengine_spark.query.aggregations import range_agg

    hits, docs = _hybrid_hits(spark, sf_dir)
    out = range_agg(
        hits.select("query_id", F.col("ext_id").alias("doc_id")),
        docs, ["n_chars"], ["doc_id"], ranges=RANGE_BUCKETS,
    )
    return out.select("query_id", "col", "range_from", "range_to",
                      F.col("n").cast("long").alias("n"))


def q_significant_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES significant_terms over ATTRIBUTE fields
    (query/significant.py significant_attr_values — the keyword-field
    usage): which source values are JLH-over-represented in each
    query's top-10 hits vs the whole-corpus background
    ((fg%-bg%)·(fg%/bg%), positive lift only, min_fg=2, 6dp rank,
    value-asc ties). The oracle replicates retrieval, both rates, and
    the lift — a version using the result set as its own background,
    dropping the min_fg gate, or keeping negative lift
    hash-mismatches."""
    from searchengine_spark.query.significant import significant_attr_values

    hits, docs = _hybrid_hits(spark, sf_dir)
    out = significant_attr_values(
        hits.select("query_id", F.col("ext_id").alias("doc_id")),
        docs, ["source"], ["doc_id"], k=10, min_fg=2,
    )
    return out.select(
        "query_id", "facet", "value",
        F.col("fg_count").cast("long").alias("fg_count"),
        F.col("bg_count").cast("long").alias("bg_count"),
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


def q_result_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES filters aggregation over each query's result set
    (query/aggregations.py filters_agg): named SQL predicate buckets
    counted over the top-10 BM25 hits — every named bucket emits for
    every query, n=0 included (the 'impossible' bucket proves it), and
    NULL predicate rows never count (WHERE semantics). The oracle runs
    the SAME predicate text verbatim."""
    from searchengine_spark.query.aggregations import filters_agg

    hits, docs = _hybrid_hits(spark, sf_dir)
    out = filters_agg(
        hits.select("query_id", F.col("ext_id").alias("doc_id")),
        docs, FILTER_BUCKETS, ["doc_id"],
    )
    return out.select("query_id", "filter_name",
                      F.col("n").cast("long").alias("n"))


def q_result_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES missing aggregation over each query's result set
    (query/aggregations.py missing_agg): per attribute column, how many
    top-10 BM25 hits have NO value — the mirror of every other
    aggregation's NULLs-skip rule. The testdata documents table is
    fully populated, so the load-bearing assertion is the n=0 rows
    ALWAYS emitting (the ES missing bucket is always present) — a
    version that drops empty buckets or inner-joins hash-mismatches."""
    from searchengine_spark.query.aggregations import missing_agg

    hits, docs = _hybrid_hits(spark, sf_dir)
    out = missing_agg(
        hits.select("query_id", F.col("ext_id").alias("doc_id")),
        docs, ["lang", "source"], ["doc_id"],
    )
    return out.select("query_id", "col",
                      F.col("n").cast("long").alias("n"))


def q_result_rare_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES rare_terms aggregation over each query's result set
    (query/aggregations.py rare_terms_agg): the long-tail mirror of the
    terms/facet aggregation — source values matched by <= 2 of the
    query's top-10 BM25 hits, rarest first. A terms-agg (count-desc,
    top-k-cut) replica mismatches on both the filter and the order."""
    from searchengine_spark.query.aggregations import rare_terms_agg

    hits, docs = _hybrid_hits(spark, sf_dir)
    out = rare_terms_agg(
        hits.select("query_id", F.col("ext_id").alias("doc_id")),
        docs, ["source"], ["doc_id"], max_doc_count=2,
    )
    return out.select("query_id", "facet", "value",
                      F.col("n").cast("long").alias("n"))


def q_result_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES adjacency_matrix aggregation over each query's result set
    (query/aggregations.py adjacency_matrix_agg): the FILTER_BUCKETS
    singletons plus every pairwise intersection count, non-empty buckets
    only (the contract divergence from filters_agg on the same spec:
    'impossible' rows appear THERE as n=0 and here not at all), key
    pairs name-sorted."""
    from searchengine_spark.query.aggregations import adjacency_matrix_agg

    hits, docs = _hybrid_hits(spark, sf_dir)
    out = adjacency_matrix_agg(
        hits.select("query_id", F.col("ext_id").alias("doc_id")),
        docs, FILTER_BUCKETS, ["doc_id"],
    )
    return out.select("query_id", "key_a", "key_b",
                      F.col("n").cast("long").alias("n"))


COMPOSITE_AFTER = ("src1", "en")  # page-2 cursor (ES after_key)


def q_result_extended_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES extended_stats in the exact-arithmetic discipline
    (query/aggregations.py extended_stats_agg): BIGINT moments (n, sum,
    sum_sq) over each query's top-10 hits' n_chars plus the variance
    NUMERATOR n*sum_sq - sum^2 — population variance/std are client-side
    floats (the stats_agg avg policy); values floor to BIGINT first, so
    nothing can drift cross-engine."""
    from searchengine_spark.query.aggregations import extended_stats_agg

    hits, docs = _hybrid_hits(spark, sf_dir)
    return extended_stats_agg(
        hits.select("query_id", F.col("ext_id").alias("doc_id")),
        docs, ["n_chars"], ["doc_id"],
    )


def q_result_matrix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES matrix_stats covariance analog (query/aggregations.py
    matrix_stats_agg): per unordered column pair over each query's hits,
    the exact-integer covariance NUMERATOR n*sum_xy - sum_x*sum_y on
    pairwise-complete rows (both values non-NULL — the ES contract);
    correlation/covariance derive client-side. Pair here: (doc_id,
    n_chars) — semantically dull, arithmetically strict."""
    from searchengine_spark.query.aggregations import matrix_stats_agg

    hits, docs = _hybrid_hits(spark, sf_dir)
    return matrix_stats_agg(
        hits.select("query_id", F.col("ext_id").alias("doc_id")),
        docs, ["doc_id", "n_chars"], ["doc_id"],
    )

def q_result_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES weighted_avg aggregation in the exact-arithmetic discipline
    (query/aggregations.py weighted_avg_agg): over each query's top-10
    hits, the EXACT numerator/denominator pair of the n_chars average
    weighted by (doc_id % 7 + 1) — wsum = Σ value·weight and wtot = Σ
    weight as DOUBLE sums of integer-valued products (exact to 2^53,
    order-independent), so the float ratio derives client-side and
    nothing drifts cross-engine. NULL values/weights skip the pair (the
    ES default without weight.missing) — pytest-gated; the testdata
    column is fully populated."""
    from searchengine_spark.query.aggregations import weighted_avg_agg

    hits, docs = _hybrid_hits(spark, sf_dir)
    attrs = docs.withColumn(
        "w", (F.col("doc_id") % 7 + 1).cast("double"))
    return weighted_avg_agg(
        hits.select("query_id", F.col("ext_id").alias("doc_id")),
        attrs, "n_chars", "w", ["doc_id"],
    )


def q_result_top_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES top_metrics aggregation (query/aggregations.py
    top_metrics_agg): the lang/source values carried by each query's 3
    largest-n_chars hits among its top-10, 1-based pos, ties on the sort
    value broken by doc_id ascending (ES leaves per-shard tie order
    unspecified — unacceptable under a hash gate, so the tiebreak is
    part of this engine's contract). NULL sort values skip the hit; NULL
    metrics pass through. The oracle replicates retrieval AND the
    windowed cut."""
    from searchengine_spark.query.aggregations import top_metrics_agg

    hits, docs = _hybrid_hits(spark, sf_dir)
    return top_metrics_agg(
        hits.select("query_id", F.col("ext_id").alias("doc_id")),
        docs, "n_chars", ["lang", "source"], ["doc_id"], size=3,
    )


PR_PROBES = (150.0, 300.0, 450.0)  # percentile_ranks probe values


def q_result_percentile_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES percentile_ranks aggregation (query/aggregations.py
    percentile_ranks_agg) — the inverse of percentiles: for each probe
    value, the EXACT count pair (n_le = #hits' n_chars <= probe, n =
    #observed) over each query's top-10 hits; the rank percent is the
    client-side 100*n_le/n (ES t-digest-interpolates — over a bounded
    window the exact empirical CDF is strictly better and nothing can
    drift cross-engine: comparisons and counts only)."""
    from searchengine_spark.query.aggregations import percentile_ranks_agg

    hits, docs = _hybrid_hits(spark, sf_dir)
    return percentile_ranks_agg(
        hits.select("query_id", F.col("ext_id").alias("doc_id")),
        docs, ["n_chars"], ["doc_id"], values=PR_PROBES,
    )


def q_result_boxplot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES boxplot aggregation (query/aggregations.py boxplot_agg):
    five-number summary of n_chars over each query's top-10 hits,
    quartiles by the EXACT nearest-rank rule ((p*n+99) div 100 — the
    percentiles_agg arithmetic; ES's t-digest interpolates, but a
    bounded hit window wants an actual observed element so Spark and
    DuckDB land on the same value bit-for-bit)."""
    from searchengine_spark.query.aggregations import boxplot_agg

    hits, docs = _hybrid_hits(spark, sf_dir)
    return boxplot_agg(
        hits.select("query_id", F.col("ext_id").alias("doc_id")),
        docs, ["n_chars"], ["doc_id"],
    )


def q_result_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES median_absolute_deviation aggregation (query/aggregations.py
    median_absolute_deviation_agg): median(|x - median(x)|) of n_chars
    over each query's top-10 hits, BOTH medians nearest-rank exact —
    deviations of integer-valued doubles are exact, so the whole row
    reproduces bit-for-bit (ES approximates via t-digest)."""
    from searchengine_spark.query.aggregations import (
        median_absolute_deviation_agg,
    )

    hits, docs = _hybrid_hits(spark, sf_dir)
    return median_absolute_deviation_agg(
        hits.select("query_id", F.col("ext_id").alias("doc_id")),
        docs, ["n_chars"], ["doc_id"],
    )


def q_result_multi_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES multi_terms aggregation (query/aggregations.py
    multi_terms_agg): (source, lang) value-TUPLE buckets over each
    query's top-10 hits, count-descending with the top-3 cut — the
    composite-key sibling of the terms/facet aggregation. A hit with a
    NULL in either source column drops entirely (the ES contract); ties
    on the count break by the value tuple ascending (ES leaves tie
    order to shard luck — the tiebreak is this engine's contract so the
    row set hash-gates). The oracle replicates retrieval, the NULL
    drop, AND the windowed cut."""
    from searchengine_spark.query.aggregations import multi_terms_agg

    hits, docs = _hybrid_hits(spark, sf_dir)
    return multi_terms_agg(
        hits.select("query_id", F.col("ext_id").alias("doc_id")),
        docs, ["source", "lang"], ["doc_id"], size=3,
    )


T_TEST_A, T_TEST_B = "lang = 'en'", "lang <> 'en'"  # t_test populations
ADH_EPOCH0, ADH_STRIDE = 1767225600, 997  # synthetic doc timestamps


def q_result_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES t_test aggregation, unpaired form (query/aggregations.py
    t_test_agg): per query, the EXACT BIGINT moments (n, sum, sum_sq) of
    n_chars over two predicate populations of the top-10 hits (English
    vs non-English) — Welch's t derives client-side from the moments
    (emitting the float t would put a libm sqrt in an exact row). The
    oracle runs the SAME predicate text verbatim; NULL values skip."""
    from searchengine_spark.query.aggregations import t_test_agg

    hits, docs = _hybrid_hits(spark, sf_dir)
    return t_test_agg(
        hits.select("query_id", F.col("ext_id").alias("doc_id")),
        docs, "n_chars", T_TEST_A, T_TEST_B, ["doc_id"],
    )


def q_result_string_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES string_stats aggregation (query/aggregations.py
    string_stats_agg): exact character-length stats (n, len_min,
    len_max, len_sum; avg = len_sum/n client-side) of lang/source over
    each query's top-10 hits, plus ES's Shannon entropy as the EXACT
    integer numerator entropy_num = Σ_ch c*floor(1e6*ln c) over the
    bucket's character distribution (the ccnet micro-nat protocol;
    H_bits = (ln(len_sum) - entropy_num/(1e6*len_sum))/ln 2 derives
    client-side). Lengths are code points — Spark length and DuckDB
    length agree on VARCHAR."""
    from searchengine_spark.query.aggregations import string_stats_agg

    hits, docs = _hybrid_hits(spark, sf_dir)
    return string_stats_agg(
        hits.select("query_id", F.col("ext_id").alias("doc_id")),
        docs, ["lang", "source"], ["doc_id"],
    )


def q_result_auto_date_histogram(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """ES auto_date_histogram (query/aggregations.py
    auto_date_histogram_counts): per query, the SMALLEST fixed-span
    ladder interval whose bucket span fits target_buckets=10, then the
    ordinary integer-div epoch bucketing at that rung — the interval
    can differ per query, exactly ES's auto-scaling. The documents
    table has no timestamp, so the entry derives a deterministic one
    (epoch = ADH_EPOCH0 + doc_id*ADH_STRIDE — integral seconds, so the
    timestamp round-trip is exact); the oracle replicates the epoch
    formula, the ladder pick, AND the bucketing in pure integer SQL."""
    from searchengine_spark.query.aggregations import (
        auto_date_histogram_counts,
    )

    hits, docs = _hybrid_hits(spark, sf_dir)
    attrs = docs.withColumn(
        "ts", F.timestamp_seconds(
            F.lit(ADH_EPOCH0) + F.col("doc_id") * ADH_STRIDE))
    return auto_date_histogram_counts(
        hits.select("query_id", F.col("ext_id").alias("doc_id")),
        attrs, ["ts"], ["doc_id"], target_buckets=10,
    )


def q_result_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES sampler aggregation (query/aggregations.py plain_sample —
    the un-diversified sibling): each query's aggregation input cut to
    its 3 best-ranked hits (rank asc, doc_id tiebreak); the oracle is
    the retrieval CTE with the tighter rank cut."""
    from searchengine_spark.query.aggregations import plain_sample

    hits, _docs = _hybrid_hits(spark, sf_dir)
    kept = plain_sample(
        hits.select("query_id", F.col("ext_id").alias("doc_id"), "rank"),
        ["doc_id"], size=3,
    )
    return kept.select("query_id", "doc_id",
                       F.col("rank").cast("long").alias("rank"))


def q_result_diversified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES diversified_sampler de-duplication step
    (query/aggregations.py diversified_sample): each query's top-10
    hits capped at max_per_value=1 per source value — the BEST-RANKED
    hit per value survives (retrieval order, deterministic since rank
    is unique per query); hits with a NULL field are never de-duped
    (the ES missing-field rule — the fully-populated testdata makes
    that branch pytest-gated). The oracle replicates retrieval AND the
    per-value window cut."""
    from searchengine_spark.query.aggregations import diversified_sample

    hits, docs = _hybrid_hits(spark, sf_dir)
    kept = diversified_sample(
        hits.select("query_id", F.col("ext_id").alias("doc_id"), "rank"),
        docs, "source", ["doc_id"], max_per_value=1,
    )
    return kept.select("query_id", "doc_id",
                       F.col("rank").cast("long").alias("rank"))


def q_rank_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES _rank_eval API analog (query/eval.py rank_eval): exact count
    numerators of the rated-retrieval metrics over each query's top-5
    hits — precision@5 = n_rel_ret/n_returned, recall@5 =
    n_rel_ret/n_rel_total, MRR = 1/first_rel_rank, all client-side
    floats over exact BIGINTs. Ratings are synthesized deterministically
    (every doc_id % 3 == 0 rated, grade = 1 + doc_id % 2; relevance
    threshold 2, the ES relevant_rating_threshold) and shared across
    queries via a bounded cross join — the oracle replicates retrieval,
    the rating rule, the threshold, AND the rank-k cut. Distinct from
    the reference-quirk EvalStats (src/efficiency.py twin): this is the
    distributed many-query form."""
    from searchengine_spark.query.eval import rank_eval

    hits, docs = _hybrid_hits(spark, sf_dir)
    results = hits.select(
        "query_id", F.col("ext_id").alias("doc_id"), "rank")
    rated = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", (1 + F.col("doc_id") % 2).cast("int").alias("grade"))
    ratings = results.select("query_id").distinct().crossJoin(rated)
    return rank_eval(results, ratings, ["doc_id"], k=5,
                     relevant_grade=2)


# sloppy-phrase fixtures: 2-term phrases at slop 1 + one 3-term at slop 2
SLOP_PHRASES_2 = ["hash scan", "table join", "stream batch"]
SLOP_PHRASE_3 = "fast table scan"
PHRASE_SLOP_2 = 1
PHRASE_SLOP_3 = 2


def q_phrase_slop_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sloppy phrase retrieval (query/phrase.py slop= — ES match_phrase
    slop restricted to in-order matches, Lucene span_near
    in_order=true): a doc matches from start p0 iff strictly-increasing
    positions exist for every slot with span <= n-1+slop; the greedy
    assignment (each slot takes the smallest position after the
    previous) provably minimizes the span, so the oracle replicates it
    as a chain of min-next-position joins — one per slot — over the
    positional CTE, with the dense-docID mapping inlined. Three 2-term
    phrases at slop=1 (qids 0-2) plus one 3-term phrase at slop=2
    (qid 3), all-integer output."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.phrase import phrase_topk_packed_batch

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_pospacked_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256, positional=True,
    ))
    pidx = load_packed_index(spark, path)
    two = phrase_topk_packed_batch(pidx, SLOP_PHRASES_2, CFG, k=10,
                                   slop=PHRASE_SLOP_2)
    three = phrase_topk_packed_batch(pidx, [SLOP_PHRASE_3], CFG, k=10,
                                     slop=PHRASE_SLOP_3)
    three = three.select(
        (F.col("query_id") + F.lit(len(SLOP_PHRASES_2))).cast("int")
        .alias("query_id"),
        "doc_id", "n_occurrences", "first_pos", "rank",
    )
    return two.unionByName(three)


def q_result_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES composite aggregation over each query's result set
    (query/aggregations.py composite_agg — the PAGINATED bucket
    enumerator): buckets are distinct (source, lang) tuples among the
    top-10 BM25 hits in lexicographic tuple order, page = the first 3
    buckets strictly after the cursor, ranks page-relative. Two pages in
    one frame: page 1 (no cursor) and page 2 pinned at COMPOSITE_AFTER —
    the oracle replicates retrieval, the NULL-source drop
    (missing_bucket=false), the lexicographic strictly-greater resume,
    and the per-query rank<=3 window. An engine that compared the after
    key per-column instead of lexicographically, emitted absolute ranks,
    or let NULL tuples bucket would hash-mismatch."""
    from searchengine_spark.query.aggregations import composite_agg

    hits, docs = _hybrid_hits(spark, sf_dir)
    res = hits.select("query_id", F.col("ext_id").alias("doc_id"))
    pages = []
    for page, after in ((1, None), (2, COMPOSITE_AFTER)):
        pages.append(
            composite_agg(res, docs, ["source", "lang"], ["doc_id"],
                          size=3, after=after)
            .select(F.lit(page).cast("int").alias("page"), "query_id",
                    "source", "lang", "n", "bucket_rank")
        )
    return pages[0].unionByName(pages[1])


def q_hll_token_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count sketch state (textops/sketches.py;
    Flajolet et al. 2007) over the corpus token stream — p=12 (m=4096):
    bucket = first 3 md5 hex chars, register = max first-1-bit position
    of the next 48 bits, pure integer/string arithmetic so Spark and
    DuckDB produce the IDENTICAL register rows (the float estimate is
    deliberately driver-side Python, never hash-gated — see the module
    docstring). One map-side-combinable groupBy: the 100-TB distinct
    count without shuffling the distinct set."""
    from searchengine_spark.textops.sketches import hll_registers
    from searchengine_spark.tokenizer import tokens_column

    docs = _documents(spark, sf_dir)
    toks = docs.select(
        tokens_column(F.col("text"), CFG).alias("tokens")
    ).select(F.explode("tokens").alias("term"))
    return hll_registers(toks, "term", p=12)


DSIR_B = 64
DSIR_TARGET_SRC = ("src1", "src2")


def q_dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (textops/dsir.py; Xie et al. 2023,
    arXiv:2302.03169): hashed unigram+bigram bag-of-words models
    (16-bit md5 bucket hash mod 64) for a TARGET slice (source in
    src1/src2) and the RAW corpus, add-one smoothed, each log
    floor-quantized ONCE to integer micro-nats — every doc's weight is
    then exact BIGINT arithmetic (Σ c·(lpt−lpr) − n_feat·(Ct−Cr)).
    The oracle replays tokenization, the bigram stream, the hex-digit
    bucket hash, both models and the weight formula verbatim."""
    from searchengine_spark.textops import dsir_weights, hashed_feature_counts

    docs = _documents(spark, sf_dir).select("doc_id", "text", "source")
    target = docs.filter(F.col("source").isin(*DSIR_TARGET_SRC))
    tc = hashed_feature_counts(target, CFG, DSIR_B)
    rc = hashed_feature_counts(docs, CFG, DSIR_B)
    out = dsir_weights(docs, tc, rc, CFG, n_buckets=DSIR_B)
    return out.select("doc_id", "n_features", "weight_micro")


def q_ccnet_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity buckets (textops/perplexity.py; Wenzek et
    al. 2020): add-one-smoothed unigram cross-entropy in EXACT integer
    micro-nats — one floor-quantized ln per vocabulary term, BIGINT sums
    and integer division after (summation-order-free, so Spark partial
    aggregates equal DuckDB's serial sum bit-for-bit) — then rank-exact
    head/middle/tail thirds by (ce, doc_id). Self-perplexity here (LM
    trained on the scored corpus — the API takes a separate reference
    corpus); the oracle replicates training counts, the quantized lp
    table, the smoothing arithmetic AND the integer bucket cuts."""
    from searchengine_spark.textops.perplexity import (
        doc_cross_entropy,
        lm_totals,
        perplexity_buckets,
        train_unigram_lm,
    )

    docs = _documents(spark, sf_dir).select("doc_id", "text")
    lm = train_unigram_lm(docs, CFG)
    n, v = lm_totals(lm)
    scored = doc_cross_entropy(docs, lm, n, v, CFG)
    out = perplexity_buckets(scored)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("ce_micro").cast("long").alias("ce_micro"),
        "bucket",
    )


def q_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene MoreLikeThis analog (query/feedback.py): a document's top-m
    terms by (1+ln tf)·idf become an unweighted BM25 query; the source doc
    is excluded and ranks renumbered. query_id i == MLT_SOURCES[i]."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.feedback import more_like_this_packed
    from searchengine_spark.query.wand import resolve_docs

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_packed_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    ))
    pidx = load_packed_index(spark, path)
    topk = more_like_this_packed(pidx, MLT_SOURCES, k=10, m=MLT_M, round_dp=6)
    out = resolve_docs(pidx, topk)
    return out.select(
        "query_id",
        F.col("ext_id").alias("doc_id"),
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


def q_bm25_and_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive (AND-semantics) ranked retrieval: BM25 top-10 over only
    the docs containing EVERY query term (the reference's AND mode is
    unranked; this is the ranked version, wand.py conjunctive=True —
    per-chunk coverage counts inside the WAND scorer, pruning unchanged)."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.wand import bm25_topk_packed_batch, resolve_docs

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_packed_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    ))
    pidx = load_packed_index(spark, path)
    qs = [QUERY_STRINGS[q] for q in sorted(QUERY_STRINGS)]
    topk = bm25_topk_packed_batch(
        pidx, qs, CFG, k=10, round_dp=6, conjunctive=True
    )
    out = resolve_docs(pidx, topk)
    return out.select(
        "query_id",
        F.col("ext_id").alias("doc_id"),
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


COLLOC_MIN_COUNT, COLLOC_K = 5, 50


def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram collocations (textops/collocations.py, Church & Hanks 1990):
    adjacent-pair counts + PMI = ln(c·N / (c1·c2)) over the same
    tokenization as the index, min-count floored, (count desc, w1, w2)
    deterministic ordering."""
    from searchengine_spark.textops.collocations import bigram_collocations
    from searchengine_spark.tokenizer import tokens_column

    toks = _documents(spark, sf_dir).select(
        tokens_column(F.col("text"), CFG).alias("tokens")
    )
    return bigram_collocations(toks, min_count=COLLOC_MIN_COUNT, k=COLLOC_K)


SUGGEST_PREFIX = "st"


def q_suggest_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary auto-complete (wand.suggest_terms): terms with the
    prefix ranked by live df desc / term asc, read from the term_stats
    sidecar only (no postings)."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.wand import suggest_terms

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_packed_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    ))
    return suggest_terms(load_packed_index(spark, path), SUGGEST_PREFIX, k=10)


PREFIX_QUERY = "s"  # expands to scan/slow/small/sort/spark/stream/... vocab


def q_prefix_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wildcard term retrieval ('s*'): sorted-dictionary prefix expansion
    done by the parquet scan (pushed StringStartsWith), OR-retrieval with
    per-doc expansion count + summed tf — all-integer output."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.wand import prefix_search_packed

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    # same build config as q_packed_wand_topk -> share its index dir
    path = os.path.join(tempfile.gettempdir(), f"se_entry_packed_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    ))
    pidx = load_packed_index(spark, path)
    hits = prefix_search_packed(pidx, PREFIX_QUERY)
    # internal docIDs == ext_id here (docs arrive doc_id-ordered), but
    # resolve through the docmap anyway (the contract the reference has)
    return (
        hits.join(pidx.docmap, "doc_id")
        .select(F.col("ext_id").alias("doc_id"), "n_terms", "total_tf")
    )


DELETE_PRED = "ext_id % 7 = 3"  # oracle twin: documents.doc_id % 7 = 3


def _deleted_index(spark: SparkSession, sf_dir: str, compact: bool):
    """Build packed -> tombstone ~1/7 of the corpus [-> compact]. The
    delete contract (indexing/deletes.py): idf recomputed at the live N by
    the exact delta merge, avgdl and stored dlq frozen at build time."""
    import os
    import tempfile

    from searchengine_spark.indexing.compact import compact_index
    from searchengine_spark.indexing.deletes import delete_docs
    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_del_{tag}_{int(compact)}")
    build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    )
    delete_docs(spark, path, where=DELETE_PRED)
    if compact:
        compact_index(spark, path)
    return load_packed_index(spark, path)


def _deleted_search(spark: SparkSession, sf_dir: str, compact: bool) -> DataFrame:
    from searchengine_spark.query.wand import bm25_topk_packed_batch, resolve_docs

    pidx = _deleted_index(spark, sf_dir, compact)
    qs = [QUERY_STRINGS[q] for q in sorted(QUERY_STRINGS)]
    topk = bm25_topk_packed_batch(pidx, qs, CFG, k=10, round_dp=6)
    out = resolve_docs(pidx, topk)
    return out.select(
        "query_id",
        F.col("ext_id").alias("doc_id"),
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


def q_delete_then_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone serving: WAND top-10 with live-doc decode masks after
    delete_docs — scores must equal BM25 over the remaining corpus with
    frozen avgdl and idf = round(ln(N_live/df_live), 3) (the oracle
    computes exactly that from the raw corpus, never seeing tombstones)."""
    return _deleted_search(spark, sf_dir, compact=False)


def q_compacted_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same query set after compact_index physically folded the tombstones
    (decode -> drop -> re-encode through the build's own encoder): results
    must STILL equal the oracle — compaction changes bytes, not answers."""
    return _deleted_search(spark, sf_dir, compact=True)


def q_snapshot_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel (indexing/snapshots.py): after delete_docs
    commits, ``snapshots/0.json`` pins the pre-delete state — searching it
    must equal the FULL-corpus packed search bit-for-bit (the
    packed_wand_topk oracle verbatim) even though the live manifest
    already masks the tombstoned fifth of the corpus. Built fresh per
    call (the delete mutates the index)."""
    import os
    import tempfile

    from searchengine_spark.indexing.deletes import delete_docs
    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.wand import bm25_topk_packed_batch, resolve_docs

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_snap_{tag}")
    build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    )
    delete_docs(spark, path, where=DELETE_PRED)
    pidx = load_packed_index(spark, path, snapshot=0)  # pre-delete state
    qs = [QUERY_STRINGS[q] for q in sorted(QUERY_STRINGS)]
    topk = bm25_topk_packed_batch(pidx, qs, CFG, k=10, round_dp=6)
    out = resolve_docs(pidx, topk)
    return out.select(
        "query_id",
        F.col("ext_id").alias("doc_id"),
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


def q_boolean_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """payload='boolean' serving (the ~3x-smaller doc-gaps-only index,
    codec.encode_doc_groups/decode_docs): OR retrieval over the whole
    query batch — (query_id, doc_id, n_terms) must equal plain SQL
    counting each doc's matched query terms. Gates the gap-only codec +
    packed boolean reader end-to-end (previously pytest-only)."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.wand import boolean_search_packed

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_boolpay_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256, payload="boolean",
    ))
    pidx = load_packed_index(spark, path)
    qs = [QUERY_STRINGS[q] for q in sorted(QUERY_STRINGS)]
    hits = boolean_search_packed(pidx, qs, CFG, op="or")
    return hits.join(pidx.docmap, "doc_id").select(
        "query_id",
        F.col("ext_id").alias("doc_id"),
        F.col("n_terms").cast("long").alias("n_terms"),
    )


APPEND_PRED = "ext_id % 5 = 4"  # ~1/5 of the corpus arrives as the epoch


def q_append_then_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-append serving (streaming/incremental.py): build the base
    index WITHOUT the docs matching APPEND_PRED, append them as one epoch
    (append_batch — the foreachBatch sink's unit), search the grown index.
    The incremental contract the oracle replicates from the raw corpus:
    avgdl FROZEN at the base build (appended dlq computed against it),
    term_stats EXACT at the full N via the df delta merge
    (idf = round(ln(N_total/df_total), 3)). Built fresh per call — the
    append MUTATES the index, like the delete/compact entries."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.wand import bm25_topk_packed_batch, resolve_docs
    from searchengine_spark.streaming.incremental import append_batch

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_app_{tag}")
    build_packed_index(
        docs.filter(~F.expr(APPEND_PRED)), CFG, path,
        params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    )
    append_batch(docs.filter(F.expr(APPEND_PRED)), path, CFG, batch_id=0)
    pidx = load_packed_index(spark, path)
    qs = [QUERY_STRINGS[q] for q in sorted(QUERY_STRINGS)]
    topk = bm25_topk_packed_batch(pidx, qs, CFG, k=10, round_dp=6)
    out = resolve_docs(pidx, topk)
    return out.select(
        "query_id",
        F.col("ext_id").alias("doc_id"),
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


def q_proximity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6: BM25_OPTIMIZED serving from the packed POSITIONAL index — the
    proximity-boost ranker family's driver gate (reference
    bm25_positional.py:26-103). The oracle replicates the full boost in
    SQL: per (ordered query pair, doc, p1) best-p2 aux with the 0 floor,
    -log10(d+1)+log10(15) forward / 0.8-damped backward, log10(Σ) doc
    boost, 0.01·boost/log2((dl_norm-min)/(max-min)+1) — over the same
    positional postings the `positional_index` entry hash-gates."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.proximity import proximity_topk_packed_batch
    from searchengine_spark.query.wand import resolve_docs

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_pospacked_{tag}")
    build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256, positional=True,
    )
    pidx = load_packed_index(spark, path)
    qs = [QUERY_STRINGS[q] for q in sorted(QUERY_STRINGS)]
    topk = proximity_topk_packed_batch(pidx, qs, CFG, k=10, round_dp=6)
    out = resolve_docs(pidx, topk)
    return out.select(
        "query_id",
        F.col("ext_id").alias("doc_id"),
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


def q_proximity_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6: TF_IDF_OPTIMIZED from the packed positional index with the
    lnc-norm sidecar (reference td_idf_positional.py:31-130): stored-3dp
    doc weights x present-term-normalized ltc query side, plus 0.1·boost
    (no dl normalization on this variant)."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.proximity import proximity_topk_packed_batch

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_postfidf_{tag}")
    build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256, positional=True,
        tfidf_sidecar=True,
    )
    pidx = load_packed_index(spark, path)
    topk = proximity_topk_packed_batch(
        pidx, [QUERY_STRINGS[0]], CFG, k=10, mode="tfidf", round_dp=6
    )
    docmap = pidx.docmap
    return topk.join(docmap, "doc_id").select(
        F.col("ext_id").alias("doc_id"),
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


TRANSCRIPTS_N_CONV = 60
TRANSCRIPTS_QUERIES = ["greatest rock album", "house party songs"]


def _transcripts_cfg() -> TokenizerConfig:
    return TokenizerConfig(
        min_token_length=3,
        stop_words=TokenizerConfig.load_stop_words(STOP_WORDS_PATH),
    )


def q_tfidf_packed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tfidf-PAYLOAD serving pipeline, oracle-gated end-to-end: packed
    build with stored-3dp weights embedded in the postings (the reference's
    'doc:freq/w' format) -> joinless decode scoring -> rounded-rank top-10.
    The oracle computes the same stored-weight contract in plain SQL over
    the raw corpus — the compressed weight payload must round-trip it."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.proximity import tfidf_topk_packed_batch

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_tfidfpay_{tag}")
    build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256, payload="tfidf",
    )
    pidx = load_packed_index(spark, path)
    topk = tfidf_topk_packed_batch(
        pidx, [QUERY_STRINGS[0]], CFG, k=10, round_dp=6
    )
    docmap = pidx.docmap
    return (
        topk.join(docmap, "doc_id")
        .select(
            F.col("ext_id").alias("doc_id"),
            "score",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def q_tfidf_packed_bnc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMART doc-side schema generalization (round-3): packed TF-IDF
    serving under bnc.ltc — binary doc tf, cosine norm from the
    multi-letter doc_norms sidecar's nrm_b column (sqrt #distinct terms).
    The oracle replicates round(1/sqrt(n_terms_d), 3) stored weights in
    plain SQL; exact binary 3dp ties (1/sqrt(256)=0.0625) round identically
    in Spark (BigDecimal HALF_UP) and DuckDB (half away from zero), and the
    sf corpus tops out far below the first tie-prone term count."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.proximity import tfidf_topk_packed_batch

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_bnc_{tag}")
    build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256, tfidf_sidecar=True,
    )
    pidx = load_packed_index(spark, path)
    topk = tfidf_topk_packed_batch(
        pidx, [QUERY_STRINGS[0]], CFG, k=10, schema="bnc.ltc", round_dp=6
    )
    docmap = pidx.docmap
    return (
        topk.join(docmap, "doc_id")
        .select(
            F.col("ext_id").alias("doc_id"),
            "score",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def q_transcripts_wand_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end packed-index path on the NORTH-RULE INPUT SHAPE (synthetic
    multi-turn transcripts): generate -> packed build (resume-capable) ->
    block-max WAND top-k (round_dp=6 cross-engine ranking) -> docmap
    resolve. The DuckDB oracle inlines the seed-pure corpus as VALUES and
    replicates tokenizer (min_len 3 + reference stop words), dense docIDs,
    and the full BM25 contract in SQL — the one driver entry that
    hash-gates the complete production pipeline on the transcripts schema."""
    import os
    import tempfile

    from searchengine_spark.fixtures.transcripts import transcripts_df
    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.wand import bm25_topk_packed_batch, resolve_docs

    cfg = _transcripts_cfg()
    path = os.path.join(tempfile.gettempdir(), "se_spark_entry_idx")
    corpus = transcripts_df(spark, n_conv=TRANSCRIPTS_N_CONV, n_partitions=8)
    build_packed_index(corpus, cfg, path, chunk_docs=256)
    pidx = load_packed_index(spark, path)
    topk = bm25_topk_packed_batch(
        pidx, TRANSCRIPTS_QUERIES, cfg, k=10, round_dp=6
    )
    out = resolve_docs(pidx, topk)
    return out.select(
        "query_id", "doc_id", "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        "score", F.col("rank").cast("long").alias("rank"),
    )


def q_collapse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field collapse (ES collapse; query/collapse.py): top-5
    CONVERSATIONS per query over the transcripts fixture — group score =
    max turn score (6dp-rounded), representative = smallest doc_id among
    the max achievers, groups ranked (score desc, rep doc asc). Runs the
    score-ALL WAND surface (no top-k cut before the group max — the cut
    would drop groups), then a map-side-combinable max(struct) per
    (query, conv_id). The oracle replicates the whole chain in SQL:
    corpus VALUES -> tokenize -> BM25 -> per-conv argmax -> group
    ranking."""
    import os
    import tempfile

    from searchengine_spark.fixtures.transcripts import transcripts_df
    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.collapse import collapse_topk_packed

    cfg = _transcripts_cfg()
    path = os.path.join(tempfile.gettempdir(), "se_spark_entry_collapse_idx")
    corpus = transcripts_df(spark, n_conv=TRANSCRIPTS_N_CONV, n_partitions=8)
    build_packed_index(corpus, cfg, path, chunk_docs=256)
    pidx = load_packed_index(spark, path)
    out = collapse_topk_packed(pidx, TRANSCRIPTS_QUERIES, cfg, k=5,
                               round_dp=6)
    return out.select(
        "query_id", "conv_id", "doc_id", "score",
        F.col("rank").cast("long").alias("rank"),
    )


def q_collapse_inner_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse with inner_hits (ES collapse.inner_hits;
    query/collapse.py collapse_inner_hits_packed): each of the query's
    top-5 conversations carries its best 3 TURNS (score desc, doc_id
    asc) — group order/representatives identical to plain collapse
    (the hit_rank=1 rows), within-group hits from the same score-all
    pass (a second window over the matched set, never a re-retrieval).
    The oracle extends the collapse chain with the inner window — a
    version re-ranking groups by something other than their best hit,
    or windowing only the top-k-by-score docs, hash-mismatches."""
    import os
    import tempfile

    from searchengine_spark.fixtures.transcripts import transcripts_df
    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.collapse import collapse_inner_hits_packed

    cfg = _transcripts_cfg()
    path = os.path.join(tempfile.gettempdir(), "se_spark_entry_collapse_idx")
    corpus = transcripts_df(spark, n_conv=TRANSCRIPTS_N_CONV, n_partitions=8)
    build_packed_index(corpus, cfg, path, chunk_docs=256)
    pidx = load_packed_index(spark, path)
    out = collapse_inner_hits_packed(pidx, TRANSCRIPTS_QUERIES, cfg, k=5,
                                     n_inner=3, round_dp=6)
    return out.select(
        "query_id", "conv_id",
        F.col("group_rank").cast("long").alias("group_rank"),
        "doc_id", "score",
        F.col("hit_rank").cast("long").alias("hit_rank"),
    )


def _dh_buckets(spark: SparkSession) -> DataFrame:
    """Shared transcripts date_histogram bucket frame — top-10 BM25 hits
    per query, ts bucketed by floor(epoch/600)*600 (the fixture's ts is
    2026-01-01T00:00:00Z + doc_id seconds, fixtures/transcripts.py:139)
    — the first-stage aggregation the date_histogram entry emits and the
    pipeline-aggregation entries build on."""
    import os
    import tempfile

    from searchengine_spark.fixtures.transcripts import transcripts_df
    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.aggregations import date_histogram_counts
    from searchengine_spark.query.wand import bm25_topk_packed_batch, resolve_docs

    cfg = _transcripts_cfg()
    corpus = transcripts_df(spark, n_conv=TRANSCRIPTS_N_CONV, n_partitions=8)
    path = os.path.join(tempfile.gettempdir(), "se_spark_entry_facets")
    _build_packed_once(path, lambda: build_packed_index(
        corpus, cfg, path, chunk_docs=256))
    pidx = load_packed_index(spark, path)
    hits = resolve_docs(pidx, bm25_topk_packed_batch(
        pidx, TRANSCRIPTS_QUERIES, cfg, k=10, round_dp=6))
    return date_histogram_counts(
        hits, corpus, ["ts"], ["conv_id", "turn_idx"], interval=600)


def q_result_date_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES date_histogram over each query's result set
    (query/aggregations.py): top-10 transcripts BM25 hits bucketed by
    floor(epoch_seconds / 600) * 600 — fixed_interval semantics, BIGINT
    epoch buckets, integer arithmetic end to end. The fixture's ts is
    2026-01-01T00:00:00Z + doc_id seconds (fixtures/transcripts.py:139
    — one second per dense docID), so the oracle derives the epoch from
    doc_id and replicates retrieval AND the bucket arithmetic."""
    out = _dh_buckets(spark)
    return out.select("query_id", "col", "bucket_epoch", "n")


DH_CAL_TYPES = ("click", "error", "purchase")
DH_CAL_UNITS = ("week", "month", "quarter", "year")


def q_result_date_histogram_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES date_histogram with CALENDAR intervals (query/aggregations.py):
    week/month/quarter/year buckets via date_trunc — exact civil-calendar
    boundaries, not fixed spans (week truncates to the ISO Monday in both
    engines; the month boundary is a real calendar edge). Result sets =
    the events table filtered per event_type (one query per type), attrs
    = the events table itself, BIGINT epoch bucket keys. The session
    timezone pins to UTC for the call (the calendar contract)."""
    from searchengine_spark.query.aggregations import date_histogram_counts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    hits = None
    for qid, et in enumerate(DH_CAL_TYPES):
        h = (ev.filter(F.col("event_type") == et)
             .select(F.lit(qid).alias("query_id"), "event_id"))
        hits = h if hits is None else hits.unionByName(h)
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        out = None
        for unit in DH_CAL_UNITS:
            part = date_histogram_counts(
                hits, ev, ["ts"], ["event_id"], interval=unit
            ).select(
                "query_id", F.lit(unit).alias("unit"), "bucket_epoch", "n")
            out = part if out is None else out.unionByName(part)
        # materialize before the tz restore (lazy plans would otherwise
        # truncate under whatever tz the harness runs)
        rows = out.collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    return spark.createDataFrame(
        rows, "query_id int, unit string, bucket_epoch long, n long")


def q_result_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES normalize pipeline aggregation (query/pipeline_aggs.py
    normalize_buckets): each date_histogram bucket's count rescaled
    within its series by rescale_0_1 — emitted as the EXACT integer
    (n - min, max - min) numerator/denominator pair (float derives
    client-side; degenerate series emit den 0). z_score/softmax are
    refused (irrational/libm)."""
    from searchengine_spark.query.pipeline_aggs import normalize_buckets

    out = normalize_buckets(_dh_buckets(spark), "rescale_0_1")
    return out.select("query_id", "col", "bucket_epoch", "n",
                      "norm_num", "norm_den")


def q_result_cumulative_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES cumulative_sum pipeline aggregation (query/pipeline_aggs.py)
    over the DENSIFIED date_histogram series: running BIGINT total per
    (query, col) in bucket order, zero-filled gaps included (the ES
    min_doc_count=0 view densify_buckets provides). The oracle
    replicates retrieval, bucketing, the generate_series zero-fill AND
    the running window — a gap left unfilled or a frame-spec drift
    mismatches."""
    from searchengine_spark.query.pipeline_aggs import (
        cumulative_sum, densify_buckets)

    out = cumulative_sum(densify_buckets(_dh_buckets(spark), 600))
    return out.select("query_id", "col", "bucket_epoch", "n", "cum")


def q_result_derivative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES derivative pipeline aggregation (query/pipeline_aggs.py) over
    the densified date_histogram series: first difference n - lag(n) per
    (query, col), first bucket omitted (ES emits no derivative there).
    Densified input is the contract — a difference across an unemitted
    gap is not the series derivative."""
    from searchengine_spark.query.pipeline_aggs import (
        densify_buckets, derivative)

    out = derivative(densify_buckets(_dh_buckets(spark), 600))
    return out.select("query_id", "col", "bucket_epoch", "dn")


def q_result_moving_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES moving_fn (sum) pipeline aggregation (query/pipeline_aggs.py)
    over the densified date_histogram series: window of 3 buckets ending
    JUST BEFORE the current one (the ES shift=0 default), emitting the
    exact BIGINT window sum plus wn (buckets actually in frame) so the
    moving average is the client-side mvsum/wn. Empty-frame head buckets
    emit nothing. The oracle replicates the exact ROWS frame."""
    from searchengine_spark.query.pipeline_aggs import (
        densify_buckets, moving_sum)

    out = moving_sum(densify_buckets(_dh_buckets(spark), 600),
                     window=3, shift=0)
    return out.select("query_id", "col", "bucket_epoch", "mvsum", "wn")


def q_result_serial_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES serial_diff pipeline aggregation (query/pipeline_aggs.py) over
    the densified date_histogram series: lagged difference n - lag(n, 2)
    (seasonality removal; lag=1 degenerates to derivative — gated in
    test_pipeline_aggs.py), first 2 buckets of each series omitted."""
    from searchengine_spark.query.pipeline_aggs import (
        densify_buckets, serial_diff)

    out = serial_diff(densify_buckets(_dh_buckets(spark), 600), lag=2)
    return out.select("query_id", "col", "bucket_epoch", "dn")


def q_result_bucket_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES bucket_sort pipeline aggregation (query/pipeline_aggs.py) over
    the RAW date_histogram buckets (order statistics are
    gap-indifferent): each (query, col) series reordered by n DESC with
    bucket ASC tiebreak, truncated to the top 2 buckets, 1-based pos
    emitted. The oracle replicates the row_number frame and tiebreak."""
    from searchengine_spark.query.pipeline_aggs import bucket_sort

    out = bucket_sort(_dh_buckets(spark), size=2)
    return out.select("query_id", "col", "bucket_epoch", "n", "pos")


def q_result_bucket_selector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES bucket_selector pipeline aggregation (query/pipeline_aggs.py)
    over the raw date_histogram buckets — the HAVING clause of the
    aggregation world: buckets where n >= 2, predicate in the
    Spark∩DuckDB dialect so the oracle runs it verbatim."""
    from searchengine_spark.query.pipeline_aggs import bucket_selector

    out = bucket_selector(_dh_buckets(spark), "n >= 2")
    return out.select("query_id", "col", "bucket_epoch", "n")


def q_result_stats_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES stats_bucket sibling pipeline aggregation
    (query/pipeline_aggs.py; subsumes min/max/sum_bucket — avg_bucket is
    the client-side sum_n/n_buckets, the exact-arithmetic discipline):
    one BIGINT summary row per (query, col) over its raw bucket doc
    counts."""
    from searchengine_spark.query.pipeline_aggs import stats_bucket

    out = stats_bucket(_dh_buckets(spark))
    return out.select("query_id", "col", "n_buckets", "min_n", "max_n",
                      "sum_n")


# bucket_script expression — shared verbatim with the oracle (the
# Spark∩DuckDB integer dialect; the CASE with no ELSE exercises the
# NULL-drops-the-bucket rule on both engines)
BUCKET_SCRIPT_EXPR = "CASE WHEN n >= 2 THEN n * 10 END"


def q_result_bucket_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES bucket_script pipeline aggregation (query/pipeline_aggs.py)
    over the raw date_histogram buckets: a derived BIGINT value per
    bucket from a shared-dialect SQL expression; NULL results drop the
    bucket (the ES skip rule). The oracle runs the expression text
    verbatim."""
    from searchengine_spark.query.pipeline_aggs import bucket_script

    out = bucket_script(_dh_buckets(spark), BUCKET_SCRIPT_EXPR)
    return out.select("query_id", "col", "bucket_epoch", "n", "val")


def q_result_percentiles_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES percentiles_bucket pipeline aggregation
    (query/pipeline_aggs.py): exact nearest-rank percentiles of the
    bucket doc counts per (query, col) series — the same 1-based
    ceil-index rule as result_percentiles, BIGINT end to end."""
    from searchengine_spark.query.pipeline_aggs import percentiles_bucket

    out = percentiles_bucket(_dh_buckets(spark), (25, 50, 75, 100))
    return out.select("query_id", "col", "pct", "value")


def q_result_extreme_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES min_bucket / max_bucket pipeline aggregations
    (query/pipeline_aggs.py extreme_bucket_keys): per series the extreme
    doc count AND the sorted keys achieving it (ES returns a keys list
    because ties are legal; keys emitted comma-joined — the driver's
    no-array-columns convention)."""
    from searchengine_spark.query.pipeline_aggs import extreme_bucket_keys

    out = extreme_bucket_keys(_dh_buckets(spark))
    return out.select(
        "query_id", "col", "kind", "n",
        F.array_join(F.col("keys").cast("array<string>"), ",").alias("keys"),
    )


def q_facet_top_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES top_hits sub-aggregation (query/facets.py top_hits): for every
    (facet, value) bucket a query's top-10 transcripts hits touch, the
    best 2 hits in the retrieval's own order (score desc, rank asc).
    Oracle replicates retrieval + the per-bucket window over the melted
    role/tool attributes."""
    import os
    import tempfile

    from searchengine_spark.fixtures.transcripts import transcripts_df
    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.facets import top_hits
    from searchengine_spark.query.wand import bm25_topk_packed_batch, resolve_docs

    cfg = _transcripts_cfg()
    corpus = transcripts_df(spark, n_conv=TRANSCRIPTS_N_CONV, n_partitions=8)
    path = os.path.join(tempfile.gettempdir(), "se_spark_entry_facets")
    _build_packed_once(path, lambda: build_packed_index(
        corpus, cfg, path, chunk_docs=256))
    pidx = load_packed_index(spark, path)
    hits = resolve_docs(pidx, bm25_topk_packed_batch(
        pidx, TRANSCRIPTS_QUERIES, cfg, k=10, round_dp=6))
    out = top_hits(hits, corpus, ["role", "tool"],
                   ["conv_id", "turn_idx"], n=2)
    return out.select(
        "query_id", "facet", "value",
        F.col("hit_rank").cast("long").alias("hit_rank"),
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        "score",
    )


def q_sharded_merge_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed-build pattern: the fixture corpus split into two shards
    INTERLEAVED in (conv_id, turn_idx) order (turn parity), each built as
    an independent packed index, then folded into one by the shard merge
    (indexing/merge.py) — which re-sorts the shards' stored token streams
    globally and rebuilds every downstream stage through the build's own
    resume seam. The merge contract is bit-identity with a fresh build
    over the concatenated corpora, so the oracle is EXACTLY the
    transcripts_wand_topk SQL (full-corpus BM25): a merge that
    concatenated shard docID ranges, blended shard avgdl/idf, or dropped
    a stage would hash-mismatch here."""
    import os
    import tempfile

    from searchengine_spark.fixtures.transcripts import transcripts_df
    from searchengine_spark.indexing.merge import merge_packed_indexes
    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.wand import bm25_topk_packed_batch, resolve_docs

    cfg = _transcripts_cfg()
    corpus = transcripts_df(spark, n_conv=TRANSCRIPTS_N_CONV, n_partitions=8)
    base = os.path.join(tempfile.gettempdir(), "se_spark_entry_merge")
    pa, pb, out = (os.path.join(base, d) for d in ("shard_a", "shard_b", "merged"))
    build_packed_index(corpus.filter(F.col("turn_idx") % 2 == 0), cfg, pa, chunk_docs=256)
    build_packed_index(corpus.filter(F.col("turn_idx") % 2 == 1), cfg, pb, chunk_docs=256)
    merge_packed_indexes(spark, [pa, pb], out, check_disjoint=True)
    pidx = load_packed_index(spark, out)
    topk = bm25_topk_packed_batch(pidx, TRANSCRIPTS_QUERIES, cfg, k=10, round_dp=6)
    res = resolve_docs(pidx, topk)
    return res.select(
        "query_id", "doc_id", "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        "score", F.col("rank").cast("long").alias("rank"),
    )


def q_federated_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Federated scatter-gather serving (query/federated.py): the fixture
    corpus split into two shards by turn parity, each built as an
    independent packed index, then served TOGETHER — per-shard pushed
    scans, one union, one heap — with NO merge. Statistics contract (ES
    dfs_query_then_fetch analog): idf is federation-global and exact
    (df/N summed across shards, the build's own rounding), dl_norm is
    shard-local (stored against each shard's own avgdl). The oracle
    replicates exactly that in SQL: per-shard avgdl in the dl_norm CTE,
    global term_stats, and the federation's tie order (shard asc, then
    conv_id/turn_idx) in the rank window."""
    import os
    import tempfile

    from searchengine_spark.fixtures.transcripts import transcripts_df
    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.federated import (
        bm25_topk_federated,
        resolve_docs_federated,
    )

    cfg = _transcripts_cfg()
    corpus = transcripts_df(spark, n_conv=TRANSCRIPTS_N_CONV, n_partitions=8)
    base = os.path.join(tempfile.gettempdir(), "se_spark_entry_fed")
    pa, pb = (os.path.join(base, d) for d in ("shard_a", "shard_b"))
    _build_packed_once(pa, lambda: build_packed_index(
        corpus.filter(F.col("turn_idx") % 2 == 0), cfg, pa, chunk_docs=256))
    _build_packed_once(pb, lambda: build_packed_index(
        corpus.filter(F.col("turn_idx") % 2 == 1), cfg, pb, chunk_docs=256))
    shards = [load_packed_index(spark, p) for p in (pa, pb)]
    topk = bm25_topk_federated(shards, TRANSCRIPTS_QUERIES, cfg, k=10, round_dp=6)
    out = resolve_docs_federated(shards, topk)
    return out.select(
        "query_id", "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        "score", F.col("rank").cast("long").alias("rank"),
    )


def q_federated_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Federated TF-IDF serving (query/federated.py tfidf_topk_federated):
    two turn-parity shards with tfidf sidecars served together with NO
    merge. STRONGER contract than federated BM25: doc-side lnc weights
    are corpus-stat-free and the query ltc pins the federation-global
    idf, so the oracle is simply single-corpus TF-IDF (global term_stats,
    per-doc norms) ranked under the federation tie order (shard asc,
    then conv_id/turn_idx) — merged-index-exact on ANY corpus, no
    per-shard statistics CTE needed at all."""
    import os
    import tempfile

    from searchengine_spark.fixtures.transcripts import transcripts_df
    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.federated import (
        resolve_docs_federated,
        tfidf_topk_federated,
    )

    cfg = _transcripts_cfg()
    corpus = transcripts_df(spark, n_conv=TRANSCRIPTS_N_CONV, n_partitions=8)
    base = os.path.join(tempfile.gettempdir(), "se_spark_entry_fedtfidf")
    pa, pb = (os.path.join(base, d) for d in ("shard_a", "shard_b"))
    _build_packed_once(pa, lambda: build_packed_index(
        corpus.filter(F.col("turn_idx") % 2 == 0), cfg, pa, chunk_docs=256,
        tfidf_sidecar=True))
    _build_packed_once(pb, lambda: build_packed_index(
        corpus.filter(F.col("turn_idx") % 2 == 1), cfg, pb, chunk_docs=256,
        tfidf_sidecar=True))
    shards = [load_packed_index(spark, p) for p in (pa, pb)]
    topk = tfidf_topk_federated(shards, TRANSCRIPTS_QUERIES, cfg, k=10, round_dp=6)
    out = resolve_docs_federated(shards, topk)
    return out.select(
        "query_id", "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        "score", F.col("rank").cast("long").alias("rank"),
    )


def q_federated_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Federated ES sort clause (query/sortby.py sort_by_attr_federated):
    attribute-ordered retrieval over the SAME two turn-parity shards as
    federated_search — the matched set is the federated score-all BM25
    surface (dfs_query_then_fetch statistics: federation-global idf,
    shard-local dl_norm), ordered by n_chars = length(text) desc with
    rounded-score then federation-doc_id tiebreaks. The federation
    doc_id order equals (shard asc, conv_id asc, turn_idx asc) because
    shard-local docIDs are dense in the build's (conv_id, turn_idx)
    order and the union base-shifts shard b past shard a — which is
    exactly the tie chain the oracle's rank window spells out. A WAND
    top-k-by-score cut, a cross-shard avgdl leak, or score-ordered
    ranking all hash-mismatch."""
    import os
    import tempfile

    from searchengine_spark.fixtures.transcripts import transcripts_df
    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.sortby import sort_by_attr_federated

    cfg = _transcripts_cfg()
    corpus = transcripts_df(spark, n_conv=TRANSCRIPTS_N_CONV, n_partitions=8)
    base = os.path.join(tempfile.gettempdir(), "se_spark_entry_fed")
    pa, pb = (os.path.join(base, d) for d in ("shard_a", "shard_b"))
    _build_packed_once(pa, lambda: build_packed_index(
        corpus.filter(F.col("turn_idx") % 2 == 0), cfg, pa, chunk_docs=256))
    _build_packed_once(pb, lambda: build_packed_index(
        corpus.filter(F.col("turn_idx") % 2 == 1), cfg, pb, chunk_docs=256))
    shards = [load_packed_index(spark, p) for p in (pa, pb)]
    attrs = corpus.select(
        "conv_id", "turn_idx", F.length("text").alias("n_chars"))
    out = sort_by_attr_federated(
        shards, TRANSCRIPTS_QUERIES, cfg, attrs, "n_chars", k=10,
        ascending=False, missing="last", round_dp=6)
    return out.select(
        "query_id", "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        F.col("sort_value").cast("long").alias("sort_value"),
        "score", F.col("rank").cast("long").alias("rank"),
    )


def q_sharded_build_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded BUILD + federated serving (indexing/shards.py
    build_shard_indexes): ONE corpus hash-partitioned into 3
    conversation-coherent shards — assignment md5(conv_id) top-15-hex
    mod 3, deterministic across engines — via the staged build (one
    partitionBy(shard) write, pruned per-shard reads), then federated
    BM25 over the three resulting indexes. The oracle recomputes the
    SAME assignment in SQL (('0x' || substr(md5(conv_id), 1, 15))::BIGINT
    % 3) and the dfs_query_then_fetch statistics: per-shard avgdl,
    federation-global idf, tie order shard asc then (conv_id, turn_idx)
    — so a wrong shard route, a leaked cross-shard avgdl, or a wrong
    doc-base offset all hash-mismatch."""
    import os
    import tempfile

    from searchengine_spark.fixtures.transcripts import transcripts_df
    from searchengine_spark.indexing.packed import load_packed_index
    from searchengine_spark.indexing.shards import build_shard_indexes, shard_paths
    from searchengine_spark.query.federated import (
        bm25_topk_federated,
        resolve_docs_federated,
    )

    cfg = _transcripts_cfg()
    corpus = transcripts_df(spark, n_conv=TRANSCRIPTS_N_CONV, n_partitions=8)
    base = os.path.join(tempfile.gettempdir(), "se_spark_entry_shardbuild")
    _build_packed_once(base, lambda: build_shard_indexes(
        corpus, cfg, base, 3, chunk_docs=256))
    shards = [load_packed_index(spark, p) for p in shard_paths(base, 3)]
    topk = bm25_topk_federated(shards, TRANSCRIPTS_QUERIES, cfg, k=10, round_dp=6)
    out = resolve_docs_federated(shards, topk)
    return out.select(
        "query_id", "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        "score", F.col("rank").cast("long").alias("rank"),
    )


def q_federated_has_child(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Federated ES has_child (query/federated.py
    has_child_topk_federated): conversations ranked by their matching
    turns' combined BM25 (score_mode=sum, min_children=2) across the
    SAME md5-mod-3 conversation-coherent sharded build as
    sharded_build_search. Coherence means the parent combine is
    shard-local and exact, and the statistics contract is the
    shard-local one the python-brute gate pins
    (tests/test_parentchild.py::test_federated_matches_shard_local_combine):
    per-shard n/df/idf AND per-shard avgdl — each shard scores as the
    independent index it is, then qualifying parents merge through the
    bounded per-shard rank()<=k emission into one (score desc, conv asc)
    window. The oracle recomputes the md5 shard assignment and the
    per-shard statistics in SQL, so a cross-shard idf leak, a broken
    doc-base, or an unbounded-merge rank drift all hash-mismatch."""
    import os
    import tempfile

    from searchengine_spark.fixtures.transcripts import transcripts_df
    from searchengine_spark.indexing.packed import load_packed_index
    from searchengine_spark.indexing.shards import build_shard_indexes, shard_paths
    from searchengine_spark.query.federated import has_child_topk_federated

    cfg = _transcripts_cfg()
    corpus = transcripts_df(spark, n_conv=TRANSCRIPTS_N_CONV, n_partitions=8)
    base = os.path.join(tempfile.gettempdir(), "se_spark_entry_shardbuild")
    _build_packed_once(base, lambda: build_shard_indexes(
        corpus, cfg, base, 3, chunk_docs=256))
    shards = [load_packed_index(spark, p) for p in shard_paths(base, 3)]
    out = has_child_topk_federated(
        shards, TRANSCRIPTS_QUERIES, cfg, score_mode="sum",
        min_children=HAS_CHILD_MIN, k=10, round_dp=6)
    return out.select(
        "query_id", "conv_id", "score",
        F.col("n_matching").cast("long").alias("n_matching"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_faceted_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faceted search (query/facets.py, the ES terms-aggregation analog):
    boolean-OR retrieval over the packed transcripts index, then the
    top-5 (value, doc count) buckets per facet column (role, tool) per
    query — ONE hit-set join to the attribute table on the external key
    plus ONE partial-aggregable groupBy. Contract points the oracle
    hash-gates: count-desc/value-asc deterministic tie order, NULL
    attribute values skipped (non-tool turns have tool=NULL, so the
    'tool' facet counts only tool turns), a doc counts once per query,
    values stringified. Attributes live in the source table, never the
    index — the filter_doc_ids contract."""
    import os
    import tempfile

    from searchengine_spark.fixtures.transcripts import transcripts_df
    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.facets import facet_counts
    from searchengine_spark.query.wand import boolean_search_packed, resolve_docs

    cfg = _transcripts_cfg()
    corpus = transcripts_df(spark, n_conv=TRANSCRIPTS_N_CONV, n_partitions=8)
    path = os.path.join(tempfile.gettempdir(), "se_spark_entry_facets")
    _build_packed_once(path, lambda: build_packed_index(
        corpus, cfg, path, chunk_docs=256))
    pidx = load_packed_index(spark, path)
    hits = resolve_docs(
        pidx,
        boolean_search_packed(pidx, TRANSCRIPTS_QUERIES, cfg, op="or").select(
            "query_id", "doc_id", F.lit(0.0).alias("score"),
            F.lit(0).alias("rank"),
        ),
    )
    out = facet_counts(hits, corpus, ["role", "tool"],
                       ["conv_id", "turn_idx"], k=5)
    return out.select(
        "query_id", "facet", "value", F.col("n").cast("long").alias("n"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_filtered_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute-filtered retrieval (Lucene filtered-search analog,
    query/wand.py filter_doc_ids + doc_filter): BM25 top-10 over ONLY the
    role='user' turns — the filter applies BEFORE the top-k heap (post-
    filtering an unfiltered top-k would return <k or wrong docs), shipped
    as per-chunk sorted allowed-arrays joined to the matched chunk rows.
    idf/avgdl stay corpus-wide (the filter constrains candidates, not the
    statistics). The oracle replicates it by ranking the full-corpus BM25
    scores restricted to user turns."""
    import os
    import tempfile

    from searchengine_spark.fixtures.transcripts import transcripts_df
    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.wand import (
        bm25_topk_packed_batch,
        filter_doc_ids,
        resolve_docs,
    )

    cfg = _transcripts_cfg()
    path = os.path.join(tempfile.gettempdir(), "se_spark_entry_idx_filtered")
    corpus = transcripts_df(spark, n_conv=TRANSCRIPTS_N_CONV, n_partitions=8)
    _build_packed_once(path, lambda: build_packed_index(corpus, cfg, path, chunk_docs=256))
    pidx = load_packed_index(spark, path)
    allowed = filter_doc_ids(pidx, corpus, "role = 'user'")
    topk = bm25_topk_packed_batch(
        pidx, TRANSCRIPTS_QUERIES, cfg, k=10, round_dp=6, doc_filter=allowed
    )
    out = resolve_docs(pidx, topk)
    return out.select(
        "query_id", "doc_id", "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        "score", F.col("rank").cast("long").alias("rank"),
    )


BOOST_CASE = ("CASE WHEN role = 'user' THEN 1.5 "
              "WHEN role = 'tool' THEN 0.25 ELSE 1.0 END")


def q_boosted_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-boosted retrieval (wand.boost_doc_ids + doc_boost; the SOFT
    twin of filtered_search — Lucene function-query analog): final BM25
    scores multiply by a role-derived factor (user 1.5, tool 0.25),
    shipped per chunk; each chunk's pruning bound scales by its own max
    boost so block-max skipping stays exact. Oracle multiplies the same
    CASE into the full-corpus scores."""
    import os
    import tempfile

    from searchengine_spark.fixtures.transcripts import transcripts_df
    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.wand import (
        bm25_topk_packed_batch,
        boost_doc_ids,
        resolve_docs,
    )

    cfg = _transcripts_cfg()
    path = os.path.join(tempfile.gettempdir(), "se_spark_entry_idx_filtered")
    corpus = transcripts_df(spark, n_conv=TRANSCRIPTS_N_CONV, n_partitions=8)
    # shared with q_filtered_search via the per-run memo; NOT resume=True
    # (resume would happily serve a stale on-disk build from an older
    # fixture/code version across driver runs)
    _build_packed_once(path, lambda: build_packed_index(corpus, cfg, path, chunk_docs=256))
    pidx = load_packed_index(spark, path)
    boost = boost_doc_ids(pidx, corpus, BOOST_CASE)
    topk = bm25_topk_packed_batch(
        pidx, TRANSCRIPTS_QUERIES, cfg, k=10, round_dp=6, doc_boost=boost
    )
    out = resolve_docs(pidx, topk)
    return out.select(
        "query_id", "doc_id", "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        "score", F.col("rank").cast("long").alias("rank"),
    )


TV_DOC_IDS = [3, 17, 40]

# ES query_string term^W boosts over the shared documents index: an
# upweight, a downweight, a ^0 (matches but contributes nothing), and
# an unboosted control query
BOOSTED_QUERIES = ["spark^2 merge window^0.5 vector", "hash^0 join table",
                   "slow stream batch"]


def q_boosted_terms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-string term boosts (query/termboost.py — the ES/Lucene
    ``term^W`` syntax): the caret weight multiplies that term's BM25
    contribution, riding the weighted-term WAND seam (weights fold into
    idf BEFORE the chunk bounds, so block-max pruning stays exact at
    any W, including 0 — the term still matches OR-wise, contributing
    nothing). Parsing runs on the raw query before tokenization (the
    chain maps '^' to space). The oracle inlines the module's own
    parsed (term, w) rows and weights each contribution — an engine
    that dropped the weight, applied it after the bounds, or let the
    tokenizer eat the caret digits would hash-mismatch."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.termboost import parse_boosted_queries
    from searchengine_spark.query.wand import bm25_topk_packed_batch

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_packed_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    ))
    pidx = load_packed_index(spark, path)
    qs, weights = parse_boosted_queries(BOOSTED_QUERIES, CFG)
    return bm25_topk_packed_batch(pidx, qs, CFG, k=10, round_dp=6,
                                  term_weights=weights or None)

# ES bool-query fixture: every clause populated, msm exercises the
# coverage-floor identity on top of the required set
BOOLQ = {"must": "window", "should": "spark merge vector",
         "must_not": "stream", "filter": "table", "msm": 1}


def q_bool_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES bool query (query/boolquery.py — the compound workhorse):
    docs containing every must term AND every filter term, >= msm
    should terms, NO must_not term, BM25-ranked over their must+should
    matches only (filter context never scores — the ES contract). The
    engine composes it from gated primitives: one boolean-AND pass for
    the required set feeding the doc_filter seam, the coverage-floor
    identity |M|+msm-|S∩M| for minimum_should_match, the exclusion
    fan-out for must_not. The oracle replicates every predicate with
    EXISTS subqueries and the should floor with a coverage count —
    an engine that scored filter terms, dropped the floor, or
    post-filtered would hash-mismatch."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.boolquery import bool_query_topk

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_packed_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    ))
    pidx = load_packed_index(spark, path)
    return bool_query_topk(
        pidx, CFG, must=BOOLQ["must"], should=BOOLQ["should"],
        must_not=BOOLQ["must_not"], filter_terms=BOOLQ["filter"],
        min_should_match=BOOLQ["msm"], k=10, round_dp=6,
    )

# percolator fixtures: a negated query + a coverage floor below the term
# counts, so the oracle exercises the veto AND the >= m branch
PERC_QUERIES = [
    "spark merge window vector",
    "fast hash join -table",
    "slow stream batch",
]
PERC_MIN_SHOULD_MATCH = 2


def q_percolate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percolator (query/percolate.py — the ES percolate analog, search
    inverted): stored queries match arriving docs. A doc percolates into
    a query when it contains >= m of the query's unique positive terms
    (m=2 here — the coverage floor) and NONE of its negated terms
    ('-table' vetoes). One tokenize pass, the tiny stored-term table
    broadcast into the doc stream, ONE partial-aggregable groupBy;
    negation folds into the same aggregate as a max flag — no second
    join. The oracle replicates registration (both engines normalize
    through the shared tokenize chain — the terms are inlined from
    register_queries itself), the coverage floor, and the veto."""
    from searchengine_spark.query.percolate import percolate, register_queries

    docs = _documents(spark, sf_dir)
    stored = register_queries(PERC_QUERIES, CFG,
                              min_should_match=PERC_MIN_SHOULD_MATCH)
    return percolate(docs, stored, CFG, text_col="text",
                     id_cols=("doc_id",))


def q_term_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES _termvectors analog (query/termvectors.py): for a bounded doc
    set, the index's stored per-(doc, term) statistics — tf and 0-based
    token positions from the STORED token stream (tokenization ran once,
    at build), df from the term_stats sidecar AS STORED. The oracle
    recomputes all three from the raw documents table through the shared
    tokenizer CTE, with the dense-docID mapping (row_number over ext_id)
    inlined — a tier that re-tokenized differently, served stale df, or
    mis-ordered positions hash-mismatches. Positions emit as a CSV
    string on both sides (the driver's value-hash has no array policy)."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.termvectors import term_vectors

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_packed_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    ))
    pidx = load_packed_index(spark, path)
    tv = term_vectors(pidx, TV_DOC_IDS, positions=True)
    return tv.select(
        "doc_id", "term", "tf", "df",
        F.array_join(F.col("positions").cast("array<string>"), ",").alias("positions"),
    )


MSM_PCT_SPEC = "67%"


def q_min_should_match_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES minimum_should_match VALUE GRAMMAR (query/msm.py): one '67%'
    spec resolves to a per-query floor (floor(n·67/100), clamp below 1
    to 1 — the Lucene spec rules, incl. negatives, gated in
    tests/test_msm.py), fanned into the scorers as a {query_id: floor}
    map. The oracle hard-codes each query's resolved floor (computed
    at SQL-gen time from the same spec) into per-query HAVING
    coverage filters."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.msm import msm_map
    from searchengine_spark.query.wand import bm25_topk_packed_batch, resolve_docs

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_packed_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    ))
    pidx = load_packed_index(spark, path)
    qs = [QUERY_STRINGS[q] for q in sorted(QUERY_STRINGS)]
    mm = msm_map(MSM_PCT_SPEC, qs, CFG)
    topk = bm25_topk_packed_batch(
        pidx, qs, CFG, k=10, round_dp=6, min_should_match=mm)
    out = resolve_docs(pidx, topk)
    return out.select(
        "query_id", F.col("ext_id").alias("doc_id"), "score",
        F.col("rank").cast("long").alias("rank"))


MSM_COND_SPEC = "3<67% 5<-2"


def q_min_should_match_cond(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES minimum_should_match CONDITIONAL grammar (query/msm.py): the
    Solr calculateMinShouldMatch walk over '3<67% 5<-2' — n<=3 requires
    ALL terms, 3<n<=5 requires floor(67%·n), n>5 requires n-2. The three
    batch queries (3, 4, 6 unique terms) hit all three branches. The
    oracle re-derives the per-query floor IN SQL from the query-term
    CTE's own distinct-term count (CASE over n — independent of the
    Python resolver), then filters coverage in HAVING."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.msm import msm_map
    from searchengine_spark.query.wand import bm25_topk_packed_batch, resolve_docs

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_packed_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    ))
    pidx = load_packed_index(spark, path)
    qs = [QUERY_STRINGS[q] for q in sorted(QUERY_STRINGS)]
    mm = msm_map(MSM_COND_SPEC, qs, CFG)
    topk = bm25_topk_packed_batch(
        pidx, qs, CFG, k=10, round_dp=6, min_should_match=mm)
    out = resolve_docs(pidx, topk)
    return out.select(
        "query_id", F.col("ext_id").alias("doc_id"), "score",
        F.col("rank").cast("long").alias("rank"))


CONSTANT_SCORE_BOOST = 1.5
APPROX_FACET_SHARDS, APPROX_FACET_SHARD_SIZE = 4, 8


def q_approx_terms_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES distributed terms aggregation with the documented shard
    approximation (query/facets.py approx_terms_agg): every md5-mod
    shard reports only its local top-shard_size token buckets, the
    merge sums the bounded lists, and each returned bucket carries the
    EXACT ES doc_count_error_upper_bound (err) — zero for buckets every
    truncated shard reported, positive otherwise. Run over the
    documents table's (term, doc) incidence (a terms agg on a text
    field), where Zipf skew makes the truncation bite; the oracle
    replays the whole shard protocol (same md5 split, per-shard
    windows, truncation floors) in SQL. The n <= true <= n + err
    guarantee is gated in tests/test_approx_facets.py."""
    from searchengine_spark.query.facets import approx_terms_agg

    it = _doc_index(spark, sf_dir)
    pairs = it.index.select(
        F.lit(0).alias("query_id"), F.lit("token").alias("facet"),
        F.col("term").alias("value"), "doc_id")
    return approx_terms_agg(
        pairs, n_shards=APPROX_FACET_SHARDS,
        shard_size=APPROX_FACET_SHARD_SIZE, k=10)


def q_constant_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES constant_score query (query/boolquery.py constant_score_topk):
    filter-context retrieval — the AND-matched set scores exactly the
    boost literal, ranked doc_id ASC (the deterministic stand-in for
    ES's arbitrary equal-score order), cut at 10. The plan never reads
    term_stats / doc_norms — the ES filter-context point, plan-gated in
    tests/test_constant_score.py."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.boolquery import constant_score_topk

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_packed_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    ))
    pidx = load_packed_index(spark, path)
    qs = [QUERY_STRINGS[q] for q in sorted(QUERY_STRINGS)]
    out = constant_score_topk(
        pidx, qs, CFG, boost=CONSTANT_SCORE_BOOST, op="and", k=10)
    return out.join(pidx.docmap, "doc_id").select(
        "query_id", F.col("ext_id").alias("doc_id"), "score", "rank")


MBP_QUERIES = ["merge win", "fast ha", "str"]
MBP_MAX_EXP = 50

SPARSE_SALT = "elser"


def _sparse_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per run) the md5-weighted sparse layout over the
    documents (term, doc) incidence; shared by the sparse entries."""
    import os
    import tempfile

    from searchengine_spark.query.sparse import build_sparse_index

    it = _doc_index(spark, sf_dir)
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_sparse_{tag}")
    pairs = it.index.select(
        "term", "doc_id",
        (F.lit(500_000) + F.conv(
            F.substring(F.md5(F.concat(F.col("term"), F.lit("|"),
                                       F.col("doc_id").cast("string"))),
                        1, 15), 16, 10).cast("long") % F.lit(1_000_000)
         ).alias("weight_micro"),
    )
    _build_packed_once(path, lambda: build_sparse_index(pairs, path, 8))
    return path


def _sparse_query_weights() -> list:
    from searchengine_spark.query.sparse import expand_text_deterministic

    return [expand_text_deterministic(_qterms(qid), salt=SPARSE_SALT)
            for qid in sorted(QUERY_STRINGS)]


def q_sparse_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES sparse_vector / text_expansion (query/sparse.py): learned-
    sparse retrieval serving — docs carry {token: weight} maps (here
    md5-derived integer-micro stand-ins for model output, the honesty
    contract of the multimodal stubs; real ELSER/SPLADE weights would
    arrive as data exactly the same way), queries are deterministic
    expansions, score = exact BIGINT Σ w_q·w_d. The serving plan is
    the engine's scan-pruning + join-free story applied to a weighted
    table: pushed In(term) filter over the term-sorted layout, literal
    query-weight map fan-out, one partial agg — plan-gated in
    tests/test_sparse.py."""
    from searchengine_spark.query.sparse import sparse_topk_batch

    path = _sparse_index_path(spark, sf_dir)
    return sparse_topk_batch(spark, path, _sparse_query_weights(), k=10)


SPARSE_PRUNE_QUERIES = [
    {"batch": 100_000, "vector": 1_200_000, "merge": 1_100_000},
    {"scan": 150_000, "join": 1_000_000, "fast": 950_000},
    {"data": 2_000_000, "window": 900_000},
]
# the testdata vocabulary is small and FLAT (30 terms, max df ~1.07x the
# average), so the entry pins freq_ratio_threshold=1 to make the
# decision observable; the ES default (5) stays the library default
SPARSE_PRUNE_RATIO, SPARSE_PRUNE_WT = 1, 400_000
SPARSE_PRUNE_K, SPARSE_PRUNE_MULT = 8, 3


def q_sparse_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES sparse_vector pruning_config + rescore (query/sparse.py
    sparse_topk_pruned_batch): frequent-AND-weak query tokens are
    dropped in phase 1 (integer cross-multiplied decisions off the
    term_stats sidecar — df·n_terms > ratio·total, weight·1e6 <
    wt·avg_qw), then the full query exactly re-scores the bounded
    candidate page (k x mult) — the two-phase shape that makes
    learned-sparse retrieval affordable (the fat tokens ARE the cost).
    The oracle replays decisions, phase 1 and the rescore in SQL.
    Two-phase identities gated in tests/test_sparse.py."""
    from searchengine_spark.query.sparse import sparse_topk_pruned_batch

    path = _sparse_index_path(spark, sf_dir)
    return sparse_topk_pruned_batch(
        spark, path, SPARSE_PRUNE_QUERIES, k=SPARSE_PRUNE_K,
        freq_ratio_threshold=SPARSE_PRUNE_RATIO,
        weight_threshold_micro=SPARSE_PRUNE_WT,
        rescore=True, rescore_mult=SPARSE_PRUNE_MULT)


TEMP_ALPHA, TEMP_TARGET, TEMP_SALT = 0.5, 2000, "tm"


def q_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mixture weights (textops/dataset.py
    temperature_weights): the multilingual-pretraining p^alpha
    reweighting (mBERT/XLM-R exponential smoothing) in exact integer
    micro-units — alpha=0.5 is ONE IEEE sqrt (correctly rounded on
    every engine), everything after is BIGINT, so the whole mixture +
    per-stratum keep-rate table is hash-gated. Inexact alphas (libm
    pow) are refused by design."""
    from searchengine_spark.textops import temperature_weights

    d = _documents(spark, sf_dir).select("doc_id", "lang")
    return temperature_weights(d, "lang", TEMP_ALPHA, TEMP_TARGET)


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature SAMPLING (temperature_sample): the weights table
    composed with stratified_sample's shared-hash keep rule — the
    end-to-end corpus-mixing operator (nested samples under target
    growth, gated in tests/test_temperature.py). The oracle replays
    counts -> sqrt-micro weights -> keep rates -> md5-nibble filter."""
    from searchengine_spark.textops import temperature_sample

    d = _documents(spark, sf_dir).select("doc_id", "lang")
    return temperature_sample(
        d, "lang", TEMP_ALPHA, TEMP_TARGET, salt=TEMP_SALT
    ).select("doc_id", "lang")


INTERVALS_QUERIES_U = ["fast hash join", "merge window", "slow stream batch"]
INTERVALS_QUERIES_O = ["fast hash", "merge window", "stream batch"]
INTERVALS_MAX_GAPS_U, INTERVALS_MAX_GAPS_O = 4, 8


def q_intervals_unordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES intervals query, unordered match with max_gaps
    (query/intervals.py): minimal any-order covering windows per doc
    (Lucene minimal-interval semantics — the antichain of windows
    containing every term), filtered to gap count <= 4, ranked by the
    integer interval COUNT (desc, doc_id tie). The oracle replays the
    enumeration relationally: per candidate end, lo = min over terms of
    the latest position at-or-before it; minimality = min hi per (doc,
    lo) — the same monotonicity argument the vectorized kernel uses.
    Kernel gated vs brute containment enumeration in
    tests/test_intervals.py."""
    from searchengine_spark.query.intervals import intervals_topk_batch

    it = _doc_index(spark, sf_dir, positional=True)
    return intervals_topk_batch(
        it, INTERVALS_QUERIES_U, CFG, ordered=False,
        max_gaps=INTERVALS_MAX_GAPS_U, k=10)


def q_intervals_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES intervals query, ordered match with max_gaps — minimal
    in-order chains (latest-predecessor backward walk), same integer
    count ranking. Oracle queries are 2-term so the chain is ONE
    max-pos-strictly-before join (the general-k kernel is pytest-gated
    at k=3 incl. packed==exact)."""
    from searchengine_spark.query.intervals import intervals_topk_batch

    it = _doc_index(spark, sf_dir, positional=True)
    return intervals_topk_batch(
        it, INTERVALS_QUERIES_O, CFG, ordered=True,
        max_gaps=INTERVALS_MAX_GAPS_O, k=10)


CHUNK_MAX_TOKENS, CHUNK_STRIDE = 32, 24


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc sliding-window RAG chunking (textops/chunking.py): every
    doc split into <=32-token windows at stride 24 (8-token overlap),
    final chunk pinned to end at n — the within-doc splitting member of
    the packing family (never crosses a doc boundary, unlike the
    pretraining concat-and-chunk). Emits the span plan AND the analyzed
    chunk text (token-slice join), all integer arithmetic with
    positive-operand ceil so the oracle replays it verbatim; the plan
    is shuffle-free (narrow), gated in tests/test_chunking.py."""
    from searchengine_spark.textops.chunking import sliding_chunks

    return sliding_chunks(
        _documents(spark, sf_dir), CFG, CHUNK_MAX_TOKENS, CHUNK_STRIDE)


GEO_PRECISION = 3
# (top, left, bottom, right) micro-degrees — clips ~1/3 of the globe so
# the bbox filter is observable in the bucket counts
GEO_BBOX = (60_000_000, -30_000_000, -60_000_000, 150_000_000)


def _geo_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic micro-degree coordinates per doc (md5 of
    a salted id — the repo's cross-engine hash convention), since the
    testdata tables carry no geo columns; both engines derive the SAME
    points, so the oracle replays them."""
    def h(salt: str):
        return F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt + "|"),
                               F.col("doc_id").cast("string"))), 1, 15),
            16, 10,
        ).cast("long")

    return _documents(spark, sf_dir).select(
        "doc_id",
        (h("lat") % F.lit(180_000_001) - F.lit(90_000_000)).alias("lat"),
        (h("lon") % F.lit(360_000_001) - F.lit(180_000_000)).alias("lon"),
    )


def q_geohash_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES geohash_grid + geo_bounding_box composition (query/geo.py):
    bucket every in-box doc into precision-3 geohash cells — the whole
    encoding is EXACT integer bit arithmetic over micro-degrees (closed
    form floor((coord-lo)·2^n/span) interleaved lon-first, base-32),
    so the oracle replays it verbatim via geohash_sql (four-way
    agreement gated in tests/test_geo.py: published vector, independent
    bisection, Spark column, DuckDB twin). Terms-agg bucket contract:
    count desc, cell asc, top-15."""
    from searchengine_spark.query.geo import geohash_grid_agg

    d = _documents(spark, sf_dir)
    results = d.select(F.lit(0).alias("query_id"), "doc_id")
    return geohash_grid_agg(
        results, _geo_attrs(spark, sf_dir), "lat", "lon", ["doc_id"],
        precision=GEO_PRECISION, k=15, bbox=GEO_BBOX)


def q_match_bool_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES match_bool_prefix (query/boolprefix.py): search-as-you-type
    bool_prefix mode — every analyzed term but the last scores ordinary
    BM25 (OR), the last is a prefix query contributing the Lucene
    constant-score-rewrite constant 1.0 to docs holding ANY of its
    dictionary expansions (df-desc/term-asc cap, the wildcard family's
    deterministic cap). A doc matching only the prefix still ranks —
    which is why the full-term side is the score-all surface, not a
    top-k cut. Composition gated in tests/test_boolprefix.py; the
    oracle replays expansion + both contribution streams in SQL."""
    import os
    import tempfile

    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.boolprefix import match_bool_prefix_topk

    docs = _documents(spark, sf_dir).select(F.col("doc_id").alias("ext_id"), "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"se_entry_packed_{tag}")
    _build_packed_once(path, lambda: build_packed_index(
        docs, CFG, path, params=Bm25Params(K, B), text_col="text",
        order_cols=("ext_id",), chunk_docs=256,
    ))
    pidx = load_packed_index(spark, path)
    out = match_bool_prefix_topk(
        pidx, MBP_QUERIES, CFG, k=10, max_expansions=MBP_MAX_EXP,
        round_dp=6)
    return out.join(pidx.docmap, "doc_id").select(
        "query_id", F.col("ext_id").alias("doc_id"), "score", "rank")


CONTEXT_NB, CONTEXT_NA, CONTEXT_K = 1, 2, 3
HAS_CHILD_MIN, HAS_PARENT_MIN_TURNS = 2, 60
CONV_DUP_N = 3  # first N conv ids get a relabeled duplicate injected


def q_conversation_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level exact dedup (textops/dedup.py
    conversation_fingerprints/conversation_duplicates): transcripts
    dedup WHOLE conversations, not turns — the fingerprint is md5 of
    the turn-ordered per-turn md5s (order-sensitive: a reordered
    dialogue is NOT a duplicate; gated in tests/test_conv_dedup.py).
    The fixture injects relabeled copies of the first 3 conversations;
    the operator must find exactly those groups with the
    lexicographically-smallest canonical."""
    from searchengine_spark.fixtures.transcripts import transcripts_df
    from searchengine_spark.textops.dedup import conversation_duplicates

    corpus = transcripts_df(spark, n_conv=TRANSCRIPTS_N_CONV, n_partitions=8)
    ids = [r["conv_id"] for r in corpus.select("conv_id").distinct()
           .orderBy("conv_id").limit(CONV_DUP_N).collect()]
    dups = corpus.filter(F.col("conv_id").isin(ids)).withColumn(
        "conv_id", F.concat(F.col("conv_id"), F.lit("_dup")))
    full = corpus.unionByName(dups)
    return conversation_duplicates(full).select(
        "conv_id", "canonical_conv", "group_size")


def _transcripts_pidx(spark: SparkSession):
    import os
    import tempfile

    from searchengine_spark.fixtures.transcripts import transcripts_df
    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index

    cfg = _transcripts_cfg()
    path = os.path.join(tempfile.gettempdir(), "se_spark_entry_idx_filtered")
    corpus = transcripts_df(spark, n_conv=TRANSCRIPTS_N_CONV, n_partitions=8)
    _build_packed_once(path, lambda: build_packed_index(
        corpus, cfg, path, chunk_docs=256))
    return load_packed_index(spark, path), corpus, cfg


def q_has_child(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES has_child (query/parentchild.py): conversations ranked by
    their matching turns' combined BM25 — score_mode=sum over the
    score-all surface (a top-k cut would drop many-mid-turn parents),
    ES min_children=2. The natural transcripts join: parent =
    conversation, child = turn. Brute-combine gates at all four
    score modes in tests/test_parentchild.py."""
    from searchengine_spark.query.parentchild import has_child_topk

    pidx, _, cfg = _transcripts_pidx(spark)
    return has_child_topk(
        pidx, TRANSCRIPTS_QUERIES, cfg, score_mode="sum",
        min_children=HAS_CHILD_MIN, k=10, round_dp=6)


def q_children_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES children aggregation (query/parentchild.py
    children_terms_agg): step from each query's QUALIFYING conversations
    (the has_child sum-combine set, min_children=2) down to ALL their
    turns — matched or not, the ES children-agg coverage — and bucket
    the child 'role' attribute, top-5 by (count desc, value asc). The
    oracle reuses the has_child parent chain and joins the whole turn
    set back through the attribute VALUES."""
    from searchengine_spark.query.parentchild import children_terms_agg

    pidx, corpus, cfg = _transcripts_pidx(spark)
    attrs = corpus.select("conv_id", "turn_idx", "role")
    return children_terms_agg(
        pidx, TRANSCRIPTS_QUERIES, cfg, attrs, "role", score_mode="sum",
        min_children=HAS_CHILD_MIN, size=5, round_dp=6)


def q_has_child_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES has_child inner_hits (query/parentchild.py
    has_child_inner_hits): each top-5 conversation of the sum-combine
    ranking carries its best 3 matching turns (per-turn rounded score,
    doc_id ties) — one extra bounded window over the same score-all
    pass. Oracle: the has_child parent CTE cut to 5 joined back to
    per-turn scores with a per-(query, conv) rank window."""
    from searchengine_spark.query.parentchild import has_child_inner_hits

    pidx, _, cfg = _transcripts_pidx(spark)
    out = has_child_inner_hits(
        pidx, TRANSCRIPTS_QUERIES, cfg, score_mode="sum",
        min_children=HAS_CHILD_MIN, k=5, n_inner=3, round_dp=6)
    return out.select(
        "query_id", "conv_id",
        F.col("group_rank").cast("long").alias("group_rank"),
        F.col("hit_rank").cast("long").alias("hit_rank"),
        "doc_id", "score")


def q_has_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES has_parent (query/parentchild.py): turns of LONG conversations
    only (parent property n_turns >= 60, derived by conversation_stats
    from the docmap — no extra source scan), ranked by ordinary BM25 —
    the parent filter resolves through the doc_filter seam BEFORE the
    top-k heap (the filter_doc_ids contract). Oracle: the transcripts
    ranking restricted to conversations the VALUES corpus itself says
    are long."""
    from searchengine_spark.query.parentchild import (
        conversation_stats,
        has_parent_doc_filter,
    )
    from searchengine_spark.query.wand import bm25_topk_packed_batch, resolve_docs

    pidx, _, cfg = _transcripts_pidx(spark)
    flt = has_parent_doc_filter(
        pidx, conversation_stats(pidx),
        f"n_turns >= {HAS_PARENT_MIN_TURNS}")
    topk = bm25_topk_packed_batch(
        pidx, TRANSCRIPTS_QUERIES, cfg, k=10, round_dp=6, doc_filter=flt)
    out = resolve_docs(pidx, topk)
    return out.select(
        "query_id", "doc_id", "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        "score", F.col("rank").cast("long").alias("rank"))


def q_context_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window expansion (query/context.py): for each of the
    top-3 BM25 hits on the transcripts corpus, the ±window turns of the
    SAME conversation (−1..+2 here) — the transcript-RAG
    context-assembly step between retrieval and prompting.
    Conversation edges truncate (no padding rows), offsets are
    ctx − hit, cross-conversation turns never leak; the corpus side
    rides a broadcast range join (never shuffled, plan-gated in
    tests/test_context.py)."""
    import os
    import tempfile

    from searchengine_spark.fixtures.transcripts import transcripts_df
    from searchengine_spark.indexing.packed import build_packed_index, load_packed_index
    from searchengine_spark.query.context import with_context_turns
    from searchengine_spark.query.wand import bm25_topk_packed_batch, resolve_docs

    cfg = _transcripts_cfg()
    path = os.path.join(tempfile.gettempdir(), "se_spark_entry_idx_filtered")
    corpus = transcripts_df(spark, n_conv=TRANSCRIPTS_N_CONV, n_partitions=8)
    _build_packed_once(path, lambda: build_packed_index(
        corpus, cfg, path, chunk_docs=256))
    pidx = load_packed_index(spark, path)
    topk = bm25_topk_packed_batch(
        pidx, TRANSCRIPTS_QUERIES, cfg, k=CONTEXT_K, round_dp=6)
    hits = resolve_docs(pidx, topk)
    ctx = with_context_turns(
        hits.select("query_id", "rank", "conv_id", "turn_idx"),
        corpus, CONTEXT_NB, CONTEXT_NA, payload_cols=("role", "text"))
    return ctx.select(
        "query_id", F.col("rank").cast("long").alias("rank"), "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        F.col("ctx_turn_idx").cast("long").alias("ctx_turn_idx"),
        F.col("offset").cast("long").alias("offset"), "role", "text")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-10 over the sf0.001 documents corpus."""
    return q_bm25_topk(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "federated_sort": q_federated_sort,
        "federated_has_child": q_federated_has_child,
        "result_date_histogram": q_result_date_histogram,
        "result_cumulative_sum": q_result_cumulative_sum,
        "result_derivative": q_result_derivative,
        "result_moving_sum": q_result_moving_sum,
        "result_serial_diff": q_result_serial_diff,
        "result_bucket_sort": q_result_bucket_sort,
        "result_bucket_selector": q_result_bucket_selector,
        "result_stats_bucket": q_result_stats_bucket,
        "result_bucket_script": q_result_bucket_script,
        "result_percentiles_bucket": q_result_percentiles_bucket,
        "result_extreme_buckets": q_result_extreme_buckets,
        "result_histogram": q_result_histogram,
        "result_stats": q_result_stats,
        "result_percentiles": q_result_percentiles,
        "result_cardinality": q_result_cardinality,
        "result_range": q_result_range,
        "result_extended_stats": q_result_extended_stats,
        "result_matrix_stats": q_result_matrix_stats,
        "result_weighted_avg": q_result_weighted_avg,
        "result_top_metrics": q_result_top_metrics,
        "result_percentile_ranks": q_result_percentile_ranks,
        "result_boxplot": q_result_boxplot,
        "result_mad": q_result_mad,
        "result_multi_terms": q_result_multi_terms,
        "result_t_test": q_result_t_test,
        "result_auto_date_histogram": q_result_auto_date_histogram,
        "result_diversified": q_result_diversified,
        "result_sampler": q_result_sampler,
        "result_filters": q_result_filters,
        "result_missing": q_result_missing,
        "result_rare_terms": q_result_rare_terms,
        "result_adjacency": q_result_adjacency,
        "emb_sq8_topk": q_emb_sq8_topk,
        "emb_ivf_sq8_topk": q_emb_ivf_sq8_topk,
        "emb_pq_topk": q_emb_pq_topk,
        "emb_ivfpq_topk": q_emb_ivfpq_topk,
        "multi_match_topk": q_multi_match,
        "cross_fields_topk": q_cross_fields,
        "combined_fields_topk": q_combined_fields,
        "wildcard_search": q_wildcard_search,
        "regexp_search": q_regexp_search,
        "fuzzy_query_topk": q_fuzzy_query_topk,
        "delete_then_search": q_delete_then_search,
        "compacted_search": q_compacted_search,
        "append_then_search": q_append_then_search,
        "snapshot_search": q_snapshot_search,
        "temperature_mix": q_temperature_mix,
        "bloom_bits": q_bloom_bits,
        "sorted_sidecar": q_sorted_sidecar,
        "decay_sidecar": q_decay_sidecar,
        "sparse_blockmax": q_sparse_blockmax,
        "rescore_topk": q_rescore_topk,
        "facet_top_hits": q_facet_top_hits,
        "boolean_packed": q_boolean_packed,
        "approx_terms_agg": q_approx_terms_agg,
        "match_bool_prefix": q_match_bool_prefix,
        "temperature_weights": q_temperature_weights,
        "prefix_search": q_prefix_search,
        "faceted_search": q_faceted_search,
        "filtered_search": q_filtered_search,
        "prf_search": q_prf_search,
        "synonym_search": q_synonym_search,
        "sorted_search": q_sorted_search,
        "decay_search": q_decay_search,
        "analyze_tokens": q_analyze_tokens,
        "term_suggest": q_term_suggest,
        "term_suggest_fuzz2": q_term_suggest_fuzz2,
        "url_filter": q_url_filter,
        "field_value_factor": q_field_value_factor,
        "rank_feature": q_rank_feature,
        "random_sample": q_random_sample,
        "phrase_suggest": q_phrase_suggest,
        "significant_attrs": q_significant_attrs,
        "collapse_inner_hits": q_collapse_inner_hits,
        "pinned_search": q_pinned_search,
        "match_count": q_match_count,
        "hybrid_search": q_hybrid_search,
        "rerank_topk": q_rerank_topk,
        "explain_scores": q_explain_scores,
        "more_like_this": q_more_like_this,
        "suggest_terms": q_suggest_terms,
        "collocations": q_collocations,
        "bm25_and_topk": q_bm25_and_topk,
        "boosted_search": q_boosted_search,
        "term_vectors": q_term_vectors,
        "bool_query_topk": q_bool_query_topk,
        "boosted_terms_topk": q_boosted_terms_topk,
        "term_stats": q_term_stats,
        "bm25_topk": q_bm25_topk,
        "doc_lengths": q_doc_lengths,
        "proximity_topk": q_proximity_topk,
        "proximity_tfidf_topk": q_proximity_tfidf_topk,
        "tfidf_packed_bnc": q_tfidf_packed_bnc,
        "federated_search": q_federated_search,
        "federated_tfidf": q_federated_tfidf,
        "sharded_build_search": q_sharded_build_search,
        "sharded_merge_search": q_sharded_merge_search,
        "has_child_search": q_has_child,
        "has_child_inner": q_has_child_inner,
        "has_parent_search": q_has_parent,
        "sparse_expansion": q_sparse_expansion,
        "sparse_pruned": q_sparse_pruned,
        "geohash_grid": q_geohash_grid,
        "intervals_ordered": q_intervals_ordered,
        "intervals_unordered": q_intervals_unordered,
        "constant_score_topk": q_constant_score,
        "result_composite": q_result_composite,
        "min_should_match_cond": q_min_should_match_cond,
        "result_date_histogram_month": q_result_date_histogram_month,
        "result_string_stats": q_result_string_stats,
        "semantic_dedup": q_semantic_dedup,
        "hybrid_linear": q_hybrid_linear,
        "children_agg": q_children_agg,
        "result_normalize": q_result_normalize,
        "dsir_scores": q_dsir_scores,
        "span_within_topk": q_span_within_topk,
        "span_containing_topk": q_span_containing_topk,
        "dedup_ngram_spans": q_dedup_ngram_spans,
        "rank_eval": q_rank_eval,
        "ccnet_perplexity": q_ccnet_perplexity,
        "hll_token_registers": q_hll_token_registers,
        "conversation_dedup": q_conversation_dedup,
        "percolate_docs": q_percolate_docs,
        "stream_sessions": q_stream_sessions,
        "windowed_counts": q_windowed_counts,
        "doc_chunks": q_doc_chunks,
        "context_window": q_context_window,
        "bm25_must_not": q_bm25_must_not,
        "boolean_must_not": q_boolean_must_not,
        "significant_terms": q_significant_terms,
        "bm25_page2": q_bm25_page2,
        "search_after_page": q_search_after_page,
        "min_should_match": q_min_should_match,
        "min_should_match_pct": q_min_should_match_pct,
        "boosting_query": q_boosting_query,
        "dismax_topk": q_dismax_topk,
        "collapse_topk": q_collapse_topk,
        "bm25_topk_batch": q_bm25_topk_batch,
        "boolean_and": q_boolean_and,
        "boolean_or": q_boolean_or,
        "docid_dense": q_docid_dense,
        "positional_index": q_positional_index,
        "phrase_topk": q_phrase_topk,
        "phrase_slop_topk": q_phrase_slop_topk,
        "phrase_prefix_topk": q_phrase_prefix_topk,
        "minspan_topk": q_minspan_topk,
        "span_first_topk": q_span_first_topk,
        "span_not_topk": q_span_not_topk,
        "terms_set_topk": q_terms_set_topk,
        "highlight_topk": q_highlight_topk,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash": q_dedup_minhash,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_simhash": q_dedup_simhash,
        "dedup_jaccard_on_lsh": q_dedup_jaccard_on_lsh,
        "dedup_simhash_near": q_dedup_simhash_near,
        "dedup_clusters": q_dedup_clusters,
        "decontamination": q_decontamination,
        "pii_redact": q_pii_redact,
        "dataset_split": q_dataset_split,
        "dataset_mix": q_dataset_mix,
        "dataset_shuffle": q_dataset_shuffle,
        "pack_sequences": q_pack_sequences,
        "c4_line_filter": q_c4_line_filter,
        "c4_doc_filter": q_c4_doc_filter,
        "c4_span_dedup": q_c4_span_dedup,
        "fuzzy_correct": q_fuzzy_correct,
        "clean_pipeline": q_clean_pipeline,
        "emb_cosine_topk": q_emb_cosine_topk,
        "emb_threshold_topk": q_emb_threshold_topk,
        "emb_filtered_topk": q_emb_filtered_topk,
        "emb_ivf_filtered_topk": q_emb_ivf_filtered_topk,
        "emb_ivf_topk": q_emb_ivf_topk,
        "emb_ivf_recall": q_emb_ivf_recall,
        "emb_ivf_recall_clustered": q_emb_ivf_recall_clustered,
        "emb_near_pairs": q_emb_near_pairs,
        "emb_near_pairs_bucketed": q_emb_near_pairs_bucketed,
        "lang_id": q_lang_id,
        "quality_score": q_quality_score,
        "repetition_stats": q_repetition_stats,
        "token_stats": q_token_stats,
        "pack_chunks": q_pack_chunks,
        "pack_greedy": q_pack_greedy,
        "pack_greedy_ffd": q_pack_greedy_ffd,
        "doc_fingerprints": q_doc_fingerprints,
        "multimodal_features": q_multimodal_features,
        "multimodal_resize": q_multimodal_resize,
        "multimodal_frames": q_multimodal_frames,
        "tfidf_topk": q_tfidf_topk,
        "packed_wand_topk": q_packed_wand_topk,
        "tfidf_packed_topk": q_tfidf_packed_topk,
        "transcripts_wand_topk": q_transcripts_wand_topk,
    }


def _proximity_pairs(qids: list[int]) -> list[tuple[int, int, int, int, str, str]]:
    """Static twin of proximity._calculate_boost's pair loop: FULL token
    list (duplicates kept), 1-based i, j2 = i+j+1 (the reference's
    off-by-one 'query distance' quirk, bm25_positional.py:66-71), equal
    terms skipped -> (query_id, i, j2, qd, term1, term2)."""
    rows = []
    for qid in qids:
        toks = tokenize_text(QUERY_STRINGS[qid], CFG)
        for i, t1 in enumerate(toks, start=1):
            for j, t2 in enumerate(toks[i:], start=1):
                if t1 == t2:
                    continue
                j2 = j + i + 1
                rows.append((qid, i, j2, j2 - i, t1, t2))
    return rows


def _boost_ctes(qids: list[int]) -> str:
    """DuckDB replica of the positional boost (proximity.py:61-93 ==
    reference bm25_positional.py:33-76): needs `tok` in scope; yields
    `boost(query_id, doc_id, boost)`."""
    import math as _math

    pairs = _proximity_pairs(qids)
    vals = ",\n".join(
        f"({q}, {i}, {j2}, {qd}, {_sql_quote(t1)}, {_sql_quote(t2)})"
        for q, i, j2, qd, t1, t2 in pairs
    )
    terms = sorted({t for p in pairs for t in (p[4], p[5])})
    in_list = ", ".join(_sql_quote(t) for t in terms)
    c = repr(_math.log10(15.0))
    return f"""
qpairs(query_id, i, j2, qd, term1, term2) AS (VALUES
{vals}
),
posed AS (
  SELECT doc_id, tokens[i + 1] AS term, i AS pos
  FROM tok, (SELECT unnest(range(10000)) AS i)
  WHERE i < len(tokens) AND tokens[i + 1] IN ({in_list})
),
pdist AS (
  SELECT qp.query_id, qp.i, qp.j2, a.doc_id, a.pos AS p1,
         (CASE WHEN b.pos - a.pos < 0 THEN -1 ELSE 1 END)
           * (qp.qd - (b.pos - a.pos)) AS distance
  FROM qpairs qp
  JOIN posed a ON a.term = qp.term1
  JOIN posed b ON b.term = qp.term2 AND b.doc_id = a.doc_id
  WHERE abs(b.pos - a.pos) <= 10
),
auxv AS (
  SELECT query_id, i, j2, doc_id, p1,
         max(CASE WHEN distance >= 0
                  THEN -log10(distance + 1.0) + {c}
                  ELSE (log10(-distance + 1.0) + {c}) * 0.8 END) AS max_aux
  FROM pdist GROUP BY query_id, i, j2, doc_id, p1
),
btotal AS (
  SELECT query_id, doc_id, sum(greatest(max_aux, 0.0)) AS total
  FROM auxv GROUP BY query_id, doc_id
),
boost AS (
  SELECT query_id, doc_id,
         CASE WHEN total > 0 THEN log10(total) ELSE 0.0 END AS boost
  FROM btotal
)
"""


def oracle_sql() -> dict[str, str]:
    sqls: dict[str, str] = {}

    # 4-nibble md5 prefix -> 0..65535, the Spark _hash16 twin
    def _hash16_sql(arg: str, salt: str) -> str:
        h = f"md5('{salt}' || '|' || {arg})"
        return (
            f"((strpos('0123456789abcdef', substr({h}, 1, 1)) - 1) * 4096"
            f" + (strpos('0123456789abcdef', substr({h}, 2, 1)) - 1) * 256"
            f" + (strpos('0123456789abcdef', substr({h}, 3, 1)) - 1) * 16"
            f" + (strpos('0123456789abcdef', substr({h}, 4, 1)) - 1))"
        )

    sqls["term_stats"] = f"""
WITH {_INDEX_CTES}
SELECT term, df, sum_tf.total_tf, idf
FROM term_stats
JOIN (SELECT term, sum(tf)::BIGINT AS total_tf FROM idx GROUP BY term) sum_tf
  USING (term)
ORDER BY df DESC, term ASC LIMIT 200
"""

    sqls["doc_lengths"] = f"""
WITH {_INDEX_CTES}
SELECT doc_id, dl, dl_norm FROM dln
"""

    sqls["bm25_topk"] = f"""
WITH {_INDEX_CTES},
{_bm25_scored_cte(0)}
SELECT doc_id, round(s, 6) AS score
FROM scored ORDER BY round(s, 6) DESC, doc_id ASC LIMIT 10
"""

    batch_selects = []
    for qid in sorted(QUERY_STRINGS):
        terms = _sql_term_list(_qterms(qid))
        batch_selects.append(
            f"SELECT {qid} AS query_id, term FROM (SELECT unnest({terms}) AS term)"
        )
    batch_q = " UNION ALL ".join(batch_selects)
    sqls["bm25_topk_batch"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
scored AS (
  SELECT q.query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN q USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx.doc_id
),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, doc_id, score, rank FROM ranked WHERE rank <= 5
"""

    # packed serving path: same BM25 math as bm25_topk_batch (the packed
    # index stores EXACTLY round(dl/avgdl,3) via dlq quantization and 3dp
    # idf), ranked by the 6dp-rounded score — the oracle never sees the
    # postings encoding, which is the point: compressed serving must equal
    # plain SQL over the raw corpus
    sqls["packed_wand_topk"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
scored AS (
  SELECT q.query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN q USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx.doc_id
),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, doc_id, score, rank FROM ranked WHERE rank <= 10
"""

    # ---- ES rescore: primary WAND window (rank <= RESCORE_WINDOW over the
    # rounded batch ranking), secondary score-all LEFT-joined onto the
    # window, combined = qw*p + rqw*s when matched else qw*p, re-ranked
    rq_selects = []
    for qid in sorted(RESCORE_QUERIES):
        rterms = _sql_term_list(
            list(dict.fromkeys(tokenize_text(RESCORE_QUERIES[qid], CFG))))
        rq_selects.append(
            f"SELECT {qid} AS query_id, term FROM (SELECT unnest({rterms}) AS term)"
        )
    rbatch_q = " UNION ALL ".join(rq_selects)
    sqls["rescore_topk"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
pscored AS (
  SELECT q.query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN q USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx.doc_id
),
pwin AS (
  SELECT query_id, doc_id, round(s, 6) AS p,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC) AS prank
  FROM pscored
),
rq AS ({rbatch_q}),
sscored AS (
  SELECT rq.query_id, idx.doc_id, round(sum({_bm25_contrib_sql()}), 6) AS s2
  FROM idx JOIN rq USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  GROUP BY rq.query_id, idx.doc_id
),
comb AS (
  SELECT w.query_id, w.doc_id, w.p, s.s2,
         round(CASE WHEN s.s2 IS NULL THEN {RESCORE_QW} * w.p
                    ELSE {RESCORE_QW} * w.p + {RESCORE_RQW} * s.s2 END,
               6) AS c
  FROM pwin w LEFT JOIN sscored s USING (query_id, doc_id)
  WHERE w.prank <= {RESCORE_WINDOW}
),
ranked AS (
  SELECT query_id, doc_id, p, s2, c,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY c DESC, doc_id ASC) AS rank
  FROM comb
)
SELECT query_id, doc_id, p AS "primary", s2 AS secondary, c AS score, rank
FROM ranked WHERE rank <= 10
"""

    # paging: the SAME ranking, page [10, 20) with absolute ranks
    sqls["bm25_page2"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
scored AS (
  SELECT q.query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN q USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx.doc_id
),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, doc_id, score, rank FROM ranked
WHERE rank > 10 AND rank <= 20
"""

    # cursor paging: the SAME ranking's ranks (10, 20], re-based to the
    # PAGE-RELATIVE 1..10 the search_after contract emits — exact because
    # cursor pages partition the ranking prefix under the rounded-score +
    # doc_id-asc total order
    sqls["search_after_page"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
scored AS (
  SELECT q.query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN q USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx.doc_id
),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, doc_id, score, rank - 10 AS rank FROM ranked
WHERE rank > 10 AND rank <= 20
"""

    # boosting query: each query demotes the FIRST token of the next
    # query; demoted docs LEFT-JOIN in and multiply by 0.5 pre-rounding
    qids_sorted = sorted(QUERY_STRINGS)
    dem_selects = " UNION ALL ".join(
        f"SELECT {i} AS query_id, "
        f"{_sql_quote(_qterms(qids_sorted[(i + 1) % len(qids_sorted)])[0])} AS term"
        for i in range(len(qids_sorted))
    )
    sqls["boosting_query"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
dq AS ({dem_selects}),
sunk AS (
  SELECT DISTINCT dq.query_id, idx.doc_id
  FROM idx JOIN dq USING (term)
),
scored AS (
  SELECT q.query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN q USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx.doc_id
),
final AS (
  SELECT s.query_id, s.doc_id,
         CASE WHEN k.doc_id IS NOT NULL THEN s.s * 0.5 ELSE s.s END AS s
  FROM scored s
  LEFT JOIN sunk k ON k.query_id = s.query_id AND k.doc_id = s.doc_id
),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
  FROM final
)
SELECT query_id, doc_id, score, rank FROM ranked WHERE rank <= 10
"""

    # dis_max: per-(user, sub, doc) scores, then max + 0.3*(sum-max)
    dm_selects = []
    _nq = len(qids_sorted)
    for uq, (a, b) in enumerate([(0, 1 % _nq), (2 % _nq, 3 % _nq)]):
        for sub, qpos in enumerate((a, b)):
            terms = _sql_term_list(_qterms(qids_sorted[qpos]))
            dm_selects.append(
                f"SELECT {uq} AS uq, {sub} AS sub, term "
                f"FROM (SELECT unnest({terms}) AS term)"
            )
    sqls["dismax_topk"] = f"""
WITH {_INDEX_CTES},
q AS ({' UNION ALL '.join(dm_selects)}),
scored AS (
  SELECT q.uq, q.sub, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN q USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  GROUP BY q.uq, q.sub, idx.doc_id
),
comb AS (
  SELECT uq AS query_id, doc_id,
         max(s) + 0.3 * (sum(s) - max(s)) AS s
  FROM scored GROUP BY uq, doc_id
),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
  FROM comb
)
SELECT query_id, doc_id, score, rank FROM ranked WHERE rank <= 10
"""

    # minimum_should_match: the same ranking with a coverage floor —
    # HAVING count(*) >= 2 (idx is unique per (term, doc))
    sqls["min_should_match"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
scored AS (
  SELECT q.query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN q USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx.doc_id
  HAVING count(*) >= 2
),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, doc_id, score, rank FROM ranked WHERE rank <= 10
"""

    # msm value grammar: the '67%' spec resolved per query at SQL-gen
    # time (same resolver the engine uses) -> per-query HAVING floors
    from searchengine_spark.query.msm import msm_map as _msm_map

    _pct_floors = _msm_map(
        MSM_PCT_SPEC, [QUERY_STRINGS[q] for q in sorted(QUERY_STRINGS)], CFG)
    _pct_having = " OR ".join(
        f"(q.query_id = {qid} AND count(*) >= {floor})"
        for qid, floor in sorted(_pct_floors.items()))
    sqls["min_should_match_pct"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
scored AS (
  SELECT q.query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN q USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx.doc_id
  HAVING {_pct_having}
),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, doc_id, score, rank FROM ranked WHERE rank <= 10
"""

    # msm CONDITIONAL grammar '3<67% 5<-2': the per-query floor derives
    # IN SQL from the query CTE's own distinct-term count (the Solr
    # walk as a CASE over n), independent of the Python resolver
    sqls["min_should_match_cond"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
qn AS (
  SELECT query_id, count(DISTINCT term)::BIGINT AS n FROM q GROUP BY query_id
),
floors AS (
  SELECT query_id,
         CASE WHEN n <= 3 THEN n
              WHEN n <= 5 THEN greatest(1, n * 67 // 100)
              ELSE greatest(1, n - 2) END AS m
  FROM qn
),
scored AS (
  SELECT q.query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN q USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  JOIN floors f ON f.query_id = q.query_id
  GROUP BY q.query_id, idx.doc_id
  HAVING count(*) >= min(f.m)
),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, doc_id, score, rank FROM ranked WHERE rank <= 10
"""

    # ---- CCNet perplexity: unigram counts -> floor-quantized micro-nat
    # lp table -> exact-integer smoothing + truncated division -> rank
    # thirds; reuses the exploded-tokens CTE
    from searchengine_spark.textops.perplexity import LN_SCALE as LN_SCALE_ENTRY

    # ---- DSIR: hashed unigram+bigram features, target vs raw bucket
    # models, floor-quantized micro-nat logs, exact BIGINT weights
    _dsir_h16 = _hash16_sql("f", "ds")
    sqls["dsir_scores"] = f"""
WITH tok AS (
  SELECT doc_id, source, {_TOK_SQL} AS tokens FROM documents
),
feats AS (
  SELECT doc_id, source,
         unnest(tokens ||
                [tokens[i+1] || ' ' || tokens[i+2]
                 for i in range(greatest(len(tokens) - 1, 0))]) AS f
  FROM tok
),
fb AS (
  SELECT doc_id, source, ({_dsir_h16}) % {DSIR_B} AS bucket FROM feats
),
tm AS (
  SELECT bucket, count(*)::BIGINT AS cnt FROM fb
  WHERE source IN {DSIR_TARGET_SRC!r} GROUP BY bucket
),
rm AS (SELECT bucket, count(*)::BIGINT AS cnt FROM fb GROUP BY bucket),
consts AS (
  SELECT floor(1000000 * ln(((SELECT coalesce(sum(cnt), 0) FROM tm)
                             + {DSIR_B})::DOUBLE))::BIGINT
         - floor(1000000 * ln(((SELECT coalesce(sum(cnt), 0) FROM rm)
                               + {DSIR_B})::DOUBLE))::BIGINT AS c_diff
),
per_bucket AS (
  SELECT doc_id, bucket, count(*)::BIGINT AS c FROM fb
  GROUP BY doc_id, bucket
),
wsum AS (
  SELECT pb.doc_id, sum(pb.c)::BIGINT AS n_features,
         sum(pb.c * (coalesce(floor(1000000 * ln((tm.cnt + 1)::DOUBLE))::BIGINT, 0)
                     - coalesce(floor(1000000 * ln((rm.cnt + 1)::DOUBLE))::BIGINT, 0))
         )::BIGINT AS s
  FROM per_bucket pb
  LEFT JOIN tm ON tm.bucket = pb.bucket
  LEFT JOIN rm ON rm.bucket = pb.bucket
  GROUP BY pb.doc_id
)
SELECT doc_id, n_features,
       (s - n_features * (SELECT c_diff FROM consts))::BIGINT AS weight_micro
FROM wsum
"""

    sqls["ccnet_perplexity"] = f"""
WITH {_INDEX_CTES},
lm AS (SELECT term, count(*)::BIGINT AS cnt FROM exploded GROUP BY term),
tot AS (SELECT sum(cnt)::BIGINT AS n, count(*)::BIGINT AS v FROM lm),
lp AS (
  SELECT term, floor({LN_SCALE_ENTRY} * ln((cnt + 1)::DOUBLE))::BIGINT AS lp
  FROM lm
),
den AS (
  SELECT floor({LN_SCALE_ENTRY} * ln((n + v + 1)::DOUBLE))::BIGINT AS d FROM tot
),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM exploded
  GROUP BY doc_id, term
),
sc AS (
  SELECT tf.doc_id, sum(tf.tf)::BIGINT AS n_tokens,
         sum(tf.tf * lp.lp)::BIGINT AS slp
  FROM tf JOIN lp USING (term) GROUP BY tf.doc_id
),
ce AS (
  SELECT doc_id, n_tokens,
         ((n_tokens * (SELECT d FROM den) - slp) // n_tokens)::BIGINT AS ce_micro
  FROM sc
),
rk AS (
  SELECT *, row_number() OVER (ORDER BY ce_micro ASC, doc_id ASC) - 1 AS r,
         count(*) OVER () AS nn
  FROM ce
)
SELECT doc_id, n_tokens, ce_micro,
       CASE WHEN r * 3 < nn THEN 'head'
            WHEN r * 3 < 2 * nn THEN 'middle'
            ELSE 'tail' END AS bucket
FROM rk
"""

    # ---- result-set aggregations: the top-10 hit window per query
    # (the SAME ranked CTE), then ES histogram buckets
    # (floor(v/interval)*interval) and exact stats over n_chars
    _hits10 = f"""
scored AS (
  SELECT q.query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN q USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx.doc_id
),
ranked AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
  FROM scored
),
hits AS (
  SELECT query_id, doc_id FROM ranked WHERE rank <= 10
)"""
    sqls["result_histogram"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
{_hits10.strip()}
SELECT h.query_id, 'n_chars' AS col,
       floor(d.n_chars::DOUBLE / {HIST_INTERVAL}) * {HIST_INTERVAL} AS bucket,
       count(*)::BIGINT AS n
FROM hits h JOIN documents d USING (doc_id)
WHERE d.n_chars IS NOT NULL
GROUP BY h.query_id, bucket
ORDER BY h.query_id, bucket
"""
    sqls["result_stats"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
{_hits10.strip()}
SELECT h.query_id, 'n_chars' AS col,
       count(*)::BIGINT AS n,
       min(d.n_chars::DOUBLE) AS min,
       max(d.n_chars::DOUBLE) AS max,
       sum(d.n_chars::DOUBLE) AS sum
FROM hits h JOIN documents d USING (doc_id)
WHERE d.n_chars IS NOT NULL
GROUP BY h.query_id
ORDER BY h.query_id
"""

    # ---- percentiles: nearest-rank over the same top-10 hit window —
    # row_number joined to the computed integer index (pct*n + 99) // 100
    sqls["result_percentiles"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
{_hits10.strip()},
vals AS (
  SELECT h.query_id, 'n_chars' AS col, d.n_chars::DOUBLE AS v
  FROM hits h JOIN documents d USING (doc_id)
  WHERE d.n_chars IS NOT NULL
),
srt AS (
  SELECT query_id, col, v,
         row_number() OVER (PARTITION BY query_id, col ORDER BY v ASC) AS rn,
         count(*) OVER (PARTITION BY query_id, col) AS n
  FROM vals
),
p AS (SELECT unnest([25, 50, 75, 100]) AS pct)
SELECT s.query_id, s.col, p.pct::BIGINT AS pct, s.v AS value
FROM srt s JOIN p ON s.rn = greatest(1, (p.pct * s.n + 99) // 100)
ORDER BY query_id, col, pct
"""

    # ---- cardinality: exact distinct counts per attribute column over
    # the same hit window (NULLs skipped — count(DISTINCT) semantics)
    sqls["result_cardinality"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
{_hits10.strip()}
SELECT query_id, col, n_distinct FROM (
  SELECT h.query_id, 'lang' AS col, count(DISTINCT d.lang)::BIGINT AS n_distinct
  FROM hits h JOIN documents d USING (doc_id) GROUP BY h.query_id
  UNION ALL
  SELECT h.query_id, 'source' AS col, count(DISTINCT d.source)::BIGINT
  FROM hits h JOIN documents d USING (doc_id) GROUP BY h.query_id
) ORDER BY query_id, col
"""

    # ---- range agg: explicit [from, to) buckets over the same hit
    # window — theta containment join (overlaps count twice), then a
    # NULL-safe left join restores the n=0 buckets ES always emits
    _range_rows = ", ".join(
        f"({'CAST(NULL AS DOUBLE)' if lo is None else float(lo)}, "
        f"{'CAST(NULL AS DOUBLE)' if hi is None else float(hi)})"
        for lo, hi in RANGE_BUCKETS
    )
    sqls["result_range"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
{_hits10.strip()},
ranges AS (
  SELECT * FROM (VALUES {_range_rows}) AS t(range_from, range_to)
),
vals AS (
  SELECT h.query_id, d.n_chars::DOUBLE AS v
  FROM hits h JOIN documents d USING (doc_id)
  WHERE d.n_chars IS NOT NULL
),
counts AS (
  SELECT v.query_id, r.range_from, r.range_to, count(*)::BIGINT AS n
  FROM vals v JOIN ranges r
    ON (r.range_from IS NULL OR v.v >= r.range_from)
   AND (r.range_to IS NULL OR v.v < r.range_to)
  GROUP BY v.query_id, r.range_from, r.range_to
)
SELECT b.query_id, 'n_chars' AS col, r.range_from, r.range_to,
       coalesce(c.n, 0)::BIGINT AS n
FROM (SELECT DISTINCT query_id FROM hits) b
CROSS JOIN ranges r
LEFT JOIN counts c ON c.query_id = b.query_id
  AND c.range_from IS NOT DISTINCT FROM r.range_from
  AND c.range_to IS NOT DISTINCT FROM r.range_to
ORDER BY b.query_id, r.range_from NULLS FIRST, r.range_to NULLS LAST
"""

    # ---- significant attrs: JLH lift of hit-window source values vs
    # the corpus background, identical float expression both engines
    sqls["significant_attrs"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
{_hits10.strip()},
fgt AS (
  SELECT query_id, count(*)::BIGINT AS fg_total FROM hits GROUP BY query_id
),
fg AS (
  SELECT h.query_id, d.source AS value, count(*)::BIGINT AS fg_count
  FROM hits h JOIN documents d USING (doc_id)
  WHERE d.source IS NOT NULL
  GROUP BY h.query_id, d.source
  HAVING count(*) >= 2
),
bg AS (
  SELECT source AS value, count(*)::BIGINT AS bg_count
  FROM documents WHERE source IS NOT NULL GROUP BY source
),
tot AS (SELECT count(*)::BIGINT AS bg_total FROM documents),
sc AS (
  SELECT fg.query_id, 'source' AS facet, fg.value, fg.fg_count,
         bg.bg_count,
         (fg.fg_count::DOUBLE / fgt.fg_total
          - bg.bg_count::DOUBLE / (SELECT bg_total FROM tot))
         * ((fg.fg_count::DOUBLE / fgt.fg_total)
            / (bg.bg_count::DOUBLE / (SELECT bg_total FROM tot))) AS s
  FROM fg JOIN fgt USING (query_id) JOIN bg USING (value)
),
sig_ranked AS (
  SELECT query_id, facet, value, fg_count, bg_count,
         round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id, facet
                            ORDER BY round(s, 6) DESC, value ASC) AS rank
  FROM sc WHERE s > 0.0
)
SELECT query_id, facet, value, fg_count, bg_count, score,
       rank::BIGINT AS rank
FROM sig_ranked WHERE rank <= 10
"""

    # ---- filters agg: named predicate buckets, run VERBATIM (the
    # Spark∩DuckDB predicate dialect convention) over the LEFT-joined
    # hit window; CASE..ELSE 0 mirrors when().otherwise(0) on NULL
    # predicates, all buckets emit incl. n=0
    _filter_arms = "\n  UNION ALL\n".join(
        f"""  SELECT h.query_id, '{name}' AS filter_name,
         sum(CASE WHEN {pred} THEN 1 ELSE 0 END)::BIGINT AS n
  FROM hits h LEFT JOIN documents d ON h.doc_id = d.doc_id
  GROUP BY h.query_id""".replace("lang", "d.lang")
        .replace("n_chars", "d.n_chars").replace("source", "d.source")
        for name, pred in FILTER_BUCKETS
    )
    sqls["result_filters"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
{_hits10.strip()}
SELECT query_id, filter_name, n FROM (
{_filter_arms}
) ORDER BY query_id, filter_name
"""

    # ---- missing agg: the NULLs-skip mirror — count hits with NO value
    # per column through the same LEFT join, n=0 rows always emit
    sqls["result_missing"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
{_hits10.strip()}
SELECT query_id, col, n FROM (
  SELECT h.query_id, 'lang' AS col,
         sum(CASE WHEN d.lang IS NULL THEN 1 ELSE 0 END)::BIGINT AS n
  FROM hits h LEFT JOIN documents d USING (doc_id) GROUP BY h.query_id
  UNION ALL
  SELECT h.query_id, 'source' AS col,
         sum(CASE WHEN d.source IS NULL THEN 1 ELSE 0 END)::BIGINT
  FROM hits h LEFT JOIN documents d USING (doc_id) GROUP BY h.query_id
) ORDER BY query_id, col
"""

    # ---- rare_terms: the long-tail mirror of the terms agg — HAVING
    # count <= max_doc_count, no top-k cut, rarest first
    sqls["result_rare_terms"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
{_hits10.strip()}
SELECT h.query_id, 'source' AS facet, d.source AS value,
       count(*)::BIGINT AS n
FROM hits h JOIN documents d USING (doc_id)
WHERE d.source IS NOT NULL
GROUP BY h.query_id, d.source
HAVING count(*) <= 2
ORDER BY h.query_id, n ASC, value ASC
"""

    # ---- adjacency_matrix: singletons + pairwise intersections of the
    # SAME FILTER_BUCKETS predicates, non-empty buckets only (the
    # contract divergence from filters agg), key pairs name-sorted
    _adj_arms = []
    for i, (na, pa) in enumerate(FILTER_BUCKETS):
        for j, (nb, pb) in enumerate(FILTER_BUCKETS):
            if j < i:
                continue
            ka, kb = sorted((na, nb))
            cond = pa if i == j else f"({pa}) AND ({pb})"
            cond = (cond.replace("lang", "d.lang")
                    .replace("n_chars", "d.n_chars")
                    .replace("source", "d.source"))
            _adj_arms.append(
                f"""  SELECT h.query_id, '{ka}' AS key_a, '{kb}' AS key_b,
         sum(CASE WHEN {cond} THEN 1 ELSE 0 END)::BIGINT AS n
  FROM hits h LEFT JOIN documents d ON h.doc_id = d.doc_id
  GROUP BY h.query_id""")
    sqls["result_adjacency"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
{_hits10.strip()}
SELECT query_id, key_a, key_b, n FROM (
{chr(10).join(a + (chr(10) + "  UNION ALL" if i < len(_adj_arms) - 1 else "")
              for i, a in enumerate(_adj_arms))}
) WHERE n > 0 ORDER BY query_id, key_a, key_b
"""

    # ---- extended_stats: BIGINT moments + the integer variance numerator
    sqls["result_extended_stats"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
{_hits10.strip()},
vals AS (
  SELECT h.query_id, floor(d.n_chars)::BIGINT AS v
  FROM hits h JOIN documents d USING (doc_id)
  WHERE d.n_chars IS NOT NULL
),
agg AS (
  SELECT query_id, count(*)::BIGINT AS n, sum(v)::BIGINT AS sum,
         sum(v * v)::BIGINT AS sum_sq
  FROM vals GROUP BY query_id
)
SELECT query_id, 'n_chars' AS col, n, sum, sum_sq,
       (n * sum_sq - sum * sum)::BIGINT AS var_num
FROM agg ORDER BY query_id
"""

    # ---- matrix_stats: pairwise-complete integer covariance numerator
    sqls["result_matrix_stats"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
{_hits10.strip()},
vals AS (
  SELECT h.query_id, floor(d.doc_id)::BIGINT AS x,
         floor(d.n_chars)::BIGINT AS y
  FROM hits h JOIN documents d USING (doc_id)
  WHERE d.doc_id IS NOT NULL AND d.n_chars IS NOT NULL
),
agg AS (
  SELECT query_id, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
         sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy
  FROM vals GROUP BY query_id
)
SELECT query_id, 'doc_id' AS col_a, 'n_chars' AS col_b, n,
       (n * sxy - sx * sy)::BIGINT AS cov_num
FROM agg ORDER BY query_id
"""

    # ---- weighted_avg: exact numerator/denominator pair (DOUBLE sums
    # of integer-valued products — order-independent), ratio client-side
    sqls["result_weighted_avg"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
{_hits10.strip()},
vals AS (
  SELECT h.query_id, d.n_chars::DOUBLE AS v,
         ((d.doc_id % 7) + 1)::DOUBLE AS w
  FROM hits h JOIN documents d USING (doc_id)
  WHERE d.n_chars IS NOT NULL
)
SELECT query_id, count(*)::BIGINT AS n, sum(v * w) AS wsum,
       sum(w) AS wtot
FROM vals GROUP BY query_id ORDER BY query_id
"""

    # ---- top_metrics: metric values carried by the 3 largest-n_chars
    # hits, doc_id-ascending tiebreak, NULL sort values skipped
    sqls["result_top_metrics"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
{_hits10.strip()},
vals AS (
  SELECT h.query_id, d.n_chars, d.lang, d.source,
         row_number() OVER (PARTITION BY h.query_id
                            ORDER BY d.n_chars DESC, h.doc_id ASC) AS pos
  FROM hits h JOIN documents d USING (doc_id)
  WHERE d.n_chars IS NOT NULL
)
SELECT query_id, pos::BIGINT AS pos, n_chars, lang, source
FROM vals WHERE pos <= 3 ORDER BY query_id, pos
"""

    # ---- percentile_ranks: exact empirical-CDF count pairs per probe
    _probes = ", ".join(repr(v) for v in PR_PROBES)
    sqls["result_percentile_ranks"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
{_hits10.strip()},
vals AS (
  SELECT h.query_id, 'n_chars' AS col, d.n_chars::DOUBLE AS v
  FROM hits h JOIN documents d USING (doc_id)
  WHERE d.n_chars IS NOT NULL
),
p AS (SELECT unnest([{_probes}])::DOUBLE AS probe)
SELECT query_id, col, p.probe AS value,
       sum(CASE WHEN v <= p.probe THEN 1 ELSE 0 END)::BIGINT AS n_le,
       count(*)::BIGINT AS n
FROM vals CROSS JOIN p
GROUP BY query_id, col, p.probe
ORDER BY query_id, col, value
"""

    # ---- boxplot: five-number summary, nearest-rank quartiles — the
    # same (p*n+99) div 100 element pick as the percentiles oracle
    sqls["result_boxplot"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
{_hits10.strip()},
vals AS (
  SELECT h.query_id, 'n_chars' AS col, d.n_chars::DOUBLE AS v
  FROM hits h JOIN documents d USING (doc_id)
  WHERE d.n_chars IS NOT NULL
),
srt AS (
  SELECT query_id, col, v,
         row_number() OVER (PARTITION BY query_id, col ORDER BY v ASC) AS rn,
         count(*) OVER (PARTITION BY query_id, col) AS n
  FROM vals
)
SELECT query_id, col,
       max(CASE WHEN rn = 1 THEN v END) AS min,
       max(CASE WHEN rn = greatest(1, (25 * n + 99) // 100) THEN v END) AS q1,
       max(CASE WHEN rn = greatest(1, (50 * n + 99) // 100) THEN v END) AS q2,
       max(CASE WHEN rn = greatest(1, (75 * n + 99) // 100) THEN v END) AS q3,
       max(CASE WHEN rn = n THEN v END) AS max
FROM srt GROUP BY query_id, col ORDER BY query_id, col
"""

    # ---- median_absolute_deviation: nearest-rank median of |x - m|
    sqls["result_mad"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
{_hits10.strip()},
vals AS (
  SELECT h.query_id, 'n_chars' AS col, d.n_chars::DOUBLE AS v
  FROM hits h JOIN documents d USING (doc_id)
  WHERE d.n_chars IS NOT NULL
),
srt AS (
  SELECT query_id, col, v,
         row_number() OVER (PARTITION BY query_id, col ORDER BY v ASC) AS rn,
         count(*) OVER (PARTITION BY query_id, col) AS n
  FROM vals
),
med AS (
  SELECT query_id, col, v AS median
  FROM srt WHERE rn = greatest(1, (50 * n + 99) // 100)
),
dsrt AS (
  SELECT s.query_id, s.col, m.median, abs(s.v - m.median) AS d,
         row_number() OVER (PARTITION BY s.query_id, s.col
                            ORDER BY abs(s.v - m.median) ASC) AS rn,
         count(*) OVER (PARTITION BY s.query_id, s.col) AS n
  FROM srt s JOIN med m USING (query_id, col)
)
SELECT query_id, col, median, d AS mad
FROM dsrt WHERE rn = greatest(1, (50 * n + 99) // 100)
ORDER BY query_id, col
"""

    # ---- multi_terms: (source, lang) tuple buckets, count-desc with
    # the top-3 cut, value-tuple-ascending tiebreak, NULLs drop the doc
    sqls["result_multi_terms"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
{_hits10.strip()},
vals AS (
  SELECT h.query_id, d.source, d.lang
  FROM hits h JOIN documents d USING (doc_id)
  WHERE d.source IS NOT NULL AND d.lang IS NOT NULL
),
b AS (
  SELECT query_id, source, lang, count(*)::BIGINT AS n
  FROM vals GROUP BY query_id, source, lang
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY n DESC, source ASC, lang ASC) AS rank
  FROM b
)
SELECT query_id, rank::BIGINT AS rank, source, lang, n
FROM r WHERE rank <= 3 ORDER BY query_id, rank
"""

    # ---- rank_eval: exact rated-retrieval numerators at k=5 —
    # synthesized ratings (doc_id%3==0, grade 1+doc_id%2, threshold 2)
    sqls["rank_eval"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
{_hits10.strip()},
rated AS (
  SELECT doc_id, (1 + doc_id % 2)::INT AS grade
  FROM documents WHERE doc_id % 3 = 0
),
topk AS (
  SELECT query_id, doc_id, rank FROM ranked WHERE rank <= 5
),
j AS (
  SELECT t.query_id, t.rank, r.grade
  FROM topk t LEFT JOIN rated r USING (doc_id)
)
SELECT query_id,
       count(*)::BIGINT AS n_returned,
       sum(CASE WHEN grade >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_rel_ret,
       (SELECT count(*) FROM rated WHERE grade >= 2)::BIGINT AS n_rel_total,
       min(CASE WHEN grade >= 2 THEN rank END)::BIGINT AS first_rel_rank
FROM j GROUP BY query_id ORDER BY query_id
"""

    # ---- t_test: exact BIGINT moments of two predicate populations —
    # the SAME predicate text verbatim, NULL value rows match neither
    sqls["result_t_test"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
{_hits10.strip()},
j AS (
  SELECT h.query_id, floor(d.n_chars)::BIGINT AS v, d.lang
  FROM hits h LEFT JOIN documents d USING (doc_id)
)
SELECT query_id,
       sum(CASE WHEN ({T_TEST_A}) AND v IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_a,
       sum(CASE WHEN ({T_TEST_A}) AND v IS NOT NULL THEN v ELSE 0 END)::BIGINT AS sum_a,
       sum(CASE WHEN ({T_TEST_A}) AND v IS NOT NULL THEN v * v ELSE 0 END)::BIGINT AS sum_sq_a,
       sum(CASE WHEN ({T_TEST_B}) AND v IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_b,
       sum(CASE WHEN ({T_TEST_B}) AND v IS NOT NULL THEN v ELSE 0 END)::BIGINT AS sum_b,
       sum(CASE WHEN ({T_TEST_B}) AND v IS NOT NULL THEN v * v ELSE 0 END)::BIGINT AS sum_sq_b
FROM j GROUP BY query_id ORDER BY query_id
"""

    # ---- string_stats: exact code-point length stats per string col +
    # the entropy numerator Σ c*floor(1e6*ln c) over the bucket's char
    # distribution (micro-nat protocol; floats derive client-side)
    sqls["result_string_stats"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
{_hits10.strip()},
vals AS (
  SELECT h.query_id, 'lang' AS col, d.lang AS v
  FROM hits h JOIN documents d USING (doc_id) WHERE d.lang IS NOT NULL
  UNION ALL
  SELECT h.query_id, 'source' AS col, d.source AS v
  FROM hits h JOIN documents d USING (doc_id) WHERE d.source IS NOT NULL
),
chars AS (
  SELECT query_id, col, unnest(string_split(v, '')) AS ch FROM vals
),
cc AS (
  SELECT query_id, col, ch, count(*)::BIGINT AS c
  FROM chars WHERE ch <> '' GROUP BY query_id, col, ch
),
ent AS (
  SELECT query_id, col,
         sum(c * floor(1000000 * ln(c))::BIGINT)::BIGINT AS entropy_num
  FROM cc GROUP BY query_id, col
)
SELECT v.query_id, v.col, count(*)::BIGINT AS n,
       min(length(v.v))::BIGINT AS len_min,
       max(length(v.v))::BIGINT AS len_max,
       sum(length(v.v))::BIGINT AS len_sum,
       coalesce(any_value(e.entropy_num), 0)::BIGINT AS entropy_num
FROM vals v LEFT JOIN ent e USING (query_id, col)
GROUP BY v.query_id, v.col ORDER BY v.query_id, v.col
"""

    # ---- auto_date_histogram: per-query ladder pick (smallest rung
    # whose span fits 10 buckets — integer div throughout), then the
    # fixed-span epoch bucketing at that rung
    from searchengine_spark.query.aggregations import AUTO_INTERVAL_LADDER

    _ladder_sql = ", ".join(str(int(i)) for i in AUTO_INTERVAL_LADDER)
    sqls["result_auto_date_histogram"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
{_hits10.strip()},
ep AS (
  SELECT h.query_id, 'ts' AS col,
         ({ADH_EPOCH0} + d.doc_id * {ADH_STRIDE})::BIGINT AS epoch
  FROM hits h JOIN documents d USING (doc_id)
),
spans AS (
  SELECT query_id, col, min(epoch) AS lo, max(epoch) AS hi
  FROM ep GROUP BY query_id, col
),
ladder AS (SELECT unnest([{_ladder_sql}])::BIGINT AS ival),
picked AS (
  SELECT query_id, col, min(ival)::BIGINT AS interval_sec
  FROM spans CROSS JOIN ladder
  WHERE (hi // ival) - (lo // ival) + 1 <= 10
  GROUP BY query_id, col
)
SELECT e.query_id, e.col, p.interval_sec,
       ((e.epoch // p.interval_sec) * p.interval_sec)::BIGINT AS bucket_epoch,
       count(*)::BIGINT AS n
FROM ep e JOIN picked p USING (query_id, col)
GROUP BY e.query_id, e.col, p.interval_sec, bucket_epoch
ORDER BY query_id, col, bucket_epoch
"""

    # ---- diversified_sampler: best-ranked hit per source value
    # survives (per-value window cut over retrieval order)
    sqls["result_sampler"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
{_hits10.strip()}
SELECT query_id, doc_id, rank::BIGINT AS rank
FROM ranked WHERE rank <= 3
ORDER BY query_id, rank
"""

    sqls["result_diversified"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
{_hits10.strip()},
j AS (
  SELECT r.query_id, r.doc_id, r.rank, d.source,
         row_number() OVER (PARTITION BY r.query_id, d.source
                            ORDER BY r.rank, r.doc_id) AS pv
  FROM ranked r LEFT JOIN documents d USING (doc_id)
  WHERE r.rank <= 10
)
SELECT query_id, doc_id, rank::BIGINT AS rank
FROM j WHERE source IS NULL OR pv <= 1
ORDER BY query_id, rank
"""

    # ---- composite aggregation: bucket groupBy over non-NULL (source,
    # lang) tuples, page 1 = rank<=3 window, page 2 = the lexicographic
    # strictly-greater resume after COMPOSITE_AFTER then re-ranked
    _ca_s, _ca_l = (_sql_quote(COMPOSITE_AFTER[0]),
                    _sql_quote(COMPOSITE_AFTER[1]))
    sqls["result_composite"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
{_hits10.strip()},
vals AS (
  SELECT h.query_id, d.source, d.lang
  FROM hits h JOIN documents d USING (doc_id)
  WHERE d.source IS NOT NULL AND d.lang IS NOT NULL
),
buckets AS (
  SELECT query_id, source, lang, count(*)::BIGINT AS n
  FROM vals GROUP BY query_id, source, lang
),
p1 AS (
  SELECT 1 AS page, query_id, source, lang, n,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY source, lang) AS bucket_rank
  FROM buckets
),
p2 AS (
  SELECT 2 AS page, query_id, source, lang, n,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY source, lang) AS bucket_rank
  FROM buckets
  WHERE source > {_ca_s} OR (source = {_ca_s} AND lang > {_ca_l})
)
SELECT page, query_id, source, lang, n, bucket_rank::BIGINT AS bucket_rank
FROM (SELECT * FROM p1 WHERE bucket_rank <= 3
      UNION ALL SELECT * FROM p2 WHERE bucket_rank <= 3)
"""

    # ---- HLL registers over the token stream: bucket = first 3 md5 hex
    # chars as an int, rho = 4*(leading zero nibbles) + clz4(first nonzero
    # nibble) + 1 over the next 12 hex chars, 49 when all-zero — string
    # arithmetic only, duplicates collapse under max for free
    sqls["hll_token_registers"] = f"""
WITH {_INDEX_CTES},
h AS (SELECT md5(term) AS hx FROM exploded),
b AS (
  SELECT ((strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 256
        + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) * 16
        + (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1))::BIGINT AS bucket,
         ltrim(substr(hx, 4, 12), '0') AS stripped
  FROM h
),
r AS (
  SELECT bucket,
         (CASE WHEN length(stripped) = 0 THEN 49
               ELSE (12 - length(stripped)) * 4
                    + CASE WHEN substr(stripped, 1, 1) = '1' THEN 3
                           WHEN substr(stripped, 1, 1) IN ('2', '3') THEN 2
                           WHEN substr(stripped, 1, 1) IN ('4', '5', '6', '7') THEN 1
                           ELSE 0 END + 1
          END)::INT AS rho
  FROM b
)
SELECT bucket, max(rho)::INT AS register FROM r GROUP BY bucket ORDER BY bucket
"""

    # ---- retrieve-then-rerank: the top-15 hit window, exact-integer
    # Jaccard over distinct token sets, floor micro-units
    rr_qtoks = []
    for qid in sorted(QUERY_STRINGS):
        terms = _sql_term_list(_qterms(qid))
        rr_qtoks.append(f"SELECT {qid} AS query_id, unnest({terms}) AS term")
    sqls["rerank_topk"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
scored AS (
  SELECT q.query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN q USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx.doc_id
),
ranked AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
  FROM scored
),
hits AS (SELECT query_id, doc_id FROM ranked WHERE rank <= {RERANK_N_CAND}),
qtok AS ({' UNION ALL '.join(rr_qtoks)}),
qsz AS (SELECT query_id, count(DISTINCT term)::BIGINT AS nq FROM qtok GROUP BY query_id),
dtok AS (SELECT DISTINCT doc_id, term FROM exploded),
dsz AS (SELECT doc_id, count(*)::BIGINT AS nd FROM dtok GROUP BY doc_id),
inter AS (
  SELECT h.query_id, h.doc_id, count(*)::BIGINT AS ni
  FROM hits h JOIN dtok d USING (doc_id) JOIN qtok USING (query_id)
  WHERE d.term = qtok.term
  GROUP BY h.query_id, h.doc_id
),
jac AS (
  SELECT h.query_id, h.doc_id,
         CASE WHEN qsz.nq + coalesce(dsz.nd, 0) - coalesce(inter.ni, 0) = 0
              THEN 0
              ELSE (1000000 * coalesce(inter.ni, 0))
                   // (qsz.nq + coalesce(dsz.nd, 0) - coalesce(inter.ni, 0))
         END::BIGINT AS rr_score
  FROM hits h
  JOIN qsz USING (query_id)
  LEFT JOIN dsz ON dsz.doc_id = h.doc_id
  LEFT JOIN inter ON inter.query_id = h.query_id AND inter.doc_id = h.doc_id
),
rr AS (
  SELECT query_id, doc_id, rr_score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rr_score DESC, doc_id ASC) AS rank
  FROM jac
)
SELECT query_id, doc_id, rr_score, rank::BIGINT AS rank FROM rr WHERE rank <= 5
"""

    # ---- hybrid BM25 + cosine with reciprocal-rank fusion: both
    # candidate windows (text: the 6dp-rounded BM25 ranking; vector: the
    # 6dp cosine ranking, vec_id == doc_id) cut at HYBRID_N_CAND, fused
    # by exact-integer 1_000_000 // (60 + rank) — the repo's cross-engine
    # micro-unit protocol (float RRF sums are summation-order-dependent)
    _hdot = "list_sum([{a}[i+1] * {b}[i+1] for i in range(64)])"
    hy_qv = " UNION ALL ".join(
        f"SELECT {i} AS query_id, embedding::DOUBLE[] AS qe "
        f"FROM embeddings WHERE vec_id = {vid}"
        for i, vid in enumerate(HYBRID_VEC_IDS)
    )
    sqls["hybrid_search"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
scored AS (
  SELECT q.query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN q USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx.doc_id
),
tr AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC) AS rnk
  FROM scored
),
qv AS ({hy_qv}),
cosined AS (
  SELECT qv.query_id, e.vec_id AS doc_id,
         round({_hdot.format(a='(e.embedding::DOUBLE[])', b='qv.qe')} /
               (sqrt({_hdot.format(a='(e.embedding::DOUBLE[])', b='(e.embedding::DOUBLE[])')}) *
                sqrt({_hdot.format(a='qv.qe', b='qv.qe')})), 6) AS cosine
  FROM embeddings e, qv
),
vr AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, doc_id ASC) AS rnk
  FROM cosined
),
fused AS (
  SELECT query_id, doc_id,
         sum(1000000 // (60 + rnk))::BIGINT AS rrf_score
  FROM (
    SELECT * FROM tr WHERE rnk <= {HYBRID_N_CAND}
    UNION ALL
    SELECT * FROM vr WHERE rnk <= {HYBRID_N_CAND}
  )
  GROUP BY query_id, doc_id
),
hranked AS (
  SELECT query_id, doc_id, rrf_score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rrf_score DESC, doc_id ASC) AS rank
  FROM fused
)
SELECT query_id, doc_id, rrf_score, rank::BIGINT AS rank
FROM hranked WHERE rank <= 10
"""

    # linear retriever: same two windows, weighted minmax fuse in exact
    # BIGINT micro arithmetic (degenerate max==min system -> 1e6)
    _wm_t = int(round(HYBRID_LINEAR_W[0] * 1_000_000))
    _wm_v = int(round(HYBRID_LINEAR_W[1] * 1_000_000))
    sqls["hybrid_linear"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
scored AS (
  SELECT q.query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN q USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx.doc_id
),
tr AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC) AS rnk
  FROM scored
),
qv AS ({hy_qv}),
cosined AS (
  SELECT qv.query_id, e.vec_id AS doc_id,
         round({_hdot.format(a='(e.embedding::DOUBLE[])', b='qv.qe')} /
               (sqrt({_hdot.format(a='(e.embedding::DOUBLE[])', b='(e.embedding::DOUBLE[])')}) *
                sqrt({_hdot.format(a='qv.qe', b='qv.qe')})), 6) AS score
  FROM embeddings e, qv
),
vr AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rnk
  FROM cosined
),
u AS (
  SELECT query_id, doc_id, round(score * 1000000)::BIGINT AS sm,
         0 AS sys, {_wm_t}::BIGINT AS wm
  FROM tr WHERE rnk <= {HYBRID_N_CAND}
  UNION ALL
  SELECT query_id, doc_id, round(score * 1000000)::BIGINT AS sm,
         1 AS sys, {_wm_v}::BIGINT AS wm
  FROM vr WHERE rnk <= {HYBRID_N_CAND}
),
nrm AS (
  SELECT query_id, doc_id, wm, sm,
         min(sm) OVER (PARTITION BY sys, query_id) AS mn,
         max(sm) OVER (PARTITION BY sys, query_id) AS mx
  FROM u
),
contrib AS (
  SELECT query_id, doc_id,
         wm * (CASE WHEN mx = mn THEN 1000000
                    ELSE (sm - mn) * 1000000 // (mx - mn) END) // 1000000 AS c
  FROM nrm
),
f AS (
  SELECT query_id, doc_id, sum(c)::BIGINT AS linear_score
  FROM contrib GROUP BY query_id, doc_id
),
lr AS (
  SELECT query_id, doc_id, linear_score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY linear_score DESC, doc_id ASC) AS rank
  FROM f
)
SELECT query_id, doc_id, linear_score, rank::BIGINT AS rank
FROM lr WHERE rank <= 10
"""

    # deletes: the oracle never sees tombstones or epochs — it computes
    # BM25 over the REMAINING corpus directly, with avgdl (and therefore
    # dl_norm) from the FULL original corpus (frozen at build, the
    # incremental-maintenance contract: indexing/deletes.py docstring) and
    # idf = round(ln(N_live/df_live), 3). Both the tombstone-masked path
    # (delete_then_search) and the physically folded one (compacted_search)
    # must hash-match it.
    delete_search_sql = f"""
WITH {_INDEX_CTES},
live AS (SELECT doc_id FROM documents WHERE NOT (doc_id % 7 = 3)),
idx_live AS (SELECT idx.* FROM idx JOIN live USING (doc_id)),
ts_live AS (
  SELECT term, count(*)::BIGINT AS df,
         round(ln((SELECT count(*) FROM live)::DOUBLE / count(*)), 3) AS idf
  FROM idx_live GROUP BY term
),
q AS ({batch_q}),
scored AS (
  SELECT q.query_id, idx_live.doc_id,
         sum(ts_live.idf * (idx_live.tf * ({K} + 1.0)) /
             (idx_live.tf + {K} * (1.0 - {B} + {B} * dln.dl_norm))) AS s
  FROM idx_live JOIN q USING (term) JOIN ts_live USING (term)
  JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx_live.doc_id
),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, doc_id, score, rank FROM ranked WHERE rank <= 10
"""
    sqls["delete_then_search"] = delete_search_sql
    sqls["compacted_search"] = delete_search_sql
    # time travel: the pre-delete snapshot must answer exactly like the
    # never-deleted index — the full-corpus packed oracle, verbatim
    sqls["snapshot_search"] = sqls["packed_wand_topk"]

    # gap-only boolean payload: matched-term counts over the query batch
    sqls["boolean_packed"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q})
SELECT q.query_id, idx.doc_id, count(DISTINCT idx.term)::BIGINT AS n_terms
FROM idx JOIN q USING (term)
GROUP BY q.query_id, idx.doc_id
"""

    # ES distributed terms agg: full shard-protocol replay — md5-mod
    # split, per-shard top-shard_size windows, truncation floors, the
    # exact per-bucket doc_count_error_upper_bound
    ns, ss = APPROX_FACET_SHARDS, APPROX_FACET_SHARD_SIZE
    sqls["approx_terms_agg"] = f"""
WITH {_INDEX_CTES},
pairs AS (
  SELECT 0 AS query_id, 'token' AS facet, term AS value, doc_id FROM idx
),
sharded AS (
  SELECT *, (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % {ns})::INT
              AS shard
  FROM pairs
),
counts AS (
  SELECT query_id, facet, shard, value, count(*)::BIGINT AS n
  FROM sharded GROUP BY query_id, facet, shard, value
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id, facet, shard
                               ORDER BY n DESC, value ASC) AS rn
  FROM counts
),
trunc AS (
  SELECT query_id, facet, shard,
         (CASE WHEN max(rn) > {ss}
               THEN min(CASE WHEN rn <= {ss} THEN n END) ELSE 0 END)::BIGINT
           AS trunc
  FROM ranked GROUP BY query_id, facet, shard
),
total_trunc AS (
  SELECT query_id, facet, sum(trunc)::BIGINT AS total_trunc
  FROM trunc GROUP BY query_id, facet
),
kept AS (
  SELECT r.query_id, r.facet, r.shard, r.value, r.n, t.trunc
  FROM ranked r JOIN trunc t USING (query_id, facet, shard)
  WHERE r.rn <= {ss}
),
merged AS (
  SELECT query_id, facet, value, sum(n)::BIGINT AS n,
         sum(trunc)::BIGINT AS returned_trunc
  FROM kept GROUP BY query_id, facet, value
),
final AS (
  SELECT m.query_id, m.facet, m.value, m.n,
         (tt.total_trunc - m.returned_trunc)::BIGINT AS err,
         row_number() OVER (PARTITION BY m.query_id, m.facet
                            ORDER BY m.n DESC, m.value ASC) AS rank
  FROM merged m JOIN total_trunc tt USING (query_id, facet)
)
SELECT query_id, facet, value, n, err, rank FROM final WHERE rank <= 10
"""

    # sparse_vector / text_expansion: md5-micro doc weights over the
    # (term, doc) incidence, literal query-weight maps, exact BIGINT
    # dot products
    sq_sel = []
    for qid, qw in enumerate(_sparse_query_weights()):
        for t, w in sorted(qw.items()):
            sq_sel.append(f"SELECT {qid} AS query_id, {_sql_quote(t)} AS term, "
                          f"{int(w)}::BIGINT AS qw")
    sqls["sparse_expansion"] = f"""
WITH {_INDEX_CTES},
pairs AS (
  SELECT term, doc_id,
         500000 + ('0x' || substr(md5(term || '|' || doc_id::VARCHAR), 1, 15)
                  )::BIGINT % 1000000 AS w
  FROM idx
),
q AS ({" UNION ALL ".join(sq_sel)}),
scored AS (
  SELECT q.query_id, p.doc_id, sum(p.w * q.qw)::BIGINT AS score_micro2
  FROM pairs p JOIN q USING (term)
  GROUP BY q.query_id, p.doc_id
),
ranked AS (
  SELECT query_id, doc_id, score_micro2,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score_micro2 DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, doc_id, score_micro2, rank FROM ranked WHERE rank <= 10
"""

    # sparse pruning_config: integer decision replay (cross-multiplied
    # frequent test, micro-unit weak test) -> phase-1 kept-token page
    # -> exact full-query rescore of the candidates
    spq_sel = []
    for qid, qw in enumerate(SPARSE_PRUNE_QUERIES):
        for t, w in sorted(qw.items()):
            spq_sel.append(f"SELECT {qid} AS query_id, {_sql_quote(t)} AS term, "
                           f"{int(w)}::BIGINT AS qw")
    ratio, wt = SPARSE_PRUNE_RATIO, SPARSE_PRUNE_WT
    k1 = SPARSE_PRUNE_K * SPARSE_PRUNE_MULT
    sqls["sparse_pruned"] = f"""
WITH {_INDEX_CTES},
pairs AS (
  SELECT term, doc_id,
         500000 + ('0x' || substr(md5(term || '|' || doc_id::VARCHAR), 1, 15)
                  )::BIGINT % 1000000 AS w
  FROM idx
),
totals AS (
  SELECT count(*)::BIGINT AS n_terms, sum(df)::BIGINT AS total
  FROM term_stats
),
q AS ({" UNION ALL ".join(spq_sel)}),
qavg AS (
  SELECT query_id, (sum(qw)::BIGINT // count(*)) AS avg_qw
  FROM q GROUP BY query_id
),
decided AS (
  SELECT q.query_id, q.term, q.qw,
         CASE WHEN coalesce(ts.df, 0) * t.n_terms > {ratio} * t.total
                   AND q.qw * 1000000 < {wt} * qa.avg_qw
              THEN 0 ELSE 1 END AS keep
  FROM q
  LEFT JOIN term_stats ts ON ts.term = q.term
  CROSS JOIN totals t
  JOIN qavg qa ON qa.query_id = q.query_id
),
phase1 AS (
  SELECT d.query_id, p.doc_id, sum(p.w * d.qw)::BIGINT AS s1
  FROM pairs p JOIN decided d ON d.term = p.term AND d.keep = 1
  GROUP BY d.query_id, p.doc_id
),
cand AS (
  SELECT query_id, doc_id FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY s1 DESC, doc_id ASC) AS rn
    FROM phase1
  ) WHERE rn <= {k1}
),
rescored AS (
  SELECT d.query_id, p.doc_id, sum(p.w * d.qw)::BIGINT AS score_micro2
  FROM pairs p JOIN decided d ON d.term = p.term
  JOIN cand c ON c.query_id = d.query_id AND c.doc_id = p.doc_id
  GROUP BY d.query_id, p.doc_id
),
ranked AS (
  SELECT query_id, doc_id, score_micro2,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score_micro2 DESC, doc_id ASC) AS rank
  FROM rescored
)
SELECT query_id, doc_id, score_micro2, rank
FROM ranked WHERE rank <= {SPARSE_PRUNE_K}
"""

    # temperature mixture: counts -> one-IEEE-sqrt micro weights ->
    # BIGINT keep rates -> (mix) the shared md5-nibble filter
    _TEMP_W = f"""
counts AS (
  SELECT lang AS stratum, count(*)::BIGINT AS n_docs
  FROM documents WHERE lang IS NOT NULL GROUP BY lang
),
sm AS (
  SELECT stratum, n_docs,
         floor(sqrt(n_docs::DOUBLE) * 1000000.0)::BIGINT AS s
  FROM counts
),
tot AS (SELECT sum(s)::BIGINT AS total FROM sm),
w AS (
  SELECT stratum, n_docs, (s * 1000000 // total)::BIGINT AS weight_micro
  FROM sm, tot
),
rates AS (
  SELECT stratum, n_docs, weight_micro,
         least(65536,
               ({TEMP_TARGET} * weight_micro // 1000000) * 65536 // n_docs
         )::BIGINT AS rate_num
  FROM w
)"""
    sqls["temperature_weights"] = f"""
WITH {_TEMP_W}
SELECT stratum, n_docs, weight_micro, rate_num FROM rates
"""
    _h16_tm = _hash16_sql("doc_id::VARCHAR", TEMP_SALT)
    sqls["temperature_mix"] = f"""
WITH {_TEMP_W}
SELECT d.doc_id, d.lang
FROM documents d JOIN rates r ON d.lang = r.stratum
WHERE {_h16_tm} % 65536 < r.rate_num
"""

    # intervals: relational replay of the minimal-interval enumeration —
    # per candidate end, lo = min over terms of latest-pos-at-or-before;
    # antichain = min hi per (doc, lo); gap filter; count ranking
    iq_u_sel, iq_o_sel = [], []
    for qid, q in enumerate(INTERVALS_QUERIES_U):
        for tid, t in enumerate(list(dict.fromkeys(tokenize_text(q, CFG)))):
            iq_u_sel.append(
                f"SELECT {qid} AS query_id, {tid} AS tid, "
                f"{_sql_quote(t)} AS term")
    for qid, q in enumerate(INTERVALS_QUERIES_O):
        terms = list(dict.fromkeys(tokenize_text(q, CFG)))
        assert len(terms) == 2, "ordered oracle queries must be 2-term"
        for tid, t in enumerate(terms):
            iq_o_sel.append(
                f"SELECT {qid} AS query_id, {tid} AS tid, "
                f"{_sql_quote(t)} AS term")
    _POSED = f"""
tok AS (
  SELECT doc_id, {_TOK_SQL} AS tokens FROM documents
),
posed AS (
  SELECT doc_id, tokens[i + 1] AS term, i AS pos
  FROM tok, (SELECT unnest(range(10000)) AS i)
  WHERE i < len(tokens)
)"""
    sqls["intervals_unordered"] = f"""
WITH {_POSED},
q AS ({" UNION ALL ".join(iq_u_sel)}),
nq AS (SELECT query_id, count(DISTINCT tid)::BIGINT AS k FROM q GROUP BY query_id),
pts AS (
  SELECT q.query_id, q.tid, p.doc_id, p.pos FROM posed p JOIN q ON p.term = q.term
),
cand AS (SELECT DISTINCT query_id, doc_id, pos FROM pts),
qt AS (SELECT DISTINCT query_id, tid FROM q),
covers AS (
  SELECT a.query_id, a.doc_id, a.pos AS hi, qt.tid, max(b.pos) AS lastpos
  FROM cand a JOIN qt USING (query_id)
  JOIN pts b ON b.query_id = a.query_id AND b.doc_id = a.doc_id
            AND b.tid = qt.tid AND b.pos <= a.pos
  GROUP BY a.query_id, a.doc_id, a.pos, qt.tid
),
win AS (
  SELECT query_id, doc_id, hi, min(lastpos) AS lo, count(*)::BIGINT AS nt
  FROM covers GROUP BY query_id, doc_id, hi
),
valid AS (
  SELECT w.query_id, w.doc_id, w.lo, w.hi
  FROM win w JOIN nq USING (query_id) WHERE w.nt = nq.k
),
minimal AS (
  SELECT query_id, doc_id, lo, min(hi) AS hi
  FROM valid GROUP BY query_id, doc_id, lo
),
counts AS (
  SELECT m.query_id, m.doc_id, count(*)::BIGINT AS n_intervals
  FROM minimal m JOIN nq USING (query_id)
  WHERE m.hi - m.lo + 1 - nq.k <= {INTERVALS_MAX_GAPS_U}
  GROUP BY m.query_id, m.doc_id
),
ranked AS (
  SELECT query_id, doc_id, n_intervals,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY n_intervals DESC, doc_id ASC) AS rank
  FROM counts
)
SELECT query_id, doc_id, n_intervals, rank FROM ranked WHERE rank <= 10
"""

    sqls["intervals_ordered"] = f"""
WITH {_POSED},
q AS ({" UNION ALL ".join(iq_o_sel)}),
pts AS (
  SELECT q.query_id, q.tid, p.doc_id, p.pos FROM posed p JOIN q ON p.term = q.term
),
ends AS (SELECT query_id, doc_id, pos AS hi FROM pts WHERE tid = 1),
los AS (
  SELECT e.query_id, e.doc_id, e.hi, max(b.pos) AS lo
  FROM ends e JOIN pts b ON b.query_id = e.query_id AND b.doc_id = e.doc_id
                        AND b.tid = 0 AND b.pos < e.hi
  GROUP BY e.query_id, e.doc_id, e.hi
),
minimal AS (
  SELECT query_id, doc_id, lo, min(hi) AS hi
  FROM los GROUP BY query_id, doc_id, lo
),
counts AS (
  SELECT query_id, doc_id, count(*)::BIGINT AS n_intervals
  FROM minimal
  WHERE hi - lo + 1 - 2 <= {INTERVALS_MAX_GAPS_O}
  GROUP BY query_id, doc_id
),
ranked AS (
  SELECT query_id, doc_id, n_intervals,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY n_intervals DESC, doc_id ASC) AS rank
  FROM counts
)
SELECT query_id, doc_id, n_intervals, rank FROM ranked WHERE rank <= 10
"""

    # sliding-window chunking: positive-operand ceil, span arithmetic,
    # token-slice join — integer replay of the boundary contract
    mt, st = CHUNK_MAX_TOKENS, CHUNK_STRIDE
    sqls["doc_chunks"] = f"""
WITH tok AS (
  SELECT doc_id, {_TOK_SQL} AS tokens FROM documents
),
nn AS (
  SELECT doc_id, tokens, len(tokens)::BIGINT AS n
  FROM tok WHERE len(tokens) > 0
),
nc AS (
  SELECT doc_id, tokens, n,
         (CASE WHEN n <= {mt} THEN 1
               ELSE 1 + (n - {mt} + {st - 1}) // {st} END)::BIGINT AS n_chunks
  FROM nn
),
spans AS (
  SELECT doc_id AS id, i AS chunk_idx, (i * {st})::BIGINT AS start_token,
         (least(i * {st} + {mt}, n) - i * {st})::BIGINT AS n_tokens,
         array_to_string(
           list_slice(tokens, (i * {st} + 1)::INT,
                      least(i * {st} + {mt}, n)::INT), ' ') AS chunk_text
  FROM nc, (SELECT unnest(range(10000)) AS i)
  WHERE i < n_chunks
)
SELECT id, chunk_idx, start_token, n_tokens, chunk_text FROM spans
"""

    # geohash_grid: md5-derived micro-degree coords -> bbox clip ->
    # exact-integer geohash cells (geohash_sql twin) -> bucket counts
    from searchengine_spark.query.geo import geohash_sql

    top, left, bottom, right = GEO_BBOX
    sqls["geohash_grid"] = f"""
WITH coords AS (
  SELECT doc_id,
         ('0x' || substr(md5('lat|' || doc_id::VARCHAR), 1, 15))::BIGINT
           % 180000001 - 90000000 AS lat,
         ('0x' || substr(md5('lon|' || doc_id::VARCHAR), 1, 15))::BIGINT
           % 360000001 - 180000000 AS lon
  FROM documents
),
boxed AS (
  SELECT * FROM coords
  WHERE lat BETWEEN {bottom} AND {top} AND lon BETWEEN {left} AND {right}
),
cells AS (
  SELECT 0 AS query_id,
         {geohash_sql("lat", "lon", GEO_PRECISION)} AS geohash
  FROM boxed
),
counts AS (
  SELECT query_id, geohash, count(*)::BIGINT AS n
  FROM cells GROUP BY query_id, geohash
),
ranked AS (
  SELECT query_id, geohash, n,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY n DESC, geohash ASC) AS rank
  FROM counts
)
SELECT query_id, geohash, n, rank FROM ranked WHERE rank <= 15
"""

    # match_bool_prefix: full terms = score-all BM25, last-term prefix
    # = constant 1.0 over any-expansion membership (df-desc/term-asc
    # capped dictionary expansion), one group-sum over both streams
    mbp_full_sel, mbp_pref_sel = [], []
    for qid, q in enumerate(MBP_QUERIES):
        toks = tokenize_text(q, CFG)
        full = list(dict.fromkeys(toks[:-1]))
        mbp_pref_sel.append(
            f"SELECT {qid} AS query_id, {_sql_quote(toks[-1])} AS prefix")
        if full:
            mbp_full_sel.append(
                f"SELECT {qid} AS query_id, term FROM "
                f"(SELECT unnest({_sql_term_list(full)}) AS term)")
    mbp_full_q = (" UNION ALL ".join(mbp_full_sel)
                  or "SELECT 0 AS query_id, '' AS term WHERE 1=0")
    mbp_pref_q = " UNION ALL ".join(mbp_pref_sel)
    sqls["match_bool_prefix"] = f"""
WITH {_INDEX_CTES},
fullq AS ({mbp_full_q}),
prefq AS ({mbp_pref_q}),
exp AS (
  SELECT query_id, term FROM (
    SELECT p.query_id, ts.term,
           row_number() OVER (PARTITION BY p.query_id
                              ORDER BY ts.df DESC, ts.term ASC) AS rn
    FROM prefq p JOIN term_stats ts
      ON ts.term LIKE p.prefix || '%' AND ts.df > 0
  ) WHERE rn <= {MBP_MAX_EXP}
),
base AS (
  SELECT fullq.query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN fullq USING (term) JOIN term_stats USING (term)
           JOIN dln USING (doc_id)
  GROUP BY fullq.query_id, idx.doc_id
),
prefdocs AS (
  SELECT DISTINCT exp.query_id, idx.doc_id FROM idx JOIN exp USING (term)
),
contrib AS (
  SELECT query_id, doc_id, s FROM base
  UNION ALL
  SELECT query_id, doc_id, 1.0 AS s FROM prefdocs
),
summed AS (
  SELECT query_id, doc_id, sum(s) AS s FROM contrib GROUP BY query_id, doc_id
),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
  FROM summed
)
SELECT query_id, doc_id, score, rank FROM ranked WHERE rank <= 10
"""

    # constant_score: filter-context AND set, boost literal, doc_id-ASC
    # rank (the deterministic equal-score order), cut at 10
    sqls["constant_score_topk"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
nq AS (SELECT query_id, count(*)::BIGINT AS n FROM q GROUP BY query_id),
matched AS (
  SELECT q.query_id, idx.doc_id
  FROM idx JOIN q USING (term)
  GROUP BY q.query_id, idx.doc_id
  HAVING count(DISTINCT idx.term)
         = (SELECT n FROM nq WHERE nq.query_id = q.query_id)
),
ranked AS (
  SELECT query_id, doc_id, {CONSTANT_SCORE_BOOST}::DOUBLE AS score,
         row_number() OVER (PARTITION BY query_id ORDER BY doc_id ASC) AS rank
  FROM matched
)
SELECT query_id, doc_id, score, rank FROM ranked WHERE rank <= 10
"""

    # negated terms (must_not): banned = docs matching any of the query's
    # negated terms; ranked = the SAME packed BM25 ranking restricted to
    # the non-banned docs (true top-k of the excluded corpus); boolean =
    # OR-set difference with n_terms over POSITIVE matches only
    neg_selects = [
        f"SELECT {qid} AS query_id, term FROM "
        f"(SELECT unnest({_sql_term_list(_neg_terms(qid))}) AS term)"
        for qid in sorted(NEG_WORDS)
    ]
    neg_q = " UNION ALL ".join(neg_selects)
    sqls["bm25_must_not"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
negq AS ({neg_q}),
banned AS (
  SELECT DISTINCT negq.query_id, idx.doc_id FROM idx JOIN negq USING (term)
),
scored AS (
  SELECT q.query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN q USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx.doc_id
),
kept AS (
  SELECT sc.* FROM scored sc
  WHERE NOT EXISTS (SELECT 1 FROM banned b
                    WHERE b.query_id = sc.query_id AND b.doc_id = sc.doc_id)
),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
  FROM kept
)
SELECT query_id, doc_id, score, rank FROM ranked WHERE rank <= 10
"""

    # significant terms: hits = the packed top-10 ranking; fg over the
    # postings CTE (idx is distinct per (term, doc)); JLH lift with the
    # SAME expression order as the Spark side -> bit-identical doubles
    sqls["significant_terms"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
scored AS (
  SELECT q.query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN q USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx.doc_id
),
hits AS (
  SELECT query_id, doc_id FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
    FROM scored
  ) WHERE rank <= 10
),
fg_tot AS (
  SELECT query_id, count(*)::BIGINT AS fg_total FROM hits GROUP BY query_id
),
fg AS (
  SELECT h.query_id, idx.term, count(DISTINCT idx.doc_id)::BIGINT AS fg_count
  FROM idx JOIN hits h USING (doc_id)
  GROUP BY h.query_id, idx.term
  HAVING count(DISTINCT idx.doc_id) >= 2
),
fx AS (
  SELECT fg.* FROM fg
  WHERE NOT EXISTS (SELECT 1 FROM q
                    WHERE q.query_id = fg.query_id AND q.term = fg.term)
),
cand AS (
  SELECT fx.query_id, fx.term, fx.fg_count, ts.df,
         ((fx.fg_count::DOUBLE / ft.fg_total)
            - (ts.df::DOUBLE / (SELECT n FROM corpus)))
         * ((fx.fg_count::DOUBLE / ft.fg_total)
            / (ts.df::DOUBLE / (SELECT n FROM corpus))) AS s
  FROM fx JOIN fg_tot ft USING (query_id) JOIN term_stats ts USING (term)
),
sig AS (
  SELECT query_id, term, fg_count, df::BIGINT AS df, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, term ASC) AS rank
  FROM cand WHERE s > 0
)
SELECT query_id, term, fg_count, df, score, rank FROM sig WHERE rank <= 10
"""

    neg1 = _sql_term_list(_neg_terms(1))
    q1_terms = _sql_term_list(_qterms(1))
    sqls["boolean_must_not"] = f"""
WITH {_INDEX_CTES},
q AS (SELECT unnest({q1_terms}) AS term),
banned AS (
  SELECT DISTINCT doc_id FROM idx
  WHERE term IN (SELECT unnest({neg1}))
)
SELECT idx.doc_id, count(DISTINCT idx.term)::BIGINT AS n_terms
FROM idx JOIN q USING (term)
WHERE idx.doc_id NOT IN (SELECT doc_id FROM banned)
GROUP BY idx.doc_id
"""

    # streaming append: the oracle computes BM25 over the FULL corpus with
    # the incremental-maintenance semantics the manifest records — avgdl
    # (hence every doc's dl_norm) from the BASE half only (frozen at
    # build; appended dlq is quantized against it), idf at the full N from
    # the exact df delta merge. The epoch encoding, the second (term,
    # chunk) rows, and the term_stats version swing are invisible to it.
    sqls["append_then_search"] = f"""
WITH tok AS (
  SELECT doc_id, {_TOK_SQL} AS tokens FROM documents
),
dl AS (
  SELECT doc_id, len(tokens)::BIGINT AS dl FROM tok
),
base AS (
  SELECT doc_id, dl FROM dl WHERE NOT (doc_id % 5 = 4)
),
corpus AS (
  SELECT (SELECT count(*) FROM dl)::BIGINT AS n,
         (SELECT sum(dl)::DOUBLE / count(*) FROM base) AS avgdl
),
dln AS (
  SELECT doc_id, dl, round(dl / (SELECT avgdl FROM corpus), 3) AS dl_norm FROM dl
),
exploded AS (
  SELECT doc_id, unnest(tokens) AS term FROM tok
),
idx AS (
  SELECT term, doc_id, count(*)::BIGINT AS tf FROM exploded GROUP BY term, doc_id
),
term_stats AS (
  SELECT term, count(*)::BIGINT AS df,
         round(ln((SELECT n FROM corpus)::DOUBLE / count(*)), 3) AS idf
  FROM idx GROUP BY term
),
internal AS (
  -- the docID-allocation contract: base docs keep their dense rank,
  -- the appended epoch gets [n_base, n) ranked by ext id WITHIN the
  -- batch — WAND breaks rounded-score ties on THIS id, not the ext id
  SELECT doc_id,
         row_number() OVER (ORDER BY (doc_id % 5 = 4), doc_id) - 1 AS iid
  FROM dl
),
q AS ({batch_q}),
scored AS (
  SELECT q.query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN q USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx.doc_id
),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, internal.iid ASC) AS rank
  FROM scored JOIN internal USING (doc_id)
)
SELECT query_id, doc_id, score, rank FROM ranked WHERE rank <= 10
"""

    and_terms = _qterms(1)
    sqls["boolean_and"] = f"""
WITH {_INDEX_CTES},
q AS (SELECT unnest({_sql_term_list(and_terms)}) AS term)
SELECT doc_id FROM idx JOIN q USING (term)
GROUP BY doc_id HAVING count(DISTINCT term) = {len(and_terms)}
"""

    sqls["boolean_or"] = f"""
WITH {_INDEX_CTES},
q AS (SELECT unnest({_sql_term_list(and_terms)}) AS term)
SELECT doc_id, count(DISTINCT term)::BIGINT AS n_terms
FROM idx JOIN q USING (term) GROUP BY doc_id
"""

    sqls["docid_dense"] = """
SELECT (row_number() OVER (ORDER BY source, doc_id) - 1)::BIGINT AS new_id,
       doc_id AS orig_id
FROM documents
"""

    sqls["positional_index"] = f"""
WITH tok AS (
  SELECT doc_id, {_TOK_SQL} AS tokens FROM documents
),
posed AS (
  SELECT doc_id, tokens[i + 1] AS term, i AS pos
  FROM tok, (SELECT unnest(range(10000)) AS i)
  WHERE i < len(tokens)
)
SELECT term, doc_id, count(*)::BIGINT AS tf,
       string_agg(pos::VARCHAR, ',' ORDER BY pos) AS positions
FROM posed WHERE term IN ('vector', 'merge')
GROUP BY term, doc_id
"""

    phrase_slot_rows = [
        (qid, slot, term)
        for qid, p in enumerate(PHRASES)
        for slot, term in enumerate(tokenize_text(p, CFG))
    ]
    phrase_slot_vals = ", ".join(
        f"({q}, {s}, {_sql_quote(t)})" for q, s, t in phrase_slot_rows
    )
    phrase_n_vals = ", ".join(
        f"({qid}, {len(tokenize_text(p, CFG))})" for qid, p in enumerate(PHRASES)
    )
    sqls["phrase_topk"] = f"""
WITH tok AS (
  SELECT doc_id, {_TOK_SQL} AS tokens FROM documents
),
posed AS (
  SELECT doc_id, tokens[i + 1] AS term, i AS pos
  FROM tok, (SELECT unnest(range(10000)) AS i)
  WHERE i < len(tokens)
),
s(query_id, slot, term) AS (VALUES {phrase_slot_vals}),
qn(query_id, n) AS (VALUES {phrase_n_vals}),
hits AS (
  SELECT s.query_id, s.slot, posed.doc_id, posed.pos - s.slot AS start
  FROM posed JOIN s USING (term)
),
occ AS (
  SELECT h.query_id, h.doc_id, h.start
  FROM hits h JOIN qn USING (query_id)
  GROUP BY h.query_id, h.doc_id, h.start, qn.n
  HAVING count(DISTINCT h.slot) = qn.n
),
perdoc AS (
  SELECT query_id, doc_id, count(*)::BIGINT AS n_occurrences,
         min(start)::BIGINT AS first_pos
  FROM occ GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, n_occurrences, first_pos,
       (row_number() OVER (
          PARTITION BY query_id ORDER BY n_occurrences DESC, doc_id
        ))::BIGINT AS rank
FROM perdoc
QUALIFY rank <= 10
"""

    # ---- sloppy phrase: the greedy span chase as min-next-position join
    # chains (greedy-min provably minimizes the ordered span, so one
    # chain decides every start exactly); dense-docID mapping inlined
    # because the packed path serves dense ids
    _sl2 = [tokenize_text(p, CFG) for p in SLOP_PHRASES_2]
    assert all(len(t) == 2 for t in _sl2)
    _sl3 = tokenize_text(SLOP_PHRASE_3, CFG)
    assert len(_sl3) == 3
    _s2_vals = ",\n".join(
        f"({q}, {s}, {_sql_quote(t)})"
        for q, toks in enumerate(_sl2) for s, t in enumerate(toks)
    )
    _s3_vals = ", ".join(
        f"({s}, {_sql_quote(t)})" for s, t in enumerate(_sl3))
    _q3 = len(SLOP_PHRASES_2)
    sqls["phrase_slop_topk"] = f"""
WITH tok AS (
  SELECT doc_id, {_TOK_SQL} AS tokens FROM documents
),
dense AS (
  SELECT doc_id AS ext_id,
         (row_number() OVER (ORDER BY doc_id) - 1)::BIGINT AS did
  FROM documents
),
posed AS (
  SELECT dense.did AS doc_id, tokens[i + 1] AS term, i AS pos
  FROM tok JOIN dense ON tok.doc_id = dense.ext_id,
       (SELECT unnest(range(10000)) AS i)
  WHERE i < len(tokens)
),
s2(query_id, slot, term) AS (VALUES
{_s2_vals}
),
h0 AS (
  SELECT s2.query_id, posed.doc_id, posed.pos
  FROM posed JOIN s2 ON s2.term = posed.term AND s2.slot = 0
),
h1 AS (
  SELECT s2.query_id, posed.doc_id, posed.pos
  FROM posed JOIN s2 ON s2.term = posed.term AND s2.slot = 1
),
g1 AS (
  SELECT a.query_id, a.doc_id, a.pos AS p0, min(b.pos) AS p1
  FROM h0 a JOIN h1 b
    ON b.query_id = a.query_id AND b.doc_id = a.doc_id AND b.pos > a.pos
  GROUP BY a.query_id, a.doc_id, a.pos
),
m2 AS (
  SELECT query_id, doc_id, p0 FROM g1 WHERE p1 - p0 - 1 <= {PHRASE_SLOP_2}
),
s3(slot, term) AS (VALUES {_s3_vals}),
t0 AS (SELECT posed.doc_id, posed.pos FROM posed JOIN s3
       ON s3.term = posed.term AND s3.slot = 0),
t1 AS (SELECT posed.doc_id, posed.pos FROM posed JOIN s3
       ON s3.term = posed.term AND s3.slot = 1),
t2 AS (SELECT posed.doc_id, posed.pos FROM posed JOIN s3
       ON s3.term = posed.term AND s3.slot = 2),
tg1 AS (
  SELECT a.doc_id, a.pos AS p0, min(b.pos) AS p1
  FROM t0 a JOIN t1 b ON b.doc_id = a.doc_id AND b.pos > a.pos
  GROUP BY a.doc_id, a.pos
),
tg2 AS (
  SELECT g.doc_id, g.p0, min(c.pos) AS p2
  FROM tg1 g JOIN t2 c ON c.doc_id = g.doc_id AND c.pos > g.p1
  GROUP BY g.doc_id, g.p0
),
m3 AS (
  SELECT {_q3} AS query_id, doc_id, p0 FROM tg2
  WHERE p2 - p0 - 2 <= {PHRASE_SLOP_3}
),
allm AS (SELECT * FROM m2 UNION ALL SELECT * FROM m3),
perdoc AS (
  SELECT query_id, doc_id, count(*)::BIGINT AS n_occurrences,
         min(p0)::BIGINT AS first_pos
  FROM allm GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, n_occurrences, first_pos,
       (row_number() OVER (
          PARTITION BY query_id ORDER BY n_occurrences DESC, doc_id
        ))::BIGINT AS rank
FROM perdoc
QUALIFY rank <= 10
"""

    # ---- match_phrase_prefix: the phrase intersection with the last
    # slot expanded (LIKE + df-ranked LIMIT over term_stats); an empty
    # expansion leaves the last slot unmatched -> the HAVING n-count
    # naturally yields no rows
    pp_exp_ctes, pp_s_branches, pp_n_vals = [], [], []
    for qid, raw in enumerate(PHRASE_PREFIX_QUERIES):
        words = raw.split()
        lead_toks = tokenize_text(" ".join(words[:-1]), CFG)
        prefix = words[-1].lower()
        pp_n_vals.append(f"({qid}, {len(lead_toks) + 1})")
        for i, t in enumerate(lead_toks):
            pp_s_branches.append(f"SELECT {qid} AS query_id, {i} AS slot, "
                                 f"{_sql_quote(t)} AS term")
        pp_exp_ctes.append(f"""
ppexp{qid} AS (
  SELECT term FROM term_stats WHERE term LIKE {_sql_quote(prefix + '%')} ESCAPE '\\'
  ORDER BY df DESC, term ASC LIMIT {PHRASE_PREFIX_MAX_EXP}
)""")
        pp_s_branches.append(
            f"SELECT {qid} AS query_id, {len(lead_toks)} AS slot, term "
            f"FROM ppexp{qid}"
        )
    sqls["phrase_prefix_topk"] = f"""
WITH {_INDEX_CTES},
posed AS (
  SELECT doc_id, tokens[i + 1] AS term, i AS pos
  FROM tok, (SELECT unnest(range(10000)) AS i)
  WHERE i < len(tokens)
),
{','.join(pp_exp_ctes)},
s AS ({' UNION ALL '.join(pp_s_branches)}),
qn(query_id, n) AS (VALUES {', '.join(pp_n_vals)}),
hits AS (
  SELECT s.query_id, s.slot, posed.doc_id, posed.pos - s.slot AS start
  FROM posed JOIN s USING (term)
),
occ AS (
  SELECT h.query_id, h.doc_id, h.start
  FROM hits h JOIN qn USING (query_id)
  GROUP BY h.query_id, h.doc_id, h.start, qn.n
  HAVING count(DISTINCT h.slot) = qn.n
),
perdoc AS (
  SELECT query_id, doc_id, count(*)::BIGINT AS n_occurrences,
         min(start)::BIGINT AS first_pos
  FROM occ GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, n_occurrences, first_pos,
       (row_number() OVER (
          PARTITION BY query_id ORDER BY n_occurrences DESC, doc_id
        ))::BIGINT AS rank
FROM perdoc
QUALIFY rank <= 10
"""

    ms0 = tokenize_text(MINSPAN_QUERIES[0], CFG)  # 2-term AND
    ms1 = tokenize_text(MINSPAN_QUERIES[1], CFG)  # single term
    sqls["minspan_topk"] = f"""
WITH tok AS (
  SELECT doc_id, {_TOK_SQL} AS tokens FROM documents
),
posed AS (
  SELECT doc_id, tokens[i + 1] AS term, i AS pos
  FROM tok, (SELECT unnest(range(10000)) AS i)
  WHERE i < len(tokens)
),
pairs0 AS (
  SELECT a.doc_id, abs(a.pos - b.pos) + 1 AS span, least(a.pos, b.pos) AS lo
  FROM posed a JOIN posed b USING (doc_id)
  WHERE a.term = {_sql_quote(ms0[0])} AND b.term = {_sql_quote(ms0[1])}
),
best0 AS (SELECT doc_id, min(span) AS span_len FROM pairs0 GROUP BY doc_id),
win0 AS (
  SELECT p.doc_id, b.span_len, min(p.lo) AS lo
  FROM pairs0 p JOIN best0 b ON p.doc_id = b.doc_id AND p.span = b.span_len
  GROUP BY p.doc_id, b.span_len
),
q0 AS (
  SELECT 0 AS query_id, doc_id, span_len::BIGINT AS span_len,
         lo::BIGINT AS lo, (lo + span_len - 1)::BIGINT AS hi
  FROM win0
),
q1 AS (
  SELECT 1 AS query_id, doc_id, 1::BIGINT AS span_len,
         min(pos)::BIGINT AS lo, min(pos)::BIGINT AS hi
  FROM posed WHERE term = {_sql_quote(ms1[0])} GROUP BY doc_id
),
allq AS (SELECT * FROM q0 UNION ALL SELECT * FROM q1)
SELECT query_id, doc_id, span_len, lo, hi,
       (row_number() OVER (
          PARTITION BY query_id ORDER BY span_len, doc_id
        ))::BIGINT AS rank
FROM allq
QUALIFY rank <= 10
"""

    def _hl_pat(qid: int) -> str:
        terms = sorted(_qterms(qid), key=len, reverse=True)
        return "(?i)\\b(" + "|".join(terms) + ")\\b"

    _hl_branches = []
    for qid in sorted(QUERY_STRINGS):
        p = _hl_pat(qid)
        _hl_branches.append(f"""
  SELECT r.query_id, r.doc_id, r.rank::BIGINT AS rank,
         len(regexp_extract_all(d.text, '{p}'))::BIGINT AS n_matches,
         regexp_replace(d.text, '{p}', '<em>\\0</em>', 'g') AS highlighted
  FROM ranked r JOIN documents d USING (doc_id)
  WHERE r.query_id = {qid} AND r.rank <= 5""")
    sqls["highlight_topk"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
scored AS (
  SELECT q.query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN q USING (term) JOIN term_stats USING (term)
  JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx.doc_id
),
ranked AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
  FROM scored
),
hl AS ({' UNION ALL '.join(_hl_branches)})
SELECT query_id, doc_id, rank, n_matches, highlighted
FROM hl WHERE n_matches > 0
ORDER BY query_id, rank
"""

    sqls["terms_set_topk"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
scored AS (
  SELECT q.query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s,
         count(*)::BIGINT AS n_matched
  FROM idx JOIN q USING (term) JOIN term_stats USING (term)
  JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx.doc_id
),
eligible AS (
  SELECT query_id, doc_id, n_matched, round(s, 6) AS score
  FROM scored WHERE n_matched >= doc_id % 3 + 1
)
SELECT query_id, doc_id, n_matched, score,
       (row_number() OVER (
          PARTITION BY query_id ORDER BY score DESC, doc_id
        ))::BIGINT AS rank
FROM eligible
QUALIFY rank <= 10
"""

    sqls["prefix_search"] = f"""
WITH {_INDEX_CTES}
SELECT doc_id, count(*)::BIGINT AS n_terms, sum(tf)::BIGINT AS total_tf
FROM idx WHERE term LIKE {_sql_quote(PREFIX_QUERY + "%")}
GROUP BY doc_id
"""

    _posed_ctes = f"""tok AS (
  SELECT doc_id, {_TOK_SQL} AS tokens FROM documents
),
posed AS (
  SELECT doc_id, tokens[i + 1] AS term, i AS pos
  FROM tok, (SELECT unnest(range(10000)) AS i)
  WHERE i < len(tokens)
)"""
    _sf_vals = ", ".join(
        f"({qid}, {_sql_quote(tokenize_text(t, CFG)[0])}, {end})"
        for qid, (t, end) in enumerate(SPAN_FIRST_QUERIES)
    )
    sqls["span_first_topk"] = f"""
WITH {_posed_ctes},
q(query_id, term, end_pos) AS (VALUES {_sf_vals}),
hits AS (
  SELECT q.query_id, p.doc_id, p.pos
  FROM posed p JOIN q ON p.term = q.term AND p.pos < q.end_pos
),
perdoc AS (
  SELECT query_id, doc_id, count(*)::BIGINT AS n_within,
         min(pos)::BIGINT AS first_pos
  FROM hits GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, n_within, first_pos,
       (row_number() OVER (
          PARTITION BY query_id ORDER BY first_pos, doc_id
        ))::BIGINT AS rank
FROM perdoc
QUALIFY rank <= 10
"""

    _sn_vals = ", ".join(
        f"({qid}, {_sql_quote(tokenize_text(inc, CFG)[0])}, "
        f"{_sql_quote(tokenize_text(exc, CFG)[0])})"
        for qid, (inc, exc) in enumerate(SPAN_NOT_QUERIES)
    )
    sqls["span_not_topk"] = f"""
WITH {_posed_ctes},
q(query_id, inc, exc) AS (VALUES {_sn_vals}),
ip AS (
  SELECT q.query_id, p.doc_id, p.pos FROM posed p JOIN q ON p.term = q.inc
),
ep AS (
  SELECT q.query_id, p.doc_id, p.pos FROM posed p JOIN q ON p.term = q.exc
),
clear AS (
  SELECT i.query_id, i.doc_id, i.pos FROM ip i
  WHERE NOT EXISTS (
    SELECT 1 FROM ep e
    WHERE e.query_id = i.query_id AND e.doc_id = i.doc_id
      AND e.pos BETWEEN i.pos - {SPAN_NOT_PRE} AND i.pos + {SPAN_NOT_POST})
),
perdoc AS (
  SELECT query_id, doc_id, count(*)::BIGINT AS n_clear,
         min(pos)::BIGINT AS first_clear
  FROM clear GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, n_clear, first_clear,
       (row_number() OVER (
          PARTITION BY query_id ORDER BY n_clear DESC, doc_id
        ))::BIGINT AS rank
FROM perdoc
QUALIFY rank <= 10
"""

    # span_within / span_containing: the enumerable-window contract as
    # EXISTS bounds over the posed positions
    _sw_vals = ", ".join(
        f"({qid}, {_sql_quote(tokenize_text(a, CFG)[0])}, "
        f"{_sql_quote(tokenize_text(b, CFG)[0])}, "
        f"{_sql_quote(tokenize_text(c, CFG)[0])}, {int(w)})"
        for qid, (a, b, c, w) in enumerate(SPAN_WITHIN_QUERIES)
    )
    _sw_abc = f"""q(query_id, ta, tb, tc, w) AS (VALUES {_sw_vals}),
ap AS (
  SELECT q.query_id, q.w, p.doc_id, p.pos FROM posed p JOIN q ON p.term = q.ta
),
bp AS (
  SELECT q.query_id, p.doc_id, p.pos FROM posed p JOIN q ON p.term = q.tb
),
cp AS (
  SELECT q.query_id, p.doc_id, p.pos FROM posed p JOIN q ON p.term = q.tc
)"""
    sqls["span_within_topk"] = f"""
WITH {_posed_ctes},
{_sw_abc},
hits AS (
  SELECT c.query_id, c.doc_id, c.pos FROM cp c
  WHERE EXISTS (
    SELECT 1 FROM ap a JOIN bp b
      ON b.query_id = a.query_id AND b.doc_id = a.doc_id
    WHERE a.query_id = c.query_id AND a.doc_id = c.doc_id
      AND a.pos <= c.pos AND b.pos >= c.pos
      AND b.pos > a.pos AND b.pos <= a.pos + a.w)
),
perdoc AS (
  SELECT query_id, doc_id, count(*)::BIGINT AS n_within,
         min(pos)::BIGINT AS first_within
  FROM hits GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, n_within, first_within,
       (row_number() OVER (
          PARTITION BY query_id ORDER BY n_within DESC, doc_id
        ))::BIGINT AS rank
FROM perdoc
QUALIFY rank <= 10
"""

    sqls["span_containing_topk"] = f"""
WITH {_posed_ctes},
{_sw_abc},
wins AS (
  SELECT a.query_id, a.doc_id, a.pos AS s, b.pos AS e
  FROM ap a JOIN bp b ON b.query_id = a.query_id AND b.doc_id = a.doc_id
  WHERE b.pos > a.pos AND b.pos <= a.pos + a.w
),
qual AS (
  SELECT w.query_id, w.doc_id, w.s FROM wins w
  WHERE EXISTS (
    SELECT 1 FROM cp c
    WHERE c.query_id = w.query_id AND c.doc_id = w.doc_id
      AND c.pos BETWEEN w.s AND w.e)
),
perdoc AS (
  SELECT query_id, doc_id, count(*)::BIGINT AS n_containing,
         min(s)::BIGINT AS first_pos
  FROM qual GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, n_containing, first_pos,
       (row_number() OVER (
          PARTITION BY query_id ORDER BY n_containing DESC, doc_id
        ))::BIGINT AS rank
FROM perdoc
QUALIFY rank <= 10
"""

    # ---------------- training-data pipeline ops ----------------

    from searchengine_spark.textops.scrub import EMAIL_RE, IPV4_RE, PHONE_RE

    _inject_sql = """
  SELECT doc_id, text
    || CASE WHEN doc_id % 3 = 0
            THEN ' contact user' || doc_id::VARCHAR || '@example.com now'
            ELSE '' END
    || CASE WHEN doc_id % 5 = 0
            THEN ' from 10.0.' || (doc_id % 256)::VARCHAR || '.7'
            ELSE '' END
    || CASE WHEN doc_id % 7 = 0
            THEN ' call +1 555 0100 ' || doc_id::VARCHAR
            ELSE '' END AS t
  FROM documents
"""
    sqls["pii_redact"] = f"""
WITH injected AS ({_inject_sql}),
s1 AS (
  SELECT doc_id, len(regexp_extract_all(t, '{EMAIL_RE}'))::BIGINT AS n_email,
         regexp_replace(t, '{EMAIL_RE}', '<EMAIL>', 'g') AS t
  FROM injected
),
s2 AS (
  SELECT doc_id, n_email,
         len(regexp_extract_all(t, '{IPV4_RE}'))::BIGINT AS n_ip,
         regexp_replace(t, '{IPV4_RE}', '<IP>', 'g') AS t
  FROM s1
),
s3 AS (
  SELECT doc_id, n_email, n_ip,
         len(regexp_extract_all(t, '{PHONE_RE}'))::BIGINT AS n_phone,
         regexp_replace(t, '{PHONE_RE}', '<PHONE>', 'g') AS t
  FROM s2
)
SELECT doc_id, n_email, n_ip, n_phone, md5(t) AS redacted_md5 FROM s3
"""


    h16 = _hash16_sql("doc_id::VARCHAR", "r3")
    sqls["dataset_split"] = f"""
SELECT doc_id,
       CASE WHEN {h16} % 10 < 8 THEN 'train'
            WHEN {h16} % 10 < 9 THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""

    # stratified mixture: per-lang (num, den) over the SAME doc hash;
    # unlisted langs keep at the default rate
    mix_conds = [
        f"(lang = {_sql_quote(v)} AND {h16} % {den} < {num})"
        for v, (num, den) in sorted(MIX_RATES.items())
    ]
    dn, dd = MIX_DEFAULT
    listed = ", ".join(_sql_quote(v) for v in sorted(MIX_RATES))
    mix_conds.append(
        f"(COALESCE(lang IN ({listed}), FALSE) = FALSE AND {h16} % {dd} < {dn})"
    )
    sqls["dataset_mix"] = f"""
SELECT doc_id, lang FROM documents
WHERE {" OR ".join(mix_conds)}
"""

    sqls["dataset_shuffle"] = """
SELECT doc_id,
       (row_number() OVER (
          ORDER BY md5('r3' || '|' || doc_id::VARCHAR), doc_id) - 1)::BIGINT
         AS shuffle_rank
FROM documents
"""

    sqls["pack_sequences"] = f"""
WITH tok AS (
  SELECT doc_id, {_TOK_SQL} AS tokens FROM documents
),
base AS (
  SELECT doc_id, ({h16} % 8)::BIGINT AS bucket, len(tokens)::BIGINT AS dl
  FROM tok
),
packed AS (
  SELECT doc_id, bucket,
         coalesce(sum(dl) OVER (
           PARTITION BY bucket ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS pre
  FROM base
)
SELECT doc_id, bucket, (pre // 128)::BIGINT AS bin_idx,
       (pre % 128)::BIGINT AS offset
FROM packed
"""

    # _c4_injected's twin: pure doc_id arithmetic + substr (plain string —
    # the literal braces in the planted CSS line must not hit f-string
    # interpolation)
    _c4_inject_sql = """
  SELECT doc_id,
    substr(text, 1, 40) || '.' || chr(10)
    || 'Click here' || chr(10)
    || CASE WHEN doc_id % 4 = 0
            THEN 'Please enable javascript to continue.' || chr(10)
            ELSE '' END
    || CASE WHEN doc_id % 17 = 0
            THEN 'body { color: red }' || chr(10) ELSE '' END
    || CASE WHEN doc_id % 19 = 0
            THEN 'Lorem ipsum dolor sit amet.' || chr(10) ELSE '' END
    || CASE WHEN doc_id % 23 = 0
            THEN 'This page contains badword content.' || chr(10) ELSE '' END
    || repeat('Filler sentence number ' || (doc_id % 7)::VARCHAR || ' here. ',
              doc_id % 5) || chr(10)
    || CASE WHEN doc_id % 10 < 2
            THEN 'Alpha beta gamma. Delta epsilon zeta. Eta theta iota.'
            ELSE 'Distinct tail ' || doc_id::VARCHAR || ' closes the page.'
            END AS t
  FROM documents
"""

    # trimmed non-empty segments of the whitespace-normalized text split
    # on [.!?]+ — textops/clean.py::sentences_col's twin ('g' flag: DuckDB
    # regexp_replace is first-match-only by default, Spark replaces all)
    def _sent_sql(col: str) -> str:
        return (
            r"list_filter(list_transform(regexp_split_to_array("
            rf"regexp_replace({col}, '\s+', ' ', 'g'), '[.!?]+'), "
            r"x -> trim(x)), x -> x <> '')"
        )

    _c4_sent_sql = _sent_sql("t")

    # the C4 line predicate (terminal punct / >=3 words / no javascript)
    # as a list_filter over a lines array column
    def _line_filter_sql(lines_col: str) -> str:
        return (
            rf"""list_filter({lines_col}, x ->
           right(rtrim(x), 1) IN ('.', '!', '?', '"')
           AND len(list_filter(regexp_split_to_array(x, '\s+'),
                               w -> w <> '')) >= 3
           AND NOT regexp_matches(lower(x), '\bjavascript\b'))"""
        )

    sqls["c4_line_filter"] = rf"""
WITH injected AS ({_c4_inject_sql}),
l AS (SELECT doc_id, string_split(t, chr(10)) AS ls FROM injected),
k AS (
  SELECT doc_id, ls, {_line_filter_sql('ls')} AS kl
  FROM l
)
SELECT doc_id, len(ls)::BIGINT AS n_lines, len(kl)::BIGINT AS n_lines_kept,
       md5(array_to_string(kl, chr(10))) AS clean_md5
FROM k
"""

    sqls["c4_doc_filter"] = rf"""
WITH injected AS ({_c4_inject_sql}),
s AS (
  SELECT doc_id,
         CASE WHEN contains(t, '{{') OR contains(t, '}}') THEN 'brace'
              WHEN contains(lower(t), 'lorem ipsum') THEN 'lorem_ipsum'
              WHEN regexp_matches(lower(t), '\b(badword)\b') THEN 'bad_word'
              WHEN len({_c4_sent_sql}) < 5 THEN 'few_sentences'
              ELSE '' END AS reason
  FROM injected
)
SELECT doc_id, (reason = '')::BIGINT AS keep, reason FROM s
"""

    sqls["c4_span_dedup"] = rf"""
WITH injected AS ({_c4_inject_sql}),
sent AS (SELECT doc_id, {_c4_sent_sql} AS ss FROM injected),
spans AS (
  SELECT doc_id,
         unnest([i - 1 for i in range(1, len(ss) - 1)])::BIGINT AS span_idx,
         unnest([md5(array_to_string(list_slice(ss, i, i + 2), ' '))
                 for i in range(1, len(ss) - 1)]) AS span_md5
  FROM sent
)
SELECT doc_id, span_idx, span_md5 FROM (
  SELECT doc_id, span_idx, span_md5,
         row_number() OVER (PARTITION BY span_md5
                            ORDER BY doc_id, span_idx) AS rn
  FROM spans
) WHERE rn > 1
"""

    # brute-force levenshtein join — the SEMANTIC contract the Spark
    # symmetric-delete generator + verify pipeline must equal
    sqls["fuzzy_correct"] = f"""
WITH tok AS (SELECT doc_id, {_TOK_SQL} AS tokens FROM documents),
dict AS (
  SELECT term, count(*)::BIGINT AS df
  FROM (SELECT doc_id, unnest(list_distinct(tokens)) AS term FROM tok)
  GROUP BY term
),
qv AS (SELECT unnest(['tble', 'scann', 'windoww', 'vlue', 'spark',
                      'qzqzqz']) AS qterm),
cand AS (
  SELECT q.qterm, d.term, d.df
  FROM qv q JOIN dict d ON levenshtein(q.qterm, d.term) <= 1
)
SELECT qterm, term, df, rank FROM (
  SELECT qterm, term, df,
         row_number() OVER (PARTITION BY qterm
                            ORDER BY (term = qterm) DESC, df DESC, term
                           )::BIGINT AS rank
  FROM cand
) WHERE rank <= 3
"""

    # _pipe_injected's twin, then the full composition: C4 line + page
    # rules -> exact keep-first dedup on the CLEANED text -> hash split
    _pipe_inject_sql = """
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0 THEN 'Shared intro sentence for this page.'
         ELSE substr(text, 1, 40) || '.' END || chr(10)
    || CASE WHEN doc_id % 11 = 0
            THEN 'Filler one is here. Filler two is here.'
            ELSE 'Filler one is here. Filler two is here. ' ||
                 'Filler three is here. Filler four is here.' END || chr(10)
    || CASE WHEN doc_id % 5 = 0
            THEN 'Extra sentence number ' || (doc_id % 2)::VARCHAR
                 || ' closes.'
            ELSE '' END AS t
  FROM documents
"""

    sqls["clean_pipeline"] = rf"""
WITH injected AS ({_pipe_inject_sql}),
l AS (SELECT doc_id, string_split(t, chr(10)) AS ls FROM injected),
k AS (
  SELECT doc_id,
         array_to_string({_line_filter_sql('ls')}, chr(10)) AS ct
  FROM l
),
page AS (
  SELECT doc_id, ct FROM k
  WHERE NOT contains(ct, '{{') AND NOT contains(ct, '}}')
    AND NOT contains(lower(ct), 'lorem ipsum')
    AND len({_sent_sql('ct')}) >= 5
),
dd AS (
  SELECT doc_id, ct,
         row_number() OVER (PARTITION BY md5(ct) ORDER BY doc_id) AS rn
  FROM page
)
SELECT doc_id,
       CASE WHEN {h16} % 10 < 8 THEN 'train'
            WHEN {h16} % 10 < 9 THEN 'val'
            ELSE 'test' END AS split,
       md5(ct) AS clean_md5
FROM dd WHERE rn = 1
"""

    sqls["decontamination"] = f"""
WITH tok AS (
  SELECT doc_id, {_TOK_SQL} AS tokens FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct([tokens[i+1] || ' ' || tokens[i+2] || ' ' || tokens[i+3]
                               for i in range(greatest(len(tokens) - 2, 0))])) AS shingle
  FROM tok
),
refset AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 7 = 0),
counts AS (
  SELECT sh.doc_id, count(*)::BIGINT AS n_ngrams,
         sum(CASE WHEN refset.shingle IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
           AS n_contaminated
  FROM sh LEFT JOIN refset ON sh.shingle = refset.shingle
  GROUP BY sh.doc_id
)
SELECT d.doc_id, coalesce(c.n_ngrams, 0)::BIGINT AS n_ngrams,
       coalesce(c.n_contaminated, 0)::BIGINT AS n_contaminated
FROM documents d LEFT JOIN counts c ON d.doc_id = c.doc_id
"""

    # DuckDB twin of shingles_col (token 3-grams, distinct)
    tok2 = _TOK_SQL.replace("text", "corpus2.text")
    shingled = f"""
{_CORPUS2_CTE},
tokd AS (
  SELECT doc_id AS id, {tok2} AS tokens FROM corpus2
),
shingled AS (
  SELECT id,
         list_distinct([tokens[i+1] || ' ' || tokens[i+2] || ' ' || tokens[i+3]
                        for i in range(greatest(len(tokens) - 2, 0))]) AS shingles
  FROM tokd
)
"""

    sqls["dedup_exact"] = f"""
WITH {_CORPUS2_CTE}
SELECT md5(text) AS text_hash, min(doc_id)::BIGINT AS canonical_id,
       count(*)::BIGINT AS n_dups
FROM corpus2 GROUP BY md5(text) HAVING count(*) > 1
"""

    # band-bucket candidate generation with the hot-bucket cap (lowest-64
    # ids per (band, band_key) bucket) — mirrors DEFAULT_BUCKET_CAP
    _minhash_keys_cte = """
hs AS (
  SELECT id,
         ('0x' || substr(md5(shingle), 1, 12))::BIGINT % 2147483647 AS h1,
         ('0x' || substr(md5(shingle), 13, 12))::BIGINT % 2147483647 AS h2
  FROM sh
),
hk AS (
  SELECT id, i AS hash_idx, min((h1 + i * h2) % 2147483647) AS minhash
  FROM hs CROSS JOIN (SELECT unnest(range(12)) AS i) GROUP BY id, i
),
keys0 AS (
  SELECT id, (hash_idx // 3)::INT AS band,
         md5(string_agg(minhash::VARCHAR, '|' ORDER BY hash_idx)) AS band_key
  FROM hk GROUP BY id, hash_idx // 3
),
keys AS (
  SELECT id, band, band_key FROM (
    SELECT id, band, band_key,
           row_number() OVER (PARTITION BY band, band_key ORDER BY id) AS rn
    FROM keys0
  ) WHERE rn <= 64
)
"""

    sqls["dedup_minhash"] = f"""
WITH {shingled},
sh AS (SELECT id, unnest(shingles) AS shingle FROM shingled),
{_minhash_keys_cte}
SELECT a.id AS id_a, b.id AS id_b, count(*)::BIGINT AS n_bands
FROM keys a JOIN keys b
  ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id
GROUP BY a.id, b.id
"""

    # floor-truncation (NOT round) on the ratio: round() disagrees between
    # engines on exact decimal ties (1/160 = 0.00625), memory/CLAUDE.md rule
    _JACC = "floor(n_int / (sa.n_sh + sb.n_sh - n_int) * 10000) / 10000"
    sqls["dedup_ngram_jaccard"] = f"""
WITH {shingled},
sh AS (SELECT id, unnest(shingles) AS shingle FROM shingled),
sizes AS (SELECT id, count(*)::BIGINT AS n_sh FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*)::BIGINT AS n_int
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
),
j AS (
  SELECT id_a, id_b, {_JACC} AS jaccard
  FROM inter
  JOIN sizes sa ON sa.id = inter.id_a
  JOIN sizes sb ON sb.id = inter.id_b
)
SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.5
"""

    # the 100 TB composition: LSH candidates -> exact Jaccard verify,
    # intersections routed through the candidate pairs (no all-pairs join)
    sqls["dedup_jaccard_on_lsh"] = f"""
WITH {shingled},
sh AS (SELECT id, unnest(shingles) AS shingle FROM shingled),
{_minhash_keys_cte},
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM keys a JOIN keys b
    ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id
),
sizes AS (SELECT id, count(*)::BIGINT AS n_sh FROM sh GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, count(*)::BIGINT AS n_int
  FROM cand c
  JOIN sh a ON a.id = c.id_a
  JOIN sh b ON b.id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
),
j AS (
  SELECT id_a, id_b, {_JACC} AS jaccard
  FROM inter
  JOIN sizes sa ON sa.id = inter.id_a
  JOIN sizes sb ON sb.id = inter.id_b
)
SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.5
"""

    # pair -> cluster resolution: same three edge families (exact within
    # md5 groups — star vs clique is component-invariant — LSH+Jaccard
    # verified, simhash hamming<=3) on the %<200 sub-corpus, resolved by a
    # recursive reachability-min CTE == connected-component min label
    tokc = _TOK_SQL.replace("text", "corpus2.text")

    # duplicated-ngram span masking: keep-first dedup of 5-gram starts,
    # then an INDEPENDENT gaps-and-islands merge (running-max end over
    # preceding rows -> island flags -> island sums) vs the engine's
    # native aggregate() interval fold
    sqls["dedup_ngram_spans"] = f"""
WITH {_CORPUS2_CTE.strip()},
tokd AS (
  SELECT doc_id AS id, {tokc} AS tokens FROM corpus2
),
grams AS (
  -- lateral unnest of the per-doc range: no hidden position cap
  SELECT id, i::BIGINT AS start,
         md5(array_to_string(tokens[i+1:i+5], chr(31))) AS gram_md5
  FROM tokd, unnest(range(greatest(len(tokens) - 4, 0))) AS u(i)
),
dups AS (
  SELECT id, start FROM (
    SELECT id, start,
           row_number() OVER (PARTITION BY gram_md5
                              ORDER BY id, start) AS rn
    FROM grams
  ) WHERE rn > 1
),
flagged AS (
  SELECT id, start,
         CASE WHEN start > coalesce(max(start + 5) OVER (
                PARTITION BY id ORDER BY start
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS newisland
  FROM dups
),
isl AS (
  SELECT id, start,
         sum(newisland) OVER (
           PARTITION BY id ORDER BY start
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
)
SELECT id, min(start)::BIGINT AS span_start,
       max(start + 5)::BIGINT AS span_end,
       (max(start + 5) - min(start))::BIGINT AS n_tokens
FROM isl GROUP BY id, island
"""
    sqls["dedup_clusters"] = f"""
WITH RECURSIVE corpus2 AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 200
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents
  WHERE doc_id % 5 = 0 AND doc_id < 200
),
tokd AS (
  SELECT doc_id AS id, {tokc} AS tokens FROM corpus2
),
shingled AS (
  SELECT id,
         list_distinct([tokens[i+1] || ' ' || tokens[i+2] || ' ' || tokens[i+3]
                        for i in range(greatest(len(tokens) - 2, 0))]) AS shingles
  FROM tokd
),
sh AS (SELECT id, unnest(shingles) AS shingle FROM shingled),
{_minhash_keys_cte},
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM keys a JOIN keys b
    ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id
),
sizes AS (SELECT id, count(*)::BIGINT AS n_sh FROM sh GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, count(*)::BIGINT AS n_int
  FROM cand c
  JOIN sh a ON a.id = c.id_a
  JOIN sh b ON b.id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
),
j AS (
  SELECT id_a, id_b, {_JACC} AS jaccard
  FROM inter
  JOIN sizes sa ON sa.id = inter.id_a
  JOIN sizes sb ON sb.id = inter.id_b
),
ex AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM corpus2 a JOIN corpus2 b
    ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
),
sm_toks AS (SELECT id, unnest(tokens) AS term FROM tokd),
sm_tb AS (
  SELECT id, jj,
         ((strpos('0123456789abcdef', substr(md5(term), (jj // 4)::INT + 1, 1)) - 1)
          >> (jj % 4)::INT) & 1 AS bit
  FROM sm_toks CROSS JOIN (SELECT unnest(range(64)) AS jj)
),
sm_sig AS (
  SELECT id, jj, CASE WHEN sum(2 * bit - 1) > 0 THEN 1 ELSE 0 END AS sbit
  FROM sm_tb GROUP BY id, jj
),
sm_sig64 AS (
  SELECT id,
         sum(CASE WHEN jj >= 32 THEN sbit * (2 ** (jj - 32))::BIGINT ELSE 0 END)::BIGINT AS sim_hi,
         sum(CASE WHEN jj <  32 THEN sbit * (2 ** jj)::BIGINT       ELSE 0 END)::BIGINT AS sim_lo
  FROM sm_sig GROUP BY id
),
sm_b AS (
  SELECT id, sim_hi, sim_lo, j2,
         CASE j2 WHEN 0 THEN (sim_hi >> 16) & 65535
                 WHEN 1 THEN sim_hi & 65535
                 WHEN 2 THEN (sim_lo >> 16) & 65535
                 ELSE sim_lo & 65535 END AS v
  FROM sm_sig64 CROSS JOIN (SELECT unnest(range(4)) AS j2)
),
sm_pairs AS (
  SELECT DISTINCT a.id AS id_a, bb.id AS id_b
  FROM sm_b a JOIN sm_b bb ON a.j2 = bb.j2 AND a.v = bb.v AND a.id < bb.id
  WHERE bit_count(xor(a.sim_hi, bb.sim_hi)) + bit_count(xor(a.sim_lo, bb.sim_lo)) <= 3
),
edges0 AS (
  SELECT id_a, id_b FROM ex
  UNION
  SELECT id_a, id_b FROM j WHERE jaccard >= 0.5
  UNION
  SELECT id_a, id_b FROM sm_pairs
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM edges0
  UNION
  SELECT id_b AS src, id_a AS dst FROM edges0
),
walk(id, lab) AS (
  SELECT doc_id, doc_id FROM corpus2
  UNION
  SELECT e.dst, w.lab FROM walk w JOIN edges e ON e.src = w.id
)
SELECT id::BIGINT AS id, min(lab)::BIGINT AS canonical_id FROM walk GROUP BY id
"""

    sqls["dedup_simhash"] = f"""
WITH tokd AS (
  SELECT doc_id AS id, {_TOK_SQL} AS tokens FROM documents WHERE doc_id < 50
),
toks AS (SELECT id, unnest(tokens) AS term FROM tokd),
tb AS (
  SELECT id, j,
         ((strpos('0123456789abcdef', substr(md5(term), (j // 4)::INT + 1, 1)) - 1)
          >> (j % 4)::INT) & 1 AS bit
  FROM toks CROSS JOIN (SELECT unnest(range(64)) AS j)
),
sig AS (
  SELECT id, j, CASE WHEN sum(2 * bit - 1) > 0 THEN 1 ELSE 0 END AS sbit
  FROM tb GROUP BY id, j
)
SELECT id,
       sum(CASE WHEN j >= 32 THEN sbit * (2 ** (j - 32))::BIGINT ELSE 0 END)::BIGINT AS sim_hi,
       sum(CASE WHEN j <  32 THEN sbit * (2 ** j)::BIGINT       ELSE 0 END)::BIGINT AS sim_lo
FROM sig GROUP BY id
"""

    sqls["dedup_simhash_near"] = f"""
WITH {_CORPUS2_CTE},
tokd AS (
  SELECT doc_id AS id, {_TOK_SQL} AS tokens FROM corpus2
  WHERE (doc_id % 100000) < 50
),
toks AS (SELECT id, unnest(tokens) AS term FROM tokd),
tb AS (
  SELECT id, j,
         ((strpos('0123456789abcdef', substr(md5(term), (j // 4)::INT + 1, 1)) - 1)
          >> (j % 4)::INT) & 1 AS bit
  FROM toks CROSS JOIN (SELECT unnest(range(64)) AS j)
),
sig AS (
  SELECT id, j, CASE WHEN sum(2 * bit - 1) > 0 THEN 1 ELSE 0 END AS sbit
  FROM tb GROUP BY id, j
),
sig64 AS (
  SELECT id,
         sum(CASE WHEN j >= 32 THEN sbit * (2 ** (j - 32))::BIGINT ELSE 0 END)::BIGINT AS sim_hi,
         sum(CASE WHEN j <  32 THEN sbit * (2 ** j)::BIGINT       ELSE 0 END)::BIGINT AS sim_lo
  FROM sig GROUP BY id
),
b AS (
  SELECT id, sim_hi, sim_lo, j2,
         CASE j2 WHEN 0 THEN (sim_hi >> 16) & 65535
                 WHEN 1 THEN sim_hi & 65535
                 WHEN 2 THEN (sim_lo >> 16) & 65535
                 ELSE sim_lo & 65535 END AS v
  FROM sig64 CROSS JOIN (SELECT unnest(range(4)) AS j2)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, bb.id AS id_b,
         a.sim_hi AS hi_a, a.sim_lo AS lo_a, bb.sim_hi AS hi_b, bb.sim_lo AS lo_b
  FROM b a JOIN b bb ON a.j2 = bb.j2 AND a.v = bb.v AND a.id < bb.id
)
SELECT id_a, id_b,
       (bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)))::BIGINT AS hamming
FROM cand
WHERE bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) <= 3
"""

    _dot = (
        "list_sum([{a}[i+1] * {b}[i+1] for i in range(64)])"
    )
    sqls["emb_cosine_topk"] = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
c AS (
  SELECT vec_id,
         round({_dot.format(a='(embedding::DOUBLE[])', b='qe')} /
               (sqrt({_dot.format(a='(embedding::DOUBLE[])', b='(embedding::DOUBLE[])')}) *
                sqrt({_dot.format(a='qe', b='qe')})), 6) AS cosine
  FROM embeddings, q WHERE vec_id <> 0
)
SELECT vec_id, cosine FROM c ORDER BY cosine DESC, vec_id ASC LIMIT 10
"""

    sqls["emb_threshold_topk"] = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
c AS (
  SELECT vec_id,
         round({_dot.format(a='(embedding::DOUBLE[])', b='qe')} /
               (sqrt({_dot.format(a='(embedding::DOUBLE[])', b='(embedding::DOUBLE[])')}) *
                sqrt({_dot.format(a='qe', b='qe')})), 6) AS cosine
  FROM embeddings, q WHERE vec_id <> 0
)
SELECT vec_id, cosine FROM c WHERE cosine >= {KNN_MIN_SIM}
ORDER BY cosine DESC, vec_id ASC LIMIT 10
"""

    # ---- pre-filtered kNN: the same brute cosine with the attribute
    # filter applied BEFORE ranking (a post-filtering engine would rank
    # a subset of the unfiltered page instead and hash-mismatch)
    sqls["emb_filtered_topk"] = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
c AS (
  SELECT vec_id,
         round({_dot.format(a='(embedding::DOUBLE[])', b='qe')} /
               (sqrt({_dot.format(a='(embedding::DOUBLE[])', b='(embedding::DOUBLE[])')}) *
                sqrt({_dot.format(a='qe', b='qe')})), 6) AS cosine
  FROM embeddings, q
  WHERE vec_id <> 0 AND label = {FILTERED_KNN_LABEL}
)
SELECT vec_id, cosine FROM c ORDER BY cosine DESC, vec_id ASC LIMIT 10
"""

    # ---- SQ8 quantized ANN: micro-unit quantization (IEEE-exact double
    # division of exactly representable integers), BIGINT dot candidate
    # cut, full-precision cosine rescore of ONLY the window
    sqls["emb_sq8_topk"] = f"""
WITH mu AS (
  SELECT vec_id,
         [floor((embedding::DOUBLE[])[i+1] * 1000000)::BIGINT
          for i in range(64)] AS m
  FROM embeddings
),
qt AS (
  SELECT vec_id, m,
         list_max([abs(m[i+1]) for i in range(64)]) AS mm
  FROM mu
),
qv AS (
  SELECT vec_id,
         CASE WHEN mm = 0 THEN [0::BIGINT for i in range(64)]
              ELSE [floor(127.0 * m[i+1]::DOUBLE / mm::DOUBLE)::BIGINT
                    for i in range(64)] END AS q
  FROM qt
),
qq AS (SELECT q AS query_q FROM qv WHERE vec_id = {SQ8_QUERY_ID}),
d AS (
  SELECT v.vec_id,
         list_sum([v.q[i+1] * qq.query_q[i+1] for i in range(64)])::BIGINT AS qdot
  FROM qv v, qq
),
cand AS (SELECT vec_id FROM d ORDER BY qdot DESC, vec_id ASC LIMIT {SQ8_RESCORE_M}),
qe AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = {SQ8_QUERY_ID}),
resc AS (
  SELECT e.vec_id,
         round({_dot.format(a='(e.embedding::DOUBLE[])', b='qe.qe')} /
               (sqrt({_dot.format(a='(e.embedding::DOUBLE[])', b='(e.embedding::DOUBLE[])')}) *
                sqrt({_dot.format(a='qe.qe', b='qe.qe')})), 6) AS cosine
  FROM embeddings e JOIN cand USING (vec_id), qe
),
rk AS (
  SELECT vec_id, cosine,
         row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM resc
)
SELECT vec_id, cosine, rank::BIGINT AS rank FROM rk WHERE rank <= 10
"""

    # ---- IVF: full pipeline replica (k-means train -> assign -> probe).
    # All training arithmetic is exact-integer micro-units, so the SQL
    # reproduces the Spark build bit-for-bit (similarity.py docstring).
    from searchengine_spark.textops import initial_centroids_micro

    cents0 = initial_centroids_micro(N_CENTROIDS, 64)
    c0_rows = " UNION ALL ".join(
        f"SELECT {i} AS cid, [{', '.join(str(x) for x in c)}]::BIGINT[] AS cm"
        for i, c in enumerate(cents0)
    )
    _il2 = (
        "list_sum([({m}[i+1] - {c}[i+1]) * ({m}[i+1] - {c}[i+1]) "
        "for i in range(64)])"
    )

    def _km_assign(cn: str, an: str) -> str:
        return f"""
{an} AS (
  SELECT vec_id, cid AS centroid_id FROM (
    SELECT em.vec_id, c.cid,
           row_number() OVER (PARTITION BY em.vec_id
                              ORDER BY {_il2.format(m='em.m', c='c.cm')}, c.cid) AS rn
    FROM em CROSS JOIN {cn} c
  ) WHERE rn = 1
)"""

    def _km_update(an: str, prev: str, cn: str) -> str:
        return f"""
{cn}_s AS (
  SELECT a.centroid_id AS cid, i AS dim,
         sum(em.m[i+1])::BIGINT AS s, count(*)::BIGINT AS c
  FROM {an} a JOIN em USING (vec_id)
  CROSS JOIN (SELECT unnest(range(64)) AS i)
  GROUP BY a.centroid_id, i
),
{cn} AS (
  SELECT p.cid, COALESCE(u.cm, p.cm) AS cm
  FROM {prev} p LEFT JOIN (
    SELECT cid, list(floor(s::DOUBLE / c)::BIGINT ORDER BY dim) AS cm
    FROM {cn}_s GROUP BY cid
  ) u USING (cid)
)"""

    # 2 Lloyd iterations (IVF_ITERS), then the final assignment afinal;
    # ``em_sql`` supplies (vec_id, m: BIGINT[64] micro-units)
    def _kmeans_chain(em_sql: str) -> str:
        return f"""
em AS ({em_sql}),
c0 AS ({c0_rows}),
{_km_assign('c0', 'a1')},
{_km_update('a1', 'c0', 'c1')},
{_km_assign('c1', 'a2')},
{_km_update('a2', 'c1', 'c2')},
{_km_assign('c2', 'afinal')}
"""

    _kmeans_ctes = _kmeans_chain(
        "SELECT vec_id, [floor(embedding[i+1]::DOUBLE * 1000000)::BIGINT "
        "for i in range(64)] AS m FROM embeddings"
    )

    _cos6 = (
        "round({dot} / (sqrt({nn}) * sqrt({qq})), 6)".format(
            dot=_dot.format(a="(e.embedding::DOUBLE[])", b="q.qe"),
            nn=_dot.format(a="(e.embedding::DOUBLE[])", b="(e.embedding::DOUBLE[])"),
            qq=_dot.format(a="q.qe", b="q.qe"),
        )
    )

    sqls["emb_ivf_topk"] = f"""
WITH {_kmeans_ctes},
q AS (
  SELECT embedding::DOUBLE[] AS qe,
         [floor(embedding[i+1]::DOUBLE * 1000000)::BIGINT for i in range(64)] AS qm
  FROM embeddings WHERE vec_id = 0
),
probe AS (
  SELECT cid FROM (
    SELECT c.cid, {_il2.format(m='q.qm', c='c.cm')} AS d FROM c2 c, q
  ) ORDER BY d, cid LIMIT {IVF_PROBE}
)
SELECT e.vec_id, a.centroid_id, {_cos6} AS cosine
FROM embeddings e
JOIN afinal a ON a.vec_id = e.vec_id
JOIN probe p ON a.centroid_id = p.cid
CROSS JOIN q
WHERE e.vec_id <> 0
ORDER BY cosine DESC, e.vec_id ASC LIMIT 5
"""

    # ---- filtered ANN: the identical train->bucket->probe replica with
    # the attribute filter applied inside the probed cells
    sqls["emb_ivf_filtered_topk"] = f"""
WITH {_kmeans_ctes},
q AS (
  SELECT embedding::DOUBLE[] AS qe,
         [floor(embedding[i+1]::DOUBLE * 1000000)::BIGINT for i in range(64)] AS qm
  FROM embeddings WHERE vec_id = 0
),
probe AS (
  SELECT cid FROM (
    SELECT c.cid, {_il2.format(m='q.qm', c='c.cm')} AS d FROM c2 c, q
  ) ORDER BY d, cid LIMIT {IVF_PROBE}
)
SELECT e.vec_id, a.centroid_id, {_cos6} AS cosine
FROM embeddings e
JOIN afinal a ON a.vec_id = e.vec_id
JOIN probe p ON a.centroid_id = p.cid
CROSS JOIN q
WHERE e.vec_id <> 0 AND e.label = {FILTERED_KNN_LABEL}
ORDER BY cosine DESC, e.vec_id ASC LIMIT 5
"""

    # ---- IVF x SQ8 two-level layout: probe (trained centroids), int8
    # dot within the probed cells only, exact rescore of the window
    sqls["emb_ivf_sq8_topk"] = f"""
WITH {_kmeans_ctes},
q AS (
  SELECT embedding::DOUBLE[] AS qe,
         [floor(embedding[i+1]::DOUBLE * 1000000)::BIGINT for i in range(64)] AS qm
  FROM embeddings WHERE vec_id = 0
),
probe AS (
  SELECT cid FROM (
    SELECT c.cid, {_il2.format(m='q.qm', c='c.cm')} AS d FROM c2 c, q
  ) ORDER BY d, cid LIMIT {IVF_PROBE}
),
cell AS (
  SELECT a.vec_id, a.centroid_id FROM afinal a
  JOIN probe p ON a.centroid_id = p.cid
),
qmax AS (SELECT list_max([abs(qm[i+1]) for i in range(64)]) AS mm FROM q),
qq8 AS (
  SELECT CASE WHEN qmax.mm = 0 THEN [0::BIGINT for i in range(64)]
              ELSE [floor(127.0 * q.qm[i+1]::DOUBLE / qmax.mm::DOUBLE)::BIGINT
                    for i in range(64)] END AS qq
  FROM q, qmax
),
cmu AS (
  SELECT e.vec_id,
         [floor((e.embedding::DOUBLE[])[i+1] * 1000000)::BIGINT
          for i in range(64)] AS m
  FROM embeddings e JOIN cell USING (vec_id)
),
cqt AS (
  SELECT vec_id, m, list_max([abs(m[i+1]) for i in range(64)]) AS mm FROM cmu
),
cqv AS (
  SELECT vec_id,
         CASE WHEN mm = 0 THEN [0::BIGINT for i in range(64)]
              ELSE [floor(127.0 * m[i+1]::DOUBLE / mm::DOUBLE)::BIGINT
                    for i in range(64)] END AS q8
  FROM cqt
),
d8 AS (
  SELECT v.vec_id,
         list_sum([v.q8[i+1] * qq8.qq[i+1] for i in range(64)])::BIGINT AS qdot
  FROM cqv v, qq8
),
cand AS (SELECT vec_id FROM d8 ORDER BY qdot DESC, vec_id ASC LIMIT {IVF_SQ8_RESCORE}),
resc AS (
  SELECT e.vec_id, cell.centroid_id, {_cos6} AS cosine
  FROM embeddings e JOIN cand USING (vec_id) JOIN cell USING (vec_id)
  CROSS JOIN q
),
rk AS (
  SELECT vec_id, centroid_id, cosine,
         row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM resc
)
SELECT vec_id, centroid_id, cosine, rank::BIGINT AS rank FROM rk WHERE rank <= 5
"""

    # ---- PQ: four per-subspace k-means chains over the SLICED micro
    # vectors, argmin encode, BIGINT ADC tables, exact rescore — the
    # complete textops/pq.py pipeline replicated in one statement
    _pq_dsub = 64 // PQ_M
    _il2p = (
        "list_sum([({m}[i+1] - {c}[i+1]) * ({m}[i+1] - {c}[i+1]) "
        f"for i in range({_pq_dsub})])"
    )

    def _pq_chain(j: int) -> str:
        lo, hi = j * _pq_dsub, (j + 1) * _pq_dsub
        cents0_j = initial_centroids_micro(PQ_KSUB, _pq_dsub, 20260816 + j)
        c0_rows_j = " UNION ALL ".join(
            f"SELECT {i} AS cid, [{', '.join(str(x) for x in c)}]::BIGINT[] AS cm"
            for i, c in enumerate(cents0_j)
        )

        def assign(cn: str, an: str) -> str:
            return f"""
{an} AS (
  SELECT vec_id, cid AS centroid_id FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_il2p.format(m='e.m', c='c.cm')}, c.cid) AS rn
    FROM emp{j} e CROSS JOIN {cn} c
  ) WHERE rn = 1
)"""

        def update(an: str, prev: str, cn: str) -> str:
            return f"""
{cn}_s AS (
  SELECT a.centroid_id AS cid, i AS dim,
         sum(e.m[i+1])::BIGINT AS s, count(*)::BIGINT AS c
  FROM {an} a JOIN emp{j} e USING (vec_id)
  CROSS JOIN (SELECT unnest(range({_pq_dsub})) AS i)
  GROUP BY a.centroid_id, i
),
{cn} AS (
  SELECT p.cid, COALESCE(u.cm, p.cm) AS cm
  FROM {prev} p LEFT JOIN (
    SELECT cid, list(floor(s::DOUBLE / c)::BIGINT ORDER BY dim) AS cm
    FROM {cn}_s GROUP BY cid
  ) u USING (cid)
)"""

        return f"""
emp{j} AS (
  SELECT vec_id,
         [floor(embedding[i+1]::DOUBLE * 1000000)::BIGINT
          for i in range({lo}, {hi})] AS m
  FROM embeddings
),
pc0_{j} AS ({c0_rows_j}),
{assign(f'pc0_{j}', f'pa1_{j}')},
{update(f'pa1_{j}', f'pc0_{j}', f'pc1_{j}')},
{assign(f'pc1_{j}', f'pa2_{j}')},
{update(f'pa2_{j}', f'pc1_{j}', f'pc2_{j}')},
{assign(f'pc2_{j}', f'pa3_{j}')},
qm{j} AS (
  SELECT [floor(embedding[i+1]::DOUBLE * 1000000)::BIGINT
          for i in range({lo}, {hi})] AS qm
  FROM embeddings WHERE vec_id = 0
),
dt{j} AS (
  SELECT c.cid,
         list_sum([c.cm[i+1] * q.qm[i+1] for i in range({_pq_dsub})])::BIGINT AS dp
  FROM pc2_{j} c, qm{j} q
)"""

    _pq_joins = "\n".join(
        f"  JOIN pa3_{j} a{j} ON a{j}.vec_id = a0.vec_id\n"
        f"  JOIN dt{j} d{j} ON d{j}.cid = a{j}.centroid_id"
        for j in range(1, PQ_M)
    )
    sqls["emb_pq_topk"] = f"""
WITH {','.join(_pq_chain(j) for j in range(PQ_M))},
adc AS (
  SELECT a0.vec_id,
         ({' + '.join(f'd{j}.dp' for j in range(PQ_M))})::BIGINT AS adc
  FROM pa3_0 a0
  JOIN dt0 d0 ON d0.cid = a0.centroid_id
{_pq_joins}
  WHERE a0.vec_id <> 0
),
cand AS (SELECT vec_id FROM adc ORDER BY adc DESC, vec_id ASC LIMIT {PQ_RESCORE}),
q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
resc AS (
  SELECT e.vec_id, {_cos6} AS cosine
  FROM embeddings e JOIN cand USING (vec_id) CROSS JOIN q
),
rk AS (
  SELECT vec_id, cosine,
         row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM resc
)
SELECT vec_id, cosine, rank::BIGINT AS rank FROM rk WHERE rank <= 5
"""

    # ---- IVFPQ: coarse chain + four subspace chains + probe + in-cell
    # ADC + rescore — the complete FAISS layout in one statement
    sqls["emb_ivfpq_topk"] = f"""
WITH {_kmeans_ctes},
{','.join(_pq_chain(j) for j in range(PQ_M))},
q AS (
  SELECT embedding::DOUBLE[] AS qe,
         [floor(embedding[i+1]::DOUBLE * 1000000)::BIGINT for i in range(64)] AS qmv
  FROM embeddings WHERE vec_id = 0
),
probe AS (
  SELECT cid FROM (
    SELECT c.cid, {_il2.format(m='q.qmv', c='c.cm')} AS d FROM c2 c, q
  ) ORDER BY d, cid LIMIT {IVF_PROBE}
),
cell AS (
  SELECT a.vec_id, a.centroid_id FROM afinal a
  JOIN probe p ON a.centroid_id = p.cid
),
adc AS (
  SELECT a0.vec_id,
         ({' + '.join(f'd{j}.dp' for j in range(PQ_M))})::BIGINT AS adc
  FROM pa3_0 a0
  JOIN dt0 d0 ON d0.cid = a0.centroid_id
{_pq_joins}
  JOIN cell ON cell.vec_id = a0.vec_id
),
cand AS (SELECT vec_id FROM adc ORDER BY adc DESC, vec_id ASC LIMIT {PQ_RESCORE}),
resc AS (
  SELECT e.vec_id, cell.centroid_id, {_cos6} AS cosine
  FROM embeddings e JOIN cand USING (vec_id) JOIN cell USING (vec_id)
  CROSS JOIN q
),
rk AS (
  SELECT vec_id, centroid_id, cosine,
         row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM resc
)
SELECT vec_id, centroid_id, cosine, rank::BIGINT AS rank FROM rk WHERE rank <= 5
"""

    sqls["emb_ivf_recall"] = f"""
WITH {_kmeans_ctes},
q AS (
  SELECT vec_id AS qid, embedding::DOUBLE[] AS qe,
         [floor(embedding[i+1]::DOUBLE * 1000000)::BIGINT for i in range(64)] AS qm
  FROM embeddings WHERE vec_id IN (0, 1, 2)
),
probed AS (
  SELECT qid, cid FROM (
    SELECT q.qid, c.cid,
           row_number() OVER (PARTITION BY q.qid
                              ORDER BY {_il2.format(m='q.qm', c='c.cm')}, c.cid) AS rn
    FROM c2 c CROSS JOIN q
  ) WHERE rn <= {IVF_PROBE}
),
scored AS (
  SELECT q.qid, e.vec_id, a.centroid_id, {_cos6} AS cosine
  FROM embeddings e
  JOIN afinal a ON a.vec_id = e.vec_id
  CROSS JOIN q
  WHERE e.vec_id <> q.qid
),
ivf10 AS (
  SELECT qid, vec_id FROM (
    SELECT s.qid, s.vec_id,
           row_number() OVER (PARTITION BY s.qid
                              ORDER BY s.cosine DESC, s.vec_id ASC) AS rn
    FROM scored s JOIN probed p ON s.qid = p.qid AND s.centroid_id = p.cid
  ) WHERE rn <= 10
),
brute10 AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cosine DESC, vec_id ASC) AS rn
    FROM scored
  ) WHERE rn <= 10
)
SELECT q.qid AS query_vec_id,
       COALESCE(h.n_hit, 0)::BIGINT AS n_hit,
       COALESCE(h.n_hit, 0) / 10.0 AS recall
FROM (SELECT DISTINCT qid FROM q) q
LEFT JOIN (
  SELECT qid, count(*)::BIGINT AS n_hit
  FROM ivf10 JOIN brute10 USING (qid, vec_id) GROUP BY qid
) h USING (qid)
"""

    # clustered recall: the whole pipeline (corpus generation from md5
    # digits -> micro k-means -> bucketing -> probe -> recall) replicated
    _clustered_embc = f"""
embc AS (
  SELECT i::BIGINT AS vec_id,
         [(((strpos('0123456789abcdef',
                    substr(md5('c' || (i % 8)::VARCHAR || '_' || d::VARCHAR), 1, 1)) - 1) - 7.5) * 2.0
           + ((strpos('0123456789abcdef',
                      substr(md5('v' || i::VARCHAR || '_' || d::VARCHAR), 1, 1)) - 1) - 7.5) * 0.1)
          for d in range(64)] AS e
  FROM (SELECT unnest(range({N_CLUSTERED})) AS i)
)
"""
    sqls["emb_ivf_recall_clustered"] = f"""
WITH {_clustered_embc},
{_kmeans_chain("SELECT vec_id, [floor(e[j+1] * 1000000)::BIGINT for j in range(64)] AS m FROM embc")},
q AS (
  SELECT vec_id AS qid, e AS qe,
         [floor(e[j+1] * 1000000)::BIGINT for j in range(64)] AS qm
  FROM embc WHERE vec_id IN (0, 1, 2)
),
probed AS (
  SELECT qid, cid FROM (
    SELECT q.qid, c.cid,
           row_number() OVER (PARTITION BY q.qid
                              ORDER BY {_il2.format(m='q.qm', c='c.cm')}, c.cid) AS rn
    FROM c2 c CROSS JOIN q
  ) WHERE rn <= {IVF_PROBE}
),
scored AS (
  SELECT q.qid, s.vec_id, a.centroid_id,
         round({_dot.format(a='s.e', b='q.qe')} /
               (sqrt({_dot.format(a='s.e', b='s.e')}) *
                sqrt({_dot.format(a='q.qe', b='q.qe')})), 6) AS cosine
  FROM embc s
  JOIN afinal a ON a.vec_id = s.vec_id
  CROSS JOIN q
  WHERE s.vec_id <> q.qid
),
ivf10 AS (
  SELECT qid, vec_id FROM (
    SELECT s.qid, s.vec_id,
           row_number() OVER (PARTITION BY s.qid
                              ORDER BY s.cosine DESC, s.vec_id ASC) AS rn
    FROM scored s JOIN probed p ON s.qid = p.qid AND s.centroid_id = p.cid
  ) WHERE rn <= 10
),
brute10 AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cosine DESC, vec_id ASC) AS rn
    FROM scored
  ) WHERE rn <= 10
)
SELECT q.qid AS query_vec_id,
       COALESCE(h.n_hit, 0)::BIGINT AS n_hit,
       COALESCE(h.n_hit, 0) / 10.0 AS recall
FROM (SELECT DISTINCT qid FROM q) q
LEFT JOIN (
  SELECT qid, count(*)::BIGINT AS n_hit
  FROM ivf10 JOIN brute10 USING (qid, vec_id) GROUP BY qid
) h USING (qid)
"""

    _pair_cos = (
        "round(list_sum([a.e[i+1] * b.e[i+1] for i in range(64)]) / "
        "(a.nrm * b.nrm), 6)"
    )
    sqls["emb_near_pairs"] = f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_sum([(embedding::DOUBLE[])[i+1] * (embedding::DOUBLE[])[i+1]
                        for i in range(64)])) AS nrm
  FROM embeddings WHERE vec_id < 150
),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_pair_cos} AS cosine
  FROM v a JOIN v b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.35
"""

    sqls["emb_near_pairs_bucketed"] = f"""
WITH {_kmeans_ctes},
v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_sum([(embedding::DOUBLE[])[i+1] * (embedding::DOUBLE[])[i+1]
                        for i in range(64)])) AS nrm
  FROM embeddings
),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_pair_cos} AS cosine
  FROM afinal pa
  JOIN afinal pb ON pa.centroid_id = pb.centroid_id AND pa.vec_id < pb.vec_id
  JOIN v a ON a.vec_id = pa.vec_id
  JOIN v b ON b.vec_id = pb.vec_id
)
SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.3
"""

    # SemDeDup: the near-pairs chain above + recursive min-label walk
    # to components; keep = min-id representative per component
    sqls["semantic_dedup"] = f"""
WITH RECURSIVE {_kmeans_ctes},
v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_sum([(embedding::DOUBLE[])[i+1] * (embedding::DOUBLE[])[i+1]
                        for i in range(64)])) AS nrm
  FROM embeddings
),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_pair_cos} AS cosine
  FROM afinal pa
  JOIN afinal pb ON pa.centroid_id = pb.centroid_id AND pa.vec_id < pb.vec_id
  JOIN v a ON a.vec_id = pa.vec_id
  JOIN v b ON b.vec_id = pb.vec_id
),
edges0 AS (SELECT id_a, id_b FROM p WHERE cosine >= 0.3),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM edges0
  UNION
  SELECT id_b AS src, id_a AS dst FROM edges0
),
walk(id, lab) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e.dst, w.lab FROM walk w JOIN edges e ON e.src = w.id
),
comp AS (
  SELECT id::BIGINT AS vec_id, min(lab)::BIGINT AS canonical_id
  FROM walk GROUP BY id
)
SELECT vec_id, canonical_id, vec_id = canonical_id AS keep FROM comp
"""

    from searchengine_spark.textops.quality import BPE_ISH, LANG_PROFILES, LANG_ORDER

    def _inlist(words):
        return ", ".join(_sql_quote(w) for w in words)

    hits_cols = ",\n       ".join(
        f"len(list_filter(tokens, t -> t IN ({_inlist(LANG_PROFILES[lang])})))::BIGINT AS {lang}_hits"
        for lang in LANG_ORDER
    )
    # argmax with earliest-in-LANG_ORDER tie win: each WHEN only compares
    # against LATER languages (an earlier language that tied or beat this
    # one would have taken its own WHEN already) — generated generically
    # so widening LANG_PROFILES keeps both engines in lockstep
    lang_whens = "\n            ".join(
        "WHEN "
        + " AND ".join(
            f"{lang}_hits >= {other}_hits" for other in LANG_ORDER[i + 1:]
        )
        + f" THEN '{lang}'"
        for i, lang in enumerate(LANG_ORDER[:-1])
    )
    sqls["lang_id"] = f"""
WITH tokd AS (SELECT doc_id AS id, {_TOK_SQL} AS tokens FROM documents),
h AS (
  SELECT id,
       {hits_cols}
  FROM tokd
)
SELECT id, {", ".join(f"{lang}_hits" for lang in LANG_ORDER)},
       CASE {lang_whens}
            ELSE '{LANG_ORDER[-1]}' END AS pred_lang
FROM h
"""

    sqls["quality_score"] = f"""
WITH base AS (
  SELECT doc_id AS id, text, {_TOK_SQL} AS tokens FROM documents
),
feat AS (
  SELECT id,
         len(tokens)::BIGINT AS n_tokens,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, {_PUNCT_SQL}, '', 'g')) AS n_punct,
         list_sum([length(t) for t in tokens]) AS tok_chars,
         len(list_filter(tokens, t -> t IN ({_inlist(LANG_PROFILES["en"])})))::BIGINT AS n_stop
  FROM base
),
r AS (
  SELECT id, n_tokens,
         CASE WHEN n_tokens > 0 THEN tok_chars / n_tokens ELSE 0.0 END AS mean_tok_len_x,
         CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS punct_ratio_x,
         CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END AS stop_ratio_x
  FROM feat
)
SELECT id, n_tokens,
       floor(mean_tok_len_x * 10000) / 10000 AS mean_tok_len,
       floor(punct_ratio_x * 10000) / 10000 AS punct_ratio,
       floor(stop_ratio_x * 10000) / 10000 AS stop_ratio,
       floor((stop_ratio_x * 0.3 + (1.0 - punct_ratio_x) * 0.3
              + least(n_tokens / 100.0, 1.0) * 0.4) * 10000) / 10000 AS quality
FROM r
"""

    # repetition_stats: exact definitions in textops/quality.py — n-gram
    # char mass = length(space-joined gram) × count; 0-denominator -> 0;
    # top-2-gram tie-break (count desc, gram asc); floor-truncated 4dp
    sqls["repetition_stats"] = f"""
WITH base AS (
  SELECT doc_id AS id,
         string_split(coalesce(text, ''), chr(10)) AS lines,
         {_TOK_SQL} AS tokens
  FROM documents
),
grams AS (
  SELECT id,
         [array_to_string(list_slice(tokens, i, i + 1), ' ')
          for i in range(1, len(tokens))] AS g2,
         [array_to_string(list_slice(tokens, i, i + 4), ' ')
          for i in range(1, len(tokens) - 3)] AS g5
  FROM base
),
lc0 AS (
  SELECT id, v, count(*)::BIGINT AS cnt
  FROM (SELECT id, unnest(lines) AS v FROM base) GROUP BY id, v
),
lc AS (
  SELECT id,
         floor((1.0 - count(*)::DOUBLE / sum(cnt)) * 10000) / 10000 AS dup_line_frac,
         CASE WHEN sum(cnt * length(v)) > 0
              THEN floor(sum(CASE WHEN cnt > 1 THEN (cnt - 1) * length(v) ELSE 0 END)::DOUBLE
                         / sum(cnt * length(v)) * 10000) / 10000
              ELSE 0.0 END AS dup_line_char_frac
  FROM lc0 GROUP BY id
),
g2c0 AS (
  SELECT id, v, count(*)::BIGINT AS cnt
  FROM (SELECT id, unnest(g2) AS v FROM grams) GROUP BY id, v
),
g2top AS (
  SELECT id, v, cnt,
         row_number() OVER (PARTITION BY id ORDER BY cnt DESC, v ASC) AS rn,
         sum(cnt * length(v)) OVER (PARTITION BY id) AS mass
  FROM g2c0
),
g2c AS (
  SELECT id,
         CASE WHEN mass > 0
              THEN floor((cnt * length(v))::DOUBLE / mass * 10000) / 10000
              ELSE 0.0 END AS top_2gram_char_frac
  FROM g2top WHERE rn = 1
),
g5c0 AS (
  SELECT id, v, count(*)::BIGINT AS cnt
  FROM (SELECT id, unnest(g5) AS v FROM grams) GROUP BY id, v
),
g5c AS (
  SELECT id,
         CASE WHEN sum(cnt * length(v)) > 0
              THEN floor(sum(CASE WHEN cnt > 1 THEN cnt * length(v) ELSE 0 END)::DOUBLE
                         / sum(cnt * length(v)) * 10000) / 10000
              ELSE 0.0 END AS dup_5gram_char_frac
  FROM g5c0 GROUP BY id
)
SELECT base.id,
       coalesce(lc.dup_line_frac, 0.0) AS dup_line_frac,
       coalesce(lc.dup_line_char_frac, 0.0) AS dup_line_char_frac,
       coalesce(g2c.top_2gram_char_frac, 0.0) AS top_2gram_char_frac,
       coalesce(g5c.dup_5gram_char_frac, 0.0) AS dup_5gram_char_frac
FROM base LEFT JOIN lc USING (id) LEFT JOIN g2c USING (id)
LEFT JOIN g5c USING (id)
"""

    bpe_sql = _sql_quote(BPE_ISH)
    sqls["token_stats"] = f"""
SELECT doc_id AS id,
       len(regexp_extract_all(text, '\\S+'))::BIGINT AS ws_tokens,
       len(regexp_extract_all(text, {bpe_sql}))::BIGINT AS bpe_tokens
FROM documents
"""

    # ---- training-sequence packing: concat-and-chunk — md5-hex15-mod
    # bucket hash, per-bucket id-order cumsum, integer-div windows
    _pack_base = f"""
base AS (
  SELECT doc_id AS id,
         (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
          % {PACK_BUCKETS})::INT AS bucket,
         len(regexp_extract_all(text, '\\S+'))::BIGINT AS n_tokens
  FROM documents
),
nz AS (SELECT * FROM base WHERE n_tokens > 0)"""
    sqls["pack_chunks"] = f"""
WITH {_pack_base.strip()},
c AS (
  SELECT id, bucket, n_tokens,
         coalesce(sum(n_tokens) OVER (
             PARTITION BY bucket ORDER BY id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0)::BIGINT AS tok_start
  FROM nz
)
SELECT id, bucket, n_tokens, tok_start,
       (tok_start + n_tokens)::BIGINT AS tok_end,
       (tok_start // {PACK_BUDGET})::BIGINT AS chunk_first,
       ((tok_start + n_tokens - 1) // {PACK_BUDGET})::BIGINT AS chunk_last
FROM c ORDER BY bucket, id
"""

    # ---- greedy no-split packing: the whole first-fit state machine
    # (open sequence index + fill) replayed per bucket as a recursive
    # CTE — any transition drift vs the Spark kernel hash-mismatches
    _B = PACK_BUDGET
    sqls["pack_greedy"] = f"""
WITH RECURSIVE {_pack_base.strip()},
srt AS (
  SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY id) AS rn
  FROM nz
),
rec AS (
  SELECT bucket, rn, id, n_tokens,
         0::BIGINT AS seq,
         0::BIGINT AS seq_offset,
         (CASE WHEN n_tokens > {_B} THEN 1 ELSE 0 END)::BIGINT AS truncated,
         (CASE WHEN n_tokens >= {_B} THEN 1 ELSE 0 END)::BIGINT AS open_seq,
         (CASE WHEN n_tokens >= {_B} THEN 0 ELSE n_tokens END)::BIGINT AS fill
  FROM srt WHERE rn = 1
  UNION ALL
  SELECT s.bucket, s.rn, s.id, s.n_tokens,
         (CASE
            WHEN s.n_tokens >= {_B} THEN
              r.open_seq + (CASE WHEN r.fill > 0 THEN 1 ELSE 0 END)
            WHEN r.fill + s.n_tokens > {_B} THEN r.open_seq + 1
            ELSE r.open_seq END)::BIGINT AS seq,
         (CASE
            WHEN s.n_tokens >= {_B} THEN 0
            WHEN r.fill + s.n_tokens > {_B} THEN 0
            ELSE r.fill END)::BIGINT AS seq_offset,
         (CASE WHEN s.n_tokens > {_B} THEN 1 ELSE 0 END)::BIGINT AS truncated,
         (CASE
            WHEN s.n_tokens >= {_B} THEN
              r.open_seq + (CASE WHEN r.fill > 0 THEN 1 ELSE 0 END) + 1
            WHEN r.fill + s.n_tokens > {_B} THEN r.open_seq + 1
            ELSE r.open_seq END)::BIGINT AS open_seq,
         (CASE
            WHEN s.n_tokens >= {_B} THEN 0
            WHEN r.fill + s.n_tokens > {_B} THEN s.n_tokens
            ELSE r.fill + s.n_tokens END)::BIGINT AS fill
  FROM rec r JOIN srt s ON s.bucket = r.bucket AND s.rn = r.rn + 1
)
SELECT id, bucket, seq, seq_offset, n_tokens, truncated
FROM rec ORDER BY bucket, id
"""

    sqls["pack_greedy_ffd"] = f"""
WITH RECURSIVE {_pack_base.strip()},
srt AS (
  SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY n_tokens DESC, id) AS rn
  FROM nz
),
rec AS (
  SELECT bucket, rn, id, n_tokens,
         0::BIGINT AS seq,
         0::BIGINT AS seq_offset,
         (CASE WHEN n_tokens > {_B} THEN 1 ELSE 0 END)::BIGINT AS truncated,
         (CASE WHEN n_tokens >= {_B} THEN 1 ELSE 0 END)::BIGINT AS open_seq,
         (CASE WHEN n_tokens >= {_B} THEN 0 ELSE n_tokens END)::BIGINT AS fill
  FROM srt WHERE rn = 1
  UNION ALL
  SELECT s.bucket, s.rn, s.id, s.n_tokens,
         (CASE
            WHEN s.n_tokens >= {_B} THEN
              r.open_seq + (CASE WHEN r.fill > 0 THEN 1 ELSE 0 END)
            WHEN r.fill + s.n_tokens > {_B} THEN r.open_seq + 1
            ELSE r.open_seq END)::BIGINT AS seq,
         (CASE
            WHEN s.n_tokens >= {_B} THEN 0
            WHEN r.fill + s.n_tokens > {_B} THEN 0
            ELSE r.fill END)::BIGINT AS seq_offset,
         (CASE WHEN s.n_tokens > {_B} THEN 1 ELSE 0 END)::BIGINT AS truncated,
         (CASE
            WHEN s.n_tokens >= {_B} THEN
              r.open_seq + (CASE WHEN r.fill > 0 THEN 1 ELSE 0 END) + 1
            WHEN r.fill + s.n_tokens > {_B} THEN r.open_seq + 1
            ELSE r.open_seq END)::BIGINT AS open_seq,
         (CASE
            WHEN s.n_tokens >= {_B} THEN 0
            WHEN r.fill + s.n_tokens > {_B} THEN s.n_tokens
            ELSE r.fill + s.n_tokens END)::BIGINT AS fill
  FROM rec r JOIN srt s ON s.bucket = r.bucket AND s.rn = r.rn + 1
)
SELECT id, bucket, seq, seq_offset, n_tokens, truncated
FROM rec ORDER BY bucket, id
"""

    sqls["doc_fingerprints"] = """
WITH g AS (
  SELECT doc_id,
         [md5(substr(text, i+1, 5)) for i in range(greatest(length(text) - 4, 0))] AS grams
  FROM documents
),
m AS (
  SELECT doc_id,
         CASE WHEN len(grams) >= 4
              THEN [list_min(grams[j+1:j+4]) for j in range(len(grams) - 3)]
              ELSE grams END AS mins
  FROM g
),
f AS (SELECT doc_id, list_distinct(mins) AS fp FROM m)
SELECT doc_id AS id, len(fp)::BIGINT AS n_fp, list_min(fp) AS min_fp FROM f
"""

    import math as _math

    tfidf_terms = _qterms(0)
    toks0 = tokenize_text(QUERY_STRINGS[0], CFG)
    qtfs = [repr(1.0 + _math.log(toks0.count(t))) for t in tfidf_terms]
    sqls["tfidf_topk"] = f"""
WITH {_INDEX_CTES},
w AS (
  SELECT term, doc_id, 1.0 + ln(tf) AS wr FROM idx
),
dnorm AS (
  SELECT doc_id, sqrt(sum(wr * wr)) AS nrm FROM w GROUP BY doc_id
),
wt AS (
  SELECT term, w.doc_id, round_even(wr / nrm, 3) AS w3
  FROM w JOIN dnorm ON w.doc_id = dnorm.doc_id
),
q AS (
  SELECT unnest({_sql_term_list(tfidf_terms)}) AS term,
         unnest([{", ".join(qtfs)}]) AS qtf
),
ql AS (
  SELECT q.term, q.qtf * term_stats.idf AS ltc FROM q JOIN term_stats USING (term)
),
qn AS (SELECT sqrt(sum(ltc * ltc)) AS qnrm FROM ql),
scored AS (
  SELECT wt.doc_id, sum(wt.w3 * ql.ltc / (SELECT qnrm FROM qn)) AS s
  FROM wt JOIN ql USING (term) GROUP BY wt.doc_id
)
SELECT doc_id, round(s, 6) AS score FROM scored
ORDER BY round(s, 6) DESC, doc_id ASC LIMIT 10
"""

    # same stored-weight contract, but the Spark side serves from the
    # tfidf-PAYLOAD packed index (weights decoded out of the postings)
    sqls["tfidf_packed_topk"] = f"""
WITH {_INDEX_CTES},
w AS (
  SELECT term, doc_id, 1.0 + ln(tf) AS wr FROM idx
),
dnorm AS (
  SELECT doc_id, sqrt(sum(wr * wr)) AS nrm FROM w GROUP BY doc_id
),
wt AS (
  SELECT term, w.doc_id, round_even(wr / nrm, 3) AS w3
  FROM w JOIN dnorm ON w.doc_id = dnorm.doc_id
),
q AS (
  SELECT unnest({_sql_term_list(tfidf_terms)}) AS term,
         unnest([{", ".join(qtfs)}]) AS qtf
),
ql AS (
  SELECT q.term, q.qtf * term_stats.idf AS ltc FROM q JOIN term_stats USING (term)
),
qn AS (SELECT sqrt(sum(ltc * ltc)) AS qnrm FROM ql),
scored AS (
  SELECT wt.doc_id, sum(wt.w3 * ql.ltc / (SELECT qnrm FROM qn)) AS s
  FROM wt JOIN ql USING (term) GROUP BY wt.doc_id
),
ranked AS (
  SELECT doc_id, round(s, 6) AS score,
         row_number() OVER (ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT doc_id, score, rank FROM ranked WHERE rank <= 10
"""

    # doc-side schema generalization: bnc (binary tf, cosine norm) served
    # from the multi-letter doc_norms sidecar (nrm_b) — stored weight is
    # round(1/sqrt(#distinct terms in doc), 3)
    sqls["tfidf_packed_bnc"] = f"""
WITH {_INDEX_CTES},
dnorm AS (
  SELECT doc_id, sqrt(count(*)) AS nrm FROM idx GROUP BY doc_id
),
wt AS (
  SELECT term, idx.doc_id, round_even(1.0 / nrm, 3) AS w3
  FROM idx JOIN dnorm ON idx.doc_id = dnorm.doc_id
),
q AS (
  SELECT unnest({_sql_term_list(tfidf_terms)}) AS term,
         unnest([{", ".join(qtfs)}]) AS qtf
),
ql AS (
  SELECT q.term, q.qtf * term_stats.idf AS ltc FROM q JOIN term_stats USING (term)
),
qn AS (SELECT sqrt(sum(ltc * ltc)) AS qnrm FROM ql),
scored AS (
  SELECT wt.doc_id, sum(wt.w3 * ql.ltc / (SELECT qnrm FROM qn)) AS s
  FROM wt JOIN ql USING (term) GROUP BY wt.doc_id
),
ranked AS (
  SELECT doc_id, round(s, 6) AS score,
         row_number() OVER (ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT doc_id, score, rank FROM ranked WHERE rank <= 10
"""

    # proximity rankers: base score CTEs + the SQL boost replica. The
    # division guard mirrors the skip-on-zero-norm deviation (proximity.py
    # docstring: the reference raises ZeroDivisionError there, §2.6.9).
    sqls["proximity_topk"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
scored AS (
  SELECT q.query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN q USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx.doc_id
),
{_boost_ctes(sorted(QUERY_STRINGS))},
bounds AS (SELECT min(dl_norm) AS dmin, max(dl_norm) AS dmax FROM dln),
final AS (
  SELECT s.query_id, s.doc_id,
         s.s + CASE
           WHEN coalesce(b.boost, 0.0) > 0
                AND log2((d.dl_norm - bb.dmin) / (bb.dmax - bb.dmin) + 1) <> 0
           THEN 0.01 * b.boost
                / log2((d.dl_norm - bb.dmin) / (bb.dmax - bb.dmin) + 1)
           ELSE 0.0 END AS s
  FROM scored s
  JOIN dln d ON d.doc_id = s.doc_id
  CROSS JOIN bounds bb
  LEFT JOIN boost b ON b.query_id = s.query_id AND b.doc_id = s.doc_id
),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
  FROM final
)
SELECT query_id, doc_id, score, rank FROM ranked WHERE rank <= 10
"""

    sqls["proximity_tfidf_topk"] = f"""
WITH {_INDEX_CTES},
w AS (
  SELECT term, doc_id, 1.0 + ln(tf) AS wr FROM idx
),
dnorm AS (
  SELECT doc_id, sqrt(sum(wr * wr)) AS nrm FROM w GROUP BY doc_id
),
wt AS (
  SELECT term, w.doc_id, round_even(wr / nrm, 3) AS w3
  FROM w JOIN dnorm ON w.doc_id = dnorm.doc_id
),
q AS (
  SELECT unnest({_sql_term_list(tfidf_terms)}) AS term,
         unnest([{", ".join(qtfs)}]) AS qtf
),
ql AS (
  SELECT q.term, q.qtf * term_stats.idf AS ltc FROM q JOIN term_stats USING (term)
),
qn AS (SELECT sqrt(sum(ltc * ltc)) AS qnrm FROM ql),
scored AS (
  SELECT wt.doc_id, sum(wt.w3 * ql.ltc / (SELECT qnrm FROM qn)) AS s
  FROM wt JOIN ql USING (term) GROUP BY wt.doc_id
),
{_boost_ctes([0])},
final AS (
  SELECT s.doc_id,
         s.s + CASE WHEN coalesce(b.boost, 0.0) > 0
                    THEN 0.1 * b.boost ELSE 0.0 END AS s
  FROM scored s
  LEFT JOIN boost b ON b.doc_id = s.doc_id
),
ranked AS (
  SELECT doc_id, round(s, 6) AS score,
         row_number() OVER (ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
  FROM final
)
SELECT doc_id, score, rank FROM ranked WHERE rank <= 10
"""

    sqls["multimodal_features"] = """
SELECT d.doc_id, 16::BIGINT AS n_bytes,
       sum(strpos('0123456789abcdef', substr(md5(d.text), i + 1, 1)) - 1)::BIGINT AS checksum
FROM documents d CROSS JOIN (SELECT unnest(range(32)) AS i)
GROUP BY d.doc_id
"""

    # nearest-neighbor byte resample of the 16-byte payload to 4 bytes:
    # idx_j = j*16//4 -> bytes 0,4,8,12; byte value recomputed from md5 hex
    sqls["multimodal_resize"] = """
SELECT d.doc_id, 4::BIGINT AS out_bytes,
       sum((strpos('0123456789abcdef', substr(md5(d.text), 2 * idx + 1, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(md5(d.text), 2 * idx + 2, 1)) - 1))::BIGINT AS checksum
FROM documents d CROSS JOIN (SELECT unnest([0, 4, 8, 12]) AS idx)
GROUP BY d.doc_id
"""

    # every-2nd-frame sampling of nf = doc_id%4+1 fake frames, frame i =
    # md5(text || '#' || i); checksum = nibble sum over the 32 hex digits
    sqls["multimodal_frames"] = """
WITH fr AS (
  SELECT doc_id, (doc_id % 4 + 1)::INT AS nf, text FROM documents WHERE doc_id < 200
),
sampled AS (
  SELECT doc_id, i::INT AS frame_idx, text
  FROM fr CROSS JOIN (SELECT unnest(range(0, 4, 2)) AS i)
  WHERE i < nf
)
SELECT doc_id, frame_idx, 16::BIGINT AS n_bytes,
       sum(strpos('0123456789abcdef',
                  substr(md5(text || '#' || frame_idx::VARCHAR), j + 1, 1)) - 1)::BIGINT AS checksum
FROM sampled CROSS JOIN (SELECT unnest(range(32)) AS j)
GROUP BY doc_id, frame_idx
"""

    # ---- transcripts end-to-end: the seed-pure fixture corpus inlined as
    # VALUES, tokenizer (min_len 3 + reference stop words), dense docIDs by
    # (conv_id, turn_idx), full BM25 contract, 6dp-rounded ranking — the
    # DuckDB twin of the packed build -> WAND -> resolve pipeline
    from searchengine_spark.fixtures.transcripts import generate_transcripts_pdf

    tw_cfg = _transcripts_cfg()
    tpdf = generate_transcripts_pdf(n_conv=TRANSCRIPTS_N_CONV)
    vals = ",\n".join(
        f"({_sql_quote(c)}, {int(t)}, {_sql_quote(x)})"
        for c, t, x in zip(tpdf["conv_id"], tpdf["turn_idx"], tpdf["text"])
    )
    # attribute-bearing twin for faceted_search (tool is NULL on
    # non-tool turns — the NULL-skip contract point)
    vals_attr = ",\n".join(
        f"({_sql_quote(c)}, {int(t)}, {_sql_quote(r)}, "
        f"{_sql_quote(u) if isinstance(u, str) else 'NULL'}, {_sql_quote(x)})"
        for c, t, r, u, x in zip(tpdf["conv_id"], tpdf["turn_idx"],
                                 tpdf["role"], tpdf["tool"], tpdf["text"])
    )
    sw_inline = ", ".join(_sql_quote(w) for w in sorted(tw_cfg.stop_words) if w)
    tok3 = (
        "list_filter(regexp_split_to_array(lower(regexp_replace(text, "
        f"{_PUNCT_SQL}, ' ', 'g')), '\\s+'), "
        f"t -> length(t) >= 3 AND t NOT IN ({sw_inline}))"
    )
    tq_selects = []
    for qid, q in enumerate(TRANSCRIPTS_QUERIES):
        terms = _sql_term_list(list(dict.fromkeys(tokenize_text(q, tw_cfg))))
        tq_selects.append(
            f"SELECT {qid} AS query_id, term FROM (SELECT unnest({terms}) AS term)"
        )
    sqls["transcripts_wand_topk"] = f"""
WITH t(conv_id, turn_idx, text) AS (VALUES
{vals}
),
docs AS (
  SELECT (row_number() OVER (ORDER BY conv_id, turn_idx) - 1)::BIGINT AS doc_id,
         conv_id, turn_idx::BIGINT AS turn_idx, text
  FROM t
),
tok AS (SELECT doc_id, {tok3} AS tokens FROM docs),
dl AS (SELECT doc_id, len(tokens)::BIGINT AS dl FROM tok),
corpus AS (SELECT count(*)::BIGINT AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
dln AS (SELECT doc_id, round(dl / (SELECT avgdl FROM corpus), 3) AS dl_norm FROM dl),
exploded AS (SELECT doc_id, unnest(tokens) AS term FROM tok),
idx AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM exploded GROUP BY term, doc_id),
term_stats AS (
  SELECT term, round(ln((SELECT n FROM corpus)::DOUBLE / count(*)), 3) AS idf
  FROM idx GROUP BY term
),
q AS ({' UNION ALL '.join(tq_selects)}),
scored AS (
  SELECT q.query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN q USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx.doc_id
),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT r.query_id, r.doc_id, d.conv_id, d.turn_idx, r.score, r.rank
FROM ranked r JOIN docs d USING (doc_id) WHERE r.rank <= 10
"""

    # ---- shard merge: the contract IS bit-identity with a fresh build over
    # the concatenated shard corpora, so the oracle is exactly the
    # transcripts_wand_topk SQL — any docID-range concatenation, shard-stat
    # blending, or stale downstream stage in the merge hash-mismatches
    sqls["sharded_merge_search"] = sqls["transcripts_wand_topk"]

    # ---- conversation dedup: order-sensitive whole-conversation
    # fingerprints over the VALUES corpus + injected relabeled copies
    conv_ids = sorted(set(tpdf["conv_id"]))[:CONV_DUP_N]
    conv_ids_sql = ", ".join(_sql_quote(c) for c in conv_ids)
    sqls["conversation_dedup"] = f"""
WITH t(conv_id, turn_idx, text) AS (VALUES
{vals}
),
allc AS (
  SELECT conv_id, turn_idx, text FROM t
  UNION ALL
  SELECT conv_id || '_dup', turn_idx, text FROM t
  WHERE conv_id IN ({conv_ids_sql})
),
pt AS (SELECT conv_id, turn_idx, md5(text) AS h FROM allc),
fps AS (
  SELECT conv_id, md5(string_agg(h, '|' ORDER BY turn_idx)) AS fp
  FROM pt GROUP BY conv_id
),
groups AS (
  SELECT fp, min(conv_id) AS canonical_conv, count(*)::BIGINT AS group_size
  FROM fps GROUP BY fp HAVING count(*) >= 2
)
SELECT f.conv_id, g.canonical_conv, g.group_size
FROM fps f JOIN groups g USING (fp)
"""

    # ---- has_child / has_parent: the conversation<->turn join moved
    # into SQL — sum-combine of rounded per-turn scores per parent with
    # the min_children floor; and the long-conversation doc filter
    # applied BEFORE the rank window
    sqls["has_child_search"] = f"""
WITH t(conv_id, turn_idx, text) AS (VALUES
{vals}
),
docs AS (
  SELECT (row_number() OVER (ORDER BY conv_id, turn_idx) - 1)::BIGINT AS doc_id,
         conv_id, turn_idx::BIGINT AS turn_idx, text
  FROM t
),
tok AS (SELECT doc_id, {tok3} AS tokens FROM docs),
dl AS (SELECT doc_id, len(tokens)::BIGINT AS dl FROM tok),
corpus AS (SELECT count(*)::BIGINT AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
dln AS (SELECT doc_id, round(dl / (SELECT avgdl FROM corpus), 3) AS dl_norm FROM dl),
exploded AS (SELECT doc_id, unnest(tokens) AS term FROM tok),
idx AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM exploded GROUP BY term, doc_id),
term_stats AS (
  SELECT term, round(ln((SELECT n FROM corpus)::DOUBLE / count(*)), 3) AS idf
  FROM idx GROUP BY term
),
q AS ({' UNION ALL '.join(tq_selects)}),
scored AS (
  SELECT q.query_id, idx.doc_id, round(sum({_bm25_contrib_sql()}), 6) AS s
  FROM idx JOIN q USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx.doc_id
),
parents AS (
  SELECT s.query_id, d.conv_id, round(sum(s.s), 6) AS score,
         count(*)::BIGINT AS n_matching
  FROM scored s JOIN docs d USING (doc_id)
  GROUP BY s.query_id, d.conv_id
  HAVING count(*) >= {HAS_CHILD_MIN}
),
ranked AS (
  SELECT query_id, conv_id, score, n_matching,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, conv_id ASC) AS rank
  FROM parents
)
SELECT query_id, conv_id, score, n_matching, rank FROM ranked WHERE rank <= 10
"""

    sqls["has_child_inner"] = f"""
WITH t(conv_id, turn_idx, text) AS (VALUES
{vals}
),
docs AS (
  SELECT (row_number() OVER (ORDER BY conv_id, turn_idx) - 1)::BIGINT AS doc_id,
         conv_id, turn_idx::BIGINT AS turn_idx, text
  FROM t
),
tok AS (SELECT doc_id, {tok3} AS tokens FROM docs),
dl AS (SELECT doc_id, len(tokens)::BIGINT AS dl FROM tok),
corpus AS (SELECT count(*)::BIGINT AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
dln AS (SELECT doc_id, round(dl / (SELECT avgdl FROM corpus), 3) AS dl_norm FROM dl),
exploded AS (SELECT doc_id, unnest(tokens) AS term FROM tok),
idx AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM exploded GROUP BY term, doc_id),
term_stats AS (
  SELECT term, round(ln((SELECT n FROM corpus)::DOUBLE / count(*)), 3) AS idf
  FROM idx GROUP BY term
),
q AS ({' UNION ALL '.join(tq_selects)}),
scored AS (
  SELECT q.query_id, idx.doc_id, round(sum({_bm25_contrib_sql()}), 6) AS s
  FROM idx JOIN q USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx.doc_id
),
parents AS (
  SELECT s.query_id, d.conv_id, round(sum(s.s), 6) AS score,
         count(*)::BIGINT AS n_matching
  FROM scored s JOIN docs d USING (doc_id)
  GROUP BY s.query_id, d.conv_id
  HAVING count(*) >= {HAS_CHILD_MIN}
),
ranked AS (
  SELECT query_id, conv_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, conv_id ASC) AS rank
  FROM parents
),
inner_ranked AS (
  SELECT p.query_id, p.conv_id, p.rank AS group_rank, s.doc_id, s.s AS score,
         row_number() OVER (PARTITION BY p.query_id, p.conv_id
                            ORDER BY s.s DESC, s.doc_id ASC) AS hit_rank
  FROM ranked p
  JOIN docs d ON d.conv_id = p.conv_id
  JOIN scored s ON s.query_id = p.query_id AND s.doc_id = d.doc_id
  WHERE p.rank <= 5
)
SELECT query_id, conv_id, group_rank, hit_rank, doc_id, score
FROM inner_ranked WHERE hit_rank <= 3
"""

    # children agg: qualifying parents -> ALL their turns -> bucket the
    # child 'role' attribute (NULLs skip), top-5 (count desc, value asc)
    sqls["children_agg"] = f"""
WITH t(conv_id, turn_idx, role, tool, text) AS (VALUES
{vals_attr}
),
docs AS (
  SELECT (row_number() OVER (ORDER BY conv_id, turn_idx) - 1)::BIGINT AS doc_id,
         conv_id, turn_idx::BIGINT AS turn_idx, role, text
  FROM t
),
tok AS (SELECT doc_id, {tok3} AS tokens FROM docs),
dl AS (SELECT doc_id, len(tokens)::BIGINT AS dl FROM tok),
corpus AS (SELECT count(*)::BIGINT AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
dln AS (SELECT doc_id, round(dl / (SELECT avgdl FROM corpus), 3) AS dl_norm FROM dl),
exploded AS (SELECT doc_id, unnest(tokens) AS term FROM tok),
idx AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM exploded GROUP BY term, doc_id),
term_stats AS (
  SELECT term, round(ln((SELECT n FROM corpus)::DOUBLE / count(*)), 3) AS idf
  FROM idx GROUP BY term
),
q AS ({' UNION ALL '.join(tq_selects)}),
scored AS (
  SELECT q.query_id, idx.doc_id, round(sum({_bm25_contrib_sql()}), 6) AS s
  FROM idx JOIN q USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx.doc_id
),
parents AS (
  SELECT s.query_id, d.conv_id
  FROM scored s JOIN docs d USING (doc_id)
  GROUP BY s.query_id, d.conv_id
  HAVING count(*) >= {HAS_CHILD_MIN}
),
vals_c AS (
  SELECT p.query_id, d.role AS value, count(*)::BIGINT AS n
  FROM parents p JOIN docs d USING (conv_id)
  WHERE d.role IS NOT NULL
  GROUP BY p.query_id, d.role
),
cranked AS (
  SELECT query_id, value, n,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY n DESC, value ASC)::BIGINT AS rank
  FROM vals_c
)
SELECT query_id, value, n, rank FROM cranked WHERE rank <= 5
"""

    sqls["has_parent_search"] = f"""
WITH t(conv_id, turn_idx, text) AS (VALUES
{vals}
),
docs AS (
  SELECT (row_number() OVER (ORDER BY conv_id, turn_idx) - 1)::BIGINT AS doc_id,
         conv_id, turn_idx::BIGINT AS turn_idx, text
  FROM t
),
long_convs AS (
  SELECT conv_id FROM docs GROUP BY conv_id
  HAVING count(*) >= {HAS_PARENT_MIN_TURNS}
),
tok AS (SELECT doc_id, {tok3} AS tokens FROM docs),
dl AS (SELECT doc_id, len(tokens)::BIGINT AS dl FROM tok),
corpus AS (SELECT count(*)::BIGINT AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
dln AS (SELECT doc_id, round(dl / (SELECT avgdl FROM corpus), 3) AS dl_norm FROM dl),
exploded AS (SELECT doc_id, unnest(tokens) AS term FROM tok),
idx AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM exploded GROUP BY term, doc_id),
term_stats AS (
  SELECT term, round(ln((SELECT n FROM corpus)::DOUBLE / count(*)), 3) AS idf
  FROM idx GROUP BY term
),
q AS ({' UNION ALL '.join(tq_selects)}),
scored AS (
  SELECT q.query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN q USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx.doc_id
),
eligible AS (
  SELECT s.query_id, s.doc_id, s.s
  FROM scored s JOIN docs d USING (doc_id)
  JOIN long_convs lc ON lc.conv_id = d.conv_id
),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
  FROM eligible
)
SELECT r.query_id, r.doc_id, d.conv_id, d.turn_idx, r.score, r.rank
FROM ranked r JOIN docs d USING (doc_id) WHERE r.rank <= 10
"""

    # ---- context windows: the same ranking cut to top-3, each hit
    # range-joined to its conversation's ±window turns (edges truncate)
    sqls["context_window"] = f"""
WITH t(conv_id, turn_idx, text) AS (VALUES
{vals}
),
ta(conv_id, turn_idx, role, tool, text) AS (VALUES
{vals_attr}
),
docs AS (
  SELECT (row_number() OVER (ORDER BY conv_id, turn_idx) - 1)::BIGINT AS doc_id,
         conv_id, turn_idx::BIGINT AS turn_idx, text
  FROM t
),
tok AS (SELECT doc_id, {tok3} AS tokens FROM docs),
dl AS (SELECT doc_id, len(tokens)::BIGINT AS dl FROM tok),
corpus AS (SELECT count(*)::BIGINT AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
dln AS (SELECT doc_id, round(dl / (SELECT avgdl FROM corpus), 3) AS dl_norm FROM dl),
exploded AS (SELECT doc_id, unnest(tokens) AS term FROM tok),
idx AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM exploded GROUP BY term, doc_id),
term_stats AS (
  SELECT term, round(ln((SELECT n FROM corpus)::DOUBLE / count(*)), 3) AS idf
  FROM idx GROUP BY term
),
q AS ({' UNION ALL '.join(tq_selects)}),
scored AS (
  SELECT q.query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN q USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx.doc_id
),
ranked AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT r.query_id, r.rank, d.conv_id, d.turn_idx,
       c.turn_idx::BIGINT AS ctx_turn_idx,
       (c.turn_idx - d.turn_idx)::BIGINT AS "offset", c.role, c.text
FROM ranked r
JOIN docs d USING (doc_id)
JOIN ta c ON c.conv_id = d.conv_id
         AND c.turn_idx BETWEEN d.turn_idx - {CONTEXT_NB}
                            AND d.turn_idx + {CONTEXT_NA}
WHERE r.rank <= {CONTEXT_K}
"""

    # ---- date_histogram: the transcripts top-10 ranking, ts derived from
    # the dense docID (ts = 2026-01-01Z + doc_id seconds), 600 s fixed
    # buckets as BIGINT epochs. The statement doubles as the `dh` base
    # CTE for the pipeline-aggregation oracles below.
    _dh_sql = f"""
WITH t(conv_id, turn_idx, text) AS (VALUES
{vals}
),
docs AS (
  SELECT (row_number() OVER (ORDER BY conv_id, turn_idx) - 1)::BIGINT AS doc_id,
         conv_id, turn_idx::BIGINT AS turn_idx, text
  FROM t
),
tok AS (SELECT doc_id, {tok3} AS tokens FROM docs),
dl AS (SELECT doc_id, len(tokens)::BIGINT AS dl FROM tok),
corpus AS (SELECT count(*)::BIGINT AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
dln AS (SELECT doc_id, round(dl / (SELECT avgdl FROM corpus), 3) AS dl_norm FROM dl),
exploded AS (SELECT doc_id, unnest(tokens) AS term FROM tok),
idx AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM exploded GROUP BY term, doc_id),
term_stats AS (
  SELECT term, round(ln((SELECT n FROM corpus)::DOUBLE / count(*)), 3) AS idf
  FROM idx GROUP BY term
),
q AS ({' UNION ALL '.join(tq_selects)}),
scored AS (
  SELECT q.query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN q USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx.doc_id
),
ranked AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, 'ts' AS col,
       (floor((1767225600 + doc_id)::DOUBLE / 600)::BIGINT * 600) AS bucket_epoch,
       count(*)::BIGINT AS n
FROM ranked WHERE rank <= 10
GROUP BY query_id, bucket_epoch
ORDER BY query_id, bucket_epoch
"""
    sqls["result_date_histogram"] = _dh_sql

    # normalize pipeline agg: per-series minmax as exact integer pairs
    sqls["result_normalize"] = f"""
WITH dh0 AS ({_dh_sql}),
w AS (
  SELECT query_id, col, bucket_epoch, n,
         min(n) OVER (PARTITION BY query_id, col) AS mn,
         max(n) OVER (PARTITION BY query_id, col) AS mx
  FROM dh0
)
SELECT query_id, col, bucket_epoch, n,
       (n - mn)::BIGINT AS norm_num, (mx - mn)::BIGINT AS norm_den
FROM w
"""

    # calendar date_histogram: date_trunc buckets over the events table
    # (week truncates to the ISO Monday in BOTH engines; epochs are UTC
    # instants, so the boundaries are exact civil-calendar edges)
    _dh_cal_case = " ".join(
        f"WHEN '{et}' THEN {qid}" for qid, et in enumerate(DH_CAL_TYPES))
    _dh_cal_units = ", ".join(f"('{u}')" for u in DH_CAL_UNITS)
    sqls["result_date_histogram_month"] = f"""
WITH hits AS (
  SELECT (CASE event_type {_dh_cal_case} END)::INT AS query_id, event_id, ts
  FROM events
  WHERE event_type IN ({", ".join(f"'{t}'" for t in DH_CAL_TYPES)})
),
units(unit) AS (VALUES {_dh_cal_units})
SELECT query_id, unit,
       epoch(date_trunc(unit, ts))::BIGINT AS bucket_epoch,
       count(*)::BIGINT AS n
FROM hits, units
GROUP BY query_id, unit, bucket_epoch
"""

    # ---- pipeline aggregations over the date_histogram buckets
    # (query/pipeline_aggs.py). Positional members (cumsum / derivative /
    # moving / serial_diff) run on the DENSIFIED view — generate_series
    # zero-fill between each series' min and max bucket, the ES
    # min_doc_count=0 requirement made explicit; order-statistic members
    # (bucket_sort / bucket_selector / stats_bucket) run on the raw
    # buckets. All BIGINT window arithmetic — nothing to drift.
    _dh_dense = f"""dh AS ({_dh_sql}),
ext AS (
  SELECT query_id, col, min(bucket_epoch) AS mn, max(bucket_epoch) AS mx
  FROM dh GROUP BY query_id, col
),
dense AS (
  SELECT query_id, col,
         unnest(generate_series(mn, mx, 600)) AS bucket_epoch
  FROM ext
),
base AS (
  SELECT d.query_id, d.col, d.bucket_epoch,
         coalesce(dh.n, 0)::BIGINT AS n
  FROM dense d LEFT JOIN dh USING (query_id, col, bucket_epoch)
)"""

    sqls["result_cumulative_sum"] = f"""
WITH {_dh_dense}
SELECT query_id, col, bucket_epoch, n,
       (sum(n) OVER (PARTITION BY query_id, col ORDER BY bucket_epoch
                     ROWS UNBOUNDED PRECEDING))::BIGINT AS cum
FROM base
ORDER BY query_id, col, bucket_epoch
"""

    sqls["result_derivative"] = f"""
WITH {_dh_dense},
d AS (
  SELECT query_id, col, bucket_epoch,
         n - lag(n) OVER (PARTITION BY query_id, col
                          ORDER BY bucket_epoch) AS dn
  FROM base
)
SELECT query_id, col, bucket_epoch, dn::BIGINT AS dn
FROM d WHERE dn IS NOT NULL
ORDER BY query_id, col, bucket_epoch
"""

    sqls["result_moving_sum"] = f"""
WITH {_dh_dense},
m AS (
  SELECT query_id, col, bucket_epoch,
         sum(n) OVER w AS mvsum, count(n) OVER w AS wn
  FROM base
  WINDOW w AS (PARTITION BY query_id, col ORDER BY bucket_epoch
               ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
)
SELECT query_id, col, bucket_epoch,
       mvsum::BIGINT AS mvsum, wn::BIGINT AS wn
FROM m WHERE wn > 0
ORDER BY query_id, col, bucket_epoch
"""

    sqls["result_serial_diff"] = f"""
WITH {_dh_dense},
d AS (
  SELECT query_id, col, bucket_epoch,
         n - lag(n, 2) OVER (PARTITION BY query_id, col
                             ORDER BY bucket_epoch) AS dn
  FROM base
)
SELECT query_id, col, bucket_epoch, dn::BIGINT AS dn
FROM d WHERE dn IS NOT NULL
ORDER BY query_id, col, bucket_epoch
"""

    sqls["result_bucket_sort"] = f"""
WITH dh AS ({_dh_sql}),
p AS (
  SELECT query_id, col, bucket_epoch, n,
         row_number() OVER (PARTITION BY query_id, col
                            ORDER BY n DESC, bucket_epoch ASC) AS pos
  FROM dh
)
SELECT query_id, col, bucket_epoch, n, pos::BIGINT AS pos
FROM p WHERE pos <= 2
ORDER BY query_id, col, pos
"""

    sqls["result_bucket_selector"] = f"""
WITH dh AS ({_dh_sql})
SELECT query_id, col, bucket_epoch, n
FROM dh WHERE n >= 2
ORDER BY query_id, col, bucket_epoch
"""

    sqls["result_stats_bucket"] = f"""
WITH dh AS ({_dh_sql})
SELECT query_id, col,
       count(n)::BIGINT AS n_buckets, min(n)::BIGINT AS min_n,
       max(n)::BIGINT AS max_n, sum(n)::BIGINT AS sum_n
FROM dh GROUP BY query_id, col
ORDER BY query_id, col
"""

    sqls["result_bucket_script"] = f"""
WITH dh AS ({_dh_sql}),
v AS (
  SELECT query_id, col, bucket_epoch, n,
         ({BUCKET_SCRIPT_EXPR})::BIGINT AS val
  FROM dh
)
SELECT query_id, col, bucket_epoch, n, val
FROM v WHERE val IS NOT NULL
ORDER BY query_id, col, bucket_epoch
"""

    sqls["result_percentiles_bucket"] = f"""
WITH dh AS ({_dh_sql}),
srt AS (
  SELECT query_id, col, n,
         row_number() OVER (PARTITION BY query_id, col ORDER BY n ASC) AS rn,
         count(*) OVER (PARTITION BY query_id, col) AS cnt
  FROM dh
),
p AS (SELECT unnest([25, 50, 75, 100]) AS pct)
SELECT s.query_id, s.col, p.pct::BIGINT AS pct, s.n::BIGINT AS value
FROM srt s JOIN p ON s.rn = greatest(1, (p.pct * s.cnt + 99) // 100)
ORDER BY query_id, col, pct
"""

    sqls["result_extreme_buckets"] = f"""
WITH dh AS ({_dh_sql}),
ext AS (
  SELECT query_id, col, min(n) AS mn, max(n) AS mx
  FROM dh GROUP BY query_id, col
),
f AS (
  SELECT d.query_id, d.col, k.kind, d.n, d.bucket_epoch
  FROM dh d
  JOIN ext e USING (query_id, col)
  CROSS JOIN (SELECT unnest(['min', 'max']) AS kind) k
  WHERE (k.kind = 'min' AND d.n = e.mn) OR (k.kind = 'max' AND d.n = e.mx)
)
SELECT query_id, col, kind, n::BIGINT AS n,
       string_agg(bucket_epoch::VARCHAR, ',' ORDER BY bucket_epoch) AS keys
FROM f GROUP BY query_id, col, kind, n
ORDER BY query_id, col, kind
"""

    # ---- top_hits: the transcripts top-10 ranking joined to role/tool,
    # melted to (facet, value), best-2 per bucket by retrieval rank
    sqls["facet_top_hits"] = f"""
WITH t(conv_id, turn_idx, role, tool, text) AS (VALUES
{vals_attr}
),
docs AS (
  SELECT (row_number() OVER (ORDER BY conv_id, turn_idx) - 1)::BIGINT AS doc_id,
         conv_id, turn_idx::BIGINT AS turn_idx, role, tool, text
  FROM t
),
tok AS (SELECT doc_id, {tok3} AS tokens FROM docs),
dl AS (SELECT doc_id, len(tokens)::BIGINT AS dl FROM tok),
corpus AS (SELECT count(*)::BIGINT AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
dln AS (SELECT doc_id, round(dl / (SELECT avgdl FROM corpus), 3) AS dl_norm FROM dl),
exploded AS (SELECT doc_id, unnest(tokens) AS term FROM tok),
idx AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM exploded GROUP BY term, doc_id),
term_stats AS (
  SELECT term, round(ln((SELECT n FROM corpus)::DOUBLE / count(*)), 3) AS idf
  FROM idx GROUP BY term
),
q AS ({' UNION ALL '.join(tq_selects)}),
scored AS (
  SELECT q.query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN q USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx.doc_id
),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
  FROM scored
),
hits AS (SELECT * FROM ranked WHERE rank <= 10),
pairs AS (
  SELECT h.query_id, 'role' AS facet, d.role AS value, h.rank,
         d.conv_id, d.turn_idx, h.score
  FROM hits h JOIN docs d USING (doc_id) WHERE d.role IS NOT NULL
  UNION ALL
  SELECT h.query_id, 'tool' AS facet, d.tool AS value, h.rank,
         d.conv_id, d.turn_idx, h.score
  FROM hits h JOIN docs d USING (doc_id) WHERE d.tool IS NOT NULL
),
bucketed AS (
  SELECT query_id, facet, value, conv_id, turn_idx, score,
         row_number() OVER (PARTITION BY query_id, facet, value
                            ORDER BY rank ASC) AS hit_rank
  FROM pairs
)
SELECT query_id, facet, value, hit_rank, conv_id, turn_idx, score
FROM bucketed WHERE hit_rank <= 2
"""

    # ---- field collapse: the SAME transcripts BM25 chain, then per-conv
    # argmax (max rounded score; min doc_id among its achievers) and the
    # group ranking (score desc, rep doc asc) cut at 5
    sqls["collapse_topk"] = f"""
WITH t(conv_id, turn_idx, text) AS (VALUES
{vals}
),
docs AS (
  SELECT (row_number() OVER (ORDER BY conv_id, turn_idx) - 1)::BIGINT AS doc_id,
         conv_id, turn_idx::BIGINT AS turn_idx, text
  FROM t
),
tok AS (SELECT doc_id, {tok3} AS tokens FROM docs),
dl AS (SELECT doc_id, len(tokens)::BIGINT AS dl FROM tok),
corpus AS (SELECT count(*)::BIGINT AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
dln AS (SELECT doc_id, round(dl / (SELECT avgdl FROM corpus), 3) AS dl_norm FROM dl),
exploded AS (SELECT doc_id, unnest(tokens) AS term FROM tok),
idx AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM exploded GROUP BY term, doc_id),
term_stats AS (
  SELECT term, round(ln((SELECT n FROM corpus)::DOUBLE / count(*)), 3) AS idf
  FROM idx GROUP BY term
),
q AS ({' UNION ALL '.join(tq_selects)}),
scored AS (
  SELECT q.query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN q USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx.doc_id
),
g AS (
  SELECT s.query_id, d.conv_id, round(s.s, 6) AS score, s.doc_id
  FROM scored s JOIN docs d USING (doc_id)
),
grp AS (
  SELECT query_id, conv_id, max(score) AS score
  FROM g GROUP BY query_id, conv_id
),
rep AS (
  SELECT grp.query_id, grp.conv_id, grp.score, min(g.doc_id) AS doc_id
  FROM grp JOIN g ON g.query_id = grp.query_id
                 AND g.conv_id = grp.conv_id AND g.score = grp.score
  GROUP BY grp.query_id, grp.conv_id, grp.score
),
granked AS (
  SELECT query_id, conv_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM rep
)
SELECT query_id, conv_id, doc_id, score, rank FROM granked WHERE rank <= 5
"""

    # ---- collapse inner_hits: the SAME chain, plus a per-(query, conv)
    # hit window cut to 3 and the group ranking from the hit_rank=1 rows
    sqls["collapse_inner_hits"] = sqls["collapse_topk"].replace(
        """granked AS (
  SELECT query_id, conv_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM rep
)
SELECT query_id, conv_id, doc_id, score, rank FROM granked WHERE rank <= 5
""",
        """ih AS (
  SELECT query_id, conv_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id, conv_id
                            ORDER BY score DESC, doc_id ASC) AS hit_rank
  FROM g
),
grk AS (
  SELECT query_id, conv_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS group_rank
  FROM ih WHERE hit_rank = 1
)
SELECT i.query_id, i.conv_id, grk.group_rank::BIGINT AS group_rank,
       i.doc_id, i.score, i.hit_rank::BIGINT AS hit_rank
FROM ih i JOIN grk ON i.query_id = grk.query_id
                  AND i.conv_id = grk.conv_id
WHERE i.hit_rank <= 3 AND grk.group_rank <= 5
""")

    # ---- federated scatter-gather: global idf (df/N summed over shards),
    # SHARD-LOCAL dl_norm (each shard's own avgdl — the stored 3-dp footer
    # contract is not invertible, the documented dfs_query_then_fetch
    # analog), tie order = federation docID namespace (shard asc, then the
    # shard-local (conv_id, turn_idx) dense order)
    sqls["federated_search"] = f"""
WITH t(conv_id, turn_idx, text) AS (VALUES
{vals}
),
docs AS (
  SELECT (row_number() OVER (ORDER BY conv_id, turn_idx) - 1)::BIGINT AS doc_id,
         conv_id, turn_idx::BIGINT AS turn_idx,
         (turn_idx % 2)::INT AS shard, text
  FROM t
),
tok AS (SELECT doc_id, shard, {tok3} AS tokens FROM docs),
dl AS (SELECT doc_id, shard, len(tokens)::BIGINT AS dl FROM tok),
shard_stats AS (
  SELECT shard, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl GROUP BY shard
),
corpus AS (SELECT count(*)::BIGINT AS n FROM dl),
dln AS (
  SELECT doc_id, round(dl / s.avgdl, 3) AS dl_norm
  FROM dl JOIN shard_stats s USING (shard)
),
exploded AS (SELECT doc_id, unnest(tokens) AS term FROM tok),
idx AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM exploded GROUP BY term, doc_id),
term_stats AS (
  SELECT term, round(ln((SELECT n FROM corpus)::DOUBLE / count(*)), 3) AS idf
  FROM idx GROUP BY term
),
q AS ({' UNION ALL '.join(tq_selects)}),
scored AS (
  SELECT q.query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN q USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx.doc_id
),
ranked AS (
  SELECT s.query_id, s.doc_id, round(s.s, 6) AS score,
         row_number() OVER (PARTITION BY s.query_id
                            ORDER BY round(s.s, 6) DESC, d.shard ASC,
                                     d.conv_id ASC, d.turn_idx ASC) AS rank
  FROM scored s JOIN docs d USING (doc_id)
)
SELECT r.query_id, d.conv_id, d.turn_idx, r.score, r.rank
FROM ranked r JOIN docs d USING (doc_id) WHERE r.rank <= 10
"""

    # ---- sharded build + federated serving: identical statistics contract
    # to federated_search, but the shard is the BUILD's own deterministic
    # md5 assignment (indexing/shards.py shard_assignment — top 15 hex
    # chars of md5(conv_id) mod 3, exact in BIGINT on both engines), and
    # the tie order follows the shard_0000..0002 doc-base offsets
    sqls["sharded_build_search"] = f"""
WITH t(conv_id, turn_idx, text) AS (VALUES
{vals}
),
docs AS (
  SELECT (row_number() OVER (ORDER BY conv_id, turn_idx) - 1)::BIGINT AS doc_id,
         conv_id, turn_idx::BIGINT AS turn_idx,
         (('0x' || substr(md5(conv_id), 1, 15))::BIGINT % 3)::INT AS shard,
         text
  FROM t
),
tok AS (SELECT doc_id, shard, {tok3} AS tokens FROM docs),
dl AS (SELECT doc_id, shard, len(tokens)::BIGINT AS dl FROM tok),
shard_stats AS (
  SELECT shard, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl GROUP BY shard
),
corpus AS (SELECT count(*)::BIGINT AS n FROM dl),
dln AS (
  SELECT doc_id, round(dl / s.avgdl, 3) AS dl_norm
  FROM dl JOIN shard_stats s USING (shard)
),
exploded AS (SELECT doc_id, unnest(tokens) AS term FROM tok),
idx AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM exploded GROUP BY term, doc_id),
term_stats AS (
  SELECT term, round(ln((SELECT n FROM corpus)::DOUBLE / count(*)), 3) AS idf
  FROM idx GROUP BY term
),
q AS ({' UNION ALL '.join(tq_selects)}),
scored AS (
  SELECT q.query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN q USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx.doc_id
),
ranked AS (
  SELECT s.query_id, s.doc_id, round(s.s, 6) AS score,
         row_number() OVER (PARTITION BY s.query_id
                            ORDER BY round(s.s, 6) DESC, d.shard ASC,
                                     d.conv_id ASC, d.turn_idx ASC) AS rank
  FROM scored s JOIN docs d USING (doc_id)
)
SELECT r.query_id, d.conv_id, d.turn_idx, r.score, r.rank
FROM ranked r JOIN docs d USING (doc_id) WHERE r.rank <= 10
"""

    # ---- federated sort: the federated_search statistics contract
    # (turn-parity shards, global idf, per-shard avgdl) but ranked by the
    # n_chars attribute desc — score and federation doc-id order are only
    # tiebreaks; the federation doc_id order is (shard, conv_id, turn_idx)
    sqls["federated_sort"] = f"""
WITH t(conv_id, turn_idx, text) AS (VALUES
{vals}
),
docs AS (
  SELECT (row_number() OVER (ORDER BY conv_id, turn_idx) - 1)::BIGINT AS doc_id,
         conv_id, turn_idx::BIGINT AS turn_idx,
         (turn_idx % 2)::INT AS shard, text,
         length(coalesce(text, ''))::BIGINT AS n_chars
  FROM t
),
tok AS (SELECT doc_id, shard, {tok3} AS tokens FROM docs),
dl AS (SELECT doc_id, shard, len(tokens)::BIGINT AS dl FROM tok),
shard_stats AS (
  SELECT shard, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl GROUP BY shard
),
corpus AS (SELECT count(*)::BIGINT AS n FROM dl),
dln AS (
  SELECT doc_id, round(dl / s.avgdl, 3) AS dl_norm
  FROM dl JOIN shard_stats s USING (shard)
),
exploded AS (SELECT doc_id, unnest(tokens) AS term FROM tok),
idx AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM exploded GROUP BY term, doc_id),
term_stats AS (
  SELECT term, round(ln((SELECT n FROM corpus)::DOUBLE / count(*)), 3) AS idf
  FROM idx GROUP BY term
),
q AS ({' UNION ALL '.join(tq_selects)}),
scored AS (
  SELECT q.query_id, idx.doc_id, round(sum({_bm25_contrib_sql()}), 6) AS s
  FROM idx JOIN q USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx.doc_id
),
ranked AS (
  SELECT s.query_id, d.conv_id, d.turn_idx, d.n_chars AS sort_value,
         s.s AS score,
         row_number() OVER (PARTITION BY s.query_id
                            ORDER BY d.n_chars DESC, s.s DESC, d.shard ASC,
                                     d.conv_id ASC, d.turn_idx ASC) AS rank
  FROM scored s JOIN docs d USING (doc_id)
)
SELECT query_id, conv_id, turn_idx, sort_value, score, rank
FROM ranked WHERE rank <= 10
"""

    # ---- federated has_child: the md5-mod-3 conversation-coherent
    # sharded build, SHARD-LOCAL statistics (each shard is an independent
    # index: per-shard n, df, idf, avgdl — the python-brute gate's
    # contract), per-turn 6dp scores summed per conversation and
    # re-rounded, min_children floor, global (score desc, conv asc) rank
    sqls["federated_has_child"] = f"""
WITH t(conv_id, turn_idx, text) AS (VALUES
{vals}
),
docs AS (
  SELECT (row_number() OVER (ORDER BY conv_id, turn_idx) - 1)::BIGINT AS doc_id,
         conv_id, turn_idx::BIGINT AS turn_idx,
         (('0x' || substr(md5(conv_id), 1, 15))::BIGINT % 3)::INT AS shard,
         text
  FROM t
),
tok AS (SELECT doc_id, shard, {tok3} AS tokens FROM docs),
dl AS (SELECT doc_id, shard, len(tokens)::BIGINT AS dl FROM tok),
shard_stats AS (
  SELECT shard, count(*)::BIGINT AS n, sum(dl)::DOUBLE / count(*) AS avgdl
  FROM dl GROUP BY shard
),
dln AS (
  SELECT doc_id, round(dl / s.avgdl, 3) AS dl_norm
  FROM dl JOIN shard_stats s USING (shard)
),
exploded AS (SELECT doc_id, unnest(tokens) AS term FROM tok),
sidx AS (
  SELECT d.shard, e.term, e.doc_id, count(*)::BIGINT AS tf
  FROM exploded e JOIN docs d USING (doc_id)
  GROUP BY d.shard, e.term, e.doc_id
),
term_stats AS (
  SELECT i.shard, i.term,
         round(ln(ss.n::DOUBLE / count(*)), 3) AS idf
  FROM (SELECT DISTINCT shard, term, doc_id FROM sidx) i
  JOIN shard_stats ss USING (shard)
  GROUP BY i.shard, i.term, ss.n
),
q AS ({' UNION ALL '.join(tq_selects)}),
scored AS (
  SELECT q.query_id, idx.doc_id,
         round(sum(term_stats.idf * (idx.tf * ({K} + 1.0)) /
                   (idx.tf + {K} * (1.0 - {B} + {B} * dln.dl_norm))), 6) AS s
  FROM sidx idx
  JOIN q USING (term)
  JOIN term_stats ON term_stats.shard = idx.shard
                 AND term_stats.term = idx.term
  JOIN dln ON dln.doc_id = idx.doc_id
  GROUP BY q.query_id, idx.doc_id
),
parents AS (
  SELECT s.query_id, d.conv_id, round(sum(s.s), 6) AS score,
         count(*)::BIGINT AS n_matching
  FROM scored s JOIN docs d USING (doc_id)
  GROUP BY s.query_id, d.conv_id
  HAVING count(*) >= {HAS_CHILD_MIN}
),
ranked AS (
  SELECT query_id, conv_id, score, n_matching,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, conv_id ASC) AS rank
  FROM parents
)
SELECT query_id, conv_id, score, n_matching, rank FROM ranked WHERE rank <= 10
"""

    # ---- faceted search: boolean-OR hit sets, then ES-style per-facet
    # (value, doc count) buckets over the attribute table — count-desc/
    # value-asc tie order, NULL skipped, top-5 per (query, facet)
    sqls["faceted_search"] = f"""
WITH t(conv_id, turn_idx, role, tool, text) AS (VALUES
{vals_attr}
),
docs AS (
  SELECT conv_id, turn_idx::BIGINT AS turn_idx, role, tool, text FROM t
),
tok AS (SELECT conv_id, turn_idx, {tok3} AS tokens FROM docs),
exploded AS (SELECT conv_id, turn_idx, unnest(tokens) AS term FROM tok),
q AS ({' UNION ALL '.join(tq_selects)}),
hits AS (
  SELECT DISTINCT q.query_id, e.conv_id, e.turn_idx
  FROM exploded e JOIN q USING (term)
),
melted AS (
  SELECT h.query_id, 'role' AS facet, d.role AS value
  FROM hits h JOIN docs d USING (conv_id, turn_idx)
  UNION ALL
  SELECT h.query_id, 'tool' AS facet, d.tool AS value
  FROM hits h JOIN docs d USING (conv_id, turn_idx)
),
counts AS (
  SELECT query_id, facet, value, count(*)::BIGINT AS n
  FROM melted WHERE value IS NOT NULL
  GROUP BY query_id, facet, value
),
ranked AS (
  SELECT query_id, facet, value, n,
         row_number() OVER (PARTITION BY query_id, facet
                            ORDER BY n DESC, value ASC)::BIGINT AS rank
  FROM counts
)
SELECT query_id, facet, value, n, rank FROM ranked WHERE rank <= 5
"""

    # ---- federated TF-IDF: doc-side lnc weights are corpus-stat-free and
    # the query ltc pins federation-global idf, so the oracle is plain
    # single-corpus TF-IDF (global term_stats, per-doc banker's-rounded
    # weights) under the federation tie order (shard asc, then the
    # shard-local dense order) — merged-exact on ANY corpus, no per-shard
    # statistics CTE needed
    sqls["federated_tfidf"] = f"""
WITH t(conv_id, turn_idx, text) AS (VALUES
{vals}
),
docs AS (
  SELECT (row_number() OVER (ORDER BY conv_id, turn_idx) - 1)::BIGINT AS doc_id,
         conv_id, turn_idx::BIGINT AS turn_idx,
         (turn_idx % 2)::INT AS shard, text
  FROM t
),
tok AS (SELECT doc_id, {tok3} AS tokens FROM docs),
exploded AS (SELECT doc_id, unnest(tokens) AS term FROM tok),
idx AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM exploded GROUP BY term, doc_id),
corpus AS (SELECT count(*)::BIGINT AS n FROM tok),
term_stats AS (
  SELECT term, round(ln((SELECT n FROM corpus)::DOUBLE / count(*)), 3) AS idf
  FROM idx GROUP BY term
),
w AS (SELECT term, doc_id, 1.0 + ln(tf) AS wr FROM idx),
dnorm AS (SELECT doc_id, sqrt(sum(wr * wr)) AS nrm FROM w GROUP BY doc_id),
wt AS (
  SELECT term, w.doc_id, round_even(wr / nrm, 3) AS w3
  FROM w JOIN dnorm ON w.doc_id = dnorm.doc_id
),
q AS ({' UNION ALL '.join(tq_selects)}),
ql AS (
  SELECT q.query_id, q.term, term_stats.idf AS ltc
  FROM q JOIN term_stats USING (term)
),
qn AS (SELECT query_id, sqrt(sum(ltc * ltc)) AS qnrm FROM ql GROUP BY query_id),
scored AS (
  SELECT ql.query_id, wt.doc_id, sum(wt.w3 * ql.ltc / qn.qnrm) AS s
  FROM wt JOIN ql USING (term) JOIN qn ON ql.query_id = qn.query_id
  GROUP BY ql.query_id, wt.doc_id
),
ranked AS (
  SELECT s.query_id, s.doc_id, round(s.s, 6) AS score,
         row_number() OVER (PARTITION BY s.query_id
                            ORDER BY round(s.s, 6) DESC, d.shard ASC,
                                     d.conv_id ASC, d.turn_idx ASC) AS rank
  FROM scored s JOIN docs d USING (doc_id)
)
SELECT r.query_id, d.conv_id, d.turn_idx, r.score, r.rank
FROM ranked r JOIN docs d USING (doc_id) WHERE r.rank <= 10
"""

    # ---- attribute-filtered retrieval: the same transcripts BM25 contract
    # but ranked over ONLY role='user' turns — docIDs / idf / avgdl stay
    # corpus-wide (the filter constrains candidates, not statistics), so the
    # allowed set joins scored, never tok/idx
    vals_role = ",\n".join(
        f"({_sql_quote(c)}, {int(t)}, {_sql_quote(r)}, {_sql_quote(x)})"
        for c, t, r, x in zip(
            tpdf["conv_id"], tpdf["turn_idx"], tpdf["role"], tpdf["text"]
        )
    )
    sqls["filtered_search"] = f"""
WITH t(conv_id, turn_idx, role, text) AS (VALUES
{vals_role}
),
docs AS (
  SELECT (row_number() OVER (ORDER BY conv_id, turn_idx) - 1)::BIGINT AS doc_id,
         conv_id, turn_idx::BIGINT AS turn_idx, role, text
  FROM t
),
tok AS (SELECT doc_id, {tok3} AS tokens FROM docs),
dl AS (SELECT doc_id, len(tokens)::BIGINT AS dl FROM tok),
corpus AS (SELECT count(*)::BIGINT AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
dln AS (SELECT doc_id, round(dl / (SELECT avgdl FROM corpus), 3) AS dl_norm FROM dl),
exploded AS (SELECT doc_id, unnest(tokens) AS term FROM tok),
idx AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM exploded GROUP BY term, doc_id),
term_stats AS (
  SELECT term, round(ln((SELECT n FROM corpus)::DOUBLE / count(*)), 3) AS idf
  FROM idx GROUP BY term
),
q AS ({' UNION ALL '.join(tq_selects)}),
scored AS (
  SELECT q.query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN q USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx.doc_id
),
allowed AS (SELECT doc_id FROM docs WHERE role = 'user'),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
  FROM scored JOIN allowed USING (doc_id)
)
SELECT r.query_id, r.doc_id, d.conv_id, d.turn_idx, r.score, r.rank
FROM ranked r JOIN docs d USING (doc_id) WHERE r.rank <= 10
"""

    # conjunctive (AND-semantics) ranked retrieval: only docs matched by
    # every query term score; matched-term count rides the scored agg
    sqls["bm25_and_topk"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
qn AS (SELECT query_id, count(*)::BIGINT AS n FROM q GROUP BY query_id),
scored AS (
  SELECT q.query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s,
         count(*)::BIGINT AS matched
  FROM idx JOIN q USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx.doc_id
),
ranked AS (
  SELECT s.query_id, s.doc_id, round(s.s, 6) AS score,
         row_number() OVER (PARTITION BY s.query_id
                            ORDER BY round(s.s, 6) DESC, s.doc_id ASC) AS rank
  FROM scored s JOIN qn USING (query_id) WHERE s.matched = qn.n
)
SELECT query_id, doc_id, score, rank FROM ranked WHERE rank <= 10
"""

    sqls["collocations"] = f"""
WITH tok AS (
  SELECT doc_id, {_TOK_SQL} AS tokens FROM documents
),
uni AS (SELECT unnest(tokens) AS w FROM tok),
ucnt AS (SELECT w, count(*)::BIGINT AS c FROM uni GROUP BY w),
n AS (SELECT count(*)::BIGINT AS n FROM uni),
pairs AS (
  SELECT tokens[g.i] AS w1, tokens[g.i + 1] AS w2
  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(tokens) - 1)) AS i) g
),
big AS (
  SELECT w1, w2, count(*)::BIGINT AS pair_count
  FROM pairs GROUP BY w1, w2
  HAVING count(*) >= {COLLOC_MIN_COUNT}
)
SELECT b.w1, b.w2, b.pair_count,
       round(ln((b.pair_count::DOUBLE * (SELECT n FROM n)::DOUBLE)
                / (c1.c::DOUBLE * c2.c::DOUBLE)), 6) AS pmi
FROM big b JOIN ucnt c1 ON b.w1 = c1.w JOIN ucnt c2 ON b.w2 = c2.w
ORDER BY b.pair_count DESC, b.w1 ASC, b.w2 ASC LIMIT {COLLOC_K}
"""

    sqls["suggest_terms"] = f"""
WITH {_INDEX_CTES}
SELECT term, df::BIGINT AS df FROM term_stats
WHERE term LIKE {_sql_quote(SUGGEST_PREFIX + '%')} AND df > 0
ORDER BY df DESC, term ASC LIMIT 10
"""

    # ---- doc-boosted retrieval: same transcripts BM25 contract, final
    # scores multiplied by the role CASE before the 6dp rounding/ranking
    sqls["boosted_search"] = f"""
WITH t(conv_id, turn_idx, role, text) AS (VALUES
{vals_role}
),
docs AS (
  SELECT (row_number() OVER (ORDER BY conv_id, turn_idx) - 1)::BIGINT AS doc_id,
         conv_id, turn_idx::BIGINT AS turn_idx, role, text
  FROM t
),
tok AS (SELECT doc_id, {tok3} AS tokens FROM docs),
dl AS (SELECT doc_id, len(tokens)::BIGINT AS dl FROM tok),
corpus AS (SELECT count(*)::BIGINT AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
dln AS (SELECT doc_id, round(dl / (SELECT avgdl FROM corpus), 3) AS dl_norm FROM dl),
exploded AS (SELECT doc_id, unnest(tokens) AS term FROM tok),
idx AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM exploded GROUP BY term, doc_id),
term_stats AS (
  SELECT term, round(ln((SELECT n FROM corpus)::DOUBLE / count(*)), 3) AS idf
  FROM idx GROUP BY term
),
q AS ({' UNION ALL '.join(tq_selects)}),
scored AS (
  SELECT q.query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN q USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx.doc_id
),
ranked AS (
  SELECT sc.query_id, sc.doc_id,
         round(sc.s * ({BOOST_CASE.replace("role", "d.role")}), 6) AS score,
         row_number() OVER (PARTITION BY sc.query_id
                            ORDER BY round(sc.s * ({BOOST_CASE.replace("role", "d.role")}), 6) DESC,
                                     sc.doc_id ASC) AS rank
  FROM scored sc JOIN docs d USING (doc_id)
)
SELECT r.query_id, r.doc_id, d.conv_id, d.turn_idx, r.score, r.rank
FROM ranked r JOIN docs d USING (doc_id) WHERE r.rank <= 10
"""

    # ---- Rocchio PRF: both retrieval passes + the expansion selection,
    # replicated per query. Feedback cut and expansion ordering use the
    # same rounded-6dp / asc-tie-break policy as every ranking entry.
    prf_chains, prf_finals = [], []
    for qid in sorted(QUERY_STRINGS):
        terms = _sql_term_list(_qterms(qid))
        prf_chains.append(f"""
q{qid} AS (SELECT unnest({terms}) AS term),
scored{qid} AS (
  SELECT idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN q{qid} USING (term) JOIN term_stats USING (term)
           JOIN dln USING (doc_id)
  GROUP BY idx.doc_id
),
fb{qid} AS (
  SELECT doc_id FROM scored{qid}
  ORDER BY round(s, 6) DESC, doc_id ASC LIMIT {PRF_R}
),
mass{qid} AS (
  SELECT idx.term, sum(1.0 + ln(idx.tf::DOUBLE)) AS tf_mass
  FROM idx JOIN fb{qid} USING (doc_id)
  GROUP BY idx.term
),
exp{qid} AS (
  SELECT m.term FROM mass{qid} m JOIN term_stats USING (term)
  WHERE m.term NOT IN (SELECT term FROM q{qid})
  ORDER BY round(m.tf_mass * term_stats.idf, 6) DESC, m.term ASC
  LIMIT {PRF_M}
),
wq{qid} AS (
  SELECT term, 1.0 AS w FROM q{qid}
  UNION ALL SELECT term, {PRF_BETA} AS w FROM exp{qid}
),
final{qid} AS (
  SELECT {qid} AS query_id, idx.doc_id, sum(wq{qid}.w * {_bm25_contrib_sql()}) AS s
  FROM idx JOIN wq{qid} USING (term) JOIN term_stats USING (term)
           JOIN dln USING (doc_id)
  GROUP BY idx.doc_id
)""")
        prf_finals.append(f"SELECT * FROM final{qid}")
    sqls["prf_search"] = f"""
WITH {_INDEX_CTES.strip()},
{','.join(prf_chains)},
allf AS ({' UNION ALL '.join(prf_finals)}),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
  FROM allf
)
SELECT query_id, doc_id, score, rank::BIGINT AS rank FROM ranked WHERE rank <= 10
"""

    # ---- score explain: the serving tier's per-term contributions,
    # recomputed from the index CTEs over the rounded-rank top-5 docs
    exp_chains, exp_finals = [], []
    for qid in sorted(QUERY_STRINGS):
        terms = _sql_term_list(_qterms(qid))
        exp_chains.append(f"""
eq{qid} AS (SELECT unnest({terms}) AS term),
escored{qid} AS (
  SELECT idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN eq{qid} USING (term) JOIN term_stats USING (term)
           JOIN dln USING (doc_id)
  GROUP BY idx.doc_id
),
etop{qid} AS (
  SELECT doc_id, round(s, 6) AS score,
         row_number() OVER (ORDER BY round(s, 6) DESC, doc_id ASC)::BIGINT
           AS rank
  FROM escored{qid}
),
efinal{qid} AS (
  SELECT {qid} AS query_id, idx.doc_id, idx.term,
         round({_bm25_contrib_sql()}, 6) AS contribution,
         t.score, t.rank
  FROM etop{qid} t
  JOIN idx USING (doc_id) JOIN eq{qid} USING (term)
  JOIN term_stats USING (term) JOIN dln USING (doc_id)
  WHERE t.rank <= 5
)""")
        exp_finals.append(f"SELECT * FROM efinal{qid}")
    sqls["explain_scores"] = f"""
WITH {_INDEX_CTES.strip()},
{','.join(exp_chains)}
SELECT query_id, doc_id, term, contribution, score, rank
FROM ({' UNION ALL '.join(exp_finals)})
"""

    # ---- query-time synonym expansion: the expanded (term, weight) rows
    # come from the module's own expand_query_terms over SYNONYM_RULES
    # (same tokenize chain both engines), inlined as VALUES; contributions
    # weight-fold exactly like the Spark scorer (w multiplies idf)
    from searchengine_spark.query.synonyms import expand_query_terms

    syn_terms, syn_weights = expand_query_terms(
        [QUERY_STRINGS[q] for q in sorted(QUERY_STRINGS)], CFG,
        SYNONYM_RULES, weight=SYNONYM_WEIGHT)
    syn_chains, syn_finals = [], []
    for i, terms in enumerate(syn_terms):
        wmap = syn_weights.get(i, {})
        vals_q = ", ".join(
            f"({_sql_quote(t)}, {float(wmap.get(t, 1.0))})" for t in terms)
        syn_chains.append(f"""
synq{i}(term, w) AS (SELECT * FROM (VALUES {vals_q}) AS v(term, w)),
sfinal{i} AS (
  SELECT {i} AS query_id, idx.doc_id,
         sum(synq{i}.w * {_bm25_contrib_sql()}) AS s
  FROM idx JOIN synq{i} USING (term) JOIN term_stats USING (term)
           JOIN dln USING (doc_id)
  GROUP BY idx.doc_id
)""")
        syn_finals.append(f"SELECT * FROM sfinal{i}")
    # ---- query-string term boosts: the module's own parse inlined as
    # per-query (term, w) rows, each contribution weight-multiplied —
    # the same weighted fold the synonyms oracle gates, driven from the
    # caret syntax instead of a rules file
    from searchengine_spark.query.termboost import parse_boosted_queries

    _tb_qs, _tb_w = parse_boosted_queries(BOOSTED_QUERIES, CFG)
    tb_chains, tb_finals = [], []
    for i, qstr in enumerate(_tb_qs):
        terms = list(dict.fromkeys(tokenize_text(qstr, CFG)))
        wmap = _tb_w.get(i, {})
        vals = ", ".join(
            f"({_sql_quote(t)}, {float(wmap.get(t, 1.0))})" for t in terms)
        tb_chains.append(f"""
tbq{i}(term, w) AS (SELECT * FROM (VALUES {vals}) AS v(term, w)),
tbfinal{i} AS (
  SELECT {i} AS query_id, idx.doc_id,
         sum(tbq{i}.w * {_bm25_contrib_sql()}) AS s
  FROM idx JOIN tbq{i} USING (term) JOIN term_stats USING (term)
           JOIN dln USING (doc_id)
  GROUP BY idx.doc_id
)""")
        tb_finals.append(f"SELECT * FROM tbfinal{i}")
    sqls["boosted_terms_topk"] = f"""
WITH {_INDEX_CTES.strip()},
{','.join(tb_chains)},
allf AS ({' UNION ALL '.join(tb_finals)}),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
  FROM allf
)
SELECT query_id, doc_id, score, rank::BIGINT AS rank FROM ranked WHERE rank <= 10
"""

    sqls["synonym_search"] = f"""
WITH {_INDEX_CTES.strip()},
{','.join(syn_chains)},
allf AS ({' UNION ALL '.join(syn_finals)}),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
  FROM allf
)
SELECT query_id, doc_id, score, rank::BIGINT AS rank FROM ranked WHERE rank <= 10
"""

    # ---- wildcard retrieval: per pattern a LIKE + df-ranked LIMIT over
    # the dictionary (the cap selection is part of the contract), the
    # expansion UNIONed (set semantics = the unique-terms quirk) with the
    # explicit terms, then plain BM25 OR
    from searchengine_spark.query.wildcard import pattern_like, split_wildcards

    wc_chains, wc_finals = [], []
    for i in sorted(WILDCARD_QUERIES):
        pos_q, pats = split_wildcards(WILDCARD_QUERIES[i])
        explicit = list(dict.fromkeys(tokenize_text(pos_q, CFG)))
        branches = [f"SELECT unnest({_sql_term_list(explicit)}) AS term"]
        for j, p in enumerate(pats):
            wc_chains.append(f"""
wexp{i}_{j} AS (
  SELECT term FROM term_stats WHERE term LIKE {_sql_quote(pattern_like(p))} ESCAPE '\\'
  ORDER BY df DESC, term ASC LIMIT {WILDCARD_MAX_EXP}
)""")
            branches.append(f"SELECT term FROM wexp{i}_{j}")
        wc_chains.append(f"""
wq{i} AS ({' UNION '.join(branches)}),
wfinal{i} AS (
  SELECT {i} AS query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN wq{i} USING (term) JOIN term_stats USING (term)
           JOIN dln USING (doc_id)
  GROUP BY idx.doc_id
)""")
        wc_finals.append(f"SELECT * FROM wfinal{i}")
    sqls["wildcard_search"] = f"""
WITH {_INDEX_CTES.strip()},
{','.join(wc_chains)},
allf AS ({' UNION ALL '.join(wc_finals)}),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
  FROM allf
)
SELECT query_id, doc_id, score, rank::BIGINT AS rank FROM ranked WHERE rank <= 10
"""

    # ---- regexp retrieval: per pattern a WHOLE-TERM regexp_full_match
    # + df-ranked LIMIT over the dictionary (the same pattern TEXT the
    # Spark path anchors as ^(?:pat)$ — the Java∩Python∩RE2 subset
    # guarantees the same language), UNIONed with the explicit terms,
    # then plain BM25 OR
    from searchengine_spark.query.regexp import split_regexps

    rx_chains, rx_finals = [], []
    for i in sorted(REGEXP_QUERIES):
        pos_q, rpats = split_regexps(REGEXP_QUERIES[i])
        explicit = list(dict.fromkeys(tokenize_text(pos_q, CFG)))
        branches = [f"SELECT unnest({_sql_term_list(explicit)}) AS term"]
        for j, p in enumerate(rpats):
            rx_chains.append(f"""
rexp{i}_{j} AS (
  SELECT term FROM term_stats WHERE regexp_full_match(term, {_sql_quote(p)})
  ORDER BY df DESC, term ASC LIMIT {REGEXP_MAX_EXP}
)""")
            branches.append(f"SELECT term FROM rexp{i}_{j}")
        rx_chains.append(f"""
rq{i} AS ({' UNION '.join(branches)}),
rfinal{i} AS (
  SELECT {i} AS query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN rq{i} USING (term) JOIN term_stats USING (term)
           JOIN dln USING (doc_id)
  GROUP BY idx.doc_id
)""")
        rx_finals.append(f"SELECT * FROM rfinal{i}")
    sqls["regexp_search"] = f"""
WITH {_INDEX_CTES.strip()},
{','.join(rx_chains)},
allf AS ({' UNION ALL '.join(rx_finals)}),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
  FROM allf
)
SELECT query_id, doc_id, score, rank::BIGINT AS rank FROM ranked WHERE rank <= 10
"""

    # ---- fuzzy query: per tilde word a levenshtein-budget expansion
    # (distance asc / df desc / term asc, capped) unioned with the
    # explicit terms, then plain BM25 OR
    from searchengine_spark.query.fuzzy import auto_fuzziness as _auto_f
    from searchengine_spark.query.fuzzyquery import split_fuzzy as _split_f

    fq_chains, fq_finals = [], []
    for i in sorted(FUZZYQ_QUERIES):
        pos_q, fspecs = _split_f(FUZZYQ_QUERIES[i])
        explicit = list(dict.fromkeys(tokenize_text(pos_q, CFG)))
        branches = [f"SELECT unnest({_sql_term_list(explicit)}) AS term"]
        for j, (word, b) in enumerate(fspecs):
            t = tokenize_text(word, CFG)[0]
            budget = _auto_f(t) if b is None else int(b)
            fq_chains.append(f"""
fexp{i}_{j} AS (
  SELECT term FROM term_stats
  WHERE levenshtein(term, {_sql_quote(t)}) <= {budget}
  ORDER BY levenshtein(term, {_sql_quote(t)}) ASC, df DESC, term ASC
  LIMIT {FUZZYQ_MAX_EXP}
)""")
            branches.append(f"SELECT term FROM fexp{i}_{j}")
        fq_chains.append(f"""
fq{i} AS ({' UNION '.join(branches)}),
ffinal{i} AS (
  SELECT {i} AS query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN fq{i} USING (term) JOIN term_stats USING (term)
           JOIN dln USING (doc_id)
  GROUP BY idx.doc_id
)""")
        fq_finals.append(f"SELECT * FROM ffinal{i}")
    sqls["fuzzy_query_topk"] = f"""
WITH {_INDEX_CTES.strip()},
{','.join(fq_chains)},
allf AS ({' UNION ALL '.join(fq_finals)}),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
  FROM allf
)
SELECT query_id, doc_id, score, rank::BIGINT AS rank FROM ranked WHERE rank <= 10
"""

    # ---- attribute-sorted retrieval: the FULL matched set (any-term
    # join — a top-k-by-score cut mismatches), ordered by the attribute
    # then rounded score then doc_id
    sqls["sorted_search"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
scored AS (
  SELECT q.query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN q USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx.doc_id
),
j AS (
  SELECT s.query_id, s.doc_id, round(s.s, 6) AS score,
         d.n_chars::BIGINT AS sort_value
  FROM scored s LEFT JOIN documents d USING (doc_id)
),
ranked AS (
  SELECT query_id, doc_id, sort_value, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sort_value DESC NULLS LAST,
                                     score DESC, doc_id ASC) AS rank
  FROM j
)
SELECT query_id, doc_id, sort_value, score, rank::BIGINT AS rank
FROM ranked WHERE rank <= 10
"""

    # ---- URL filter: the parse regexes VERBATIM over the same
    # synthesized URLs, suffix rule + reason precedence in one CASE
    from searchengine_spark.textops.urlfilter import TWO_LEVEL_SUFFIXES

    _sfx = ", ".join(_sql_quote(s) for s in TWO_LEVEL_SUFFIXES)
    _bdom = ", ".join(_sql_quote(d) for d in URL_BLOCKED_DOMAINS)
    _bsub = URL_BLOCKED_SUBSTRINGS[0]
    sqls["url_filter"] = f"""
WITH u AS (
  SELECT doc_id, {URL_SYNTH_SQL.replace('AS STRING', 'AS VARCHAR')} AS url
  FROM documents
),
parts AS (
  SELECT doc_id, url,
    nullif(regexp_extract(lower(url), '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1), '') AS scheme,
    regexp_replace(
      nullif(regexp_extract(lower(url), '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1), ''),
      ':[0-9]+$', '') AS host
  FROM u
),
regs AS (
  SELECT *, nullif(regexp_extract(host, '[^.]+\\.[^.]+$', 0), '') AS reg2,
         nullif(regexp_extract(host, '[^.]+\\.[^.]+\\.[^.]+$', 0), '') AS reg3
  FROM parts
),
fin AS (
  SELECT doc_id, scheme, host,
    CASE WHEN reg2 IS NULL THEN host
         WHEN reg2 IN ({_sfx}) AND reg3 IS NOT NULL THEN reg3
         ELSE reg2 END AS registered_domain,
    url
  FROM regs
),
rs AS (
  SELECT doc_id, scheme, host, registered_domain,
    CASE WHEN scheme IS NULL OR scheme NOT IN ('http', 'https')
           THEN 'bad_scheme'
         WHEN registered_domain IN ({_bdom}) OR host IN ({_bdom})
           THEN 'blocked_domain'
         WHEN contains(lower(url), {_sql_quote(_bsub)})
           THEN 'blocked_substring' END AS reason
  FROM fin
)
SELECT doc_id, scheme, host, registered_domain,
       reason IS NULL AS keep, reason
FROM rs
"""

    # ---- term suggester: DuckDB's own levenshtein over the dictionary,
    # self excluded, df-desc/term-asc rank, top 3 per input term
    _ts_arms = " UNION ALL ".join(
        f"""SELECT {_sql_quote(t)} AS qterm, term AS suggestion, df,
       row_number() OVER (ORDER BY df DESC, term ASC) AS rank
FROM term_stats
WHERE levenshtein(term, {_sql_quote(t)}) <= 1 AND term <> {_sql_quote(t)}"""
        for t in TS_TERMS
    )
    sqls["term_suggest"] = f"""
WITH {_INDEX_CTES},
arms AS ({_ts_arms})
SELECT qterm, suggestion, df::BIGINT AS df, rank::BIGINT AS rank
FROM arms WHERE rank <= 3 ORDER BY qterm, rank
"""

    _ts2_arms = " UNION ALL ".join(
        f"""SELECT {_sql_quote(t)} AS qterm, term AS suggestion, df,
       row_number() OVER (ORDER BY levenshtein(term, {_sql_quote(t)}) ASC,
                          df DESC, term ASC) AS rank
FROM term_stats
WHERE levenshtein(term, {_sql_quote(t)}) <= 2 AND term <> {_sql_quote(t)}"""
        for t in TS_TERMS
    )
    sqls["term_suggest_fuzz2"] = f"""
WITH {_INDEX_CTES},
arms AS ({_ts2_arms})
SELECT qterm, suggestion, df::BIGINT AS df, rank::BIGINT AS rank
FROM arms WHERE rank <= 5 ORDER BY qterm, rank
"""

    # ---- watermarked windowed counts: the finalized table must equal
    # plain day-window counts over the ORIGINAL events — the streaming
    # semantics (late drop, finalize-once, no unfinalized trailing
    # window) are exactly what makes this simple SQL the right answer
    sqls["windowed_counts"] = """
SELECT epoch(date_trunc('day', ts))::BIGINT AS w_start,
       event_type, count(*)::BIGINT AS n
FROM events GROUP BY 1, 2
"""

    # ---- streaming sessionization: the islands-and-gaps SQL over the
    # original events IS the closed-session set (probe excluded; each
    # user's final island closed by timeout, earlier ones by gap)
    sqls["stream_sessions"] = f"""
WITH e AS (
  -- floor, not cast: epoch() is a DOUBLE with fractional seconds and
  -- ::BIGINT would ROUND, while the operator floors (ns // 1e9)
  SELECT user_id::VARCHAR AS key, floor(epoch(ts))::BIGINT AS s FROM events
),
o AS (
  SELECT key, s, lag(s) OVER (PARTITION BY key ORDER BY s) AS prev FROM e
),
g AS (
  SELECT key, s,
         CASE WHEN prev IS NULL OR s - prev > {SESSION_GAP_S}
              THEN 1 ELSE 0 END AS brk
  FROM o
),
sid AS (
  SELECT key, s,
         sum(brk) OVER (PARTITION BY key ORDER BY s
                        ROWS UNBOUNDED PRECEDING) AS sess
  FROM g
),
agg AS (
  SELECT key, sess, min(s)::BIGINT AS session_start,
         max(s)::BIGINT AS session_end, count(*)::BIGINT AS n_events
  FROM sid GROUP BY key, sess
)
SELECT key, session_start, session_end, n_events,
       CASE WHEN sess = max(sess) OVER (PARTITION BY key)
            THEN 'timeout' ELSE 'gap' END AS closed_by
FROM agg
"""

    # ---- bloom bits: k salted 48-bit md5 prefixes mod m, distinct —
    # the strpos nibble decode (random_sample idiom), one per salt
    def _bloom_h48_sql(i: int) -> str:
        h = f"md5('bf{i}' || '|' || doc_id::VARCHAR)"
        return " + ".join(
            f"(strpos('0123456789abcdef', substr({h}, {j + 1}, 1)) - 1)"
            f"::BIGINT * {1 << (4 * (11 - j))}"
            for j in range(12)
        )

    _bloom_arms = " UNION ALL ".join(
        f"SELECT ({_bloom_h48_sql(i)}) % {BLOOM_ENTRY_M} AS bit FROM documents"
        for i in range(BLOOM_ENTRY_K)
    )
    sqls["bloom_bits"] = f"""
SELECT DISTINCT bit::BIGINT AS bit FROM ({_bloom_arms})
"""

    # ---- phrase suggester: per-position slots (self edit-0 + df-top-5
    # levenshtein-1 neighbors edit-1), cross join within the edit
    # budget, HUGEINT df product, input phrase excluded
    _ps_slots = []
    for i, t in enumerate(PS_TERMS):
        tq = _sql_quote(t)
        _ps_slots.append(f"""
slot{i} AS (
  SELECT {tq} AS term,
         coalesce((SELECT df FROM term_stats WHERE term = {tq}), 0) AS df,
         0 AS e
  UNION ALL
  SELECT term, df, 1 FROM (
    SELECT term, df FROM term_stats
    WHERE levenshtein(term, {tq}) = 1 AND term <> {tq}
    ORDER BY df DESC, term ASC LIMIT 5
  )
)""")
    _ps_input = _sql_quote(" ".join(PS_TERMS))
    sqls["phrase_suggest"] = f"""
WITH {_INDEX_CTES},
{','.join(_ps_slots)}
SELECT phrase, score::BIGINT AS score, n_edits::BIGINT AS n_edits FROM (
  SELECT s0.term || ' ' || s1.term AS phrase,
         s0.df::HUGEINT * s1.df::HUGEINT AS score,
         s0.e + s1.e AS n_edits
  FROM slot0 s0 CROSS JOIN slot1 s1
  WHERE s0.e + s1.e <= 2
    AND s0.term || ' ' || s1.term <> {_ps_input}
)
ORDER BY score DESC, phrase ASC LIMIT 3
"""

    # ---- _analyze: the tokenize chain + ordinal positions over every
    # 25th document (filtered-sequence positions — the positional
    # payload's semantics)
    sqls["analyze_tokens"] = f"""
WITH tok AS (
  SELECT doc_id, {_TOK_SQL} AS tokens FROM documents WHERE doc_id % 25 = 0
)
SELECT doc_id, generate_subscripts(tokens, 1)::BIGINT - 1 AS position,
       unnest(tokens) AS token
FROM tok
"""

    # ---- _count: distinct matched docs per term list; the appended
    # matchless query answers 0 via count-over-empty
    _mc_arms = []
    for i in sorted(QUERY_STRINGS):
        terms = _sql_term_list(_qterms(i))
        _mc_arms.append(
            f"SELECT {i} AS query_id, (SELECT count(DISTINCT doc_id) "
            f"FROM idx WHERE term IN (SELECT unnest({terms})))::BIGINT "
            f"AS n_matched")
    _mc_arms.append(
        f"SELECT {len(QUERY_STRINGS)} AS query_id, 0::BIGINT AS n_matched")
    sqls["match_count"] = f"""
WITH {_INDEX_CTES}
{' UNION ALL '.join(_mc_arms)}
"""

    # ---- pinned query: organic ranking (k + |pins| window), pin
    # existence filter, two-tier renumber, pinned-and-matched score join
    _pin_vals = ", ".join(f"({i}, {pid})" for i, pid in enumerate(PIN_IDS))
    _qid_vals = " UNION ALL ".join(
        f"SELECT {i} AS query_id" for i in sorted(QUERY_STRINGS))
    sqls["pinned_search"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
scored AS (
  SELECT q.query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN q USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx.doc_id
),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
  FROM scored
),
org AS (SELECT * FROM ranked WHERE rank <= 10 + {len(PIN_IDS)}),
pins(pos, doc_id) AS (VALUES {_pin_vals}),
pexist AS (
  SELECT p.pos, p.doc_id FROM pins p JOIN documents d USING (doc_id)
),
qids AS ({_qid_vals}),
prow AS (
  SELECT qids.query_id, p.doc_id, o.score, TRUE AS pinned,
         0 AS tier, p.pos AS ord
  FROM qids CROSS JOIN pexist p
  LEFT JOIN org o ON o.query_id = qids.query_id AND o.doc_id = p.doc_id
),
orow AS (
  SELECT query_id, doc_id, score, FALSE AS pinned, 1 AS tier,
         rank AS ord
  FROM org WHERE doc_id NOT IN (SELECT doc_id FROM pexist)
),
fin AS (
  SELECT query_id, doc_id, score, pinned,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY tier, ord, doc_id) AS rank
  FROM (SELECT * FROM prow UNION ALL SELECT * FROM orow)
)
SELECT query_id, doc_id, score, pinned, rank::BIGINT AS rank
FROM fin WHERE rank <= 10
"""

    # ---- random_score: 12-nibble md5 over 2^48, decoded with strpos
    # arithmetic (the dataset_split idiom widened to 48 bits)
    _rh = f"md5({_sql_quote(RANDOM_SEED)} || '|' || doc_id::VARCHAR)"
    _r48 = " + ".join(
        f"(strpos('0123456789abcdef', substr({_rh}, {i + 1}, 1)) - 1)"
        f"::BIGINT * {1 << (4 * (11 - i))}"
        for i in range(12)
    )
    sqls["random_sample"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
matched AS (
  SELECT DISTINCT q.query_id, idx.doc_id
  FROM idx JOIN q USING (term)
),
rnd AS (
  SELECT query_id, doc_id,
         round(({_r48})::DOUBLE / {float(1 << 48)}, 6) AS score
  FROM matched
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM rnd
)
SELECT query_id, doc_id, score, rank::BIGINT AS rank
FROM ranked WHERE rank <= 10
"""

    # ---- field_value_factor: BM25 x sqrt(n_chars) — sqrt is IEEE
    # correctly rounded, so the oracle runs it verbatim
    sqls["field_value_factor"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
scored AS (
  SELECT q.query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN q USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx.doc_id
),
j AS (
  SELECT s.query_id, s.doc_id, s.s, d.n_chars::BIGINT AS value
  FROM scored s LEFT JOIN documents d USING (doc_id)
),
comb AS (
  SELECT query_id, doc_id, value,
         round(s * coalesce(sqrt(value::DOUBLE), 1.0::DOUBLE), 6) AS score
  FROM j
),
ranked AS (
  SELECT query_id, doc_id, value, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM comb
)
SELECT query_id, doc_id, value, score, rank::BIGINT AS rank
FROM ranked WHERE rank <= 10
"""

    # ---- rank_feature: BM25 x saturation(n_chars, pivot) — one
    # exactly-computed division, correctly rounded on both engines
    sqls["rank_feature"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
scored AS (
  SELECT q.query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN q USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx.doc_id
),
j AS (
  SELECT s.query_id, s.doc_id, s.s, d.n_chars::BIGINT AS value
  FROM scored s LEFT JOIN documents d USING (doc_id)
),
comb AS (
  SELECT query_id, doc_id, value,
         round(s * coalesce(
           value::DOUBLE / (value::DOUBLE + {RANK_FEATURE_PIVOT}),
           1.0::DOUBLE), 6) AS score
  FROM j
),
ranked AS (
  SELECT query_id, doc_id, value, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM comb
)
SELECT query_id, doc_id, value, score, rank::BIGINT AS rank
FROM ranked WHERE rank <= 10
"""

    # ---- decay scoring: linear decay (pure rational arithmetic — the
    # oracle-able member of the family) multiplied into the score-all
    # BM25 over the LEFT-joined attribute, rounded ranking
    _dk_s = DECAY_SCALE / (1.0 - DECAY_DECAY)
    sqls["decay_search"] = f"""
WITH {_INDEX_CTES},
q AS ({batch_q}),
scored AS (
  SELECT q.query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN q USING (term) JOIN term_stats USING (term) JOIN dln USING (doc_id)
  GROUP BY q.query_id, idx.doc_id
),
j AS (
  SELECT s.query_id, s.doc_id, s.s, d.n_chars::BIGINT AS value
  FROM scored s LEFT JOIN documents d USING (doc_id)
),
dec AS (
  SELECT query_id, doc_id, value,
         CASE WHEN value IS NULL THEN 1.0::DOUBLE
              ELSE greatest(0.0::DOUBLE,
                   ({_dk_s}::DOUBLE
                    - greatest(0.0::DOUBLE,
                               abs(value::DOUBLE - {DECAY_ORIGIN}::DOUBLE)
                               - {DECAY_OFFSET}::DOUBLE))
                   / {_dk_s}::DOUBLE) END AS dc,
         s
  FROM j
),
comb AS (SELECT query_id, doc_id, value, round(s * dc, 6) AS score FROM dec),
ranked AS (
  SELECT query_id, doc_id, value, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM comb
)
SELECT query_id, doc_id, value, score, rank::BIGINT AS rank
FROM ranked WHERE rank <= 10
"""

    # ---- multi_match: per-field index chains (suffixed CTE twins —
    # per-field df/idf/avgdl), per-field score-all with the source
    # boost applied BEFORE the combine, dis_max-style best+tie over the
    # unioned field scores, rounded ranking
    mm_selects = []
    for i in sorted(MM_QUERIES):
        terms = _sql_term_list(
            list(dict.fromkeys(tokenize_text(MM_QUERIES[i], CFG))))
        mm_selects.append(f"SELECT {i} AS query_id, unnest({terms}) AS term")
    _mm_boost = float(MM_BOOSTS["source"])
    sqls["multi_match_topk"] = f"""
WITH {_field_index_ctes('_t', 'text').strip()},
{_field_index_ctes('_s', 'source').strip()},
q AS ({' UNION ALL '.join(mm_selects)}),
sct AS (
  SELECT q.query_id, idx_t.doc_id, sum({_field_contrib_sql('_t')}) AS s
  FROM idx_t JOIN q USING (term) JOIN stats_t USING (term)
             JOIN dln_t USING (doc_id)
  GROUP BY q.query_id, idx_t.doc_id
),
scs AS (
  SELECT q.query_id, idx_s.doc_id,
         {_mm_boost}::DOUBLE * sum({_field_contrib_sql('_s')}) AS s
  FROM idx_s JOIN q USING (term) JOIN stats_s USING (term)
             JOIN dln_s USING (doc_id)
  GROUP BY q.query_id, idx_s.doc_id
),
uni AS (SELECT * FROM sct UNION ALL SELECT * FROM scs),
comb AS (
  SELECT query_id, doc_id,
         max(s) + {MM_TIE}::DOUBLE * (sum(s) - max(s)) AS s
  FROM uni GROUP BY query_id, doc_id
),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
  FROM comb
)
SELECT query_id, doc_id, score, rank::BIGINT AS rank FROM ranked WHERE rank <= 10
"""

    # ---- cross_fields: blended per-term statistics (max df across the
    # fields, one shared idf), per-term dismax over field contributions
    # (source boosted BEFORE the max), per-doc term-score sum
    sqls["cross_fields_topk"] = f"""
WITH {_field_index_ctes('_t', 'text').strip()},
{_field_index_ctes('_s', 'source').strip()},
q AS ({' UNION ALL '.join(mm_selects)}),
blend AS (
  SELECT coalesce(t.term, s.term) AS term,
         round(ln((SELECT n FROM corpus_t)::DOUBLE /
               greatest(coalesce(t.df, 0), coalesce(s.df, 0))), 3) AS bidf
  FROM stats_t t FULL OUTER JOIN stats_s s ON t.term = s.term
),
ct AS (
  SELECT q.query_id, q.term, idx_t.doc_id,
         blend.bidf * (idx_t.tf * ({K} + 1.0)) /
         (idx_t.tf + {K} * (1.0 - {B} + {B} * dln_t.dl_norm)) AS c
  FROM idx_t JOIN q USING (term) JOIN blend USING (term)
             JOIN dln_t USING (doc_id)
),
cs AS (
  SELECT q.query_id, q.term, idx_s.doc_id,
         {_mm_boost}::DOUBLE * blend.bidf * (idx_s.tf * ({K} + 1.0)) /
         (idx_s.tf + {K} * (1.0 - {B} + {B} * dln_s.dl_norm)) AS c
  FROM idx_s JOIN q USING (term) JOIN blend USING (term)
             JOIN dln_s USING (doc_id)
),
u AS (SELECT * FROM ct UNION ALL SELECT * FROM cs),
td AS (
  SELECT query_id, term, doc_id,
         max(c) + {CF_TIE}::DOUBLE * (sum(c) - max(c)) AS tds
  FROM u GROUP BY query_id, term, doc_id
),
fin AS (
  SELECT query_id, doc_id, sum(tds) AS s FROM td GROUP BY query_id, doc_id
),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
  FROM fin
)
SELECT query_id, doc_id, score, rank::BIGINT AS rank FROM ranked WHERE rank <= 10
"""

    # ---- combined_fields: merged synthetic field — weighted tf/dl sums,
    # max-df idf, ONE BM25 saturation over the merge
    sqls["combined_fields_topk"] = f"""
WITH {_field_index_ctes('_t', 'text').strip()},
{_field_index_ctes('_s', 'source').strip()},
q AS ({' UNION ALL '.join(mm_selects)}),
dlc AS (
  SELECT coalesce(t.doc_id, s.doc_id) AS doc_id,
         coalesce(t.dl, 0) * 1.0 + coalesce(s.dl, 0) * 2.0 AS dlc
  FROM dl_t t FULL OUTER JOIN dl_s s ON t.doc_id = s.doc_id
),
corpc AS (SELECT count(*)::BIGINT AS n, sum(dlc) / count(*) AS avgdl FROM dlc),
dlnc AS (
  SELECT doc_id, round(dlc / (SELECT avgdl FROM corpc), 3) AS dl_norm FROM dlc
),
blend AS (
  SELECT coalesce(t.term, s.term) AS term,
         round(ln((SELECT n FROM corpc)::DOUBLE /
               greatest(coalesce(t.df, 0), coalesce(s.df, 0))), 3) AS bidf
  FROM stats_t t FULL OUTER JOIN stats_s s ON t.term = s.term
),
tfc AS (
  SELECT q.query_id, x.term, x.doc_id, sum(x.wtf) AS tfc
  FROM (
    SELECT term, doc_id, tf * 1.0 AS wtf FROM idx_t
    UNION ALL SELECT term, doc_id, tf * 2.0 AS wtf FROM idx_s
  ) x JOIN q USING (term)
  GROUP BY q.query_id, x.term, x.doc_id
),
scored AS (
  SELECT tfc.query_id, tfc.doc_id,
         sum(blend.bidf * (tfc.tfc * ({K} + 1.0)) /
             (tfc.tfc + {K} * (1.0 - {B} + {B} * dlnc.dl_norm))) AS s
  FROM tfc JOIN blend USING (term) JOIN dlnc USING (doc_id)
  WHERE tfc.tfc > 0
  GROUP BY tfc.query_id, tfc.doc_id
),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, doc_id, score, rank::BIGINT AS rank FROM ranked WHERE rank <= 10
"""

    # ---- more-like-this: source doc's top-m (1+ln tf)·idf terms as an
    # unweighted query, source excluded before ranking
    mlt_chains, mlt_finals = [], []
    for i, sid in enumerate(MLT_SOURCES):
        mlt_chains.append(f"""
src{i} AS (
  SELECT idx.term FROM idx JOIN term_stats USING (term)
  WHERE idx.doc_id = {sid}
  ORDER BY round((1.0 + ln(idx.tf::DOUBLE)) * term_stats.idf, 6) DESC,
           idx.term ASC
  LIMIT {MLT_M}
),
mfinal{i} AS (
  SELECT {i} AS query_id, idx.doc_id, sum({_bm25_contrib_sql()}) AS s
  FROM idx JOIN src{i} USING (term) JOIN term_stats USING (term)
           JOIN dln USING (doc_id)
  WHERE idx.doc_id <> {sid}
  GROUP BY idx.doc_id
)""")
        mlt_finals.append(f"SELECT * FROM mfinal{i}")
    sqls["more_like_this"] = f"""
WITH {_INDEX_CTES.strip()},
{','.join(mlt_chains)},
allf AS ({' UNION ALL '.join(mlt_finals)}),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
  FROM allf
)
SELECT query_id, doc_id, score, rank::BIGINT AS rank FROM ranked WHERE rank <= 10
"""

    # ---- ES bool query: EXISTS per required/negated term, a coverage
    # count for the should floor, scoring over must+should only, and the
    # dense-docID mapping applied LAST (the packed index serves dense ids)
    _bq_m = tokenize_text(BOOLQ["must"], CFG)
    _bq_s = tokenize_text(BOOLQ["should"], CFG)
    _bq_n = tokenize_text(BOOLQ["must_not"], CFG)
    _bq_f = tokenize_text(BOOLQ["filter"], CFG)
    _bq_scoring = _sql_term_list(list(dict.fromkeys(_bq_m + _bq_s)))
    _bq_should = _sql_term_list(_bq_s)
    _req_exists = "\n  AND ".join(
        f"EXISTS (SELECT 1 FROM idx r WHERE r.doc_id = dln.doc_id "
        f"AND r.term = {_sql_quote(t)})"
        for t in dict.fromkeys(_bq_m + _bq_f))
    _neg_exists = "\n  AND ".join(
        f"NOT EXISTS (SELECT 1 FROM idx r WHERE r.doc_id = dln.doc_id "
        f"AND r.term = {_sql_quote(t)})"
        for t in _bq_n)
    sqls["bool_query_topk"] = f"""
WITH {_INDEX_CTES},
sq AS (SELECT unnest({_bq_scoring}) AS term),
shq AS (SELECT unnest({_bq_should}) AS term),
eligible AS (
  SELECT dln.doc_id FROM dln
  WHERE {_req_exists}
  AND {_neg_exists}
  AND (SELECT count(*) FROM idx i JOIN shq USING (term)
       WHERE i.doc_id = dln.doc_id) >= {BOOLQ["msm"]}
),
scored AS (
  SELECT idx.doc_id, round(sum({_bm25_contrib_sql()}), 6) AS score
  FROM idx JOIN sq USING (term) JOIN term_stats USING (term)
           JOIN dln USING (doc_id)
  WHERE idx.doc_id IN (SELECT doc_id FROM eligible)
  GROUP BY idx.doc_id
),
dense AS (
  SELECT doc_id AS ext_id,
         (row_number() OVER (ORDER BY doc_id) - 1)::BIGINT AS did
  FROM documents
)
SELECT 0 AS query_id, dense.did AS doc_id, s.score,
       (row_number() OVER (ORDER BY s.score DESC, dense.did ASC))::BIGINT
         AS rank
FROM scored s JOIN dense ON s.doc_id = dense.ext_id
QUALIFY rank <= 10
"""

    # ---- percolator: stored-query registration happens in PYTHON (the
    # module's own register_queries — one normalization, both engines),
    # the (query_id, term, is_neg) rows and per-query floors inlined
    from searchengine_spark.query.percolate import register_queries

    _perc = register_queries(PERC_QUERIES, CFG,
                             min_should_match=PERC_MIN_SHOULD_MATCH)
    _perc_rows = ",\n".join(
        f"({sq.query_id}, {_sql_quote(t)}, {str(neg).upper()})"
        for sq in _perc
        for t, neg in ([(x, False) for x in sq.terms]
                       + [(x, True) for x in sq.neg_terms])
    )
    _perc_floors = ", ".join(f"({sq.query_id}, {sq.m})" for sq in _perc)
    sqls["percolate_docs"] = f"""
WITH tok AS (
  SELECT doc_id, {_TOK_SQL} AS tokens FROM documents
),
dterms AS (
  SELECT doc_id, unnest(list_distinct(tokens)) AS term FROM tok
),
qt(query_id, term, is_neg) AS (VALUES
{_perc_rows}
),
floors(query_id, m) AS (VALUES {_perc_floors}),
agg AS (
  SELECT d.doc_id, q.query_id,
         sum(CASE WHEN NOT q.is_neg THEN 1 ELSE 0 END)::BIGINT AS n_matched,
         max(CASE WHEN q.is_neg THEN 1 ELSE 0 END) AS vetoed
  FROM dterms d JOIN qt q USING (term)
  GROUP BY d.doc_id, q.query_id
)
SELECT a.doc_id, a.query_id, a.n_matched
FROM agg a JOIN floors f USING (query_id)
WHERE a.vetoed = 0 AND a.n_matched >= f.m
"""

    # ---- ES _termvectors analog: tf + 0-based positions from the stored
    # (min-len-filtered) token stream, df from the term_stats sidecar; the
    # dense-docID mapping (row_number over ext_id) inlined like docid_dense
    tv_ids = ", ".join(str(d) for d in TV_DOC_IDS)
    sqls["term_vectors"] = f"""
WITH {_INDEX_CTES.strip()},
dense AS (
  SELECT doc_id AS ext_id,
         (row_number() OVER (ORDER BY doc_id) - 1)::BIGINT AS did
  FROM documents
),
sel AS (
  SELECT dense.did, tok.tokens
  FROM tok JOIN dense ON tok.doc_id = dense.ext_id
  WHERE dense.did IN ({tv_ids})
),
occ AS (
  SELECT did, tokens[i + 1] AS term, i AS pos
  FROM sel, (SELECT unnest(range(100000)) AS i)
  WHERE i < len(tokens)
),
tv AS (
  SELECT did, term, count(*)::BIGINT AS tf,
         string_agg(pos::VARCHAR, ',' ORDER BY pos) AS positions
  FROM occ GROUP BY did, term
)
SELECT tv.did AS doc_id, tv.term, tv.tf, term_stats.df, tv.positions
FROM tv JOIN term_stats USING (term)
"""
    # serving-path twins: the sidecar / block-max tiers must be
    # bit-identical to their base paths, so they share the oracle
    sqls["sorted_sidecar"] = sqls["sorted_search"]
    sqls["decay_sidecar"] = sqls["decay_search"]
    sqls["sparse_blockmax"] = sqls["sparse_expansion"]

    return sqls
