"""Exact (M1) index build: exploded index + stats tables, all-native Spark.

Builds the logical equivalent of the reference SPIMI output — the merged
term->postings index plus its sidecars — as DataFrames:

- ``index``       (term, doc_id, tf [, positions])   <-> merged index lines
                  'term doc:freq ...' (src/models/spimi.py:211-236)
- ``term_stats``  (term, df, idf=round(ln(N/df),3))   <-> '.tiny' sidecar
                  (src/models/rankers/bm25.py:105-106, spimi.py:233-242)
- ``doc_lengths`` (doc_id, dl, dl_norm=round(dl/avgdl,3)) <-> footer JSON
                  doc_length_normalization (src/models/rankers/bm25.py:76-81)
- ``docmap``      (doc_id, conv_id, turn_idx)         <-> cache/mappings
                  (src/indexer.py:52)

Quirk ledger compliance (SURVEY.md §2.6):
- dl = post-filter token count incl. duplicates (§2.6.4): ``size(tokens)``.
- N = total docs incl. zero-token docs (§2.6.5): count of the transcripts.
- 3-dp rounding of idf and dl_norm is part of the score contract (§2.6.1).

The whole plan is Catalyst-visible: tokenize (native Column when possible) ->
posexplode -> groupBy(term, doc_id) [map-side partial agg] -> groupBy(term).
The only shuffles are the two groupBys, both keyed the way the data is used.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..tokenizer import TokenizerConfig, tokens_column
from .docids import DOC_ID, with_doc_ids


@dataclass(frozen=True)
class Bm25Params:
    """k/b defaults = test-entry defaults (reference src/test.py:45-46);
    the CLI default is k=0.75, b=0.5 (src/indexer.py:128-143) — exposed,
    not default (SURVEY.md §2.6.8)."""

    k: float = 1.2
    b: float = 0.75


def idf_col(n_live: int, df: str = "df"):
    """The stored idf, round(ln(N_live / df), 3) — the reference's 3-dp
    footer contract (spimi.py:233-242). Every term_stats writer (build,
    append, delete) and every federation-global recompute uses this one
    expression, so a stored idf and its recomputation agree bit for bit."""
    return F.round(F.log(F.lit(float(max(n_live, 1))) / F.col(df)), 3)


@dataclass
class IndexTables:
    docs: DataFrame           # transcripts + doc_id + tokens
    docmap: DataFrame         # doc_id, conv_id, turn_idx
    doc_lengths: DataFrame    # doc_id, dl, dl_norm
    index: DataFrame          # term, doc_id, tf [, positions]
    term_stats: DataFrame     # term, df, idf
    n_docs: int
    avgdl: float
    manifest: dict = field(default_factory=dict)

    def cache(self) -> "IndexTables":
        self.doc_lengths = self.doc_lengths.cache()
        self.index = self.index.cache()
        self.term_stats = self.term_stats.cache()
        return self

    def unpersist(self) -> None:
        """Release every persist this build holds (docs + any cache() marks
        + the with_doc_ids internal handle) — long-lived sessions building
        many indexes leak executor memory otherwise."""
        from .docids import unpersist_doc_ids

        for df in (self.doc_lengths, self.index, self.term_stats, self.docs):
            df.unpersist()
        unpersist_doc_ids(self.docs)


def tokenized_docs(
    transcripts: DataFrame,
    cfg: TokenizerConfig,
    text_col: str = "text",
    order_cols=("conv_id", "turn_idx"),
    n_partitions: Optional[int] = None,
) -> DataFrame:
    """transcripts -> + dense doc_id + tokens column."""
    docs = with_doc_ids(transcripts, order_cols=order_cols, n_partitions=n_partitions)
    # carry the internal persist handle onto the derived frame so
    # IndexTables.unpersist() actually releases it (withColumn makes a new
    # DataFrame object; the attribute would otherwise be lost — ADVICE r02)
    from .docids import carry_doc_id_handle

    return carry_doc_id_handle(docs, docs.withColumn("tokens", tokens_column(F.col(text_col), cfg)))


def build_index(
    transcripts: DataFrame,
    cfg: TokenizerConfig,
    text_col: str = "text",
    order_cols=("conv_id", "turn_idx"),
    positional: bool = False,
    n_partitions: Optional[int] = None,
    id_col: Optional[str] = None,
) -> IndexTables:
    """``id_col``: use a pre-assigned dense docID column instead of deriving
    one from ``order_cols`` (e.g. the testdata ``documents.doc_id``)."""
    if id_col is not None:
        docs = transcripts.withColumn(DOC_ID, F.col(id_col).cast("long"))
        if id_col != DOC_ID:
            docs = docs.drop(id_col)
        docs = docs.withColumn("tokens", tokens_column(F.col(text_col), cfg)).persist()
        order_cols = (DOC_ID,) if id_col == DOC_ID else tuple(order_cols)
    else:
        docs = tokenized_docs(transcripts, cfg, text_col, order_cols, n_partitions).persist()

    doc_lengths = docs.select(DOC_ID, F.size("tokens").alias("dl"))
    # N and avgdl are two scalars over the same tiny agg — one job
    row = doc_lengths.agg(
        F.count("*").alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n_docs, avgdl = int(row["n"]), float(row["avgdl"])
    # round(dl/avgdl, 3): part of the BM25 score contract (bm25.py:78)
    doc_lengths = doc_lengths.withColumn(
        "dl_norm", F.round(F.col("dl") / F.lit(avgdl), 3)
    )

    tok = docs.select(DOC_ID, F.posexplode("tokens").alias("pos", "term"))
    aggs = [F.count("*").alias("tf")]
    if positional:
        # positions in token order (reference appends in add order,
        # src/models/posting_lists/positional_posting_list.py:19-24)
        aggs.append(F.sort_array(F.collect_list("pos")).alias("positions"))
    index = tok.groupBy("term", DOC_ID).agg(*aggs)

    # df is exact (feeds idf -> scores; approx_count_distinct is NOT ok,
    # SURVEY.md §2.5); index rows are already unique on (term, doc_id)
    term_stats = index.groupBy("term").agg(F.count("*").alias("df"))
    term_stats = term_stats.withColumn("idf", idf_col(n_docs))

    map_cols = [c for c in order_cols if c != DOC_ID]
    return IndexTables(
        docs=docs,
        docmap=docs.select(DOC_ID, *map_cols),
        doc_lengths=doc_lengths,
        index=index,
        term_stats=term_stats,
        n_docs=n_docs,
        avgdl=avgdl,
        manifest={
            "tokenizer": cfg.to_manifest(),
            "positional": positional,
            "n_docs": n_docs,
            "avgdl": avgdl,
            "order_cols": list(order_cols),
            "text_col": text_col,
        },
    )
