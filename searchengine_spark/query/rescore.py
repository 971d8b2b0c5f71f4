"""ES ``rescore`` — query rescoring: re-rank the top ``window_size``
hits of the primary query with a SECONDARY query, combining the two
scores per ``score_mode`` (the ES/Lucene QueryRescorer contract):

    matched by rescore query:   mode(qw·p, rqw·s)
    not matched:                qw·p            (the secondary term is
                                                 ABSENT, not zero — a
                                                 multiply rescore must
                                                 not zero non-matches)

``score_mode``: ``total`` (sum — the ES default), ``multiply``,
``avg``, ``max``, ``min``. Docs outside the window keep their primary
order below it (here k <= window_size is enforced, so the page IS the
re-sorted window prefix).

Why this shape scales: the primary pass rides the block-max WAND tier
(k = window_size — a rescore window is a top-k, never a score-all);
the secondary pass is the score-all surface of the RESCORE query
restricted to the window candidates by a broadcast join (the candidate
set is query-count × window rows — driver-bounded by construction,
the same bound ES's rescorer has). One extra exchange total.

Float discipline (the cross-engine oracle contract): primary scores
arrive 6dp-rounded from the WAND tier; the secondary score-all is
rounded to the same ``round_dp`` BEFORE the combine, and the combined
score re-rounds with Spark's ``F.round`` — HALF_UP on the shortest
decimal repr of the double (the idf/dl_norm policy; serve._round3_up is
its Python twin). A weight that is not dyadic (0.7) makes qw·p land on a
decimal tie like 2.0655845, where HALF_UP and a binary-value rounder
(``np.round`` gives 2.065584) disagree, so an oracle must round the way
``F.round`` does; ``avg`` divides by 2, which is exact in binary.

No reference counterpart; semantics follow the Elasticsearch rescore
API (rescore_query + query_weight/rescore_query_weight/score_mode).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..indexing.packed import PackedIndex
from ..tokenizer import TokenizerConfig

SCORE_MODES = ("total", "multiply", "avg", "max", "min")


def rescore_topk(
    pidx: PackedIndex,
    queries: Sequence[str],
    rescore_queries: Sequence[str],
    cfg: TokenizerConfig,
    k: int = 10,
    window_size: int = 50,
    query_weight: float = 1.0,
    rescore_query_weight: float = 1.0,
    score_mode: str = "total",
    round_dp: int | None = None,
) -> DataFrame:
    """-> (query_id, doc_id, primary, secondary, score, rank).

    ``rescore_queries`` aligns with ``queries`` by position (one
    rescore query per primary query; empty string = no rescoring for
    that query — its window keeps qw·p order). ``secondary`` is NULL
    for window docs the rescore query does not match (the ES
    only-affects-matches contract made visible)."""
    if score_mode not in SCORE_MODES:
        raise ValueError(
            f"score_mode must be one of {SCORE_MODES}, got {score_mode!r}")
    if k > window_size:
        raise ValueError(
            f"k={k} > window_size={window_size}: the page must come from "
            "the rescored window (ES pays window_size >= size too)")
    if len(rescore_queries) != len(queries):
        raise ValueError(
            f"{len(queries)} queries but {len(rescore_queries)} rescore "
            "queries — they align by position")
    if query_weight < 0 or rescore_query_weight < 0:
        raise ValueError("weights must be non-negative")

    from .wand import bm25_scores_packed_batch, bm25_topk_packed_batch

    spark = pidx.spark
    # the window is <= n_queries x window_size rows BY CONSTRUCTION —
    # collect it once (the ES coordinator holds exactly this set) so the
    # WAND pass runs once instead of re-executing under both sides of
    # the restriction join; re-injected as a literal broadcast frame
    win_rows = bm25_topk_packed_batch(
        pidx, list(queries), cfg, k=window_size, round_dp=round_dp
    ).select("query_id", "doc_id", F.col("score").alias("primary")).collect()
    primary = spark.createDataFrame(
        [(int(r["query_id"]), int(r["doc_id"]), float(r["primary"]))
         for r in win_rows],
        "query_id int, doc_id long, primary double")

    secondary = bm25_scores_packed_batch(
        pidx, list(rescore_queries), cfg, round_dp=round_dp
    ).select("query_id", "doc_id", F.col("score").alias("secondary"))
    joined = primary.join(
        secondary.join(
            F.broadcast(primary.select("query_id", "doc_id")),
            ["query_id", "doc_id"],
        ),
        ["query_id", "doc_id"],
        "left",
    )
    qp = F.col("primary") * F.lit(float(query_weight))
    rs = F.col("secondary") * F.lit(float(rescore_query_weight))
    if score_mode == "total":
        combined = qp + rs
    elif score_mode == "multiply":
        combined = qp * rs
    elif score_mode == "avg":
        combined = (qp + rs) / F.lit(2.0)
    elif score_mode == "max":
        combined = F.greatest(qp, rs)
    else:
        combined = F.least(qp, rs)
    # non-matching window docs keep qw·p (the secondary term is absent)
    score = F.when(F.col("secondary").isNull(), qp).otherwise(combined)
    if round_dp is not None:
        score = F.round(score, round_dp)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc())
    return (
        joined.withColumn("score", score)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "primary", "secondary", "score",
                "rank")
    )


def rescore_topk_federated(
    shards,
    queries: Sequence[str],
    rescore_queries: Sequence[str],
    cfg: TokenizerConfig,
    k: int = 10,
    window_size: int = 50,
    query_weight: float = 1.0,
    rescore_query_weight: float = 1.0,
    score_mode: str = "total",
    round_dp: int | None = None,
) -> DataFrame:
    """Federated ES rescore -> (query_id, doc_id, primary, secondary,
    score, rank) with doc_id in the federation namespace. EXACT: the
    primary window is the federated WAND top-window (federation-global
    idf, shard-local dl_norm — dfs_query_then_fetch), the secondary is
    the federated score-all of the rescore query restricted to the
    window candidates, and a doc lives in one shard so both scores are
    per-doc complete. Same combine contract as the packed path."""
    if score_mode not in SCORE_MODES:
        raise ValueError(
            f"score_mode must be one of {SCORE_MODES}, got {score_mode!r}")
    if k > window_size:
        raise ValueError(
            f"k={k} > window_size={window_size}: the page must come from "
            "the rescored window (ES pays window_size >= size too)")
    if len(rescore_queries) != len(queries):
        raise ValueError(
            f"{len(queries)} queries but {len(rescore_queries)} rescore "
            "queries — they align by position")
    if query_weight < 0 or rescore_query_weight < 0:
        raise ValueError("weights must be non-negative")

    from .federated import bm25_scores_federated, bm25_topk_federated

    spark = shards[0].spark
    # same window-collect as the packed path (coordinator-bounded)
    win_rows = bm25_topk_federated(
        shards, list(queries), cfg, k=window_size, round_dp=round_dp
    ).select("query_id", "doc_id", F.col("score").alias("primary")).collect()
    primary = spark.createDataFrame(
        [(int(r["query_id"]), int(r["doc_id"]), float(r["primary"]))
         for r in win_rows],
        "query_id int, doc_id long, primary double")
    secondary = bm25_scores_federated(
        shards, list(rescore_queries), cfg, round_dp=round_dp
    ).select("query_id", "doc_id", F.col("score").alias("secondary"))
    joined = primary.join(
        secondary.join(
            F.broadcast(primary.select("query_id", "doc_id")),
            ["query_id", "doc_id"],
        ),
        ["query_id", "doc_id"],
        "left",
    )
    qp = F.col("primary") * F.lit(float(query_weight))
    rs = F.col("secondary") * F.lit(float(rescore_query_weight))
    if score_mode == "total":
        combined = qp + rs
    elif score_mode == "multiply":
        combined = qp * rs
    elif score_mode == "avg":
        combined = (qp + rs) / F.lit(2.0)
    elif score_mode == "max":
        combined = F.greatest(qp, rs)
    else:
        combined = F.least(qp, rs)
    score = F.when(F.col("secondary").isNull(), qp).otherwise(combined)
    if round_dp is not None:
        score = F.round(score, round_dp)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc())
    return (
        joined.withColumn("score", score)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "primary", "secondary", "score",
                "rank")
    )
