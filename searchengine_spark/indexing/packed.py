"""Packed (M2) index: SPIMI re-expressed as Spark stages, compressed postings.

Reference pipeline being re-expressed (NOT ported): SPIMI block build + k-way
merge (/root/reference/src/models/spimi.py:76-209) producing a sorted
term->postings file with idf sidecar and per-doc dl_norm footer
(src/models/spimi.py:211-271). Here each piece becomes a Spark stage whose
shuffle IS the merge:

  stage docs   : input -> dense docIDs (two-pass, docids.py) + tokens + dl,
                 ONE write job; N and avgdl ride the write as observed
                 metrics (no separate aggregation pass). Tokenization
                 happens exactly once — the index stage explodes the STORED
                 token arrays instead of re-tokenizing text.
  stage index  : explode stored tokens -> one range shuffle on (term,
                 doc_id) -> vectorized varbyte encode per partition.
                 chunk = doc_id // chunk_docs: a term's postings are split
                 into doc-range chunks, so no posting list is ever
                 materialized whole — the hot-term (stop-word-like) skew that
                 would blow a collect_list is bounded by chunk_docs. Chunks
                 double as WAND blocks: (first_doc, last_doc, max_tfsat) per
                 chunk is exact block-max metadata (Ding & Suel 2011).
                 dlq (= round(dl_norm*1000), lossless 3-dp quantization) is
                 derived here from dl + the observed avgdl scalar.
  stage stats  : term_stats (df, idf=round(ln(N/df),3)) from chunk counts
  (docmap)     : NOT a stage — doc_id -> (conv_id, turn_idx) resolution is a
                 column-pruned view over the docs stage parquet (columnar
                 format means reading just those columns; a separate docmap
                 sink would rewrite the same bytes and add a whole job)

Each stage writes Parquet + Spark's _SUCCESS marker; ``resume=True`` skips
completed stages (checkpoint-resumable, north_rule). ``lineage`` records
per-file row counts and doc ranges; ``manifest.json`` (written LAST =
commit marker) records scalars, config, per-stage wall times and
throughput. Manifest totals (n_postings, n_chunks) are aggregated from the
tiny lineage sidecars — the index itself is scanned exactly twice after
being written (per-file lineage + term df), never for scalar bookkeeping.

All sidecar metadata IO (markers, state, manifest) goes through the JVM
Hadoop FileSystem (fsio.py), so ``path`` may be any Hadoop-FS URI
(``file://``, ``hdfs://``, ``s3a://``) — the same code ships to a real
cluster via spark-submit --py-files (jobs/build_index.py).
"""

from __future__ import annotations

import json
import time
from typing import Iterable, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..tokenizer import TokenizerConfig, tokens_column
from . import fsio
from .build import Bm25Params, idf_col
from .codec import tf_saturation
from .docids import DOC_ID, unpersist_doc_ids, with_doc_ids

DEFAULT_CHUNK_DOCS = 1 << 16  # postings chunk = 65536-doc range

INDEX_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("chunk", T.LongType(), False),
        T.StructField("df_chunk", T.LongType(), False),
        T.StructField("first_doc", T.LongType(), False),
        T.StructField("last_doc", T.LongType(), False),
        T.StructField("max_tfsat", T.DoubleType(), False),
        T.StructField("postings", T.BinaryType(), False),
        T.StructField("positions", T.BinaryType(), True),  # positional mode only
    ]
)


def _done(spark: SparkSession, path: str) -> bool:
    return fsio.exists(spark, fsio.join(path, "_SUCCESS"))


def _stage_dirs(path: str) -> dict:
    return {
        "docs": fsio.join(path, "docs"),
        "index": fsio.join(path, "index"),
        "term_stats": fsio.join(path, "term_stats"),
        "doc_norms": fsio.join(path, "doc_norms"),
        "lineage": fsio.join(path, "lineage"),
        "lineage_index": fsio.join(path, "lineage_index"),
        "manifest": fsio.join(path, "manifest.json"),
        "state": fsio.join(path, "build_state.json"),
    }


def _encode_partition(
    params: Bm25Params,
    chunk_docs: int = 0,
    positional: bool = False,
    payload: str = "freq",
):
    """Partition-level encoder: input batches are (term, chunk, doc_id)-
    sorted within the partition; groups may straddle Arrow batch
    boundaries, so the trailing (possibly incomplete) group of each batch
    is carried into the next. ONE vectorized varbyte pass per batch
    (codec.encode_posting_groups) instead of one Python call per (term,
    chunk) group — the difference between O(batch) and O(n_terms) Python
    overhead in the build hot path."""
    k, b = float(params.k), float(params.b)

    def encode(batches):
        import numpy as np

        leftover: pd.DataFrame | None = None

        def emit(pdf: pd.DataFrame) -> pd.DataFrame:
            n = len(pdf)
            terms = pdf["term"].to_numpy()
            doc_ids = pdf["doc_id"].to_numpy(np.int64)
            # chunk derived from doc_id (monotone) — not shuffled as a column
            chunks = (
                pdf["chunk"].to_numpy(np.int64)
                if "chunk" in pdf.columns
                else doc_ids // chunk_docs
            )
            dlqs = pdf["dlq"].to_numpy(np.int64)
            w = (
                pdf["tf"].to_numpy(np.int64)
                if "tf" in pdf.columns
                else np.ones(n, dtype=np.int64)
            )
            # posting run boundaries: (term, chunk, doc) changes — raw token
            # occurrences compress to (posting, tf=run weight) right here,
            # which is what lets the build skip the pre-agg shuffle entirely
            newp = np.empty(n, dtype=bool)
            newp[0] = True
            newp[1:] = (
                (terms[1:] != terms[:-1])
                | (chunks[1:] != chunks[:-1])
                | (doc_ids[1:] != doc_ids[:-1])
            )
            pstarts = np.flatnonzero(newp)
            tfs = np.add.reduceat(w, pstarts)
            cterms = terms[pstarts]
            cchunks = chunks[pstarts]
            cdocs = doc_ids[pstarts]
            cdlqs = dlqs[pstarts]
            # group boundaries in compressed posting space
            m = len(pstarts)
            newg = np.empty(m, dtype=bool)
            newg[0] = True
            newg[1:] = (cterms[1:] != cterms[:-1]) | (cchunks[1:] != cchunks[:-1])
            starts = np.flatnonzero(newg)
            from .codec import (
                encode_doc_groups,
                encode_posting_groups,
                encode_position_groups,
            )

            if payload == "boolean":
                # presence-only postings: doc gaps, no tf/dlq (the
                # reference's BooleanPostingList — ~3x smaller index)
                buffers, first, last, counts = encode_doc_groups(starts, cdocs)
                pos_bufs = None
                max_sat = np.ones(len(starts), dtype=np.float64)
            else:
                buffers, first, last, counts = encode_posting_groups(
                    starts, cdocs, tfs, cdlqs
                )
                if positional:
                    pos_bufs = encode_position_groups(
                        pstarts[starts], pstarts, pdf["pos"].to_numpy(np.int64)
                    )
                else:
                    pos_bufs = None
                if payload == "tfidf":
                    # chunk bound = max stored weight (a WAND-style upper
                    # bound for TF-IDF scoring; slot 3 holds wq here)
                    max_sat = np.maximum.reduceat(
                        cdlqs.astype(np.float64) / 1000.0, starts
                    )
                else:
                    sat = tf_saturation(tfs, cdlqs.astype(np.float64) / 1000.0, k, b)
                    max_sat = np.maximum.reduceat(sat, starts)
            return pd.DataFrame(
                {
                    "term": cterms[starts],
                    "chunk": cchunks[starts],
                    "df_chunk": counts,
                    "first_doc": first,
                    "last_doc": last,
                    "max_tfsat": max_sat,
                    "postings": buffers,
                    "positions": pos_bufs,
                }
            )

        for pdf in batches:
            if leftover is not None and len(leftover):
                pdf = pd.concat([leftover, pdf], ignore_index=True)
                leftover = None
            if len(pdf) == 0:
                continue
            chunk_col = (
                pdf["chunk"].to_numpy(np.int64)
                if "chunk" in pdf.columns
                else pdf["doc_id"].to_numpy(np.int64) // chunk_docs
            )
            lt = pdf["term"].iloc[-1]
            lc = chunk_col[-1]
            tail = (pdf["term"].to_numpy() == lt) & (chunk_col == int(lc))
            run = int(np.cumprod(tail[::-1]).sum())  # trailing-run length
            cut = len(pdf) - run
            if cut > 0:
                yield emit(pdf.iloc[:cut])
            leftover = pdf.iloc[cut:].copy()
        if leftover is not None and len(leftover):
            yield emit(leftover)

    return encode


def write_docs_stage(
    tokenized: DataFrame,
    order_cols,
    dirs: dict,
    n_partitions: Optional[int] = None,
) -> dict:
    """Write the docs stage from an already-TOKENIZED frame
    (``*order_cols, tokens``): dense docIDs in global order_cols order,
    dl = token count, with N/avgdl observed on the write (no second pass)
    and committed to ``build_state.json``. Shared by the fresh build
    (which tokenizes first) and the shard merge (``merge.py``, which
    reuses the shards' STORED token streams — a merge never re-tokenizes).
    Returns the state dict."""
    spark = tokenized.sparkSession
    docs = with_doc_ids(tokenized, order_cols=order_cols, n_partitions=n_partitions)
    id_handle = docs  # untransformed return value carries the persist handle
    docs = docs.withColumn("dl", F.size("tokens").cast("long"))
    obs = Observation()
    (
        docs.select(DOC_ID, *order_cols, "tokens", "dl")
        .observe(obs, F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"))
        .write.mode("overwrite")
        .parquet(dirs["docs"])
    )
    got = obs.get
    if int(got["n"]) == 0:
        unpersist_doc_ids(id_handle)
        raise ValueError(
            "docs stage is empty — refusing to commit an index with no "
            "documents (avgdl undefined)"
        )
    state = {"n_docs": int(got["n"]), "avgdl": float(got["avgdl"])}
    unpersist_doc_ids(id_handle)
    fsio.write_text(spark, dirs["state"], json.dumps(state))
    return state


def build_packed_index(
    transcripts: DataFrame,
    cfg: TokenizerConfig,
    path: str,
    params: Bm25Params = Bm25Params(),
    text_col: str = "text",
    order_cols=("conv_id", "turn_idx"),
    chunk_docs: int = DEFAULT_CHUNK_DOCS,
    n_partitions: Optional[int] = None,
    resume: bool = False,
    positional: bool = False,
    tfidf_sidecar: bool = False,
    payload: str = "freq",
    tfidf_doc_schema: str = "lnc",
    manifest_extra: Optional[dict] = None,
) -> dict:
    """Build the packed index at ``path``; returns the manifest dict.

    ``manifest_extra``: caller-supplied attestations merged into the
    manifest (e.g. ``shard_coherent_by`` from
    indexing/shards.build_shard_indexes — the flag federated
    parent-level merges validate). Keys may not collide with the
    build's own manifest keys.

    ``tfidf_sidecar=True`` additionally writes per-doc cosine norms for
    ALL THREE doc-side tf letters (doc_norms: doc_id, nrm = sqrt Σ_t
    (1+ln tf)^2 [the lnc norm], nrm_b = sqrt #terms, nrm_n = sqrt Σ tf^2)
    so TF-IDF serves from the packed index (query/proximity.py) under any
    SMART doc-side schema l|b|n × c — the stored-3dp doc-weight contract
    (tf_idf.py:114-115) derives w at decode as round(tf_w/nrm, 3).
    Non-cosine norms ('n'/'b') never need the sidecar.

    ``payload``: "freq" (doc_gap, tf, dlq triples — BM25/TF-IDF-servable),
    "boolean" (doc gaps only — the reference's BooleanPostingList option,
    ~3x smaller, boolean queries only), or "tfidf" (doc_gap, tf, wq triples
    where wq = the stored-3dp weight x1000 under ``tfidf_doc_schema``
    (default lnc) — the reference's 'doc:freq/w' index-line format,
    tf_idf.py:114-115: plain TF-IDF serves joinlessly from the postings;
    BM25 refused, no dl payload; the manifest records the baked schema and
    serving validates against it). The tfidf payload pre-aggregates
    (term, doc) tf to attach weights (two shuffles instead of one) and
    does not combine with positional — use ``tfidf_sidecar`` + positional
    for TF_IDF_OPTIMIZED."""
    if payload not in ("freq", "boolean", "tfidf"):
        raise ValueError(f"unknown payload {payload!r}")
    if payload == "tfidf" and not (
        len(tfidf_doc_schema) == 3
        and tfidf_doc_schema[0] in "lbn"
        and tfidf_doc_schema[1] == "n"
        and tfidf_doc_schema[2] in "cbn"
    ):
        raise ValueError(
            f"unsupported tfidf_doc_schema {tfidf_doc_schema!r} "
            "(doc-side SMART triple: tf in l|b|n, df must be 'n', "
            "norm in c|b|n)"
        )
    if payload == "boolean" and (positional or tfidf_sidecar):
        raise ValueError("boolean payload stores no tf — it cannot be "
                         "positional and has no tfidf sidecar")
    if payload == "tfidf" and positional:
        raise ValueError("tfidf payload pre-aggregates (term, doc) rows — "
                         "positions need the occurrence stream; build "
                         "positional=True with tfidf_sidecar instead")
    spark = transcripts.sparkSession
    dirs = _stage_dirs(path)
    metrics: dict = {"stages": {}}

    # ---- stage docs: dense docIDs + tokens + lengths, ONE write job -------
    # N and avgdl ride the write as observed metrics instead of a separate
    # aggregation pass; tokens are stored so the index stage never
    # re-tokenizes (tokenization runs exactly once per corpus).
    t0 = time.perf_counter()
    if not (resume and _done(spark, dirs["docs"]) and fsio.exists(spark, dirs["state"])):
        base = transcripts.select(
            *order_cols, tokens_column(F.col(text_col), cfg).alias("tokens")
        )
        write_docs_stage(base, order_cols, dirs, n_partitions=n_partitions)
    state = json.loads(fsio.read_text(spark, dirs["state"]))
    n_docs, avgdl = state["n_docs"], state["avgdl"]
    metrics["stages"]["docs"] = time.perf_counter() - t0

    docs = spark.read.parquet(dirs["docs"])

    # ---- stage lineage: per-file counts + doc ranges (pruned 2-col scan) --
    t0 = time.perf_counter()
    if not (resume and _done(spark, dirs["lineage"])):
        lineage = (
            docs.select(DOC_ID, "dl", F.input_file_name().alias("file"))
            .groupBy("file")
            .agg(
                F.count("*").alias("n_rows"),
                F.min(DOC_ID).alias("min_doc"),
                F.max(DOC_ID).alias("max_doc"),
                F.sum("dl").alias("n_tokens"),
                F.min("dl").alias("min_dl"),
                F.max("dl").alias("max_dl"),
            )
            .withColumn("stage", F.lit("docs"))
        )
        lineage.write.mode("overwrite").parquet(dirs["lineage"])
    metrics["stages"]["lineage"] = time.perf_counter() - t0

    # ---- stage index: explode -> tf -> chunked varbyte postings -----------
    t0 = time.perf_counter()
    if not (resume and _done(spark, dirs["index"])):
        # dlq = round(dl/avgdl, 3)*1000 — integerized EXACTLY like the stored
        # footer value (bm25.py:76-81): round-half-even on the double, *1000
        dlq = F.round(F.round(F.col("dl") / F.lit(avgdl), 3) * 1000.0).cast("long")
        if payload == "tfidf":
            # reference 'doc:freq/w' lines: pre-agg tf, attach the stored-3dp
            # weight under tfidf_doc_schema (the SAME Spark expressions as
            # tfidf.tfidf_weights -> bit-identical stored values), quantize
            # losslessly into the third triple slot
            from ..query.tfidf import _uniform_tf_col

            occ = docs.select(DOC_ID, F.explode("tokens").alias("term"))
            tfagg = occ.groupBy("term", DOC_ID).agg(F.count("*").alias("tf"))
            wr = _uniform_tf_col(F.col("tf"), tfidf_doc_schema[0])
            if tfidf_doc_schema[2] == "c":
                norms = tfagg.groupBy(DOC_ID).agg(
                    F.sqrt(F.sum(wr * wr)).alias("nrm")
                ).select(F.col(DOC_ID).alias("_nd"), "nrm")
                tok = tfagg.join(norms, F.col(DOC_ID) == F.col("_nd"))
                w_raw = wr / F.col("nrm")
            else:
                # 'n': every weight is 1 (reference uniform_weight 'n',
                # tf_idf.py:201); 'b': identity (no reference branch)
                tok = tfagg
                w_raw = F.lit(1.0) if tfidf_doc_schema[2] == "n" else wr
            tok = tok.select(
                "term",
                DOC_ID,
                "tf",
                F.round(F.bround(w_raw, 3) * 1000.0)
                .cast("long")
                .alias("dlq"),  # triple slot 3 = wq for this payload
            )
        elif positional:
            tok = docs.select(
                DOC_ID, dlq.alias("dlq"), F.posexplode("tokens").alias("pos", "term")
            )
        else:
            tok = docs.select(DOC_ID, dlq.alias("dlq"), F.explode("tokens").alias("term"))
        # ONE shuffle: raw token occurrences range-partitioned + sorted by
        # (term, doc_id) — chunk is monotone in doc_id so this order equals
        # (term, chunk, doc_id), and the encoder derives chunk itself (one
        # fewer shuffled column). tf comes out as run lengths, so no
        # (term, doc) pre-agg exchange is needed. The range layout doubles
        # as the merged, sorted on-disk index (spimi.py:211-236 analog);
        # min/max parquet stats on `term` then give point-lookup pruning
        # like the reference's binary search (index.py:93-131).
        sort_cols = ["term", DOC_ID] + (["pos"] if positional else [])
        sorted_tok = tok.repartitionByRange("term", DOC_ID).sortWithinPartitions(
            *sort_cols
        )
        chunks = sorted_tok.mapInPandas(
            _encode_partition(params, chunk_docs, positional, payload),
            schema=INDEX_SCHEMA,
        )
        chunks.write.mode("overwrite").parquet(dirs["index"])
    metrics["stages"]["index"] = time.perf_counter() - t0

    index = spark.read.parquet(dirs["index"])

    # ---- index-stage segment lineage: per-output-file (== per encode
    # partition) metrics — postings written, segment sizes, term ranges
    # (north_rule: per-partition lineage and metrics) --------------------
    t0 = time.perf_counter()
    if not (resume and _done(spark, dirs["lineage_index"])):
        (
            index.withColumn("file", F.input_file_name())
            .groupBy("file")
            .agg(
                F.countDistinct("term").alias("n_terms"),
                F.count("*").alias("n_chunks"),
                F.sum("df_chunk").alias("n_postings"),
                F.sum(F.length("postings")).alias("postings_bytes"),
                F.min("term").alias("term_lo"),
                F.max("term").alias("term_hi"),
            )
            .withColumn("stage", F.lit("index"))
            .write.mode("overwrite")
            .parquet(dirs["lineage_index"])
        )
    metrics["stages"]["lineage_index"] = time.perf_counter() - t0

    # ---- stage stats: df/idf sidecar (the '.tiny', spimi.py:233-242) ------
    t0 = time.perf_counter()
    if not (resume and _done(spark, dirs["term_stats"])):
        ts = index.groupBy("term").agg(F.sum("df_chunk").alias("df"))
        ts = ts.withColumn("idf", idf_col(n_docs))
        ts.coalesce(8).write.mode("overwrite").parquet(dirs["term_stats"])
    metrics["stages"]["term_stats"] = time.perf_counter() - t0

    # ---- optional stage doc_norms: cosine norms per doc (TF-IDF sidecar) --
    # one shuffle, three aggregates: the cosine denominator for each
    # doc-side tf letter (l: 1+ln tf, b: 0/1, n: raw tf) so packed serving
    # accepts any SMART doc-side schema; `nrm` keeps its pre-generalization
    # name (the lnc norm) for old-index compatibility
    if tfidf_sidecar:
        t0 = time.perf_counter()
        if not (resume and _done(spark, dirs["doc_norms"])):
            tfagg = (
                docs.select(DOC_ID, F.explode("tokens").alias("term"))
                .groupBy(DOC_ID, "term")
                .agg(F.count("*").alias("tf"))
            )
            wr = F.lit(1.0) + F.log(F.col("tf").cast("double"))
            tfd = F.col("tf").cast("double")
            (
                tfagg.groupBy(DOC_ID)
                .agg(
                    F.sqrt(F.sum(wr * wr)).alias("nrm"),
                    F.sqrt(F.count("*").cast("double")).alias("nrm_b"),
                    F.sqrt(F.sum(tfd * tfd)).alias("nrm_n"),
                )
                .write.mode("overwrite")
                .parquet(dirs["doc_norms"])
            )
        metrics["stages"]["doc_norms"] = time.perf_counter() - t0

    # ---- manifest = commit marker (written last) ---------------------------
    # totals come from the TINY lineage/stats sidecars — no rescan of the
    # index for scalar bookkeeping (three O(#files)/O(#terms) micro-jobs)
    li_row = spark.read.parquet(dirs["lineage_index"]).agg(
        F.sum("n_chunks"), F.sum("n_postings")
    ).collect()[0]
    n_chunks, n_postings = int(li_row[0] or 0), int(li_row[1] or 0)
    n_terms = spark.read.parquet(dirs["term_stats"]).count()
    dl_row = (
        spark.read.parquet(dirs["lineage"])
        .agg(
            F.min(F.round(F.col("min_dl") / F.lit(avgdl), 3)),
            F.max(F.round(F.col("max_dl") / F.lit(avgdl), 3)),
        )
        .collect()[0]
    )
    build_s = sum(metrics["stages"].values())
    conf = spark.conf
    manifest = {
        "format": "searchengine_spark.packed/1",
        "positional": positional,
        "tfidf_sidecar": tfidf_sidecar,
        "payload": payload,
        **({"tfidf_doc_schema": tfidf_doc_schema} if payload == "tfidf" else {}),
        "dl_norm_min": float(dl_row[0] or 0.0),
        "dl_norm_max": float(dl_row[1] or 0.0),
        "spark_conf": {
            "shuffle_partitions": conf.get("spark.sql.shuffle.partitions", None),
            "adaptive_enabled": conf.get("spark.sql.adaptive.enabled", None),
            "skew_join_enabled": conf.get(
                "spark.sql.adaptive.skewJoin.enabled", None
            ),
            "default_parallelism": spark.sparkContext.defaultParallelism,
        },
        "n_docs": n_docs,
        "avgdl": avgdl,
        "k": params.k,
        "b": params.b,
        "chunk_docs": chunk_docs,
        "tokenizer": cfg.to_manifest(),
        "order_cols": list(order_cols),
        "n_terms": int(n_terms),
        "n_chunks": int(n_chunks),
        "n_postings": int(n_postings),
        "metrics": {
            "stage_seconds": {s: round(v, 3) for s, v in metrics["stages"].items()},
            "build_seconds": round(build_s, 3),
            "docs_per_sec": round(n_docs / max(build_s, 1e-9), 1),
            "postings_per_sec": round(int(n_postings) / max(build_s, 1e-9), 1),
        },
    }
    if manifest_extra:
        clash = set(manifest_extra) & set(manifest) | {"snapshot_seq"} & set(
            manifest_extra)
        if clash:
            raise ValueError(
                f"manifest_extra keys collide with build keys: {sorted(clash)}")
        manifest.update(manifest_extra)
    # a fresh build starts snapshot history at 0 (maintenance commits
    # archive superseded manifests under snapshots/; indexing/snapshots.py)
    manifest["snapshot_seq"] = 0
    fsio.delete(spark, fsio.join(path, "snapshots"))
    fsio.write_text(spark, dirs["manifest"], json.dumps(manifest, indent=1))
    return manifest


class PackedIndex:
    """Handle over an on-disk packed index (lazy DataFrames + manifest)."""

    def __init__(self, spark: SparkSession, path: str, snapshot: int | None = None):
        dirs = _stage_dirs(path)
        if not fsio.exists(spark, dirs["manifest"]):
            raise FileNotFoundError(f"no committed index at {path} (manifest.json missing)")
        self.path = path
        if snapshot is not None:
            # time travel: the archived manifest of a past commit
            # (indexing/snapshots.py — raises SnapshotExpired past the
            # delayed-GC retention window)
            from .snapshots import load_snapshot_manifest

            self.manifest = load_snapshot_manifest(spark, path, snapshot)
        else:
            self.manifest = json.loads(fsio.read_text(spark, dirs["manifest"]))
        # streaming appends live in epoch dirs registered in the manifest —
        # only COMMITTED epochs are visible (exactly-once; incremental.py).
        # Base stage dirs are manifest-driven so compaction (compact.py) can
        # swing readers to a merged layout with one manifest replace.
        epochs = [a["batch_id"] for a in self.manifest.get("appends", [])]
        index_paths = [
            fsio.join(path, self.manifest.get("index_dir", "index"))
        ] + [fsio.join(path, "index_appends", str(b)) for b in epochs]
        docs_paths = [
            fsio.join(path, self.manifest.get("docs_dir", "docs"))
        ] + [fsio.join(path, "docs_appends", str(b)) for b in epochs]
        self.index = spark.read.parquet(*index_paths)
        self.term_stats = spark.read.parquet(
            fsio.join(path, self.manifest.get("term_stats_dir", "term_stats"))
        )
        # docmap is a column-pruned view over the docs stage (no separate
        # sink): parquet reads just (doc_id, *order_cols) column chunks
        self.docmap = spark.read.parquet(*docs_paths).select(
            DOC_ID, *self.manifest["order_cols"]
        )
        self.doc_norms = (
            spark.read.parquet(
                fsio.join(path, self.manifest.get("doc_norms_dir", "doc_norms")),
                *[fsio.join(path, "doc_norms_appends", str(b)) for b in epochs],
            )
            if self.manifest.get("tfidf_sidecar")
            else None
        )
        self.spark = spark
        self._docs_paths = docs_paths
        self._delete_mask_loaded = False
        self._delete_mask = None

    def docs_stage(self) -> DataFrame:
        """The FULL docs stage (doc_id, *order_cols, tokens, dl) across the
        base layout and every committed epoch — the stored token streams
        with their external keys. Feeds the shard merge (indexing/merge.py),
        which re-sorts these rows globally instead of re-tokenizing."""
        return self.spark.read.parquet(*self._docs_paths)

    def doc_tokens(self) -> DataFrame:
        """(doc_id, tokens) pruned view over the docs stage — the stored
        token streams (tokenization ran exactly once, at build; the index
        stage and this view both read them instead of re-tokenizing).
        Feeds PRF expansion / more-like-this (query/feedback.py), which
        need document term vectors for a BOUNDED doc set — callers
        semi-join it with their doc ids so the scan stays pruned."""
        return self.spark.read.parquet(*self._docs_paths).select(
            DOC_ID, "tokens"
        )

    def delete_mask(self):
        """Committed tombstone set as a :class:`~.deletes.DeleteMask`
        (None when the manifest lists no deletes). Loaded once, lazily —
        the serving paths pass it into their decode hooks so deleted docs
        never reach a scorer (indexing/deletes.py)."""
        if not self._delete_mask_loaded:
            from .deletes import load_delete_mask

            self._delete_mask = load_delete_mask(
                self.spark, self.path, self.manifest
            )
            self._delete_mask_loaded = True
        return self._delete_mask

    @property
    def params(self) -> Bm25Params:
        return Bm25Params(k=self.manifest["k"], b=self.manifest["b"])


def load_packed_index(
    spark: SparkSession, path: str, snapshot: int | None = None
) -> PackedIndex:
    return PackedIndex(spark, path, snapshot=snapshot)


def exploded_view(pidx: PackedIndex, include_positions: bool = False) -> DataFrame:
    """Decode the packed index back to (term, doc_id, tf, dl_norm
    [, positions]) rows — the uncompressed test view (SURVEY.md §1.3);
    gates M2 ≡ M1. ``include_positions`` requires a positional build and
    emits the comma-joined string form ('doc:pos1,pos2,…' payloads,
    positional_posting_list.py:50-51)."""
    payload = pidx.manifest.get("payload", "freq")
    # third decoded value: dl_norm for freq payloads, the stored-3dp lnc
    # weight for tfidf payloads ('doc:freq/w' analog), absent for boolean
    third = "w" if payload == "tfidf" else "dl_norm"
    fields = [
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("tf", T.LongType(), False),
        T.StructField(third, T.DoubleType(), False),
    ]
    if include_positions:
        fields.append(T.StructField("positions", T.StringType(), False))
    out_schema = T.StructType(fields)
    boolean = payload == "boolean"
    if include_positions and payload != "freq":
        raise ValueError(f"{payload} payload stores no positions")

    def decode(batches: Iterable[pd.DataFrame]):
        import numpy as np

        from .codec import decode_docs, decode_positions, decode_postings

        for pdf in batches:
            frames = []
            for i, (term, buf) in enumerate(zip(pdf["term"], pdf["postings"])):
                if boolean:
                    # presence-only payload: tf=1, dl_norm unavailable (0.0)
                    doc_ids = decode_docs(bytes(buf))
                    tfs = np.ones(len(doc_ids), dtype=np.int64)
                    dl_norm = np.zeros(len(doc_ids), dtype=np.float64)
                else:
                    doc_ids, tfs, dl_norm = decode_postings(bytes(buf))
                cols = {"term": term, "doc_id": doc_ids, "tf": tfs, third: dl_norm}
                if include_positions:
                    flat, occ_starts = decode_positions(
                        bytes(pdf["positions"].iloc[i]), tfs
                    )
                    ends = list(occ_starts[1:]) + [len(flat)]
                    cols["positions"] = [
                        ",".join(map(str, flat[s:e]))
                        for s, e in zip(occ_starts, ends)
                    ]
                frames.append(pd.DataFrame(cols))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return pidx.index.mapInPandas(decode, schema=out_schema)
