"""Incremental (streaming) index maintenance over the packed index.

The reference is batch-only (SURVEY.md §2.5); this is our extension for a
continuously-arriving transcript corpus: Structured Streaming
(``availableNow`` trigger + checkpoint) feeds ``foreachBatch`` appends into
the packed index layout (indexing/packed.py).

Semantics (defined by us, recorded in the manifest):
- new docs get docIDs [n_docs, n_docs + batch) — dense rank within the
  batch on (conv_id, turn_idx), offset by the manifest count;
- ``avgdl`` is FROZEN at initial build: appended postings carry dlq
  computed against the frozen avgdl (standard practice for incremental
  IR indexes — a full rebuild re-normalizes);
- ``term_stats`` stays EXACT for the grown corpus via a delta merge:
  old stats full-outer-joined with the batch's per-term df deltas
  (O(vocab + batch terms) — never a re-aggregation of the whole chunk
  table), idf recomputed on the merged rows for the new N;
- appends may add a second row for an existing (term, chunk): the WAND
  scorer already concatenates same-chunk rows, and chunk upper bounds
  remain valid upper bounds;
- EVERY build configuration appends: ``tfidf_sidecar`` indexes get
  per-epoch ``doc_norms_appends/<batch_id>`` rows, ``payload='tfidf'``
  appends bake stored weights under the manifest's doc schema (both pure
  per-doc functions — epoch extension exact), ``payload='boolean'``
  appends encode doc gaps, and positional appends encode the per-posting
  position delta stream (widening the manifest dl_norm bounds so the
  BM25_OPTIMIZED boost normalization stays in-domain for appended docs).

Exactly-once commit protocol (readers + retries):
- every append stages its files in epoch dirs INVISIBLE to readers
  (``docs_appends/<batch_id>``, ``index_appends/<batch_id>``, and a fresh
  ``term_stats_v<batch_id>``) — a :class:`~..indexing.packed.PackedIndex`
  only reads dirs the manifest lists, so a reader never sees a
  half-written append;
- the manifest update (atomic write-then-rename, fsio.py) is the single
  commit point: it registers the epoch in ``appends`` and swings
  ``term_stats_dir`` to the new version;
- a foreachBatch retry re-runs with the SAME batch_id (Structured
  Streaming contract): if the manifest already lists it the append is a
  no-op, otherwise the staging dirs are simply overwritten — either way
  no duplicate postings, no double-counted df;
- the previous term_stats version is GC'd only after the commit (the
  newest-but-one is kept for readers holding the old manifest).

All metadata IO goes through the Hadoop FileSystem (fsio.py): the index
path may be any Hadoop-FS URI; nothing here touches the driver-local FS.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..indexing import fsio
from ..indexing.build import Bm25Params, idf_col
from ..indexing.packed import _encode_partition, _stage_dirs, INDEX_SCHEMA
from ..tokenizer import TokenizerConfig, tokens_column
from ..indexing.docids import DOC_ID, unpersist_doc_ids, with_doc_ids


def _append_dirs(path: str, batch_id: int) -> dict:
    return {
        "docs": fsio.join(path, "docs_appends", f"{batch_id}"),
        "index": fsio.join(path, "index_appends", f"{batch_id}"),
        "doc_norms": fsio.join(path, "doc_norms_appends", f"{batch_id}"),
        "term_stats": fsio.join(path, f"term_stats_v{batch_id}"),
    }


def append_batch(
    batch: DataFrame,
    path: str,
    cfg: TokenizerConfig,
    batch_id: int = 0,
    text_col: str = "text",
    order_cols=None,
    pre_tokenized: bool = False,
) -> dict:
    """Append one micro-batch of transcript rows to the packed index at
    ``path``; returns the updated manifest. Idempotent per ``batch_id``.

    ``order_cols`` defaults to the MANIFEST's recorded external-id columns
    (build/append parity — the appended docs stage must union cleanly with
    the base docs stage); passing a conflicting set is an error, not a
    silent schema divergence.

    ``pre_tokenized=True``: the batch carries a ``tokens`` array column
    (a shard's stored token streams — indexing/merge.py adoption) and
    ``text_col``/``cfg``-tokenization is skipped; the CALLER owns tokenizer
    parity with the manifest."""
    spark = batch.sparkSession
    dirs = _stage_dirs(path)
    manifest = json.loads(fsio.read_text(spark, dirs["manifest"]))
    m_order = tuple(c for c in manifest["order_cols"] if c != "doc_id")
    if order_cols is None:
        order_cols = m_order
    elif tuple(order_cols) != m_order:
        raise ValueError(
            f"order_cols {tuple(order_cols)} conflicts with the index's "
            f"recorded order_cols {m_order}; appended docs must share the "
            "base docs-stage schema"
        )
    payload = manifest.get("payload", "freq")
    positional = bool(manifest.get("positional"))
    committed = {a["batch_id"] for a in manifest.get("appends", [])}
    # append_seq is the epoch high-water mark, MONOTONIC across
    # compactions (which clear the appends ledger while the epoch dirs
    # await group GC): a batch_id below it is a retry of an epoch that was
    # already committed — and possibly already folded by a compaction —
    # so it must be a no-op, never a re-append (duplicate postings) or a
    # dir-clobbering overwrite of a pending-GC epoch
    append_seq = int(manifest.get("append_seq", 0))
    if batch_id in committed or batch_id < append_seq:
        return manifest  # retried after a successful commit: no-op

    offset = int(manifest["n_docs"])
    avgdl = float(manifest["avgdl"])  # frozen (module docstring)
    chunk_docs = int(manifest["chunk_docs"])
    params = Bm25Params(k=manifest["k"], b=manifest["b"])
    adirs = _append_dirs(path, batch_id)

    docs = with_doc_ids(batch, order_cols=order_cols)
    id_handle = docs  # untransformed return value carries the persist handle
    docs = docs.withColumn(DOC_ID, F.col(DOC_ID) + offset)
    if pre_tokenized:
        # batch carries the stored token streams already (shard adoption,
        # indexing/merge.py) — tokenization is deterministic, so they
        # substitute bit-for-bit for re-tokenizing the raw text
        if "tokens" not in batch.columns:
            raise ValueError("pre_tokenized=True needs a 'tokens' column")
    else:
        docs = docs.withColumn("tokens", tokens_column(F.col(text_col), cfg))
    docs = docs.withColumn("dl", F.size("tokens").cast("long"))
    # same docs-stage schema as the base build (docmap view unions them)
    docs = docs.select(DOC_ID, *order_cols, "tokens", "dl").persist()
    n_new = docs.count()
    if n_new == 0:
        docs.unpersist()
        unpersist_doc_ids(id_handle)
        return manifest

    if payload == "tfidf":
        # 'doc:freq/w' payload: the triple's third slot is the stored-3dp
        # weight ×1000 under the manifest's baked doc schema — the same
        # Spark expressions as the base build (packed.py) and
        # tfidf.tfidf_weights, so appended stored weights are bit-identical
        # to a rebuild's
        from ..query.tfidf import _uniform_tf_col

        doc_schema = manifest.get("tfidf_doc_schema", "lnc")
        occ = docs.select(DOC_ID, F.explode("tokens").alias("term"))
        tfagg = occ.groupBy("term", DOC_ID).agg(F.count("*").alias("tf"))
        wr = _uniform_tf_col(F.col("tf"), doc_schema[0])
        if doc_schema[2] == "c":
            norms = tfagg.groupBy(DOC_ID).agg(
                F.sqrt(F.sum(wr * wr)).alias("_nrm")
            ).select(F.col(DOC_ID).alias("_nd"), "_nrm")
            tf = tfagg.join(norms, F.col(DOC_ID) == F.col("_nd"))
            w_raw = wr / F.col("_nrm")
        else:
            tf = tfagg
            w_raw = F.lit(1.0) if doc_schema[2] == "n" else wr
        tf = tf.select(
            "term", DOC_ID, "tf",
            F.round(F.bround(w_raw, 3) * 1000.0).cast("long").alias("dlq"),
        )
    elif positional:
        # occurrence rows: the group encoder derives run-length tfs and the
        # per-posting position delta stream (mirrors the base build)
        dlq = F.round(F.round(F.col("dl") / F.lit(avgdl), 3) * 1000.0).cast("long")
        tf = docs.select(
            DOC_ID, dlq.alias("dlq"),
            F.posexplode("tokens").alias("pos", "term"),
        )
    else:
        dlq = F.round(F.round(F.col("dl") / F.lit(avgdl), 3) * 1000.0).cast("long")
        tok = docs.select(DOC_ID, dlq.alias("dlq"), F.explode("tokens").alias("term"))
        tf = tok.groupBy("term", DOC_ID, "dlq").agg(F.count("*").alias("tf"))
    # the build's encoder (one range shuffle, (term, doc_id)-sorted
    # partitions, one vectorized pass per Arrow batch; chunk derives from
    # the offset doc_id) — a per-(term, chunk) Python call costs
    # O(batch terms) and dominated append time
    sort_cols = ["term", DOC_ID] + (["pos"] if positional else [])
    chunks = (
        tf.repartitionByRange("term", DOC_ID)
        .sortWithinPartitions(*sort_cols)
        .mapInPandas(
            _encode_partition(params, chunk_docs, positional, payload),
            schema=INDEX_SCHEMA,
        )
    )
    # staging writes: overwrite (a retried half-written epoch is replaced)
    chunks.write.mode("overwrite").parquet(adirs["index"])
    docs.write.mode("overwrite").parquet(adirs["docs"])

    # tfidf sidecar: per-doc cosine norms for the BATCH's docs (a pure
    # per-doc function — epoch-append-safe; ADVICE r02's "extend doc_norms
    # per epoch" option). Columns mirror the BASE sidecar so the reader's
    # multi-dir parquet union keeps one schema (pre-generalization indexes
    # have only the lnc `nrm`).
    if manifest.get("tfidf_sidecar"):
        base_cols = spark.read.parquet(
            fsio.join(path, manifest.get("doc_norms_dir", "doc_norms"))
        ).columns
        tfagg = (
            docs.select(DOC_ID, F.explode("tokens").alias("term"))
            .groupBy(DOC_ID, "term")
            .agg(F.count("*").alias("tf"))
        )
        wr = F.lit(1.0) + F.log(F.col("tf").cast("double"))
        tfd = F.col("tf").cast("double")
        aggs = [F.sqrt(F.sum(wr * wr)).alias("nrm")]
        if "nrm_b" in base_cols:
            aggs.append(F.sqrt(F.count("*").cast("double")).alias("nrm_b"))
        if "nrm_n" in base_cols:
            aggs.append(F.sqrt(F.sum(tfd * tfd)).alias("nrm_n"))
        (
            tfagg.groupBy(DOC_ID)
            .agg(*aggs)
            .write.mode("overwrite")
            .parquet(adirs["doc_norms"])
        )

    # streaming lineage stats (one row): computed here while ``docs`` is
    # still persisted, WRITTEN only after the commit point below —
    # lineage_stream is append-mode, so a pre-commit write would leave an
    # orphan/duplicate row when a crashed epoch is retried
    lrow = docs.groupBy().agg(
        F.count("*").alias("n_rows"),
        F.min(DOC_ID).alias("min_doc"),
        F.max(DOC_ID).alias("max_doc"),
        F.sum("dl").alias("n_tokens"),
    ).collect()[0]
    # positional indexes serve BM25_OPTIMIZED, whose boost normalizes by
    # the manifest dl_norm bounds — widen them with the batch (the rebuild-
    # consistent direction; values stay on the frozen avgdl) so appended
    # docs can't push log2((d-min)/(max-min)+1) out of domain
    dl_bounds = None
    if positional:
        r = docs.agg(
            F.min(F.round(F.col("dl") / F.lit(avgdl), 3)),
            F.max(F.round(F.col("dl") / F.lit(avgdl), 3)),
        ).collect()[0]
        dl_bounds = (float(r[0]), float(r[1]))

    docs.unpersist()
    unpersist_doc_ids(id_handle)

    # df/idf delta merge: O(vocab + batch terms), NOT a rescan of the index.
    # batch df comes from the just-written epoch chunks (tiny parquet).
    # n_docs is the docID high-water mark; idf uses the LIVE count, which
    # differs only when tombstones exist (indexing/deletes.py).
    n_docs = offset + n_new
    n_live = int(manifest.get("n_docs_live", offset)) + n_new
    epoch = spark.read.parquet(adirs["index"])
    deltas = epoch.groupBy("term").agg(F.sum("df_chunk").alias("df_delta"))
    n_post_delta = int(epoch.agg(F.sum("df_chunk")).collect()[0][0] or 0)
    old_dir = manifest.get("term_stats_dir", "term_stats")
    old = spark.read.parquet(fsio.join(path, old_dir)).select("term", "df")
    merged = old.join(deltas, "term", "full_outer").select(
        "term",
        (F.coalesce(F.col("df"), F.lit(0)) + F.coalesce(F.col("df_delta"), F.lit(0))).alias("df"),
    )
    merged = merged.withColumn("idf", idf_col(n_live))
    merged.coalesce(8).write.mode("overwrite").parquet(adirs["term_stats"])

    # ---- the commit point: one atomic manifest replace --------------------
    prev_ts_dir = manifest.get("term_stats_dir", "term_stats")
    if dl_bounds is not None:
        manifest["dl_norm_min"] = min(manifest["dl_norm_min"], dl_bounds[0])
        manifest["dl_norm_max"] = max(manifest["dl_norm_max"], dl_bounds[1])
    manifest["n_docs"] = n_docs
    if "n_docs_live" in manifest:
        manifest["n_docs_live"] = n_live
    manifest["append_seq"] = max(append_seq, batch_id + 1)
    manifest["n_postings"] = int(manifest["n_postings"]) + n_post_delta
    manifest["term_stats_dir"] = f"term_stats_v{batch_id}"
    manifest.setdefault("appends", []).append(
        {"batch_id": batch_id, "n_new": n_new, "n_postings": n_post_delta}
    )
    manifest["gc_pending"] = [d for d in manifest.get("gc_pending", [])] + (
        [prev_ts_dir] if prev_ts_dir != "term_stats" else []
    )
    # GC all but the newest-but-one version BEFORE committing the new
    # manifest is unsafe (an in-flight reader may hold it) — GC the older
    # backlog now, keep prev for one more epoch
    gc_now, manifest["gc_pending"] = manifest["gc_pending"][:-1], manifest["gc_pending"][-1:]
    from ..indexing.snapshots import commit_manifest

    commit_manifest(spark, path, manifest)
    # informational sidecar, written post-commit (exactly-once: a retry of
    # a crashed epoch is a manifest no-op, so it never duplicates a row; a
    # crash in the tiny commit→write window loses one stats row, which is
    # the honest trade for an append-mode file)
    spark.createDataFrame(
        [(
            int(lrow["n_rows"]), int(lrow["min_doc"]), int(lrow["max_doc"]),
            int(lrow["n_tokens"]), "stream_append", batch_id,
        )],
        "n_rows long, min_doc long, max_doc long, n_tokens long, "
        "stage string, batch_id long",
    ).write.mode("append").parquet(fsio.join(path, "lineage_stream"))
    for d in gc_now:
        fsio.delete(spark, fsio.join(path, d))
    return manifest


def stream_append(
    spark: SparkSession,
    input_dir: str,
    path: str,
    cfg: TokenizerConfig,
    schema=None,
    text_col: str = "text",
    order_cols=None,
) -> None:
    """availableNow-run a parquet-directory stream of transcript rows into
    the packed index; the checkpoint (inside the index dir) makes re-runs
    no-ops until new files arrive, and batch_id-keyed epochs make retried
    batches idempotent (module docstring)."""
    if schema is None:
        from ..fixtures.transcripts import TRANSCRIPTS_SCHEMA

        schema = TRANSCRIPTS_SCHEMA
    stream = spark.readStream.schema(schema).parquet(input_dir)

    def sink(batch: DataFrame, batch_id: int) -> None:
        append_batch(
            batch, path, cfg, batch_id=int(batch_id),
            text_col=text_col, order_cols=order_cols,
        )

    (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", fsio.join(path, "stream_checkpoint"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
