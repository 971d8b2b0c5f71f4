"""Document deletes over the packed index: tombstone epochs + live-doc masks.

The reference is batch-build-only (SURVEY.md §2.5) — once built, its index
can only be rebuilt. At a 10^12-turn corpus a rebuild per takedown is
untenable, so this module adds the standard segment-index delete design
(Lucene live-docs / Iceberg position-delete files):

- :func:`delete_docs` stages a tombstone epoch ``deletes/<version>``
  (doc_id rows) and — because the docs stage stores every doc's TOKENS —
  maintains ``term_stats`` EXACTLY for the remaining corpus with the same
  delta-merge pattern streaming appends use (streaming/incremental.py):
  per-term df decrements come from the deleted docs' distinct terms
  (O(deleted docs), never an index rescan), idf is recomputed at the new
  live N, and rows reaching df == 0 are dropped. ``avgdl`` (and therefore
  every stored per-posting dlq) stays FROZEN at build time, exactly like
  appends: a delete never rewrites postings.
- Serving masks deleted docs at posting decode (numpy sorted-membership
  via :class:`DeleteMask`); block-max chunk bounds remain valid upper
  bounds over any subset, so WAND pruning stays safe unmodified. Scores
  equal BM25/TF-IDF over the remaining corpus with frozen avgdl and
  idf = round(ln(N_live / df_live), 3) — the contract the DuckDB oracle
  replicates end-to-end (__spark_entry__ ``delete_then_search``).
- :func:`~.compact.compact_index` later folds tombstones in physically.

Commit protocol mirrors appends (exactly-once): tombstone + term_stats
files stage invisibly (readers only open dirs the manifest lists), the
atomic manifest replace is the single commit point, a retried version id
is a no-op after commit and an overwrite before it.

Scale note: the tombstone set pending between compactions ships to
scoring tasks as a sorted int64 array inside the scorer closure — sized
by delete-rate × compaction-interval, NOT by the corpus (8 MB per million
pending deletes); compaction is the pressure valve, as in Lucene segment
merges. ``n_docs`` in the manifest stays the docID HIGH-WATER mark (so
later appends can never re-issue a deleted docID); ``n_docs_live`` tracks
the logical corpus size that idf uses.
"""

from __future__ import annotations

import json
from typing import Optional, Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fsio
from .build import idf_col
from .codec import decode_positions, decode_postings

_STASH_CAP = 8192  # dead-weakref purge threshold for the paired-decoder stash


class DeleteMask:
    """Sorted tombstone array + the decode-level masking helpers.

    ``wrap_decoders`` returns a PAIRED (postings, positions) decoder: the
    positions stream is only decodable with the ORIGINAL tf array of its
    sibling postings buffer, so the postings wrapper stashes
    (orig_tfs, keep) keyed by the masked tf array's identity and the
    positions wrapper looks the pair up from the ``tfs`` object the caller
    hands back (every scorer passes the exact object it got — gated)."""

    def __init__(self, deleted: np.ndarray):
        arr = np.asarray(deleted, dtype=np.int64)
        if arr.size == 0:
            raise ValueError("empty tombstone set — use mask=None instead")
        self.arr = np.unique(arr)  # sorted + deduped

    def __len__(self) -> int:
        return int(self.arr.size)

    def keep_mask(self, doc_ids: np.ndarray) -> Optional[np.ndarray]:
        """Bool keep-mask over ``doc_ids`` (any order), or None when no id
        is tombstoned (fast path: callers skip the copy entirely)."""
        d = self.arr
        idx = np.searchsorted(d, doc_ids)
        idx[idx == d.size] = 0
        hit = d[idx] == doc_ids
        if not hit.any():
            return None
        return ~hit

    def mask_docs(self, doc_ids: np.ndarray) -> np.ndarray:
        keep = self.keep_mask(doc_ids)
        return doc_ids if keep is None else doc_ids[keep]

    def wrap_decoders(self, dec=None, dec_pos=None):
        """-> (masked_dec, masked_dec_pos) wrapping the given hooks (or the
        raw codec decoders). Safe to share one pair across many scorer
        calls (LocalSearcher wraps its LRU hooks once, at open).

        The pairing stash is WEAKREF-keyed on the masked tf array: an
        entry lives exactly as long as the caller can still pass that
        array back — so it can neither be evicted early (a capacity-based
        eviction would make masked_dec_pos silently mis-slice positions
        with the masked tfs) nor leak (dropping the array garbage-collects
        the entry; postings-only paths like WAND hold rows transiently)."""
        import weakref

        base_dec = dec or (lambda buf: decode_postings(bytes(buf)))
        base_pos = dec_pos or (lambda buf, tfs: decode_positions(bytes(buf), tfs))
        stash: dict = {}  # id(masked_tfs) -> (weakref(masked_tfs), orig_tfs, keep)

        def masked_dec(buf):
            doc_ids, tfs, third = base_dec(buf)
            keep = self.keep_mask(doc_ids)
            if keep is None:
                return doc_ids, tfs, third
            mtfs = tfs[keep]
            stash[id(mtfs)] = (weakref.ref(mtfs), tfs, keep)
            if len(stash) > _STASH_CAP:  # purge dead entries, never live ones
                for k in [k for k, (w, _, _) in stash.items() if w() is None]:
                    del stash[k]
            return doc_ids[keep], mtfs, third[keep]

        def masked_dec_pos(buf, tfs):
            hit = stash.get(id(tfs))
            # identity check: a dead weakref means the id was recycled —
            # then (and when there is no entry) tfs must be an ORIGINAL
            # array from an unmasked row; decode plain
            if hit is None or hit[0]() is not tfs:
                return base_pos(buf, tfs)
            _, orig_tfs, keep = hit
            flat, _occ = base_pos(buf, orig_tfs)
            occ_keep = np.repeat(keep, orig_tfs)
            new_tfs = orig_tfs[keep]
            new_starts = np.concatenate(
                ([0], np.cumsum(new_tfs)[:-1])
            ).astype(np.int64)
            return flat[occ_keep], new_starts

        return masked_dec, masked_dec_pos


def tombstone_dirs(path: str, manifest: dict) -> list:
    return [
        fsio.join(path, "deletes", str(d["version"]))
        for d in manifest.get("deletes", [])
    ]


#: tombstone-collect refusal cap: the mask ships to every scorer task as
#: a closure array, so it must stay "tiny sidecar"-sized by design.
#: 50M ids = 400 MB of int64 on the driver AND per-task — past that the
#: delete-heavy workload (GDPR purge at 100x scale) needs a compaction,
#: not a bigger driver; override via the env knob for a one-off rescue.
MAX_TOMBSTONES_COLLECTED = 50_000_000


def load_delete_mask(spark: SparkSession, path: str, manifest: dict) -> Optional[DeleteMask]:
    """Collect the committed tombstone set (None when there are none).

    REFUSES loudly past :data:`MAX_TOMBSTONES_COLLECTED` (the
    temperature_weights refusal pattern): the ledger is documented as a
    tiny sidecar, and collecting an unbounded delete set to the driver
    would fail silently-slowly at scale. ``jobs/maintain.py --compact``
    folds tombstones into the layout and clears the ledger."""
    import os

    dirs = tombstone_dirs(path, manifest)
    if not dirs:
        return None
    cap = int(os.environ.get(
        "SPARK_GRAFT_MAX_TOMBSTONES", MAX_TOMBSTONES_COLLECTED))
    # the ledger records each version's count — no Spark job to decide
    n = sum(int(d.get("n_docs", 0)) for d in manifest.get("deletes", []))
    if n > cap:
        raise ValueError(
            f"tombstone ledger holds {n} doc ids — past the "
            f"driver-collect cap of {cap} (the mask ships in every "
            "scorer closure; a delete set this large is no longer a "
            "'tiny sidecar'). Run jobs/maintain.py --compact to fold "
            "the deletes into the layout, or raise "
            "SPARK_GRAFT_MAX_TOMBSTONES for a one-off rescue.")
    ids = np.array(
        [r["doc_id"] for r in spark.read.parquet(*dirs).select("doc_id").collect()],
        dtype=np.int64,
    )
    return DeleteMask(ids) if ids.size else None


def _docs_paths(path: str, manifest: dict) -> list:
    from .snapshots import referenced_dirs_by_kind

    return referenced_dirs_by_kind(path, manifest)["docs"]


def delete_docs(
    spark: SparkSession,
    path: str,
    where: str | None = None,
    doc_ids: Sequence[int] | None = None,
    delete_id: int | None = None,
) -> dict:
    """Tombstone the docs matching ``where`` (a SQL predicate over the docs
    stage: doc_id, *order_cols, dl) or the explicit ``doc_ids`` list, in the
    packed index at ``path``; returns the updated manifest. Exactly-once per
    ``delete_id`` (defaults to the next version), mirroring append_batch."""
    if (where is None) == (doc_ids is None):
        raise ValueError("pass exactly one of where= / doc_ids=")
    dirs_manifest = fsio.join(path, "manifest.json")
    manifest = json.loads(fsio.read_text(spark, dirs_manifest))
    committed = {d["version"] for d in manifest.get("deletes", [])}
    # delete_seq is MONOTONIC across compactions (which clear the deletes
    # ledger): version numbers must never be reused while a superseded
    # deletes/<v> or term_stats_d<v> dir is still awaiting delayed GC —
    # so an explicit delete_id BELOW the high-water mark is by definition
    # a retry of an already-committed (possibly already-compacted) delete
    # and must be a no-op, never a dir-clobbering re-execution
    seq = int(manifest.get("delete_seq", 0))
    if delete_id is not None:
        if delete_id in committed or delete_id < seq:
            return manifest  # retried after a successful commit: no-op
        version = delete_id
    else:
        version = max(seq, max(committed) + 1 if committed else 0)

    docs = spark.read.parquet(*_docs_paths(path, manifest))
    if where is not None:
        target = docs.filter(F.expr(where))
    else:
        ids_df = spark.createDataFrame(
            [(int(d),) for d in doc_ids], "doc_id long"
        )
        target = docs.join(ids_df.distinct(), "doc_id")
    # never double-tombstone (df would be decremented twice)
    prior = tombstone_dirs(path, manifest)
    if prior:
        target = target.join(
            spark.read.parquet(*prior).select("doc_id"), "doc_id", "left_anti"
        )
    target = target.select("doc_id", "tokens").persist()
    n_del = target.count()
    if n_del == 0:
        target.unpersist()
        return manifest

    # ---- staging (invisible until the manifest commit) --------------------
    tomb_dir = fsio.join(path, "deletes", str(version))
    target.select("doc_id").coalesce(1).write.mode("overwrite").parquet(tomb_dir)

    # per-term df decrements from the deleted docs' stored tokens —
    # O(deleted docs), the delete twin of the append delta merge
    deltas = (
        target.select("doc_id", F.explode(F.array_distinct("tokens")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("df_delta"))
        .persist()
    )
    n_post_delta = int(
        deltas.agg(F.sum("df_delta")).collect()[0][0] or 0
    )
    live = int(manifest.get("n_docs_live", manifest["n_docs"]))
    new_live = live - n_del
    old_dir = manifest.get("term_stats_dir", "term_stats")
    old = spark.read.parquet(fsio.join(path, old_dir)).select("term", "df")
    merged = (
        old.join(deltas, "term", "left")
        .select(
            "term",
            (F.col("df") - F.coalesce(F.col("df_delta"), F.lit(0))).alias("df"),
        )
        .filter(F.col("df") > 0)  # fully-deleted terms leave the dictionary
        .withColumn("idf", idf_col(new_live))
    )
    new_ts_dir = f"term_stats_d{version}"
    merged.coalesce(8).write.mode("overwrite").parquet(fsio.join(path, new_ts_dir))
    deltas.unpersist()
    target.unpersist()

    # ---- the commit point: one atomic manifest replace --------------------
    manifest["n_docs_live"] = new_live
    manifest["delete_seq"] = max(seq, version + 1)
    manifest["n_postings"] = int(manifest["n_postings"]) - n_post_delta
    manifest["term_stats_dir"] = new_ts_dir
    manifest.setdefault("deletes", []).append(
        {"version": version, "n_docs": n_del, "n_postings": n_post_delta}
    )
    manifest["gc_pending"] = [d for d in manifest.get("gc_pending", [])] + (
        [old_dir] if old_dir != "term_stats" else []
    )
    # same delayed-GC discipline as appends: keep the newest-but-one
    # term_stats alive for readers holding the previous manifest
    gc_now, manifest["gc_pending"] = (
        manifest["gc_pending"][:-1],
        manifest["gc_pending"][-1:],
    )
    from .snapshots import commit_manifest

    commit_manifest(spark, path, manifest)
    # lineage sidecar: per-delete counts (north_rule: per-partition
    # lineage). Written POST-commit — lineage_stream is append-mode, so a
    # pre-commit write would leave an orphan row when a crashed delete is
    # retried under the same (or a reused) version.
    spark.createDataFrame(
        [(version, n_del, n_post_delta)],
        "version long, n_docs long, n_postings long",
    ).withColumn("stage", F.lit("delete")).write.mode("append").parquet(
        fsio.join(path, "lineage_stream")
    )
    for d in gc_now:
        fsio.delete(spark, fsio.join(path, d))
    return manifest
