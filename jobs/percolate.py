#!/usr/bin/env python3
"""spark-submit entrypoint: percolation — the ES percolate analog,
search inverted (query/percolate.py). Stored queries come from a text
file (one per line, ``-term`` words negate); arriving documents come
from a parquet dir; the job writes (or prints) which stored queries
each doc matches — the alerting / saved-search / routing primitive.

Cluster usage:

    zip -r searchengine_spark.zip searchengine_spark
    spark-submit --py-files searchengine_spark.zip jobs/percolate.py \\
        --input <docs parquet: (id cols..., text)> \\
        --queries-file <txt> [--min-should-match M] \\
        [--id-cols doc_id] [--text-col text] \\
        [--output <parquet dir>]

With ``--output`` the match table (*id_cols, query_id, n_matched)
streams straight to parquet — ONE Spark job, no driver collect (the
batch-serving contract). Without it, per-query match counts print as
one JSON line each (the doc table never lands on the driver either
way). A tokenizer built like the index default (min length 3 + the
committed stop list) is used unless --min-token-length/--stop-words
override; percolation has no index, so there is no manifest to inherit
from — keep these flags in sync with the forward index if you want
doc <-> query agreement with retrieval.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="parquet dir of arriving documents")
    ap.add_argument("--queries-file", required=True,
                    help="stored queries, one per line; '-term' negates; "
                         "blank lines skipped")
    ap.add_argument("--min-should-match", type=str, default=None,
                    help="coverage floor (default: ALL of each query's "
                         "positive terms; clamped per query to its term "
                         "count)")
    ap.add_argument("--id-cols", default="doc_id",
                    help="comma-separated doc identity columns "
                         "(default doc_id)")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--output", default=None,
                    help="parquet dir for the match table; omit to print "
                         "per-query match counts as JSON lines")
    ap.add_argument("--stream", action="store_true",
                    help="availableNow streaming mode (needs --output): "
                         "treat --input as a growing parquet directory — "
                         "each run percolates ONLY files unseen by the "
                         "checkpoint (inside --output) and appends their "
                         "matches as batch_<id> subdirs; retried batches "
                         "overwrite idempotently")
    ap.add_argument("--min-token-length", type=int, default=3)
    ap.add_argument("--stop-words", default=None,
                    help="stop-word file (default: the committed "
                         "126-word list, searchengine_spark/fixtures)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from searchengine_spark.fixtures import STOP_WORDS_PATH
    from searchengine_spark.query.percolate import percolate, register_queries
    from searchengine_spark.tokenizer import TokenizerConfig

    with open(args.queries_file, encoding="utf-8") as fh:
        queries = [ln.strip() for ln in fh if ln.strip()]
    if not queries:
        raise SystemExit(f"{args.queries_file} holds no queries")

    sw = TokenizerConfig.load_stop_words(args.stop_words or STOP_WORDS_PATH)
    cfg = TokenizerConfig(min_token_length=args.min_token_length,
                          stop_words=sw)
    stored = register_queries(queries, cfg,
                              min_should_match=args.min_should_match)

    spark = SparkSession.builder.appName("searchengine_percolate").getOrCreate()
    ids = [c.strip() for c in args.id_cols.split(",") if c.strip()]
    if args.stream:
        from searchengine_spark.query.percolate import (
            percolate_stream,
            read_percolate_output,
        )

        if not args.output:
            raise SystemExit("--stream needs --output (the match dir "
                             "holds the checkpoint)")
        schema = spark.read.parquet(args.input).schema
        percolate_stream(spark, args.input, args.output, stored, cfg,
                         schema=schema, text_col=args.text_col, id_cols=ids)
        n = read_percolate_output(spark, args.output).count()
        print(json.dumps({"output": args.output, "streamed": True,
                          "n_queries": len(stored),
                          "n_matches_total": int(n)}))
        return
    docs = spark.read.parquet(args.input)
    matches = percolate(docs, stored, cfg, text_col=args.text_col,
                        id_cols=ids)
    if args.output:
        matches.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"output": args.output,
                          "n_queries": len(stored)}))
    else:
        from pyspark.sql import functions as F

        counts = {int(r["query_id"]): int(r["n"]) for r in
                  matches.groupBy("query_id")
                  .agg(F.count(F.lit(1)).alias("n")).collect()}
        for sq in stored:
            print(json.dumps({
                "query_id": sq.query_id,
                "query": queries[sq.query_id],
                "m": sq.m,
                "n_docs_matched": counts.get(sq.query_id, 0),
            }))


if __name__ == "__main__":
    main()
