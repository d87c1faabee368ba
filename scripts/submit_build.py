"""spark-submit entry point: build an index (and optionally run a query
suite) on a cluster.

Usage (the --py-files ship is what makes `import solr_spark` resolve on
executors — see scripts/spark_submit_build.sh):

    spark-submit --master <cluster> --py-files solr_spark.zip \\
        scripts/submit_build.py --out /data/index \\
        [--corpus /data/corpus.parquet | --synth-docs 100000] \\
        [--num-buckets 64] [--num-chunks 8] [--resume] [--positions] \\
        [--query "jsonParser bufferSize"]

Prints one JSON line of build metrics (docs, postings rows, seconds,
docs/sec) — the lineage/metrics record each build emits; with
--num-chunks > 1 per-chunk manifests with elapsed times land under
<out>/_checkpoints/, and --resume restarts from them (see --help).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--corpus", help="parquet path with the input_hint schema")
    ap.add_argument("--synth-docs", type=int, default=0)
    ap.add_argument("--num-buckets", type=int, default=16)
    ap.add_argument("--num-chunks", type=int, default=1)
    ap.add_argument("--salt-threshold", type=int, default=20000)
    ap.add_argument(
        "--resume", action="store_true",
        help="with --num-chunks > 1: skip the chunks whose analysis is "
        "already committed under <out>/_checkpoints and re-run the build "
        "body from the staged analysis a crashed run leaves in place; "
        "a single-chunk build has no checkpoint and is rebuilt",
    )
    ap.add_argument("--positions", action="store_true")
    ap.add_argument("--query", help="smoke BM25 query to run after the build")
    args = ap.parse_args()

    # Under spark-submit the session is preconfigured by the submit args;
    # builder.getOrCreate() adopts it instead of constructing a new master.
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("solr_spark_build").getOrCreate()

    from solr_spark.index.builder import build_index
    from solr_spark.sources.corpus import synthesize_corpus

    if args.corpus:
        corpus = spark.read.parquet(args.corpus)
    elif args.synth_docs:
        corpus = synthesize_corpus(spark, args.synth_docs, seed=42)
    else:
        sys.exit("one of --corpus / --synth-docs is required")

    t0 = time.time()
    idx = build_index(
        spark,
        corpus,
        args.out,
        num_buckets=args.num_buckets,
        num_chunks=args.num_chunks,
        salt_threshold=args.salt_threshold,
        resume=args.resume,
        build_positions=args.positions,
    )
    secs = time.time() - t0
    metrics = {
        "n_docs": idx.meta["n_docs"],
        "avgdl": round(idx.meta["avgdl"], 3),
        "postings_rows": idx.postings().count(),
        "terms": idx.term_stats().count(),
        "build_seconds": round(secs, 3),
        "docs_per_sec": round(idx.meta["n_docs"] / secs, 1) if secs else None,
        "out": args.out,
    }
    if args.query:
        from solr_spark.query.engine import bm25_topk

        t = time.time()
        rows = bm25_topk(idx, args.query, k=10).collect()
        metrics["query_seconds"] = round(time.time() - t, 3)
        metrics["query_top"] = [(r["docid"], round(r["score"], 4)) for r in rows[:3]]
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
