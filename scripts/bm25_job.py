"""spark-submit entry: build a BM25 index over a webtext parquet (or synth
corpus) and answer queries — the north-rule production surface.

Usage:
  spark-submit --py-files engine.zip scripts/bm25_job.py \
      [--input PATH.parquet | --synth N] --index-dir DIR \
      [--query "..." ...] [--topn K] [--resume] \
      [--merge] [--compact]

--merge   : incremental add_corpus — append --input/--synth docs to an
            EXISTING index (work ∝ batch; atomic staged commit).
--compact : after build/merge, rebuild optimal segment layout (offline
            Lucene-merge analog; staged commit like --merge). Can also run alone
            with neither --input nor --synth.
"""

import argparse
import sys


def main(argv):
    p = argparse.ArgumentParser()
    p.add_argument("--input", help="webtext parquet path")
    p.add_argument("--synth", type=int, help="generate N synthetic docs instead")
    p.add_argument("--index-dir", required=True)
    p.add_argument("--query", action="append", default=[])
    # NB: spark-submit's JVM launcher mangles non-ASCII argv when LANG is
    # unset — pass CJK queries via a UTF-8 file instead of --query
    p.add_argument("--queries-file", help="one UTF-8 query per line")
    p.add_argument("--topn", type=int, default=10)
    p.add_argument("--resume", action="store_true")
    p.add_argument("--merge", action="store_true",
                   help="incremental merge into an existing index")
    p.add_argument("--compact", action="store_true",
                   help="compact segment layout after (or without) ingest")
    p.add_argument("--salt-df-threshold", type=int, default=50_000)
    p.add_argument(
        "--variant", choices=["okapi", "bm25l", "bm25plus"], default="okapi"
    )
    args = p.parse_args(argv)
    if not args.input and not args.synth and not args.compact:
        p.error("one of --input / --synth / --compact is required")

    from pyspark.sql import SparkSession

    from similarities_spark import BM25IndexBuilder, BM25QueryEngine, EngineConfig
    from similarities_spark.sources.synth import synth_webtext_df

    spark = SparkSession.builder.appName("bm25-index-job").getOrCreate()
    cfg = EngineConfig(
        salt_df_threshold=args.salt_df_threshold, variant=args.variant
    )
    builder = BM25IndexBuilder(spark, cfg)
    index = None
    if args.input or args.synth:
        if args.synth:
            webtext = synth_webtext_df(spark, n_docs=args.synth, seed=42)
            desc = f"synth-{args.synth}-seed42"
        else:
            webtext = spark.read.parquet(args.input)
            desc = args.input
        if args.merge:
            index = builder.merge_new_docs(webtext, args.index_dir)
            inc = index.meta["increments"][-1]
            print(
                f"MERGE OK n_docs={index.n_docs} "
                f"added={inc.get('added_docs', 0)} wall_s={inc.get('wall_s', 0):.2f}"
            )
        else:
            index = builder.build(
                webtext, args.index_dir, resume=args.resume, input_desc=desc
            )
            print(
                f"INDEX OK n_docs={index.n_docs} vocab={index.meta['vocab_size']} "
                f"postings={index.meta['n_postings']} avgdl={index.avgdl:.3f} "
                f"wall_s={index.meta['build_wall_s']:.2f}"
            )
    if args.compact:
        index = builder.compact(args.index_dir)
        comp = index.meta["increments"][-1]
        print(
            f"COMPACT OK n_docs={index.n_docs} "
            f"wall_s={comp.get('wall_s', 0):.2f}"
        )
    queries = list(args.query)
    if args.queries_file:
        with open(args.queries_file, encoding="utf-8") as f:
            queries += [line.rstrip("\n") for line in f if line.strip()]
    if queries:
        hits = BM25QueryEngine(index).search(
            queries, topn=args.topn, include_text=True
        )
        for r in hits.orderBy("query_id", "rank").collect():
            doc = (r["corpus_doc"] or "")[:60].replace("\n", " ")
            print(
                f"q{r['query_id']} #{r['rank']} doc={r['doc_id']} "
                f"score={r['score']:.6f} | {doc}"
            )
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
