"""Distributed-query-path throughput bench (VERDICT r3 'Next round' #6).

`search_df` stages each batch's distinct query terms on the driver to build
literal bucket/term pruning predicates + a broadcast stats side — the right
plan for driver-adjacent batches. `search_join_df` does NO per-query driver
work: query terms join term_stats and blocks as distributed hash joins, so
a 10^6-query batch never materializes on the driver.

This bench answers "when does the join path pay off?": one index, query
sets of growing size (default 1k / 10k / 100k) generated DISTRIBUTED
(spark.range + literal term array — the query DataFrame itself never
touches the driver), each run through

  - join    : one search_join_df call over the whole set
  - staged  : search_df over query_id-range batches of --batch-size
              (driver stages each batch's terms; sum of batch walls)

Emits one JSON line per (size, path) run:
  {"path": "join"|"staged", "n_queries": N, "wall_s": W, "qps": N/W,
   "n_hits": H, "batches": B, "cpus": C}

Usage:
  python scripts/query_path_bench.py --out BENCH/query_path_r4.jsonl
  # smaller smoke: --sizes 1000 10000 --n-docs 50000

Queries are 3 mid-tail terms each (df-band selectable) — the web-query
shape; head-term-only sets would make every query scan half the index and
measure the scorer, not the path overhead this bench isolates.
"""

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_index(spark, corpus_path, index_dir, n_docs):
    from similarities_spark.config import EngineConfig
    from similarities_spark.index.build import BM25IndexBuilder
    from similarities_spark.sources.synth import synth_webtext_distributed

    if not os.path.exists(corpus_path):
        df = synth_webtext_distributed(
            spark, n_docs=n_docs, seed=42, partitions=64
        )
        df.write.mode("overwrite").parquet(corpus_path)
    webtext = spark.read.parquet(corpus_path)
    cfg = EngineConfig(
        stopwords=frozenset(),
        block_size=128,
        num_term_buckets=64,
        salt_df_threshold=20_000,
        num_salts=16,
    )
    shutil.rmtree(index_dir, ignore_errors=True)
    return BM25IndexBuilder(spark, cfg).build(
        webtext, index_dir, input_desc=corpus_path
    )


def pick_terms(index, lo_df, hi_df, n_terms):
    """Deterministic mid-tail vocabulary slice for query synthesis."""
    from pyspark.sql import functions as F

    rows = (
        index.term_stats()
        .filter((F.col("df") >= lo_df) & (F.col("df") <= hi_df))
        .orderBy(F.desc("df"), "term")
        .limit(n_terms)
        .collect()
    )
    return [r["term"] for r in rows]


def make_queries_df(spark, terms, n_queries):
    """n_queries 3-term queries, generated inside the executors: the query
    set never exists driver-side (the point of the join path). Term choice
    is pure column arithmetic over a literal vocab array."""
    from pyspark.sql import functions as F

    vocab = F.array(*[F.lit(t) for t in terms])
    k = len(terms)
    qid = F.col("id")
    pick = lambda mult, add: F.element_at(  # noqa: E731
        vocab, (F.pmod(qid * mult + add, F.lit(k)) + 1).cast("int")
    )
    return spark.range(n_queries).select(
        qid.cast("long").alias("query_id"),
        F.concat_ws(
            " ", pick(1, 0), pick(7, 3), pick(13, 11)
        ).alias("text"),
    )


def run_join(engine, qdf, topn):
    t0 = time.time()
    n_hits = engine.search_join_df(qdf, topn=topn).count()
    return time.time() - t0, n_hits, 1


def run_staged(engine, qdf, n_queries, batch_size, topn):
    from pyspark.sql import functions as F

    wall = 0.0
    n_hits = 0
    batches = 0
    for lo in range(0, n_queries, batch_size):
        hi = min(lo + batch_size, n_queries)
        batch = qdf.filter(
            (F.col("query_id") >= lo) & (F.col("query_id") < hi)
        )
        t0 = time.time()
        n_hits += engine.search_df(batch, topn=topn).count()
        wall += time.time() - t0
        batches += 1
    return wall, n_hits, batches


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", type=int, nargs="+",
                    default=[1_000, 10_000, 100_000])
    ap.add_argument("--n-docs", type=int, default=200_000)
    ap.add_argument("--batch-size", type=int, default=20_000,
                    help="search_df driver-staged batch size")
    ap.add_argument("--topn", type=int, default=10)
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--df-band", type=int, nargs=2, default=[50, 2000],
                    help="df range for query-term vocabulary (mid-tail)")
    ap.add_argument("--n-terms", type=int, default=1024)
    ap.add_argument("--work", default="/tmp/qpath_bench")
    ap.add_argument("--out", default=None,
                    help="append JSON lines here as well as stdout")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from similarities_spark.query.engine import BM25QueryEngine

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("query-path-bench")
        .config("spark.sql.shuffle.partitions", str(max(16, args.cpus * 2)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "32g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    os.makedirs(args.work, exist_ok=True)
    corpus = os.path.join(args.work, "corpus.parquet")
    index_dir = os.path.join(args.work, "index")
    t0 = time.time()
    index = build_index(spark, corpus, index_dir, args.n_docs)
    build_wall = time.time() - t0
    terms = pick_terms(index, args.df_band[0], args.df_band[1], args.n_terms)
    print(
        f"# index: {index.n_docs} docs in {build_wall:.1f}s; "
        f"vocab slice {len(terms)} terms df in {args.df_band}",
        file=sys.stderr,
    )
    engine = BM25QueryEngine(index)

    # warmup: one tiny batch through each path so the timed runs don't
    # absorb JVM JIT and parquet footer caching
    warm = make_queries_df(spark, terms, 64)
    engine.search_df(warm, topn=args.topn).count()
    engine.search_join_df(warm, topn=args.topn).count()

    def emit(rec):
        line = json.dumps(rec)
        print(line, flush=True)
        if args.out:
            with open(args.out, "a") as f:
                f.write(line + "\n")

    for n in args.sizes:
        qdf = make_queries_df(spark, terms, n)
        for path, runner in (
            ("join", lambda: run_join(engine, qdf, args.topn)),
            ("staged", lambda: run_staged(
                engine, qdf, n, args.batch_size, args.topn)),
        ):
            wall, n_hits, batches = runner()
            emit({
                "path": path,
                "n_queries": n,
                "wall_s": round(wall, 2),
                "qps": round(n / wall, 1),
                "n_hits": n_hits,
                "batches": batches,
                "batch_size": args.batch_size if path == "staged" else None,
                "cpus": args.cpus,
                "n_docs": index.n_docs,
                "df_band": args.df_band,
            })
    spark.stop()


if __name__ == "__main__":
    main()
