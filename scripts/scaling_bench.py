"""Two-parallelism scaling benchmark (north-rule N vs 4N evidence).

No real cluster exists in this sandbox, so N vs 4N executors is proxied by
local[8] vs local[32] over BYTE-IDENTICAL input (a pre-generated synthetic
webtext parquet). Run once per parallelism level in a fresh process/JVM:

  python scripts/scaling_bench.py --gen --n-docs 100000   # once
  python scripts/scaling_bench.py --cpus 8
  python scripts/scaling_bench.py --cpus 32

Prints one JSON line per run: build wall, query wall, docs/sec, queries/sec.
Efficiency = thr(32) / (4 * thr(8)) — computed by scripts/report_scaling.py
or by hand into BENCH/BASELINE.md.
"""

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CORPUS_DEFAULT = "/tmp/scale_corpus.parquet"
N_QUERIES = int(os.environ.get("SCALE_QUERIES", "1200"))


def gen_corpus(n_docs: int, path: str):
    from pyspark.sql import SparkSession

    from similarities_spark.sources.synth import synth_webtext_distributed

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    df = synth_webtext_distributed(spark, n_docs=n_docs, seed=42, partitions=64)
    df.write.mode("overwrite").parquet(path)
    print(f"generated {n_docs} docs -> {path}")
    spark.stop()


def run(cpus: int, corpus: str, index_dir: str):
    from pyspark.sql import SparkSession, functions as F

    from similarities_spark.config import EngineConfig
    from similarities_spark.index.build import BM25IndexBuilder
    from similarities_spark.query.engine import BM25QueryEngine

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"scaling-bench-{cpus}")
        .config("spark.sql.shuffle.partitions", str(max(16, cpus * 2)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "48g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    webtext = spark.read.parquet(corpus)

    cfg = EngineConfig(
        stopwords=frozenset(),
        block_size=128,
        num_term_buckets=64,
        salt_df_threshold=20_000,
        num_salts=16,
    )
    t0 = time.time()
    index = BM25IndexBuilder(spark, cfg).build(webtext, index_dir, input_desc=corpus)
    build_wall = time.time() - t0
    n_docs = index.n_docs

    # deterministic query workload from head terms
    terms = [
        r["term"]
        for r in index.term_stats().orderBy(F.desc("df")).limit(64).collect()
    ]
    qs = [
        f"{terms[i % 64]} {terms[(7 * i + 3) % 64]} {terms[(13 * i + 11) % 64]}"
        for i in range(N_QUERIES)
    ]
    engine = BM25QueryEngine(index)
    t0 = time.time()
    n_hits = engine.search(qs, topn=10).count()
    query_wall = time.time() - t0
    spark.stop()
    return {
        "cpus": cpus,
        "n_docs": n_docs,
        "n_queries": N_QUERIES,
        "n_hits": n_hits,
        "build_wall_s": round(build_wall, 2),
        "query_wall_s": round(query_wall, 2),
        "build_docs_per_sec": round(n_docs / build_wall, 1),
        "queries_per_sec": round(N_QUERIES / query_wall, 2),
    }


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--gen", action="store_true")
    p.add_argument("--n-docs", type=int, default=100_000)
    p.add_argument("--corpus", default=CORPUS_DEFAULT)
    p.add_argument("--cpus", type=int, default=32)
    p.add_argument("--index-dir", default=None)
    args = p.parse_args()
    if args.gen:
        gen_corpus(args.n_docs, args.corpus)
        return
    index_dir = args.index_dir or f"/tmp/scale_idx_{args.cpus}"
    import shutil

    shutil.rmtree(index_dir, ignore_errors=True)
    out = run(args.cpus, args.corpus, index_dir)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
