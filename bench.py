"""Headline benchmark. Prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}

Workload (SPARK_GRAFT_SF_DIR, default /root/testdata/sf0.1, on
local[SPARK_GRAFT_CPUS]):
  index_build       : full BM25 inverted-index build over `documents`
  bm25_batch        : 200 deterministic BM25 queries, top-10 (queries/sec)
  bm25_small_batch  : 20-query latency-ish batch
  minhash_lsh       : MinHash-LSH near-dup pass over the corpus
  simhash64         : SimHash fingerprints for the corpus
  cosine_topk       : brute-force cosine top-5 for 10 query vectors
  text_features     : language/quality/token features full scan

`value` sums exactly these phases — comparable round over round.

Informational keys (NOT in the total):
  index_build_stages : the headline build's per-stage walls — a build
              regression is attributable to a named stage.
  calib     : {pre, post} single-thread memcpy/cpu probes (scripts/calib.py)
              — the same-window noise control. A suite regression with a
              collapsed memcpy probe is the multi-tenant box, not the engine.
  docs_per_sec, queries_per_sec, n_docs.
  quiet_gate  : present when --require-quiet GBPS was given — the bench
              probed memcpy bandwidth and slept until a window cleared the
              bar (or the --quiet-timeout expired; `met` records which).
"""

import argparse
import json
import os
import shutil
import sys
import tempfile
import time


def wait_for_quiet_window(probe, threshold_gbps, timeout_s, interval_s, log=sys.stderr):
    """Block until the single-thread memcpy probe clears `threshold_gbps`.

    The host is multi-tenant: DRAM bandwidth swings 2-20 GB/s between
    minutes. A headline wall-clock number captured in a degraded window
    understates the engine, so --require-quiet probes first and sleeps in
    `interval_s` steps until a window clears the bar. After `timeout_s`
    the bench runs anyway with quiet_gate.met=false — a documented failed
    attempt is still evidence (VERDICT r3 'Next round' #1).
    """
    t0 = time.time()
    attempts = []
    while True:
        p = probe()
        attempts.append(p["memcpy_gbps"])
        waited = time.time() - t0
        met = p["memcpy_gbps"] >= threshold_gbps
        print(
            f"[quiet-gate] memcpy={p['memcpy_gbps']} GB/s "
            f"(need {threshold_gbps}), waited {waited:.0f}s, "
            f"{'MET' if met else 'degraded'}",
            file=log,
            flush=True,
        )
        if met or waited >= timeout_s:
            return {
                "threshold_gbps": threshold_gbps,
                "attempts": len(attempts),
                "probe_history_gbps": attempts[-50:],
                "waited_s": round(waited, 1),
                "met": met,
            }
        time.sleep(interval_s)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--require-quiet", type=float, default=None, metavar="GBPS",
                    help="probe memcpy bandwidth and wait for a window >= GBPS")
    ap.add_argument("--quiet-timeout", type=float, default=14400.0,
                    help="max seconds to wait for a quiet window (then run anyway)")
    ap.add_argument("--quiet-interval", type=float, default=120.0,
                    help="seconds between quiet-window probes")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    repo = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, repo)
    sys.path.insert(0, os.path.join(repo, "scripts"))

    from calib import probe

    quiet_gate = None
    if args.require_quiet is not None:
        quiet_gate = wait_for_quiet_window(
            probe, args.require_quiet, args.quiet_timeout, args.quiet_interval
        )

    calib_pre = probe()

    from pyspark.sql import SparkSession, functions as F

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("similarities-spark-bench")
        .config("spark.sql.shuffle.partitions", str(max(8, int(cpus))))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")


    from similarities_spark.config import EngineConfig
    from similarities_spark.functions import ann, dedup, textops
    from similarities_spark.index.build import BM25IndexBuilder
    from similarities_spark.query.engine import BM25QueryEngine
    from similarities_spark.sources.readers import read_documents_as_webtext

    timings = {}

    def clock(name, fn, into=None):
        t0 = time.time()
        out = fn()
        (timings if into is None else into)[name] = round(time.time() - t0, 3)
        return out

    # --- index build ---
    idx_dir = tempfile.mkdtemp(prefix="bench_idx_")
    cfg = EngineConfig(
        stopwords=frozenset(),
        block_size=128,
        num_term_buckets=int(cpus),
        salt_df_threshold=2000,
        num_salts=8,
    )
    webtext = read_documents_as_webtext(spark, sf_dir)
    builder = BM25IndexBuilder(spark, cfg)
    index = clock("index_build", lambda: builder.build(webtext, idx_dir, input_desc=sf_dir))
    n_docs = index.n_docs

    # --- deterministic query workload over the corpus vocabulary ---
    terms = [
        r["term"]
        for r in index.term_stats().orderBy(F.desc("df")).limit(40).collect()
    ]
    qs = []
    for i in range(200):
        a, b, c = terms[i % len(terms)], terms[(i * 7 + 3) % len(terms)], terms[
            (i * 13 + 11) % len(terms)
        ]
        qs.append(f"{a} {b} {c}")
    engine = BM25QueryEngine(index)
    clock("bm25_batch", lambda: engine.search(qs, topn=10).count())
    clock("bm25_small_batch", lambda: engine.search(qs[:20], topn=10).count())

    # --- pipeline operators ---
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    clock(
        "minhash_lsh",
        lambda: dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=4).count(),
    )
    # informational (NOT in the total, which stays round-comparable):
    # the production hash mode — same banding statistics, xxhash64 instead
    # of 16 md5 digests per shingle
    xxh = {}
    clock(
        "minhash_xxh64_s",
        lambda: dedup.minhash_lsh_pairs(
            docs, num_hashes=16, bands=4, hash_fn="xxhash64"
        ).count(),
        into=xxh,
    )
    clock("simhash64", lambda: dedup.simhash64(docs).count())
    qv = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    clock("cosine_topk", lambda: ann.cosine_topk(emb, qv, k=5).count())
    clock(
        "text_features",
        lambda: textops.add_text_features(docs).select(F.sum("n_tokens")).collect(),
    )

    calib_post = probe()

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "bm25_index_and_query_suite_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "cpus": int(cpus),
        "n_docs": n_docs,
        "docs_per_sec": round(n_docs / timings["index_build"], 1),
        "queries_per_sec": round(200 / timings["bm25_batch"], 1),
        # per-stage walls of the headline build: the regressed stage is
        # named in-artifact, not reconstructed after the fact
        "index_build_stages": index.meta.get("stage_wall_s"),
        "calib": {"pre": calib_pre, "post": calib_post},
        "minhash_xxh64_s": xxh["minhash_xxh64_s"],
    }
    if quiet_gate is not None:
        out["quiet_gate"] = quiet_gate
    shutil.rmtree(idx_dir, ignore_errors=True)
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
