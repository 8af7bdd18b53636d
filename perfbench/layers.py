"""Per-layer metrics of a traced run.

``probe`` runs after the timed body, inside the same Spark session: it
times the tokenizer, the block codec and the scorer kernel on the run's own
corpus, index and queries. ``from_spans`` turns the spans recorded around
the engine calls, with the Spark counters attributed to them, into
per-layer numbers. Every workload reports the same metric names: an engine
call kind that a workload's body does not make (``search_join_df``, merge
and compact on ``serve``; 200-query ``search``, ``search_join_df`` and
compact on ``ingest``) is made once by ``probe`` on the workload's own
index, after the body.
"""

from __future__ import annotations

import os
import time
from itertools import groupby

import numpy as np
import pandas as pd

import gen

SPARK_KEYS = ("spark_s", "jobs", "stages", "tasks", "shuffle_bytes", "executor_run_s")
BUILD_STAGES = ("docs", "salt_detect", "encode", "stats")
# engine call kinds of the body, and the first how many of each the
# per-call numbers average over (a fixed prefix of a seeded sequence, so
# counts repeat exactly across runs of one seed)
CALLS = {
    "query.engine.search": ("1q", 3),
    "query.engine.batch": ("batch", 1),
    "query.engine.search_join": ("join", 1),
    "index.build.merge": ("merge", 1),
    "index.build.compact": ("compact", 1),
}


def _timed(fn, min_s: float = 0.2):
    """Seconds per call of ``fn``, repeated for at least ``min_s``."""
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += 1
        el = time.perf_counter() - t0
        if el >= min_s:
            return el / n


def probe(bench) -> dict:
    from pyspark.sql import functions as F

    from similarities_spark.index import codec
    from similarities_spark.index.build import BM25Index
    from similarities_spark.query import scorer
    from similarities_spark.tokenize import jvm_tokens_col, tokenize_text

    spark, cfg, tracer = bench.spark, bench.cfg, bench.tracer
    out = {}
    with tracer.span("layers"):
        corpus = spark.read.parquet(os.path.join(bench.work, "base.parquet"))
        for name, sw in (("corpus", cfg.stopwords), ("corpus_nostop", frozenset())):
            col = F.size(jvm_tokens_col(F.col("text"), "corpus", sw))
            t0 = time.perf_counter()
            with tracer.span(f"tokenize.{name}"):
                n = corpus.select(F.sum(col).alias("n")).collect()[0]["n"]
            out[f"tokenize.{name}_s"] = (time.perf_counter() - t0, "s")
            if name == "corpus":
                out["tokenize.corpus_tokens"] = (int(n), "count")
        out["tokenize.query_s"] = (
            _timed(lambda: [tokenize_text(q, mode="query") for q in bench.query_batch]),
            "s",
        )

        index = BM25Index(spark, bench.index_dir)
        cols = ["term", "salt", "block_id", "min_doc", "max_doc", "n_postings",
                "tf_max", "tf_min", "dl_max", "dl_min", "payload"]
        rows = index.blocks().select(*cols).collect()
        blocks = {c: [r[c] for r in rows] for c in cols}
        payloads = [bytes(p) for p in blocks["payload"]]
        counts = np.array(blocks["n_postings"], dtype=np.int64)
        postings = int(counts.sum())
        out["index.codec.bytes_per_posting"] = (sum(map(len, payloads)) / postings, "B")
        dec = _timed(lambda: codec.decode_blocks_batch(payloads, counts))
        out["index.codec.decode_postings_per_s"] = (postings / dec, "postings/s")

        # re-encode every (term, salt) segment from its decoded postings
        def seg(i):
            return blocks["term"][i], blocks["salt"][i]

        order = sorted(range(len(rows)), key=lambda i: seg(i) + (blocks["block_id"][i],))
        segs = [list(g) for _k, g in groupby(order, key=seg)]
        decoded = [
            codec.decode_blocks_batch([payloads[i] for i in s], counts[s])
            for s in segs
        ]
        enc = _timed(
            lambda: [codec.encode_blocks_batch(d, t, l, cfg.block_size) for d, t, l in decoded]
        )
        out["index.codec.encode_postings_per_s"] = (postings / enc, "postings/s")
        first = sum(1 for b in blocks["block_id"] if b == 0)
        out["index.segments_per_term"] = (first / max(1, len(set(blocks["term"]))), "ratio")

        # the scorer kernel on the checked query with the most candidates
        stats = {
            r["term"]: (int(r["df"]), float(r["idf"]))
            for r in index.term_stats().collect()
        }
        table = pd.DataFrame(blocks)
        table["payload"] = payloads
        best = None
        for call in bench.checks:
            for _s, q, _g in call:
                toks = tokenize_text(q, mode="query")
                known = [t for t in set(toks) if t in stats]
                tb = table[table["term"].isin(known)]
                n = int(tb["n_postings"].sum())
                if best is None or n > best[0]:
                    best = (n, toks, tb)
        n, toks, tb = best
        tb = tb.assign(
            df=[stats[t][0] for t in tb["term"]], idf=[stats[t][1] for t in tb["term"]]
        )
        per = _timed(
            lambda: scorer.score_query(
                toks, tb, 10, index.avgdl, cfg.k1, cfg.b,
                prune=cfg.score_mode == "wand", n_docs=index.n_docs,
            )
        )
        out["query.scorer.postings_per_s"] = (n / per, "postings/s")
        out["query.scorer.candidate_blocks"] = (len(tb), "count")
        out["query.scorer.candidate_postings"] = (n, "count")

        # engine call kinds the body did not make, once each
        done = {k for k, _n in CALLS.values() if bench.samples.get(k)}
        if "batch" not in done or "join" not in done:
            search = bench.searcher(bench.open_engine(), bench.last_state, check_all=False)
            for kind in ("batch", "join"):
                if kind not in done:
                    search(kind, bench.query_batch)
        if "merge" not in done:
            texts = bench.corpus.docs(1000)
            path = os.path.join(bench.work, "probe_batch.parquet")
            gen.write_webtext(path, texts, first_id=index.n_docs)
            new_df = spark.read.parquet(path)
            bench.op("merge", lambda sp: bench.builder.merge_new_docs(new_df, bench.index_dir))
        if "compact" not in done:
            bench.op("compact", lambda sp: bench.builder.compact(bench.index_dir))
    return out


def from_spans(bench) -> dict:
    tracer, meta = bench.tracer, bench.build_meta
    out = {}
    build = tracer.find("build")[0]
    for st in BUILD_STAGES:
        out[f"index.build.{st}_s"] = (float(meta["stage_wall_s"].get(st, 0.0)), "s")
    c = build["spark"]
    for k in ("spark_s", "jobs", "stages", "tasks", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "executor_run_s", "executor_cpu_s"):
        out[f"index.build.{k}"] = (c[k], "s" if k.endswith("_s") else _unit(k))
    out["index.build.postings"] = (int(meta["n_postings"]), "count")
    out["index.build.vocab"] = (int(meta["vocab_size"]), "count")
    out["index.build.blocks"] = (int(meta["n_blocks"]), "count")

    for prefix, (kind, first) in CALLS.items():
        spans = tracer.find(kind)[:first]
        n = max(1, len(spans))

        def mean(get):
            return sum(get(s) for s in spans) / n

        out[f"{prefix}.wall_s"] = (mean(lambda s: s["end"] - s["start"]), "s")
        for k in SPARK_KEYS:
            if k == "shuffle_bytes":
                v = mean(lambda s: s["spark"]["shuffle_read_bytes"] + s["spark"]["shuffle_write_bytes"])
            else:
                v = mean(lambda s, k=k: s["spark"][k])
            out[f"{prefix}.{k}"] = (v, "s" if k.endswith("_s") else _unit(k))
        if prefix.startswith("query."):
            out[f"{prefix}.call_s"] = (mean(lambda s: s["call_s"]), "s")
            out[f"{prefix}.collect_s"] = (mean(lambda s: s["collect_s"]), "s")
            out[f"{prefix}.fan_out"] = (mean(lambda s: s["fan_out"]), "count")
        else:
            out[f"{prefix}.bytes_rewritten"] = (mean(lambda s: s["spark"]["output_bytes"]), "B")

    # where the body's wall went: inside engine calls (and, of that, while
    # a Spark job ran) or in the client between calls
    body = tracer.find("body")[0]
    calls = [s for s in tracer.spans if s["parent"] == body["id"]]
    out["body.wall_s"] = (body["end"] - body["start"], "s")
    out["body.engine_s"] = (sum(s["end"] - s["start"] for s in calls), "s")
    out["body.spark_s"] = (body["spark"]["spark_s"], "s")
    out["body.client_s"] = (out["body.wall_s"][0] - out["body.engine_s"][0], "s")
    return out


def _unit(key: str) -> str:
    return "B" if key.endswith("bytes") else "count"
