"""End-to-end benchmark of the BM25 engine (see README.md in this directory).

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The benchmark generates its inputs from
``--seed``, builds the index with the engine's own code during set-up,
drives the public API from one closed-loop client for ``--seconds``, checks
results against ``similarities_spark.oracle.BM25Oracle`` and prints one
JSON object as its last stdout line. ``--trace 1`` records an event log and
prints the per-layer metrics instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import spans as tr  # noqa: E402

TOPN = 10
BATCH = 200
CHECKS_PER_BATCH = 20
# Host contention: a call during which the hypervisor stole at least this
# share of the machine's CPU time is not a clean latency sample. After its
# scheduled calls, the body makes more single-query calls, for at most
# EXTRA_S seconds, until it has MIN_CLEAN clean single-query samples.
STEAL_CLEAN = 0.10
MIN_CLEAN = 4
EXTRA_S = 6

# Per workload: corpus shape, engine config overrides and body schedule.
WORKLOADS = {
    # read-only serving: one cold build in set-up, then searches only
    # (search_join_df runs in traced runs only, see layers.probe: at about
    # 5 s a call it does not fit the time one run has)
    "serve": dict(
        docs=5000, vocab=12000, zipf_s=1.0, mean_len=100, stopwords=0,
        config={},
        schedule=["1q", "1q", "1q", "batch", "1q", "1q", "1q", "1q"],
        min_calls={"1q": 7, "batch": 1}, warmup_cap=3,
    ),
    # writes beside reads: merge rounds over a base whose vocabulary is past
    # the engine's 20k-term driver-stats cap; the stopword set has the
    # reference list's size and the map-side-TF build plan runs
    # (compact runs in traced runs only, see layers.probe)
    "ingest": dict(
        docs=3000, vocab=30000, zipf_s=0.9, mean_len=60, stopwords=1178,
        stop_rate=0.04, config={"postings_mode": "fused_tf"},
        batch_docs=1000, repeat_share=0.05, min_rounds=1,
        # single-query searches on each fresh engine: the first ones run
        # while its query path warms up (about 1.5x slower) and are
        # reported apart from the settled ones; a set-up warm-up would not
        # help them, as every merge is followed by a fresh engine
        fresh_searches=2, searches_per_round=8,
    ),
}


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """Highest of p50/p75/p90/p95/p99 with at least ten samples beyond it,
    as (percentile, value), or None when there are fewer than 20 samples."""
    n = len(xs)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100.0 >= 10:
            s = sorted(xs)
            return p, s[min(n - 1, int(round(p / 100.0 * (n - 1))))]
    return None


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class Bench:
    def __init__(self, args, work):
        self.args = args
        self.work = work
        self.spec = WORKLOADS[args.workload]
        self.tracer = tr.Tracer()
        self.samples = {}  # kind -> [wall s]
        self.steal = {}  # kind -> [share of CPU time stolen during each call]
        self.attempted = 0
        self.failed = 0
        self.errors = []
        self.checks = []  # per call: [(oracle state, query text, top-k hits)]
        self.info = {"workload": args.workload, "seed": args.seed}
        self.topup_t0 = None

    # ---------- session ----------

    def start_spark(self):
        cores = len(os.sched_getaffinity(0))
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        # executors are forked Python workers: they import the engine from
        # the checkout root whatever the current directory is
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["TMPDIR"] = tmp
        from pyspark.sql import SparkSession

        b = (
            SparkSession.builder.master(f"local[{cores}]")
            .appName(f"perfbench-{self.args.workload}")
            .config("spark.driver.memory", "3g")
            .config("spark.sql.shuffle.partitions", str(cores))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
            .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse"))
        )
        if not os.environ.get("SPARK_LOCAL_DIRS"):
            b = b.config("spark.local.dir", os.path.join(self.work, "local"))
        if self.args.trace:
            self.evt_dir = os.path.join(self.work, "events")
            os.makedirs(self.evt_dir)
            b = (
                b.config("spark.eventLog.enabled", "true")
                .config("spark.eventLog.dir", self.evt_dir)
                .config("spark.eventLog.compress", "false")
                .config("spark.eventLog.rolling.enabled", "false")
            )
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(self.spark.sparkContext._jvm.ProcessHandle.current().pid())
        self.info["cores"] = cores

    def stop_spark(self):
        """Stop the session, then the JVM it runs in, and wait for it."""
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None and gw.proc is not None:
            gw.shutdown()
            gw.proc.stdin.close()
            gw.proc.wait(timeout=60)

    # ---------- timed engine calls ----------

    def op(self, kind, fn, **attrs):
        """One closed-loop client call: ``fn(span)`` runs inside a span; its
        wall is a sample of ``kind``; an exception counts as a failed op."""
        self.attempted += 1
        s0, j0 = tr.cpu_jiffies()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(kind, **attrs) as sp:
                out = fn(sp)
        except Exception:  # noqa: BLE001 - any engine error fails the op
            self.failed += 1
            self.errors.append(f"{kind}: {traceback.format_exc()[-2000:]}")
            return None
        wall = time.perf_counter() - t0
        s1, j1 = tr.cpu_jiffies()
        self.samples.setdefault(kind, []).append(wall)
        self.steal.setdefault(kind, []).append((s1 - s0) / max(1, j1 - j0))
        return out

    def searcher(self, engine, state, check_all: bool):
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        schema = StructType(
            [StructField("query_id", LongType()), StructField("text", StringType())]
        )

        def run(kind, queries):
            def fn(sp):
                t0 = time.perf_counter()
                if kind == "join":
                    qdf = self.spark.createDataFrame(list(enumerate(queries)), schema)
                    df = engine.search_join_df(qdf, topn=TOPN)
                else:
                    df = engine.search(list(queries), topn=TOPN)
                t1 = time.perf_counter()
                rows = df.collect()
                sp["call_s"] = t1 - t0
                sp["collect_s"] = time.perf_counter() - t1
                sp["fan_out"] = engine.last_fan_out or 0
                return rows

            rows = self.op(kind, fn, queries=len(queries))
            if rows is None:
                return
            hits = {}
            for r in rows:
                hits.setdefault(int(r["query_id"]), []).append(
                    (int(r["rank"]), int(r["doc_id"]), float(r["score"]))
                )
            picks = range(len(queries))
            if not check_all:
                picks = self.rng.choice(len(queries), CHECKS_PER_BATCH, replace=False)
            checked = [
                (state, queries[int(i)], [h[1:] for h in sorted(hits.get(int(i), []))])
                for i in picks
            ]
            self.checks.append(checked)

        return run

    # ---------- set-up ----------

    def open_engine(self):
        from similarities_spark.index.build import BM25Index
        from similarities_spark.query.engine import BM25QueryEngine

        return BM25QueryEngine(BM25Index(self.spark, self.index_dir))

    def build_base(self, corpus, texts, stopwords):
        from similarities_spark.config import EngineConfig
        from similarities_spark.index.build import BM25IndexBuilder

        spec = self.spec
        self.corpus = corpus
        inp = os.path.join(self.work, "base.parquet")
        text_bytes = gen.write_webtext(inp, texts)
        self.cfg = EngineConfig(
            stopwords=frozenset(stopwords), num_term_buckets=8, **spec["config"]
        )
        self.builder = BM25IndexBuilder(self.spark, self.cfg)
        self.index_dir = os.path.join(self.work, "index")
        df = self.spark.read.parquet(inp)
        mark = tr.cpu_jiffies()
        t0 = time.perf_counter()
        with self.tracer.span("build"):
            index = self.builder.build(df, self.index_dir, input_desc=inp)
        wall = time.perf_counter() - t0
        self.extra["host_steal_build"] = (self.steal_since(mark), "ratio", 1)
        self.build_meta = dict(index.meta)
        if self.args.trace:
            self.build_meta["n_blocks"] = index.blocks().count()
        self.e2e["build_docs_per_s"] = (len(texts) / wall, "docs/s", 1)
        on_disk = sum(
            dir_bytes(os.path.join(self.index_dir, d))
            for d in ("docs", "term_stats", "blocks")
        )
        self.e2e["index_bytes_per_text_byte"] = (on_disk / text_bytes, "ratio", 1)
        self.info["corpus"] = gen.profile(texts, stopwords)
        self.info["corpus"]["stopwords"] = len(stopwords)
        self.info["postings_mode"] = index.meta["resolved_postings_mode"]
        self.info["build_stage_wall_s"] = index.meta["stage_wall_s"]

    def warm(self, search, queries):
        """Single-query searches until the latest one is within 10% of the
        mean of the two before it, or ``warmup_cap`` calls; records the
        number of calls and whether the latency settled. Only ``serve``
        warms up (see ``WORKLOADS``)."""
        cap = self.spec["warmup_cap"]
        lat, settled = [], False
        with self.tracer.span("warmup"):
            for q in queries[:cap]:
                t0 = time.perf_counter()
                search(q)
                lat.append(time.perf_counter() - t0)
                if len(lat) >= 3:
                    ref = median(lat[-3:-1])
                    settled = abs(lat[-1] - ref) <= 0.1 * ref
                    if settled:
                        break
        self.info["warmup_calls"] = len(lat)
        self.info["warmup_settled"] = settled
        self.info["warmup_s"] = lat

    # ---------- workloads ----------

    def serve(self):
        spec, a = self.spec, self.args
        corpus = gen.Corpus(a.seed, spec["vocab"], spec["zipf_s"], spec["mean_len"])
        texts = corpus.docs(spec["docs"])
        warm_qs = corpus.queries(40)
        pool = corpus.queries(4000)
        self.query_batch = pool[:BATCH]
        self.build_base(corpus, texts, frozenset())
        engine = self.open_engine()
        state = self.last_state = ("corpus", len(texts))
        self.oracle_texts = {state: texts}
        search = self.searcher(engine, state, check_all=True)
        self.warm(lambda q: engine.search([q], topn=TOPN).collect(), warm_qs)

        batch_search = self.searcher(engine, state, check_all=False)
        done = {k: 0 for k in spec["schedule"]}
        pos = 0
        i = 0
        with self.body():
            while not self.body_over(done, spec["min_calls"]):
                kind = spec["schedule"][i % len(spec["schedule"])]
                if self.body_elapsed() >= a.seconds and all(
                    done[k] >= v for k, v in spec["min_calls"].items()
                ):
                    kind = "1q"  # topping up clean single-query samples
                i += 1
                if kind == "1q":
                    search("1q", pool[pos : pos + 1])
                    pos += 1
                else:
                    batch_search(kind, pool[pos : pos + BATCH])
                    pos += BATCH
                done[kind] += 1

        self.e2e["search_1q_p50_s"] = self.p50_clean(["1q"])

    def ingest(self):
        spec, a = self.spec, self.args
        corpus = gen.Corpus(a.seed, spec["vocab"], spec["zipf_s"], spec["mean_len"])
        stop = gen.stopword_set(a.seed, spec["stopwords"], corpus.vocab)
        texts = corpus.docs(spec["docs"], stop_vocab=stop, stop_rate=spec["stop_rate"])
        self.query_batch = corpus.queries(BATCH)
        self.build_base(corpus, texts, stop)
        # the oracle's corpus, with the reference's cross-batch dedup rule
        live = list(texts)
        live_set = set(live)
        state = self.last_state = ("round", 0)
        self.oracle_texts = {state: list(live)}
        with self.body():
            rounds = 0
            next_id = len(texts)
            while rounds < spec["min_rounds"] or self.body_elapsed() < a.seconds:
                rounds += 1
                batch = corpus.docs(spec["batch_docs"], stop_vocab=stop, stop_rate=spec["stop_rate"])
                # some texts repeat earlier corpus texts (dropped by the merge)
                # and a few repeat within the batch (kept)
                n_rep = int(spec["repeat_share"] * len(batch))
                picks = self.rng.choice(len(live), n_rep, replace=False)
                for j, p in enumerate(picks):
                    batch[j * 7 % len(batch)] = live[int(p)]
                batch[-1] = batch[-2]
                path = os.path.join(self.work, f"batch{rounds}.parquet")
                gen.write_webtext(path, batch, first_id=next_id)
                next_id += len(batch)
                new_df = self.spark.read.parquet(path)
                self.op(
                    "merge",
                    lambda sp: self.builder.merge_new_docs(new_df, self.index_dir),
                    docs=len(batch),
                )
                kept = [t for t in batch if t not in live_set]
                live.extend(kept)
                live_set.update(kept)
                state = self.last_state = ("round", rounds)
                self.oracle_texts[state] = list(live)
                engine = self.op("reopen", lambda sp: self.open_engine())
                search = self.searcher(engine, state, check_all=True)
                n = 0
                while n < spec["searches_per_round"] or self.need_clean(["1q"]):
                    search("1q" if n >= spec["fresh_searches"] else "1q_fresh", corpus.queries(1))
                    n += 1
        self.info["rounds"] = rounds

        self.e2e["search_1q_p50_s"] = self.p50_clean(["1q"])
        self.extra["search_1q_fresh_p50_s"] = self.p50_clean(["1q_fresh"])

    # ---------- phases ----------

    def steal_since(self, mark):
        s, j = tr.cpu_jiffies()
        return (s - mark[0]) / max(1, j - mark[1])

    @contextmanager
    def body(self):
        """The timed body. Set-up ends where it starts; it samples peak RSS
        and host steal and records the body span."""
        self.e2e["setup_s"] = (time.perf_counter() - self.t_start, "s", 1)
        self.extra["host_steal_setup"] = (self.steal_since(self.steal0), "ratio", 1)
        mark = tr.cpu_jiffies()
        rss = tr.RssSampler([self.jvm_pid, os.getpid()])
        rss.start()
        self.t_body = time.perf_counter()
        try:
            with self.tracer.span("body"):
                yield
        finally:
            rss.stop()
        wall = time.perf_counter() - self.t_body
        self.extra["peak_rss_mb"] = (rss.peak_mb, "MB", 1)
        self.extra["host_steal_body"] = (self.steal_since(mark), "ratio", 1)
        self.info["body_s"] = wall

    def body_elapsed(self):
        return time.perf_counter() - self.t_body

    def body_over(self, done, mins):
        el = self.body_elapsed()
        if el < self.args.seconds or any(done.get(k, 0) < v for k, v in mins.items()):
            return False
        return not self.need_clean(["1q"])

    def need_clean(self, kinds):
        """True while fewer than MIN_CLEAN calls of ``kinds`` were clean and
        the top-up, timed from the first time this is asked, is shorter
        than EXTRA_S."""
        if len(self.clean(kinds)) >= MIN_CLEAN:
            return False
        if self.topup_t0 is None:
            self.topup_t0 = time.perf_counter()
        return time.perf_counter() - self.topup_t0 < EXTRA_S

    def clean(self, kinds):
        """Walls of the calls of ``kinds`` made without host contention."""
        return [
            w
            for k in kinds
            for w, s in zip(self.samples.get(k, []), self.steal.get(k, []))
            if s < STEAL_CLEAN
        ]

    def p50_clean(self, kinds):
        """Median over the clean calls of ``kinds``, or over all of them
        when fewer than three were clean; with the sample count."""
        xs = self.clean(kinds)
        if len(xs) < 3:
            xs = [w for k in kinds for w in self.samples.get(k, [])]
        return median(xs), "s", len(xs)

    def verify(self):
        """Compare every checked query's top-k with the oracle over the
        corpus state the query ran against: doc ids and their order must be
        equal, and each score within 1e-12 relative of the oracle's (the
        bound the repository's parity tests use). A call with any mismatch
        counts as one failed operation. Scores that pass but are not
        bitwise equal are counted on their own."""
        import math

        from similarities_spark.oracle import BM25Oracle
        from similarities_spark.tokenize import tokenize_text

        oracles = {}
        stop = self.cfg.stopwords
        mismatches = []
        not_bitwise = 0
        for call in self.checks:
            bad = False
            for state, q, got in call:
                if state not in oracles:
                    oracles[state] = BM25Oracle.from_texts(self.oracle_texts[state], stopwords=stop)
                want = oracles[state].most_similar(tokenize_text(q, mode="query"), TOPN)
                ok = [g[0] for g in got] == [w[0] for w in want] and all(
                    math.isclose(g[1], w[1], rel_tol=1e-12, abs_tol=1e-13)
                    for g, w in zip(got, want)
                )
                if not ok:
                    bad = True
                    mismatches.append({"state": list(state), "query": q, "got": got[:3], "want": want[:3]})
                elif got != want:
                    not_bitwise += 1
            self.failed += bad
        self.info["checked_queries"] = sum(len(c) for c in self.checks)
        self.info["checked_not_bitwise"] = not_bitwise
        self.info["mismatches"] = mismatches[:5]

    def run(self):
        import numpy as np

        self.t_start = time.perf_counter()
        self.steal0 = tr.cpu_jiffies()
        self.rng = np.random.default_rng(self.args.seed + 7919)
        self.e2e, self.extra = {}, {}
        self.start_spark()
        self.info["session_s"] = time.perf_counter() - self.t_start
        try:
            getattr(self, self.args.workload)()
            if self.args.trace:
                import layers

                self.layer = layers.probe(self)
            t0 = time.perf_counter()
            self.verify()
            self.info["verify_s"] = time.perf_counter() - t0
        finally:
            self.stop_spark()
        if self.args.trace:
            tr.attribute(self.tracer.spans, tr.read_event_log(self.evt_dir))
            self.layer.update(layers.from_spans(self))
        return self.result()

    def result(self):
        # the other engine calls, from the body or (traced) from the probe
        for kind, name, unit in (
            ("batch", "search_batch_qps", "queries/s"),
            ("join", "search_join_qps", "queries/s"),
            ("merge", "merge_p50_s", "s"),
            ("compact", "compact_s", "s"),
        ):
            xs = self.samples.get(kind)
            if xs:
                v = BATCH / median(xs) if unit == "queries/s" else median(xs)
                self.extra[name] = (v, unit, len(xs))
        self.extra["failed_ops_ratio"] = (self.failed / max(1, self.attempted), "ratio", self.attempted)
        n_checked = self.info["checked_queries"]
        self.extra["checked_not_bitwise"] = (self.info["checked_not_bitwise"], "queries", n_checked)
        t = tail(self.samples.get("1q", []))
        if t is not None:
            self.extra[f"search_1q_p{t[0]}_s"] = (t[1], "s", len(self.samples["1q"]))
        shown = dict(self.e2e, **self.extra)
        for name, (v, unit, n) in sorted(shown.items()):
            print(f"{name:28s} {v:14.6g} {unit:10s} n={n}")
        if self.args.trace:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in self.layer.items()}
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u, _n) in self.e2e.items()}
        self.info["errors"] = self.errors[:5]
        artifact = {
            "info": self.info,
            "end_to_end": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in shown.items()},
            "samples": self.samples,
            "steal": self.steal,
            "spans": self.tracer.spans,
            "per_layer": metrics if self.args.trace else None,
        }
        save_artifact(self.args, artifact)
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }


def save_artifact(args, artifact):
    """Write this run's artifact under .bench_out/ and compare it with the
    other runs of the same workload and seed kept there: a traced run
    reports its overhead against the untraced run and any Spark job, stage
    or task count that differs from the previous traced run."""
    out = os.path.join(ROOT, ".bench_out")
    os.makedirs(out, exist_ok=True)
    stem = os.path.join(out, f"{args.workload}-seed{args.seed}")
    path = f"{stem}-trace{args.trace}.json"
    if args.trace:
        prev = _load(path)
        if prev and prev.get("per_layer"):
            diff = {
                k: [prev["per_layer"][k]["value"], v["value"]]
                for k, v in artifact["per_layer"].items()
                if k.rsplit(".", 1)[-1] in ("jobs", "stages", "tasks")
                and prev["per_layer"].get(k, {}).get("value") != v["value"]
            }
            artifact["count_diff_vs_previous_traced_run"] = diff
            print(f"count differences vs previous traced run: {diff or 'none'}")
        plain = _load(f"{stem}-trace0.json")
        if plain:
            over = {
                k: artifact["end_to_end"][k]["value"] - v["value"]
                for k, v in plain["end_to_end"].items()
                if k in artifact["end_to_end"]
            }
            artifact["tracing_overhead"] = over
            print(f"tracing overhead (traced - untraced): {over}")
    with open(path, "w", encoding="utf-8") as f:
        json.dump(artifact, f, indent=1, default=str)


def _load(path):
    try:
        with open(path, "r", encoding="utf-8") as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "similarities_spark", "__init__.py")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = Bench(args, work).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
