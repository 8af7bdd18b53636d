"""Query-path tails: in-process (driver) scoring vs the distributed tail.

A batch whose whole candidate volume fits one scorer task is scored in the
driver process when serial scoring is predicted to win; anything larger
(or a forced ``fan_out=``) runs the distributed tail. Both must return the
same hits, bit for bit, and say which tail ran in ``engine.last_search``.
The distributed tail is forced here by patching the engine's gate
(``_score_in_process``, see the ``spark_tail`` fixture); the fan-out tests
elsewhere keep covering it through small thresholds.
"""

import dataclasses
import time
from collections import Counter

import numpy as np
import pytest

from similarities_spark.config import EngineConfig
from similarities_spark.index import build as _build
from similarities_spark.index.build import BM25Index, BM25IndexBuilder
from similarities_spark.query.engine import BM25QueryEngine
from similarities_spark.sources.synth import synth_webtext_pandas

CFG = EngineConfig(
    stopwords=frozenset({"the", "a"}),
    block_size=16,
    num_term_buckets=4,
    salt_df_threshold=25,
    num_salts=4,
)

QUERIES = [
    "data web w0005 w0010",
    "",                        # empty query
    "   \t ",                  # whitespace-only query
    "zzzunknown qqqnothere",   # all out-of-vocabulary
    "zzzunknown data",         # one OOV token
    "w1500",                   # rare term: fewer than k matches -> padding
    "of of data data of",      # duplicate tokens
    "in is it to and of",      # head terms, epsilon-floored idfs
]


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    pdf = synth_webtext_pandas(n_docs=150, seed=11, dup_fraction=0.05)
    path = str(tmp_path_factory.mktemp("qpath_index"))
    return BM25IndexBuilder(spark, CFG).build(
        spark.createDataFrame(pdf), path, input_desc="synth-150-seed11"
    )


def _rows(df):
    return sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in df.collect()
    )


@pytest.fixture
def both(spark_tail):
    def run_both(index, run, cfg=None):
        """(driver hits, spark hits) of ``run(engine)``, asserting each
        tail really ran."""
        drv = BM25QueryEngine(index, cfg=cfg)
        d = _rows(run(drv))
        assert drv.last_search["path"] == "driver"
        spk = spark_tail(BM25QueryEngine(index, cfg=cfg))
        s = _rows(run(spk))
        assert spk.last_search["path"] == "spark"
        return d, s

    return run_both


# Spark-tail surfaces the driver tail's hits are compared against: run(engine,
# queries DataFrame) and the config changes the surface runs under (a small
# fan_out_threshold makes the batch shard automatically)
SMALL_FAN = {"fan_out_threshold": 20, "fan_out_max": 8}
SURFACES = {
    "search": (lambda e, qdf: e.search(QUERIES, topn=10), {}),
    "search_fan": (lambda e, qdf: e.search(QUERIES, topn=10), SMALL_FAN),
    "search_df_fan4": (
        lambda e, qdf: e.search_df(qdf, topn=10, fan_out=4), {}),
    "join": (lambda e, qdf: e.search_join_df(qdf, topn=10), {}),
    "join_fan": (lambda e, qdf: e.search_join_df(qdf, topn=10), SMALL_FAN),
}


@pytest.mark.parametrize(
    "variant,score_mode,surface",
    [
        pytest.param(
            v, m, s, id=f"{v}-{m}" if s == "search" else f"{v}-{m}-{s}"
        )
        for v, m in [("okapi", "wand"), ("bm25l", "wand"),
                     ("bm25plus", "wand"), ("okapi", "exact")]
        for s in SURFACES
    ],
)
def test_driver_tail_matches_spark_tail(
    spark, index, spark_tail, variant, score_mode, surface
):
    cfg = dataclasses.replace(
        index.config(), variant=variant, score_mode=score_mode
    )
    drv = BM25QueryEngine(index, cfg=cfg)
    d = _rows(drv.search(QUERIES, topn=10))
    assert drv.last_search["path"] == "driver"

    run, changes = SURFACES[surface]
    qdf = spark.createDataFrame(
        list(enumerate(QUERIES)), "query_id long, text string"
    )
    spk = spark_tail(
        BM25QueryEngine(index, cfg=dataclasses.replace(cfg, **changes))
    )
    s = _rows(run(spk, qdf))
    assert spk.last_search["path"] == "spark"
    if surface.endswith("fan"):
        assert spk.last_fan_out and spk.last_fan_out > 1
    assert d == s
    # every query, padded or not, holds exactly k hits
    assert len(d) == 10 * len(QUERIES)


def test_driver_tail_search_df_and_text(spark, index, both, spark_tail):
    qdf = spark.createDataFrame(
        list(enumerate(QUERIES)), "query_id long, text string"
    )
    d, s = both(index, lambda e: e.search_df(qdf, topn=7))
    assert d == s

    def with_text(e):
        return e.search(QUERIES[:3], topn=5, include_text=True)

    drv, spk = BM25QueryEngine(index), spark_tail(BM25QueryEngine(index))
    dt = sorted(tuple(r) for r in with_text(drv).collect())
    st = sorted(tuple(r) for r in with_text(spk).collect())
    assert drv.last_search["path"] == "driver"
    assert dt == st
    assert all(r[4] is not None for r in dt)


def test_driver_tail_on_merged_index(spark, tmp_path, both):
    base = synth_webtext_pandas(n_docs=90, seed=21)
    more = synth_webtext_pandas(n_docs=60, seed=22)
    builder = BM25IndexBuilder(spark, CFG)
    builder.build(spark.createDataFrame(base), str(tmp_path / "m"),
                  input_desc="base")
    builder.merge_new_docs(spark.createDataFrame(more), str(tmp_path / "m"))
    idx = BM25Index(spark, str(tmp_path / "m"))
    d, s = both(idx, lambda e: e.search(QUERIES, topn=10))
    assert d == s


def test_driver_blocks_read_equals_spark_read_on_merged_index(
    spark, tmp_path, monkeypatch, both
):
    """On an index of several segments per (term, salt), where block_id
    restarts at 0 in each, the driver tail's pyarrow blocks read returns
    the same rows, payload bytes included, as the Spark tail's pruned scan,
    and both tails rank alike. An index opened through a relative path
    searches the same."""
    builder = BM25IndexBuilder(spark, CFG)
    path = str(tmp_path / "m")
    builder.build(
        spark.createDataFrame(synth_webtext_pandas(n_docs=90, seed=21)),
        path, input_desc="base",
    )
    for seed in (22, 23):
        builder.merge_new_docs(
            spark.createDataFrame(synth_webtext_pandas(n_docs=60, seed=seed)),
            path,
        )
    idx = BM25Index(spark, path)
    eng = BM25QueryEngine(idx)
    vocab = sorted(r["term"] for r in idx.term_stats().collect())
    terms = vocab[::7] + ["data", "in", "of", "web"]

    def rows(tbl):
        return Counter(tuple(r.values()) for r in tbl.to_pylist())

    got = rows(eng._read_blocks(terms))
    assert got == rows(eng._pruned_blocks(terms).toArrow())
    keys = Counter(r[:3] for r in got.elements())
    assert max(keys.values()) >= 3  # base + two merges share (term, salt, 0)
    assert {r[0] for r in got} == set(terms)

    d, s = both(idx, lambda e: e.search(QUERIES, topn=10))
    assert d == s

    monkeypatch.chdir(tmp_path)
    rel = BM25QueryEngine(BM25Index(spark, "m"))
    assert _rows(rel.search(QUERIES, topn=10)) == d
    assert rel.last_search["path"] == "driver"


def test_lone_surrogate_query_past_stats_cap(spark, index, monkeypatch):
    """Past the stats snapshot cap the stats lookup filters the index by the
    batch's terms; a lone-surrogate token, which no UTF-8 index holds,
    drops out of that filter and ranks as out-of-vocabulary."""
    queries = ["web data \ud800x", "\udcff"]
    want = _rows(BM25QueryEngine(index).search(queries, topn=10))
    monkeypatch.setattr(_build, "_DRIVER_STATS_MAX_VOCAB", 10)
    eng = BM25QueryEngine(index)
    assert _rows(eng.search(queries, topn=10)) == want
    assert eng._stats_snapshot is None


def test_driver_tail_matches_spark_tail_on_large_batch(
    spark, tmp_path, both
):
    """A batch shaped like real serving traffic — hundreds of queries drawn
    from the corpus over thousands of docs, with default block sizes — is
    scored identically by both tails."""
    pdf = synth_webtext_pandas(n_docs=2000, seed=5)
    cfg = EngineConfig(stopwords=frozenset({"the", "a"}), num_term_buckets=8)
    idx = BM25IndexBuilder(spark, cfg).build(
        spark.createDataFrame(pdf), str(tmp_path / "big"), input_desc="2k"
    )
    rng = np.random.RandomState(9)
    texts = [t.split() for t in pdf["text"] if t.split()]
    queries = []
    for i in range(250):  # about 1M candidate postings
        words = texts[rng.randint(len(texts))]
        picks = [words[j] for j in rng.randint(len(words), size=rng.randint(2, 6))]
        if i % 25 == 0:
            picks[-1] = f"zzq{i}"  # one out-of-vocabulary token
        queries.append(" ".join(picks))
    d, s = both(idx, lambda e: e.search(queries, topn=10))
    assert d == s
    assert len(d) == 10 * len(queries)


def test_lone_surrogate_query_same_hits_on_every_tail(
    spark, tmp_path, spark_tail
):
    """A query string holding a lone surrogate tokenizes to a token no
    UTF-8 index can hold. Every tail ranks it as out-of-vocabulary: the
    Spark tail's markers carry only in-index tokens across the Arrow
    boundary, which cannot encode a lone surrogate."""
    pdf = synth_webtext_pandas(n_docs=60, seed=5)
    idx = BM25IndexBuilder(spark, CFG).build(
        spark.createDataFrame(pdf), str(tmp_path / "sur"), input_desc="sur"
    )
    queries = ["web data \ud800x", "the of \udcff and"]
    drv = BM25QueryEngine(idx)
    d = _rows(drv.search(queries, topn=10))
    assert drv.last_search["path"] == "driver"
    spk = spark_tail(BM25QueryEngine(idx))
    s = _rows(spk.search(queries, topn=10))
    assert spk.last_search["path"] == "spark"
    qdf = spark.createDataFrame(
        list(enumerate(queries)), "query_id long, text string"
    )
    fan = _rows(BM25QueryEngine(idx).search_df(qdf, topn=10, fan_out=2))
    assert d == s == fan
    assert len(d) == 10 * len(queries)


def test_threshold_boundary_switches_tail(spark, index):
    """At the threshold the batch runs in-process; one posting above it the
    distributed tail runs (without fan-out: each query alone still fits)
    and returns identical hits."""
    queries = ["data web", "w0005 w0010 of"]
    probe = BM25QueryEngine(index)
    probe.search(queries, topn=10)
    total = probe.last_search["candidate_postings"]
    assert total > 0

    at = BM25QueryEngine(
        index, cfg=dataclasses.replace(index.config(), fan_out_threshold=total)
    )
    hits_at = _rows(at.search(queries, topn=10))
    assert at.last_search["path"] == "driver"

    above = BM25QueryEngine(
        index,
        cfg=dataclasses.replace(index.config(), fan_out_threshold=total - 1),
    )
    hits_above = _rows(above.search(queries, topn=10))
    assert above.last_search["path"] == "spark"
    assert above.last_search["fan_out"] is None
    assert hits_above == hits_at


DRIVER_STAGES = {"tokenize", "stats", "blocks", "score", "hits"}


def _record(eng, stages):
    """``eng.last_search`` without its stage walls, after checking that
    they name ``stages``."""
    rec = dict(eng.last_search)
    stage_s = rec.pop("stage_s")
    assert set(stage_s) == stages
    assert all(w >= 0 for w in stage_s.values())
    return rec


def test_last_search_record(spark, index):
    eng = BM25QueryEngine(index)
    eng.search(["data web w0005"], topn=5).collect()
    rec = _record(eng, DRIVER_STAGES)
    assert rec["path"] == "driver" and rec["fan_out"] is None
    assert rec["candidate_postings"] > 0 and rec["blocks_read"] > 0
    assert eng.last_fan_out is None

    eng.search(["zzzunknown"], topn=5).collect()
    assert _record(eng, DRIVER_STAGES) == {
        "path": "driver", "candidate_postings": 0, "blocks_read": 0,
        "fan_out": None,
    }

    qdf = spark.createDataFrame(
        [(0, "data web w0005")], "query_id long, text string"
    )
    eng.search_df(qdf, topn=5, fan_out=2).collect()
    spark_rec = _record(eng, {"tokenize", "stats", "plan"})
    assert spark_rec["path"] == "spark"
    assert spark_rec["fan_out"] == 2 == eng.last_fan_out
    assert spark_rec["blocks_read"] is None
    assert spark_rec["candidate_postings"] == rec["candidate_postings"]

    eng.search_join_df(qdf, topn=5).collect()
    assert _record(eng, {"stats", "plan"}) == {
        "path": "spark", "candidate_postings": rec["candidate_postings"],
        "blocks_read": None, "fan_out": None,
    }


def test_driver_tail_stage_walls_sum_to_the_call(spark, index):
    """The driver tail's stage walls are contiguous: they add up to the
    wall of the search() call but for a few ms of argument handling and
    bookkeeping."""
    eng = BM25QueryEngine(index)
    for queries in (["data"], ["data web w0005", "of of in"], ["zzzunknown"]):
        t0 = time.perf_counter()
        eng.search(queries, topn=10)
        wall = time.perf_counter() - t0
        _record(eng, DRIVER_STAGES)
        gap = wall - sum(eng.last_search["stage_s"].values())
        assert 0 <= gap < 0.005, (queries, wall, eng.last_search)


def test_gate_follows_cluster_parallelism(spark, index, monkeypatch):
    """The driver tail takes a batch within cfg.fan_out_threshold only while
    serial scoring is predicted to beat the distributed tail on the
    cluster's cores: on 2 or 4 cores every such batch, on many cores about
    1.2M postings."""
    eng = BM25QueryEngine(index)
    thr = eng.cfg.fan_out_threshold
    cases = [
        (2, thr, thr + 1), (4, thr, thr + 1),
        (64, 1_200_000, 1_300_000), (10_000, 1_150_000, 1_250_000),
    ]
    for cores, fits, too_big in cases:
        monkeypatch.setattr(
            type(spark.sparkContext), "defaultParallelism",
            property(lambda sc, c=cores: c),
        )
        assert eng._score_in_process(fits), cores
        assert not eng._score_in_process(too_big), cores


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_search_job_counts(spark, tmp_path, monkeypatch, spark_tail):
    """A search that fits one scorer task runs no Spark job: its stats
    lookup (the engine's first search loads the stats snapshot) and its
    blocks read are pyarrow reads in the driver, and collecting its hits
    runs none. The Spark tail scores and pads in one grouped stage: three
    jobs for a search (two when no term is in the index), eight for
    search_join_df, whose fan-out sizing adds its own."""
    pdf = synth_webtext_pandas(n_docs=150, seed=11, dup_fraction=0.05)
    index = BM25IndexBuilder(spark, CFG).build(
        spark.createDataFrame(pdf), str(tmp_path / "jobs"), input_desc="jobs"
    )
    eng = BM25QueryEngine(index)

    def one(e, *queries):
        return lambda: e.search(list(queries), topn=10).collect()

    assert _jobs(spark, "qpath-first", one(eng, "data")) == 0
    assert eng._stats_snapshot is not None
    assert _jobs(spark, "qpath-1q", one(eng, "data web w0005")) == 0
    assert _jobs(spark, "qpath-oov", one(eng, "zzzunknown qqq")) == 0

    spk = spark_tail(BM25QueryEngine(index))
    spk.search(["data"], topn=10).collect()
    assert _jobs(spark, "qpath-spark", one(spk, "data web w0005")) == 3
    assert _jobs(spark, "qpath-spark-oov", one(spk, "zzzunknown qqq")) == 2
    both = ["data web w0005", "zzzunknown qqq"]  # one query pads
    assert _jobs(spark, "qpath-spark-pad", one(spk, *both)) == 3
    qdf = spark.createDataFrame(
        list(enumerate(both)), "query_id long, text string"
    )
    qdf.collect()
    assert _jobs(
        spark, "qpath-join", lambda: eng.search_join_df(qdf, topn=10).collect()
    ) == 8

    # past the stats snapshot cap: the per-batch stats lookup is a pyarrow
    # read too
    monkeypatch.setattr(_build, "_DRIVER_STATS_MAX_VOCAB", 10)
    big = BM25QueryEngine(index)
    assert _jobs(spark, "qpath-cap-first", one(big, "data")) == 0
    assert _jobs(spark, "qpath-cap", one(big, "data web w0005")) == 0
    assert big.last_search["path"] == "driver"
    assert big._stats_snapshot is None
