"""End-to-end: synth webtext -> distributed index build -> distributed query
-> parity vs the vendored single-node oracle (SURVEY §5.1).

The corpus is engineered to exercise: within-batch duplicate texts (KEPT,
reference add_corpus semantics), CJK + latin tokens, stopword filtering,
epsilon-floored negative idfs, head-term salting, empty docs, duplicate
query tokens, unknown terms, and zero-score padding.
"""

import numpy as np
import pandas as pd
import pytest

from similarities_spark.config import EngineConfig
from similarities_spark.index.build import BM25IndexBuilder
from similarities_spark.oracle import BM25Oracle
from similarities_spark.query.engine import BM25QueryEngine
from similarities_spark.sources.synth import synth_webtext_pandas
from similarities_spark.tokenize import tokenize_text

CFG = EngineConfig(
    stopwords=frozenset({"the", "a", "的"}),
    block_size=16,
    num_term_buckets=8,
    salt_df_threshold=25,  # low threshold so head terms really get salted
    num_salts=4,
)


def reference_corpus(pdf: pd.DataFrame):
    """Reference ingestion semantics: a single add_corpus over an empty model
    keeps EVERY row — including within-batch duplicate texts (the membership
    check runs against the static pre-batch corpus,
    literal_similarity.py:389-401). Order by (warc_ts, url) = list order."""
    pdf = pdf.sort_values(["warc_ts", "url"], kind="mergesort")
    return list(pdf["text"])


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    pdf = synth_webtext_pandas(n_docs=150, seed=7, dup_fraction=0.08)
    texts = reference_corpus(pdf)
    assert len(set(texts)) < len(texts)  # dup-keeping semantics exercised
    idx_dir = str(tmp_path_factory.mktemp("bm25_index"))
    builder = BM25IndexBuilder(spark, CFG)
    index = builder.build(
        spark.createDataFrame(pdf), idx_dir, input_desc="synth-150-seed7"
    )
    oracle = BM25Oracle.from_texts(texts, stopwords=CFG.stopwords)
    return index, oracle, texts


QUERIES = [
    "data web w0005 w0010",
    "of of data",              # duplicate tokens + likely epsilon-floored term
    "zzzunknown data",
    "w0001 w0002 w0003 w0004 w0005 w0006",
    "的",                      # stopword: indexed never, query keeps it
    "in is it to and of",      # head terms, floored idfs
    "w1500",                   # rare tail term -> padding likely at topn=10
]


def _check(index, oracle, queries, topn, spark_tail):
    """Oracle parity of both scoring tails: the in-process one these small
    batches take by default and the distributed one."""
    for path, engine in (
        ("driver", BM25QueryEngine(index)),
        ("spark", spark_tail(BM25QueryEngine(index))),
    ):
        _check_engine(engine, oracle, queries, topn)
        assert engine.last_search["path"] == path


def _check_engine(engine, oracle, queries, topn):
    hits = engine.search(list(queries), topn=topn).collect()
    by_q = {}
    for r in hits:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, query in enumerate(queries):
        tokens = tokenize_text(query, mode="query")
        expect = oracle.most_similar(tokens, topn=topn)
        got = sorted(by_q.get(qid, []), key=lambda r: r["rank"])
        got_ids = [r["doc_id"] for r in got]
        exp_ids = [d for d, _ in expect]
        assert got_ids == exp_ids, (
            f"q{qid} {query!r}: ids {got_ids} != {exp_ids}"
        )
        for r, (ed, es) in zip(got, expect):
            # exact float64 equality, epsilon-floored terms included:
            # average_idf sums raw idf in the oracle's insertion order
            assert r["score"] == es, (
                f"q{qid} doc {ed}: {r['score']!r} != {es!r}"
            )


def test_meta_stats_match_oracle(built):
    index, oracle, texts = built
    assert index.n_docs == oracle.n_docs
    assert index.meta["avgdl"] == oracle.avgdl
    assert index.meta["vocab_size"] == len(oracle.idf)
    assert index.meta["average_idf"] == oracle.average_idf


def test_term_stats_match_oracle(built):
    index, oracle, _ = built
    stats = {r["term"]: r for r in index.term_stats().collect()}
    assert set(stats) == set(oracle.idf)
    for term, row in stats.items():
        assert row["df"] == oracle.df[term]
        assert row["idf"] == oracle.idf[term]


def test_salting_applied_to_head_terms(built):
    # fused build salts by per-term TOKEN count (>= df, so a superset of the
    # df-threshold terms — salting is physical layout only); every term
    # split across >1 salt range must be above the threshold in token count
    index, oracle, _ = built
    import pyspark.sql.functions as F

    salted = (
        index.blocks()
        .groupBy("term")
        .agg(
            F.countDistinct("salt").alias("n_salts"),
            F.sum("tf_sum").alias("term_tokens"),
        )
        .filter(F.col("n_salts") > 1)
        .collect()
    )
    assert salted, "no term was salted — threshold not exercised"
    for r in salted:
        assert r["term_tokens"] >= CFG.salt_df_threshold


def test_topk_parity_top10(built, spark_tail):
    index, oracle, _ = built
    _check(index, oracle, QUERIES, topn=10, spark_tail=spark_tail)


def test_topk_parity_top3(built, spark_tail):
    index, oracle, _ = built
    _check(index, oracle, QUERIES, topn=3, spark_tail=spark_tail)


def test_include_text_returns_corpus_doc(built):
    index, oracle, texts = built
    engine = BM25QueryEngine(index)
    rows = engine.search("data web", topn=3, include_text=True).collect()
    for r in rows:
        assert r["corpus_doc"] == texts[r["doc_id"]]


def test_exact_mode_matches_wand_mode(built, spark, spark_tail):
    index, oracle, _ = built
    import dataclasses

    exact_cfg = dataclasses.replace(index.config(), score_mode="exact")
    for engine in (BM25QueryEngine(index), spark_tail(BM25QueryEngine(index))):
        engine.cfg = exact_cfg
        hits = engine.search(QUERIES[:3], topn=10).collect()
        by_q = {}
        for r in hits:
            by_q.setdefault(r["query_id"], []).append(r)
        for qid in range(3):
            tokens = tokenize_text(QUERIES[qid], mode="query")
            expect = oracle.most_similar(tokens, topn=10)
            got = sorted(by_q[qid], key=lambda r: r["rank"])
            assert [r["doc_id"] for r in got] == [d for d, _ in expect]


def test_auto_fanout_triggers_on_fat_query_and_is_bit_identical(built, spark):
    """A head-term query whose candidate volume (sum df) exceeds
    fan_out_threshold must auto-shard — and return exactly the hits of the
    unsharded path (ids AND float64 scores)."""
    import dataclasses

    index, oracle, _ = built
    qdf = spark.createDataFrame(
        [(0, "data web of"), (1, "w0005 w0010")], "query_id long, text string"
    )
    eng_base = BM25QueryEngine(index)
    eng_base.cfg = dataclasses.replace(index.config(), fan_out_threshold=None)
    base = eng_base.search_df(qdf, topn=10).collect()
    assert eng_base.last_fan_out is None

    eng_auto = BM25QueryEngine(index)
    eng_auto.cfg = dataclasses.replace(
        index.config(), fan_out_threshold=20, fan_out_max=8
    )
    auto = eng_auto.search_df(qdf, topn=10).collect()
    assert eng_auto.last_fan_out and eng_auto.last_fan_out > 1

    b_rows = sorted((r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in base)
    a_rows = sorted((r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in auto)
    assert b_rows == a_rows


def test_bm25l_fanout_matches_unsharded(built, spark):
    """BM25L's unmatched-doc contribution is exactly 0, so doc-range
    decomposition applies to it too (VERDICT r1 item 2)."""
    import dataclasses

    index, oracle, _ = built
    qdf = spark.createDataFrame(
        [(0, "data web w0001"), (1, "of of data")], "query_id long, text string"
    )
    eng = BM25QueryEngine(index)
    eng.cfg = dataclasses.replace(index.config(), variant="bm25l")
    base = eng.search_df(qdf, topn=10).collect()
    fan = eng.search_df(qdf, topn=10, fan_out=4).collect()
    assert eng.last_fan_out == 4
    b_rows = sorted((r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in base)
    f_rows = sorted((r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in fan)
    assert b_rows == f_rows


def test_bm25plus_fanout_matches_unsharded(built, spark):
    """BM25Plus's per-token idf*delta baseline is a query constant, so
    doc-range decomposition applies to it too (r4): every range task
    rebuilds the full baseline from the token-side df column, including
    for tokens whose blocks live entirely outside its range. Hits must be
    bit-identical to the unsharded path — ids AND float64 scores."""
    import dataclasses

    index, oracle, _ = built
    eng = BM25QueryEngine(index)
    eng.cfg = dataclasses.replace(index.config(), variant="bm25plus")
    # mix: head terms, a rare term, a dup token, and an unknown token
    qdf = spark.createDataFrame(
        [(0, "data web w0001"), (1, "of of data"), (2, "w0005 zzzunknown")],
        "query_id long, text string",
    )
    base = eng.search_df(qdf, topn=10).collect()
    fan = eng.search_df(qdf, topn=10, fan_out=4).collect()
    assert eng.last_fan_out == 4
    b_rows = sorted((r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in base)
    f_rows = sorted((r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in fan)
    assert b_rows == f_rows
    # auto fan-out now engages for the delta variant as well
    eng_auto = BM25QueryEngine(index)
    eng_auto.cfg = dataclasses.replace(
        index.config(), variant="bm25plus", fan_out_threshold=20, fan_out_max=8
    )
    auto = eng_auto.search_df(qdf, topn=10).collect()
    assert eng_auto.last_fan_out and eng_auto.last_fan_out > 1
    a_rows = sorted((r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in auto)
    assert a_rows == b_rows


def test_fanout_matches_single_task_path(built, spark):
    """Doc-range fan-out (scale path for single-query latency) must return
    exactly the same hits as the per-query path."""
    index, oracle, _ = built
    engine = BM25QueryEngine(index)
    qdf = spark.createDataFrame(
        [(i, q) for i, q in enumerate(QUERIES)], "query_id long, text string"
    )
    base = engine.search_df(qdf, topn=10).collect()
    fan = engine.search_df(qdf, topn=10, fan_out=4).collect()
    key = lambda r: (r["query_id"], r["rank"])
    b_rows = sorted([(r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in base])
    f_rows = sorted([(r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in fan])
    assert b_rows == f_rows
