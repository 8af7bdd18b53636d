"""Edge-case hardening: degenerate corpora and query shapes."""

import datetime

import pytest
from pyspark.sql import functions as F

from similarities_spark.config import EngineConfig
from similarities_spark.index.build import BM25IndexBuilder
from similarities_spark.oracle import BM25Oracle
from similarities_spark.query.engine import BM25QueryEngine

CFG = EngineConfig(stopwords=frozenset({"the"}), num_term_buckets=4, num_salts=2)


def _web(spark, texts):
    epoch = datetime.datetime(2023, 1, 1)
    rows = [
        (
            f"edge://{i:04d}",
            epoch + datetime.timedelta(seconds=i),
            t.encode(),
            t,
            "en",
        )
        for i, t in enumerate(texts)
    ]
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )


def test_empty_corpus_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="empty corpus"):
        BM25IndexBuilder(spark, CFG).build(
            _web(spark, []), str(tmp_path / "idx"), input_desc="empty"
        )


def test_single_doc_corpus(spark, tmp_path):
    idx = BM25IndexBuilder(spark, CFG).build(
        _web(spark, ["only one document here"]), str(tmp_path / "one")
    )
    assert idx.n_docs == 1
    hits = BM25QueryEngine(idx).search("one document", topn=10).collect()
    assert len(hits) == 1 and hits[0]["doc_id"] == 0
    oracle = BM25Oracle.from_texts(["only one document here"], stopwords=CFG.stopwords)
    expect = oracle.most_similar(["one", "document"], topn=10)
    assert hits[0]["score"] == pytest.approx(expect[0][1], rel=1e-12)


def test_stopword_only_doc_has_zero_len_but_counts_in_n(spark, tmp_path):
    texts = ["the the the", "real words here", "more real tokens appear"]
    idx = BM25IndexBuilder(spark, CFG).build(_web(spark, texts), str(tmp_path / "sw"))
    assert idx.n_docs == 3  # stopword-only doc still a corpus member
    oracle = BM25Oracle.from_texts(texts, stopwords=CFG.stopwords)
    assert idx.meta["avgdl"] == oracle.avgdl  # dl=0 doc included in avgdl
    hits = BM25QueryEngine(idx).search("real", topn=10).collect()
    got = [(r["rank"], r["doc_id"], r["score"]) for r in sorted(hits, key=lambda r: r["rank"])]
    expect = oracle.most_similar(["real"], topn=10)
    assert [g[1] for g in got] == [d for d, _ in expect]
    assert len(got) == 3  # zero-score stopword doc padded in


def test_whitespace_and_empty_queries(spark, tmp_path):
    texts = ["alpha beta gamma", "beta gamma delta"]
    idx = BM25IndexBuilder(spark, CFG).build(_web(spark, texts), str(tmp_path / "wq"))
    hits = BM25QueryEngine(idx).search(["", "   ", "beta"], topn=2).collect()
    by_q = {}
    for r in hits:
        by_q.setdefault(r["query_id"], []).append(r)
    # empty queries pad with zero-score docs ascending
    for qid in (0, 1):
        rows = sorted(by_q[qid], key=lambda r: r["rank"])
        assert [r["doc_id"] for r in rows] == [0, 1]
        assert all(r["score"] == 0.0 for r in rows)
    # 'beta' is in BOTH docs (df == N) -> epsilon-floored NEGATIVE idf, so
    # scores are negative — exactly what the reference computes; check parity
    oracle = BM25Oracle.from_texts(texts, stopwords=CFG.stopwords)
    expect = oracle.most_similar(["beta"], topn=2)
    got = sorted(by_q[2], key=lambda r: r["rank"])
    assert [r["doc_id"] for r in got] == [d for d, _ in expect]
    for r, (_, es) in zip(got, expect):
        assert r["score"] == pytest.approx(es, rel=1e-12)


def test_very_long_doc_multiple_blocks(spark, tmp_path):
    # one doc repeating one term 10_000x -> a 14-bit tf field, many blocks
    big = " ".join(["jumbo"] * 10_000) + " rare"
    texts = [big] + [f"filler w{i} jumbo" for i in range(40)]
    cfg = EngineConfig(stopwords=frozenset(), block_size=8, num_term_buckets=4, num_salts=2)
    idx = BM25IndexBuilder(spark, cfg).build(_web(spark, texts), str(tmp_path / "big"))
    oracle = BM25Oracle.from_texts(texts)
    hits = BM25QueryEngine(idx).search("jumbo rare", topn=5).collect()
    got = sorted(hits, key=lambda r: r["rank"])
    expect = oracle.most_similar(["jumbo", "rare"], topn=5)
    assert [r["doc_id"] for r in got] == [d for d, _ in expect]
    for r, (_, es) in zip(got, expect):
        assert r["score"] == pytest.approx(es, rel=1e-12)


def test_all_stopword_corpus_builds_and_pads(spark, tmp_path):
    """Zero postings overall: no block files are written, stats must come up
    empty (not crash on schema inference) and every query zero-score-pads."""
    texts = ["the the", "the", "the the the"]
    idx = BM25IndexBuilder(spark, CFG).build(_web(spark, texts), str(tmp_path / "asw"))
    assert idx.n_docs == 3
    assert idx.meta["vocab_size"] == 0
    assert idx.meta["total_tokens"] == 0
    hits = BM25QueryEngine(idx).search("anything", topn=2).collect()
    rows = sorted(hits, key=lambda r: r["rank"])
    assert [r["doc_id"] for r in rows] == [0, 1]
    assert all(r["score"] == 0.0 for r in rows)


def test_merge_all_stopword_batch(spark, tmp_path):
    """Incremental batch whose docs all tokenize to empty: stats unchanged
    except N/avgdl, and the new docs participate as zero-length members."""
    base = ["alpha beta gamma", "beta gamma delta"]
    builder = BM25IndexBuilder(spark, CFG)
    d = str(tmp_path / "mswb")
    idx = builder.build(_web(spark, base), d, input_desc="base")
    merged = builder.merge_new_docs(_web(spark, ["the the", "the"]), d)
    assert merged.n_docs == 4
    assert merged.meta["total_tokens"] == idx.meta["total_tokens"]
    oracle = BM25Oracle.from_texts(base + ["the the", "the"], stopwords=CFG.stopwords)
    assert merged.meta["avgdl"] == oracle.avgdl
    hits = BM25QueryEngine(merged).search("beta", topn=10).collect()
    expect = oracle.most_similar(["beta"], topn=10)
    got = sorted(hits, key=lambda r: r["rank"])
    assert [r["doc_id"] for r in got] == [doc for doc, _ in expect]
