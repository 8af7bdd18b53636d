"""term_stats arithmetic: idf, average_idf and the epsilon floor.

The reference sums raw idf in vocabulary insertion order — documents in id
order, each document's distinct terms in first-occurrence order — and every
epsilon-floored idf bakes that sum in. The index stores each term's first
occurrence (first_doc, first_pos) and sums in that order on both stats
tails (driver collect under the cap, one key-ordered task past it), so a
build, a merge and the oracle agree bit for bit.
"""

import json
import os

import numpy as np
import pandas as pd
import pytest

from similarities_spark.config import EngineConfig
from similarities_spark.index import build as _build
from similarities_spark.index.build import BM25Index, BM25IndexBuilder
from similarities_spark.oracle import BM25Oracle
from similarities_spark.query.engine import BM25QueryEngine
from similarities_spark.tokenize import tokenize_text

CFG = EngineConfig(
    stopwords=frozenset({"t0"}),
    block_size=16,
    num_term_buckets=4,
    salt_df_threshold=40,
    num_salts=4,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _texts(seed, n_docs, vocab=600):
    """Zipf-distributed documents over terms named in random order, so the
    sorted-term order differs from the insertion order; the head terms
    occur in most documents and get epsilon-floored."""
    rng = np.random.default_rng(seed)
    names = [f"t{j}" for j in rng.permutation(vocab)]
    p = 1.0 / np.arange(1, vocab + 1)
    p /= p.sum()
    return [
        " ".join(names[i] for i in rng.choice(vocab, rng.integers(4, 40), p=p))
        for _ in range(n_docs)
    ]


def _webtext(spark, texts, ts0=0):
    ts = [ts0 + i for i in range(len(texts))]
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "url": [f"u{t}" for t in ts],
                "warc_ts": pd.to_datetime(ts, unit="s"),
                "text": texts,
            }
        )
    )


def _stored_stats(spark, idx):
    """Every term_stats row as written, first-occurrence key included."""
    return sorted(
        tuple(r)
        for r in spark.read.parquet(os.path.join(idx.index_dir, "term_stats"))
        .select("term", "df", "idf", "first_doc", "first_pos")
        .collect()
    )


@pytest.fixture
def ordered_sums(spark, monkeypatch):
    """Records each distributed key-ordered idf sum (the tail past the
    driver cap)."""
    calls = []
    DataFrame = type(spark.range(1))
    real = DataFrame.mapInArrow

    def spy(self, func, *a, **kw):
        if func is _build._ordered_sum_kernel:
            calls.append(self.columns)
        return real(self, func, *a, **kw)

    monkeypatch.setattr(DataFrame, "mapInArrow", spy)
    return calls


@pytest.mark.parametrize("tail", ["driver", "distributed"])
def test_average_idf_bitwise_equals_oracle(
    spark, tmp_path, monkeypatch, ordered_sums, tail
):
    if tail == "distributed":
        monkeypatch.setattr(_build, "_DRIVER_STATS_MAX_VOCAB", 50)
    texts = _texts(3, 300)
    idx = BM25IndexBuilder(spark, CFG).build(
        _webtext(spark, texts), str(tmp_path / "idx"), input_desc="t"
    )
    oracle = BM25Oracle.from_texts(texts, stopwords=CFG.stopwords)
    assert idx.meta["vocab_size"] == len(oracle.idf) > 50
    assert idx.meta["average_idf"] == oracle.average_idf
    assert bool(ordered_sums) == (tail == "distributed")
    rows = _stored_stats(spark, idx)
    assert any(oracle.idf[t] == oracle.epsilon * oracle.average_idf for t, *_ in rows)
    assert {t: (d, i) for t, d, i, _, _ in rows} == {
        t: (oracle.df[t], oracle.idf[t]) for t in oracle.idf
    }
    # the stored key orders terms exactly as the oracle inserted them, and
    # that order is not the sorted-term one
    by_key = [t for t, _, _, d, p in sorted(rows, key=lambda r: (r[3], r[4]))]
    assert by_key == list(oracle.df)
    assert by_key != sorted(by_key)


def test_serve_seed1_tie_ranks_as_reference(spark, tmp_path):
    """perfbench serve, seed 1, batch query 120: the reference ties docs
    544 and 740 at 11.193091707626607 and ranks 544 first. A few ulps of
    average_idf (a sum in sorted-term order) flipped the pair."""
    import sys

    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    try:
        import gen
    finally:
        sys.path.pop(0)

    corpus = gen.Corpus(1, 12000, 1.0, 100)
    texts = corpus.docs(5000)
    corpus.queries(40)  # the warm-up queries precede the batch pool
    query = corpus.queries(4000)[120]
    assert query == "panzmvdwil yad tvnv ogsdhklqlt"

    cfg = EngineConfig(num_term_buckets=8)
    idx = BM25IndexBuilder(spark, cfg).build(
        _webtext(spark, texts), str(tmp_path / "serve"), input_desc="serve-1"
    )
    oracle = BM25Oracle.from_texts(texts)
    want = oracle.most_similar(tokenize_text(query, mode="query"), 10)
    hits = BM25QueryEngine(idx).search([query], topn=10).collect()
    got = [(r["doc_id"], r["score"]) for r in sorted(hits, key=lambda r: r["rank"])]
    ids = [d for d, _ in got]
    assert ids.index(544) < ids.index(740)
    assert dict(got)[544] == dict(got)[740] == 11.193091707626607
    assert got == want
    assert idx.meta["average_idf"] == oracle.average_idf


@pytest.mark.parametrize("tail", ["under_cap", "past_cap"])
def test_merge_term_stats_equal_full_rebuild(
    spark, tmp_path, monkeypatch, ordered_sums, tail
):
    """A merge keeps old terms' keys and gives new terms batch keys offset
    by the old corpus size: term_stats (key included) and average_idf are
    those of a full rebuild, and the oracle's."""
    if tail == "past_cap":
        monkeypatch.setattr(_build, "_DRIVER_STATS_MAX_VOCAB", 50)
    texts = _texts(5, 260, vocab=900)
    base, new = texts[:160], texts[160:]
    assert len(set(texts)) == len(texts)  # no cross-batch dedup here
    builder = BM25IndexBuilder(spark, CFG)
    d = str(tmp_path / "inc")
    builder.build(_webtext(spark, base), d, input_desc="base")
    merged = builder.merge_new_docs(_webtext(spark, new, ts0=1000), d)
    ref = builder.build(
        _webtext(spark, texts), str(tmp_path / "full"), input_desc="full"
    )
    oracle = BM25Oracle.from_texts(texts, stopwords=CFG.stopwords)
    assert merged.meta["vocab_size"] == ref.meta["vocab_size"] > 50
    assert merged.meta["average_idf"] == ref.meta["average_idf"]
    assert merged.meta["average_idf"] == oracle.average_idf
    assert bool(ordered_sums) == (tail == "past_cap")
    assert merged.meta["total_tokens"] == ref.meta["total_tokens"]
    assert merged.meta["n_postings"] == ref.meta["n_postings"]
    rows = _stored_stats(spark, merged)
    assert rows == _stored_stats(spark, ref)
    assert any(oracle.idf[t] == oracle.epsilon * oracle.average_idf for t, *_ in rows)


def test_merge_into_index_without_first_occurrence_key_raises(spark, tmp_path):
    """An index written before term_stats carried the key (format v3):
    its varint payloads are not this engine's layout, so opening it for a
    search or a merge refuses with a rebuild error, leaving the index as it
    was."""
    texts = _texts(7, 80)
    d = str(tmp_path / "v3")
    builder = BM25IndexBuilder(spark, CFG)
    idx = builder.build(_webtext(spark, texts), d, input_desc="v3")

    # rewrite the index in the v3 layout: no key columns, no format_version
    stats_dir = os.path.join(d, "term_stats")
    old = spark.read.parquet(stats_dir).select("term", "df", "idf")
    old.coalesce(1).write.mode("overwrite").parquet(stats_dir + ".v3")
    os.rename(stats_dir, stats_dir + ".v4")
    os.rename(stats_dir + ".v3", stats_dir)
    meta_path = os.path.join(d, "meta.json")
    with open(meta_path, "r", encoding="utf-8") as f:
        meta = json.load(f)
    meta.pop("format_version", None)
    with open(meta_path, "w", encoding="utf-8") as f:
        json.dump(meta, f)

    with pytest.raises(ValueError, match="rebuild"):
        BM25Index(spark, d)
    with pytest.raises(ValueError, match="rebuild"):
        builder.merge_new_docs(_webtext(spark, _texts(8, 20), ts0=500), d)
    with open(meta_path, "r", encoding="utf-8") as f:
        assert json.load(f) == meta
    assert not os.path.exists(os.path.join(d, "_staging"))


def test_ordered_sum_is_the_sequential_loop():
    """_ordered_sum (a running np.cumsum, carried across batches as the
    distributed tail does) equals a left-to-right Python ``+=`` bit for
    bit; np.sum, pairwise, does not."""
    rng = np.random.default_rng(11)
    xs = rng.uniform(-3.0, 12.0, 50_000)
    loop = 0.0
    for x in xs.tolist():
        loop += x
    carried = 0.0
    for i in range(0, len(xs), 7_000):
        carried = _build._ordered_sum(carried, xs[i : i + 7_000])
    assert _build._ordered_sum(0.0, xs) == carried == loop
    assert float(np.sum(xs)) != loop
