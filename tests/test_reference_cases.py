"""Reference query-set parity (FIXTURES.md §2, BASELINE.json north_star).

Runs the reference's own BM25 pytest corpora/queries
(reference tests/test_literalsim.py:109-121 test_bm25 and :224-257
test_bm25_hardcase, extracted verbatim into tests/fixtures/
reference_cases.json) through the distributed engine and asserts:

- the reference's structural expectations (4 hits incl. zero-score padding
  for topn=10 over 4 docs; one result list per query),
- full rank + score parity vs the vendored oracle under the SAME tokenizer
  (jieba when importable — the reference's segmenter — else the deterministic
  fallback; byte-identical tokens => identical BM25 scores either way),
- within-batch duplicate handling: the hardcase corpus contains a duplicate
  doc (rows 7/19) the reference KEEPS — a single add_corpus over an empty
  model checks membership against the static pre-batch corpus, so both
  copies are indexed and inflate N/df (literal_similarity.py:389-401).
"""

import datetime
import json
import os

import pandas as pd
import pytest

from similarities_spark.config import EngineConfig
from similarities_spark.index.build import BM25IndexBuilder
from similarities_spark.oracle import BM25Oracle
from similarities_spark.query.engine import BM25QueryEngine
from similarities_spark.tokenize import load_stopwords, tokenize_text

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "reference_cases.json")
# the reference's stopword list if present in the sandbox; parity holds for
# any stopword set as long as engine and oracle share it
REF_STOPWORDS = "/root/reference/similarities/data/stopwords.txt"


def _cfg():
    sw = load_stopwords(REF_STOPWORDS) or frozenset({"的", "是", "吗", "了"})
    return EngineConfig(
        stopwords=frozenset(sw), block_size=4, num_term_buckets=4, num_salts=2
    )


def _to_webtext(corpus):
    epoch = datetime.datetime(2023, 1, 1)
    return pd.DataFrame(
        {
            "url": [f"ref://doc/{i:04d}" for i in range(len(corpus))],
            "warc_ts": [epoch + datetime.timedelta(seconds=i) for i in range(len(corpus))],
            "html": [b"<html><body>" + t.encode("utf-8") + b"</body></html>" for t in corpus],
            "text": corpus,
            "lang": ["zh"] * len(corpus),
        }
    )


@pytest.fixture(scope="module")
def fixtures():
    with open(FIXTURE, encoding="utf-8") as f:
        return json.load(f)


@pytest.mark.parametrize("case", ["test_bm25", "test_bm25_hardcase"])
def test_reference_case_parity(
    spark, tmp_path_factory, fixtures, case, spark_tail
):
    cfg = _cfg()
    data = fixtures[case]
    corpus = data["corpus"]
    idx_dir = str(tmp_path_factory.mktemp(case))
    index = BM25IndexBuilder(spark, cfg).build(
        spark.createDataFrame(_to_webtext(corpus)), idx_dir, input_desc=case
    )
    assert index.n_docs == len(corpus)
    if case == "test_bm25_hardcase":
        # rows 7 and 19 are exact-duplicate texts and BOTH stay indexed
        assert len(corpus) == 20
        assert corpus[7] == corpus[19]

    oracle = BM25Oracle.from_texts(corpus, stopwords=cfg.stopwords)
    # both scoring tails: in-process (these tiny batches take it by
    # default) and the distributed one
    for engine in (BM25QueryEngine(index), spark_tail(BM25QueryEngine(index))):
        topn = data["topn"]
        hits = engine.search(list(data["queries"]), topn=topn).collect()
        by_q = {}
        for r in hits:
            by_q.setdefault(r["query_id"], []).append(r)

        # one result list per query (reference test_literalsim.py:119-121)
        assert len(by_q) == len(data["queries"])

        for qid, query in enumerate(data["queries"]):
            got = sorted(by_q[qid], key=lambda r: r["rank"])
            expect = oracle.most_similar(
                tokenize_text(query, mode="query"), topn=topn
            )
            if case == "test_bm25" and qid == 0:
                # zero-score padding: ALL 4 docs returned at topn=10
                # (reference test_literalsim.py:116-118)
                assert len(got) == 4 == data["expect_hits_q0"]
            assert [r["doc_id"] for r in got] == [d for d, _ in expect]
            for r, (_, es) in zip(got, expect):
                assert r["score"] == es
            # best hit scores strictly above the padding zeros
            assert got[0]["score"] > 0.0
