"""WAND/MaxScore kernel vs brute-force oracle on random corpora (SURVEY §5.3).

Builds posting blocks driver-side (same codec the Spark builder uses) and
checks that the pruned scorer returns exactly the oracle's top-k — doc ids
AND bit-identical float64 scores — across seeds, block sizes, and k.
"""

from collections import Counter

import numpy as np
import pandas as pd
import pytest

from similarities_spark.index import codec
from similarities_spark.oracle import BM25Oracle
from similarities_spark.query.scorer import score_query, top_k


def build_blocks_pdf(corpus_tokens, oracle: BM25Oracle, block_size=8, num_salts=3,
                     salt_df_threshold=10**9):
    """Driver-side replica of the builder's (term,salt) block layout."""
    n_docs = len(corpus_tokens)
    per_salt = max(1, (n_docs + num_salts - 1) // num_salts)
    postings = {}
    for doc_id, toks in enumerate(corpus_tokens):
        for term, tf in Counter(toks).items():
            postings.setdefault(term, []).append((doc_id, tf, len(toks)))
    rows = []
    for term, plist in postings.items():
        plist.sort()
        heavy = oracle.df[term] >= salt_df_threshold
        by_salt = {}
        for doc_id, tf, dl in plist:
            salt = (doc_id // per_salt) if heavy else 0
            by_salt.setdefault(salt, []).append((doc_id, tf, dl))
        idf = oracle.idf[term]
        for salt, seg in sorted(by_salt.items()):
            for bi in range(0, len(seg), block_size):
                blk = seg[bi : bi + block_size]
                ids = np.array([x[0] for x in blk], dtype=np.int64)
                tfs = np.array([x[1] for x in blk], dtype=np.int64)
                dls = np.array([x[2] for x in blk], dtype=np.int64)
                rows.append(
                    dict(
                        term=term,
                        salt=salt,
                        df=oracle.df[term],
                        block_id=bi // block_size,
                        min_doc=int(ids[0]),
                        max_doc=int(ids[-1]),
                        n_postings=len(blk),
                        idf=idf,
                        tf_max=int(tfs.max()),
                        tf_min=int(tfs.min()),
                        dl_max=int(dls.max()),
                        dl_min=int(dls.min()),
                        payload=codec.encode_block(ids, tfs, dls),
                    )
                )
    return pd.DataFrame(rows)


def assert_top_k(got, tokens, qblocks, k, oracle, n_docs, **kw):
    """scorer.top_k pads and ranks like the dense reference ``got``: over
    the whole corpus, and merged over doc ranges as the engine's fan-out
    groups are."""
    args = (tokens, qblocks, k, oracle.avgdl, oracle.k1, oracle.b)
    ids, scores = top_k(*args, n_docs=n_docs, **kw)
    assert list(zip(ids, scores)) == got, f"query={tokens}"
    for per in (7, 30):
        hits = [
            (d, sc)
            for lo in range(0, n_docs, per)
            for d, sc in zip(*top_k(*args, n_docs=n_docs,
                                    doc_range=(lo, lo + per), **kw))
        ]
        hits.sort(key=lambda x: (-x[1], x[0]))
        assert hits[:k] == got, f"query={tokens} per={per}"


def random_corpus(rng, n_docs, vocab, mean_len=12):
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = (1 / ranks) / (1 / ranks).sum()
    return [
        list(rng.choice(vocab, size=max(1, rng.poisson(mean_len)), p=p))
        for _ in range(n_docs)
    ]


@pytest.mark.parametrize("seed", [0, 1, 2, 3, 4])
@pytest.mark.parametrize("k", [1, 5, 20])
def test_pruned_scorer_matches_oracle(seed, k):
    rng = np.random.RandomState(seed)
    vocab = np.array([f"t{i}" for i in range(60)], dtype=object)
    corpus = random_corpus(rng, n_docs=120, vocab=vocab)
    oracle = BM25Oracle(corpus)
    blocks = build_blocks_pdf(corpus, oracle, block_size=8, num_salts=4,
                              salt_df_threshold=30)
    for qi in range(8):
        qlen = 1 + rng.randint(6)
        tokens = list(rng.choice(vocab, size=qlen))
        if qi % 3 == 0:
            tokens.append(tokens[0])  # duplicate token per-occurrence scoring
        if qi % 4 == 0:
            tokens.append("never-indexed-term")
        qblocks = blocks[blocks["term"].isin(set(tokens))]
        expect = oracle.most_similar(tokens, topn=k)
        ids, scores, n_matched, needs_pad, _pad = score_query(
            tokens, qblocks, k, oracle.avgdl, oracle.k1, oracle.b, prune=True
        )
        ids_np, scores_np, _, _, _ = score_query(
            tokens, qblocks, k, oracle.avgdl, oracle.k1, oracle.b, prune=False
        )
        # prune vs no-prune identical
        assert list(ids) == list(ids_np)
        assert list(scores) == list(scores_np)
        if needs_pad:
            # scorer returned all matches; merge zero docs like the engine
            matched = dict(zip(ids, scores))
            full = [(d, matched.get(d, 0.0)) for d in range(len(corpus))]
            full.sort(key=lambda x: (-x[1], x[0]))
            got = full[:k]
        else:
            got = list(zip(ids, scores))
        assert [d for d, _ in got] == [d for d, _ in expect], f"query={tokens}"
        for (gd, gs), (ed, es) in zip(got, expect):
            assert gs == es, f"score mismatch doc {gd}: {gs!r} != {es!r}"
        assert_top_k(got, tokens, qblocks, k, oracle, len(corpus))


def test_scorer_zero_match_query():
    corpus = [["a", "b"], ["c"]]
    oracle = BM25Oracle(corpus)
    blocks = build_blocks_pdf(corpus, oracle)
    ids, scores, n, pad, _ps = score_query(
        ["zzz"], blocks[blocks["term"] == "zzz"], 5, oracle.avgdl, 1.5, 0.75
    )
    assert n == 0 and pad and ids.size == 0


def test_top_k_pads_past_matched_docs_below_the_pad_score():
    """Matched docs scoring below the pad score (an epsilon-floored negative
    idf) can hold the lowest doc ids: padding must reach past them."""
    corpus = [["a", "x"]] * 3 + [["x", "y"]] * 2
    oracle = BM25Oracle(corpus)
    blocks = build_blocks_pdf(corpus, oracle)
    expect = [(d, s) for d, s in oracle.most_similar(["a"], topn=3)]
    assert [d for d, _ in expect][:2] == [3, 4]
    assert_top_k(
        expect, ["a"], blocks[blocks["term"] == "a"], 3, oracle, len(corpus)
    )


@pytest.mark.parametrize("variant", ["bm25l", "bm25plus"])
@pytest.mark.parametrize("seed", [0, 1, 2])
def test_variant_scorer_matches_oracle(variant, seed):
    """BM25L / BM25Plus decode-time variants: exact score parity incl. the
    BM25Plus per-token delta baseline for unmatched docs."""
    rng = np.random.RandomState(seed)
    vocab = np.array([f"t{i}" for i in range(40)], dtype=object)
    corpus = random_corpus(rng, n_docs=80, vocab=vocab)
    okapi = BM25Oracle(corpus)  # block metadata is okapi-shaped, like builds
    oracle = BM25Oracle(corpus, variant=variant)
    blocks = build_blocks_pdf(corpus, okapi, block_size=8)
    k = 7
    for qi in range(6):
        tokens = list(rng.choice(vocab, size=1 + rng.randint(4)))
        if qi % 2 == 0:
            tokens.append(tokens[0])
        if qi % 3 == 0:
            tokens.append("never-indexed")
        qblocks = blocks[blocks["term"].isin(set(tokens))]
        expect = oracle.most_similar(tokens, topn=k)
        ids, scores, n_matched, needs_pad, pad_score = score_query(
            tokens, qblocks, k, oracle.avgdl, oracle.k1, oracle.b,
            variant=variant, delta=oracle.delta, n_docs=len(corpus),
        )
        if needs_pad:
            matched = dict(zip(ids, scores))
            full = [(d, matched.get(d, pad_score)) for d in range(len(corpus))]
            full.sort(key=lambda x: (-x[1], x[0]))
            got = full[:k]
        else:
            got = list(zip(ids, scores))
        assert [d for d, _ in got] == [d for d, _ in expect], f"{variant} q={tokens}"
        for (gd, gs), (ed, es) in zip(got, expect):
            assert gs == es, f"{variant} doc {gd}: {gs!r} != {es!r}"
        assert_top_k(
            got, tokens, qblocks, k, oracle, len(corpus), variant=variant,
            delta=oracle.delta,
            token_dfs={t: okapi.df[t] for t in set(tokens) if t in okapi.df},
        )
