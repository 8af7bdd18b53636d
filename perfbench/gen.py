"""Seeded inputs for the benchmark: Zipf corpora, stopword sets, queries.

Everything here depends only on the seed and the sizes passed in, never on
the engine package, so a change to the engine cannot change the inputs it is
measured on. Words are lowercase ASCII letter runs: the engine's tokenizer
keeps each one as a single token, so the realized vocabulary is exactly the
set of distinct words the generator emitted.
"""

from __future__ import annotations

import datetime as _dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
_EPOCH = _dt.datetime(2024, 1, 1)


def words(rng: np.random.Generator, n: int, exclude=frozenset()) -> list:
    """``n`` distinct random lowercase words, none in ``exclude``, in
    generation order. Word length grows with position, 3 letters for the
    first and about 2 more per tenfold rank like natural text, so the text
    bytes of a Zipf corpus hardly depend on the seed."""
    out, seen = [], set(exclude)
    while len(out) < n:
        ln = 3 + int(2 * np.log10(len(out) + 1))
        w = "".join(_LETTERS[rng.integers(0, 26, size=ln)])
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


class Corpus:
    """A Zipf vocabulary and a sampler of documents and queries over it."""

    def __init__(self, seed: int, vocab_size: int, zipf_s: float, mean_len: int):
        self.rng = np.random.default_rng(seed)
        self.vocab = np.array(words(self.rng, vocab_size), dtype=object)
        self.probs = zipf_probs(vocab_size, zipf_s)
        self.mean_len = mean_len
        self.texts: list = []

    def docs(self, n: int, stop_vocab=None, stop_rate: float = 0.0) -> list:
        """``n`` new texts; with ``stop_vocab``, each token is replaced by a
        uniformly drawn entry of it with probability ``stop_rate``."""
        rng = self.rng
        lens = np.maximum(1, rng.poisson(self.mean_len, size=n))
        toks = self.vocab[rng.choice(self.vocab.size, size=int(lens.sum()), p=self.probs)]
        if stop_vocab is not None and stop_rate > 0:
            hit = rng.random(toks.size) < stop_rate
            sv = np.array(sorted(stop_vocab), dtype=object)
            toks[hit] = sv[rng.integers(0, sv.size, size=int(hit.sum()))]
        bounds = np.concatenate([[0], np.cumsum(lens)])
        out = [" ".join(toks[bounds[i] : bounds[i + 1]]) for i in range(n)]
        self.texts.extend(out)
        return out

    def queries(self, n: int, oov_share: float = 0.03) -> list:
        """``n`` queries of 2..5 terms drawn from the corpus distribution.
        A share ``oov_share`` of them are made only of out-of-vocabulary
        words (they match nothing, so the engine pads them with zero-score
        docs); as many again carry one out-of-vocabulary word among
        in-vocabulary ones."""
        rng = self.rng
        out = []
        for _ in range(n):
            k = int(rng.integers(2, 6))
            u = rng.random()
            if u < oov_share:
                out.append(" ".join(f"zz{int(rng.integers(1 << 30))}q" for _ in range(k)))
                continue
            terms = list(self.vocab[rng.choice(self.vocab.size, size=k, p=self.probs)])
            if u < 2 * oov_share:
                terms[-1] = f"zz{int(rng.integers(1 << 30))}q"
            out.append(" ".join(terms))
        return out


def stopword_set(seed: int, n: int, corpus_vocab) -> frozenset:
    """``n`` stopwords: the corpus's ``n // 40`` most frequent terms (so the
    filter drops real postings, about 30% of tokens at Zipf s = 0.9, as
    function words do in natural text) and fresh words the corpus can be
    made to contain through ``Corpus.docs(stop_vocab=...)``."""
    rng = np.random.default_rng(seed ^ 0x5F0F)
    head = list(corpus_vocab[: n // 40])
    fresh = words(rng, n - len(head), exclude=frozenset(corpus_vocab))
    return frozenset(head + fresh)


def write_webtext(path: str, texts, first_id: int = 0) -> int:
    """Write ``texts`` as a webtext parquet table (url, warc_ts, text) whose
    (warc_ts, url) order is list order, so the engine's dense doc ids equal
    ``first_id + position``. Returns the UTF-8 text bytes written."""
    n = len(texts)
    ids = np.arange(first_id, first_id + n)
    table = pa.table(
        {
            "url": pa.array([f"bench://doc/{i:010d}" for i in ids]),
            "warc_ts": pa.array(
                [_EPOCH + _dt.timedelta(seconds=int(i)) for i in ids],
                type=pa.timestamp("us"),
            ),
            "text": pa.array(texts),
        }
    )
    pq.write_table(table, path)
    return sum(len(t.encode("utf-8")) for t in texts)


def profile(texts, stopwords=frozenset()) -> dict:
    """Realized size of a corpus after stopword filtering: docs, tokens,
    distinct terms, text bytes and the share of tokens held by the 1% most
    frequent terms."""
    from collections import Counter

    c = Counter()
    for t in texts:
        c.update(w for w in t.split() if w not in stopwords)
    counts = np.array(sorted(c.values(), reverse=True), dtype=np.int64)
    head = max(1, counts.size // 100)
    total = int(counts.sum())
    return {
        "docs": len(texts),
        "tokens": total,
        "vocab": int(counts.size),
        "text_bytes": sum(len(t.encode("utf-8")) for t in texts),
        "head1pct_token_share": round(float(counts[:head].sum()) / max(1, total), 4),
    }
