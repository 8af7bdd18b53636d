"""Round-3 hardening: star connected-components parity, shingle-cap bounds,
resume lineage covering full config + input content, cache-free search,
streaming null-text passthrough."""

import random

import pytest
from pyspark.sql import functions as F

from similarities_spark.config import EngineConfig
from similarities_spark.functions import dedup, graph
from similarities_spark.index.build import BM25IndexBuilder
from similarities_spark.query.engine import BM25QueryEngine
from similarities_spark.sources.synth import synth_webtext_pandas


# ---------- connected components: large-star/small-star ----------


def _labels(df):
    return sorted((int(r["id"]), int(r["comp"])) for r in df.collect())


def test_star_equals_propagation_on_random_graphs(spark):
    rng = random.Random(31)
    for trial in range(4):
        n = 40
        edges = sorted(
            {
                (rng.randrange(n), rng.randrange(n))
                for _ in range(rng.randrange(10, 60))
            }
        )
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        prop = graph.connected_components(pairs, algorithm="propagation")
        star = graph.connected_components(pairs, algorithm="star")
        assert _labels(prop) == _labels(star), f"trial {trial}"


def test_star_converges_where_propagation_exhausts(spark):
    # a 30-node path has diameter 29: propagation with max_iter=5 warns and
    # splits; star (O(log d) rounds) converges well inside 5 rounds
    chain = [(i, i + 1) for i in range(29)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    with pytest.warns(RuntimeWarning, match="max_iter"):
        prop = graph.connected_components(pairs, max_iter=5, algorithm="propagation")
    assert len({c for _, c in _labels(prop)}) > 1  # split, as warned
    star = graph.connected_components(pairs, max_iter=5, algorithm="star")
    got = _labels(star)
    assert got == [(i, 0) for i in range(30)]


def test_propagation_max_iter_zero_no_nameerror(spark):
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.warns(RuntimeWarning, match="max_iter"):
        out = graph.connected_components(
            pairs, max_iter=0, algorithm="propagation"
        )
    # unconverged-but-valid initial labels, not a NameError
    assert {int(r["id"]) for r in out.collect()} == {1, 2}


def test_star_self_loop_singleton_parity(spark):
    # a node whose only pair is a self-loop must appear as a singleton
    # component in BOTH modes (star used to drop it via _canon)
    pairs = spark.createDataFrame(
        [(1, 2), (7, 7), (2, 2)], "id_a long, id_b long"
    )
    for algo in ("propagation", "star"):
        got = sorted(
            (int(r["id"]), int(r["comp"]))
            for r in graph.connected_components(pairs, algorithm=algo).collect()
        )
        assert got == [(1, 1), (2, 1), (7, 7)], algo


def test_star_no_spurious_warning_at_exact_convergence_round(spark):
    # a graph whose LAST PRODUCTIVE round lands exactly on max_iter used to
    # warn spuriously (stability is only observable one round later); the
    # post-loop confirming round must suppress that warning
    import warnings as w

    from pyspark.sql import functions as F

    chain = [(i, i + 1) for i in range(29)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    # count productive rounds P by running the star kernels directly
    edges = graph._canon(
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    ).localCheckpoint(eager=True)
    productive = 0
    for _ in range(30):
        after = graph._small_star(graph._large_star(edges)).localCheckpoint(
            eager=True
        )
        if (
            after.exceptAll(edges).limit(1).count()
            + edges.exceptAll(after).limit(1).count()
            == 0
        ):
            break
        edges = after
        productive += 1
    assert 0 < productive < 30
    with w.catch_warnings(record=True) as rec:
        w.simplefilter("always")
        out = graph.connected_components(
            pairs, max_iter=productive, algorithm="star"
        )
        labels = sorted((int(r["id"]), int(r["comp"])) for r in out.collect())
        assert labels == [(i, 0) for i in range(30)]
        assert not any("max_iter" in str(x.message) for x in rec)


# ---------- ngram jaccard: head-shingle cap ----------


def test_ngram_jaccard_caps_boilerplate_shingle(spark):
    # every doc shares one boilerplate sentence (one shared shingle set);
    # each doc also has a unique tail so docs are not exact dups
    n = 12
    boiler = "all rights reserved site"
    rows = [(i, f"{boiler} unique{i} tail{i} content{i}") for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = dedup.ngram_jaccard_pairs(
        df, n=3, threshold=0.01, max_shingle_docs=None
    )
    assert uncapped.count() == n * (n - 1) // 2  # the quadratic blow-up
    capped = dedup.ngram_jaccard_pairs(
        df, n=3, threshold=0.01, max_shingle_docs=5
    )
    # boilerplate shingles (shared by all 12 > cap 5) are dropped from
    # candidate generation; unique tails share nothing -> no pairs at all
    assert capped.count() == 0


def test_ngram_jaccard_cap_keeps_uncapped_pairs_exact(spark):
    rows = [
        (0, "alpha beta gamma delta epsilon"),
        (1, "alpha beta gamma delta zeta"),
        (2, "totally different words here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            df, n=3, threshold=0.01, max_shingle_docs=None
        ).collect()
    }
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            df, n=3, threshold=0.01, max_shingle_docs=1000
        ).collect()
    }
    assert exact == capped and (0, 1) in exact


# ---------- resume lineage: config + content fingerprint ----------


def _build(spark, df, path, cfg, **kw):
    return BM25IndexBuilder(spark, cfg).build(df, str(path), input_desc="t", **kw)


def test_resume_invalidates_on_config_change(spark, tmp_path):
    df = spark.createDataFrame(synth_webtext_pandas(n_docs=60, seed=5))
    cfg_a = EngineConfig(stopwords=frozenset({"the"}), num_term_buckets=4)
    idx = _build(spark, df, tmp_path / "i", cfg_a)
    stats_a = {r["term"]: r["idf"] for r in idx.term_stats().collect()}
    assert "the" not in stats_a

    # resume=True with different stopwords MUST rebuild, not trust manifests
    cfg_b = EngineConfig(stopwords=frozenset(), num_term_buckets=4)
    idx_b = _build(spark, df, tmp_path / "i", cfg_b, resume=True)
    stats_b = {r["term"]: r["idf"] for r in idx_b.term_stats().collect()}
    assert "the" in stats_b


def test_resume_detects_same_count_content_change(spark, tmp_path):
    pdf = synth_webtext_pandas(n_docs=40, seed=7)
    cfg = EngineConfig(num_term_buckets=4)
    df1 = spark.createDataFrame(pdf)
    idx1 = _build(spark, df1, tmp_path / "i", cfg)
    n1 = idx1.meta["total_tokens"]

    # same row count, different content (urls shifted) at the same desc
    pdf2 = synth_webtext_pandas(n_docs=40, seed=8)
    df2 = spark.createDataFrame(pdf2)
    idx2 = _build(spark, df2, tmp_path / "i", cfg, resume=True)
    # a stale-resume would have kept the old docs/stats; the fingerprint
    # forces a recompute, so the index reflects the NEW corpus
    docs_urls = {r["url"] for r in idx2.docs().select("url").collect()}
    assert docs_urls == set(pdf2["url"])
    assert idx2.meta["total_tokens"] != n1 or docs_urls != set(pdf["url"])


def test_config_index_key_stability():
    # pinned: a change here invalidates every existing index's stage and
    # bucket manifests
    assert EngineConfig().index_key() == "f77769e61d5970f0"
    a = EngineConfig(stopwords=frozenset({"x", "y"}))
    b = EngineConfig(stopwords=frozenset({"y", "x"}))
    assert a.index_key() == b.index_key()  # set order must not matter
    c = EngineConfig(stopwords=frozenset({"x"}))
    assert a.index_key() != c.index_key()
    d = EngineConfig(block_size=64)
    assert d.index_key() != EngineConfig().index_key()
    # query-time-only knobs do NOT invalidate the on-disk index
    e = EngineConfig(variant="bm25l", fan_out_threshold=None)
    assert e.index_key() == EngineConfig().index_key()
    # k1/b shape a QUERY-TIME formula over stored raw tf/doc_len — a retune
    # must reuse the index, not rebuild it (ADVICE r3); epsilon is baked
    # into stored idf so it still invalidates
    f = EngineConfig(k1=2.0, b=0.5)
    assert f.index_key() == EngineConfig().index_key()
    g = EngineConfig(epsilon=0.5)
    assert g.index_key() != EngineConfig().index_key()


# ---------- query cache release ----------


def test_search_does_not_accumulate_cached_rdds(spark, tmp_path, spark_tail):
    """A search persists nothing: no surface or tail, padding branch
    included, adds a persistent RDD, so a long-lived engine issuing
    thousands of batches holds no block-manager entries."""
    df = spark.createDataFrame(synth_webtext_pandas(n_docs=80, seed=3))
    cfg = EngineConfig(num_term_buckets=4)
    idx = _build(spark, df, tmp_path / "i", cfg)
    engines = [BM25QueryEngine(idx), spark_tail(BM25QueryEngine(idx))]
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()

    for i in range(12):
        # second query has no indexed terms -> exercises the PADDING branch
        engines[i % 2].search(
            [f"data web w{i % 7:04d}", "zzzunknownterm qqq"], topn=5
        ).collect()
        assert jsc.getPersistentRDDs().size() == before, i
    assert [e.last_search["path"] for e in engines] == ["driver", "spark"]
    qdf = spark.createDataFrame(
        [(0, "data web w0003"), (1, "zzzunknownterm")],
        "query_id long, text string",
    )
    engines[0].search_df(qdf, topn=5, fan_out=2).collect()
    engines[0].search_join_df(qdf, topn=5).collect()
    assert jsc.getPersistentRDDs().size() == before


# ---------- lexicon similarity: golden fixture ----------


def test_lexicon_word_sim_golden(spark):
    """Hand-computed goldens for the max-over-senses word score (mirrors
    reference literal_similarity.py:657-690 Cilin combination semantics on a
    tiny in-repo fixture lexicon — the data itself is not redistributable)."""
    from similarities_spark.functions import lexicon

    lex = spark.createDataFrame(
        [
            ("bank", "AAAAA"),
            ("bank", "BBBBB"),  # two senses: the pair score is the MAX
            ("river", "BBBBC"),
            ("car", "AAAAA"),
            ("auto", "AAAAA"),
            ("plane", "AAABB"),
            ("red", "CCCCC"),
        ],
        "word string, sense_key string",
    )
    pairs = spark.createDataFrame(
        [("bank", "river"), ("car", "plane"), ("car", "auto"), ("red", "car")],
        "w1 string, w2 string",
    )
    got = {
        (r["w1"], r["w2"]): r["sim"]
        for r in lexicon.word_pair_sim(lex, pairs).collect()
    }
    # bank(BBBBB) vs river(BBBBC): prefixes 1..4 match, 5 not -> 4/5;
    # the AAAAA sense scores 0/5 — max wins
    assert got[("bank", "river")] == pytest.approx(0.8)
    # AAAAA vs AAABB: prefixes 1..3 match -> 3/5
    assert got[("car", "plane")] == pytest.approx(0.6)
    assert got[("car", "auto")] == pytest.approx(1.0)
    assert got[("red", "car")] == pytest.approx(0.0)


def test_lexicon_sentence_sim_golden(spark):
    """Directed-average combination golden (reference
    literal_similarity.py:692-720): s1='car red', s2='auto plane' ->
    a1 = avg(max(1.0, 0.6), max(0, 0)) = 0.5
    a2 = avg(max(1.0, 0), max(0.6, 0)) = 0.8
    sim = (0.5 + 0.8) / 2 = 0.65"""
    from similarities_spark.functions import lexicon

    lex = spark.createDataFrame(
        [
            ("car", "AAAAA"),
            ("auto", "AAAAA"),
            ("plane", "AAABB"),
            ("red", "CCCCC"),
        ],
        "word string, sense_key string",
    )
    sents = spark.createDataFrame(
        [(0, "car red", "auto plane")], "pair_id long, s1 string, s2 string"
    )
    got = lexicon.sentence_sim(lex, sents).collect()
    assert len(got) == 1
    assert got[0]["sim"] == pytest.approx(0.65)


# ---------- segment compaction ----------


def test_compact_merges_segments_and_preserves_results(spark, tmp_path):
    from similarities_spark.index.build import BM25IndexBuilder

    cfg = EngineConfig(num_term_buckets=4, block_size=16)
    builder = BM25IndexBuilder(spark, cfg)
    base = spark.createDataFrame(synth_webtext_pandas(n_docs=60, seed=41))
    inc1 = spark.createDataFrame(synth_webtext_pandas(n_docs=40, seed=42))
    inc2 = spark.createDataFrame(synth_webtext_pandas(n_docs=40, seed=43))
    idx_dir = str(tmp_path / "i")
    builder.build(base, idx_dir, input_desc="b")
    builder.merge_new_docs(inc1, idx_dir)
    idx = builder.merge_new_docs(inc2, idx_dir)

    queries = ["data web w0003", "the of and", "w0001 w0002"]
    eng = BM25QueryEngine(idx)
    key = lambda rows: sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in rows
    )
    before_hits = key(eng.search(queries, topn=8).collect())
    # incremental merges leave multiple partial-tail segments per term
    seg_counts = {
        r["term"]: r["n"]
        for r in idx.blocks()
        .groupBy("term")
        .agg(F.countDistinct("salt", "block_id").alias("n"))
        .collect()
    }
    before_blocks = idx.blocks().count()

    compacted = builder.compact(idx_dir)
    after_hits = key(BM25QueryEngine(compacted).search(queries, topn=8).collect())
    assert after_hits == before_hits  # bit-identical scores
    after_blocks = compacted.blocks().count()
    assert after_blocks < before_blocks  # partial blocks merged away
    # every term is now ONE sorted run per salt: block ids contiguous and
    # only the last block of a (term, salt) run may be partial
    rows = compacted.blocks().select(
        "term", "salt", "block_id", "n_postings"
    ).collect()
    runs = {}
    for r in rows:
        runs.setdefault((r["term"], r["salt"]), []).append(
            (r["block_id"], r["n_postings"])
        )
    for (term, salt), blks in runs.items():
        blks.sort()
        assert [b for b, _ in blks] == list(range(len(blks))), (term, salt)
        for _, n in blks[:-1]:
            assert n == 16, (term, salt)
    # stats/meta unchanged by construction
    assert compacted.n_docs == idx.n_docs
    assert compacted.meta["total_tokens"] == idx.meta["total_tokens"]


def test_merge_after_compact_equals_full_rebuild(spark, tmp_path):
    """Compaction rewrites salt ranges from the grown corpus; a subsequent
    incremental merge must still produce EXACTLY the scores of one bulk
    build over every doc (the invariant all ingest paths share)."""
    from similarities_spark.index.build import BM25IndexBuilder

    cfg = EngineConfig(num_term_buckets=4, block_size=16)
    builder = BM25IndexBuilder(spark, cfg)
    parts = [
        spark.createDataFrame(synth_webtext_pandas(n_docs=40, seed=s))
        for s in (51, 52, 53)
    ]
    idx_dir = str(tmp_path / "i")
    builder.build(parts[0], idx_dir, input_desc="b")
    builder.merge_new_docs(parts[1], idx_dir)
    builder.compact(idx_dir)
    idx = builder.merge_new_docs(parts[2], idx_dir)

    # bulk baseline over the SAME accumulated corpus (merge drops new docs
    # whose text already exists, so rebuild from the merged docs table).
    # doc ids may renumber — score multisets are id-assignment-agnostic.
    all_docs = idx.docs().select(
        "url",
        F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        "text",
        F.lit("en").alias("lang"),
    )
    full = builder.build(all_docs, str(tmp_path / "full"), input_desc="full")

    q = ["data web w0003", "the of and"]
    key = lambda rows: sorted(
        (r["query_id"], r["rank"], r["score"]) for r in rows
    )
    merged_hits = key(BM25QueryEngine(idx).search(q, topn=8).collect())
    full_hits = key(BM25QueryEngine(full).search(q, topn=8).collect())
    # doc ids may renumber between paths; ranks and exact scores must match
    assert merged_hits == full_hits


def test_compact_uses_index_config_not_builder_config(spark, tmp_path):
    """A builder holding a DIFFERENT num_term_buckets than the index was
    built with must not re-bucket on compact — the query engine prunes
    with meta's bucket count, so that would silently break pruning."""
    from similarities_spark.index.build import BM25IndexBuilder

    df = spark.createDataFrame(synth_webtext_pandas(n_docs=50, seed=45))
    idx_dir = str(tmp_path / "i")
    idx = BM25IndexBuilder(
        spark, EngineConfig(num_term_buckets=4)
    ).build(df, idx_dir, input_desc="b")
    hits_before = BM25QueryEngine(idx).search(["data web"], topn=5).collect()

    rogue = BM25IndexBuilder(spark, EngineConfig(num_term_buckets=13))
    compacted = rogue.compact(idx_dir)
    buckets = {
        int(r["bucket"])
        for r in compacted.blocks().select("bucket").distinct().collect()
    }
    assert buckets <= set(range(4))  # still the index's 4-bucket layout
    hits_after = BM25QueryEngine(compacted).search(["data web"], topn=5).collect()
    key = lambda rows: sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in rows
    )
    assert key(hits_after) == key(hits_before)


def test_compact_swap_rolls_forward_after_crash(spark, tmp_path, monkeypatch):
    """A compaction killed after its commit record (its new layout and
    next meta staged, nothing live renamed) is rolled forward by the next
    open: one segment per (term, salt), the new salt ranges and the
    compaction record, the same hits, and no staging left."""
    import functools
    import json as _json
    import os as _os

    from similarities_spark.index import build as _build
    from similarities_spark.index.build import BM25Index, BM25IndexBuilder

    cfg = EngineConfig(num_term_buckets=4, block_size=16, num_salts=4)
    builder = BM25IndexBuilder(spark, cfg)
    pdf = synth_webtext_pandas(n_docs=70, seed=44)
    idx_dir = str(tmp_path / "i")
    builder.build(spark.createDataFrame(pdf.iloc[:50]), idx_dir, input_desc="b")
    merged = builder.merge_new_docs(spark.createDataFrame(pdf.iloc[50:]), idx_dir)
    hits_before = BM25QueryEngine(merged).search(["data web"], topn=5).collect()
    heads = merged.blocks().filter(F.col("block_id") == 0)
    assert heads.count() > heads.select("term", "salt").distinct().count()

    crash = functools.partial(
        _build._commit_increment, _fail_after_commit_record=True
    )
    with monkeypatch.context() as m:
        m.setattr(_build, "_commit_increment", crash)
        with pytest.raises(RuntimeError, match="after commit record"):
            builder.compact(idx_dir)
    staging = _os.path.join(idx_dir, "_staging")
    (pending,) = _os.listdir(staging)
    assert _os.path.exists(_os.path.join(staging, pending, "COMMIT.json"))
    with open(_os.path.join(idx_dir, "meta.json"), "r", encoding="utf-8") as f:
        assert _json.load(f) == merged.meta  # nothing live changed yet

    reopened = BM25Index(spark, idx_dir)  # open must roll the compaction forward
    assert _os.listdir(staging) == []
    assert reopened.meta["increments"][-1]["compaction"] == pending
    assert reopened.meta["salt_per_range"] == cfg.salt_bounds(reopened.n_docs)
    heads = reopened.blocks().filter(F.col("block_id") == 0)
    assert heads.count() == heads.select("term", "salt").distinct().count()
    assert not [n for n in _os.listdir(idx_dir) if ".old-" in n]
    hits_after = BM25QueryEngine(reopened).search(["data web"], topn=5).collect()
    key = lambda rows: sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in rows
    )
    assert key(hits_after) == key(hits_before)


# ---------- LSH recall at realistic embedding dimensionality ----------


def test_lsh_recall_high_dim_anisotropic(spark):
    """r2 verdict: LSH recall at 16 synthetic dims may not predict recall
    at real-encoder dims. This gates recall@10 on 256-d ANISOTROPIC
    vectors — a shared mean direction plus a decaying spectrum, the shape
    real sentence-embedding clouds have (narrow cone, high baseline
    cosine) — against the exact scan."""
    import numpy as np

    rng = np.random.RandomState(77)
    n, dim = 1500, 256
    spectrum = 1.0 / np.sqrt(1.0 + np.arange(dim))  # decaying variances
    mean_dir = rng.normal(size=dim)
    mean_dir /= np.linalg.norm(mean_dir)
    z = rng.normal(size=(n, dim)) * spectrum
    vecs = z + 1.5 * mean_dir  # anisotropy: common component dominates
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)

    n_q = 5
    q_idx = [3, 211, 700, 1111, 1499]
    qvecs = vecs[q_idx] + 0.05 * rng.normal(size=(n_q, dim)) * spectrum
    qvecs /= np.linalg.norm(qvecs, axis=1, keepdims=True)

    k = 10
    exact = {}
    for qi in range(n_q):
        cos = vecs @ qvecs[qi]
        order = np.lexsort((np.arange(n), -np.round(cos, 6)))
        exact[qi] = set(order[:k].tolist())

    vdf = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    qdf = spark.createDataFrame(
        [(qi, qvecs[qi].tolist()) for qi in range(n_q)],
        "qid long, qvec array<double>",
    )
    from similarities_spark.functions import ann

    got = ann.lsh_cosine_topk(
        vdf, qdf, k=k, n_planes=6, n_tables=6, dim=dim
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(int(r["qid"]), set()).add(int(r["vec_id"]))
    recalls = [
        len(by_q.get(qi, set()) & exact[qi]) / k for qi in range(n_q)
    ]
    assert sum(recalls) / n_q >= 0.8, recalls


# ---------- pure-Python xxHash64 parity (partition-pruning correctness) ----------


def test_xxh64_matches_spark_xxhash64(spark):
    """The engine prunes index partitions with driver-computed
    pmod(xxh64(term), B); ANY divergence from the JVM hash silently reads
    the wrong bucket, so this fuzz gate is load-bearing. Covers every
    length class (empty, <4, <8, <32, 32, >32), ASCII and CJK."""
    import random
    import string as _s

    from similarities_spark.xxh64 import term_bucket, xxh64_signed

    rng = random.Random(5)
    cases = [
        "", "a", "dup", "the", "刘若英是演员", "花呗更改绑定银行卡" * 7,
        "x" * 31, "y" * 32, "z" * 33, "w" * 100,
    ]
    alphabet = _s.ascii_letters + "0123456789一二三四五六七八九十"
    cases += [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 80)))
        for _ in range(100)
    ]
    df = spark.createDataFrame([(c,) for c in set(cases)], "term string")
    rows = df.select(
        "term",
        F.xxhash64("term").alias("h"),
        F.pmod(F.xxhash64("term"), F.lit(16)).cast("int").alias("b"),
    ).collect()
    for r in rows:
        assert xxh64_signed(r["term"].encode()) == r["h"], r["term"]
        assert term_bucket(r["term"], 16) == r["b"], r["term"]


# ---------- fully-distributed join query path ----------


def test_search_join_df_matches_search_df(spark, tmp_path):
    """The no-driver-collect query path must return exactly search_df's
    hits — including padding semantics (unknown-term and all-negative-idf
    queries) and fan-out decomposition."""
    import dataclasses

    df = spark.createDataFrame(synth_webtext_pandas(n_docs=100, seed=21))
    idx = _build(
        spark, df, tmp_path / "i", EngineConfig(num_term_buckets=4)
    )
    queries = [
        "data web w0003",
        "zzz unknown terms only",  # zero-match -> full zero padding
        "the of and",  # stopword-free build: head terms
    ]
    qdf = spark.createDataFrame(
        [(i, q) for i, q in enumerate(queries)], "query_id long, text string"
    )
    key = lambda rows: sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in rows
    )
    eng = BM25QueryEngine(idx)
    base = key(eng.search_df(qdf, topn=7).collect())
    joined = key(eng.search_join_df(qdf, topn=7).collect())
    assert joined == base

    # with a tiny threshold the join path must fan out AND stay identical
    eng_f = BM25QueryEngine(
        idx, cfg=dataclasses.replace(idx.config(), fan_out_threshold=20)
    )
    fanned = key(eng_f.search_join_df(qdf, topn=7).collect())
    assert eng_f.last_fan_out and eng_f.last_fan_out > 1
    assert fanned == base


# ---------- streaming null-text passthrough ----------


def test_streaming_exact_dedup_passes_null_text_through(spark):
    from similarities_spark.streaming.incremental import streaming_exact_dedup

    import datetime

    ts = datetime.datetime(2026, 1, 1)
    rows = [
        ("u1", ts, None, "same", "en"),
        ("u2", ts, None, "same", "en"),
        ("u3", ts, None, None, "en"),
        ("u4", ts, None, None, "en"),
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    out = streaming_exact_dedup(df).collect()
    texts = [r["text"] for r in out]
    # duplicates collapse; BOTH null-text rows pass through untouched
    assert texts.count("same") == 1 and texts.count(None) == 2
