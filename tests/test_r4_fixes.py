"""Round-4 fixes: LSH candidate-stage split, BM25Plus fan-out parity,
minhash production hash mode."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from similarities_spark.functions import ann


def _vecs(spark, n=80, dim=16, seed=3):
    rng = np.random.RandomState(seed)
    base = rng.randn(n, dim)
    rows = [(i, base[i].astype(float).tolist()) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_lsh_candidates_is_exact_prefix_of_topk(spark):
    """Rescoring exactly the lsh_candidates set must reproduce
    lsh_cosine_topk — the split introduced for the oracle cannot change
    the operator's semantics."""
    v = _vecs(spark)
    q = v.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    kw = dict(n_planes=5, n_tables=4, dim=16, seed=11)
    topk = ann.lsh_cosine_topk(v, q, k=5, **kw)
    cand = ann.lsh_candidates(v, q, **kw)
    # manual rescore of the candidate set
    joined = (
        cand.select("qid", "vec_id")
        .distinct()
        .join(v, "vec_id")
        .join(
            q.withColumnRenamed("qvec", "qv"), "qid"
        )
        .select(
            "qid",
            "vec_id",
            ann.cosine(F.col("embedding"), F.col("qv")).alias("cosine"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    manual = (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("qid", "rank", "vec_id", F.round("cosine", 6).alias("cosine"))
    )
    assert sorted(map(tuple, topk.collect())) == sorted(
        map(tuple, manual.collect())
    )


def test_lsh_candidates_deterministic_and_covers_self(spark):
    v = _vecs(spark, n=40)
    q = v.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    a = sorted(map(tuple, ann.lsh_candidates(v, q, dim=16).collect()))
    b = sorted(map(tuple, ann.lsh_candidates(v, q, dim=16).collect()))
    assert a == b and len(a) > 0
    # a query's own vector shares its bucket in every table
    hits = {(r[0], r[1]) for r in a}
    assert (0, 0) in hits and (1, 1) in hits


# ---------- BM25Plus fan-out via the join query path ----------


def test_bm25plus_search_join_df_fanout_parity(spark, tmp_path):
    """The fully-distributed join path must also decompose BM25Plus over
    doc ranges exactly (token-side df join)."""
    import dataclasses

    from similarities_spark.config import EngineConfig
    from similarities_spark.query.engine import BM25QueryEngine
    from similarities_spark.sources.synth import synth_webtext_pandas
    from tests.test_r3_fixes import _build

    df = spark.createDataFrame(synth_webtext_pandas(n_docs=100, seed=21))
    idx = _build(
        spark, df, tmp_path / "i", EngineConfig(num_term_buckets=4)
    )
    qdf = spark.createDataFrame(
        [(0, "data web w0003"), (1, "zzz unknown"), (2, "the of and")],
        "query_id long, text string",
    )
    key = lambda rows: sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in rows
    )
    eng = BM25QueryEngine(
        idx, cfg=dataclasses.replace(idx.config(), variant="bm25plus")
    )
    base = key(eng.search_df(qdf, topn=7).collect())
    joined = key(eng.search_join_df(qdf, topn=7).collect())
    assert joined == base
    eng_f = BM25QueryEngine(
        idx,
        cfg=dataclasses.replace(
            idx.config(), variant="bm25plus", fan_out_threshold=20
        ),
    )
    fanned = key(eng_f.search_join_df(qdf, topn=7).collect())
    assert eng_f.last_fan_out and eng_f.last_fan_out > 1
    assert fanned == base


# ---------- minhash production hash mode ----------


def test_minhash_xxhash64_pair_set_parity(spark):
    """hash_fn='xxhash64' (production) must find the same near-dup pair
    set as the oracle-matched md5 mode at matched thresholds, on a corpus
    with clear dup structure (near-dups at jaccard ~0.9, unrelated docs at
    ~0) — the estimator's statistics don't depend on the hash family."""
    from similarities_spark.functions import dedup

    rng = np.random.RandomState(17)
    vocab = [f"tok{i}" for i in range(400)]
    docs, did = [], 0
    for c in range(8):  # 8 clusters of 3 near-identical 150-token docs
        base = list(rng.choice(vocab, size=150, replace=True))
        for v in range(3):
            words = list(base)
            if v:  # one-token perturbation: shingle jaccard stays ~0.96
                words[rng.randint(len(words))] = vocab[rng.randint(len(vocab))]
            docs.append((did, " ".join(words)))
            did += 1
    for _ in range(20):  # unrelated singletons
        docs.append((did, " ".join(rng.choice(vocab, size=150, replace=True))))
        did += 1
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def pairs(hash_fn):
        return {
            (r["id_a"], r["id_b"])
            for r in dedup.minhash_lsh_pairs(
                df, num_hashes=16, bands=4, hash_fn=hash_fn
            )
            .filter(F.col("est_jaccard") >= 0.5)
            .collect()
        }

    p_md5, p_xxh = pairs("md5"), pairs("xxhash64")
    assert p_md5 == p_xxh
    # and the set is the true cluster structure: pairs within clusters only
    assert all(a // 3 == b // 3 and a < 24 and b < 24 for a, b in p_md5)
    assert len(p_md5) >= 8  # every cluster contributes at least one pair


def test_minhash_xxhash64_rejects_unknown_fn(spark):
    from similarities_spark.functions import dedup

    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="hash_fn"):
        dedup.minhash_wide(df, hash_fn="sha1")


# ---------- map-side per-doc TF (_doc_tf_entries) ----------


def test_doc_tf_entries_semantics(spark):
    """Run-length TF over the sorted token array: duplicates counted,
    empty docs emit nothing, doc_len stays the TOTAL token count."""
    from similarities_spark.index.build import _doc_tf_entries

    df = spark.createDataFrame(
        [
            (0, ["b", "a", "b", "c", "b", "a"]),
            (1, []),
            (2, ["x"]),
            (3, ["z", "z", "z"]),
        ],
        "doc_id long, toks array<string>",
    )
    rows = sorted(
        (r["doc_id"], r["term"], r["tf"], r["doc_len"])
        for r in _doc_tf_entries(df).collect()
    )
    assert rows == [
        (0, "a", 2, 6),
        (0, "b", 3, 6),
        (0, "c", 1, 6),
        (2, "x", 1, 1),
        (3, "z", 3, 3),
    ]


def test_doc_tf_entries_plan_sorts_once(spark):
    """The staged projections must survive CollapseProject: inlining `_s`
    would re-evaluate array_sort per element inside the lambdas
    (quadratic per doc)."""
    from similarities_spark.index.build import _doc_tf_entries

    df = spark.createDataFrame([(0, ["a", "b"])], "doc_id long, toks array<string>")
    plan = (
        _doc_tf_entries(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("array_sort") == 1


def test_fused_tf_incremental_merge_parity(spark, tmp_path):
    """merge_new_docs must equal a full rebuild of the concatenated corpus
    at the query surface."""
    from similarities_spark.config import EngineConfig
    from similarities_spark.index.build import BM25IndexBuilder
    from similarities_spark.query.engine import BM25QueryEngine
    from similarities_spark.sources.synth import synth_webtext_pandas

    # one corpus split on the (warc_ts, url) ingestion order so the
    # incremental append assigns the same dense ids as a full rebuild
    pdf = (
        synth_webtext_pandas(n_docs=120, seed=7)
        .sort_values(["warc_ts", "url"])
        .reset_index(drop=True)
    )
    base, extra = pdf.iloc[:80], pdf.iloc[80:]
    cfg = EngineConfig(num_term_buckets=4)
    b = BM25IndexBuilder(spark, cfg)
    b.build(
        spark.createDataFrame(base), str(tmp_path / "inc"), input_desc="t"
    )
    idx = b.merge_new_docs(
        spark.createDataFrame(extra), str(tmp_path / "inc")
    )

    import pandas as pd

    # mirror the merge's cross-batch text dedup so both corpora agree
    extra_kept = extra[~extra["text"].isin(set(base["text"]))]
    full_pdf = pd.concat([base, extra_kept], ignore_index=True)
    assert len(full_pdf) >= 115  # split actually exercises a real merge
    idx_full = b.build(
        spark.createDataFrame(full_pdf), str(tmp_path / "full"), input_desc="t"
    )

    qdf = spark.createDataFrame(
        [(0, "data web w0003"), (1, "the of and")], "query_id long, text string"
    )
    key = lambda rows: sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in rows
    )
    got = key(BM25QueryEngine(idx).search_df(qdf, topn=8).collect())
    want = key(BM25QueryEngine(idx_full).search_df(qdf, topn=8).collect())
    assert got == want
