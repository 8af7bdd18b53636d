"""Round-5 fixes: auto fan-out does not invert at demo scale, resolved
postings mode in meta.json, mandatory LSH dim."""

import dataclasses

import pytest
from pyspark.sql import functions as F

from similarities_spark.config import EngineConfig
from similarities_spark.index.build import BM25IndexBuilder
from similarities_spark.query.engine import BM25QueryEngine
from similarities_spark.sources.synth import synth_webtext_pandas


def _build(spark, df, path, cfg, **kw):
    return BM25IndexBuilder(spark, cfg).build(df, str(path), input_desc="t", **kw)


# ---------- auto fan-out at demo scale ----------


def test_auto_fan_out_declines_at_demo_scale_no_inversion(spark, tmp_path):
    """At bench-demo scale (thousands of docs, far below the default
    fan_out_threshold) auto fan-out must NOT engage: auto then scores
    without sharding (here in-process on the driver) and returns the hits
    of fan_out=0, the unsharded distributed plan."""
    df = spark.createDataFrame(synth_webtext_pandas(n_docs=120, seed=4))
    cfg = EngineConfig(num_term_buckets=4)
    idx = _build(spark, df, tmp_path / "i", cfg)

    terms = [
        r["term"]
        for r in idx.term_stats().orderBy(F.desc("df")).limit(6).collect()
    ]
    qdf = spark.createDataFrame(
        [(0, " ".join(terms))], "query_id long, text string"
    )
    eng_auto = BM25QueryEngine(idx, cfg=cfg)
    auto_rows = sorted(
        map(tuple, eng_auto.search_df(qdf, topn=10).collect())
    )
    assert eng_auto.last_fan_out is None  # declined, not just "small"
    eng_off = BM25QueryEngine(idx)
    off_rows = sorted(
        map(tuple, eng_off.search_df(qdf, topn=10, fan_out=0).collect())
    )
    assert auto_rows == off_rows


def test_fan_out_engages_above_floored_threshold(spark, tmp_path):
    """Auto fan-out still engages: when the fattest query's candidate
    volume exceeds fan_out_threshold the engine shards, and results stay
    bit-identical to fan_out=0."""
    df = spark.createDataFrame(synth_webtext_pandas(n_docs=150, seed=6))
    cfg = EngineConfig(num_term_buckets=4)
    idx = _build(spark, df, tmp_path / "i", cfg)
    terms = [
        r["term"]
        for r in idx.term_stats().orderBy(F.desc("df")).limit(4).collect()
    ]
    qdf = spark.createDataFrame(
        [(0, " ".join(terms))], "query_id long, text string"
    )
    # explicit tiny threshold: forces the auto path's sharding decision
    eng = BM25QueryEngine(
        idx, cfg=dataclasses.replace(cfg, fan_out_threshold=10)
    )
    rows = sorted(map(tuple, eng.search_df(qdf, topn=10).collect()))
    assert eng.last_fan_out is not None and eng.last_fan_out > 1
    eng_off = BM25QueryEngine(idx)
    off = sorted(
        map(tuple, eng_off.search_df(qdf, topn=10, fan_out=0).collect())
    )
    assert rows == off


# ---------- resolved postings mode is named in meta.json ----------


def test_meta_records_resolved_postings_mode(spark, tmp_path):
    df = spark.createDataFrame(synth_webtext_pandas(n_docs=30, seed=2))
    # auto at 30 docs resolves to fused (below auto_tf_docs)
    idx = _build(spark, df, tmp_path / "a", EngineConfig(num_term_buckets=4))
    assert idx.meta["resolved_postings_mode"] == "fused"
    assert idx.meta["config"]["postings_mode"] == "auto"
    # forcing the threshold under the batch size flips the resolution
    idx2 = _build(
        spark,
        df,
        tmp_path / "b",
        EngineConfig(num_term_buckets=4, auto_tf_docs=10),
    )
    assert idx2.meta["resolved_postings_mode"] == "fused_tf"
    # stage walls persist alongside it (bench surfaces both)
    assert isinstance(idx.meta["stage_wall_s"], dict)
    assert "docs" in idx.meta["stage_wall_s"]


# ---------- LSH dim is mandatory ----------


def test_lsh_requires_dim(spark):
    from similarities_spark.functions import ann

    v = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    q = v.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    with pytest.raises(ValueError, match="dim"):
        ann.lsh_candidates(v, q)
    with pytest.raises(ValueError, match="dim"):
        ann.lsh_cosine_topk(v, q, k=1)
