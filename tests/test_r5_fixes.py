"""Round-5 fixes: fan-out task-budget floor (the r4 bench demo inversion),
resolved postings mode in meta.json, mandatory LSH dim."""

import dataclasses

import pytest
from pyspark.sql import functions as F

from similarities_spark.config import EngineConfig
from similarities_spark.index.build import BM25IndexBuilder
from similarities_spark.query.engine import BM25QueryEngine
from similarities_spark.sources.synth import synth_webtext_pandas


def _build(spark, df, path, cfg, **kw):
    return BM25IndexBuilder(spark, cfg).build(df, str(path), input_desc="t", **kw)


# ---------- fan-out derived-threshold floor ----------


def test_fan_out_floor_applied_to_derived_threshold(spark, tmp_path):
    """A sub-floor target_task_s must derive the threshold from the FLOOR:
    tasks shorter than scheduler overhead make fan-out a pessimization
    (the r4 bench published auto 36% slower than off under a forced 1 ms
    budget)."""
    df = spark.createDataFrame(synth_webtext_pandas(n_docs=40, seed=9))
    cfg = EngineConfig(num_term_buckets=4, fan_out_target_task_s=0.001)
    idx = _build(spark, df, tmp_path / "i", cfg)
    eng = BM25QueryEngine(idx, cfg=cfg)
    thr = eng.fan_out_threshold()
    cal = eng.last_calibration
    assert cal["effective_target_task_s"] == cfg.fan_out_min_task_s == 0.03
    # the derived threshold reflects the floored budget, not the 1 ms ask
    assert thr >= int(cal["scorer_postings_per_s"] * 0.03 * 0.99)
    # and a target ABOVE the floor is honored as-is
    eng2 = BM25QueryEngine(
        idx, cfg=dataclasses.replace(cfg, fan_out_target_task_s=0.5)
    )
    eng2.fan_out_threshold()
    assert eng2.last_calibration["effective_target_task_s"] == 0.5


def test_auto_fan_out_declines_at_demo_scale_no_inversion(spark, tmp_path):
    """At bench-demo scale (thousands of docs, far below one floored
    task-second of kernel work) auto fan-out must NOT engage: auto then
    scores without sharding (here in-process on the driver) and returns
    the hits of fan_out=0, the unsharded distributed plan, so the
    published demo can never invert again."""
    df = spark.createDataFrame(synth_webtext_pandas(n_docs=120, seed=4))
    cfg = EngineConfig(num_term_buckets=4, fan_out_target_task_s=0.001)
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
    """The floor must not kill legitimate fan-out: when the candidate
    volume exceeds the floored threshold the engine still shards, and
    results stay bit-identical to fan_out=0."""
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
    # explicit tiny threshold (not target-derived): forces the auto path's
    # sharding decision itself, independent of kernel-rate measurement
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
    idx3 = _build(
        spark,
        df,
        tmp_path / "c",
        EngineConfig(num_term_buckets=4, postings_mode="groupby"),
    )
    assert idx3.meta["resolved_postings_mode"] == "groupby"
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
