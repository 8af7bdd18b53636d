"""Index builder configuration surface (accepted postings modes, indexes
written with since-retired config keys) and what a failed build leaves
behind."""

import json
import os

import pytest

from similarities_spark.config import EngineConfig
from similarities_spark.index.build import BM25Index, BM25IndexBuilder
from similarities_spark.query.engine import BM25QueryEngine
from similarities_spark.sources.synth import synth_webtext_pandas

RETIRED_KEYS = {"fan_out_target_task_s": None, "fan_out_min_task_s": 0.03}


@pytest.mark.parametrize("mode", ["groupby", "bogus"])
def test_unknown_postings_mode_raises(spark, mode):
    """Only auto/fused/fused_tf exist; any other mode fails at construction,
    before a build could run one plan while meta.json names another."""
    with pytest.raises(ValueError, match="postings_mode"):
        BM25IndexBuilder(spark, EngineConfig(postings_mode=mode))


def test_index_with_retired_config_keys_opens_and_searches(spark, tmp_path):
    """meta.json of an index written before the kernel-rate fan-out
    threshold was retired carries two config keys EngineConfig no longer
    has: the index still opens, and serves the same hits."""
    path = str(tmp_path / "i")
    idx = BM25IndexBuilder(spark, EngineConfig(num_term_buckets=4)).build(
        spark.createDataFrame(synth_webtext_pandas(n_docs=60, seed=5)),
        path,
        input_desc="t",
    )
    assert not set(RETIRED_KEYS) & set(idx.meta["config"])
    queries = ["data web w0003", "zzz unknown", "the of and"]
    key = lambda df: sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in df.collect()
    )
    want = key(BM25QueryEngine(idx).search(queries, topn=7))

    meta_path = os.path.join(path, "meta.json")
    with open(meta_path, "r", encoding="utf-8") as f:
        meta = json.load(f)
    meta["config"].update(RETIRED_KEYS)
    with open(meta_path, "w", encoding="utf-8") as f:
        json.dump(meta, f, indent=1, sort_keys=True)

    old = BM25Index(spark, path)
    assert old.config() == idx.config()
    assert key(BM25QueryEngine(old).search(queries, topn=7)) == want


def _fail(*_args, **_kwargs):
    raise RuntimeError("injected failure")


@pytest.mark.parametrize("where", ["tokenize", "blocks_write", "stats"])
def test_failed_build_joins_writes_and_releases_caches(
    spark, tmp_path, monkeypatch, run_released, where
):
    """A build that fails after its docs stage — in tokenize, in the async
    bucket-group writes, or in the stats pass they overlap — joins its
    writers and releases every cache before the error propagates, and
    writes no meta.json. A parquet input small enough for the async docs
    write is used, so that writer runs too."""
    spark.catalog.clearCache()
    src = str(tmp_path / "src.parquet")
    pdf = synth_webtext_pandas(n_docs=120, seed=11)
    spark.createDataFrame(pdf).write.parquet(src)
    cfg = EngineConfig(
        stopwords=frozenset({"the"}),
        block_size=16,
        num_term_buckets=8,
        salt_df_threshold=30,
        num_salts=4,
        checkpoint_group_min_bytes=0,  # > 1 write group at this scale
    )
    kwargs = {}
    if where == "tokenize":
        monkeypatch.setattr(BM25IndexBuilder, "_tokenized_exploded", _fail)
    elif where == "stats":
        monkeypatch.setattr(BM25IndexBuilder, "_write_term_stats", _fail)
    else:
        kwargs["_fail_after_groups"] = 1
    path = str(tmp_path / "i")
    with pytest.raises(RuntimeError, match="injected|aborting blocks build"):
        BM25IndexBuilder(spark, cfg).build(
            spark.read.parquet(src), path, input_desc="f", **kwargs
        )
    run_released()
    assert not os.path.exists(os.path.join(path, "meta.json"))
