"""Checkpointed index build resume (SURVEY §5.4): kill mid-blocks-stage,
resume, assert the final index equals a clean build and manifests complete."""

import json
import os

import pytest

from similarities_spark.config import EngineConfig
from similarities_spark.index.build import BM25IndexBuilder
from similarities_spark.plans.manifest import completed_buckets
from similarities_spark.query.engine import BM25QueryEngine
from similarities_spark.sources.synth import synth_webtext_pandas

CFG = EngineConfig(
    stopwords=frozenset({"the"}),
    block_size=16,
    num_term_buckets=8,
    salt_df_threshold=30,
    num_salts=4,
    # pin exact group counts: _fail_after_groups needs >1 write group at
    # this tiny scale, which byte-adaptive grouping would collapse to one
    checkpoint_group_min_bytes=0,
)


def _decoded_postings(index):
    """Full decoded posting set for structural equality between two builds."""
    from similarities_spark.index import codec

    out = set()
    for r in index.blocks().collect():
        ids, tfs, dls = codec.decode_block(bytes(r["payload"]), r["n_postings"])
        for d, t, l in zip(ids, tfs, dls):
            out.add((r["term"], int(d), int(t), int(l)))
    return out


def test_resume_after_partial_blocks_stage(spark, tmp_path):
    pdf = synth_webtext_pandas(n_docs=120, seed=11)
    df = spark.createDataFrame(pdf)
    builder = BM25IndexBuilder(spark, CFG)

    clean = builder.build(df, str(tmp_path / "clean"), input_desc="r")

    broken_dir = str(tmp_path / "broken")
    with pytest.raises(RuntimeError, match="aborting blocks build"):
        builder.build(df, broken_dir, input_desc="r", _fail_after_groups=1)
    # no overall commit marker yet
    assert not os.path.exists(os.path.join(broken_dir, "meta.json"))
    ckpt = os.path.join(broken_dir, "manifests")
    partial = completed_buckets(ckpt, _lineage_key(clean))
    assert 0 < len(partial) < CFG.num_term_buckets

    resumed = builder.build(df, broken_dir, input_desc="r", resume=True)
    done = completed_buckets(ckpt, _lineage_key(clean))
    assert len(done) == CFG.num_term_buckets

    assert _decoded_postings(resumed) == _decoded_postings(clean)
    assert resumed.meta["n_docs"] == clean.meta["n_docs"]
    assert resumed.meta["avgdl"] == clean.meta["avgdl"]

    # manifests carry lineage + metrics
    m = json.load(open(os.path.join(ckpt, sorted(os.listdir(ckpt))[0])))
    if "lineage_key" in m:
        assert m["n_postings"] >= 0 and "group_wall_s" in m

    # resumed index answers queries identically to the clean one
    q = ["data web w0003", "of and w0001"]
    h1 = BM25QueryEngine(clean).search(q, topn=5).collect()
    h2 = BM25QueryEngine(resumed).search(q, topn=5).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(
        [(r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in h1]
    ) == sorted([(r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in h2])


def test_resume_after_blocks_stage_recomputes_stats(spark, tmp_path):
    """A build that wrote every bucket group but died before its stats
    manifest: the resume runs no encode, and the stats it recomputes (the
    token total read from the blocks on disk) equal a clean build's."""
    df = spark.createDataFrame(synth_webtext_pandas(n_docs=120, seed=11))
    builder = BM25IndexBuilder(spark, CFG)
    clean = builder.build(df, str(tmp_path / "clean"), input_desc="r")

    d = str(tmp_path / "crashed")
    builder.build(df, d, input_desc="r")
    ckpt = os.path.join(d, "manifests")
    os.remove(os.path.join(ckpt, "stage-term_stats.json"))
    os.remove(os.path.join(d, "meta.json"))
    resumed = builder.build(df, d, input_desc="r", resume=True)

    assert "blocks_write" not in resumed.meta["stage_wall_s"]  # no encode
    for key in ("n_docs", "total_tokens", "avgdl", "vocab_size",
                "average_idf", "n_postings"):
        assert resumed.meta[key] == clean.meta[key], key
    stats = lambda i: sorted(tuple(r) for r in i.term_stats().collect())
    assert stats(resumed) == stats(clean)
    assert _decoded_postings(resumed) == _decoded_postings(clean)


def test_resume_rejects_stale_lineage(tmp_path):
    from similarities_spark.plans.manifest import write_manifest

    ckpt = str(tmp_path / "ck")
    write_manifest(ckpt, 3, {"lineage_key": "old-input", "bucket": 3})
    assert completed_buckets(ckpt, "new-input") == []
    assert completed_buckets(ckpt, "old-input") == [3]


def _lineage_key(index) -> str:
    return index.meta["lineage_key"]
