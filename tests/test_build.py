"""Index builder configuration surface (the one accepted postings mode,
indexes written with since-retired config keys), the postings a build and
a merge write, and what a failed build leaves behind."""

import json
import os
import re
from collections import Counter, defaultdict

import pytest

from similarities_spark.config import EngineConfig
from similarities_spark.index import codec
from similarities_spark.index.build import BM25Index, BM25IndexBuilder
from similarities_spark.query.engine import BM25QueryEngine
from similarities_spark.sources.synth import synth_webtext_pandas
from similarities_spark.tokenize import tokenize_text

RETIRED_KEYS = {
    "fan_out_target_task_s": None,
    "fan_out_min_task_s": 0.03,
    "postings_mode": "auto",
}


@pytest.mark.parametrize("mode", ["groupby", "bogus", "fused", "auto"])
def test_unknown_postings_mode_raises(spark, mode):
    """fused_tf is the one build plan; any other mode, the retired fused and
    auto included, fails at construction."""
    with pytest.raises(ValueError, match="postings_mode"):
        BM25IndexBuilder(spark, EngineConfig(postings_mode=mode))


def test_index_with_retired_config_keys_opens_and_searches(spark, tmp_path):
    """meta.json of an index written before the kernel-rate fan-out
    threshold and the build-plan choice were retired carries config keys a
    build no longer records: the index still opens, serves the same hits,
    and compacts."""
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
    # the config digest in the resume lineage predates the retirements:
    # stage and bucket manifests of existing indexes stay valid
    assert old.config().index_key() == "3d066a40791b33ae"
    assert key(BM25QueryEngine(old).search(queries, topn=7)) == want
    compacted = BM25IndexBuilder(spark, EngineConfig()).compact(path)
    assert key(BM25QueryEngine(compacted).search(queries, topn=7)) == want


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


def test_dense_doc_ids_match_row_number_with_one_exchange(spark):
    """_dense_doc_ids numbers a multi-partition input exactly like a global
    row_number() over (warc_ts, url), and its plan shuffles once: the
    range exchange of the sort, no hash exchange for a window."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from similarities_spark.index.build import BuildRun, _dense_doc_ids

    pdf = synth_webtext_pandas(n_docs=300, seed=21)
    pages = spark.createDataFrame(pdf).select("url", "warc_ts", "text").repartition(5)
    with BuildRun(spark, "test") as run:
        ids, _cache, n_rows, _fp = _dense_doc_ids(run, pages, 4)
        got = sorted((r["url"], r["warc_ts"], r["doc_id"]) for r in ids.collect())
        plan = ids._jdf.queryExecution().executedPlan().toString()
    ref = pages.withColumn(
        "doc_id", F.row_number().over(Window.orderBy("warc_ts", "url")) - 1
    )
    want = sorted((r["url"], r["warc_ts"], r["doc_id"]) for r in ref.collect())
    assert n_rows == len(pdf)
    assert got == want
    # AQE prints each plan as initial and final: compare the shuffle
    # exchanges with their expression and plan ids stripped
    shuffles = {
        re.sub(r"#\d+L?|plan_id=\d+", "", line).strip(" +-:")
        for line in plan.splitlines()
        if "Exchange " in line and "BroadcastExchange" not in line
    }
    assert len(shuffles) == 1
    assert shuffles.pop().startswith("Exchange rangepartitioning")


def test_open_refuses_index_of_another_format_version(spark, tmp_path):
    """An index whose meta.json names another format version (its payloads
    in another layout) is refused on open, with a rebuild hint."""
    path = str(tmp_path / "v")
    BM25IndexBuilder(spark, EngineConfig(num_term_buckets=4)).build(
        spark.createDataFrame(synth_webtext_pandas(n_docs=40, seed=6)),
        path,
        input_desc="v",
    )
    meta_path = os.path.join(path, "meta.json")
    with open(meta_path, "r", encoding="utf-8") as f:
        meta = json.load(f)
    meta["format_version"] = 4
    with open(meta_path, "w", encoding="utf-8") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="rebuild"):
        BM25Index(spark, path)


def test_index_tables_are_zstd_after_build_merge_compact(spark, tmp_path):
    """Every parquet file of docs/, term_stats/ and blocks/ is zstd after a
    build, a merge and a compact (a write site that missed the codec would
    leave snappy files behind), and build records its stage walls, its
    async writes' own walls and the plan it ran."""
    import pyarrow.parquet as pq

    pdf = synth_webtext_pandas(n_docs=120, seed=8)
    builder = BM25IndexBuilder(spark, EngineConfig(num_term_buckets=4))
    d = str(tmp_path / "z")
    idx = builder.build(spark.createDataFrame(pdf.iloc[:80]), d, input_desc="z")
    # (the docs write runs async only for inputs read from files)
    assert "blocks-write" in idx.meta["write_wall_s"]
    assert set(idx.meta["write_wall_s"]) <= {"docs-write", "blocks-write"}
    assert "docs" in idx.meta["stage_wall_s"]
    assert idx.meta["resolved_postings_mode"] == "fused_tf"
    builder.merge_new_docs(spark.createDataFrame(pdf.iloc[80:]), d)
    builder.compact(d)
    seen = set()
    for table in ("docs", "term_stats", "blocks"):
        for root, _dirs, files in os.walk(os.path.join(d, table)):
            for name in files:
                if not name.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(root, name)).metadata
                codecs = {
                    md.row_group(g).column(c).compression
                    for g in range(md.num_row_groups)
                    for c in range(md.num_columns)
                }
                assert codecs <= {"ZSTD"}, (table, name, codecs)
                seen.add(table)
    assert seen == {"docs", "term_stats", "blocks"}


def _decoded_postings(idx):
    """term -> sorted (doc_id, tf, doc_len) over every block of ``idx``,
    each block's metadata checked against its decoded postings."""
    out = defaultdict(list)
    for r in idx.blocks().collect():
        ids, tfs, dls = codec.decode_block(bytes(r["payload"]), r["n_postings"])
        assert (r["min_doc"], r["max_doc"]) == (ids[0], ids[-1])
        assert (r["tf_max"], r["tf_min"], r["tf_sum"]) == (
            tfs.max(), tfs.min(), tfs.sum()
        )
        assert (r["dl_max"], r["dl_min"]) == (dls.max(), dls.min())
        out[r["term"]] += zip(ids.tolist(), tfs.tolist(), dls.tolist())
    return {t: sorted(p) for t, p in out.items()}


def _reference_postings(texts, stopwords):
    """term -> (doc_id, tf, doc_len) of the reference's tokenization, doc
    ids in list order."""
    out = defaultdict(list)
    for doc_id, text in enumerate(texts):
        toks = tokenize_text(text, mode="corpus", stopwords=stopwords)
        for term, tf in Counter(toks).items():
            out[term].append((doc_id, tf, len(toks)))
    return dict(out)


def test_build_and_merge_blocks_decode_to_reference_postings(spark, tmp_path):
    """Every posting a salted build writes, and every posting a merge
    appends to it, decodes to the term frequency and document length the
    reference's tokenization counts: duplicates of a term in a document
    are one posting, and a document that tokenizes to nothing has none."""
    pdf = (
        synth_webtext_pandas(n_docs=120, seed=33)
        .sort_values(["warc_ts", "url"])
        .reset_index(drop=True)
    )
    base, extra = pdf.iloc[:80], pdf.iloc[80:]
    cfg = EngineConfig(
        stopwords=frozenset({"the"}),
        block_size=16,
        num_term_buckets=4,
        salt_df_threshold=30,
        num_salts=4,
    )
    builder = BM25IndexBuilder(spark, cfg)
    d = str(tmp_path / "i")
    idx = builder.build(spark.createDataFrame(base), d, input_desc="t")
    assert idx.blocks().filter("salt > 0").count() > 0  # salting engaged
    assert _decoded_postings(idx) == _reference_postings(
        base["text"], cfg.stopwords
    )

    merged = builder.merge_new_docs(spark.createDataFrame(extra), d)
    # the merge drops batch texts already in the corpus
    kept = extra[~extra["text"].isin(set(base["text"]))]
    assert len(kept) < len(extra)
    texts = list(base["text"]) + list(kept["text"])
    assert merged.n_docs == len(texts)
    assert _decoded_postings(merged) == _reference_postings(texts, cfg.stopwords)
