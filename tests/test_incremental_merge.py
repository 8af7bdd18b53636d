"""Incremental merge == full rebuild over the reference-equivalent corpus.

Immutable stats-free segments let merge_new_docs append the new batch and
refresh only term_stats/meta. Reference add_corpus semantics are
path-dependent: a second add_corpus drops docs whose text already exists in
the PRE-EXISTING corpus but keeps within-batch dups
(literal_similarity.py:389-401). So merge(b1, b2) must equal a full rebuild
over b1 + (b2 minus texts present in b1) — which is what this suite asserts
(ids and scores exact).
"""

import os

import pandas as pd
import pytest
from pyspark.sql.readwriter import DataFrameWriter

from similarities_spark.config import EngineConfig
from similarities_spark.index.build import BM25IndexBuilder
from similarities_spark.query.engine import BM25QueryEngine
from similarities_spark.sources.synth import synth_webtext_pandas

CFG = EngineConfig(
    stopwords=frozenset({"the"}),
    block_size=16,
    num_term_buckets=4,
    salt_df_threshold=30,
    num_salts=4,
)

QUERIES = ["data web w0003", "of and w0001 w0002", "zzz-none", "w0007 w0009"]


def test_merge_equals_full_rebuild(spark, tmp_path):
    pdf = synth_webtext_pandas(n_docs=180, seed=13, dup_fraction=0.05)
    # plant a cross-boundary duplicate: a batch-2 doc equal to a batch-1 doc
    pdf.loc[150, "text"] = pdf.loc[10, "text"]
    b1_pdf, b2_pdf = pdf.iloc[:100], pdf.iloc[100:]
    batch1 = spark.createDataFrame(b1_pdf)
    batch2 = spark.createDataFrame(b2_pdf)
    # reference-equivalent accumulated corpus: batch-2 rows whose text
    # already exists in batch-1 are dropped; within-batch dups stay
    b1_texts = set(b1_pdf["text"])
    expected_pdf = pd.concat(
        [b1_pdf, b2_pdf[~b2_pdf["text"].isin(b1_texts)]], ignore_index=True
    )
    assert len(expected_pdf) < len(pdf)  # cross-boundary dedup exercised
    full = spark.createDataFrame(expected_pdf)

    builder = BM25IndexBuilder(spark, CFG)
    inc_dir = str(tmp_path / "inc")
    idx1 = builder.build(batch1, inc_dir, input_desc="b1")
    n1 = idx1.n_docs
    merged = builder.merge_new_docs(batch2, inc_dir)
    assert merged.n_docs > n1
    assert merged.meta["increments"][0]["added_docs"] == merged.n_docs - n1

    ref = builder.build(full, str(tmp_path / "full"), input_desc="full")
    assert merged.n_docs == ref.n_docs  # cross-boundary dups dropped once
    assert merged.meta["avgdl"] == ref.meta["avgdl"]
    assert merged.meta["vocab_size"] == ref.meta["vocab_size"]
    assert merged.meta["n_postings"] == ref.meta["n_postings"]
    assert merged.meta["average_idf"] == ref.meta["average_idf"]

    h_m = BM25QueryEngine(merged).search(QUERIES, topn=10).collect()
    h_f = BM25QueryEngine(ref).search(QUERIES, topn=10).collect()
    key = lambda r: (r["query_id"], r["rank"])
    for rm, rf in zip(sorted(h_m, key=key), sorted(h_f, key=key)):
        assert (rm["query_id"], rm["rank"], rm["doc_id"]) == (
            rf["query_id"],
            rf["rank"],
            rf["doc_id"],
        )
        assert rm["score"] == rf["score"]


def test_merge_all_duplicates_is_noop(spark, tmp_path):
    pdf = synth_webtext_pandas(n_docs=50, seed=17)
    builder = BM25IndexBuilder(spark, CFG)
    d = str(tmp_path / "noop")
    idx = builder.build(spark.createDataFrame(pdf), d, input_desc="x")
    again = builder.merge_new_docs(spark.createDataFrame(pdf), d)
    assert again.n_docs == idx.n_docs
    assert again.meta["avgdl"] == idx.meta["avgdl"]


def _hits(idx, queries=QUERIES, topn=10):
    rows = BM25QueryEngine(idx).search(queries, topn=topn).collect()
    return sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9)) for r in rows
    )


def test_merge_crash_before_commit_leaves_index_untouched_and_retryable(
    spark, tmp_path
):
    """Crash window 1: everything staged, COMMIT.json not yet written.
    The live index must be byte-identical (stale stats never visible, no
    half-appended docs/blocks) and a RETRIED merge must fully apply the
    batch — not silently no-op against its own partial append."""
    from similarities_spark.index.build import BM25Index

    pdf = synth_webtext_pandas(n_docs=120, seed=23, dup_fraction=0.05)
    b1, b2 = pdf.iloc[:80], pdf.iloc[80:]
    builder = BM25IndexBuilder(spark, CFG)
    d = str(tmp_path / "crash1")
    idx1 = builder.build(spark.createDataFrame(b1), d, input_desc="b1")
    before = _hits(idx1)
    meta_before = dict(idx1.meta)

    with pytest.raises(RuntimeError, match="before commit record"):
        builder.merge_new_docs(
            spark.createDataFrame(b2), d, _fail_before_commit=True
        )
    # live index unchanged: same meta, same query results
    reopened = BM25Index(spark, d)
    assert reopened.n_docs == meta_before["n_docs"]
    assert _hits(reopened) == before

    # retry applies the full batch and equals a clean two-batch merge
    merged = builder.merge_new_docs(spark.createDataFrame(b2), d)
    ref_dir = str(tmp_path / "ref1")
    ref1 = builder.build(spark.createDataFrame(b1), ref_dir, input_desc="b1")
    ref = builder.merge_new_docs(spark.createDataFrame(b2), ref_dir)
    assert merged.n_docs == ref.n_docs
    assert merged.meta["avgdl"] == ref.meta["avgdl"]
    assert _hits(merged) == _hits(ref)


def test_merge_crash_after_commit_record_rolls_forward_on_open(spark, tmp_path):
    """Crash window 2: COMMIT.json written, renames not performed. The next
    open must roll the increment forward (idempotent renames) and observe
    exactly the merged index."""
    from similarities_spark.index.build import BM25Index

    pdf = synth_webtext_pandas(n_docs=120, seed=29, dup_fraction=0.05)
    b1, b2 = pdf.iloc[:80], pdf.iloc[80:]
    builder = BM25IndexBuilder(spark, CFG)
    d = str(tmp_path / "crash2")
    builder.build(spark.createDataFrame(b1), d, input_desc="b1")

    with pytest.raises(RuntimeError, match="after commit record"):
        builder.merge_new_docs(
            spark.createDataFrame(b2), d, _fail_after_commit_record=True
        )
    recovered = BM25Index(spark, d)  # __init__ rolls the increment forward

    ref_dir = str(tmp_path / "ref2")
    builder.build(spark.createDataFrame(b1), ref_dir, input_desc="b1")
    ref = builder.merge_new_docs(spark.createDataFrame(b2), ref_dir)
    assert recovered.n_docs == ref.n_docs
    assert recovered.meta["avgdl"] == ref.meta["avgdl"]
    assert recovered.meta["increments"][0]["added_docs"] == (
        ref.meta["increments"][0]["added_docs"]
    )
    assert _hits(recovered) == _hits(ref)


def test_resume_detects_changed_input_at_same_path(spark, tmp_path):
    """ADVICE r1: resume used to trust stage manifests on existence alone —
    different data at the same logical path must trigger a rebuild, not
    silently serve the stale corpus."""
    pdf_a = synth_webtext_pandas(n_docs=60, seed=31)
    pdf_b = synth_webtext_pandas(n_docs=75, seed=37)
    builder = BM25IndexBuilder(spark, CFG)
    d = str(tmp_path / "stale")
    builder.build(spark.createDataFrame(pdf_a), d, input_desc="same-path")
    # same input_desc, different data -> docs fingerprint (row count) differs
    idx = builder.build(
        spark.createDataFrame(pdf_b), d, resume=True, input_desc="same-path"
    )
    assert idx.n_docs == len(pdf_b)
    ref = builder.build(
        spark.createDataFrame(pdf_b), str(tmp_path / "fresh"), input_desc="fresh"
    )
    assert _hits(idx) == _hits(ref)


def test_merge_stats_collect_bounded_past_cap(spark, tmp_path, monkeypatch):
    """A small index whose merge pushes old ∪ new past the driver stats cap:
    the driver-tail collect must be bounded by the cap before it runs (at
    most cap+1 rows), and the merged term_stats must still be bit-identical
    to a full rebuild's."""
    from similarities_spark.index import build as _build

    cap = 12
    monkeypatch.setattr(_build, "_DRIVER_STATS_MAX_VOCAB", cap)
    stats_rows = []
    DataFrame = type(spark.range(1))  # the concrete (classic) class
    real_to_arrow = DataFrame.toArrow

    def to_arrow(self):
        tbl = real_to_arrow(self)
        if self.columns == ["term", "df", "first_doc", "first_pos"]:
            stats_rows.append(tbl.num_rows)
        return tbl

    monkeypatch.setattr(DataFrame, "toArrow", to_arrow)

    base = [f"common w{i % 8} w{(i + 3) % 8}" for i in range(20)]
    new = [f"common fresh{i}a fresh{i}b" for i in range(30)]

    def batch(texts, ts0):
        ts = [ts0 + i for i in range(len(texts))]
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "url": [f"u{t}" for t in ts],
                    "warc_ts": pd.to_datetime(ts, unit="s"),
                    "text": texts,
                }
            )
        )

    def stats(i):
        return sorted(
            (r["term"], r["df"], r["idf"]) for r in i.term_stats().collect()
        )

    builder = BM25IndexBuilder(spark, CFG)
    inc_dir = str(tmp_path / "inc")
    idx = builder.build(batch(base, 0), inc_dir, input_desc="base")
    assert idx.meta["vocab_size"] <= cap
    merged = builder.merge_new_docs(batch(new, 100), inc_dir)
    assert merged.meta["vocab_size"] > cap + 1
    assert stats_rows and max(stats_rows) <= cap + 1

    ref = builder.build(
        batch(base, 0).unionByName(batch(new, 100)),
        str(tmp_path / "full"),
        input_desc="full",
    )
    assert stats(merged) == stats(ref)
    assert merged.meta["average_idf"] == ref.meta["average_idf"]


def _fail(*_args, **_kwargs):
    raise RuntimeError("injected failure")


def _live_files(index_dir):
    """{path: bytes} of every file of the live index (staging excluded)."""
    out = {}
    for dirpath, dirnames, files in os.walk(index_dir):
        dirnames[:] = [d for d in dirnames if d != "_staging"]
        for name in files:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, index_dir)] = f.read()
    return out


def test_failed_merge_releases_caches_and_keeps_live_index(
    spark, tmp_path, monkeypatch, run_released
):
    """A merge that fails in its encode or in its stats pass releases every
    cache it persisted and leaves the live index byte-identical."""
    from similarities_spark.index import build as _build

    pdf = synth_webtext_pandas(n_docs=120, seed=41)
    builder = BM25IndexBuilder(spark, CFG)
    d = str(tmp_path / "live")
    builder.build(spark.createDataFrame(pdf.iloc[:80]), d, input_desc="b1")
    before = _live_files(d)
    for target, name in [
        (_build, "_encode_salted"),
        (BM25IndexBuilder, "_write_term_stats"),
    ]:
        spark.catalog.clearCache()
        with monkeypatch.context() as m:
            m.setattr(target, name, _fail)
            with pytest.raises(RuntimeError, match="injected"):
                builder.merge_new_docs(spark.createDataFrame(pdf.iloc[80:]), d)
        run_released()
        assert _live_files(d) == before


def test_failed_compact_releases_and_next_compact_sweeps_its_layout(
    spark, tmp_path, monkeypatch, run_released
):
    """A compact that fails after writing its new layout (before the swap
    marker commits it) leaves the live index serving the same hits; the
    next compact deletes the orphaned blocks.next-* dir."""
    pdf = synth_webtext_pandas(n_docs=120, seed=43)
    builder = BM25IndexBuilder(spark, CFG)
    d = str(tmp_path / "c")
    builder.build(spark.createDataFrame(pdf.iloc[:80]), d, input_desc="b1")
    merged = builder.merge_new_docs(spark.createDataFrame(pdf.iloc[80:]), d)
    before = _hits(merged)

    real_parquet = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        real_parquet(self, path, *args, **kwargs)
        if "blocks.next-" in path:
            raise RuntimeError("injected failure after the compact write")

    spark.catalog.clearCache()
    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", parquet)
        with pytest.raises(RuntimeError, match="injected"):
            builder.compact(d)
    run_released()
    orphans = lambda: [n for n in os.listdir(d) if n.startswith("blocks.")]
    assert [n for n in orphans() if n.startswith("blocks.next-")]

    compacted = builder.compact(d)
    assert orphans() == []
    assert _hits(compacted) == before


def test_stage_walls_of_build_merge_and_compact(spark, tmp_path):
    """build() records its five stage walls; every merge and compaction
    record carries its own; the caller's Spark job description is
    restored after each call."""
    sc = spark.sparkContext
    pdf = synth_webtext_pandas(n_docs=120, seed=47)
    builder = BM25IndexBuilder(spark, CFG)
    d = str(tmp_path / "w")
    sc.setJobDescription("caller")
    try:
        idx = builder.build(spark.createDataFrame(pdf.iloc[:80]), d, input_desc="b")
        assert set(idx.meta["stage_wall_s"]) == {
            "docs", "salt_detect", "encode", "blocks_write", "stats"
        }
        assert sc.getLocalProperty("spark.job.description") == "caller"
        merged = builder.merge_new_docs(spark.createDataFrame(pdf.iloc[80:]), d)
        assert set(merged.meta["increments"][-1]["stage_wall_s"]) == {
            "docs", "encode", "stats"
        }
        compacted = builder.compact(d)
        assert set(compacted.meta["increments"][-1]["stage_wall_s"]) == {
            "salt_detect", "encode"
        }
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setJobDescription(None)
