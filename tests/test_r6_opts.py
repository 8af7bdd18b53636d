"""Focused tests for round-6 optimization internals.

- literal_df: LocalRelation round-trip fidelity (exotic strings, NULLs,
  bit-exact doubles) and the large-row-set fallback.
- _encode_blocks_df: the streaming partition kernel must cut segments
  identically when a (term, salt) group spans multiple Arrow batches.
- spread_small_input: no-op for well-partitioned inputs.
"""

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from similarities_spark.localdf import literal_df


def test_literal_df_roundtrip_exotic_values(spark):
    # token lists and token -> df maps: the query engine's marker columns
    rows = [
        (1, "plain", 0.5, ["data", "web"], {"data": 3, "web": 1}),
        (2, "qu'ote \\back\\slash", math.pi, [], {}),  # empty token list
        (3, "new\nline\ttab", 1e-300, ["of", "of", "x", "of"], {"of": 2**40}),
        (4, "中文 τοκεν emoji\U0001f600", -0.0, ["中文", "τοκεν", "中文"],
         {"中文": 7, "τοκεν": 0}),
        (5, None, None, None, None),  # null list, null map
        (6, "", float("1.7976931348623157e308"), ["", "a'b"], {"": -1}),
    ]
    df = literal_df(
        spark, rows,
        "id long, s string, x double, toks array<string>, "
        "dfs map<string,bigint>",
    )
    got = sorted(
        (r["id"], r["s"], r["x"], r["toks"], r["dfs"]) for r in df.collect()
    )
    assert got == sorted(rows)
    # doubles must round-trip BIT-exactly (repr -> SQL parse -> double)
    for (_, _, want, _, _), (_, _, have, _, _) in zip(sorted(rows), got):
        if want is not None:
            assert have == want and math.copysign(1, have) == math.copysign(1, want)
    # it must be a JVM LocalRelation (no Python eval at scan time)
    plan = df._jdf.queryExecution().optimizedPlan().getClass().getName()
    assert "LocalRelation" in plan


def test_literal_df_large_fallback(spark):
    from similarities_spark.localdf import _MAX_VALUES_ROWS

    rows = [(i, f"t{i}") for i in range(_MAX_VALUES_ROWS + 1)]
    df = literal_df(spark, rows, "id long, s string")
    assert df.count() == len(rows)


def test_encoder_segments_spanning_arrow_batches(spark):
    """A (term, salt) group larger than one Arrow batch must be carried
    across batch boundaries and produce the same blocks as a one-batch
    run (bit-identical payload set)."""
    from similarities_spark.config import EngineConfig
    from similarities_spark.index.build import _encode_blocks_df

    cfg = EngineConfig(block_size=16)
    # two fat segments + small ones, one (term, doc, tf) row per posting
    rows = [
        (t, 0, d, 10 + (d % 5), 2 if d % 3 == 0 else 1)
        for t, n in (("aaa", 150), ("bbb", 90), ("c", 3))
        for d in range(n)
    ]
    src = spark.createDataFrame(
        rows, "term string, salt int, doc_id long, doc_len long, tf long"
    )

    def blocks_set(batch_rows):
        old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch_rows))
        try:
            out = _encode_blocks_df(src, cfg).collect()
        finally:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
        return sorted(
            (r["term"], r["salt"], r["block_id"], r["min_doc"], r["max_doc"],
             r["n_postings"], r["tf_max"], r["tf_min"], r["tf_sum"],
             r["dl_max"], r["dl_min"], bytes(r["payload"]))
            for r in out
        )

    tiny = blocks_set(7)      # every segment spans many batches
    huge = blocks_set(100000)  # one batch per partition
    assert tiny == huge
    assert len(tiny) > 0


def test_spread_small_input_noop_when_wide(spark):
    from similarities_spark.functions.textops import spread_small_input

    par = spark.sparkContext.defaultParallelism
    df = spark.range(1000).repartition(par + 1)
    assert spread_small_input(df) is df


def test_async_docs_write_failure_surfaces_and_leaves_no_manifest(
    spark, tmp_path, monkeypatch
):
    """The small-corpus docs file write runs on a daemon thread overlapped
    with tokenize + salt detection; a write failure must surface from
    build() at the join, the docs stage manifest must NOT exist (a manifest
    never describes files that are not fully on disk), and a fresh rebuild
    must recover and match a clean build."""
    from pyspark.sql.readwriter import DataFrameWriter

    from similarities_spark.config import EngineConfig
    from similarities_spark.index.build import BM25IndexBuilder
    from similarities_spark.sources.synth import synth_webtext_pandas

    cfg = EngineConfig(
        stopwords=frozenset({"the"}),
        block_size=16,
        num_term_buckets=4,
        salt_df_threshold=30,
        num_salts=4,
    )
    pdf = synth_webtext_pandas(n_docs=80, seed=23)
    df = spark.createDataFrame(pdf)
    builder = BM25IndexBuilder(spark, cfg)

    clean_dir = str(tmp_path / "clean")
    clean = builder.build(df, clean_dir, input_desc="awf")

    broken_dir = str(tmp_path / "broken")
    orig = DataFrameWriter.parquet

    def boom(self, path, *a, **k):
        if path.rstrip("/").endswith("/docs"):
            raise RuntimeError("injected docs write failure")
        return orig(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", boom)
    with pytest.raises(RuntimeError, match="injected docs write failure"):
        builder.build(df, broken_dir, input_desc="awf")
    monkeypatch.setattr(DataFrameWriter, "parquet", orig)

    # the failed stage left neither a docs manifest nor a commit marker
    assert not os.path.exists(
        os.path.join(broken_dir, "manifests", "stage-docs.json")
    )
    assert not os.path.exists(os.path.join(broken_dir, "meta.json"))

    # a fresh rebuild into the same dir recovers bit-identically
    rebuilt = builder.build(df, broken_dir, input_desc="awf")
    from tests.test_resume import _decoded_postings

    assert _decoded_postings(rebuilt) == _decoded_postings(clean)
    assert rebuilt.meta["n_docs"] == clean.meta["n_docs"]
    assert rebuilt.meta["avgdl"] == clean.meta["avgdl"]
