"""Distributed BM25 inverted-index builder.

Pipeline (all relational work is declarative DataFrame ops; Python only in
the tokenizer UDF and the Arrow block encoder):

  webtext scan (column-pruned: url, warc_ts, text)
    -> dense doc_id 0..N-1 in (warc_ts, url) order             [range shuffle]
       (deterministic ingestion order == reference list order; NO dedup on
       the initial build: reference add_corpus checks new docs only against
       the PRE-EXISTING corpus, which is empty/static during one ingest, so
       within-batch duplicate texts are kept and inflate N/df/avgdl exactly
       like the reference — literal_similarity.py:389-401. Cross-batch dedup
       happens in merge_new_docs.)
    -> tokenize (JVM regexp default / Arrow pandas UDF for jieba) into a
       token cache
    -> per-term pass over the cache: df (documents containing the term)
       and first occurrence (doc_id, position)            [vocab-sized agg]
    -> per-doc TF entries (term, doc_id, doc_len, tf): a JVM run-length
       pass over each doc's sorted token array, no exchange of its own
    -> head-term salting: broadcast tiny heavy-term list (df >= threshold,
       from the per-term pass); salt = fixed global doc-id range ->
       per-term segments stay sorted runs, no merge stage
    -> repartition(term, salt) + mapInArrow block encoder  [THE build shuffle]
       (bit-packed frame-of-reference blocks, encoded a whole Arrow batch
       at a time, + per-block max/min/sum tf + dl extrema for block-max
       bounds); total_tokens = sum(tf_sum) from the per-bucket metrics
    -> term_stats from the per-term pass alone: exact math.log idf,
       average idf summed in first-occurrence order (the reference's
       vocabulary insertion order) + epsilon floor (rank_bm25.py:88-98
       semantics)
    -> write parquet partitioned by bucket = xxhash64(term) % B,
       per-bucket checkpoint manifests (lineage + metrics) -> resumable

Stage state is passed explicitly: build(), merge_new_docs() and compact()
each hold one BuildRun for the whole call — the caches it persisted, its
async writes, its stage walls and the Spark job description of the running
stage. A failed call joins its writes and releases its caches before the
error propagates, so no writer outlives it and no cache leaks.

Scale notes (the 1000-executor story):
- The only driver-side values are scalars (N, total_tokens, average_idf) and
  the heavy-term salt list (df >= threshold: thousands of terms, not vocab).
- No broadcast of vocab-sized or corpus-sized state anywhere.
- Heavy-term skew is bounded by doc-range salting BEFORE groupBy(term, salt);
  AQE alone can't do this because a term's postings must stay sorted runs.
- Dense doc_id uses range sort + per-partition offsets (two narrow JVM
  passes), not a global single-partition window and not zipWithIndex
  (which would pickle every row through Python).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import threading
import time
import uuid
from typing import Optional

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from pyspark.storagelevel import StorageLevel

from similarities_spark.config import EngineConfig
from similarities_spark.index import codec
from similarities_spark.localdf import literal_df
from similarities_spark.plans.manifest import completed_buckets, write_manifest
from similarities_spark.sources.readers import extract_text
from similarities_spark.tokenize import choose_corpus_tokenizer

# bump whenever the block payload layout or block-table schema changes —
# it participates in the resume lineage key, and an engine or merge refuses
# an index written in another version
FORMAT_VERSION = 5  # v5: frame-of-reference bit-packed block payloads

# the parquet codec of every index table (docs, term_stats, blocks), used by
# every write site: build, its resumable bucket-group writer, the merge's
# staged increment and compact. zstd stores the doc text in ~2/3 of
# snappy's bytes.
INDEX_PARQUET_CODEC = "zstd"

# Block metadata is deliberately STATS-FREE: no idf/df/avgdl-derived values.
# tf/dl extrema give valid (slightly loose) contribution bounds at query
# time — g(tf_max, dl_min) >= g(tf_i, dl_i) since g is monotone up in tf,
# down in dl. This makes segments IMMUTABLE: incremental merges append new
# segments and refresh only the tiny term_stats/meta tables; no payload
# decode or metadata rewrite of existing blocks is ever needed.
_BLOCK_SCHEMA = StructType(
    [
        StructField("term", StringType()),
        StructField("salt", IntegerType()),
        StructField("block_id", IntegerType()),
        StructField("min_doc", LongType()),
        StructField("max_doc", LongType()),
        StructField("n_postings", IntegerType()),
        StructField("tf_max", LongType()),
        StructField("tf_min", LongType()),
        StructField("tf_sum", LongType()),
        StructField("dl_max", LongType()),
        StructField("dl_min", LongType()),
        StructField("payload", BinaryType()),
    ]
)

# on-disk blocks layout = encoder schema + the bucket partition column
_BLOCKS_READ_SCHEMA = StructType(
    list(_BLOCK_SCHEMA.fields) + [StructField("bucket", IntegerType())]
)

# term_stats rows per output partition: a stats row is ~30-60 bytes, so
# ~4M rows keep files in the guide §6 output-size band; below that a
# single sorted file serves the same row-group pruning
_STATS_ROWS_PER_PARTITION = 4_000_000

# vocab size up to which term_stats finish on the driver (one collect of
# the per-term aggregates, bounded at cap + 1 rows, and one sorted literal
# file). Above it one task streams the idf sum in key order and the floored
# idf is written distributed, so 10^9-term vocabs never collect.
_DRIVER_STATS_MAX_VOCAB = 20_000

# config keys that meta.json of older indexes may still carry but a build
# no longer records (the retired kernel-rate fan-out threshold, sampled
# salt-list detection and the build-plan choice, which v5 indexes may
# record as "auto" or "fused")
_RETIRED_CONFIG_KEYS = (
    "fan_out_target_task_s", "fan_out_min_task_s", "salt_sample_fraction",
    "postings_mode",
)

# explicit read schemas everywhere: an all-stopword corpus produces empty
# blocks/term_stats dirs, where schema inference would fail
_STATS_READ_SCHEMA = StructType(
    [
        StructField("term", StringType()),
        StructField("df", LongType()),
        StructField("idf", DoubleType()),
    ]
)

# term_stats as written: the query-time columns plus each term's first
# occurrence in the corpus — the reference's vocabulary insertion order,
# which fixes the order average_idf sums in. A merge reuses the stored key
# of old terms; engines read only _STATS_READ_SCHEMA.
_STATS_KEY = ("first_doc", "first_pos")
_STATS_WRITE_DDL = (
    "term string, df long, idf double, first_doc long, first_pos int"
)


class BuildRun:
    """The stage state of one build(), merge_new_docs() or compact() call,
    passed to its stages: held caches, async writes, per-stage walls and
    the Spark job description of the running stage. ``with BuildRun(spark,
    entry) as run:`` spans the call. Exit joins every write, then releases
    every held cache (a write may read one) and restores the caller's job
    description; an exception exit re-raises the original error."""

    def __init__(self, spark: SparkSession, entry: str):
        self.spark, self.entry = spark, entry
        self.stage_wall_s = {}
        self.write_wall_s = {}  # each async write's own wall, by its name
        self._held, self._writes, self._errors = [], [], []
        self._stage, self._since = None, 0.0
        self._caller_desc = spark.sparkContext.getLocalProperty(
            "spark.job.description"
        )

    def __enter__(self) -> "BuildRun":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        try:
            if exc_type is None:
                self.join_writes()
            for t in self._writes:  # exception exit: writes joined, not raised
                t.join()
        finally:
            self.release(*self._held)
            self.spark.sparkContext.setJobDescription(self._caller_desc)

    def persist(self, df: DataFrame) -> DataFrame:
        """Cache ``df`` (unless cached already); held until release/exit."""
        if not df.is_cached:
            df.persist(StorageLevel.MEMORY_AND_DISK)
        self._held.append(df)
        return df

    def release(self, *dfs: Optional[DataFrame]) -> None:
        """Unpersist the held caches among ``dfs``; others are skipped."""
        for df in dfs:
            if any(df is h for h in self._held):
                self._held = [h for h in self._held if h is not df]
                df.unpersist()

    def mark(self, stage: Optional[str]) -> None:
        """End the running stage (its wall goes to stage_wall_s) and start
        ``stage``, if any: later jobs are described "<entry>: <stage>"."""
        now = time.time()
        if self._stage is not None:
            self.stage_wall_s[self._stage] = round(now - self._since, 2)
        self._stage, self._since = stage, now
        self.spark.sparkContext.setJobDescription(
            f"{self.entry}: {stage}" if stage else self._caller_desc
        )

    def write_async(self, desc: str, fn) -> None:
        """Run the write ``fn`` on a daemon thread named ``desc``, its jobs
        described "<entry>: <desc>"; join_writes() raises its error."""
        sc, job = self.spark.sparkContext, f"{self.entry}: {desc}"

        def _run():
            t0 = time.time()
            try:
                sc.setJobDescription(job)
                fn()
            except BaseException as e:  # re-raised by join_writes
                self._errors.append(e)
            finally:
                self.write_wall_s[desc] = round(time.time() - t0, 2)

        t = threading.Thread(target=_run, daemon=True, name=desc)
        t.start()
        self._writes.append(t)

    def join_writes(self) -> None:
        """Wait for every async write; raise the first error one hit."""
        while self._writes:
            self._writes.pop(0).join()
        errors, self._errors = self._errors, []
        if errors:
            raise errors[0]


def _staging_root(index_dir: str) -> str:
    return os.path.join(index_dir, "_staging")


def _input_fingerprint(webtext: DataFrame) -> dict:
    """Cheap content fingerprint of the input: row count + order-independent
    bit_xor of xxhash64(url, warc_ts). Reads ONLY the two narrow identity
    columns (the parquet scan prunes html/text), so validating a resume
    costs ~1% of a full-corpus read even at 100 TB. (url, warc_ts) is the
    WARC capture identity of a webtext row, so same-count row swaps,
    additions+deletions, and reorders are all detected; an in-place text
    edit at an identical (url, warc_ts) is outside the fingerprint — that
    is the deliberate scale/safety trade-off vs hashing the text payload."""
    row = webtext.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(url, warc_ts))").alias("fp"),
    ).collect()[0]
    return {"n_input_rows": int(row["n"]), "input_fp": int(row["fp"] or 0)}


def _pending_increments(index_dir: str):
    """Fully-staged increments (COMMIT.json present) awaiting roll-forward,
    oldest first. Staging dirs WITHOUT a commit record are aborted merges —
    their data never reached the live index and is safe to discard."""
    root = _staging_root(index_dir)
    if not os.path.isdir(root):
        return []
    return [
        os.path.join(root, name)
        for name in sorted(os.listdir(root))
        if os.path.exists(os.path.join(root, name, "COMMIT.json"))
    ]


def _move_parquet_files(src_dir: str, dst_dir: str, prefix: str) -> None:
    """Rename staged part files into a live dir, prefixed with the increment
    id so names never collide. Idempotent: files already moved are skipped,
    so a crashed commit can simply be re-applied."""
    if not os.path.isdir(src_dir):
        return
    os.makedirs(dst_dir, exist_ok=True)
    for name in os.listdir(src_dir):
        if not name.endswith(".parquet"):
            continue  # _SUCCESS / .crc markers stay behind
        dst = os.path.join(dst_dir, f"{prefix}-{name}")
        if not os.path.exists(dst):
            os.replace(os.path.join(src_dir, name), dst)


def _apply_increment(index_dir: str, inc_dir: str) -> None:
    """Roll a fully-staged increment forward into the live index.

    Every step is an idempotent rename (re-apply after a crash at ANY point
    resumes where it left off); meta.json is the last write, so an index
    whose meta reflects the increment has all its data live. This is the
    commit half of the write-ahead design: merge_new_docs stages everything
    under _staging/<inc>/ and writes COMMIT.json only once the staged data is
    complete, so roll-forward never needs the source batch again."""
    inc_id = os.path.basename(inc_dir)
    _move_parquet_files(
        os.path.join(inc_dir, "docs"), os.path.join(index_dir, "docs"), inc_id
    )
    staged_blocks = os.path.join(inc_dir, "blocks")
    if os.path.isdir(staged_blocks):
        for part in os.listdir(staged_blocks):
            if part.startswith("bucket="):
                _move_parquet_files(
                    os.path.join(staged_blocks, part),
                    os.path.join(index_dir, "blocks", part),
                    inc_id,
                )
    staged_stats = os.path.join(inc_dir, "term_stats")
    live_stats = os.path.join(index_dir, "term_stats")
    if os.path.isdir(staged_stats):
        old = f"{live_stats}.old-{inc_id}"
        shutil.rmtree(old, ignore_errors=True)
        if os.path.isdir(live_stats):
            os.rename(live_stats, old)
        os.rename(staged_stats, live_stats)
        shutil.rmtree(old, ignore_errors=True)
    meta_next = os.path.join(inc_dir, "meta_next.json")
    if os.path.exists(meta_next):
        tmp = os.path.join(index_dir, "meta.json.tmp")
        shutil.copyfile(meta_next, tmp)
        os.replace(tmp, os.path.join(index_dir, "meta.json"))
    os.remove(os.path.join(inc_dir, "COMMIT.json"))
    shutil.rmtree(inc_dir, ignore_errors=True)


def _finish_blocks_swap(index_dir: str) -> None:
    """Complete (or roll forward after a crash) an atomic blocks-dir swap
    recorded in blocks.swap.json — see BM25IndexBuilder.compact. Idempotent:
    every step re-checks state, so re-running after a crash at ANY point
    converges to the post-swap layout."""
    marker = os.path.join(index_dir, "blocks.swap.json")
    if not os.path.exists(marker):
        return
    with open(marker, "r", encoding="utf-8") as f:
        swap = json.load(f)
    live = os.path.join(index_dir, "blocks")
    nxt = os.path.join(index_dir, swap["next"])
    old = os.path.join(index_dir, swap["old"])
    if os.path.isdir(nxt):
        if os.path.isdir(live):
            os.rename(live, old)
        os.rename(nxt, live)
    os.remove(marker)
    shutil.rmtree(old, ignore_errors=True)


class BM25Index:
    """Handle to an on-disk index: meta.json + docs/term_stats/blocks parquet."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        # roll forward any increment that committed (COMMIT.json written)
        # but crashed before finishing its renames — opening an index always
        # observes a consistent state; likewise any mid-swap compaction
        for inc in _pending_increments(index_dir):
            _apply_increment(index_dir, inc)
        _finish_blocks_swap(index_dir)
        with open(os.path.join(index_dir, "meta.json"), "r", encoding="utf-8") as f:
            self.meta = json.load(f)
        version = self.meta.get("format_version", 3)
        if version != FORMAT_VERSION:
            raise ValueError(
                f"{index_dir}: index format v{version}, but this engine reads "
                f"v{FORMAT_VERSION} (block payload layout); rebuild the index "
                "with build()"
            )

    @property
    def n_docs(self) -> int:
        return self.meta["n_docs"]

    @property
    def avgdl(self) -> float:
        return self.meta["avgdl"]

    def docs(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.index_dir, "docs"))

    def term_stats(self) -> DataFrame:
        return self.spark.read.schema(_STATS_READ_SCHEMA).parquet(
            os.path.join(self.index_dir, "term_stats")
        )

    def blocks(self) -> DataFrame:
        return self.spark.read.schema(_BLOCKS_READ_SCHEMA).parquet(
            os.path.join(self.index_dir, "blocks")
        )

    def config(self) -> EngineConfig:
        c = dict(self.meta["config"])
        for key in _RETIRED_CONFIG_KEYS:
            c.pop(key, None)
        c["stopwords"] = frozenset(c.get("stopwords") or ())
        return EngineConfig(**c)


def _estimate_input_bytes(df: DataFrame) -> Optional[int]:
    """Best-effort input size from the scan's file list (driver-side, no
    job). None when the plan has no file sources or a non-local scheme."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for uri in files:
        if uri.startswith("file:"):
            path = uri[len("file:"):]
            while path.startswith("//"):
                path = path[1:]
        elif uri.startswith("/"):
            path = uri
        else:
            return None  # remote scheme: don't guess
        try:
            total += os.path.getsize(path)
        except OSError:
            return None
    return total


# target bytes of input per dense-id sort partition: the range exchange
# only pays off when partitions hold real data; below one partition's
# worth the range-sampling job and the 32-way tiny sort are pure overhead
_SORT_BYTES_PER_PARTITION = 32 << 20


def _dense_doc_ids(run: BuildRun, pages: DataFrame, sort_partitions: int):
    """Dense 0..N-1 doc ids in deterministic (warc_ts, url) ingestion order.

    Scalable dense-rank, pure JVM (no zipWithIndex: that would pickle every
    row through Python): range-shuffle + in-partition sort, count rows per
    partition (tiny collect), then doc_id = partition offset + the row's
    index within its partition. That index comes from
    monotonically_increasing_id() (partition id << 33 + row index) in the
    same projection as the partition id, so the range exchange is the only
    one: a row_number() window over the partition id would plan a second
    hash exchange and sort of every row, text included. The sorted input
    is cached so the counts pass doesn't recompute the range exchange.

    Returns (ids, sort_cache, n_rows, input_fp): the sorted input cache is
    held on ``run``, to be released once the ids have materialized.
    """
    ordered = run.persist(
        pages.repartitionByRange(sort_partitions, "warc_ts", "url")
        .sortWithinPartitions("warc_ts", "url")
        .withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "_row",
            F.monotonically_increasing_id()
            - F.shiftleft(F.col("_pid").cast("long"), 33),
        )
    )
    # the per-partition counts pass doubles as the input-fingerprint pass:
    # bit_xor is associative/commutative, so the xor of per-partition xors
    # equals the global bit_xor over all rows — the standalone
    # _input_fingerprint scan job is only needed when validating a resume
    # manifest BEFORE deciding whether to rebuild
    gb = (
        ordered.groupBy("_pid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(url, warc_ts))").alias("fp"),
        )
        .collect()
    )
    counts = sorted((int(r["_pid"]), int(r["n"])) for r in gb)
    fp = 0
    for r in gb:
        fp ^= int(r["fp"] or 0)
    offsets = []
    acc = 0
    for pid, n in counts:
        offsets.append((pid, acc))
        acc += n
    # tiny (pid, offset) table joined broadcast — NOT an F.create_map plan
    # literal, which at 10^5+ input partitions would bloat every plan that
    # references doc_id. The broadcast join is narrow on the streamed side.
    # literal_df: a JVM LocalRelation, so the broadcast build launches no
    # Python tasks.
    spark = pages.sparkSession
    offsets_df = literal_df(spark, offsets, "_pid int, _offset long")
    out = (
        ordered.join(F.broadcast(offsets_df), "_pid", "left")
        .withColumn(
            "doc_id",
            F.col("_row") + F.coalesce(F.col("_offset"), F.lit(0).cast("long")),
        )
        .drop("_pid", "_offset", "_row")
    )
    return out, ordered, acc, fp


def _doc_tf_entries(tokenized: DataFrame) -> DataFrame:
    """(term, doc_id, doc_len, tf) — per-doc term frequencies computed
    entirely JVM-side BEFORE the build shuffle, which then moves one row
    per distinct (doc, term) instead of one per token occurrence.

    Run-length encoding over the doc's sorted token array via higher-order
    functions: sort once, find run starts (positions whose token differs
    from the previous), pair each start with the next start to get the run
    length. O(L log L) per doc, no Python, no exchange.

    Plan hygiene: `_s` (sorted array) and `_starts` are materialized in
    SEPARATE projections — inlining them would re-evaluate array_sort once
    per element inside the filter/zip_with lambdas (quadratic);
    CollapseProject keeps multi-referenced non-cheap aliases staged, which
    the parity test's plan check pins (single array_sort in the physical
    plan). The index list is sequence(0,L) minus its head: sequence(1,L)
    counts DOWN for the empty doc and would index into an empty array.
    zip_with pads the shorter side with nulls, so the empty-doc entries
    array is guarded to stay empty (empty docs contribute no postings)."""
    s = F.col("_s")
    starts = F.col("_starts")
    idx = F.slice(F.sequence(F.lit(0), F.size(s)), F.lit(2), F.size(s))
    t1 = tokenized.select(
        "doc_id",
        F.size("toks").alias("doc_len"),
        F.array_sort("toks").alias("_s"),
    )
    t2 = t1.select(
        "doc_id",
        "doc_len",
        "_s",
        F.filter(
            idx,
            lambda i: (i == F.lit(1))
            | (
                F.element_at(s, F.greatest(i - 1, F.lit(1)))
                != F.element_at(s, i)
            ),
        ).alias("_starts"),
    )
    entries = F.zip_with(
        starts,
        F.concat(
            F.slice(starts, F.lit(2), F.size(starts)),
            F.array(F.size(s) + 1),
        ),
        lambda a, b: F.struct(
            F.element_at(s, a).alias("term"), (b - a).alias("tf")
        ),
    )
    safe = F.when(F.size(starts) > 0, entries).otherwise(
        F.array().cast("array<struct<term:string,tf:int>>")
    )
    return t2.select(
        "doc_id", "doc_len", F.explode(safe).alias("_e")
    ).select(
        F.col("_e.term").alias("term"),
        "doc_id",
        "doc_len",
        F.col("_e.tf").cast("long").alias("tf"),
    )


def _encode_segment_batch(terms: pa.Array, salts, ids, dls, tfs, block_size):
    """Blocks of the complete (term, salt) segments of one batch of rows
    sorted by (term, salt, doc_id), as one Arrow record batch in
    _BLOCK_SCHEMA: one vectorized codec pass over every segment, payloads
    as one binary column built from offsets and a data buffer — no Python
    object per block. Each row is one posting: a distinct (term, doc)."""
    n = len(ids)
    change = np.empty(n, dtype=bool)
    change[0] = True
    change[1:] = salts[1:] != salts[:-1]
    change[1:] |= pc.not_equal(terms[1:], terms[:-1]).to_numpy(zero_copy_only=False)
    enc = codec.encode_segments(
        ids, tfs, dls, np.flatnonzero(change), block_size
    )
    lo, hi = enc.starts[:-1], enc.starts[1:]
    return pa.RecordBatch.from_arrays(
        [
            terms.take(pa.array(lo)).cast(pa.string()),
            pa.array(salts[lo], pa.int32()),
            pa.array(enc.block_id, pa.int32()),
            pa.array(ids[lo]),
            pa.array(ids[hi - 1]),
            pa.array(hi - lo, pa.int32()),
            pa.array(np.maximum.reduceat(tfs, lo)),
            pa.array(np.minimum.reduceat(tfs, lo)),
            pa.array(np.add.reduceat(tfs, lo)),
            pa.array(np.maximum.reduceat(dls, lo)),
            pa.array(np.minimum.reduceat(dls, lo)),
            pa.Array.from_buffers(
                pa.binary(), lo.size,
                [None, pa.py_buffer(enc.offsets.astype(np.int32)), pa.py_buffer(enc.data)],
            ),
        ],
        names=[f.name for f in _BLOCK_SCHEMA.fields],
    )


def _encode_blocks_df(salted: DataFrame, cfg: EngineConfig) -> DataFrame:
    """(term, salt)-partitioned block encoding as a STREAMING partition
    kernel: repartition on (term, salt) + JVM sort by (term, salt, doc_id),
    then one mapInArrow pass that cuts segments at key-change boundaries
    and encodes all complete segments of each Arrow batch at once
    (_encode_segment_batch). The repartition IS the one build shuffle; the
    doc_id sort runs in the JVM sorter (spillable); memory held by the
    kernel is one Arrow batch plus one partial segment.

    Input rows: (term, salt, doc_id, doc_len, tf), one per distinct
    (term, doc) — from build and merge (_doc_tf_entries) and compact
    (decoded blocks) alike."""
    block_size = cfg.block_size

    def kernel(batches):
        pend = None  # the trailing (possibly incomplete) segment's rows
        for rb in batches:
            if rb.num_rows:
                if pend is not None:
                    rb = pa.Table.from_batches([pend, rb]).combine_chunks().to_batches()[0]
                terms = rb.column(0)
                salts = rb.column(1).to_numpy()
                # the last segment may continue into the next batch: hold
                # it back (one scan from the end over its key)
                last = rb.num_rows - 1
                same = pc.and_(
                    pc.equal(terms, terms[last]), pc.equal(rb.column(1), salts[last])
                ).to_numpy(zero_copy_only=False)
                cut = int(np.flatnonzero(~same)[-1]) + 1 if not same.all() else 0
                pend = rb.slice(cut)
                if cut:
                    yield _encode_rows(rb.slice(0, cut))
        if pend is not None and pend.num_rows:
            yield _encode_rows(pend)

    def _encode_rows(rb):
        ids, dls, tfs = (rb.column(i).to_numpy().astype(np.int64) for i in (2, 3, 4))
        return _encode_segment_batch(
            rb.column(0), rb.column(1).to_numpy(), ids, dls, tfs, block_size
        )

    return (
        salted.select("term", "salt", "doc_id", "doc_len", "tf")
        .repartition("term", "salt")
        .sortWithinPartitions("term", "salt", "doc_id")
        .mapInArrow(kernel, _BLOCK_SCHEMA)
    )


def _encode_salted(
    postings: DataFrame, heavy: DataFrame, per_salt: int, cfg: EngineConfig
) -> DataFrame:
    """Blocks of ``postings`` with their ``bucket`` column: the tiny salt
    list ``heavy`` (term, _heavy) is broadcast, a heavy term's postings are
    salted by fixed global doc-id range ``per_salt`` (cfg.salt_bounds) —
    so every (term, salt) segment stays a sorted run — and the rest get
    salt 0. NO stats join: blocks are immutable, stats-free segments (see
    the FORMAT_VERSION note), so merges append segments without touching
    existing data."""
    salted = (
        postings.join(F.broadcast(heavy), "term", "left")
        .withColumn(
            "salt",
            F.when(
                F.col("_heavy").isNotNull(),
                (F.col("doc_id") / F.lit(per_salt)).cast("int"),
            ).otherwise(F.lit(0)),
        )
        .drop("_heavy")
    )
    return _encode_blocks_df(salted, cfg).withColumn(
        "bucket",
        F.pmod(F.xxhash64("term"), F.lit(cfg.num_term_buckets)).cast("int"),
    )


def _warm_python_workers_async(spark: SparkSession):
    """Fork-and-import the Python worker pool CONCURRENTLY with the
    JVM-only docs/sort stages (guide §2.6: overlap independent jobs).

    The first Python-eval stage of a fresh session pays one fork + pandas/
    pyarrow import per core (~5-6s wall at 32 cores, measured) and that
    stage is otherwise the middle of the build's encode job. A tiny
    identity mapInPandas job submitted from a daemon thread warms the pool
    while the docs stage runs pure-JVM work that leaves most cores idle;
    FIFO scheduling back-fills the warm tasks into those idle slots.
    Computes nothing anyone reads; failures are ignored."""

    def _run():
        try:
            # submitted immediately: an interleaved A/B (3 pairs) showed
            # submitting the warm job FIRST beats staggering it behind the
            # docs chain by ~0.3-0.5s — the pool is fully imported before
            # the 32-task stages need it, and the single-task docs stages
            # lose at most one slot
            def _identity(batches):
                for pdf in batches:
                    yield pdf

            n = spark.sparkContext.defaultParallelism
            spark.sparkContext.setJobDescription("warm python worker pool")
            (
                spark.range(n, numPartitions=n)
                .mapInPandas(_identity, "id long")
                .write.format("noop").mode("overwrite").save()
            )
        except Exception:
            pass  # best-effort: the pool then warms lazily as before

    threading.Thread(target=_run, daemon=True, name="py-worker-warmup").start()


def _idf_raw(n_docs: int, df: int) -> float:
    """Exact reference idf before the epsilon floor: math.log (C libm) —
    NOT jvm Math.log or numpy SIMD log, so floats match the oracle
    bit-for-bit (rank_bm25.py:91 semantics)."""
    return math.log(n_docs - df + 0.5) - math.log(df + 0.5)


def _idf_raws(n_docs: int, dfs) -> np.ndarray:
    """_idf_raw of every df in ``dfs``, in order."""
    return np.array([_idf_raw(n_docs, int(d)) for d in dfs], np.float64)


@F.pandas_udf(DoubleType())
def _floored_idf_udf(
    df_col: pd.Series, n_col: pd.Series, eps_col: pd.Series
) -> pd.Series:
    """Each term's stored idf on the executors: _idf_raw of (n, df), the
    epsilon floor ``eps`` where it is negative. Per-TERM work."""
    raws = _idf_raws(int(n_col.iloc[0]) if len(n_col) else 0, df_col)
    return pd.Series(np.where(raws < 0, eps_col.to_numpy(), raws))


def _ordered_sum(total: float, values: np.ndarray) -> float:
    """``total + values[0] + values[1] + ...`` strictly left to right —
    the reference's sequential ``+=`` (np.add.accumulate never
    reassociates; np.sum is pairwise and rounds differently)."""
    return float(np.cumsum(np.concatenate(([total], values)))[-1])


def _ordered_sum_kernel(batches):
    """mapInArrow over ONE partition of (df, n_docs) rows sorted by the
    first-occurrence key: each term's raw idf, computed from its df, summed
    across Arrow batches in that order, plus the vocab and posting counts,
    as a single row."""
    idf_sum, vocab, postings = 0.0, 0, 0
    for b in batches:
        if b.num_rows:
            dfs = b.column("df").to_numpy()
            n_docs = b.column("n_docs")[0].as_py()
            idf_sum = _ordered_sum(idf_sum, _idf_raws(n_docs, dfs))
            vocab += b.num_rows
            postings += int(dfs.sum())
    yield pa.RecordBatch.from_pydict(
        {"idf_sum": [idf_sum], "vocab_size": [vocab], "n_postings": [postings]}
    )


def _term_firsts(tokenized: DataFrame) -> DataFrame:
    """(term, df, first_doc, first_pos) of a tokenized batch: ``df`` is
    the term's document frequency and (first_doc, first_pos) its first
    occurrence — the key the reference's vocabulary is inserted in
    (oracle.py: documents in id order, each document's distinct terms in
    first-occurrence order). It is the batch's whole term_stats input.

    array_distinct dedups within each row BEFORE the explode and keeps
    first-occurrence order, so count(1) per term counts documents, pos
    ranks the term among its document's distinct terms, and the shuffle
    stays a vocab-sized partial agg with no exchange of its own. A term
    occurs once per document here, so min_by(pos, doc_id) is the position
    in the first document (fixed-width buffers: a hash aggregate, where a
    min over a struct would force a sort aggregate)."""
    return (
        tokenized.select(
            "doc_id",
            F.posexplode(F.array_distinct("toks")).alias("pos", "term"),
        )
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.min("doc_id").alias("first_doc"),
            F.min_by("pos", "doc_id").alias("first_pos"),
        )
    )


class BM25IndexBuilder:
    def __init__(self, spark: SparkSession, cfg: EngineConfig = EngineConfig()):
        if cfg.postings_mode != "fused_tf":
            raise ValueError(
                "postings_mode: the one build plan is 'fused_tf', got "
                f"{cfg.postings_mode!r}"
            )
        self.spark = spark
        self.cfg = cfg

    # ---------- public API ----------

    def build(
        self,
        webtext: DataFrame,
        index_dir: str,
        resume: bool = False,
        input_desc: str = "",
        _fail_after_groups: Optional[int] = None,
    ) -> BM25Index:
        """Build (or resume) the index at ``index_dir``.

        ``resume=True`` trusts any stage/bucket whose manifest matches the
        current lineage and recomputes only the rest. ``_fail_after_groups``
        is a test hook that aborts after N bucket groups to exercise resume.
        """
        cfg = self.cfg
        t0 = time.time()
        with BuildRun(self.spark, "build") as run:
            run.mark("docs")
            _warm_python_workers_async(self.spark)
            os.makedirs(index_dir, exist_ok=True)
            # a full (re)build supersedes any staged-but-uncommitted increment
            shutil.rmtree(_staging_root(index_dir), ignore_errors=True)
            ckpt = cfg.checkpoint_dir or os.path.join(index_dir, "manifests")
            if resume:
                # stage/bucket manifests describe the ORIGINAL full build;
                # once incremental merges have appended segments, the live
                # dirs no longer match them — distrust everything and
                # rebuild (docs and per-bucket writes are overwrite-mode,
                # clearing merge segments)
                meta_path = os.path.join(index_dir, "meta.json")
                if os.path.exists(meta_path):
                    with open(meta_path, "r", encoding="utf-8") as f:
                        if json.load(f).get("increments"):
                            shutil.rmtree(ckpt, ignore_errors=True)
                            resume = False

            docs_path = os.path.join(index_dir, "docs")
            stats_path = os.path.join(index_dir, "term_stats")
            blocks_path = os.path.join(index_dir, "blocks")

            # ---- stage 1: ingest -> docs(doc_id, url, text, doc_len) ----
            # The docs manifest is trusted only when its format/input
            # identity AND an input content fingerprint (row count +
            # order-independent xxhash64(url, warc_ts) xor — a
            # two-narrow-column scan, no shuffle) match the CURRENT input:
            # different data at the same path must recompute, not silently
            # serve the stale corpus. Same-count content swaps are caught
            # by the hash term (see _input_fingerprint). That standalone
            # scan job is only paid to validate a resume; a fresh build
            # folds the fingerprint into the docs stage's per-partition
            # counts pass (_dense_doc_ids) — one less full-input job.
            docs_manifest = os.path.join(ckpt, "stage-docs.json")
            docs_key = f"v{FORMAT_VERSION}|{input_desc}"
            docs_meta = None
            if resume and os.path.exists(docs_manifest):
                input_fp = _input_fingerprint(webtext)
                with open(docs_manifest, "r", encoding="utf-8") as f:
                    docs_meta = json.load(f)
                if docs_meta.get("docs_key") != docs_key or any(
                    docs_meta.get(k) != v for k, v in input_fp.items()
                ):
                    docs_meta = None  # stale: input changed under the checkpoint
            sort_cache = None
            if docs_meta is not None:
                # re-read loses the build-time partitioning: small parquet
                # files get packed to maxPartitionBytes and would throttle
                # the tokenize stage's parallelism, so spread explicitly
                # (resume-only cost)
                docs = self.spark.read.parquet(docs_path).repartition(
                    self.spark.sparkContext.defaultParallelism * 2
                )
            else:
                docs, sort_cache, docs_meta = self._build_docs(
                    run, webtext, docs_path, input_desc
                )
                docs_meta["docs_key"] = docs_key
                os.makedirs(ckpt, exist_ok=True)

            run.mark("salt_detect")
            n_docs = docs_meta["n_docs"]
            if n_docs == 0:
                raise ValueError(
                    "cannot build a BM25 index over an empty corpus (the "
                    "reference raises on empty corpora too, "
                    "literal_similarity.py:424-425)"
                )
            # lineage key = format version (a resume must never trust
            # partitions written by an older layout) + input identity
            # (path, fingerprint, N) + a digest of EVERY config field that
            # shapes block/stats bytes (see EngineConfig.index_key):
            # changing any of them invalidates all stage/bucket manifests
            # instead of resuming onto a stale layout
            lineage_key = (
                f"v{FORMAT_VERSION}|{input_desc}|fp={docs_meta['input_fp']}"
                f"|{n_docs}|cfg={cfg.index_key()}"
            )

            # stats manifest validation: trust only a manifest written for
            # THIS lineage (format, input, N, config)
            stats_manifest = os.path.join(ckpt, "stage-term_stats.json")
            stats_meta = None
            if resume and os.path.exists(stats_manifest):
                with open(stats_manifest, "r", encoding="utf-8") as f:
                    stats_meta = json.load(f)
                if stats_meta.get("lineage_key") != lineage_key:
                    stats_meta = None
            done = completed_buckets(ckpt, lineage_key) if resume else []

            # ONE all-to-all exchange for the whole build: per-doc TF
            # entries shuffle straight into the block encoder. The token
            # cache serves the per-term pass (df and first occurrence: the
            # salt list and, alone, the term_stats input) and the encode
            # pass.
            tokenized, rows = self._tokenized_exploded(docs)
            run.persist(tokenized)
            firsts = run.persist(_term_firsts(tokenized))
            # the salt list is TINY (terms above threshold) — collect it and
            # re-broadcast a literal so the pass runs exactly once (a
            # broadcast of the lazy plan would recompute it), and so the
            # stage wall attributes it separately
            heavy = self._collect_heavy(
                firsts.filter(F.col("df") >= cfg.salt_df_threshold).select(
                    "term", F.lit(True).alias("_heavy")
                )
            )
            run.mark("encode")
            # the async docs file write overlapped tokenize + heavy
            # detection; a manifest must never describe files not yet on
            # disk (a resumed docs stage rewrites its manifest unchanged)
            run.join_writes()
            with open(docs_manifest, "w", encoding="utf-8") as f:
                json.dump(docs_meta, f, sort_keys=True)
            vocab, total_tokens = self._build_blocks(
                run, rows, heavy, blocks_path, ckpt, lineage_key,
                n_docs=n_docs, done_buckets=set(done),
                fail_after_groups=_fail_after_groups,
            )
            run.release(docs, sort_cache, tokenized)
            run.mark("stats")
            if stats_meta is None:
                stats_meta = self._write_term_stats(
                    firsts, n_docs, stats_path, min_vocab=vocab
                )
                stats_meta["total_tokens"] = total_tokens
                stats_meta["lineage_key"] = lineage_key
            # the bucket-group writes overlapped the stats pass: all land
            # (or raise) before a manifest or meta.json records this build
            run.join_writes()
            with open(stats_manifest, "w", encoding="utf-8") as f:
                json.dump(stats_meta, f, sort_keys=True)
            run.mark(None)

            total_tokens = stats_meta["total_tokens"]
            # exact reference arithmetic: python int/int division -> float64
            avgdl = total_tokens / n_docs

            # ---- meta.json: overall commit marker ----
            meta = {
                # term_stats layout: a merge refuses indexes older than v4,
                # whose term_stats carry no first-occurrence key
                "format_version": FORMAT_VERSION,
                "n_docs": n_docs,
                "total_tokens": total_tokens,
                "avgdl": avgdl,
                "vocab_size": stats_meta["vocab_size"],
                "average_idf": stats_meta["average_idf"],
                "n_postings": stats_meta["n_postings"],
                "lineage_key": lineage_key,
                "input_desc": input_desc,
                "n_input_rows": docs_meta["n_input_rows"],
                "n_dups_dropped": docs_meta["n_input_rows"] - n_docs,
                "build_wall_s": time.time() - t0,
                "stage_wall_s": run.stage_wall_s,
                # the async writes overlap the stages above, so their time
                # shows in the stage that joins them; this is their own
                "write_wall_s": run.write_wall_s,
                # the one build plan; kept because the benchmark reads it
                "resolved_postings_mode": "fused_tf",
                "salt_per_range": cfg.salt_bounds(n_docs),
                "increments": [],
                "config": {
                    "k1": cfg.k1,
                    "b": cfg.b,
                    "epsilon": cfg.epsilon,
                    "stopwords": sorted(cfg.stopwords),
                    "lowercase_stopword_match": cfg.lowercase_stopword_match,
                    "tokenizer": cfg.tokenizer,
                    "block_size": cfg.block_size,
                    "num_term_buckets": cfg.num_term_buckets,
                    "salt_df_threshold": cfg.salt_df_threshold,
                    "num_salts": cfg.num_salts,
                    "score_mode": cfg.score_mode,
                    "fan_out_threshold": cfg.fan_out_threshold,
                    "fan_out_max": cfg.fan_out_max,
                    "variant": cfg.variant,
                    "delta": cfg.delta,
                    "checkpoint_dir": cfg.checkpoint_dir,
                    "checkpoint_groups": cfg.checkpoint_groups,
                    "checkpoint_group_min_bytes": cfg.checkpoint_group_min_bytes,
                },
            }
            with open(
                os.path.join(index_dir, "meta.json"), "w", encoding="utf-8"
            ) as f:
                json.dump(meta, f, indent=1, sort_keys=True)
        return BM25Index(self.spark, index_dir)

    def merge_new_docs(
        self,
        new_webtext: DataFrame,
        index_dir: str,
        _fail_before_commit: bool = False,
        _fail_after_commit_record: bool = False,
    ) -> BM25Index:
        """Incremental add_corpus: append new docs WITHOUT touching existing
        segments (they are stats-free and immutable — see FORMAT_VERSION
        note). The reference rebuilds its whole in-memory index per
        add_corpus (literal_similarity.py:406-414); this is the scale
        replacement: work is proportional to the NEW batch plus a vocab-size
        stats refresh. Results match a full rebuild over the accumulated
        corpus exactly (same df/N/avgdl/idf; new docs get ids old_N..).

        Reference dedup semantics hold across the boundary: a new doc whose
        text equals ANY pre-existing corpus text is silently dropped, but
        duplicates WITHIN the new batch are kept (the reference's membership
        check runs against the static pre-batch corpus,
        literal_similarity.py:389-401).

        ATOMICITY: all outputs (new docs rows, new block segments, refreshed
        term_stats, next meta.json) are staged under _staging/<inc>/ and the
        live index is only touched AFTER a COMMIT.json record is written.
        A crash before the record leaves the live index byte-identical (a
        retried merge redoes the batch from scratch); a crash after it is
        rolled forward by the next open (BM25Index.__init__) via idempotent
        renames. The live index is never part-merged. ``_fail_before_commit``
        / ``_fail_after_commit_record`` are test hooks simulating those two
        crash windows.
        """
        cfg = self.cfg
        t0 = time.time()
        with BuildRun(self.spark, "merge") as run:
            run.mark("docs")
            # rolls forward any pending inc; refuses an index of another
            # format version (older term_stats carry no first-occurrence key
            # and older payloads another layout)
            idx = BM25Index(self.spark, index_dir)
            old_n = idx.n_docs
            old_docs = idx.docs()

            # discard aborted stagings (no commit record: their data never
            # reached the live index); this merge stages under inc_dir
            staging = _staging_root(index_dir)
            for name in os.listdir(staging) if os.path.isdir(staging) else []:
                aborted = os.path.join(staging, name)
                if not os.path.exists(os.path.join(aborted, "COMMIT.json")):
                    shutil.rmtree(aborted, ignore_errors=True)
            # zero-padded old_n: _pending_increments sorts staging dir names
            # lexicographically for oldest-first roll-forward, and "inc100-…"
            # must not sort before "inc80-…" if several increments ever pend
            inc_id = f"inc{old_n:015d}-{uuid.uuid4().hex[:8]}"
            inc_dir = os.path.join(staging, inc_id)

            pages = extract_text(new_webtext).select("url", "warc_ts", "text")
            # left_anti never multiplies rows, even for duplicated old texts
            pages = pages.join(old_docs.select("text"), "text", "left_anti")
            sort_parts = max(1, self.spark.sparkContext.defaultParallelism)
            # the per-partition counts pass already totals the batch: an
            # all-duplicate batch stops here, before any further job
            with_ids, sort_cache, m_new, _ = _dense_doc_ids(run, pages, sort_parts)
            if m_new == 0:
                return idx
            # localCheckpoint TRUNCATES lineage: the append below rewrites the
            # very docs path this batch's anti-join reads, and Spark's
            # recacheByPath would otherwise recompute the batch against the
            # appended files (filtering everything out). A lineage-free copy
            # is immune.
            new_docs = with_ids.select(
                (F.col("doc_id") + F.lit(old_n)).alias("doc_id"), "url", "text"
            ).localCheckpoint(eager=True)
            run.release(sort_cache)
            new_docs.write.option("compression", INDEX_PARQUET_CODEC).mode("overwrite").parquet(os.path.join(inc_dir, "docs"))

            # ---- encode the batch's NEW segments into staging first (one
            # shuffle of per-doc TF entries). Salts beyond the old ranges:
            # new doc ids all exceed old_n, so sorted-run and no-collision
            # properties hold. Salting uses per-BATCH df (physical layout
            # only — a term heavy in the old corpus but light in this batch
            # just gets an unsalted small segment).
            run.mark("encode")
            per_salt = idx.meta.get("salt_per_range") or cfg.salt_bounds(old_n)
            tokenized, rows = self._tokenized_exploded(new_docs)
            run.persist(tokenized)
            # per-batch df and first occurrences; new doc ids already start
            # at old_n, so a new term's key sorts after every old term's,
            # as in the reference's insertion order
            firsts = run.persist(_term_firsts(tokenized))
            heavy = firsts.filter(
                F.col("df") >= cfg.salt_df_threshold
            ).select("term", F.lit(True).alias("_heavy"))
            # the batch's token total is observed on the write itself
            tokens = Observation(f"tokens-{uuid.uuid4().hex[:8]}")
            _encode_salted(rows, heavy, per_salt, cfg).observe(
                tokens, F.sum("tf_sum").alias("n")
            ).write.option("compression", INDEX_PARQUET_CODEC).mode(
                "overwrite"
            ).partitionBy("bucket").parquet(os.path.join(inc_dir, "blocks"))
            run.release(tokenized)

            # ---- stats refresh: old term_stats ∪ the batch's terms. A
            # term present before keeps its stored first-occurrence key; a
            # new term takes the batch's. Summed in that key order, the
            # merged average_idf is bit-identical to a full rebuild's.
            run.mark("stats")
            old = self.spark.read.schema(_STATS_WRITE_DDL).parquet(
                os.path.join(index_dir, "term_stats")
            )
            combined = old.join(firsts, "term", "full_outer").select(
                "term",
                (
                    F.coalesce(old["df"], F.lit(0))
                    + F.coalesce(firsts["df"], F.lit(0))
                ).alias("df"),
                *(F.coalesce(old[k], firsts[k]).alias(k) for k in _STATS_KEY),
            )
            n_total = old_n + m_new
            stats_meta = self._write_term_stats(
                combined, n_total, os.path.join(inc_dir, "term_stats"),
                min_vocab=int(idx.meta.get("vocab_size") or 0),
            )
            run.mark(None)
            new_tokens = int(tokens.get["n"] or 0)

            # ---- stage next meta, write the commit record, roll forward ----
            meta = dict(idx.meta)
            meta["n_docs"] = n_total
            meta["total_tokens"] = meta["total_tokens"] + new_tokens
            meta["avgdl"] = meta["total_tokens"] / n_total
            meta["vocab_size"] = stats_meta["vocab_size"]
            meta["average_idf"] = stats_meta["average_idf"]
            meta["n_postings"] = stats_meta["n_postings"]
            meta.setdefault("increments", []).append(
                {
                    "inc_id": inc_id,
                    "added_docs": int(m_new),
                    "added_tokens": new_tokens,
                    "wall_s": round(time.time() - t0, 2),
                    "stage_wall_s": run.stage_wall_s,
                }
            )
            with open(
                os.path.join(inc_dir, "meta_next.json"), "w", encoding="utf-8"
            ) as f:
                json.dump(meta, f, indent=1, sort_keys=True)
            if _fail_before_commit:
                raise RuntimeError("test hook: crash before commit record")
            # atomic commit record: once this rename lands, the increment WILL
            # be applied (here, or by the next BM25Index open if we crash)
            commit_tmp = os.path.join(inc_dir, "COMMIT.json.tmp")
            with open(commit_tmp, "w", encoding="utf-8") as f:
                json.dump(
                    {"inc_id": inc_id, "added_docs": int(m_new), "n_docs": n_total},
                    f,
                    sort_keys=True,
                )
            os.replace(commit_tmp, os.path.join(inc_dir, "COMMIT.json"))
            if _fail_after_commit_record:
                raise RuntimeError("test hook: crash after commit record")
            _apply_increment(index_dir, inc_dir)
        return BM25Index(self.spark, index_dir)

    def compact(self, index_dir: str) -> BM25Index:
        """Merge accumulated incremental segments back into the optimal
        physical layout — the Lucene-merge analog, run offline between
        ingest waves.

        Incremental merges append IMMUTABLE segments (see merge_new_docs),
        so a term touched by k increments holds k+1 segments whose final
        blocks are partial (< block_size) and whose doc ranges interleave
        at decode time. Queries stay correct (the scorer's candidate merge
        is order-insensitive and per-block bounds hold regardless), but
        each extra segment costs block-metadata rows + partial-block decode
        overhead. Compaction rebuilds one sorted run per (term, salt) with
        full blocks and salt ranges recomputed from the CURRENT corpus
        size — WITHOUT re-tokenizing anything: postings reconstruct from
        the block payloads themselves (one pruned blocks scan + the
        standard single-exchange encode).

        The swap is crash-safe: the new layout is written beside the live
        one, a blocks.swap.json marker is committed, and the two renames
        roll forward on the next open if interrupted (_finish_blocks_swap).
        term_stats/meta are unchanged by construction (same postings, same
        df/idf/N) except salt_per_range and a compaction record.

        Layout comes from the INDEX's stored config, not the builder's: the
        query engine prunes partitions with meta's num_term_buckets and
        filters with its tokenizer config, so re-bucketing under a
        different builder cfg would silently break pruning. Compaction
        never changes semantics — only segment layout."""
        t0 = time.time()
        with BuildRun(self.spark, "compact") as run:
            run.mark("salt_detect")
            idx = BM25Index(self.spark, index_dir)  # rolls forward pending work
            cfg = idx.config()
            n_docs = idx.n_docs
            # the open completed any swap blocks.swap.json recorded, so a
            # blocks.next-*/blocks.old-* dir left now is an orphan of a failed
            # compact or of a swap's unfinished cleanup: never live
            for name in os.listdir(index_dir):
                if name.startswith(("blocks.next-", "blocks.old-")):
                    shutil.rmtree(os.path.join(index_dir, name))

            # blocks -> postings rows, Arrow-batched; column-pruned scan
            def decode_kernel(batches):
                for rb in batches:
                    counts = rb.column(1).to_numpy().astype(np.int64)
                    ids, tfs, dls = codec.decode_blocks_batch(rb.column(2), counts)
                    terms = rb.column(0).take(
                        pa.array(np.repeat(np.arange(rb.num_rows), counts))
                    )
                    yield pa.RecordBatch.from_arrays(
                        [terms, pa.array(ids), pa.array(dls), pa.array(tfs)],
                        names=["term", "doc_id", "doc_len", "tf"],
                    )

            postings = (
                idx.blocks()
                .select("term", "n_postings", "payload")
                .mapInArrow(
                    decode_kernel, "term string, doc_id long, doc_len long, tf long"
                )
            )
            # exact df is already on disk — the salt list costs one tiny scan
            heavy = self._collect_heavy(
                idx.term_stats()
                .filter(F.col("df") >= cfg.salt_df_threshold)
                .select("term", F.lit(True).alias("_heavy"))
            )
            run.mark("encode")
            per_salt = cfg.salt_bounds(n_docs)
            swap_id = uuid.uuid4().hex[:8]
            next_name = f"blocks.next-{swap_id}"
            (
                _encode_salted(postings, heavy, per_salt, cfg)
                .write.option("compression", INDEX_PARQUET_CODEC).mode("overwrite")
                .partitionBy("bucket")
                .parquet(os.path.join(index_dir, next_name))
            )
            marker_tmp = os.path.join(index_dir, "blocks.swap.json.tmp")
            with open(marker_tmp, "w", encoding="utf-8") as f:
                json.dump({"next": next_name, "old": f"blocks.old-{swap_id}"}, f)
            os.replace(marker_tmp, os.path.join(index_dir, "blocks.swap.json"))
            _finish_blocks_swap(index_dir)
            run.mark(None)

            # meta: record the compaction (resume stays distrustful of stage
            # manifests exactly as after any increment) + the new salt ranges.
            # A crash before this write leaves a compacted index with a stale
            # salt_per_range — layout metadata only, scores unaffected.
            meta = dict(idx.meta)
            meta["salt_per_range"] = per_salt
            meta.setdefault("increments", []).append(
                {
                    "compaction": swap_id,
                    "wall_s": round(time.time() - t0, 2),
                    "stage_wall_s": run.stage_wall_s,
                }
            )
            tmp = os.path.join(index_dir, "meta.json.tmp")
            with open(tmp, "w", encoding="utf-8") as f:
                json.dump(meta, f, indent=1, sort_keys=True)
            os.replace(tmp, os.path.join(index_dir, "meta.json"))
        return BM25Index(self.spark, index_dir)

    # ---------- stages ----------

    def _tokenized_exploded(self, docs: DataFrame):
        """(tokenized, rows): the persisted token cache and the per-doc TF
        entries (_doc_tf_entries) for the one build shuffle.

        SINGLE tokenization pass (tokenization dominates build cost at
        webtext scale — never run it twice; deterministic retokenize from
        the docs table on resume). JVM regexp path by default (no Python
        workers in the scan — a Python UDF stage at local[cores]
        oversubscribes the box 2x and scales negatively); jieba flips this
        to the Arrow UDF. The tokenized DF is PERSISTED before fan-out (it
        feeds the first-occurrence/salt-list pass and the encode pass):
        Catalyst collapses projections, so without the cache the tokenizer
        expression would be inlined into every consumer and run twice+ —
        measured 2x the whole stage cost at 1M docs.

        Per-doc TF is pre-aggregated MAP-SIDE with zero extra exchange —
        all of a doc's tokens live in one row before the explode, so
        (term, tf) pairs come from a pure JVM run-length pass over the
        doc's sorted token array. The shuffle then moves one row per
        distinct (doc, term) instead of one per token occurrence: on
        natural text (Zipf head terms repeat within documents) that cuts
        the build's all-to-all volume ~25-45%, the scarce resource at
        cluster scale, for per-doc sort CPU, the resource that scales
        with cores (1.5x faster at 60k docs, 1.2x at 200k than shuffling
        raw tokens; BENCH/ab_fused_tf_sizes_r4.jsonl)."""
        cfg = self.cfg
        _, tok_fn = choose_corpus_tokenizer(cfg.stopwords, cfg.tokenizer)
        tokenized = docs.select(
            "doc_id", tok_fn(F.col("text")).alias("toks")
        ).persist(StorageLevel.MEMORY_AND_DISK)
        return tokenized, _doc_tf_entries(tokenized)

    def _collect_heavy(self, heavy: DataFrame) -> DataFrame:
        """Materialize the salt list on the driver (thousands of rows even at
        webtext scale — df >= threshold bounds its size at total_tokens /
        threshold) and return it as a literal DF (JVM LocalRelation — the
        broadcast build launches no Python tasks and never re-runs the
        detection plan)."""
        rows = [(r["term"], True) for r in heavy.collect()]
        return literal_df(self.spark, rows, "term string, _heavy boolean")

    def _build_docs(
        self, run: BuildRun, webtext: DataFrame, docs_path: str, input_desc: str
    ):
        """Stage 1: (docs, sort_cache, meta) — the docs cache and the sort
        cache it still reads (or None), both held on ``run``, and the stage
        meta. A small corpus writes its files async on ``run``."""
        # NO dedup on the initial build: reference add_corpus keeps
        # within-batch duplicate texts (its membership check runs against the
        # static pre-batch corpus, literal_similarity.py:389-401) — so every
        # input row becomes a corpus doc and inflates N/df/avgdl exactly like
        # the reference. This also removes a full-corpus text-keyed shuffle
        # from the build path. Cross-batch dedup lives in merge_new_docs.
        pages = extract_text(webtext).select("url", "warc_ts", "text")
        # sort width derives from the INPUT SIZE, not a core-count constant
        # (guide §2): a small corpus range-sorts in one partition — which
        # skips the RangePartitioner's sampling job entirely — while
        # anything bigger than cores x _SORT_BYTES_PER_PARTITION still
        # spreads over every core. Unknown size falls back to cores.
        par = max(1, self.spark.sparkContext.defaultParallelism)
        est = _estimate_input_bytes(webtext)
        if est is not None:
            sort_parts = max(1, min(par, -(-est // _SORT_BYTES_PER_PARTITION)))
        else:
            sort_parts = par
        with_ids, sort_cache, n_rows, input_fp = _dense_doc_ids(run, pages, sort_parts)
        narrow = with_ids.select("doc_id", "url", "text")
        # keep the partitioned DF alive for the tokenize stage: re-reading
        # the freshly written parquet would re-pack it into
        # ~size/maxPartitionBytes partitions and serialize tokenization
        if sort_parts < par:
            # small corpus: write the sorted single-partition layout (one
            # well-sized file, cheap commit — guide §6) and cache a spread
            # copy for tokenize parallelism. The spread cache materializes
            # lazily at its first consumer, so the sort cache must outlive
            # this call — deferring its release is fine HERE because this
            # branch only exists for inputs under cores x 32MB.
            # The FILE write runs ASYNC (guide §2.6): n_docs is already
            # known from the counts pass, and nothing during the build
            # reads the docs files (the cache serves tokenize).
            run.write_async(
                "docs-write",
                lambda: narrow.write.option("compression", INDEX_PARQUET_CODEC).mode("overwrite").parquet(docs_path),
            )
            docs = run.persist(narrow.repartition(par))
            n_docs = n_rows
        else:
            obs = Observation(f"docs-{uuid.uuid4().hex[:8]}")
            docs = run.persist(narrow.observe(obs, F.count(F.lit(1)).alias("n")))
            # the write populates the cache AND the row-count observation —
            # no separate count job over the corpus
            docs.write.option("compression", INDEX_PARQUET_CODEC).mode("overwrite").parquet(docs_path)
            n_docs = int(obs.get["n"])
            run.release(sort_cache)
            sort_cache = None
        meta = {
            "n_docs": int(n_docs),
            "n_input_rows": int(n_docs),  # no initial-build dedup: 1:1
            "input_desc": input_desc,
            # folded into the counts pass by _dense_doc_ids — equals the
            # standalone _input_fingerprint(webtext) (extract_text is 1:1)
            "input_fp": int(input_fp),
        }
        return docs, sort_cache, meta

    def _write_term_stats(
        self,
        terms: DataFrame,
        n_docs: int,
        stats_path: str,
        min_vocab: int = 0,
    ) -> dict:
        """The stats arithmetic of build and merge: exact BM25Okapi idf,
        average_idf over the full vocab, epsilon floor (rank_bm25.py:88-98)
        and the term_stats write.

        ``terms`` has one (term, df, first_doc, first_pos) row per term.
        The raw idf is summed sequentially (_ordered_sum) in (first_doc,
        first_pos) order — the order the reference inserts terms into its
        vocabulary and sums them in — so average_idf, and every floored
        idf, is bit-identical to the reference's and the same for a merge
        and a full rebuild. (A pairwise np.sum, math.fsum or a partitioned
        Spark sum would each round differently.)

        Up to _DRIVER_STATS_MAX_VOCAB terms, one Arrow collect bounded at
        cap + 1 rows brings them to the driver, which sorts, sums and
        writes one sorted file. Past the cap (known from the collect, or from
        ``min_vocab``, a lower bound on the vocab the caller already has)
        one task streams the dfs in key order through _ordered_sum_kernel,
        which computes and sums the raw idf (a single result row: the
        driver holds no vocab-sized state), and the floored idf is written
        distributed by one pandas UDF. Returns the meta: vocab_size,
        average_idf, epsilon_floor and n_postings."""
        cap = _DRIVER_STATS_MAX_VOCAB
        terms = terms.select("term", "df", *_STATS_KEY)
        tbl = None
        if min_vocab <= cap:
            tbl = terms.limit(cap + 1).toArrow()
            if tbl.num_rows > cap:
                tbl = None  # past the cap: sum distributed
        n_col = F.lit(n_docs).cast("long").alias("n_docs")
        if tbl is not None:
            tbl = tbl.sort_by([(k, "ascending") for k in _STATS_KEY])
            dfs = tbl.column("df").to_numpy()
            raws = _idf_raws(n_docs, dfs)
            g = {
                "idf_sum": _ordered_sum(0.0, raws),
                "vocab_size": tbl.num_rows,
                "n_postings": int(dfs.sum()),
            }
        else:
            g = (
                terms.select("df", n_col, *_STATS_KEY)
                .repartition(1)
                .sortWithinPartitions(*_STATS_KEY)
                .mapInArrow(
                    _ordered_sum_kernel,
                    "idf_sum double, vocab_size long, n_postings long",
                )
                .collect()[0]
                .asDict()
            )
        vocab_size = g["vocab_size"]
        average_idf = g["idf_sum"] / vocab_size if vocab_size else 0.0
        eps = self.cfg.epsilon * average_idf
        if tbl is not None:
            # an Arrow-backed frame: a VALUES literal of this many rows
            # would cost seconds of SQL parsing
            stats = self.spark.createDataFrame(
                pa.table(
                    {
                        "term": tbl.column("term"),
                        "df": tbl.column("df"),
                        "idf": np.where(raws < 0, eps, raws),
                        **{k: tbl.column(k) for k in _STATS_KEY},
                    }
                )
            )
        else:
            stats = terms.select(
                "term",
                "df",
                _floored_idf_udf("df", n_col, F.lit(eps)).alias("idf"),
                *_STATS_KEY,
            )
        # range-partitioned + sorted by term: the query path's
        # per-batch stats lookup (term IN [...]) then prunes to a
        # handful of row groups via parquet min/max stats instead of
        # scanning the whole vocab table. A vocab that fits one sorted
        # file needs no range-sampling job — min/max row-group pruning
        # works the same within one file.
        parts = max(1, -(-vocab_size // _STATS_ROWS_PER_PARTITION))
        sink = (
            stats.repartition(1)
            if parts == 1
            else stats.repartitionByRange(parts, F.col("term"))
        )
        (
            sink.sortWithinPartitions("term")
            .write.option("compression", INDEX_PARQUET_CODEC).mode("overwrite")
            .parquet(stats_path)
        )
        return {
            "vocab_size": vocab_size,
            "average_idf": average_idf,
            "epsilon_floor": eps,
            "n_postings": int(g["n_postings"]),
        }

    def _build_blocks(
        self,
        run: BuildRun,
        postings: DataFrame,
        heavy: DataFrame,
        blocks_path: str,
        ckpt: str,
        lineage_key: str,
        n_docs: int,
        done_buckets: set,
        fail_after_groups: Optional[int] = None,
    ):
        """``postings`` are per-doc TF entries (term, doc_id, doc_len, tf);
        ``heavy`` is the tiny salt list (term, _heavy) — always broadcast.

        Returns (vocab, total_tokens): the exact vocab size (0 when the
        stage fully resumed) and token count (sum of tf_sum). The blocks
        cache is held on ``run``: its bucket-group writes run async,
        overlapped with the caller's stats pass; the caller joins them
        before a manifest or meta.json records the build."""
        cfg = self.cfg
        all_buckets = list(range(cfg.num_term_buckets))
        todo = [b for b in all_buckets if b not in done_buckets]
        # clean untrusted partials (buckets without manifests)
        for b in todo:
            part_dir = os.path.join(blocks_path, f"bucket={b}")
            if os.path.isdir(part_dir):
                shutil.rmtree(part_dir)
        if not todo:
            # fully-resumed blocks stage: every bucket manifest matches this
            # lineage — never trigger the encode job (metrics included);
            # the token count is one column-pruned sum over the files
            on_disk = self.spark.read.schema(_BLOCKS_READ_SCHEMA).parquet(
                blocks_path
            )
            return 0, int(on_disk.agg(F.sum("tf_sum")).collect()[0][0] or 0)
        blocks = run.persist(
            _encode_salted(postings, heavy, cfg.salt_bounds(n_docs), cfg)
        )

        # per-bucket metrics in ONE job (not one per group) — the group loop
        # below then only pays the write
        metrics = {
            int(r["bucket"]): r
            for r in blocks.groupBy("bucket")
            .agg(
                F.countDistinct("term").alias("n_terms"),
                F.sum("n_postings").alias("n_postings"),
                F.count(F.lit(1)).alias("n_blocks"),
                F.sum(F.length("payload")).alias("payload_bytes"),
                F.sum("tf_sum").alias("n_tokens"),
            )
            .collect()
        }
        # exact global vocab (buckets partition terms by hash): a vocab
        # past the driver stats cap then skips the bounded collect
        vocab = sum(int(m["n_terms"] or 0) for m in metrics.values())
        total_tokens = sum(int(m["n_tokens"] or 0) for m in metrics.values())
        # tokenize+shuffle+encode+cache materialized above
        run.mark("blocks_write")

        # resume granularity scales with the WORK a checkpoint guards: a
        # group that protects less than checkpoint_group_min_bytes of
        # payload costs more in extra write jobs than a retry would — at
        # bench/test scale that collapses to one write job, at warehouse
        # scale the configured group count is reached quickly. 0 disables
        # the adaptivity (tests that pin exact group counts set it).
        n_groups = max(1, cfg.checkpoint_groups)
        min_bytes = cfg.checkpoint_group_min_bytes
        if min_bytes > 0:
            total_payload = sum(
                int(m["payload_bytes"] or 0) for m in metrics.values()
            )
            n_groups = min(
                n_groups, max(1, -(-total_payload // min_bytes))
            )
        group_size = max(1, (len(all_buckets) + n_groups - 1) // n_groups)
        groups = [todo[i : i + group_size] for i in range(0, len(todo), group_size)]

        def _write_groups():
            for gi, grp in enumerate(groups):
                if fail_after_groups is not None and gi >= fail_after_groups:
                    raise RuntimeError(
                        f"[test hook] aborting blocks build after {gi} groups"
                    )
                t0 = time.time()
                part = blocks.filter(F.col("bucket").isin(grp))
                (
                    part.repartition(max(1, len(grp)), "bucket")
                    .sortWithinPartitions("term", "salt", "block_id")
                    .write.option("compression", INDEX_PARQUET_CODEC).mode("append")
                    .partitionBy("bucket")
                    .parquet(blocks_path)
                )
                wall = time.time() - t0
                for b in grp:
                    m = metrics.get(b)
                    write_manifest(
                        ckpt,
                        b,
                        {
                            "lineage_key": lineage_key,
                            "bucket": b,
                            "n_terms": int(m["n_terms"]) if m is not None else 0,
                            "n_postings": int(m["n_postings"]) if m is not None else 0,
                            "n_blocks": int(m["n_blocks"]) if m is not None else 0,
                            "payload_bytes": int(m["payload_bytes"]) if m is not None else 0,
                            "group_wall_s": wall,
                        },
                    )

        # the group writes run CONCURRENTLY with the caller's stats pass
        # (guide §2.6) — they read the blocks cache, the stats pass reads
        # the per-term cache, and each bucket manifest is still written
        # strictly after its group's files land
        run.write_async("blocks-write", _write_groups)
        return vocab, total_tokens
