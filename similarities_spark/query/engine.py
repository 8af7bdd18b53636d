"""Distributed BM25 query engine over the term-partitioned block index.

Every search surface ranks with ONE kernel, ``scorer.top_k`` (block-max
MaxScore, exact in-order rescore, zero-score padding from the doc range it
scores), through one of two tails.

``search`` / ``search_df``, per query batch:

  queries -> tokenized in driver Python (query mode: NO stopword filter,
             duplicates kept, reference literal_similarity.py:434)
    -> per-term df/idf from term_stats, read with pyarrow.dataset (driver
       snapshot for vocabs up to the 20k stats cap, else one term-IN
       filtered read); terms absent from the index carry no blocks and drop
       out here
    -> candidate volume: sum of df over each query's in-index terms, summed
       over the batch — known before any block is read
    -> GATE: no explicit ``fan_out``, batch volume <= cfg.fan_out_threshold
       (the postings one scorer task may hold), and serial scoring in the
       driver is predicted to finish before the Spark tail would with the
       cluster's parallelism (_score_in_process)?

  driver tail (gate passed) — ZERO Spark jobs, the stats lookup past the
  cap included:
    blocks read with pyarrow.dataset in the driver: bucket IN (term
                 buckets) -> hive PARTITION pruning, term IN (terms) ->
                 row filter over the pruned files
    -> an Arrow table (bounded: at most the threshold's postings)
    -> scorer.top_k per query, in driver Python
    -> hits as a LocalRelation (no Exchange)

  Spark tail (gate failed, or ``fan_out=`` given; _spark_tail):
    one marker row per query (query_id, tokens, token_dfs), a LocalRelation,
    unioned with the same pruned blocks scan broadcast-joined with the
    query-term stats
    -> fan-out: markers x range(fan_out), block rows exploded into the
       doc-id ranges they overlap; fat queries shard once one query's
       volume exceeds the threshold
    -> repartition(query_id, range_id) to the cluster's parallelism
    -> groupBy(query_id, range_id).applyInPandas: scorer.top_k, ranked
    -> fan-out only: one row_number window keeps each query's global top k

``search_join_df`` runs the same Spark tail with its markers and block rows
built by joins instead of driver lookups (see its docstring). Either way
only index partitions/row-groups holding query terms are ever READ; the big
index never moves, and nothing is cached. Zero-score padding (reference
literal_similarity.py:437-440) ranks unmatched low doc ids after the
matches; results are bit-identical across tails and fan-outs. Each search
records which tail ran, and the wall of each of its stages, in
``engine.last_search``.
"""

from __future__ import annotations

import functools
import os
import time
from typing import Dict, Optional, Sequence, Union

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from similarities_spark.index import build as _build
from similarities_spark.index.build import BM25Index
from similarities_spark.localdf import literal_df as _literal_df
from similarities_spark.query import scorer as _scorer
from similarities_spark.tokenize import make_tokenizer_udf, tokenize_text
from similarities_spark.xxh64 import term_bucket

_HITS_DDL = "query_id long, rank int, doc_id long, score double"
_MARKER_DDL = (
    "query_id long, tokens array<string>, token_dfs map<string,bigint>"
)
# the block columns the scorer reads (all but tf_sum and the bucket key)
_BLOCK_COLS = (
    "term", "salt", "block_id", "min_doc", "max_doc", "n_postings",
    "tf_max", "tf_min", "dl_max", "dl_min", "payload",
)

# Sizing of the driver tail's gate, measured on a 5k-doc index (Zipf
# s = 1.0, mean 100 tokens, 12k-word vocabulary) in 4- and 2-core local
# mode, batches of 1 to 1000 queries holding 4k to 5.7M candidate postings:
# the driver tail scores about 1.0M candidate postings/s serially, one
# executor scoring task about 0.4M/s (Arrow transfer and task overheads
# included), and the distributed tail costs about 1.2 s more than the
# driver tail before any posting is scored (its jobs and shuffles; measured
# while that tail still ran a separate pad/rank stage). Measured
# crossovers: about 3.5M postings on 4 cores (the model below predicts
# 3.2M), none up to 5.7M on 2 cores (the model predicts none). The driver
# rate was measured while the driver tail still read its blocks with a
# Spark job; it now reads them with pyarrow.dataset, so the driver tail is
# somewhat faster than this model assumes.
_DRIVER_POSTINGS_PER_S = 1.0e6
_TASK_POSTINGS_PER_S = 0.4e6
_SPARK_TAIL_EXTRA_S = 1.2


def _stats_dict(tbl: pa.Table) -> Dict[str, tuple]:
    """term -> (df, idf) from a ``term_stats`` read as Arrow."""
    return dict(
        zip(
            tbl.column("term").to_pylist(),
            zip(tbl.column("df").to_pylist(), tbl.column("idf").to_pylist()),
        )
    )


def _encodes_utf8(term: str) -> bool:
    try:
        term.encode("utf-8")
    except UnicodeEncodeError:
        return False
    return True


class _Walls:
    """Per-stage walls of one search call. Each ``mark(stage)`` closes the
    stage that ran since the previous mark, so the walls are contiguous and
    sum to the time from the first clock to the last mark."""

    def __init__(self):
        self.stage_s: Dict[str, float] = {}
        self._t = time.perf_counter()

    def mark(self, stage: str) -> None:
        now = time.perf_counter()
        self.stage_s[stage] = now - self._t
        self._t = now


class BM25QueryEngine:
    def __init__(self, index: BM25Index, cfg=None):
        """``cfg`` overrides the index's stored config for query-time-only
        knobs (score_mode, fan_out_*, variant); index-layout fields must
        match what was built."""
        self.index = index
        self.spark = index.spark
        self.cfg = cfg if cfg is not None else index.config()
        self.last_fan_out: Optional[int] = None
        # per-search record (every search surface, see _record_search):
        # path ("driver" | "spark"), candidate_postings (the batch volume
        # the gate compared), blocks_read (driver path only), fan_out and
        # stage_s (the wall of each stage of the call)
        self.last_search: Optional[dict] = None
        # HANDLES (not data) to the index tables, created once: the Spark
        # tail's DataFrames (spark.read.parquet lists files eagerly on the
        # driver) and the driver tail's pyarrow datasets (discovered once
        # here), so no search re-pays a listing. Both pin the files present
        # at construction — consistent with BM25Index.meta, which is read
        # once at open. The index dir is a local path (BM25Index opens its
        # meta.json with open()), read here with the Spark read schemas.
        self._blocks_df = index.blocks()
        self._stats_df = index.term_stats()
        self._blocks_ds = ds.dataset(
            os.path.join(index.index_dir, "blocks"),
            schema=to_arrow_schema(_build._BLOCKS_READ_SCHEMA),
            format="parquet",
            partitioning=ds.partitioning(
                pa.schema([("bucket", pa.int32())]), flavor="hive"
            ),
        )
        self._stats_ds = ds.dataset(
            os.path.join(index.index_dir, "term_stats"),
            schema=to_arrow_schema(_build._STATS_READ_SCHEMA),
            format="parquet",
        )
        # vocab-capped driver snapshot of term_stats, loaded lazily at the
        # first search: the per-batch df/idf lookup then costs a dict probe
        # instead of a read. Gated on the EXACT vocab size from meta (the
        # builder's driver stats-tail cap) — a web-scale vocab never loads;
        # values come from the same parquet bytes, so scores are unchanged.
        self._stats_snapshot: Optional[dict] = None

    def _lookup_stats(self, terms) -> Dict[str, tuple]:
        """df/idf for the given terms, read in the driver with pyarrow (no
        Spark job): from the vocab-capped driver snapshot when the whole
        stats table is tiny (one read per engine, then a dict probe per
        batch), else a term-IN filtered read of the batch's terms."""
        cap = _build._DRIVER_STATS_MAX_VOCAB
        vocab = int(self.index.meta.get("vocab_size") or (cap + 1))
        if vocab <= cap:
            if self._stats_snapshot is None:
                self._stats_snapshot = _stats_dict(
                    self._stats_ds.to_table(columns=["term", "df", "idf"])
                )
            return {
                t: self._stats_snapshot[t]
                for t in terms
                if t in self._stats_snapshot
            }
        # a term UTF-8 cannot encode (a lone surrogate) is in no index, and
        # no Arrow filter can hold it
        terms = [t for t in terms if _encodes_utf8(t)]
        return _stats_dict(
            self._stats_ds.to_table(filter=ds.field("term").isin(terms))
        )

    def search(
        self,
        queries: Union[str, Sequence[str], Dict[int, str]],
        topn: int = 10,
        include_text: bool = False,
    ) -> DataFrame:
        """Reference most_similar surface (literal_similarity.py:416-442):
        str | list | dict of queries -> ranked hits DataFrame
        (query_id, rank, doc_id, score [, corpus_doc]).

        Queries are already driver-side values here, so they tokenize in
        driver Python directly (same tokenize_text the query UDF wraps) —
        no round-trip through a queries DataFrame just to collect it back."""
        walls = _Walls()
        if isinstance(queries, str):
            queries = [queries]
        if isinstance(queries, (list, tuple)):
            queries = {i: q for i, q in enumerate(queries)}
        tok_lists = [
            (int(q), tokenize_text(text, mode="query"))
            for q, text in queries.items()
        ]
        walls.mark("tokenize")
        return self._search_tokens(
            tok_lists, topn=topn, include_text=include_text, fan_out=None,
            walls=walls,
        )

    def search_df(
        self,
        queries_df: DataFrame,
        topn: int = 10,
        include_text: bool = False,
        fan_out: Optional[int] = None,
    ) -> DataFrame:
        """``fan_out=R`` splits scoring into R doc-id range shards per query:
        each (query, range) group scores its shard fully (still bit-exact
        per doc — ranges partition the doc space) and emits its padded
        local top-k; a global window merges. This is the
        single-query-latency path at extreme scale — one query's work
        spreads over R tasks instead of one. When ``fan_out`` is None it
        auto-enables once the estimated candidate volume of the fattest
        query exceeds ``cfg.fan_out_threshold`` postings — and while the
        whole batch's volume stays within that threshold and serial
        scoring is predicted to win (``_score_in_process``), the batch is
        scored in-process on the driver instead (see the module docstring). An explicit
        ``fan_out`` always runs the Spark tail. All variants decompose over
        doc ranges: Okapi/BM25L because their unmatched-doc contribution is
        exactly 0; BM25Plus because its per-token idf*delta baseline is a
        query constant every range group reproduces from its marker's
        token_dfs, independent of which blocks it sees.

        The raw (query_id, text) rows are collected ONCE (the only
        DataFrame action on queries; they are driver-adjacent by contract)
        and tokenized in driver Python with the very function the query
        UDF wraps (tokenize_text, mode='query' — bit-identical tokens) —
        no Python-UDF tokenize job + explode + distinct shuffle per batch.
        Its ``tokenize`` stage wall includes that collect."""
        walls = _Walls()
        qrows = queries_df.select(
            F.col("query_id").cast("long").alias("query_id"), "text"
        ).collect()
        tok_lists = [
            (int(r["query_id"]), tokenize_text(r["text"], mode="query"))
            for r in qrows
        ]
        walls.mark("tokenize")
        return self._search_tokens(
            tok_lists, topn=topn, include_text=include_text, fan_out=fan_out,
            walls=walls,
        )

    def _search_tokens(
        self,
        tok_lists,
        topn: int,
        include_text: bool,
        fan_out: Optional[int],
        walls: _Walls,
    ) -> DataFrame:
        """Driver-adjacent scoring over pre-tokenized (query_id, tokens)
        pairs. Looks up the batch's df/idf, sums its candidate volume and
        picks the tail: in-process scoring when no ``fan_out`` is forced
        and the whole batch fits one scorer task, else the Spark tail. On
        the Spark tail everything query-sized crosses into the JVM as Arrow
        and plans as a LocalRelation (_literal_df): the query markers and
        the broadcast df/idf stats side, so the only Python stage in the
        physical plan is the scorer kernel itself. The driver tail's hits
        take the same boundary. ``walls`` (its ``tokenize`` stage already
        closed) records the stats stage (lookup, candidate volume and the
        gate), then the driver tail's blocks, score and hits stages or the
        Spark tail's plan build."""
        cfg = self.cfg
        tokens_by_q: Dict[int, list] = {}
        for q, toks in tok_lists:
            tokens_by_q.setdefault(q, []).extend(toks)
        terms = sorted({t for toks in tokens_by_q.values() for t in toks})
        stat_map = self._lookup_stats(terms) if terms else {}
        # corpus df of each distinct in-index token per query (terms absent
        # from the index carry no blocks and drop out here)
        dfs_by_q = {
            q: {t: stat_map[t][0] for t in set(toks) if t in stat_map}
            for q, toks in tokens_by_q.items()
        }
        # BM25Plus pads at a per-token baseline that every doc range must
        # rebuild from the df, also where none of the token's blocks fall
        token_dfs_by_q = dfs_by_q if cfg.variant == "bm25plus" else {}
        # candidate volume per query: sum(df) over its in-index terms (exact
        # upper bound on the postings one scorer task would decode)
        per_q = [sum(d.values()) for d in dfs_by_q.values()]
        candidates = sum(per_q)
        if fan_out is None and self._score_in_process(candidates):
            walls.mark("stats")
            hits, blocks_read = self._search_in_process(
                tokens_by_q, token_dfs_by_q, stat_map, topn, walls
            )
            self._record_search(
                "driver", candidates, None, walls.stage_s, blocks_read
            )
            return self._with_text(hits, include_text)

        if fan_out is None:
            fan_out = self._auto_fan_out(max(per_q, default=0))
        walls.mark("stats")
        # a marker carries only the query's in-index tokens (in order, with
        # duplicates): the kernel skips the others in every sum, and only
        # index terms, read back from UTF-8 parquet, are sure to cross the
        # Arrow boundary (a query may hold a lone surrogate)
        markers = _literal_df(
            self.spark,
            [
                (
                    q,
                    [t for t in tokens_by_q[q] if t in stat_map],
                    token_dfs_by_q.get(q),
                )
                for q in sorted(tokens_by_q)
            ],
            _MARKER_DDL,
        )
        qstats = _literal_df(
            self.spark,
            [
                (q, t, *stat_map[t])
                for q in sorted(dfs_by_q)
                for t in sorted(dfs_by_q[q])
            ],
            "query_id long, term string, df long, idf double",
        )
        qblocks = F.broadcast(qstats).join(
            self._pruned_blocks(sorted(stat_map)), "term", "inner"
        )
        hits = self._spark_tail(markers, qblocks, int(topn), fan_out)
        walls.mark("plan")
        self._record_search("spark", candidates, fan_out, walls.stage_s)
        return self._with_text(hits, include_text)

    def _record_search(
        self, path: str, candidates, fan_out, stage_s, blocks_read=None
    ) -> None:
        """Observability (and test hook): the tail that ran, the candidate
        volume, the block rows read in-process, the fan-out used and the
        wall of each stage of the call (seconds)."""
        self.last_fan_out = fan_out
        self.last_search = {
            "path": path, "candidate_postings": candidates,
            "blocks_read": blocks_read, "fan_out": fan_out,
            "stage_s": stage_s,
        }

    def _auto_fan_out(self, max_cand: int) -> Optional[int]:
        """Doc ranges to shard a Spark-tail batch into, once its fattest
        query's candidate volume outgrows one scorer task
        (``cfg.fan_out_threshold``); None below that."""
        thr = self.cfg.fan_out_threshold
        if thr and max_cand > thr:
            return min(self.cfg.fan_out_max, -(-max_cand // thr))
        return None

    def _score_in_process(self, candidates: int) -> bool:
        """Gate of the driver tail: the batch's whole candidate volume fits
        what one scorer task may hold (``cfg.fan_out_threshold``, which also
        bounds the one blocks collect the driver tail makes), and scoring
        it serially is predicted to beat the distributed tail spread over
        the cluster's ``defaultParallelism`` cores (sizing constants above).
        With enough cores the distributed tail overtakes the driver from
        about 1.2M postings on; with 2 it never does."""
        thr = self.cfg.fan_out_threshold
        if not thr or candidates > thr:
            return False
        cores = self.spark.sparkContext.defaultParallelism
        # seconds per posting the serial driver tail loses to `cores` tasks
        lost = 1 / _DRIVER_POSTINGS_PER_S - 1 / (_TASK_POSTINGS_PER_S * cores)
        return lost <= 0 or candidates * lost <= _SPARK_TAIL_EXTRA_S

    def _pruned_blocks(self, terms) -> DataFrame:
        """The blocks scan for ``terms``: partition pruning (bucket IN ...)
        + row-group stats pruning (term IN ...) — only index files and row
        groups holding query terms are read, the rest of the 100 TB index
        is never touched. Buckets come from pure-Python xxHash64,
        bit-identical to the JVM xxhash64 the index writer used
        (fuzz-gated parity, tests/test_r3_fixes.py), with no Spark job."""
        blocks = self._blocks_df
        if terms:
            blocks = blocks.filter(
                F.col("bucket").isin(self._buckets(terms))
            ).filter(F.col("term").isin(terms))
        else:
            blocks = blocks.filter(F.lit(False))
        return blocks.select(*_BLOCK_COLS)

    def _read_blocks(self, terms) -> pa.Table:
        """The driver tail's blocks read for ``terms``, with pyarrow.dataset
        and no Spark job: bucket IN the terms' buckets prunes hive
        partitions, term IN the terms filters rows. It returns the same
        block rows as ``_pruned_blocks``, maybe in another order, which the
        kernel's stable (term, salt, block_id) sort and once-per-doc
        rescore make irrelevant to every score."""
        return self._blocks_ds.to_table(
            columns=list(_BLOCK_COLS),
            filter=ds.field("bucket").isin(self._buckets(terms))
            & ds.field("term").isin(terms),
        )

    def _buckets(self, terms) -> list:
        """The blocks partitions (``bucket=`` values) holding ``terms``."""
        return sorted({term_bucket(t, self.cfg.num_term_buckets) for t in terms})

    def _kernel(self, k: int):
        """``scorer.top_k`` bound to the index and the query config: the
        one scoring call of every surface (a picklable partial, so the
        Spark tail ships it to its tasks)."""
        cfg = self.cfg
        return functools.partial(
            _scorer.top_k, k=k, avgdl=self.index.avgdl, k1=cfg.k1, b=cfg.b,
            prune=cfg.score_mode == "wand", variant=cfg.variant,
            delta=cfg.resolved_delta(), n_docs=self.index.n_docs,
        )

    def _search_in_process(
        self,
        tokens_by_q: Dict[int, list],
        token_dfs_by_q: Dict[int, dict],
        stat_map: Dict[str, tuple],
        topn: int,
        walls: _Walls,
    ):
        """Driver tail over the batch's in-index terms (``stat_map``), with
        no Spark job: ONE pruned blocks read (``_read_blocks``; bounded by
        the gate: at most ``cfg.fan_out_threshold`` postings), then the
        kernel per query in driver Python. Returns (hits as a LocalRelation
        — collecting them runs no Spark job, block rows read); ``walls``
        gets the blocks, score and hits stages."""
        kernel = self._kernel(int(topn))
        terms = sorted(stat_map)
        if terms:
            pdf = self._read_blocks(terms).to_pandas()
        else:  # nothing in the index to read: every query pads from 0.0
            pdf = pd.DataFrame({"term": pd.Series([], dtype=object)})
        pdf["df"] = np.array([stat_map[t][0] for t in pdf["term"]], np.int64)
        pdf["idf"] = np.array([stat_map[t][1] for t in pdf["term"]], np.float64)
        rows_of = pdf.groupby("term", sort=False).indices
        walls.mark("blocks")

        hits = []
        for q in sorted(tokens_by_q):
            tokens = tokens_by_q[q]
            rows = [rows_of[t] for t in sorted(set(tokens)) if t in rows_of]
            ids, scores = kernel(
                tokens, pdf.iloc[np.concatenate(rows)] if rows else None,
                token_dfs=token_dfs_by_q.get(q) or None,
            )
            hits.extend(
                (q, r + 1, int(d), float(s))
                for r, (d, s) in enumerate(zip(ids, scores))
            )
        walls.mark("score")
        hits_df = _literal_df(self.spark, hits, _HITS_DDL)
        walls.mark("hits")
        return hits_df, len(pdf)

    def _with_text(self, hits: DataFrame, include_text: bool) -> DataFrame:
        """Optionally join each hit's corpus text as ``corpus_doc``."""
        if not include_text:
            return hits
        docs = self.index.docs().select(
            "doc_id", F.col("text").alias("corpus_doc")
        )
        return hits.join(docs, "doc_id", "left").select(
            "query_id", "rank", "doc_id", "score", "corpus_doc"
        )

    def search_join_df(
        self,
        queries_df: DataFrame,
        topn: int = 10,
        include_text: bool = False,
    ) -> DataFrame:
        """Fully-distributed batch query path: NO per-query driver work —
        for query sets too large to stage driver-side.

        ``search_df``'s contract is "queries are driver-adjacent": it
        collects the query rows once to build literal bucket/term pruning
        predicates, a broadcast stats side and the query markers — the
        right physical plan up to ~10^5 queries. This path instead JOINS:
        the markers' tokens come from the query-mode tokenizer UDF, their
        distinct terms join term_stats (distributed hash join on term) and
        blocks on (bucket, term), so a million-query batch never stages
        rows on the driver. Trade-offs, by design:
        - blocks pruning relies on the join + dynamic/runtime filters
          instead of literal IN predicates (a broad query set would defeat
          literal pruning anyway);
        - auto fan-out sizing needs one SCALAR agg job (max per-query
          candidate volume), not per-query driver rows.
        Both feed the same Spark tail as ``search_df``; results are
        identical to it (parity-tested). Its stage walls are ``stats`` (the
        stats join and the sizing job) and ``plan``."""
        walls = _Walls()
        cfg = self.cfg
        tok_udf = make_tokenizer_udf("query")
        markers = queries_df.select(
            F.col("query_id").cast("long").alias("query_id"),
            F.coalesce(
                tok_udf(F.col("text")), F.array().cast("array<string>")
            ).alias("tokens"),
        )
        qstats = (
            markers.select(
                "query_id", F.explode(F.array_distinct("tokens")).alias("term")
            )
            .join(self._stats_df, "term", "inner")
            .withColumn(
                "bucket",
                F.pmod(
                    F.xxhash64("term"), F.lit(cfg.num_term_buckets)
                ).cast("int"),
            )
        )
        qblocks = qstats.join(self._blocks_df, ["bucket", "term"], "inner")
        if cfg.variant == "bm25plus":
            token_dfs = qstats.groupBy("query_id").agg(
                F.map_from_entries(
                    F.collect_list(F.struct("term", F.col("df").cast("long")))
                ).alias("token_dfs")
            )
            markers = markers.join(token_dfs, "query_id", "left")
        else:
            markers = markers.withColumn(
                "token_dfs", F.lit(None).cast("map<string,bigint>")
            )

        fan_out = candidates = None
        if cfg.fan_out_threshold:
            row = (
                qstats.groupBy("query_id")
                .agg(F.sum("df").alias("c"))
                .agg(F.max("c").alias("m"), F.sum("c").alias("s"))
                .collect()[0]
            )
            candidates = int(row["s"] or 0)
            fan_out = self._auto_fan_out(int(row["m"] or 0))
        walls.mark("stats")
        hits = self._spark_tail(markers, qblocks, int(topn), fan_out)
        walls.mark("plan")
        self._record_search("spark", candidates, fan_out, walls.stage_s)
        return self._with_text(hits, include_text)

    def _spark_tail(
        self,
        markers: DataFrame,
        qblocks: DataFrame,
        k: int,
        fan_out: Optional[int],
    ) -> DataFrame:
        """The Spark tail of every surface: ``markers`` holds one row per
        query (query_id, tokens in order with duplicates, BM25Plus
        token_dfs or null), ``qblocks`` the block rows of its in-index terms
        with their df/idf. Both meet in one group per (query, doc range),
        and ``scorer.top_k`` ranks and pads that group on its own: a group
        holds every doc its range could return, so padding needs no stage
        of its own and nothing is cached. Under fan-out every (query,
        range) group exists through its marker, even one no block reaches
        (it pads from its range), and one window keeps the global top k.

        The repartition to the cluster's parallelism keeps the small but
        CPU-heavy scoring exchange from being coalesced by AQE into one
        task."""
        kernel = self._kernel(k)
        if fan_out:
            per = max(1, -(-self.index.n_docs // fan_out))
            markers = markers.crossJoin(
                F.broadcast(self.spark.range(fan_out)).select(
                    F.col("id").alias("range_id")
                )
            )
            range_id = F.explode(
                F.sequence(
                    (F.col("min_doc") / per).cast("long"),
                    (F.col("max_doc") / per).cast("long"),
                )
            )
        else:
            per = None
            markers = markers.withColumn("range_id", F.lit(0).cast("long"))
            range_id = F.lit(0).cast("long")
        rows = markers.unionByName(
            qblocks.select(
                "query_id", "df", "idf", *_BLOCK_COLS,
                range_id.alias("range_id"),
            ),
            allowMissingColumns=True,
        )

        def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
            is_marker = pdf["tokens"].notna()  # the group's one marker row
            marker = pdf[is_marker].iloc[0]
            rid = int(marker["range_id"])
            ids, scores = kernel(
                list(marker["tokens"]),
                # block rows; their integer columns arrive as float64 (the
                # marker row's nulls), exact below 2**53, and the kernel
                # reads them back as int64
                pdf[~is_marker],
                doc_range=(rid * per, (rid + 1) * per) if per else None,
                token_dfs=marker["token_dfs"] or None,
            )
            return pd.DataFrame({
                "query_id": int(marker["query_id"]),
                "rank": np.arange(1, ids.size + 1, dtype=np.int32),
                "doc_id": ids,
                "score": scores,
            })

        hits = (
            rows.repartition(
                self.spark.sparkContext.defaultParallelism,
                "query_id", "range_id",
            )
            .groupBy("query_id", "range_id")
            .applyInPandas(score_group, _HITS_DDL)
        )
        if fan_out:
            w = Window.partitionBy("query_id").orderBy(
                F.desc("score"), F.asc("doc_id")
            )
            hits = hits.withColumn("rank", F.row_number().over(w)).filter(
                F.col("rank") <= k
            )
        return hits
