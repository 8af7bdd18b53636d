"""Distributed BM25 query engine over the term-partitioned block index.

Physical plan (``search`` / ``search_df``, per query batch):

  queries -> tokenized in driver Python (query mode: NO stopword filter,
             duplicates kept, reference literal_similarity.py:434)
    -> per-term df/idf from term_stats (driver snapshot for vocabs up to
       the 20k stats cap, else one term-IN-pruned stats scan); terms absent
       from the index carry no blocks and drop out here
    -> candidate volume: sum of df over each query's in-index terms, summed
       over the batch — known before any block is read
    -> GATE: no explicit ``fan_out``, batch volume <= cfg.fan_out_threshold
       (the postings one scorer task may hold), and serial scoring in the
       driver is predicted to finish before the distributed tail would
       with the cluster's parallelism (_score_in_process)?

  driver tail (gate passed) — scoring in-process, ONE Spark job (plus the
  stats scan past the cap):
    blocks scan: bucket IN (term buckets) -> parquet PARTITION pruning,
                 term IN (terms) -> row-group min/max pruning
    -> collected as Arrow (bounded: at most the threshold's postings)
    -> scorer.score_query per query, in driver Python (same kernel, same
       arguments as the distributed tail)
    -> numpy pad + rank -> hits as a LocalRelation (no Exchange)

  distributed tail (gate failed, or ``fan_out=`` given):
    same pruned blocks scan, broadcast-joined with the query-term stats
    -> groupBy(query_id [, range_id]).applyInPandas: the MaxScore kernel,
       tokens shipped in the closure; fat queries shard by doc-id range
       (``fan_out``) once one query's volume exceeds the threshold
    -> padding summary + one ranking window (_pad_and_rank)

Both tails -> optional join docs for corpus text. ``search_join_df`` always
runs the distributed plan, with query terms joined rather than staged on
the driver. Either way only index partitions/row-groups holding query terms
are ever READ; the big index never moves. Zero-score padding (reference
literal_similarity.py:437-440) ranks unmatched low doc ids after the
matches; results are bit-identical across tails and fan-outs. Each search
records which tail ran in ``engine.last_search``.
"""

from __future__ import annotations

from typing import Dict, Optional, Sequence, Union

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from similarities_spark.index import build as _build
from similarities_spark.index.build import BM25Index
from similarities_spark.localdf import literal_df as _literal_df
from similarities_spark.query import scorer as _scorer
from similarities_spark.tokenize import make_tokenizer_udf, tokenize_text
from similarities_spark.xxh64 import term_bucket

_SCORE_SCHEMA = StructType(
    [
        StructField("query_id", LongType()),
        StructField("range_id", LongType()),
        StructField("doc_id", LongType()),
        StructField("score", DoubleType()),
        StructField("n_matched", LongType()),
        StructField("needs_pad", BooleanType()),
        StructField("pad_score", DoubleType()),
    ]
)

# Sizing of the driver tail's gate, measured on a 5k-doc index (Zipf
# s = 1.0, mean 100 tokens, 12k-word vocabulary) in 4- and 2-core local
# mode, batches of 1 to 1000 queries holding 4k to 5.7M candidate postings:
# the driver tail scores about 1.0M candidate postings/s serially, one
# executor scoring task about 0.4M/s (Arrow transfer and task overheads
# included), and the distributed tail costs about 1.2 s more than the
# driver tail before any posting is scored (its jobs, shuffle and pad/rank
# collect). Measured crossovers: about 3.5M postings on 4 cores (the model
# below predicts 3.2M), none up to 5.7M on 2 cores (the model predicts none).
_DRIVER_POSTINGS_PER_S = 1.0e6
_TASK_POSTINGS_PER_S = 0.4e6
_SPARK_TAIL_EXTRA_S = 1.2


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
        # the gate compared), blocks_read (driver path only) and fan_out
        self.last_search: Optional[dict] = None
        # DataFrame HANDLES (not data) to the index tables, created once:
        # spark.read.parquet lists files eagerly on the driver, so a fresh
        # blocks()/term_stats() per batch re-paid the listing every search.
        # The engine binds to the index state at construction — consistent
        # with BM25Index.meta, which is read once at open.
        self._blocks_df = index.blocks()
        self._stats_df = index.term_stats()
        # vocab-capped driver snapshot of term_stats, loaded lazily at the
        # first search: the per-batch df/idf lookup then costs a dict probe
        # instead of a Spark job. Gated on the EXACT vocab size from meta
        # (the builder's driver stats-tail cap) — a web-scale
        # vocab never loads; values come from the same parquet bytes, so
        # scores are unchanged.
        self._stats_snapshot: Optional[dict] = None
        # the cached DFs of the CURRENT search (scored + the pad summary):
        # kept alive while the caller materializes the returned hits,
        # released on the NEXT search (or close()) — a long-lived session
        # issuing thousands of batches must not accumulate block-manager
        # entries until LRU churn
        self._live_cached: list = []

    def close(self) -> None:
        """Release the engine's cached intermediates (idempotent)."""
        for df in self._live_cached:
            df.unpersist()
        self._live_cached = []

    def _lookup_stats(self, terms) -> Dict[str, tuple]:
        """df/idf for the given terms: from the vocab-capped driver
        snapshot when the whole stats table is tiny (one load per engine,
        then zero Spark jobs per batch), else a term-IN-pruned scan."""
        cap = _build._DRIVER_STATS_MAX_VOCAB
        vocab = int(self.index.meta.get("vocab_size") or (cap + 1))
        if vocab <= cap:
            if self._stats_snapshot is None:
                self._stats_snapshot = {
                    r["term"]: (int(r["df"]), float(r["idf"]))
                    for r in self._stats_df.collect()
                }
            return {
                t: self._stats_snapshot[t]
                for t in terms
                if t in self._stats_snapshot
            }
        return {
            r["term"]: (int(r["df"]), float(r["idf"]))
            for r in self._stats_df.filter(F.col("term").isin(terms)).collect()
        }

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
        if isinstance(queries, str):
            queries = [queries]
        if isinstance(queries, (list, tuple)):
            queries = {i: q for i, q in enumerate(queries)}
        tok_lists = [
            (int(q), tokenize_text(text, mode="query"))
            for q, text in queries.items()
        ]
        return self._search_tokens(
            tok_lists, topn=topn, include_text=include_text, fan_out=None
        )

    def search_df(
        self,
        queries_df: DataFrame,
        topn: int = 10,
        include_text: bool = False,
        fan_out: Optional[int] = None,
    ) -> DataFrame:
        """``fan_out=R`` splits scoring into R doc-id range shards per query:
        each (query, range) task scores its shard fully (still bit-exact per
        doc — ranges partition the doc space) and emits a local top-k; a
        global window merges. This is the single-query-latency path at
        extreme scale — one query's work spreads over R tasks instead of
        one. When ``fan_out`` is None it auto-enables once the estimated
        candidate volume of the fattest query exceeds
        ``cfg.fan_out_threshold`` postings — and while the whole batch's
        volume stays within that threshold and serial scoring is predicted
        to win (``_score_in_process``), the batch is scored in-process on
        the driver instead (see the module docstring). An explicit
        ``fan_out`` always runs the distributed tail. All variants
        decompose over doc ranges: Okapi/BM25L because their unmatched-doc
        contribution is exactly 0; BM25Plus because its per-token idf*delta
        baseline is a query constant every range task reproduces from the
        token-side df column (scorer token_dfs), independent of which blocks
        it sees.

        The raw (query_id, text) rows are collected ONCE (the only
        DataFrame action on queries; they are driver-adjacent by contract)
        and tokenized in driver Python with the very function the query
        UDF wraps (tokenize_text, mode='query' — bit-identical tokens) —
        no Python-UDF tokenize job + explode + distinct shuffle per batch."""
        qrows = queries_df.select(
            F.col("query_id").cast("long").alias("query_id"), "text"
        ).collect()
        tok_lists = [
            (int(r["query_id"]), tokenize_text(r["text"], mode="query"))
            for r in qrows
        ]
        return self._search_tokens(
            tok_lists, topn=topn, include_text=include_text, fan_out=fan_out
        )

    def _search_tokens(
        self,
        tok_lists,
        topn: int,
        include_text: bool,
        fan_out: Optional[int],
    ) -> DataFrame:
        """Driver-adjacent scoring over pre-tokenized (query_id, tokens)
        pairs. Looks up the batch's df/idf, sums its candidate volume and
        picks the tail: in-process scoring when no ``fan_out`` is forced
        and the whole batch fits one scorer task, else the distributed
        tail. On the distributed tail everything query-sized becomes a JVM
        LocalRelation (_literal_df): the broadcast df/idf stats side and
        the padding id set — so the only Python stage in the whole physical
        plan is the MaxScore scorer kernel itself."""
        cfg = self.cfg
        variant = cfg.variant
        topn = int(topn)
        qt_pairs = sorted({(q, t) for q, toks in tok_lists for t in toks})
        terms = sorted({t for _, t in qt_pairs})
        stat_map = self._lookup_stats(terms) if terms else {}
        # blocks are stats-free (immutable segments); per-term df/idf come
        # from the stats lookup above (terms absent from the index carry no
        # blocks, so they are skipped here — the inner join would drop them
        # anyway)
        known = [
            (q, t, stat_map[t][0], stat_map[t][1])
            for q, t in qt_pairs
            if t in stat_map
        ]
        # Query tokens (ordered, duplicates kept) and BM25Plus token dfs
        # ship in the scorer-function CLOSURE instead of riding a token-side
        # DataFrame through a cogroup: the queries are driver-adjacent by
        # contract, so a per-stage pickled dict replaces an entire exchange
        # (the old qtok shuffle) and halves the scoring job's stage count.
        # Padding stays correct for queries with no matching blocks: they
        # simply produce no group, and _pad_and_rank's left join pads
        # absent queries at score 0.0 — exact, because a query with ANY
        # in-index token always has matching block rows (stats row => blocks
        # exist), so an absent query has no in-index tokens and its true
        # pad score is 0.0 for every variant.
        tokens_by_q: Dict[int, list] = {}
        for q, toks in tok_lists:
            tokens_by_q.setdefault(q, []).extend(toks)
        if variant == "bm25plus":
            token_dfs_by_q = {
                q: {t: stat_map[t][0] for t in set(toks) if t in stat_map}
                for q, toks in tokens_by_q.items()
            }
        else:
            token_dfs_by_q = {}

        # candidate volume per query: sum(df) over its in-index terms (exact
        # upper bound on the postings one scorer task would decode)
        per_q: Dict[int, int] = {}
        for q, t, df_, _ in known:
            per_q[q] = per_q.get(q, 0) + df_
        candidates = sum(per_q.values())
        if fan_out is None and self._score_in_process(candidates):
            hits, blocks_read = self._search_in_process(
                tokens_by_q, token_dfs_by_q, stat_map,
                [t for t in terms if t in stat_map], topn,
            )
            self._record_search("driver", candidates, None, blocks_read)
            return self._with_text(hits, include_text)

        fan_thr = cfg.fan_out_threshold
        if fan_out is None and fan_thr:
            # auto fan-out: shard once the fattest query outgrows one task
            max_cand = max(per_q.values(), default=0)
            if max_cand > fan_thr:
                fan_out = min(cfg.fan_out_max, -(-max_cand // fan_thr))
        self._record_search("spark", candidates, fan_out)
        qstats = _literal_df(
            self.spark, known, "query_id long, term string, df long, idf double"
        )
        qblocks = F.broadcast(qstats).join(
            self._pruned_blocks(terms), "term", "inner"
        )
        # the padding stage only needs the DISTINCT query ids — a literal
        # int table, not the queries DataFrame
        qids_df = _literal_df(
            self.spark,
            [(q,) for q in sorted(tokens_by_q)],
            "query_id long",
        )
        return self._finish_search_local(
            tokens_by_q,
            token_dfs_by_q,
            qblocks,
            qids_df,
            topn,
            fan_out,
            include_text,
        )

    def _record_search(
        self, path: str, candidates, fan_out, blocks_read=None
    ) -> None:
        """Observability (and test hook): the tail that ran, the candidate
        volume, the block rows read in-process and the fan-out used."""
        self.last_fan_out = fan_out
        self.last_search = {
            "path": path, "candidate_postings": candidates,
            "blocks_read": blocks_read, "fan_out": fan_out,
        }

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
            buckets = sorted(
                {term_bucket(t, self.cfg.num_term_buckets) for t in terms}
            )
            blocks = blocks.filter(F.col("bucket").isin(buckets)).filter(
                F.col("term").isin(terms)
            )
        else:
            blocks = blocks.filter(F.lit(False))
        # the columns the scorer reads (all but tf_sum and the bucket key)
        return blocks.select(
            "term", "salt", "block_id", "min_doc", "max_doc", "n_postings",
            "tf_max", "tf_min", "dl_max", "dl_min", "payload",
        )

    def _search_in_process(
        self,
        tokens_by_q: Dict[int, list],
        token_dfs_by_q: Dict[int, dict],
        stat_map: Dict[str, tuple],
        terms: list,
        topn: int,
    ):
        """Driver tail over the batch's in-index ``terms``: ONE pruned
        blocks read collected as Arrow (bounded by the gate: at most
        ``cfg.fan_out_threshold`` postings), the scorer kernel per query in
        driver Python with the arguments the distributed tail passes, and
        _pad_and_rank's padding for the queries the scorer flags. Returns
        (hits as a LocalRelation — collecting them runs no Spark job,
        block rows read)."""
        import numpy as np

        cfg = self.cfg
        n_docs, k = self.index.n_docs, topn
        self.close()  # same cache contract as the distributed tail
        if terms:
            pdf = self._pruned_blocks(terms).toArrow().to_pandas()
        else:  # nothing in the index to read: every query pads from 0.0
            pdf = pd.DataFrame({"term": pd.Series([], dtype=object)})
        pdf["df"] = np.array([stat_map[t][0] for t in pdf["term"]], np.int64)
        pdf["idf"] = np.array([stat_map[t][1] for t in pdf["term"]], np.float64)
        rows_of = pdf.groupby("term", sort=False).indices

        hits = []
        for q in sorted(tokens_by_q):
            tokens = tokens_by_q[q]
            rows = [rows_of[t] for t in sorted(set(tokens)) if t in rows_of]
            if rows:
                scored = _scorer.score_query(
                    tokens, pdf.iloc[np.concatenate(rows)], k,
                    self.index.avgdl, cfg.k1, cfg.b,
                    prune=cfg.score_mode == "wand", variant=cfg.variant,
                    delta=cfg.resolved_delta(), n_docs=n_docs,
                    token_dfs=token_dfs_by_q.get(q) or None,
                )
                ids, scores, n_matched, needs_pad, pad_score = scored
            else:  # no block matched any token: zero-match, pad from 0.0
                ids, scores = np.empty(0, np.int64), np.empty(0, np.float64)
                n_matched, needs_pad, pad_score = 0, True, 0.0
            if needs_pad:
                # unflagged queries come back as the ranked top-k; flagged
                # ones add the lowest doc ids not already matched, at the
                # pad score, then rank by score desc, doc_id asc (lexsort's
                # last key is primary)
                pool = np.arange(min(k + n_matched, n_docs), dtype=np.int64)
                pool = pool[~np.isin(pool, ids)]
                ids = np.concatenate([ids, pool])
                scores = np.concatenate([scores, np.full(pool.size, pad_score)])
                top = np.lexsort((ids, -scores))[:k]
                ids, scores = ids[top], scores[top]
            hits.extend(
                (q, r + 1, int(d), float(s))
                for r, (d, s) in enumerate(zip(ids, scores))
            )
        hits_df = _literal_df(
            self.spark, hits, "query_id long, rank int, doc_id long, score double"
        )
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

    def _finish_search_local(
        self,
        tokens_by_q: Dict[int, list],
        token_dfs_by_q: Dict[int, dict],
        qblocks: DataFrame,
        qids_df: DataFrame,
        topn: int,
        fan_out: Optional[int],
        include_text: bool,
    ) -> DataFrame:
        """Scoring tail for the driver-adjacent path: ONE grouped-map over
        the matched block rows per (query [, range]); query tokens arrive
        via closure. Fan-out explodes blocks into their doc-id ranges as
        before — a (query, range) with no blocks yields no group, which the
        padding summary treats exactly like an all-blocks-out-of-range
        scorer call (needs_pad=True vote, same pad score), so results are
        unchanged (parity-tested)."""
        cfg = self.cfg
        avgdl = self.index.avgdl
        n_docs = self.index.n_docs
        k1, b, k = cfg.k1, cfg.b, topn
        prune = cfg.score_mode == "wand"
        variant, delta = cfg.variant, cfg.resolved_delta()

        if fan_out:
            per = max(1, (n_docs + fan_out - 1) // fan_out)
            qblocks = qblocks.withColumn(
                "range_id",
                F.explode(
                    F.sequence(
                        (F.col("min_doc") / per).cast("long"),
                        (F.col("max_doc") / per).cast("long"),
                    )
                ),
            )
            keys = ["query_id", "range_id"]
        else:
            per = None
            qblocks = qblocks.withColumn("range_id", F.lit(0).cast("long"))
            keys = ["query_id"]

        def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
            qid = int(pdf["query_id"].iloc[0])
            rid = int(pdf["range_id"].iloc[0])
            doc_range = (rid * per, (rid + 1) * per) if per else None
            tokens = tokens_by_q.get(qid, [])
            token_dfs = token_dfs_by_q.get(qid)
            ids, scores, n_matched, needs_pad, pad_score = _scorer.score_query(
                tokens, pdf, k, avgdl, k1, b, prune=prune,
                variant=variant, delta=delta, n_docs=n_docs,
                doc_range=doc_range, token_dfs=token_dfs or None,
            )
            return pd.DataFrame(
                {
                    "query_id": qid,
                    "range_id": rid,
                    "doc_id": ids,
                    "score": scores,
                    "n_matched": n_matched,
                    "needs_pad": needs_pad,
                    "pad_score": pad_score,
                }
            )

        scored = qblocks.groupBy(*keys).applyInPandas(
            score_group, _SCORE_SCHEMA
        )
        hits = self._pad_and_rank(
            qids_df, scored, k, single_range=not fan_out
        )
        return self._with_text(hits, include_text)

    def search_join_df(
        self,
        queries_df: DataFrame,
        topn: int = 10,
        include_text: bool = False,
    ) -> DataFrame:
        """Fully-distributed batch query path: NO per-query driver work —
        for query sets too large to stage driver-side.

        ``search_df``'s contract is "queries are driver-adjacent": it
        collects the distinct query terms once to build literal
        bucket/term pruning predicates and a broadcast stats side — the
        right physical plan up to ~10^5 queries. This path instead JOINS:
        query terms x term_stats (distributed hash join on term) and
        query terms x blocks on (bucket, term), so a million-query batch
        never stages rows on the driver. Trade-offs, by design:
        - blocks pruning relies on the join + dynamic/runtime filters
          instead of literal IN predicates (a broad query set would defeat
          literal pruning anyway);
        - auto fan-out sizing needs one SCALAR agg job (max per-query
          candidate volume), not per-query driver rows.
        Results are identical to search_df (parity-tested)."""
        cfg = self.cfg
        tok_udf = make_tokenizer_udf("query")
        qtok = queries_df.select(
            F.col("query_id").cast("long").alias("query_id"),
            F.posexplode(tok_udf(F.col("text"))).alias("pos", "term"),
        )
        # fresh explode (not qtok.select): the cogroup below holds qtok on
        # one side and this lineage on the other — sharing qtok's attribute
        # ids would trip Spark's ambiguous-self-join detection
        qterms = queries_df.select(
            F.col("query_id").cast("long").alias("query_id"),
            F.explode(tok_udf(F.col("text"))).alias("term"),
        ).distinct()
        qstats = qterms.join(
            self._stats_df, "term", "inner"
        ).withColumn(
            "bucket",
            F.pmod(F.xxhash64("term"), F.lit(cfg.num_term_buckets)).cast("int"),
        )
        qblocks = qstats.join(self._blocks_df, ["bucket", "term"], "inner")
        qtok = self._attach_token_dfs(qtok, qstats)

        fan_out = candidates = None
        fan_thr = cfg.fan_out_threshold
        if fan_thr:
            row = (
                qstats.groupBy("query_id")
                .agg(F.sum("df").alias("c"))
                .agg(F.max("c").alias("m"), F.sum("c").alias("s"))
                .collect()[0]
            )
            max_cand, candidates = int(row["m"] or 0), int(row["s"] or 0)
            if max_cand > fan_thr:
                fan_out = min(cfg.fan_out_max, -(-max_cand // fan_thr))
        self._record_search("spark", candidates, fan_out)
        return self._finish_search(
            qtok, qblocks, queries_df, topn, fan_out, include_text
        )

    def _attach_token_dfs(self, qtok: DataFrame, qstats: DataFrame) -> DataFrame:
        """Carry each in-index token's corpus df on the token side of the
        cogroup (null for unknown terms). Only BM25Plus consumes it (the
        scorer rebuilds per-token idf*delta baselines from it so doc-range
        fan-out tasks stay exact even for tokens whose blocks live outside
        their range); other variants skip the join and carry a null column
        so the cogroup's left schema is stable across variants."""
        if self.cfg.variant != "bm25plus":
            return qtok.withColumn("df", F.lit(None).cast("long"))
        # fresh Alias exprIds: qstats also feeds the blocks side of the
        # cogroup, and re-using its `df` attribute on the token side trips
        # Spark's ambiguous-self-join detection
        stats = qstats.select(
            F.col("query_id").alias("query_id"),
            F.col("term").alias("term"),
            F.col("df").alias("df"),
        )
        return qtok.join(stats, ["query_id", "term"], "left")

    def _finish_search(
        self,
        qtok: DataFrame,
        qblocks: DataFrame,
        queries_df: DataFrame,
        topn: int,
        fan_out: Optional[int],
        include_text: bool,
    ) -> DataFrame:
        """Shared scoring tail: optional doc-range fan-out, cogrouped
        MaxScore kernel, padding + ranking, optional text join."""
        cfg = self.cfg
        avgdl = self.index.avgdl
        n_docs = self.index.n_docs
        k1, b, k = cfg.k1, cfg.b, topn
        prune = cfg.score_mode == "wand"
        variant, delta = cfg.variant, cfg.resolved_delta()

        if fan_out:
            per = max(1, (n_docs + fan_out - 1) // fan_out)
            ranges = self.spark.range(fan_out).select(
                F.col("id").alias("range_id")
            )
            qtok = qtok.crossJoin(F.broadcast(ranges))
            qblocks = qblocks.withColumn(
                "range_id",
                F.explode(
                    F.sequence(
                        (F.col("min_doc") / per).cast("long"),
                        (F.col("max_doc") / per).cast("long"),
                    )
                ),
            )
            keys = ["query_id", "range_id"]
        else:
            per = None
            qtok = qtok.withColumn("range_id", F.lit(0).cast("long"))
            qblocks = qblocks.withColumn("range_id", F.lit(0).cast("long"))
            keys = ["query_id"]

        def score_group(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            src = left if len(left) else right
            qid = int(src["query_id"].iloc[0])
            rid = int(src["range_id"].iloc[0])
            doc_range = (rid * per, (rid + 1) * per) if per else None
            tokens = list(left.sort_values("pos")["term"])
            token_dfs = {
                t: int(d)
                for t, d in zip(left["term"], left["df"])
                if pd.notna(d)
            }
            ids, scores, n_matched, needs_pad, pad_score = _scorer.score_query(
                tokens, right, k, avgdl, k1, b, prune=prune,
                variant=variant, delta=delta, n_docs=n_docs,
                doc_range=doc_range, token_dfs=token_dfs or None,
            )
            return pd.DataFrame(
                {
                    "query_id": qid,
                    "range_id": rid,
                    "doc_id": ids,
                    "score": scores,
                    "n_matched": n_matched,
                    "needs_pad": needs_pad,
                    "pad_score": pad_score,
                }
            )

        scored = (
            qtok.groupBy(*keys)
            .cogroup(qblocks.groupBy(*keys))
            .applyInPandas(score_group, _SCORE_SCHEMA)
        )

        hits = self._pad_and_rank(
            queries_df, scored, k, single_range=not fan_out
        )
        return self._with_text(hits, include_text)

    def _pad_and_rank(
        self,
        queries_df: DataFrame,
        scored: DataFrame,
        k: int,
        single_range: bool = False,
    ) -> DataFrame:
        """Zero-score padding (reference ranks ALL docs; unmatched score 0.0,
        ties by ascending doc_id) + final ranking. Padding work only runs for
        flagged/zero-match queries — never on the happy path at scale.

        Fully declarative over the query set: the padding set is a JOINED
        DataFrame, never a driver-side literal, so batches of millions of
        queries collect only ONE scalar row (flag count + max matched) —
        needed to size the low-doc-id pad pool and pick the fast path."""
        self.close()  # release the previous search's caches before persisting
        scored = scored.persist()
        self._live_cached.append(scored)
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )

        # per-range flags first, then per-query: a query needs padding only
        # if EVERY range flagged it (a single unflagged range proves k docs
        # above the pad score exist globally); n_matched sums over ranges.
        # A query id absent from `scored` entirely (no term matched any
        # block) is zero-match: pad from score 0.0.
        if single_range:
            # no fan-out: flags/counters are constant across a query's rows
            # (range_id is the literal 0), so the per-(query, range)
            # de-duplicating DISTINCT shuffle is pure overhead — aggregate
            # the constants directly (max == min == the value)
            summary = scored.groupBy("query_id").agg(
                F.max(F.col("needs_pad").cast("int")).alias("pad"),
                F.max("n_matched").alias("n_matched"),
                F.max("pad_score").alias("pad_score"),
            )
        else:
            per_range = scored.select(
                "query_id", "range_id", "n_matched", "needs_pad", "pad_score"
            ).distinct()
            summary = per_range.groupBy("query_id").agg(
                F.min(F.col("needs_pad").cast("int")).alias("pad"),
                F.sum("n_matched").alias("n_matched"),
                F.max("pad_score").alias("pad_score"),
            )
        pad_q = (
            queries_df.select(F.col("query_id").cast("long").alias("query_id"))
            .distinct()
            .join(summary, "query_id", "left")
            .filter(F.col("pad").isNull() | (F.col("pad") == 1))
            .select(
                "query_id",
                F.coalesce(F.col("pad_score"), F.lit(0.0)).alias("score"),
                F.coalesce(F.col("n_matched"), F.lit(0)).alias("n_matched"),
            )
            .persist()
        )
        self._live_cached.append(pad_q)  # released with scored on next search
        # the ONLY driver values: does any query need padding, and how many
        # matched rows can a padded query already hold (sizes the pad pool)
        g = pad_q.agg(
            F.count(F.lit(1)).alias("n_pad"), F.max("n_matched").alias("mm")
        ).collect()[0]
        n_pad, max_matched = int(g["n_pad"]), int(g["mm"] or 0)

        if n_pad == 0:
            pad_q.unpersist()
            self._live_cached.remove(pad_q)
            return (
                scored.select("query_id", "doc_id", "score")
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select("query_id", "rank", "doc_id", "score")
            )

        # doc ids are dense 0..N-1 by construction (_dense_doc_ids; merges
        # append old_n..), so the lowest-id pad pool is a local range — no
        # docs-table scan + sort + limit job per padded batch
        low_docs = self.spark.range(
            min(k + max_matched, self.index.n_docs)
        ).select(F.col("id").alias("doc_id"))
        zero_rows = (
            pad_q.select("query_id", "score")
            .crossJoin(F.broadcast(low_docs))
            .join(
                scored.select("query_id", "doc_id"),
                ["query_id", "doc_id"],
                "left_anti",
            )
        )
        # ONE ranking window over matched rows (every query) plus the
        # zero-score pool rows (padded queries only): per-query rankings
        # are identical to ranking the padded and unpadded query sets
        # separately, and the union saves an anti-join plus a second
        # window exchange
        return (
            scored.select("query_id", "doc_id", "score")
            .unionByName(zero_rows.select("query_id", "doc_id", "score"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "score")
        )
