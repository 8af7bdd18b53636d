"""Engine configuration.

All knobs that govern BM25 semantics and physical layout in one dataclass so
tests, bench, and spark-submit entry points share a single source of truth.

BM25 parameters mirror the reference defaults
(reference similarities/utils/rank_bm25.py:72 — k1=1.5, b=0.75, epsilon=0.25).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional


@dataclass(frozen=True)
class EngineConfig:
    # --- BM25 semantics (reference rank_bm25.py:72,88-98) ---
    k1: float = 1.5
    b: float = 0.75
    epsilon: float = 0.25  # idf floor multiplier on full-vocab average idf

    # --- tokenization (reference literal_similarity.py:408-414,434) ---
    # Stopwords are applied to CORPUS tokens only, never to queries.
    stopwords: frozenset = field(default_factory=frozenset)
    lowercase_stopword_match: bool = True  # reference: w.strip().lower() in stopwords
    # 'auto': JVM regexp tokenizer (whole-stage codegen, no Python workers)
    # unless jieba is installed; 'python'/'jvm' force a path.
    tokenizer: str = "auto"

    # --- physical index layout ---
    block_size: int = 128          # postings per compressed block
    num_term_buckets: int = 32     # hash(term) buckets = index partition count
    salt_df_threshold: int = 50_000  # terms with df >= this get doc-range salted
    num_salts: int = 16            # doc-range splits for head terms

    # --- query execution ---
    score_mode: str = "wand"       # "wand" | "exact" (term-at-a-time, no pruning)
    # Auto doc-range fan-out: when the largest per-query candidate volume
    # (sum of df over the query's distinct terms, from term_stats) exceeds
    # this many postings, search_df shards scoring by doc-id range so one
    # head-term query never lands on a single applyInPandas task. None
    # disables the heuristic (explicit fan_out= always wins). The default is
    # sized so a task decodes at most ~2M postings (~tens of MB, well inside
    # executor memory); at 10^12 docs a head-term query auto-shards
    # ~500k-way rather than OOMing one task. The same value bounds
    # in-process scoring: a search()/search_df() batch whose TOTAL candidate
    # volume is at most this many postings may be scored in the driver
    # process (one pruned blocks collect, no scoring job) — on clusters with
    # many cores the engine's measured cost model lowers that bound to
    # about 1.2M postings, see query/engine.py. None disables it too.
    fan_out_threshold: Optional[int] = 2_000_000
    fan_out_max: int = 1024        # cap on auto-chosen range shards per batch
    # BM25 variant: "okapi" (reference BM25Similarity default) | "bm25l" |
    # "bm25plus" (reference rank_bm25.py:116-161). One physical index serves
    # all variants (blocks store raw tf/dl/df; idf recomputed at decode).
    variant: str = "okapi"
    delta: Optional[float] = None  # None -> variant default (0 / 0.5 / 1.0)

    def resolved_delta(self) -> float:
        from similarities_spark.variants import DELTAS

        return DELTAS[self.variant] if self.delta is None else self.delta

    # --- postings construction ---
    # 'auto' (default): resolve per batch by size — 'fused_tf' when the
    # batch reaches auto_tf_docs documents, 'fused' below it. 'fused_tf':
    # per-doc TF pre-aggregated MAP-SIDE by a pure JVM run-length pass over
    # each doc's sorted token array (_doc_tf_entries) — still ONE
    # all-to-all exchange, but it moves one row per distinct (doc, term)
    # instead of one per token occurrence (~25-45% less shuffle volume on
    # natural text; trades scalable CPU for scarce bandwidth — the winner
    # at scale: 1.5x at 60k docs, 1.2x at 200k, same-JVM A/Bs in
    # BENCH/ab_fused_tf*.jsonl). 'fused': raw exploded tokens shuffle
    # straight into the block encoder, which counts doc_id duplicates as tf
    # (np.unique) — wins below the crossover, where the per-doc sort CPU
    # outweighs the tiny shuffle it saves. Both plans produce bit-identical
    # indexes (parity-tested).
    postings_mode: str = "auto"
    # 'auto' crossover, in input-batch documents. Measured on this box
    # (fused_tf breaks even at 20k x ~60-token docs, wins 1.5x by 60k); a
    # real cluster's network shuffle is more expensive than this box's
    # in-memory one, so the threshold is conservative for production.
    auto_tf_docs: int = 50_000

    def resolved_postings_mode(self, n_docs: int) -> str:
        """Physical build plan for a batch of ``n_docs`` documents."""
        if self.postings_mode != "auto":
            return self.postings_mode
        return "fused_tf" if n_docs >= self.auto_tf_docs else "fused"

    # --- checkpointing ---
    checkpoint_dir: Optional[str] = None  # manifests + resumability; None = off
    checkpoint_groups: int = 4  # resume granularity: bucket groups per build
    # A checkpoint group is only worth its extra write job when it guards
    # real work: the build caps the group count so each group covers at
    # least this many payload bytes (a small corpus then writes all buckets
    # in ONE job; a warehouse-scale build reaches checkpoint_groups
    # immediately). 0 disables the adaptivity (tests pinning exact group
    # counts set it). Layout-neutral: excluded from index_key.
    checkpoint_group_min_bytes: int = 64 << 20

    def index_key(self) -> str:
        """Stable digest of every config field that determines index CONTENT
        or physical layout (blocks/stats bytes). Participates in the resume
        lineage key: changing any of these (stopwords, tokenizer, block
        size, bucketing, salting) must invalidate stage and
        bucket manifests — a resume that trusted an index built under a
        different tokenizer config would serve wrong scores. Query-time-only
        knobs (score_mode, fan_out_*, variant, delta, checkpoint_*, and the
        BM25 k1/b shape parameters) are deliberately excluded: they never
        change what is on disk (blocks store raw tf/doc_len; term_stats idf
        bakes in only epsilon), so a k1/b retune reuses the index instead of
        forcing a full rebuild (ADVICE r3)."""
        import hashlib
        import json as _json

        payload = _json.dumps(
            {
                "epsilon": self.epsilon,
                "stopwords": sorted(self.stopwords),
                "lowercase_stopword_match": self.lowercase_stopword_match,
                "tokenizer": self.tokenizer,
                "block_size": self.block_size,
                "num_term_buckets": self.num_term_buckets,
                "salt_df_threshold": self.salt_df_threshold,
                "num_salts": self.num_salts,
                # auto/fused/fused_tf build bit-identical indexes
                # (parity-tested), so the mode is layout-neutral; the
                # constant entry keeps digests, and with them the resume
                # manifests of existing indexes, unchanged (auto_tf_docs
                # is likewise excluded)
                "postings_mode": "fused",
                # retired field (the salt list is always exact now); the
                # constant keeps existing digests unchanged
                "salt_sample_fraction": None,
            },
            sort_keys=True,
        )
        return hashlib.md5(payload.encode("utf-8")).hexdigest()[:16]

    def salt_bounds(self, n_docs: int):
        """Doc-id range boundaries shared by ALL salted terms.

        Using fixed global doc ranges (not hash(doc_id)) keeps each salt's
        postings a contiguous sorted doc-id run, so per-term segments
        concatenate in salt order into the full sorted posting list with no
        merge stage, and a future doc-sharded scoring path can co-locate all
        terms of a doc range.
        """
        n = max(1, n_docs)
        per = (n + self.num_salts - 1) // self.num_salts
        return per
