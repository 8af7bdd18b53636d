"""Block-max top-k BM25 scoring kernel (numpy, runs inside applyInPandas).

Strategy: block-max MaxScore, term-at-a-time (TAAT) — chosen over classic
pointer-chasing DAAT WAND because it vectorizes: every inner step is a numpy
op over whole blocks, never per-posting Python.

Lineage (public literature): MaxScore essential/non-essential term split
(Turtle & Flood, "Query evaluation: strategies and optimizations", 1995);
WAND pivoting (Broder et al., CIKM 2003); per-block max-score metadata
(Ding & Suel, "Faster top-k document retrieval using block-max indexes",
SIGIR 2011). The exact-rescore pass on surviving candidates is this
engine's addition to meet the bit-identical-scores contract.

Rank-safety & score-exactness argument (the contract is BIT-IDENTICAL top-k
scores vs the reference's dense scan, reference rank_bm25.py:100-114):

1. Candidate generation processes unique query terms in descending upper
   bound ub_t = occ(t) * max(0, max block contrib). After processing a prefix
   with suffix-sum S, any doc NOT yet seen can reach at most S. We stop
   admitting new docs only when S < theta_safe, where theta_safe = (k-th best
   partial) + sum of NEGATIVE lower bounds of unprocessed terms — a certified
   lower bound on the k-th candidate's FINAL score even when epsilon-floored
   idfs are negative. Strict '<' keeps ties (broken by doc_id) safe.
2. Remaining terms then only update existing candidates; blocks are skipped
   only if no candidate lies in [min_doc, max_doc] (their postings would all
   belong to non-candidates, which are already bounded out).
3. Final scores are RECOMPUTED for all candidates by iterating the original
   query tokens IN ORDER (duplicates per occurrence), accumulating float64
   contribs — reproducing the reference's summation order exactly, so
   returned scores are bit-identical, not merely rank-identical.
4. When fewer than k docs match (or the k-th score is <= 0), zero-score
   corpus docs are rankable in the reference; the scorer then emits ALL
   candidates and flags the query for the engine's padding stage. Pruning
   cannot have fired in this case (pruning requires theta_safe > S >= 0).
"""

from __future__ import annotations

from collections import Counter
from typing import Dict, List, Tuple

import numpy as np
import pandas as pd

from similarities_spark.index import codec


def _merge_acc(
    ids: np.ndarray, vals: np.ndarray, new_ids: np.ndarray, new_vals: np.ndarray
) -> Tuple[np.ndarray, np.ndarray]:
    """Merge-accumulate (sorted ids, partial sums) with new contributions."""
    if ids.size == 0:
        order = np.argsort(new_ids, kind="mergesort")
        return new_ids[order], new_vals[order]
    all_ids = np.concatenate([ids, new_ids])
    all_vals = np.concatenate([vals, new_vals])
    uniq, inv = np.unique(all_ids, return_inverse=True)
    sums = np.zeros(uniq.shape, dtype=np.float64)
    np.add.at(sums, inv, all_vals)
    return uniq, sums


def score_query(
    tokens: List[str],
    term_blocks: pd.DataFrame,
    k: int,
    avgdl: float,
    k1: float,
    b: float,
    prune: bool = True,
    variant: str = "okapi",
    delta: float = 0.0,
    n_docs: int = 0,
    doc_range: "Tuple[int, int]" = None,
    token_dfs: "Dict[str, int]" = None,
) -> Tuple[np.ndarray, np.ndarray, int, bool, float]:
    """-> (top doc_ids, exact scores, n_matched, needs_pad, pad_score).

    ``term_blocks`` columns: term, salt, block_id, min_doc, max_doc,
    n_postings, tf_max, tf_min, dl_max, dl_min, payload, plus the
    query-side df/idf — this query's terms only.

    ``pad_score`` is the exact score of a doc matching NO query term: 0.0
    for Okapi/BM25L; for BM25Plus each known token contributes idf*delta to
    every doc (reference rank_bm25.py:154-161), accumulated in token order.
    Pruning is only enabled for the Okapi variant (block-max metadata is
    Okapi-shaped); variants run the exact TAAT path.

    ``token_dfs`` (token -> corpus df for every IN-INDEX query token) makes
    the per-token baselines independent of which blocks this task sees —
    required under doc-range fan-out, where a token's blocks may all live
    outside this task's range yet its BM25Plus idf*delta baseline still
    applies to every doc in it. Without it, baselines fall back to the
    blocks present (correct only when term_blocks is unsharded).
    """
    from similarities_spark import variants as _variants

    if variant != "okapi":
        prune = False

    def bases_from_dfs() -> Dict[str, float]:
        idf_f = _variants.idf_fn(variant, n_docs) if variant != "okapi" else None
        return {
            t: (
                _variants.unmatched_contrib(variant, idf_f(dfv), delta)
                if idf_f is not None
                else 0.0
            )
            for t, dfv in token_dfs.items()
        }

    if doc_range is not None and term_blocks is not None and len(term_blocks):
        # doc-sharded fan-out: this task owns docs in [lo, hi) — drop blocks
        # fully outside the range; boundary blocks are clipped after decode
        lo, hi = doc_range
        term_blocks = term_blocks[
            (term_blocks["max_doc"] >= lo) & (term_blocks["min_doc"] < hi)
        ]
    if term_blocks is None or len(term_blocks) == 0:
        pad = 0.0
        if token_dfs:
            empty_bases = bases_from_dfs()
            for tok in tokens:  # token order, like every accumulation here
                pad += empty_bases.get(tok, 0.0)
        return np.empty(0, np.int64), np.empty(0, np.float64), 0, True, pad

    occ = Counter(tokens)
    # group block rows per term, in (salt, block_id) order = ascending doc_id
    term_blocks = term_blocks.sort_values(["term", "salt", "block_id"], kind="mergesort")
    groups: Dict[str, pd.DataFrame] = {
        t: g for t, g in term_blocks.groupby("term", sort=False)
    }

    def term_idf(g: pd.DataFrame) -> float:
        if variant == "okapi":
            return float(g["idf"].iloc[0])
        return _variants.idf_fn(variant, n_docs)(int(g["df"].iloc[0]))

    terms = list(groups.keys())
    ub = {}
    lb = {}
    for t in terms:
        g = groups[t]
        idf = term_idf(g)
        # bounds from per-block tf/dl extrema (stats-free block metadata):
        # the contribution g is monotone up in tf and down in dl, so
        # g(tf_max, dl_min) / g(tf_min, dl_max) bound every posting
        g_hi = _variants.matched_contribs(
            variant,
            g["tf_max"].to_numpy(dtype=np.int64),
            g["dl_min"].to_numpy(dtype=np.int64),
            1.0, avgdl, k1, b, delta,
        )
        g_lo = _variants.matched_contribs(
            variant,
            g["tf_min"].to_numpy(dtype=np.int64),
            g["dl_max"].to_numpy(dtype=np.int64),
            1.0, avgdl, k1, b, delta,
        )
        if idf >= 0:
            mx, mn = float((idf * g_hi).max()), float((idf * g_lo).min())
        else:
            mx, mn = float((idf * g_lo).max()), float((idf * g_hi).min())
        ub[t] = occ[t] * max(mx, 0.0)
        lb[t] = occ[t] * min(mn, 0.0)
    order = sorted(terms, key=lambda t: -ub[t])
    suffix_ub = np.concatenate([np.cumsum([ub[t] for t in reversed(order)])[::-1], [0.0]])
    suffix_lb = np.concatenate([np.cumsum([lb[t] for t in reversed(order)])[::-1], [0.0]])

    # decoded postings kept for the exact rescore: term -> (doc_ids, contribs)
    decoded: Dict[str, Tuple[np.ndarray, np.ndarray]] = {}

    def decode_term(t: str, restrict_ids: np.ndarray = None) -> Tuple[np.ndarray, np.ndarray]:
        g = groups[t]
        idf = term_idf(g)
        payloads = g["payload"].tolist()
        counts = g["n_postings"].to_numpy(dtype=np.int64)
        if restrict_ids is not None and restrict_ids.size:
            # block-metadata skip: drop blocks whose [min_doc, max_doc]
            # contains no candidate (vectorized range check)
            mins = g["min_doc"].to_numpy(dtype=np.int64)
            maxs = g["max_doc"].to_numpy(dtype=np.int64)
            lo = np.searchsorted(restrict_ids, mins, side="left")
            keep = (lo < restrict_ids.size) & (
                restrict_ids[np.minimum(lo, restrict_ids.size - 1)] <= maxs
            )
            if not keep.any():
                return np.empty(0, np.int64), np.empty(0, np.float64)
            payloads = [p for p, k_ in zip(payloads, keep) if k_]
            counts = counts[keep]
        # batched decode: one vectorized unpack for ALL blocks of the term
        ids_, tfs_, dls_ = codec.decode_blocks_batch(payloads, counts)
        if doc_range is not None:
            rmask = (ids_ >= doc_range[0]) & (ids_ < doc_range[1])
            ids_, tfs_, dls_ = ids_[rmask], tfs_[rmask], dls_[rmask]
            if ids_.size == 0:
                return np.empty(0, np.int64), np.empty(0, np.float64)
        c_ = _variants.matched_contribs(
            variant, tfs_, dls_, idf, avgdl, k1, b, delta
        )
        return ids_, c_

    cand_ids = np.empty(0, np.int64)
    cand_partial = np.empty(0, np.float64)
    pruned = False

    for i, t in enumerate(order):
        if prune and cand_ids.size >= k:
            kth = np.partition(cand_partial, cand_partial.size - k)[
                cand_partial.size - k
            ]
            theta_safe = kth + suffix_lb[i]
            if suffix_ub[i] < theta_safe:
                pruned = True
                # remaining terms can no longer admit new candidates: decode
                # only candidate-overlapping blocks (block-metadata skip);
                # the exact rescore below consumes the decoded postings
                for t2 in order[i:]:
                    decoded[t2] = decode_term(t2, restrict_ids=cand_ids)
                break
        ids_, c_ = decode_term(t)
        decoded[t] = (ids_, c_)
        cand_ids, cand_partial = _merge_acc(
            cand_ids, cand_partial, ids_, occ[t] * c_
        )

    n_matched = int(cand_ids.size)
    if token_dfs is not None:
        bases = bases_from_dfs()
    else:
        bases = {
            t: _variants.unmatched_contrib(variant, term_idf(groups[t]), delta)
            for t in groups
        }
    pad_score = 0.0
    for tok in tokens:  # token order, like every other accumulation here
        if tok in bases:
            pad_score += bases[tok]
    if n_matched == 0:
        return np.empty(0, np.int64), np.empty(0, np.float64), 0, True, pad_score

    # ---- exact rescore: float64, original token order, dupes per occurrence
    scores = np.zeros(cand_ids.shape, dtype=np.float64)
    lookup: Dict[str, Tuple[np.ndarray, np.ndarray]] = {}
    for t, (ids_, c_) in decoded.items():
        if ids_.size == 0:
            lookup[t] = (np.empty(0, np.int64), np.empty(0, np.float64))
            continue
        pos = np.searchsorted(cand_ids, ids_)
        mask = (pos < cand_ids.size) & (
            cand_ids[np.minimum(pos, cand_ids.size - 1)] == ids_
        )
        lookup[t] = (pos[mask], c_[mask])
    for tok in tokens:
        hit = lookup.get(tok)
        if hit is None:
            # no postings decoded for this token HERE. Either it is absent
            # from the index (base 0.0, contributes nothing) or — under
            # doc-range fan-out — its postings all live outside this range,
            # in which case its BM25Plus baseline still applies to every
            # candidate (same constant the dense reference adds).
            base = bases.get(tok, 0.0)
            if base != 0.0:
                scores += base
            continue
        pos, c_ = hit
        base = bases[tok]
        if base == 0.0:
            scores[pos] += c_  # +0.0 elsewhere is the identity
        else:
            # BM25Plus: every doc gets idf*delta for this token; matched
            # docs get the full expression instead (same float the dense
            # reference expression yields elementwise)
            vec = np.full(scores.shape, base, dtype=np.float64)
            vec[pos] = c_
            scores += vec

    # ---- rank: stable (score desc, doc_id asc) — lexsort's last key is
    # primary; equal scores fall back to ascending doc_id
    order_idx = np.lexsort((cand_ids, -scores))
    needs_pad = n_matched < k or (
        n_matched >= k and scores[order_idx[k - 1]] <= pad_score
    )
    if needs_pad:
        assert not pruned, "pruning cannot fire when padding is needed"
        return cand_ids[order_idx], scores[order_idx], n_matched, True, pad_score
    top = order_idx[:k]
    return cand_ids[top], scores[top], n_matched, False, pad_score
