"""Exact BM25 top-k: block-max WAND plus a threshold-algorithm kernel.

Two scorers, one contract — EXHAUSTIVE-EQUIVALENT top-k: identical
(doc_id, score) lists, including the deterministic tie-break (score desc,
doc_id asc), property-tested against the plain-Python reference
``index.inmem.exhaustive_topk`` (tests/test_wand.py). Every doc's score is
the fold of its per-term partials from 0.0 in sorted-term order, so both
scorers produce the same floats. The policy (query.search.Searcher.search)
picks by the query's total postings:

- above ``DENSE_POSTINGS_CUTOFF``: ``wand_topk`` — block-max WAND (Broder
  et al. CIKM'03 + Ding & Suel SIGIR'11), doc-at-a-time, skipping whole
  blocks on metadata where huge head-term unions make skipping pay. Lucene
  8+ runs the same algorithm, so its public semantics are the behavioral
  target.
- otherwise: ``bm25_global_topk`` — Fagin's threshold algorithm,
  vectorized per round, over per-term postings cached in impact order. It
  reads the top-m of every list, scores that candidate union exactly, and
  stops once the k-th score is strictly above the fold U of the lists'
  scores at depth m; else m ×= 4. No doc outside the candidates can reach
  U (float addition is monotone), and the strict ``>`` keeps doc_id ties
  exact.

WAND's pruning discipline for exactness:
- prune only when upper_bound < threshold - EPS (never on ==): a candidate
  tying the heap minimum may still win the doc_id tie-break;
- EPS absorbs float-addition rounding between the bound sum and the real
  score sum;
- per-posting scores are recomputed from (tf, dl) with the exact oracle
  formula in float64, and block_max_score was stored as the max of those
  same float64 values at merge time, so bounds are true upper bounds.
"""

from __future__ import annotations

import heapq
import math

import numpy as np

from tesserae_ng_spark.schemas import BM25_B, BM25_K1

EPS = 1e-12


class TermIterator:
    """Cursor over one term's blocks (blocks arrive in global docID order:
    salts are contiguous doc ranges, so (salt, block_id) order == doc order).

    ``df`` overrides the stored document frequency (sharded/distributed
    search under GLOBAL stats — the Solr distributed-IDF analog). Stored
    ``block_max_score`` was computed under the index's own merge-time
    (n_docs, avg_dl, df) and is NOT a valid bound under any other stats, so
    when ``stats_free`` is set, per-block bounds are recomputed from the
    stored (max_tf, min_dl): BM25's tf-part f(tf, dl) = tf/(tf + k1·(1−b +
    b·dl/avg_dl)) is monotone ↑ in tf and ↓ in dl, hence idf·f(max_tf,
    min_dl) ≥ idf·f(tf_i, dl_i) for every posting i of the block — a true
    (slightly looser) upper bound under the query's stats."""

    def __init__(self, postings, n_docs: int, avg_dl: float,
                 k1: float = BM25_K1, b: float = BM25_B,
                 df: int | None = None, stats_free: bool = False):
        self.term = postings.term
        df_t = postings.df if df is None else df
        self.idf = math.log(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
        self.tp = postings
        # struct-of-arrays metadata (VERDICT r5 #5): block skips index
        # numpy arrays / searchsorted instead of per-block Python objects
        self._last = postings.blk_last
        self._first = postings.blk_first
        self.n_blocks = postings.n_blocks
        self.avg_dl = avg_dl
        self.k1 = k1
        self.b = b
        self._bounds = None
        if stats_free and self.n_blocks:
            mt = postings.blk_max_tf.astype(np.float64)
            md = postings.blk_min_dl.astype(np.float64)
            self._bounds = self.idf * mt / (
                mt + k1 * (1.0 - b + b * md / avg_dl)
            )
            self.max_score = float(self._bounds.max())
        else:
            self._bounds_stored = postings.blk_max_score
            self.max_score = postings.max_score
        self.exhausted = not self.n_blocks
        self.bi = 0
        self.pi = 0
        self._ids = None
        self._scores = None
        if not self.exhausted:
            self._load(0)

    def _load(self, bi: int) -> None:
        """Move the block cursor — METADATA ONLY. Decompression happens
        lazily on first posting access (_ensure_decoded), so skip-heavy
        queries advance over blocks without ever decoding them (the actual
        block-max WAND payoff; Ding & Suel §4)."""
        self.bi = bi
        self.pi = 0
        self._ids = None
        self._scores = None

    def _ensure_decoded(self) -> None:
        if self._ids is None:
            ids, tfs, dls = self.tp.decode_block(self.bi)
            self._ids = ids
            self._scores = self.idf * tfs / (
                tfs + self.k1 * (1.0 - self.b + self.b * dls / self.avg_dl)
            )

    def cur_doc(self) -> int:
        if self._ids is None:
            if self.pi == 0:
                # block metadata knows its first doc — no decode needed
                return int(self._first[self.bi])
            self._ensure_decoded()
        return int(self._ids[self.pi])

    def cur_score(self) -> float:
        self._ensure_decoded()
        return float(self._scores[self.pi])

    def cur_block_max(self) -> float:
        if self._bounds is not None:
            return float(self._bounds[self.bi])
        return float(self._bounds_stored[self.bi])

    def cur_block_last(self) -> int:
        return int(self._last[self.bi])

    def _seek_block(self, target: int) -> bool:
        """Block cursor → first block whose last_doc >= target, via ONE
        searchsorted over the blk_last skip array (the old per-block
        Python while-loop was O(blocks skipped) per seek — a head term at
        web scale has ~10^5 blocks). Never seeks backwards."""
        if int(self._last[self.bi]) >= target:
            return True
        bi = int(np.searchsorted(self._last, target))
        if bi >= self.n_blocks:
            self.exhausted = True
            return False
        self._load(bi)
        return True

    def advance_to(self, target: int) -> bool:
        """Seek to the first posting with doc >= target. Intermediate blocks
        are skipped on metadata alone; only the landing block decodes."""
        if not self._seek_block(target):
            return False
        self._ensure_decoded()
        self.pi = int(np.searchsorted(self._ids[self.pi:], target)) + self.pi
        return True

    def next(self) -> bool:
        self._ensure_decoded()
        self.pi += 1
        if self.pi < self._ids.size:
            return True
        if self.bi + 1 >= self.n_blocks:
            self.exhausted = True
            return False
        self._load(self.bi + 1)
        return True

    def shallow_advance(self, target: int) -> bool:
        """Advance the block cursor until the current block may contain
        target — metadata only, nothing decodes."""
        return self._seek_block(target)


def wand_topk(
    term_postings: dict,
    n_docs: int,
    avg_dl: float,
    k: int,
    k1: float = BM25_K1,
    b: float = BM25_B,
    df_override: dict | None = None,
) -> list[tuple[int, float]]:
    """→ [(doc_id, score)] sorted by (score desc, doc_id asc), len ≤ k.

    Full scoring sums per-term partials in sorted-term order — a fixed
    order makes float sums deterministic across runs and parallelism.

    ``df_override`` maps term → GLOBAL df (sharded search): iterators run
    in stats-free mode, recomputing block bounds from (max_tf, min_dl)
    under the given (n_docs, avg_dl, df).
    """
    stats_free = df_override is not None
    its = [
        TermIterator(
            tp, n_docs, avg_dl, k1, b,
            df=(df_override or {}).get(tp.term),
            stats_free=stats_free,
        )
        for tp in term_postings.values()
        if tp.n_blocks
    ]
    its = [it for it in its if not it.exhausted]
    heap: list[tuple[float, int]] = []  # (score, -doc_id) min-heap

    def theta() -> float:
        return heap[0][0] if len(heap) >= k else -math.inf

    while its:
        its.sort(key=lambda x: x.cur_doc())
        th = theta()
        acc = 0.0
        pivot_idx = -1
        for i, it in enumerate(its):
            acc += it.max_score
            if acc >= th - EPS:
                pivot_idx = i
                break
        if pivot_idx < 0:
            break  # even all terms together cannot reach the threshold
        pivot_doc = its[pivot_idx].cur_doc()
        # include every iterator already sitting on pivot_doc: they
        # contribute to its real score, so they belong in the bound
        while (
            pivot_idx + 1 < len(its)
            and its[pivot_idx + 1].cur_doc() == pivot_doc
        ):
            pivot_idx += 1

        # block-max refinement: tighter bound from the leaders' current blocks
        leaders = its[: pivot_idx + 1]
        ok = True
        bound = 0.0
        for it in leaders:
            if not it.shallow_advance(pivot_doc):
                ok = False
                break
            bound += it.cur_block_max()
        if not ok:
            its = [x for x in its if not x.exhausted]
            continue
        if bound < th - EPS:
            # skip past the earliest block boundary among leaders, bounded
            # by the next non-leader's current doc (Ding & Suel GetNewCandidate)
            nxt = min(it.cur_block_last() for it in leaders) + 1
            if pivot_idx + 1 < len(its):
                nxt = min(nxt, its[pivot_idx + 1].cur_doc())
            nxt = max(nxt, pivot_doc + 1)
            for it in leaders:
                it.advance_to(nxt)
            its = [x for x in its if not x.exhausted]
            continue

        # shallow_advance may have moved a leader's cursor PAST pivot_doc
        # (block switch resets to the next block's first doc): re-sort and
        # re-pivot on the fresh state — progress was made, no livelock.
        if any(it.cur_doc() > pivot_doc for it in leaders):
            continue

        # aligned ⟺ every leader sits on pivot_doc (leaders are ≤ pivot_doc
        # after the guard above; non-leaders are ≥ pivot_doc by sort order)
        if min(it.cur_doc() for it in leaders) == pivot_doc:
            aligned = [it for it in its if it.cur_doc() == pivot_doc]
            score = 0.0
            for it in sorted(aligned, key=lambda x: x.term):
                score += it.cur_score()
            item = (score, -pivot_doc)
            if len(heap) < k:
                heapq.heappush(heap, item)
            elif item > heap[0]:
                heapq.heapreplace(heap, item)
            for it in aligned:
                it.next()
            its = [x for x in its if not x.exhausted]
        else:
            # advance a strictly-lagging iterator (largest term bound first)
            lagging = [it for it in leaders if it.cur_doc() < pivot_doc]
            lag = max(lagging, key=lambda x: x.max_score)
            lag.advance_to(pivot_doc)
            its = [x for x in its if not x.exhausted]

    out = sorted(heap, key=lambda item: (-item[0], -item[1]))
    return [(-negid, s) for (s, negid) in out]


def impact_ordered(
    tp,
    n_docs: int,
    avg_dl: float,
    df_t: int,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One term's (ids, scores, order) under the given stats: ``ids`` and
    ``scores`` in doc-id order (ids are decode_full's own cached array),
    ``order`` the int32 impact permutation — score desc, doc_id asc.

    Cached on the TermPostings (the index is immutable). The small
    per-stats-key LRU lets a node serving BOTH shard-local and
    global-stats (sharded) traffic keep one entry per key instead of
    thrashing a single slot every alternation."""
    stats_key = (n_docs, avg_dl, df_t, k1, b)
    cache = getattr(tp, "_impact", None)
    if cache is None:
        cache = tp._impact = {}
    cached = cache.get(stats_key)
    if cached is not None:
        # LRU refresh: re-insert so eviction removes the stalest key
        cache[stats_key] = cache.pop(stats_key)
        return cached
    ids, tfs, dls, _, _ = tp.decode_full()
    idf = math.log(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
    scores = idf * tfs / (tfs + k1 * (1.0 - b + b * dls / avg_dl))
    # ids ascend, so a stable sort on -score breaks ties by doc_id asc
    order = np.argsort(-scores, kind="stable").astype(np.int32)
    if len(cache) >= 4:  # bounded: stats keys are few and stable
        cache.pop(next(iter(cache)))  # evict LRU entry only
    cache[stats_key] = (ids, scores, order)
    return ids, scores, order


def _top_k(ids: np.ndarray, scores: np.ndarray, k: int):
    """(score desc, doc_id asc) top-k of parallel arrays. A partition finds
    the exact k-th largest score; only the docs at or above it are
    sorted (every tie at the k-th score is kept for the doc_id cut)."""
    n = ids.size
    if n > k:
        keep = scores >= np.partition(scores, n - k)[n - k]
        ids, scores = ids[keep], scores[keep]
    top = np.lexsort((ids, -scores))[:k]
    return ids[top], scores[top]


def bm25_global_topk(
    term_postings: dict,
    n_docs: int,
    avg_dl: float,
    k: int,
    k1: float = BM25_K1,
    b: float = BM25_B,
    df_override: dict | None = None,
) -> list[tuple[int, float]]:
    """Exact BM25 top-k by Fagin's threshold algorithm over impact-ordered
    postings (impact_ordered), vectorized per round.

    One term: the answer is the head of its impact order. Several terms:
    candidates are the union of every term's top-m doc ids, each scored
    exactly by folding its per-term scores from 0.0 in sorted-term order
    (0.0 for a term it lacks — adding 0.0 is exact), the same float order
    as wand_topk and the oracle. The bound U folds, in the same order,
    each term's score at impact position m (0.0 when the list has no
    position m). A doc outside the candidates sits at impact position ≥ m
    in every list it is in, so each of its partials is ≤ that list's
    bound term (partials are positive: idf > 0 whenever df ≤ n_docs, so
    the 0.0 of a list the doc is absent from is below it too), and float
    addition is monotone: its score is ≤ U. Stop when the k-th candidate
    score is STRICTLY above U — no outside doc can reach or tie it, so the
    doc_id tie-break stays exact — or when every list is used up;
    otherwise m ×= 4. (While a list is left, it alone puts m ≥ 2k docs in
    the candidates, so there is a k-th candidate to compare.)

    ``df_override`` maps term → GLOBAL df for sharded search (Solr
    distributed-IDF analog): scores become comparable across shards.
    """
    lists = []
    for term in sorted(term_postings):
        tp = term_postings[term]
        if not tp.n_blocks:
            continue
        df_t = df_override.get(term, tp.df) if df_override else tp.df
        lists.append(impact_ordered(tp, n_docs, avg_dl, df_t, k1, b))
    if not lists or k <= 0:
        return []
    if len(lists) == 1:
        ids, scores, order = lists[0]
        top = order[:k]
        return [(int(d), float(s)) for d, s in zip(ids[top], scores[top])]
    m = max(2 * k, 64)
    while True:
        cand = np.unique(np.concatenate([ids[o[:m]] for ids, _, o in lists]))
        acc = np.zeros(cand.size, dtype=np.float64)
        bound = 0.0
        used_up = True
        for ids, scores, order in lists:
            pos = np.minimum(np.searchsorted(ids, cand), ids.size - 1)
            acc += np.where(ids[pos] == cand, scores[pos], 0.0)
            if m < ids.size:
                bound += float(scores[order[m]])
                used_up = False
        top_ids, top_scores = _top_k(cand, acc, k)
        if used_up or top_scores[-1] > bound:
            return [(int(d), float(s)) for d, s in zip(top_ids, top_scores)]
        m *= 4
