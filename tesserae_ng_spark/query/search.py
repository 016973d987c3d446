"""Query executor: BM25 / phrase / proximity search over a built index.

Single-query path (SURVEY.md §3.2): runs fully in-process — analyze the
query with the SAME chain used at index time (plain-Python functions),
pyarrow-fetch the terms' dictionary rows + posting blocks, score with an
exact BM25 scorer (query/wand.py). No Spark session needed (the
reference's always-warm Solr core analog). Batch path: distribute queries over executors; each executor
opens the same index (local FS here, object store at scale) — queries are
embarrassingly parallel once the index is immutable.

Positional modes (SURVEY.md §2.9 / §3.3 — the Tesserae comparison
re-expressed over positional postings):

- phrase:     docs where the query terms occur consecutively (pos_i+1 ==
              pos_{i+1} ... exact phrase). tf = number of phrase starts;
              score = BM25 with df = number of phrase-matching docs.
- proximity:  docs where all terms co-occur within a token window w.
              score = ln((Σ_t 1/tf_t) / max(d, 1)) with d = minimal span
              covering one occurrence of every term — the Tesserae
              distance-weighted formula (Forstall et al. 2014 shape).

Both match every doc of a query in one vectorized pass: the candidate
docs' positions pack into (row, position) int64 keys whose position width
adapts to the longest candidate doc (_row_pos_keys), so there is no
per-doc path. The scalar per-doc ``_phrase_count`` / ``_min_cover_span``
stay only as test references.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import numpy as np

from tesserae_ng_spark.functions.analysis import analyze_query
from tesserae_ng_spark.query.reader import IndexReader, TermPostings
from tesserae_ng_spark.query.wand import bm25_global_topk, wand_topk
from tesserae_ng_spark.schemas import BM25_B, BM25_K1

# below this many total postings, vectorized exact scoring (the threshold
# kernel) beats the skip-capable doc-at-a-time loop, while huge head-term
# unions are exactly where block-max skipping pays. ~16M postings ≈ the
# numpy/WAND crossover measured with the dense scorers the kernel replaced.
DENSE_POSTINGS_CUTOFF = 1 << 24

# batch prefetch loads payload bytes eagerly only for terms up to this df;
# heavier terms stay metadata-only so block-max WAND's lazy per-segment
# payload loads skip real I/O exactly where postings are GBs
PREFETCH_MAX_DF = 1 << 20


@dataclass
class Hit:
    rank: int
    doc_id: int
    score: float


class Searcher:
    def __init__(self, index_dir: str, lang: str = "en", warm_mb: float = 0):
        self.reader = IndexReader(index_dir)
        self.lang = lang
        # opt-in head-term warmer (IndexReader.warm_top_terms — the
        # Solr warming-query analog for latency-sensitive services);
        # warm_mb=0 stays lazy.
        self.warm_info = (
            self.reader.warm_top_terms(warm_mb) if warm_mb > 0 else None
        )

    def search(self, query_text: str, k: int = 10, mode: str = "bm25",
               window: int = 5, global_stats: dict | None = None) -> list[Hit]:
        """``global_stats`` (sharded/distributed search — the Solr
        distributed-IDF analog): {"n_docs": int, "avg_dl": float,
        "df": {term: global df}}. Scores become comparable across shards so
        a driver-side merge of per-shard top-k is rank-identical to one
        global index. Block-max WAND runs under overridden stats too: the
        index stores stats-free per-block (max_tf, min_dl) and bounds are
        recomputed under the query's (n_docs, avg_dl, df) — see
        TermIterator.

        phrase / proximity run one vectorized path for every doc
        (phrase_match_arrays / proximity_match_arrays)."""
        terms = analyze_query(query_text, self.lang)
        if not terms:
            return []
        fetched = self.reader.fetch(terms)
        if not fetched:
            return []
        if mode == "bm25":
            if global_stats is not None:
                n_docs = global_stats["n_docs"]
                avg_dl = global_stats["avg_dl"]
                dfo = global_stats.get("df") or {}
            else:
                n_docs = self.reader.n_docs
                avg_dl = self.reader.avg_dl
                dfo = None
            # two exhaustive-equivalent scorers (query/wand.py), picked by
            # the query's total postings:
            # - above DENSE_POSTINGS_CUTOFF, block-max WAND: huge unions
            #   where skipping pays. Under overridden (sharded/global)
            #   stats it runs on stats-free bounds recomputed from
            #   per-block (max_tf, min_dl), which every index stores.
            # - otherwise the threshold kernel (bm25_global_topk): per-term
            #   impact-ordered scores, cached per stats key; it scores the
            #   union of every term's top-m docs and deepens m ×4 until
            #   the k-th score is strictly above the fold of the lists'
            #   depth-m scores, which no unread doc can reach.
            if sum(tp.df for tp in fetched.values()) > DENSE_POSTINGS_CUTOFF:
                top = wand_topk(fetched, n_docs, avg_dl, k, df_override=dfo)
            else:
                # the kernel decodes every block on a cache miss —
                # bulk-load all payloads in one scan, not one per term
                self.reader.ensure_payloads(fetched.values())
                top = bm25_global_topk(
                    fetched, n_docs, avg_dl, k, df_override=dfo
                )
        elif mode == "phrase":
            ordered = [fetched[t] for t in terms if t in fetched]
            if len(ordered) < len(terms):
                return []  # a phrase term missing from the corpus → no match
            # ids/tfs/dls only — positions load candidate-only inside
            # phrase_match_arrays (_candidate_decoded)
            self.reader.ensure_payloads(ordered)
            top = phrase_topk(ordered, self.reader.n_docs, self.reader.avg_dl, k)
        elif mode == "proximity":
            uniq = sorted(set(terms))
            if any(t not in fetched for t in uniq):
                return []
            tps = [fetched[t] for t in uniq]
            self.reader.ensure_payloads(tps)  # positions load candidate-only
            top = proximity_topk(tps, window, k)
        else:
            raise ValueError(f"unknown mode {mode!r}")
        return [Hit(rank=i + 1, doc_id=d, score=s) for i, (d, s) in enumerate(top)]


# ---------------------------------------------------------------------------
# conjunctive positional matching
# ---------------------------------------------------------------------------


def _row_pos_keys(decoded, margin):
    """→ (keys, bits): per term, (common-row, position) packed into one
    sortable int64 key ``(row << bits) | pos``. Rows (not raw doc ids —
    those span the full int64 range) keep the packing small: row <
    n_common. ``bits`` adapts to the query's candidate positions, so one
    vectorized path covers every doc, however long.

    ``bits = (max_pos + margin).bit_length()`` puts every position below
    2^bits - margin. Callers pass margin = query arity so that the ±i
    offset arithmetic in _phrase_rows_vectorized can neither overflow a
    position into the next row's bits (pos + i ≥ 2^bits) NOR let an
    underflowed start key (keys[j0] - j0 borrowing from the row bits when
    pos < j0) collide with a legal term-0 key — a wrapped key carries
    position bits ≥ 2^bits - arity, which no real key has.

    ``decoded`` holds candidate_positions' (tfs, dls, pos_flat, pos_offs)
    per term: pos_flat is already in candidate order with pos_offs ==
    cumsum(tfs) - tfs, so only the row ids need expanding."""
    from tesserae_ng_spark.index.codec import expand_segment_values

    max_pos = max(int(pos.max()) for _, _, pos, _ in decoded)
    bits = (max_pos + margin).bit_length()
    n_rows = decoded[0][0].size
    # the span sweeps pack a term ordinal below the key: positions are
    # int32 (bits ≤ 32), so this only trips past 2^29 candidate docs
    tbits = max(1, (len(decoded) - 1).bit_length())
    if n_rows.bit_length() + bits + tbits > 63:
        raise ValueError(
            f"{n_rows} candidate docs x {bits} position bits overflow "
            "the packed int64 key"
        )
    keys = []
    for _, _, pos, offs in decoded:
        rows = expand_segment_values(
            np.arange(n_rows, dtype=np.int64), offs, pos.size
        )
        keys.append((rows << bits) | pos.astype(np.int64))
    return keys, bits


def _isin_sorted(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Membership mask of ``a`` in ``b``, both sorted ascending — one
    searchsorted instead of np.isin's internal sort+unique (packed position
    keys are constructed sorted, so the sort np.isin pays is pure waste)."""
    idx = np.searchsorted(b, a)
    ok = idx < b.size
    out = np.zeros(a.size, dtype=bool)
    out[ok] = b[idx[ok]] == a[ok]
    return out


def _intersect_sorted_unique(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Sorted intersection (VALUES) of two sorted arrays with UNIQUE
    elements — doc-id lists and packed (row, pos) keys both qualify.

    Skewed sizes → probe the small side into the big one (searchsorted,
    O(small · log big)). Comparable sizes → ONE stable sort of the
    concatenation: numpy's timsort galloping-merges the two pre-sorted
    runs in O(n) sequential passes (measured ~3× a same-size
    searchsorted's n·log n random probes on this host), and with unique
    inputs the intersection is exactly the adjacent-duplicate values of
    the merge. Crossover 4:1 from the measured per-element costs
    (~8 ns/elem merge vs ~46 ns/probe at 1M)."""
    small, big = (a, b) if a.size <= b.size else (b, a)
    if small.size * 4 <= big.size:
        return small[_isin_sorted(small, big)]
    v = np.sort(np.concatenate((a, b)), kind="stable")
    dup = v[1:] == v[:-1]
    return v[:-1][dup]


def _sorted_group_starts(rows: np.ndarray) -> np.ndarray:
    """Start indices of each run of equal values in a SORTED array — the
    np.unique replacement for pre-sorted input (np.unique re-sorts, which
    is among the costliest numpy ops on this VM's memory system)."""
    starts = np.nonzero(np.diff(rows))[0] + 1
    return np.concatenate((np.zeros(1, dtype=np.int64), starts))


def _phrase_rows_vectorized(keys: list[np.ndarray], bits: int):
    """→ (rows, phrase_tf) of common-rows containing the exact phrase.
    Chained sorted-membership over packed keys: start positions where
    term_i sits at pos+i for every i. Fully vectorized across all docs."""
    # chain from the SMALLEST key array: candidate phrase starts are
    # keys[j0] - j0, and every probe after the first filters a set no
    # larger than the smallest term's occurrence count — for a head∧tail
    # phrase that replaces an O(head-positions) first pass with an
    # O(tail-positions) one. Underflowed starts (occurrence index < j0,
    # so the packed key slips into the previous row) can never survive:
    # _row_pos_keys sizes ``bits`` so every position is < 2^bits - arity,
    # so a wrapped key's position bits (≥ 2^bits - j0) match no real key.
    order = sorted(range(len(keys)), key=lambda j: keys[j].size)
    j0 = order[0]
    cur = keys[j0] - j0
    for i in order[1:]:
        cur = _intersect_sorted_unique(cur + i, keys[i]) - i
        if cur.size == 0:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    rows = cur >> bits  # sorted (cur is sorted)
    starts = _sorted_group_starts(rows)
    tf = np.diff(np.concatenate((starts, [rows.size])))
    return rows[starts], tf


def _min_span_2term_vectorized(k1: np.ndarray, k2: np.ndarray, bits: int):
    """→ (rows, min |p1-p2| per row) for two packed-key arrays.
    The minimal cross-set distance is realized by an adjacent pair in the
    merged sorted order (classic two-pointer argument), so one argsort +
    one adjacent scan covers every doc simultaneously."""
    # k1 and k2 arrive sorted: pack the origin term into bit 0 and let ONE
    # stable sort merge the two pre-sorted runs (timsort gallops them in
    # O(n) sequential passes — measured faster than two same-size
    # searchsorted probe passes plus their random scatter stores).
    # _row_pos_keys leaves room for the 1-bit shift; ties (same key, both terms) keep term order 0-then-1,
    # identical to the old left/right-sided searchsorted merge.
    v = np.sort(
        np.concatenate(((k1 << 1), (k2 << 1) | 1)), kind="stable"
    )
    ks = v >> 1
    fs = v & 1
    rows_all = ks >> bits
    same_row = rows_all[1:] == rows_all[:-1]
    diff_term = fs[1:] != fs[:-1]
    adj = same_row & diff_term
    if not adj.any():
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    spans = (ks[1:] - ks[:-1])[adj]
    rows = rows_all[1:][adj]
    # rows is sorted (ks ascending) → min span per row via one reduceat
    # over run boundaries instead of a two-key lexsort
    starts = _sorted_group_starts(rows)
    return rows[starts], np.minimum.reduceat(spans, starts)


def _min_cover_span_vectorized(keys: list[np.ndarray], bits: int):
    """→ (rows, minimal token span covering ≥1 occurrence of EVERY term per
    row) — generic arity, fully vectorized across all docs at once.

    Sweep the merged sorted key order; at each key, the best window ending
    there starts at the EARLIEST of the per-term most-recent occurrences
    (the textbook per-doc sweep, executed for every doc simultaneously):
    per-term 'most recent key ≤ here' is a masked np.maximum.accumulate,
    validity = that key still belongs to the same row."""
    T = len(keys)
    # pack the term ordinal into the low bits and merge the pre-sorted
    # runs with ONE stable value sort (timsort gallops sorted runs; an
    # argsort would pay an extra permutation gather). _row_pos_keys
    # leaves room for the term bits.
    tbits = max(1, (T - 1).bit_length())
    v = np.sort(
        np.concatenate(
            [(k << tbits) | t for t, k in enumerate(keys)]
        ),
        kind="stable",
    )
    ks, ts = v >> tbits, v & ((1 << tbits) - 1)
    n = ks.size
    mins = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
    for t in range(T):
        kt = np.where(ts == t, ks, np.int64(-1))
        np.minimum(mins, np.maximum.accumulate(kt), out=mins)
    rows_i = ks >> bits
    valid = (mins >= 0) & (mins >> bits == rows_i)
    if not valid.any():
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    spans = ks[valid] - mins[valid]  # same row ⇒ pure position difference
    rows = rows_i[valid]  # sorted (ks ascending, mask keeps order)
    starts = _sorted_group_starts(rows)
    return rows[starts], np.minimum.reduceat(spans, starts)


def _phrase_count(pos_lists: list[np.ndarray]) -> int:
    """Number of start positions where terms occur consecutively in one
    doc — the scalar reference _phrase_rows_vectorized is tested against
    (no engine path calls it)."""
    starts = pos_lists[0]
    for i, pl in enumerate(pos_lists[1:], start=1):
        need = starts + i
        mask = np.isin(need, pl)
        starts = starts[mask]
        if starts.size == 0:
            return 0
    return int(starts.size)


def _min_cover_span(pos_lists: list[np.ndarray]) -> int:
    """Minimal token span containing ≥1 occurrence of every term in one
    doc (-1 if a term is absent) — the scalar reference the span sweeps
    are tested against (no engine path calls it)."""
    merged = []
    for ti, pl in enumerate(pos_lists):
        merged.extend((int(p), ti) for p in pl)
    merged.sort()
    need = len(pos_lists)
    counts = [0] * need
    have = 0
    best = None
    left = 0
    for right in range(len(merged)):
        counts[merged[right][1]] += 1
        if counts[merged[right][1]] == 1:
            have += 1
        while have == need:
            span = merged[right][0] - merged[left][0]
            best = span if best is None else min(best, span)
            counts[merged[left][1]] -= 1
            if counts[merged[left][1]] == 0:
                have -= 1
            left += 1
    return best if best is not None else -1


def _candidate_decoded(tps: list[TermPostings]):
    """→ (decoded, common) or None when the conjunction is empty: the
    conjunction's doc ids ``common`` and, per term, candidate_positions'
    (tfs, dls, pos_flat, pos_offs) aligned with them. Positions are
    gathered for the CANDIDATE docs only: intersect on doc ids first
    (ids/tfs/dls payloads — cheap), then decode position payloads from just
    the blocks holding candidates (TermPostings.candidate_positions). A
    head∧tail conjunction touches ~df(tail) docs, so the head term's
    position bytes — the bulk of its postings — never load or decode."""
    ids_lists = [tp.decode_full()[0] for tp in tps]
    # intersect in ASCENDING df order: searchsorted cost is
    # O(|probe| · log |table|), so the probe side must be the small one.
    # A head∧tail conjunction probed head-first costs O(df_head ·
    # log df_tail); tail-first it is O(df_tail · log df_head) — orders of
    # magnitude less on a Zipf dictionary (the candidate SET is identical
    # either way, so downstream results are unchanged).
    by_size = sorted(range(len(tps)), key=lambda t: ids_lists[t].size)
    common = ids_lists[by_size[0]]
    for t in by_size[1:]:
        common = _intersect_sorted_unique(common, ids_lists[t])
        if common.size == 0:
            return None
    return [tp.candidate_positions(common) for tp in tps], common


_EMPTY3 = (
    np.empty(0, dtype=np.int64),
    np.empty(0, dtype=np.int64),
    np.empty(0, dtype=np.int64),
)


def phrase_match_arrays(ordered_tps: list[TermPostings]):
    """→ (docs, phrase_tfs, dls) over ALL docs containing the exact phrase
    — the match primitive shared by single-index phrase_topk and sharded
    phrase search (which needs the raw arrays to score under GLOBAL df:
    docs.size is this index's phrase-df contribution)."""
    got = _candidate_decoded(ordered_tps)
    if got is None:
        return _EMPTY3
    decoded, common = got
    keys, bits = _row_pos_keys(decoded, margin=len(ordered_tps))
    rows, tfs = _phrase_rows_vectorized(keys, bits)
    if rows.size == 0:
        return _EMPTY3
    return common[rows], tfs, decoded[0][1][rows]


def phrase_topk(ordered_tps: list[TermPostings], n_docs: int, avg_dl: float,
                k: int, k1: float = BM25_K1, b: float = BM25_B):
    """Exact-phrase top-k, fully vectorized: conjunctive doc intersection,
    packed-key phrase-start chaining, then BM25 with tf = phrase count and
    df = number of phrase-matching docs."""
    docs, tfs, dls = phrase_match_arrays(ordered_tps)
    if docs.size == 0:
        return []
    df = docs.size
    idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
    scores = idf * tfs / (tfs + k1 * (1.0 - b + b * dls / avg_dl))
    top = np.lexsort((docs, -scores))[:k]
    return [(int(docs[i]), float(scores[i])) for i in top]


def proximity_match_arrays(tps: list[TermPostings], window: int):
    """→ (docs, scores) over ALL docs where every term co-occurs within
    ``window`` tokens, scored with the Tesserae distance-weighted formula.
    The score has NO corpus-stats dependence, so per-shard top-k merges
    exactly (sharded.py) — this is the shared match primitive."""
    got = _candidate_decoded(tps)
    if got is None:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    decoded, common = got
    keys, bits = _row_pos_keys(decoded, margin=len(tps))
    if len(tps) == 2:
        rows, spans = _min_span_2term_vectorized(keys[0], keys[1], bits)
    else:
        rows, spans = _min_cover_span_vectorized(keys, bits)
    keep = spans <= window
    rows, spans = rows[keep], spans[keep]
    if rows.size == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    inv_f = sum(1.0 / tfs[rows] for tfs, *_ in decoded)
    scores = np.log(inv_f / np.maximum(spans, 1))
    return common[rows], scores


def proximity_topk(tps: list[TermPostings], window: int, k: int):
    """Proximity top-k with the Tesserae distance-weighted score.

    Every arity and every doc length runs fully vectorized (2-term:
    adjacent-pair scan; 3+: per-term forward-fill cover-span sweep) over
    width-adaptive (row, position) keys (_row_pos_keys)."""
    docs, scores = proximity_match_arrays(tps, window)
    if docs.size == 0:
        return []
    top = np.lexsort((docs, -scores))[:k]
    return [(int(docs[i]), float(scores[i])) for i in top]


# ---------------------------------------------------------------------------
# distributed batch mode
# ---------------------------------------------------------------------------


_SEARCHER_CACHE: dict[tuple[str, str], "Searcher"] = {}


def get_searcher(index_dir: str, lang: str = "en") -> "Searcher":
    """Per-process searcher cache: executor python workers are reused across
    tasks, so the dictionary cache and dataset handles amortize over a
    whole batch instead of being rebuilt per task. Keyed by (dir, lang) so
    a non-en deployment gets a searcher whose analysis chain matches the
    index (the reader/dataset handles are per-searcher; two langs over one
    dir is a test-only shape, not worth sharing the reader). An entry is
    replaced when the dir's stats.json mtime changes: an index rebuilt in
    place must not keep serving the old dfs and per-term caches."""
    mtime = os.stat(os.path.join(index_dir, "stats.json")).st_mtime_ns
    s = _SEARCHER_CACHE.get((index_dir, lang))
    if s is None or s.reader.stats_mtime_ns != mtime:
        s = _SEARCHER_CACHE[(index_dir, lang)] = Searcher(index_dir, lang)
    return s


# minimum queries per slice in batch mode: below this, extra workers cost
# more in cold caches + pyarrow scans than they buy in parallelism (each
# Python worker keeps its own postings LRU; a 60-query batch on 32 workers
# means 32 cold caches — measured to ANTI-scale from local[2]→local[8])
MIN_QUERIES_PER_SLICE = 16


def affinity_slices(
    queries: list[dict],
    n_slices: int,
    lang: str = "en",
    df: dict[str, int] | None = None,
) -> list[list[dict]]:
    """Partition a query batch into ≤ ``n_slices`` slices by TERM AFFINITY:
    queries sharing their heaviest (max-df) term land in the same slice.

    Why (guide §2.3 "shuffle fewer bytes", applied to the python workers'
    decode traffic): each slice's worker decodes the UNION of its queries'
    postings into per-process caches. Contiguous/arbitrary slicing spreads
    every head term across every slice, so a head term's postings decode
    once PER WORKER — measured 24.5M postings decoded for a 2000-query
    Zipf batch at 32 slices where the per-term floor is 0.9M. Anchor-term
    grouping cuts that to ~9M (2.7×) and, because those decoded arrays are
    freshly-touched pages, shrinks exactly the per-worker working set that
    this host's first-touch fault pathology amplifies 10-30× in bad
    windows (OPTIMIZATION_r07.md).

    Queries keep their per-query results bit-identical — slicing only
    decides WHICH worker runs a query, never how it is scored.

    ``df``: term → document frequency (exact, e.g. from a driver-side
    dictionary lookup or sharded phase-1 stats). Without it, the term's
    occurrence count across the batch is the proxy (Zipf head terms are
    frequent in real query logs too).

    Balance: greedy LPT over anchor groups with an estimated cost of
    (per-query Σ df) + (group union df); groups costlier than 2× the
    average bin are split first so one hot anchor cannot serialize the
    batch. Deterministic throughout (sorted keys, stable tie-breaks).
    """
    n = len(queries)
    if n == 0 or n_slices <= 1:
        return [list(queries)] if n else []
    qterms = [analyze_query(q.get("query_text", ""), lang) for q in queries]
    if df is None:
        from collections import Counter

        df = Counter(t for ts in qterms for t in ts)
    # anchor = heaviest term (deterministic tie-break on the term itself)
    anchors = [
        max(ts, key=lambda t: (df.get(t, 0), t)) if ts else ""
        for ts in qterms
    ]
    groups: dict[str, list[int]] = {}
    for qi, a in enumerate(anchors):
        groups.setdefault(a, []).append(qi)
    qcost = [sum(df.get(t, 0) for t in ts) + 64 for ts in qterms]

    def group_cost(idxs: list[int]) -> int:
        union: set[str] = set()
        for qi in idxs:
            union.update(qterms[qi])
        return sum(qcost[qi] for qi in idxs) + sum(
            df.get(t, 0) for t in union
        )

    glist = [(group_cost(g), a, g) for a, g in groups.items()]
    avg_bin = max(1, sum(c for c, _, _ in glist) // n_slices)
    split: list[tuple[int, str, list[int]]] = []
    for c, a, g in glist:
        if c > 2 * avg_bin and len(g) > 1:
            parts = min(len(g), -(-c // avg_bin))
            for j in range(parts):
                sub = g[j::parts]
                if sub:
                    split.append((group_cost(sub), f"{a}#{j}", sub))
        else:
            split.append((c, a, g))
    split.sort(key=lambda x: (-x[0], x[1]))
    import heapq

    bins: list[list[int]] = [[] for _ in range(n_slices)]
    heap = [(0, i) for i in range(n_slices)]
    heapq.heapify(heap)
    for c, _, g in split:
        w, i = heapq.heappop(heap)
        bins[i].extend(g)
        heapq.heappush(heap, (w + c, i))
    return [[queries[qi] for qi in b] for b in bins if b]


def search_batch(
    spark,
    index_dir: str,
    queries: list[dict],
    k: int = 10,
    lang: str = "en",
):
    """Run many queries distributed: each executor opens the immutable index
    and serves its partition of queries (broadcast-free — queries are data,
    the index is shared storage). Returns DataFrame(query_id, rank, doc_id,
    score).

    Cold-start costs are amortized two ways: (a) slice count scales with
    batch size (≥MIN_QUERIES_PER_SLICE per slice), so small batches use few
    workers with warm caches while 10k-query batches still fan out to every
    core; (b) each slice prefetches the UNION of its queries' terms in one
    pyarrow scan instead of one scan per query."""
    sc = spark.sparkContext
    n_slices = max(
        1,
        min(
            sc.defaultParallelism,
            (len(queries) + MIN_QUERIES_PER_SLICE - 1) // MIN_QUERIES_PER_SLICE,
        ),
    )
    # term-affinity slicing (affinity_slices): exact dfs from a driver-side
    # dictionary lookup — the driver reaches index storage by construction
    # (the latency path and sharded phase 1 already read it in-process).
    # Fallback to batch occurrence counts if the lookup fails.
    df_est = None
    if n_slices > 1:
        try:
            terms: set[str] = set()
            for q in queries:
                terms.update(analyze_query(q.get("query_text", ""), lang))
            rows = get_searcher(index_dir, lang).reader.lookup(sorted(terms))
            df_est = {t: int(r["df"]) for t, r in rows.items()}
        except Exception:
            df_est = None
    slices = affinity_slices(queries, n_slices, lang, df=df_est)

    def run_part(qs):
        qs = list(qs)
        searcher = get_searcher(index_dir, lang)
        terms: set[str] = set()
        for q in qs:
            terms.update(analyze_query(q["query_text"], searcher.lang))
        if terms:
            # one metadata scan + one payload scan for the slice (union
            # of its terms); head terms past PREFETCH_MAX_DF stay
            # lazy so WAND can skip their blocks without the I/O having
            # happened. Positions are never prefetched — positional
            # queries load them candidate-only
            # (TermPostings.candidate_positions).
            fetched = searcher.reader.fetch(sorted(terms))
            searcher.reader.ensure_payloads(
                fetched.values(), max_df=PREFETCH_MAX_DF
            )
        for q in qs:
            for hit in searcher.search(
                q["query_text"], k=q.get("k", k), mode=q.get("mode", "bm25"),
                window=q.get("window", 5),
            ):
                yield (q["query_id"], hit.rank, hit.doc_id, hit.score)

    # one slice (a list of queries) per partition: parallelize over the
    # slice lists keeps the affinity grouping intact across partitions
    from itertools import chain

    rdd = sc.parallelize(slices, max(1, len(slices))).mapPartitions(
        lambda parts: run_part(chain.from_iterable(parts))
    )
    return spark.createDataFrame(
        rdd, "query_id long, rank int, doc_id long, score double"
    )
