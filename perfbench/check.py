"""Reference answers from the corpus model, and the result checker.

Semantics follow the exhaustive paths the tests trust:

- bm25: ``query.bm25_oracle`` — deduplicated query terms,
  idf = ln(1 + (N - df + 0.5) / (df + 0.5)),
  tf_norm = tf / (tf + k1 * (1 - b + b * dl / avg_dl)), score = Σ idf·tf_norm.
- phrase: the scalar ``_phrase_count`` — tf is the number of positions where
  the analyzed terms occur consecutively; scored as BM25 with df = number of
  phrase-matching docs.
- proximity: the scalar ``_min_cover_span`` — the smallest span holding one
  occurrence of every distinct term, kept when ≤ window; score =
  ln((Σ_t 1/tf_t) / max(span, 1)).

Ties break (score desc, doc_id asc) everywhere.
"""

from __future__ import annotations

import math

import numpy as np

from perfbench.corpus import POS_BITS, REPLICAS, CorpusModel

# scores may differ from the reference by floating-point rounding only
# (summation order, libm vs numpy log); 1e-9 relative is the closeness
# tests/test_sharded.py pins for sharded vs union scores
TOL = 1e-9
WINDOW = 5  # Searcher.search / search_sharded default proximity window
LANG = "en"  # the language Searcher and search_sharded analyze queries in


def phrase_count(pos_lists: list[tuple[int, ...]]) -> int:
    """Start positions where the terms occur consecutively."""
    starts = list(pos_lists[0])
    for i, pl in enumerate(pos_lists[1:], start=1):
        have = set(pl)
        starts = [p for p in starts if p + i in have]
        if not starts:
            return 0
    return len(starts)


def min_cover_span(pos_lists: list[tuple[int, ...]]) -> int:
    """Smallest token span holding ≥1 occurrence of every list; -1 if none."""
    merged = sorted((p, ti) for ti, pl in enumerate(pos_lists) for p in pl)
    need = len(pos_lists)
    counts = [0] * need
    have = left = 0
    best = -1
    for p, ti in merged:
        counts[ti] += 1
        have += counts[ti] == 1
        while have == need:
            lp, lt = merged[left]
            span = p - lp
            best = span if best < 0 else min(best, span)
            counts[lt] -= 1
            have -= counts[lt] == 0
            left += 1
    return best


def _isin_sorted(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Mask of ``a`` elements present in sorted ``b``."""
    if b.size == 0:
        return np.zeros(a.size, dtype=bool)
    i = np.minimum(np.searchsorted(b, a), b.size - 1)
    return b[i] == a


def _cover_spans(m: CorpusModel, terms: list[str]):
    """→ (base docs holding every term, their min_cover_span).

    One term covers itself (span 0). Two terms: the smallest gap between
    adjacent occurrences of different terms in a doc's merged position
    order. Three or more run the scalar ``min_cover_span`` per doc."""
    if len(terms) == 1:
        docs = np.unique(m.occ[terms[0]] >> POS_BITS)
        return docs, np.zeros(docs.size, dtype=np.int64)
    if len(terms) == 2:
        keys = np.concatenate([m.occ[terms[0]], m.occ[terms[1]]])
        lab = np.repeat([0, 1], [m.occ[terms[0]].size, m.occ[terms[1]].size])
        order = np.argsort(keys, kind="stable")
        keys, lab = keys[order], lab[order]
        doc = keys >> POS_BITS
        adj = (doc[1:] == doc[:-1]) & (lab[1:] != lab[:-1])
        docs, gaps = doc[1:][adj], (keys[1:] - keys[:-1])[adj]
        if docs.size == 0:
            return docs, gaps
        order = np.lexsort((gaps, docs))
        docs, gaps = docs[order], gaps[order]
        first = np.r_[True, docs[1:] != docs[:-1]]
        return docs[first], gaps[first]
    common = m.postings[terms[0]][0]
    for t in terms[1:]:
        common = np.intersect1d(common, m.postings[t][0], assume_unique=True)
    spans = np.array(
        [min_cover_span([m.positions(bi, t) for t in terms]) for bi in common],
        dtype=np.int64,
    )
    return common, spans


class Reference:
    """Expected rankings for queries over one corpus model (memoized per
    (mode, text): a ranking is computed once and cut at each k)."""

    def __init__(self, model: CorpusModel):
        from tesserae_ng_spark.functions.analysis import analyze_query
        from tesserae_ng_spark.schemas import BM25_B, BM25_K1

        self.m = model
        self.analyze = analyze_query
        self.k1, self.b = BM25_K1, BM25_B
        self._memo: dict[tuple[str, str], tuple[np.ndarray, np.ndarray]] = {}

    def _idf(self, df: int) -> float:
        n = self.m.n_docs
        return math.log(1.0 + (n - df + 0.5) / (df + 0.5))

    def _tf_norm(self, tf, dl):
        return tf / (tf + self.k1 * (1.0 - self.b + self.b * dl / self.m.avg_dl))

    def _base_scores(self, text: str, mode: str):
        """→ (base doc indexes, scores) over every matching base doc."""
        terms = self.analyze(text, LANG)
        empty = (np.empty(0, np.int64), np.empty(0, np.float64))
        if not terms:
            return empty
        m = self.m
        if mode == "bm25":
            acc = np.zeros(m.n_base)
            hit = np.zeros(m.n_base, dtype=bool)
            for t in sorted(set(terms)):
                post = m.postings.get(t)
                if post is None:
                    continue
                b, tf = post
                acc[b] += self._idf(b.size * REPLICAS) * self._tf_norm(tf, m.dl[b])
                hit[b] = True
            idx = np.flatnonzero(hit)
            return idx, acc[idx]
        if mode == "phrase":
            if any(t not in m.occ for t in terms):
                return empty
            # phrase_count over every doc at once: keep start keys whose
            # i-th successor key holds the i-th term
            starts = m.occ[terms[0]]
            for i, t in enumerate(terms[1:], start=1):
                starts = starts[_isin_sorted(starts + i, m.occ[t])]
            if starts.size == 0:
                return empty
            idx, tf = np.unique(starts >> POS_BITS, return_counts=True)
            tf = tf.astype(np.float64)
            idf = self._idf(idx.size * REPLICAS)
            dl = m.dl[idx]
            scores = idf * tf / (
                tf + self.k1 * (1.0 - self.b + self.b * dl / m.avg_dl)
            )
            return idx, scores
        if mode == "proximity":
            uniq = sorted(set(terms))
            if any(t not in m.occ for t in uniq):
                return empty
            idx, span = _cover_spans(m, uniq)
            keep = span <= WINDOW
            idx, span = idx[keep], span[keep]
            if idx.size == 0:
                return empty
            inv_f = 0
            for t in uniq:
                b, tf = m.postings[t]
                inv_f = inv_f + 1.0 / tf[np.searchsorted(b, idx)]
            return idx, np.log(inv_f / np.maximum(span, 1))
        raise ValueError(f"unknown mode {mode!r}")

    def expected(self, q: dict) -> list[tuple[int, float]]:
        """The top-k for query dict ``q``, in (score desc, doc_id asc) order,
        plus every doc whose score is within the tolerance of the k-th
        (rounding may legitimately swap those)."""
        key = (q.get("mode", "bm25"), q["query_text"])
        got = self._memo.get(key)
        if got is None:
            got = self._memo[key] = self._base_scores(*key[::-1])
        idx, scores = got
        k = int(q["k"])
        if idx.size == 0 or k <= 0:
            return []
        # cut at the base-doc level first: replicas tie, so the top-k
        # replica docs live in the best ceil(k / REPLICAS) base docs and
        # anything tied with the last of them
        nb = min(idx.size, -(-k // REPLICAS))
        floor = -np.partition(-scores, nb - 1)[nb - 1]
        keep = scores >= floor - 2 * TOL * max(1.0, abs(floor))
        docs = self.m.doc_ids[idx[keep]].ravel()
        vals = np.repeat(scores[keep], REPLICAS)
        order = np.lexsort((docs, -vals))
        docs, vals = docs[order], vals[order]
        n = min(k, docs.size)
        kth = vals[n - 1]
        n += int(np.sum(vals[n:] >= kth - TOL * max(1.0, abs(kth))))
        return list(zip(docs[:n].tolist(), vals[:n].tolist()))


def check_hits(expected: list[tuple[int, float]],
               got: list[tuple[int, float]], k: int) -> str | None:
    """None when ``got`` (engine hits in rank order) is the reference top-k;
    otherwise a one-line reason.

    Each rank must hold the reference doc with a score within ``TOL``
    (relative, floor 1). A different doc passes at a rank only when its own
    reference score is distinct from, but within ``TOL`` of, the expected
    one — the one case where rounding can flip the order. Exact ties must
    follow the doc_id tie-break."""
    want = expected[:k]
    if len(got) != len(want):
        return f"{len(got)} hits, expected {len(want)}"
    ref = dict(expected)
    seen = set()
    for r, ((gd, gs), (wd, ws)) in enumerate(zip(got, want), start=1):
        slack = TOL * max(1.0, abs(ws))
        if not abs(gs - ws) <= slack:
            return f"rank {r}: score {gs!r}, expected {ws!r}"
        if gd != wd:
            rs = ref.get(gd)
            if rs is None or rs == ws or abs(rs - ws) > slack:
                return f"rank {r}: doc {gd}, expected {wd}"
        if gd in seen:
            return f"rank {r}: doc {gd} repeated"
        seen.add(gd)
    return None


def check_index_stats(model: CorpusModel, n_docs: int, n_terms: int,
                      dfs: dict[str, int]) -> str | None:
    """None when a built index's n_docs, n_terms and per-term df equal the
    corpus model's; otherwise a one-line reason."""
    if n_docs != model.n_docs:
        return f"n_docs {n_docs}, expected {model.n_docs}"
    if n_terms != model.n_terms:
        return f"n_terms {n_terms}, expected {model.n_terms}"
    want = model.term_df()
    bad = [t for t, d in want.items() if dfs.get(t) != d]
    if bad or len(dfs) != len(want):
        t = bad[0] if bad else sorted(set(dfs) - set(want))[0]
        return f"df[{t!r}] {dfs.get(t)}, expected {want.get(t)} ({len(bad)} terms differ)"
    return None
