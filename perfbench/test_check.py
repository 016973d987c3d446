"""Tests for the benchmark's reference check (no Spark needed).

    python3 -m pytest perfbench/test_check.py -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.check import (  # noqa: E402
    TOL,
    Reference,
    check_hits,
    check_index_stats,
    min_cover_span,
    phrase_count,
)
from perfbench.corpus import CorpusModel  # noqa: E402
from perfbench.workloads import Result  # noqa: E402

EXPECTED = [(11, 3.5), (7, 2.25), (42, 2.25), (5, 1.0), (9, 0.5)]


def failed_ops(expected, got, k) -> int:
    r = Result()
    r.op(check_hits(expected, got, k))
    return r.failed


def test_correct_result_is_no_failure():
    assert check_hits(EXPECTED, EXPECTED[:3], 3) is None
    assert failed_ops(EXPECTED, EXPECTED[:3], 3) == 0
    assert failed_ops([], [], 10) == 0


def test_one_wrong_doc_at_one_rank_is_a_failure():
    got = list(EXPECTED[:4])
    got[3] = (6, 1.0)  # same score, doc the reference does not rank there
    assert failed_ops(EXPECTED, got, 4) == 1


def test_score_off_by_more_than_rounding_is_a_failure():
    got = list(EXPECTED[:3])
    got[1] = (7, 2.25 * (1 + 10 * TOL))
    assert failed_ops(EXPECTED, got, 3) == 1


def test_rounding_sized_score_difference_is_no_failure():
    got = [(d, s * (1 + TOL / 4)) for d, s in EXPECTED[:3]]
    assert failed_ops(EXPECTED, got, 3) == 0


def test_exact_ties_must_follow_the_doc_id_tie_break():
    swapped = [EXPECTED[0], EXPECTED[2], EXPECTED[1]]
    assert failed_ops(EXPECTED, swapped, 3) == 1


def test_near_ties_may_swap():
    near = [(1, 2.0), (2, 2.0 * (1 - TOL / 4)), (3, 1.0)]
    got = [(2, near[1][1]), (1, near[0][1]), (3, 1.0)]
    assert failed_ops(near, got, 3) == 0


def test_wrong_hit_count_and_repeats_are_failures():
    assert failed_ops(EXPECTED, EXPECTED[:2], 3) == 1
    assert failed_ops(EXPECTED, [EXPECTED[0], EXPECTED[0]], 2) == 1


def test_scalar_positional_semantics():
    assert phrase_count([(0, 5, 9), (1, 6, 20)]) == 2
    assert phrase_count([(0, 5), (2, 7)]) == 0
    assert phrase_count([(3, 8), (4, 9), (5, 11)]) == 1
    assert min_cover_span([(0, 10), (4,)]) == 4
    assert min_cover_span([(0,), (9,), (3,)]) == 9
    assert min_cover_span([(0,), ()]) == -1


def test_scalar_semantics_match_the_engine_oracles():
    search = pytest.importorskip("tesserae_ng_spark.query.search")
    rng = np.random.default_rng(0)
    for _ in range(200):
        lists = [np.unique(rng.integers(0, 40, rng.integers(1, 6)))
                 for _ in range(rng.integers(2, 4))]
        assert phrase_count([tuple(x) for x in lists]) == search._phrase_count(lists)
        assert min_cover_span([tuple(x) for x in lists]) == search._min_cover_span(lists)


def small_model() -> CorpusModel:
    pytest.importorskip("tesserae_ng_spark")
    rng = np.random.default_rng(1)
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    docs = [
        (i, f"src{i % 3}",
         " ".join(rng.choice(words, size=rng.integers(3, 30))), "en")
        for i in range(60)
    ]
    return CorpusModel(docs=docs)


def test_vectorized_positional_reference_matches_scalar():
    m = small_model()
    ref = Reference(m)
    terms = [t for t in sorted(m.occ) if not t.startswith(("hapax", "zipf"))]
    assert len(terms) >= 5
    for a in terms:
        for b in terms:
            for mode in ("phrase", "proximity"):
                idx, scores = ref._base_scores(f"{a} {b}", mode)
                want = {}
                for bi in range(m.n_base):
                    pl = [tuple(m.positions(bi, t)) for t in ([a, b] if mode == "phrase"
                                                             else sorted({a, b}))]
                    if any(not p for p in pl):
                        continue
                    if mode == "phrase":
                        if phrase_count(pl):
                            want[bi] = phrase_count(pl)
                    else:
                        d = min_cover_span(pl)
                        if 0 <= d <= 5:
                            want[bi] = d
                assert sorted(idx.tolist()) == sorted(want), (a, b, mode)
                assert np.all(np.isfinite(scores))


def test_index_stats_check():
    m = small_model()
    df = m.term_df()
    assert check_index_stats(m, m.n_docs, m.n_terms, df) is None
    assert check_index_stats(m, m.n_docs + 1, m.n_terms, df) is not None
    bad = dict(df)
    bad[next(iter(bad))] += 1
    assert check_index_stats(m, m.n_docs, m.n_terms, bad) is not None
